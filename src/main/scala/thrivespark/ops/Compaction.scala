package thrivespark.ops

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Small-file compaction — the maintenance step every incremental
  * micro-batch sink eventually needs (the reference's Camus folders had the
  * same pathology [K]): rewrite a parquet dataset into ⌈bytes/target⌉
  * files, then swap directories. For Hive-style partitioned layouts pass
  * `partitionBy` — the rewrite then repartitions BY the partition columns
  * and writes with partitionBy, so the dt=... directory structure (and
  * therefore partition pruning) survives compaction; a plain read→write
  * would silently flatten it to unpartitioned files. In the partitioned
  * path `targetBytesPerFile` still holds: a hot partition larger than the
  * target is split via maxRecordsPerFile (records-per-target estimated from
  * the dataset's observed bytes/row).
  *
  * At cluster scale the swap is a metastore location flip or a manifest
  * commit; locally it is `DurableStage.swap`'s two directory renames with
  * the same write-then-swap ordering. Each rename is atomic, so readers see
  * either the old or the new file set — but locally there is an instant
  * between the renames where the path is absent; the metastore flip is what
  * removes that window in production. A stale .compact_tmp left by a
  * crashed prior run is removed up front, so the swap is re-entrant. */
object Compaction {

  final case class Report(filesBefore: Int, filesAfter: Int, rows: Long)

  private def parquetFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .toSeq

  def compact(spark: SparkSession, dir: String,
      targetBytesPerFile: Long = 128L * 1024 * 1024,
      partitionBy: Seq[String] = Nil): Report = {
    val root = Paths.get(dir)
    val tmp = dir.stripSuffix("/") + ".compact_tmp"
    // crash-safety: a prior failed run may have left it behind
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    val before = parquetFiles(root)
    val totalBytes = before.map(Files.size).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytesPerFile).toInt)

    val df = spark.read.parquet(dir)
    // metadata-only on parquet (row-group footers) — not a data pass
    val rows = df.count()
    if (partitionBy.nonEmpty) {
      // one write task per partition value → one file per dt= dir, except
      // partitions above the size target, which maxRecordsPerFile splits
      val bytesPerRow = math.max(1L, totalBytes / math.max(1L, rows))
      df.repartition(partitionBy.map(org.apache.spark.sql.functions.col): _*)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", math.max(1L, targetBytesPerFile / bytesPerRow))
        .partitionBy(partitionBy: _*).parquet(tmp)
    } else
      df.repartition(nFiles).write.mode("overwrite").parquet(tmp)

    thrivespark.DurableStage.swap(Paths.get(tmp), root)

    Report(before.size, parquetFiles(root).size, rows)
  }
}
