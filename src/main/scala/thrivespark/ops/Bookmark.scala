package thrivespark.ops

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.10 #60 — Thrive's core incremental-processing semantic
  * re-expressed Spark-first: a bookmark records the highest processed
  * partition; a run processes only newer partitions and commits them with
  * dynamic partition overwrite, so re-running is a no-op (idempotent) and a
  * failed run can be rolled back by resetting the bookmark.
  * (Thrive tracked Camus folders in a MySQL metadata store [K]; here the
  * bookmark is a file and partitions are dt= directories.) */
object Bookmark {

  final case class RunResult(processedPartitions: Seq[String], rowsWritten: Long)

  def readBookmark(path: String): Option[String] = {
    val p = Paths.get(path)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim)
    else None
  }

  def writeBookmark(path: String, value: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, value.getBytes(StandardCharsets.UTF_8))
    thrivespark.DurableStage.swap(tmp, p) // atomic commit, Thrive-style
  }

  /** Incremental load: read `events`-shaped input, keep only partitions
    * (days) strictly newer than the bookmark, write them with dynamic
    * partition overwrite, then advance the bookmark. Returns what happened
    * so tests can assert the second run processes nothing.
    *
    * Single-pass: the partitioned write is the ONLY job over the increment.
    * Row count and the new bookmark ride along as `observe()` metrics on the
    * write, and the processed-partition list comes from the sink's dt=
    * directory listing afterwards (Thrive likewise enumerated the written
    * Camus folders rather than re-scanning the input). At 100 TB the old
    * shape (distinct+collect, then count, then write) tripled ingest cost. */
  def incrementalLoad(spark: SparkSession, input: DataFrame, outDir: String,
      bookmarkPath: String): RunResult = {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val withDt = input.withColumn("dt", to_date(col("ts")))
    val bookmark = readBookmark(bookmarkPath)
    val fresh = bookmark match {
      case Some(b) => withDt.filter(col("dt") > lit(b).cast("date"))
      case None => withDt
    }
    val obs = Observation()
    fresh.observe(obs, count(lit(1)).as("rows"), max(col("dt")).as("max_dt"))
      .write.mode(SaveMode.Overwrite).partitionBy("dt").parquet(outDir)
    // The observed metrics arrive via an async listener-bus event, and the
    // bus DROPS events when its queue overflows (busy sessions: many fast
    // queries, streaming, AQE all share it). `obs.get` waits on that event
    // unconditionally — a dropped event turns a committed write into a HUNG
    // job (observed live in a 167-query bench session, main parked in
    // Observation.get for 15+ min after the write finished). The write
    // itself is already durable at this point, so liveness must not depend
    // on event delivery: bound the wait, and on timeout recover the same
    // two metrics from the sink (one extra job, degraded path only).
    val (n, maxDt) = try {
      val row = scala.concurrent.Await.result(
        obs.future, scala.concurrent.duration.Duration(MetricsWaitSec, "s"))
      (row.getAs[Long]("rows"), Option(row.getAs[Any]("max_dt")))
    } catch {
      case _: java.util.concurrent.TimeoutException => recountFromSink(spark, outDir, bookmark)
    }
    // an empty increment writes no partition directories (dynamic overwrite
    // touches only partitions present in the data) — genuine no-op
    if (n == 0L) return RunResult(Seq.empty, 0L)
    val parts = listDtPartitions(outDir)
      .filter(p => bookmark.forall(p > _)).sorted
    writeBookmark(bookmarkPath, maxDt.get.toString)
    RunResult(parts, n)
  }

  private val MetricsWaitSec = 60L

  /** Degraded-path recovery for a lost observation event: the increment's
    * row count and max partition are exactly the sink rows in partitions
    * newer than the bookmark (dynamic overwrite wrote only those), so one
    * aggregation over the committed output reproduces both metrics. */
  def recountFromSink(spark: SparkSession, outDir: String,
      bookmark: Option[String]): (Long, Option[Any]) = {
    // a zero-row first run leaves no readable parquet under outDir at all —
    // that's the empty increment, not an error
    scala.util.Try(spark.read.parquet(outDir)).toOption match {
      case None => (0L, None)
      case Some(sunk) =>
        val inc = bookmark match {
          case Some(b) => sunk.filter(col("dt") > lit(b).cast("date"))
          case None => sunk
        }
        val r = inc.agg(count(lit(1)).as("rows"), max(col("dt")).as("max_dt")).head()
        (r.getLong(0), Option(r.get(1)))
    }
  }

  /** Hive-style dt= partition values present in the sink. */
  private def listDtPartitions(outDir: String): Seq[String] =
    Option(new java.io.File(outDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("dt="))
      .map(_.getName.stripPrefix("dt=")).toSeq

  /** Rollback: reset the bookmark to `to` (partitions newer than it will be
    * reprocessed and overwritten on the next run — same contract as Thrive's
    * rollback phase). */
  def rollback(bookmarkPath: String, to: String): Unit = writeBookmark(bookmarkPath, to)
}
