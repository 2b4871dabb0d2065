package graft

import org.scalatest.funsuite.AnyFunSuite
import thrivespark.{Scratch, Tables}
import thrivespark.ops.Bookmark
import thrivespark.sinks.RecordingSink

/** #60 incremental bookmark semantics (Thrive's core contract) and #5 the
  * JDBC-sink interface against a fake. */
class BookmarkSinkSpec extends AnyFunSuite {
  import SparkTestBase._

  test("incremental_bookmark: second run is a no-op; rollback reprocesses (#60)") {
    val out = Scratch.dir("bm_out")
    val bm = Scratch.dir("bm") + "/bookmark"
    val events = Tables.events(spark, sf0001)

    // single-pass contract: the partitioned write must be the ONLY Spark job
    // over the increment (row count + bookmark ride along as observe metrics)
    spark.sparkContext.setJobGroup("bm_run1", "bookmark first load")
    val r1 = try Bookmark.incrementalLoad(spark, events, out, bm)
      finally spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 5_000_000_000L // status store is async
    def groupJobs() = spark.sparkContext.statusTracker.getJobIdsForGroup("bm_run1").length
    while (groupJobs() < 1 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(groupJobs() == 1, s"expected exactly one data pass, saw ${groupJobs()} jobs")
    assert(r1.processedPartitions.nonEmpty && r1.rowsWritten == events.count())

    val r2 = Bookmark.incrementalLoad(spark, events, out, bm)
    assert(r2.processedPartitions.isEmpty && r2.rowsWritten == 0, "rerun must be a no-op")

    // written data round-trips completely
    assert(spark.read.parquet(out).count() == events.count())

    // rollback two days → only those days reprocess, output stays complete
    val parts = r1.processedPartitions
    Bookmark.rollback(bm, parts(parts.length - 3))
    val r3 = Bookmark.incrementalLoad(spark, events, out, bm)
    assert(r3.processedPartitions == parts.takeRight(2), s"got ${r3.processedPartitions}")
    assert(spark.read.parquet(out).count() == events.count(), "idempotent overwrite")
  }

  test("bookmark metrics recovery: sink recount equals the observed metrics") {
    // The observation's rows/max_dt ride an async listener event that the bus
    // can drop under load; incrementalLoad then falls back to recounting the
    // committed sink. The fallback must reproduce EXACTLY what the observe
    // metrics would have said, for both a fresh load and an incremental one.
    val out = Scratch.dir("bm_rc")
    val bm = Scratch.dir("bm_rc_b") + "/bookmark"
    val events = Tables.events(spark, sf0001)
    val r1 = Bookmark.incrementalLoad(spark, events, out, bm)
    val (nAll, maxAll) = Bookmark.recountFromSink(spark, out, None)
    assert(nAll == r1.rowsWritten, s"fresh-load recount $nAll != ${r1.rowsWritten}")
    assert(maxAll.get.toString == r1.processedPartitions.max)

    // incremental view: pretend the bookmark sat two partitions back — the
    // recount must count only the newer partitions' rows
    val parts = r1.processedPartitions
    val cut = parts(parts.length - 3)
    val (nInc, maxInc) = Bookmark.recountFromSink(spark, out, Some(cut))
    val expected = spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("dt") > cut).count()
    assert(nInc == expected && nInc < nAll)
    assert(maxInc.get.toString == parts.max)

    // empty/unreadable sink is the empty increment, not an error
    val emptyDir = Scratch.dir("bm_rc_e")
    assert(Bookmark.recountFromSink(spark, emptyDir, None) == (0L, None))
  }

  test("compaction rewrites many small files into few, preserving rows") {
    import thrivespark.ops.Compaction
    val dir = Scratch.dir("compact") + "/data"
    val ev = Tables.events(spark, sf0001)
    ev.repartition(37).write.parquet(dir) // pathological small files
    val n = ev.count()
    val r = Compaction.compact(spark, dir, targetBytesPerFile = 64L * 1024 * 1024)
    assert(r.filesBefore == 37 && r.filesAfter < 5 && r.rows == n, r.toString)
    assert(spark.read.parquet(dir).count() == n, "post-swap read must see all rows")
  }

  test("partitioned compaction preserves the dt= layout (pruning survives)") {
    import thrivespark.ops.Compaction
    import org.apache.spark.sql.functions._
    val dir = Scratch.dir("compact_p") + "/data"
    val ev = Tables.events(spark, sf0001).withColumn("dt", to_date(col("ts")))
    ev.repartition(17).write.partitionBy("dt").parquet(dir) // many files per dt=
    val n = ev.count()
    val nDays = ev.select(col("dt")).distinct().count()
    val r = Compaction.compact(spark, dir,
      targetBytesPerFile = 64L * 1024 * 1024, partitionBy = Seq("dt"))
    assert(r.rows == n && r.filesAfter < r.filesBefore, r.toString)
    // dt= directories must survive the rewrite…
    val dtDirs = new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("dt="))
    assert(dtDirs.toLong == nDays, s"expected $nDays dt= dirs, got $dtDirs")
    // …and a dt filter must still prune at the scan
    val someDay = ev.select(min(col("dt"))).collect()(0).getDate(0).toString
    val p = spark.read.parquet(dir).filter(col("dt") === someDay)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(dt"), s"pruning lost:\n$p")
    assert(spark.read.parquet(dir).count() == n)
  }

  test("sink interface ships frames to the fake (#5)") {
    val sink = new RecordingSink
    val df = Tables.region(spark, sf0001)
    sink.write(df, "target_region")
    assert(sink.written == Vector(("target_region", 5L, Seq("r_regionkey", "r_name"))))
  }
}
