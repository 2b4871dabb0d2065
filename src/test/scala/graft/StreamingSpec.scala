package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import thrivespark.streaming.StreamRunner
import thrivespark.{Registry, Scratch, Tables}

case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** SURVEY.md §2.10: streaming execution paths. #55–#57 batch-equivalence is
  * proven by running the same aggregation through readStream and comparing
  * with the batch result; #58/#59 are streaming-only semantics driven by
  * deterministic MemoryStream micro-batches. */
class StreamingSpec extends AnyFunSuite {
  import SparkTestBase._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("stream_tumbling: streaming execution equals batch result (#55)") {
    // stage events (µs timestamps) into a stream-source dir, several files
    val dir = Scratch.dir("stream_src")
    Tables.events(spark, sf0001).repartition(4).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val in = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
    val agg = in.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(38,6)")).as("sum_value"))
      .select(unix_micros(col("w.start")).as("ws"), col("event_type"), col("n"), col("sum_value"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("tumbling_eq").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("tumbling_eq")
    val batch = Registry.queries("stream_tumbling")(spark, sf0001)
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
      "streaming result differs from batch result")
  }

  test("stream_sliding + stream_session: streaming execution equals batch (#56/#57)") {
    val dir = Scratch.dir("stream_src3")
    Tables.events(spark, sf0001).repartition(3).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    val sliding = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("ws"), col("event_type"), col("n"))
    val q1 = sliding.writeStream.outputMode("complete").format("memory")
      .queryName("sliding_eq").start()
    q1.processAllAvailable(); q1.stop()
    val batchSliding = Registry.queries("stream_sliding")(spark, sf0001)
    assert(spark.table("sliding_eq").exceptAll(batchSliding).count() == 0 &&
           batchSliding.exceptAll(spark.table("sliding_eq")).count() == 0)

    // watermark wider than the corpus span: files arrive ts-unordered across
    // micro-batches, so sessions must merge in state without late-dropping
    val session = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
      .withWatermark("ts", "35 days")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("w.start")).as("ss"), col("n"))
    val q2 = session.writeStream.outputMode("complete").format("memory")
      .queryName("session_eq").start()
    q2.processAllAvailable(); q2.stop()
    val batchSession = Registry.queries("stream_session")(spark, sf0001)
    assert(spark.table("session_eq").exceptAll(batchSession).count() == 0 &&
           batchSession.exceptAll(spark.table("session_eq")).count() == 0)
  }

  test("stream_watermark_late: rows behind the watermark are dropped (#58)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("ws"), col("n"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("late_drop").start()
    // batch 1: two events in hour 10, one in hour 12 → watermark = 12:00-10m
    mem.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "a", 1.0),
      Ev(2, ts("2024-01-01 10:20:00"), 1, "a", 1.0),
      Ev(3, ts("2024-01-01 12:00:00"), 1, "a", 1.0))
    q.processAllAvailable()
    // batch 2: a LATE event for hour 10 (behind watermark 11:50) → dropped
    mem.addData(Ev(4, ts("2024-01-01 10:40:00"), 1, "a", 1.0))
    q.processAllAvailable()
    // batch 3: advance far enough to finalize everything
    mem.addData(Ev(5, ts("2024-01-02 00:00:00"), 1, "a", 1.0))
    q.processAllAvailable(); q.stop()
    val out = spark.table("late_drop").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h10 = java.time.Instant.parse("2024-01-01T10:00:00Z").toEpochMilli * 1000
    assert(out(h10) == 2, s"late row must be excluded, got ${out(h10)}")
  }

  test("stream_dedup_state: duplicate event_ids across micro-batches collapse (#59)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val deduped = mem.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_state").start()
    mem.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "a", 1.0),
                Ev(2, ts("2024-01-01 10:01:00"), 1, "a", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(1, ts("2024-01-01 10:02:00"), 1, "a", 1.0), // dup, second batch
                Ev(3, ts("2024-01-01 10:03:00"), 1, "a", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(9, ts("2024-01-02 00:00:00"), 1, "a", 1.0))
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dedup_state").select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L, 9L), s"got ${ids.toSeq}")
  }

  test("stream_custom_state: mapGroupsWithState carries state across batches") {
    // two batches touching the same user: the final state must be the union,
    // proving the state store round-trip (not per-batch aggregation)
    val dir = Scratch.dir("stream_src3")
    val ev = Tables.events(spark, sf0001).limit(100)
    ev.repartition(2).write.mode("overwrite").parquet(dir)
    val cp = Scratch.dir("cp_st_t")
    val got = thrivespark.streaming.StreamRunner
      .userStateCounts(spark, dir, spark.read.parquet(dir).schema, cp, "t_user_state")
    val want = ev.groupBy(org.apache.spark.sql.functions.col("user_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotMap == want, s"state diverged: got=${gotMap.size} want=${want.size}")
    assert(want.values.exists(_ > 1), "fixture must have a multi-event user")
  }

  test("stream_cdc_apply: latest-wins survives out-of-order batches (state " +
      "carries across merges)") {
    import spark.implicits._
    // batch 1 (file written first => replayed first) holds user 1's LATEST
    // event; batch 2 carries an older one. Last-write-wins would keep the
    // batch-2 row; latest-wins must keep batch 1's.
    val dir = Scratch.dir("cdc_src")
    Seq(Ev(10, ts("2024-01-01 12:00:00"), 1, "late", 5.0),
        Ev(11, ts("2024-01-01 09:00:00"), 2, "x", 1.0))
      .toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/f1")
    Seq(Ev(12, ts("2024-01-01 10:00:00"), 1, "early", 2.0),
        Ev(13, ts("2024-01-01 11:00:00"), 2, "y", 3.0))
      .toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/f2")
    val stage = Scratch.dir("cdc_stage")
    // one file per batch, staged in a deterministic order
    val s1 = spark.read.parquet(s"$dir/f1"); val s2 = spark.read.parquet(s"$dir/f2")
    s1.coalesce(1).write.mode("append").parquet(stage)
    Thread.sleep(1100) // FileStreamSource orders by modification time
    s2.coalesce(1).write.mode("append").parquet(stage)
    val cp = Scratch.dir("cdc_cp")
    val st = Scratch.dir("cdc_st") + "/state"
    val got = StreamRunner.cdcApply(spark, stage, spark.read.parquet(stage).schema, cp, st)
      .select("user_id", "event_id", "event_type")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got == Map(1L -> ((10L, "late")), 2L -> ((13L, "y"))),
      s"latest-wins violated: $got")
    // crash recovery: simulate dying between the swap's delete and move
    // (only the complete _next dir remains) — the next run must adopt it,
    // not silently reset the state table
    java.nio.file.Files.move(java.nio.file.Paths.get(st),
      java.nio.file.Paths.get(s"${st}_next"))
    val stage2 = Scratch.dir("cdc_stage2")
    Seq(Ev(20, ts("2024-01-02 09:00:00"), 3, "z", 9.0))
      .toDF().coalesce(1).write.mode("overwrite").parquet(stage2)
    val got2 = StreamRunner.cdcApply(spark,
        stage2, spark.read.parquet(stage2).schema, Scratch.dir("cdc_cp2"), st)
      .select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 10L, 2L -> 13L, 3L -> 20L),
      s"crashed swap not recovered: $got2")
  }

  test("stream_available_now: resumes from the checkpoint and consumes " +
      "ONLY newly arrived files") {
    val src = Scratch.dir("an_src")
    val ev = Tables.events(spark, sf0001)
    val half = ev.count() / 2
    ev.limit(half.toInt).coalesce(1).write.mode("append").parquet(src)
    val base = Scratch.dir("an_cp")
    val schema = spark.read.parquet(src).schema
    val r1 = StreamRunner.availableNowRun(spark, src, schema, s"$base/cp", "t_an")
    assert(r1 == half, s"run 1 must consume the staged half: $r1 != $half")
    // nothing new → nothing consumed
    val r2 = StreamRunner.availableNowRun(spark, src, schema, s"$base/cp", "t_an")
    assert(r2 == 0, s"run 2 consumed $r2 rows from an unchanged source")
    // a new file lands → ONLY its rows are consumed
    Thread.sleep(1100)
    ev.limit(100).coalesce(1).write.mode("append").parquet(src)
    val r3 = StreamRunner.availableNowRun(spark, src, schema, s"$base/cp", "t_an")
    assert(r3 == 100, s"run 3 must consume exactly the new file: $r3")
  }

  test("stream_stream_join: MemoryStream pairs match across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a view buffered in batch 1 must join a purchase arriving in batch 2 —
    // proving the join state carries across micro-batches — while a
    // purchase outside the 1-hour window must not match
    val views = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val v = views.toDF().select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val p = purchases.toDF().select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = v.join(p,
      expr("""user_id = p_user AND purchase_ts > view_ts AND
              purchase_ts <= view_ts + INTERVAL 1 HOUR"""))
      .select(col("user_id"), unix_micros(col("view_ts")).as("view_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssj_state").start()
    views.addData(Ev(1, ts("2024-01-01 10:00:00"), 7, "view", 0.0))
    q.processAllAvailable()
    purchases.addData(
      Ev(2, ts("2024-01-01 10:30:00"), 7, "purchase", 1.0),  // in window
      Ev(3, ts("2024-01-01 11:30:00"), 7, "purchase", 1.0))  // outside
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssj_state")
      .select("user_id", "purchase_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inWindowUs = ts("2024-01-01 10:30:00").getTime * 1000
    assert(got == Set((7L, inWindowUs)), s"got $got")
  }

  test("StreamRunner file-replay paths run end to end (#58/#59 plumbing)") {
    val dir = Scratch.dir("stream_src2")
    Tables.events(spark, sf0001).limit(200).repartition(2)
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val cp1 = Scratch.dir("cp1")
    val t = StreamRunner.tumblingWithWatermark(spark, dir, schema, cp1, "sr_tumble")
    assert(t.columns.toSeq == Seq("ws", "event_type", "n"))
    val cp2 = Scratch.dir("cp2")
    val d = StreamRunner.dedupWithinWatermark(spark, dir, schema, cp2, "sr_dedup")
    assert(d.count() == 200) // event_id unique in source → nothing dropped
  }

  test("stream_substring_index: 3-batch replay equals the one-shot span " +
      "report — every pair reported exactly once, batch boundaries inert") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def toks(r: Range, tag: String) = r.map(tag + _)
    def fill(d: Int, n: Int) = (0 until n).map(k => s"u${d}_$k")
    // pairs within one batch (1,2), across adjacent batches (2,11),
    // across distant batches (1,21), and a triangle (1,2,21)
    val docs = Seq(
      (1L, (toks(0 until 20, "w") ++ fill(1, 4)).mkString(" ")),
      (2L, (fill(2, 3) ++ toks(0 until 20, "w")).mkString(" ")),
      (11L, (toks(10 until 20, "w") ++ fill(11, 8)).mkString(" ")),
      (12L, fill(12, 25).mkString(" ")),
      (21L, (fill(21, 5) ++ toks(0 until 12, "w")).mkString(" "))
    ).toDF("doc_id", "text")
    val dir = Scratch.dir("ssi_src")
    // three sequentially-written single files => three ordered micro-batches
    docs.filter(col("doc_id") < 10).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    docs.filter(col("doc_id") >= 10 && col("doc_id") < 20).coalesce(1)
      .write.mode("append").parquet(dir)
    docs.filter(col("doc_id") >= 20).coalesce(1)
      .write.mode("append").parquet(dir)
    val cp = Scratch.dir("ssi_cp")
    val root = Scratch.dir("ssi_state")
    val streamed = StreamRunner.substringIndexStream(spark, dir,
        spark.read.parquet(dir).schema, cp, s"$root/index", s"$root/report")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val oneShot = thrivespark.ops.Text.sharedSpanRuns(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(streamed == oneShot,
      s"streamed $streamed != one-shot $oneShot")
    // the expected pair set spans all batch-relation shapes: within-batch
    // (1,2), adjacent-batch (1,11)/(2,11), distant-batch (1,21)/(2,21);
    // (11,21) overlaps only 2 tokens < K and must stay silent
    assert(streamed.keySet == Set((1L, 2L), (1L, 11L), (2L, 11L),
      (1L, 21L), (2L, 21L)), s"got ${streamed.keySet}")
    // the index parquet holds every doc's windows after the replay
    val idx = spark.read.parquet(s"$root/index")
    assert(idx.select("doc_id").distinct().count() == 5)
  }

  test("stream_score_model: the streaming scorer equals the batch scorer " +
      "row for row (stateless inference is batch-boundary-invariant)") {
    import org.apache.spark.sql.functions.col
    val streamed = thrivespark.Registry.queries("stream_score_model")(
        spark, SparkTestBase.sf001)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2))).toMap
    val batch = thrivespark.ops.Text.qualityModelScores(
        thrivespark.Tables.documents(spark, SparkTestBase.sf001))
      .select(col("doc_id"), col("log_odds"), col("model_keep"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2))).toMap
    assert(streamed.size == batch.size && streamed.nonEmpty)
    val diffs = batch.collect { case (k, v) if streamed(k) != v => k }
    assert(diffs.isEmpty,
      s"stream and batch scorers diverge on ${diffs.size} docs, e.g. ${diffs.take(3)}")
  }

  test("stream_ann_ingest: drained index equals one-shot assignment " +
      "whatever the staging split — batch boundaries cannot move a vector's " +
      "cell; crash-replay of a batch is a no-op") {
    import thrivespark.ops.Similarity
    val emb = Tables.embeddings(spark, sf0001)
    val root = Scratch.dir("annig_test")
    val centDir = s"$root/centroids"
    Similarity.ivfCentroids(emb).write.mode("overwrite").parquet(centDir)
    val oneShot = Similarity.ivfAssignTo(emb, spark.read.parquet(centDir))
      .select(col("c_id"), col("cell")).orderBy(col("c_id")).collect().toSeq
    // same corpus staged at different splits ⇒ different micro-batch
    // boundaries (1 batch vs 5); both drains must equal the one-shot
    Seq(1, 5).foreach { nFiles =>
      val stage = s"$root/stage$nFiles"
      emb.repartition(nFiles).write.mode("overwrite").parquet(stage)
      val out = StreamRunner.annIngestStream(spark, stage, spark.read.parquet(stage).schema,
          s"$root/cp$nFiles", centDir, s"$root/idx$nFiles")
        .collect().toSeq
      assert(out == oneShot,
        s"$nFiles-file staging diverged from the one-shot assignment")
    }
    // idempotent sink: re-running a committed batch (the foreachBatch
    // crash-replay contract) overwrites its own partition — the standing
    // index still equals the one-shot result, not a double-write
    val idx5 = s"$root/idx5"
    val replayed = spark.read.parquet(s"$idx5/batch=0")
    replayed.write.mode("overwrite").parquet(s"$root/replay_tmp")
    spark.read.parquet(s"$root/replay_tmp").coalesce(2)
      .write.mode("overwrite").parquet(s"$idx5/batch=0")
    val after = spark.read.parquet(idx5).select(col("c_id"), col("cell"))
      .orderBy(col("c_id")).collect().toSeq
    assert(after == oneShot, "batch replay must be a no-op on the index")
  }

  test("stream_ann_query: union of per-batch probes equals the one-shot " +
      "sim_ann_ivf result; the per-batch standing scan is partition-pruned " +
      "to the probed cells") {
    val streamed = Registry.queries("stream_ann_query")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val oneShot = Registry.queries("sim_ann_ivf")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(streamed == oneShot,
      s"streamed probe diverged from one-shot (${streamed.size} vs ${oneShot.size} rows)")
    // the scale property: an IN filter on the partition column reaches the
    // scan as a PartitionFilter — the standing table is cell-partitioned,
    // so a batch reads only its probed cells' partitions
    import thrivespark.ops.Similarity
    val emb = Tables.embeddings(spark, sf0001)
    val idx = Scratch.dir("annq_idx")
    val cent = Similarity.ivfCentroids(emb)
    Similarity.ivfAssignTo(emb, cent)
      .write.partitionBy("cell").mode("overwrite").parquet(idx)
    val pruned = spark.read.parquet(idx)
      .filter(col("cell").isin(0L, 100L))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
        plan.linesIterator.exists(l => l.contains("PartitionFilters") &&
          l.contains("cell") && !l.contains("PartitionFilters: []")),
      s"cell IN filter must prune partitions of the standing index:\n$plan")
  }

  test("srcFingerprint: single-FILE parquet sources fingerprint their own " +
      "(name, length, mtime); unlistable sources are always stale") {
    import thrivespark.DurableStage
    val root = new java.io.File(Scratch.dir("fp_test"))
    try {
      // directory source: fingerprint tracks member changes
      val dir = new java.io.File(root, "t.parquet"); dir.mkdirs()
      val part = new java.io.File(dir, "part-0.parquet")
      Files.write(part.toPath, Array[Byte](1, 2, 3))
      val fpDir1 = DurableStage.srcFingerprint(root.getPath, "t")
      Files.write(part.toPath, Array[Byte](1, 2, 3, 4))
      part.setLastModified(part.lastModified + 5000): Unit
      assert(DurableStage.srcFingerprint(root.getPath, "t") != fpDir1,
        "regenerated member must change the directory fingerprint")
      // single-file source (pre-fix: constant empty-listing hash — staging
      // NEVER invalidated): must fingerprint the file itself and move when
      // the file is rewritten
      val single = new java.io.File(root, "s.parquet")
      Files.write(single.toPath, Array[Byte](9))
      val fpFile1 = DurableStage.srcFingerprint(root.getPath, "s")
      assert(!fpFile1.startsWith("unlistable:"), "a real file must hash")
      Files.write(single.toPath, Array[Byte](9, 9))
      single.setLastModified(single.lastModified + 5000): Unit
      assert(DurableStage.srcFingerprint(root.getPath, "s") != fpFile1,
        "rewritten single-file source must change fingerprint")
      // absent/unlistable: two reads never agree → stage marker never
      // matches → always re-staged instead of serving stale rows
      val a = DurableStage.srcFingerprint(root.getPath, "missing")
      val b = DurableStage.srcFingerprint(root.getPath, "missing")
      assert(a != b, "unlistable source must be always-stale")
      // PARTITIONED source (r17, closing the r16 advisory): part files in
      // key=value subdirectories were invisible to the top-level listing —
      // the dir read as unlistable and re-staged on every access forever.
      // Nested files must fingerprint (stable across reads) and a nested
      // rewrite must flip the hash.
      val pdir = new java.io.File(root, "p.parquet")
      val kdir = new java.io.File(pdir, "k=1"); kdir.mkdirs()
      val npart = new java.io.File(kdir, "part-0.parquet")
      Files.write(npart.toPath, Array[Byte](7, 7))
      val fpNested = DurableStage.srcFingerprint(root.getPath, "p")
      assert(!fpNested.startsWith("unlistable:"),
        "nested-only dir must fingerprint its nested files, not read as unlistable")
      assert(DurableStage.srcFingerprint(root.getPath, "p") == fpNested,
        "unchanged partitioned source must be stable across reads")
      Files.write(npart.toPath, Array[Byte](7, 7, 7))
      npart.setLastModified(npart.lastModified + 5000): Unit
      assert(DurableStage.srcFingerprint(root.getPath, "p") != fpNested,
        "regenerated nested member must change the fingerprint")
      // exists-but-empty: a deterministic state (not-yet-populated stream
      // source), NOT a failure — stable marker, flips when files arrive
      val edir = new java.io.File(root, "e.parquet"); edir.mkdirs()
      val fpEmpty = DurableStage.srcFingerprint(root.getPath, "e")
      assert(fpEmpty == DurableStage.srcFingerprint(root.getPath, "e") &&
        !fpEmpty.startsWith("unlistable:"),
        "empty-but-existing dir must fingerprint deterministically")
      val efile = new java.io.File(edir, "part-0.parquet")
      Files.write(efile.toPath, Array[Byte](5))
      assert(DurableStage.srcFingerprint(root.getPath, "e") != fpEmpty,
        "files arriving in a previously-empty source must flip the hash")
      // writer metadata (_SUCCESS, _temporary, .crc) is NOT data (r18,
      // closing the r17 advisory): its transient mid-overwrite appearance
      // must not flip the fingerprint
      val mdir = new java.io.File(root, "m.parquet"); mdir.mkdirs()
      Files.write(new java.io.File(mdir, "part-0.parquet").toPath, Array[Byte](3))
      val fpMeta = DurableStage.srcFingerprint(root.getPath, "m")
      Files.write(new java.io.File(mdir, "_SUCCESS").toPath, Array.empty[Byte])
      Files.write(new java.io.File(mdir, ".part-0.parquet.crc").toPath, Array[Byte](1))
      new java.io.File(mdir, "_temporary").mkdirs()
      assert(DurableStage.srcFingerprint(root.getPath, "m") == fpMeta,
        "writer metadata must be invisible to the fingerprint")
      // a depth-cap hit is an always-stale marker (r18, closing the r17
      // advisory): a file deeper than the cap can change WITHOUT touching
      // the capped dir's mtime, so the capped subtree must never be
      // trusted as fresh — two reads must disagree, like unlistable
      val ddir = new java.io.File(root, "d.parquet")
      var deep = ddir
      (1 to 9).foreach { i => deep = new java.io.File(deep, s"k$i=v"); () }
      deep.mkdirs()
      Files.write(new java.io.File(deep, "part-0.parquet").toPath, Array[Byte](8))
      val fpDeep1 = DurableStage.srcFingerprint(root.getPath, "d")
      assert(DurableStage.srcFingerprint(root.getPath, "d") != fpDeep1,
        "a depth-capped walk must read always-stale, never trust dir mtime")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root): Unit
  }

  test("withStatePartitions sets the state-partition count inside, restores it " +
      "on exit and on an exception, and leaves checkpointFileManagerClass untouched") {
    val manager = "spark.sql.streaming.checkpointFileManagerClass"
    val shuf = "spark.sql.shuffle.partitions"
    val shufBefore = spark.conf.get(shuf)
    assert(spark.conf.getOption(manager).isEmpty, "the suite starts on Spark's default")
    StreamRunner.withStatePartitions(spark, 3) {
      assert(spark.conf.get(shuf) == "3")
      assert(spark.conf.getOption(manager).isEmpty, "the scope must not pick a manager")
    }
    assert(spark.conf.get(shuf) == shufBefore)
    intercept[IllegalStateException] {
      StreamRunner.withStatePartitions(spark, 3) {
        throw new IllegalStateException("op failed mid-stream")
      }
    }
    assert(spark.conf.get(shuf) == shufBefore)
    // a manager the session already has stays in force inside and after
    val pinned =
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    spark.conf.set(manager, pinned)
    try {
      StreamRunner.withStatePartitions(spark, 3) {
        assert(spark.conf.getOption(manager).contains(pinned))
      }
      assert(spark.conf.getOption(manager).contains(pinned))
    } finally spark.conf.unset(manager)
  }

  test("stream_stream_join replay on a local checkpoint keeps checkpoint " +
      "checksums and equals the batch join; a second availableNowRun on the " +
      "same checkpoint consumes 0 rows") {
    import org.apache.commons.io.FileUtils
    // time-ordered files, written sequentially: no row arrives late
    val ev = Tables.events(spark, sf0001)
    val cut = ev.agg(expr("timestamp_micros((min(unix_micros(ts)) + " +
      "max(unix_micros(ts))) div 2)")).head().getTimestamp(0)
    val src = Scratch.dir("ssj_cs_src")
    ev.filter(col("ts") < lit(cut)).coalesce(1).write.mode("overwrite").parquet(src)
    ev.filter(col("ts") >= lit(cut)).coalesce(1).write.mode("append").parquet(src)
    val cp = Scratch.dir("ssj_cs_cp")
    val schema = spark.read.parquet(src).schema
    val streamed = StreamRunner.viewPurchaseJoin(spark, src, schema, cp, "t_ssj_cs")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vt"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pt"))
    val batch = v.join(p, expr("user_id = pu AND pt > vt AND pt <= vt + INTERVAL 1 HOUR"))
      .select(col("user_id"), unix_micros(col("vt")).as("view_us"),
        unix_micros(col("pt")).as("purchase_us"))
    assert(batch.count() > 0, "fixture must have view→purchase pairs")
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
      "streamed join differs from the batch interval join")
    val files = FileUtils.listFiles(new java.io.File(cp), null, true).asScala.toSeq
    def has(f: java.io.File, name: String) = new java.io.File(f.getParentFile, name).exists()
    // Spark's ChecksumCheckpointFileManager writes <file>.crc beside every
    // state-store delta; the offset log keeps the filesystem's .<file>.crc
    val deltas = files.filter(_.getName.endsWith(".delta"))
    assert(deltas.nonEmpty, s"no state files under $cp")
    assert(deltas.forall(f => has(f, f.getName + ".crc")),
      s"state files without a checkpoint checksum: ${deltas.filterNot(f => has(f, f.getName + ".crc"))}")
    val offsets = files.filter(f => f.getParentFile.getName == "offsets" &&
      f.getName.forall(_.isDigit))
    assert(offsets.size >= 2 && offsets.forall(f => has(f, s".${f.getName}.crc")),
      s"offset files without a checksum: $offsets")
    // resume on the same local checkpoint: nothing new, nothing consumed
    val an = Scratch.dir("an_cs")
    val r1 = StreamRunner.availableNowRun(spark, src, schema, s"$an/cp", "t_an_cs")
    assert(r1 == ev.count(), s"run 1 consumed $r1")
    val r2 = StreamRunner.availableNowRun(spark, src, schema, s"$an/cp", "t_an_cs")
    assert(r2 == 0, s"run 2 consumed $r2 rows from an unchanged source")
  }

  test("stream_watermark_late: two fresh stagings replay to identical " +
      "output with the same batch count") {
    import thrivespark.ops.StreamingOps
    def replay(i: Int): (Seq[(Long, String, Long)], Int) = {
      val stage = StreamingOps.stageDir(spark, sf0001)
      val cp = Scratch.dir("cp_wm_det")
      val rows = StreamRunner.tumblingWithWatermark(spark, stage,
          spark.read.parquet(stage).schema, cp, s"t_wm_det_$i")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
      val batches = new java.io.File(cp, "commits").list().count(_.forall(_.isDigit))
      // the next call finds no stage and writes a fresh one
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
      (rows, batches)
    }
    val (rows1, batches1) = replay(1)
    val (rows2, batches2) = replay(2)
    assert(rows1.nonEmpty)
    assert(batches1 == batches2, s"batch count moved: $batches1 vs $batches2")
    assert(rows1 == rows2, s"replay output moved between stagings " +
      s"(${rows1.size} vs ${rows2.size} rows)")
  }

  test("each staged stream source reads back with the schema its op replays it with") {
    // the ops pass the staged table's schema instead of reading the stage's
    // footers; a stage whose columns drift from its table must fail here
    import thrivespark.ops.StreamingOps
    val events = Tables.events(spark, sf0001).schema
    val emb = Tables.embeddings(spark, sf0001).schema
    Seq(
      "events" -> (StreamingOps.stageDir(spark, sf0001) -> events),
      "events_flush" -> (StreamingOps.stageDirOrderedFlush(spark, sf0001) -> events),
      "docs" -> (StreamingOps.stageDocsDir(spark, sf0001) ->
        Tables.documents(spark, sf0001).schema),
      "emb" -> (StreamingOps.stageEmbDir(spark, sf0001) -> emb),
      "annq" -> (StreamingOps.stageAnnQueryFeed(spark, sf0001) -> emb)
    ).foreach { case (name, (stage, passed)) =>
      val staged = spark.read.parquet(stage).schema
      assert(staged == passed, s"stage $name reads back as $staged, replayed as $passed")
    }
  }

  test("StreamRunner: one replay source, no schema read per stream start") {
    val file = new java.io.File("src/main/scala/thrivespark/streaming/StreamRunner.scala")
    assert(file.isFile, s"run from the repo root: ${file.getAbsolutePath}")
    val src = scala.io.Source.fromFile(file, "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    val schemaReads = lines.filter(l => "read\\.parquet\\([^)]*\\)\\.schema".r.findFirstIn(l).isDefined)
    assert(schemaReads.isEmpty, s"schema read from the files:\n${schemaReads.mkString("\n")}")
    // the def each readStream sits in: the replay helper, and scoreDocsStream,
    // which reads all staged files in one trigger
    val readers = lines.indices.filter(i => lines(i).contains("readStream")).map { i =>
      lines.take(i + 1).reverse.find(_.trim.matches("(private )?def \\w+.*"))
        .map(_.trim.stripPrefix("private ").stripPrefix("def ").takeWhile(_ != '(')).getOrElse("?")
    }
    assert(readers == Seq("replay", "scoreDocsStream"), s"readStream in: $readers")
  }

  test("a stream key replayed in the same session compiles no class again") {
    // each stream start runs on a clone of the session; with Spark 4.1's
    // default artifact isolation every clone had its own executor
    // classloader and recompiled the previous start's classes
    import org.apache.spark.metrics.source.CodegenMetrics
    def replay(): Unit = Registry.queries("stream_watermark_late")(spark, sf0001)
      .write.mode("overwrite").format("noop").save()
    replay()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    replay()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"the second replay compiled $compiled classes")
  }
}
