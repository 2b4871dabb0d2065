package thrivespark.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming execution paths (SURVEY.md §2.10 #58/#59): the ops
  * whose semantics only exist under streaming — watermark late-drop and
  * stateful dedup. Exercised by StreamingSpec via deterministic file replay
  * (one micro-batch per input file, maxFilesPerTrigger=1).
  *
  * At scale these are the standard Structured Streaming patterns: watermark
  * bounds state, dropDuplicatesWithinWatermark bounds the dedup map, and the
  * shuffle is keyed by the aggregation key exactly as in batch. */
object StreamRunner {

  private val ShufflePartitionsKey = "spark.sql.shuffle.partitions"
  /** Spark's own key for the class that writes checkpoint files atomically. */
  val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  val LocalCheckpointManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
  /** Every session conf key `withStreamConf` may set. QueryGuard snapshots
    * and restores exactly these when it abandons an op mid-flight. */
  val ScopedConfKeys: Seq[String] = Seq(ShufflePartitionsKey, CheckpointManagerKey)

  /** A checkpoint is local when its scheme is `file`, or it has none and
    * the default filesystem is local. */
  private def isLocalCheckpoint(spark: SparkSession, checkpoint: String): Boolean = {
    val scheme = Option(new org.apache.hadoop.fs.Path(checkpoint).toUri.getScheme)
      .getOrElse(org.apache.hadoop.fs.FileSystem
        .getDefaultUri(spark.sparkContext.hadoopConfiguration).getScheme)
    scheme == "file"
  }

  /** Sets each `(key, value)` on the session for the duration of `f` and
    * puts back what was there before, unsetting keys that were unset. */
  private def withConf[A](spark: SparkSession, sets: Seq[(String, String)])(f: => A): A = {
    val prev = sets.map { case (k, _) => k -> spark.conf.getOption(k) }
    sets.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally restoreConf(spark, prev)
  }

  /** Puts back a `(key, previous value)` snapshot; `None` unsets the key. */
  def restoreConf(spark: SparkSession, prev: Seq[(String, Option[String])]): Unit =
    prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }

  /** The one scope every streaming query this engine starts runs in.
    *
    * Checkpoint manager. For a local checkpoint the scope selects Spark's
    * `FileSystemBasedCheckpointFileManager` instead of the default
    * `FileContextBasedCheckpointFileManager`. The default commits each
    * checkpoint file (offset and commit log entries, state-store deltas
    * and snapshots) with `AbstractFileSystem.renameInternal`, which calls
    * `getFileLinkStatus`; without the native Hadoop library, Hadoop 3.4's
    * `FileUtil.readLink` forks a `readlink` process for that, about 2 ms
    * per fork and exec. A JFR recording of one `stream_ingest` run
    * (perfbench, 4 cores) held about 2,500 such forks, all from
    * `RenameBasedFSDataOutputStream.close`. The FileSystem-based manager
    * commits with `rename(2)`, which is atomic on a local POSIX
    * filesystem, still refuses to overwrite an existing metadata-log
    * batch, and is still wrapped by Spark's `ChecksumCheckpointFileManager`,
    * so checkpoint checksums stay on. Any other scheme (HDFS, object
    * stores) keeps Spark's default.
    *
    * State partitions. Streaming state is partitioned by
    * `spark.sql.shuffle.partitions` at the stream's FIRST start and pinned
    * in the checkpoint thereafter. Size it to the stream's key
    * cardinality, not the batch-side default: every extra partition is an
    * extra state-store instance committed per micro-batch (32 → 32
    * HDFS-state commits per batch here, dominated by fs overhead). On a real
    * cluster with millions of keys you would raise it; these demo streams
    * carry a handful of keys. `None` leaves it alone (stateless streams).
    *
    * Both keys are session conf. A query fixes its checkpoint manager at
    * `start()` (its offset and commit logs, opened later on the stream
    * thread, still get the manager in force then), so a caller that keeps
    * the handle (IngestPipeline) needs only `start()` inside the scope; the
    * entry points here drain their query inside it. The previous values
    * come back on exit, normal or not. */
  def withStreamConf[A](spark: SparkSession, checkpoint: String,
      statePartitions: Option[Int] = None)(f: => A): A =
    withConf(spark,
      statePartitions.map(n => ShufflePartitionsKey -> n.toString).toSeq ++
        (if (isLocalCheckpoint(spark, checkpoint))
          Seq(CheckpointManagerKey -> LocalCheckpointManager) else Nil))(f)

  /** #58: 1-hour tumbling counts with a 10-minute watermark; rows later than
    * the watermark are dropped from the aggregate. Returns the materialized
    * result after processing all available files in `srcDir`. */
  def tumblingWithWatermark(spark: SparkSession, srcDir: String,
      checkpoint: String, queryName: String): DataFrame =
      withStreamConf(spark, checkpoint, Some(4)) {
    val schema = spark.read.parquet(srcDir).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val agg = in
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("ws"), col("event_type"), col("n"))
    val q = agg.writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Custom-state element for mapGroupsWithState: exact fixed-point sum as
    * unscaled decimal(18,6) micros — associative, so cross-batch accumulation
    * order can't drift, and < 2^53 at any realistic per-user volume so the
    * final double emission is the correctly-rounded quotient both engines
    * compute. */
  final case class UserAgg(n: Long, sumMicros: Long)

  /** Custom streaming state via KeyValueGroupedDataset.mapGroupsWithState:
    * per-user running (count, exact sum) surviving across micro-batches in
    * the state store. Update-mode emissions are folded to the final state
    * per key with max_by on the monotone count. At scale this is the
    * arbitrary-stateful-processing path (timeouts, eviction, custom types)
    * that windowed aggregation can't express. */
  def userStateCounts(spark: SparkSession, srcDir: String,
      checkpoint: String, queryName: String): DataFrame =
      withStreamConf(spark, checkpoint, Some(4)) {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val schema = spark.read.parquet(srcDir).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
    // exact: BigDecimal.valueOf goes through Double.toString (the shortest
    // decimal round-trip), which is also what Spark's cast-to-decimal and
    // DuckDB's double→DECIMAL(18,6) round — the raw `new BigDecimal(v)`
    // constructor would keep the full binary expansion and could round a
    // .5e-6-boundary value differently from both engines
    def micros(v: Double): Long =
      java.math.BigDecimal.valueOf(v).setScale(6, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    val updated = in.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(0L, 0L))
          var n = prev.n
          var s = prev.sumMicros
          rows.foreach { case (_, v) => n += 1; s += micros(v) }
          state.update(UserAgg(n, s))
          (user, n, s)
      }
      .toDF("user_id", "n_events", "sum_micros")
    val q = updated.writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        (max_by(col("sum_micros"), col("n_events")) / 1e6).as("sum_value"))
  }

  /** Stream-stream inner join: views ⋈ purchases on user within a 1-hour
    * event-time interval, both sides watermarked so the join state is
    * bounded (a view can be evicted once the purchase-side watermark
    * passes view_ts + 1 hour). With a time-ordered staged source no input
    * row ever arrives below the watermark, so the streamed result equals
    * the batch join — which is the oracle. At scale this is THE pattern
    * for joining two unbounded streams with bounded state: both sides
    * shuffle on user_id, state size is O(events within the watermark
    * horizon), not O(history). */
  def viewPurchaseJoin(spark: SparkSession, srcDir: String,
      checkpoint: String, queryName: String): DataFrame =
    viewPurchaseJoinOf(spark, srcDir, checkpoint, queryName, "inner")

  /** Shared body of the inner and left-outer stream-stream joins — the two
    * ops differ ONLY in join type, so one helper keeps their sources,
    * watermarks and join condition from drifting apart. */
  private def viewPurchaseJoinOf(spark: SparkSession, srcDir: String,
      checkpoint: String, queryName: String, joinType: String): DataFrame =
      // 2, not 4: a stream-stream join commits FOUR state stores per
      // partition per micro-batch (keyed left/right + key-to-numValues
      // each side), so partition count is 2× the commit lever it is for
      // single-store aggs; 15 users of state don't need more parallelism
      withStreamConf(spark, checkpoint, Some(2)) {
    val schema = spark.read.parquet(srcDir).schema
    def src() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val views = src().filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = views.join(purchases,
      expr("""user_id = p_user AND
              purchase_ts > view_ts AND
              purchase_ts <= view_ts + INTERVAL 1 HOUR"""), joinType)
      .select(col("user_id"), unix_micros(col("view_ts")).as("view_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Stream-stream LEFT OUTER join: views with no purchase inside the
    * 1-hour window emit null-padded — but only once the watermark passes
    * the view's join window, which is when the engine can PROVE no match
    * can still arrive. The staged source therefore ends with a far-future
    * sentinel row that advances the watermark past every real event
    * (callers filter it); without it the final windows' unmatched rows sit
    * in state forever awaiting data that never comes — the defining
    * operational detail of streaming outer joins. */
  def viewPurchaseLeftJoin(spark: SparkSession, srcDir: String,
      checkpoint: String, queryName: String): DataFrame =
    viewPurchaseJoinOf(spark, srcDir, checkpoint, queryName, "leftOuter")

  /** Incremental batch-style streaming (Trigger.AvailableNow): process
    * everything available, then self-terminate — the scheduled-job pattern.
    * Returns total input rows consumed by this invocation; a second run on
    * the same checkpoint with no new files must consume 0. */
  def availableNowRun(spark: SparkSession, srcDir: String, checkpoint: String,
      queryName: String): Long = withStreamConf(spark, checkpoint, Some(4)) {
    val schema = spark.read.parquet(srcDir).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val agg = in.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    // q.recentProgress is a ring buffer capped at
    // numRecentProgressUpdates (default 100) — with maxFilesPerTrigger=1 a
    // source holding >100 files would silently undercount the
    // rows-consumed contract; raise the cap for this run (restored after)
    withConf(spark, Seq("spark.sql.streaming.numRecentProgressUpdates" -> "100000")) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
  }

  /** Streaming CDC apply (foreachBatch upsert sink): treat each event as an
    * upsert keyed by user_id and MERGE every micro-batch into a keyed state
    * table with latest-wins semantics (max by (ts, event_id) — associative,
    * so the final table is independent of batch boundaries and replay
    * order). Each merge reads the current state, unions the batch, reduces
    * to one row per key, and commits via write-then-swap — the file-system
    * stand-in for a transactional MERGE INTO; at scale the state table is
    * key-partitioned and the swap is a table-format commit. */
  def cdcApply(spark: SparkSession, srcDir: String, checkpoint: String,
      stateDir: String): DataFrame = withStreamConf(spark, checkpoint, Some(4)) {
    val schema = spark.read.parquet(srcDir).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
    val q = in.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        // crash recovery: the swap below is delete-then-move, so a crash in
        // between leaves only the complete _next dir — adopt it before
        // reading, otherwise the state table would silently reset
        val rootP = java.nio.file.Paths.get(stateDir)
        val tmpP = java.nio.file.Paths.get(s"${stateDir}_next")
        if (!java.nio.file.Files.exists(rootP) &&
            java.nio.file.Files.exists(tmpP.resolve("_SUCCESS")))
          java.nio.file.Files.move(tmpP, rootP)
        val cur =
          if (new java.io.File(s"$stateDir/_SUCCESS").exists())
            s.read.parquet(stateDir)
          else batch.limit(0)
        val merged = cur.unionByName(batch)
          .groupBy(col("user_id"))
          .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
            col("value"))).as("m"))
          .select(col("user_id"), col("m.ts").as("ts"),
            col("m.event_id").as("event_id"),
            col("m.event_type").as("event_type"), col("m.value").as("value"))
        val tmp = s"${stateDir}_next"
        merged.write.mode("overwrite").parquet(tmp)
        val root = java.nio.file.Paths.get(stateDir)
        org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
        java.nio.file.Files.move(java.nio.file.Paths.get(tmp), root)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(stateDir)
  }

  /** Streaming maintenance of the positional substring window index (r14):
    * documents arrive in micro-batches; each batch's 8-token windows are
    * matched against the STANDING occ index (delta×standing + delta×delta
    * — the delta-proportional spanReportFromOcc shape, never
    * standing×standing), the batch's span report is appended to the
    * result, and the batch's windows are appended to the index parquet —
    * the index IS the persisted artifact, maintained incrementally. Every
    * doc pair is reported in exactly ONE batch (the one where its later
    * member arrives), so the union of per-batch reports equals the
    * one-shot sharedSpanRuns over the full corpus — an exactness
    * guarantee independent of batch boundaries, which is what makes this
    * streaming op fully oracleable by text_substring_exact's SQL. */
  def substringIndexStream(spark: SparkSession, srcDir: String,
      checkpoint: String, indexDir: String, reportDir: String): DataFrame =
      withStreamConf(spark, checkpoint) {
    val schema = spark.read.parquet(srcDir).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .select(col("doc_id"), col("text"))
    val K = 8
    val q = in.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // this batch's windows: consumed by the report (both join sides)
        // and the index append — persist for the batch, release after
        val occB = thrivespark.ops.Text.windowOcc(batch, K)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // standing = every PRIOR batch's partition. Reading the root with
        // partition discovery would also pick up a half-written current
        // partition on crash-replay — enumerate committed prior batches
        // explicitly instead.
        val prior = Option(new java.io.File(indexDir).listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(f => f.isDirectory && f.getName.startsWith("batch=") &&
            f.getName.stripPrefix("batch=").toLong < batchId)
          .map(_.getPath)
        val standing =
          if (prior.nonEmpty)
            s.read.parquet(prior.toIndexedSeq: _*)
              .select(col("doc_id"), col("i"), col("h"))
          else occB.limit(0)
        // IDEMPOTENT per-batch sinks: foreachBatch re-runs a batch after a
        // crash, so plain appends would double-write it — each batch owns
        // a batch=<id> partition written with overwrite, making replays
        // no-ops. Writes are compacted to 4 files per batch (repartition
        // for the aggregate-sized report so join parallelism is untouched;
        // coalesce for the cached occB read).
        thrivespark.ops.Text.spanReportFromOcc(occB, standing, K)
          .repartition(4).write.mode("overwrite")
          .parquet(s"$reportDir/batch=$batchId")
        // index write AFTER the report: the standing read above is lazy,
        // but the report action has already consumed it by this point
        occB.coalesce(4).write.mode("overwrite")
          .parquet(s"$indexDir/batch=$batchId")
        occB.unpersist()
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(reportDir)
      .select(col("a_id"), col("b_id"), col("n_runs"), col("max_shared_tokens"))
  }

  /** Streaming ANN ingest (r17 — the streaming counterpart of
    * sim_ann_incremental, composing its standing-index discipline with the
    * substringIndexStream sink pattern): vectors arrive in micro-batches
    * (maxFilesPerTrigger=1 ⇒ one batch per staged file) and each batch is
    * assigned to the EXISTING IVF cells — the centroid table persisted at
    * `centDir` BEFORE the stream starts (the standing index) — via ONE
    * broadcast map-side argmax over the batch only (ivfAssignTo). No
    * re-clustering, no state store, no shuffle on the stream side: at
    * 100 TB the standing centroids are a constant-size broadcast (capped
    * at IvfK) and each micro-batch pays O(batch) work. Batch appends are
    * IDEMPOTENT (each batch owns a batch=<id> partition written with
    * overwrite, so a crash-replay is a no-op — the substringIndexStream
    * sink contract). Assignment is stateless per-row work against a fixed
    * codebook, so batch boundaries cannot affect results: the drained
    * index equals the one-shot assignment of everything against the same
    * centroids — which is the oracle, and StreamingSpec replays the same
    * corpus at different staging splits to pin boundary-independence. */
  def annIngestStream(spark: SparkSession, srcDir: String, checkpoint: String,
      centDir: String, idxDir: String): DataFrame = withStreamConf(spark, checkpoint) {
    val schema = spark.read.parquet(srcDir).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .select(col("vec_id"), col("embedding"))
    val q = in.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val cent = s.read.parquet(centDir)   // standing cells, never rebuilt
        thrivespark.ops.Similarity.ivfAssignTo(batch, cent)
          .select(col("c_id"), col("cell"))
          .coalesce(2).write.mode("overwrite")
          .parquet(s"$idxDir/batch=$batchId")
        ()
      }
      .start()
    q.awaitTermination()
    // read AFTER the stream drains: every batch=<id> partition is committed
    spark.read.parquet(idxDir)
      .select(col("c_id"), col("cell"))
      .orderBy(col("c_id"))
  }

  /** Streaming ANN query (r17 — the query-side complement of
    * annIngestStream): retrieval requests arrive as a vector stream and
    * each micro-batch probes the STANDING index — centroids at `centDir`
    * (constant-size broadcast under the capped codebook), assignments at
    * `idxDir` written PARTITIONED BY cell. The batch first ranks cells
    * map-side against the broadcast codebook, collects its distinct
    * probed-cell set — bounded by IvfK regardless of batch size, a
    * codebook-sized driver pull, never data-sized — and pushes it as an
    * IN filter on the static read, so the per-batch scan touches ONLY the
    * probed cells' partitions (partition pruning on the standing table:
    * the sub-linear probe property, preserved under streaming). Results
    * append idempotently (batch=<id> overwrite). Each query is processed
    * in exactly one batch and scoring is stateless against a fixed index,
    * so the union of batch results equals the one-shot probe of every
    * query — sim_ann_ivf's oracle, verbatim. */
  def annQueryStream(spark: SparkSession, srcDir: String, checkpoint: String,
      centDir: String, idxDir: String, outDir: String): DataFrame =
      withStreamConf(spark, checkpoint) {
    // srcDir IS the request feed (the staged query slice) — each staged
    // file is one micro-batch of retrieval requests
    val schema = spark.read.parquet(srcDir).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val q = in.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val cent = s.read.parquet(centDir)
        val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val wCell = org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id")).orderBy(col("csim").desc, col("cent_id"))
          // ≤ IvfK distinct cells whatever the batch size — codebook-bounded
          val cells = b.join(broadcast(cent))
            .withColumn("csim", thrivespark.ops.Similarity.dot(col("q_emb"), col("cent_emb")))
            .withColumn("crn", row_number().over(wCell))
            .filter(col("crn") <= 2)
            .select(col("cent_id")).distinct()
            .collect().map(_.getLong(0)).toSeq
          val assigned = s.read.parquet(idxDir)
            .filter(col("cell").isin(cells: _*))   // partition pruning
            .select(col("c_id"), col("cell").cast("long").as("cell"), col("c_emb"))
          thrivespark.ops.Similarity.probeTopK(b, cent, assigned, k = 5, nprobe = 2)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/batch=$batchId")
        } finally b.unpersist(): Unit
        ()
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
      .select(col("q_id"), col("c_id"), col("cos"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** Streaming media decode: the multimodal feature-extraction stage running
    * under Structured Streaming. Media files arrive (maxFilesPerTrigger=1 ⇒
    * one micro-batch per staged file), each batch is decoded by the SAME
    * map-only mapPartitions stage as the batch path — stateless, so it needs
    * no watermark or state store — and appended to a parquet sink.
    * Trigger.AvailableNow + checkpoint is the scheduled-ingest shape: a
    * decode job that picks up only media added since its last run (the
    * bookmark contract for payload columns). Because the stage is stateless
    * and deterministic, the sink contents equal the one-shot batch decode
    * exactly, whatever the batch boundaries — which is the oracle. */
  def decodeMediaAvailableNow(spark: SparkSession, srcDir: String,
      outDir: String, checkpoint: String, queryName: String): DataFrame =
      withStreamConf(spark, checkpoint) {
    val schema = spark.read.parquet(srcDir).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val feats = thrivespark.multimodal.Multimodal.extractPpmFeatures(in)
    val q = feats.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .queryName(queryName)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** #59: stateful streaming dedup on event_id across micro-batches. */
  def dedupWithinWatermark(spark: SparkSession, srcDir: String,
      checkpoint: String, queryName: String): DataFrame =
      withStreamConf(spark, checkpoint, Some(4)) {
    val schema = spark.read.parquet(srcDir).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val deduped = in
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"))
    val q = deduped.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Streaming model inference (train offline, score the firehose): apply a
    * batch-trained dense NB weight table to a document stream. The entire
    * scoring path is stateless map-side work — the surface-feature
    * projection plus three stream-static BROADCAST joins against the 40-row
    * weight table (dense over the bin domains, so every join is total) —
    * running in append mode with zero state stores; at 100 TB/day this is
    * the shape that scores an ingest firehose with a model artifact a few
    * hundred bytes big. priorMicros is the 1-row trained prior, passed as a
    * literal. */
  def scoreDocsStream(spark: SparkSession, srcDir: String, checkpoint: String,
      weights: DataFrame, priorMicros: Long, queryName: String): DataFrame =
      withStreamConf(spark, checkpoint) {
    val schema = spark.read.parquet(srcDir).schema
    // no maxFilesPerTrigger: scoring is stateless per-row work, so batch
    // boundaries cannot affect results — one trigger avoids paying the
    // ~1 s micro-batch overhead per staged file (multi-batch replay
    // mechanics are exercised by the stateful stream ops)
    val in = spark.readStream.schema(schema).parquet(srcDir)
    def wSide(f: String) = broadcast(
      weights.filter(col("feature") === f)
        .select(col("v").as(s"v_$f"), col("w_micros").as(s"w_$f")))
    val scored = thrivespark.ops.Text.surfaceFeatures(in)
      .join(wSide("f_len"), col("f_len") === col("v_f_len"))
      .join(wSide("f_stop"), col("f_stop") === col("v_f_stop"))
      .join(wSide("f_wlen"), col("f_wlen") === col("v_f_wlen"))
      .select(col("doc_id"), col("f_len"), col("f_stop"), col("f_wlen"),
        (lit(priorMicros) + col("w_f_len") + col("w_f_stop") + col("w_f_wlen"))
          .as("score_micros"))
    val q = scored.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }
}
