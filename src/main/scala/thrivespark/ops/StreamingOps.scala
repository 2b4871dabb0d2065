package thrivespark.ops

import org.apache.spark.sql.functions._
import thrivespark.{DurableStage, Op, Tables => T}
import thrivespark.Det._

/** SURVEY.md §2.10 — event-time windowing (#55–#57), batch-equivalence mode.
  *
  * Structured Streaming's unified API guarantees these transforms produce
  * identical results on `readStream` (absent late data); the streaming
  * execution path (readStream → watermark → memory sink) is exercised in
  * StreamingSpec with the same assertions, plus the two ops whose semantics
  * only exist under streaming (#58 watermark-late-drop, #59 stateful dedup).
  * Window starts are emitted as epoch-µs BIGINT (rule R3). */
object StreamingOps {
  val ops: Seq[Op] = Seq(
    Op("stream_tumbling",
      (s, d) => T.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(unix_micros(col("w.start")).as("ws"), col("event_type"),
                col("n"), col("sum_value"))
        .orderBy(col("ws"), col("event_type")),
      Some("""SELECT epoch_us(date_trunc('hour', ts)) AS ws, event_type,
                     count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
              FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // 1h window sliding every 15min → each event lands in exactly 4 windows.
    Op("stream_sliding",
      (s, d) => T.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("w.start")).as("ws"), col("event_type"), col("n"))
        .orderBy(col("ws"), col("event_type")),
      Some("""WITH x AS (
                SELECT epoch_us(ts) - (epoch_us(ts) % 900000000) AS f, event_type
                FROM events)
              SELECT ws, event_type, count(*) AS n
              FROM (SELECT unnest([f, f - 900000000, f - 1800000000, f - 2700000000]) AS ws,
                           event_type FROM x)
              GROUP BY ws, event_type ORDER BY ws, event_type""")),

    // Session windows, 30-minute gap. Oracle = gaps-and-islands (identical
    // math: a new session starts when the gap to the previous event ≥ 30m).
    Op("stream_session",
      (s, d) => T.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), unix_micros(col("w.start")).as("ss"), col("n"))
        .orderBy(col("user_id"), col("ss")),
      Some("""WITH e AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS nf
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              s AS (
                SELECT user_id, ts,
                       sum(nf) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM e)
              SELECT user_id, epoch_us(min(ts)) AS ss, count(*) AS n
              FROM s GROUP BY user_id, sid ORDER BY user_id, ss""")),

    // #58/#59 — semantics only exist under streaming execution (late-drop
    // depends on arrival order); no SQL oracle (driver rows-only check).
    // Deterministic replay assertions live in StreamingSpec.
    Op("stream_watermark_late",
      (s, d) => {
        val stage = stageDir(s, d)
        val cp = thrivespark.Scratch.dir("cp_wm")
        thrivespark.streaming.StreamRunner.tumblingWithWatermark(
          s, stage, T.events(s, d).schema, cp, s"q_wm_late_${tag(d)}")
      },
      None),

    Op("stream_dedup_state",
      (s, d) => {
        val stage = stageDirOrderedFlush(s, d)
        val cp = thrivespark.Scratch.dir("cp_dd")
        thrivespark.streaming.StreamRunner.dedupWithinWatermark(
          s, stage, T.events(s, d).schema, cp, s"q_dedup_state_${tag(d)}")
          .filter(col("event_id") >= 0) // drop the shared stage's sentinels
          .orderBy(col("event_id"))
      },
      // event_id is unique in this corpus (FIXTURES), so the streaming dedup
      // is a projection-preserving identity here — which is exactly what
      // makes a full SQL oracle possible. Duplicate-dropping itself is
      // exercised in StreamingSpec with planted cross-batch duplicates.
      Some("""SELECT event_id, user_id, event_type
              FROM events ORDER BY event_id""")),

    // Stream-stream inner join (views ⋈ purchases within 1 hour), both
    // sides watermarked ⇒ bounded join state. Time-ordered staging means
    // no input arrives below the watermark, so the streamed result is
    // exactly the batch interval join — the oracle.
    Op("stream_stream_join",
      (s, d) => {
        val stage = stageDirOrderedFlush(s, d)
        val cp = thrivespark.Scratch.dir("cp_ssj")
        thrivespark.streaming.StreamRunner.viewPurchaseJoin(
          s, stage, T.events(s, d).schema, cp, s"q_ssj_${tag(d)}")
          // the shared stage's two sentinels (view@far, purchase@far+1s,
          // both user -1) join each other — filter the pair out
          .filter(col("user_id") >= 0)
          .orderBy(col("user_id"), col("view_us"), col("purchase_us"))
      },
      Some("""SELECT v.user_id, epoch_us(v.ts) AS view_us, epoch_us(p.ts) AS purchase_us
              FROM events v JOIN events p
                ON v.user_id = p.user_id
               AND v.event_type = 'view' AND p.event_type = 'purchase'
               AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
              ORDER BY 1, 2, 3""")),

    // Stream-stream LEFT OUTER join: unmatched views null-pad — but only
    // after the watermark proves no match can still arrive, so the staged
    // source ends with a far-future sentinel that flushes the final
    // windows' state (filtered here). With that operational detail handled,
    // the streamed result is exactly the batch left interval join.
    Op("stream_outer_join",
      (s, d) => {
        val stage = stageDirOrderedFlush(s, d)
        val cp = thrivespark.Scratch.dir("cp_soj")
        thrivespark.streaming.StreamRunner.viewPurchaseLeftJoin(
          s, stage, T.events(s, d).schema, cp, s"q_soj_${tag(d)}")
          .filter(col("user_id") >= 0)
          .orderBy(col("user_id"), col("view_us"), col("purchase_us").asc_nulls_first)
      },
      Some("""SELECT v.user_id, epoch_us(v.ts) AS view_us, epoch_us(p.ts) AS purchase_us
              FROM (SELECT * FROM events WHERE event_type = 'view') v
              LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
                ON v.user_id = p.user_id
               AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
              ORDER BY 1, 2, 3 NULLS FIRST""")),

    // Trigger.AvailableNow — the scheduled-job streaming pattern: process
    // everything available, self-terminate, resume from the checkpoint next
    // invocation. Run twice on the same checkpoint: run 1 consumes the full
    // corpus, run 2 consumes nothing — streaming's answer to the bookmark
    // contract (#60), with exactly-once bookkeeping in the checkpoint
    // instead of a metadata table.
    Op("stream_available_now",
      (s, d) => {
        import s.implicits._
        // the hash-split stage: this op counts rows consumed per run
        // (complete-mode count, no watermark), so arrival order is
        // irrelevant — share the cheapest staged source
        val stage = stageDir(s, d)
        val base = thrivespark.Scratch.dir("an")
        val qn = s"q_an_${tag(d)}"
        def run() = thrivespark.streaming.StreamRunner
          .availableNowRun(s, stage, T.events(s, d).schema, s"$base/cp", qn)
        val r1 = run()
        val r2 = run()
        Seq((1, r1), (2, r2)).toDF("run", "n_input_rows").orderBy(col("run"))
      },
      Some("""SELECT 1 AS run, (SELECT count(*) FROM events) AS n_input_rows
              UNION ALL SELECT 2, 0 ORDER BY run""")),

    // Streaming CDC apply: every event is an upsert keyed by user_id;
    // foreachBatch MERGEs each micro-batch into a keyed state table with
    // latest-wins (max by (ts, event_id)) semantics. Latest-wins is
    // associative, so the final table equals the batch answer regardless of
    // batch boundaries — which is the oracle.
    Op("stream_cdc_apply",
      (s, d) => {
        val stage = stageDirOrderedFlush(s, d)
        val cp = thrivespark.Scratch.dir("cp_cdc")
        val st = thrivespark.Scratch.dir("cdc") + "/state"
        thrivespark.streaming.StreamRunner.cdcApply(s, stage, T.events(s, d).schema, cp, st)
          .filter(col("user_id") >= 0) // drop the shared stage's sentinels
          .select(col("user_id"), unix_micros(col("ts")).as("last_us"),
            col("event_id").as("last_event_id"),
            col("event_type").as("last_type"), col("value").as("last_value"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, epoch_us(ts) AS last_us, event_id AS last_event_id,
                     event_type AS last_type, value AS last_value
              FROM (SELECT user_id, ts, event_id, event_type, value,
                           row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) AS rn
                    FROM events)
              WHERE rn = 1 ORDER BY user_id""")),

    // Arbitrary stateful processing (mapGroupsWithState): per-user running
    // aggregate carried across micro-batches in the state store. The final
    // state equals the batch aggregate — which is the oracle.
    Op("stream_custom_state",
      (s, d) => {
        val stage = stageDir(s, d)
        val cp = thrivespark.Scratch.dir("cp_st")
        thrivespark.streaming.StreamRunner.userStateCounts(
          s, stage, T.events(s, d).schema, cp, s"q_user_state_${tag(d)}")
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, count(*) AS n_events,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
              FROM events GROUP BY user_id ORDER BY user_id""")),

    // Streaming model inference (r13 — train offline, score the firehose):
    // the batch-trained NB quality model (text_quality_model's exact
    // closed-form weights, dense over the bin domains) scores a DOCUMENT
    // STREAM via three stateless stream-static broadcast joins in append
    // mode — zero state stores, zero shuffles on the stream side. Scoring
    // is per-row map work, so batch boundaries cannot affect results and
    // the oracle is the batch scorer's arithmetic verbatim. This is the
    // production pairing of the trained tier: the model artifact (40
    // weight rows + 1 prior) rides a broadcast; the stream pays only the
    // feature projection.
    // Streaming substring-index maintenance (r14 — the streaming×dedup
    // composition): documents arrive in micro-batches; each batch's
    // windows probe the standing occ index (delta-proportional, see
    // StreamRunner.substringIndexStream), the span report appends, and
    // the batch's windows join the index parquet — the standing index IS
    // the persisted artifact, maintained incrementally as the corpus
    // streams in. Every pair is reported in exactly one batch, so the
    // union of reports is provably batch-boundary-independent and equals
    // the one-shot exact-span report — which is the oracle, verbatim.
    Op("stream_substring_index",
      (s, d) => {
        val stage = stageDocsDir(s, d)
        val cp = thrivespark.Scratch.dir("cp_ssi")
        val root = thrivespark.Scratch.dir("ssi")
        thrivespark.streaming.StreamRunner
          .substringIndexStream(s, stage, T.documents(s, d).schema, cp,
            s"$root/index", s"$root/report")
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS ts FROM documents
                WHERE len(string_split(text, ' ')) >= 8),
              occ AS (
                SELECT doc_id, g.i AS i,
                       md5(array_to_string(ts[g.i : g.i+7], ' ')) AS h
                FROM toks
                JOIN generate_series(1, 512) AS g(i) ON g.i <= len(ts) - 7),
              pairs AS (
                SELECT o1.doc_id AS a_id, o2.doc_id AS b_id, o1.i AS i, o2.i AS j
                FROM occ o1 JOIN occ o2
                  ON o1.h = o2.h AND o1.doc_id < o2.doc_id),
              runs AS (
                SELECT a_id, b_id, i - j AS diag,
                       i - row_number() OVER (PARTITION BY a_id, b_id, i - j
                                              ORDER BY i) AS isl
                FROM pairs),
              r2 AS (
                SELECT a_id, b_id, count(*) AS run_wins
                FROM runs GROUP BY a_id, b_id, diag, isl)
              SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS n_runs,
                     CAST(max(run_wins) + 7 AS BIGINT) AS max_shared_tokens
              FROM r2 GROUP BY a_id, b_id ORDER BY a_id, b_id""")),

    // Streaming ANN ingest (r17 — the streaming counterpart of
    // sim_ann_incremental): the standing centroid table is persisted ONCE
    // (the deterministic capped seed rule over the corpus — the "existing
    // cells"), then vectors stream in and each micro-batch is assigned to
    // those cells map-side and appended idempotently (batch=<id>
    // overwrite partitions). Assignment against a FIXED codebook is
    // stateless per-row work, so the drained index provably equals the
    // one-shot assignment of everything — which is the oracle, exact.
    Op("stream_ann_ingest",
      (s, d) => {
        val stage = stageEmbDir(s, d)
        val cp = thrivespark.Scratch.dir("cp_annig")
        val root = thrivespark.Scratch.dir("annig")
        // the standing cells are declared input (staged once per sf like
        // the stream sources); the op's work is the per-batch assignment
        val (centDir, _) = stageAnnDirs(s, d)
        thrivespark.streaming.StreamRunner
          .annIngestStream(s, stage, T.embeddings(s, d).schema, cp, centDir,
            s"$root/index")
      },
      Some(Similarity.ctes(Similarity.seededCentSql(), Similarity.assignSql()) +
        "SELECT c_id, cell FROM assigned ORDER BY c_id")),

    // Streaming ANN query (r17 — completes the streaming index story:
    // annIngestStream maintains the index, this serves it): retrieval
    // requests stream in, each micro-batch probes the standing index with
    // a codebook-bounded probed-cell set pushed as a partition filter on
    // the cell-partitioned assignment table — per batch the standing scan
    // touches only probed partitions, preserving the sub-linear probe at
    // any corpus size. Union of per-batch results ≡ one-shot probe of all
    // queries = sim_ann_ivf's oracle verbatim.
    Op("stream_ann_query",
      (s, d) => {
        val stage = stageAnnQueryFeed(s, d)
        val cp = thrivespark.Scratch.dir("cp_annq")
        val root = thrivespark.Scratch.dir("annq")
        // standing centroids + cell-partitioned index are the op's declared
        // input (the serving side probes an index that already exists —
        // building it is the ingest op's work), staged once per sf
        val (centDir, idxDir) = stageAnnDirs(s, d)
        thrivespark.streaming.StreamRunner.annQueryStream(s, stage,
          T.embeddings(s, d).schema, cp, centDir, idxDir, s"$root/results")
      },
      Some(Similarity.annIvfSql)),

    Op("stream_score_model",
      (s, d) => {
        val stage = stageDocsDir(s, d)
        val (w, prior) = Text.qualityModelTrain(T.documents(s, d))
        val pm = prior.head().getLong(0) // 1-row trained prior (constant-size)
        val cp = thrivespark.Scratch.dir("cp_score")
        thrivespark.streaming.StreamRunner
          .scoreDocsStream(s, stage, T.documents(s, d).schema, cp, w, pm,
            s"q_score_${tag(d)}")
          .select(col("doc_id"),
            round6(col("score_micros").cast("double") / 1e6).as("log_odds"),
            (col("score_micros") > 0).cast("int").as("model_keep"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
                SELECT doc_id, text, string_split(text, ' ') AS ts
                FROM documents),
              feat AS (
                SELECT doc_id,
                       CAST(LEAST(floor(len(ts) / 10), 9) AS INTEGER) AS f_len,
                       CAST(LEAST(floor((10.0 * len(list_filter(ts,
                              t -> t = 'the' OR t = 'a'))) / len(ts)), 9)
                            AS INTEGER) AS f_stop,
                       CAST(LEAST(floor(CAST(len(replace(text, ' ', ''))
                              AS DOUBLE) / len(ts)), 19) AS INTEGER) AS f_wlen
                FROM toks),
              f AS (SELECT t, count(*) AS c
                    FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t),
              tot0 AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM f),
              lp AS (SELECT t,
                       CAST(round(ln(c / (SELECT total FROM tot0)) * 1000000)
                            AS BIGINT) AS lm
                     FROM f ORDER BY c DESC, t LIMIT 262144),
              tokd AS (SELECT doc_id, len(ts) AS n, unnest(ts) AS t FROM toks),
              lmdoc AS (
                SELECT doc_id,
                       round(CAST(sum(lm) AS DOUBLE) / (n * 1000000.0), 6)
                         AS avg_logp
                FROM tokd JOIN lp USING (t) GROUP BY doc_id, n),
              gbase AS (
                SELECT doc_id,
                       CAST(CAST(len(list_filter(ts, t -> t = 'the' OR t = 'a'))
                                 AS DOUBLE) / len(ts) > 0.05 AS INTEGER) AS lang_ok,
                       CAST(len(ts) >= 20 AS INTEGER) AS len_ok
                FROM toks),
              grams AS (
                SELECT doc_id,
                       unnest([ts[i] || ' ' || ts[i+1]
                               for i in generate_series(1, len(ts) - 1)]) AS gram
                FROM toks WHERE len(ts) >= 2),
              g AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2),
              rep AS (
                SELECT doc_id,
                       CAST(round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 6)
                            <= 0.2 AS INTEGER) AS rep_ok
                FROM g GROUP BY doc_id),
              j AS (SELECT feat.doc_id, feat.f_len, feat.f_stop, feat.f_wlen,
                           CAST(b.lang_ok = 1 AND b.len_ok = 1
                                AND coalesce(r.rep_ok, 1) = 1
                                AND l.avg_logp > -3.6 AS INTEGER) AS label
                    FROM feat
                    JOIN gbase b ON feat.doc_id = b.doc_id
                    LEFT JOIN rep r ON feat.doc_id = r.doc_id
                    JOIN lmdoc l ON feat.doc_id = l.doc_id),
              melted AS (
                SELECT doc_id, label, 'f_len' AS feature, f_len AS v FROM j
                UNION ALL
                SELECT doc_id, label, 'f_stop' AS feature, f_stop AS v FROM j
                UNION ALL
                SELECT doc_id, label, 'f_wlen' AS feature, f_wlen AS v FROM j),
              tt AS (SELECT sum(label) AS n_pos, count(*) AS n FROM j),
              w AS (
                SELECT feature, v,
                       CAST(round(ln(CAST(sum(label) + 1 AS DOUBLE)
                              / ((SELECT n_pos FROM tt)
                                 + CASE feature WHEN 'f_wlen' THEN 20 ELSE 10 END))
                            * 1000000) AS BIGINT)
                     - CAST(round(ln(CAST(count(*) - sum(label) + 1 AS DOUBLE)
                              / ((SELECT n FROM tt) - (SELECT n_pos FROM tt)
                                 + CASE feature WHEN 'f_wlen' THEN 20 ELSE 10 END))
                            * 1000000) AS BIGINT) AS w_micros
                FROM melted GROUP BY feature, v),
              prior AS (
                SELECT CAST(round(ln(CAST(n_pos AS DOUBLE) / (n - n_pos))
                            * 1000000) AS BIGINT) AS pm FROM tt),
              sc AS (SELECT m.doc_id, sum(w.w_micros) AS sw
                     FROM melted m
                     JOIN w ON m.feature = w.feature AND m.v = w.v
                     GROUP BY m.doc_id)
              SELECT sc.doc_id,
                     round(CAST((SELECT pm FROM prior) + sc.sw AS DOUBLE)
                           / 1000000.0, 6) AS log_odds,
                     CAST((SELECT pm FROM prior) + sc.sw > 0 AS INTEGER)
                       AS model_keep
              FROM sc ORDER BY sc.doc_id""")),

    // #60 — Thrive's incremental bookmark contract as a runnable summary:
    // run twice; the second run must process nothing.
    Op("incremental_bookmark",
      (s, d) => {
        import s.implicits._
        val base = thrivespark.Scratch.dir("bm_q")
        val ev = thrivespark.Tables.events(s, d)
        val r1 = thrivespark.ops.Bookmark.incrementalLoad(s, ev, s"$base/out", s"$base/bm")
        val r2 = thrivespark.ops.Bookmark.incrementalLoad(s, ev, s"$base/out", s"$base/bm")
        Seq(
          (1, r1.processedPartitions.size.toLong, r1.rowsWritten),
          (2, r2.processedPartitions.size.toLong, r2.rowsWritten)
        ).toDF("run", "n_partitions", "rows_written").orderBy(col("run"))
      },
      // Deterministic contract: run 1 processes every day-partition of the
      // input, run 2 (same bookmark) processes nothing.
      Some("""SELECT 1 AS run,
                     count(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS n_partitions,
                     count(*) AS rows_written
              FROM events
              UNION ALL
              SELECT 2, 0, 0
              ORDER BY run""")),

    // The remaining Thrive lifecycle phase (§3.1): rollback. Load everything,
    // roll the bookmark back two day-partitions, re-load — exactly those two
    // days reprocess (dynamic partition overwrite keeps the sink complete).
    Op("incremental_rollback",
      (s, d) => {
        import s.implicits._
        val base = thrivespark.Scratch.dir("rb_q")
        val ev = thrivespark.Tables.events(s, d)
        val r1 = thrivespark.ops.Bookmark.incrementalLoad(s, ev, s"$base/out", s"$base/bm")
        val parts = r1.processedPartitions
        thrivespark.ops.Bookmark.rollback(s"$base/bm", parts(parts.length - 3))
        val r2 = thrivespark.ops.Bookmark.incrementalLoad(s, ev, s"$base/out", s"$base/bm")
        Seq(
          (1, r1.processedPartitions.size.toLong, r1.rowsWritten),
          (2, r2.processedPartitions.size.toLong, r2.rowsWritten)
        ).toDF("run", "n_partitions", "rows_written").orderBy(col("run"))
      },
      Some("""WITH days AS (
                SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
              cut AS (SELECT d FROM days ORDER BY d DESC LIMIT 1 OFFSET 2)
              SELECT 1 AS run,
                     (SELECT count(*) FROM days) AS n_partitions,
                     (SELECT count(*) FROM events) AS rows_written
              UNION ALL
              SELECT 2, 2,
                     (SELECT count(*) FROM events
                      WHERE CAST(date_trunc('day', ts) AS DATE) > (SELECT d FROM cut))
              ORDER BY run""")),
  )

  private def tag(d: String): String = new java.io.File(d).getName.replace(".", "_")

  /** Stage `rows` of the fixture table `table` once per sf as an `n`-file
    * stream source, one micro-batch per file. The files are hash-split, so
    * this is only for ops whose results depend on neither arrival order nor
    * batch boundaries. */
  private def stageSplit(name: String, d: String, table: String, version: String,
      n: Int)(rows: => org.apache.spark.sql.DataFrame): String =
    DurableStage(name, d, Seq(table), version) { dir =>
      rows.repartition(n).write.mode("overwrite").parquet(dir)
    }

  /** Documents as a 2-file stream source for the streaming-inference and
    * substring-index ops (scoring and span reports are boundary-invariant). */
  def stageDocsDir(s: org.apache.spark.sql.SparkSession, d: String): String =   // public: StreamingSpec pins it
    stageSplit("docs", d, "documents", "v1", 2)(T.documents(s, d))

  /** Embeddings as a 3-file stream source for the streaming ANN ingest
    * (assignment is per-row work against a fixed codebook; 3 files = 3
    * micro-batches). */
  def stageEmbDir(s: org.apache.spark.sql.SparkSession, d: String): String =   // public: StreamingSpec pins it
    stageSplit("emb", d, "embeddings", "v1", 3)(T.embeddings(s, d))

  /** The retrieval-request feed: the query slice of the vector stream
    * (vec_id % 50 — the same slice the oracle takes), 2 files = 2
    * micro-batches. The request stream is the op's declared input;
    * reading the FULL embedding feed and filtering in-stream (the r17
    * shape) paid three full-corpus file reads per run for a 1/50th slice
    * — a feed no real serving deployment would be handed. */
  def stageAnnQueryFeed(s: org.apache.spark.sql.SparkSession, d: String): String =   // public: StreamingSpec pins it
    stageSplit("annq", d, "embeddings", "annq-v1", 2)(
      T.embeddings(s, d).filter(col("vec_id") % 50 === 0))

  /** Stage the STANDING ANN artifacts once per sf: the capped-seed centroid
    * table and the full cell-partitioned assignment index. These are the
    * declared INPUT of the serving-side streaming ops — stream_ann_query
    * probes an index that already exists (building it is stream_ann_ingest's
    * / sim_ann_ivf's declared work, not the query path's), and
    * stream_ann_ingest assigns against standing cells. Same durable staging
    * discipline as the stream sources above: the seed rule is part of the
    * spec version, so a rule change rebuilds the stage exactly like a corpus
    * regeneration. Returns (centroidsDir, indexDir). */
  private def stageAnnDirs(s: org.apache.spark.sql.SparkSession, d: String): (String, String) = {
    val dir = DurableStage("annidx", d, Seq("embeddings"),
        Similarity.IvfSeedSql + "|annidx-v1") { dir =>
      val emb = thrivespark.Tables.embeddings(s, d)
      val cent = Similarity.ivfCentroids(emb)
      cent.write.mode("overwrite").parquet(s"$dir/centroids")
      Similarity.ivfAssignTo(emb, cent)
        .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/index")
    }
    (s"$dir/centroids", s"$dir/index")
  }

  /** Stage events (µs timestamps) once per sf as a multi-file stream source.
    * Files are hash-split, so each spans the full ts range — batch 2 carries
    * events older than batch 1's watermark, which is exactly what
    * stream_watermark_late needs to exercise late-drop.
    *
    * The two halves (pmod(xxhash64(event_id), 2) = 0, then = 1) are written
    * by two SEQUENTIAL jobs. The file source replays files in modification
    * time order; when one parallel job wrote both files, which half became
    * batch 0 varied from run to run, and with it which rows arrived late
    * and whether a trailing no-data batch ran (2 vs 3 batches). */
  def stageDir(s: org.apache.spark.sql.SparkSession, d: String): String =   // public: StreamingSpec pins it
    // two files = two micro-batches: enough to exercise cross-batch state;
    // each further file would add one more batch's fixed cost
    DurableStage("events", d, Seq("events"), "hash2-seq-v1") { dir =>
      val ev = thrivespark.Tables.events(s, d)
      val half = pmod(xxhash64(col("event_id")), lit(2))
      ev.filter(half === 0).coalesce(1).write.mode("overwrite").parquet(dir)
      ev.filter(half === 1).coalesce(1).write.mode("append").parquet(dir)
    }

  /** Time-ordered staging (file 1 = older half, file 2 = newer half, written
    * sequentially so the source replays them in order) + two trailing
    * far-future sentinel rows (user_id = -1, event_id = -1/-2, ts = max +
    * 30 days, one per join side) riding in the second file. The ordering
    * makes the identity/batch-equivalence oracles robust BY CONSTRUCTION —
    * no batch-2 event can arrive below batch 1's watermark — and the
    * sentinels advance the event-time watermark past every real window so
    * streaming OUTER joins can flush their null-padded unmatched rows.
    * ONE stage serves every ordered replay op (dedup_state, stream-stream
    * inner/outer join, CDC apply): consumers that don't need the flush
    * just filter user_id/event_id < 0 from their output — cheaper than a
    * second staged copy of the corpus on disk (the sentinels' watermark
    * advance is otherwise inert: eviction runs after emission, so no real
    * row is affected). */
  def stageDirOrderedFlush(s: org.apache.spark.sql.SparkSession,   // public: StreamingSpec pins it
      d: String): String = {
    import s.implicits._
    DurableStage("events_flush", d, Seq("events"), "v1") { dir =>
      val ev = thrivespark.Tables.events(s, d)
      val r = ev.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx")).head()
      val cut = new java.sql.Timestamp(
        (r.getTimestamp(0).getTime + r.getTimestamp(1).getTime) / 2)
      val far = new java.sql.Timestamp(
        r.getTimestamp(1).getTime + 30L * 24 * 3600 * 1000)
      // one sentinel per SIDE: the global watermark is the MIN across the
      // query's watermark nodes, so advancing only the view side would
      // leave the purchase watermark at the real max and the last hour's
      // unmatched views stuck in state (observed: 8 rows short at sf0.01).
      // Sentinels ride in the SECOND data file (watermark advances at batch
      // end, eviction runs in the no-data batch after) — a third trigger
      // would add one more batch's fixed cost for nothing (perfbench
      // stream_ingest on 4 cores: stream.batch_p50_ms.warm 330–350 ms).
      val sentinels = Seq(
        (-1L, far, -1L, "view", 0.0, "{}"),
        (-2L, new java.sql.Timestamp(far.getTime + 1000), -1L, "purchase", 0.0, "{}"))
      ev.filter(col("ts") < lit(cut)).coalesce(1)
        .write.mode("overwrite").parquet(dir)
      ev.filter(col("ts") >= lit(cut))
        .unionByName(s.createDataFrame(sentinels)
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
        .coalesce(1)
        .write.mode("append").parquet(dir)
    }
  }
}
