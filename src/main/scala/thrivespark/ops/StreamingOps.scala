package thrivespark.ops

import org.apache.spark.sql.functions._
import thrivespark.{Op, Tables => T}
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
          s, stage, cp, s"q_wm_late_${tag(d)}")
      },
      None),

    Op("stream_dedup_state",
      (s, d) => {
        val stage = stageDirOrderedFlush(s, d)
        val cp = thrivespark.Scratch.dir("cp_dd")
        thrivespark.streaming.StreamRunner.dedupWithinWatermark(
          s, stage, cp, s"q_dedup_state_${tag(d)}")
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
          s, stage, cp, s"q_ssj_${tag(d)}")
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
          s, stage, cp, s"q_soj_${tag(d)}")
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
        val r1 = thrivespark.streaming.StreamRunner.availableNowRun(s, stage, s"$base/cp", qn)
        val r2 = thrivespark.streaming.StreamRunner.availableNowRun(s, stage, s"$base/cp", qn)
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
        thrivespark.streaming.StreamRunner.cdcApply(s, stage, cp, st)
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
          s, stage, cp, s"q_user_state_${tag(d)}")
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
          .substringIndexStream(s, stage, cp, s"$root/index", s"$root/report")
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
          .annIngestStream(s, stage, cp, centDir, s"$root/index")
      },
      Some(s"""WITH cent AS (
                SELECT vec_id AS cent_id, embedding AS cent_emb
                FROM embeddings WHERE ${Similarity.IvfSeedSql}),
              a1 AS (
                SELECT e.vec_id AS c_id, c.cent_id,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_sum(list_transform(generate_series(1, 64),
                           i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cent_emb[i] AS DOUBLE))) DESC,
                         c.cent_id) AS arn
                FROM embeddings e CROSS JOIN cent c)
              SELECT c_id, cent_id AS cell FROM a1 WHERE arn = 1
              ORDER BY c_id""")),

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
        thrivespark.streaming.StreamRunner.annQueryStream(s, stage, cp,
          centDir, idxDir, s"$root/results")
      },
      Some(s"""WITH cent AS (
                SELECT vec_id AS cent_id, embedding AS cent_emb
                FROM embeddings WHERE ${Similarity.IvfSeedSql}),
              a1 AS (
                SELECT e.vec_id AS c_id, e.embedding AS c_emb, c.cent_id,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_sum(list_transform(generate_series(1, 64),
                           i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cent_emb[i] AS DOUBLE))) DESC,
                         c.cent_id) AS arn
                FROM embeddings e CROSS JOIN cent c),
              assigned AS (SELECT c_id, cent_id AS cell, c_emb FROM a1 WHERE arn = 1),
              q AS (SELECT vec_id AS q_id, embedding AS q_emb
                    FROM embeddings WHERE vec_id % 50 = 0),
              probes AS (
                SELECT q_id, q_emb, cell FROM (
                  SELECT q.q_id, q.q_emb, c.cent_id AS cell,
                         row_number() OVER (PARTITION BY q.q_id
                           ORDER BY list_sum(list_transform(generate_series(1, 64),
                             i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(c.cent_emb[i] AS DOUBLE))) DESC,
                           c.cent_id) AS crn
                  FROM q CROSS JOIN cent c)
                WHERE crn <= 2),
              cand AS (
                SELECT p.q_id, a.c_id,
                       list_sum(list_transform(generate_series(1, 64),
                         i -> CAST(p.q_emb[i] AS DOUBLE) * CAST(a.c_emb[i] AS DOUBLE))) AS cos
                FROM probes p JOIN assigned a ON p.cell = a.cell
                WHERE a.c_id <> p.q_id)
              SELECT q_id, c_id, round(cos, 6) + 0.0 AS cos, rn
              FROM (SELECT q_id, c_id, cos,
                           CAST(row_number() OVER (PARTITION BY q_id
                             ORDER BY cos DESC, c_id) AS INTEGER) AS rn
                    FROM cand)
              WHERE rn <= 5 ORDER BY q_id, rn""")),

    Op("stream_score_model",
      (s, d) => {
        val stage = stageDocsDir(s, d)
        val (w, prior) = Text.qualityModelTrain(thrivespark.Tables.documents(s, d))
        val pm = prior.head().getLong(0) // 1-row trained prior (constant-size)
        val cp = thrivespark.Scratch.dir("cp_score")
        thrivespark.streaming.StreamRunner
          .scoreDocsStream(s, stage, cp, w, pm, s"q_score_${tag(d)}")
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

  /** Source fingerprint for stage invalidation (r13 advisory): the staged
    * copies were keyed only on _SUCCESS existence, so a REGENERATED corpus
    * at the same path silently served stale staged rows while the batch
    * side and the oracle read the live table — a hard-to-trace
    * cross-engine mismatch. The fingerprint is the sorted
    * (name, length, mtime) listing of the source parquet dir, md5'd;
    * staging re-uses a staged copy only while it matches the marker
    * written at stage time. */
  def srcFingerprint(d: String, table: String): String = {   // public: StreamingSpec pins it
    val src = new java.io.File(d, s"$table.parquet")
    // a single-FILE parquet source used to fall through listFiles() → null
    // → the CONSTANT empty-listing hash, which matched its own marker
    // forever and silently disabled stale-stage invalidation (r15 advisory).
    // The walk is RECURSIVE (r17, closing the r16 advisory): a partitioned
    // parquet source keeps its part files in key=value subdirectories, so
    // a top-level-only listing saw zero files and fingerprinted the dir as
    // unlistable:<nanoTime> — indistinguishable from a failed listing and
    // re-staged on every access forever. Nested files are keyed by their
    // RELATIVE path so a row moving between partitions flips the hash.
    // depth-capped: parquet layouts are ≤ a few partition levels deep, and
    // the cap keeps a symlink cycle from recursing forever. A cap HIT is an
    // always-stale marker, like an unlistable source (r18, closing the r17
    // advisory): the capped dir's own mtime does NOT change when a file
    // deeper down does, so trusting it could serve a stale staged copy —
    // perpetual re-staging is the safe failure mode, staleness is not.
    // Names starting with '_' or '.' (_SUCCESS, _temporary, .crc) are
    // writer metadata, not data: including them made the hash flip on
    // transient mid-overwrite litter.
    def walk(f: java.io.File, rel: String, depth: Int): Seq[String] =
      if (f.isFile) Seq(s"$rel:${f.length}:${f.lastModified}")
      else if (depth <= 0) Seq(s"$rel:<depth-capped>:${System.nanoTime()}")
      else Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
        .flatMap(c => walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}",
          depth - 1))
    val entries: Option[Seq[String]] =
      if (src.isFile) Some(Seq(s"${src.getName}:${src.length}:${src.lastModified}"))
      else if (!src.isDirectory) None          // absent or unreadable root
      else Some(walk(src, "", 8).sorted)
    entries match {
      // absent/unreadable source: never match any stored marker (always
      // stale) so a listing failure re-stages instead of serving stale rows
      case None => s"unlistable:${System.nanoTime()}"
      // exists-but-no-files-yet (a not-yet-populated stream source) is a
      // DETERMINISTIC state, not a failure: a stable marker avoids the
      // perpetual-re-stage loop, and the hash flips as soon as files arrive
      case Some(es) if es.isEmpty => "empty-dir"
      case Some(es) =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(es.mkString("\n").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
    }
  }

  private def stageFresh(dir: String, fp: String): Boolean = {
    val f = java.nio.file.Paths.get(dir, "_SRC_FP")
    java.nio.file.Files.exists(f) &&
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim == fp
  }

  private def markStaged(dir: String, fp: String): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_SRC_FP"),
      fp.getBytes("UTF-8")): Unit
  }

  /** Stage documents once per sf as a 2-file stream source for the
    * streaming-inference op (scoring is per-row map-side work, so arrival
    * order and batch boundaries are irrelevant — hash-split is fine). */
  private def stageDocsDir(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val dir = s"/tmp/graft_stream_stage_docs_${tag(d)}"
    val fp = srcFingerprint(d, "documents")
    if (!stageFresh(dir, fp)) {
      thrivespark.Tables.documents(s, d).repartition(2)
        .write.mode("overwrite").parquet(dir)
      markStaged(dir, fp)
    }
    dir
  }

  /** Stage embeddings once per sf as a 3-file stream source for the
    * streaming ANN ingest (assignment is per-row map-side work against a
    * fixed codebook, so arrival order and batch boundaries are
    * irrelevant — hash-split is fine; 3 files = 3 micro-batches). */
  private def stageEmbDir(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val dir = s"/tmp/graft_stream_stage_emb_${tag(d)}"
    val fp = srcFingerprint(d, "embeddings")
    if (!stageFresh(dir, fp)) {
      thrivespark.Tables.embeddings(s, d).repartition(3)
        .write.mode("overwrite").parquet(dir)
      markStaged(dir, fp)
    }
    dir
  }

  /** Stage the retrieval-request feed once per sf: the query slice of the
    * vector stream (vec_id % 50 — the same slice the oracle takes), 2 files
    * = 2 micro-batches. The request stream is the op's declared input;
    * reading the FULL embedding feed and filtering in-stream (the r17
    * shape) paid three full-corpus file reads per run for a 1/50th slice
    * — a feed no real serving deployment would be handed. */
  private def stageAnnQueryFeed(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val dir = s"/tmp/graft_stream_stage_annq_${tag(d)}"
    val fp = srcFingerprint(d, "embeddings") + "|annq-v1"
    if (!stageFresh(dir, fp)) {
      thrivespark.Tables.embeddings(s, d)
        .filter(col("vec_id") % 50 === 0).repartition(2)
        .write.mode("overwrite").parquet(dir)
      markStaged(dir, fp)
    }
    dir
  }

  /** Stage the STANDING ANN artifacts once per sf: the capped-seed centroid
    * table and the full cell-partitioned assignment index. These are the
    * declared INPUT of the serving-side streaming ops — stream_ann_query
    * probes an index that already exists (building it is stream_ann_ingest's
    * / sim_ann_ivf's declared work, not the query path's), and
    * stream_ann_ingest assigns against standing cells. Same durable staging
    * discipline as the stream sources above: content-addressed per sf,
    * freshness-checked against the embeddings fingerprint AND the seed rule
    * (a rule change must invalidate the staged copy exactly like a corpus
    * regeneration). Returns (centroidsDir, indexDir). */
  private def stageAnnDirs(s: org.apache.spark.sql.SparkSession, d: String): (String, String) = {
    val dir = s"/tmp/graft_stream_stage_annidx_${tag(d)}"
    val fp = srcFingerprint(d, "embeddings") +
      "|" + Similarity.IvfSeedSql + "|annidx-v1"
    if (!stageFresh(dir, fp)) {
      // Invalidate BEFORE rewriting (r20): the single-dir stagers get this
      // for free (parquet overwrite deletes the dir, marker included), but
      // here the marker lives ABOVE the two artifact subdirs — a crash
      // between the centroid and index writes would otherwise leave a
      // mixed dir behind the OLD marker, served as fresh if the source
      // fingerprint ever reverted to the old value.
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "_SRC_FP")): Unit
      val emb = thrivespark.Tables.embeddings(s, d)
      val cent = Similarity.ivfCentroids(emb)
      cent.write.mode("overwrite").parquet(s"$dir/centroids")
      Similarity.ivfAssignTo(emb, cent)
        .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/index")
      markStaged(dir, fp)
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
  def stageDir(s: org.apache.spark.sql.SparkSession, d: String): String = {   // public: StreamingSpec pins it
    val dir = s"/tmp/graft_stream_stage_${tag(d)}"
    // the suffix versions the staging rule: a stage written by an older
    // rule is rebuilt, not served
    val fp = srcFingerprint(d, "events") + "|hash2-seq-v1"
    // two files = two micro-batches: enough to exercise cross-batch state
    // while keeping per-batch checkpoint overhead out of the benchmark
    if (!stageFresh(dir, fp)) {
      val ev = thrivespark.Tables.events(s, d)
      val half = pmod(xxhash64(col("event_id")), lit(2))
      ev.filter(half === 0).coalesce(1).write.mode("overwrite").parquet(dir)
      ev.filter(half === 1).coalesce(1).write.mode("append").parquet(dir)
      markStaged(dir, fp)
    }
    dir
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
  private def stageDirOrderedFlush(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    import s.implicits._
    val dir = s"/tmp/graft_stream_stage_flush_${tag(d)}"
    val fp = srcFingerprint(d, "events")
    if (!new java.io.File(s"$dir/_ok").exists() || !stageFresh(dir, fp)) {
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
      // would add ~1.2 s of pure micro-batch overhead for nothing.
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
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/_ok"))
      markStaged(dir, fp)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$dir/_ok"))
    }
    dir
  }
}
