package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import thrivespark.ops.{Dedup, Similarity}
import thrivespark.{Tables => T}

/** Scale-stress evidence (r7 verdict item 3): the dedup/cluster/ANN stack's
  * bucket-occupancy and convergence claims, measured well beyond the bench
  * corpus instead of asserted from construction.
  *
  * Corpus: every sf0.1 document with ≥75 tokens (1,338) is expanded to 50
  * perturbed copies (66,900 docs — 13× the 5,000-doc bench corpus). Copy k
  * belongs to perturbation class c = k % 10: a class-specific window of 2w
  * tokens (w = ⌊n/14⌋, window start c·w) is replaced by family+class-tagged
  * sentinel tokens. Consequences, per family:
  *   - same class  ⇒ identical text        ⇒ exact dups  (Jaccard 1)
  *   - adjacent classes ⇒ J ≈ (n-3w-4)/(n+3w) ≈ 0.61–0.65 > τ=0.6
  *   - class distance ≥2 ⇒ J ≈ (n-4w-4)/(n+4w) ≈ 0.55     < τ
  * i.e. each family is a 10-class near-dup CHAIN carrying 5 exact dups per
  * class — the adversarial shape for label propagation (long components)
  * and for LSH buckets (every family member hashes near its siblings).
  *
  * Everything here is deterministic (fixed corpus, fixed hash family), so
  * the measured bounds are stable facts, not flaky statistics. Tagged slow
  * (~1–2 min): exclude with `sbt "testOnly -- -l ScaleStress"`.
  */
object ScaleStress extends org.scalatest.Tag("ScaleStress")

class ScaleStressSpec extends AnyFunSuite {
  import SparkTestBase._
  private val sf01 = "/root/testdata/sf0.1"

  test("50x corpus: LSH buckets stay family-bounded, candidates stay " +
      "orders below O(n^2), CC converges in O(log diameter) rounds, " +
      "dedup collapses every family", ScaleStress) {
    thrivespark.functions.Register(spark)
    val base = T.documents(spark, sf01)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 75)
      .persist()
    val nBase = base.count()
    assert(nBase >= 1000, s"corpus changed: only $nBase docs with >=75 tokens")

    // 50 copies per family = 10 distinct perturbed variants × 5 exact
    // repeats (the sentinel keys on c = k % 10, not k) — the bucket/CC
    // bounds below are calibrated against exactly this topology, so keep
    // it; the 13× composition test uses 50 genuinely distinct variants.
    val copies = spark.range(0, 50).select(col("id").cast("int").as("k"))
    val big = base.crossJoin(copies)
      .withColumn("n", size(col("t")))
      .withColumn("w", floor(col("n") / 14).cast("int"))
      .withColumn("c", col("k") % 10)
      .withColumn("p", col("c") * col("w") + 1) // 1-based window start
      .withColumn("m", col("w") * 2)
      .withColumn("sent", transform(sequence(lit(1), col("m")),
        i => concat_ws("_", lit("zz"), col("doc_id"), col("c"), i)))
      .select(
        (col("doc_id") * 100 + col("k")).as("doc_id"),
        concat(
          slice(col("t"), lit(1), col("p") - 1),
          col("sent"),
          slice(col("t"), col("p") + col("m"),
            col("n") - col("p") - col("m") + 1)).as("t"))
      .select(col("doc_id"),
        call_function("shingle_hashes", col("t")).as("shl"))
      .persist()
    val nBig = big.count()
    assert(nBig == nBase * 50)

    // The base corpus itself plants near-dup CLUSTERS (dedup_clusters finds
    // them at every sf), and two near-dup originals' families co-bucket.
    // Measure that structure first and calibrate every bound against it —
    // the invariants under test are relative to the corpus's real dup
    // topology, not magic constants.
    val baseShl = base.select(col("doc_id"),
      call_function("shingle_hashes", col("t")).as("shl"))
    val basePairs = Dedup.nearDupPairsOf(baseShl, 0.6)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBasePairs = basePairs.count()
    val (baseLabels, _) = Dedup.connectedComponentsWithRounds(basePairs)
    val maxBaseCluster = math.max(1L, baseLabels
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0))
    val pairedBase = baseLabels.count() // originals inside any dup cluster
    val baseComponents = baseLabels.select(col("label")).distinct().count()
    // family-graph component count if the 50x graph mirrors base topology
    val c0 = (nBase - pairedBase) + baseComponents

    // 1. Bucket occupancy: scaling the corpus 50× by FAMILIES must scale
    // the worst bucket by at most the family size (each colliding original
    // brings its ≤50 copies into the same band bucket) — multiplicative in
    // duplication, NEVER in corpus size. Band buckets also collect
    // sub-threshold (J≈0.4–0.5) collisions between originals (synthetic
    // docs share phrases), so calibrate against the base corpus's own
    // worst bucket rather than the τ-level cluster size.
    def worstBucket(frame: org.apache.spark.sql.DataFrame): Long =
      Dedup.bandBuckets(frame)
        .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("sz"))
        .agg(max(col("sz"))).head().getLong(0)
    val maxBucketBase = worstBucket(baseShl)
    val maxBucket = worstBucket(big)
    assert(maxBucket <= 50 * maxBucketBase,
      s"LSH bucket $maxBucket grew past 50× the base worst bucket " +
      s"($maxBucketBase) — occupancy scaled with corpus size, not family size")

    // 2. Candidate pairs: orders below O(n^2/2), and scaling is bounded by
    // duplication — a family yields ≤C(50,2) intra candidates and each
    // BASE-corpus candidate pair (band-colliding originals, τ-level or
    // sub-threshold alike) yields ≤50×50 cross candidates. Both measured,
    // not assumed.
    val candsBase = Dedup.candidatePairs(Dedup.bandBuckets(baseShl)).count()
    val cands = Dedup.candidatePairs(Dedup.bandBuckets(big)).count()
    val allPairs = nBig * (nBig - 1) / 2.0
    assert(cands <= 0.005 * allPairs,
      s"candidates $cands exceed 0.5% of all ${allPairs.toLong} pairs")
    assert(cands <= 1300L * nBase + 2500L * candsBase,
      s"candidates $cands exceed the duplication envelope " +
      s"(nBase=$nBase, candsBase=$candsBase)")

    // 3. Exact-verified pairs: each family contributes 10*C(5,2)=100 exact
    // + 9*5*5=225 adjacent-class pairs = 325 (the floor tolerates per-doc
    // boundary slack on J and the deterministic LSH miss rate); each
    // original near-dup pair adds at most C(100,2)-2*C(50,2) cross pairs.
    val pairs = Dedup.nearDupPairsOf(big, 0.6)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = pairs.count()
    assert(nPairs >= (0.8 * 325 * nBase).toLong,
      s"verified pairs $nPairs below the planted-chain expectation")
    assert(nPairs <= 400L * nBase + 2600L * nBasePairs,
      s"verified pairs $nPairs above envelope")

    // 4. Connected components: 67k nodes / ~800k directed edges must
    // converge in O(log diameter) label-propagation rounds (pointer
    // jumping), nowhere near the maxRounds=50 guard.
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs)
    assert(rounds <= 12, s"CC took $rounds rounds — pointer jumping broken?")
    val nComponents = labels.select(col("label")).distinct().count()
    assert(nComponents >= (0.75 * c0).toLong && nComponents <= (1.3 * c0).toLong,
      s"expected ~$c0 merged-family components, got $nComponents")

    // 5. The dedup deliverable: survivors = docs never dropped as a pair's
    // b_id. Every copy k>=1 has a smaller-id exact or adjacent-class
    // partner, so each family collapses to ~its k=0 copy: >=97% of the 50x
    // corpus must be dropped.
    val survivors = nBig - pairs.select(col("b_id")).distinct().count()
    assert(survivors <= (1.5 * c0).toLong,
      s"survivors $survivors — families did not collapse (c0=$c0)")

    info(s"nBase=$nBase nBig=$nBig basePairs=$nBasePairs " +
      s"maxBaseCluster=$maxBaseCluster c0=$c0 " +
      s"maxBucket=$maxBucket (base $maxBucketBase) " +
      s"cands=$cands pairs=$nPairs rounds=$rounds " +
      s"components=$nComponents survivors=$survivors")
    pairs.unpersist(); basePairs.unpersist(); big.unpersist(); base.unpersist()
  }

  test("200k-row pack: two-pass prefix sum == global window at a scale " +
      "where AQE branch planning actually diverges", ScaleStress) {
    // Re-tests the r8 packSeqIds determinism bug AT THE SCALE IT FIRED:
    // the r7 formulation (spark_partition_id over repartitionByRange) was
    // consistent on the 500-doc property fixture and only split branches
    // at sf0.1, where AQE sized the two range exchanges differently. A
    // 200k-row frame with skewed doc_id gaps and varied token counts keeps
    // the quantile-literal formulation honest under the same conditions.
    import org.apache.spark.sql.expressions.Window
    val toks = spark.range(200000)
      .select((col("id") * 7 + (col("id") % 13) * 1000).as("doc_id"),
        ((col("id") * 2654435761L) % 400 + 1).cast("int").as("n_tokens"))
      .persist()
    toks.count()
    val packed = thrivespark.ops.Extras.packSeqIds(toks, 2048, 32)
      .select(col("doc_id"), col("cum_excl"))
    val truth = toks.withColumn("cum_excl",
      coalesce(sum(col("n_tokens")).over(
        Window.orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("doc_id"), col("cum_excl"))
    val diff = packed.exceptAll(truth).count() + truth.exceptAll(packed).count()
    assert(diff == 0L, s"$diff rows diverge from the global prefix sum")
    toks.unpersist()
  }

  test("100k-row band join: bucket decomposition keeps candidate pairs " +
      "orders below O(n^2) and agrees with the band predicate", ScaleStress) {
    // The r8 join_theta_band rewrite (floor(bal/w) buckets + probe-side
    // ±1 explode riding an equi-join) claims per-task work O(Σ bucket²)
    // instead of the BNLJ's O(n²). Measured here at 100× the supplier
    // table: a 100k-row frame with TPC-H-shaped balances (uniform
    // -999.99..9999.99). The equi-join's candidate set must stay orders
    // below all-pairs, buckets must stay near-uniform (the explode factor
    // is exactly 3), and the surviving pairs must be precisely the band
    // pairs — checked against an independent windowed formulation (sort by
    // balance; a band pair is a neighbor pair within a bounded rank
    // distance), which is itself O(n log n), not O(n²).
    val w = 10.0
    val n = 100000L
    val rows = spark.range(n)
      .select(col("id").as("key"),
        (((col("id") * 2654435761L) % 1099999L) / 100.0 - 999.99).as("bal"))
      .persist()
    rows.count()
    val probe = rows.select(col("key").as("a_key"), col("bal").as("a_bal"))
      .withColumn("pb", explode(array(floor(col("a_bal") / w) - 1,
        floor(col("a_bal") / w), floor(col("a_bal") / w) + 1)))
    val build = rows.select(col("key").as("b_key"), col("bal").as("b_bal"))
      .withColumn("fb", floor(col("b_bal") / w))
    // bucket occupancy: uniform balances over ~1100 buckets ⇒ ~90/bucket;
    // a hot bucket would re-create the quadratic task this rewrite removes
    val occ = build.groupBy(col("fb")).count()
    val maxBucket = occ.agg(max(col("count"))).head().getLong(0)
    assert(maxBucket < 8 * n / 1000, s"hot bucket: $maxBucket rows")
    // candidate pairs = equi-join on the bucket key alone (before the
    // residual band/key predicates): ~3 buckets' worth per row, 2.5+
    // orders below the 10^10 all-pairs space
    val cands = probe.join(build, col("pb") === col("fb")).count()
    assert(cands < n * n / 300,
      s"candidates $cands not orders below ${n * n}")
    val got = probe.join(build, col("pb") === col("fb") &&
        col("a_key") < col("b_key") && abs(col("a_bal") - col("b_bal")) < w)
      .count()
    // independent truth, also sub-quadratic but on a DIFFERENT key: rank
    // every row by (bal, key); a band pair's members have at most
    // 2·maxBucket rows between them (a <10-wide bal interval overlaps ≤2
    // value buckets), so comparing each row to its next K=2·maxBucket+2
    // ranked neighbors — rank-block equi-join, not all-pairs — enumerates
    // every band pair exactly once
    import org.apache.spark.sql.expressions.Window
    val K = 2 * maxBucket + 2
    val ranked = rows.withColumn("r",
      row_number().over(Window.orderBy(col("bal"), col("key"))))
    val xr = ranked.select(col("key").as("xk"), col("bal").as("xb"), col("r").as("xr"))
      .withColumn("blk", explode(array(floor(col("xr") / K), floor(col("xr") / K) + 1)))
    val yr = ranked.select(col("key").as("yk"), col("bal").as("yb"), col("r").as("yr"))
      .withColumn("yblk", floor(col("yr") / K))
    val truth = xr.join(yr, col("blk") === col("yblk") &&
        col("yr") > col("xr") && col("yr") <= col("xr") + K)
      .filter(abs(col("xb") - col("yb")) < w)
      .count()
    assert(got == truth, s"band join returned $got pairs, truth $truth")
    info(f"n=$n maxBucket=$maxBucket candidates=$cands (${cands * 100.0 / (n * n)}%.4f%% of all-pairs) pairs=$got")
    rows.unpersist()
  }

  test("250k media rows: PPM decode stays a map-only stage (zero exchanges) " +
      "with linear-ish wall growth", ScaleStress) {
    // The multimodal decode's 100 TB story is "a shuffle-free map stage that
    // scales linearly with executors". Measured at 50× the 5,000-doc bench
    // media table: (a) the physical plan of encode→mapPartitions-decode
    // contains NO exchange of any kind, (b) wall clock grows ~linearly in
    // row count (a 20× data ratio must not cost anywhere near the 400× a
    // quadratic stage would), (c) decoded dims match the closed form on
    // every row — correctness doesn't degrade at scale.
    val mm = thrivespark.multimodal.Multimodal
    val nDocs = T.documents(spark, sf01).count()
    val n50 = 50L * nDocs

    def decoded(n: Long) =
      mm.extractPpmFeatures(
        mm.mediaPpmFromDocuments(spark.range(n).select(col("id").as("doc_id"))))

    val out = decoded(n50)
    PlanShape.assertNoExchange(out, "PPM decode at 50×")

    def wall(n: Long): Double = {
      val t0 = System.nanoTime(); decoded(n).count(); (System.nanoTime() - t0) / 1e9
    }
    wall(n50 / 20) // JIT + codegen warmup
    val tSmall = math.max(wall(n50 / 20), 0.05)
    val tBig = wall(n50)
    assert(tBig <= 60 * tSmall,
      f"wall grew superlinearly: ${n50 / 20} rows in $tSmall%.2f s but " +
      f"$n50 rows in $tBig%.2f s (20x data, ${tBig / tSmall}%.0f×)")

    val badDims = out.filter(
        col("width") =!= lit(8) + pmod(col("media_id"), lit(9)) ||
        col("height") =!= lit(8) + pmod(col("media_id"), lit(7)) ||
        col("n_pixel_bytes") =!= col("width") * col("height") * 3)
      .count()
    assert(badDims == 0, s"$badDims rows decoded wrong dims at 50×")
    info(f"nDocs=$nDocs n50=$n50 tSmall=$tSmall%.2f s tBig=$tBig%.2f s " +
      f"ratio=${tBig / tSmall}%.1f× (data 20×)")
  }

  test("100k trimodal rows: the fused manifest stays one map stage (zero " +
      "exchanges, zero joins) with linear-ish wall growth", ScaleStress) {
    // multimodal_manifest's 100 TB claim is "ONE scan, ONE fused pass for
    // all three decoders — no per-modality rescan/rejoin". Measured at 20×
    // the 5,000-doc bench media table: (a) the physical plan has no
    // exchange AND no join of any kind, (b) wall clock grows ~linearly in
    // rows, (c) all three decoders' dims/counts match the closed forms on
    // every row at scale.
    val mm = thrivespark.multimodal.Multimodal
    val n20 = 20L * T.documents(spark, sf01).count()

    def manifest(n: Long) =
      mm.extractTrimodalManifest(
        mm.mediaTrimodalFromDocuments(
          spark.range(n).select(col("id").as("doc_id"),
            lit("en").as("lang"), lit("a b c").as("text"))), 3)

    val out = manifest(n20)
    PlanShape.assertNoExchange(out, "trimodal manifest at 20×")
    PlanShape.assertNoJoin(out, "trimodal manifest at 20×")

    def wall(n: Long): Double = {
      val t0 = System.nanoTime(); manifest(n).count(); (System.nanoTime() - t0) / 1e9
    }
    wall(n20 / 10) // JIT + codegen warmup
    val tSmall = math.max(wall(n20 / 10), 0.05)
    val tBig = wall(n20)
    assert(tBig <= 30 * tSmall,
      f"wall grew superlinearly: ${n20 / 10} rows in $tSmall%.2f s but " +
      f"$n20 rows in $tBig%.2f s (10x data, ${tBig / tSmall}%.0f×)")

    val bad = out.filter(
        col("img_width") =!= lit(8) + pmod(col("media_id"), lit(9)) ||
        col("aud_n_samples") =!= lit(256) + pmod(col("media_id"), lit(41)) * 4 ||
        col("vid_n_frames") =!= lit(6) + pmod(col("media_id"), lit(9)) ||
        col("vid_n_sampled") =!= expr("(vid_n_frames + 2) div 3"))
      .count()
    assert(bad == 0, s"$bad rows decoded wrong dims/counts at 20×")
    info(f"n20=$n20 tSmall=$tSmall%.2f s tBig=$tBig%.2f s " +
      f"ratio=${tBig / tSmall}%.1f× (data 10×)")
  }

  test("13x corpus: the e2e pipeline composition (dedup → gate → pack → " +
      "split) conserves docs/tokens and collapses families", ScaleStress) {
    // pipeline_corpus_e2e's stages are stress-measured individually above;
    // this runs the actual COMPOSITION (Pipeline.survivorsOf →
    // gatedSurvivorsOf → packAndSplit) on the same 66,900-doc expanded
    // corpus and checks the end-to-end invariants a corpus build must hold:
    // dedup collapses every planted family, the audit rows conserve the
    // gated doc/token totals exactly, packing stays within one sequence of
    // the token-budget optimum, and the content-addressed split hits 90/5/5
    // at sequence grain.
    import thrivespark.ops.Pipeline
    thrivespark.functions.Register(spark)
    val base = T.documents(spark, sf01)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 75)
      .persist()
    val nBase = base.count()
    // Family layout: the UNPERTURBED original at the family-minimum id
    // (doc_id*100) plus 50 sentinel-perturbed copies (doc_id*100+k+1), all
    // 50 byte-distinct (the sentinel carries k itself; the window POSITION
    // cycles through 10 slots via c = k % 10, so copies k and k+10 perturb
    // the same window with different tokens — still distinct texts).
    // Every copy replaces a 2w-token window ⇒ J(original, copy) ≈ 0.75 > τ,
    // so dedup must collapse each family to exactly its original — and the
    // original is a natural document, so the quality gate then sees the
    // production corpus, not sentinel soup (perturbed survivors would all
    // fail the LM floor: their unique sentinel tokens are maximally
    // improbable under the survivor-trained LM).
    val copies = spark.range(0, 50).select(col("id").cast("int").as("k"))
    val perturbed = base.crossJoin(copies)
      .withColumn("n", size(col("t")))
      .withColumn("w", floor(col("n") / 14).cast("int"))
      .withColumn("c", col("k") % 10)
      .withColumn("p", col("c") * col("w") + 1)
      .withColumn("m", col("w") * 2)
      .withColumn("sent", transform(sequence(lit(1), col("m")),
        i => concat_ws("_", lit("zz"), col("doc_id"), col("k"), i)))
      .select(
        (col("doc_id") * 100 + col("k") + 1).as("doc_id"),
        concat(
          slice(col("t"), lit(1), col("p") - 1),
          col("sent"),
          slice(col("t"), col("p") + col("m"),
            col("n") - col("p") - col("m") + 1)).as("ts"))
    val bigDocs = base
      .select((col("doc_id") * 100).as("doc_id"), col("t").as("ts"))
      .unionAll(perturbed)
      .persist()
    val nBig = bigDocs.count()
    assert(nBig == nBase * 51)

    val pairs = Dedup.nearDupPairsOf(
      bigDocs.select(col("doc_id"),
        call_function("shingle_hashes", col("ts")).as("shl")), 0.6)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val surv = Pipeline.survivorsOf(bigDocs, pairs)
    val nSurv = surv.count()
    // every 51-doc family collapses to ~its original: ≥95% of the expanded
    // corpus must be dropped before the gate even runs
    assert(nSurv <= nBig / 20,
      s"dedup left $nSurv of $nBig docs — families did not collapse")
    assert(nSurv <= nBase,
      s"dedup left $nSurv survivors from $nBase families")

    val kept = Pipeline.gatedSurvivorsOf(surv)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keptAgg = kept.agg(count(lit(1)), sum(col("n_tokens"))).head()
    val (nKept, keptTokens) = (keptAgg.getLong(0), keptAgg.getLong(1))
    assert(nKept > 0, "quality gate rejected the whole corpus")

    val audit = Pipeline.packAndSplit(kept).collect()
    val totDocs = audit.map(_.getAs[Long]("n_docs")).sum
    val totTokens = audit.map(_.getAs[Long]("n_tokens")).sum
    val totSeqs = audit.map(_.getAs[Long]("n_seqs")).sum
    // exact conservation through pack+split: nothing dropped, nothing doubled
    assert(totDocs == nKept, s"audit counts $totDocs docs, gate kept $nKept")
    assert(totTokens == keptTokens,
      s"audit counts $totTokens tokens, gate kept $keptTokens")
    // packing efficiency: seq_id = floor(cum_excl/1024) assigns whole docs
    // by start offset, so a sequence's token load lies in
    // (1024 - maxDoc, 1024 + maxDoc): the sequence count must sit within
    // the corresponding envelope of the budget optimum — no fragmentation
    // blowup, no silently-merged buckets
    val maxDoc = kept.agg(max(col("n_tokens")).cast("long")).head().getLong(0)
    val lo = keptTokens / (1024 + maxDoc)
    val hi = keptTokens / 1024 + 1
    assert(totSeqs >= lo && totSeqs <= hi,
      s"packed $totSeqs sequences outside [$lo, $hi] (maxDoc=$maxDoc)")
    // content-addressed split: 90/5/5 within md5-binomial tolerance
    val train = audit.find(_.getString(0) == "train").map(_.getAs[Long]("n_seqs")).getOrElse(0L)
    assert(train >= (0.82 * totSeqs).toLong && train <= (0.97 * totSeqs).toLong,
      s"train split $train of $totSeqs sequences is far from 90%")
    info(s"nBig=$nBig survivors=$nSurv kept=$nKept keptTokens=$keptTokens " +
      s"seqs=$totSeqs (envelope [$lo,$hi]) splits=${audit.map(r =>
        s"${r.getString(0)}:${r.getAs[Long]("n_seqs")}").mkString(",")}")
    kept.unpersist(); surv.unpersist(); pairs.unpersist()
    bigDocs.unpersist(); base.unpersist()
  }

  test("10x embeddings: IVF coarse codebook is CAPPED at IvfK — broadcast " +
      "size and per-vector assignment cost stay constant as the corpus " +
      "grows; the ANN query completes end-to-end", ScaleStress) {
    val emb = T.embeddings(spark, sf01)
    def grow(factor: Int) = {
      val copies = spark.range(0, factor.toLong).select(col("id").as("k"))
      // id = old*factor+k keeps the op's own conventions meaningful at
      // scale: queries (id%50==0) = 200*factor; centroid SEEDS (id%100==0)
      // would be 20*factor uncapped — the IvfSeedCap bounds them at IvfK
      emb.crossJoin(copies)
        .select((col("vec_id") * factor + col("k")).as("vec_id"),
          col("embedding"))
    }
    // the scale law itself: centroid count (= broadcast rows = per-vector
    // assignment candidates) is FLAT at IvfK past the cap, not n/100
    val k1  = Similarity.ivfCentroids(emb).count()       // 2 000 ids → uncapped
    val k10 = Similarity.ivfCentroids(grow(10)).count()  // 20 000 ids → capped
    val k30 = Similarity.ivfCentroids(grow(30)).count()  // 60 000 ids → capped
    assert(k1 == 20, s"sf0.1 corpus: expected 20 uncapped seeds, got $k1")
    assert(k10 == Similarity.IvfK && k30 == Similarity.IvfK,
      s"codebook must stay flat at IvfK=${Similarity.IvfK} past the cap " +
      s"(got 10x=$k10, 30x=$k30) — unbounded K is the 100 TB scale-killer")

    val big = grow(10).persist()
    val nBig = big.count()
    assert(nBig == 20000)
    val cells = Similarity.ivfAssign(big)
      .groupBy(col("cell")).agg(count(lit(1)).as("sz"))
      .agg(max(col("sz")), count(lit(1))).head()
    val (maxCell, nCells) = (cells.getLong(0), cells.getLong(1))
    assert(nCells == Similarity.IvfK,
      s"degenerate quantizer: only $nCells of ${Similarity.IvfK} cells used")
    // a query scans nprobe=2 cells: bound the worst-case scanned fraction
    assert(maxCell * 2 <= nBig / 10,
      s"max cell $maxCell: one probe pair would scan >10% of the corpus")

    val topk = Similarity.annTopKFrom(big).count()
    assert(topk == 400L * 5, s"expected 2000 result rows, got $topk")
    info(s"nBig=$nBig cells=$nCells maxCell=$maxCell K(1x,10x,30x)=" +
      s"($k1,$k10,$k30)")
    big.unpersist()
  }

  test("10x embeddings: the recall readouts' exact side is O(Q·N) — the " +
      "declared %50 sampler grows Q with the corpus, the documented " +
      "deterministic Q cap keeps the batch flat, and the capped exact " +
      "top-5 completes end-to-end with no corpus shuffle", ScaleStress) {
    // r20 verdict item 4 (deferred through r21): sim_ann_ivfpq_recall /
    // multimodal_retrieval_recall* verify the ANN ladder against a
    // brute-force exact side — broadcast(Q) × one linear corpus pass, cost
    // O(Q·N). The declared queries sample Q as vec_id % 50 == 0, so Q
    // grows WITH the corpus and the verification pass is O(N²/50) — fine
    // for a readout you run on a sample, wrong as a standing 100 TB job.
    // The production lever is a deterministic hash cap to a FIXED batch;
    // this measures it at 10×.
    thrivespark.functions.Register(spark)
    val emb = T.embeddings(spark, sf01)
    // block-offset growth (id = old + k·2000, NOT old·10+k): each copy
    // block covers the full id space mod 50, so the declared %50 sampler
    // grows with the corpus — the realistic ingest pattern (new ids land
    // uniformly in every residue class)
    def grow(factor: Int) = {
      val copies = spark.range(0, factor.toLong).select(col("id").as("k"))
      emb.crossJoin(copies)
        .select((col("vec_id") + col("k") * lit(2000L)).as("vec_id"),
          col("embedding"))
    }
    val big = grow(10).persist()
    val nBig = big.count()
    // the declared sampler: Q scales 10x with the corpus (the hazard)
    val qBase = emb.filter(col("vec_id") % 50 === 0).count()
    val qDeclared = big.filter(col("vec_id") % 50 === 0).count()
    assert(qDeclared == 10 * qBase,
      s"declared sampler: $qBase at 1x -> $qDeclared at 10x")
    // the cap: deterministic (hash, not rand — task retries reproduce it),
    // holding the batch at its 1x size regardless of corpus growth
    val target = qBase
    val qCapped = big.filter(
      pmod(xxhash64(col("vec_id")), lit(nBig / target)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val qn = qCapped.count()
    assert(qn > target / 2 && qn < target * 2,
      s"hash cap missed its target band: $qn vs $target")
    // the capped exact side, exactly the readouts' shape: broadcast query
    // batch × one corpus pass, per-query top-5
    val c = big.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    val exact = broadcast(qCapped).join(c, col("q_id") =!= col("c_id"))
      .withColumn("cos", call_function("vec_dot", col("q_emb"), col("c_emb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("c_id"))
    val p = exact.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query batch must broadcast (corpus side unshuffled for the Q×N pass):\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-5 must prune map-side before the rank exchange:\n$p")
    val rows = exact.groupBy(col("q_id")).count().collect()
    assert(rows.length == qn && rows.forall(_.getLong(1) == 5),
      s"capped exact side must emit exactly 5 per query (${rows.length} queries)")
    info(s"nBig=$nBig qDeclared=$qDeclared qCapped=$qn (target $target)")
    big.unpersist()
  }

  test("13x stage boundary: MEMORY_AND_DISK persist vs written-and-reread " +
      "parquet survivor table — both feed the 4-consumer gate identically",
      ScaleStress) {
    // The corpus pipeline's stage-1 boundary is consumed by FOUR plan
    // branches (flags, gram agg, LM train, LM score), so its shape is
    // load-bearing. Measure the in-session persist against the durable
    // parquet checkpoint on a 13x corpus with NO dedup drops (empty pair
    // set ⇒ the boundary holds the full 13x survivor set — the worst case
    // for the boundary, isolating exactly the cost under comparison).
    import thrivespark.ops.Pipeline
    thrivespark.functions.Register(spark)
    val base = T.documents(spark, sf01)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 75)
    val copies = spark.range(0, 13).select(col("id").as("k"))
    val bigDocs = base.crossJoin(copies)
      .select((col("doc_id") * 13 + col("k")).as("doc_id"), col("t").as("ts"))
      .persist()
    val nBig = bigDocs.count()
    val noPairs = bigDocs.select(col("doc_id").as("b_id")).limit(0)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    // persist boundary
    val (nPersist, tPersist) = timed {
      val s = Pipeline.survivorsOf(bigDocs, noPairs)
      val n = Pipeline.gatedSurvivorsOf(s).count()
      s.unpersist(); n
    }
    // durable parquet boundary
    val dir = s"/tmp/graft_boundary_13x"
    val (nDisk, tDisk) = timed {
      val s = Pipeline.survivorsOfDisk(bigDocs, noPairs, dir)
      Pipeline.gatedSurvivorsOf(s).count()
    }
    assert(nPersist == nDisk,
      s"boundary variants diverged: persist=$nPersist disk=$nDisk")
    assert(nPersist > 0)
    // Neither variant may be pathological: the slower one stays within 3x
    // of the faster (both are legitimate cluster shapes; the default is
    // documented in README from this measurement).
    val ratio = math.max(tPersist, tDisk) / math.min(tPersist, tDisk)
    assert(ratio < 3.0,
      f"boundary variants diverged $ratio%.1fx: persist=$tPersist%.1fs disk=$tDisk%.1fs")
    info(f"13x boundary (n=$nBig docs): persist=$tPersist%.1fs " +
      f"disk=$tDisk%.1fs (gate kept $nPersist)")
    bigDocs.unpersist()
  }

  test("adversarial sign-correlated embeddings: the LSH bucket cap bounds " +
      "the worst bucket; uncapped would be one corpus-sized bucket per band",
      ScaleStress) {
    thrivespark.functions.Register(spark)
    val N = 2000; val cap = 64
    // every coordinate strictly positive ⇒ every band key is "1111" for
    // every vector ⇒ without the cap, each of the 16 bands holds ONE
    // bucket of all N vectors (the distribution the r11 verdict flagged)
    val emb = spark.range(N).select(
      col("id").as("vec_id"), lit("adv").as("label"),
      expr("transform(sequence(0, 63), " +
        "j -> cast(1.0 + pmod(id * 31 + j * 7, 97) / 100.0 as float))")
        .as("embedding")).persist()
    emb.count()

    val uncappedMax = Dedup.lshBandedCapped(emb, Int.MaxValue)
      .groupBy(col("label"), col("band"), col("bkey"), col("sub"))
      .agg(count(lit(1)).as("sz")).agg(max(col("sz"))).head().getLong(0)
    assert(uncappedMax == N,
      s"adversarial corpus must fully co-bucket (got max $uncappedMax)")

    val capped = Dedup.lshBandedCapped(emb, cap)
      .groupBy(col("label"), col("band"), col("bkey"), col("sub"))
      .agg(count(lit(1)).as("sz"))
      .agg(max(col("sz")), count(lit(1))).head()
    val (maxSub, nSubs) = (capped.getLong(0), capped.getLong(1))
    // secondary hash spreads ~uniformly: the worst sub-bucket stays within
    // a small constant of the cap instead of growing with the corpus
    assert(maxSub <= 4L * cap,
      s"worst capped sub-bucket $maxSub exceeds 4x cap=$cap")
    assert(nSubs >= 16L * (N / cap) / 2, s"too few sub-buckets: $nSubs")

    // end-to-end: the op completes with bounded tasks and still dedups
    // (all pairwise dots are huge positive ⇒ nearly everything drops)
    val surv = Dedup.embeddingLshSurvivors(emb, 0.4, cap).count()
    assert(surv >= 1 && surv < N / 10,
      s"expected near-total collapse under the cap, got $surv survivors")
    info(s"uncappedMax=$uncappedMax maxSub=$maxSub nSubs=$nSubs surv=$surv")
    emb.unpersist()
  }

  /** The r17 PageRank initialized r0 = 1e6/n and teleported 150000/n in
    * integer micros: past n = 150k nodes the teleport floored to 0 and
    * past 1e6 the initial rank did too — the whole iteration degenerated
    * to zeros exactly at corpus scale. The r18 per-node units (r0 = 1e6,
    * teleport = 150000, no /n anywhere) must stay non-degenerate on a
    * graph bigger than the old failure threshold: 160,010 nodes — 80k
    * disjoint edges (160k degree-1 nodes) plus a 10-leaf star hub. */
  test("160k-node graph: per-node rank units stay non-degenerate past the " +
      "old 150k teleport-floor threshold; hub outranks leaves", ScaleStress) {
    import spark.implicits._
    val pairs = spark.range(80000)
      .select((col("id") * 2 + 100).as("a_id"), (col("id") * 2 + 101).as("b_id"))
    val hub = (1L to 10L).map(i => (0L, i)).toDF("a_id", "b_id")
    val out = Dedup.pagerankFrom(pairs.unionAll(hub), iters = 3)
    val n = out.count()
    assert(n == 160011L, s"graph must exceed the old 150k threshold, got $n")
    val degenerate = out.filter(col("r3") <= 0).count()
    assert(degenerate == 0L,
      "every node must carry positive rank — the r17 /n units zeroed ALL " +
        "of them at this size")
    val byId = out.filter(col("doc_id") <= 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(byId(0L) > byId(1L),
      s"hub must outrank its leaves, got hub=${byId(0L)} leaf=${byId(1L)}")
    // a degree-1 pair node far from the hub: finite, positive, stable value
    val pairNode = out.filter(col("doc_id") === 100L).head().getLong(4)
    assert(pairNode > 0L && pairNode < byId(0L))
  }

  /** The r18 dense-broadcast retrieval's 100 TB story: the corpus side is
    * ONE linear pass (feature rows = O(N), dots map-side in the VecDotLong
    * codegen loop), the query batch is a broadcast-sized workload constant,
    * and nothing about the Q×C product ever shuffles the corpus. Measured
    * here at 10× the bench corpus (50k docs) against a FIXED 100-query
    * batch — the production assumption (a retrieval service answers a
    * bounded batch; the corpus is what grows). */
  test("10x corpus, fixed query batch: dense retrieval features stay O(N), " +
      "plan stays broadcast + codegen dot, output stays Q x k", ScaleStress) {
    import spark.implicits._
    thrivespark.functions.Register(spark)
    val base = T.documents(spark, sf01).select(col("doc_id"), col("text"))
    val big = (0 until 10).map(k =>
        base.select((col("doc_id") * 10 + k).as("doc_id"),
          concat_ws(" ", col("text"), lit(s"copytag$k")).as("text")))
      .reduce(_ unionAll _)
    val n = big.count()
    assert(n == 50000L, s"10x corpus expected, got $n")
    val cvd = thrivespark.ops.Text.hashedDense(
      thrivespark.ops.Text.hashedBuckets(big).groupBy(col("doc_id")))
    // feature table is corpus-linear: exactly one dense row per doc
    assert(cvd.count() == n, "dense features must be one row per doc")
    // fixed 100-query batch (ids 0, 500, 1000, ... — a workload, not a
    // corpus fraction; this is what makes the shape linear at 100 TB)
    val qvd = thrivespark.ops.Text.hashedDense(
        thrivespark.ops.Text.hashedBuckets(big.filter(col("doc_id") % 500 === 0))
          .groupBy(col("doc_id")))
      .select(col("doc_id").as("q_id"), col("vec").as("qvec"), col("nrm").as("q_nrm"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("dot").desc, col("c_id"))
    val out = cvd.join(broadcast(qvd), col("q_id") =!= col("doc_id"))
      .select(col("q_id"), col("doc_id").as("c_id"),
        call_function("vec_dot_long", col("qvec"), col("vec")).as("dot"))
      .filter(col("dot") > 0)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
    PlanShape.assertUsesCodegenExpr(out, "vec_dot_long", "10× dense retrieval")
    PlanShape.assertBroadcastsSmallSide(out, "10× dense retrieval")
    PlanShape.assertNoShuffleJoin(out, "10× dense retrieval")
    val rows = out.count()
    assert(rows == 100L * 5, s"output must be Q x k = 500, got $rows")
  }

  /** The streaming ops' 100 TB story is "watermark bounds state: size is
    * O(events within the horizon), not O(history)" — until now asserted
    * from construction, here MEASURED. A 48-hour time-ordered stream (400
    * events/hour, unique event_ids, 50 users) replays one hour per
    * micro-batch through the three stateful shapes the suite ships
    * (dedup-within-watermark, watermarked tumbling agg, stream-stream
    * interval join), and each query's per-batch state-store row count
    * (StreamingQueryProgress.stateOperators) must (a) peak at a small
    * multiple of the horizon, far below total history, and (b) PLATEAU —
    * late-replay state no bigger than mid-replay state, the direct
    * refutation of O(history) growth. */
  test("48h replay: watermarked streaming state plateaus at the horizon, " +
      "not at history", ScaleStress) {
    import org.apache.spark.sql.DataFrame
    val hours = 48
    val perHour = 400
    val totalRows = hours.toLong * perHour
    val root = java.nio.file.Files.createTempDirectory("graft_state_stress").toString
    val src = s"$root/src"
    val baseUs = 1700000000L * 1000000L
    // one parquet file per hour, written in event-time order so the file
    // source replays them as 48 ordered micro-batches (mtime order)
    (0 until hours).foreach { h =>
      spark.range(perHour).select(
          (lit(h.toLong * perHour) + col("id")).as("event_id"),
          (col("id") % 50).as("user_id"),
          timestamp_micros(lit(baseUs + h.toLong * 3600L * 1000000L)
            + col("id") * 9000000L).as("ts"),
          when(col("id") % 2 === 0, "view").otherwise("purchase").as("event_type"))
        .coalesce(1).write.mode("append").parquet(src)
    }
    val schema = spark.read.parquet(src).schema
    def src1() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)

    // run a streaming frame to completion, returning per-batch total state
    // rows in arrival order (batches with no state update are skipped)
    def stateTrajectory(df: DataFrame, name: String): Seq[Long] = {
      val cp = s"$root/cp_$name"
      val q = df.writeStream.outputMode("append").format("memory")
        .queryName(s"stress_$name").option("checkpointLocation", cp).start()
      q.processAllAvailable()
      val traj = q.recentProgress.toSeq
        .filter(p => p.stateOperators.nonEmpty)
        .map(p => p.stateOperators.map(_.numRowsTotal).sum)
      q.stop()
      traj
    }

    def assertBounded(name: String, traj: Seq[Long], horizonBound: Long): Unit = {
      assert(traj.length >= hours / 2, s"$name: too few batches (${traj.length})")
      val peak = traj.max
      // (a) peak is horizon-sized, an order below history
      assert(peak <= horizonBound,
        s"$name: peak state $peak exceeds horizon bound $horizonBound")
      assert(peak < totalRows / 5,
        s"$name: peak state $peak is not far below history $totalRows")
      // (b) plateau: the last quarter of the replay holds no more state than
      // the (post-warmup) middle did — O(history) growth would show here
      val mid = traj.slice(traj.length / 4, traj.length / 2).max
      val late = traj.drop(traj.length * 3 / 4).max
      assert(late <= mid * 3 / 2,
        s"$name: state still growing late in the replay (mid=$mid late=$late)")
      info(f"$name%-12s peak=$peak%6d (history=$totalRows) mid=$mid late=$late")
    }

    // dedup: state holds event_ids younger than watermark-1h; horizon ≈
    // 2–3 hours of arrivals (watermark lags one batch) — bound at 6 hours
    assertBounded("dedup",
      stateTrajectory(src1().withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id"), "dedup"),
      horizonBound = 6L * perHour)

    // tumbling agg: state is open (window × type) groups, horizon ≈ 2–3
    // windows × 2 types regardless of perHour — bound at 8 windows' worth
    assertBounded("tumbling",
      stateTrajectory(src1().withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("event_type"), col("n")),
        "tumbling"),
      horizonBound = 8L * 2)

    // stream-stream interval join: both sides retained until the opposite
    // watermark clears their join window; horizon ≈ 2–4 hours of BOTH sides
    // across 4 state stores — bound at 12 hours' worth of rows
    val views = src1().filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = src1().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    assertBounded("join",
      stateTrajectory(views.join(purchases,
        expr("""user_id = p_user AND purchase_ts > view_ts AND
                purchase_ts <= view_ts + INTERVAL 1 HOUR""")), "join"),
      horizonBound = 12L * perHour)
  }
  test("13x corpus: char-BPE learns IDENTICAL merges with exactly 13x the " +
      "weights (vocab-bound training)", ScaleStress) {
    // text_bpe_char_train's 100 TB claim is "after the one word-count
    // shuffle, training touches vocab-sized data independent of corpus
    // size". Replicating the corpus 13x leaves the VOCABULARY unchanged
    // (same words, 13x each frequency), so the frequency-weighted argmax
    // must pick the IDENTICAL merge sequence with every weighted count
    // exactly 13x its base value - an exact structural property of
    // vocab-bound training, checked without timing flakiness; the wall
    // ratio is reported as supporting evidence.
    import org.apache.spark.sql.functions._
    val docs = T.documents(spark, sf01).select(col("doc_id"), col("text"))
    val rep13 = (0 until 13).map(i =>
        docs.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"), col("text")))
      .reduce(_ unionAll _)

    def trained(d: org.apache.spark.sql.DataFrame) = {
      val t0 = System.nanoTime()
      val (m, vocab) = thrivespark.ops.Text.bpeCharTrain(d, 8)
      thrivespark.Shared.free(vocab)
      (m, (System.nanoTime() - t0) / 1e9)
    }
    val (m1, w1) = trained(docs)
    val (m13, w13) = trained(rep13)
    assert(m13.map { case (it, l, r, _) => (it, l, r) } ==
           m1.map { case (it, l, r, _) => (it, l, r) },
      s"merge sequence changed under 13x replication:\n$m1\nvs\n$m13")
    m1.zip(m13).foreach { case ((_, l, r, c1), (_, _, _, c13)) =>
      assert(c13 == 13 * c1, s"weight of ($l,$r): $c13 != 13 * $c1")
    }
    info(f"wall 1x=$w1%.2f s, 13x=$w13%.2f s, ratio=${w13 / w1}%.1f (data 13x)")
  }

  test("13x corpus: paragraph dedup keeps EXACTLY the 1x winners and drops " +
      "all replicas (first-wins is replication-stable)", ScaleStress) {
    // text_paragraph_dedup's scale claim is "bucketed groupBy + equi-join,
    // never all-pairs". Replicating the corpus 13x with REPLICA ids offset
    // ABOVE every original id leaves each paragraph hash's min-doc winner
    // unchanged, so the kept-paragraph total must be EXACTLY the 1x value
    // while n_paras grows exactly 13x — an exact structural property of
    // first-occurrence-wins under replication (every replica paragraph is
    // a duplicate of an original that outranks it). Wall ratio reported as
    // supporting linear-scaling evidence.
    val docs = T.documents(spark, sf01).select(col("doc_id"), col("text"))
    val rep13 = (0 until 13).map(i =>
        docs.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"), col("text")))
      .reduce(_ unionAll _)

    def run(d: org.apache.spark.sql.DataFrame, dir: String) = {
      d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val t0 = System.nanoTime()
      val out = thrivespark.Registry.queries("text_paragraph_dedup")(spark, dir)
        .agg(sum("n_paras"), sum("n_kept")).head()
      ((out.getLong(0), out.getLong(1)), (System.nanoTime() - t0) / 1e9)
    }
    val ((paras1, kept1), w1) = run(docs, "/tmp/graft_paradedup_1x")
    val ((paras13, kept13), w13) = run(rep13, "/tmp/graft_paradedup_13x")
    assert(paras13 == 13 * paras1, "paragraph mass must replicate exactly")
    assert(kept13 == kept1,
      s"replication must add zero new winners: kept $kept13 != 1x $kept1")
    info(f"wall 1x=$w1%.2f s, 13x=$w13%.2f s, ratio=${w13 / w1}%.1f (data 13x)")
  }

  test("family corpus at 5k docs: text_substring_exact reports FULL-doc " +
      "spans for every identical copy pair and candidates stay " +
      "sharing-structured, never corpus-quadratic", ScaleStress) {
    import org.apache.spark.sql.functions._
    // ~100 families × 50 perturbed copies (same construction as the 50x
    // LSH test: class c = k % 10 replaces a class-specific 2w-token window
    // with sentinels, so the 5 copies of each class are IDENTICAL text and
    // cross-class copies share everything outside the two windows)
    val base = T.documents(spark, sf01)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 75 && col("doc_id") % 13 === 0)
      .persist()
    val nFam = base.count()
    assert(nFam >= 80, s"corpus changed: $nFam families")
    val copies = spark.range(0, 50).select(col("id").cast("int").as("k"))
    val big = base.crossJoin(copies)
      .withColumn("n", size(col("t")))
      .withColumn("w", floor(col("n") / 14).cast("int"))
      .withColumn("c", col("k") % 10)
      .withColumn("p", col("c") * col("w") + 1)
      .withColumn("m", col("w") * 2)
      .withColumn("sent", transform(sequence(lit(1), col("m")),
        i => concat_ws("_", lit("zz"), col("doc_id"), col("c"), i)))
      .select(
        (col("doc_id") * 100 + col("k")).as("doc_id"),
        concat_ws(" ", concat(
          slice(col("t"), lit(1), col("p") - 1),
          col("sent"),
          slice(col("t"), col("p") + col("m"),
            col("n") - col("p") - col("m") + 1))).as("text"),
        col("n"))
      .persist()
    val nBig = big.count()
    assert(nBig == nFam * 50)
    val t0 = System.nanoTime()
    val out = thrivespark.ops.Text
      .sharedSpanRuns(big.select(col("doc_id"), col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = out.count()
    val wall = (System.nanoTime() - t0) / 1e9
    // candidate structure: pairs reflect SHARED CONTENT (families + the
    // base corpus's own planted near-dups), not corpus size — far under
    // the all-pairs space a naive doc×doc formulation would pay
    val allPairs = nBig * (nBig - 1) / 2
    assert(total < allPairs / 50,
      s"pair output $total approaches all-pairs $allPairs — index broke")
    // exactness at scale: every same-class pair is identical text, so the
    // reported max span must be the FULL perturbed doc length (which the
    // sentinel construction keeps equal to the base length) — all
    // nFam × 10 classes × C(5,2) pairs, each exact
    val sameClass = out
      .withColumn("fa", expr("a_id div 100"))
      .withColumn("fb", expr("b_id div 100"))
      .filter(col("fa") === col("fb") &&
        col("a_id") % 10 === col("b_id") % 10)
      .join(big.select((col("doc_id")).as("a_id"), col("n")), "a_id")
    val nSame = sameClass.count()
    assert(nSame == nFam * 10 * 10,
      s"expected ${nFam * 100} identical-copy pairs, got $nSame")
    val inexact = sameClass
      .filter(col("max_shared_tokens") =!= col("n").cast("long")).count()
    assert(inexact == 0,
      s"$inexact identical pairs reported a span shorter than the full doc")
    info(f"families=$nFam docs=$nBig pairs=$total " +
      f"(all-pairs ${allPairs}) wall=$wall%.1f s")

    // --- incremental path on the same 5k corpus: delta-proportionality ---
    // delta = the k==29 copy of every family (nFam docs, 2% of corpus).
    // The incremental report must equal the one-shot report restricted to
    // delta-touching pairs, and be a small fraction of the full pair
    // space: the standing-internal mass (the other 98%) is never paid.
    val isDelta = col("doc_id") % 100 === 29
    val t1 = System.nanoTime()
    val inc = thrivespark.ops.Text.sharedSpanRunsIncremental(
        big.select(col("doc_id"), col("text")), 8, isDelta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nInc = inc.count()
    val wallInc = (System.nanoTime() - t1) / 1e9
    val oneShotDelta = out
      .filter(col("a_id") % 100 === 29 || col("b_id") % 100 === 29)
    assert(nInc == oneShotDelta.count(),
      "incremental != one-shot restricted to delta-touching pairs")
    val mismatch = inc.join(oneShotDelta,
        Seq("a_id", "b_id", "n_runs", "max_shared_tokens"), "left_anti").count()
    assert(mismatch == 0, s"$mismatch incremental rows differ from one-shot")
    assert(nInc < total / 10,
      s"delta report $nInc not small vs full $total — delta-proportionality broke")
    info(f"incremental: delta pairs=$nInc of $total wall=$wallInc%.1f s")
    inc.unpersist(): Unit
    out.unpersist(); big.unpersist(); base.unpersist(): Unit
  }

  test("streaming index maintenance over 20 micro-batches: report equals " +
      "one-shot, index grows exactly by each batch's windows", ScaleStress) {
    import spark.implicits._
    // 200 docs in 20 single-file batches; docs congruent mod 7 share a
    // 12-token span (cross-batch pairs at every distance), and docs ≡0
    // (mod 40) additionally carry one common 10-token block — long-range
    // repeated content arriving many batches apart
    def toks(r: Range, tag: String) = r.map(tag + _)
    val common = toks(0 until 10, "c")
    val docs = (0 until 200).map { d =>
      val own = toks(0 until 12, s"w${d % 7}_")
      val fill = (0 until 8).map(k => s"u${d}_$k")
      val body = (if (d % 40 == 0) common else Seq.empty[String]) ++ own ++ fill
      (d.toLong, body.mkString(" "))
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ssi20_src").toString
    (0 until 20).foreach { b =>
      docs.filter(col("doc_id") >= b * 10 && col("doc_id") < (b + 1) * 10)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val cp = java.nio.file.Files.createTempDirectory("graft_ssi20_cp").toString
    val root = java.nio.file.Files.createTempDirectory("graft_ssi20_st").toString
    val streamed = thrivespark.streaming.StreamRunner
      .substringIndexStream(spark, dir, cp, s"$root/index", s"$root/report")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val oneShot = thrivespark.ops.Text.sharedSpanRuns(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(streamed == oneShot, s"20-batch replay diverged from one-shot " +
      s"(streamed ${streamed.size} pairs, one-shot ${oneShot.size})")
    assert(streamed.nonEmpty, "planted cross-batch spans must pair")
    // index growth is exactly the corpus's window count — nothing dropped,
    // nothing duplicated across the 20 appends
    val idxRows = spark.read.parquet(s"$root/index").count()
    val expected = docs
      .select(sum(greatest(size(split(col("text"), " ")) - 7, lit(0))))
      .head().getLong(0)
    assert(idxRows == expected,
      s"index rows $idxRows != corpus windows $expected")
  }

  test("3k-doc boilerplate clique: the maxDf valve's semi join lands BELOW " +
      "the pair self-join (r19 shape), so the capped path never admits the " +
      "4.5M-pair bucket it prunes", ScaleStress) {
    import spark.implicits._
    // 3,000 docs all ending in the SAME 8-token boilerplate window
    // (df = 3000 ⇒ C(3000,2) ≈ 4.5M pairs from that one window uncapped);
    // docs 1 and 2 are identical span+boiler copies — the one genuine pair.
    val boiler = (0 until 8).map("b" + _).mkString(" ")
    val span = (0 until 20).map("s" + _).mkString(" ")
    val docs = spark.range(1, 3001)
      .select(col("id").as("doc_id"),
        concat_ws(" ",
          when(col("id") <= 2, lit(span)).otherwise(
            concat_ws(" ", (0 until 8).map(k =>
              concat(lit("u"), col("id"), lit(s"_$k"))): _*)),
          lit(boiler)).as("text"))
      .toDF("doc_id", "text")
    val capped = thrivespark.ops.Text.sharedSpanRuns(docs, maxDf = 2)
    // Plan proof of the r19 restructure's scale claim: Catalyst must push
    // the LeftSemi valve BELOW the pair equi-join onto the index scan —
    // an inner equi-join on h with one side's h filtered out can never
    // form the boilerplate bucket. If the semi sat ABOVE the join, the
    // 4.5M-row bucket would materialize before filtering.
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val lp = capped.queryExecution.optimizedPlan
    val innerJoins = lp.collect { case j: LJoin if j.joinType == Inner => j }
    assert(innerJoins.nonEmpty, s"pair join missing:\n$lp")
    val semiBelowPairJoin = innerJoins.exists(_.children.exists(
      _.collect { case j: LJoin if j.joinType == LeftSemi => j }.nonEmpty))
    assert(semiBelowPairJoin,
      s"the df valve must push below the pair self-join:\n$lp")
    // Semantics at this scale: exactly the genuine pair survives. Both
    // docs are 28 identical tokens; dropping the saturated window splits
    // nothing here (it is the run's last window), so the reported span is
    // windows 1..20 ⇒ 27 tokens — the conservative direction the valve
    // documents (never longer than the true 28).
    val rows = capped.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows == Seq((1L, 2L, 1L, 27L)), s"got $rows")
  }
}
