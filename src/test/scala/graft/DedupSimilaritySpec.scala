package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import thrivespark.ops.{Dedup, Similarity}

/** Brute-force verification of the sketch-pruned operators (rule R5 analog
  * for the ops whose hashing is engine-specific and thus not oracle-able). */
class DedupSimilaritySpec extends AnyFunSuite {
  import SparkTestBase._

  test("r22 (r20 item 5): nearDupPairs' pair cache keeps one sf dir per " +
      "session — cycling dirs evicts the stale persisted entry") {
    def pairDirs = thrivespark.Shared.keys(spark).collect {
      case ("pairs", dir, _) => dir }
    Dedup.nearDupPairs(spark, sf0001, 0.6).count()
    Dedup.nearDupPairs(spark, sf001, 0.6).count()
    val mine = pairDirs
    assert(mine == Set(sf001),
      s"stale sf-dir entries survived the cycle: $mine")
    // cycling back re-computes (correctness over reuse) and evicts the other
    Dedup.nearDupPairs(spark, sf0001, 0.6).count()
    val mine2 = pairDirs
    assert(mine2 == Set(sf0001), s"$mine2")
  }

  test("dedup_simhash equals brute-force hamming join at sf0.001") {
    val banded = Dedup.simhashPairs(spark, sf0001, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fps = Dedup.simhashDocs(spark, sf0001)
    val fa = fps.select(col("doc_id").as("a_id"), col("fp").as("a_fp"))
    val fb = fps.select(col("doc_id").as("b_id"), col("fp").as("b_fp"))
    val brute = fa.join(fb, col("a_id") < col("b_id"))
      .filter(bit_count(col("a_fp").bitwiseXOR(col("b_fp"))) <= 7)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute,
      s"banded=${banded.size} brute=${brute.size} missed=${brute.diff(banded).take(5)}")
    assert(brute.nonEmpty, "corpus has planted near-dups; result must not be empty")
  }

  test("sim_ann_ivf: k results per query, recall vs brute force is sane") {
    val ann = Similarity.annTopK(spark, sf001, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = thrivespark.Registry.queries("sim_topk_cosine")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val perQuery = ann.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQuery.values.forall(_ == 5), s"expected 5 per query: $perQuery")
    assert(perQuery.keySet == brute.map(_._1).groupBy(identity).keySet)
    val recall = ann.intersect(brute).size.toDouble / brute.size
    // synthetic embeddings are near-random ⇒ IVF recall is modest by
    // construction; the invariant is that probing 2/5 cells beats nothing
    // and the pipeline is well-formed. On clustered real data this rises
    // sharply with nprobe.
    assert(recall >= 0.25, s"recall collapsed: $recall")
    info(f"IVF recall@5 (nprobe=2 of 5 cells): $recall%.2f")
  }

  test("sim_ann_pq: 5 per query, deterministic, recall vs brute force is sane") {
    val pq = thrivespark.Registry.queries("sim_ann_pq")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = thrivespark.Registry.queries("sim_topk_cosine")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val perQuery = pq.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQuery.values.forall(_ == 5), s"expected 5 per query: $perQuery")
    // 8×8-dim codebooks quantize near-random unit vectors coarsely, so
    // recall is modest by construction (0.34 measured at sf0.01) — the
    // invariant is structural soundness + determinism; on clustered real
    // embeddings PQ recall rises sharply with codebook fit.
    val recall = pq.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.2, s"recall collapsed: $recall")
    info(f"PQ recall@5 (8 subspaces, seed codebook): $recall%.2f")
    // two runs are byte-identical (total orders everywhere)
    val again = thrivespark.Registry.queries("sim_ann_pq")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == pq, "PQ result not deterministic across runs")
  }

  test("sim_ann_ivfpq: 5 per query, candidates only from probed cells, " +
      "recall vs brute force is sane") {
    val ivfpq = thrivespark.Registry.queries("sim_ann_ivfpq")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = thrivespark.Registry.queries("sim_topk_cosine")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val perQuery = ivfpq.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQuery.values.forall(_ == 5), s"expected 5 per query: $perQuery")
    assert(perQuery.keySet == brute.map(_._1).groupBy(identity).keySet)
    // IVFADC compounds BOTH approximations (nprobe cell pruning × residual
    // PQ scoring) on near-random vectors, so the floor is the product-ish
    // of the two ladders' modest recalls — structural soundness and
    // containment are the invariants; fidelity is the oracle's job.
    val recall = ivfpq.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.15, s"recall collapsed: $recall")
    info(f"IVFADC recall@5 (nprobe=2, residual PQ): $recall%.2f")
    // every returned candidate must come from one of the query's 2 probed
    // cells — the structural claim that makes IVFADC sub-linear
    val emb = thrivespark.Tables.embeddings(spark, sf001)
    val cent = Similarity.ivfCentroids(emb)
    val cells = Similarity.ivfAssignTo(emb, cent)
      .select(col("c_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val centArr = cent.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qs = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dotd(a: Array[Float], b: Array[Float]): Double =
      a.indices.map(i => a(i).toDouble * b(i).toDouble).sum
    val probed: Map[Long, Set[Long]] = qs.map { case (qid, qe) =>
      qid -> centArr.sortBy { case (cid, ce) => (-dotd(qe, ce), cid) }
        .take(2).map(_._1).toSet
    }.toMap
    ivfpq.foreach { case (qid, cid) =>
      assert(probed(qid).contains(cells(cid)),
        s"candidate $cid for query $qid came from unprobed cell ${cells(cid)}")
    }
  }

  test("dedup_ngram_jaccard (inverted index) equals the LSH+verify pair set") {
    // Both pipelines emit exact Jaccard>0.6 pairs; the inverted-index path
    // must find the identical set the banding path finds (recall 1 check on
    // both sides at once).
    val inv = thrivespark.Registry.queries("dedup_ngram_jaccard")(spark, sf0001)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.nearDupPairs(spark, sf0001, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inv == lsh, s"inv=${inv.size} lsh=${lsh.size}")
    assert(inv.nonEmpty, "corpus has planted near-dups; result must not be empty")
  }

  test("dedup_embedding_lsh: drops ⊆ exact drops; recall at sf0.01 is total") {
    val exact = thrivespark.Registry.queries("dedup_embedding_cosine")(spark, sf001)
      .collect().map(_.getLong(0)).toSet
    val lsh = thrivespark.Registry.queries("dedup_embedding_lsh")(spark, sf001)
      .collect().map(_.getLong(0)).toSet
    // LSH candidates ⊆ label-blocked pairs ⇒ LSH can only drop a subset
    assert(exact.subsetOf(lsh), s"LSH dropped a non-near-dup: ${exact.diff(lsh)}")
    // measured recall at sf0.01 is 5/5 (all qualifying pairs band-collide)
    assert(lsh == exact, s"recall gap at sf0.01: extra survivors ${lsh.diff(exact)}")
  }

  test("dedup_embedding_lsh: bucket cap is inert on the real corpus " +
      "(capped output == uncapped output)") {
    thrivespark.functions.Register(spark)
    val emb = thrivespark.Tables.embeddings(spark, sf001)
    val capped = Dedup.embeddingLshSurvivors(emb, 0.4, Dedup.LshBucketCap)
      .collect().map(_.getLong(0)).toSeq
    val uncapped = Dedup.embeddingLshSurvivors(emb, 0.4, Int.MaxValue)
      .collect().map(_.getLong(0)).toSeq
    assert(capped == uncapped,
      "the cap must not fire on the fixture corpus — the DuckDB oracle " +
      "models uncapped banding")
  }

  test("sim_ann_incremental: delta assignment against existing cells == " +
      "one-shot assignment of everything (incremental ≡ full rebuild)") {
    import thrivespark.ops.Similarity
    thrivespark.functions.Register(spark)
    val emb = thrivespark.Tables.embeddings(spark, sf001)
    val isDelta = col("vec_id") % 7 === 3
    val cent = Similarity.ivfCentroids(emb.filter(!isDelta))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select(col("c_id"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    val oneShot = cells(Similarity.ivfAssignTo(emb, cent))
    val incremental =
      cells(Similarity.ivfAssignTo(emb.filter(!isDelta), cent)) ++
      cells(Similarity.ivfAssignTo(emb.filter(isDelta), cent))
    assert(oneShot == incremental,
      "delta-batch assignment must land every vector in the same cell as " +
      "a full rebuild — the invariant sim_ann_incremental's oracle rides on")
    // and the op's queries are exactly the delta slice, k-bounded
    val out = thrivespark.Registry.queries("sim_ann_incremental")(spark, sf001)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(0) % 7 == 3 && r.getLong(0) % 3 == 0),
      "queries must come from the delta batch")
    assert(out.groupBy(_.getLong(0)).values.forall(_.length <= 5))
  }

  test("dedup_embedding_cosine survivors = corpus minus dropped later-ids") {
    val surv = thrivespark.Registry.queries("dedup_embedding_cosine")(spark, sf001)
      .collect().map(_.getLong(0)).toSet
    val all = thrivespark.Tables.embeddings(spark, sf001)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val dropped = all.diff(surv)
    assert(surv.subsetOf(all))
    assert(dropped.nonEmpty, "threshold 0.4 drops a few vectors at sf0.01")
    // every dropped id must have a smaller-id same-label partner above τ —
    // i.e. no survivor pair is itself a near-dup pair
    assert(!dropped.exists(d => d == all.min), "the smallest id always survives")
  }

  test("multimodal_features: decoded dims, thumb size, frame count, null safety") {
    val mm = thrivespark.multimodal.Multimodal
    val df = thrivespark.Registry.queries("multimodal_features")(spark, sf0001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val byName = df.schema.fieldNames.zipWithIndex.toMap
    rows.foreach { r =>
      val id = r.getLong(byName("media_id"))
      assert(r.getInt(byName("width")) == mm.ppmWidth(id))
      assert(r.getInt(byName("height")) == mm.ppmHeight(id))
      assert(r.getInt(byName("n_pixel_bytes")) ==
        mm.ppmWidth(id) * mm.ppmHeight(id) * 3)
      assert(r.getInt(byName("thumb_bytes")) == 64, "8x8 thumb = 64 bytes")
      assert(r.getInt(byName("n_frames")) >= 1, "at least one sampled frame")
    }
    assert(mm.decodePpm(null) == null, "null payload passes through decode")
  }

  test("decontaminate: docs shorter than K surface as keep=1/n_windows=0") {
    import spark.implicits._
    // doc 1 shares a 4-token window with the eval doc (contaminated);
    // doc 2 is clean; doc 3 has only 2 tokens — fewer than K, so it has
    // no windows to test and must still appear, kept (the r6 ADVICE fix:
    // pre-fix it vanished from both verdicts)
    val docs = Seq(
      (0L, true, "the quick brown fox jumps over"),
      (1L, false, "start pad the quick brown fox tail"),
      (2L, false, "completely different words in this document"),
      (3L, false, "too short")
    ).toDF("doc_id", "is_eval", "text")
      .select(col("doc_id"), col("is_eval"), split(col("text"), " ").as("ts"))
    val out = Dedup.decontaminate(docs, K = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L), s"every non-eval doc must appear: $out")
    assert(out(1L)._2 > 0 && out(1L)._3 == 0, s"doc 1 must be flagged: ${out(1L)}")
    assert(out(2L)._2 == 0 && out(2L)._3 == 1, s"doc 2 must be kept: ${out(2L)}")
    assert(out(3L) == ((0L, 0L, 1)), s"short doc: keep=1, zero windows: ${out(3L)}")
  }

  test("sim_embed_quantize: codes bounded, reconstruction error <= scale/2") {
    val out = thrivespark.Registry.queries("sim_embed_quantize")(spark, sf001)
      .collect()
    assert(out.length == thrivespark.Tables.embeddings(spark, sf001).count())
    out.foreach { r =>
      assert(r.getAs[Int]("n_dims") == 64)
      val qMin = r.getAs[Int]("q_min"); val qMax = r.getAs[Int]("q_max")
      assert(qMin >= -127 && qMax <= 127, s"int8 range violated: [$qMin,$qMax]")
      // symmetric quantization saturates: the max-|x| coordinate maps to ±127
      assert(qMax == 127 || qMin == -127,
        s"some coordinate must hit full scale: [$qMin,$qMax]")
      // rounding error is at most half a quantization step
      assert(r.getAs[Long]("err_micros") <= r.getAs[Long]("scale_micros") / 2 + 1,
        s"err ${r.getAs[Long]("err_micros")} vs scale ${r.getAs[Long]("scale_micros")}")
    }
  }

  test("join_fuzzy_edit: every planted feed row recovers its catalog source") {
    val out = thrivespark.Registry.queries("join_fuzzy_edit")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val nDocs = thrivespark.Tables.documents(spark, sf001).count()
    // completeness of the segment-pigeonhole blocking: the two planted
    // substitutions leave one aligned segment intact, so the identity link
    // (feed doc -> its own catalog row) must survive for EVERY doc
    val self = out.filter { case (f, c, _) => f - 1000000L == c }
    assert(self.length == nDocs, s"lost ${nDocs - self.length} planted links")
    assert(self.forall(_._3 == 2), "planted edits are exactly 2 substitutions")
    out.foreach { case (_, _, dist) => assert(dist <= 2) }
    // the blocking is candidate-limiting, not all-pairs: cross-links exist
    // (24-char prefixes do collide) but stay a small fraction of n²
    val cross = out.length - self.length
    assert(cross < nDocs, s"cross-link volume $cross looks all-pairs-ish")
  }

  test("text_substring_exact: planted spans report exact lengths, run counts, " +
      "and the sub-K overlap stays silent") {
    import spark.implicits._
    def toks(r: Range, tag: String = "w") = r.map(tag + _)
    def doc(id: Long, ts: Seq[String]) = (id, ts.mkString(" "))
    // unique filler per doc so no accidental 8-gram crosses a boundary
    def fill(d: Int, n: Int, at: Int) = (0 until n).map(k => s"u${d}_${at}_$k")
    val docs = Seq(
      doc(1, toks(0 until 30)),                                   // w0..w29
      doc(2, fill(2, 5, 0) ++ toks(10 until 26) ++ fill(2, 5, 1)), // 16-token mid-doc copy of doc1
      doc(3, toks(0 until 8) ++ fill(3, 10, 0)),                  // exactly K=8 shared with doc1 (and doc4)
      doc(4, toks(0 until 10) ++ fill(4, 12, 0) ++ toks(20 until 30)), // two 10-token runs vs doc1
      doc(5, toks(0 until 7) ++ fill(5, 10, 0)),                  // 7 < K: must not pair
      doc(6, fill(6, 3, 0) ++ toks(0 until 8, "p") ++ fill(6, 9, 1) ++
             toks(0 until 8, "p") ++ fill(6, 3, 2)),              // same 8-gram twice
      doc(7, fill(7, 4, 0) ++ toks(0 until 8, "p") ++ fill(7, 4, 1))
    ).toDF("doc_id", "text")
    val out = thrivespark.ops.Text.sharedSpanRuns(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      (1L, 2L) -> (1L, 16L),  // one maximal run, exact span 16
      (1L, 3L) -> (1L, 8L),   // minimum reportable span
      (1L, 4L) -> (2L, 10L),  // two separate maximal runs, max 10
      (3L, 4L) -> (1L, 8L),   // transitively shared prefix w0..w7
      (6L, 7L) -> (2L, 8L)    // repeated phrase: two diagonals, two runs
    ), s"got $out")
  }

  test("text_substring_exact maxDf valve: corpus-saturated boilerplate " +
      "windows drop out of the index; genuine pair spans survive intact") {
    import spark.implicits._
    val boiler = (0 until 8).map("b" + _)        // an 8-gram in EVERY doc
    val span = (0 until 20).map("s" + _)          // 20-token span in docs 1+2
    def fill(d: Int, n: Int) = (0 until n).map(k => s"u${d}_$k")
    val docs = (1L to 12L).map { d =>
      val body =
        if (d <= 2) span ++ fill(d.toInt, 4) ++ boiler
        else fill(d.toInt, 15) ++ boiler
      (d, body.mkString(" "))
    }.toDF("doc_id", "text")
    // uncapped: the boilerplate 8-gram links all 66 doc pairs
    val full = thrivespark.ops.Text.sharedSpanRuns(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(full.size == 66, s"expected all-pairs via boilerplate: ${full.size}")
    // capped at df<=2: only the genuine pair remains, exact span preserved;
    // its boilerplate-run link to the others is gone
    val capped = thrivespark.ops.Text.sharedSpanRuns(docs, maxDf = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getLong(3)))
    assert(capped.toSeq == Seq(((1L, 2L), 1L, 20L)), s"got ${capped.toSeq}")
  }

  test("text_substring_incremental: agrees with the one-shot path on " +
      "delta-touching pairs, and standing-only duplication costs nothing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def toks(r: Range, tag: String) = r.map(tag + _)
    def fill(d: Int, n: Int) = (0 until n).map(k => s"u${d}_$k")
    // standing docs 1..4 (ids not %5): 1+2 share a 16-token span, 3+4 a
    // 12-token span — STANDING-INTERNAL duplication the incremental path
    // must neither report nor pay for. Delta docs 5, 10, 15: 5 copies 12
    // tokens from standing doc 2, 10 and 15 share 20 tokens with each
    // other (delta×delta), 15 also carries 9 of standing doc 3's tokens.
    val shared12 = toks(0 until 12, "s")
    val dd20 = toks(0 until 20, "q")
    val docs = Seq(
      (1L, (toks(0 until 16, "w") ++ fill(1, 5)).mkString(" ")),
      (2L, (fill(2, 4) ++ toks(0 until 16, "w") ++ shared12).mkString(" ")),
      (3L, (toks(0 until 12, "y") ++ fill(3, 6)).mkString(" ")),
      (4L, (fill(4, 3) ++ toks(0 until 12, "y")).mkString(" ")),
      (5L, (fill(5, 6) ++ shared12).mkString(" ")),
      (10L, (dd20 ++ fill(10, 5)).mkString(" ")),
      (15L, (fill(15, 4) ++ dd20 ++ toks(0 until 9, "y")).mkString(" "))
    ).toDF("doc_id", "text")
    val inc = thrivespark.ops.Text.sharedSpanRunsIncremental(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // equivalence: one-shot runs restricted to delta-touching pairs
    val oneShot = thrivespark.ops.Text.sharedSpanRuns(docs)
      .filter(col("a_id") % 5 === 0 || col("b_id") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(inc == oneShot, s"incremental $inc != one-shot-restricted $oneShot")
    // the expected content: delta×standing (2,5) span 12, (3,15) and
    // (4,15) span 9 (both standing docs carry the y-run), delta×delta
    // (10,15) span 20 — and NO standing-internal pair
    assert(inc == Map((2L, 5L) -> (1L, 12L), (3L, 15L) -> (1L, 9L),
      (4L, 15L) -> (1L, 9L), (10L, 15L) -> (1L, 20L)), s"got $inc")
    assert(!inc.keySet.exists { case (a, b) => a % 5 != 0 && b % 5 != 0 },
      "standing-internal pair leaked into the incremental report")
    // delta-proportionality, plan-level: with an EMPTY delta the candidate
    // joins take zero delta rows on one side, so the whole report is empty
    // even though standing docs 1..4 are heavily duplicated — the
    // standing×standing space is structurally unreachable, not filtered.
    val noDelta = thrivespark.ops.Text.sharedSpanRunsIncremental(
      docs.filter(col("doc_id") % 5 =!= 0))
    assert(noDelta.count() == 0,
      "empty delta must produce an empty report at zero pair cost")
  }

  test("text_substring_coverage: union-of-runs coverage detects staggered " +
      "containment the max-single-span view misses; partial overlap stays " +
      "below the flag") {
    import spark.implicits._
    def toks(r: Range, tag: String) = r.map(tag + _)
    def fill(d: Int, n: Int, at: Int = 0) = (0 until n).map(k => s"u${d}_${at}_$k")
    val docs = Seq(
      // doc 1: 40 tokens; doc 2 (34 tokens) = two STAGGERED 16-token copies
      // of doc 1's [0,16) and [24,40) split by 2 filler tokens — max single
      // span is only 16/34 = 0.47 of doc 2, but the union covers 32/34 =
      // 0.94: containment only the union view can see
      (1L, (toks(0 until 40, "w")).mkString(" ")),
      (2L, (toks(0 until 16, "w") ++ fill(2, 2) ++ toks(24 until 40, "w")).mkString(" ")),
      // doc 3 shares a 10-token run with doc 1 (10/40 and 10/30): partial
      (3L, (toks(0 until 10, "w") ++ fill(3, 20)).mkString(" "))
    ).toDF("doc_id", "text")
    val out = thrivespark.ops.Text.substringCoverage(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(6), r.getDouble(7), r.getInt(8))).toMap
    // (1,2): union coverage 32 on both sides; doc 2 is 0.94 covered →
    // contained, though no single span exceeds 0.47 of it
    assert(out((1L, 2L)) == (32L, 32L, 0.8, 0.941176, 1), s"got ${out((1L, 2L))}")
    // (1,3): 10-token overlap, neither side near 0.9 → not contained
    assert(out((1L, 3L)) == (10L, 10L, 0.25, 0.333333, 0), s"got ${out((1L, 3L))}")
    // (2,3): doc 3's w0..w9 also matches doc 2's copied prefix
    assert(out((2L, 3L))._5 == 0, s"got ${out((2L, 3L))}")
  }

  test("text_substring_cut: >=15-token duplicated spans are cut from the " +
      "LATER doc at exact boundaries; 14-token spans and first occurrences " +
      "survive untouched; full duplicates empty out") {
    import spark.implicits._
    def toks(r: Range, tag: String) = r.map(tag + _)
    def fill(d: Int, n: Int, at: Int = 0) = (0 until n).map(k => s"u${d}_${at}_$k")
    val aText = toks(0 until 30, "w").mkString(" ")
    val docs = Seq(
      (10L, aText),                                                   // first occurrence — keeps everything
      (11L, (fill(11, 3) ++ toks(5 until 20, "w") ++ fill(11, 4, 1)).mkString(" ")), // 15 shared tokens → cut
      (12L, (fill(12, 3) ++ toks(0 until 14, "x") ++ fill(12, 4, 1)).mkString(" ")), // 14-token overlap with 13
      (13L, (fill(13, 5) ++ toks(0 until 14, "x")).mkString(" ")),    // below minSpan → untouched
      (14L, aText)                                                    // exact duplicate of 10 → fully cut
    ).toDF("doc_id", "text")
    val out = thrivespark.ops.Text.substringCut(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(10L) == (30L, 30L, aText), s"first occurrence mutated: ${out(10L)}")
    assert(out(11L) == (22L, 7L,
      (fill(11, 3) ++ fill(11, 4, 1)).mkString(" ")),
      s"15-token span not cut at exact boundaries: ${out(11L)}")
    assert(out(12L)._2 == out(12L)._1 && out(13L)._2 == out(13L)._1,
      s"sub-minSpan overlap must not cut: ${out(12L)} ${out(13L)}")
    assert(out(14L) == (30L, 0L, ""), s"full duplicate must empty out: ${out(14L)}")
  }

  test("sim_ann_recall_curve: recall is non-decreasing in nprobe and hits " +
      "1.0 when every cell is probed (sf0.001 has exactly 5 cells)") {
    val rows = thrivespark.Registry.queries("sim_ann_recall_curve")(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3, 5), s"curve points: ${rows.toSeq}")
    val rec = rows.map(_._2).toSeq
    assert(rec == rec.sorted, s"recall must be monotone in nprobe: $rec")
    // nprobe=5 probes ALL 5 centroid cells at sf0.001 → the probe IS the
    // brute force pass → recall exactly 1
    assert(rec.last == 1000000L, s"all-cells probe must have recall 1: $rec")
  }

  test("kmeansTrainFrom: one hand-computed Lloyd iteration (assignment " +
      "argmax, dot-tie -> lowest cent_id, integer mean, csum/shift stats)") {
    // seeds = vec_id % 100 == 0 → ids 0 and 100. Planted micros (float32
    // values chosen so round(x*1e6) lands on exact multiples of 1e5):
    //   id 0  (seed c0): ( 1.0,  0.0) → (1000000,       0)
    //   id 100(seed c1): ( 0.0,  1.0) → (      0, 1000000)
    //   id 1:            ( 0.8,  0.2) → dot c0 .8  > c1 .2  → cell 0
    //   id 2:            ( 0.5,  0.5) → dot c0 .5 == c1 .5  → TIE → cell 0
    //   id 3:            (-0.3, -0.7) → dot c0 -.3 > c1 -.7 → cell 0
    //   id 101:          ( 0.1,  0.9) → dot c1 .9  > c0 .1  → cell 1
    // cell 0: n=4, Σ = (2000000, 0)       → c0' = (500000, 0)
    //   csum = 500000, shift = |500000-1000000| + 0 = 500000
    // cell 1: n=2, Σ = (100000, 1900000)  → c1' = (50000, 950000)
    //   csum = 1000000, shift = 50000 + 50000 = 100000
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (100L, Seq(0.0f, 1.0f)),
      (1L, Seq(0.8f, 0.2f)), (2L, Seq(0.5f, 0.5f)),
      (3L, Seq(-0.3f, -0.7f)), (101L, Seq(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val (cents, stats) = Similarity.kmeansTrainFrom(emb, iters = 1)
    assert(cents.map { case (id, c) => id -> c.toSeq } ==
      Seq(0L -> Seq(500000L, 0L), 100L -> Seq(50000L, 950000L)))
    assert(stats == Seq(
      (1, 0L, 4L, 500000L, 500000L),
      (1, 100L, 2L, 1000000L, 100000L)))
  }

  test("kmeansTrainFrom: negative centroid mean truncates toward zero " +
      "(Scala Long division == DuckDB // — floor would drift one micro)") {
    // single seed (id 0); members sum to -100000 over n=3:
    //   -100000 / 3 = -33333 truncated toward zero (floor gives -33334)
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f)), (1L, Seq(-0.5f)), (2L, Seq(-0.6f))
    ).toDF("vec_id", "embedding")
    val (cents, stats) = Similarity.kmeansTrainFrom(emb, iters = 1)
    assert(cents == Seq(0L -> cents.head._2) && cents.head._2.toSeq == Seq(-33333L))
    assert(stats == Seq((1, 0L, 3L, -33333L, 1033333L)))
  }

  test("kmeansTrainFrom: an empty cell keeps its previous centroid and " +
      "reports n=0, shift=0") {
    // id 100's vector EQUALS id 0's, so the assignment dot ties and the
    // tie-break sends every vector (including 100's own) to cell 0 —
    // cell 100 is empty and must carry its centroid through unchanged.
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (100L, Seq(1.0f, 0.0f)), (1L, Seq(0.8f, 0.2f))
    ).toDF("vec_id", "embedding")
    val (cents, stats) = Similarity.kmeansTrainFrom(emb, iters = 1)
    val byId = cents.toMap
    assert(byId(100L).toSeq == Seq(1000000L, 0L), "empty cell centroid moved")
    assert(stats.find(_._2 == 100L).get == ((1, 100L, 0L, 1000000L, 0L)))
    assert(stats.find(_._2 == 0L).get._3 == 3L, "all vectors must land in cell 0")
  }

  test("graph_pagerank: hand-computed 3-node path — damped integer-micro " +
      "power iteration, truncation and all") {
    // path 1–2–3 in PER-NODE micros (r·n units): r0 = 1,000,000 each,
    // teleport = 150,000 — no division by N anywhere.
    // it1: c(1)=1000000 div 2=500000 → r=150000+(85·500000) div 100=575000;
    //      c(2)=1000000+1000000     → r=150000+1700000=1850000; r(3)=575000.
    // it2: c(1)=1850000 div 2=925000 → 150000+786250=936250;
    //      c(2)=575000·2=1150000    → 150000+977500=1127500; r(3)=936250.
    // it3: c(1)=1127500 div 2=563750 → 150000+479187=629187;
    //      c(2)=936250·2=1872500    → 150000+1591625=1741625; r(3)=629187.
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val out = Dedup.pagerankFrom(und, iters = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 1L, 575000L, 936250L, 629187L),
      (2L, 2L, 1850000L, 1127500L, 1741625L),
      (3L, 1L, 575000L, 936250L, 629187L)), s"got ${out.toSeq}")
  }

  test("pagerankFrom: empty graph returns the empty frame (matching the " +
      "oracle's empty result), not an exception") {
    import spark.implicits._
    val und = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val out = Dedup.pagerankFrom(und, iters = 3)
    assert(out.columns.toSeq == Seq("doc_id", "deg", "r1", "r2", "r3"))
    assert(out.count() == 0L)
  }

  test("triangleCountsFrom: triangle + pendant — per-node counts and " +
      "truncating clustering coefficient") {
    // 1–2–3 triangle with 4 hanging off 3: nodes 1,2 have deg 2 and sit in
    // 1 triangle (clust = 2e6·1/(2·1) = 1e6 — their neighborhood is
    // complete); node 3 has deg 3, 1 triangle of 3 possible wedge pairs
    // (2e6·1/(3·2) = 333333, truncated); the pendant has deg 1, clust 0.
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a_id", "b_id")
    val out = Dedup.triangleCountsFrom(und).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, 1000000L), (2L, 2L, 1L, 1000000L),
      (3L, 3L, 1L, 333333L), (4L, 1L, 0L, 0L)), s"got ${out.toSeq}")
  }

  test("triangleCountsFrom: 4-clique — every node in C(3,2)=3 triangles, " +
      "coefficient exactly 1") {
    import spark.implicits._
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a_id", "b_id")
    val out = Dedup.triangleCountsFrom(und).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == (1L to 4L).map(i => (i, 3L, 3L, 1000000L)),
      s"got ${out.toSeq}")
  }

  test("commonNeighborsFrom: path emits only the non-adjacent endpoint " +
      "pair; a triangle (all pairs adjacent) emits nothing") {
    import spark.implicits._
    // path 1–2–3: (1,3) share neighbor 2, Jaccard = 1/(1+1−1) = 1.
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val out = Dedup.commonNeighborsFrom(path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 3L, 1L, 1000000L)), s"got ${out.toSeq}")
    // triangle: every 2-hop pair is ALSO an edge — the anti-join must
    // leave zero candidates.
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a_id", "b_id")
    assert(Dedup.commonNeighborsFrom(tri).count() == 0L)
  }

  test("sim_hard_negatives: every mined negative crosses labels, exactly " +
      "k per anchor, and is never better than the unrestricted top-1") {
    val hn = thrivespark.Registry.queries("sim_hard_negatives")(spark, sf0001)
      .collect()
    assert(hn.nonEmpty)
    assert(hn.forall(r => r.getAs[Int]("q_label") != r.getAs[Int]("c_label")),
      "a hard negative sharing the anchor's label is a positive")
    val perAnchor = hn.groupBy(_.getAs[Long]("q_id"))
    assert(perAnchor.values.forall(_.length == 5))
    // restricting the candidate pool cannot IMPROVE the best score: each
    // anchor's top hard negative is ≤ its unrestricted brute-force top-1.
    val top1 = thrivespark.Registry.queries("sim_topk_cosine")(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("rn") === 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos")).toMap
    perAnchor.foreach { case (q, rows) =>
      val best = rows.map(_.getAs[Double]("cos")).max
      assert(best <= top1(q) + 1e-9, s"anchor $q: hard-neg $best > top1 ${top1(q)}")
    }
  }

  test("commonNeighborsFrom: star hub — all leaf pairs surface with the " +
      "hub as witness, Jaccard 1") {
    import spark.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a_id", "b_id")
    val out = Dedup.commonNeighborsFrom(star).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (2L, 3L, 1L, 1000000L), (2L, 4L, 1L, 1000000L), (3L, 4L, 1L, 1000000L)),
      s"got ${out.toSeq}")
  }

  test("paragraphShareEdges df valve: a planted boilerplate clique is " +
      "dropped, genuine sharing pairs survive") {
    import spark.implicits._
    // 120 docs all sharing one identical 10-token paragraph (a >cap
    // boilerplate clique: 7140 potential pairs) + 2 docs sharing a rare
    // paragraph. With maxDf=100 the clique hash is dropped and ONLY the
    // genuine pair remains; without the valve the clique would dominate.
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    val rare = (1 to 10).map(i => s"r$i").mkString(" ")
    val docs = ((0 until 120).map(i => (i.toLong, boiler + " filler" + i)) ++
      Seq((200L, rare + " x"), (201L, rare + " y"))).toDF("doc_id", "text")
    val withValve = Dedup.paragraphShareEdges(docs, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withValve == Set((200L, 201L)),
      s"valve must drop the 120-doc boilerplate clique: $withValve")
    val without = Dedup.paragraphShareEdges(docs, maxDf = 1000).count()
    assert(without == 120L * 119 / 2 + 1,
      s"sanity: uncapped clique is the df^2 blow-up the valve prevents ($without)")
  }

  test("kmeans positive control: on a corpus WITH cluster structure the " +
      "trained codebook beats the seeded one on nprobe=1 recall@5") {
    // The r16 honest negative said 3 Lloyd iterations don't move recall on
    // the STRUCTURELESS synthetic corpus. This is its positive control: a
    // planted 8-cluster corpus where the deterministic seed rule is
    // pathological by construction — ids ≡ 0 (mod 100) all fall in
    // clusters 0 and 4 (id % 8), so the 8 seeds leave six clusters
    // unseeded and put 4 near-duplicate centroids inside each of the two
    // seeded clusters. Under those centroids every cluster straddles cell
    // boundaries (members split by noise correlation), so nprobe=1 probes
    // miss most true neighbors; Lloyd iterations move the centroids apart
    // toward cluster cores, aligning cells with clusters. If training
    // could not lift recall HERE, the trainer would be decorative.
    // 8 clusters × 10 subclusters × 10 members: v = e_cluster +
    // 0.4·e_subcluster + ε (tiny per-member hash noise). True top-5 =
    // fellow SUBCLUSTER members (dot 1.16 vs 1.0 in-cluster vs ~0 across).
    // The seed ids hit only clusters 0/4 and DUPLICATE subclusters
    // (0,400 → (c0,s0); 200,600 → (c0,s5); …), so seeded assignment is
    // decided by ε almost everywhere — subcluster groups shatter across
    // cells. Trained centroids develop distinct cluster-dim weights, so
    // assignment becomes cluster-granular and neighbor groups co-locate.
    import spark.implicits._
    val dims = 24; val clusters = 8; val n = 800
    def vec(id: Long): Array[Float] = {
      val a = new Array[Float](dims)
      a((id % clusters).toInt) = 1.0f
      a(8 + ((id / clusters) % 10).toInt) = 0.4f
      for (d <- 18 until dims)
        a(d) = (((id * 2654435761L + d * 97L) % 1009 - 504) / 504.0 * 0.05).toFloat
      a
    }
    val ids = (0L until n).toSeq
    val emb = ids.map(i => (i, vec(i).toSeq)).toDF("vec_id", "embedding")
      .repartition(8).persist()
    emb.count(): Unit
    // exact top-5 by the same sequential-fold dot, tie -> lowest id —
    // computed locally so the truth set is engine-free
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < dims) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    val all = ids.map(i => i -> vec(i)).toMap
    val queries = ids.filter(_ % 10 == 0)
    val exact: Map[Long, Set[Long]] = queries.map { q =>
      q -> ids.filter(_ != q)
        .sortBy(c => (-dot(all(q), all(c)), c)).take(5).toSet
    }.toMap
    def recallOf(approx: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = approx.map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      queries.map(q => (byQ.getOrElse(q, Set.empty) & exact(q)).size / 5.0)
        .sum / queries.size
    }
    val q = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val seededCent = Similarity.ivfCentroids(emb)
    val seeded = recallOf(Similarity.probeTopK(q, seededCent,
      Similarity.ivfAssignTo(emb, seededCent), k = 5, nprobe = 1).collect())
    val trainedCent = Similarity.kmeansTrainFrom(emb, iters = 3)._1
      .map { case (id, cm) => (id, cm.map(_.toFloat).toSeq) }
      .toDF("cent_id", "cent_emb")
    val trained = recallOf(Similarity.probeTopK(q, trainedCent,
      Similarity.ivfAssignMicro(emb, trainedCent), k = 5, nprobe = 1).collect())
    info(f"recall@5 nprobe=1: seeded $seeded%.3f trained $trained%.3f")
    // measured (deterministic corpus): seeded 0.502, trained 1.000
    assert(trained > seeded + 0.15,
      f"training must lift recall on clustered data: seeded $seeded%.3f " +
      f"trained $trained%.3f")
    assert(trained >= 0.99,
      f"trained cells must co-locate whole neighbor groups: $trained%.3f")
    emb.unpersist(): Unit
  }

  test("kmeansTrainFrom releases its persisted working set (try/finally, " +
      "also on the planted-corpus path)") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val emb = Seq((0L, Seq(1.0f)), (1L, Seq(0.5f))).toDF("vec_id", "embedding")
    Similarity.kmeansTrainFrom(emb, iters = 2): Unit
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"kmeansTrainFrom leaked persistent RDDs: $leaked")
  }
}
