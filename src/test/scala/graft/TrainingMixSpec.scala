package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the r12 training-corpus ops the strict oracle can't pin by
  * itself: first-occurrence-wins paragraph rewriting (on a planted corpus
  * with known expected rewrites), permutation/contiguity of the global
  * shuffle, and budget discipline of the domain mixer. The value-exactness
  * of all three is oracle-checked against DuckDB by the driver gate. */
class TrainingMixSpec extends AnyFunSuite {
  import SparkTestBase._

  private def q(key: String, sf: String) =
    thrivespark.Registry.queries(key)(spark, sf)

  // ------------------------------------------------ text_paragraph_dedup ---

  /** A 10-token paragraph with a distinctive tag prefix. */
  private def para(tag: String): String =
    tag + " " + (1 to 9).map(i => s"$tag$i").mkString(" ")

  test("paragraph dedup: first doc keeps, later docs lose, order preserved") {
    val b1 = para("b1"); val b2 = para("b2"); val b3 = para("b3"); val b4 = para("b4")
    val dir = thrivespark.Scratch.dir("paradedup_fixture")
    import spark.implicits._
    Seq(
      (1L, s"$b1 $b2"),       // first holder of b1 and b2
      (2L, s"$b1 $b3"),       // loses b1, first holder of b3
      (3L, s"$b2 $b3 $b4"))   // loses b2 and b3, keeps b4
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("text_paragraph_dedup", dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 2L, s"$b1 $b2")), "doc 1 is first everywhere: untouched")
    assert(out(2L) == ((2L, 1L, b3)), "doc 2 must lose b1 to doc 1")
    assert(out(3L) == ((3L, 1L, b4)), "doc 3 must lose b2 and b3 upstream")
  }

  test("paragraph dedup on the corpus: conservation and real removal") {
    val out = q("text_paragraph_dedup", sf001).collect()
    val nDocs = thrivespark.Tables.documents(spark, sf001).count()
    assert(out.length == nDocs, "every doc must come back (possibly emptied)")
    val paras = out.map(_.getAs[Long]("n_paras")).sum
    val kept = out.map(_.getAs[Long]("n_kept")).sum
    // paragraph count conservation vs an independent recount of the corpus
    val expParas = thrivespark.Tables.documents(spark, sf001)
      .select((floor((size(split(col("text"), " ")) - 1) / lit(10)) + 1).as("np"))
      .agg(sum("np")).head().getLong(0)
    assert(paras == expParas, "n_paras must partition the whole corpus")
    assert(kept < paras, "the corpus has cross-doc repeats; some must drop")
    assert(kept > 0)
    // a doc that lost everything still emits an empty rewritten text
    out.foreach { r =>
      val expectEmpty = r.getAs[Long]("n_kept") == 0
      assert((r.getAs[String]("new_text").isEmpty) == expectEmpty)
    }
  }

  // --------------------------------------------------- etl_global_shuffle ---

  test("global shuffle: a permutation with contiguous per-shard positions") {
    val out = q("etl_global_shuffle", sf001).collect()
    val nDocs = thrivespark.Tables.documents(spark, sf001).count()
    assert(out.length == nDocs)
    assert(out.map(_.getAs[Long]("doc_id")).distinct.length == nDocs,
      "every doc appears exactly once")
    out.groupBy(_.getAs[Int]("shard")).foreach { case (_, rows) =>
      val pos = rows.map(_.getAs[Int]("pos")).sorted
      assert(pos.toSeq == (1 to rows.length), "positions are a contiguous rank")
    }
    // content-addressed: a rerun is byte-identical
    val again = q("etl_global_shuffle", sf001).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // and it actually shuffles: doc order within a shard is not id order
    val firstShard = out.filter(_.getAs[Int]("shard") == out.head.getAs[Int]("shard"))
      .sortBy(_.getAs[Int]("pos")).map(_.getAs[Long]("doc_id"))
    assert(firstShard.toSeq != firstShard.sorted.toSeq,
      "positions must follow the hash key, not doc_id")
  }

  // -------------------------------------------------- analytics_domain_mix ---

  test("domain mix: fractions valid, en-weighted, budget disciplined") {
    val out = q("analytics_domain_mix", sf001).collect()
    assert(out.length == 5, "one row per language")
    var totalTokens = 0L; var sampledTokens = 0L; var expectedTokens = 0.0
    out.foreach { r =>
      val frac = r.getAs[Double]("target_frac")
      assert(frac > 0.0 && frac <= 1.0)
      assert(r.getAs[Long]("n_sampled") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("tokens_sampled") <= r.getAs[Long]("lang_tokens"))
      totalTokens += r.getAs[Long]("lang_tokens")
      sampledTokens += r.getAs[Long]("tokens_sampled")
      expectedTokens += frac * r.getAs[Long]("lang_tokens")
    }
    val budget = totalTokens * 6 / 10
    // target_frac is rounded to 6 decimals in the output, so the recomputed
    // mass can exceed the true (in-budget) plan by up to 0.5e-6 per token
    assert(expectedTokens <= budget + 1e-6 * totalTokens,
      "planned per-domain token mass must stay inside the global budget")
    // hash-threshold selection is unbiased; on this fixed corpus the
    // deterministic realization stays within 15% of the planned mass
    assert(math.abs(sampledTokens - expectedTokens) < 0.15 * expectedTokens,
      s"realized $sampledTokens vs planned $expectedTokens drifted")
    // the en row must carry the 4x target weight: its planned fraction is
    // min(1, budget*0.5/en_tokens) — strictly larger than any 0.125 row's
    // unless both clamp at 1
    val fr = out.map(r => r.getAs[String]("lang") -> r.getAs[Double]("target_frac")).toMap
    val others = fr.filter(_._1 != "en").values
    assert(fr("en") >= others.max || fr("en") == 1.0)
  }

  test("domain upsample: en exceeds one epoch, emission matches the plan") {
    val out = q("analytics_domain_upsample", sf001).collect()
    assert(out.length == 5, "every language must emit rows on this corpus")
    var planned = 0.0; var emitted = 0L; var total = 0L
    out.foreach { r =>
      val epochs = r.getAs[Double]("target_epochs")
      val nDocs = r.getAs[Long]("n_docs")
      // every doc emits at least floor(epochs) copies
      assert(r.getAs[Long]("n_emitted") >= epochs.toLong * nDocs)
      planned += epochs * r.getAs[Long]("lang_tokens")
      emitted += r.getAs[Long]("tokens_emitted")
      total += r.getAs[Long]("lang_tokens")
    }
    val en = out.find(_.getAs[String]("lang") == "en").get
    assert(en.getAs[Double]("target_epochs") > 1.0, "en must be upsampled")
    assert(en.getAs[Double]("achieved_epochs") > 1.0,
      "upsampling must actually emit more than one epoch of en")
    // weights sum to 1, so the planned mass is exactly the 120% budget;
    // the hash-threshold realization stays close on this fixed corpus
    val budget = total * 12 / 10
    assert(math.abs(planned - budget) <= 1e-6 * total)
    assert(math.abs(emitted - planned) < 0.15 * planned,
      s"realized $emitted vs planned $planned drifted")
  }

  // ---------------------------------------------------- text_chunk_overlap ---

  test("chunk overlap: stride coverage, boundary rule, and chunk counts") {
    val C = 32; val S = 24
    val out = q("text_chunk_overlap", sf001).collect()
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
    val lens = thrivespark.Tables.documents(spark, sf001)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byDoc.keySet == lens.keySet, "every doc must chunk")
    byDoc.foreach { case (docId, rows) =>
      val n = lens(docId)
      val ids = rows.map(_.getAs[Int]("chunk_id")).sorted
      assert(ids.toSeq == (0 to (n - 1) / S), s"doc $docId: wrong chunk ids")
      rows.foreach { r =>
        val i = r.getAs[Int]("chunk_id")
        assert(r.getAs[Int]("n_chunk_tokens") == math.min(C, n - i * S))
      }
      // stride < chunk ⇒ chunks cover every token: last chunk starts at
      // ((n-1)/S)*S + 1 ≤ n and each previous chunk reaches into the next
      assert(((n - 1) / S) * S < n)
    }
  }

  // --------------------------------------------------- sim_doc_topk_hashed ---

  test("hashed top-k: planted exact duplicate ranks 1 with sim_micro = 1e6") {
    import spark.implicits._
    // doc 0 is on the query slice (doc_id % 50 == 0); doc 7 is its exact
    // duplicate, so dot = ‖q‖² = ‖c‖² and cos² in truncating micros is
    // exactly 1e6 — the only value that can hold rank 1 against any
    // non-identical candidate. Remaining docs share some tokens so the
    // list is non-trivial below rank 1.
    val dup = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (0L, dup),
      (7L, dup),
      (8L, "alpha beta gamma other words here"),
      (9L, "delta epsilon zeta more filler tokens"),
      (11L, "completely unrelated vocabulary entirely"),
      (50L, "alpha alpha alpha beta beta gamma")) // second query point
      .toDF("doc_id", "text")
    val out = thrivespark.ops.Text.hashedTopKFrom(docs).collect()
    val q0 = out.filter(_.getAs[Long]("q_id") == 0L).sortBy(_.getAs[Int]("rn"))
    assert(q0.nonEmpty && q0.head.getAs[Long]("c_id") == 7L,
      "the exact duplicate must hold rank 1")
    assert(q0.head.getAs[Long]("sim_micro") == 1000000L,
      "identical docs: cos² in truncating micros is exactly 1e6")
    assert(q0.forall(_.getAs[Long]("sim_micro") <= 1000000L))
    // per-query lists: contiguous ranks, at most 5, sim non-increasing
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rn"))
      assert(sorted.map(_.getAs[Int]("rn")).toSeq == (1 to sorted.length))
      assert(sorted.length <= 5)
      val sims = sorted.map(_.getAs[Long]("sim_micro")).toSeq
      assert(sims == sims.sorted.reverse, "sim must be non-increasing in rank")
    }
    // both query points (0 and 50) produced lists; non-queries produced none
    assert(out.map(_.getAs[Long]("q_id")).distinct.sorted.toSeq == Seq(0L, 50L))
  }

  test("hashed retrieval shape (r18): corpus-side volume is O(postings); " +
      "the r17 inverted-index join was O(Q×C×shared-buckets); bucket " +
      "pruning cannot bite on this corpus — all measured, not asserted") {
    val docs = thrivespark.Tables.documents(spark, sf001)
    val c = thrivespark.ops.Text.hashedBuckets(docs)
    val q = c.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("q_id"), col("bucket"))
    // the r18 shape's only corpus-side aggregated/shuffled volume: postings
    val postings = c.count()
    // the r17 shape's intermediate: bucket equi-join rows before re-grouping
    val invRows = q.join(c.select(col("doc_id").as("c_id"), col("bucket")), Seq("bucket"))
      .filter(col("q_id") =!= col("c_id")).count()
    val nQ = q.select(col("q_id")).distinct().count()
    val nC = c.select(col("doc_id")).distinct().count()
    val qxc = nQ * nC
    assert(invRows > 7 * postings,
      s"measured: inverted-index rows $invRows vs postings $postings — the " +
        "r17 join paid >7x the corpus volume (15.0M rows / 17.9 s at sf0.1)")
    assert(postings < qxc * 2,
      s"postings $postings stay O(corpus), near/below QxC=$qxc, and do not " +
        "grow with the query count")
    // pruning impossibility: ~every (q,c) pair shares >=1 bucket (31-token
    // uniform vocabulary), so ANY posting-list pruning (df valve, per-side
    // top-m prefix, larger B) changes results — the dense broadcast scan
    // is the correct shape, not a missed index
    val sharingPairs = q.join(c.select(col("doc_id").as("c_id"), col("bucket")), Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id")).distinct().count()
    val allPairs = qxc - nQ // minus self-pairs
    assert(sharingPairs.toDouble / allPairs > 0.99,
      s"measured: $sharingPairs of $allPairs query-candidate pairs share a " +
        "bucket — a pruned index admits everything anyway")
    // plan shape: query batch broadcast, exact dot in the codegen loop, no
    // shuffle-requiring join anywhere in the retrieval
    for (key <- Seq("sim_doc_topk_hashed", "pipeline_rag_retrieval")) {
      val df = thrivespark.Registry.queries(key)(spark, sf001)
      PlanShape.assertUsesCodegenExpr(df, "vec_dot_long", key)
      PlanShape.assertBroadcastsSmallSide(df, key)
      PlanShape.assertNoShuffleJoin(df, key)
    }
  }

  test("hashed top-k overflow guard: a ~20k-token doc pushes 1e6*dot^2 past " +
      "Long, the DECIMAL branch computes cos^2 exactly (r17 advisory)") {
    import spark.implicits._
    // identical 20k-token docs: nrm = dot ≈ 31 buckets × (20000/31)² ≈ 1.3e7
    // ⇒ both norms exceed the 3.037e6 Long-safety bound (branch exercised)
    // and 1e6·dot² ≈ 1.7e20 > 2^63 (the r17 Long-only form wrapped here);
    // an exact engine must still read cos² = 1e6 for the duplicate.
    val big = (1 to 20000).map(i => s"w${i % 31}").mkString(" ")
    val docs = Seq((0L, big), (7L, big), (9L, "w1 w2 w3 other words"))
      .toDF("doc_id", "text")
    val out = thrivespark.ops.Text.hashedTopKFrom(docs).collect()
    val q0 = out.filter(_.getAs[Long]("q_id") == 0L).sortBy(_.getAs[Int]("rn"))
    assert(q0.head.getAs[Long]("c_id") == 7L)
    val dot = q0.head.getAs[Long]("dot")
    assert(dot > 3037000L,
      s"fixture must exceed the Long-path bound to exercise the DECIMAL branch, dot=$dot")
    assert(BigInt(1000000) * BigInt(dot) * BigInt(dot) > BigInt(Long.MaxValue),
      "fixture must actually overflow the r17 Long numerator")
    assert(q0.head.getAs[Long]("sim_micro") == 1000000L,
      "identical giant docs: the DECIMAL branch must still be exact")
  }

  test("sim_micro raises past the DECIMAL bound instead of a silent NULL " +
      "rank (r19 — cross-engine divergence must fail loudly)") {
    import spark.implicits._
    // just under the bound: exact BigInt arithmetic must agree
    val under = Seq((5_599_999_999_999_999L, 6_000_000_000_000_000_000L,
        6_000_000_000_000_000_000L))
      .toDF("dot", "q_nrm", "c_nrm")
      .select(thrivespark.ops.Text.simMicroExpr.as("s")).head().getLong(0)
    val dot = BigInt(5_599_999_999_999_999L)
    val expected = (BigInt(1000000) * dot * dot /
      (BigInt(6_000_000_000_000_000_000L) * BigInt(6_000_000_000_000_000_000L))).toLong
    assert(under == expected, s"near-bound DECIMAL branch must stay exact: $under")
    // at/over the bound: loud failure, not NULL-ranks-last
    val ex = intercept[Exception] {
      Seq((5_600_000_000_000_000L, 6_000_000_000_000_000_000L,
          6_000_000_000_000_000_000L))
        .toDF("dot", "q_nrm", "c_nrm")
        .select(thrivespark.ops.Text.simMicroExpr.as("s")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("sim_micro")),
      s"overflow must surface the sim_micro raise, got: ${msgs(ex).take(3)}")
    // r20: the bound is on MAGNITUDE — a dot at −bound would pass a
    // one-sided `dot < bound` guard into the DECIMAL branch, overflow
    // DECIMAL(38,0) and reproduce the silent non-ANSI NULL rank the guard
    // exists to eliminate (unreachable via the op surface: hashed counts
    // are nonnegative — but simMicroExpr is public as the guard's spec)
    val exNeg = intercept[Exception] {
      Seq((-5_600_000_000_000_000L, 6_000_000_000_000_000_000L,
          6_000_000_000_000_000_000L))
        .toDF("dot", "q_nrm", "c_nrm")
        .select(thrivespark.ops.Text.simMicroExpr.as("s")).collect()
    }
    assert(msgs(exNeg).exists(_.contains("sim_micro")),
      s"negative-dot overflow must raise too, got: ${msgs(exNeg).take(3)}")
    // just inside on the negative side: exact, no raise, no NULL
    val underNeg = Seq((-5_599_999_999_999_999L, 6_000_000_000_000_000_000L,
        6_000_000_000_000_000_000L))
      .toDF("dot", "q_nrm", "c_nrm")
      .select(thrivespark.ops.Text.simMicroExpr.as("s")).head().getLong(0)
    assert(underNeg == expected,
      s"dot² kills the sign — negative near-bound must equal positive: $underNeg")
  }

  test("sim_micro r21 guard edges: Long.MinValue raises (non-ANSI abs kept " +
      "it negative and slipped it into the DECIMAL branch), and a fast-path " +
      "norm-contract violation falls through instead of wrapping") {
    import spark.implicits._
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    // dot = Long.MinValue: abs() stays negative in non-ANSI mode, so the
    // r20 abs-based magnitude guard admitted it to DECIMAL(38,0), where
    // 1e6·dot² overflows 38 digits to the silent NULL rank; the symmetric
    // range test must route it to the raise
    val exMin = intercept[Exception] {
      Seq((Long.MinValue, 6_000_000_000_000_000_000L, 6_000_000_000_000_000_000L))
        .toDF("dot", "q_nrm", "c_nrm")
        .select(thrivespark.ops.Text.simMicroExpr.as("s")).collect()
    }
    assert(msgs(exMin).exists(_.contains("sim_micro")),
      s"Long.MinValue must hit the loud raise, got: ${msgs(exMin).take(3)}")
    // norms under the fast-path bound but dot violating Cauchy–Schwarz
    // (impossible through the op surface): the r20 fast path computed
    // 1e6·dot·dot with silent wraparound; the |dot| gate now routes it to
    // the exact DECIMAL branch (in-bound) — exact, not wrapped
    val v = Seq((4_000_000L, 10L, 10L)).toDF("dot", "q_nrm", "c_nrm")
      .select(thrivespark.ops.Text.simMicroExpr.as("s")).head().getLong(0)
    val exact = (BigInt(1000000) * BigInt(4_000_000L) * BigInt(4_000_000L) /
      (BigInt(10) * BigInt(10))).toLong
    assert(v == exact, s"contract-violating dot must stay exact via DECIMAL: $v")
  }

  // ------------------------------------------------- pipeline_rag_retrieval ---

  test("rag retrieval: planted buried passage found at the right chunk") {
    import spark.implicits._
    // doc 0 is a 24-token query; doc 7 buries those exact 24 tokens AFTER
    // 24 filler tokens, so with C=32/S=24 its chunk 1 is precisely the
    // query text. Chunk-granularity retrieval must (a) surface doc 7 at
    // rank 1 with sim_micro exactly 1e6 and (b) point at chunk 1, not
    // chunk 0 — a doc-granularity cosine would dilute the match with the
    // filler and could not localize it.
    val qtoks = (1 to 24).map(i => s"q$i").mkString(" ")
    val filler = (1 to 24).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (0L, qtoks),
      (7L, s"$filler $qtoks"),
      (9L, "q1 q2 q3 " + (1 to 10).map(i => s"x$i").mkString(" ")),
      (50L, (1 to 12).map(i => s"z$i").mkString(" ")),
      (3L, "z1 z2 z3 z4 unrelated padding words"))
      .toDF("doc_id", "text")
    val out = thrivespark.ops.Text.ragRetrievalFrom(docs).collect()
    val q0 = out.filter(_.getAs[Long]("q_id") == 0L).sortBy(_.getAs[Int]("rn"))
    assert(q0.nonEmpty && q0.head.getAs[Long]("c_id") == 7L,
      "the doc hiding the exact passage must hold rank 1")
    assert(q0.head.getAs[Int]("best_chunk") == 1,
      "retrieval must localize the passage to chunk 1, past the filler")
    assert(q0.head.getAs[Long]("sim_micro") == 1000000L,
      "an exact chunk match scores cos² = 1e6 exactly")
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rn"))
      assert(sorted.map(_.getAs[Int]("rn")).toSeq == (1 to sorted.length))
      assert(sorted.length <= 3)
      val sims = sorted.map(_.getAs[Long]("sim_micro")).toSeq
      assert(sims == sims.sorted.reverse)
    }
    assert(out.map(_.getAs[Long]("q_id")).distinct.sorted.toSeq == Seq(0L, 50L))
  }
}
