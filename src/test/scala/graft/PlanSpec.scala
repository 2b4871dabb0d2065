package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{And, Expression, GreaterThan, LessThan, Literal, Rand}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.functions._
import thrivespark.Registry
import thrivespark.ops.{Shingles, UdfSurface}

/** Plan-shape assertions (SURVEY.md §5.2 layer 2): the physical plans the
  * 100 TB design counts on actually materialize. */
class PlanSpec extends AnyFunSuite {
  import SparkTestBase._

  private def plan(key: String): String =
    Registry.queries(key)(spark, sf0001).queryExecution.executedPlan.toString

  /** sf0001's (a_id, b_id) pairs with a_id < b_id and dot > τ, computed
    * in plain Scala so no optimizer rule can touch it. */
  private def bruteForcePairs(tau: Double): Set[(Long, Long)] = {
    val vecs = thrivespark.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    (for {
      (ia, ea) <- vecs; (ib, eb) <- vecs if ia < ib
      d = ea.zip(eb).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
      if d > tau
    } yield (ia, ib)).toSet
  }

  /** The naive similarity self-join on sf0001's embeddings, as a user
    * writes it: `vec_dot(e_a, e_b) > τ AND a_id < b_id`. */
  private def simSides: (DataFrame, DataFrame) = {
    val emb = thrivespark.Tables.embeddings(spark, sf0001)
    (emb.select(col("vec_id").as("a_id"), col("embedding").as("e_a")),
     emb.select(col("vec_id").as("b_id"), col("embedding").as("e_b")))
  }
  private def simCond(tau: Double) =
    call_function("vec_dot", col("e_a"), col("e_b")) > tau && col("a_id") < col("b_id")

  /** The join SimilarityJoinRewrite produced in df's optimized plan. */
  private def rewrittenJoin(df: DataFrame): Join =
    df.queryExecution.optimizedPlan.collectFirst {
      case j: Join if j.condition.exists(_.references.exists(_.name == "__sim_bucket_l")) => j
    }.getOrElse(fail(s"no rewritten join in:\n${df.queryExecution.optimizedPlan}"))

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case c => Seq(c)
  }

  test("join_broadcast plans a BroadcastHashJoin (no fact shuffle)") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("join_sort_merge plans a SortMergeJoin") {
    assert(plan("join_sort_merge").contains("SortMergeJoin"))
  }

  test("scan_pushdown_filter pushes predicates into the parquet scan") {
    val p = plan("scan_pushdown_filter")
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    // toString truncates the list; the shipdate range + discount not-null
    // reaching the scan proves both predicates were pushed
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), s"shipdate filter not pushed:\n$p")
    assert(p.contains("IsNotNull(l_discount)"), s"discount filter not pushed:\n$p")
  }

  test("scan reads only projected columns (column pruning)") {
    val p = Registry.queries("scan_pushdown_filter")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_tax"), "unprojected column l_tax must not be read")
  }

  test("join_bucketed: sort-merge join with NO shuffle exchange") {
    import thrivespark.ops.Extras
    Extras.bucketedTables(spark, sf0001)
    val (liT, oT) = Extras.bucketedNames(sf0001)
    // hint merge: at sf0.001 the planner would otherwise broadcast the tiny
    // side; the property under test is the shuffle-free SMJ over buckets
    val joined = spark.table(liT).hint("merge").join(spark.table(oT),
      org.apache.spark.sql.functions.col("l_orderkey") ===
      org.apache.spark.sql.functions.col("o_orderkey"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
    assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
  }

  test("topk_global plans TakeOrderedAndProject (no global sort)") {
    assert(plan("topk_global").contains("TakeOrderedAndProject"))
  }

  test("PPM feature extraction is a map-only stage: zero exchanges of any kind") {
    // The multimodal decode's scale story is "no shuffle — linear in
    // executors"; ScaleStressSpec measures the wall-clock side at 50×,
    // this pins the plan side at fixture grain.
    val mm = thrivespark.multimodal.Multimodal
    val p = mm.extractPpmFeatures(
        mm.mediaPpmFromDocuments(thrivespark.Tables.documents(spark, sf0001)))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"decode stage must not shuffle:\n$p")
    // same contract for the audio leg
    val pa = mm.extractWavFeatures(
        mm.mediaWavFromDocuments(thrivespark.Tables.documents(spark, sf0001)))
      .queryExecution.executedPlan.toString
    assert(!pa.contains("Exchange"), s"audio decode stage must not shuffle:\n$pa")
    // ... the video leg ...
    val pv = mm.extractY4mFeatures(
        mm.mediaY4mFromDocuments(thrivespark.Tables.documents(spark, sf0001)), 3)
      .queryExecution.executedPlan.toString
    assert(!pv.contains("Exchange"), s"video decode stage must not shuffle:\n$pv")
    // ... and for the FUSED trimodal manifest: one scan, one map stage, no
    // per-modality rejoin — the production plan shape
    val pt = mm.extractTrimodalManifest(
        mm.mediaTrimodalFromDocuments(thrivespark.Tables.documents(spark, sf0001)), 3)
      .queryExecution.executedPlan.toString
    assert(!pt.contains("Exchange"), s"trimodal manifest must not shuffle:\n$pt")
    assert(!pt.contains("Join"), s"trimodal manifest must not join:\n$pt")
  }

  test("SimilarityJoinRewrite leaves equi-keyed similarity joins untouched") {
    // sim_threshold_pairs blocks on label (an equi conjunct): the rule must
    // not inject probes there — its plan stays a plain equi-join on label
    val p = plan("sim_threshold_pairs")
    assert(!p.contains("__sim_bucket"), s"rule fired on an equi-keyed join:\n$p")
    assert(!p.contains("Generate"), s"unexpected probe expansion:\n$p")
  }

  test("sim_join_rewrite: naive vec_dot>τ join plans as equi-join, not cartesian") {
    val p = plan("sim_join_rewrite")
    assert(!p.contains("CartesianProduct"), s"cartesian survived:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ survived:\n$p")
    // the injected blocking: a 3-probe generate + hash/merge join on buckets
    assert(p.contains("Generate"), s"probe expansion missing:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), s"no equi-join:\n$p")
    // and the rewrite is exact: same pairs as a driver-side brute force
    val naive = bruteForcePairs(0.45)
    val rewritten = Registry.queries("sim_join_rewrite")(spark, sf0001)
      .select(col("a_id"), col("b_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rewritten == naive, s"lost=${naive.diff(rewritten)} extra=${rewritten.diff(naive)}")
  }

  test("sim_join_rewrite's degenerate bucket is grid-salted into a shuffle join " +
      "at the default threshold and at -1, and the salted join is exact") {
    // At τ=0.45 buckets cannot prune (k = 1): the packed key takes ~2
    // values, so the verify's parallelism must come from the P×Q salt
    // grid at every input size. A size-based BroadcastHashJoin would run
    // as many tasks as the probe scan has partitions (one for a
    // one-row-group side), so the default threshold must give the same
    // plan as threshold=-1 (the 100 TB planner's view): deterministic
    // per-row salts on both sides and a shuffle join, never a broadcast.
    val naive = bruteForcePairs(0.45)
    def check(label: String): Unit = {
      val p = plan("sim_join_rewrite")
      assert(p.contains("__sim_salt_l") && p.contains("__sim_salt_r"),
        s"$label: expected the salt grid:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"$label: expected a shuffle join:\n$p")
      assert(!p.contains("BroadcastHashJoin"), s"$label: the verify broadcast:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
      // exactness THROUGH the salted plan: same pairs as brute force
      val salted = Registry.queries("sim_join_rewrite")(spark, sf0001)
        .select(col("a_id"), col("b_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(salted.length == naive.size,
        s"$label: salted join must emit each pair exactly once: ${salted.length} vs ${naive.size}")
      assert(salted.toSet == naive,
        s"$label: lost=${naive.diff(salted.toSet)} extra=${salted.toSet.diff(naive)}")
    }
    check("default threshold")
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(bcast)
    try {
      spark.conf.set(bcast, "-1")
      check("threshold=-1")
    } finally saved match {
      case Some(v) => spark.conf.set(bcast, v)
      case None    => spark.conf.unset(bcast)
    }
  }

  test("sim_join_rewrite: the rewritten join checks a_id < b_id before vec_dot") {
    val j = rewrittenJoin(Registry.queries("sim_join_rewrite")(spark, sf0001))
    val order = conjuncts(j.condition.get).collect {
      case c if c.exists(_.isInstanceOf[thrivespark.functions.VecDot]) => "vec_dot"
      case c: LessThan if c.references.map(_.name).toSet == Set("a_id", "b_id") => "a_id<b_id"
    }
    assert(order == Seq("a_id<b_id", "vec_dot"), s"verify order $order in ${j.condition.get}")
  }

  test("SimilarityJoinRewrite keeps the user's conjunct order when one is nondeterministic") {
    // the analyzer rejects nondeterministic join conditions from the
    // DataFrame API, so the rule is applied to a hand-built join
    val (a, b) = simSides
    val (la, lb) = (a.queryExecution.analyzed, b.queryExecution.analyzed)
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n).get
    val userCond = And(And(
      GreaterThan(thrivespark.functions.VecDot(attr(la, "e_a"), attr(lb, "e_b")), Literal(0.45)),
      LessThan(Rand(Literal(7L)), Literal(2.0))),
      LessThan(attr(la, "a_id"), attr(lb, "b_id")))
    val out = thrivespark.plans.SimilarityJoinRewrite(
      Join(la, lb, Inner, Some(userCond), JoinHint.NONE))
    val j = out.collectFirst { case j: Join => j }.get
    assert(conjuncts(j.condition.get).tail == conjuncts(userCond),
      s"user order not kept: ${j.condition.get}")
  }

  test("SimilarityJoinRewrite keeps a user's broadcast hint on the salted join") {
    val (a, b) = simSides
    val df = a.join(broadcast(b), simCond(0.45))
    val j = rewrittenJoin(df)
    assert(j.hint.rightHint.flatMap(_.strategy).contains(BROADCAST), s"hint lost: ${j.hint}")
    assert(j.hint.leftHint.flatMap(_.strategy).isEmpty, s"strategy added: ${j.hint}")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("__sim_salt_l"), s"expected the salt grid:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"expected the hinted broadcast:\n$p")
    assert(df.count() == bruteForcePairs(0.45).size)
  }

  test("SimilarityJoinRewrite: τ=0.99 (k = 3) gets no salt and no added hint") {
    val (a, b) = simSides
    val df = a.join(b, simCond(0.99))
    val j = rewrittenJoin(df)
    assert(j.hint == JoinHint.NONE, s"hint added: ${j.hint}")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("__sim_salt"), s"salt fired where buckets prune:\n$p")
    val pairs = df.select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == bruteForcePairs(0.99))
  }

  test("multi-projection blocking: prunes below single-projection in the " +
      "near-dup regime; no recall-1 scheme can prune at mid-τ (measured)") {
    import thrivespark.plans.SimilarityJoinRewrite
    val emb = thrivespark.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    def bucketed(us: Seq[Array[Float]], w: Double): org.apache.spark.sql.DataFrame =
      emb.select(col("vec_id") +: us.zipWithIndex.map { case (u, i) =>
        floor(call_function("vec_dot", col("embedding"), typedlit(u.toSeq)) / w)
          .as(s"f$i")
      }: _*)
    // candidate count = pairs surviving the bucket-adjacency join (equality
    // after ±1 probes ⟺ every coordinate differs by ≤ 1)
    def candidates(df: org.apache.spark.sql.DataFrame, k: Int): Long =
      df.as("x").join(df.as("y"), col("x.vec_id") < col("y.vec_id") &&
          (0 until k).map(i => abs(col(s"x.f$i") - col(s"y.f$i")) <= 1)
            .reduce(_ && _))
        .count()
    val fixedU = Seq(Array.fill(64)(0.125f)) // r4's single fixed probe
    val us = SimilarityJoinRewrite.probeVectors.toSeq
    val k = SimilarityJoinRewrite.NumProjections
    // near-dup regime (τ=0.99, w≈0.14): each projection prunes, and AND-ing
    // k of them multiplies — candidates must drop strictly below single
    val wHi = SimilarityJoinRewrite.width(0.99)
    val singleHi = candidates(bucketed(fixedU, wHi), 1)
    val multiHi = candidates(bucketed(us, wHi), k)
    assert(multiHi < singleHi,
      s"τ=0.99: multi ($multiHi) not below single ($singleHi)")
    // mid-τ regime (τ=0.45, w≈1.05): the recall-1 Cauchy–Schwarz width
    // exceeds the whole projection spread of 64-dim unit vectors (~N(0,1/64)
    // per coordinate), so NO projection count can prune — both configs must
    // admit every pair. This pins the documented measurement: the rewrite's
    // value at mid-τ is the plan shape (equi-join, never cartesian), not
    // candidate reduction.
    val all = emb.count(); val allPairs = all * (all - 1) / 2
    val wLo = SimilarityJoinRewrite.width(0.45)
    assert(candidates(bucketed(us, wLo), k) == allPairs)
    // and the rule picks its projection count accordingly: extra probes are
    // pure 3^k fan-out where buckets cannot prune
    assert(SimilarityJoinRewrite.projectionsFor(0.45) == 1)
    assert(SimilarityJoinRewrite.projectionsFor(0.99) == SimilarityJoinRewrite.NumProjections)
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query and column names line up") {
    val qs = SparkEntry.queries
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k), s"oracle without query: $k"))
  }

  test("custom Catalyst functions are callable from SQL") {
    val d = spark.sql(
      """SELECT vec_dot(array(cast(1.0 as float), cast(2.0 as float)),
        |               array(cast(3.0 as float), cast(4.0 as float))) AS d""".stripMargin)
      .collect()(0).getDouble(0)
    assert(d == 11.0)
    val h = spark.sql("SELECT simhash64(array(1L, 2L, 3L)) AS h").collect()(0).getLong(0)
    assert(h != 0L)
    // extension wiring registers without error
    new thrivespark.GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("q3_order_priority: top-10 via TakeOrderedAndProject, no global sort") {
    val p = plan("q3_order_priority")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
    assert(p.contains("BroadcastHashJoin"), "filtered customer side must broadcast")
  }

  test("q5_regional_volume: dim chain broadcasts; one agg shuffle on the fact") {
    val df = Registry.queries("q5_regional_volume")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"dim chain must broadcast:\n$p")
    // lineitem joins happen map-side: the only Exchanges are the aggregate
    // shuffle and the final order-by (plus broadcasts, which don't count)
    val shuffles = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(shuffles <= 2, s"fact side must not shuffle before the agg ($shuffles):\n$p")
  }

  test("partitioned sink read-back prunes partitions on the dt filter") {
    // Hive-style dt= layout: a filter on the partition column must become a
    // PartitionFilter (directories skipped), not a row-level Filter over a
    // full scan — THE property that makes incremental reads O(day) not
    // O(history) at 100 TB.
    Registry.queries("sink_partitioned")(spark, sf0001).count() // ensure sink
    val sink = thrivespark.Scratch.sink("sink_partitioned", sf0001)
    try {
      val p = spark.read.parquet(sink)
        .filter(col("dt") === "2024-01-15")
        .queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [isnotnull(dt"), s"no partition pruning:\n$p")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sink)): Unit
  }

  test("text_lm_score: top-K vocab via TakeOrdered, scored via broadcast join " +
       "(no driver-side vocabulary)") {
    val p = plan("text_lm_score")
    assert(p.contains("TakeOrderedAndProject"), s"no top-K vocab cap:\n$p")
    assert("BroadcastHashJoin .*LeftOuter".r.findFirstIn(p).isDefined,
      s"vocab not broadcast-joined:\n$p")
  }

  test("q18_large_orders: the heavy-hitter list is the broadcast side") {
    val p = plan("q18_large_orders")
    // the survivor set (aggregated + filtered lineitem) must be the build
    // side of the first enrichment join — broadcasting the dims instead is
    // the plan that dies at 100 TB
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    val buildLeft = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("BuildLeft"))
    assert(buildLeft, s"survivor set not the build side:\n$p")
  }

  test("q3/q5/q14/q18: the explicit broadcast() hints carry the plan under " +
      "autoBroadcastJoinThreshold=-1 (the 100 TB planner's view)") {
    // At test scale every table fits under the default 10 MB threshold, so a
    // BroadcastHashJoin in the plan could be the SIZE ESTIMATE talking, not
    // the hint. Disable size-based broadcasting entirely: whatever still
    // broadcasts is hint-carried — the shape a 100 TB planner (where no dim
    // fits the estimate) would still produce.
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(bcast)
    try {
      spark.conf.set(bcast, "-1")
      for (q <- Seq("q3_order_priority", "q5_regional_volume",
                    "q14_promo_revenue", "q18_large_orders")) {
        val p = plan(q)
        assert(p.contains("BroadcastHashJoin"),
          s"$q: explicit broadcast hint did not survive threshold=-1:\n$p")
      }
      // and q18's survivor set must STILL be the build side
      val p18 = plan("q18_large_orders")
      assert(p18.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("BuildLeft")),
        s"q18 survivor set not the build side under threshold=-1:\n$p18")
    } finally saved match {
      case Some(v) => spark.conf.set(bcast, v)
      case None    => spark.conf.unset(bcast)
    }
  }

  test("sink_hive_table: catalog round-trip, partition listing, pruned read-back") {
    Registry.queries("sink_hive_table")(spark, sf0001).count() // materialize table
    val table = thrivespark.ops.Scans.hiveSinkTable(sf0001)
    try {
      // the catalog knows the table AND its partitions (the Hive load contract)
      assert(spark.catalog.tableExists(table))
      val nParts = spark.sql(s"SHOW PARTITIONS $table").count()
      assert(nParts >= 2, s"expected multiple dt partitions, got $nParts")
      // a dt filter on the catalog read-back must prune partitions, not scan all
      val p = spark.table(table)
        .filter(col("dt") === "2024-01-15")
        .queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [isnotnull(dt"), s"no partition pruning:\n$p")
    } finally {
      // external table: dropping it leaves the files, so remove them too
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(thrivespark.Scratch.sink("hivetbl", sf0001)))
    }
  }

  // graft_eph is the one shared parent the engine's ephemera nest under
  private def graftRoots(): Set[String] = Option(new java.io.File("/tmp").list()).toSet.flatten
    .filter(n => n.startsWith("graft_") && n != "graft_eph")

  test("sink_hive_table adds no entry at the /tmp root") {
    val before = graftRoots()
    val table = thrivespark.ops.Scans.hiveSinkTable(sf0001)
    try {
      assert(Registry.queries("sink_hive_table")(spark, sf0001).count() > 0)
      val added = graftRoots() -- before
      assert(added.isEmpty, s"new /tmp root entries: $added")
      assert(new java.io.File(thrivespark.Scratch.sink("hivetbl", sf0001)).isDirectory)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(thrivespark.Scratch.sink("hivetbl", sf0001)))
    }
  }

  test("the other per-run sink ops add no entry at the /tmp root") {
    // op -> its per-JVM Scratch.sink name
    val sinks = Seq("source_jsonl_roundtrip" -> "jsonl", "source_text_roundtrip" -> "txt",
      "source_csv_roundtrip" -> "csv", "source_orc_roundtrip" -> "orc",
      "etl_retention_vacuum" -> "vacuum", "source_schema_evolution" -> "evo",
      "sink_zorder_layout" -> "zorder", "sink_partitioned" -> "sink_partitioned",
      "source_binary_files" -> "binsrc", "sim_ann_incremental" -> "annidx")
    val before = graftRoots()
    try sinks.foreach { case (op, sink) =>
      assert(Registry.queries(op)(spark, sf0001).count() > 0, op)
      val added = graftRoots() -- before
      assert(added.isEmpty, s"$op: new /tmp root entries: $added")
      assert(new java.io.File(thrivespark.Scratch.sink(sink, sf0001)).isDirectory, op)
    } finally sinks.foreach { case (_, sink) =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(thrivespark.Scratch.sink(sink, sf0001)))
    }
  }

  test("text_substring_dedup: shared-window join is size-chosen, not hint-forced " +
      "(under threshold=-1 it must fall back to a shuffle join)") {
    // r7 forced broadcast(shared); on web-crawl corpora boilerplate windows
    // are common, so the forced build side is a 100 TB driver OOM. The fix
    // keeps NO hint: with size-based broadcasting disabled (the planner's
    // view of a corpus where the shared set is big) the plan must degrade
    // to a shuffle join, not cling to a broadcast.
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(bcast)
    try {
      spark.conf.set(bcast, "-1")
      val p = plan("text_substring_dedup")
      assert(!p.contains("BroadcastHashJoin"),
        s"shared-window set must not be hint-broadcast:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffle join fallback:\n$p")
    } finally saved match {
      case Some(v) => spark.conf.set(bcast, v)
      case None    => spark.conf.unset(bcast)
    }
  }

  test("dedup_ngram_jaccard: no cartesian/BNLJ pair enumeration in the plan") {
    val p = plan("dedup_ngram_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"inverted index must not enumerate N^2 pairs:\n$p")
  }

  test("join_theta_band: band buckets ride an equi-join — no BNLJ/cartesian") {
    val p = plan("join_theta_band")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band decomposition must not plan a nested-loop join:\n$p")
  }

  test("q10_returned_items: top-20 via TakeOrderedAndProject; nation broadcasts") {
    val p = plan("q10_returned_items")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"nation must broadcast:\n$p")
  }

  test("join_runtime_filter: bloom filter injects into the fact scan side " +
      "once size thresholds allow (the 100 TB defaults)") {
    val creation = "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
    val appSide = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val enabled = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val saved = Seq(creation, appSide, enabled, bcast)
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(enabled, "true")
      spark.conf.set(creation, "1000GB") // any build side qualifies
      spark.conf.set(appSide, "0")       // any probe side qualifies
      // at 100 TB neither side broadcasts — the rule only injects where the
      // application side shuffles, so pin the at-scale (shuffle) plan
      spark.conf.set(bcast, "-1")
      val p = plan("join_runtime_filter")
      assert(p.contains("might_contain"), s"no bloom runtime filter injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    // at bench scale the thresholds keep it off — the plan is a plain join
    assert(!plan("join_runtime_filter").contains("might_contain"))
  }

  test("etl_snapshot_diff: one co-partitioned merge join, no broadcast of " +
      "either snapshot") {
    val p = plan("etl_snapshot_diff")
    assert(p.contains("SortMergeJoin FullOuter") || p.contains("SortMergeJoin full_outer")
      || p.contains("SortMergeJoin"), s"expected SMJ for the diff:\n$p")
  }

  test("etl_pack_sequences: the doc-level running sum is partition-local; " +
      "only the per-bucket offsets pass through a single partition") {
    val p = plan("etl_pack_sequences")
    // bulk window keyed by the quantile-bucket id, not a global ORDER BY
    assert(p.contains("windowspecdefinition(pid"),
      s"local running sum must partition by pid:\n$p")
    // exactly one SinglePartition exchange — the per-bucket totals
    // (one row per shuffle partition), never the doc-level data
    val singles = "SinglePartition".r.findAllIn(p).size
    assert(singles == 1, s"expected 1 tiny SinglePartition exchange, got $singles:\n$p")
  }

  test("join_dpp_prune: dynamic partition pruning reaches the fact scan") {
    val p = plan("join_dpp_prune")
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning in the fact scan:\n$p")
  }

  test("AQE splits a skewed shuffle-join partition at runtime (skew=true)") {
    // The automatic complement of join_salted_skew's explicit salting: plant
    // a 90%-hot key, shrink the skew thresholds to demo scale, and assert
    // the ADAPTIVE plan re-split the hot partition. At 100 TB the default
    // thresholds (256 MB / factor 5) catch exactly this shape natively.
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "2")
      spark.conf.set(keys(1), "64KB")
      spark.conf.set(keys(2), "32KB")
      spark.conf.set(keys(3), "-1")
      val left = spark.range(400000).select(
        when(col("id") % 100 < 90, 0L).otherwise(col("id")).as("k"),
        col("id").as("payload"))
      val right = spark.range(1000).select(col("id").as("k2"))
      val j = left.join(right, col("k") === col("k2")).select(col("k"))
      // execute THIS frame's queryExecution (count() would plan its own
      // clone and leave j's adaptive plan unfinalized)
      assert(j.collect().length > 0)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"AQE did not split the hot partition:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("dedup_decontaminate: eval window set broadcasts (map-side containment, " +
       "no corpus shuffle on the window key)") {
    val p = plan("dedup_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"eval-window containment must be a broadcast join:\n$p")
    // the only shuffle allowed is the final doc_id aggregation
    assert(!p.contains("SortMergeJoin"),
      s"corpus must not shuffle on the window key:\n$p")
  }

  test("dq_pii_mask: dim generalization broadcasts; masking adds no shuffle") {
    val p = plan("dq_pii_mask")
    assert(p.contains("BroadcastHashJoin"), s"nation dim must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"masking pass must not shuffle:\n$p")
  }

  test("UDF shingles == native shingles composition") {
    import spark.implicits._
    val docs = thrivespark.Tables.documents(spark, sf0001).limit(50)
    val native = docs.select(col("doc_id"), Shingles.shingles3(col("text")).as("sh"))
    val viaUdf = docs.select(col("doc_id"),
      udf(UdfSurface.shinglesFn _).apply(col("text"), lit(3)).as("sh"))
    val diff = native.exceptAll(viaUdf).count() + viaUdf.exceptAll(native).count()
    assert(diff == 0, "UDF and native shingle sets differ")
  }

  test("win_range_between: ONE growing window, no sliding RANGE frame") {
    // the r13 rewrite's load-bearing property: the plan must carry a single
    // Window whose frame GROWS (unboundedpreceding..currentrow — O(n)
    // accumulation in WindowExec), never the declared sliding band frame
    // (rangeBetween(-10000, 0) — O(n·band) buffer re-aggregation)
    val p = plan("win_range_between").toLowerCase
    assert(p.sliding("window".length).count(_ == "window") >= 1)
    assert(p.contains("unboundedpreceding"),
      s"growing cumulative frame missing:\n$p")
    assert(!p.contains("-10000"),
      s"sliding band frame leaked back into the plan:\n$p")
  }

  test("text_substring_exact + text_substring_cut: candidates ride the " +
      "window-hash equi-join — no cartesian pair enumeration") {
    Seq("text_substring_exact", "text_substring_cut").foreach { k =>
      val p = plan(k)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$k must never enumerate doc pairs:\n$p")
    }
  }

  test("substring family reads the session-persisted window index: the " +
      "self-join's BOTH inputs are InMemoryRelation scans of one cache entry") {
    // r13 verdict #1: spanRuns computed the occ (doc_id, i, h) subtree twice
    // per query and each substring op rebuilt it. The index is now persisted
    // once per (corpus, K) session-wide; every family member's plan must
    // read it from cache, never recompute the explode+md5 subtree.
    Seq("text_substring_exact", "text_substring_cut",
        "text_substring_dedup", "text_substring_maxdf").foreach { k =>
      val p = plan(k)
      assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
        s"$k does not read the cached window index:\n$p")
    }
    // For exact + dedup the index explode is the ONLY Generate in the op,
    // and it lives inside the cacheBuilder: no Generate may survive outside
    // the cached relation. (cut legitimately explodes covered positions and
    // the rebuilt docs' tokens downstream, so it is exempt here.) toString
    // prints the InMemoryRelation's stored subtree too — strip to the
    // pre-cache section before asserting.
    Seq("text_substring_exact", "text_substring_dedup").foreach { k =>
      val outside = plan(k).split("InMemoryRelation").head
      assert(!outside.contains("Generate explode"),
        s"$k recomputes the window explode outside the cache:\n${plan(k)}")
    }
    // r19: the cached index is hash-partitioned ON h at build, so every
    // h-keyed consumer (the dedup groupBy+join, the self-join, the df
    // valve) reads already-partitioned blocks instead of re-exchanging
    // the full index per query. Pin the stored partitioning itself —
    // operator names wobble across Spark versions, outputPartitioning is
    // the semantic fact.
    locally {
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      val idx0 = thrivespark.ops.Text.windowIndex(
        thrivespark.Tables.documents(spark, sf001), 8)
      // the cached subtree is itself adaptive: its partitioning is
      // UnknownPartitioning until the cache materializes — materialize,
      // then plan a FRESH reader over the now-final cached relation
      idx0.count()
      val idx = idx0.filter(lit(true))
      // AdaptiveSparkPlanExec holds its plan in a field, not as a child —
      // unwrap before collecting
      val root = idx.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scan = root.collectFirst {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }
      assert(scan.isDefined, s"window index must be a cache scan:\n${idx.queryExecution.executedPlan}")
      scan.get.outputPartitioning match {
        case hp: HashPartitioning =>
          assert(hp.expressions.map(_.sql.toLowerCase).exists(_.contains("h")),
            s"index must be hash-partitioned on h, got ${hp.expressions.map(_.sql)}")
        case other => fail(s"index cache not hash-partitioned: $other")
      }
    }
  }

  test("dq_profile: one melted aggregation, no multi-distinct Expand; " +
      "text_ngram_topk: distributed argmax via TakeOrderedAndProject") {
    val p = plan("dq_profile")
    // single distinct column per group ⇒ two-phase distinct aggregate, no
    // Expand fan-out; the melt is one Generate over one scan
    assert(!p.contains("Expand"), s"multi-distinct Expand leaked in:\n$p")
    assert(p.split("Generate").length == 2, s"expected exactly one melt:\n$p")
    val q = plan("text_ngram_topk")
    assert(q.contains("TakeOrderedAndProject"),
      s"top-K must be a distributed TakeOrdered, not a global sort:\n$q")
  }

  test("multimodal_retrieval: candidates come only from probed cells — the " +
      "corpus join is an equi-join on cell, never a cartesian enumeration") {
    val p = plan("multimodal_retrieval")
    assert(!p.contains("CartesianProduct"),
      s"cross-modal probe must not enumerate query x corpus:\n$p")
    // the only nested-loop joins allowed are the broadcast centroid fans
    // (query x ~N/100 centroids — constant-size build side); the corpus
    // candidates must ride the cell equi-join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("cell")),
      s"no cell equi-join found in:\n$p")
  }

  test("sim_ann_ivfpq: candidate scoring rides the cell equi-join — no " +
      "cartesian anywhere; codebook joins are broadcast") {
    val p = plan("sim_ann_ivfpq")
    assert(!p.contains("CartesianProduct"),
      s"IVFADC must never enumerate query x corpus:\n$p")
    // probe side: candidates come only from probed cells via the cell
    // equi-join; build side: the residual codebook rides broadcast joins
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("cell")),
      s"no cell equi-join found in:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"codebook joins must broadcast (constant-size build side):\n$p")
  }

  test("stream_score_model: the scoring joins broadcast the weight table " +
      "(stateless stream side, no stream shuffle)") {
    import org.apache.spark.sql.functions.lit
    // the stream plan itself is only materialized inside the run; assert on
    // the equivalent static plan of the scorer joins (same join shapes)
    val docs = thrivespark.Tables.documents(spark, sf0001)
    val (w, prior) = thrivespark.ops.Text.qualityModelTrain(docs)
    val pm = prior.head().getLong(0)
    def wSide(f: String) = org.apache.spark.sql.functions.broadcast(
      w.filter(col("feature") === f)
        .select(col("v").as(s"v_$f"), col("w_micros").as(s"w_$f")))
    val p = thrivespark.ops.Text.surfaceFeatures(docs)
      .join(wSide("f_len"), col("f_len") === col("v_f_len"))
      .join(wSide("f_stop"), col("f_stop") === col("v_f_stop"))
      .join(wSide("f_wlen"), col("f_wlen") === col("v_f_wlen"))
      .select(col("doc_id"), (lit(pm) + col("w_f_len") + col("w_f_stop")
        + col("w_f_wlen")).as("score_micros"))
      .queryExecution.executedPlan.toString
    // each of the three weight joins must be a BroadcastHashJoin on its
    // v_f_* key (the training subplan below the broadcast sides may use
    // whatever shapes it wants — that's batch-side, run once)
    Seq("v_f_len", "v_f_stop", "v_f_wlen").foreach { k =>
      assert(p.linesIterator.exists(l =>
          l.contains("BroadcastHashJoin") && l.contains(k)),
        s"weight join on $k is not broadcast:\n$p")
    }
  }

  test("r21 pins: the hashed-retrieval corpus exchanges are user-specified " +
      "(REPARTITION_BY_NUM) so AQE cannot coalesce the broadcast dot stage " +
      "to one task") {
    // AQE's size-based coalescing sees only the tiny dense-vector bytes of
    // the post-aggregation exchange, not the |Q|-proportional per-row dot
    // work, and serialized the op's dominant compute to a single task
    // (measured r21: 1.5-2.1 s single-threaded of a ~3.3 s run). The
    // explicit-n keyed repartition is exempt from coalescing; same
    // exchange count and bytes, so the 100 TB shape is unchanged.
    val pTopk = plan("sim_doc_topk_hashed")
    assert(pTopk.contains("REPARTITION_BY_NUM"),
      s"sim_doc_topk_hashed corpus exchange lost its pin:\n$pTopk")
    val pRag = plan("pipeline_rag_retrieval")
    assert(pRag.contains("REPARTITION_BY_NUM"),
      s"pipeline_rag_retrieval chunk exchange lost its pin:\n$pRag")
    // and the pin must not have added an exchange: rag still has exactly
    // one exchange keyed on (doc_id, chunk_id) — the pinned one
    val chunkExchanges = pRag.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning(doc_id") && l.contains("chunk_id") &&
        !l.contains("bucket")).toSeq
    assert(chunkExchanges.size == 1 &&
      chunkExchanges.head.contains("REPARTITION_BY_NUM"),
      s"expected exactly the pinned (doc_id, chunk_id) exchange:\n$pRag")
  }

  test("r21: agg_approx_distinct plans the HLL and the exact distinct as " +
      "separate aggregations (no four-phase expand over the 2^14 buffer)") {
    val p = plan("agg_approx_distinct")
    assert(!p.contains("Expand"),
      s"the split shape must not plan an Expand:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct")
        || p.contains("BroadcastExchange"),
      s"expected the 1-row cross join of the two aggregates:\n$p")
  }

  test("dq_profile_hll and agg_approx_distinct: one-value sketch buffers — " +
      "no SortAggregate and no node wider than 64 attributes; dq_profile_hll " +
      "aggregates the scan itself (no Generate below the aggregate)") {
    // approx_count_distinct at rsd 0.01 carries 1,639 long buffer columns;
    // next to a string min/max that planned a SortAggregate over the 5x
    // melt with 1,645-attribute rows (plans/r22/all/dq_profile_hll.txt)
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    def root(key: String): SparkPlan =
      Registry.queries(key)(spark, sf0001).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    Seq("dq_profile_hll", "agg_approx_distinct").foreach { k =>
      val p = root(k)
      assert(!p.exists(_.isInstanceOf[SortAggregateExec]), s"$k plans a SortAggregate:\n$p")
      val wide = p.collect { case n if n.output.size > 64 => s"${n.nodeName}: ${n.output.size}" }
      assert(wide.isEmpty, s"$k has nodes wider than 64 attributes: $wide\n$p")
      assert(p.exists(_.isInstanceOf[ObjectHashAggregateExec]),
        s"$k: the sketch must plan an ObjectHashAggregate:\n$p")
    }
    val p = root("dq_profile_hll")
    val aggs = p.collect { case a: ObjectHashAggregateExec => a }
    assert(aggs.forall(!_.exists(_.isInstanceOf[GenerateExec])),
      s"dq_profile_hll fans its rows out below the aggregate:\n$p")
  }

  test("fn_xml: the from_xml projection stays above the Sort and its " +
      "range Exchange (ADVICE r22 item 3)") {
    // The sort keys on the raw primary key; parsing below the range
    // exchange would make the sort's sampling pass evaluate the derived
    // columns a second time. plans/r22/fn_xml_after.txt records the shape.
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val root = Registry.queries("fn_xml")(spark, sf0001).queryExecution
      .executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    def parsesXml(p: SparkPlan) =
      p.expressions.exists(_.toString.contains("from_xml"))
    val sort = root.collectFirst { case s: SortExec => s }
      .getOrElse(fail(s"no Sort in fn_xml:\n$root"))
    assert(sort.exists {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }, s"the Sort must sit on a range Exchange:\n$root")
    assert(!sort.exists(parsesXml), s"from_xml evaluated below the Sort:\n$root")
    assert(root.exists(parsesXml), s"from_xml missing from the plan:\n$root")
  }

  test("spark.sql.extensions path: a GraftExtensions session has the SQL " +
      "functions and the similarity-join rewrite with no Register call") {
    import org.apache.spark.sql.SparkSession
    // create() runs on the suite's SparkContext: start it first, so the
    // test also passes when it runs alone
    spark.sparkContext
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    val ext = try SparkSession.builder()
        .withExtensions(new thrivespark.GraftExtensions).create()
      finally {
        active.foreach(SparkSession.setActiveSession)
        default.foreach(SparkSession.setDefaultSession)
      }
    assert(!(ext eq spark), "the extension session must be a new session")
    // both install paths iterate the one function table
    thrivespark.functions.Register(spark)
    thrivespark.functions.Register.Functions.foreach { case (name, usage, _) =>
      assert(spark.catalog.functionExists(name), s"$name does not resolve after Register")
      assert(ext.catalog.functionExists(name) && ext.catalog.getFunction(name).description == usage,
        s"$name does not resolve via extensions")
    }
    val d = ext.sql(
      """SELECT vec_dot(array(cast(1.0 as float), cast(2.0 as float)),
        |               array(cast(3.0 as float), cast(4.0 as float)))""".stripMargin)
      .collect()(0).getDouble(0)
    assert(d == 11.0, s"vec_dot via extensions returned $d")
    ext.read.parquet(s"$sf0001/embeddings.parquet").createOrReplaceTempView("emb")
    val p = ext.sql(
      """SELECT a.vec_id, b.vec_id FROM emb a JOIN emb b
        |ON vec_dot(a.embedding, b.embedding) > 0.45 AND a.vec_id < b.vec_id"""
        .stripMargin).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"rewrite did not fire via extensions:\n$p")
    assert(p.contains("__sim_bucket"), s"bucket key missing:\n$p")
    // the same degenerate-regime plan as a Register-installed session: the salt grid
    assert(p.contains("__sim_salt_l"), s"salt grid missing:\n$p")
  }
}
