package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import thrivespark.ops.{Dedup, Shingles}

/** SURVEY.md §5.2 layer 3 — property-based invariants (scalacheck Gens
  * driven with fixed seeds; scalatestplus bridge is not available offline). */
class PropertySpec extends AnyFunSuite {
  import SparkTestBase._

  test("vec_dot_long == the interpreted HOF formulation on generated long " +
      "vectors; nulls propagate; length = min(len a, len b)") {
    import spark.implicits._
    thrivespark.functions.Register(spark)
    // generated vectors incl. negatives, zeros, and mismatched lengths
    val gen = Gen.listOfN(40, for {
      n <- Gen.choose(0, 8); m <- Gen.choose(0, 8)
      a <- Gen.listOfN(n, Gen.choose(-1000000L, 1000000L))
      b <- Gen.listOfN(m, Gen.choose(-1000000L, 1000000L))
    } yield (a, b))
    val cases = gen.apply(Gen.Parameters.default, Seed(42L)).get
    val df = cases.toDF("a", "b")
      .select(call_function("vec_dot_long", col("a"), col("b")).as("d"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0L), (acc, x) => acc + x).as("ref"))
    assert(df.filter(col("d") =!= col("ref")).count() == 0L,
      "codegen dot must equal the HOF reference on every generated pair")
    // min-length semantics: zip_with pads with null (null*x = null → sum
    // null) while vec_dot_long truncates — check truncation explicitly
    val t = Seq((Seq(2L, 3L, 5L), Seq(10L, 10L))).toDF("a", "b")
      .select(call_function("vec_dot_long", col("a"), col("b"))).head().getLong(0)
    assert(t == 50L, s"dot must use min(len) elements, got $t")
    val nr = Seq((Option.empty[Seq[Long]], Option(Seq(1L)))).toDF("a", "b")
      .select(call_function("vec_dot_long", col("a"), col("b"))).head()
    assert(nr.isNullAt(0), "null vector must yield null")
    // null ELEMENT nulls the whole dot (the HOF equivalence: x*null is
    // null and the + fold propagates it) — r19, closing the r18 advisory
    // that the codegen loop silently read null slots as 0. Exercise both
    // the codegen path (DataFrame) and the interpreted eval path
    // (direct expression on array literals with containsNull=true).
    val ne = Seq((Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](2L, 2L, 2L)))
      .toDF("a", "b")
      .select(call_function("vec_dot_long", col("a"), col("b"))).head()
    assert(ne.isNullAt(0), "null element must null the dot (codegen path)")
    locally {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.{ArrayType, LongType}
      val lit = (xs: Seq[Any]) => Literal.create(xs, ArrayType(LongType, containsNull = true))
      val e = thrivespark.functions.VecDotLong(lit(Seq(1L, null, 3L)), lit(Seq(2L, 2L, 2L)))
      assert(e.eval(null) == null, "null element must null the dot (eval path)")
      assert(e.nullable, "element-nullable inputs must mark the dot nullable")
      val ok = thrivespark.functions.VecDotLong(lit(Seq(1L, 2L)), lit(Seq(3L, 4L)))
      assert(ok.eval(null) == 11L)
    }
  }

  test("known_dense: identity values, element type retyped non-null, " +
      "null array passes through (r19)") {
    import spark.implicits._
    thrivespark.functions.Register(spark)
    val df = Seq((Seq(1.5f, 2.5f), true), (null.asInstanceOf[Seq[Float]], false))
      .toDF("a", "ok")
      .select(col("a"), call_function("known_dense", col("a")).as("d"))
    // retyped: containsNull=false on the wrapper, values identical
    val dt = df.schema("d").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
    assert(!dt.containsNull, "known_dense must declare elements non-null")
    val rows = df.collect()
    assert(rows.forall(r => r.isNullAt(0) == r.isNullAt(1)))
    assert(rows.filter(!_.isNullAt(0))
      .forall(r => r.getSeq[Float](0) == r.getSeq[Float](1)))
    // the dot through known_dense matches the raw dot bit-for-bit
    val e = thrivespark.Tables.embeddings(spark, sf001).limit(200)
      .select(call_function("vec_dot", col("embedding"), col("embedding")).as("raw"),
        thrivespark.ops.Similarity.dot(col("embedding"), col("embedding")).as("dense"))
    assert(e.filter(col("raw") =!= col("dense")).count() == 0L)
    // r20: the two public variants diverge EXACTLY on a null element —
    // dotNullable propagates it (the untrusted-frame contract), dot reads
    // it as 0 under the declared-density precondition (documented UB)
    val sparse = Seq((Seq[java.lang.Float](1f, null, 3f),
        Seq[java.lang.Float](2f, 2f, 2f))).toDF("a", "b")
      .select(thrivespark.ops.Similarity.dotNullable(col("a"), col("b")).as("n"),
        thrivespark.ops.Similarity.dot(col("a"), col("b")).as("d"))
      .head()
    assert(sparse.isNullAt(0), "dotNullable must propagate a null element")
    assert(sparse.getDouble(1) == 8.0,
      "dot under known_dense reads the null slot as 0 (declared UB)")
    // and agree bit-for-bit on genuinely dense frames
    val both = thrivespark.Tables.embeddings(spark, sf001).limit(200)
      .select(thrivespark.ops.Similarity.dotNullable(col("embedding"), col("embedding")).as("n"),
        thrivespark.ops.Similarity.dot(col("embedding"), col("embedding")).as("d"))
    assert(both.filter(col("n") =!= col("d")).count() == 0L)
  }

  test("minhash LSH candidates ⊇ exact near-dup pairs (recall = 1 on testdata)") {
    val docs = Dedup.shingleDocs(spark, sf001)
    val cands = Dedup.candidatePairs(Dedup.bandBuckets(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Registry_nearDupExact()
    assert(exact.subsetOf(cands),
      s"missed pairs: ${exact.diff(cands).take(5)} (candidates=${cands.size})")
  }

  private def Registry_nearDupExact(): Set[(Long, Long)] =
    thrivespark.Registry.queries("dedup_near_minhash")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash-union UDAF: union of signatures == signature of union (per lang)") {
    thrivespark.functions.Register(spark)
    val docs = Dedup.shingleDocs(spark, sf001)
      .join(thrivespark.Tables.documents(spark, sf001).select(col("doc_id"), col("lang")), "doc_id")
    // ground truth: re-shingle nothing — hash-set union per lang, then one
    // signature, hex-encoded the same way the query encodes its output
    val expected = docs.groupBy(col("lang"))
      .agg(array_distinct(flatten(collect_list(col("shl")))).as("u"))
      .select(col("lang"),
        concat_ws("", transform(call_function("minhash_signature", col("u")),
          x => lpad(hex(x), 16, "0"))).as("sig"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val got = thrivespark.Registry.queries("dedup_minhash_union")(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (lang, sig) =>
      assert(sig == expected(lang), s"signature mismatch for $lang")
    }
  }

  test("prefix-filtered Jaccard join == brute-force all-pairs (recall = 1 by theorem)") {
    val docs = Dedup.shingleDocs(spark, sf001)
    val sa = docs.select(col("doc_id").as("a_id"), col("shl").as("sh_a"))
    val sb = docs.select(col("doc_id").as("b_id"), col("shl").as("sh_b"))
    val brute = sa.crossJoin(sb).filter(col("a_id") < col("b_id"))
      .withColumn("c", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jac", col("c").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("c")))
      .filter(col("jac") > 0.6)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val filtered = thrivespark.Registry.queries("dedup_ngram_jaccard")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(filtered == brute,
      s"lost: ${brute.diff(filtered).take(5)}, extra: ${filtered.diff(brute).take(5)}")
  }

  test("dedup_clusters: pair endpoints co-clustered, label = component min") {
    val pairs = thrivespark.Registry.queries("dedup_near_minhash")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val lbl = thrivespark.Registry.queries("dedup_clusters")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // both endpoints of every near-dup pair carry the same cluster label
    pairs.foreach { case (a, b) =>
      assert(lbl(a) == lbl(b), s"pair ($a,$b) split across clusters")
    }
    // each label is the smallest member of its cluster (canonical rep)
    lbl.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.keys.min == cl, s"cluster $cl min is ${members.keys.min}")
    }
  }

  test("connectedComponents: diameter-39 chain labels correctly (beyond the old 20-round cap)") {
    import spark.implicits._
    // a 40-node path graph (diameter 39) would silently emit wrong labels
    // under the pre-r6 `iter < 20` per-hop propagation; pointer jumping
    // must converge it — and the post-loop guard must never fire silently
    val chain = (0L until 39L).map(i => (i, i + 1))
    // plus a disjoint 3-node component to prove labels don't bleed across
    val pairs = (chain ++ Seq((100L, 101L), (101L, 102L)))
      .toDF("a_id", "b_id")
    val lbl = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 39L).foreach(i => assert(lbl(i) == 0L, s"node $i got label ${lbl(i)}"))
    Seq(100L, 101L, 102L).foreach(i =>
      assert(lbl(i) == 100L, s"node $i got label ${lbl(i)}"))
    assert(lbl.size == 43)
  }

  test("dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val once = thrivespark.Registry.queries("dedup_exact")(spark, sf001)
    val ids = once.select(col("keep_id")).collect().map(_.getLong(0)).toSet
    // feeding the survivors back through exact dedup keeps them all
    val docs = thrivespark.Tables.documents(spark, sf001)
      .filter(col("doc_id").isin(ids.toSeq.map(Long.box): _*))
    val again = docs.groupBy(md5(col("text"))).agg(min(col("doc_id")).as("keep_id"))
    assert(again.count() == ids.size)
  }

  test("session windows: gap < 30min inside, ≥ 30min between (per user)") {
    val sessions = thrivespark.Registry.queries("stream_session")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val events = thrivespark.Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val gapUs = 30L * 60 * 1000000
    sessions.groupBy(_._1).foreach { case (user, ss) =>
      val sorted = ss.sortBy(_._2)
      // session event counts must sum to the user's event count
      assert(sorted.map(_._3).sum == events(user).length.toLong)
      // consecutive session starts are ≥ gap apart
      sorted.map(_._2).sliding(2).foreach {
        case Array(a, b) => assert(b - a >= gapUs, s"user $user sessions too close")
        case _ =>
      }
    }
  }

  test("set algebra: (A except B) intersect B is empty on generated data") {
    import spark.implicits._
    val gen = Gen.listOfN(200, Gen.chooseNum(0, 30))
    val params = Gen.Parameters.default
    (1L to 8L).foreach { seed =>
      val a = gen.apply(params, Seed(seed)).get
      val b = gen.apply(params, Seed(seed + 100)).get
      val da = a.toDF("v"); val db = b.toDF("v")
      assert(da.except(db).intersect(db).count() == 0, s"seed $seed")
    }
  }

  test("HLL sketch reaggregation is lossless: union of day sketches == " +
      "one-shot sketch; both within 2% of exact") {
    import org.apache.spark.sql.functions._
    val ev = thrivespark.Tables.events(spark, sf001)
    val merged = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .head().getLong(0)
    val direct = ev.agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      .head().getLong(0)
    val exact = ev.select(col("user_id")).distinct().count()
    assert(merged == direct,
      s"reaggregation lossy: merged=$merged direct=$direct")
    assert(math.abs(merged - exact).toDouble / exact <= 0.02,
      s"estimate off: est=$merged exact=$exact")
  }

  test("results are shuffle-partition-count invariant (decimal discipline)") {
    val keys = Seq("agg_pricing_summary", "join_inner_hash", "win_running_sum",
      "dedup_near_minhash", "dedup_clusters", "agg_mode", "analytics_gapfill",
      "analytics_hash_split",
      // r5 session ops whose implementations are explicitly
      // partition-structured: the two-pass prefix sum (pack_sequences), the
      // day-explode distinct (rolling_active), the gram/window shuffles
      // (repetition, substring_dedup), the as-of reduction (attribution),
      // and the PQ encode/reassembly (sim_ann_pq)
      "etl_pack_sequences", "analytics_rolling_active", "text_repetition",
      "text_substring_dedup", "analytics_attribution", "sim_ann_pq",
      "agg_bitmap_distinct", "etl_snapshot_diff",
      // governance/pipeline ops added late in r5: broadcast containment
      // (decontaminate), fp anti-join + first-wins (incremental), the
      // content-addressed sampler, the two-phase dim backfill, and the
      // tolerance-banded as-of reduction
      "dedup_decontaminate", "dedup_incremental", "analytics_importance_sample",
      "etl_late_arriving_dim", "join_asof_tolerance",
      // r6 ops that are explicitly partition-structured: the distributed
      // top-K vocab + broadcast rescore (lm_score), the composed quality
      // gate's three re-joined aggregations (filter_pipeline), the
      // heavy-hitter broadcast join (q18), and ntile's group-windowed
      // bucket assignment
      "text_lm_score", "text_filter_pipeline", "q18_large_orders", "win_ntile",
      // r13 ops that are explicitly partition-structured: the union-probe
      // prefix-sum window (range_between), the shared-window index +
      // diagonal run merge (substring_exact) and its span-removal
      // counterpart (substring_cut), the closed-form NB train/score round
      // trip (quality_model), and the scalar-threshold anti-join (q22)
      "win_range_between", "text_substring_exact", "text_substring_cut",
      "text_quality_model", "q22_idle_balance",
      // r14 ops that are explicitly partition-structured: the delta-vs-
      // standing window probe (substring_incremental), the df-capped index
      // (substring_maxdf), the union-of-runs coverage explode (coverage),
      // the cross-modal IVF probe (retrieval), and the melted single-pass
      // profiler (dq_profile)
      "text_substring_incremental", "text_substring_maxdf",
      "text_substring_coverage", "multimodal_retrieval", "dq_profile")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val at4 = keys.map(k => k -> thrivespark.Registry.queries(k)(spark, sf0001).collect())
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      keys.foreach { k =>
        val at13 = thrivespark.Registry.queries(k)(spark, sf0001).collect()
        val base = at4.toMap.apply(k)
        assert(base.sameElements(at13), s"$k differs across partition counts")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("packSeqIds: seq assignment invariant over the bucket width, and " +
      "exactly the doc_id-ordered global prefix sum") {
    // r8 parameterized the pack stage's bucket count (was hardcoded 8) and
    // made the bucket id a pure function of doc_id (quantile literals):
    // the global prefix sum must yield identical seq_ids at ANY width —
    // 1 (degenerate single bucket), the default, a width near the row
    // count — and must equal the single-pass global cumulative sum.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val kept = thrivespark.Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
    def packed(n: Int) =
      thrivespark.ops.Extras.packSeqIds(kept, 1024, n)
        .select(col("doc_id"), col("seq_id")).orderBy(col("doc_id")).collect()
    val base = packed(8)
    for (n <- Seq(1, 3, 32, 63))
      assert(base.sameElements(packed(n)), s"seq_ids differ at numParts=$n")
    // ground truth: the serialized one-reducer formulation
    val globalW = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val truth = kept
      .withColumn("seq_id",
        floor(coalesce(sum(col("n_tokens")).over(globalW), lit(0L)) / 1024))
      .select(col("doc_id"), col("seq_id")).orderBy(col("doc_id")).collect()
    assert(base.sameElements(truth), "two-pass prefix sum != global window")
  }

  test("bounded top-k aggregator == window top-k formulation") {
    val a = thrivespark.Registry.queries("topk_per_group_agg")(spark, sf001)
    val w = thrivespark.Registry.queries("topk_per_group")(spark, sf001)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("rn"))
    assert(a.exceptAll(w).count() == 0 && w.exceptAll(a).count() == 0)
  }

  test("approx_percentile within 1% of exact per group") {
    thrivespark.Registry.queries("agg_approx_quantile")(spark, sf001)
      .collect().foreach { r =>
        val approx = r.getDouble(1); val exact = r.getDouble(2)
        assert(math.abs(approx - exact) / math.abs(exact) < 0.01,
          s"${r.getString(0)}: approx=$approx exact=$exact")
      }
  }

  test("count-min sketch: est >= exact and overcount <= eps*N") {
    val rows = thrivespark.Registry.queries("agg_cms_freq")(spark, sf001).collect()
    val total = rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      val (t, exact, est) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(est >= exact, s"$t: CMS must never undercount (est=$est exact=$exact)")
      assert(est <= exact + (0.001 * total).ceil.toLong,
        s"$t: overcount ${est - exact} exceeds eps*N bound")
    }
  }

  test("cms_freq is de-ceilinged: a high-cardinality key works distributed " +
      "and the executor-side probes match a driver-side sketch replay") {
    import thrivespark.{Tables => T}
    // user_id: the domain the old driver-collect shape refused (>10k risk);
    // the broadcast-sketch shape must handle it with no ceiling
    val ev = T.events(spark, sf001)
      .select(org.apache.spark.sql.functions.col("user_id")
        .cast("string").as("k"))
    val rows = thrivespark.ops.Aggs.cmsFreq(ev, "k").collect()
    assert(rows.length > 100, s"expected a wide domain, got ${rows.length}")
    val total = rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"${r.getString(0)}: CMS must never undercount")
      assert(r.getLong(2) <= r.getLong(1) + (0.001 * total).ceil.toLong,
        s"${r.getString(0)}: overcount exceeds eps*N")
    }
    // executor-side UDF probe == driver-side probe of the same sketch
    // (the deserialize-once-per-task path changes nothing numerically)
    val sk = ev.agg(org.apache.spark.sql.functions.count_min_sketch(
        org.apache.spark.sql.functions.col("k"),
        org.apache.spark.sql.functions.lit(0.001),
        org.apache.spark.sql.functions.lit(0.99),
        org.apache.spark.sql.functions.lit(42)).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(sk)
    rows.take(50).foreach { r =>
      assert(r.getLong(2) == cms.estimateCount(r.getString(0)),
        s"${r.getString(0)}: executor probe diverges from sketch replay")
    }
  }

  test("text_quality_model: trained NB beats the majority class, stays " +
      "deterministic, and model_keep composes with the pipeline gate") {
    // columns: doc_id, f_len, f_stop, f_wlen, log_odds, model_keep, gate_keep
    val rows = thrivespark.Registry.queries("text_quality_model")(spark, sf001)
      .collect()
    val n = rows.length
    val pos = rows.count(_.getInt(6) == 1)
    assert(pos > n / 5 && pos < n * 4 / 5,
      s"label degenerated: $pos/$n positive — supervision must be two-class")
    val base = math.max(pos, n - pos).toDouble / n
    val acc = rows.count(r => r.getInt(5) == r.getInt(6)).toDouble / n
    assert(acc >= base + 0.05,
      f"no statistical lift: acc=$acc%.3f vs majority base=$base%.3f")
    // integration: model_keep is a 0/1 gate flag; conjoined with the
    // pipeline keep it strictly refines the kept set (and never to zero)
    val both = rows.count(r => r.getInt(5) == 1 && r.getInt(6) == 1)
    assert(both > 0 && both < pos,
      s"conjunction should refine the gate set: both=$both gate_pos=$pos")
    // closed-form training is deterministic: an independent re-run
    // reproduces every weight-derived output bit-for-bit
    val again = thrivespark.Registry.queries("text_quality_model")(spark, sf001)
      .collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq,
      "re-trained model diverged — training must be closed-form deterministic")
  }

  test("text_quality_model holdout: trained on a hash split, the model " +
      "generalizes to unseen docs above the majority base") {
    import org.apache.spark.sql.functions.{col, conv, substring, md5}
    val docs = thrivespark.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"))
    // content-addressed 80/20 split (the analytics_hash_split shape) so
    // train/holdout are deterministic across engines and partitionings
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    val train = docs.filter(bucket < 80)
    val hold = docs.filter(bucket >= 80)
    val scored = thrivespark.ops.Text.qualityModelScoresOn(hold, train).collect()
    val n = scored.length
    assert(n > 50, s"holdout too small: $n")
    val pos = scored.count(_.getInt(6) == 1)
    val base = math.max(pos, n - pos).toDouble / n
    val acc = scored.count(r => r.getInt(5) == r.getInt(6)).toDouble / n
    assert(acc >= base,
      f"holdout generalization collapsed: acc=$acc%.3f < base=$base%.3f")
    // and the self-fit accuracy on the train slice must show real lift
    val fit = thrivespark.ops.Text.qualityModelScoresOn(train, train).collect()
    val fpos = fit.count(_.getInt(6) == 1)
    val fbase = math.max(fpos, fit.length - fpos).toDouble / fit.length
    val facc = fit.count(r => r.getInt(5) == r.getInt(6)).toDouble / fit.length
    assert(facc >= fbase + 0.05,
      f"train-slice lift vanished: acc=$facc%.3f base=$fbase%.3f")
  }

  test("win_range_between prefix-sum rewrite == Spark's sliding RANGE frame " +
      "on tie-heavy band boundaries and pseudo-random values") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // adversarial values: exact ties AT band edges (v and v-10000 collide
    // with other rows' values) — where inclusive-bound and peer handling
    // can silently diverge — plus a pseudo-random spread, 3 rows per value
    // across 2 partitions
    val edge = Seq(0.0, 0.01, 9999.99, 10000.0, 10000.01, 10000.02,
      19999.99, 20000.0, 20000.01, 30000.0)
    val rand = (0 until 500).map(k => ((k * 2654435761L) % 3000000L) / 100.0)
    val rows = for {
      (p, off) <- Seq(("1-URGENT", 0L), ("2-HIGH", 100000L))
      (v, i) <- (edge ++ rand).zipWithIndex
      r <- 0 until 3
    } yield (off + i * 10 + r, p, v)
    val df = rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    val w = Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice")
      .rangeBetween(-10000L, 0L)
    val ref = df
      .withColumn("cents", round($"o_totalprice" * 100).cast("long"))
      .select($"o_orderkey",
        count(lit(1)).over(w).as("n"),
        (sum($"cents").over(w) / lit(1.0e2)).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val got = thrivespark.ops.Extras.bandPrefixSums(df)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getDouble(4))).toMap
    assert(got.size == ref.size && got.size == rows.size)
    val diffs = ref.collect { case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"rewrite diverges from the sliding frame on " +
      s"${diffs.size} keys, e.g. ${diffs.take(3)}")
  }

  test("approx_count_distinct within 2% of exact (#28)") {
    val r = thrivespark.Registry.queries("agg_approx_distinct")(spark, sf001).collect()(0)
    val approx = r.getLong(0).toDouble
    val exact = r.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact <= 0.02, s"approx=$approx exact=$exact")
  }

  test("dq_profile_hll: per-column HLL n_distinct within 2% of the exact " +
      "profile; every mergeable stat identical") {
    // the shard-mergeable profile must agree with the exact one on the
    // stats that merge losslessly (count/null/min/max) and track the
    // non-mergeable one within the sketch's error budget
    val exact = thrivespark.Registry.queries("dq_profile")(spark, sf001)
      .collect().map(r => r.getString(0) -> r).toMap
    val hll = thrivespark.Registry.queries("dq_profile_hll")(spark, sf001).collect()
    assert(hll.length == exact.size, "profiles must cover the same columns")
    hll.foreach { r =>
      val e = exact(r.getString(0))
      (1 to 2).foreach(i => assert(r.getLong(i) == e.getLong(i),
        s"${r.getString(0)} mergeable stat $i diverged: $r vs $e"))
      (4 to 7).foreach(i => assert(r.get(i) == e.get(i),
        s"${r.getString(0)} min/max $i diverged: $r vs $e"))
      val (a, x) = (r.getLong(3).toDouble, e.getLong(3).toDouble)
      assert(math.abs(a - x) / x <= 0.02,
        s"${r.getString(0)}: hll n_distinct $a vs exact $x off by >2%")
    }
  }

  test("gini aggregator matches direct computation") {
    import thrivespark.udf.GiniAggregator
    val xs = List(10.0, 20.0, 30.0, 40.0)
    val g = GiniAggregator.finish(xs)
    // sorted asc: s1 = 1*10+2*20+3*30+4*40 = 300, s = 100
    // G = 2*300/(4*100) - 5/4 = 1.5 - 1.25 = 0.25
    assert(math.abs(g - 0.25) < 1e-9, s"got $g")
  }

  test("ShingleHashes cardinality == distinct string shingles on random docs") {
    import spark.implicits._
    thrivespark.functions.Register(spark)
    val vocab = Vector("key", "agg", "row", "scan", "slow", "fast", "table", "value")
    val gen = Gen.chooseNum(3, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val docs = (1L to 40L).map { seed =>
      (seed, gen.apply(Gen.Parameters.default, Seed(seed)).get)
    }.toDF("doc_id", "text")
    val cmp = docs.select(
      size(call_function("shingle_hashes", split(col("text"), " "))).as("h"),
      size(Shingles.shingles3(col("text"))).as("s")).collect()
    cmp.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"hash-shingle count ${r.getInt(0)} != string-shingle count ${r.getInt(1)}"))
  }

  test("shingles are order-sensitive n-grams, not bag-of-words") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "d c b a")).toDF("doc_id", "text")
    val sh = df.select(col("doc_id"), Shingles.shingles3(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(sh(1L) == Set("a b c", "b c d"))
    assert(sh(2L) == Set("d c b", "c b a"))
    assert(sh(1L).intersect(sh(2L)).isEmpty)
  }

  test("BPE training follows exact greedy merge semantics (hand-computed)") {
    // d1 = "a b a b c", d2 = "a b a b":
    //   iter 0: pair counts (a,b)=4 (b,a)=2 (b,c)=1       → merge (a, b)
    //   greedy leftmost rewrite: d1=[ab, ab, c] d2=[ab, ab]
    //   iter 1: ("a b","a b")=2, ("a b",c)=1              → merge (ab, ab)
    //   iter 2: d1=[abab, c] → ("a b a b", c)=1           → merge (abab, c)
    // — including the adjacent-occurrence case ("ab ab" must merge BOTH
    // occurrences despite sharing no overlap) and count-vs-apply asymmetry
    // (counts are overlapping, application is leftmost non-overlapping).
    import spark.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "a b a b")).toDF("doc_id", "text")
    val (merges, corpus) = thrivespark.ops.Text.bpeTrain(docs, 3)
    assert(merges == Seq(
      (0, "a", "b", 4L),
      (1, "a b", "a b", 2L),
      (2, "a b a b", "c", 1L)))
    val fin = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    corpus.unpersist()
    val D = "\u001f"
    assert(fin(1L) == s"${D}a b a b c$D")   // one merged symbol
    assert(fin(2L) == s"${D}a b a b$D")
    // the map-only apply (one chained-replace projection) reproduces the
    // trainer's iterative rewrite exactly
    val applied = thrivespark.ops.Text.bpeApply(docs, merges)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(applied == fin)
  }

  test("char-level BPE weights pair counts by word frequency (hand-computed)") {
    // corpus: "ab" x3, "ac" x1 (as one doc). Char pairs over the vocab,
    // weighted by word freq:
    //   iter 0: (a,b)=3 (b,</w>)=3 (a,c)=1 (c,</w>)=1  -> merge (a, b)
    //   iter 1: vocab: [ab,</w>] x3, [a,c,</w>] x1
    //           (ab,</w>)=3 (a,c)=1 (c,</w>)=1          -> merge (ab, </w>)
    // An UNWEIGHTED count would tie (a,b) with (a,c) at 1 each and merge
    // (a,b) only via the lexicographic tie-break - the freq=3 weight is
    // what this pins (and iter 1's (ab,</w>)=3 over the tie-broken rest).
    import spark.implicits._
    val docs = Seq((1L, "ab ab ab ac")).toDF("doc_id", "text")
    val (merges, vocab) = thrivespark.ops.Text.bpeCharTrain(docs, 2)
    assert(merges == Seq(
      (0, "a", "b", 3L),
      (1, "ab", "</w>", 3L)))
    val segs = vocab.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    val D = "\u001f"
    assert(segs("ab") == s"${D}ab</w>$D")          // fully merged
    assert(segs("ac") == s"${D}a$D${D}c$D$D</w>$D") // untouched
  }

  test("BPE training releases ALL BlockManager storage via Shared.free " +
      "(Dataset.unpersist alone leaks localCheckpoint blocks)") {
    // Dataset.unpersist only uncaches CacheManager entries; the iterative
    // trainers' localCheckpoints persist their internal RDDs directly, so
    // the loops release by RDD handle. This pins that the whole training
    // run — 3 iterations = 1 persist + 3 checkpoints — leaves ZERO extra
    // persistent RDDs behind once the returned corpus is freed.
    import spark.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "a b a b")).toDF("doc_id", "text")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (_, corpus) = thrivespark.ops.Text.bpeTrain(docs, 3)
    val during = sc.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty, "training must have persisted something")
    thrivespark.Shared.free(corpus)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"training leaked persistent RDDs: $leaked")
  }

  test("shingles3 is total: <3-token docs shingle to an empty array " +
      "(sequence(1,0) is descending in Spark — the guarded footgun)") {
    import spark.implicits._
    val out = Seq((1L, "only two"), (2L, "one"), (3L, "a b c d"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        thrivespark.ops.Shingles.shingles3(col("text")).as("sh"),
        array_min(transform(thrivespark.ops.Shingles.shingles3(col("text")),
          x => md5(x))).as("min_md5"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[String](1), r.getString(2)))).toMap
    assert(out(1L)._1.isEmpty && out(1L)._2 == null,
      "2-token doc: empty shingles, NULL min — the oracle's exact behavior")
    assert(out(2L)._1.isEmpty && out(2L)._2 == null)
    assert(out(3L)._1 == Seq("a b c", "b c d"))
  }

  test("text_hash_embedding invariants: buckets in [0,64), per-doc tf sums " +
      "to token count, truncated weights sum to 1e6 within bucket-count slack") {
    val out = thrivespark.Registry.queries("text_hash_embedding")(spark, sf0001)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(r => { val b = r.getAs[Long]("bucket"); b >= 0 && b < 64 }))
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
    val docs = thrivespark.Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byDoc.foreach { case (id, rows) =>
      assert(rows.map(_.getAs[Long]("tf")).sum == docs(id),
        s"doc $id: bucket tfs must partition the token count")
      val wSum = rows.map(_.getAs[Long]("w_micro")).sum
      // each occupied bucket truncates < 1 micro-unit short
      assert(wSum <= 1000000L && wSum > 1000000L - rows.length,
        s"doc $id: w_micro sum $wSum outside truncation envelope")
    }
  }
}
