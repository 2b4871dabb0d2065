package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's contamination verdict logic (graft.Bench.ratioVerdict) —
  * pure-function replay tests. r5–r7 each produced an officially
  * contaminated record that self-labeled clean; r7's record carried the
  * proof in its own telemetry (prior_ratio_median 3.42, 58/150 queries
  * over 5× prior) while `contaminated` still read false because the
  * heuristic wasn't wired into the flag. These tests pin that a record
  * with r7-shaped telemetry now labels itself, and that clean-run shapes
  * (host variance, isolated spikes) do not. */
class BenchSpec extends AnyFunSuite {

  test("r7-shaped telemetry (median 3.42, 58/150 over 5x) labels contaminated") {
    // reconstruct the shape of BENCH_r07: most of the suite a few × slow,
    // a third of it 5–80× slow (I/O + state-replay queries)
    val ratios = Seq.fill(92)(3.4) ++ Seq.fill(29)(12.0) ++ Seq.fill(29)(55.0)
    val (median, over5x, breached) = Bench.ratioVerdict(ratios)
    assert(median > 2.5 && over5x == 58 && breached,
      s"r7 replay must breach: median=$median over5x=$over5x")
  }

  test("clean same-box re-run shape (median ~1.2, no 5x spikes) stays clean") {
    // the judge's r7 re-run: prior_ratio_median 1.24, n_over_5x 0
    val ratios = Seq.fill(150)(1.24)
    val (_, _, breached) = Bench.ratioVerdict(ratios)
    assert(!breached)
  }

  test("uniform ~1.5x host variance stays clean (slow box, not contention)") {
    val (_, _, breached) = Bench.ratioVerdict(Seq.fill(150)(1.5))
    assert(!breached)
  }

  test("isolated spikes on a clean median stay clean (one-off GC/compaction)") {
    // spikes SCATTERED through the suite (a true one-off hits one query,
    // not a run) — clean under both the dispersion and contiguity rules
    val ratios = (0 until 150).map(i => if (i % 50 == 25) 50.0 else 1.1)
    val (median, over5x, breached) = Bench.ratioVerdict(ratios)
    assert(median < 2.5 && over5x == 3 && !breached)
    assert(!Bench.contiguityBreach(ratios))
  }

  test("r12-shaped telemetry (contiguous mid-run CPU-steal window) now labels " +
      "contaminated via the contiguity rule the dispersion rule cannot see") {
    // Replay of official BENCH_r12.json (292 s, shipped contaminated:false):
    // ratios below are the record's per-query seconds over BenchPriors for
    // the inflated stretch, in suite order — an isolated fn_string spike,
    // three clean queries, then the contiguous text-family window
    // (text_repetition..text_filter_pipeline), text_pii_scrub near-clean,
    // text_fingerprint still hot. Judge's same-box re-run measured the same
    // stretch at ratio ~1, adjudicating host contention, not code.
    val window = Seq(
      5.88,                           // fn_string (7.068 s / 1.203)
      1.1, 1.1, 1.1,                  // fn_math, bpe_train, bpe_char_train
      5.88, 19.31, 18.31, 23.73, 7.86, // text_repetition..filter_pipeline
      1.5,                            // text_pii_scrub
      4.26)                           // text_fingerprint (13.73 / 3.221)
    val ratios = Seq.fill(80)(1.07) ++ window ++ Seq.fill(96)(1.07)
    val (median, over5x, dispersionBreached) = Bench.ratioVerdict(ratios)
    // the r12 blind spot: median ~1.07, only ~6 queries over 5x — the
    // dispersion rule (median>2.5 AND quarter of suite over 5x) stays quiet
    assert(median < 1.5 && over5x < ratios.size / 4 && !dispersionBreached,
      s"dispersion rule unexpectedly fired: median=$median over5x=$over5x")
    // the new rule: >=3 consecutive suite-order queries each >4x prior
    assert(Bench.contiguityBreach(ratios),
      "r12 window must trip the contiguity rule")
  }

  test("contiguity rule boundaries: 2 adjacent spikes clean, 3 breach, " +
      "4.0 exactly does not count") {
    assert(!Bench.contiguityBreach(Seq.fill(50)(1.0) ++ Seq(9.0, 9.0) ++ Seq.fill(50)(1.0)))
    assert(Bench.contiguityBreach(Seq.fill(50)(1.0) ++ Seq(4.1, 4.1, 4.1) ++ Seq.fill(50)(1.0)))
    // threshold is strictly >4: a plateau AT 4.0 is suspicious-but-not-proof
    assert(!Bench.contiguityBreach(Seq.fill(10)(4.0)))
    // runs split by a clean query do not concatenate
    assert(!Bench.contiguityBreach(Seq(9.0, 9.0, 1.0, 9.0, 9.0)))
    assert(!Bench.contiguityBreach(Nil))
  }

  test("empty priors (first run) stay clean") {
    assert(!Bench.ratioVerdict(Nil)._3)
    assert(Bench.hostFactor(Nil) == 1.0)
  }

  test("host-factor normalization: uniform slow-host drift cannot fake a " +
      "contention window (r13 188.5 s telemetry replay)") {
    // The r13 same-day builder runs: identical code measured 139.5/157.3/
    // 188.5 s with medians 0.88/1.12/1.36, uniform drift, zero localized
    // spikes. On the 188.5 s box, three adjacent naturally-variant queries
    // (genuine ratio ~3.2x) read 4.3-4.6x raw — the RAW contiguity rule
    // would call that a contention window; normalized by the run's own
    // median they sit at ~3.2x and the record stays clean.
    val ratios = Seq.fill(95)(1.36) ++ Seq(4.4, 4.6, 4.3) ++ Seq.fill(93)(1.36)
    assert(Bench.contiguityBreach(ratios),
      "raw rule must see the erosion this test exists to remove")
    val hf = Bench.hostFactor(ratios)
    assert(math.abs(hf - 1.36) < 1e-9)
    assert(!Bench.contiguityBreach(ratios.map(_ / hf)),
      "normalized ratios must read the window as host drift, not contention")
  }

  test("host-factor normalization keeps the official r13 contiguous window " +
      "contaminated (real contention survives normalization)") {
    // Official BENCH_r13.json: median 1.14, contiguous window with
    // agg_pricing_summary 4.336 s / win_first_last 7.287 / win_sessionize
    // 4.910 at 5.3-6.6x their clean priors (judge re-measured 0.76/1.37/
    // 0.74 same-box). Normalized by 1.14 the window still reads 4.6-5.8x:
    // genuine contention is LOCALIZED, so re-centering the median does not
    // wash it out.
    val ratios = Seq.fill(90)(1.14) ++ Seq(5.7, 5.3, 6.6) ++ Seq.fill(101)(1.14)
    val hf = Bench.hostFactor(ratios)
    assert(Bench.contiguityBreach(ratios.map(_ / hf)),
      "official r13 window must stay contaminated after normalization")
  }

  test("host factor floors at 0.5 and sharpens ratios on a fast host") {
    // fast host (median 0.88): division INFLATES ratios — a 4.0x raw spike
    // is genuinely 4.5x relative to the run's own baseline
    val fast = Seq.fill(90)(0.88) ++ Seq(3.8, 3.8, 3.8) ++ Seq.fill(90)(0.88)
    assert(!Bench.contiguityBreach(fast), "3.8 < 4: raw rule is blind here")
    assert(Bench.contiguityBreach(fast.map(_ / Bench.hostFactor(fast))),
      "fast-host normalization must sharpen the window into view")
    // sub-half median: priors from a far slower protocol — floor prevents
    // 2x+ inflation of every ratio
    assert(Bench.hostFactor(Seq.fill(9)(0.2)) == 0.5)
  }

  test("breach needs BOTH median drift and spike mass") {
    // median high but spikes few: a uniformly 3x-slow box with priors from
    // a different protocol — suspicious but not the r7 signature
    assert(!Bench.ratioVerdict(Seq.fill(150)(3.0))._3)
    // spikes many but median clean: heavy tail alone doesn't breach
    val tail = Seq.fill(100)(1.0) ++ Seq.fill(50)(8.0)
    assert(!Bench.ratioVerdict(tail)._3)
  }

  test("prior-less queries carry the contiguity run forward instead of " +
      "resetting it (the r14/r15 advisory hole: a new op spliced into a " +
      "contention window hid the breach)") {
    // [5x, NEW-OP, 5x, 5x]: three measured adjacent spikes with a
    // prior-less gap. The old neutral-1.0 injection read this as two short
    // clean runs; the Option-aware rule must breach.
    val window = Seq(Some(5.0), None, Some(5.0), Some(5.0))
    val seq = Seq.fill[Option[Double]](40)(Some(1.0)) ++ window ++
      Seq.fill[Option[Double]](40)(Some(1.0))
    assert(Bench.contiguityBreachOpt(seq), "gap must not reset the run")
    // replaying what the 1.0 injection did: breach disappears — the exact
    // false-clean this change removes
    assert(!Bench.contiguityBreach(seq.map(_.getOrElse(1.0))))
    // prior-less entries alone are not evidence of anything
    assert(!Bench.contiguityBreachOpt(Seq.fill[Option[Double]](20)(None)))
    // a CLEAN measured query between spikes still splits the run
    assert(!Bench.contiguityBreachOpt(
      Seq(Some(5.0), Some(0.9), Some(5.0), None, Some(5.0))))
    // r17 (r16 advisory): the carry is CAPPED — spikes separated by many
    // consecutive prior-less entries are real wall-clock apart, not
    // adjacent. A 2-gap still bridges; a 3-gap resets the run.
    assert(Bench.contiguityBreachOpt(
      Seq(Some(5.0), None, None, Some(5.0), Some(5.0))),
      "a <=2 prior-less gap must still bridge the window")
    assert(!Bench.contiguityBreachOpt(
      Seq(Some(5.0), None, None, None, Some(5.0), Some(5.0))),
      "3+ consecutive new ops between spikes = not temporally adjacent")
  }

  test("retryCandidates isolates the r15 official record's spikes: " +
      "isolated under-5x drifts are NOT retried; true spikes and window " +
      "members are, bounded by cap, in suite order") {
    // r15 shape: win_first_last 2.6x (tiny query, delta 0.25 s) and
    // agg_approx_distinct 2.0x (delta 0.4 s) — isolated, under 5x, and
    // under the absolute-delta floor → nothing to salvage (they were
    // adjudicated host-noise only a round later; the retry list is for
    // queries the record CANNOT adjudicate alone)
    val r15 = Seq(("a", Some(1.0), Some(0.0), 0.5),
      ("win_first_last", Some(2.6), Some(0.25), 0.4),
      ("agg_approx_distinct", Some(2.0), Some(0.4), 0.8),
      ("b", Some(0.9), Some(-0.1), 0.6))
    assert(Bench.retryCandidates(r15).isEmpty)
    // a genuine over-5x spike is retried; so is every member of a >=3
    // adjacent >4x window (prior-less gap skipped, like the breach rule)
    val mixed = Seq(("w1", Some(4.2), Some(1.0), 1.3), ("new_op", None, None, 0.5),
      ("w2", Some(4.5), Some(1.1), 1.4), ("w3", Some(4.1), Some(1.0), 1.3),
      ("ok", Some(1.0), Some(0.0), 0.5), ("spike", Some(7.0), Some(2.0), 2.3))
    // r20: candidates are ordered by raw regression descending (tie-break
    // normalized ratio), not suite order — spike (+2.0 s) leads, then the
    // window members by delta/ratio
    assert(Bench.retryCandidates(mixed) == Seq("spike", "w2", "w1", "w3"))
    // cap bounds a fully-poisoned run (r22: default raised 8 -> 12 — the
    // r21 record had 9+ qualifiers and the 8-slot budget evicted fn_math)
    val poisoned = (1 to 50).map(i => (s"q$i", Some(6.0), Some(3.0), 3.6))
    assert(Bench.retryCandidates(poisoned).size == 12)
    // the cap keeps the LARGEST regression regardless of suite position
    // (r16 advisory, re-grounded by the r19 record): an early spike must
    // not be dropped in favor of later window members
    val early = ("early_spike", Some(9.0), Some(4.0), 4.5)
    val lateWin = (1 to 9).map(i => (s"w$i", Some(4.5), Some(1.0), 1.3))
    val ordered = Bench.retryCandidates(early +: lateWin, cap = 8)
    assert(ordered.head == "early_spike" && ordered.size == 8,
      s"early spike must survive the cap: $ordered")
  }

  test("retryCandidates r20: replaying the r19 driver record selects the " +
      "two largest raw readings the suite-order cap dropped") {
    // BENCH_r19 (contaminated:true, host_factor 1.11): ten keys qualified
    // but the cap-8 suite-order take was consumed by eight earlier-suite
    // keys, shipping stream_outer_join (9.07 s, 3.2x raw prior 2.816) and
    // stream_stream_join (5.74 s vs 2.678 — raw 2.14x, NORMALIZED 1.93x,
    // so under the old normalized-only trigger 3 it never even qualified)
    // unadjudicated. Tuples below are the record's exact raws against the
    // priors the driver ran with, in suite order, normalized by hf=1.11.
    val hf = 1.11
    def t(n: String, raw: Double, prior: Double) =
      (n, Some(raw / prior / hf), Some(raw - prior), raw)
    val r19 = Seq(
      t("sim_embed_quantize", 1.934, 0.412),
      t("pipeline_multimodal_e2e", 4.185, 0.828),
      t("multimodal_stream_decode", 4.133, 1.632),
      t("stream_tumbling", 3.229, 0.407),
      t("stream_sliding", 3.496, 0.445),
      t("stream_outer_join", 9.071, 2.816),
      t("stream_stream_join", 5.738, 2.678),
      t("text_tfidf_topk", 6.207, 1.550),
      t("text_substring_coverage", 3.939, 1.319),
      t("text_substring_incremental", 3.036, 1.169))
    // cap = 8 preserves the historical replay (the r19-era budget); the
    // r22 default of 12 would keep all ten qualifiers
    val picked = Bench.retryCandidates(r19, cap = 8)
    assert(picked.size == 8)
    assert(Bench.retryCandidates(r19).size == 10,
      "r22 cap must adjudicate the whole r19 qualifier set")
    assert(picked.take(2) == Seq("stream_outer_join", "text_tfidf_topk"),
      s"largest raw regressions must lead: $picked")
    assert(picked.contains("stream_stream_join"),
      s"raw-ratio leg must qualify the 2.14x/+3.1 s key: $picked")
    // the two smallest-delta qualifiers are the ones the cap drops now
    assert(!picked.contains("sim_embed_quantize") &&
      !picked.contains("text_substring_incremental"), s"$picked")
  }

  test("retryCandidates r20 edges: degenerate raw-ratio input and " +
      "prior-less severity ranking") {
    // delta >= raw implies a non-positive reconstructed prior — the raw
    // ratio is undefined; the guard must not divide by <= 0, and the key
    // still qualifies via the normalized leg
    val degenerate = Seq(("weird_prior", Some(2.5), Some(25.0), 20.0))
    assert(Bench.retryCandidates(degenerate) == Seq("weird_prior"))
    // prior-less keys rank by raw - medianRaw (their own trigger's notion
    // of regression), interleaved with with-prior deltas on one scale:
    // new_heavy (raw 12, median 1 -> severity 11) outranks a with-prior
    // +4 s spike; both beat a smaller with-prior delta under the cap
    val run = (1 to 9).map(i => (s"base$i", Some(1.0), Some(0.0), 1.0)) ++ Seq(
      ("spike_mid", Some(6.0), Some(2.0), 2.4),
      ("new_heavy", None, None, 12.0),
      ("spike_big", Some(6.0), Some(4.0), 4.8))
    val sel = Bench.retryCandidates(run, cap = 2)
    assert(sel == Seq("new_heavy", "spike_big"),
      s"severity order must interleave prior-less and with-prior: $sel")
  }

  test("retryCandidates r17 trigger: ratio >2x AND absolute delta >1.5 s — " +
      "replaying the r16 record's stream pair selects exactly them") {
    // BENCH_r16: stream_stream_join 3.15->6.25 s (2.0x, +3.1 s) and
    // stream_dedup_state 1.75->3.58 s (2.05x, +1.8 s) doubled without
    // qualifying under the >5x / window triggers and had to wait a full
    // round for adjudication. The absolute-delta trigger catches both;
    // small-query drift of the same ratio (r15's win_first_last) does not.
    val r16 = Seq(("ok1", Some(0.92), Some(-0.1), 0.9),
      ("stream_stream_join", Some(2.17), Some(3.10), 6.25),  // 2.0x / host 0.92
      ("mid", Some(1.0), Some(0.0), 0.8),
      ("stream_dedup_state", Some(2.23), Some(1.83), 3.58),
      ("ok2", Some(0.9), Some(-0.05), 0.7))
    assert(Bench.retryCandidates(r16) ==
      Seq("stream_stream_join", "stream_dedup_state"))
    // ratio alone (big delta, mild ratio) or delta alone (big ratio on a
    // sub-second query) must NOT trigger — both legs are required
    assert(Bench.retryCandidates(Seq(("slow_but_mild", Some(1.8), Some(9.0), 20.0))).isEmpty)
    assert(Bench.retryCandidates(Seq(("tiny_spike", Some(3.0), Some(0.8), 1.2))).isEmpty)
  }

  test("retryCandidates r18 trigger: a PRIOR-LESS key over 5x the run's " +
      "median raw and over 3 s is retried — replaying the r17 record " +
      "selects pipeline_rag_retrieval, which r17's triggers could not") {
    // BENCH_r17 shape: median raw ~0.85 s, priors in band (host 1.08),
    // and the brand-new pipeline_rag_retrieval at 17.88 s with NO prior —
    // invisible to triggers (1)-(3), 12% of the whole gate in one key.
    val r17 = Seq(
      ("q_a", Some(1.05), Some(0.05), 0.80),
      ("q_b", Some(1.10), Some(0.10), 0.85),
      ("sim_doc_topk_hashed", None, None, 3.39),          // new, under 5x median? 3.39/0.85=4.0x -> no
      ("q_c", Some(0.95), Some(-0.02), 0.90),
      ("pipeline_rag_retrieval", None, None, 17.88),      // new, 21x median and >3 s -> retry
      ("text_hash_embedding", None, None, 0.95),          // new but cheap -> no
      ("q_d", Some(1.08), Some(0.03), 0.85))
    assert(Bench.retryCandidates(r17) == Seq("pipeline_rag_retrieval"))
    // both legs required: >5x median but under the 3 s absolute floor
    // (a run of tiny queries must not retry a 1 s newcomer), and a slow
    // run where 3.5 s is only ~1.2x the median must not trigger either
    val tinyRun = (1 to 9).map(i => (s"t$i", Some(1.0), Some(0.0), 0.2)) :+
      (("new_small", None, None, 1.5))
    assert(Bench.retryCandidates(tinyRun).isEmpty)
    val slowRun = (1 to 9).map(i => (s"s$i", Some(1.0), Some(0.0), 3.0)) :+
      (("new_inband", None, None, 3.5))
    assert(Bench.retryCandidates(slowRun).isEmpty)
  }

  test("retryCandidates r21: the cap reserves one slot for a contiguity " +
      "window's strongest member instead of shipping the window signature " +
      "unadjudicated (window members spike on ratio, not delta)") {
    // 8 isolated big-key spikes (delta 6 s each) consume the whole cap…
    val bigSpikes = (1 to 8).map(i =>
      (s"big$i", Some(3.0), Some(6.0), 9.0))
    // …while a 3-member window of sub-second keys (ratio 6×, delta 0.5 s)
    // qualifies only via contiguity
    val window = (1 to 3).map(i =>
      (s"w$i", Some(6.0 - i * 0.5), Some(0.5), 0.6))
    val clean = (1 to 5).map(i => (s"c$i", Some(1.0), Some(0.0), 0.5))
    // cap = 8 keeps the displacement scenario (the r22 default of 12 would
    // simply fit all 11 qualifiers)
    val sel = Bench.retryCandidates(bigSpikes ++ clean ++ window, cap = 8)
    assert(sel.size == 8)
    assert(sel.contains("w1"),
      s"strongest window member (highest ratio) must hold the reserved slot: $sel")
    assert(sel.count(_.startsWith("big")) == 7)
    // when the cap already keeps a window member, nothing is displaced
    val fewSpikes = bigSpikes.take(2)
    val sel2 = Bench.retryCandidates(fewSpikes ++ clean ++ window)
    assert(window.map(_._1).forall(sel2.contains), s"all fit: $sel2")
    // r22 (ADVICE): cap = 0 must stay empty — the reserved-slot branch used
    // to grow an empty capped list to one element
    assert(Bench.retryCandidates(bigSpikes ++ clean ++ window, cap = 0).isEmpty)
  }

  test("retryCandidates r22 mid-band trigger: >2x raw AND >1.5x normalized " +
      "AND >1.5 s raw is retried even under the r17 trigger's delta floor") {
    // the r21 record's unadjudicated mid-band: fn_math 5.839 s vs prior
    // 2.262 on a 1.26 host — raw 2.58x, normalized 2.05x, delta 3.58 s; it
    // qualified under the r17 trigger but the 8-slot cap evicted it. A key
    // qualifying ONLY via the mid-band leg: delta under 1.5 s, raw over 2x.
    val hf = 1.26
    val run = (1 to 9).map(i => (s"b$i", Some(1.0), Some(0.0), 1.0)) ++ Seq(
      ("fn_math", Some(5.839 / 2.262 / hf), Some(5.839 - 2.262), 5.839),
      ("mid_only", Some(2.8 / 1.35 / hf), Some(2.8 - 1.35), 2.8))
    val sel = Bench.retryCandidates(run)
    assert(sel.contains("fn_math") && sel.contains("mid_only"), s"$sel")
    // the 1.5 s raw floor keeps r15-style sub-second drift out: same ratios
    // on a 0.9 s raw must not retry
    val tiny = (1 to 9).map(i => (s"t$i", Some(1.0), Some(0.0), 1.0)) :+
      (("tiny_drift", Some(2.8 / 1.35 / hf), Some(0.9 - 0.43), 0.9))
    assert(!Bench.retryCandidates(tiny).contains("tiny_drift"))
  }

  test("adjudicatedTotals replays the BENCH_r20 official record: raw 238.1 " +
      "adjudicates to ~225.5 retry-substituted, ~214.7 host-normalized") {
    // the exact retried map and host_factor of BENCH_r20.json — the
    // arithmetic the r20 verdict redid by hand, now pinned in the record
    val r20Retried = Seq(
      "sim_ann_ivfpq_recall" -> (5.839, 3.544),
      "text_substring_cut" -> (4.581, 2.051),
      "stream_score_model" -> (5.317, 3.451),
      "text_substring_incremental" -> (3.702, 1.766),
      "q18_large_orders" -> (3.045, 1.951),
      "etl_json_flatten" -> (3.861, 2.331),
      "text_tfidf_topk" -> (3.158, 1.791))
    val (adj, norm) = Bench.adjudicatedTotals(238.09597376700012, r20Retried, 1.05)
    assert(math.abs(adj - 225.478) < 0.01, s"adjusted=$adj")
    assert(math.abs(norm - 214.741) < 0.01, s"normalized=$norm")
    // no retries: both totals collapse to raw (÷ host factor)
    val (a2, n2) = Bench.adjudicatedTotals(100.0, Seq.empty, 1.0)
    assert(a2 == 100.0 && n2 == 100.0)
    // a retry that measures SLOWER substitutes too (symmetric, anti-flattery)
    val (a3, _) = Bench.adjudicatedTotals(100.0, Seq("k" -> (2.0, 5.0)), 1.0,
      Map.empty)
    assert(math.abs(a3 - 103.0) < 1e-9)
    // degenerate host factor guards divide-by-zero
    val (_, n4) = Bench.adjudicatedTotals(100.0, Seq.empty, 0.0)
    assert(n4 == 100.0 / 0.01)
    // cache-assisted retry (a session result-cache makes the re-measure
    // near-free): the substitution floors at the key's clean prior, so the
    // record cannot credit itself below what the op cleanly costs — the
    // r21 mid-round record's text_bpe_char_train read 6.93 first / 0.135
    // retry against a 2.247 prior; the honest substitution is 2.247
    val (a5, _) = Bench.adjudicatedTotals(100.0,
      Seq("text_bpe_char_train" -> (6.93, 0.135)), 1.0,
      Map("text_bpe_char_train" -> 2.247))
    assert(math.abs(a5 - (100.0 - (6.93 - 2.247))) < 1e-9, s"a5=$a5")
    // ...and a prior-less key substitutes the raw retry unchanged
    val (a6, _) = Bench.adjudicatedTotals(100.0,
      Seq("new_op" -> (6.0, 1.0)), 1.0, Map.empty)
    assert(math.abs(a6 - 95.0) < 1e-9)
    // r22 (ADVICE): the NORMALIZED total floors at prior x hf, not at the
    // raw prior — flooring at the builder-box prior and then dividing by
    // the host factor credited a cache-assisted retry prior/hf, below what
    // the op cleanly costs anywhere. On a 2x host: raw-adjusted floors at
    // prior (2.0), normalized floors at prior x hf (4.0) before / hf
    val (a7, n7) = Bench.adjudicatedTotals(100.0,
      Seq("cached" -> (10.0, 0.1)), 2.0, Map("cached" -> 2.0))
    assert(math.abs(a7 - 92.0) < 1e-9, s"a7=$a7")
    assert(math.abs(n7 - 47.0) < 1e-9,
      s"normalized floor must be prior x hf (contribute prior, not prior/hf): $n7")
  }

  test("finalLine (r22, r21 verdict item 4): >=39 per-key entries on a " +
      "224-key suite with the real registry names, inside the driver's " +
      "~2000-char stdout capture, for clean AND worst-case retried maps") {
    // realistic seconds: r21-like spread (most keys sub-second, tail to ~6 s)
    val keys = thrivespark.Registry.queries.keys.toSeq.sorted
    assert(keys.size >= 220, s"registry shrank? ${keys.size}")
    val results = keys.zipWithIndex.map { case (k, i) =>
      k -> (0.25 + (i % 40) * 0.15) }
    // the non-query fields of the actual r21 final record (672 chars with
    // an empty retried map), with retried spliced in like the real line
    def calib(retriedStr: String) =
      """"calibration_sec":[0.674,0.350],"io_sec":[0.765,0.436],""" +
      """"io_mid_sec":[0.950,6.485,1.184,1.442,1.554,0.816,0.946,2.025],""" +
      """"cpu_mid_sec":[1.094,1.150,1.131,1.067,0.978,0.973,1.016,1.029],""" +
      """"contaminated":true,"ratio_breached":false,"contiguous_breached":true,""" +
      s""""contiguous_breached_raw":true,"retried":$retriedStr,""" +
      """"adjusted_total":261.597,"host_normalized_total":208.403,""" +
      """"prior_ratio_median":1.26,"host_factor":1.26,"n_over_5x_prior":8,""" +
      """"n_timeout":0,"n_failed":0,"cleaned_tmp":174"""
    def keptCount(line: String): Int =
      "\"[a-z0-9_]+\":[0-9]+\\.[0-9]{2}[,}]".r
        .findAllIn(line.substring(0, line.indexOf("\"queries_omitted\""))).size
    val sf = "/root/testdata/sf0.1"
    // clean record: empty retried map
    val clean = Bench.finalLine(314.409926773, results, calib("{}"), sf, 2)
    assert(clean.length <= 1990, s"clean line ${clean.length} chars")
    assert(keptCount(clean) >= 39, s"clean coverage ${keptCount(clean)}")
    // worst case: a 12-entry retried map of long keys (the r22 cap)
    val retried = (1 to 12).map(i =>
      f""""text_substring_incr$i%02d":[18.23,3.15]""").mkString("{", ",", "}")
    val worst = Bench.finalLine(314.409926773, results,
      calib(retried), sf, retried.length)
    assert(worst.length <= 1990, s"worst line ${worst.length} chars")
    assert(keptCount(worst) >= 30, s"worst-case coverage ${keptCount(worst)}")
  }

  test("QueryGuard: success passes through, a hung query is cancelled and " +
      "the session survives") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    assert(QueryGuard.timed(spark, "ok", 60L) {
      spark.range(10).count()
    } == Right(10L))
    assert(QueryGuard.timed(spark, "boom", 60L) {
      throw new IllegalStateException("no")
    }.swap.exists(_.contains("IllegalStateException")))
    // a task parked far past the cap: the guard must return within the cap
    // (plus cancellation slack), cancel the job, and leave the session usable
    val t0 = System.nanoTime()
    val r = QueryGuard.timed(spark, "hang", 3L) {
      spark.range(1).as[Long].map { _ => Thread.sleep(600000); 1L }.count()
    }
    val waited = (System.nanoTime() - t0) / 1e9
    assert(r.swap.exists(_.startsWith("timed out")), s"got $r")
    assert(waited < 30, s"guard took $waited s to give up")
    assert(spark.range(5).count() == 5, "session unusable after cancellation")
  }

  test("QueryGuard restores every key StreamRunner.withStreamConf sets when " +
      "it abandons a timed-out op") {
    import java.util.concurrent.CountDownLatch
    import thrivespark.streaming.StreamRunner
    val spark = SparkTestBase.spark
    def snapshot() = StreamRunner.ScopedConfKeys.map(k => k -> spark.conf.getOption(k))
    val before = snapshot()
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    try {
      val r = QueryGuard.timed(spark, "scoped_hang", 1L) {
        StreamRunner.withStreamConf(spark, "/tmp/graft_guard_cp", Some(3)) {
          entered.countDown()
          // deaf to the guard's interrupt, so the wrapper's own finally
          // cannot be what puts the keys back
          var done = false
          while (!done)
            try { release.await(); done = true }
            catch { case _: InterruptedException => () }
        }
      }
      assert(entered.getCount == 0, "the op never entered the wrapper")
      assert(r.swap.exists(_.startsWith("timed out")), s"got $r")
      assert(snapshot() == before, s"conf after the timeout ${snapshot()} != $before")
    } finally release.countDown()
  }
}
