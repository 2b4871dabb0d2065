package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** Content-addressed staging the ops re-create only when absent
    * (deterministic data, keyed by sf): deleting these forces every run to
    * re-stage, paying avoidable write I/O — preserve them. Everything else
    * under /tmp/graft_* is per-run ephemera (checkpoints, sinks, scratch). */
  private val DurableStagePrefixes = Seq(
    // exact current stage-dir families (graft_stream_stage_<sfTag> and
    // graft_stream_stage_flush_<sfTag>), NOT the bare graft_stream_stage
    // prefix: r7's broad prefix permanently shielded orphaned dirs of
    // removed stagings (e.g. the old _ord_ variant) from the sweep
    "graft_stream_stage_sf", "graft_stream_stage_flush_sf",
    "graft_stream_stage_docs_sf", "graft_stream_stage_emb_sf",
    "graft_stream_stage_annidx_sf", "graft_stream_stage_annq_sf",
    "graft_bucketed", "graft_badcsv_", "graft_dpp_")

  /** Stale sink/scratch dirs from earlier runs (r5 judge counted 151) sit on
    * the same disk the benchmark writes to and inflate filesystem listing +
    * overwrite costs. Reclaim them before timing — but only entries that are
    * demonstrably stale (no write activity for 10 minutes, checked at the
    * root AND its direct children so a live streaming checkpoint's recent
    * offset commits count): a bench started while another JVM is mid-run
    * (tests, a second bench) must not destroy that process's live state. */
  private val StaleAfterMs = 10L * 60 * 1000
  private def cleanScratch(): Int = {
    val now = System.currentTimeMillis()
    // recursive max-mtime, bounded depth: a live state store appends deltas
    // two+ levels deep (cp_*/state/0/...), which root+children mtimes miss —
    // a concurrent run paused >10 min would otherwise be reaped mid-run
    def lastActivity(f: java.io.File, depth: Int = 4): Long = {
      val kids = if (depth > 0 && f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]) else Array.empty[java.io.File]
      (f.lastModified() +: kids.map(lastActivity(_, depth - 1))).max
    }
    def staleUnder(dir: java.io.File, nameFilter: String => Boolean) =
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => nameFilter(f.getName))
        .filterNot(f => DurableStagePrefixes.exists(f.getName.startsWith))
        .filter(f => now - lastActivity(f) > StaleAfterMs)
    // legacy root-level entries + the single ephemeral parent's children
    // (Scratch.dir puts all per-run checkpoints/sinks under graft_eph so
    // the /tmp root listing stays small; sweep INSIDE it entry-by-entry —
    // one live child must not shield its stale siblings)
    val stale =
      staleUnder(new java.io.File("/tmp"),
        n => n.startsWith("graft_") && n != "graft_eph") ++
      staleUnder(new java.io.File("/tmp/graft_eph"), _ => true)
    // commons-io delete: unlike a hand-rolled listFiles recursion it does
    // NOT follow directory symlinks, so a stale scratch entry linking into
    // real data cannot get its target emptied by the sweep
    stale.foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f): Unit)
    stale.length
  }

  /** Pinned calibration probe: a fixed CPU-bound aggregation whose cost is
    * independent of the benchmark data. On an idle box it runs well under
    * CalibrationBudgetSec; when a concurrent load steals the cores (the
    * adjudicated cause of the invalid 1311 s r5 record — same binary
    * measured 109.7 s on the idle box) the probe slows with everything
    * else, so the record becomes self-labeling instead of silently wrong. */
  private val CalibrationBudgetSec = 2.0
  private def cpuProbeOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(8L * 1000 * 1000)
      .select((col("id") % 9973).as("k"), (col("id") * 2654435761L).as("v"))
      .groupBy(col("k")).agg(sum(col("v")), avg(col("v")))
      .count(): Unit
    (System.nanoTime() - t0) / 1e9
  }
  // best of two probes: a single probe can absorb a one-off JIT/GC pause
  // (measured 0.94 s first vs 0.30 s steady); sustained contention slows
  // BOTH, which is the signal we're after
  private def calibrate(spark: SparkSession): Double =
    (1 to 2).map(_ => cpuProbeOnce(spark)).min

  /** Disk-bound calibration probe. The CPU probe alone produced a FALSE
    * NEGATIVE in the r6 record: write-heavy queries ran 50–95× slow under
    * disk contention while the CPU probe read a clean 0.62 s, so the record
    * carried contaminated:false and defeated its own purpose. This probe
    * brackets the suite with a pinned ~20 MB parquet write + full read-back
    * on the SAME filesystem the benchmark's sinks, checkpoints and shuffle
    * spill use, so I/O-side contention labels the record too. */
  private val IoBudgetSec = 4.0
  private def ioProbeOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft_bench_ioprobe"
    val t0 = System.nanoTime()
    spark.range(1000L * 1000)
      .select(col("id"), (col("id") * 2654435761L).as("v"),
        md5(col("id").cast("string")).as("s")) // incompressible payload
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
      .agg(sum(hash(col("s"), col("v")))).count(): Unit
    val sec = (System.nanoTime() - t0) / 1e9
    // the probe dir is ephemera; leave no litter for the next run's listing
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
    sec
  }
  // best-of-two for the bracketing measurements (a single probe can absorb a
  // one-off GC pause); the interleaved mid-run probes are single-shot but
  // judged against the same generous 4 s budget
  private def calibrateIo(spark: SparkSession): Double =
    (1 to 2).map(_ => ioProbeOnce(spark)).min

  /** Ratio-dispersion heuristic over per-query ratios to the last clean
    * priors, WIRED INTO the contaminated verdict (r8 — r7 emitted this
    * telemetry but left it out of the flag, so BENCH_r07 read
    * contaminated:false with prior_ratio_median 3.42 and 58/150 queries
    * over 5×): a clean host re-measure sits near ratio 1 with isolated
    * spikes at most; a median drift >2.5× with a quarter of the suite over
    * 5× is sustained contention even when every bracketing probe got
    * lucky. Returns (median, countOver5x, breached); BenchSpec replays the
    * r7 record's telemetry through it. */
  private[graft] def ratioVerdict(ratios: Seq[Double]): (Double, Int, Boolean) = {
    val sorted = ratios.sorted
    val median = if (sorted.isEmpty) 0.0 else sorted(sorted.length / 2)
    val over5x = ratios.count(_ > 5.0)
    (median, over5x, ratios.nonEmpty && median > 2.5 && over5x > ratios.size / 4)
  }

  /** Contiguity rule (r13). The official r12 record was a FALSE CLEAN that
    * the dispersion heuristic above structurally cannot see: a mid-run
    * CPU-steal window inflated 7 CONTIGUOUS suite-order queries 4–25×
    * (118 s of a 292 s total) while the overall median stayed 1.07 and only
    * 6 queries crossed 5× — far under the quarter-of-suite mass the
    * dispersion rule demands. Contention is temporally clustered: it hits
    * whichever queries happen to run while the interloper lives, i.e. a RUN
    * in suite order. A genuine one-off (GC pause, page-cache eviction)
    * spikes one query, maybe two; three ADJACENT queries each >4× their
    * clean prior is a contention window, not noise. Takes ratios in suite
    * order (unlike ratioVerdict, which is order-free). */
  private[graft] def contiguityBreach(orderedRatios: Seq[Double]): Boolean =
    contiguityBreachOpt(orderedRatios.map(Some(_)))

  /** Option-aware contiguity (r16, closing the r14/r15 advisory): a
    * prior-less query (new op before priors regenerate) is SKIPPED — it
    * neither extends nor RESETS the adjacency run. The previous neutral-1.0
    * injection reset the ≥3 counter exactly in rounds that add new ops,
    * i.e. the window [5x, new-op, 5x, 5x] read as two short clean runs.
    * Skipping preserves the suite-order adjacency of the measured queries
    * on either side of the gap. */
  /** How many consecutive PRIOR-LESS entries an adjacency run may be
    * carried across (r17, closing the r16 advisory): skipping gaps
    * unboundedly lets two spikes separated by MANY consecutive new ops —
    * real wall-clock apart — count as adjacent, over-labeling records in
    * rounds that add several ops (the opposite bias of the old neutral-1.0
    * reset). Two is enough to bridge a new op or two spliced into a
    * window while keeping "adjacent" temporally meaningful. */
  private val MaxCarryGap = 2

  private[graft] def contiguityBreachOpt(orderedRatios: Seq[Option[Double]]): Boolean = {
    var run = 0; var worst = 0; var gap = 0
    orderedRatios.foreach {
      case Some(r) if r > 4.0 => run += 1; gap = 0; if (run > worst) worst = run
      case Some(_)            => run = 0; gap = 0
      case None               => // prior-less: carry the run across short gaps only
        gap += 1; if (gap > MaxCarryGap) run = 0
    }
    worst >= 3
  }

  /** End-of-suite salvage list: queries a contaminated-or-suspect record
    * cannot adjudicate without a second measurement. Four triggers on the
    * host-normalized suite-order sequence:
    *  (1) ratio > 5× prior (r16);
    *  (2) member of a contiguity window — ≥3 adjacent >4×, prior-less
    *      carried across ≤ MaxCarryGap entries (r16/r17);
    *  (3) ratio > 2× AND absolute regression > 1.5 s (r17 — the r16 record's
    *      stream_stream_join 2.0× (+3.1 s) and stream_dedup_state 2.05×
    *      (+1.8 s) doubled without qualifying under (1)/(2) and had to wait
    *      a full round for adjudication). r20: the ratio leg is satisfied
    *      by EITHER the host-normalized ratio or the RAW ratio
    *      (rawSec / prior, reconstructed as rawSec / (rawSec − deltaSec)).
    *      Host normalization exists to stop a slow box false-positiving
    *      the whole suite, but on a slow host (hf > 1) it DESENSITIZES
    *      this trigger exactly when real wall-clock at stake is highest:
    *      BENCH_r19 (hf 1.11) read stream_stream_join at 5.74 s vs prior
    *      2.68 — raw 2.14×, normalized 1.93× — and no trigger fired on
    *      the record's third-largest raw reading;
    *  (4) PRIOR-LESS and raw > 5× the run's median raw AND > 3 s (r18 —
    *      every prior trigger needs a prior ratio, so a brand-new
    *      expensive key shipped unadjudicated: BENCH_r17 retried fn_xml's
    *      23.8 s spike down to 1.8 s but could not touch the new
    *      pipeline_rag_retrieval at 17.9 s);
    *  (5) MID-BAND (r22, the r21 verdict's item 3): raw ratio > 2× prior
    *      AND normalized ratio > 1.5× AND raw > 1.5 s. The r21 record
    *      shipped fn_math at 5.84 s (2.6× raw, 2.05× normalized) with no
    *      second opinion — it qualified under (3) but the cap evicted it —
    *      and keys just under (3)'s 1.5 s delta floor never qualified at
    *      all. The 1.5 s raw floor keeps r15-style sub-second drift
    *      (win_first_last 2.6× on a 0.4 s raw) out of the retry budget.
    * `deltaSec` is the RAW sec − prior (not normalized: the threshold is
    * about real wall-clock at stake); `rawSec` feeds the prior-less
    * absolute trigger. Bounded by `cap` so a fully-poisoned run doesn't
    * double its own wall-clock. r20: the cap takes candidates by absolute
    * raw regression DESCENDING (prior-less keys rank by rawSec − median
    * raw, their own trigger's regression notion; ties by normalized ratio,
    * then suite order) — the r16-era suite-order cap let 8 earlier-suite
    * keys consume BENCH_r19's budget while the record's two largest raw
    * readings (stream_outer_join 9.07 s at 3.2× prior, stream_stream_join
    * 5.74 s) shipped unadjudicated, the exact spikes the net exists for.
    * r22: cap raised 8 → 12 — the r21 driver record had 9+ qualifying keys
    * and the 8-slot budget evicted fn_math's +3.6 s; a poisoned run pays
    * ≤4 extra re-measures, a clean run pays nothing. */
  private[graft] def retryCandidates(
      named: Seq[(String, Option[Double], Option[Double], Double)],
      cap: Int = 12): Seq[String] = {
    val keep = scala.collection.mutable.HashSet.empty[String]
    val raws = named.map(_._4).sorted
    val medianRaw = if (raws.isEmpty) 0.0 else raws(raws.length / 2)
    named.foreach { case (n, r, d, raw) =>
      if (r.exists(_ > 5.0)) keep += n
      val rawRatio = d.map(dd => if (raw - dd > 0) raw / (raw - dd) else 0.0)
      if ((r.exists(_ > 2.0) || rawRatio.exists(_ > 2.0)) && d.exists(_ > 1.5)) keep += n
      if (r.isEmpty && raw > 5.0 * medianRaw && raw > 3.0) keep += n
      if (rawRatio.exists(_ > 2.0) && r.exists(_ > 1.5) && raw > 1.5) keep += n
    }
    var run = scala.collection.mutable.ArrayBuffer.empty[String]
    val windowMembers = scala.collection.mutable.LinkedHashSet.empty[String]
    var gap = 0
    def flush(): Unit = {
      if (run.size >= 3) { keep ++= run; windowMembers ++= run }
      run.clear()
    }
    named.foreach {
      case (n, Some(r), _, _) if r > 4.0 => run += n; gap = 0
      case (_, None, _, _)               => gap += 1; if (gap > MaxCarryGap) flush()
      case _                             => gap = 0; flush()
    }
    flush()
    val ranked = named.zipWithIndex
      .collect { case ((n, r, d, raw), i) if keep(n) =>
        (n, d.getOrElse(raw - medianRaw), r.getOrElse(0.0), i) }
      .sortBy { case (_, sev, ratio, i) => (-sev, -ratio, i) }
      .map(_._1)
    val capped = ranked.take(cap)
    // r21 (ADVICE): the delta-descending cap can evict an ENTIRE contiguity
    // window — window members spike on RATIO (>4× a sub-second prior), so
    // their absolute deltas rank below isolated big-key spikes, and a
    // poisoned run could ship its contention-window signature unadjudicated.
    // Reserve the last slot for the window's strongest member (by
    // normalized ratio, suite order on ties) when the cap kept none.
    // r22 (ADVICE): guard the substitution — with cap = 0 (or an empty
    // capped list) dropRight(1) :+ strongest would EXCEED the cap
    if (capped.nonEmpty && windowMembers.nonEmpty &&
        !capped.exists(windowMembers.contains)) {
      val strongest = named.zipWithIndex
        .collect { case ((n, r, _, _), i) if windowMembers.contains(n) =>
          (n, r.getOrElse(0.0), i) }
        .sortBy { case (_, ratio, i) => (-ratio, i) }
        .head._1
      (capped.dropRight(1) :+ strongest).toSeq
    } else capped.toSeq
  }

  /** Self-adjudicating totals (r21, closing the r20 verdict's top task):
    * the official record carries the raw total PLUS the arithmetic every
    * judge previously redid by hand — `adjusted_total` substitutes each
    * retried key's second (post-bracket, in-run) measurement for its first
    * spiked one, and `host_normalized_total` divides that by the run's
    * host factor. Substitution is symmetric (a retry that measures SLOWER
    * also substitutes — honesty over flattery) and FLOORED at the key's
    * clean prior: several ops reuse session-scoped shared builds (the
    * substring index, the char-BPE training cache, the minhash pair
    * cache), so their in-run retry measures the cache, not the op — a
    * 6.9 s first / 0.14 s retry pair must not credit the total 6.8 s the
    * op never runs below cleanly. The raw total stays the headline
    * `value`. Replayed against the BENCH_r20 telemetry in BenchSpec
    * (expect ≈225.5 raw-adjusted / ≈214.7 normalized — every r20 retry
    * sat above its prior, so the floor changes nothing there).
    *
    * r22 (ADVICE): the normalized total floors at prior × hf, not at the
    * raw prior — flooring at the builder-box clean prior and THEN dividing
    * by the host factor double-discounted a cache-assisted retry (credited
    * prior/hf, below what the op cleanly costs anywhere). The raw-scale
    * `adjusted_total` keeps the raw-prior floor. */
  private[graft] def adjudicatedTotals(total: Double,
      retried: Seq[(String, (Double, Double))], hf: Double,
      priors: Map[String, Double] = BenchPriors.prior): (Double, Double) = {
    def adj(floor: Double => Double) = total - retried.map {
      case (name, (first, again)) =>
        first - priors.get(name).fold(again)(p => math.max(again, floor(p)))
    }.sum
    val safeHf = math.max(hf, 0.01)
    (adj(identity), adj(_ * safeHf) / safeHf)
  }

  /** Host factor (r14): the run's own median prior-ratio, the uniform
    * component of drift. The r13 same-day builder runs read 139.5/157.3/
    * 188.5 s on identical-or-better code with medians 0.88/1.12/1.36 and
    * ZERO localized spikes — a slow-but-clean host shifts EVERY ratio up
    * uniformly, eroding the contiguity rule's localization (naturally
    * variant queries at 3.2× genuine ratio read 4.3× and three adjacent
    * ones fake a contention window). Dividing each ratio by the run's
    * median re-centers the distribution at 1 before the contiguity rule,
    * so it measures deviation from the run's OWN typical drift — on a
    * fast host (median < 1) the same division sharpens ratios upward.
    * Floored at 0.5: a sub-half median means priors from a far slower
    * protocol, where full division would 2×+ every ratio and
    * false-positive on noise. The DISPERSION rule (ratioVerdict) stays
    * raw on purpose: median drift is half of its breach signature. */
  private[graft] def hostFactor(ratios: Seq[Double]): Double =
    if (ratios.isEmpty) 1.0
    else math.max(0.5, ratios.sorted.apply(ratios.length / 2))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val cleaned = cleanScratch()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // 167 fast queries flood the shared listener queue (task + AQE + SQL
      // events); at the default 10k capacity the bus can drop the
      // SQLExecutionEnd events that observation metrics and QueryExecution
      // listeners ride on (a dropped one hung incremental_bookmark's
      // Observation.get for 15+ min mid-bench). Bookmark now bounds that
      // wait library-side; this keeps the events from dropping at all.
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "50000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Steady-state measurement: pay JVM classloading + whole-stage-codegen
    // compiler warmup on a throwaway dataset (NOT the benchmark data), so the
    // first timed query measures the engine, not JIT startup. The JSON
    // expressions are warmed explicitly: first use of the Jackson parse path
    // costs ~5 s of classloading that otherwise lands on whichever query
    // happens to parse JSON first (fn_json in r2, fn_map in r3).
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      val tmp = "/tmp/graft_bench_warmup"
      spark.range(1000).select(col("id"), (col("id") % 7).as("k"),
          col("id").cast("double").as("v"),
          concat(lit("{\"k\":"), col("id") % 10, lit("}")).as("js"))
        .write.mode("overwrite").parquet(tmp)
      val w = spark.read.parquet(tmp)
      w.filter(col("k") > 2).groupBy(col("k")).agg(sum(col("v"))).count()
      w.join(w.select(col("k").as("k2")).distinct(), col("k") === col("k2"))
        .count()
      val js = StructType(Seq(StructField("k", IntegerType)))
      w.select(from_json(col("js"), js).as("j"),
          get_json_object(col("js"), "$.k").as("g"),
          to_json(struct(col("k"))).as("t"))
        .filter(col("j.k").isNotNull).count()
      // custom codegen'd expressions (vec_dot & co.) compile per-session
      thrivespark.functions.Register(spark)
      val fv = array(col("v"), col("v")).cast("array<float>")
      w.select(call_function("vec_dot", fv, fv)).count()
      // structured-streaming machinery (micro-batch planner, state store,
      // checkpoint IO) class-loads on first use — ~5 s that belongs to JVM
      // startup, not to whichever stream_* query happens to run first
      val cp = thrivespark.Scratch.dir("warm_cp")
      thrivespark.streaming.StreamRunner.withStreamConf(spark, cp) {
        val q = spark.readStream.schema(w.schema).parquet(tmp)
          .groupBy(col("k")).agg(count(lit(1)))
          .writeStream.outputMode("update").format("memory")
          .queryName("graft_warmup_stream")
          .option("checkpointLocation", cp).start()
        q.processAllAvailable(); q.stop()
      }
    }
    // Calibrate AFTER warmup (so the probes measure the box, not JIT) and
    // again after the suite: contamination arriving mid-run is caught too.
    // CPU and I/O are probed independently — r5's contention was CPU, r6's
    // was disk; EITHER budget breach labels the record.
    val calPre = calibrate(spark)
    val ioPre = calibrateIo(spark)
    if (calPre > CalibrationBudgetSec || ioPre > IoBudgetSec)
      println(f"WARNING: calibration cpu=${calPre}%.2f s (budget ${CalibrationBudgetSec}%.1f) io=${ioPre}%.2f s (budget ${IoBudgetSec}%.1f) — host appears contaminated by concurrent load; timings below are NOT trustworthy")
    // Interleave the ~1 s I/O probe AND the CPU probe every 25 queries:
    // r5–r7 all produced officially contaminated records that self-labeled
    // clean because the bracketing probes only observe the endpoints —
    // contention that arrives after the pre-probe and subsides before the
    // post-probe is invisible to them (BENCH_r07: brackets clean, yet 58
    // queries ran >5× their clean priors). r12 closed that for I/O but the
    // mid-run probe was I/O-ONLY, so a mid-run CPU-steal window (the
    // official r12 record: 7 contiguous queries 4–25× slow) still slipped
    // through. Both resources are now probed mid-run; either budget breach
    // labels the record directly.
    val midIo = scala.collection.mutable.ArrayBuffer.empty[Double]
    val midCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Per-query liveness cap (QueryGuard): a single hung query (r8 saw one —
    // an Observation.get parked on a dropped listener event) must cost the
    // record one marked-failed entry, not the whole official run. 300 s is
    // two orders above any clean per-query time and above the historical
    // 11× contamination inflation, so it fires only on true liveness loss.
    var nTimeout = 0
    var nFailed = 0
    val results: Seq[(String, Double)] = SparkEntry.queries.toSeq.zipWithIndex
      .map { case ((name, fn), i) =>
        if (i > 0 && i % 25 == 0) {
          midIo += ioProbeOnce(spark); midCpu += cpuProbeOnce(spark)
        }
        val t0 = System.nanoTime()
        // Execute via the noop sink, NOT count(): under Aggregate(count(1))
        // Catalyst prunes the op's defining work (EliminateSorts drops the
        // global orderBy, column pruning drops unreferenced projections —
        // a from_json+flatten op collapses to a bare row-count scan). The
        // noop write consumes every output row and column, so the timing
        // covers the plan the op actually declares.
        QueryGuard.timed(spark, name, 300L) {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        } match {
          case Left(reason) =>
            if (reason.startsWith("timed out")) nTimeout += 1 else nFailed += 1
            System.err.println(s"[bench] $name failed: $reason")
          case Right(_) => ()
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
    val calPost = calibrate(spark)
    val ioPost = calibrateIo(spark)
    if (calPost > CalibrationBudgetSec || ioPost > IoBudgetSec)
      println(f"WARNING: post-run calibration cpu=${calPost}%.2f s io=${ioPost}%.2f s exceeds budget — concurrent load arrived during the run; timings above are NOT trustworthy")
    val probesBreached = calPre > CalibrationBudgetSec || calPost > CalibrationBudgetSec ||
      ioPre > IoBudgetSec || ioPost > IoBudgetSec ||
      midIo.exists(_ > IoBudgetSec) || midCpu.exists(_ > CalibrationBudgetSec)
    // Per-query ratio to the last recorded clean run (BenchPriors): a
    // contaminated record localizes itself — a uniform ~1.5× spread is host
    // speed, concentrated 10×+ spikes are contention on those queries.
    // `results` is suite order, so `ratios` is too — the contiguity rule
    // depends on that ordering.
    val ratios = results.flatMap { case (n, sec) =>
      BenchPriors.prior.get(n).map(p => n -> sec / p) }
    val (ratioMedian, over5x, ratioBreached) = ratioVerdict(ratios.map(_._2))
    // Contiguity runs on the HOST-NORMALIZED suite-order sequence (r14):
    // each ratio divided by the run's own median, so uniform host drift
    // cannot fake (or mask) a contention window. Prior-less queries (new
    // ops before priors regenerate) are SKIPPED, carrying the adjacency
    // run across the gap (r16 — the earlier neutral-1.0 injection RESET
    // the ≥3 counter exactly in rounds that add ops). Both the raw and the
    // normalized verdicts are recorded; the normalized one gates.
    val hf = hostFactor(ratios.map(_._2))
    val orderedRaw: Seq[(String, Option[Double])] = results.map { case (n, sec) =>
      n -> BenchPriors.prior.get(n).map(p => sec / p) }
    val contiguousRaw = contiguityBreachOpt(orderedRaw.map(_._2))
    val orderedNormalized = orderedRaw.map { case (n, r) => n -> r.map(_ / hf) }
    val contiguousBreached = contiguityBreachOpt(orderedNormalized.map(_._2))
    // End-of-suite salvage (r16): re-measure the spiked/windowed queries
    // once, AFTER the post-run probes bracket the official suite. The
    // retry never changes the total or the verdict — it gives the record
    // the in-run second opinion that adjudicates "host noise on untouched
    // code" (r15's win_first_last 2.6×) vs "this query really regressed"
    // without waiting a round for a judge re-run.
    val firstBySec = results.toMap
    // normalized ratio drives the relative triggers; the raw sec − prior
    // delta drives the absolute one (real wall-clock at stake)
    val retryInput = results.map { case (n, sec) =>
      val p = BenchPriors.prior.get(n)
      (n, p.map(sec / _ / hf), p.map(sec - _), sec) }
    val retried = retryCandidates(retryInput).map { name =>
      val t0 = System.nanoTime()
      QueryGuard.timed(spark, name, 300L) {
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
      } match {
        case Left(reason) => System.err.println(s"[bench] retry $name failed: $reason")
        case Right(_) => ()
      }
      name -> (firstBySec(name), (System.nanoTime() - t0) / 1e9)
    }
    // 2 decimals (r22): the retried map rides the length-budgeted final
    // line; 10 ms precision is ample for adjudication pairs
    val retriedStr = retried.map { case (n, (a, b)) =>
      f""""$n":[$a%.2f,$b%.2f]""" }.mkString("{", ",", "}")
    // a timed-out OR exception-failed query means part of the suite went
    // unmeasured — either way the record is not a valid total, label it
    val contaminated = probesBreached || ratioBreached || contiguousBreached ||
      nTimeout > 0 || nFailed > 0
    val midStr = midIo.map(v => f"$v%.3f").mkString("[", ",", "]")
    val midCpuStr = midCpu.map(v => f"$v%.3f").mkString("[", ",", "]")
    val totalRaw = results.map(_._2).sum
    val (adjustedTotal, hostNormalizedTotal) =
      adjudicatedTotals(totalRaw, retried, hf)
    val calib = f""""calibration_sec":[${calPre}%.3f,${calPost}%.3f],"io_sec":[${ioPre}%.3f,${ioPost}%.3f],"io_mid_sec":$midStr,"cpu_mid_sec":$midCpuStr,"contaminated":$contaminated,"ratio_breached":$ratioBreached,"contiguous_breached":$contiguousBreached,"contiguous_breached_raw":$contiguousRaw,"retried":$retriedStr,"adjusted_total":${adjustedTotal}%.3f,"host_normalized_total":${hostNormalizedTotal}%.3f,"prior_ratio_median":${ratioMedian}%.2f,"host_factor":${hf}%.2f,"n_over_5x_prior":$over5x,"n_timeout":$nTimeout,"n_failed":$nFailed,"cleaned_tmp":$cleaned"""
    if (ratios.nonEmpty) {
      val worst = ratios.sortBy(-_._2).take(8)
        .map { case (n, r) => f""""$n":${r}%.1f""" }.mkString("{", ",", "}")
      println(s"""{"metric":"prior_ratio_worst","ratios":$worst}""")
    }
    val total = totalRaw
    def ent(kv: (String, Double)): String = "\"" + kv._1 + "\":" + f"${kv._2}%.3f"
    // Full per-query detail, for humans reading the raw log.
    println(s"""{"metric":"total_detail","value":$total,"unit":"sec","queries":${
      results.map(ent).mkString("{", ",", "}")},$calib,"sf":"$sfDir"}""")
    // The driver captures only the last ~2000 chars of stdout; the FINAL line
    // must fit inside that window or BENCH_r{N}.json records parsed:null
    // (which is what happened in rounds 1-3). Keep the slowest queries up to
    // a fixed char budget and summarize the omitted fast tail.
    println(finalLine(total, results, calib, sfDir, retriedStr.length))
    spark.stop()
  }

  /** The length-budgeted official final line (the driver captures only the
    * last ~2000 chars of stdout; rounds 1-3 shipped parsed:null lines).
    * r22 (r21 verdict item 4): the r21 budget shrink (1300 → 1150) cut
    * per-key coverage to 33 keys and manufactured 17 spurious
    * "dropped_from_bench" rows in PERF_r21. Coverage restored to ≥39 keys
    * by (a) 2-decimal per-key and retried entries on the final line (the
    * total_detail line keeps 3 decimals for humans), (b) per-key budget
    * 1290 − retried length. The non-query fields measured 672 chars on the
    * r21 final record, so the line stays ≈1965 chars for ANY retried-map
    * size (the budget self-compensates); BenchSpec pins both the length
    * and the ≥39-key coverage against the real registry names. */
  private[graft] def finalLine(total: Double, results: Seq[(String, Double)],
      calib: String, sfDir: String, retriedLen: Int): String = {
    def entF(kv: (String, Double)): String =
      "\"" + kv._1 + "\":" + f"${kv._2}%.2f"
    val budget = math.max(400, 1290 - retriedLen)
    val byCost = results.sortBy { case (k, v) => (-v, k) }
    var used = 0
    val keep = scala.collection.mutable.HashSet.empty[String]
    byCost.foreach { kv =>
      val len = entF(kv).length + 1
      if (used + len <= budget) { used += len; keep += kv._1 }
    }
    val kept = results.filter(kv => keep(kv._1))
    val omitted = results.filterNot(kv => keep(kv._1))
    s"""{"metric":"total","value":$total,"unit":"sec","queries":${
      kept.map(entF).mkString("{", ",", "}")},"queries_omitted":${omitted.size},"omitted_sec":${
      f"${omitted.map(_._2).sum}%.3f"},$calib,"sf":"$sfDir"}"""
  }
}
