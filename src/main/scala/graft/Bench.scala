package graft
import org.apache.spark.sql.SparkSession

object Bench {
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
        // durable stages are re-created only when stale; keep them
        .filterNot(_.getName.startsWith(thrivespark.DurableStage.Prefix))
        .filter(f => now - lastActivity(f) > StaleAfterMs)
    // legacy root-level entries + the single ephemeral parent's children
    // (Scratch.dir puts all per-run checkpoints/sinks under graft_eph so
    // the /tmp root listing stays small; sweep INSIDE it entry-by-entry —
    // one live child must not shield its stale siblings). At the root only
    // directories: every graft_* entry the engine makes there is one, and a
    // plain file of that name belongs to some other program.
    val stale =
      staleUnder(new java.io.File("/tmp"),
        n => n.startsWith("graft_") && n != "graft_eph").filter(_.isDirectory) ++
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
    * spill use, so I/O-side contention labels the record too. It writes
    * under its own `Scratch.dir`, so two concurrent Bench JVMs never
    * overwrite each other's probe. */
  private val IoBudgetSec = 4.0
  private[graft] def ioProbeOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val dir = thrivespark.Scratch.dir("ioprobe")
    try {
      val t0 = System.nanoTime()
      spark.range(1000L * 1000)
        .select(col("id"), (col("id") * 2654435761L).as("v"),
          md5(col("id").cast("string")).as("s")) // incompressible payload
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
        .agg(sum(hash(col("s"), col("v")))).count(): Unit
      (System.nanoTime() - t0) / 1e9
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
  }
  // best-of-two for the bracketing measurements (a single probe can absorb a
  // one-off GC pause); the interleaved mid-run probes are single-shot but
  // judged against the same generous 4 s budget
  private def calibrateIo(spark: SparkSession): Double =
    (1 to 2).map(_ => ioProbeOnce(spark)).min

  /** The record's label, from what this run measured: any CPU or I/O probe
    * over its budget (before, mid-run or after), or any key that timed out
    * or failed, which leaves part of the suite unmeasured. */
  private[graft] def contaminated(cpuProbes: Seq[Double], ioProbes: Seq[Double],
      nTimeout: Int, nFailed: Int): Boolean =
    cpuProbes.exists(_ > CalibrationBudgetSec) || ioProbes.exists(_ > IoBudgetSec) ||
      nTimeout > 0 || nFailed > 0

  /** Mid-run probe cadence: a probe pair follows the first key that ends at
    * least this long after the previous probe. The bracketing probes only
    * see the endpoints, and a probe every N keys can miss a contention window
    * of a few slow keys (the r12 record: a CPU-steal window of 7 adjacent
    * keys and ~113 s, which a 25-key count can fall between). Under this
    * cadence, every stretch of keys whose keys but the last take 20 s or
    * more holds a probe. */
  private val MidProbeEverySec = 20.0
  private[graft] def probeDue(secSinceProbe: Double): Boolean =
    secSinceProbe >= MidProbeEverySec

  /** The keys re-measured after the suite: the `cap` largest first attempts,
    * in cost order. Each pair is a first-touch vs steady-state reading of the
    * keys that dominate the headline. */
  private[graft] def retryPick(results: Seq[(String, Double)],
      cap: Int = 12): Seq[(String, Double)] =
    byCost(results).take(cap)

  private def byCost(results: Seq[(String, Double)]) =
    results.sortBy { case (k, v) => (-v, k) }

  private def secSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // Execute via the noop sink, NOT count(): under Aggregate(count(1))
  // Catalyst prunes the op's defining work (EliminateSorts drops the global
  // orderBy, column pruning drops unreferenced projections — a
  // from_json+flatten op collapses to a bare row-count scan). The noop write
  // consumes every output row and column, so the timing covers the plan the
  // op actually declares. Per-query liveness cap (QueryGuard): a single hung
  // query (r8 saw one — an Observation.get parked on a dropped listener
  // event) must cost the record one marked-failed entry, not the whole run.
  // 300 s is two orders above any clean per-query time, so it fires only on
  // true liveness loss.
  private def runKey(spark: SparkSession, sfDir: String, name: String): Option[String] =
    QueryGuard.timed(spark, name, 300L) {
      SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
    }.swap.toOption

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cleaned = cleanScratch()
    val spark = session()
    warmUp(spark)
    // Calibrate AFTER warmup (so the probes measure the box, not JIT), on a
    // wall-clock cadence during the suite, and again after it. CPU and I/O
    // are probed independently — r5's contention was CPU, r6's was disk.
    val calPre = calibrate(spark)
    val ioPre = calibrateIo(spark)
    if (calPre > CalibrationBudgetSec || ioPre > IoBudgetSec)
      println(f"WARNING: calibration cpu=${calPre}%.2f s (budget ${CalibrationBudgetSec}%.1f) io=${ioPre}%.2f s (budget ${IoBudgetSec}%.1f) — host appears contaminated by concurrent load; timings below are NOT trustworthy")
    val midIo = scala.collection.mutable.ArrayBuffer.empty[Double]
    val midCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lastProbe = System.nanoTime()
    var nTimeout = 0
    var nFailed = 0
    val results: Seq[(String, Double)] = SparkEntry.queries.keys.toSeq.map { name =>
      val t0 = System.nanoTime()
      runKey(spark, sfDir, name).foreach { reason =>
        if (reason.startsWith("timed out")) nTimeout += 1 else nFailed += 1
        System.err.println(s"[bench] $name failed: $reason")
      }
      val sec = secSince(t0)
      if (probeDue(secSince(lastProbe))) {
        midIo += ioProbeOnce(spark); midCpu += cpuProbeOnce(spark)
        lastProbe = System.nanoTime()
      }
      name -> sec
    }
    val calPost = calibrate(spark)
    val ioPost = calibrateIo(spark)
    if (calPost > CalibrationBudgetSec || ioPost > IoBudgetSec)
      println(f"WARNING: post-run calibration cpu=${calPost}%.2f s io=${ioPost}%.2f s exceeds budget — concurrent load arrived during the run; timings above are NOT trustworthy")
    // Re-measure the largest first attempts once, after the post-run probes
    // bracket the suite. The retry never changes the total or the label.
    val retried = retryPick(results).map { case (name, first) =>
      val t0 = System.nanoTime()
      runKey(spark, sfDir, name).foreach(reason =>
        System.err.println(s"[bench] retry $name failed: $reason"))
      name -> (first, secSince(t0))
    }
    // 2 decimals: the retried map rides the length-budgeted final line
    val retriedStr = retried.map { case (n, (a, b)) =>
      f""""$n":[$a%.2f,$b%.2f]""" }.mkString("{", ",", "}")
    val isContaminated = contaminated(calPre +: calPost +: midCpu.toSeq,
      ioPre +: ioPost +: midIo.toSeq, nTimeout, nFailed)
    def arr(vs: Seq[Double]) = vs.map(v => f"$v%.3f").mkString("[", ",", "]")
    def peak(vs: Seq[Double]) = f"${vs.maxOption.getOrElse(0.0)}%.3f"
    val calib = f""""calibration_sec":[${calPre}%.3f,${calPost}%.3f],"io_sec":[${ioPre}%.3f,${ioPost}%.3f],"io_mid_max":${peak(midIo.toSeq)},"cpu_mid_max":${peak(midCpu.toSeq)},"n_mid_probes":${midIo.size},"contaminated":$isContaminated,"retried":$retriedStr,"n_timeout":$nTimeout,"n_failed":$nFailed,"cleaned_tmp":$cleaned"""
    val total = results.map(_._2).sum
    def ent(kv: (String, Double)): String = "\"" + kv._1 + "\":" + f"${kv._2}%.3f"
    // Full per-query detail and every mid-run probe, for humans reading the
    // raw log.
    println(s"""{"metric":"total_detail","value":$total,"unit":"sec","queries":${
      results.map(ent).mkString("{", ",", "}")},$calib,"io_mid_sec":${arr(midIo.toSeq)},"cpu_mid_sec":${
      arr(midCpu.toSeq)},"sf":"$sfDir"}""")
    // The driver captures only the last ~2000 chars of stdout; the FINAL line
    // must fit inside that window or BENCH_r{N}.json records parsed:null
    // (which is what happened in rounds 1-3). Keep the slowest queries up to
    // a fixed char budget and summarize the omitted fast tail.
    println(finalLine(total, results, calib, sfDir, retriedStr.length))
    spark.stop()
  }

  /** The session Bench, Verify and BenchOne run in: `local[cpus]` with
    * `cpus` from `SPARK_GRAFT_CPUS` (default 4), one shuffle partition per
    * core, no UI, WARN logging. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
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
    spark
  }

  /** Steady-state measurement: pay JVM classloading + whole-stage-codegen
    * compiler warmup on a throwaway dataset (NOT the benchmark data), so the
    * first timed query measures the engine, not JIT startup. Covers parquet,
    * aggregation, a join, the JSON expressions (first use of the Jackson
    * parse path costs ~5 s of classloading that otherwise lands on whichever
    * query happens to parse JSON first: fn_json in r2, fn_map in r3), the
    * custom expressions and one streaming query. */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val tmp = thrivespark.Scratch.dir("warmup")
    val cp = thrivespark.Scratch.dir("warm_cp")
    // first: Register sets the session's artifact isolation, which the
    // session reads at its first query
    thrivespark.functions.Register(spark)
    try {
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
      // custom codegen'd expressions (vec_dot & co.)
      val fv = array(col("v"), col("v")).cast("array<float>")
      w.select(call_function("vec_dot", fv, fv)).count()
      // structured-streaming machinery (micro-batch planner, state store,
      // checkpoint IO) class-loads on first use — ~5 s that belongs to JVM
      // startup, not to whichever stream_* query happens to run first
      val q = spark.readStream.schema(w.schema).parquet(tmp)
        .groupBy(col("k")).agg(count(lit(1)))
        .writeStream.outputMode("update").format("memory")
        .queryName("graft_warmup_stream")
        .option("checkpointLocation", cp).start()
      q.processAllAvailable(); q.stop()
    } finally Seq(tmp, cp).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)): Unit)
  }

  /** The length-budgeted official final line (the driver captures only the
    * last ~2000 chars of stdout; rounds 1-3 shipped parsed:null lines).
    * Per-key entries carry 2 decimals (the total_detail line keeps 3) and
    * take the slowest keys up to 1600 chars minus the retried map's length,
    * so the line keeps its length for any retried-map size. `calib` holds
    * only fixed-size fields besides that map; BenchSpec pins the length and
    * the ≥39-key coverage against the real registry names. */
  private[graft] def finalLine(total: Double, results: Seq[(String, Double)],
      calib: String, sfDir: String, retriedLen: Int): String = {
    def entF(kv: (String, Double)): String =
      "\"" + kv._1 + "\":" + f"${kv._2}%.2f"
    val budget = math.max(400, 1600 - retriedLen)
    var used = 0
    val keep = scala.collection.mutable.HashSet.empty[String]
    byCost(results).foreach { kv =>
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
