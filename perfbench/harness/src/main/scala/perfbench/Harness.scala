package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File
import scala.collection.mutable

/** One benchmark run in one JVM: set up the session several times, run a
  * cold pass and repeat passes over the given keys (closed loop, one key at
  * a time, noop sink), dump each key's result for the correctness check, and
  * write everything measured to `<out>/raw.json`. run.py turns that into
  * metrics. Usage (all flags required):
  *   --sf <fixture dir> --keys k1,k2,.. (the order of every pass)
  *   --seconds <n> --trace 0|1 --out <dir> --seed <n>
  *   --kernels 0|1 (time the kernel tier after the dump)
  */
object Harness {
  private val KeyTimeoutSec = 150L
  private val Setups = 3
  private val MinWarm = 2 // untraced repeat passes
  // The engine keeps its durable stages and ephemera here (thrivespark.Scratch
  // and the staging ops hard-code it).
  private val ScratchRoot = new File("/tmp")
  private val Kernels = Seq("vec_dot", "vec_dot_long", "minhash_signature", "lsh_band_keys",
    "simhash64", "shingle_hashes")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val sf = opt("sf")
    val keys = opt("keys").split(',').toSeq
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = new File(opt("out")); out.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors

    // Set-up, several times; the first also pays JVM start and class
    // loading. Every set-up but the last is torn down again.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to Setups).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = if (i == 1) jvmStartMs else System.currentTimeMillis()
      spark = setUp(cpus, new File(out, "warmup"), firstInJvm = i == 1)
      setups += (System.currentTimeMillis() - t0) / 1e3
    }
    val sc = spark.sparkContext

    val rec = new Recorder
    def listen(on: Boolean): Unit =
      if (on) {
        sc.addSparkListener(rec); spark.listenerManager.register(rec.queryListener)
        spark.streams.addListener(rec.streamListener)
      } else {
        sc.removeSparkListener(rec); spark.listenerManager.unregister(rec.queryListener)
        spark.streams.removeListener(rec.streamListener)
      }

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val lastResult = mutable.Map.empty[String, DataFrame]
    var drained = true
    def pass(kind: String, trace: Boolean): Unit = {
      if (trace) listen(on = true)
      val startMs = System.currentTimeMillis()
      val scratchBefore = topLevel(ScratchRoot)
      val rows = keys.map { k =>
        val (row, df) = runKey(spark, sf, k, trace)
        df match { case Some(d) => lastResult(k) = d; case None => lastResult -= k }
        row
      }
      val endMs = System.currentTimeMillis()
      val extra: Map[String, Any] = if (!trace) Map.empty else {
        drained &&= rec.drain(sc, s"${kind}_${passes.size}")
        listen(on = false)
        val storage = sc.getRDDStorageInfo
        Map("cached_bytes" -> storage.map(r => r.memSize + r.diskSize).sum,
          "scratch_written_bytes" -> bytesSince(ScratchRoot, startMs),
          "durable_stages_built" -> (topLevel(ScratchRoot) -- scratchBefore).size)
      }
      passes += Map("kind" -> kind, "traced" -> trace, "start_ms" -> startMs,
        "end_ms" -> endMs, "keys" -> rows) ++ extra
    }

    // Cold pass, then repeat passes until the measuring time is used up and
    // at least MinWarm ran. A traced run measures the tracing overhead inside
    // one session: the first repeat pass, still markedly slower while the JIT
    // warms, only settles the session; then come traced, untraced, untraced
    // and traced passes, so the remaining speed-up from pass to pass falls on
    // both kinds alike.
    val measureStart = System.nanoTime()
    pass("cold", traced)
    if (traced) {
      pass("settle", trace = false)
      Seq(true, false, false, true).foreach(t => pass("warm", t))
    } else {
      var nWarm = 0
      while (nWarm < MinWarm || (System.nanoTime() - measureStart) / 1e9 < seconds) {
        pass("warm", trace = false); nWarm += 1
      }
    }
    val peakRssMb = peakRss()
    val measureDoneMs = System.currentTimeMillis()

    // Correctness dump, outside the timed passes and in the reverse key
    // order: each key's result as the last repeat pass built it, executed
    // again into parquet (a streaming key's replay is not repeated).
    val dumpDir = new File(out, "dump")
    val dump = keys.reverse.map { k =>
      val r = lastResult.get(k).toRight("failed in the last pass").flatMap(df =>
        graft.QueryGuard.timed(spark, k, KeyTimeoutSec) {
          df.write.mode("overwrite").parquet(new File(dumpDir, k).getPath)
        })
      Map("key" -> k, "ok" -> r.isRight, "error" -> r.left.toOption.orNull)
    }

    val dumpDoneMs = System.currentTimeMillis()
    val kernels =
      if (opt("kernels") == "1") kernelTier(spark, opt("seed").toLong, Kernels)
      else Kernels.map(fn => Map("fn" -> fn, "rows" -> 0L, "secs" -> Nil))

    val raw = Map(
      "cpus" -> cpus, "setup_s" -> setups.toSeq, "peak_rss_mb" -> peakRssMb,
      "phase_s" -> Map("measure" -> (measureDoneMs - passes.head("start_ms").asInstanceOf[Long]) / 1e3,
        "dump" -> (dumpDoneMs - measureDoneMs) / 1e3,
        "kernels" -> (System.currentTimeMillis() - dumpDoneMs) / 1e3),
      "passes" -> passes.toSeq, "dump" -> dump, "kernels" -> kernels, "drained" -> drained,
      "jobs" -> rec.jobs.values.filter(_.sentinel.isEmpty).toSeq.map(j => Map(
        "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages)),
      "stages" -> rec.stages.values.toSeq.map(s => Map(
        "id" -> s.id, "attempt" -> s.attempt, "submit_ms" -> s.submitMs,
        "complete_ms" -> s.completeMs, "tasks" -> s.tasks, "run_ms" -> s.runMs,
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "wait_ms" -> s.waitMs,
        "input_bytes" -> s.inputB, "output_bytes" -> s.outputB,
        "shuffle_write_bytes" -> s.shuffleWriteB, "spill_bytes" -> s.spillB,
        "peak_exec_mem_bytes" -> s.peakMemB)),
      "plans" -> rec.plans.toSeq.map(p => Map("func" -> p.func, "ok" -> p.ok,
        "phases" -> p.phases.map { case (n, a, b) => Map("name" -> n, "start_ms" -> a, "end_ms" -> b) })),
      "batches" -> rec.batches.toSeq.map(b => Map("query" -> b.query, "batch" -> b.batch,
        "start_ms" -> b.startMs, "duration_ms" -> b.durMs, "state_rows" -> b.stateRows)))
    java.nio.file.Files.writeString(new File(out, "raw.json").toPath, Json(raw))
    spark.stop()
  }

  /** Session as graft.Bench configures it, the engine's functions, and
    * graft.Bench's warm-up on throwaway data: class loading and first codegen
    * for parquet, joins, JSON and the custom expressions are paid here, not
    * by whichever key runs first. Structured streaming only needs its class
    * loading once per JVM, so only the first set-up runs its query. */
  private def setUp(cpus: Int, dir: File, firstInJvm: Boolean): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "50000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    thrivespark.functions.Register(spark)
    val tmp = new File(dir, "data").getPath
    spark.range(1000).select(col("id"), (col("id") % 7).as("k"),
        col("id").cast("double").as("v"),
        concat(lit("{\"k\":"), col("id") % 10, lit("}")).as("js"))
      .write.mode("overwrite").parquet(tmp)
    val w = spark.read.parquet(tmp)
    w.filter(col("k") > 2).groupBy(col("k")).agg(sum(col("v"))).count()
    w.join(w.select(col("k").as("k2")).distinct(), col("k") === col("k2")).count()
    val js = org.apache.spark.sql.types.StructType.fromDDL("k INT")
    w.select(from_json(col("js"), js).as("j"), get_json_object(col("js"), "$.k"))
      .filter(col("j.k").isNotNull).count()
    val fv = array(col("v"), col("v")).cast("array<float>")
    w.select(call_function("vec_dot", fv, fv)).count()
    if (firstInJvm) {
      val q = spark.readStream.schema(w.schema).parquet(tmp)
        .groupBy(col("k")).agg(count(lit(1)))
        .writeStream.outputMode("update").format("memory").queryName("perfbench_warmup")
        .option("checkpointLocation", java.nio.file.Files.createTempDirectory(dir.toPath, "cp").toString)
        .start()
      q.processAllAvailable(); q.stop()
    }
    spark
  }

  /** One key through the noop sink under graft.QueryGuard's time cap. The
    * key's span is [start_ms, end_ms]; `build_s` is the time inside the
    * registry's builder, which includes any eager shared or durable stages.
    * Traced keys also record the codegen and persisted-RDD deltas, which the
    * harness itself can read synchronously. */
  private def runKey(spark: SparkSession, sf: String, key: String,
      trace: Boolean): (Map[String, Any], Option[DataFrame]) = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.metrics.source.CodegenMetrics
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (compiles0, compileNs0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    var buildS = 0.0; var startMs = 0L; var endMs = 0L
    var result: Option[DataFrame] = None
    val t0 = System.nanoTime()
    val r = graft.QueryGuard.timed(spark, key, KeyTimeoutSec) {
      startMs = System.currentTimeMillis()
      val b0 = System.nanoTime()
      val df = thrivespark.Registry.queries(key)(spark, sf)
      buildS = (System.nanoTime() - b0) / 1e9
      df.write.mode("overwrite").format("noop").save()
      endMs = System.currentTimeMillis()
      result = Some(df)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    r.left.foreach(e => System.err.println(s"[perfbench] $key failed: $e"))
    val base = Map("key" -> key, "ok" -> r.isRight, "error" -> r.left.toOption.orNull,
      "wall_s" -> wall, "build_s" -> buildS, "start_ms" -> startMs,
      "end_ms" -> (if (endMs > 0) endMs else System.currentTimeMillis()))
    val row = if (!trace) base
    else base ++ Map(
      "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
      "codegen_compile_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9,
      "shared_builds" -> (spark.sparkContext.getPersistentRDDs.keySet.toSet -- rdds0).size)
    (row, result.filter(_ => r.isRight))
  }

  /** Rows per second of each custom expression over seeded `spark.range`
    * input shaped like the fixtures: 64-dim float and long vectors (as the
    * embeddings table), 48 token hashes and 40 words of a 31-word
    * vocabulary per row (as the documents table), 100k rows. The input is cached first
    * so only the expression is timed; the first rep includes its codegen. */
  private def kernelTier(spark: SparkSession, seed: Long, fns: Seq[String]): Seq[Map[String, Any]] = {
    val n = 100000L
    val reps = 3
    val vocab = array((0 until 31).map(i => lit(s"w$i")): _*)
    def h(i: Int) = xxhash64(col("id"), lit(seed), lit(i))
    val input = spark.range(n).select(
      array((0 until 64).map(i => (pmod(h(i), lit(2001L)) / 1000.0 - 1.0).cast("float")): _*).as("f"),
      array((0 until 64).map(i => pmod(h(i), lit(2001L)) - 1000L): _*).as("l"),
      array((0 until 48).map(i => h(100 + i)): _*).as("hashes"),
      array((0 until 40).map(i => element_at(vocab, (pmod(h(200 + i), lit(31L)) + 1).cast("int"))): _*).as("words"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    input.write.mode("overwrite").format("noop").save()
    val calls = Map(
      "vec_dot" -> Seq(col("f"), col("f")), "vec_dot_long" -> Seq(col("l"), col("l")),
      "minhash_signature" -> Seq(col("hashes")), "lsh_band_keys" -> Seq(col("hashes")),
      "simhash64" -> Seq(col("hashes")), "shingle_hashes" -> Seq(col("words")))
    val rows = fns.map { fn =>
      val secs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        input.select(call_function(fn, calls(fn): _*).as("o"))
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      Map("fn" -> fn, "rows" -> n, "secs" -> secs)
    }
    input.unpersist(blocking = true)
    rows
  }

  private def topLevel(root: File): Set[String] =
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("graft_") && f.getName != "graft_eph")
      .map(_.getName).toSet

  /** Bytes in files under `<root>/graft_*` last modified at or after `sinceMs`. */
  private def bytesSince(root: File, sinceMs: Long): Long = {
    def walk(f: File): Long =
      if (java.nio.file.Files.isSymbolicLink(f.toPath)) 0L
      else if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(walk).sum
      else if (f.lastModified() >= sinceMs) f.length() else 0L
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft_")).map(walk).sum
  }

  private def peakRss(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(0.0)
    finally status.close()
  }
}

/** Minimal JSON writer for the raw record (maps, sequences, strings,
  * numbers, booleans and null). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
