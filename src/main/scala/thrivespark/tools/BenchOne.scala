package thrivespark.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode

/** Same-session per-key A/B timer for optimization work (guide §1): times
  * the named registry keys N times each through the same noop sink the
  * official Bench uses, in ONE warmed session, printing every rep. Repeated
  * in-session reps separate steady-state cost from first-touch cost (shared
  * staging, codegen, page cache), which single-shot suite runs conflate.
  * Each rep's line also gives the classes it compiled and their compile
  * seconds (JVM-wide deltas, driver and executor threads alike), so a key
  * whose reps after the first compile 0 shows its classes are reused.
  * After the last rep it prints the key's plan
  * (`explainString(FormattedMode)`), the capture PLANS.md records.
  * Usage: tools/run.sh thrivespark.tools.BenchOne <sfDir> <reps> <key>...
  * NOT the official record — graft.Bench stays the only bench entrypoint. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val keys = args.drop(2).toSeq
    val spark = graft.Bench.session()
    // graft.Bench's session and warm-up, so rep 1 ≈ the suite's conditions
    graft.Bench.warmUp(spark)
    keys.foreach { name =>
      val fn = thrivespark.Registry.queries.getOrElse(name,
        sys.error(s"unknown key: $name"))
      val runs = (1 to reps).map { i =>
        val (compiles0, compileNs0) =
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        val compileSec = (CodeGenerator.compileTime - compileNs0) / 1e9
        println(f"[benchone] $name rep$i ${sec}%7.3f s compiles=$compiles compile_s=$compileSec%.3f")
        (sec, df)
      }
      val times = runs.map(_._1)
      println(f"[benchone] $name min=${times.min}%7.3f first=${times.head}%7.3f")
      runs.lastOption.foreach { case (_, df) =>
        println(df.queryExecution.explainString(FormattedMode))
      }
    }
    spark.stop()
  }
}
