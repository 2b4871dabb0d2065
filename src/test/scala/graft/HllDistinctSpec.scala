package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `hll_distinct` (functions/HllDistinct.scala) is Spark's HLL++ with a
  * one-value buffer: its estimate must equal `approx_count_distinct` at
  * rsd 0.01 on every input type, with nulls, on empty input and
  * whatever the partitioning. */
class HllDistinctSpec extends AnyFunSuite {
  import SparkTestBase._

  private def hll(c: Column): Column = call_function("hll_distinct", c)

  /** (hll_distinct, approx_count_distinct) of `c` over `df`, one job. */
  private def both(df: DataFrame, c: Column): (Long, Long) = {
    val r = df.agg(hll(c), approx_count_distinct(c, 0.01)).head()
    (r.getLong(0), r.getLong(1))
  }

  private def lineitem = thrivespark.Tables.lineitem(spark, sf001)

  test("equals approx_count_distinct on long, double, string, date and " +
      "decimal columns") {
    val cols = Seq(
      "long" -> col("l_orderkey"),
      "double" -> col("l_extendedprice"),
      "string" -> concat_ws("-", col("l_orderkey"), col("l_linenumber")),
      "date" -> to_date(col("l_shipdate")),
      "decimal" -> col("l_extendedprice").cast("decimal(12,2)"))
    val aggs = cols.flatMap { case (_, c) => Seq(hll(c), approx_count_distinct(c, 0.01)) }
    val r = lineitem.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.foreach { case ((t, _), i) =>
      val (h, a) = (r.getLong(2 * i), r.getLong(2 * i + 1))
      assert(h == a, s"$t: hll_distinct $h vs approx_count_distinct $a")
      assert(h > 1000, s"$t: estimate $h is implausibly small")
    }
  }

  test("nulls are skipped; all-null and empty input count 0") {
    val ev = thrivespark.Tables.events(spark, sf001)
    val holey = when(col("user_id") % 3 =!= 0, col("user_id"))
    val (h, a) = both(ev, holey)
    assert(h == a && h > 0, s"column with nulls: hll_distinct $h vs $a")
    assert(both(ev, lit(null).cast("long")) == (0L, 0L))
    assert(both(ev.filter(lit(false)), col("user_id")) == (0L, 0L))
    assert(!ev.agg(hll(col("user_id"))).schema.head.nullable)
  }

  test("the estimate does not depend on partitioning") {
    val ev = thrivespark.Tables.events(spark, sf001)
    val c = col("event_id").cast("string")
    val ref = ev.agg(approx_count_distinct(c, 0.01)).head().getLong(0)
    Seq(1, 7, 32).foreach { n =>
      val got = ev.repartition(n).agg(hll(c)).head().getLong(0)
      assert(got == ref, s"repartition($n): hll_distinct $got vs $ref")
    }
  }

  test("grouped estimates equal the per-group filtered ones") {
    // 300 groups also push ObjectHashAggregate past its 128-key
    // sort-based fallback threshold in each task
    val ev = thrivespark.Tables.events(spark, sf001)
      .withColumn("g", col("event_id") % 300)
    val grouped = ev.groupBy(col("g"))
      .agg(hll(col("user_id")), approx_count_distinct(col("user_id"), 0.01))
      .collect()
    assert(grouped.length == 300)
    grouped.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"group ${r.getLong(0)}: $r")
    }
    grouped.take(3).foreach { r =>
      val g = r.getLong(0)
      val single = ev.filter(col("g") === g).agg(hll(col("user_id"))).head().getLong(0)
      assert(single == r.getLong(1), s"group $g: filtered $single vs grouped ${r.getLong(1)}")
    }
  }

  test("the SQL name resolves through Register; a second Register call " +
      "replaces nothing") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import thrivespark.functions.Register
    Register(spark)
    val reg = spark.sessionState.functionRegistry
    def infos = Register.Functions.map { case (n, _, _) =>
      n -> reg.lookupFunction(FunctionIdentifier(n)).get }
    val before = infos
    Register(spark)
    before.zip(infos).foreach { case ((n, a), (_, b)) =>
      assert(a eq b, s"$n was registered again")
    }
    // the rule and the strategy are added once, however often it runs
    val x = spark.experimental
    assert(x.extraOptimizations.count(_ == thrivespark.plans.SimilarityJoinRewrite) == 1,
      s"extraOptimizations: ${x.extraOptimizations}")
    assert(x.extraStrategies.count(_ == thrivespark.plans.AsOfJoinStrategy) == 1,
      s"extraStrategies: ${x.extraStrategies}")
    thrivespark.Tables.events(spark, sf0001).createOrReplaceTempView("hll_ev")
    val r = spark.sql("SELECT hll_distinct(user_id), " +
      "approx_count_distinct(user_id, 0.01) FROM hll_ev").head()
    assert(r.getLong(0) == r.getLong(1), s"SQL hll_distinct: $r")
  }

  test("one HLL++ path: no approx_count_distinct under src/main/scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val own = new java.io.File(root, "thrivespark/functions/HllDistinct.scala").getCanonicalFile
    val pattern = "approx_count_distinct|approxCountDistinct|HyperLogLogPlusPlus\\(".r
    val hits = files(root).filterNot(_.getCanonicalFile == own).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (l, i) if pattern.findFirstIn(l).isDefined => s"${f.getPath}:${i + 1}: ${l.trim}"
      }.toList finally src.close()
    }
    assert(hits.isEmpty, s"a second HLL++ path under src/main/scala (use hll_distinct):\n" +
      hits.mkString("\n"))
  }
}
