package thrivespark.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** r22 optimization-round scratch profiler (guide §1): interleaved A/B
  * kernels for this round's candidate changes. Ad-hoc, not a bench. */
object ProfR22 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = if (args.length > 1) args(1) else "ab_tfidf"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    thrivespark.functions.Register(spark)

    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $name%-36s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    val T = thrivespark.Tables
    what match {
      // tf-idf df-branch variants: the r21 df-from-tf count(1) (column
      // pruning splits the subtrees — two scans), the r22 count(col("tf"))
      // (canonically identical subtrees — one scan via ReusedExchange), and
      // the pre-r21 countDistinct baseline.
      case "ab_tfidf" =>
        val docs = T.documents(spark, sfDir)
        val n = docs.count()
        def toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        def tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        def rest(tfDf: DataFrame, idf: DataFrame) = {
          val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
            .orderBy(col("score_micros").desc, col("tok"))
          tfDf.join(broadcast(idf), "tok")
            .withColumn("score_micros", col("tf") * col("idf_micros"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 5)
            .select(col("doc_id"), col("tok"), col("tf"), col("idf_micros"),
              col("score_micros"), col("rn"))
            .orderBy(col("doc_id"), col("rn"))
        }
        def idfOf(df: DataFrame) = df.select(col("tok"),
          round(log(lit(n.toDouble) / col("df")) * lit(1000000L))
            .cast("long").as("idf_micros"))
        def vCount1 = { val t = tf
          rest(t, idfOf(t.groupBy(col("tok")).agg(count(lit(1)).as("df")))) }
        def vCountTf = { val t = tf
          rest(t, idfOf(t.groupBy(col("tok"))
            .agg(count(nullif(col("tf"), lit(0))).as("df")))) }
        def vDistinct = rest(tf,
          idfOf(toks.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))))
        (1 to 4).foreach { i =>
          time(s"count1#$i")(noop(vCount1))
          time(s"countTf#$i")(noop(vCountTf))
          time(s"distinct#$i")(noop(vDistinct))
        }

      // Global-sort family: projection below the range exchange (status quo
      // — the sampling pass re-evaluates it) vs projection ABOVE the sort
      // (sampling pass re-reads only the pruned scan; the shuffle carries
      // the 5 raw columns instead of 9 derived ones).
      case "ab_sortproj" =>
        val li = T.lineitem(spark, sfDir)
        def derive(src: DataFrame) = src.select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice").cast("decimal(18,2)"), 1).cast("double").as("price_r1"),
          abs(col("l_discount").cast("decimal(10,2)") - lit(0.05).cast("decimal(10,2)")).cast("double").as("disc_dev"),
          ceil(col("l_extendedprice")).as("price_ceil"),
          floor(col("l_extendedprice")).as("price_floor"),
          pmod(col("l_orderkey"), lit(7)).as("key_mod7"),
          round(log(col("l_quantity")), 6).as("ln_qty"),
          round(sqrt(col("l_quantity")), 6).as("sqrt_qty"),
          pow(col("l_quantity"), 2).cast("long").as("qty_sq"))
        def below = derive(li).orderBy(col("l_orderkey"), col("l_linenumber"))
        def above = derive(li.orderBy(col("l_orderkey"), col("l_linenumber")))
        (1 to 4).foreach { i =>
          time(s"below#$i")(noop(below))
          time(s"above#$i")(noop(above))
        }

      // fn_xml / fn_string2: projection below the range exchange (status
      // quo — the sampling pass re-evaluates the parse/string work) vs
      // above the sort (parse once; sort keys are the raw unique PKs).
      case "ab_xmlsort" =>
        import org.apache.spark.sql.types._
        val o = T.orders(spark, sfDir)
        val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
        val xml = concat(lit("<r><k>"), col("o_orderkey"),
          lit("</k><s>"), col("o_orderstatus"), lit("</s></r>"))
        def parse(src: DataFrame) = src
          .select(col("o_orderkey"), col("x"), from_xml(col("x"), schema).as("p"))
          .select(col("o_orderkey"), col("p.k").as("k"), col("p.s").as("s"),
            (col("p.k") === col("o_orderkey")).cast("int").as("parity"))
        def below = parse(o.select(col("o_orderkey"), xml.as("x")))
          .orderBy(col("o_orderkey"))
        def above = parse(o.select(col("o_orderkey"), xml.as("x"))
          .orderBy(col("o_orderkey")))
        (1 to 4).foreach { i =>
          time(s"below#$i")(noop(below))
          time(s"above#$i")(noop(above))
        }
      case "ab_str2sort" =>
        val p = T.part(spark, sfDir)
        def derive(src: DataFrame) = src.select(
          col("p_partkey"),
          lpad(col("p_brand"), 12, "0").as("brand_pad"),
          rpad(col("p_type"), 10, ".").as("type_pad"),
          reverse(col("p_name")).as("name_rev"),
          regexp_replace(col("p_name"), " ", "_").as("name_us"),
          instr(col("p_name"), "a").as("pos_a"),
          ascii(substring(col("p_name"), 1, 1)).as("first_ascii"),
          expr("right(p_name, 3)").as("name_r3"),
          repeat(substring(col("p_type"), 1, 2), 2).as("type_rep"),
          translate(col("p_name"), "aeiou", "AEIOU").as("name_tr"))
        def below = derive(p).orderBy(col("p_partkey"))
        def above = derive(p.orderBy(col("p_partkey")))
        (1 to 4).foreach { i =>
          time(s"below#$i")(noop(below))
          time(s"above#$i")(noop(above))
        }

      case k =>
        (1 to 3).foreach(i =>
          time(s"$k#$i")(noop(thrivespark.Registry.queries(k)(spark, sfDir))))
    }
    spark.stop()
  }
}
