package thrivespark.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import thrivespark.{Op, Tables => T}
import thrivespark.Det._

/** SURVEY.md §2.4 — aggregation (#21–#28).
  * All money/quantity sums accumulate in decimal(18,6) (rule R2) so partial
  * aggregation (map-side combine) stays exact and associative — the property
  * that makes the same plan correct on 32 local threads and 1000 executors —
  * and are emitted as DOUBLE via one final cast (see Det.scala). */
object Aggs {
  val ops: Seq[Op] = Seq(
    // #21 — flagship, TPC-H Q1 shape.
    Op("agg_pricing_summary",
      (s, d) => T.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).cast("double").as("sum_disc_price"),
          avg6(sum(dec(col("l_quantity"))), count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
                     CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
                     round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
                     count(*) AS count_order
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '1998-09-02'
              GROUP BY l_returnflag, l_linestatus
              ORDER BY l_returnflag, l_linestatus""")),

    Op("agg_count_distinct",
      (s, d) => T.events(s, d)
        .groupBy(to_date(col("ts")).as("dt"))
        .agg(countDistinct(col("user_id")).as("n_users"),
             countDistinct(col("event_type")).as("n_types"),
             count(lit(1)).as("n_events"))
        .orderBy(col("dt")),
      Some("""SELECT CAST(date_trunc('day', ts) AS DATE) AS dt,
                     count(DISTINCT user_id) AS n_users,
                     count(DISTINCT event_type) AS n_types,
                     count(*) AS n_events
              FROM events GROUP BY 1 ORDER BY 1""")),

    Op("agg_multi_distinct",
      (s, d) => T.customer(s, d)
        .join(T.orders(s, d), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("c_nationkey")).as("n_nations"),
             countDistinct(year(col("o_orderdate"))).as("n_years"),
             count(lit(1)).as("n_rows"))
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment,
                     count(DISTINCT c_nationkey) AS n_nations,
                     count(DISTINCT year(o_orderdate)) AS n_years,
                     count(*) AS n_rows
              FROM customer JOIN orders ON c_custkey = o_custkey
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    Op("agg_rollup",
      (s, d) => T.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("g"), count(lit(1)).as("cnt"),
             dsum(col("l_quantity")).as("sum_qty"))
        .select(col("l_returnflag"), col("l_linestatus"),
                col("g").cast("int").as("g"), col("cnt"), col("sum_qty"))
        .orderBy(col("g"), col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus,
                     CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS g,
                     count(*) AS cnt,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
              FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
              ORDER BY g, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    Op("agg_cube",
      (s, d) => T.customer(s, d)
        .cube(col("c_mktsegment"), col("c_nationkey"))
        .agg(grouping_id().as("g"), count(lit(1)).as("cnt"),
             avg6(sum(dec(col("c_acctbal"))), count(lit(1))).as("avg_bal"))
        .select(col("c_mktsegment"), col("c_nationkey"),
                col("g").cast("int").as("g"), col("cnt"), col("avg_bal"))
        .orderBy(col("g"), col("c_mktsegment").asc_nulls_first,
                 col("c_nationkey").asc_nulls_first),
      Some("""SELECT c_mktsegment, c_nationkey,
                     CAST(GROUPING(c_mktsegment, c_nationkey) AS INTEGER) AS g,
                     count(*) AS cnt,
                     round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_bal
              FROM customer GROUP BY CUBE(c_mktsegment, c_nationkey)
              ORDER BY g, c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""")),

    Op("agg_grouping_sets",
      (s, d) => {
        T.events(s, d).withColumn("dt", to_date(col("ts")))
          .createOrReplaceTempView("gs_events")
        s.sql("""SELECT event_type, dt,
                        CAST(grouping_id(event_type, dt) AS INT) AS g,
                        count(1) AS cnt,
                        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
                 FROM gs_events
                 GROUP BY GROUPING SETS ((event_type), (event_type, dt), ())
                 ORDER BY g, event_type ASC NULLS FIRST, dt ASC NULLS FIRST""")
      },
      Some("""SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS dt,
                     CAST(GROUPING(event_type, date_trunc('day', ts)) AS INTEGER) AS g,
                     count(*) AS cnt,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
              FROM events
              GROUP BY GROUPING SETS ((event_type), (event_type, date_trunc('day', ts)), ())
              ORDER BY g, event_type NULLS FIRST, dt NULLS FIRST""")),

    Op("agg_stats",
      (s, d) => T.customer(s, d)
        .groupBy(col("c_mktsegment"))
        .agg(min(col("c_acctbal")).as("min_bal"),
             max(col("c_acctbal")).as("max_bal"),
             avg6(sum(dec(col("c_acctbal"))), count(lit(1))).as("avg_bal"),
             round4(stddev_samp(col("c_acctbal"))).as("sd_bal"),
             count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment, min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
                     round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_bal,
                     round(stddev_samp(c_acctbal), 4) AS sd_bal,
                     count(*) AS n
              FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    Op("agg_bool",
      (s, d) => T.customer(s, d)
        .groupBy(col("c_mktsegment"))
        .agg(expr("count_if(c_acctbal < 0)").as("n_negative"),
             expr("bool_and(c_acctbal > -1000)").cast("int").as("all_above_floor"),
             expr("bool_or(c_acctbal > 9000)").cast("int").as("any_rich"),
             count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment,
                     count(*) FILTER (WHERE c_acctbal < 0) AS n_negative,
                     CAST(bool_and(c_acctbal > -1000) AS INTEGER) AS all_above_floor,
                     CAST(bool_or(c_acctbal > 9000) AS INTEGER) AS any_rich,
                     count(*) AS n
              FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Bivariate statistics; float pipelines rounded per rule R2.
    Op("agg_corr",
      (s, d) => T.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(round4(corr(col("value"), col("k"))).as("corr_vk"),
             round4(covar_samp(col("value"), col("k"))).as("cov_vk"),
             round4(regr_slope(col("value"), col("k"))).as("slope_vk"),
             count(lit(1)).as("n"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type,
                     round(corr(value, k), 4) + 0.0 AS corr_vk,
                     round(covar_samp(value, k), 4) + 0.0 AS cov_vk,
                     round(regr_slope(value, k), 4) + 0.0 AS slope_vk,
                     count(*) AS n
              FROM (SELECT event_type, value,
                           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
                    FROM events)
              GROUP BY event_type ORDER BY event_type""")),

    Op("agg_having",
      (s, d) => T.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("n") > 5000 && col("sum_qty") > lit(100000.0))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
              FROM lineitem GROUP BY 1, 2
              HAVING count(*) > 5000
                 AND CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 100000
              ORDER BY 1, 2""")),

    // #28 — HLL++; sketch outputs are never hash-compared (R5). ScalaTest
    // asserts the estimate is within 2% of exact.
    Op("agg_approx_distinct",
      // The HLL (hll_distinct, one binary sketch buffer) and the exact
      // distinct are SEPARATE aggregations joined as 1-row frames. Combined
      // in one agg, Spark's one-distinct rewrite carries the sketch through
      // all FOUR aggregate phases of the expand plan — measured 0.41 s
      // combined vs 0.25 s split at sf0.1 on 4 cores, identical output
      // values either way (same estimate, same exact count; rows-only key,
      // PropertySpec pins the ±2% envelope).
      (s, d) => {
        T.events(s, d)
          .agg(call_function("hll_distinct", col("user_id")).as("approx_users"))
          .crossJoin(T.events(s, d)
            .agg(countDistinct(col("user_id")).as("exact_users")))
      },
      None),

    // Bitmap-exact distinct for low-cardinality domains: encode each
    // event_type as one bit, bit_or the bitmaps, bit_count the result.
    // Unlike COUNT(DISTINCT), the bitmap is REAGGREGATABLE (bit_or is
    // associative/commutative) — per-partition partial bitmaps merge
    // losslessly, the same property the HLL op demonstrates approximately.
    // The exact countDistinct rides along to prove equality in the oracle.
    Op("agg_bitmap_distinct",
      (s, d) => {
        // nullif(pos, 0): Spark's array_position returns 0 for a type
        // outside the declared domain where DuckDB's list_position returns
        // NULL — without the nullif an unknown type would claim bit 0 on
        // this side and be SKIPPED by the oracle's bit_or, a silent
        // divergence if the fixture domain ever grows. NULL-ing it makes
        // both engines skip unknowns identically.
        T.events(s, d)
          .select(col("user_id"), expr("shiftleft(1L, " +
              "cast(nullif(array_position(array('click','error','purchase','signup','view'), " +
              "event_type), 0) as int))").as("bit"),
            col("event_type"))
          .groupBy(col("user_id"))
          .agg(bit_count(bit_or(col("bit"))).as("n_types_bitmap"),
            countDistinct(col("event_type")).as("n_types_exact"))
          .withColumn("agree", (col("n_types_bitmap") === col("n_types_exact")).cast("int"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id,
                     CAST(bit_count(bit_or(1::BIGINT << CAST(list_position(
                            ['click','error','purchase','signup','view'], event_type) AS INTEGER)))
                          AS INTEGER) AS n_types_bitmap,
                     count(DISTINCT event_type) AS n_types_exact,
                     CAST(bit_count(bit_or(1::BIGINT << CAST(list_position(
                            ['click','error','purchase','signup','view'], event_type) AS INTEGER)))
                          = count(DISTINCT event_type) AS INTEGER) AS agree
              FROM events GROUP BY user_id ORDER BY user_id""")),

    // HLL sketch REAGGREGATION — the 100 TB distinct-count pattern: build
    // one DataSketches HLL per day (partial), merge the day sketches with
    // hll_union_agg instead of rescanning raw data. Register updates are
    // max-based ⇒ order-independent and deterministic, but DuckDB has no
    // matching sketch ⇒ rows-only; AggSpec proves merged-estimate ==
    // direct-estimate (lossless reaggregation) and ±2% of exact.
    Op("agg_hll_partial_merge",
      (s, d) => {
        val daily = T.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"),
            countDistinct(col("user_id")).as("exact_day"))
        val perDay = daily.select(col("day").cast("string").as("scope"),
          hll_sketch_estimate(col("sk")).as("est_users"), col("exact_day").as("exact_users"))
        val total = daily.agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
          .crossJoin(T.events(s, d).agg(countDistinct(col("user_id")).as("exact_users")))
          .select(lit("TOTAL").as("scope"), col("est_users"), col("exact_users"))
        perDay.unionByName(total).orderBy(col("scope"))
      },
      None),

    // Count-min sketch frequency estimation — the third classic sketch next
    // to HLL (distinct) and the exact bitmap: sub-linear memory, mergeable
    // across partitions (Spark's count_min_sketch aggregate unions partial
    // sketches internally — the same distributive shape as the other two).
    // The fixed seed makes the sketch deterministic across runs and
    // partitionings. Guarantee: est ≥ exact, and est ≤ exact + ε·N with
    // prob ≥ 0.99 (ε = 0.001) — PropertySpec asserts both sides; the exact
    // counts ride along as the verification surface. Engine-specific
    // hashing ⇒ rows-only driver check.
    Op("agg_cms_freq",
      (s, d) => cmsFreq(T.events(s, d), "event_type"),
      None),
  )

  /** CMS estimate vs exact counts over `key`, both computed DISTRIBUTED
    * (r13 — the previous shape collected the exact counts to the driver
    * under a 10k-group ceiling and probed the sketch there; fine for a
    * closed enum, a driver bomb waiting for anyone who re-points it at a
    * real key column). Now: one pass builds the sketch (Spark's
    * count_min_sketch partial-merges across partitions; the only
    * driver-side materialization is that single constant-size ~100 KB
    * sketch row), the serialized sketch is BROADCAST, and each reducer of
    * the exact groupBy probes it locally via a UDF whose transient-lazy
    * field deserializes the sketch once per task, not per row. No group
    * ceiling, no driver-proportional state — works unchanged on a
    * billion-key domain. */
  private class CmsEstimate(bytes: org.apache.spark.broadcast.Broadcast[Array[Byte]])
      extends (String => Long) with Serializable {
    @transient private lazy val cms =
      org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes.value)
    // NULL guard (r13 advisory): a NULL key forms its own groupBy group,
    // and an unguarded estimateCount(null) NPEs executor-side, failing the
    // whole job. The sketch never counted nulls (count_min_sketch skips
    // them), so 0 is the honest estimate.
    def apply(t: String): Long = if (t == null) 0L else cms.estimateCount(t)
  }
  def cmsFreq(ev: DataFrame, key: String): DataFrame = {
    val s = ev.sparkSession
    val skBytes = ev.agg(count_min_sketch(col(key),
        lit(0.001), lit(0.99), lit(42)).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val est = udf(new CmsEstimate(s.sparkContext.broadcast(skBytes)))
    ev.groupBy(col(key).as("event_type"))
      .agg(count(lit(1)).as("exact_n"))
      .withColumn("est_n", est(col("event_type")))
      .withColumn("overcount", col("est_n") - col("exact_n"))
      .orderBy(col("event_type"))
  }
}
