package thrivespark.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import thrivespark.{DurableStage, Op, Scratch, Tables => T}
import thrivespark.Det._

/** Additional relational + ingestion surface beyond SURVEY.md §2's numbered
  * inventory: pivot, exact percentiles, ordered string aggregation, RANGE
  * window frames, the salted two-stage aggregation pattern for skewed keys,
  * and JSON-lines / CSV source round-trips (Thrive's ingestion formats [K]
  * re-expressed as Spark sources with explicit schemas — no inference in
  * production paths, per §1.1). */
object Extras {
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** One FK edge's referential audit row: fact cardinality, orphan rows
    * (non-null FK values absent from the dim's PK) and distinct orphan
    * keys. Extracted so EtlSpec can plant orphans on tiny frames — the
    * synthetic star has none, so only a planted test proves the counters
    * move. */
  def fkOrphanAudit(fact: org.apache.spark.sql.DataFrame, fkCol: String,
      dim: org.apache.spark.sql.DataFrame, pkCol: String,
      name: String): org.apache.spark.sql.DataFrame = {
    val orphans = fact.select(col(fkCol).as("fk")).filter(col("fk").isNotNull)
      .join(dim.select(col(pkCol).as("pk")), col("fk") === col("pk"), "left_anti")
    fact.agg(count(lit(1)).as("n_rows"))
      .crossJoin(orphans.agg(count(lit(1)).as("n_orphans"),
        countDistinct(col("fk")).as("n_orphan_keys")))
      .select(lit(name).as("fk_name"), col("n_rows"),
        col("n_orphans"), col("n_orphan_keys"))
  }

  def bucketedNames(d: String): (String, String) = {
    val tag = new java.io.File(d).getName.replace(".", "_")
    (s"li_bucketed2_$tag", s"o_bucketed2_$tag")
  }

  /** Register lineitem/orders bucketed+sorted on the join key as external
    * tables (in-memory catalog) over one durable stage with a `li` and an
    * `o` subdir. Only the columns the co-located join consumes are
    * materialized — at 100 TB the bucketed copy is a column-pruned
    * projection of the fact table, not a second full copy (the write cost is
    * the price of every later exchange-free join, so keep it minimal). */
  def bucketedTables(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    // AQE's DisableUnnecessaryBucketedScan heuristic can turn bucketed reads
    // off; pin them on — the whole point here is the exchange-free join.
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val (liT, oT) = bucketedNames(d)
    val tables = Seq(
      (liT, "li", "l_orderkey", T.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))),
      (oT, "o", "o_orderkey", T.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))))
    val stage = DurableStage("bucketed", d, Seq("lineitem", "orders"), "v1") { dir =>
      // bucketBy works only with saveAsTable: write through a throwaway
      // external table, then drop it (dropping keeps its files)
      tables.foreach { case (_, sub, key, src) =>
        val tmpTable = s"${sub}_${new java.io.File(dir).getName}"
        src.write.option("path", s"$dir/$sub")
          .bucketBy(8, key).sortBy(key).saveAsTable(tmpTable)
        s.sql(s"DROP TABLE $tmpTable")
      }
    }
    tables.foreach { case (table, sub, key, src) =>
      // a stage rebuilt since registration has new file names
      if (s.catalog.tableExists(table)) s.catalog.refreshTable(table)
      else s.sql(s"""CREATE TABLE $table (${src.schema.toDDL}) USING parquet
                     CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
                     LOCATION '$stage/$sub'""")
    }
  }

  /** Sequence packing's exclusive running token sum as the scalable
    * two-pass distributed prefix sum (a bare global ORDER BY window would
    * serialize on one reducer): bucket the order key into contiguous
    * ranges, local running sums per bucket, the tiny per-bucket totals
    * cumulated into offsets (broadcast back), local + offset = global.
    * Adds (pid, local_cum, cum_excl, seq_id) to the input (doc_id,
    * n_tokens) frame; result independent of the bucket count
    * (PlanSpec-asserted; PropertySpec sweeps it). Shared by
    * etl_pack_sequences and the pipeline_corpus_e2e composite.
    *
    * The bucket id is a PURE FUNCTION of doc_id — boundaries come from one
    * driver-side approxQuantile pass over the key column, baked in as
    * literals. r7 used repartitionByRange + spark_partition_id() instead,
    * and that was a real nondeterminism bug, caught at sf0.1 in r8: the
    * frame feeds TWO plan branches (local sums; offset totals), each branch
    * plans its own range exchange, and the two exchanges can sample
    * DIFFERENT boundaries (AQE sizes the pruned branches differently), so a
    * boundary doc counted in bucket p's total in one branch and bucket p+1's
    * local sums in the other — every downstream cum_excl off by that doc's
    * tokens. A pid literal-derived from doc_id is identical in every branch
    * no matter how often the lineage re-evaluates.
    *
    * Parallelism tracks `spark.sql.shuffle.partitions` (r8 — was a
    * hardcoded 8): on a 1000-executor cluster the local-sum stage fans out
    * with the session's configured shuffle width, while the offset
    * cumulation stays O(#buckets) rows on one reducer — still trivial at
    * any realistic width. The quantile pass is one extra scan of the two
    * pack columns at 100 TB (sub-second at bench scale). An explicit
    * `numParts` override exists for the invariance property test. */
  /** Core of win_range_between (frame-level so PropertySpec can compare it
    * against Spark's own sliding RANGE frame on planted tie-heavy data):
    * per row, count and cents-exact sum of partition peers with value in
    * [v−10000, v] — computed via union-probe prefix sums instead of the
    * sliding frame's O(n·band) buffer re-aggregation. Probes order
    * STRICTLY BEFORE tied real rows ((pt, w) sort) so the inclusive lower
    * bound keeps rows AT v−10000; a real row's growing frame includes all
    * its value peers, matching RANGE CURRENT ROW semantics. Expects
    * (o_orderkey unique, o_orderpriority, o_totalprice); unordered. */
  def bandPrefixSums(base0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = base0.select(
      col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val real = base.select(
      col("o_orderkey"), col("o_orderpriority"),
      col("o_totalprice").as("pt"), lit(1).as("w"), col("cents"))
    val probe = base.select(
      col("o_orderkey"), col("o_orderpriority"),
      (col("o_totalprice") - lit(10000.0)).as("pt"),
      lit(0).as("w"), lit(0L).as("cents"))
    val cw = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("pt"), col("w"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    real.unionByName(probe)
      .select(col("o_orderkey"), col("o_orderpriority"), col("pt"), col("w"),
        sum(col("w")).over(cw).as("cum_n"),
        sum(col("cents")).over(cw).as("cum_c"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(
        max(when(col("w") === 1, col("pt"))).as("o_totalprice"),
        (max(when(col("w") === 1, col("cum_n"))) -
          max(when(col("w") === 0, col("cum_n")))).as("n_in_band"),
        ((max(when(col("w") === 1, col("cum_c"))) -
          max(when(col("w") === 0, col("cum_c")))) / lit(100.0))
          .as("sum_in_band"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        col("n_in_band"), col("sum_in_band"))
  }

  def packSeqIds(toks: org.apache.spark.sql.DataFrame, budget: Int,
      numParts: Int = 0): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = if (numParts > 0) numParts
      else toks.sparkSession.conf.get("spark.sql.shuffle.partitions", "8")
        .toIntOption.getOrElse(8)
    val bounds =
      if (n <= 1) Array.empty[Double]
      else toks.stat.approxQuantile("doc_id",
        (1 until n).map(_.toDouble / n).toArray, 0.001).distinct
    val pidCol = bounds.map(b =>
        when(col("doc_id") > lit(b), 1).otherwise(0))
      .foldLeft(lit(0).cast("int"))(_ + _)
    val parts = toks.withColumn("pid", pidCol)
    val wLocal = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
    val local = parts.withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
    val wOff = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("pid")).agg(sum(col("n_tokens")).as("psum"))
      .withColumn("offset", coalesce(sum(col("psum")).over(wOff), lit(0L)))
      .select(col("pid"), col("offset"))
    local.join(broadcast(offsets), "pid")
      .withColumn("cum_excl", col("local_cum") + col("offset") - col("n_tokens"))
      .withColumn("seq_id", floor(col("cum_excl") / budget))
  }

  val ops: Seq[Op] = Seq(
    Op("agg_pivot",
      (s, d) => {
        val p = T.events(s, d).withColumn("dt", to_date(col("ts")))
          .groupBy(col("dt")).pivot("event_type", eventTypes).agg(count(lit(1)))
        p.select(col("dt") +: eventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
          .orderBy(col("dt"))
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS DATE) AS dt,
                     count(*) FILTER (WHERE event_type = 'click') AS click,
                     count(*) FILTER (WHERE event_type = 'error') AS error,
                     count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                     count(*) FILTER (WHERE event_type = 'signup') AS signup,
                     count(*) FILTER (WHERE event_type = 'view') AS view
              FROM events GROUP BY 1 ORDER BY 1""")),

    Op("agg_percentile",
      (s, d) => T.customer(s, d)
        .groupBy(col("c_mktsegment"))
        .agg(
          round(expr("percentile(c_acctbal, 0.5)"), 6).as("median_bal"),
          round(expr("percentile(c_acctbal, 0.9)"), 6).as("p90_bal"),
          count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment,
                     round(quantile_cont(c_acctbal, 0.5), 6) AS median_bal,
                     round(quantile_cont(c_acctbal, 0.9), 6) AS p90_bal,
                     count(*) AS n
              FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    Op("agg_string_agg",
      (s, d) => T.customer(s, d)
        .groupBy(col("c_mktsegment"))
        .agg(array_join(transform(array_sort(collect_set(col("c_nationkey"))),
          x => x.cast("string")), ",").as("nations"))
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment, string_agg(nk, ',' ORDER BY nk_num) AS nations
              FROM (SELECT DISTINCT c_mktsegment, c_nationkey AS nk_num,
                           CAST(c_nationkey AS VARCHAR) AS nk FROM customer)
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // RANGE frame: peers by value, not by row — deterministic under ties.
    // Exactness carrier note (r12): the banded sum accumulates integer
    // CENTS (round(price·100) — one identical IEEE multiply+round per row
    // in both engines; prices are 2-decimal money so cents are the exact
    // value), not decimal(18,6); ÷100.0 at the end is one IEEE division
    // of the identical integer.
    //
    // Execution rewrite (r13): the DECLARED semantics is the sliding
    // RANGE frame in the oracle SQL below, but Spark's WindowExec
    // RE-AGGREGATES a sliding frame's buffer as both bounds move (no
    // retraction), paying O(n·avg_band) adds per partition — the most
    // expensive query in the suite (5.3–5.9 s noop basis) and quadratic-ish
    // at 100× the data. Re-expressed as union-probe prefix sums: each row
    // also emits a zero-weight PROBE at v−10000 (the same IEEE double
    // subtraction Spark/DuckDB perform for the frame bound); ONE growing
    // cumulative window (unboundedPreceding→currentRow — WindowExec
    // accumulates these in O(n), never re-scanning) ordered by
    // (value, weight) so a probe sorts STRICTLY BEFORE tied real rows:
    // the probe's cum excludes rows AT the bound (band lower edge is
    // inclusive) while a real row's cum includes all its value-peers.
    // answer = cum(row) − cum(probe), paired by the unique order key in
    // one hash aggregate. Cost: 2n window rows + one n-row shuffle —
    // linear, scale-safe; partition parallelism is still inherently
    // #priorities, which the declared PARTITION BY fixes.
    Op("win_range_between",
      (s, d) => bandPrefixSums(T.orders(s, d).select(
          col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice,
                     count(*) OVER w AS n_in_band,
                     sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w / 100.0
                       AS sum_in_band
              FROM orders
              WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
                           RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
              ORDER BY o_orderkey""")),

    // Skew pattern: salt → partial aggregate → final combine. Result is
    // identical to a plain groupBy (decimal sums are associative), but the
    // heavy key's rows spread over 16 reducers in stage one — the standard
    // fix when one group holds a large share of a 100 TB table.
    Op("agg_salted_skew",
      (s, d) => T.events(s, d)
        .withColumn("salt", pmod(col("event_id"), lit(16)))
        .groupBy(col("event_type"), col("salt"))
        .agg(count(lit(1)).as("pn"), sum(dec(col("value"))).as("ps"))
        .groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n"), sum(col("ps")).cast("double").as("sum_value"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(*) AS n,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // Config-driven schema mapping (the reference's columns-file contract):
    // declared src:dest:type[:required] lines compile to a typed projection;
    // required-null / failed-cast rows are quarantined. The corpus has no
    // dirty rows (FIXTURES) — EtlSpec plants them; here the audit shape runs.
    // One pass, fully lazy: conditional aggregation over the tagged frame
    // yields both accept aggregates and the reject audit; the global
    // n_rejected is a window over the (tiny) aggregate output, never a
    // second scan or a plan-time action (at 100 TB an eager bad.count()
    // here would be a full extra pass before the query even runs).
    Op("etl_schema_mapping",
      (s, d) => {
        val specs = thrivespark.etl.ColumnMapping.parse(
          """event_id:id:bigint:required
            |event_type:type:string:required
            |value:amount:decimal(18,2):required
            |ts:event_date:date""".stripMargin)
        val tagged = thrivespark.etl.ColumnMapping.tagged(T.events(s, d), specs)
        val v = col("_valid")
        tagged.groupBy(col("type"))
          .agg(count(when(v, lit(1))).as("n"),
               sum(when(v, col("amount")).cast(D)).cast("double").as("sum_amount"),
               min(when(v, col("event_date"))).as("first_date"),
               count(when(!v, lit(1))).as("rej_here"))
          .withColumn("n_rejected", sum(col("rej_here")).over())
          .filter(col("n") > 0) // groups formed only by rejected rows are not emitted
          .drop("rej_here")
          .orderBy(col("type"))
      },
      Some("""SELECT event_type AS type, count(*) AS n,
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(18,6))) AS DOUBLE) AS sum_amount,
                     min(CAST(ts AS DATE)) AS first_date,
                     CAST(0 AS BIGINT) AS n_rejected
              FROM events GROUP BY event_type ORDER BY type""")),

    // Approximate quantiles (Greenwald-Khanna): sketch output, never
    // hash-compared (rule R5); PropertySpec bounds the error vs exact.
    Op("agg_approx_quantile",
      (s, d) => T.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(expr("approx_percentile(o_totalprice, 0.5, 1000)").as("approx_median"),
             expr("percentile(o_totalprice, 0.5)").as("exact_median"),
             count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority")),
      None),

    // JSON-lines source round-trip: Thrive's native input format. Explicit
    // schema (config-driven, never inferred), gzip-splittable layout note:
    // at scale prefer many moderate files over few huge ones.
    Op("source_jsonl_roundtrip",
      (s, d) => {
        val dir = Scratch.sink("jsonl", d)
        T.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), unix_micros(col("ts")).as("ts_us"), col("props"))
          .write.mode("overwrite").json(dir)
        val schema = StructType(Seq(
          StructField("event_id", LongType), StructField("user_id", LongType),
          StructField("event_type", StringType), StructField("value", DoubleType),
          StructField("ts_us", LongType), StructField("props", StringType)))
        s.read.schema(schema).json(dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
               min(col("ts_us")).as("min_ts_us"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
                     min(epoch_us(ts)) AS min_ts_us
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // SCD2 dimension maintenance (the warehouse-load pattern behind the
    // reference's Vertica dimensions): apply a change set to a dimension,
    // closing changed rows (valid_to set, no longer current) and inserting
    // the new versions. Change set derived deterministically from the data.
    Op("etl_scd2",
      (s, d) => {
        val base = T.customer(s, d).select(
          col("c_custkey"), col("c_name"), col("c_acctbal"),
          lit("2020-01-01").cast("date").as("valid_from"),
          lit(null).cast("date").as("valid_to"),
          lit(1).as("is_current"))
        val changes = T.customer(s, d)
          .filter(pmod(col("c_custkey"), lit(10)) === 0)
          .select(col("c_custkey"),
            col("c_name"),
            round(col("c_acctbal").cast("decimal(18,2)") * 2, 2)
              .cast("double").as("c_acctbal"))
        val changedKeys = changes.select(col("c_custkey").as("k"))
        val untouched = base.join(changedKeys, col("c_custkey") === col("k"), "left_anti")
        val closed = base.join(changedKeys, col("c_custkey") === col("k"), "left_semi")
          .withColumn("valid_to", lit("2024-01-01").cast("date"))
          .withColumn("is_current", lit(0))
        val fresh = changes.select(
          col("c_custkey"), col("c_name"), col("c_acctbal"),
          lit("2024-01-01").cast("date").as("valid_from"),
          lit(null).cast("date").as("valid_to"),
          lit(1).as("is_current"))
        untouched.unionByName(closed).unionByName(fresh)
          .select(col("c_custkey"), col("c_name"),
            col("c_acctbal").as("acctbal"),
            col("valid_from"), col("valid_to"), col("is_current"))
          .orderBy(col("c_custkey"), col("valid_from"), col("is_current"))
      },
      Some("""WITH changes AS (
                SELECT c_custkey, c_name,
                       CAST(round(CAST(c_acctbal AS DECIMAL(18,2)) * 2, 2) AS DOUBLE) AS c_acctbal
                FROM customer WHERE c_custkey % 10 = 0)
              SELECT c_custkey, c_name, c_acctbal AS acctbal,
                     DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
                     1 AS is_current
              FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM changes)
              UNION ALL
              SELECT c_custkey, c_name, c_acctbal,
                     DATE '2020-01-01', DATE '2024-01-01', 0
              FROM customer WHERE c_custkey IN (SELECT c_custkey FROM changes)
              UNION ALL
              SELECT c_custkey, c_name, c_acctbal,
                     DATE '2024-01-01', CAST(NULL AS DATE), 1
              FROM changes
              ORDER BY c_custkey, valid_from, is_current""")),

    // SQL entry path: CTE + scalar subquery through spark.sql — customers
    // whose lifetime spend beats the average spend.
    Op("sql_cte_subquery",
      (s, d) => {
        T.orders(s, d).createOrReplaceTempView("v_orders")
        T.customer(s, d).createOrReplaceTempView("v_customer")
        s.sql("""
          WITH spend AS (
            SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,6))) AS spend_dec
            FROM v_orders GROUP BY o_custkey)
          SELECT c.c_custkey, c.c_name, CAST(b.spend_dec AS DOUBLE) AS spend
          FROM v_customer c JOIN spend b ON c.c_custkey = b.o_custkey
          WHERE b.spend_dec > (SELECT avg(spend_dec) FROM spend)
          ORDER BY c.c_custkey""")
      },
      Some("""WITH spend AS (
                SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,6))) AS spend_dec
                FROM orders GROUP BY o_custkey)
              SELECT c.c_custkey, c.c_name, CAST(b.spend_dec AS DOUBLE) AS spend
              FROM customer c JOIN spend b ON c.c_custkey = b.o_custkey
              WHERE b.spend_dec > (SELECT avg(spend_dec) FROM spend)
              ORDER BY c.c_custkey""")),

    // Null-safe equality join (<=>): keys made nullable via nullif, then
    // joined so NULL matches NULL — the semantics IS NOT DISTINCT FROM.
    Op("join_null_safe",
      (s, d) => {
        val a = T.customer(s, d).select(col("c_custkey"),
          nullif(pmod(col("c_custkey"), lit(7)), lit(0)).as("ka"))
        val b = T.supplier(s, d).select(col("s_suppkey"),
          nullif(pmod(col("s_suppkey"), lit(7)), lit(0)).as("kb"))
        a.join(b, col("ka") <=> col("kb"))
          .groupBy(col("ka")).agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("ka").asc_nulls_first)
      },
      Some("""SELECT ka, count(*) AS n_pairs FROM
                (SELECT nullif(c_custkey % 7, 0) AS ka FROM customer) a
              JOIN (SELECT nullif(s_suppkey % 7, 0) AS kb FROM supplier) b
                ON ka IS NOT DISTINCT FROM kb
              GROUP BY ka ORDER BY ka NULLS FIRST""")),

    // Bounded top-k per group via a typed Aggregator: the buffer caps at k,
    // so partial aggregation prunes every partition to ≤k rows per group and
    // the shuffle carries O(groups·partitions·k) rows — the plan you want
    // when the table is 100 TB and k is 3. Same semantics (and oracle) as
    // the window formulation in topk_per_group.
    Op("topk_per_group_agg",
      (s, d) => {
        import s.implicits._
        val topk = udaf(thrivespark.udf.TopKAggregator.TopK(3))
        T.part(s, d)
          .groupBy(col("p_brand"))
          .agg(topk(col("p_retailprice"), col("p_partkey")).as("top"))
          .select(col("p_brand"), posexplode(col("top")).as(Seq("i", "e")))
          .select(col("p_brand"), col("e._2").as("p_partkey"),
            col("e._1").as("p_retailprice"), (col("i") + 1).as("rn"))
          .orderBy(col("p_brand"), col("rn"))
      },
      Some("""SELECT p_brand, p_partkey, p_retailprice,
                     CAST(row_number() OVER (PARTITION BY p_brand
                                        ORDER BY p_retailprice DESC, p_partkey) AS INTEGER) AS rn
              FROM part
              QUALIFY rn <= 3
              ORDER BY p_brand, rn""")),

    // Bucketed co-located join: both fact tables bucketed (and sorted) on
    // the join key, so the sort-merge join needs NO shuffle exchange — the
    // canonical 100 TB pattern for repeated joins on the same key.
    // PlanSpec asserts the exchange-free plan.
    Op("join_bucketed",
      (s, d) => {
        bucketedTables(s, d)
        val (liT, oT) = bucketedNames(d)
        s.table(liT).join(s.table(oT), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n_lines,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Raw-text source/sink round trip (r14 — completes the source-format
    // matrix: parquet/csv/json/orc/binaryFile/text): the corpus written as
    // one-document-per-line text (the rawest interchange format LLM
    // corpora actually ship in), read back with spark.read.text, reduced
    // to a per-line stats aggregate so the oracle is a compact frame.
    // FixtureContractSpec guarantees documents are single-line (no \n),
    // so the line round trip is exact. Line content is not keyed — the
    // aggregate is over the multiset of lines, duplicates preserved.
    Op("source_text_roundtrip",
      (s, d) => {
        val dir = Scratch.sink("txt", d)
        T.documents(s, d).select(col("text"))
          .write.mode("overwrite").text(dir)
        s.read.text(dir)
          .select(length(col("value")).as("len"),
            size(split(col("value"), " ")).as("n_toks"), col("value"))
          .agg(count(lit(1)).as("n_lines"),
            sum(col("len")).cast("bigint").as("total_chars"),
            sum(col("n_toks")).cast("bigint").as("total_tokens"),
            min(col("value")).as("first_line"),
            max(col("value")).as("last_line"))
      },
      Some("""SELECT count(*) AS n_lines,
                     CAST(sum(len(text)) AS BIGINT) AS total_chars,
                     CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                       AS total_tokens,
                     min(text) AS first_line,
                     max(text) AS last_line
              FROM documents""")),

    Op("source_csv_roundtrip",
      (s, d) => {
        val dir = Scratch.sink("csv", d)
        T.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate").cast("date").as("o_date"))
          .write.mode("overwrite").option("header", "true").csv(dir)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType), StructField("o_date", DateType)))
        s.read.schema(schema).option("header", "true").csv(dir)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
               max(col("o_date")).as("max_date"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
                     max(CAST(o_orderdate AS DATE)) AS max_date
              FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Small-file compaction as a driver-visible query: stage events as many
    // small files, compact to ⌈bytes/target⌉ files with an atomic directory
    // swap, and emit the invariant the maintenance job must satisfy — row
    // count and content survive, file count collapses. The oracle checks
    // the data side (counts/sums vs the source table); CompactionSpec pins
    // the file-count + atomicity mechanics.
    Op("etl_compaction",
      (s, d) => {
        val dir = s"/tmp/graft_compact_${new java.io.File(d).getName}"
        if (!DurableStage.committed(dir)) {
          T.events(s, d).select(col("event_id"), col("event_type"), col("value"))
            .repartition(64) // the small-file pathology
            .write.mode("overwrite").parquet(dir)
        }
        val rep = Compaction.compact(s, dir, targetBytesPerFile = 8L * 1024 * 1024)
        s.read.parquet(dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .withColumn("compacted_to_fewer",
            lit(rep.filesAfter <= rep.filesBefore).cast("int"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
                     1 AS compacted_to_fewer
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // Thrive's central parse step as a first-class utility: nested JSON →
    // declared-schema parse (never inferred) → recursive struct flatten to
    // scalar columns. The payload is built from events itself so the oracle
    // is the identity projection; doubles survive the JSON round-trip
    // exactly (shortest-representation render, exact re-parse).
    Op("etl_json_flatten",
      (s, d) => {
        import org.apache.spark.sql.types._
        val raw = T.events(s, d).select(col("event_id"),
          to_json(struct(col("event_type"),
            struct(col("user_id"), col("value")).as("u"))).as("payload"))
        val schema = StructType(Seq(
          StructField("event_type", StringType),
          StructField("u", StructType(Seq(
            StructField("user_id", LongType),
            StructField("value", DoubleType))))))
        val parsed = raw.select(col("event_id"),
          from_json(col("payload"), schema).as("j"))
        thrivespark.etl.Flatten.flatten(parsed)
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, event_type AS j_event_type,
                     user_id AS j_u_user_id, value AS j_u_value
              FROM events ORDER BY event_id""")),

    // The reference's `setup` lifecycle phase (§3.1 #2): the columns config
    // compiles to the target-table contract — metadata rows here, exact DDL
    // string pinned in EtlSpec. Completes the load/setup/rollback trio as
    // driver-visible queries.
    Op("etl_setup_ddl",
      (s, d) => {
        import s.implicits._
        val specs = thrivespark.etl.ColumnMapping.parse(
          """event_id:id:bigint:required
            |event_type:type:string:required
            |value:amount:decimal(18,2):required
            |ts:event_date:date""".stripMargin)
        specs.zipWithIndex.map { case (sp, i) =>
          (i + 1, sp.dest, sp.dtype, if (sp.required) 1 else 0)
        }.toDF("ord", "col_name", "col_type", "required")
          .orderBy(col("ord"))
      },
      Some("""SELECT * FROM (VALUES
                (1, 'id', 'bigint', 1),
                (2, 'type', 'string', 1),
                (3, 'amount', 'decimal(18,2)', 1),
                (4, 'event_date', 'date', 0))
              AS t(ord, col_name, col_type, required)
              ORDER BY ord""")),

    // CDC upsert compaction (MERGE latest-wins without a table format):
    // union base + change rows, rank per key by (version, tiebreak) desc,
    // keep rn=1. One shuffle on the key; at 100 TB this is the standard
    // snapshot-compaction job over a CDC log (and the batch equivalent of
    // re-ingestion idempotency). Changes derived deterministically here:
    // every 7th customer gets a v2 row with doubled balance.
    Op("etl_cdc_upsert",
      (s, d) => {
        val base = T.customer(s, d).select(
          col("c_custkey"), col("c_name"), col("c_acctbal"),
          lit(1).as("version"))
        val changes = T.customer(s, d)
          .filter(pmod(col("c_custkey"), lit(7)) === 0)
          .select(col("c_custkey"), col("c_name"),
            (col("c_acctbal") * 2).as("c_acctbal"), lit(2).as("version"))
        val w = Window.partitionBy(col("c_custkey"))
          .orderBy(col("version").desc)
        base.unionByName(changes)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("version"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, version FROM (
                SELECT c_custkey, c_name, c_acctbal, version,
                       row_number() OVER (PARTITION BY c_custkey
                                          ORDER BY version DESC) AS rn
                FROM (
                  SELECT c_custkey, c_name, c_acctbal, 1 AS version FROM customer
                  UNION ALL
                  SELECT c_custkey, c_name, c_acctbal * 2, 2 FROM customer
                  WHERE c_custkey % 7 = 0))
              WHERE rn = 1 ORDER BY c_custkey""")),

    // Reshape: unpivot/melt (inverse of agg_pivot) — wide metric columns to
    // (id, metric, value) rows. Pure Generate (no shuffle until the sort):
    // the scale-safe way to feed generic per-metric pipelines.
    Op("etl_unpivot",
      (s, d) => T.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"),
          col("c_nationkey").cast("double").as("c_nationkey"))
        .unpivot(Array(col("c_custkey")),
          Array(col("c_acctbal"), col("c_nationkey")), "metric", "value")
        .orderBy(col("c_custkey"), col("metric")),
      Some("""SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS value
              FROM customer
              UNION ALL
              SELECT c_custkey, 'c_nationkey', CAST(c_nationkey AS DOUBLE)
              FROM customer
              ORDER BY c_custkey, metric""")),

    // Composite analytical query, TPC-H Q3 shape: 3-way join, filtered fact
    // sides, grouped revenue, global top-10. The filtered customer segment
    // broadcasts (smallest side); the lineitem⋈orders join is the big
    // shuffle; TakeOrderedAndProject replaces a full sort for the LIMIT —
    // the plan that holds when lineitem is 100 TB.
    Op("q3_order_priority",
      (s, d) => {
        val cut = lit("1998-06-01").cast("timestamp")
        val c = T.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val o = T.orders(s, d).filter(col("o_orderdate") < cut)
        val l = T.lineitem(s, d).filter(col("l_shipdate") > cut)
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"),
            col("o_orderdate").cast("date").as("order_date"),
            col("o_orderpriority"))
          .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                     o_orderpriority,
                     CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              WHERE c_mktsegment = 'BUILDING'
                AND o_orderdate < TIMESTAMP '1998-06-01'
                AND l_shipdate > TIMESTAMP '1998-06-01'
              GROUP BY l_orderkey, o_orderdate, o_orderpriority
              ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    // Composite, TPC-H Q5 shape: 6-table star join — the full dimension
    // chain (supplier⋈nation⋈region, pre-filtered and broadcast as one
    // small build side) against the lineitem⋈orders⋈customer fact spine,
    // with the local-supplier constraint c_nationkey = s_nationkey.
    Op("q5_regional_volume",
      (s, d) => {
        val dim = T.supplier(s, d)
          .join(T.nation(s, d), col("s_nationkey") === col("n_nationkey"))
          .join(T.region(s, d).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
        T.lineitem(s, d)
          .join(T.orders(s, d).filter(
            col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(dim), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
                     CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'
                AND o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1998-01-01'
              GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    // Salted SKEWED JOIN (complement of agg_salted_skew): when one probe key
    // dominates, replicate the build side S ways and scatter the probe side
    // by a salt, so the hot key's rows spread over S reducers. Result is
    // identical to the plain join; AQE's skew-join split is the automatic
    // variant, this is the explicit one that also works pre-AQE / in
    // streaming joins.
    Op("join_salted_skew",
      (s, d) => {
        val S = 8
        val e = T.events(s, d)
          .withColumn("salt", pmod(col("event_id"), lit(S)).cast("int"))
        val c = T.customer(s, d)
          .withColumn("salt", explode(array((0 until S).map(lit): _*)))
        e.join(c, col("user_id") === col("c_custkey") && e("salt") === c("salt"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
              FROM events JOIN customer ON user_id = c_custkey
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Composite, TPC-H Q10 shape: returned-item revenue per customer over one
    // quarter — lineitem(R-flag)⋈orders(quarter)⋈customer⋈nation, grouped by
    // customer, global top-20. Both fact sides arrive pre-filtered at the
    // scan (pushed predicates), nation broadcasts, and the LIMIT plans as
    // TakeOrderedAndProject (no global sort) — per-key state stays O(1), so
    // the identical plan serves a 100 TB lineitem.
    Op("q10_returned_items",
      (s, d) => {
        val o = T.orders(s, d).filter(
          col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val l = T.lineitem(s, d).filter(col("l_returnflag") === "R")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(T.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
          .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
                     CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              WHERE l_returnflag = 'R'
                AND o_orderdate >= TIMESTAMP '1996-10-01'
                AND o_orderdate < TIMESTAMP '1997-01-01'
              GROUP BY c_custkey, c_name, c_acctbal, n_name
              ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // TPC-H Q14 shape (promo revenue share): one month of lineitem joined
    // to the part dim, conditional revenue in the numerator, total in the
    // denominator — the canonical "share of business" scalar. Part
    // broadcasts (dim); both sums accumulate in exact decimal and convert
    // to double once, then a single IEEE division (R2). The shipdate
    // window is pushed into the parquet scan.
    Op("q14_promo_revenue",
      (s, d) => {
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        T.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
                  col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
          .join(broadcast(T.part(s, d)), col("l_partkey") === col("p_partkey"))
          .agg(round6(lit(100.0)
            * sum(dec(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))).cast("double")
            / sum(dec(rev)).cast("double")).as("promo_revenue_pct"))
      },
      Some("""SELECT round(100.0
                     * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                           THEN l_extendedprice * (1.0 - l_discount)
                           ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
                     / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE), 6) AS promo_revenue_pct
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE l_shipdate >= TIMESTAMP '1997-06-01'
                AND l_shipdate < TIMESTAMP '1997-07-01'""")),

    // TPC-H Q18 shape (large-volume orders): aggregate the fact to order
    // grain, HAVING-filter to the heavy tail, then enrich the tiny
    // survivor set with orders + customer. The group-then-filter runs on
    // the fact's natural key (one shuffle); the survivor set is orders of
    // magnitude smaller than either dim side, so AQE broadcasts it into
    // both enrichment joins — at 100 TB the heavy-hitter list is the
    // small side, never the fact.
    Op("q18_large_orders",
      (s, d) => {
        val big = T.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(dsum(col("l_quantity")).as("sum_qty"))
          .filter(col("sum_qty") > 250)
        // the heavy-hitter list is the explicit broadcast side — at test
        // scale AQE would happily broadcast the dims instead, which is
        // exactly the plan that dies at 100 TB
        broadcast(big).join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(20)
      },
      Some("""WITH big AS (
                SELECT l_orderkey,
                       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 250)
              SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
              FROM big
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""")),

    // TPC-H Q12 shape (shipping-priority audit): fact⋈orders with
    // conditional aggregation — the filtered fact shuffles once on its
    // join key; the CASE buckets fold into the same partial aggregate, so
    // priority classes cost zero extra passes. (The fixture lacks
    // l_shipmode/commitdate, so the grouping key is l_linestatus; the
    // plan shape — date-sliced fact, equi-join, conditional counts — is
    // Q12's.)
    Op("q12_priority_lines",
      (s, d) => {
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        T.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                  col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_linestatus"))
          .agg(count(when(hi, lit(1))).as("high_line_count"),
            count(when(!hi, lit(1))).as("low_line_count"))
          .orderBy(col("l_linestatus"))
      },
      Some("""SELECT l_linestatus,
                     count(*) FILTER (WHERE o_orderpriority IN
                       ('1-URGENT', '2-HIGH')) AS high_line_count,
                     count(*) FILTER (WHERE o_orderpriority NOT IN
                       ('1-URGENT', '2-HIGH')) AS low_line_count
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1998-01-01'
              GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // TPC-H Q19 shape (disjunctive brand/size/quantity predicates): the
    // three OR-arms each constrain BOTH sides of the join, but none of
    // them is an equi-condition — so the equi-join on partkey runs first
    // (part broadcasts: it is the dimension) and the disjunction stays a
    // codegen'd post-join filter. Predicates never block pushdown of the
    // partkey pruning; a 100 TB planner note: resist the temptation to
    // union three filtered joins — one join + OR-filter scans the fact
    // once instead of three times.
    Op("q19_disjunctive_match",
      (s, d) => {
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        val arm1 = col("p_brand") === "Brand#12" &&
          col("p_size").between(1, 15) && col("l_quantity").between(1, 20)
        val arm2 = col("p_brand") === "Brand#23" &&
          col("p_size").between(10, 30) && col("l_quantity").between(10, 30)
        val arm3 = col("p_brand") === "Brand#34" &&
          col("p_size").between(20, 50) && col("l_quantity").between(20, 40)
        T.lineitem(s, d)
          .join(broadcast(T.part(s, d)), col("l_partkey") === col("p_partkey"))
          .filter(arm1 || arm2 || arm3)
          .agg(round6(sum(dec(rev)).cast("double")).as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      Some("""SELECT round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                       AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue,
                     count(*) AS n_lines
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                     AND l_quantity BETWEEN 1 AND 20)
                 OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
                     AND l_quantity BETWEEN 10 AND 30)
                 OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
                     AND l_quantity BETWEEN 20 AND 40)""")),

    // TPC-H Q22 shape (idle high-balance customers): a 1-row scalar
    // threshold (broadcast crossJoin — the positive-balance mean, summed
    // in DECIMAL so both engines divide the identical exact total once)
    // gates the dimension map-side, then a LEFT ANTI join drops customers
    // WITH urgent orders (the NOT EXISTS decorrelation; the fixture's
    // every customer has orders, so the anti-set keys on the urgent
    // slice). The anti-join's build side is the filtered orders
    // projection — at 100 TB the bloom-filter variant of this exact shape
    // is join_runtime_filter.
    Op("q22_idle_balance",
      (s, d) => {
        val thresh = T.customer(s, d)
          .filter(col("c_acctbal") > 0.0)
          .agg((sum(dec(col("c_acctbal"))).cast("double") / count(lit(1)))
            .as("ab"))
        val urgent = T.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey"))
        T.customer(s, d)
          .crossJoin(broadcast(thresh))
          .filter(col("c_acctbal") > col("ab"))
          .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("numcust"),
            round6(sum(dec(col("c_acctbal"))).cast("double")).as("totacctbal"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""WITH pos AS (
                SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*) AS ab
                FROM customer WHERE c_acctbal > 0.0)
              SELECT c_mktsegment, count(*) AS numcust,
                     round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)))
                           AS DOUBLE), 6) AS totacctbal
              FROM customer, pos
              WHERE c_acctbal > pos.ab
                AND NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey
                                  AND o_orderpriority = '1-URGENT')
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ORC source round-trip (third ingestion format next to JSONL/CSV):
    // write a column-pruned orders projection as ORC, read it back (schema
    // rides in the ORC footer — no inference), aggregate per order year.
    // Oracle checks content invariance against the parquet source.
    Op("source_orc_roundtrip",
      (s, d) => {
        val dir = Scratch.sink("orc", d)
        T.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"), col("o_orderdate").cast("date").as("o_date"))
          .write.mode("overwrite").orc(dir)
        s.read.orc(dir)
          .groupBy(year(col("o_date")).as("o_year"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy(col("o_year"), col("o_orderpriority"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, o_orderpriority,
                     count(*) AS n,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
              FROM orders GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Snapshot reconciliation (table diff): classify every key across two
    // snapshot versions as insert / delete / update by full-outer-joining on
    // the key and comparing the non-key payload. The "next" snapshot is
    // derived deterministically from orders (keys ≡0 mod 97 deleted, ≡0 mod
    // 89 repriced, ≡0 mod 101 re-keyed as inserts) so the oracle sees the
    // identical pair of relations. One co-partitioned sort-merge join on the
    // primary key — the canonical CDC-backfill / audit pattern; at 100 TB
    // both sides shuffle once on the same key and stream through the merge.
    Op("etl_snapshot_diff",
      (s, d) => {
        val cur = T.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val next = cur.filter(col("o_orderkey") % 97 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 89 === 0, col("o_totalprice") + 1.0)
              .otherwise(col("o_totalprice")))
          .unionByName(cur.filter(col("o_orderkey") % 101 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L)))
        val a = cur.select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("st_a"), col("o_totalprice").as("pr_a"))
        val b = next.select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("st_b"), col("o_totalprice").as("pr_b"))
        a.join(b, Seq("k"), "full_outer")
          .withColumn("change",
            when(col("st_a").isNull, "insert")
              .when(col("st_b").isNull, "delete")
              .when(col("st_a") =!= col("st_b") || col("pr_a") =!= col("pr_b"),
                "update"))
          .filter(col("change").isNotNull)
          .select(col("k").as("o_orderkey"), col("change"))
          .orderBy(col("change"), col("o_orderkey"))
      },
      Some("""WITH cur AS (
                SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
              next AS (
                SELECT o_orderkey, o_orderstatus,
                       CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
                            ELSE o_totalprice END AS o_totalprice
                FROM cur WHERE o_orderkey % 97 <> 0
                UNION ALL
                SELECT o_orderkey + 1000000000, o_orderstatus, o_totalprice
                FROM cur WHERE o_orderkey % 101 = 0)
              SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
                     CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                          WHEN b.o_orderkey IS NULL THEN 'delete'
                          WHEN a.o_orderstatus <> b.o_orderstatus
                               OR a.o_totalprice <> b.o_totalprice THEN 'update'
                     END AS change
              FROM cur a FULL OUTER JOIN next b ON a.o_orderkey = b.o_orderkey
              WHERE CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                         WHEN b.o_orderkey IS NULL THEN 'delete'
                         WHEN a.o_orderstatus <> b.o_orderstatus
                              OR a.o_totalprice <> b.o_totalprice THEN 'update'
                    END IS NOT NULL
              ORDER BY change, o_orderkey""")),

    // Runtime-filter join (semi-join reduction): a selective dimension-side
    // filter (one order quarter) reduces the fact scan via Spark's runtime
    // bloom filter — the optimizer injects might_contain(bloom(o_orderkey))
    // into lineitem's scan-side predicate so most fact rows drop before the
    // shuffle. At test scale the size thresholds keep the filter off (the
    // feature is deliberately scale-adaptive); PlanSpec lowers the
    // thresholds and asserts the bloom filter appears. At 100 TB the default
    // thresholds trigger it natively on exactly this plan.
    Op("join_runtime_filter",
      (s, d) => {
        val o = T.orders(s, d).filter(
          col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        T.lineitem(s, d)
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_lines"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_lines,
                     CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                AND o_orderdate < TIMESTAMP '1997-04-01'
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Fixed-width histogram (the distribution-profiling op every DQ /
    // drift-monitoring pipeline runs): o_totalprice binned at a declared
    // width with clamped edge bins; emits per-bin count + share. Bin
    // boundaries are declared constants (not data-dependent), so profiles
    // are comparable across runs/partitions — one integer-keyed hash
    // aggregation.
    Op("agg_histogram",
      (s, d) => {
        val width = 30000.0
        val bin = least(greatest(floor(col("o_totalprice") / width), lit(0.0)), lit(19.0))
          .cast("int")
        T.orders(s, d)
          .select(bin.as("bin"))
          .groupBy(col("bin")).agg(count(lit(1)).as("n"))
          .withColumn("share", round6(col("n").cast("double")
            / sum(col("n")).over(org.apache.spark.sql.expressions.Window.partitionBy())))
          .select(col("bin"), (col("bin") * 30000).cast("long").as("lo"),
            col("n"), col("share"))
          .orderBy(col("bin"))
      },
      Some("""WITH b AS (
                SELECT CAST(least(greatest(floor(o_totalprice / 30000), 0), 19) AS INTEGER) AS bin
                FROM orders),
              g AS (SELECT bin, count(*) AS n FROM b GROUP BY bin)
              SELECT bin, CAST(bin * 30000 AS BIGINT) AS lo, n,
                     round(CAST(n AS DOUBLE) / (SELECT sum(n) FROM g), 6) AS share
              FROM g ORDER BY bin""")),

    // k-anonymity audit (privacy/governance gate for data release): group
    // by the quasi-identifier tuple, flag groups smaller than k = 5 —
    // the rows a release would have to suppress or generalize because the
    // QI combination re-identifies. One hash aggregation on the QI key;
    // the audit output is group-grain (bounded by QI cardinality, not rows).
    // Column profiling — the ANALYZE TABLE / data-quality-profiler shape
    // every ETL framework ships (r14): one pass over the table melted to
    // (col_name, v_num, v_str) rows, one groupBy computing n_rows, nulls,
    // distincts and typed min/max per column. The melt costs a bounded 5×
    // row fan-out but keeps the stats one aggregation instead of 5
    // separate scans or a multi-distinct Expand. Honest scale note (r17):
    // count/null/min/max are map-side-combinable AND reaggregatable across
    // shards (a 100 TB profile can merge per-file profiles of those), but
    // n_distinct here is an EXACT countDistinct, which is NOT mergeable —
    // merging per-shard exact distinct counts over-counts values present
    // in several shards. This op trades shard-mergeability for exactness
    // (and an exact oracle); dq_profile_hll below is the shard-mergeable
    // variant — HLL sketches merge losslessly, at ±2% error — and needs no
    // melt: a sketch is an ordinary aggregate, not a distinct one, so all
    // five columns' stats fit one aggregation with no Expand. Numeric
    // min/max ride as DOUBLE (exact column values, no arithmetic);
    // distincts count the string rendering, identical across engines for
    // the integer/2-decimal/ASCII domains profiled here.
    Op("dq_profile",
      (s, d) => {
        val ev = T.events(s, d)
        def m(name: String, num: org.apache.spark.sql.Column,
            str: org.apache.spark.sql.Column) =
          struct(lit(name).as("col_name"), num.cast("double").as("v_num"),
            str.cast("string").as("v_str"))
        ev.select(explode(array(
            m("event_id", col("event_id"), col("event_id")),
            m("user_id", col("user_id"), col("user_id")),
            m("value", col("value"), col("value")),
            m("event_type", lit(null), col("event_type")),
            m("props", lit(null), col("props")))).as("m"))
          .select(col("m.col_name").as("col_name"), col("m.v_num").as("v_num"),
            col("m.v_str").as("v_str"))
          .groupBy(col("col_name"))
          .agg(count(lit(1)).as("n_rows"),
            (count(lit(1)) - count(col("v_str"))).as("n_null"),
            countDistinct(col("v_str")).as("n_distinct"),
            min(col("v_num")).as("min_num"), max(col("v_num")).as("max_num"),
            min(col("v_str")).as("min_str"), max(col("v_str")).as("max_str"))
          .orderBy(col("col_name"))
      },
      Some("""WITH m AS (
                SELECT 'event_id' AS col_name, CAST(event_id AS DOUBLE) AS v_num,
                       CAST(event_id AS VARCHAR) AS v_str FROM events
                UNION ALL SELECT 'user_id', CAST(user_id AS DOUBLE),
                       CAST(user_id AS VARCHAR) FROM events
                UNION ALL SELECT 'value', value,
                       CAST(value AS VARCHAR) FROM events
                UNION ALL SELECT 'event_type', NULL, event_type FROM events
                UNION ALL SELECT 'props', NULL, props FROM events)
              SELECT col_name, count(*) AS n_rows,
                     CAST(count(*) - count(v_str) AS BIGINT) AS n_null,
                     CAST(count(DISTINCT v_str) AS BIGINT) AS n_distinct,
                     min(v_num) AS min_num, max(v_num) AS max_num,
                     min(v_str) AS min_str, max(v_str) AS max_str
              FROM m GROUP BY col_name ORDER BY col_name""")),

    // The shard-mergeable profile (r17 — the 100 TB path): the same stats,
    // but n_distinct is an HLL++ sketch (rsd 1%) whose registers merge
    // losslessly across partitions/files/shards, so a 100 TB table's
    // profile really is a per-file profile merge — the property the exact
    // variant above documents itself as lacking. No melt: one global
    // aggregate over the scan computes every column's stats side by side,
    // and the single result row is unpivoted into one row per column. The
    // sketch is hll_distinct (functions/HllDistinct.scala): its 2^14
    // registers are one binary buffer value, not Spark HLL++'s 1,639 long
    // columns, so the aggregate plans as one ObjectHashAggregate with 27
    // buffer attributes. Sketch estimates are engine-specific ⇒
    // rows-only (R5, like agg_approx_distinct); PropertySpec pins the
    // estimate within ±2% of the exact profile's n_distinct, per column,
    // plus exact equality on every mergeable stat.
    Op("dq_profile_hll",
      (s, d) => {
        // (column, has a numeric rendering)
        val cols = Seq("event_id" -> true, "user_id" -> true, "value" -> true,
          "event_type" -> false, "props" -> false)
        val stats = cols.flatMap { case (c, numeric) =>
          val str = col(c).cast("string")
          val num = col(c).cast("double")
          Seq(count(str).as(s"${c}_nn"),
            call_function("hll_distinct", str).as(s"${c}_nd"),
            min(str).as(s"${c}_min_str"), max(str).as(s"${c}_max_str")) ++
            (if (numeric) Seq(min(num).as(s"${c}_min_num"), max(num).as(s"${c}_max_num"))
             else Nil)
        }
        val rows = cols.map { case (c, numeric) =>
          def numStat(st: String) =
            if (numeric) col(s"${c}_$st") else lit(null).cast("double")
          struct(lit(c).as("col_name"), col("n_rows"),
            (col("n_rows") - col(s"${c}_nn")).as("n_null"),
            col(s"${c}_nd").as("n_distinct"),
            numStat("min_num").as("min_num"), numStat("max_num").as("max_num"),
            col(s"${c}_min_str").as("min_str"), col(s"${c}_max_str").as("max_str"))
        }
        T.events(s, d)
          .agg(count(lit(1)).as("n_rows"), stats: _*)
          .select(explode(array(rows: _*)).as("r"))
          .select(col("r.*"))
          .orderBy(col("col_name"))
      },
      None),

    Op("dq_k_anonymity",
      (s, d) => {
        T.documents(s, d)
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n"))
          .withColumn("at_risk", (col("n") < 5).cast("int"))
          .orderBy(col("lang"), col("source"))
      },
      Some("""SELECT lang, source, count(*) AS n,
                     CAST(count(*) < 5 AS INTEGER) AS at_risk
              FROM documents GROUP BY lang, source
              ORDER BY lang, source""")),

    // Referential-integrity audit across the star schema's four FK edges
    // (r17 — the DQ check dq_validate_reject's row-local rules can't
    // express: validity HERE depends on another table). One row per FK
    // with fact cardinality, orphan row count and distinct orphan keys —
    // all zero on this synthetic star, which is exactly the audit's
    // assertion; EtlSpec plants orphans to prove the counters move. Scale
    // shape: each check is ONE anti-join (fact keys vs dim keys — AQE
    // broadcasts the small dims, sort-merges lineitem⋈orders) feeding
    // aggregate-sized counters; NULL FKs are excluded (a null FK is a
    // completeness problem, not a referential one). The four audits are
    // independent single-purpose scans — on a 100 TB warehouse each
    // prunes to (fk) column reads only.
    Op("dq_referential",
      (s, d) => Seq(
          fkOrphanAudit(T.customer(s, d), "c_nationkey",
            T.nation(s, d), "n_nationkey", "customer.nation"),
          fkOrphanAudit(T.lineitem(s, d), "l_orderkey",
            T.orders(s, d), "o_orderkey", "lineitem.orders"),
          fkOrphanAudit(T.lineitem(s, d), "l_partkey",
            T.part(s, d), "p_partkey", "lineitem.part"),
          fkOrphanAudit(T.orders(s, d), "o_custkey",
            T.customer(s, d), "c_custkey", "orders.customer"))
        .reduce(_ unionAll _)
        .orderBy(col("fk_name")),
      Some("""SELECT 'customer.nation' AS fk_name,
                     (SELECT count(*) FROM customer) AS n_rows,
                     (SELECT count(*) FROM customer c WHERE c.c_nationkey IS NOT NULL
                        AND NOT EXISTS (SELECT 1 FROM nation n
                                        WHERE n.n_nationkey = c.c_nationkey)) AS n_orphans,
                     (SELECT count(DISTINCT c_nationkey) FROM customer c
                        WHERE c.c_nationkey IS NOT NULL
                        AND NOT EXISTS (SELECT 1 FROM nation n
                                        WHERE n.n_nationkey = c.c_nationkey)) AS n_orphan_keys
              UNION ALL
              SELECT 'lineitem.orders',
                     (SELECT count(*) FROM lineitem),
                     (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
                        AND NOT EXISTS (SELECT 1 FROM orders o
                                        WHERE o.o_orderkey = l.l_orderkey)),
                     (SELECT count(DISTINCT l_orderkey) FROM lineitem l
                        WHERE l.l_orderkey IS NOT NULL
                        AND NOT EXISTS (SELECT 1 FROM orders o
                                        WHERE o.o_orderkey = l.l_orderkey))
              UNION ALL
              SELECT 'lineitem.part',
                     (SELECT count(*) FROM lineitem),
                     (SELECT count(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL
                        AND NOT EXISTS (SELECT 1 FROM part p
                                        WHERE p.p_partkey = l.l_partkey)),
                     (SELECT count(DISTINCT l_partkey) FROM lineitem l
                        WHERE l.l_partkey IS NOT NULL
                        AND NOT EXISTS (SELECT 1 FROM part p
                                        WHERE p.p_partkey = l.l_partkey))
              UNION ALL
              SELECT 'orders.customer',
                     (SELECT count(*) FROM orders),
                     (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
                        AND NOT EXISTS (SELECT 1 FROM customer c
                                        WHERE c.c_custkey = o.o_custkey)),
                     (SELECT count(DISTINCT o_custkey) FROM orders o
                        WHERE o.o_custkey IS NOT NULL
                        AND NOT EXISTS (SELECT 1 FROM customer c
                                        WHERE c.c_custkey = o.o_custkey))
              ORDER BY fk_name""")),

    // PII masking / generalization (the release-side companion to the
    // k-anonymity audit): the direct key is TOKENIZED (md5 — emitting the
    // raw c_custkey next to a length-preserving name mask was trivially
    // invertible, since TPC-H names embed the zero-padded key; r6 per
    // ADVICE), names are masked (all-but-last-3 starred), and
    // quasi-identifiers are generalized (nation → region via the broadcast
    // dim join; account balance → 1000-wide band). Pure map-side rewrite
    // plus one broadcast join — the governance pass adds no shuffle to a
    // 100 TB release pipeline. (A production tokenizer would use a keyed
    // HMAC, not a bare hash; the plan shape is identical.)
    Op("dq_pii_mask",
      (s, d) => {
        val masked = expr(
          "concat(repeat('*', length(c_name) - 3), substr(c_name, length(c_name) - 2, 3))")
        T.customer(s, d)
          .join(broadcast(T.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .select(md5(col("c_custkey").cast("string")).as("cust_token"),
            masked.as("name_masked"),
            col("n_regionkey").as("region_band"),
            (floor(col("c_acctbal") / 1000.0) * 1000).cast("long").as("acct_band"),
            col("c_mktsegment"))
          .orderBy(col("cust_token"))
      },
      Some("""SELECT md5(CAST(c_custkey AS VARCHAR)) AS cust_token,
                     repeat('*', length(c_name) - 3)
                       || substring(c_name, length(c_name) - 2, 3) AS name_masked,
                     n_regionkey AS region_band,
                     CAST(floor(c_acctbal / 1000.0) * 1000 AS BIGINT) AS acct_band,
                     c_mktsegment
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              ORDER BY cust_token""")),

    // Late-arriving dimension lifecycle: facts loaded before their dimension
    // row exists key to the declared UNKNOWN member instead of being dropped
    // or stalling the load ('initial' phase: the dim feed is missing every
    // 10th customer); when the dim catches up, the same aggregation re-keys
    // them ('backfilled' phase). Emitting both phases side by side is the
    // reconciliation audit a warehouse runs after a dim backfill. Plan: two
    // left joins sharing one shuffle shape + a union — the dim is the small
    // side and broadcasts at any scale where it fits.
    Op("etl_late_arriving_dim",
      (s, d) => {
        val o = T.orders(s, d).select(col("o_custkey"), col("o_totalprice"))
        def phase(dim: org.apache.spark.sql.DataFrame, name: String) =
          o.join(broadcast(dim.select(col("c_custkey"), col("c_mktsegment"))),
              col("o_custkey") === col("c_custkey"), "left")
            .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("seg"))
            .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
            .withColumn("phase", lit(name))
        val full = T.customer(s, d)
        phase(full.filter(col("c_custkey") % 10 =!= 0), "initial")
          .unionByName(phase(full, "backfilled"))
          .select(col("phase"), col("seg"), col("n_orders"), col("revenue"))
          .orderBy(col("phase"), col("seg"))
      },
      Some("""WITH p AS (
                SELECT 'initial' AS phase, coalesce(c.c_mktsegment, 'UNKNOWN') AS seg,
                       o.o_totalprice
                FROM orders o LEFT JOIN customer c
                  ON o.o_custkey = c.c_custkey AND c.c_custkey % 10 <> 0
                UNION ALL
                SELECT 'backfilled', coalesce(c.c_mktsegment, 'UNKNOWN'), o.o_totalprice
                FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
              SELECT phase, seg, count(*) AS n_orders,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
              FROM p GROUP BY phase, seg ORDER BY phase, seg""")),

    // Partition-backfill via DYNAMIC partition overwrite: the initial load
    // writes every dt= partition (gen 1); the backfill rewrites ONE day
    // (gen 2) with partitionOverwriteMode=dynamic, which replaces only the
    // partitions present in the incoming frame — under the default STATIC
    // mode the same overwrite would wipe the whole table. The read-back
    // audit proves both halves: the backfilled day carries gen 2 and every
    // other day's rows survived intact. This is the idempotent-backfill
    // primitive behind every dt-partitioned warehouse at 100 TB.
    Op("etl_backfill_overwrite",
      (s, d) => {
        // Run-scoped scratch sink (r6, per ADVICE): a fixed path raced with
        // concurrent suites (the second dynamic overwrite is partial, so a
        // concurrent reader could see mixed generations) and accumulated
        // /tmp litter that BASELINE.md documents as a bench contaminant.
        // The partition-grain audit (O(days) rows) is materialized before
        // the scratch dir is deleted — same documented driver-side pattern
        // as etl_retention_vacuum's partition list.
        val sinkPath = java.nio.file.Paths.get(thrivespark.Scratch.dir("backfill"))
        val sink = sinkPath.toString
        try {
          val ev = T.events(s, d).withColumn("dt", to_date(col("ts")))
          ev.withColumn("gen", lit(1))
            .repartition(col("dt"))
            .write.mode("overwrite").partitionBy("dt").parquet(sink)
          val day0 = ev.agg(min(col("dt"))).head().getDate(0)
          ev.filter(col("dt") === lit(day0)).withColumn("gen", lit(2))
            .repartition(col("dt"))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("dt").parquet(sink)
          val audit = s.read.parquet(sink)
            .groupBy(col("dt"))
            .agg(count(lit(1)).as("cnt"), max(col("gen")).as("gen"))
          val rows = audit.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), audit.schema)
            .orderBy(col("dt"))
        } finally {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete(): Unit
          }
          rm(sinkPath.toFile)
        }
      },
      Some("""WITH e AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS dt FROM events)
              SELECT dt, count(*) AS cnt,
                     CAST(CASE WHEN dt = (SELECT min(dt) FROM e) THEN 2 ELSE 1 END
                          AS INTEGER) AS gen
              FROM e GROUP BY dt ORDER BY dt""")),

    // Malformed-record ingestion surface: a CSV batch with planted garbage
    // lines read under the three parser modes — PERMISSIVE keeps bad rows
    // as all-NULL + _corrupt_record (counted), DROPMALFORMED silently
    // drops them. The deterministic plant (one garbage line per orderkey
    // ≡0 mod 50 in the staged subset) makes every count oracle-exact —
    // the ingestion-robustness contract dirty real-world feeds need.
    Op("source_csv_malformed",
      (s, d) => {
        import org.apache.spark.sql.types._
        // the planted dirty feed is deterministic per sf: a durable stage
        val dir = DurableStage("badcsv", d, Seq("orders"), "v1") { dir =>
          val sub = T.orders(s, d).filter(col("o_orderkey") % 7 === 0)
          val lines = sub.select(concat_ws(",",
              col("o_orderkey"), col("o_custkey"),
              col("o_totalprice"), col("o_orderstatus")).as("value"))
            .unionByName(sub.filter(col("o_orderkey") % 50 === 0)
              .select(lit("garbage;;not,a").as("value")))
          lines.coalesce(1).write.mode("overwrite").text(dir)
        }
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
          StructField("o_totalprice", DoubleType), StructField("o_orderstatus", StringType),
          StructField("_corrupt_record", StringType)))
        def readAs(mode: String) =
          s.read.schema(schema).option("mode", mode).csv(dir)
        val permissive = readAs("PERMISSIVE").cache()
        val rows = Seq(
          ("permissive_total", permissive.count()),
          ("permissive_corrupt", permissive.filter(col("_corrupt_record").isNotNull).count()),
          ("dropmalformed_total",
            readAs("DROPMALFORMED").select("o_orderkey").filter(col("o_orderkey").isNotNull).count()))
        permissive.unpersist()
        import s.implicits._
        rows.toDF("mode", "n").orderBy(col("mode"))
      },
      Some("""WITH sub AS (SELECT * FROM orders WHERE o_orderkey % 7 = 0),
                   bad AS (SELECT count(*) AS nb FROM sub WHERE o_orderkey % 50 = 0),
                   good AS (SELECT count(*) AS ng FROM sub)
              SELECT 'dropmalformed_total' AS mode, (SELECT ng FROM good) AS n
              UNION ALL
              SELECT 'permissive_corrupt', (SELECT nb FROM bad)
              UNION ALL
              SELECT 'permissive_total', (SELECT ng FROM good) + (SELECT nb FROM bad)
              ORDER BY mode""")),

    // Sequence packing (the LLM-training shard/packing step): assign docs,
    // in doc_id order, to fixed token-budget sequences via the EXCLUSIVE
    // running token sum. A bare ORDER BY window would serialize on one
    // reducer, so the prefix sum runs as the classic two-pass distributed
    // form: range-partition by the order key, local running sums per
    // partition, tiny per-partition totals cumulated into offsets
    // (broadcast back), local + offset = global. Output is independent of
    // the partition boundaries, so the plan scales without changing results.
    Op("etl_pack_sequences",
      (s, d) => {
        val toks = T.documents(s, d)
          .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
        packSeqIds(toks, 2048)
          .groupBy(col("seq_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy(col("seq_id"))
      },
      Some("""WITH t AS (
                SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
                FROM documents),
              c AS (
                SELECT doc_id, n_tokens,
                       sum(n_tokens) OVER (ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_excl
                FROM t)
              SELECT CAST(floor(cum_excl / 2048) AS BIGINT) AS seq_id,
                     count(*) AS n_docs,
                     CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                     min(doc_id) AS first_doc, max(doc_id) AS last_doc
              FROM c GROUP BY 1 ORDER BY 1""")),

    // parse_url surface: Spark's URL accessors checked against ground truth
    // (the oracle REBUILDS each component from the columns the URL was
    // synthesized from — an exact answer key, no parsing on the oracle side).
    Op("fn_url",
      (s, d) => {
        val url = concat(lit("https://"), col("source"), lit(".example.org/d/"),
          col("doc_id").cast("string"), lit("?lang="), col("lang"))
        T.documents(s, d).select(
          col("doc_id"),
          parse_url(url, lit("HOST")).as("host"),
          parse_url(url, lit("PATH")).as("path"),
          parse_url(url, lit("QUERY"), lit("lang")).as("q_lang"),
          parse_url(url, lit("PROTOCOL")).as("proto"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
                     source || '.example.org' AS host,
                     '/d/' || CAST(doc_id AS VARCHAR) AS path,
                     lang AS q_lang,
                     'https' AS proto
              FROM documents ORDER BY doc_id""")),

    // Dynamic partition pruning (DPP): the star-schema optimization that
    // makes partitioned fact scans selective at runtime — the dim side's
    // filter result is broadcast INTO the fact scan's partition filter, so
    // only matching dt= directories are read (PlanSpec asserts the
    // dynamicpruning subquery reaches the scan). Fact = the Hive-style
    // partitioned events sink; dim = a small day-attribute table filtered
    // to one week. At 100 TB this is the difference between scanning 7
    // partitions and scanning 3 years.
    Op("join_dpp_prune",
      (s, d) => {
        val fact = DurableStage("dpp_fact", d, Seq("events"), "v1") { dir =>
          T.events(s, d).withColumn("dt", to_date(col("ts")))
            .repartition(col("dt"))
            .write.mode("overwrite").partitionBy("dt").parquet(dir)
        }
        val dimP = DurableStage("dpp_dim", d, Seq("events"), "v1") { dir =>
          T.events(s, d).select(to_date(col("ts")).as("dim_dt")).distinct()
            .withColumn("week", weekofyear(col("dim_dt")))
            .coalesce(1).write.mode("overwrite").parquet(dir)
        }
        val dim = s.read.parquet(dimP).filter(col("week") === 3)
        s.read.parquet(fact)
          .join(dim.hint("broadcast"), col("dt") === col("dim_dt"))
          .groupBy(col("dt"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy(col("dt"))
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS DATE) AS dt, count(*) AS n,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
              FROM events
              WHERE weekofyear(date_trunc('day', ts)) = 3
              GROUP BY 1 ORDER BY 1""")),

    // Data-quality anomaly monitor: per-day event counts scored against the
    // trailing 7-day window (mean/stddev via RANGE-free ROWS frame, then
    // z-score, |z| > 2 flags). The standard "did yesterday's load look
    // wrong" metric — one day-grain aggregation (tiny), one ordered window
    // over days; at 100 TB the day table is metadata-sized regardless of
    // corpus size.
    Op("etl_dq_anomaly",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = T.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        val w = Window.orderBy(col("day")).rowsBetween(-7, -1)
        daily
          .withColumn("mu", round(avg(col("n")).over(w), 4))
          .withColumn("sigma", round(stddev_samp(col("n")).over(w), 4))
          .filter(col("sigma").isNotNull && col("sigma") > 0)
          .withColumn("z", round((col("n") - col("mu")) / col("sigma"), 4))
          .withColumn("is_anomaly", (abs(col("z")) > 2).cast("int"))
          .select(col("day"), col("n"), col("mu"), col("sigma"), col("z"), col("is_anomaly"))
          .orderBy(col("day"))
      },
      Some("""WITH daily AS (
                SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n
                FROM events GROUP BY 1),
              scored AS (
                SELECT day, n,
                       round(avg(n) OVER w, 4) AS mu,
                       round(stddev_samp(n) OVER w, 4) AS sigma
                FROM daily
                WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
              SELECT day, n, mu, sigma,
                     round((n - mu) / sigma, 4) AS z,
                     CAST(abs(round((n - mu) / sigma, 4)) > 2 AS INTEGER) AS is_anomaly
              FROM scored WHERE sigma IS NOT NULL AND sigma > 0
              ORDER BY day""")),

    // Retention vacuum — the partition-lifecycle maintenance job that pairs
    // with compaction: drop day-partitions older than the retention window
    // (keep the newest 7 of 30) and emit the audit every vacuum must leave
    // behind. The partition list is the ONLY driver-side data (O(days)
    // metadata, same as the bookmark); deletes are directory drops, so cost
    // is independent of row count — at 100 TB this is a metastore + object-
    // store operation, never a data scan.
    Op("etl_retention_vacuum",
      (s, d) => {
        import s.implicits._
        val keepDays = 7
        val base = Scratch.sink("vacuum", d)
        T.events(s, d).withColumn("dt", to_date(col("ts")))
          .repartition(col("dt"))
          .write.mode("overwrite").partitionBy("dt").parquet(base)
        val allDays = s.read.parquet(base).select(col("dt")).distinct()
          .collect().map(_.getDate(0)).sortBy(_.getTime)
        val toDelete = allDays.dropRight(keepDays)
        toDelete.foreach { dt =>
          org.apache.commons.io.FileUtils.deleteDirectory(
            new java.io.File(s"$base/dt=$dt"))
        }
        val remaining = s.read.parquet(base)
          .groupBy(col("dt")).agg(count(lit(1)).as("rows_kept"))
          .withColumn("status", lit("kept"))
        val deleted = toDelete.toSeq.toDF("dt")
          .select(col("dt"), lit(0L).as("rows_kept"), lit("deleted").as("status"))
        remaining.unionByName(deleted).orderBy(col("dt"))
      },
      Some("""WITH days AS (
                SELECT CAST(date_trunc('day', ts) AS DATE) AS dt, count(*) AS cnt
                FROM events GROUP BY 1),
              r AS (SELECT dt, cnt, row_number() OVER (ORDER BY dt DESC) AS rn
                    FROM days)
              SELECT dt,
                     CASE WHEN rn <= 7 THEN cnt ELSE 0 END AS rows_kept,
                     CASE WHEN rn <= 7 THEN 'kept' ELSE 'deleted' END AS status
              FROM r ORDER BY dt""")),

    // Temporal (point-in-time) dimension join — the READ side of SCD2: each
    // order joins the dimension version valid at its order date. Because a
    // key's versions partition time, the range predicate selects exactly one
    // row — an equi-join on the key with a residual date filter, no window
    // and no as-of search. The dimension stays dim-sized (broadcastable);
    // the fact side never shuffles more than its one aggregation exchange.
    Op("join_temporal_scd2",
      (s, d) => {
        val cut = lit("1998-01-01").cast("date")
        val c = T.customer(s, d)
        val v1 = c.select(col("c_custkey"), col("c_acctbal").as("acctbal"),
          lit("1990-01-01").cast("date").as("valid_from"),
          when(pmod(col("c_custkey"), lit(10)) === 0, cut)
            .otherwise(lit(null).cast("date")).as("valid_to"),
          lit("v1").as("version"))
        val v2 = c.filter(pmod(col("c_custkey"), lit(10)) === 0)
          .select(col("c_custkey"), (col("c_acctbal") * 2).as("acctbal"),
            cut.as("valid_from"), lit(null).cast("date").as("valid_to"),
            lit("v2").as("version"))
        val dim = v1.unionByName(v2)
        T.orders(s, d).join(broadcast(dim),
            col("o_custkey") === col("c_custkey") &&
            col("o_orderdate").cast("date") >= col("valid_from") &&
            (col("valid_to").isNull ||
              col("o_orderdate").cast("date") < col("valid_to")))
          .groupBy(col("version"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total"),
            dsum(col("acctbal")).as("sum_acctbal"))
          .orderBy(col("version"))
      },
      Some("""WITH dim AS (
                SELECT c_custkey, c_acctbal AS acctbal,
                       DATE '1990-01-01' AS valid_from,
                       CASE WHEN c_custkey % 10 = 0 THEN DATE '1998-01-01' END AS valid_to,
                       'v1' AS version
                FROM customer
                UNION ALL
                SELECT c_custkey, c_acctbal * 2, DATE '1998-01-01', NULL, 'v2'
                FROM customer WHERE c_custkey % 10 = 0)
              SELECT version, count(*) AS n_orders,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
                     CAST(sum(CAST(acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_acctbal
              FROM orders JOIN dim ON o_custkey = c_custkey
                AND CAST(o_orderdate AS DATE) >= valid_from
                AND (valid_to IS NULL OR CAST(o_orderdate AS DATE) < valid_to)
              GROUP BY version ORDER BY version""")),

    // Schema evolution across ingestion batches: an old batch written before
    // a column existed (views, no `value`) sits next to a new batch with the
    // full schema; mergeSchema unions the footers and back-fills NULL — the
    // standard long-lived-dataset read path. Batches land as batch=N
    // Hive-style partitions, so at 100 TB each generation stays
    // partition-prunable and the merged read is still one scan.
    Op("source_schema_evolution",
      (s, d) => {
        val dir = Scratch.sink("evo", d)
        val ev = T.events(s, d)
        ev.filter(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("event_type"))
          .write.mode("overwrite").parquet(s"$dir/batch=1")
        ev.filter(col("event_type") =!= "view")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          .write.mode("overwrite").parquet(s"$dir/batch=2")
        s.read.option("mergeSchema", "true").parquet(dir)
          .groupBy(col("batch").cast("int").as("batch"))
          .agg(count(lit(1)).as("n"),
            count(col("value")).as("n_with_value"),
            sum(dec(coalesce(col("value"), lit(0.0)))).cast("double").as("sum_value"))
          .orderBy(col("batch"))
      },
      Some("""SELECT 1 AS batch, count(*) AS n, 0 AS n_with_value, 0.0 AS sum_value
              FROM events WHERE event_type = 'view'
              UNION ALL
              SELECT 2, count(*), count(value),
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
              FROM events WHERE event_type <> 'view'
              ORDER BY batch""")),

    // Z-order clustered sink: interleave the bits of two bucketized filter
    // columns (l_partkey, l_suppkey) into one sort key, repartitionByRange +
    // sort on it, and write size-capped files. Every file then has a tight
    // bounding box in BOTH dimensions, so parquet min/max stats skip files
    // for 2-D predicates — a linear sort localizes only its leading column
    // (EtlSpec measures the difference). The query view: round-trip the
    // clustered copy and roll up per coarse z-bucket; the oracle recomputes
    // the identical bucket arithmetic on the source table, proving the
    // layout pipeline is content-preserving and the z-code deterministic.
    Op("sink_zorder_layout",
      (s, d) => {
        val dir = Scratch.sink("zorder", d)
        ZOrder.write(s, d, dir)
        s.read.parquet(dir)
          .groupBy((col("z") / 256).cast("int").as("z_bucket"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("z_bucket"))
      },
      Some(s"""SELECT z_bucket, count(*) AS n,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
              FROM (SELECT CAST(FLOOR((${ZOrder.duckZ}) / 256.0) AS INTEGER) AS z_bucket,
                           l_quantity
                    FROM lineitem,
                         (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms
                          FROM lineitem) mx)
              GROUP BY z_bucket ORDER BY z_bucket""")),

    // Deterministic global corpus shuffle + shard layout (the training-order
    // pass every LLM run needs): each doc gets a content-addressed sort key
    // md5(epoch_salt || doc_id) — reshuffling per epoch is just a new salt —
    // a shard from the key's top 16 bits, and its position within the shard
    // by (skey, doc_id) order. Unlike rand()-based shuffling this is
    // reproducible across engines, re-runs and repartitionings, and the
    // shard/pos pair IS the output layout: at 100 TB shard count is chosen
    // so one shard ≈ one training file (~256 MB), the per-shard rank is the
    // single-reducer sort that writer task performs anyway
    // (repartition(shard) → sortWithinPartitions(skey) → one file per
    // shard — the WebDataset/packed-shard write shape), and no global
    // total-order sort ever happens. The trailing orderBy is presentation
    // for the differential gate only.
    Op("etl_global_shuffle",
      (s, d) => {
        val S = 16
        val skey = md5(concat(lit("epoch0:"), col("doc_id").cast("string")))
        T.documents(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).as("n_tokens"), skey.as("skey"))
          .withColumn("shard",
            (conv(substring(col("skey"), 1, 4), 16, 10).cast("long") % S).cast("int"))
          .withColumn("pos", row_number().over(
            Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))))
          .select(col("doc_id"), col("shard"), col("pos"), col("n_tokens"))
          .orderBy(col("shard"), col("pos"))
      },
      Some("""WITH m AS (SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
                     md5(concat('epoch0:', CAST(doc_id AS VARCHAR))) AS skey
                   FROM documents),
              sh AS (SELECT doc_id, n_tokens, skey,
                       CAST(CAST(concat('0x', substring(skey, 1, 4)) AS UBIGINT) % 16
                            AS INTEGER) AS shard
                     FROM m)
              SELECT doc_id, shard,
                     CAST(row_number() OVER (PARTITION BY shard
                            ORDER BY skey, doc_id) AS INTEGER) AS pos,
                     n_tokens
              FROM sh ORDER BY shard, pos""")),
  )
}

/** Z-order (Morton) clustering for 2-D data-skipping layouts. Bucket both
  * keys to 8-bit codes by range, interleave the bits, write sorted by the
  * z-value. Used by sink_zorder_layout and EtlSpec's skipping measurement. */
object ZOrder {
  import org.apache.spark.sql.Column

  /** 8-bit range bucket code: floor(key * 256 / (max+1)), clamped. */
  private def code(key: Column, mx: Column): Column =
    least(floor(key * 256 / (mx + 1)), lit(255)).cast("int")

  /** Bit-interleave two 8-bit codes into a 16-bit Morton value. */
  def zvalue(px: Column, py: Column): Column =
    (0 until 8).map { b =>
      shiftleft(shiftright(px, b).bitwiseAND(lit(1)), 2 * b + 1)
        .bitwiseOR(shiftleft(shiftright(py, b).bitwiseAND(lit(1)), 2 * b))
    }.reduce(_ bitwiseOR _)

  /** The identical z-value in DuckDB SQL over px/py expressions. */
  private def duckZOf(px: String, py: String): String =
    (0 until 8).map { b =>
      s"((((($px) >> $b) & 1) << ${2 * b + 1}) | (((($py) >> $b) & 1) << ${2 * b}))"
    }.mkString(" | ")

  private val duckPx = "CAST(LEAST(FLOOR(l_partkey * 256 / (mp + 1)), 255) AS INTEGER)"
  private val duckPy = "CAST(LEAST(FLOOR(l_suppkey * 256 / (ms + 1)), 255) AS INTEGER)"
  /** Full z expression for the oracle (expects mx(mp, ms) in scope). */
  def duckZ: String = duckZOf(duckPx, duckPy)

  /** Projected lineitem with the z column attached. */
  def coded(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val li = T.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val mx = li.agg(max(col("l_partkey")).as("mp"), max(col("l_suppkey")).as("ms"))
    li.crossJoin(broadcast(mx))
      .withColumn("z", zvalue(code(col("l_partkey"), col("mp")),
        code(col("l_suppkey"), col("ms"))))
      .drop("mp", "ms")
  }

  /** Cluster by z and write ~targetFiles size-capped files. At 100 TB the
    * same two-step (range-shuffle on z, sorted write) runs one pass over
    * the table — this is maintenance-job layout work, not a query. */
  def write(s: org.apache.spark.sql.SparkSession, d: String, dir: String,
      targetFiles: Int = 32): Unit = {
    val df = coded(s, d)
    val n = df.count()
    df.repartitionByRange(4, col("z")).sortWithinPartitions(col("z"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", math.max(1L, n / targetFiles))
      .parquet(dir)
  }
}
