package graft

import org.scalatest.funsuite.AnyFunSuite
import thrivespark.etl.ColumnMapping

/** Config-driven mapping + dirty-row quarantine on planted bad rows (the
  * corpus itself is clean — FIXTURES.md). */
class EtlSpec extends AnyFunSuite {
  import SparkTestBase._

  private val cfg =
    """# columns config
      |raw_id:id:bigint:required
      |raw_amount:amount:decimal(18,2):required
      |raw_note:note:string""".stripMargin

  test("etl_schema_mapping constructs lazily: zero Spark jobs at plan time") {
    // first touch of a parquet path runs a footer/schema metadata job —
    // that's the reader, not the query; warm the cached reader first
    thrivespark.Tables.events(spark, sf0001)
    spark.sparkContext.setJobGroup("etl_sm_lazy", "query construction")
    val df = try thrivespark.Registry.queries("etl_schema_mapping")(spark, sf0001)
      finally spark.sparkContext.clearJobGroup()
    Thread.sleep(500) // let any accidental job surface in the status store
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("etl_sm_lazy")
    assert(jobs.isEmpty, s"query construction ran ${jobs.length} eager job(s)")
    assert(df.count() > 0) // and the frame still executes fine afterwards
  }

  test("Flatten expands arbitrarily nested structs; arrays stay intact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, 2.5, "x")).toDF("a", "b", "c")
      .select(col("a"), struct(col("b"),
        struct(col("c"), array(lit(1), lit(2)).as("arr")).as("inner")).as("outer"))
    val flat = thrivespark.etl.Flatten.flatten(df)
    assert(flat.columns.toSeq == Seq("a", "outer_b", "outer_inner_c", "outer_inner_arr"))
    val r = flat.head()
    assert(r.getLong(0) == 1L && r.getDouble(1) == 2.5 && r.getString(2) == "x"
      && r.getSeq[Int](3) == Seq(1, 2))
  }

  test("setup phase: ddl() renders the declared contract exactly") {
    val specs = ColumnMapping.parse(
      """event_id:id:bigint:required
        |value:amount:decimal(18,2):required
        |ts:event_date:date""".stripMargin)
    assert(ColumnMapping.ddl("events_typed", specs, partitionBy = Seq("event_date")) ==
      "CREATE TABLE events_typed (id BIGINT NOT NULL, amount DECIMAL(18,2) NOT NULL, " +
      "event_date DATE) USING parquet PARTITIONED BY (event_date)")
    // and the generated DDL is valid Spark SQL: create, describe, drop
    spark.sql("DROP TABLE IF EXISTS events_typed")
    spark.sql(ColumnMapping.ddl("events_typed", specs, partitionBy = Seq("event_date")))
    val cols = spark.table("events_typed").schema.fieldNames.toSet
    assert(cols == Set("id", "amount", "event_date"))
    spark.sql("DROP TABLE events_typed")
  }

  test("parse reads the columns-file grammar") {
    val specs = ColumnMapping.parse(cfg)
    assert(specs.map(_.dest) == Seq("id", "amount", "note"))
    assert(specs.map(_.required) == Seq(true, true, false))
    intercept[IllegalArgumentException](ColumnMapping.parse("only_two:fields"))
  }

  test("split quarantines failed casts and required nulls, passes the rest") {
    import spark.implicits._
    val raw = Seq(
      ("1", "10.50", "ok"),            // clean
      ("not_a_number", "3.00", "bad id"), // cast failure → reject
      ("3", null, "null amount"),      // required null → reject
      ("4", "oops", "bad amount"),     // cast failure → reject
      ("5", "2.25", null)              // optional null → accept
    ).toDF("raw_id", "raw_amount", "raw_note")
    val (ok, bad) = ColumnMapping.split(raw, ColumnMapping.parse(cfg))
    assert(ok.count() == 2)
    assert(bad.count() == 3)
    // quarantine keeps the ORIGINAL raw values + audit reason
    val reasons = bad.select("raw_id", "_reject_reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(reasons("not_a_number") == "id:required_null_or_cast")
    assert(reasons("3") == "amount:required_null_or_cast")
    assert(reasons("4") == "amount:required_null_or_cast")
    val okIds = ok.select("id").collect().map(_.getLong(0)).toSet
    assert(okIds == Set(1L, 5L))
    // typed output schema per config
    assert(ok.schema.map(f => f.name -> f.dataType.simpleString).toMap ==
      Map("id" -> "bigint", "amount" -> "decimal(18,2)", "note" -> "string"))
  }

  test("z-order layout localizes a second-dimension box that a linear sort " +
      "spreads over every file") {
    import org.apache.spark.sql.functions._
    import thrivespark.ops.ZOrder
    val sf = sf001 // enough rows for ~32 distinct files
    val zDir = thrivespark.Scratch.dir("zorder_spec_z")
    val linDir = thrivespark.Scratch.dir("zorder_spec_lin")
    ZOrder.write(spark, sf, zDir)
    // linear baseline: same data, same file count, sorted by l_partkey only
    val coded = ZOrder.coded(spark, sf)
    val n = coded.count()
    coded.repartitionByRange(4, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", math.max(1L, n / 32)).parquet(linDir)
    // a box on the SECOND dimension only: suppkey in a ~10% band. Under the
    // linear partkey sort those rows spread over ~every file; under z-order
    // they concentrate in the files whose suppkey bit-ranges intersect the
    // band (~half at 1 bucket-bit of selectivity, fewer as bands narrow).
    def filesTouched(dir: String): (Long, Long) = {
      val df = spark.read.parquet(dir)
      val total = df.select(input_file_name()).distinct().count()
      val ms = df.agg(max(col("l_suppkey"))).collect()(0).getLong(0)
      val touched = df.filter(col("l_suppkey") <= ms / 10)
        .select(input_file_name()).distinct().count()
      (touched, total)
    }
    val (zTouched, zTotal) = filesTouched(zDir)
    val (linTouched, linTotal) = filesTouched(linDir)
    assert(zTotal >= 16 && linTotal >= 16, s"want many files: z=$zTotal lin=$linTotal")
    // the linear layout scatters the band over (almost) all files
    assert(linTouched >= (linTotal * 0.9).toLong,
      s"baseline unexpectedly clustered: $linTouched/$linTotal")
    // the z-order layout must confine it to well under all files
    assert(zTouched <= (zTotal * 0.7).toLong,
      s"z-order did not localize: $zTouched/$zTotal vs linear $linTouched/$linTotal")
    // and the layout is content-preserving
    assert(spark.read.parquet(zDir).count() == n)
  }

  test("fkOrphanAudit: planted orphans counted at row and key grain, " +
      "NULL FKs excluded, intact FK reports zeros") {
    import spark.implicits._
    // fact keys {1, 2, 9, 9, null} vs dim {1, 2}: 2 orphan rows, 1 orphan
    // key; the null FK is a completeness issue, not a referential one.
    val fact = Seq(Some(1L), Some(2L), Some(9L), Some(9L), None).toDF("fk_col")
    val dim = Seq(1L, 2L).toDF("pk_col")
    val r = thrivespark.ops.Extras
      .fkOrphanAudit(fact, "fk_col", dim, "pk_col", "t.f").collect()(0)
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (("t.f", 5L, 2L, 1L)), s"got $r")
    // fully-covered fact: counters must be exactly zero (the audit's
    // steady-state assertion on the synthetic star)
    val ok = thrivespark.ops.Extras
      .fkOrphanAudit(Seq(1L, 2L, 2L).toDF("fk_col"), "fk_col",
        dim, "pk_col", "ok").collect()(0)
    assert((ok.getLong(1), ok.getLong(2), ok.getLong(3)) == ((3L, 0L, 0L)))
  }
}
