package thrivespark

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated parquet tables (see /root/repo/TESTDATA.md
  * and FIXTURES.md). Schemas are fixed and embedded in the parquet footers;
  * we deliberately do NOT re-declare StructTypes here (the files are the
  * contract), but ScalaTest pins the expected schemas.
  *
  * Scale note: `spark.read.parquet` on a directory of files partitions by
  * file/rowgroup (`spark.sql.files.maxPartitionBytes`), so the same code path
  * scales from one local file to a 100 TB multi-file dataset unchanged.
  */
object Tables {
  // Reader per (session, file) through the Shared registry: a DataFrame is
  // an immutable plan, so reusing one is result-identical while skipping the
  // repeated footer read + relation resolution that 100+ queries would
  // otherwise each pay.
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    Shared(spark, ("table", s"$sfDir/$name.parquet")) {
      // ms-precision parquet timestamps must arrive as TIMESTAMP (session-TZ
      // UTC), not TIMESTAMP_NTZ — same values under UTC, but unix_micros() and
      // friends require the TZ-typed flavor.
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // events.ts is TIMESTAMP(NANOS) which Spark 4 refuses natively; read as
      // raw nanos LONG and convert below (values are µs-resolution, so the
      // integer division is lossless — FIXTURES.md).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$sfDir/$name.parquet")
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // Older fixture generations wrote ts as TIMESTAMP(NANOS), which the
    // nanosAsLong flag (see t()) surfaces as LONG nanos — convert with exact
    // integer division. Current generations write µs precision, which Spark
    // reads natively as TimestampType — pass through unchanged.
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")

  // NOTE (r19): declaring containsNull=false via spark.read.schema does NOT
  // work — file sources force the user schema nullable (asNullable), so the
  // element-density contract is declared per call site with known_dense
  // (functions.KnownDense) instead, where the vec kernels need the
  // branch-free loop.
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  // (r22, ADVICE) the r21 fanOut dead-end helper moved to the ProfR21
  // scratch profiler — its only caller. The production namespace must not
  // export a known-loss primitive (and df.rdd.getNumPartitions both forces
  // a separate physical planning pass and reads a pre-AQE partition count).
  // The measurement note lives with the helper in ProfR21 and in
  // OPTIMIZATION_r21.md "Measured dead ends".

  // Parsed-props projection, persisted per (session, sf): the JSON parse of
  // events.props is the single most expensive scalar op over the events
  // table, and several queries need the same `$.k` field — parse once,
  // share the columnar cache (the same move as Dedup's shingle table; on a
  // cluster this would be the one checkpointed intermediate of the events
  // stage). Column `k` is the parsed INT; all other event columns pass
  // through unchanged.
  def eventsParsed(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Shared(s, ("eventsParsed", d)) {
      events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }
}
