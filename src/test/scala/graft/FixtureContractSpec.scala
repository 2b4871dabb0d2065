package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import thrivespark.Tables

/** The fixture-contract tripwire (r11, after this round's lesson): the
  * driver regenerates /root/testdata between rounds, and round 11 started
  * with 20 tests failing on an `events.ts` dtype change (timestamp[ns] →
  * timestamp[us]) that surfaced as unrelated analysis exceptions deep in
  * suites. Every assumption an ORACLE or a shared reader hard-codes about
  * the data is pinned here with a pointed message, so the next regeneration
  * fails in ONE place at the real cause. FIXTURES.md documents the measured
  * basis for each.
  *
  * Scope discipline: only contracts that CODE depends on — not measured
  * distributions that may legitimately drift with a reseed. */
class FixtureContractSpec extends AnyFunSuite {
  import SparkTestBase._

  test("events: ts arrives as µs TimestampType through Tables.events " +
      "(both parquet encodings), in the documented 2024-01 range") {
    for (d <- Seq(sf0001, sf001)) {
      val ev = Tables.events(spark, d)
      assert(ev.schema("ts").dataType == TimestampType,
        s"$d: Tables.events must normalize ts to TimestampType " +
        s"(got ${ev.schema("ts").dataType}) — if the parquet encoding " +
        "changed again, extend the dtype dispatch in Tables.events")
      val r = ev.agg(min(col("ts")).cast("date").cast("string"),
        max(col("ts")).cast("date").cast("string")).head()
      assert(r.getString(0).startsWith("2024-01") &&
        r.getString(1).startsWith("2024-01"),
        s"$d: events.ts outside 2024-01 [${r.getString(0)}, ${r.getString(1)}] " +
        "— a unit-misinterpretation (ns vs µs) shows up here as year 1970/56k")
    }
  }

  test("events: event_id unique; props is single-key {\"k\": int} JSON") {
    val ev = Tables.events(spark, sf001)
    val n = ev.count()
    assert(ev.select(col("event_id")).distinct().count() == n,
      "event_id no longer unique — stream_dedup_state's projection oracle " +
      "and the bookmark recount invariants depend on uniqueness")
    val badProps = ev.filter(
      get_json_object(col("props"), "$.k").cast("int").isNull).count()
    assert(badProps == 0,
      s"$badProps events rows whose props lack an int 'k' — " +
      "Tables.eventsParsed and the json oracles hard-code $.k")
  }

  test("embeddings: dim 64 on every row, L2-normalized (cosine ≡ dot)") {
    val emb = Tables.embeddings(spark, sf001)
    val badDim = emb.filter(size(col("embedding")) =!= 64).count()
    assert(badDim == 0,
      s"$badDim embeddings with dim != 64 — the DuckDB oracles unroll the " +
      "dot product over generate_series(1, 64) (Similarity.duckDot)")
    val offNorm = emb.select(aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")).as("n2"))
      .filter(abs(col("n2") - 1.0d) > 1e-5).count()
    assert(offNorm == 0,
      s"$offNorm embeddings not L2-normalized — every cosine query and " +
      "oracle computes a plain dot product on the normalization guarantee")
  }

  test("documents: non-negative doc_id; single-space tokenizable text; " +
      "n_chars parity") {
    val docs = Tables.documents(spark, sf001)
    assert(docs.filter(col("doc_id") < 0).count() == 0,
      "negative doc_id — the PPM oracle's modular pixel arithmetic " +
      "(8+(id%9) etc.) diverges between Scala and SQL for negative ids")
    val badText = docs.filter(
      col("text").isNull || col("text").rlike("  ") ||
      col("text") =!= trim(col("text"))).count()
    assert(badText == 0,
      s"$badText docs with null/multi-space/untrimmed text — every text " +
      "oracle tokenizes by string_split on ONE space")
    val badChars = docs.filter(length(col("text")) =!= col("n_chars")).count()
    assert(badChars == 0,
      s"$badChars docs where n_chars != length(text) — text_stats asserts parity")
    // r14: source_text_roundtrip writes one document per text LINE — an
    // embedded newline (or CR) would split a document into two lines and
    // silently shift every line-multiset statistic
    val badLines = docs.filter(col("text").rlike("[\\r\\n]")).count()
    assert(badLines == 0,
      s"$badLines docs with embedded newlines — the raw-text round trip " +
      "requires single-line documents")
  }

  test("keys joined or grouped by oracles carry no NULLs") {
    // FIXTURES: no NULLs anywhere; null-handling ops PLANT their nulls.
    // A regeneration that introduces real nulls silently changes every
    // join/agg oracle's row set — fail here instead.
    val checks: Seq[(String, org.apache.spark.sql.DataFrame, Seq[String])] = Seq(
      ("lineitem", Tables.lineitem(spark, sf001),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_shipdate", "l_quantity")),
      ("orders", Tables.orders(spark, sf001),
        Seq("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")),
      ("customer", Tables.customer(spark, sf001),
        Seq("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")),
      ("events", Tables.events(spark, sf001),
        Seq("event_id", "ts", "user_id", "event_type", "value")),
      ("documents", Tables.documents(spark, sf001),
        Seq("doc_id", "text", "lang", "source")),
      ("embeddings", Tables.embeddings(spark, sf001),
        Seq("vec_id", "embedding", "label")))
    for ((name, df, cols) <- checks; c <- cols) {
      assert(df.filter(col(c).isNull).count() == 0,
        s"$name.$c has NULLs — oracles assume none (FIXTURES.md)")
    }
  }

  test("date-typed columns arrive as TIMESTAMP (session-TZ), not NTZ") {
    // unix_micros()/date arithmetic in several queries require the
    // TZ-typed flavor; Tables.t() forces inferTimestampNTZ off.
    for ((name, df, c) <- Seq(
        ("orders", Tables.orders(spark, sf001), "o_orderdate"),
        ("lineitem", Tables.lineitem(spark, sf001), "l_shipdate"))) {
      assert(df.schema(c).dataType == TimestampType,
        s"$name.$c is ${df.schema(c).dataType}, expected TimestampType — " +
        "check spark.sql.parquet.inferTimestampNTZ in Tables.t()")
    }
  }

  test("embedding LSH buckets: fixture max bucket is far below LshBucketCap " +
      "(the DuckDB oracle models UNCAPPED banding)") {
    // dedup_embedding_lsh's oracle enumerates candidates from the raw
    // (label, band, bkey) buckets; the Spark side splits buckets above
    // LshBucketCap. The two agree only while no fixture bucket reaches the
    // cap — pin 4x headroom so corpus regeneration fails here, at the
    // cause, not as a mysterious hash mismatch in the driver differential.
    import thrivespark.ops.Dedup
    for (d <- Seq(sf0001, sf001)) {
      val maxBucket = Dedup.lshBandedCapped(Tables.embeddings(spark, d), Int.MaxValue)
        .groupBy(col("label"), col("band"), col("bkey"))
        .agg(count(lit(1)).as("sz")).agg(max(col("sz"))).head().getLong(0)
      assert(maxBucket * 4 <= Dedup.LshBucketCap,
        s"$d: max LSH bucket $maxBucket is within 4x of cap " +
        s"${Dedup.LshBucketCap} — the uncapped oracle is no longer safe")
    }
  }
}
