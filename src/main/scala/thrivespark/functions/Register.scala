package thrivespark.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Registers the engine's custom Catalyst expressions on a session so they
  * are usable via functions.call_function / SQL. Idempotent: ops call it
  * each time they build a query, so a name the session already resolves
  * (an earlier call, or `GraftExtensions`) is left as it is. */
object Register {
  /** Every custom SQL function as (name, usage, builder): this method and
    * `thrivespark.GraftExtensions` both install exactly this table. */
  val Functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", "dot product of two float vectors in double",
      es => VecDot(es.head, es(1))),
    ("known_dense",
      "identity re-typing an array as element-non-null (trusted density contract)",
      es => KnownDense(es.head)),
    ("vec_dot_long", "exact integer dot product of two bigint vectors",
      es => VecDotLong(es.head, es(1))),
    ("minhash_signature", "32-perm minhash signature of pre-hashed shingles",
      es => MinHashSignature(es.head, 32)),
    ("lsh_band_keys", "fused minhash + LSH banding band keys",
      es => LshBandKeys(es.head, 16, 2)),
    ("simhash64", "64-bit simhash of pre-hashed tokens",
      es => SimHash64(es.head)),
    ("shingle_hashes", "distinct word-3-gram shingle hashes of a token array",
      es => ShingleHashes(es.head, 3)),
    ("hll_distinct", "HLL++ distinct count (rsd 0.01), one-value sketch buffer",
      es => HllDistinct(es.head)))

  def apply(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    Functions.foreach { case (name, _, build) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
