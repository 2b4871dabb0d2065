package thrivespark.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.internal.SQLConf
import thrivespark.plans.{AsOfJoinStrategy, SimilarityJoinRewrite}

/** The one per-session engine install: the custom Catalyst expressions as
  * SQL functions (usable via functions.call_function / SQL), the
  * similarity-join rewrite and the as-of join strategy. `Registry` applies
  * it before every op, so a key never depends on which key ran earlier in
  * the session. Idempotent: a function name the session already resolves
  * (an earlier call, or `GraftExtensions`) and a rule or strategy already
  * in `spark.experimental` are left as they are.
  *
  * It also turns session artifact isolation off unless the caller set it.
  * Spark 4.1 isolates by default: each session gets its own executor
  * classloader, keyed by the session's UUID, and every streaming query runs
  * on a clone of its session with a new UUID. `CodeGenerator` caches a
  * compiled class per (classloader, code), so every stream start compiled
  * again, on its executor threads, each class an earlier start had built.
  * The engine adds no session artifacts, so isolation bought it nothing.
  * A session reads the setting at its first query, and a streaming clone
  * at its start, so the runners call this before their first query. */
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

  /** spark.sql.artifact.isolation.enabled */
  private val ArtifactIsolation = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key

  def apply(s: SparkSession): Unit = synchronized {
    if (!s.sessionState.conf.contains(ArtifactIsolation)) s.conf.set(ArtifactIsolation, "false")
    val reg = s.sessionState.functionRegistry
    Functions.foreach { case (name, _, build) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
    val x = s.experimental
    if (!x.extraOptimizations.contains(SimilarityJoinRewrite))
      x.extraOptimizations :+= SimilarityJoinRewrite
    if (!x.extraStrategies.contains(AsOfJoinStrategy))
      x.extraStrategies :+= AsOfJoinStrategy
  }
}
