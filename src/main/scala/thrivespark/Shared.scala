package thrivespark

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The session registry of shared intermediates — the in-session stand-in
  * for the checkpointed tables between the stages of a cluster ETL. Every
  * derivation that several queries of one session consume (table readers,
  * the parsed-events projection, the shingle and near-dup pair tables, the
  * paragraph edge set and its ranks, the corpus-pipeline survivors, the
  * BPE and k-means training results, the trimodal manifest, the text
  * family's persisted frames) is built once through `Shared(s, key)` and
  * served from here afterwards.
  *
  * KEYS are (session, key). The key is either (name, sf dir, params) for
  * derivations of a fixture directory, or (name, canonicalized analyzed
  * plan) for derivations of a caller frame: every call mints fresh ExprIds
  * for its aliases, so a raw plan never equals the next call's plan, and
  * canonicalization normalizes them away. The session is always part of
  * the key, so two live sessions never receive each other's values.
  *
  * STORAGE is the build's choice; the registry adds none:
  *   - `persist(MEMORY_AND_DISK)` for frames read by several independent
  *     queries (the CacheManager substitutes the cached subtree into each
  *     consumer's plan);
  *   - an EAGER `localCheckpoint(true)` for frames read by several branches
  *     of ONE action or by iterative consumers — a lazy checkpoint only
  *     takes at the end of the first job that computes it, so every branch
  *     of that job re-derives the lineage, and an `InMemoryRelation`
  *     subtree inside each round of an iteration plans slower than the
  *     truncated RDD scan;
  *   - a LAZY `localCheckpoint(false)` for per-round iteration state whose
  *     next round's action materializes it anyway (the BPE loops);
  *   - a plain driver value for small results (merge lists, codebooks).
  *
  * RELEASE: entries of a stopped session are dropped on every access.
  * `release(s)(pred)` drops session `s`'s entries whose key matches and
  * frees their storage with `free`, which unpersists the frame's own
  * CacheManager entry and, for a checkpoint-backed frame, its checkpoint
  * RDD (`Dataset.unpersist` alone does not release a localCheckpoint). An
  * entry owns only its own frame's storage, never that of the inputs its
  * build read through other entries.
  *
  * INVALIDATION CONTRACT: a key does not fingerprint source files, so
  * rewriting a table at the same path mid-session would serve the stale
  * derivation — the contract Spark's own `df.cache()` carries for
  * path-stable rewrites. A long-lived session that mutates its inputs
  * calls `release` between data generations. Bench/Verify sessions read
  * one static corpus per session; the durable stages, which re-read
  * paths across sessions, carry their own source fingerprint
  * (DurableStage.srcFingerprint). */
object Shared {
  private val entries =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, Any), Any]

  /** The value registered under (s, key), built by `build` on first use.
    * (getOrElseUpdate may build twice under a race; the first insert wins.) */
  def apply[A](s: SparkSession, key: Any)(build: => A): A = {
    prune()
    entries.getOrElseUpdate((s, key), build).asInstanceOf[A]
  }

  /** The live keys of session `s`. */
  def keys(s: SparkSession): Set[Any] = {
    prune()
    entries.keySet.collect { case (ss, k) if ss eq s => k }.toSet
  }

  /** Drop session `s`'s entries whose key `pred` matches with true, freeing
    * the storage of every frame they hold. */
  def release(s: SparkSession)(pred: PartialFunction[Any, Boolean]): Unit = {
    prune()
    entries.keySet.foreach { case k @ (ss, key) =>
      if ((ss eq s) && pred.applyOrElse(key, (_: Any) => false))
        entries.remove(k).foreach(freeValue)
    }
  }

  /** Free the storage behind `df`: its CacheManager entry and, when its
    * plan is a checkpoint's `LogicalRDD`, that RDD. */
  def free(df: Dataset[_]): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false): Unit
      case _ =>
    }
  }

  private def freeValue(v: Any): Unit = v match {
    case df: Dataset[_] => free(df)
    case (a, b) => freeValue(a); freeValue(b)
    case _ =>
  }

  private def prune(): Unit =
    entries.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
}
