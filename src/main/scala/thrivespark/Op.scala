package thrivespark

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

/** One engine operator: driver-facing key, the Spark program, and (where the
  * semantics are ANSI-SQL-expressible) the DuckDB oracle SQL run by the
  * driver on the same parquet tables (SURVEY.md §2 column legend). */
final case class Op(
    key: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Registry {
  /** Insertion-ordered so Bench timings stay comparable run-to-run
    * (SURVEY.md §6). */
  lazy val all: Seq[Op] =
    ops.Scans.ops ++ ops.Filters.ops ++ ops.Joins.ops ++ ops.Aggs.ops ++
    ops.Windows.ops ++ ops.SortsSets.ops ++ ops.Scalars.ops ++
    ops.Text.ops ++ ops.Dedup.ops ++ ops.Similarity.ops ++
    ops.StreamingOps.ops ++ ops.UdfSurface.ops ++ ops.Extras.ops ++
    ops.Analytics.ops ++ ops.Pipeline.ops

  /** Each op behind the engine install (`functions.Register`), so every
    * caller of a key (the driver, Verify, Bench, perfbench) gets the same
    * functions, rule and strategy with no call of its own. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    ListMap(all.map(o => o.key -> { (s: SparkSession, d: String) =>
      functions.Register(s); o.fn(s, d) }): _*)

  lazy val oracles: Map[String, String] =
    ListMap(all.flatMap(o => o.oracle.map(sql => o.key -> sql)): _*)
}
