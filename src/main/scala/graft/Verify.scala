package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [key ...]")
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing keys: re-dump just those queries (iteration speed);
    // oracle_sql.json is always rewritten in full. A mistyped key would
    // otherwise dump nothing and still exit 0.
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown keys: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = Bench.session()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    Bench.warmUp(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name)) {
        // QueryGuard: one hung query must not stall the driver's whole
        // correctness gate — cap it, cancel its jobs, record the failure
        QueryGuard.timed(spark, name, 300L) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } match {
          case Left(reason) =>
            // a kill mid-write can leave committed part-files behind; the
            // driver's DuckDB compare would read that partial dump as the
            // query's result — a failed query must leave NO artifact
            org.apache.commons.io.FileUtils.deleteQuietly(
              new java.io.File(s"$outDir/$name")): Unit
            System.err.println(s"[verify] $name failed: $reason")
          case Right(_) => ()
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
