package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import thrivespark.etl.ColumnMapping
import thrivespark.Scratch
import thrivespark.streaming.IngestPipeline

/** End-to-end incremental ingestion: JSON lines → typed mapping →
  * quarantine + partitioned sink, exactly-once across restarts. */
class IngestPipelineSpec extends AnyFunSuite {
  import SparkTestBase._

  private val rawSchema = StructType(Seq(
    StructField("id", StringType), StructField("amount", StringType),
    StructField("event_time", StringType)))

  private val specs = ColumnMapping.parse(
    """id:id:bigint:required
      |amount:amount:decimal(18,2):required
      |event_time:event_time:timestamp:required""".stripMargin)

  test("ingests incrementally, quarantines dirty rows, is exactly-once across restarts") {
    val base = Scratch.dir("pipeline")
    val src = s"$base/src"; Files.createDirectories(Paths.get(src))
    val sink = s"$base/sink"; val quarantine = s"$base/bad"; val cp = s"$base/cp"

    def writeFile(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(src, name),
        lines.mkString("\n").getBytes("UTF-8"))

    // batch 1: two clean rows + one dirty (unparseable amount)
    writeFile("f1.json", Seq(
      """{"id":"1","amount":"10.50","event_time":"2024-01-01 10:00:00"}""",
      """{"id":"2","amount":"7.25","event_time":"2024-01-02 11:00:00"}""",
      """{"id":"3","amount":"oops","event_time":"2024-01-02 12:00:00"}"""))
    val q1 = IngestPipeline.start(spark, src, rawSchema, specs,
      "event_time", sink, quarantine, cp)
    q1.processAllAvailable(); q1.stop()

    assert(spark.read.parquet(sink).count() == 2)
    assert(spark.read.parquet(quarantine).count() == 1)
    // partitioned layout: one dt directory per event date
    assert(Files.list(Paths.get(sink)).toArray.map(_.toString)
      .count(_.contains("dt=")) == 2)

    // restart with the same checkpoint + one new file → ONLY the new file
    writeFile("f2.json", Seq(
      """{"id":"4","amount":"1.00","event_time":"2024-01-03 09:00:00"}"""))
    val q2 = IngestPipeline.start(spark, src, rawSchema, specs,
      "event_time", sink, quarantine, cp)
    q2.processAllAvailable(); q2.stop()

    val ids = spark.read.parquet(sink).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L), s"exactly-once violated: $ids")
    assert(spark.read.parquet(quarantine).count() == 1)
  }
}
