package thrivespark.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import thrivespark.etl.ColumnMapping
import thrivespark.etl.ColumnMapping.ColumnSpec

/** The reference's ingestion pipeline [K], end to end, Spark-native:
  * JSON-lines land in a folder → declared (never inferred) schema →
  * config-driven typed mapping → dirty rows quarantined with audit
  * columns → clean rows appended to a date-partitioned parquet sink.
  *
  * Incremental semantics come from the Structured Streaming checkpoint
  * (replacing Thrive's MySQL bookmark store): each source file is processed
  * exactly once across restarts; re-running after new files land processes
  * only the new files. foreachBatch keeps the two-way split (sink +
  * quarantine) atomic per micro-batch.
  *
  * At scale this runs continuously (or Trigger.AvailableNow for scheduled
  * batches); the sink partitions by event date, so downstream reads prune.
  */
object IngestPipeline {

  /** Start the pipeline; caller awaits/produces via the returned handle. */
  def start(spark: SparkSession, srcDir: String, rawSchema: StructType,
      specs: Seq[ColumnSpec], dateCol: String, sinkDir: String,
      quarantineDir: String, checkpoint: String): StreamingQuery =
      StreamRunner.withStreamConf(spark, checkpoint) {
    val raw = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .json(srcDir)
    raw.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val (ok, bad) = ColumnMapping.split(batch, specs)
        ok.withColumn("dt", to_date(col(dateCol)))
          .repartition(col("dt"))
          .write.mode("append").partitionBy("dt").parquet(sinkDir)
        bad.withColumn("_batch_id", lit(batchId))
          .withColumn("_rejected_at", current_timestamp())
          .write.mode("append").parquet(quarantineDir)
        ()
      }
      .start()
  }
}
