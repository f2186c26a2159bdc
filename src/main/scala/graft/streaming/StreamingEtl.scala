package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.etl.{AuditSettings, CollectionMapping, Pipeline, RuntimeConfig, TableSink}

/** Structured Streaming extension of the batch ETL (SURVEY §2.9 marks
  * streaming out of reference parity; this is the §7.8 design): each
  * micro-batch of staged JSONL is one [[Pipeline.landCollection]], the
  * collection step `Pipeline.run` lands with.
  */
object StreamingEtl {

  /** Stream a staging directory of JSONL documents into `sink`, epoch
    * `e` as batch `<query id>/e`. `Trigger.AvailableNow` drains what
    * exists and stops (batch-like test/backfill mode); pass
    * `Trigger.ProcessingTime(...)` for continuous ingestion. The query
    * id is kept in the checkpoint, so a replayed epoch keeps its batch
    * id: an epoch replayed after a crash lands no row twice on either
    * sink ([[graft.etl.PgWireSink]]'s ledger, [[graft.etl.ParquetSink]]'s
    * per-batch file names).
    */
  def run(
      spark: SparkSession,
      stagingDir: String,
      checkpointDir: String,
      collectionName: String,
      cm: CollectionMapping,
      runtime: RuntimeConfig,
      audit: AuditSettings,
      sink: TableSink,
      objectStatus: String = "ALREADY_EXISTS",
      clock: Column = current_timestamp(),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .text(stagingDir)
      .withColumnRenamed("value", "raw")
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val queryId = batch.sparkSession.sparkContext.getLocalProperty(
          StreamExecution.QUERY_ID_KEY)
        val _ = Pipeline.landCollection(batch, collectionName, cm, runtime, audit, sink,
          clock, objectStatus, landed = true, extra = None, batchId = Some(s"$queryId/$epoch"))
      }
      .start()

  /** Watermarked tumbling-window counts over an event stream — the
    * streaming analog of the audit dashboard's per-date counts (A1/A3):
    * late data beyond the watermark is dropped, state is bounded.
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("window.start").as("window_start"),
        col(keyCol), col("cnt"))

  /** Streaming exact dedup with bounded state: drop re-deliveries of the
    * same document id within the watermark horizon (the streaming
    * counterpart of `Dedup.exactDuplicates`).
    */
  def dedupStream(
      docs: DataFrame,
      idCol: String,
      tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)
}
