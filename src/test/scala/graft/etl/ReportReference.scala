package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** The report derivation `Pipeline.run` ran before its report was
  * observed on the audit appends, kept as the reference the observed
  * report must equal: A8's `runCounters` and A9's per-object
  * `flatten(collect_list)` union, both over landed audit rows whose
  * `missing_columns` are JSON text (as the Parquet and Postgres sinks
  * store them).
  */
object ReportReference {

  type Counters = (String, Long, Long, Long, Long)

  private val missingColumns = from_json(col("missing_columns"), ArrayType(StringType))

  /** `result.counters` as sorted (collection, processed, errors,
    * insert failures, successful) tuples.
    */
  def observed(result: Pipeline.PipelineResult): Seq[Counters] =
    result.counters.sortBy(_.collection).map(c =>
      (c.collection, c.processed, c.errors, c.insertFailures, c.successful))

  /** A8 over the audit rows of the run's input `collections` (the
    * MISSING rows of absent tables are not a collection's documents).
    */
  def counters(audit: DataFrame, collections: Seq[String]): Seq[Counters] = {
    val status = col("processing_status")
    graft.analytics.AuditAnalytics.runCounters(
      audit.filter(col("source_collection").isin(collections: _*)),
      col("source_collection"),
      errorCond = status === EtlDefaults.audit.statusValues("error"),
      insertFailureCond = status === EtlDefaults.audit.statusValues("missing"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
  }

  /** A9: object → sorted union of its documents' missing columns. */
  def missingAttributes(audit: DataFrame): Map[String, Seq[String]] =
    audit.filter(size(missingColumns) > 0)
      .groupBy(col("object_name"))
      .agg(array_sort(array_distinct(flatten(collect_list(missingColumns)))))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap

  /** A landed `missing_attributes_report` as object → columns. */
  def report(landed: DataFrame): Map[String, Seq[String]] =
    landed.select(col("object_name"), missingColumns)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
}
