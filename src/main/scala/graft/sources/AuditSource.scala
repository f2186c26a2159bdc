package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** S6 — the audit-table scan feeding the analytics layer (reference
  * `repositories/postgres_audit_repository.py:24-37`): project the audit
  * columns plus `ingested_at::date`, newest first.
  *
  * The projection/sort is a combinator over ANY DataFrame so the same
  * logic runs against the production table read through [[PgWireSource]]
  * or a parquet test double; over the wire source, Catalyst pushes the
  * column pruning into the remote query.
  */
object AuditSource {

  /** `fetch_ingestion_audit`: selected columns + ingestion_date cast,
    * ordered newest-first.
    */
  def ingestionAudit(audit: DataFrame, tsCol: Column, columns: Seq[String]): DataFrame =
    audit.select((columns.map(col) :+ to_date(tsCol).as("ingestion_date")): _*)
      .orderBy(tsCol.desc)
}
