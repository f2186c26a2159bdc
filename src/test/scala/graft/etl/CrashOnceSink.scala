package graft.etl

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame

/** Forwards every call to `inner`, and throws once, right after the
  * first inner `appendCollection` for which `crashAfter(targetTable,
  * batchId)` holds has returned: the window between the sink's commit
  * and the caller's own bookkeeping.
  */
final class CrashOnceSink(inner: TableSink,
    crashAfter: (Option[String], Option[String]) => Boolean) extends TableSink {
  private val crashed = new AtomicBoolean
  override def tableExists(tableName: String): Boolean = inner.tableExists(tableName)
  override def createSchema(schemaName: String): Unit = inner.createSchema(schemaName)
  override def createTable(tableName: String, columns: Seq[ColumnDef]): Unit =
    inner.createTable(tableName, columns)
  override def append(df: DataFrame, tableName: String): Unit = inner.append(df, tableName)
  override def prepare(probe: Seq[String],
      create: Seq[(String, Seq[ColumnDef])]): Set[String] = inner.prepare(probe, create)
  override def appendCollection(rows: DataFrame, targetTable: Option[String],
      auditTable: String, batchId: Option[String]): Unit = {
    inner.appendCollection(rows, targetTable, auditTable, batchId)
    if (crashAfter(targetTable, batchId) && crashed.compareAndSet(false, true))
      throw new RuntimeException("injected post-commit crash")
  }
}
