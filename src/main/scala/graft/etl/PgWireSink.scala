package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.sources.{PgDataWriter, PgLeg, PgWireClient, PgWireSource, PgWrite}

/** Serializable connection descriptor for the wire-protocol plane —
  * shipped to executors, each of which opens its own connection (the
  * same connection-per-partition shape Spark's JDBC writer uses).
  */
final case class PgConn(host: String, port: Int, user: String,
    database: String, password: String = "") extends Serializable {
  def open(): PgWireClient =
    PgWireClient.connect(host, port, user, database, password,
      // deterministic text rendering regardless of server defaults
      params = Map("TimeZone" -> "UTC", "DateStyle" -> "ISO"))
}

/** K1 over the wire protocol: a [[TableSink]] whose append streams COPY
  * text rows partition-parallel into a live PostgreSQL — the loader the
  * reference implements as one INSERT per document on one connection
  * (`etl_pipeline/postgres_loader.py:63-77`), re-expressed as Spark's
  * execution model wants it: every partition COPYs its rows over its
  * own connection concurrently, batched into 64 KiB wire chunks.
  *
  * COPY-vs-INSERT is the 100 TB decision, not a convenience: COPY
  * bypasses per-statement parse/plan and is the documented PostgreSQL
  * bulk path, and partition-parallelism multiplies it by the cluster's
  * cores. The catalog step of a run, [[prepare]], is one driver
  * connection and at most two round trips: one `information_schema`
  * probe, then only the DDL still needed. Each single DDL call and probe
  * (K2/K3: `tableExists`, `createSchema`, `createTable`, [[execute]])
  * opens its own short driver-side connection.
  *
  * The appends are the DSv2 writer (`df.write.format(PgWireSource)`,
  * see `PgWireWrite.scala`) — the one executor-side COPY path, with its
  * typed COPY text rendering (arrays as JSON text into JSONB targets).
  * Each partition's COPY runs in its own transaction, so a task that
  * dies mid-stream disconnects and Postgres rolls the partial COPY back
  * — the retry starts clean. [[append]] is that plain transactional
  * COPY, the `write.jdbc` contract (a task dying AFTER its COPY commits
  * but before reporting success is re-run). [[appendCollection]] lands
  * a collection's target and audit rows as one write of two legs: one
  * job, and one transaction per partition holding both tables' rows, so
  * a failed partition lands neither. It is the one write that names a
  * batch: a `batchId` turns on the ledger-arbitrated commit that closes
  * the window above, also across job re-runs (a run key, a streaming
  * epoch). One table alone lands exactly once as
  * `appendCollection(Landing.auditOnly(df), None, table, Some(batch))`.
  * A frame whose optimized plan is a `LocalRelation` (the
  * report tables: a few rows built on the driver) runs no job: the
  * driver writes its rows with the same writer, as one partition over
  * one connection in one transaction.
  *
  * This sink only writes. Landed tables read back through the DSv2
  * scan, `spark.read.format("graft.sources.PgWireSource")`
  * (range-sliced COPY out, pushdown, the host guard).
  */
final class PgWireSink(conn: PgConn) extends TableSink {

  HostGuard.requireLocal(conn.host) // F5

  private def withClient[A](f: PgWireClient => A): A = {
    val c = conn.open()
    try f(c) finally c.close()
  }

  override def tableExists(tableName: String): Boolean =
    withClient(tableExistsOn(_, tableName))

  private def tableExistsOn(c: PgWireClient, tableName: String): Boolean =
    existingOn(c, Seq(tableName)).nonEmpty

  /** The (schema, table) pairs of `tables` that exist, in one query. */
  private def existingOn(c: PgWireClient, tables: Seq[String]): Set[(String, String)] =
    if (tables.isEmpty) Set.empty
    else c.query(
      s"""SELECT table_schema, table_name FROM information_schema.tables
          WHERE (table_schema, table_name) IN (${tables.map { t =>
            val (schema, table) = SchemaScript.splitTableName(t)
            s"(${SchemaManager.quoteLiteral(schema)}, ${SchemaManager.quoteLiteral(table)})"
          }.distinct.mkString(", ")})""")
      .rows.map(r => (r(0), r(1))).toSet

  override def createSchema(schemaName: String): Unit =
    withClient { c =>
      val _ = c.query(SchemaManager.createSchemaSql(schemaName))
    }

  override def createTable(tableName: String, columns: Seq[ColumnDef]): Unit =
    withClient { c =>
      val _ = c.query(SchemaManager.createTableSql(tableName, columns))
    }

  /** One connection: one probe of every named table, then one batch of
    * the `CREATE SCHEMA`/`CREATE TABLE` statements still needed (none:
    * no second round trip).
    */
  override def prepare(probe: Seq[String],
      create: Seq[(String, Seq[ColumnDef])]): Set[String] =
    withClient { c =>
      val existing = existingOn(c, probe ++ create.map(_._1))
      val ddl = create.filterNot(t => existing(SchemaScript.splitTableName(t._1)))
        .flatMap { case (table, columns) =>
          Seq(SchemaManager.createSchemaSql(SchemaScript.splitTableName(table)._1),
            SchemaManager.createTableSql(table, columns))
        }.distinct
      if (ddl.nonEmpty) { val _ = c.query(ddl.mkString(";\n")) }
      probe.filter(t => existing(SchemaScript.splitTableName(t))).toSet
    }

  /** Convenience for gates/tests: run one simple statement driver-side. */
  def execute(sql: String): Unit = withClient { c => val _ = c.query(sql) }

  /** Lands `df` in `legs`: from the driver when its optimized plan is a
    * local relation, else as one DSv2 write job.
    */
  private def write(df: DataFrame, legs: Seq[PgLeg], batchId: Option[String]): Unit =
    localRows(df) match {
      case Some(l) => PgWrite(conn, l.schema, legs, batchId).writeLocal(l.data.iterator)
      case None =>
        val w = df.write.format(classOf[PgWireSource].getName)
          .option("host", conn.host).option("port", conn.port.toLong)
          .option("user", conn.user).option("database", conn.database)
          .option("password", conn.password)
          .option("table", legs.head.table).option("legs", PgLeg.encode(legs))
          .mode("append")
        batchId.fold(w)(w.option("batchId", _)).save()
    }

  /** `df`'s optimized plan when it is a local relation. Only a plan
    * whose every leaf is local is optimized here, so a frame that reads
    * a source pays no extra planning.
    */
  private def localRows(df: DataFrame): Option[LocalRelation] =
    if (!df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else df.queryExecution.optimizedPlan match {
      case l: LocalRelation if !l.isStreaming => Some(l)
      case _ => None
    }

  override def append(df: DataFrame, tableName: String): Unit =
    write(df, Seq(PgLeg(tableName, df.columns.toSeq.map(c => c -> c))), None)

  /** One pass: the target leg streams while each partition holds its
    * audit COPY text, then both COPY in one transaction; nothing is
    * persisted. With a `batchId` the partition claims a ledger slot per
    * table in that transaction (the protocol in `PgWireWrite.scala`), so
    * an attempt of an already-committed partition, in this job or a
    * re-run under the same `batchId`, no-ops. That holds provided the
    * frame's partition contents are deterministic (same plan over same
    * input; repartition by a key column, not round-robin, if in doubt).
    */
  override def appendCollection(rows: DataFrame, targetTable: Option[String],
      auditTable: String, batchId: Option[String]): Unit =
    write(rows, targetTable.map(t => PgLeg(t,
      Landing.targetColumns(rows).map(c => c -> c), Some(Landing.HasTarget))).toSeq :+
      PgLeg(auditTable, Landing.auditColumns(rows)), batchId)

  /** Drop ledger entries older than `olderThanDays` — the retention
    * companion to a batched [[appendCollection]] (the ledger otherwise
    * grows by one row per partition per table per batch forever). Only
    * vacuum past the re-delivery horizon: a vacuumed batch id that is later re-run
    * re-opens its dedup window and appends again. Returns the number of
    * rows dropped.
    */
  def vacuumLedger(olderThanDays: Int): Long =
    withClient { c =>
      if (!tableExistsOn(c, PgDataWriter.Ledger)) 0L
      else {
        val r = c.query(
          s"""DELETE FROM ${PgDataWriter.Ledger}
              WHERE committed_at < now() - interval '$olderThanDays days'""")
        // CommandComplete tag is "DELETE <n>"
        r.tags.lastOption.map(_.split(" ").last.toLong).getOrElse(0L)
      }
    }
}
