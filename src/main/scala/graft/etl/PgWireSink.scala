package graft.etl

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}

import graft.sources.{PgDataWriter, PgLeg, PgWireClient, PgWireSource}

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
  * cores. Each DDL call and probe (K2/K3: `tableExists`,
  * `createSchema`, `createTable`, [[execute]]) opens its own short
  * driver-side connection.
  *
  * The appends are the DSv2 writer (`df.write.format(PgWireSource)`,
  * see `PgWireWrite.scala`) — the one executor-side COPY path, with its
  * typed COPY text rendering (arrays as JSON text into JSONB targets).
  * Each partition's COPY runs in its own transaction, so a task that
  * dies mid-stream disconnects and Postgres rolls the partial COPY back
  * — the retry starts clean. [[append]] is that plain transactional
  * COPY, the `write.jdbc` contract (a task dying AFTER its COPY commits
  * but before reporting success is re-run); [[appendExactlyOnce]] names
  * a batch, which turns on the ledger-arbitrated commit that closes
  * that window. [[appendCollection]] lands a collection's target and
  * audit rows as one write of two legs: one job, and one transaction
  * per partition holding both tables' rows, so a failed partition lands
  * neither.
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

  private def tableExistsOn(c: PgWireClient, tableName: String): Boolean = {
    val (schema, table) = SchemaScript.splitTableName(tableName)
    c.query(
      s"""SELECT 1 FROM information_schema.tables
          WHERE table_schema = ${SchemaManager.quoteLiteral(schema)}
            AND table_name = ${SchemaManager.quoteLiteral(table)}""")
      .rows.nonEmpty
  }

  override def createSchema(schemaName: String): Unit =
    withClient { c =>
      val _ = c.query(SchemaManager.createSchemaSql(schemaName))
    }

  override def createTable(tableName: String, columns: Seq[ColumnDef]): Unit =
    withClient { c =>
      val _ = c.query(SchemaManager.createTableSql(tableName, columns))
    }

  /** Convenience for gates/tests: run one simple statement driver-side. */
  def execute(sql: String): Unit = withClient { c => val _ = c.query(sql) }

  private def writer(df: DataFrame, tableName: String): DataFrameWriter[Row] =
    df.write.format(classOf[PgWireSource].getName)
      .option("host", conn.host).option("port", conn.port.toLong)
      .option("user", conn.user).option("database", conn.database)
      .option("password", conn.password)
      .option("table", tableName).mode("append")

  override def append(df: DataFrame, tableName: String): Unit =
    writer(df, tableName).save()

  /** One pass: the target leg streams while each partition holds its
    * audit COPY text, then both COPY in one transaction; nothing is
    * persisted. With a `batchId` the partition claims a ledger slot per
    * table in that transaction.
    */
  override def appendCollection(rows: DataFrame, targetTable: Option[String],
      auditTable: String, batchId: Option[String]): Unit = {
    val legs = targetTable.map(t => PgLeg(t,
      Landing.targetColumns(rows).map(c => c -> c), Some(Landing.HasTarget))).toSeq :+
      PgLeg(auditTable, Landing.auditColumns(rows))
    val w = writer(rows, legs.head.table).option("legs", PgLeg.encode(legs))
    batchId.fold(w)(w.option("batchId", _)).save()
  }

  /** Drop ledger entries older than `olderThanDays` — the retention
    * companion to [[appendExactlyOnce]] (the ledger otherwise grows by
    * one row per partition per batch forever). Only vacuum past the
    * re-delivery horizon: a vacuumed batch id that is later re-run
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

  /** Exactly-once append: closes [[append]]'s residual at-least-once
    * window (a task re-run AFTER its COPY committed — stage retry on
    * fetch failure, speculation, a lost success report) by making
    * Postgres itself the commit arbiter. Each partition runs
    *
    * {{{ BEGIN; INSERT INTO <ledger>(batch_id, table_name, partition_id);
    *     COPY …; UPDATE <ledger> SET n_rows = <n>; COMMIT }}}
    *
    * with those three columns the ledger's primary key, so:
    *   - a duplicate attempt hits unique_violation (23505) on the
    *     INSERT — before streaming any data — and returns as a no-op;
    *   - a CONCURRENT duplicate (speculation) blocks on the first
    *     attempt's uncommitted ledger row and resolves to 23505 or a
    *     clean run depending on whether the first commits or aborts;
    *   - a task that dies mid-COPY aborts its transaction, deleting
    *     its ledger row with it — the retry starts clean.
    *
    * The arbiter is the target database, so this also holds across JOB
    * re-runs: pass a caller-stable `batchId` (a Structured Streaming
    * `foreachBatch` epoch id, an orchestrator run key) and a
    * re-delivered batch dedupes per partition — PROVIDED the frame's
    * partition contents are deterministic (same plan over same input;
    * repartition by a key column, not round-robin, if in doubt).
    * Claims are per table, so one `batchId` may land several tables.
    */
  def appendExactlyOnce(df: DataFrame, tableName: String,
      batchId: String): Unit =
    writer(df, tableName).option("batchId", batchId).save()
}
