package graft.sources

import java.util.UUID

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.etl.{PgConn, SchemaManager}

/** DSv2 write path over the Postgres wire protocol — the `SupportsWrite`
  * half of [[PgWireTable]] and the one executor-side COPY writer
  * ([[graft.etl.PgWireSink]]'s appends delegate here):
  *
  * {{{
  * df.write.format("graft.sources.PgWireSource")
  *   .option("port", p).option("table", "graft_t.out")
  *   .option("batchId", runKey)        // optional: cross-job dedup key
  *   .mode("append").save()
  * }}}
  *
  * Spark's commit coordinator (`useCommitCoordinator = true`) authorizes
  * exactly one task attempt per partition to commit, and the ledger —
  * `INSERT INTO <ledger>(batch_id, partition_id)` claimed inside the
  * same transaction as the COPY, `PRIMARY KEY (batch_id, partition_id)`
  * — closes the residual window the coordinator cannot see (a task that
  * committed in Postgres but died before reporting; a whole job re-run
  * with the same `batchId`): a duplicate claim hits unique_violation
  * BEFORE any data is streamed and the attempt no-ops. A task that dies
  * mid-COPY drops its connection; the server aborts the transaction and
  * the ledger claim vanishes with it, so the retry starts clean (the
  * three-way arbitration PgLiveRoundTripSpec drives at the wire level).
  *
  * `batchId` defaults to the query's own id (fresh per run): in-job
  * retries and speculation dedup, distinct jobs append independently.
  * Pass a caller-stable id (orchestrator run key, foreachBatch epoch)
  * for cross-run exactly-once; `ledger=false` opts down to plain
  * transactional COPY (the `append` contract — what `write.jdbc` gives).
  *
  * Values ride as COPY text rendered from the typed InternalRow
  * (timestamps as ISO-8601 UTC instants, decimals as plain strings,
  * bytea as `\x` hex, arrays as JSON text into JSONB targets — the same
  * convention as the parquet sink); rendering is validated against the
  * input schema at build() time so unsupported nesting fails at plan
  * time, not mid-COPY.
  */
final class PgWriteBuilder(conn: PgConn, table: String,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {

  private var truncateFirst = false

  /** `mode("overwrite")` (full-table) arrives as truncate — the same
    * contract as `write.jdbc`'s truncate-then-append. The TRUNCATE runs
    * driver-side once, before any writer task (see
    * [[PgBatchWrite.createBatchWriterFactory]]).
    */
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = {
    val schema = info.schema()
    // Fail at plan time if any column cannot be rendered as COPY text.
    PgRowText.validate(schema)
    val opts = info.options()
    val ledgerOn =
      Option(opts.get("ledger")).forall(_.toBoolean)
    val ledgerTable =
      Option(opts.get("ledgerTable")).getOrElse("graft_meta.copy_ledger")
    val batchId = Option(opts.get("batchId")).getOrElse {
      val qid = info.queryId()
      if (qid != null && qid.nonEmpty) qid else UUID.randomUUID().toString
    }
    new PgWrite(conn, table, schema, batchId,
      if (ledgerOn) Some(ledgerTable) else None, truncateFirst)
  }
}

final class PgWrite(conn: PgConn, table: String,
    schema: StructType, batchId: String, ledgerTable: Option[String],
    truncateFirst: Boolean = false)
    extends Write {
  override def toBatch: BatchWrite =
    new PgBatchWrite(conn, table, schema, batchId, ledgerTable, truncateFirst)

  /** Native streaming sink: each micro-batch's writers claim
    * `<batchId>-epoch-<epochId>` ledger slots, so a batch REPLAYED
    * from the checkpoint (restart after a post-commit crash — the
    * exact window `foreachBatch` + `appendExactlyOnce` closes by hand)
    * dedups per partition with no user code. `batchId` defaults to
    * Spark's query id, which the checkpoint keeps stable across
    * restarts — pass an explicit `batchId` option to survive a
    * checkpoint swap too. Append output mode only: Complete-mode
    * truncate-per-epoch is not modeled.
    */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!truncateFirst,
      "PgWireSource streaming write supports append mode only")
    new PgStreamingWrite(conn, table, schema, batchId, ledgerTable)
  }

  override def description(): String =
    s"GraftPgWrite[$table] batchId=$batchId " +
      s"ledger=${ledgerTable.getOrElse("off")}" +
      (if (truncateFirst) " truncate" else "")
}

final class PgStreamingWrite(conn: PgConn, table: String,
    schema: StructType, baseBatchId: String, ledgerTable: Option[String])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def useCommitCoordinator(): Boolean = true

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    ledgerTable.foreach(lt => PgWriteSupport.ensureLedger(conn, lt))
    PgStreamingDataWriterFactory(conn, table, schema, baseBatchId, ledgerTable)
  }

  /** Per-epoch commits already landed (or no-opped) in Postgres under
    * their epoch-scoped claims; Spark's checkpoint commit is the
    * progress marker, the database is the dedup arbiter — the pairing
    * that makes a replayed epoch a per-partition no-op.
    */
  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
}

final case class PgStreamingDataWriterFactory(conn: PgConn,
    table: String, schema: StructType, baseBatchId: String,
    ledgerTable: Option[String])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new PgDataWriter(conn, table, schema, s"$baseBatchId-epoch-$epochId",
      ledgerTable, partitionId)
}

final class PgBatchWrite(conn: PgConn, table: String,
    schema: StructType, batchId: String, ledgerTable: Option[String],
    truncateFirst: Boolean = false)
    extends BatchWrite {

  /** One attempt per partition gets the coordinator's commit grant;
    * the ledger then arbitrates what the coordinator cannot observe.
    */
  override def useCommitCoordinator(): Boolean = true

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    // Driver-side, once per job: the ledger table must exist before any
    // executor claims into it (CREATE ... IF NOT EXISTS per partition
    // would race inside the claim transactions).
    ledgerTable.foreach(lt => PgWriteSupport.ensureLedger(conn, lt))
    if (truncateFirst) {
      // Overwrite = truncate-then-append (the write.jdbc contract).
      // This job's OWN prior ledger claims are retired with the rows
      // they described — otherwise an overwrite re-run under the same
      // stable batchId would truncate and then dedup itself into an
      // empty table. Claims of OTHER batches stay: they describe rows
      // this truncate just removed, but their job already finished;
      // re-running one of those old batch ids after an overwrite is a
      // caller contract violation (overwrite resets the table's
      // history), same as with write.jdbc.
      val c = conn.open()
      try {
        val _ = c.query(s"TRUNCATE TABLE ${SchemaManager.quoteTable(table)}")
        ledgerTable.foreach { lt =>
          val _2 = c.query(s"DELETE FROM ${SchemaManager.quoteTable(lt)} " +
            s"WHERE batch_id = ${SchemaManager.quoteLiteral(batchId)}")
        }
      } finally c.close()
    }
    PgDataWriterFactory(conn, table, schema, batchId, ledgerTable)
  }

  /** Each partition's transaction already committed (or no-opped) in
    * Postgres under its ledger claim; there is nothing left to flip
    * atomically — the database is the arbiter, which is exactly what
    * makes the protocol survive driver death between task success and
    * job commit.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()

  /** Uncommitted transactions died with their connections (abort() or
    * task death closes the socket; the server rolls back); committed
    * partitions keep their ledger claims so a re-run with the same
    * batchId no-ops them instead of double-writing.
    */
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final case class PgCommitMessage(partitionId: Int, rows: Long,
    deduped: Boolean) extends WriterCommitMessage

private[sources] object PgWriteSupport {
  /** Driver-side, once per job/stream: the ledger table must exist
    * before any executor claims into it (per-partition CREATE IF NOT
    * EXISTS would race inside the claim transactions).
    */
  def ensureLedger(conn: PgConn, ledgerTable: String): Unit = {
    val (ledgerSchema, _) = graft.etl.SchemaScript.splitTableName(ledgerTable)
    val c = conn.open()
    try {
      val _ = c.query(
        SchemaManager.createSchemaSql(ledgerSchema))
      val _2 = c.query(
        s"""CREATE TABLE IF NOT EXISTS ${SchemaManager.quoteTable(ledgerTable)} (
              batch_id TEXT NOT NULL,
              partition_id INT NOT NULL,
              n_rows BIGINT,
              committed_at TIMESTAMPTZ NOT NULL DEFAULT now(),
              PRIMARY KEY (batch_id, partition_id))""")
    } finally c.close()
  }
}

final case class PgDataWriterFactory(conn: PgConn,
    table: String, schema: StructType, batchId: String,
    ledgerTable: Option[String]) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new PgDataWriter(conn, table, schema, batchId, ledgerTable, partitionId)
}

final class PgDataWriter(conn: PgConn, table: String,
    schema: StructType, batchId: String, ledgerTable: Option[String],
    partitionId: Int) extends DataWriter[InternalRow] {

  private val render = PgRowText.converters(schema)
  private val copySql = PgDataWriter.copySql(table, schema.fieldNames.toSeq)

  private var client: PgWireClient = null
  private var stream: PgWireClient#CopyInStream = null
  private var duplicate = false
  private var started = false

  /** Lazy on the first row (an empty partition never connects): claim
    * the ledger slot inside BEGIN, then open the COPY stream. A lost
    * claim (23505) means another attempt of this (batch, partition)
    * already committed — swallow rows and no-op.
    */
  private def begin(): Unit = {
    started = true
    client = conn.open()
    ledgerTable match {
      case Some(lt) =>
        val ledger = SchemaManager.quoteTable(lt)
        try {
          val _ = client.query(
            s"""BEGIN;
                INSERT INTO $ledger (batch_id, partition_id)
                VALUES (${SchemaManager.quoteLiteral(batchId)}, $partitionId)""")
        } catch {
          case e: PgWireClient.PgServerException if e.sqlState == "23505" =>
            val _ = client.query("ROLLBACK")
            duplicate = true
        }
      case None =>
        val _ = client.query("BEGIN")
    }
    if (!duplicate) stream = client.copyInBegin(copySql)
  }

  override def write(row: InternalRow): Unit = {
    if (!started) begin()
    if (!duplicate) {
      val vs = new Array[String](render.length)
      var i = 0
      while (i < render.length) { vs(i) = render(i)(row); i += 1 }
      stream.send(PgWireClient.encodeCopyRow(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(vs)))
    }
  }

  override def commit(): WriterCommitMessage = {
    if (!started) return PgCommitMessage(partitionId, 0L, deduped = false)
    try {
      if (duplicate) PgCommitMessage(partitionId, 0L, deduped = true)
      else {
        val n = stream.finish()
        val _ = ledgerTable match {
          case Some(lt) =>
            val ledger = SchemaManager.quoteTable(lt)
            client.query(
              s"""UPDATE $ledger SET n_rows = $n
                  WHERE batch_id = ${SchemaManager.quoteLiteral(batchId)}
                    AND partition_id = $partitionId;
                  COMMIT""")
          case None => client.query("COMMIT")
        }
        PgCommitMessage(partitionId, n, deduped = false)
      }
    } finally { client.close(); client = null }
  }

  /** Dropping the connection mid-transaction makes the server abort it:
    * the partial COPY and the ledger claim vanish together, so the
    * retry's claim succeeds and streams from scratch.
    */
  override def abort(): Unit = close()

  override def close(): Unit =
    if (client != null) { client.close(); client = null }
}

/** InternalRow → COPY text rendering, one converter per column, chosen
  * once from the schema (no per-row type dispatch). Conventions match
  * Spark's plan-side `cast(string)`/`to_json` (pinned differentially by
  * PgRenderingDifferentialSpec):
  * timestamps render as ISO-8601 UTC instants (PG's timestamptz input
  * accepts the `T`/`Z` forms), dates as `yyyy-MM-dd`, decimals as plain
  * (non-scientific) strings, booleans as true/false, bytea as `\x` hex
  * (COPY escaping doubles the backslash on the wire), arrays of atomic
  * types as JSON text for JSONB targets.
  */
private[sources] object PgRowText {

  def validate(schema: StructType): Unit = schema.fields.foreach { f =>
    require(supported(f.dataType),
      s"PgWireSource write cannot render column '${f.name}' of type " +
        s"${f.dataType.catalogString} as COPY text; cast it (e.g. " +
        "to_json for nested types) before writing")
  }

  private def supported(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType |
         LongType | FloatType | DoubleType | DateType | TimestampType |
         BinaryType => true
    case _: DecimalType => true
    case ArrayType(et, _) => atomicJson(et)
    case _ => false
  }

  private def atomicJson(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType |
         LongType | FloatType | DoubleType => true
    case _: DecimalType => true
    case _ => false
  }

  def converters(schema: StructType): Array[InternalRow => String] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      val conv: InternalRow => String = f.dataType match {
        case StringType => r => r.getUTF8String(i).toString
        case BooleanType => r => if (r.getBoolean(i)) "true" else "false"
        case ByteType => r => r.getByte(i).toString
        case ShortType => r => r.getShort(i).toString
        case IntegerType => r => r.getInt(i).toString
        case LongType => r => r.getLong(i).toString
        // Shortest-round-trip decimal form; PG float4/float8 input
        // parses it back to the identical bit pattern.
        case FloatType => r => r.getFloat(i).toString
        case DoubleType => r => r.getDouble(i).toString
        case d: DecimalType =>
          r => r.getDecimal(i, d.precision, d.scale)
            .toJavaBigDecimal.toPlainString
        case DateType =>
          r => java.time.LocalDate.ofEpochDay(r.getInt(i).toLong).toString
        case TimestampType =>
          r => DateTimeUtils.microsToInstant(r.getLong(i)).toString
        case BinaryType =>
          r => {
            val b = r.getBinary(i)
            val sb = new java.lang.StringBuilder(2 + 2 * b.length)
            sb.append("\\x")
            var j = 0
            while (j < b.length) {
              sb.append(Character.forDigit((b(j) >> 4) & 0xf, 16))
              sb.append(Character.forDigit(b(j) & 0xf, 16))
              j += 1
            }
            sb.toString
          }
        case ArrayType(et, _) =>
          val elem = jsonElem(et)
          r => {
            val arr = r.getArray(i)
            val sb = new java.lang.StringBuilder("[")
            var j = 0
            while (j < arr.numElements()) {
              if (j > 0) sb.append(",")
              if (arr.isNullAt(j)) sb.append("null")
              else sb.append(elem(arr, j))
              j += 1
            }
            sb.append("]").toString
          }
        case other => throw new IllegalArgumentException(
          s"unsupported write type $other") // validate() rejects earlier
      }
      (r: InternalRow) => if (r.isNullAt(i)) null else conv(r)
    }

  private def jsonElem(dt: DataType)
      : (org.apache.spark.sql.catalyst.util.ArrayData, Int) => String =
    dt match {
      case StringType => (a, j) => jsonString(a.getUTF8String(j).toString)
      case BooleanType => (a, j) => if (a.getBoolean(j)) "true" else "false"
      case ByteType => (a, j) => a.getByte(j).toString
      case ShortType => (a, j) => a.getShort(j).toString
      case IntegerType => (a, j) => a.getInt(j).toString
      case LongType => (a, j) => a.getLong(j).toString
      case FloatType => (a, j) => a.getFloat(j).toString
      case DoubleType => (a, j) => a.getDouble(j).toString
      case d: DecimalType =>
        (a, j) => a.getDecimal(j, d.precision, d.scale)
          .toJavaBigDecimal.toPlainString
      case other => throw new IllegalArgumentException(
        s"unsupported array element type $other")
    }

  private def jsonString(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"').toString
  }
}

object PgDataWriter {
  /** The COPY statement a partition streams `columns` of `table` into. */
  private[graft] def copySql(table: String, columns: Seq[String]): String =
    s"COPY ${SchemaManager.quoteTable(table)} " +
      s"(${columns.map(SchemaManager.quoteIdent).mkString(", ")}) FROM STDIN"
}
