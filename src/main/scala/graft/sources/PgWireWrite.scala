package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.etl.{PgConn, SchemaManager, SchemaScript}

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
  * Batch append is the one write: streaming reaches Postgres through
  * `foreachBatch` with the epoch id as `batchId`. Every non-empty
  * partition runs BEGIN, COPY, COMMIT on its own connection, so a task
  * that dies mid-COPY drops its connection and the server rolls the
  * partial COPY back — without a `batchId` that is the whole protocol,
  * the `write.jdbc` contract.
  *
  * A write that names a `batchId` also claims its ledger slot —
  * `INSERT INTO graft_meta.copy_ledger(batch_id, table_name,
  * partition_id)`, the table's primary key — inside the same
  * transaction, before any data streams. Spark's commit coordinator
  * (`useCommitCoordinator = true`) authorizes exactly one task attempt
  * per partition; the claim closes the window it cannot see (a task
  * that committed in Postgres but died before reporting; a whole job
  * re-run with the same `batchId`): a duplicate claim hits
  * unique_violation and the attempt no-ops. A claim vanishes with its
  * aborted transaction, so the retry starts clean (the three-way
  * arbitration PgLiveRoundTripSpec drives at the wire level).
  *
  * Values ride as COPY text rendered from the typed InternalRow
  * (timestamps as ISO-8601 UTC instants, decimals as plain strings,
  * bytea as `\x` hex, arrays as JSON text into JSONB targets — the same
  * convention as the parquet sink); rendering is validated against the
  * input schema at build() time so unsupported nesting fails at plan
  * time, not mid-COPY.
  */
final class PgWriteBuilder(conn: PgConn, table: String,
    info: LogicalWriteInfo) extends WriteBuilder {

  override def build(): Write = {
    val schema = info.schema()
    // Fail at plan time if any column cannot be rendered as COPY text.
    PgRowText.validate(schema)
    new PgWrite(conn, table, schema, Option(info.options().get("batchId")))
  }
}

final class PgWrite(conn: PgConn, table: String, schema: StructType,
    batchId: Option[String]) extends Write with BatchWrite {

  override def toBatch: BatchWrite = this

  override def description(): String =
    s"GraftPgWrite[$table]" + batchId.fold("")(b => s" batchId=$b")

  /** One attempt per partition gets the coordinator's commit grant;
    * the ledger then arbitrates what the coordinator cannot observe.
    */
  override def useCommitCoordinator(): Boolean = true

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    if (batchId.isDefined) PgDataWriter.ensureLedger(conn)
    PgDataWriterFactory(conn, table, schema, batchId)
  }

  /** Each partition's transaction already committed (or no-opped) in
    * Postgres; there is nothing left to flip atomically — the database
    * is the arbiter, which is exactly what makes the protocol survive
    * driver death between task success and job commit.
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

final case class PgDataWriterFactory(conn: PgConn,
    table: String, schema: StructType, batchId: Option[String])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new PgDataWriter(conn, table, schema, batchId, partitionId)
}

final class PgDataWriter(conn: PgConn, table: String,
    schema: StructType, batchId: Option[String],
    partitionId: Int) extends DataWriter[InternalRow] {

  private val render = PgRowText.converters(schema)
  private val copySql = PgDataWriter.copySql(table, schema.fieldNames.toSeq)
  /** This partition's ledger key, when the write names a batch. */
  private val slot = batchId.map(PgDataWriter.slot(_, table, partitionId))

  private var client: PgWireClient = null
  private var stream: PgWireClient#CopyInStream = null
  private var duplicate = false
  private var started = false

  /** Lazy on the first row (an empty partition never connects): BEGIN,
    * claim the ledger slot if there is one, then open the COPY stream.
    * A lost claim (23505) means another attempt of this slot already
    * committed — swallow rows and no-op.
    */
  private def begin(): Unit = {
    started = true
    client = conn.open()
    slot match {
      case Some(s) =>
        try {
          val _ = client.query(s"BEGIN; INSERT INTO ${PgDataWriter.Ledger} " +
            s"${PgDataWriter.SlotColumns} VALUES $s")
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
        val _ = client.query(slot.fold("")(s =>
          s"UPDATE ${PgDataWriter.Ledger} SET n_rows = $n " +
            s"WHERE ${PgDataWriter.SlotColumns} = $s; ") + "COMMIT")
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
  /** The exactly-once ledger: one row per committed (batch, table,
    * partition) slot.
    */
  private[graft] val Ledger = "graft_meta.copy_ledger"
  private val SlotColumns = "(batch_id, table_name, partition_id)"

  /** A slot's key as a row literal. The table is named `schema.table`,
    * so `t` and `public.t` claim the same slots.
    */
  private def slot(batchId: String, table: String, partitionId: Int): String = {
    val (schema, name) = SchemaScript.splitTableName(table)
    s"(${SchemaManager.quoteLiteral(batchId)}, " +
      s"${SchemaManager.quoteLiteral(s"$schema.$name")}, $partitionId)"
  }

  /** Driver-side, once per job that names a batch: the ledger must
    * exist before any executor claims into it (CREATE ... IF NOT EXISTS
    * per partition would race inside the claim transactions).
    */
  private[sources] def ensureLedger(conn: PgConn): Unit = {
    val c = conn.open()
    try {
      val _ = c.query(
        s"""CREATE SCHEMA IF NOT EXISTS graft_meta;
            CREATE TABLE IF NOT EXISTS $Ledger (
              batch_id TEXT NOT NULL,
              table_name TEXT NOT NULL,
              partition_id INT NOT NULL,
              n_rows BIGINT,
              committed_at TIMESTAMPTZ NOT NULL DEFAULT now(),
              PRIMARY KEY $SlotColumns)""")
    } finally c.close()
  }

  /** The COPY statement a partition streams `columns` of `table` into. */
  private[graft] def copySql(table: String, columns: Seq[String]): String =
    s"COPY ${SchemaManager.quoteTable(table)} " +
      s"(${columns.map(SchemaManager.quoteIdent).mkString(", ")}) FROM STDIN"
}
