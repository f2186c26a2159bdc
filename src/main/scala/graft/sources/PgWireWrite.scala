package graft.sources

import scala.jdk.CollectionConverters._

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
  *   .option("legs", PgLeg.encode(ls)) // optional: several tables
  *   .mode("append").save()
  * }}}
  *
  * A write lands its rows in one or more tables, its legs ([[PgLeg]]):
  * each leg takes some of the row's columns under its own names, and
  * may take only the rows a boolean column flags. Without `legs` there
  * is one leg, `table` with every column. Batch append is the one
  * write: streaming reaches Postgres through `StreamingEtl`, whose
  * `foreachBatch` lands each epoch as one such write with `batchId`
  * `<query id>/<epoch>`.
  *
  * Every non-empty partition lands all its legs in ONE transaction on
  * its own connection: BEGIN; COPY the first leg as rows stream in,
  * while every later leg's COPY text goes to a [[CopyBuffer]]; COPY
  * each buffered leg; COMMIT. A task that dies anywhere in that drops
  * its connection and the server rolls every leg back together —
  * without a `batchId` that is the whole protocol, the `write.jdbc`
  * contract.
  *
  * A write that names a `batchId` also claims one ledger slot per leg
  * — `INSERT INTO graft_meta.copy_ledger(batch_id, table_name,
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
  * convention as the parquet sink); rendering and the legs are
  * validated against the input schema at build() time so unsupported
  * nesting or an unknown column fails at plan time, not mid-COPY.
  */
final class PgWriteBuilder(conn: PgConn, table: String,
    info: LogicalWriteInfo) extends WriteBuilder {

  override def build(): Write = {
    val schema = info.schema()
    val legs = Option(info.options().get("legs")).fold(
      Seq(PgLeg(table, schema.fieldNames.toSeq.map(c => c -> c))))(PgLeg.decode)
    PgWrite(conn, schema, legs, Option(info.options().get("batchId")))
  }
}

/** One table of a write: `columns` pairs each input column the leg
  * takes with the table column it lands in; with `when`, the leg takes
  * only the rows whose boolean column `when` is true.
  */
final case class PgLeg(table: String, columns: Seq[(String, String)],
    when: Option[String] = None) {

  private[sources] def resolve(schema: StructType): PgLeg.Resolved = {
    when.foreach(w => require(schema(w).dataType == BooleanType,
      s"leg '$table': column '$w' must be boolean"))
    PgLeg.Resolved(table, columns.map(c => schema.fieldIndex(c._1)).toArray,
      columns.map(_._2), when.fold(-1)(schema.fieldIndex))
  }
}

object PgLeg {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A leg by input position; `when` is -1 for a leg that takes every row. */
  private[sources] final case class Resolved(table: String,
      positions: Array[Int], columns: Seq[String], when: Int) {
    def takes(row: InternalRow): Boolean = when < 0 || row.getBoolean(when)
  }

  /** The `legs` write option's value. */
  def encode(legs: Seq[PgLeg]): String = {
    val arr = mapper.createArrayNode()
    legs.foreach { l =>
      val o = arr.addObject().put("table", l.table)
      l.when.foreach(o.put("when", _))
      val cs = o.putArray("columns")
      l.columns.foreach { case (from, to) => cs.addArray().add(from).add(to) }
    }
    mapper.writeValueAsString(arr)
  }

  def decode(json: String): Seq[PgLeg] = {
    val legs = mapper.readTree(json).asScala.map { o =>
      PgLeg(o.get("table").asText,
        o.get("columns").asScala.map(c => c.get(0).asText -> c.get(1).asText).toSeq,
        Option(o.get("when")).map(_.asText))
    }.toSeq
    require(legs.nonEmpty, "option 'legs' names no table")
    legs
  }
}

object PgWrite {
  /** Fails at plan time if any column cannot be rendered as COPY text
    * or a leg names a column `schema` lacks.
    */
  def apply(conn: PgConn, schema: StructType, legs: Seq[PgLeg],
      batchId: Option[String]): PgWrite = {
    PgRowText.validate(schema)
    new PgWrite(conn, schema, legs.map(_.resolve(schema)), batchId)
  }
}

final class PgWrite private (conn: PgConn, schema: StructType,
    legs: Seq[PgLeg.Resolved], batchId: Option[String])
    extends Write with BatchWrite {

  /** The write without a job: `rows` go from the calling thread as
    * partition 0, over one connection in one transaction, rendered and
    * claimed exactly as one task of the job would.
    */
  def writeLocal(rows: Iterator[InternalRow]): Unit = {
    if (batchId.isDefined) PgDataWriter.ensureLedger(conn)
    val w = new PgDataWriter(conn, schema, legs, batchId, 0)
    try { rows.foreach(w.write); val _ = w.commit() }
    catch { case e: Throwable => w.abort(); throw e }
  }

  override def toBatch: BatchWrite = this

  override def description(): String =
    legs.map(_.table).mkString("GraftPgWrite[", ", ", "]") +
      batchId.fold("")(b => s" batchId=$b")

  /** One attempt per partition gets the coordinator's commit grant;
    * the ledger then arbitrates what the coordinator cannot observe.
    */
  override def useCommitCoordinator(): Boolean = true

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    if (batchId.isDefined) PgDataWriter.ensureLedger(conn)
    PgDataWriterFactory(conn, schema, legs, batchId)
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

final case class PgDataWriterFactory(conn: PgConn, schema: StructType,
    legs: Seq[PgLeg.Resolved], batchId: Option[String])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new PgDataWriter(conn, schema, legs, batchId, partitionId)
}

final class PgDataWriter(conn: PgConn, schema: StructType,
    legs: Seq[PgLeg.Resolved], batchId: Option[String],
    partitionId: Int) extends DataWriter[InternalRow] {

  private val render = PgRowText.converters(schema)
  private val ls = legs.toArray
  private val copySqls = legs.map(l => PgDataWriter.copySql(l.table, l.columns))
  /** This partition's ledger key per leg, when the write names a batch. */
  private val slots =
    batchId.toSeq.flatMap(b => legs.map(l => PgDataWriter.slot(b, l.table, partitionId)))

  private var client: PgWireClient = null
  /** The first leg's COPY, fed as rows arrive. */
  private var stream: PgWireClient#CopyInStream = null
  /** Every later leg's COPY text, held until the stream finishes. */
  private val held = Array.fill(ls.length - 1)(new CopyBuffer)
  private var duplicate = false
  private var started = false

  /** Lazy on the first row (an empty partition never connects): BEGIN,
    * claim the ledger slots if there are any, then open the first leg's
    * COPY stream. A lost claim (23505) means another attempt of this
    * partition already committed — swallow rows and no-op.
    */
  private def begin(): Unit = {
    started = true
    client = conn.open()
    if (slots.isEmpty) { val _ = client.query("BEGIN") }
    else
      try {
        val _ = client.query(s"BEGIN; INSERT INTO ${PgDataWriter.Ledger} " +
          s"${PgDataWriter.SlotColumns} VALUES ${slots.mkString(", ")}")
      } catch {
        case e: PgWireClient.PgServerException if e.sqlState == "23505" =>
          val _ = client.query("ROLLBACK")
          duplicate = true
      }
    if (!duplicate) stream = client.copyInBegin(copySqls.head)
  }

  private def line(row: InternalRow, leg: PgLeg.Resolved): String = {
    val vs = new Array[String](leg.positions.length)
    var i = 0
    while (i < vs.length) { vs(i) = render(leg.positions(i))(row); i += 1 }
    PgWireClient.encodeCopyRow(scala.collection.immutable.ArraySeq.unsafeWrapArray(vs))
  }

  override def write(row: InternalRow): Unit = {
    if (!started) begin()
    if (!duplicate) {
      if (ls(0).takes(row)) stream.send(line(row, ls(0)))
      var i = 1
      while (i < ls.length) {
        if (ls(i).takes(row)) held(i - 1).add(line(row, ls(i)))
        i += 1
      }
    }
  }

  override def commit(): WriterCommitMessage = {
    if (!started) return PgCommitMessage(partitionId, 0L, deduped = false)
    try {
      if (duplicate) PgCommitMessage(partitionId, 0L, deduped = true)
      else {
        val counts = stream.finish() +: copySqls.tail.zip(held.toSeq).map {
          case (sql, buffer) =>
            val s = client.copyInBegin(sql)
            buffer.replay(s)
            val _ = s.finish()
            buffer.rows
        }
        val _ = client.query(slots.zip(counts).map { case (s, n) =>
          s"UPDATE ${PgDataWriter.Ledger} SET n_rows = $n " +
            s"WHERE ${PgDataWriter.SlotColumns} = $s; "
        }.mkString + "COMMIT")
        PgCommitMessage(partitionId, counts.sum, deduped = false)
      }
    } finally close()
  }

  /** Dropping the connection mid-transaction makes the server abort it:
    * every leg's rows and the ledger claims vanish together, so the
    * retry's claims succeed and it streams from scratch.
    */
  override def abort(): Unit = close()

  override def close(): Unit = {
    held.foreach(_.close())
    if (client != null) { client.close(); client = null }
  }
}

/** One held leg's COPY text: in memory up to [[CopyBuffer.MemoryBytes]],
  * then in a temp file under the executor's local dirs
  * (`spark.local.dir`), deleted by [[close]] when the task ends.
  */
private[sources] final class CopyBuffer {
  private var memory = new java.io.ByteArrayOutputStream()
  private var out: java.io.OutputStream = memory
  private var file: java.io.File = null
  private var n = 0L

  def rows: Long = n

  def add(line: String): Unit = {
    out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.write('\n')
    n += 1
    if (file == null && memory.size >= CopyBuffer.MemoryBytes) {
      file = org.apache.spark.SparkEnv.get.blockManager.diskBlockManager
        .createTempLocalBlock()._2
      out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(file), CopyBuffer.Chunk)
      memory.writeTo(out)
      memory = null
    }
  }

  /** Sends every held line into `stream`. */
  def replay(stream: PgWireClient#CopyInStream): Unit =
    if (file == null) stream.sendEncoded(memory.toByteArray, 0, memory.size)
    else {
      out.close()
      val in = new java.io.FileInputStream(file)
      try {
        val chunk = new Array[Byte](CopyBuffer.Chunk)
        var read = in.read(chunk)
        while (read >= 0) { stream.sendEncoded(chunk, 0, read); read = in.read(chunk) }
      } finally in.close()
    }

  def close(): Unit = {
    out.close()
    if (file != null) { val _ = file.delete() }
  }
}

private[sources] object CopyBuffer {
  /** Held bytes a task keeps in memory before it spills to disk. */
  val MemoryBytes: Int = 4 << 20
  private val Chunk = 64 * 1024
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
