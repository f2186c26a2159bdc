package graft.sources

import java.nio.charset.StandardCharsets
import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DSv2 write of Parquet files into one or more table directories — the
  * Parquet counterpart of [[PgWrite]], taking the same [[PgLeg]] list
  * with each leg's `table` a directory ([[graft.etl.ParquetSink]]'s
  * appends go through it):
  *
  * {{{
  * df.write.format("graft.sources.ParquetLandingSource")
  *   .option("legs", PgLeg.encode(ls)) // each leg's table: a directory
  *   .option("batchId", runKey)        // optional: cross-job dedup key
  *   .mode("append").save()
  * }}}
  *
  * Each task opens one Spark `OutputWriter` per leg (from
  * `ParquetFileFormat.prepareWrite`, so the files are the ones
  * `df.write.parquet` writes), on the first row the leg takes, and
  * sends each row to every leg whose `when` column passes. Partition 0
  * opens every leg, so a table that got no rows still reads back with
  * its schema, as after Spark's own writer, and a leg's columns keep
  * the input's nullability, as Spark's do (a non-null column is a
  * `required` Parquet column). A task writes under
  * `<table>/_graft_tmp/<write id>/<task id>/` (read back as hidden), and
  * the driver's [[ParquetLandingWrite.commit]] renames the files the
  * committed tasks list to their final names, then deletes the write's
  * temp directories. Writes share no directory but their tables, so
  * concurrent writes into one table need no lock.
  *
  * A final file is named `part-<stem>-<partition>.<ext>`. Without a
  * `batchId` the stem is the write id, unique per write. With one it is
  * a hash of the batch id, so a replay of the batch (a streaming epoch
  * after a crash, a run re-run under its run key) names the same files:
  * a task whose file for a leg already exists writes nothing for that
  * leg, and the commit deletes a temp file whose final name exists
  * instead of renaming it. Landing is then exactly-once per (batch,
  * table, partition), the key of the Postgres ledger, and a crash
  * between two renames heals on replay. That holds provided the frame's
  * partition contents are deterministic, as for [[PgWrite]].
  */
class ParquetLandingSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException("ParquetLandingSource only writes")

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new ParquetLandingTable(schema)

  override def supportsExternalMetadata(): Boolean = true
}

final class ParquetLandingTable(tableSchema: StructType) extends Table with SupportsWrite {
  override def name(): String = "graft_parquet_landing"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = ParquetLandingWrite(info.schema(),
      PgLeg.decode(info.options().get("legs")), Option(info.options().get("batchId")))
  }
}

object ParquetLandingWrite {
  /** Under each table directory: every write's temp files. */
  val TempDir = "_graft_tmp"

  def apply(schema: StructType, legs: Seq[PgLeg], batchId: Option[String]): ParquetLandingWrite =
    new ParquetLandingWrite(schema, legs.map(_.resolve(schema)), batchId)

  /** The final-name stem of a batch's files. */
  private def batchStem(batchId: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(batchId.getBytes(StandardCharsets.UTF_8)).take(16).map("%02x".format(_)).mkString
}

final class ParquetLandingWrite private (schema: StructType,
    legs: Seq[PgLeg.Resolved], batchId: Option[String])
    extends Write with BatchWrite {

  private val writeId = java.util.UUID.randomUUID.toString
  private lazy val hadoopConf = SparkSession.active.asInstanceOf[classic.SparkSession]
    .sessionState.newHadoopConf()

  override def toBatch: BatchWrite = this

  /** One attempt per partition gets the coordinator's grant, so the
    * commit renames one attempt's files.
    */
  override def useCommitCoordinator(): Boolean = true

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    val outputs = legs.map { l =>
      val legSchema = StructType(l.positions.toSeq.zip(l.columns).map {
        case (p, c) => schema(p).copy(name = c)
      })
      val job = Job.getInstance(hadoopConf)
      val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, legSchema)
      LandingLeg(l, legSchema, factory, new SerializableConfiguration(job.getConfiguration))
    }
    LandingWriterFactory(outputs, batchId.fold(writeId)(ParquetLandingWrite.batchStem),
      writeId, checkExisting = batchId.isDefined)
  }

  /** Publishes the committed tasks' files: each is renamed to its final
    * name, or deleted when a replay of its batch already published that
    * name.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    messages.iterator.collect { case m: LandingCommit => m.files }.flatten.foreach {
      case (temp, last) =>
        val (from, to) = (new Path(temp), new Path(last))
        val fs = to.getFileSystem(hadoopConf)
        if (fs.exists(to)) { val _ = fs.delete(from, false) }
        else if (!fs.rename(from, to))
          throw new java.io.IOException(s"could not rename $from to $to")
    }
    deleteTemp()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = deleteTemp()

  private def deleteTemp(): Unit = legs.map(_.table).distinct.foreach { t =>
    val p = new Path(new Path(t, ParquetLandingWrite.TempDir), writeId)
    val _ = p.getFileSystem(hadoopConf).delete(p, true)
  }
}

/** A leg with its Parquet writer factory and the job configuration
  * `prepareWrite` filled in for its schema.
  */
private[sources] final case class LandingLeg(leg: PgLeg.Resolved, schema: StructType,
    factory: OutputWriterFactory, conf: SerializableConfiguration)

/** The (temp, final) path of every file a task wrote. */
private[sources] final case class LandingCommit(files: Seq[(String, String)]) extends WriterCommitMessage

private[sources] final case class LandingWriterFactory(legs: Seq[LandingLeg],
    stem: String, writeId: String, checkExisting: Boolean) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LandingDataWriter(legs, stem, writeId, checkExisting, partitionId, taskId)
}

private[sources] final class LandingDataWriter(legs: Seq[LandingLeg], stem: String,
    writeId: String, checkExisting: Boolean, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val ls = legs.toArray
  private val views = ls.map(l => ProjectingInternalRow(l.schema, l.leg.positions.toSeq))
  private val writers = new Array[OutputWriter](ls.length)
  /** Per leg: whether [[open]] ran (a skipped leg has no writer). */
  private val opened = new Array[Boolean](ls.length)
  private val files = ArrayBuffer.empty[(String, String)]

  private def open(i: Int): Unit = {
    opened(i) = true
    val l = ls(i)
    val conf = l.conf.value
    val attempt = new TaskAttemptID(new TaskID(new JobID(writeId, 0), TaskType.MAP, partitionId),
      TaskContext.get().attemptNumber())
    val context = new TaskAttemptContextImpl(conf, attempt)
    val name = f"part-$stem-$partitionId%05d${l.factory.getFileExtension(context)}"
    val last = new Path(l.leg.table, name)
    if (!(checkExisting && last.getFileSystem(conf).exists(last))) {
      val temp = new Path(new Path(new Path(new Path(l.leg.table,
        ParquetLandingWrite.TempDir), writeId), taskId.toString), name)
      writers(i) = l.factory.newInstance(temp.toString, l.schema, context)
      files += temp.toString -> last.toString
    }
  }

  override def write(row: InternalRow): Unit = {
    var i = 0
    while (i < ls.length) {
      if (ls(i).leg.takes(row)) {
        if (!opened(i)) open(i)
        if (writers(i) != null) { views(i).project(row); writers(i).write(views(i)) }
      }
      i += 1
    }
  }

  override def commit(): WriterCommitMessage = {
    if (partitionId == 0) ls.indices.foreach(i => if (!opened(i)) open(i))
    closeWriters()
    LandingCommit(files.toSeq)
  }

  /** Deletes what this attempt wrote; the driver deletes the write's
    * temp directories whatever the tasks leave.
    */
  override def abort(): Unit = {
    closeWriters()
    files.foreach { case (temp, _) =>
      val p = new Path(temp)
      val _ = p.getFileSystem(ls.head.conf.value).delete(p, false)
    }
  }

  override def close(): Unit = closeWriters()

  private def closeWriters(): Unit = {
    var i = 0
    while (i < writers.length) {
      val w = writers(i)
      writers(i) = null
      if (w != null) w.close()
      i += 1
    }
  }
}
