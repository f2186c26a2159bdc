package graft.etl

import java.util.Arrays

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.{CompressionCodecFactory, SplittableCompressionCodec}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SerializableConfiguration

/** The line reader behind [[Ingestion.fromJsonLines]]: the lines of a
  * file, a directory or a glob as one string column `raw`, already
  * split for the session's cores.
  *
  * Spark's file sources size splits by bytes
  * (`spark.sql.files.maxPartitionBytes`, plus a 4 MB open cost per
  * file), so a one-file drop of a few MB plans one or two splits, and a
  * plane whose cost is per-row CPU then runs on one or two cores. Here
  * the input's listed bytes are laid end to end and cut into
  * `max(defaultParallelism, total / 128 MB)` equal ranges: a large file
  * is cut into many splits, and many small files share one, so the split
  * count neither collapses to one nor grows with the file count. Nothing
  * is shuffled, and no session setting changes.
  *
  * Lines are read as Spark's text source reads them, with Hadoop's
  * `LineRecordReader`: `\n`, `\r\n` or `\r` ends a line, a UTF-8 byte
  * order mark at a file's start is dropped, and a range that starts
  * inside a line leaves that line to the range before it. Each line's
  * bytes are kept as they are, so a line holding invalid UTF-8 carries
  * the same bytes as through `spark.read.text` (a Java `String` of it
  * shows U+FFFD where they are). Names starting with `_` or `.` are
  * skipped, as Spark skips them, and a file whose compression codec
  * cannot split (`.gz`) is read whole, in the range where it starts.
  */
private[etl] object SplitLines {

  /** No range grows past this however few the cores: the default of
    * `spark.sql.files.maxPartitionBytes`.
    */
  private val MaxSplitBytes: Long = 128L * 1024 * 1024

  /** `length` bytes of one file from `start`. */
  final case class Chunk(path: String, start: Long, length: Long)

  /** Lists `path` now, so a missing input fails here, not at the first
    * action; the lines are read when an action runs.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val sc = spark.sparkContext
    val conf = sc.hadoopConfiguration
    val splits = plan(list(conf, path), sc.defaultParallelism)
    val lines = new LinesRDD(sc, splits, sc.broadcast(new SerializableConfiguration(conf)))
    // binary → string keeps the bytes as they are; no decode, no re-encode
    spark.createDataset(lines)(Encoders.BINARY).select(col("value").cast("string").as("raw"))
  }

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** The non-empty files under `path`, in path order, each with whether
    * its codec can split it.
    */
  private def list(conf: Configuration, path: String): Seq[(FileStatus, Boolean)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val matched = Option(fs.globStatus(root)).getOrElse(Array.empty[FileStatus])
    if (matched.isEmpty) throw new InputError(s"Input path not found: $path")
    def files(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap(files)
    val codecs = new CompressionCodecFactory(conf)
    matched.toSeq.flatMap(files).filter(_.getLen > 0).sortBy(_.getPath.toString).map { f =>
      val codec = codecs.getCodec(f.getPath)
      f -> (codec == null || codec.isInstanceOf[SplittableCompressionCodec])
    }
  }

  /** The chunks of each range, ranges in input order. */
  private[etl] def plan(files: Seq[(FileStatus, Boolean)], parallelism: Int): Array[Seq[Chunk]] = {
    val total = files.map(_._1.getLen).sum
    val n = math.max(parallelism.toLong, (total + MaxSplitBytes - 1) / MaxSplitBytes).toInt
    def bound(i: Int): Long = total / n * i + total % n * i / n // total * i / n, no overflow
    val ranges = Array.fill(n)(Vector.newBuilder[Chunk])
    var i = 0
    var offset = 0L
    for ((f, splittable) <- files) {
      val end = offset + f.getLen
      var pos = offset
      while (pos < end) {
        while (bound(i + 1) <= pos) i += 1
        val stop = if (splittable) math.min(end, bound(i + 1)) else end
        ranges(i) += Chunk(f.getPath.toString, pos - offset, stop - pos)
        pos = stop
      }
      offset = end
    }
    ranges.map(_.result())
  }

  private final class LineRange(val index: Int, val chunks: Seq[Chunk]) extends Partition

  private final class LinesRDD(
      sc: SparkContext,
      @transient ranges: Array[Seq[Chunk]],
      conf: Broadcast[SerializableConfiguration])
    extends RDD[Array[Byte]](sc, Nil) {

    override protected def getPartitions: Array[Partition] =
      ranges.zipWithIndex.map { case (chunks, i) => new LineRange(i, chunks) }

    // flatMap opens each chunk's file only when the chunk before it is done
    override def compute(split: Partition, context: TaskContext): Iterator[Array[Byte]] =
      split.asInstanceOf[LineRange].chunks.iterator.flatMap(lines(_, conf.value.value, context))
  }

  /** One chunk's lines; the file is closed after the last line, or when
    * the task ends.
    */
  private def lines(c: Chunk, conf: Configuration, context: TaskContext): Iterator[Array[Byte]] = {
    var reader = new LineRecordReader()
    // drops the reader once closed: a task may read many small files
    def close(): Unit = if (reader != null) { reader.close(); reader = null }
    context.addTaskCompletionListener[Unit](_ => close())
    reader.initialize(new FileSplit(new Path(c.path), c.start, c.length, Array.empty[String]),
      new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    Iterator.unfold(()) { _ =>
      if (reader.nextKeyValue()) {
        val line = reader.getCurrentValue
        Some(Arrays.copyOf(line.getBytes, line.getLength) -> ())
      } else { close(); None }
    }
  }
}
