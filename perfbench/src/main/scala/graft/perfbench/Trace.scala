package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.etl.{ColumnDef, SchemaScript, TableSink}

/** Spans recorded around the benchmark's calls into each layer. A span
  * has a name, start, end, its parent span and the operation it belongs
  * to; all spans of a run share the run id. They stay in memory until
  * [[write]]. With `enabled = false` a span is a plain call.
  */
final class Trace(val enabled: Boolean, val runId: String) {

  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** The operation that new spans belong to. */
  var op = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, op, name, start - t0, end - t0)
      }
    }

  private def ofOp(op: Int): Seq[Span] = spans.iterator.filter(_.op == op).toSeq

  /** Summed duration of the operation's spans called `name`. */
  def seconds(op: Int, name: String): Double =
    ofOp(op).filter(_.name == name).map(_.seconds).sum

  /** Over the given operations: the summed duration of the spans called
    * `name`, and of their direct children by child name. The children's
    * sum plus the self time is the parent's duration.
    */
  def breakdown(ops: Set[Int], name: String): (Double, Seq[(String, Double)]) = {
    val all = spans.iterator.filter(s => ops.contains(s.op)).toSeq
    val parents = all.filter(_.name == name)
    val ids = parents.map(_.id).toSet
    val children = all.filter(s => ids.contains(s.parent))
      .groupBy(_.name).map { case (n, ss) => n -> ss.map(_.seconds).sum }.toSeq.sortBy(_._1)
    (parents.map(_.seconds).sum, children)
  }

  /** Summed self time of the operation's spans called `name`. */
  def selfSeconds(op: Int, name: String): Double = {
    val (total, children) = breakdown(Set(op), name)
    total - children.map(_._2).sum
  }

  /** Spans as JSON lines, written when the run ends. */
  def write(path: Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"run":"$runId","op":${s.op},"id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.write(path, lines.asJava, UTF_8)
  }
}

/** Spark's own hooks for the traced run: a [[SparkListener]] for jobs,
  * stages and task metrics, and a [[QueryExecutionListener]] for the
  * [[QueryPlanningTracker]] phases of every action. Installed once per
  * SparkContext; a second [[Hooks.install]] returns the same instance.
  */
final class Hooks private extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks, cpuNs, gcMs, shuffleWrite, spill =
    new AtomicLong
  private val analysisMs, optimizationMs, planningMs = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val _ = stages.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def add(phase: String, to: AtomicLong): Unit =
      p.get(phase).foreach(s => to.addAndGet(s.durationMs))
    add(QueryPlanningTracker.ANALYSIS, analysisMs)
    add(QueryPlanningTracker.OPTIMIZATION, optimizationMs)
    add(QueryPlanningTracker.PLANNING, planningMs)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  /** Counter values now, after every queued event has been handled. */
  def snapshot(spark: SparkSession): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    Map(
      "exec.jobs" -> jobs.get.toDouble,
      "exec.stages" -> stages.get.toDouble,
      "exec.tasks" -> tasks.get.toDouble,
      "exec.task_cpu_s" -> cpuNs.get / 1e9,
      "exec.gc_s" -> gcMs.get / 1e3,
      "exec.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "exec.spill_bytes" -> spill.get.toDouble,
      "catalyst.analysis_s" -> analysisMs.get / 1e3,
      "catalyst.optimization_s" -> optimizationMs.get / 1e3,
      "catalyst.planning_s" -> planningMs.get / 1e3,
      "catalyst.rule.ConvertToLocalRelation_s" ->
        Hooks.ruleSeconds("ConvertToLocalRelation"))
  }

  /** Seconds of the wall-clock window [fromMs, toMs] that no Spark job
    * covered. Call after [[snapshot]], which drains the bus.
    */
  def outsideJobsSeconds(fromMs: Long, toMs: Long): Double = {
    val clipped = jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var reach = fromMs
    clipped.foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) { covered += e - from; reach = e }
    }
    ((toMs - fromMs) - covered) / 1e3
  }
}

object Hooks {
  private var installed = Map.empty[org.apache.spark.SparkContext, Hooks]

  def install(spark: SparkSession): Hooks = synchronized {
    installed.getOrElse(spark.sparkContext, {
      val h = new Hooks
      spark.sparkContext.addSparkListener(h)
      spark.listenerManager.register(h)
      installed += spark.sparkContext -> h
      h
    })
  }

  /** Total time Catalyst spent in the rule whose class name ends in
    * `rule`, over the whole JVM. The per-rule totals are only exposed
    * as the text of `RuleExecutor.dumpTimeSpent`, one line per rule:
    * `name effectiveNs / totalNs effectiveRuns / totalRuns`. Unlike the
    * tracker phases, this also counts plans optimized when a frame is
    * cached (`persist` plans eagerly, outside any action).
    */
  def ruleSeconds(rule: String): Double =
    RuleExecutor.dumpTimeSpent().linesIterator
      .map(_.trim.split("\\s+"))
      .collectFirst { case a if a.length >= 4 && a(0).endsWith("." + rule) => a(3).toLong / 1e9 }
      .getOrElse(0.0)

  /** Live driver heap after a forced full collection, in MiB. Spark's
    * ContextCleaner frees broadcast and shuffle state only after a
    * collection has found it unreachable, on its own thread; so collect,
    * give the cleaner a moment, and collect again. One collection alone
    * read anywhere from 137 to 217 MB for a 69-81 MB live set.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** [[TableSink]] decorator that records a span per call: appends as
  * `sink.<target|audit|report>.append`, DDL as `sink.ddl`.
  */
final class TracedSink(inner: TableSink, trace: Trace, auditTable: String,
    reportTables: Set[String]) extends TableSink {

  var ddlCalls = 0L

  private def ddl[A](body: => A): A = {
    ddlCalls += 1
    trace.span("sink.ddl")(body)
  }

  private def kind(table: String): String = {
    val t = SchemaScript.normalizeTableName(table)
    if (t == SchemaScript.normalizeTableName(auditTable)) "audit"
    else if (reportTables.map(SchemaScript.normalizeTableName).contains(t)) "report"
    else "target"
  }

  override def tableExists(tableName: String): Boolean = ddl(inner.tableExists(tableName))
  override def createSchema(schemaName: String): Unit = ddl(inner.createSchema(schemaName))
  override def createTable(tableName: String, columns: Seq[ColumnDef]): Unit =
    ddl(inner.createTable(tableName, columns))
  override def append(df: DataFrame, tableName: String): Unit =
    trace.span(s"sink.${kind(tableName)}.append")(inner.append(df, tableName))
}
