package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.GraftSession
import graft.etl._
import graft.sources.LivePostgres

/** The benchmark's JVM side. One run: set up, time one workload for
  * `--seconds`, check every output, print one JSON result line.
  *
  * {{{
  * Main --workload envelope_pg|jsonl_parquet|dashboard_pg --seed N
  *      --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * See perfbench/README.md for the workloads and metrics.
  */
object Main {

  /** Input sizes per workload (orders, customers, unmapped documents). */
  val Sizes: Map[String, Gen.Size] = Map(
    "envelope_pg" -> Gen.Size(orders = 12000, customers = 1200, unmapped = 300),
    "jsonl_parquet" -> Gen.Size(orders = 30000, customers = 3000, unmapped = 300),
    "dashboard_pg" -> Gen.Size(orders = 2000, customers = 200, unmapped = 50))

  /** Generations per run: setup reports the median, and the repeats must
    * be byte-identical.
    */
  val GenRepeats = 3
  /** Untimed ETL runs before the measurement. The first run of a JVM
    * is several times slower than the rest (class loading, code
    * generation, JIT), and the next ones still trend down.
    */
  val WarmupRuns = 2
  /** ETL runs per measurement, at least, even past `--seconds`. */
  val MinEtlRuns = 3
  /** Dashboard queries per measurement, at least: p90 then has ten
    * samples above it.
    */
  val MinQueries = 100

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_s.p50" -> "s",
    "throughput_per_s" -> "1/s",
    "driver_heap_mb" -> "MB",
    "stored_bytes_per_input_byte" -> "B/B")

  val PerLayer: Seq[(String, String)] = Seq(
    "ingestion.s" -> "s", "ingestion.docs" -> "count", "ingestion.bytes" -> "B",
    "ingestion.heap_mb" -> "MB",
    "pipeline.s" -> "s", "pipeline.self_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.rule.ConvertToLocalRelation_s" -> "s",
    "exec.outside_jobs_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_write_bytes" -> "B", "exec.spill_bytes" -> "B",
    "transform.build_s" -> "s", "transform.plan_s" -> "s", "transform.exec_s" -> "s",
    "sink.target.append_s" -> "s", "sink.audit.append_s" -> "s",
    "sink.report.append_s" -> "s", "sink.ddl_s" -> "s", "sink.ddl_calls" -> "count",
    "sink.rows" -> "count", "sink.bytes" -> "B",
    "pg.tup_inserted" -> "count", "pg.xact_commit" -> "count",
    "pg.tup_returned" -> "count",
    "source.rows_read" -> "count", "source.rows_read_per_row_returned" -> "ratio",
    "trace.op_s.p50" -> "s") ++
    Seq("kpi", "pivot_status", "missing_freq", "latest_date_count",
      "by_collection_conditional", "run_counters", "preview_top100", "coverage",
      "target_filtered").flatMap(q =>
      Seq(s"dashboard.$q.plan_s" -> "s", s"dashboard.$q.exec_s" -> "s"))

  final class Samples {
    private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit = m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    def addAll(kv: Iterable[(String, Double)]): Unit = kv.foreach { case (k, v) => add(k, v) }
    def values(k: String): Seq[Double] = m.get(k).map(_.toSeq).getOrElse(Nil)
    def median(k: String): Double = Main.median(values(k))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def seconds[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t) / 1e9)
  }

  /** What one workload run reports. */
  final class Run(val workload: String, val seed: Long, val trace: Trace) {
    val e2e = new Samples
    val layer = new Samples
    val lines = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var deterministic = true
    val errors = mutable.ArrayBuffer.empty[String]
    def fail(what: String): Unit = { failed += 1; if (errors.size < 10) errors += what }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"--$k required"))
    val workload = opt("workload")
    require(Sizes.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val budget = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val (spark, sessionS) = seconds {
      val s = GraftSession.builder("graft-perfbench")
        .config("spark.local.dir", work.resolve("spark").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val run = new Run(workload, seed,
      new Trace(traced, s"$workload-seed$seed-${ProcessHandle.current().pid()}"))
    run.e2e.add("setup.session_s", sessionS)
    try {
      val bench = new Workloads(spark, run, work, budget)
      workload match {
        case "envelope_pg" => bench.etl(envelope = true)
        case "jsonl_parquet" => bench.etl(envelope = false)
        case "dashboard_pg" => bench.dashboard()
      }
    } catch {
      case t: Throwable =>
        run.attempted = math.max(run.attempted, 1)
        run.fail(s"run aborted: $t")
        t.printStackTrace()
    }
    if (traced) run.trace.write(work.resolve("trace.jsonl"))

    val correct = run.failed == 0 && run.deterministic && run.attempted > 0
    run.lines.foreach(println)
    println(f"failed_ratio ${if (run.attempted == 0) 1.0 else run.failed.toDouble / run.attempted}%.4f ratio (${run.failed}/${run.attempted})")
    run.errors.foreach(e => System.err.println(s"CHECK FAILED: $e"))
    val metrics = (if (traced) PerLayer else EndToEnd).map { case (name, unit) =>
      val v = if (traced) run.layer.median(name) else run.e2e.median(name)
      s""""$name": {"value": ${v.toString}, "unit": "$unit"}"""
    }
    println(s"""{"correct": $correct, "attempted": ${run.attempted}, "failed": ${run.failed}, "metrics": {${metrics.mkString(", ")}}}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}

/** The three workloads. Everything outside the timed calls (resets,
  * checks, heap probes) runs untimed.
  */
final class Workloads(spark: SparkSession, run: Main.Run, work: Path, budget: Double) {
  import Main._

  private val trace = run.trace
  private val audit = EtlDefaults.audit
  private val reportTables = SchemaManager.reportTables(audit.auditSchema).keySet
  private val hooks: Option[Hooks] = if (trace.enabled) Some(Hooks.install(spark)) else None
  private val size = Sizes(run.workload)

  private val app: AppConfig = {
    val schema = work.resolve("schema.sql")
    Files.write(schema, Gen.schemaSql.getBytes(UTF_8))
    EtlDefaults.appConfig.copy(runtime = EtlDefaults.runtime.copy(schemaPath = schema.toString))
  }

  private def clock(date: String): Column =
    lit(java.sql.Timestamp.from(java.time.Instant.parse(s"${date}T12:00:00Z")))

  private def bootPostgres(): LivePostgres.Handle = {
    val (h, s) = seconds(LivePostgres.get())
    // run.py stops this cluster if the JVM dies before its shutdown hook.
    Files.write(work.resolve("pg_base.txt"), h.baseDir.toString.getBytes(UTF_8))
    run.e2e.add("setup.postgres_s", s)
    h
  }

  /** Generates the input GenRepeats times into the same directory; the
    * digests must agree. Setup counts the median generation time.
    */
  private def generate(envelope: Boolean): Gen.Input = {
    val dir = work.resolve("input")
    val inputs = (1 to GenRepeats).map { _ =>
      Store.deleteTree(dir)
      val (in, s) = seconds(
        if (envelope) Gen.envelope(dir, run.seed, size) else Gen.jsonLines(dir, run.seed, size))
      run.e2e.add("setup.generate_s", s)
      in
    }
    if (inputs.map(_.digest).distinct.size != 1) {
      run.deterministic = false
      run.errors += "the same seed generated different bytes"
    }
    inputs.last
  }

  private def ingest(in: Gen.Input): ListMap[String, DataFrame] =
    in.files.get("envelope") match {
      case Some(p) => Ingestion.loadEnvelope(spark, p.toString)
      case None => ListMap(Seq("orders", "customer", Gen.UnmappedCollection).map(c =>
        c -> Ingestion.fromJsonLines(spark, in.files(c).toString)): _*)
    }

  /** Layer counters around a section: Spark listener and Catalyst
    * deltas, `pg_stat_database` deltas, and job-free wall time over the
    * given windows. No-op when untraced.
    */
  private def counters[A](store: Store, windows: => Seq[(Long, Long)])(body: => A): (A, Map[String, Double]) =
    hooks match {
      case None => (body, Map.empty)
      case Some(h) =>
        val s0 = h.snapshot(spark) ++ store.pgStats()
        val a = body
        val s1 = h.snapshot(spark) ++ settledPgStats(store)
        val delta = s1.map { case (k, v) => k -> (v - s0(k)) }
        (a, delta + ("exec.outside_jobs_s" ->
          windows.map { case (f, t) => h.outsideJobsSeconds(f, t) }.sum))
    }

  /** Postgres publishes a backend's counters when it exits; the sink's
    * connections close at the end of each task, so read until two reads
    * agree.
    */
  private def settledPgStats(store: Store): Map[String, Double] = {
    var prev = store.pgStats()
    var next = prev
    var tries = 0
    do {
      Thread.sleep(100)
      prev = next
      next = store.pgStats()
      tries += 1
    } while (next("pg.tup_inserted") != prev("pg.tup_inserted") && tries < 20)
    next
  }

  /** One landing: ingestion then Pipeline.run, each timed. Returns the
    * result and the timed seconds; records heap and layer samples.
    */
  private def land(store: Store, in: Gen.Input, date: String, heap: mutable.ArrayBuffer[Double],
      record: Boolean, execCounters: Boolean): (Pipeline.PipelineResult, Double) = {
    val traced = if (trace.enabled)
      Some(new TracedSink(store.sink, trace, audit.auditTable, reportTables)) else None
    val sink = traced.getOrElse(store.sink)
    var windows = List.empty[(Long, Long)]
    def window[A](body: => A): (A, Double) = {
      val from = System.currentTimeMillis()
      val r = seconds(body)
      windows ::= ((from, System.currentTimeMillis()))
      r
    }
    val ((result, opS), delta) = counters(store, windows) {
      val (frames, ingestS) = window(trace.span("ingestion")(ingest(in)))
      val ingestHeap = Hooks.liveHeapMb()
      heap += ingestHeap
      if (record && trace.enabled) run.layer.add("ingestion.heap_mb", ingestHeap)
      val (result, pipelineS) = window(trace.span("pipeline")(
        Pipeline.run(spark, frames, app, Gen.mapping, sink, clock(date), date)))
      heap += Hooks.liveHeapMb()
      (result, ingestS + pipelineS)
    }
    traced.filter(_ => record).foreach { ts =>
      val op = trace.op
      run.layer.addAll(delta.filter { case (k, _) =>
        k == "pg.tup_inserted" || k == "pg.xact_commit" ||
          (execCounters && (k.startsWith("exec.") || k.startsWith("catalyst.")))
      })
      run.layer.add("ingestion.s", trace.seconds(op, "ingestion"))
      run.layer.add("ingestion.docs", in.expect.totalDocs.toDouble)
      run.layer.add("ingestion.bytes", in.bytes.toDouble)
      run.layer.add("pipeline.s", trace.seconds(op, "pipeline"))
      run.layer.add("pipeline.self_s", trace.selfSeconds(op, "pipeline"))
      Seq("target", "audit", "report").foreach(k =>
        run.layer.add(s"sink.$k.append_s", trace.seconds(op, s"sink.$k.append")))
      run.layer.add("sink.ddl_s", trace.seconds(op, "sink.ddl"))
      run.layer.add("sink.ddl_calls", ts.ddlCalls.toDouble)
    }
    (result, opS)
  }

  /** Checks one landing's outputs; `dates` lists every landed date. */
  private def checkLanding(store: Store, in: Gen.Input, result: Pipeline.PipelineResult,
      dates: Seq[String]): Seq[String] = {
    val e = in.expect
    val d = dates.size.toLong
    val errs = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) errs += s"$what: expected $want, got $got"
    expect("unmapped collections", result.unmappedCollections, Set(Gen.UnmappedCollection))
    expect("missing collections", result.missingCollections, Set(Gen.AbsentCollection))
    expect("orders_t rows/errors", store.targetCounts(Gen.OrdersTable),
      (d * e.orders.docs, d * e.orders.errors))
    expect("customer_t rows/errors", store.targetCounts(Gen.CustomerTable),
      (d * e.customer.docs, d * e.customer.errors))
    def summary(n: String, c: Gen.Counts) =
      Seq(n, d * c.docs, d * c.errors, 0L, d * c.noComment, d * c.docs).map(_.toString)
    expect("audit rows, errors, missing, without comment, without extra_attr",
      store.auditSummary(), Seq(summary("customer", e.customer),
        Seq(Gen.AbsentCollection, d, 0L, d, 0L, 0L).map(_.toString), summary("orders", e.orders)))
    val collections = dates.zipWithIndex.flatMap { case (date, i) =>
      val status = if (i == 0) "NEW" else "ALREADY_EXISTS"
      Seq(Seq(date, Gen.CustomerTable, status), Seq(date, Gen.AbsentTable, "MISSING"),
        Seq(date, Gen.OrdersTable, status))
    }
    expect("missing_collections_report", store.reportRows(
      s"${audit.auditSchema}.missing_collections_report",
      Seq("ingestion_date", "object_name", "object_status")), collections)
    val attributes = dates.flatMap(date => Seq(Gen.CustomerTable, Gen.OrdersTable)
      .map(t => Seq(date, t, """["comment","extra_col"]""")))
    expect("missing_attributes_report", store.reportRows(
      s"${audit.auditSchema}.missing_attributes_report",
      Seq("ingestion_date", "object_name", "missing_columns")), attributes)
    errs.toSeq
  }

  /** Runs every dashboard query once; returns the samples. In a traced
    * run also records per-query and source samples.
    */
  private def cycle(store: Store, queries: Seq[Dashboard.Query], record: Boolean,
      execCounters: Boolean): Seq[Dashboard.Sample] = {
    var window = (0L, 0L)
    val (samples, delta) = counters(store, Seq(window)) {
      val from = System.currentTimeMillis()
      val ss = trace.span("dashboard.cycle")(queries.map(q => Dashboard.run(q, trace)))
      window = (from, System.currentTimeMillis())
      ss
    }
    if (record && trace.enabled) {
      if (execCounters) run.layer.addAll(delta.filter { case (k, _) =>
        k.startsWith("exec.") || k.startsWith("catalyst.")
      })
      samples.foreach { s =>
        run.layer.add(s"dashboard.${s.name}.plan_s", s.planS)
        run.layer.add(s"dashboard.${s.name}.exec_s", s.execS)
      }
      val read = samples.map(_.rowsRead).sum.toDouble
      run.layer.add("source.rows_read", read)
      run.layer.add("source.rows_read_per_row_returned",
        read / math.max(1L, samples.map(_.rowsOut).sum))
      run.layer.add("pg.tup_returned", delta("pg.tup_returned"))
    }
    samples
  }

  /** The standalone transform split on the workload's orders input:
    * build the frames, plan the target, execute it into a no-op sink.
    */
  private def transformSplit(in: Gen.Input): Unit = if (trace.enabled) {
    val raw = ingest(in)("orders")
    val (tc, buildS) = seconds(Transform.transformCollection(
      Ingestion.fanOutForCpu(raw), "raw", "orders", Gen.ordersMapping,
      app.runtime, audit, clock = clock("2024-03-01")))
    val (_, planS) = seconds(tc.target.queryExecution.executedPlan)
    val (_, execS) = seconds(tc.target.write.format("noop").mode("overwrite").save())
    run.layer.add("transform.build_s", buildS)
    run.layer.add("transform.plan_s", planS)
    run.layer.add("transform.exec_s", execS)
  }

  /** Traced runs: how the named span's wall time splits into self time
    * and its children, summed over the given operations.
    */
  private def accountLine(ops: Set[Int], name: String): Unit = if (trace.enabled) {
    val (total, children) = trace.breakdown(ops, name)
    val self = total - children.map(_._2).sum
    run.lines += f"trace $name $total%.3f s = self $self%.3f s" +
      children.map { case (n, v) => f" + $n $v%.3f s" }.mkString +
      s" (summed over ${ops.size} operations)"
  }

  private def setupLine(extra: String): Unit = {
    val e2e = run.e2e
    val setup = e2e.median("setup.session_s") + e2e.median("setup.postgres_s") +
      e2e.median("setup.generate_s") + e2e.median("setup.warmup_s")
    e2e.add("setup_s", setup)
    run.lines += f"setup_s $setup%.3f s (session ${e2e.median("setup.session_s")}%.3f s, " +
      f"postgres ${e2e.median("setup.postgres_s")}%.3f s, generate ${e2e.median("setup.generate_s")}%.3f s " +
      f"(median of $GenRepeats), $extra ${e2e.median("setup.warmup_s")}%.3f s)"
  }

  private def storedRatioLine(stored: Long, inBytes: Long): Unit = {
    val r = stored.toDouble / inBytes
    run.e2e.add("stored_bytes_per_input_byte", r)
    run.lines += f"stored_bytes_per_input_byte $r%.4f B/B ($stored B stored / $inBytes B input)"
  }

  private def heapLine(heap: Seq[Double]): Unit = {
    run.e2e.add("driver_heap_mb", heap.max)
    run.lines += f"driver_heap_mb ${heap.max}%.1f MB (max of ${heap.size} layer boundaries)"
  }

  /** envelope_pg / jsonl_parquet: repeated ETL runs, each from dropped
    * state, each checked.
    */
  def etl(envelope: Boolean): Unit = {
    val store: Store =
      if (envelope) new PgStore(spark, bootPostgres())
      else new ParquetStore(spark, work.resolve("out"))
    val in = generate(envelope)
    val date = "2024-03-01"
    val heap = mutable.ArrayBuffer.empty[Double]
    val queries = Dashboard.queries(spark, store, in.expect, Seq(date))

    def once(timed: Boolean): Unit = {
      store.reset()
      val (result, opS) = land(store, in, date, heap, record = timed, execCounters = true)
      try {
        // The dashboard's queries over this landing run in traced runs
        // only: they give the per-query layer samples on every workload.
        val errs = checkLanding(store, in, result, Seq(date)) ++
          (if (trace.enabled) cycle(store, queries, record = timed, execCounters = false)
            .flatMap(s => s.error.map(m => s"${s.name}: $m")) else Nil)
        if (timed) {
          run.attempted += 1
          if (errs.nonEmpty) run.fail(errs.mkString("; "))
          else {
            run.e2e.add("op_s", opS)
          }
          val stored = store.storedBytes()
          run.e2e.add("stored", stored.toDouble)
          if (trace.enabled) {
            val e = in.expect
            // Landed rows: both targets, one audit row per mapped document
            // plus the absent collection's, and 3 + 2 report rows.
            run.layer.add("sink.rows", (2 * e.mappedDocs + 1 + 5).toDouble)
            run.layer.add("sink.bytes", stored.toDouble)
          }
        } else if (errs.nonEmpty) {
          run.attempted += 1
          run.fail("warmup: " + errs.mkString("; "))
        }
      } finally {
        result.release()
        spark.catalog.clearCache()
      }
    }

    val (_, warmupS) = seconds((1 to WarmupRuns).foreach { _ =>
      val (_, s) = seconds(once(timed = false))
      System.err.println(f"perfbench: warmup run $s%.3f s")
    })
    run.e2e.add("setup.warmup_s", warmupS)
    setupLine(s"$WarmupRuns warmup runs")
    transformSplit(in)

    val start = System.nanoTime()
    var op = 0
    while (op < MinEtlRuns || (System.nanoTime() - start) / 1e9 < budget) {
      op += 1
      trace.op = op
      try once(timed = true)
      catch {
        case t: Throwable =>
          run.attempted += 1
          run.fail(s"run $op threw $t")
      }
    }

    val ops = run.e2e.values("op_s")
    val opMedian = median(ops)
    run.e2e.add("op_s.p50", opMedian)
    run.layer.add("trace.op_s.p50", opMedian)
    val docsPerS = median(ops.map(s => in.expect.totalDocs / s))
    run.e2e.add("throughput_per_s", docsPerS)
    run.lines += f"docs_per_s $docsPerS%.1f doc/s (median of ${ops.size} runs of ${in.expect.totalDocs} documents, ${in.bytes} B)"
    run.lines += f"op_s.p50 $opMedian%.4f s (ingestion + Pipeline.run, n=${ops.size}: ${ops.map(s => f"$s%.3f").mkString(" ")})"
    run.lines += f"throughput_per_s $docsPerS%.1f 1/s (= docs_per_s)"
    heapLine(heap.toSeq)
    storedRatioLine(median(run.e2e.values("stored")).toLong, in.bytes)
    accountLine((1 to op).toSet, "pipeline")
  }

  /** dashboard_pg: three landed dates, then a closed loop of the
    * dashboard's queries with one client.
    */
  def dashboard(): Unit = {
    val store = new PgStore(spark, bootPostgres())
    val in = generate(envelope = true)
    val dates = Seq("2024-03-01", "2024-03-02", "2024-03-03")
    val heap = mutable.ArrayBuffer.empty[Double]
    val queries = Dashboard.queries(spark, store, in.expect, dates)

    val (_, loadS) = seconds {
      store.reset()
      var last: Option[Pipeline.PipelineResult] = None
      dates.zipWithIndex.foreach { case (date, i) =>
        trace.op = -1 - i
        val (result, _) = land(store, in, date, heap, record = true, execCounters = false)
        last.foreach(_.release())
        last = Some(result)
      }
      val errs = checkLanding(store, in, last.get, dates)
      last.foreach(_.release())
      spark.catalog.clearCache()
      if (errs.nonEmpty) { run.attempted += 1; run.fail("landing: " + errs.mkString("; ")) }
    }
    if (trace.enabled) {
      val stored = store.storedBytes().toDouble
      run.layer.add("sink.rows", (3 * (2 * in.expect.mappedDocs + 1 + 5)).toDouble)
      run.layer.add("sink.bytes", stored)
    }
    val (_, warmupS) = seconds(cycle(store, queries, record = false, execCounters = false))
    run.e2e.add("setup.warmup_s", loadS + warmupS)
    setupLine("3 landings + 1 warmup cycle")
    transformSplit(in)
    heap += Hooks.liveHeapMb()

    val samples = mutable.ArrayBuffer.empty[Dashboard.Sample]
    val start = System.nanoTime()
    val MinCycles = (MinQueries + queries.size - 1) / queries.size
    var c = 0
    while (c < MinCycles || (System.nanoTime() - start) / 1e9 < budget) {
      c += 1
      trace.op = c
      val cs = cycle(store, queries, record = true, execCounters = true)
      cs.foreach { s =>
        run.attempted += 1
        s.error.foreach(m => run.fail(s"${s.name}: $m"))
      }
      samples ++= cs
      // Spark keeps per-query state on the driver, so the heap grows with
      // the number of queries run: probe after a fixed number of cycles.
      if (c == MinCycles) heap += Hooks.liveHeapMb()
    }

    val secs = samples.map(_.seconds).toSeq
    val p50 = median(secs)
    val p90 = percentile(secs, 0.9)
    val qps = secs.size / secs.sum
    run.e2e.add("op_s.p50", p50)
    run.e2e.add("throughput_per_s", qps)
    run.layer.add("trace.op_s.p50", p50)
    run.lines += f"query_s.p50 $p50%.5f s (n=${secs.size})"
    run.lines += f"query_s.p90 $p90%.5f s (n=${secs.size}, ${secs.count(_ > p90)} above)"
    run.lines += f"queries_per_s $qps%.2f 1/s (closed loop, 1 client, $c cycles of ${queries.size} queries)"
    queries.foreach { q =>
      val qs = samples.filter(_.name == q.name).map(_.seconds).toSeq
      run.lines += f"  ${q.name}%-26s p50 ${median(qs)}%.5f s (n=${qs.size})"
    }
    heapLine(heap.toSeq)
    storedRatioLine(store.storedBytes(), 3 * in.bytes)
    accountLine(dates.indices.map(-1 - _).toSet, "pipeline")
    accountLine((1 to c).toSet, "dashboard.cycle")
  }
}
