package graft.etl

import java.util.concurrent.{ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.immutable.ListMap
import scala.util.{Failure, Try}

import org.apache.spark.sql.{classic, Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** The batch ETL pipeline (reference `etl_pipeline/pipeline.py:21-297`,
  * lifecycle traced in SURVEY §3.1), re-expressed as dataflow:
  *
  *  - stages 1–3 (config validation, schema.sql scan, coverage diffs)
  *    stay driver-side planning over tiny sets, and every table probe
  *    and ensure of the run is one [[TableSink.prepare]] call;
  *  - stage 5's per-document interpret loop becomes ONE lazily-planned
  *    DataFrame per collection (`Transform.transformCollection`), landed
  *    through a [[TableSink]] as partition-parallel batched appends, the
  *    collections concurrently from a bounded driver pool;
  *  - stage 6's report comes from metrics observed on each collection's
  *    landing frame (one `Observation` per collection: document, error
  *    and insert-failure counts, and which mapped columns any document
  *    misses), so the audit rows are written once and never re-read
  *    (SURVEY §7.4.6); its rows are driver-local frames, which
  *    [[PgWireSink]] writes without a Spark job.
  *
  * Per-document transactionality is intentionally replaced by
  * validate-before-write: all cast/constraint failures are expression-
  * detectable, so `processing_status` is decided before the sink sees a
  * row; residual DB-side failures have batch granularity
  * (SURVEY §7.4.1).
  */
object Pipeline {

  /** One collection's run counters (A8, `reporting.py:5-28`): documents
    * landed or rejected as errors, and documents whose target table is
    * missing from the database (insert failures, not processed).
    */
  final case class CollectionCounters(
      collection: String, processed: Long, errors: Long, insertFailures: Long) {
    def successful: Long = math.max(processed - errors, 0L)
  }

  /** The run report: sets from the planning phase plus the counters of
    * every mapped collection that had documents, in input order.
    */
  final case class PipelineResult(
      ingestionDate: String,
      missingCollections: Set[String],
      unmappedCollections: Set[String],
      missingTablesInput: Set[String],
      missingTablesDb: Set[String],
      objectStatuses: Map[String, String],
      counters: Seq[CollectionCounters]) {
    /** No-op: a run holds no cached frames once it returns. Kept only
      * because `perfbench/` calls it; delete it with the next change to
      * the benchmark.
      */
    def release(): Unit = ()
  }

  /** Pinned run timestamp: ONE driver-side instant, so `ingested_at` is
    * identical across the target append, the audit append, and any later
    * evaluation of the returned frames (`current_timestamp()` would
    * re-evaluate at each action's query time).
    */
  private def pinnedClock(): Column =
    lit(java.sql.Timestamp.from(java.time.Instant.now()))

  /** Runs the pipeline over `input`, one raw-document frame (column
    * `raw`) per collection, in three driver phases:
    *
    *  1. one [[TableSink.prepare]]: probe every mapped target table,
    *     ensure the audit and report tables and every mapped table
    *     schema.sql does not declare;
    *  2. land every mapped collection through [[landCollection]],
    *     concurrently on a pool of `min(mapped collections,
    *     defaultParallelism)` threads that carry the caller's session
    *     and local properties. The MISSING audit rows of schema
    *     tables absent from the input ride in the first mapped
    *     collection's frame;
    *  3. land the two report tables.
    *
    * The frames are taken as they arrive: those of [[Ingestion]] are
    * already split for the session's cores, and the run plans no
    * repartition. Counters come back in input order. If a landing
    * fails, the run waits for every landing it started, starts no
    * other, writes no report row and rethrows the failure as thrown.
    * With a `runKey`, collection `c` lands as batch `runKey/c` and the
    * report rows as batch `runKey/report`: a re-run of the same input
    * appends no row twice on either sink.
    */
  def run(
      spark: SparkSession,
      input: ListMap[String, DataFrame],
      app: AppConfig,
      mapping: MappingConfig,
      sink: TableSink,
      clock: Column = null,
      ingestionDate: String = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString,
      runKey: Option[String] = None): PipelineResult = {
    val runClock = Option(clock).getOrElse(pinnedClock())

    EtlConfig.validateMappingTypes(mapping, app.runtime.typeMappings)
    val audit = app.audit
    val ac = audit.auditColumns

    // --- planning (pipeline.py:43-98) ------------------------------------
    val schemaTables = SchemaScript.loadSchemaTables(app.runtime.schemaPath)
    val normalizedAuditTable = SchemaScript.normalizeTableName(audit.auditTable)
    val schemaTablesNoAudit = schemaTables.filter { t =>
      val (schema, _) = SchemaScript.splitTableName(t)
      !schema.equalsIgnoreCase(audit.auditSchema) && t != normalizedAuditTable
    }

    val missingCollections = mapping.collections.keySet.toSet.diff(input.keySet)
    val unmapped = input.keySet.diff(mapping.collections.keySet)
    val mapped = input.toSeq.collect {
      case (name, raw) if mapping.collections.contains(name) => (name, raw, mapping.collections(name))
    }

    val tableLookup = mapping.collections.map { case (name, cc) =>
      SchemaScript.normalizeTableName(cc.targetTable) -> cc.targetTable
    }
    val tableToCollection = mapping.collections.map { case (name, cc) =>
      SchemaScript.normalizeTableName(cc.targetTable) -> name
    }
    val inputTables = mapped.map(m => SchemaScript.normalizeTableName(m._3.targetTable)).toSet
    val missingInputTables = schemaTablesNoAudit.diff(inputTables)
    def inSchema(cc: CollectionMapping) =
      schemaTablesNoAudit.contains(SchemaScript.normalizeTableName(cc.targetTable))

    // --- catalog (pipeline.py:311-338, and each collection's probe and
    // auto-create, :140-160) in one sink call -----------------------------
    val newTables = mapped.map(_._3).filterNot(inSchema)
      .distinctBy(cc => SchemaScript.normalizeTableName(cc.targetTable))
      .map(cc => cc.targetTable -> SchemaManager.buildTableColumns(
        cc, app.runtime.typeMappings, audit.businessColumns.toSeq, audit.businessColumnTypes))
    val existed = sink.prepare(mapped.map(_._3.targetTable).distinct,
      ((audit.auditTable -> SchemaManager.buildAuditTableColumns(audit)) +:
        SchemaManager.reportTables(audit.auditSchema).toSeq) ++ newTables)

    var objectStatuses = Map.empty[String, String]

    // MISSING rows for schema tables absent from the input
    // (pipeline.py:103-126): audit-only rows landed with the first mapped
    // collection's, or alone when no mapped collection is in the input
    val missingRows = Option.when(missingInputTables.nonEmpty) {
      import spark.implicits._
      val rows = missingInputTables.toSeq.sorted.map { t =>
        (tableToCollection.get(t).orNull, tableLookup.getOrElse(t, t))
      }
      objectStatuses ++= rows.map { case (_, obj) =>
        obj -> audit.objectStatusValues("missing")
      }
      Landing.auditOnly(rows.toDF("__coll", "__obj").select(
        runClock.as(ac("ingested_at")),
        lit(null).cast("string").as(ac("object_id")),
        col("__coll").as(ac("source_collection")),
        col("__obj").as(ac("object_name")),
        lit(audit.objectStatusValues("missing")).as(ac("object_status")),
        lit(null).cast("array<string>").as(ac("missing_columns")),
        lit(audit.statusValues("missing")).as(ac("processing_status"))))
    }

    // Each collection's view of its table, in input order, as the
    // reference's one-at-a-time probe saw it: a table this run creates
    // exists for every later collection mapped to it.
    var created = Set.empty[String]
    val landings = mapped.zipWithIndex.map { case ((collectionName, rawDf, cc), i) =>
      val normalizedTable = SchemaScript.normalizeTableName(cc.targetTable)
      val tableExists = existed(cc.targetTable) || created(normalizedTable)
      val objectStatus =
        if (tableExists) audit.objectStatusValues("already_exists")
        else if (!inSchema(cc)) audit.objectStatusValues("new")
        else audit.objectStatusValues("missing")
      objectStatuses += cc.targetTable -> objectStatus
      if (!inSchema(cc)) created += normalizedTable
      val landed = tableExists || !inSchema(cc)
      () => landCollection(rawDf, collectionName, cc, app.runtime, audit, sink, runClock,
        objectStatus, landed, missingRows.filter(_ => i == 0),
        runKey.map(k => s"$k/$collectionName"))
    }
    val missingTablesDb = mapped.map(_._3)
      .filter(cc => inSchema(cc) && !existed(cc.targetTable)).map(_.targetTable).toSet

    // --- per-collection transform + load (pipeline.py:128-284) ------------
    val outcomes = concurrently(spark, landings)
    if (mapped.isEmpty)
      missingRows.foreach(sink.appendCollection(_, None, audit.auditTable, runKey.map(_ + "/")))

    // --- K5 report tables (ui/run_pipeline.py:395-433) --------------------
    // audit-only frames into the report table: one write each (from the
    // driver on Postgres), claimed as batch `runKey/report`
    def report(table: String, rows: DataFrame): Unit =
      sink.appendCollection(Landing.auditOnly(rows.select(
        lit(ingestionDate).cast("date").as("ingestion_date") +:
          rows.columns.toSeq.map(col): _*)),
        None, s"${audit.auditSchema}.$table", runKey.map(_ + "/report"))
    if (objectStatuses.nonEmpty) {
      import spark.implicits._
      report("missing_collections_report",
        objectStatuses.toSeq.sorted.toDF("object_name", "object_status"))
    }
    // appended whenever audit rows were, even when no column is missing
    if (missingInputTables.nonEmpty || mapped.nonEmpty) {
      import spark.implicits._
      // A9: per-object set-union of missing columns, only objects with any
      val missingByObject = mapped.map(_._3.targetTable).zip(outcomes.map(_._2))
        .groupMapReduce(_._1)(_._2.toSet)(_ ++ _).filter(_._2.nonEmpty)
      report("missing_attributes_report",
        missingByObject.toSeq.map { case (o, cs) => (o, cs.toSeq) }
          .toDF("object_name", "missing_columns")
          .select(col("object_name"), array_sort(col("missing_columns")).as("missing_columns")))
    }

    PipelineResult(
      ingestionDate = ingestionDate,
      missingCollections = missingCollections,
      unmappedCollections = unmapped,
      missingTablesInput = missingInputTables.map(t => tableLookup.getOrElse(t, t)),
      missingTablesDb = missingTablesDb,
      objectStatuses = objectStatuses,
      counters = outcomes.flatMap(_._1))
  }

  /** The collection step of a run, shared by [[Pipeline.run]] and the
    * streaming plane: transforms `raw` (column `raw`) and lands it with
    * one [[TableSink.appendCollection]] under `batchId`, with `extra`
    * audit-only rows riding in its frame. `landed` is false when the
    * target table is missing from the database: every row then lands
    * in the audit table only, as `processing_status = missing`.
    * Returns the collection's counters (None for an empty collection:
    * no counters row, as in A8's group-by) and the mapped columns any
    * of its documents misses.
    */
  def landCollection(raw: DataFrame, collection: String, cm: CollectionMapping,
      runtime: RuntimeConfig, audit: AuditSettings, sink: TableSink, clock: Column,
      objectStatus: String, landed: Boolean, extra: Option[DataFrame],
      batchId: Option[String]): (Option[CollectionCounters], Seq[String]) = {
    def auditCol(key: String) = Landing.auditColumn(audit.auditColumns(key))
    val tc = Transform.transformCollection(
      raw, "raw", collection, cm, runtime, audit, objectStatus = objectStatus, clock = clock)
    val rows =
      if (landed) tc.rows
      else // rows can't land → processing_status=missing (pipeline.py:250-252)
        tc.rows.withColumn(auditCol("processing_status"), lit(audit.statusValues("missing")))

    // The report's inputs, observed below the union with any `extra`
    // rows (so they count only this collection's): bounded by the
    // mapping's size, whatever the document count.
    val status = col(auditCol("processing_status"))
    val mappedColumns = cm.mappings.values.map(_.column).toSeq.distinct
    val obs = Observation()
    val observed = rows.observe(obs,
      count(lit(1)).as("docs"),
      count(when(status === audit.statusValues("error"), 1)).as("errors") +:
        count(when(status === audit.statusValues("missing"), 1))
          .as("insert_failures") +:
        mappedColumns.indices.map(i => coalesce(
          max(array_contains(col(auditCol("missing_columns")), mappedColumns(i))),
          lit(false)).as(s"missing_$i")): _*)
    sink.appendCollection(
      extra.fold(observed)(observed.unionByName(_, allowMissingColumns = true)),
      Option.when(landed)(cm.targetTable), audit.auditTable, batchId)
    val m = obs.get
    val docs = m("docs").asInstanceOf[Long]
    val insertFailures = m("insert_failures").asInstanceOf[Long]
    (Option.when(docs > 0)(CollectionCounters(collection,
      docs - insertFailures, m("errors").asInstanceOf[Long], insertFailures)),
      mappedColumns.indices.filter(i => m(s"missing_$i").asInstanceOf[Boolean])
        .map(mappedColumns))
  }

  /** Runs `tasks` on a pool of `min(tasks, defaultParallelism)` threads,
    * each with the caller's active session and local properties, and
    * returns their results in order. Returns only after every task that
    * started has ended; once one fails no queued task starts, and the
    * first failure in input order is rethrown as it was thrown.
    */
  private def concurrently[A](spark: SparkSession, tasks: Seq[() => A]): Seq[A] =
    if (tasks.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(
        math.min(tasks.size, spark.sparkContext.defaultParallelism))
      val failed = new AtomicBoolean
      try {
        val futures = tasks.map(task => SQLExecution.withThreadLocalCaptured(
            spark.asInstanceOf[classic.SparkSession], pool) {
          if (failed.get) None
          else try Some(task()) catch { case e: Throwable => failed.set(true); throw e }
        })
        val outcomes = futures.map(f => Try(f.get()))
        outcomes.collectFirst {
          case Failure(e: ExecutionException) => throw e.getCause
          case Failure(e) => throw e
        }
        outcomes.flatMap(_.get)
      } finally pool.shutdown()
    }

  /** File-based overload — the reference's single-function contract
    * (`etl_pipeline/__init__.py`): `(input, app_config, mapping_config)`.
    */
  def run(
      spark: SparkSession,
      inputPath: String,
      appConfigPath: String,
      mappingConfigPath: String,
      sink: TableSink): PipelineResult = {
    val appTree = EtlConfig.loadRaw(appConfigPath)
    val app = EtlConfig.appConfig(appTree)
    val mapping = EtlConfig.mappingConfig(EtlConfig.loadRaw(mappingConfigPath))
    run(spark, Ingestion.loadEnvelope(spark, inputPath), app, mapping, sink)
  }
}
