package graft.etl

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The batch ETL pipeline (reference `etl_pipeline/pipeline.py:21-297`,
  * lifecycle traced in SURVEY §3.1), re-expressed as dataflow:
  *
  *  - stages 1–3 (config validation, schema.sql scan, coverage diffs)
  *    stay driver-side planning over tiny sets;
  *  - stage 5's per-document interpret loop becomes ONE lazily-planned
  *    DataFrame per collection (`Transform.transformCollection`), written
  *    through a [[TableSink]] as partition-parallel batched appends;
  *  - stage 6's report comes from metrics observed on each collection's
  *    audit append (one `Observation` per collection: document, error
  *    and insert-failure counts, and which mapped columns any document
  *    misses), so the audit rows are written once and never re-read
  *    (SURVEY §7.4.6).
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
    * `raw`) per collection. The frames are taken as they arrive: those
    * of [[Ingestion]] are already split for the session's cores, and
    * the run plans no repartition. Each collection's target append
    * parses, caches and writes in one stage, and its audit append reads
    * that cache; the MISSING audit rows of schema tables absent from the
    * input ride along with the first mapped collection's audit append.
    */
  def run(
      spark: SparkSession,
      input: ListMap[String, DataFrame],
      app: AppConfig,
      mapping: MappingConfig,
      sink: TableSink,
      clock: Column = null,
      ingestionDate: String = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString)
      : PipelineResult = {
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

    val expectedCollections = mapping.collections.keySet
    val inputCollections = input.keySet
    val missingCollections = expectedCollections.toSet.diff(inputCollections)

    val tableLookup = mapping.collections.map { case (name, cc) =>
      SchemaScript.normalizeTableName(cc.targetTable) -> cc.targetTable
    }
    val tableToCollection = mapping.collections.map { case (name, cc) =>
      SchemaScript.normalizeTableName(cc.targetTable) -> name
    }
    val inputTables = input.keys.flatMap(mapping.collections.get)
      .map(cc => SchemaScript.normalizeTableName(cc.targetTable)).toSet
    val missingInputTables = schemaTablesNoAudit.diff(inputTables)

    // --- audit-table ensure (pipeline.py:311-338) -------------------------
    // createTable is create-if-missing on every sink: no existence probe.
    sink.createSchema(audit.auditSchema)
    sink.createTable(audit.auditTable, SchemaManager.buildAuditTableColumns(audit))
    for ((table, cols) <- SchemaManager.reportTables(audit.auditSchema))
      sink.createTable(table, cols)

    var objectStatuses = Map.empty[String, String]
    var missingTablesDb = Set.empty[String]
    var unmapped = Set.empty[String]
    var counters = Vector.empty[CollectionCounters]
    var missingByObject = Map.empty[String, Set[String]]

    // MISSING rows for schema tables absent from the input
    // (pipeline.py:103-126): appended with the first mapped collection's
    // audit rows, or alone when no mapped collection is in the input
    var pendingMissing = Option.empty[DataFrame]
    if (missingInputTables.nonEmpty) {
      import spark.implicits._
      val rows = missingInputTables.toSeq.sorted.map { t =>
        (tableToCollection.get(t).orNull, tableLookup.getOrElse(t, t))
      }
      val missingDf = rows.toDF("__coll", "__obj").select(
        runClock.as(ac("ingested_at")),
        lit(null).cast("string").as(ac("object_id")),
        col("__coll").as(ac("source_collection")),
        col("__obj").as(ac("object_name")),
        lit(audit.objectStatusValues("missing")).as(ac("object_status")),
        lit(null).cast("array<string>").as(ac("missing_columns")),
        lit(audit.statusValues("missing")).as(ac("processing_status")))
      pendingMissing = Some(missingDf)
      objectStatuses ++= rows.map { case (_, obj) =>
        obj -> audit.objectStatusValues("missing")
      }
    }

    // --- per-collection transform + load (pipeline.py:128-284) ------------
    for ((collectionName, rawDf) <- input) {
      mapping.collections.get(collectionName) match {
        case None =>
          unmapped += collectionName
        case Some(cc) =>
          val normalizedTable = SchemaScript.normalizeTableName(cc.targetTable)
          val tableInSchema = schemaTablesNoAudit.contains(normalizedTable)
          var tableExists = sink.tableExists(cc.targetTable)

          val objectStatus =
            if (tableExists) audit.objectStatusValues("already_exists")
            else if (!tableInSchema) audit.objectStatusValues("new")
            else audit.objectStatusValues("missing")
          objectStatuses += cc.targetTable -> objectStatus

          if (!tableExists && !tableInSchema) {
            val (schema, _) = SchemaScript.splitTableName(cc.targetTable)
            sink.createSchema(schema)
            sink.createTable(cc.targetTable, SchemaManager.buildTableColumns(
              cc, app.runtime.typeMappings,
              audit.businessColumns.toSeq, audit.businessColumnTypes))
            tableExists = true
          }
          if (tableInSchema && !tableExists)
            missingTablesDb += cc.targetTable

          val tc = Transform.transformCollection(
            rawDf, "raw", collectionName, cc,
            app.runtime, audit, objectStatus = objectStatus, clock = runClock)

          val auditRows =
            if (tableExists) tc.audit
            else
              // rows can't land → processing_status=missing (pipeline.py:250-252)
              tc.audit.withColumn(
                ac("processing_status"), lit(audit.statusValues("missing")))

          // The report's inputs, observed on the audit append itself
          // (below the union with any MISSING rows, so they count only
          // this collection's rows): bounded by the mapping's size,
          // whatever the document count.
          val status = col(ac("processing_status"))
          val mappedColumns = cc.mappings.values.map(_.column).toSeq.distinct
          val obs = Observation()
          val observed = auditRows.observe(obs,
            count(lit(1)).as("docs"),
            count(when(status === audit.statusValues("error"), 1)).as("errors") +:
              count(when(status === audit.statusValues("missing"), 1))
                .as("insert_failures") +:
              mappedColumns.indices.map(i => coalesce(
                max(array_contains(col(ac("missing_columns")), mappedColumns(i))),
                lit(false)).as(s"missing_$i")): _*)
          val auditAppend = pendingMissing.fold(observed)(observed.unionByName(_))
          pendingMissing = None
          tc.withSharedCached {
            if (tableExists) sink.append(tc.target, cc.targetTable)
            sink.append(auditAppend, audit.auditTable)
          }
          val m = obs.get
          val docs = m("docs").asInstanceOf[Long]
          val insertFailures = m("insert_failures").asInstanceOf[Long]
          // an empty collection has no counters row, as in A8's group-by
          if (docs > 0) counters :+= CollectionCounters(collectionName,
            docs - insertFailures, m("errors").asInstanceOf[Long], insertFailures)
          val missing = mappedColumns.indices
            .filter(i => m(s"missing_$i").asInstanceOf[Boolean]).map(mappedColumns)
          if (missing.nonEmpty) missingByObject = missingByObject.updated(
            cc.targetTable, missingByObject.getOrElse(cc.targetTable, Set.empty) ++ missing)
      }
    }

    pendingMissing.foreach(sink.append(_, audit.auditTable))

    // --- K5 report tables (ui/run_pipeline.py:395-433) --------------------
    if (objectStatuses.nonEmpty) {
      import spark.implicits._
      val statusDf = objectStatuses.toSeq.sorted.toDF("object_name", "object_status")
        .select(
          lit(ingestionDate).cast("date").as("ingestion_date"),
          col("object_name"), col("object_status"))
      sink.append(statusDf, s"${audit.auditSchema}.missing_collections_report")
    }
    // appended whenever audit rows were, even when no column is missing
    if (missingInputTables.nonEmpty || input.keys.exists(mapping.collections.contains)) {
      import spark.implicits._
      // A9: per-object set-union of missing columns, only objects with any;
      // one partition, so the report lands in one COPY transaction
      val missingAttrs = missingByObject.toSeq.map { case (o, cs) => (o, cs.toSeq) }
        .toDF("object_name", "missing_columns").coalesce(1)
        .select(
          lit(ingestionDate).cast("date").as("ingestion_date"),
          col("object_name"), array_sort(col("missing_columns")).as("missing_columns"))
      sink.append(missingAttrs, s"${audit.auditSchema}.missing_attributes_report")
    }

    PipelineResult(
      ingestionDate = ingestionDate,
      missingCollections = missingCollections,
      unmappedCollections = unmapped,
      missingTablesInput = missingInputTables.map(t => tableLookup.getOrElse(t, t)),
      missingTablesDb = missingTablesDb,
      objectStatuses = objectStatuses,
      counters = counters)
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
