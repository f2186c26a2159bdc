package graft.etl

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The batch ETL pipeline (reference `etl_pipeline/pipeline.py:21-297`,
  * lifecycle traced in SURVEY §3.1), re-expressed as dataflow:
  *
  *  - stages 1–3 (config validation, schema.sql scan, coverage diffs)
  *    stay driver-side planning over tiny sets;
  *  - stage 5's per-document interpret loop becomes ONE lazily-planned
  *    DataFrame per collection (`Transform.transformCollection`), written
  *    through a [[TableSink]] as partition-parallel batched appends;
  *  - stage 6's report derives every number from the audit rows (the
  *    single source of truth) instead of mutated counters
  *    (SURVEY §7.4.6).
  *
  * Per-document transactionality is intentionally replaced by
  * validate-before-write: all cast/constraint failures are expression-
  * detectable, so `processing_status` is decided before the sink sees a
  * row; residual DB-side failures have batch granularity
  * (SURVEY §7.4.1).
  */
object Pipeline {

  /** The run report — sets from the planning phase plus the audit rows
    * and the per-collection counters (A8) derived from them.
    *
    * The per-collection audit frames stay persisted (they back `audit`,
    * `counters` and the report tables without re-running the transform);
    * call [[PipelineResult.release]] when done with them.
    */
  final case class PipelineResult(
      ingestionDate: String,
      missingCollections: Set[String],
      unmappedCollections: Set[String],
      missingTablesInput: Set[String],
      missingTablesDb: Set[String],
      objectStatuses: Map[String, String],
      audit: Option[DataFrame],
      counters: Option[DataFrame],
      private[etl] val persisted: Seq[DataFrame] = Nil) {
    /** Unpersist the cached audit frames held by this result. */
    def release(): Unit = persisted.foreach(_.unpersist())
  }

  /** Pinned run timestamp: ONE driver-side instant, so `ingested_at` is
    * identical across the target append, the audit append, and any later
    * evaluation of the returned frames (`current_timestamp()` would
    * re-evaluate at each action's query time).
    */
  private def pinnedClock(): Column =
    lit(java.sql.Timestamp.from(java.time.Instant.now()))

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
    sink.createSchema(audit.auditSchema)
    if (!sink.tableExists(audit.auditTable))
      sink.createTable(audit.auditTable, SchemaManager.buildAuditTableColumns(audit))
    for ((table, cols) <- SchemaManager.reportTables(audit.auditSchema))
      if (!sink.tableExists(table)) sink.createTable(table, cols)

    var objectStatuses = Map.empty[String, String]
    var missingTablesDb = Set.empty[String]
    var unmapped = Set.empty[String]
    var auditFrames = List.empty[DataFrame]
    var counterFrames = List.empty[DataFrame]
    var persistedFrames = List.empty[DataFrame]

    // Everything below runs under a failure handler: when an exception
    // propagates, every cache registered in persistedFrames so far is
    // released — otherwise MEMORY_AND_DISK entries accumulate across
    // failed runs in a long-lived session and the caller never gets a
    // PipelineResult to call release() on (round-4 advice). On success
    // the caller owns the frames via [[PipelineResult.release]].
    def body(): PipelineResult = {

    // MISSING rows for schema tables absent from the input (pipeline.py:103-126)
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
      sink.append(missingDf, audit.auditTable)
      auditFrames ::= missingDf
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

          // Fan the transform plane out when the input arrives in fewer
          // splits than the session has cores (a one-file JSONL drop
          // plans ONE split; Spark sizes splits by bytes, and this
          // plane's cost is per-row CPU). No-op on well-split inputs,
          // envelopes included: loadEnvelope stages every collection in
          // defaultParallelism parts — see Ingestion.fanOutForCpu.
          val tc = Transform.transformCollection(
            Ingestion.fanOutForCpu(rawDf), "raw", collectionName, cc,
            app.runtime, audit, objectStatus = objectStatus, clock = runClock)

          val auditRows =
            if (tableExists) tc.audit
            else
              // rows can't land → processing_status=missing (pipeline.py:250-252)
              tc.audit.withColumn(
                ac("processing_status"), lit(audit.statusValues("missing")))

          // One materialization of the scan+parse+cast projection feeds
          // the target append, the audit append, and (via the persisted
          // audit rows) the report derivation — at 100 TB the unpersisted
          // plan would re-run the dominant scan+parse per consumer.
          tc.shared.persist(StorageLevel.MEMORY_AND_DISK)
          auditRows.persist(StorageLevel.MEMORY_AND_DISK)
          // Registered BEFORE the appends: if one throws, the failure
          // handler below still releases this frame's cache.
          persistedFrames ::= auditRows
          try {
            if (tableExists) sink.append(tc.target, cc.targetTable)
            sink.append(auditRows, audit.auditTable) // also fills auditRows' cache
          } finally tc.shared.unpersist()
          auditFrames ::= auditRows
          counterFrames ::= auditRows.select(
            lit(collectionName).as("collection"),
            col(ac("processing_status")).as("status"))
      }
    }

    // --- report derivation (reporting.py via A8 expressions) --------------
    val counters = counterFrames match {
      case Nil => None
      case fs =>
        val all = fs.reduce(_ unionByName _)
        Some(graft.analytics.AuditAnalytics.runCounters(
          all, col("collection"),
          errorCond = col("status") === audit.statusValues("error"),
          insertFailureCond = col("status") === audit.statusValues("missing")))
    }

    // --- K5 report tables (ui/run_pipeline.py:395-433) --------------------
    if (objectStatuses.nonEmpty) {
      import spark.implicits._
      val statusDf = objectStatuses.toSeq.sorted.toDF("object_name", "object_status")
        .select(
          lit(ingestionDate).cast("date").as("ingestion_date"),
          col("object_name"), col("object_status"))
      sink.append(statusDf, s"${audit.auditSchema}.missing_collections_report")
    }
    auditFrames.reverse.reduceOption(_ unionByName _).foreach { allAudit =>
      // A9: per-object set-union of missing columns, only objects with any
      val missingByObject = allAudit
        .filter(size(col(ac("missing_columns"))) > 0)
        .groupBy(col(ac("object_name")).as("object_name"))
        .agg(array_sort(array_distinct(flatten(
          collect_list(col(ac("missing_columns")))))).as("missing_columns"))
        .select(
          lit(ingestionDate).cast("date").as("ingestion_date"),
          col("object_name"), col("missing_columns"))
      sink.append(missingByObject, s"${audit.auditSchema}.missing_attributes_report")
    }

    PipelineResult(
      ingestionDate = ingestionDate,
      missingCollections = missingCollections,
      unmappedCollections = unmapped,
      missingTablesInput = missingInputTables.map(t => tableLookup.getOrElse(t, t)),
      missingTablesDb = missingTablesDb,
      objectStatuses = objectStatuses,
      audit = auditFrames.reverse.reduceOption(_ unionByName _),
      counters = counters,
      persisted = persistedFrames.reverse)
    }

    try body()
    catch {
      case e: Throwable =>
        persistedFrames.foreach(df =>
          try df.unpersist() catch { case _: Throwable => () })
        throw e
    }
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
