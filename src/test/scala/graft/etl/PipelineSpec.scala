package graft.etl

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** End-to-end golden run: envelope JSON → shape validation → transform →
  * ParquetSink target/audit/report tables → report derivation, with a
  * pinned clock so outputs are byte-stable. Plus the K2 DDL golden
  * against the reference's `sql/schema.sql` shape.
  */
class PipelineSpec extends AnyFunSuite with SparkTestSession {

  private val customersMapping = CollectionMapping(
    "public.customers", "raw_json", "customer_id", ListMap(
      "customer_id" -> AttributeMapping("customer_id", "integer"),
      "name" -> AttributeMapping("name", "text"),
      "signup_date" -> AttributeMapping("signup_date", "date"),
      "email" -> AttributeMapping("email", "text")))

  private val ordersMapping = CollectionMapping(
    "public.orders", "raw_json", "order_id", ListMap(
      "order_id" -> AttributeMapping("order_id", "integer"),
      "customer_id" -> AttributeMapping("customer_id", "integer"),
      "order_date" -> AttributeMapping("order_date", "date"),
      "amount" -> AttributeMapping("amount", "numeric")))

  /** A parquet sink that records the executed plan of every frame it
    * appends, from whichever landing thread appends it.
    */
  private final class RecordingSink(base: String) extends TableSink {
    val parquet = new ParquetSink(base)
    val plans = ArrayBuffer.empty[(String, SparkPlan)]
    def tableExists(t: String) = parquet.tableExists(t)
    def createSchema(s: String) = parquet.createSchema(s)
    def createTable(t: String, c: Seq[ColumnDef]) = parquet.createTable(t, c)
    def append(df: DataFrame, t: String): Unit = {
      parquet.append(df, t)
      val plan = df.queryExecution.executedPlan
      plans.synchronized { plans += t -> plan }
    }
  }

  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] = plan.flatMap {
    case a: AdaptiveSparkPlanExec => shuffles(a.inputPlan)
    case m: InMemoryTableScanExec => shuffles(m.relation.cachedPlan)
    case e: ShuffleExchangeExec => Seq(e)
    case _ => Nil
  }

  private def appConfig(schemaSql: String) = {
    val path = Files.createTempFile("graft-schema", ".sql")
    Files.writeString(path, schemaSql)
    EtlDefaults.appConfig.copy(
      runtime = EtlDefaults.runtime.copy(schemaPath = path.toString))
  }

  // --- S1 shape validation -------------------------------------------------

  test("envelope shape validation mirrors ingestion.py") {
    assertThrows[InputError](Ingestion.parseEnvelope("[1, 2]"))
    assertThrows[InputError](Ingestion.parseEnvelope("""{"c": 1}"""))
    assertThrows[InputError](Ingestion.parseEnvelope("""{"c": [1]}"""))
    assertThrows[InputError](Ingestion.parseEnvelope("not json"))
    val ok = Ingestion.parseEnvelope("""{"a": [{"x": 1}], "b": []}""")
    assert(ok.keys.toSeq == Seq("a", "b"))
    assert(ok("a") == Seq("""{"x":1}""") && ok("b").isEmpty)
    assertThrows[InputError](Ingestion.loadEnvelope(spark, "/nonexistent.json"))
  }

  // --- K2 DDL golden -------------------------------------------------------

  test("DDL synthesis matches sql/schema.sql column shape") {
    val cols = SchemaManager.buildTableColumns(
      customersMapping, LogicalTypes.defaultSqlTypeMappings,
      EtlDefaults.audit.businessColumns.toSeq, EtlDefaults.audit.businessColumnTypes)
    // schema.sql:1-10 modulo the TIMESTAMPTZ spelling
    assert(cols.map(c => (c.name, c.sqlType, c.notNull)) == Seq(
      ("customer_id", "INTEGER", false),
      ("name", "TEXT", false),
      ("signup_date", "DATE", false),
      ("email", "TEXT", false),
      ("raw_json", "JSONB", true),
      ("ingested_at", "TIMESTAMPTZ", true),
      ("source_collection", "TEXT", true),
      ("status", "TEXT", true)))
    assert(SchemaManager.createTableSql("public.customers", cols) ==
      """CREATE TABLE IF NOT EXISTS "public"."customers" ("customer_id" INTEGER, """ +
        """"name" TEXT, "signup_date" DATE, "email" TEXT, "raw_json" JSONB NOT NULL, """ +
        """"ingested_at" TIMESTAMPTZ NOT NULL, "source_collection" TEXT NOT NULL, """ +
        """"status" TEXT NOT NULL)""")
    // duplicate target column → rejected (schema_manager.py:40-43)
    val dup = customersMapping.copy(mappings =
      customersMapping.mappings + ("extra" -> AttributeMapping("raw_json", "text")))
    assertThrows[ConfigError](SchemaManager.buildTableColumns(
      dup, LogicalTypes.defaultSqlTypeMappings,
      EtlDefaults.audit.businessColumns.toSeq, EtlDefaults.audit.businessColumnTypes))
    // audit table columns match schema.sql:25-33 order
    assert(SchemaManager.buildAuditTableColumns(EtlDefaults.audit).map(_.name) ==
      Seq("ingested_at", "object_id", "source_collection", "object_name",
        "object_status", "missing_columns", "processing_status"))
  }

  test("DDL and COPY quote identifiers the same way, doubling embedded quotes") {
    val cols = Seq(ColumnDef("c\"1", "TEXT"))
    assert(SchemaManager.quoteIdent("a\"b") == "\"a\"\"b\"")
    val ddl = SchemaManager.createTableSql("s\"x.t\"y", cols)
    assert(ddl == "CREATE TABLE IF NOT EXISTS \"s\"\"x\".\"t\"\"y\" (\"c\"\"1\" TEXT)")
    assert(graft.sources.PgDataWriter.copySql("s\"x.t\"y", cols.map(_.name)) ==
      "COPY \"s\"\"x\".\"t\"\"y\" (\"c\"\"1\") FROM STDIN")
    assert(SchemaManager.createSchemaSql("s\"x") == "CREATE SCHEMA IF NOT EXISTS \"s\"\"x\"")
    assert(EnsureDatabase.createDatabaseSql("d\"b") == "CREATE DATABASE \"d\"\"b\"")
  }

  // --- E2E golden run ------------------------------------------------------

  test("golden end-to-end run: targets, audit, reports, counters") {
    val base = Files.createTempDirectory("graft-e2e").toString
    val schemaSql = Files.createTempFile("graft-schema", ".sql")
    Files.writeString(schemaSql,
      """CREATE TABLE IF NOT EXISTS public.legacy_t (x TEXT);
        |CREATE TABLE IF NOT EXISTS doc_audit.ingestion_audit (x TEXT);
        |""".stripMargin)
    val app = EtlDefaults.appConfig.copy(
      runtime = EtlDefaults.runtime.copy(schemaPath = schemaSql.toString))
    val mapping = MappingConfig(ListMap(
      "customers" -> customersMapping,
      "orders" -> ordersMapping,
      "ghosts" -> customersMapping.copy(targetTable = "public.ghosts")))

    val envelope =
      """{"customers": [
        |  {"customer_id": 1, "name": "Ada", "signup_date": "03/04/2025", "email": "a@x"},
        |  {"customer_id": 2, "name": "Bob", "signup_date": "bad-date"},
        |  {"customer_id": 3, "name": null, "signup_date": "2025-01-15", "email": "c@x"}
        |],
        |"orders": [
        |  {"order_id": 10, "customer_id": 1, "order_date": "2025-02-01", "amount": 5.50}
        |],
        |"strays": [{"s": 1}]}""".stripMargin
    val inputPath = Files.createTempFile("graft-input", ".json")
    Files.writeString(inputPath, envelope)

    val sink = new ParquetSink(base)
    val clock = lit("2026-02-03 04:05:06").cast("timestamp")
    val result = Pipeline.run(
      spark, Ingestion.loadEnvelope(spark, inputPath.toString),
      app, mapping, sink, clock = clock, ingestionDate = "2026-02-03")

    // planning sets (J3/J4/T11)
    assert(result.missingCollections == Set("ghosts"))
    assert(result.unmappedCollections == Set("strays"))
    assert(result.missingTablesInput == Set("public.legacy_t"))
    assert(result.objectStatuses == Map(
      "public.legacy_t" -> "MISSING",
      "public.customers" -> "NEW",
      "public.orders" -> "NEW"))

    // target golden (pinned clock; date canonicalized; error row has NULL)
    val customers = sink.read(spark, "public.customers").orderBy("customer_id")
    assert(customers.columns.toSeq == Seq("customer_id", "name", "signup_date",
      "email", "raw_json", "ingested_at", "source_collection", "status"))
    val rows = customers.collect()
    assert(rows.map(_.getAs[Int]("customer_id")).toSeq == Seq(1, 2, 3))
    assert(rows(0).getAs[String]("signup_date") == "2025-03-04")
    assert(rows(0).getAs[String]("status") == "success")
    assert(rows(1).getAs[String]("signup_date") == null) // cast failure
    assert(rows(1).getAs[String]("status") == "error")
    assert(rows(2).getAs[String]("name") == null) // JSON null passthrough
    assert(rows(2).getAs[String]("status") == "success")
    assert(rows.forall(_.getAs[java.sql.Timestamp]("ingested_at").toString
      == "2026-02-03 04:05:06.0"))

    // audit golden: 3 customers + 1 order + 1 missing-table row
    val audit = sink.read(spark, "doc_audit.ingestion_audit")
    assert(audit.count() == 5)
    val missingRow = audit.filter(col("object_name") === "public.legacy_t").head()
    assert(missingRow.getAs[String]("processing_status") == "missing")
    assert(missingRow.getAs[String]("object_status") == "MISSING")
    val bobAudit = audit.filter(col("object_id") === "2").head()
    assert(bobAudit.getAs[String]("processing_status") == "error")
    assert(bobAudit.getAs[String]("missing_columns") == """["email"]""")

    // report tables (K5)
    val statuses = sink.read(spark, "doc_audit.missing_collections_report")
    assert(statuses.count() == 3)
    val missingAttrs = sink.read(spark, "doc_audit.missing_attributes_report")
    val ma = missingAttrs.collect().map(r =>
      r.getAs[String]("object_name") -> r.getAs[String]("missing_columns")).toMap
    assert(ma == Map("public.customers" -> """["email"]"""))

    // counters (A8, observed on the audit appends)
    assert(ReportReference.observed(result) == Seq(
      ("customers", 3L, 1L, 0L, 2L),
      ("orders", 1L, 0L, 0L, 1L)))
  }

  test("missing-in-db table: rows rejected, audit says missing") {
    val base = Files.createTempDirectory("graft-e2e2").toString
    val schemaSql = Files.createTempFile("graft-schema2", ".sql")
    // customers IS declared in schema.sql but the sink has no such table
    Files.writeString(schemaSql, "CREATE TABLE IF NOT EXISTS public.customers (x TEXT);")
    val app = EtlDefaults.appConfig.copy(
      runtime = EtlDefaults.runtime.copy(schemaPath = schemaSql.toString))
    val mapping = MappingConfig(ListMap("customers" -> customersMapping))
    import spark.implicits._
    val input = ListMap("customers" ->
      Seq("""{"customer_id": 1, "name": "Ada"}""").toDF("raw"))
    val sink = new ParquetSink(base)
    val result = Pipeline.run(spark, input, app, mapping, sink,
      clock = lit("2026-02-03 04:05:06").cast("timestamp"), ingestionDate = "2026-02-03")
    assert(result.missingTablesDb == Set("public.customers"))
    assert(result.objectStatuses("public.customers") == "MISSING")
    assert(!sink.tableExists("public.customers")) // no target write happened
    val audit = sink.read(spark, "doc_audit.ingestion_audit")
    assert(audit.head().getAs[String]("processing_status") == "missing")
    // counters: the doc counts as insert failure, not processed
    val c = result.counters.head
    assert((c.processed, c.insertFailures) == (0L, 1L))
  }

  test("a failing append releases every cache registered by the run") {
    val base = Files.createTempDirectory("graft-fail").toString
    val schemaSql = Files.createTempFile("graft-schema", ".sql")
    Files.writeString(schemaSql, "")
    val app = EtlDefaults.appConfig.copy(
      runtime = EtlDefaults.runtime.copy(schemaPath = schemaSql.toString))
    val mapping = MappingConfig(ListMap("customers" -> customersMapping))
    import spark.implicits._
    val input = ListMap("customers" ->
      Seq("""{"customer_id": 1, "name": "Ada"}""").toDF("raw"))
    val inner = new ParquetSink(base)
    val sink = new TableSink {
      override def tableExists(t: String) = inner.tableExists(t)
      override def createSchema(s: String) = inner.createSchema(s)
      override def createTable(t: String, cols: Seq[ColumnDef]) =
        inner.createTable(t, cols)
      override def append(df: org.apache.spark.sql.DataFrame, t: String) =
        if (t == app.audit.auditTable) throw new LoadError("audit sink down")
        else inner.append(df, t)
    }
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    assertThrows[LoadError] {
      Pipeline.run(spark, input, app, mapping, sink,
        clock = lit("2026-02-03 04:05:06").cast("timestamp"),
        ingestionDate = "2026-02-03")
    }
    // the shared projection cached for the two appends is released
    // when one of them throws
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore)
  }

  test("the observed report equals the audit-row derivation it replaced") {
    val base = Files.createTempDirectory("graft-observed").toString
    // stale: declared, absent from the sink → MISSING, rows rejected;
    // ghosts: declared and mapped, absent from the input → a MISSING row
    val app = appConfig(
      """CREATE TABLE IF NOT EXISTS public.stale (x TEXT);
        |CREATE TABLE IF NOT EXISTS public.ghosts (x TEXT);
        |""".stripMargin)
    val mapping = MappingConfig(ListMap(
      "customers" -> customersMapping,
      "vip" -> customersMapping, // a second collection into public.customers
      "stale" -> ordersMapping.copy(targetTable = "public.stale"),
      "empty" -> ordersMapping.copy(targetTable = "public.empty_t"),
      "ghosts" -> customersMapping.copy(targetTable = "public.ghosts")))
    val envelope =
      """{"customers": [
        |  {"customer_id": 1, "name": "Ada", "signup_date": "03/04/2025", "email": "a@x"},
        |  {"customer_id": 2, "name": "Bob", "signup_date": "bad-date"},
        |  {"customer_id": 3, "name": "Cy", "email": "c@x"},
        |  {"customer_id": 4, "name": "Di", "signup_date": "2025-01-15", "email": "d@x"},
        |  {"customer_id": 5, "name": "Ed", "signup_date": "2025-01-16", "email": "e@x"}
        |],
        |"vip": [
        |  {"customer_id": 6, "signup_date": "2025-01-17", "email": "f@x"},
        |  {"customer_id": 7, "name": "Gil", "signup_date": "2025-01-18", "email": "g@x"},
        |  {"customer_id": 8, "name": "Hal", "signup_date": "2025-01-19", "email": "h@x"},
        |  {"customer_id": 9, "name": "Ivy", "signup_date": "2025-01-20", "email": "i@x"}
        |],
        |"stale": [
        |  {"order_id": 10, "customer_id": 1, "order_date": "2025-02-01", "amount": 5.5},
        |  {"order_id": 11, "customer_id": 1, "order_date": "2025-02-02"},
        |  {"order_id": 12, "customer_id": 2, "order_date": "2025-02-03", "amount": "junk"},
        |  {"order_id": 13, "customer_id": 3, "order_date": "2025-02-04", "amount": 1}
        |],
        |"empty": [],
        |"strays": [{"s": 1}]}""".stripMargin
    val inputPath = Files.createTempFile("graft-observed", ".json")
    Files.writeString(inputPath, envelope)

    val sink = new RecordingSink(base)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val result = Pipeline.run(
      spark, Ingestion.loadEnvelope(spark, inputPath.toString), app, mapping, sink,
      clock = lit("2026-02-03 04:05:06").cast("timestamp"), ingestionDate = "2026-02-03")
    // the run leaves no cache behind
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
    assert(result.objectStatuses == Map(
      "public.customers" -> "ALREADY_EXISTS", "public.stale" -> "MISSING",
      "public.empty_t" -> "NEW", "public.ghosts" -> "MISSING"))

    val audit = sink.parquet.read(spark, "doc_audit.ingestion_audit")
    assert(audit.count() == 5 + 4 + 4 + 1)
    val reference =
      ReportReference.counters(audit, Seq("customers", "vip", "stale", "empty"))
    assert(ReportReference.observed(result) == reference)
    assert(reference == Seq( // no row for the empty collection
      ("customers", 5L, 1L, 0L, 4L),
      ("stale", 0L, 0L, 4L, 0L),
      ("vip", 4L, 0L, 0L, 4L)))

    val report = sink.parquet.read(spark, "doc_audit.missing_attributes_report")
    assert(report.select("ingestion_date").distinct().collect().map(_.get(0).toString)
      .toSeq == Seq("2026-02-03"))
    val attributes = ReportReference.missingAttributes(audit)
    assert(ReportReference.report(report) == attributes)
    assert(attributes == Map( // merged across customers and vip
      "public.customers" -> Seq("email", "name", "signup_date"),
      "public.stale" -> Seq("amount")))

    // the report needs no pass over the data of its own: no appended
    // plan shuffles (the envelope arrives in defaultParallelism splits)
    val appended = sink.plans.map(_._1).toSet
    assert(appended.contains("doc_audit.missing_attributes_report"))
    sink.plans.foreach { case (t, plan) =>
      assert(shuffles(plan).isEmpty, s"$t:\n$plan")
    }
  }

  test("MISSING rows ride along with the first mapped collection's audit append") {
    import spark.implicits._
    val app = appConfig("CREATE TABLE IF NOT EXISTS public.legacy_t (x TEXT);")
    val mapping = MappingConfig(ListMap(
      "customers" -> customersMapping, "orders" -> ordersMapping))
    val clock = lit("2026-02-03 04:05:06").cast("timestamp")
    def run(input: ListMap[String, DataFrame]) = {
      val sink = new RecordingSink(Files.createTempDirectory("graft-ride-along").toString)
      val result = Pipeline.run(spark, input, app, mapping, sink,
        clock = clock, ingestionDate = "2026-02-03")
      val audit = sink.parquet.read(spark, "doc_audit.ingestion_audit")
      (result, sink.plans.count(_._1 == "doc_audit.ingestion_audit"), audit)
    }

    // one audit append per mapped collection, none of its own
    val (result, auditAppends, audit) = run(ListMap(
      "customers" -> Seq("""{"customer_id": 1, "name": "Ada"}""",
        """{"customer_id": 2, "signup_date": "bad"}""").toDF("raw"),
      "orders" -> Seq("""{"order_id": 10, "amount": 5.5}""").toDF("raw")))
    assert(auditAppends == 2)
    assert(audit.count() == 4)
    assert(audit.filter(col("object_name") === "public.legacy_t")
      .select("processing_status", "object_status").as[(String, String)].collect()
      .toSeq == Seq(("missing", "MISSING")))
    // the observed counters count only each collection's own rows
    assert(ReportReference.observed(result) == Seq(
      ("customers", 2L, 1L, 0L, 1L), ("orders", 1L, 0L, 0L, 1L)))
    assert(ReportReference.observed(result) ==
      ReportReference.counters(audit, Seq("customers", "orders")))

    // no mapped collection in the input: the MISSING rows land alone
    val (alone, aloneAppends, aloneAudit) =
      run(ListMap("strays" -> Seq("""{"s": 1}""").toDF("raw")))
    assert(aloneAppends == 1 && alone.counters.isEmpty)
    assert(aloneAudit.select("object_name").as[String].collect().toSeq ==
      Seq("public.legacy_t"))
  }

  private def docs(json: Seq[String], partitions: Int = 4): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(json, partitions).toDF("raw")
  }

  private def filesUnder(base: String, table: String): Long =
    Files.walk(java.nio.file.Paths.get(base, table)).filter(Files.isRegularFile(_)).count()

  test("a failing landing is rethrown as thrown, once every other landing has ended, and no report row lands") {
    val base = Files.createTempDirectory("graft-concurrent-fail").toString
    val app = appConfig("")
    val mapping = MappingConfig(ListMap(
      "customers" -> customersMapping, "orders" -> ordersMapping))
    val input = ListMap(
      "customers" -> docs((1 to 20).map(i => s"""{"customer_id": $i, "name": "c$i"}""")),
      "orders" -> docs((101 to 120).map(i => s"""{"order_id": $i, "amount": $i}""")))
    val inner = new ParquetSink(base)
    val failure = new LoadError("audit sink down")
    val thrown = new CountDownLatch(1)
    // the target table the current landing thread appended to
    val landing = new ThreadLocal[String]
    val ordersLanded = new AtomicBoolean
    val reportAppends = new AtomicInteger
    val sink = new TableSink {
      override def tableExists(t: String) = inner.tableExists(t)
      override def createSchema(s: String) = inner.createSchema(s)
      override def createTable(t: String, cols: Seq[ColumnDef]) = inner.createTable(t, cols)
      override def append(df: DataFrame, t: String): Unit = t match {
        case "public.customers" => inner.append(df, t); landing.set(t)
        case "public.orders" =>
          // orders starts writing only once the customers landing failed
          assert(thrown.await(60, TimeUnit.SECONDS))
          inner.append(df, t); landing.set(t)
        case app.audit.auditTable if landing.get == "public.customers" =>
          thrown.countDown()
          throw failure
        case app.audit.auditTable => inner.append(df, t); ordersLanded.set(true)
        case _ => reportAppends.incrementAndGet(); inner.append(df, t)
      }
    }
    val err = intercept[LoadError](Pipeline.run(spark, input, app, mapping, sink,
      clock = lit("2026-02-03 04:05:06").cast("timestamp"), ingestionDate = "2026-02-03"))
    assert(err eq failure)
    assert(ordersLanded.get)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(inner.read(spark, "public.orders").count() == 20)
    assert(reportAppends.get == 0)
    assert(filesUnder(base, "doc_audit.missing_collections_report") == 0)
    assert(filesUnder(base, "doc_audit.missing_attributes_report") == 0)
  }

  test("two collections landing concurrently into one table land every row once") {
    val app = appConfig("")
    val mapping = MappingConfig(ListMap(
      "customers" -> customersMapping, "vip" -> customersMapping))
    // more splits than cores, so one collection's write job commits
    // while the other's tasks still write into the same directory
    def customers(ids: Range) =
      docs(ids.map(i => s"""{"customer_id": $i, "name": "c$i"}"""), partitions = 8)
    import spark.implicits._
    for (attempt <- 1 to 5) {
      val sink = new ParquetSink(Files.createTempDirectory("graft-same-table").toString)
      val result = Pipeline.run(spark,
        ListMap("customers" -> customers(1 to 2000), "vip" -> customers(2001 to 4000)),
        app, mapping, sink,
        clock = lit("2026-02-03 04:05:06").cast("timestamp"), ingestionDate = "2026-02-03")
      val landed = sink.read(spark, "public.customers").select("customer_id").as[Int]
        .collect().sorted.toSeq
      assert(landed == (1 to 4000), s"attempt $attempt")
      val audited = sink.read(spark, "doc_audit.ingestion_audit").select("object_id").as[String]
        .collect().map(_.toInt).sorted.toSeq
      assert(audited == (1 to 4000), s"attempt $attempt")
      assert(ReportReference.observed(result) == Seq(
        ("customers", 2000L, 0L, 0L, 2000L), ("vip", 2000L, 0L, 0L, 2000L)), s"attempt $attempt")
    }
  }

  test("an empty missing-attributes report is still appended and readable") {
    val sink = new ParquetSink(Files.createTempDirectory("graft-no-missing").toString)
    import spark.implicits._
    val input = ListMap("customers" -> Seq(
      """{"customer_id": 1, "name": "Ada", "signup_date": "2025-01-01", "email": "a@x"}""")
      .toDF("raw"))
    Pipeline.run(spark, input, appConfig(""), MappingConfig(ListMap(
      "customers" -> customersMapping)), sink,
      clock = lit("2026-02-03 04:05:06").cast("timestamp"), ingestionDate = "2026-02-03")
    val report = sink.read(spark, "doc_audit.missing_attributes_report")
    assert(report.columns.toSeq == Seq("ingestion_date", "object_name", "missing_columns"))
    assert(report.count() == 0)
  }

  private def keyedRunInput(): ListMap[String, DataFrame] = ListMap(
    "customers" -> docs((1 to 20).map(i => s"""{"customer_id": $i, "name": "c$i"}""")),
    "orders" -> docs((101 to 120).map(i => s"""{"order_id": $i, "amount": ${i % 7}}""")))

  test("two runs under one run key land one run's target, audit and report rows") {
    val sink = new ParquetSink(Files.createTempDirectory("graft-run-key").toString)
    val app = appConfig("CREATE TABLE IF NOT EXISTS public.ghost (x TEXT);")
    val mapping = MappingConfig(ListMap(
      "customers" -> customersMapping, "orders" -> ordersMapping))
    def run(key: String) = Pipeline.run(spark, keyedRunInput(), app, mapping, sink,
      clock = lit("2026-02-03 04:05:06").cast("timestamp"), ingestionDate = "2026-02-03",
      runKey = Some(key))
    def landed() = Seq("public.customers", "public.orders", app.audit.auditTable,
      "doc_audit.missing_collections_report", "doc_audit.missing_attributes_report")
      .map(sink.read(spark, _).count())
    run("run-1")
    assert(landed() == Seq(20L, 20L, 41L, 3L, 2L))
    run("run-1")
    assert(landed() == Seq(20L, 20L, 41L, 3L, 2L))
    // a new key is a new batch
    run("run-2")
    assert(landed() == Seq(40L, 40L, 82L, 6L, 4L))
  }

  test("a Parquet run lands each mapped collection in one job and stores no RDD block") {
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart}
    val sink = new ParquetSink(Files.createTempDirectory("graft-receipt").toString)
    val app = appConfig("")
    val mapping = MappingConfig(ListMap(
      "customers" -> customersMapping, "orders" -> ordersMapping))
    val input = keyedRunInput()
    val jobs = new AtomicInteger
    val blocks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { val _ = jobs.incrementAndGet() }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        if (e.blockUpdatedInfo.blockId.isRDD && e.blockUpdatedInfo.storageLevel.isValid) {
          val _ = blocks.incrementAndGet()
        }
    }
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    val result =
      try Pipeline.run(spark, input, app, mapping, sink,
        clock = lit("2026-02-03 04:05:06").cast("timestamp"), ingestionDate = "2026-02-03")
      finally { ListenerBusDrain.drain(sc); sc.removeSparkListener(listener) }
    // one write job per mapped collection, one per report table
    assert(jobs.get == 2 + 2)
    assert(blocks.get == 0)
    assert(Seq("public.customers", "public.orders", app.audit.auditTable)
      .map(sink.read(spark, _).count()) == Seq(20L, 20L, 40L))
    assert(ReportReference.observed(result) ==
      Seq(("customers", 20L, 0L, 0L, 20L), ("orders", 20L, 0L, 0L, 20L)))
  }
}
