package graft.etl

import java.nio.file.Files
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** K1–K3 end-to-end statement stream: drive the FULL `Pipeline.run` →
  * DDL synthesis → batched append sequence through a statement-
  * rendering double and assert the exact ordered SQL stream a Postgres
  * sink issues — CREATE SCHEMA, then CREATE TABLE (audit + reports +
  * auto-created target), then batched INSERTs with the raw-JSON column
  * riding as a JSON string for the JSONB target (reference flow:
  * `etl_pipeline/pipeline.py:299-338` ensure-audit, `:128-284`
  * per-collection load; `postgres_loader.py:63-107` issues these
  * one-row-at-a-time — the batched form is SURVEY §7.4.1's documented
  * granularity change).
  *
  * The target-table DDL is additionally golden-checked against the
  * reference's own `sql/schema.sql` column shape (name, type modulo
  * the TIMESTAMPTZ spelling, NOT NULL), so the synthesized CREATE
  * TABLE provably recreates the table the reference ships.
  */
class JdbcStatementStreamSpec extends AnyFunSuite with SparkTestSession {

  /** Renders every sink call as the SQL statement it stands for.
    * `append` applies the Postgres sinks' array→JSON convention (array
    * columns land as JSON text in JSONB targets, as `PgWireSink`'s
    * COPY rendering does), then renders `batchSize`-row INSERT batches
    * in the DataFrame's column order.
    */
  private final class StatementCaptureSink(batchSize: Int) extends TableSink {
    val statements = ArrayBuffer.empty[String]
    private val created = scala.collection.mutable.Set.empty[String]

    override def tableExists(tableName: String): Boolean =
      created.contains(SchemaScript.normalizeTableName(tableName))

    override def createSchema(schemaName: String): Unit =
      statements += SchemaManager.createSchemaSql(schemaName)

    override def createTable(tableName: String, columns: Seq[ColumnDef]): Unit = {
      statements += SchemaManager.createTableSql(tableName, columns)
      created += SchemaScript.normalizeTableName(tableName)
    }

    override def append(df: DataFrame, tableName: String): Unit = {
      // arrays → JSON text, the JSONB convention of the Postgres sink
      val jsonified = df.schema.fields.foldLeft(df) { (acc, f) =>
        f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType =>
            acc.withColumn(f.name, to_json(col(f.name)))
          case _ => acc
        }
      }
      val cols = jsonified.columns
      val colList = cols.map(c => "\"" + c + "\"").mkString(", ")
      val rows = jsonified.collect()
      rows.grouped(batchSize).foreach { batch =>
        val values = batch.map { r =>
          cols.indices.map { i =>
            val v = r.get(i)
            if (v == null) "NULL"
            else v match {
              case s: String => "'" + s.replace("'", "''") + "'"
              case t: java.sql.Timestamp => "'" + t.toString + "'"
              case d: java.sql.Date => "'" + d.toString + "'"
              case other => other.toString
            }
          }.mkString("(", ", ", ")")
        }.mkString(", ")
        statements += s"INSERT INTO $tableName ($colList) VALUES $values"
      }
    }
  }

  /** The reference's `sql/schema.sql` shape for a table: (name, type,
    * notNull) per column, in declaration order.
    */
  private def referenceColumns(table: String): Seq[(String, String, Boolean)] = {
    val ddl = Files.readString(java.nio.file.Path.of("/root/reference/sql/schema.sql"))
    val body = (s"""(?s)CREATE TABLE IF NOT EXISTS $table \\((.*?)\\);""").r
      .findFirstMatchIn(ddl)
      .getOrElse(fail(s"no $table in reference schema.sql")).group(1)
    body.split(",\n").toSeq.map(_.trim).filter(_.nonEmpty).map { line =>
      val notNull = line.endsWith("NOT NULL")
      val decl = if (notNull) line.dropRight("NOT NULL".length).trim else line
      val name = decl.takeWhile(!_.isWhitespace)
      val tpe = decl.drop(name.length).trim
      (name, tpe, notNull)
    }
  }

  test("full pipeline run renders the JDBC statement stream in order, golden vs schema.sql") {
    // cancel (not fail) where the reference checkout is absent — the
    // golden half compares against its schema.sql
    assume(Files.exists(java.nio.file.Path.of("/root/reference/sql/schema.sql")),
      "reference checkout not present at /root/reference")
    // empty schema.sql → the customers collection is NEW → the run
    // must auto-create its schema and table before the first INSERT
    val schemaSql = Files.createTempFile("graft-stmt-schema", ".sql")
    Files.writeString(schemaSql, "")
    val app = EtlDefaults.appConfig.copy(
      runtime = EtlDefaults.runtime.copy(schemaPath = schemaSql.toString))
    val customersMapping = CollectionMapping(
      "public.customers", "raw_json", "customer_id", ListMap(
        "customer_id" -> AttributeMapping("customer_id", "integer"),
        "name" -> AttributeMapping("name", "text"),
        "signup_date" -> AttributeMapping("signup_date", "date"),
        "email" -> AttributeMapping("email", "text")))
    val mapping = MappingConfig(ListMap("customers" -> customersMapping))
    import spark.implicits._
    val input = ListMap("customers" -> Seq(
      """{"customer_id": 1, "name": "Ada", "signup_date": "2024-01-02", "email": "a@x"}""",
      """{"customer_id": 2, "name": "Bob", "signup_date": "2024-02-03", "email": "b@x"}""",
      """{"customer_id": 3, "name": "Cyd", "signup_date": "2024-03-04", "email": "c@x"}""")
      .toDF("raw"))
    val sink = new StatementCaptureSink(batchSize = 2)
    Pipeline.run(spark, input, app, mapping, sink,
      clock = lit("2026-02-03 04:05:06").cast("timestamp"),
      ingestionDate = "2026-02-03")

    val st = sink.statements.toSeq
    val kinds = st.map(s => s.split(" ").take(3).mkString(" "))

    // ---- ordered stream shape -------------------------------------------
    // 1. audit ensure: CREATE SCHEMA doc_audit, CREATE TABLE audit + 2 reports
    assert(st.head == """CREATE SCHEMA IF NOT EXISTS "doc_audit"""")
    assert(st(1).startsWith("""CREATE TABLE IF NOT EXISTS "doc_audit"."ingestion_audit""""))
    assert(st(2).startsWith("CREATE TABLE IF NOT EXISTS \"doc_audit\".") &&
      st(3).startsWith("CREATE TABLE IF NOT EXISTS \"doc_audit\"."))
    // 2. target auto-create: CREATE SCHEMA public, CREATE TABLE customers
    assert(st(4) == """CREATE SCHEMA IF NOT EXISTS "public"""")
    assert(st(5).startsWith("""CREATE TABLE IF NOT EXISTS "public"."customers""""))
    // 3. every remaining statement is an INSERT (no stray DDL after data
    //    starts flowing), target INSERTs before the audit INSERT
    val inserts = st.drop(6)
    assert(inserts.nonEmpty && inserts.forall(_.startsWith("INSERT INTO ")),
      s"unexpected statement stream:\n${kinds.mkString("\n")}")
    val targetIdx = inserts.indexWhere(_.startsWith("INSERT INTO public.customers "))
    val auditIdx = inserts.indexWhere(_.contains("ingestion_audit"))
    assert(targetIdx >= 0 && auditIdx > targetIdx,
      "target rows must land before their audit rows")

    // ---- batching: 3 rows at batchsize 2 → exactly 2 target INSERTs -----
    val targetInserts = inserts.filter(_.startsWith("INSERT INTO public.customers "))
    assert(targetInserts.length == 2)
    assert(targetInserts.head.count(_ == '(') == 3) // column list + 2 row tuples
    assert(targetInserts(1).count(_ == '(') == 2)   // column list + 1 row tuple

    // ---- JSONB cast: raw_json rides as a JSON string ---------------------
    assert(targetInserts.head.contains("\"raw_json\""))
    assert(targetInserts.head.contains("'{\"customer_id\": 1"))

    // ---- golden: synthesized DDL == reference schema.sql shape -----------
    val refCols = referenceColumns("public.customers")
    val synthesized = SchemaManager.buildTableColumns(
      customersMapping, LogicalTypes.defaultSqlTypeMappings,
      EtlDefaults.audit.businessColumns.toSeq, EtlDefaults.audit.businessColumnTypes)
    val normalize = (t: String) =>
      if (t == "TIMESTAMPTZ") "TIMESTAMP WITH TIME ZONE" else t
    assert(synthesized.map(c => (c.name, normalize(c.sqlType), c.notNull)) == refCols)
    // and the CREATE TABLE statement in the stream is exactly that DDL
    assert(st(5) == SchemaManager.createTableSql("public.customers", synthesized))
    // the INSERT column order equals the DDL column order
    val insertCols = targetInserts.head
      .stripPrefix("INSERT INTO public.customers (").takeWhile(_ != ')')
      .split(", ").map(_.stripPrefix("\"").stripSuffix("\"")).toSeq
    assert(insertCols == synthesized.map(_.name))
  }
}
