package graft.etl

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.LivePostgres

/** The batch CLI's default (no sink flag) against a live server: K3
  * creates the configured database, the wire sink lands the target,
  * audit and report tables in it, and a re-run finds the database and
  * leaves the admin database alone.
  */
class CliLiveSpec extends AnyFunSuite with SparkTestSession {

  private def write(content: String, suffix: String): String = {
    val f = Files.createTempFile("graft-cli", suffix)
    Files.writeString(f, content)
    f.toString
  }

  private def appYaml(h: LivePostgres.Handle, dbName: String, adminDb: String,
      schemaPath: String): String =
    s"""database:
       |  host: ${h.host}
       |  port: ${h.port}
       |  name: $dbName
       |  user: ${h.user}
       |  password: ""
       |  admin_db: $adminDb
       |runtime:
       |  date_formats: ["%Y-%m-%d", "%m/%d/%Y"]
       |  date_output_format: "%Y-%m-%d"
       |  datetime_output_format: "%Y-%m-%dT%H:%M:%S%z"
       |  schema_path: $schemaPath
       |  type_mappings:
       |    text: TEXT
       |    integer: INTEGER
       |    date: DATE
       |audit:
       |  business_columns: {ingested_at: ingested_at, source_collection: source_collection, status: status}
       |  business_column_types: {ingested_at: TIMESTAMPTZ, source_collection: TEXT, status: TEXT}
       |  audit_schema: doc_audit
       |  audit_table: doc_audit.ingestion_audit
       |  audit_columns: {ingested_at: ingested_at, object_id: object_id, source_collection: source_collection, object_name: object_name, object_status: object_status, missing_columns: missing_columns, processing_status: processing_status}
       |  audit_column_types: {ingested_at: TIMESTAMPTZ, object_id: TEXT, source_collection: TEXT, object_name: TEXT, object_status: TEXT, missing_columns: JSONB, processing_status: TEXT}
       |  status_values: {success: success, error: error, missing: missing}
       |  object_status_values: {new: NEW, missing: MISSING, already_exists: ALREADY_EXISTS}
       |logging:
       |  level: INFO
       |""".stripMargin

  private val mappingYaml =
    """collections:
      |  people:
      |    target_table: public.people
      |    raw_json_column: raw_json
      |    object_id_attribute: _id
      |    mappings:
      |      _id: {column: person_id, type: integer}
      |      name: {column: full_name, type: text}
      |      joined: {column: joined_date, type: date}
      |""".stripMargin

  test("live: default sink creates the database (K3) and lands every table; re-run skips K3") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val h = LivePostgres.get()
    val dbName = "graft_cli_" + java.lang.Long.toHexString(System.nanoTime())
    val admin = PgConn(h.host, h.port, h.user, h.database)
    def databaseCount(): String = {
      val c = admin.open()
      try c.query(s"SELECT count(*) FROM pg_database WHERE datname = '$dbName'")
        .rows.head.head
      finally c.close()
    }
    assert(databaseCount() == "0")

    // No schema.sql entry for the target: it classifies NEW and K2
    // auto-creates it.
    val schemaSql = write("-- no reference tables\n", ".sql")
    val input = write(
      """{"people": [
        |  {"_id": 1, "name": "Ada", "joined": "03/04/2025"},
        |  {"_id": 2, "joined": "bad"}
        |]}""".stripMargin, ".json")
    val mapping = write(mappingYaml, ".yaml")
    def cli(adminDb: String): Unit = {
      val app = write(appYaml(h, dbName, adminDb, schemaSql), ".yaml")
      Cli.run(spark, Array("--input", input, "--app-config", app,
        "--mapping-config", mapping))
    }

    cli(adminDb = h.database)
    assert(databaseCount() == "1")
    val target = PgConn(h.host, h.port, h.user, dbName)
    def count(table: String): String = {
      val c = target.open()
      try c.query(s"SELECT count(*) FROM $table").rows.head.head
      finally c.close()
    }
    assert(count("public.people") == "2")
    assert(count("doc_audit.ingestion_audit") == "2")
    assert(count("doc_audit.missing_collections_report") == "1")
    assert(count("doc_audit.missing_attributes_report") == "1")

    // The database now exists, so K3 must not touch the admin database:
    // naming one that does not exist would fail any admin-side probe.
    cli(adminDb = "graft_no_such_admin_db")
    assert(databaseCount() == "1")
    assert(count("public.people") == "4")
    assert(count("doc_audit.ingestion_audit") == "4")
  }
}
