package graft.etl

import java.nio.file.Files
import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

/** S5 config plane: load + deep validation, mirroring every rejection in
  * reference `etl_pipeline/config_loader.py:36-171`.
  */
class EtlConfigSpec extends AnyFunSuite {

  private def write(content: String, suffix: String): String = {
    val f = Files.createTempFile("graft-config", suffix)
    Files.writeString(f, content)
    f.toString
  }

  private val validAppYaml =
    """database:
      |  host: localhost
      |  port: 5432
      |  name: etl_db
      |  user: u
      |  password: p
      |runtime:
      |  date_formats: ["%Y-%m-%d", "%m/%d/%Y"]
      |  date_output_format: "%Y-%m-%d"
      |  datetime_output_format: "%Y-%m-%dT%H:%M:%S%z"
      |  schema_path: sql/schema.sql
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

  test("valid app config loads with typed sections") {
    val cfg = EtlConfig.loadAppConfig(write(validAppYaml, ".yaml"))
    assert(cfg.database.host == "localhost")
    assert(cfg.database.port == 5432)
    assert(cfg.runtime.dateFormats == Seq("%Y-%m-%d", "%m/%d/%Y"))
    assert(cfg.audit.auditTable == "doc_audit.ingestion_audit")
    assert(cfg.loggingLevel == "INFO")
  }

  test("missing file / bad extension / non-object all rejected") {
    assertThrows[ConfigError](EtlConfig.loadRaw("/nonexistent/x.yaml"))
    assertThrows[ConfigError](EtlConfig.loadRaw(write("a: 1", ".toml")))
    assertThrows[ConfigError](EtlConfig.loadRaw(write("- 1\n- 2", ".yaml")))
  }

  test("JSON config parses too") {
    val raw = EtlConfig.loadRaw(write("""{"a": {"b": 1}}""", ".json"))
    assert(raw("a").asInstanceOf[ListMap[String, Any]]("b") == 1)
  }

  test("each missing app-config section is rejected") {
    for (sec <- Seq("database", "runtime", "audit", "logging")) {
      val broken = validAppYaml.replace(s"$sec:", s"${sec}_renamed:")
      val e = intercept[ConfigError](EtlConfig.appConfig(EtlConfig.loadRaw(write(broken, ".yaml"))))
      assert(e.getMessage.contains(s"'$sec'"), s"section $sec: ${e.getMessage}")
    }
  }

  test("missing database keys rejected") {
    val broken = validAppYaml.replace("  user: u\n", "")
    val e = intercept[ConfigError](EtlConfig.appConfig(EtlConfig.loadRaw(write(broken, ".yaml"))))
    assert(e.getMessage == "Missing database config key: user")
  }

  test("missing database port rejected via the ConfigError taxonomy") {
    val broken = validAppYaml.replace("  port: 5432\n", "")
    val e = intercept[ConfigError](
      EtlConfig.appConfig(EtlConfig.loadRaw(write(broken, ".yaml"))))
    assert(e.getMessage.contains("Missing database config key: port"))
  }

  test("non-numeric database port rejected via the ConfigError taxonomy") {
    val broken = validAppYaml.replace("  port: 5432", "  port: abc")
    val e = intercept[ConfigError](EtlConfig.appConfig(EtlConfig.loadRaw(write(broken, ".yaml"))))
    assert(e.getMessage.contains("Invalid database config value for 'port'"))
  }

  test("TLS sslmode values rejected (cleartext-only wire client); fallback modes load") {
    def withMode(mode: String) = validAppYaml.replace(
      "  password: p\n", s"  password: p\n  sslmode: $mode\n")
    for (mode <- Seq("require", "verify-ca", "verify-full")) {
      val e = intercept[ConfigError](
        EtlConfig.appConfig(EtlConfig.loadRaw(write(withMode(mode), ".yaml"))))
      assert(e.getMessage.contains(s"sslmode '$mode'") && e.getMessage.contains("TLS"),
        e.getMessage)
    }
    assert(intercept[ConfigError](
      EtlConfig.appConfig(EtlConfig.loadRaw(write(withMode("bogus"), ".yaml"))))
      .getMessage.contains("'sslmode': 'bogus'"))
    for (mode <- Seq("disable", "allow", "prefer"))
      assert(EtlConfig.appConfig(EtlConfig.loadRaw(write(withMode(mode), ".yaml")))
        .database.sslmode == mode)
  }

  test("empty date_formats rejected") {
    val broken = validAppYaml.replace("""date_formats: ["%Y-%m-%d", "%m/%d/%Y"]""", "date_formats: []")
    val e = intercept[ConfigError](EtlConfig.appConfig(EtlConfig.loadRaw(write(broken, ".yaml"))))
    assert(e.getMessage == "Missing runtime.date_formats in app config.")
  }

  test("missing audit subkeys rejected") {
    val broken = validAppYaml.replace("status: status}", "status_x: status}")
    val e = intercept[ConfigError](EtlConfig.appConfig(EtlConfig.loadRaw(write(broken, ".yaml"))))
    assert(e.getMessage == "Missing audit.business_columns.status in app config.")
  }

  private val validMappingYaml =
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

  test("valid mapping config preserves attribute order") {
    val cfg = EtlConfig.loadMappingConfig(write(validMappingYaml, ".yml"))
    val people = cfg.collections("people")
    assert(people.targetTable == "public.people")
    assert(people.mappings.keys.toSeq == Seq("_id", "name", "joined"))
    assert(people.mappings("name") == AttributeMapping("full_name", "text"))
  }

  test("mapping config rejections: no collections / empty / missing keys / bad entry") {
    assertThrows[ConfigError](EtlConfig.mappingConfig(EtlConfig.loadRaw(write("x: 1", ".yaml"))))
    assertThrows[ConfigError](EtlConfig.mappingConfig(EtlConfig.loadRaw(write("collections: {}", ".yaml"))))
    val noTable = validMappingYaml.replace("    target_table: public.people\n", "")
    val e1 = intercept[ConfigError](EtlConfig.mappingConfig(EtlConfig.loadRaw(write(noTable, ".yaml"))))
    assert(e1.getMessage == "Missing 'target_table' for collection 'people'.")
    val badEntry = validMappingYaml.replace("{column: full_name, type: text}", "{column: full_name}")
    val e2 = intercept[ConfigError](EtlConfig.mappingConfig(EtlConfig.loadRaw(write(badEntry, ".yaml"))))
    assert(e2.getMessage.contains("'column' and 'type'"))
  }

  test("validate_mapping_types: unsupported type and missing physical mapping") {
    val cfg = EtlConfig.loadMappingConfig(write(validMappingYaml, ".yaml"))
    // all types supported + mapped under the defaults
    EtlConfig.validateMappingTypes(cfg, LogicalTypes.defaultSqlTypeMappings)
    // normalization applies: " TEXT " is legal
    val weird = EtlConfig.loadMappingConfig(write(
      validMappingYaml.replace("type: text", "type: ' TEXT '"), ".yaml"))
    EtlConfig.validateMappingTypes(weird, LogicalTypes.defaultSqlTypeMappings)
    // unsupported logical type
    val bad = EtlConfig.loadMappingConfig(write(
      validMappingYaml.replace("type: text", "type: uuid"), ".yaml"))
    val e = intercept[ConfigError](
      EtlConfig.validateMappingTypes(bad, LogicalTypes.defaultSqlTypeMappings))
    assert(e.getMessage.contains("Unsupported mapping type 'uuid'"))
    // supported but absent from runtime.type_mappings
    val cfg2 = EtlConfig.loadMappingConfig(write(validMappingYaml, ".yaml"))
    val e2 = intercept[ConfigError](
      EtlConfig.validateMappingTypes(cfg2, Map("integer" -> "INTEGER")))
    assert(e2.getMessage.contains("Missing runtime.type_mappings entry"))
  }
}
