package graft.etl

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor
import com.fasterxml.jackson.databind.ObjectMapper

/** Typed configuration plane (reference S5: `etl_pipeline/config_loader.py`).
  *
  * Loading accepts `.json`/`.yaml`/`.yml` exactly like the reference
  * (`config_loader.py:11-33`); validation reproduces every rejection in
  * `config_loader.py:36-171` with equivalent messages. Collections and
  * attribute mappings preserve declaration order (it drives generated
  * DDL column order, `schema_manager.py:18-23`).
  */
final case class DatabaseConfig(
    host: String,
    port: Int,
    name: String,
    user: String,
    password: String,
    sslmode: String = "disable",
    createIfMissing: Boolean = true,
    adminDb: String = "postgres")

final case class RuntimeConfig(
    dateFormats: Seq[String],
    dateOutputFormat: String,
    datetimeOutputFormat: String,
    schemaPath: String,
    typeMappings: Map[String, String])

final case class AuditSettings(
    businessColumns: ListMap[String, String],
    businessColumnTypes: Map[String, String],
    auditSchema: String,
    auditTable: String,
    auditColumns: ListMap[String, String],
    auditColumnTypes: Map[String, String],
    statusValues: Map[String, String],
    objectStatusValues: Map[String, String])

final case class AppConfig(
    database: DatabaseConfig,
    runtime: RuntimeConfig,
    audit: AuditSettings,
    loggingLevel: String)

final case class AttributeMapping(column: String, typeName: String)

final case class CollectionMapping(
    targetTable: String,
    rawJsonColumn: String,
    objectIdAttribute: String,
    mappings: ListMap[String, AttributeMapping])

final case class MappingConfig(collections: ListMap[String, CollectionMapping])

object EtlConfig {

  private val supportedExtensions = Set(".json", ".yaml", ".yml")

  /** `config_loader.load_config` — parse a JSON/YAML file to a raw tree.
    * Maps preserve key order (snakeyaml/jackson both use insertion-ordered
    * maps underneath).
    */
  def loadRaw(configPath: String): ListMap[String, Any] = {
    val path = Paths.get(configPath)
    if (!Files.exists(path))
      throw new ConfigError(s"Config file not found: $configPath")
    val suffix = {
      val n = path.getFileName.toString
      val i = n.lastIndexOf('.')
      if (i < 0) "" else n.substring(i).toLowerCase
    }
    if (!supportedExtensions.contains(suffix))
      throw new ConfigError(s"Unsupported config format: $suffix. Use JSON or YAML.")
    val parsed: Any =
      if (suffix == ".json")
        new ObjectMapper().readValue(Files.readString(path), classOf[Object])
      else
        new Yaml(new SafeConstructor(new LoaderOptions)).load[Any](Files.readString(path))
    fromJava(parsed) match {
      case m: ListMap[_, _] => m.asInstanceOf[ListMap[String, Any]]
      case _ =>
        throw new ConfigError(s"Config file must contain a JSON/YAML object: $configPath")
    }
  }

  private def fromJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.foldLeft(ListMap.empty[String, Any]) { case (acc, (k, value)) =>
        acc + (String.valueOf(k) -> fromJava(value))
      }
    case l: java.util.List[_] => l.asScala.toList.map(fromJava)
    case other => other
  }

  // --- raw-tree accessors -------------------------------------------------

  private def section(tree: ListMap[String, Any], key: String, where: String): ListMap[String, Any] =
    tree.get(key) match {
      case Some(m: ListMap[_, _]) => m.asInstanceOf[ListMap[String, Any]]
      case Some(_) => throw new ConfigError(s"'$key' in $where must be an object.")
      case None => throw new ConfigError(s"Missing '$key' section in $where.")
    }

  private def str(m: ListMap[String, Any], key: String, err: => String): String =
    m.get(key) match {
      case Some(v) if v != null => String.valueOf(v)
      case _ => throw new ConfigError(err)
    }

  private def strMap(m: ListMap[String, Any], key: String): ListMap[String, String] =
    m.get(key) match {
      case Some(mm: ListMap[_, _]) =>
        mm.asInstanceOf[ListMap[String, Any]].map { case (k, v) => k -> String.valueOf(v) }
      case _ => ListMap.empty
    }

  // --- app config ---------------------------------------------------------

  /** The wire client speaks cleartext only: the libpq modes that may
    * fall back to cleartext pass, the TLS-demanding ones are refused
    * rather than silently downgraded.
    */
  private def sslmode(mode: String): String = mode match {
    case "disable" | "allow" | "prefer" => mode
    case "require" | "verify-ca" | "verify-full" => throw new ConfigError(
      s"Unsupported database sslmode '$mode': the Postgres wire client " +
        "does not speak TLS, so the connection cannot be encrypted.")
    case other => throw new ConfigError(
      s"Invalid database config value for 'sslmode': '$other'.")
  }

  /** `config_loader.validate_app_config` + typed decode. */
  def appConfig(tree: ListMap[String, Any]): AppConfig = {
    for (s <- Seq("database", "runtime", "audit", "logging"))
      if (!tree.contains(s)) throw new ConfigError(s"Missing '$s' section in app config.")

    val db = section(tree, "database", "app config")
    for (key <- Seq("host", "port", "name", "user", "password"))
      if (!db.contains(key)) throw new ConfigError(s"Missing database config key: $key")

    val rt = section(tree, "runtime", "app config")
    val dateFormats = rt.get("date_formats") match {
      case Some(l: List[_]) if l.nonEmpty => l.map(String.valueOf(_))
      case _ => throw new ConfigError("Missing runtime.date_formats in app config.")
    }
    if (!rt.contains("date_output_format"))
      throw new ConfigError("Missing runtime.date_output_format in app config.")
    if (!rt.contains("datetime_output_format"))
      throw new ConfigError("Missing runtime.datetime_output_format in app config.")
    if (!rt.contains("schema_path"))
      throw new ConfigError("Missing runtime.schema_path in app config.")
    val typeMappings = strMap(rt, "type_mappings")
    if (typeMappings.isEmpty)
      throw new ConfigError("Missing runtime.type_mappings in app config.")

    val audit = section(tree, "audit", "app config")
    for (key <- Seq("business_columns", "business_column_types", "audit_schema",
        "audit_table", "audit_columns", "audit_column_types", "status_values",
        "object_status_values"))
      if (!audit.contains(key)) throw new ConfigError(s"Missing audit.$key in app config.")

    val businessColumns = strMap(audit, "business_columns")
    val businessColumnTypes = strMap(audit, "business_column_types")
    for (c <- Seq("ingested_at", "source_collection", "status")) {
      if (!businessColumns.contains(c))
        throw new ConfigError(s"Missing audit.business_columns.$c in app config.")
      if (!businessColumnTypes.contains(c))
        throw new ConfigError(s"Missing audit.business_column_types.$c in app config.")
    }

    val auditColumns = strMap(audit, "audit_columns")
    val auditColumnTypes = strMap(audit, "audit_column_types")
    for (c <- Seq("ingested_at", "object_id", "source_collection", "object_name",
        "object_status", "missing_columns", "processing_status")) {
      if (!auditColumns.contains(c))
        throw new ConfigError(s"Missing audit.audit_columns.$c in app config.")
      if (!auditColumnTypes.contains(c))
        throw new ConfigError(s"Missing audit.audit_column_types.$c in app config.")
    }

    val statusValues = strMap(audit, "status_values")
    for (s <- Seq("success", "error", "missing"))
      if (!statusValues.contains(s))
        throw new ConfigError(s"Missing audit.status_values.$s in app config.")
    val objectStatusValues = strMap(audit, "object_status_values")
    for (s <- Seq("new", "missing", "already_exists"))
      if (!objectStatusValues.contains(s))
        throw new ConfigError(s"Missing audit.object_status_values.$s in app config.")

    val logging = section(tree, "logging", "app config")
    if (!logging.contains("level"))
      throw new ConfigError("Missing logging.level in app config.")

    AppConfig(
      database = DatabaseConfig(
        host = str(db, "host", "Missing database config key: host"),
        port = {
          val raw = db.getOrElse("port",
            throw new ConfigError("Missing database config key: port"))
          try String.valueOf(raw).toInt
          catch {
            case _: NumberFormatException => throw new ConfigError(
              s"Invalid database config value for 'port': '$raw' is not a number.")
          }
        },
        name = str(db, "name", "Missing database config key: name"),
        user = str(db, "user", "Missing database config key: user"),
        password = str(db, "password", "Missing database config key: password"),
        sslmode = sslmode(db.get("sslmode").map(String.valueOf(_)).getOrElse("disable")),
        // absent → true, matching the reference's .get("create_if_missing", True)
        createIfMissing = db.get("create_if_missing").forall(v => String.valueOf(v).toBoolean),
        adminDb = db.get("admin_db").map(String.valueOf(_)).getOrElse("postgres")),
      runtime = RuntimeConfig(
        dateFormats = dateFormats,
        dateOutputFormat = String.valueOf(rt("date_output_format")),
        datetimeOutputFormat = String.valueOf(rt("datetime_output_format")),
        schemaPath = String.valueOf(rt("schema_path")),
        typeMappings = typeMappings),
      audit = AuditSettings(
        businessColumns = businessColumns,
        businessColumnTypes = businessColumnTypes,
        auditSchema = String.valueOf(audit("audit_schema")),
        auditTable = String.valueOf(audit("audit_table")),
        auditColumns = auditColumns,
        auditColumnTypes = auditColumnTypes,
        statusValues = statusValues,
        objectStatusValues = objectStatusValues),
      loggingLevel = String.valueOf(logging("level")))
  }

  // --- mapping config -----------------------------------------------------

  /** `config_loader.validate_mapping_config` + typed decode. */
  def mappingConfig(tree: ListMap[String, Any]): MappingConfig = {
    val collections = tree.get("collections") match {
      case Some(m: ListMap[_, _]) if m.nonEmpty => m.asInstanceOf[ListMap[String, Any]]
      case Some(_) =>
        throw new ConfigError("Mapping config 'collections' must be a non-empty object.")
      case None =>
        throw new ConfigError("Missing 'collections' section in mapping config.")
    }
    MappingConfig(collections.map { case (collectionName, raw) =>
      val cc = raw match {
        case m: ListMap[_, _] => m.asInstanceOf[ListMap[String, Any]]
        case _ => throw new ConfigError(
          s"Collection '$collectionName' must be an object.")
      }
      for (key <- Seq("target_table", "raw_json_column", "object_id_attribute", "mappings"))
        if (!cc.contains(key))
          throw new ConfigError(s"Missing '$key' for collection '$collectionName'.")
      val mappings = cc("mappings") match {
        case m: ListMap[_, _] if m.nonEmpty => m.asInstanceOf[ListMap[String, Any]]
        case _ => throw new ConfigError(
          s"Mappings for collection '$collectionName' must be a non-empty object.")
      }
      collectionName -> CollectionMapping(
        targetTable = String.valueOf(cc("target_table")),
        rawJsonColumn = String.valueOf(cc("raw_json_column")),
        objectIdAttribute = String.valueOf(cc("object_id_attribute")),
        mappings = mappings.map { case (sourceAttr, m) =>
          val mm = m match {
            case x: ListMap[_, _] => x.asInstanceOf[ListMap[String, Any]]
            case _ => ListMap.empty[String, Any]
          }
          if (!mm.contains("column") || !mm.contains("type"))
            throw new ConfigError(
              "Mapping entry must include 'column' and 'type' for " +
                s"attribute '$sourceAttr' in collection '$collectionName'.")
          sourceAttr -> AttributeMapping(
            String.valueOf(mm("column")), String.valueOf(mm("type")))
        })
    })
  }

  /** `config_loader.validate_mapping_types` — every mapping type must be
    * in the closed supported set AND have a physical type mapping.
    */
  def validateMappingTypes(mapping: MappingConfig, typeMappings: Map[String, String]): Unit = {
    val normalized = LogicalTypes.normalizeTypeMappings(typeMappings)
    for ((collectionName, cc) <- mapping.collections;
         (sourceAttr, am) <- cc.mappings) {
      val t = LogicalTypes.normalize(am.typeName)
      if (!LogicalTypes.supported.contains(t))
        throw new ConfigError(
          s"Unsupported mapping type '${am.typeName}' for attribute " +
            s"'$sourceAttr' in collection '$collectionName'.")
      if (!normalized.contains(t))
        throw new ConfigError(
          s"Missing runtime.type_mappings entry for '${am.typeName}' " +
            s"in collection '$collectionName'.")
    }
  }

  def loadAppConfig(path: String): AppConfig = appConfig(loadRaw(path))

  def loadMappingConfig(path: String): MappingConfig = mappingConfig(loadRaw(path))
}
