package graft.etl

import scala.collection.mutable

/** K2 — DDL synthesis, reference `etl_pipeline/schema_manager.py:5-43` +
  * `postgres_loader.create_table:79-99` + audit/report table definitions
  * (`pipeline.py:299-338`).
  */
final case class ColumnDef(name: String, sqlType: String, notNull: Boolean = false) {
  def ddl: String =
    s"${SchemaManager.quoteIdent(name)} $sqlType" + (if (notNull) " NOT NULL" else "")
}

object SchemaManager {

  /** A Postgres quoted identifier: embedded `"` doubled, as psycopg2's
    * `sql.Identifier` does, so a name cannot break out of its quotes.
    * Every DDL statement and the COPY target quote through this.
    */
  def quoteIdent(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""

  /** A Postgres string literal: embedded `'` doubled (under
    * standard_conforming_strings, the server default, a backslash is
    * literal). Every name or value inlined into a statement as a string
    * quotes through this.
    */
  def quoteLiteral(s: String): String = "'" + s.replace("'", "''") + "'"

  /** `schema.table` (schema defaults to `public`) as `"schema"."table"`. */
  def quoteTable(tableName: String): String = {
    val (schema, table) = SchemaScript.splitTableName(tableName)
    s"${quoteIdent(schema)}.${quoteIdent(table)}"
  }

  /** `build_table_columns`: mapped columns (nullable, declaration order),
    * then the raw-JSON column (`JSONB NOT NULL`), then the business-audit
    * columns (NOT NULL) — with a duplicate-name check across all three.
    */
  def buildTableColumns(
      cm: CollectionMapping,
      typeMappings: Map[String, String],
      businessColumns: Seq[(String, String)],
      businessColumnTypes: Map[String, String]): Seq[ColumnDef] = {
    val normalizedTypes = LogicalTypes.normalizeTypeMappings(typeMappings)
    val columns = Seq.newBuilder[ColumnDef]
    val names = mutable.Set[String]()

    def add(name: String, sqlType: String, notNull: Boolean): Unit = {
      if (names.contains(name))
        throw new ConfigError(s"Duplicate column name detected: $name")
      columns += ColumnDef(name, sqlType, notNull)
      names += name
    }

    for ((_, am) <- cm.mappings) {
      val t = LogicalTypes.normalize(am.typeName)
      val sqlType = normalizedTypes.getOrElse(t,
        throw new ConfigError(
          s"Missing SQL type mapping for '${am.typeName}' in runtime.type_mappings."))
      add(am.column, sqlType, notNull = false)
    }
    add(cm.rawJsonColumn, "JSONB", notNull = true)
    for ((logicalName, columnName) <- businessColumns) {
      val sqlType = businessColumnTypes.getOrElse(logicalName,
        throw new ConfigError(
          s"Missing audit.business_column_types for '$logicalName'."))
      add(columnName, sqlType, notNull = true)
    }
    columns.result()
  }

  /** `_build_audit_table_columns` (`pipeline.py:299-308`): the audit
    * table's columns in configured order; keys without a type are
    * skipped.
    */
  def buildAuditTableColumns(audit: AuditSettings): Seq[ColumnDef] =
    audit.auditColumns.toSeq.flatMap { case (key, columnName) =>
      audit.auditColumnTypes.get(key).map(t => ColumnDef(columnName, t))
    }

  /** Report tables (`pipeline.py:322-333`). */
  def reportTables(auditSchema: String): Map[String, Seq[ColumnDef]] = Map(
    s"$auditSchema.missing_attributes_report" -> Seq(
      ColumnDef("ingestion_date", "DATE"),
      ColumnDef("object_name", "TEXT"),
      ColumnDef("missing_columns", "JSONB")),
    s"$auditSchema.missing_collections_report" -> Seq(
      ColumnDef("ingestion_date", "DATE"),
      ColumnDef("object_name", "TEXT"),
      ColumnDef("object_status", "TEXT")))

  /** `create_table` text (`postgres_loader.py:79-99`):
    * `CREATE TABLE IF NOT EXISTS "schema"."table" ("c" TYPE [NOT NULL], ...)`.
    */
  def createTableSql(tableName: String, columns: Seq[ColumnDef]): String = {
    if (columns.isEmpty) throw new LoadError("Cannot create table without columns.")
    s"CREATE TABLE IF NOT EXISTS ${quoteTable(tableName)} (${columns.map(_.ddl).mkString(", ")})"
  }

  def createSchemaSql(schemaName: String): String = {
    if (schemaName.isEmpty) throw new LoadError("Schema name is required.")
    s"CREATE SCHEMA IF NOT EXISTS ${quoteIdent(schemaName)}"
  }
}
