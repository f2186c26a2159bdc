package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.{ParquetLandingSource, PgLeg}

/** The sink plane (K1–K5). The pipeline writes through this interface so
  * tests run against Parquet while production targets Postgres over the
  * wire protocol ([[PgWireSink]]) — replacing the reference's
  * row-at-a-time INSERT + per-document COMMIT (`postgres_loader.py:63-77`,
  * `pipeline.py:265-266`) with partition-parallel batched appends
  * (SURVEY §7.4.1: the documented granularity change).
  *
  * Threads: `Pipeline.run` calls [[prepare]] once from the calling
  * thread, then lands its collections concurrently, so
  * [[appendCollection]] and [[append]] may run on several threads at
  * once, into the same table (every collection appends audit rows, and
  * two collections may map to one target). Neither sink needs a lock
  * for that: each partition of a [[PgWireSink]] write is its own
  * transaction, and Postgres takes concurrent COPYs into one table;
  * each [[ParquetSink]] write stages its files in a temp directory of
  * its own. A decorator that records calls must record them
  * thread-safely.
  */
trait TableSink {
  def tableExists(tableName: String): Boolean
  def createSchema(schemaName: String): Unit
  def createTable(tableName: String, columns: Seq[ColumnDef]): Unit
  /** Writes every row of `df` before returning. */
  def append(df: DataFrame, tableName: String): Unit

  /** The catalog step of a run: returns which `probe` tables existed
    * before the call, then creates each `create` table that is missing,
    * and its schema, in order. This default probes with [[tableExists]]
    * and creates each schema once, before its first table, through
    * [[createSchema]] and [[createTable]] (create-if-missing on every
    * sink); [[PgWireSink]] does it all over one connection.
    */
  def prepare(probe: Seq[String], create: Seq[(String, Seq[ColumnDef])]): Set[String] = {
    val existed = probe.filter(tableExists).toSet
    create.foldLeft(Set.empty[String]) { case (schemas, (table, columns)) =>
      val (schema, _) = SchemaScript.splitTableName(table)
      if (!schemas(schema)) createSchema(schema)
      createTable(table, columns)
      schemas + schema
    }
    existed
  }

  /** Lands one collection's [[Landing]] frame: each row's target
    * columns in `targetTable` (None: the rows have no table to land in)
    * unless the row is flagged audit-only, and its audit columns in
    * `auditTable`. `batchId` names the write: writing a batch again
    * lands no row twice.
    *
    * `Pipeline.run` reads its report from metrics observed in `rows`.
    * Both sinks override this with one write job that lands both tables
    * and persists nothing, exactly-once per `batchId`.
    *
    * With a target table this default persists `rows` and appends the
    * target and audit projections of that one copy, so the transform
    * runs once; without one it is one plain append. It ignores
    * `batchId`. It is kept only for the sinks that decorate another
    * (the benchmark's `TracedSink`, the test decorators), which inherit
    * it; delete it once `TracedSink` forwards `appendCollection`.
    */
  def appendCollection(rows: DataFrame, targetTable: Option[String],
      auditTable: String, batchId: Option[String] = None): Unit =
    targetTable match {
      case None => append(Landing.audit(rows), auditTable)
      case Some(table) =>
        rows.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          append(Landing.target(rows), table)
          append(Landing.audit(rows), auditTable)
        } finally rows.unpersist()
    }
}

/** The frame [[TableSink.appendCollection]] takes: a document's target
  * columns under their own names, its audit columns under
  * [[Landing.auditColumn]] names (the two tables share names such as
  * `ingested_at`), and the boolean [[Landing.HasTarget]], false on an
  * audit-only row (the MISSING row of a table absent from the input).
  */
object Landing {
  val HasTarget = "__graft_has_target"
  private val AuditPrefix = "__graft_audit_"

  def auditColumn(name: String): String = AuditPrefix + name

  def targetColumns(rows: DataFrame): Seq[String] =
    rows.columns.toSeq.filterNot(c => c == HasTarget || c.startsWith(AuditPrefix))

  /** (column in `rows`, column in the audit table) pairs. */
  def auditColumns(rows: DataFrame): Seq[(String, String)] =
    rows.columns.toSeq.collect {
      case c if c.startsWith(AuditPrefix) => c -> c.stripPrefix(AuditPrefix)
    }

  def target(rows: DataFrame): DataFrame =
    rows.filter(col(HasTarget)).select(targetColumns(rows).map(col): _*)

  def audit(rows: DataFrame): DataFrame =
    rows.select(auditColumns(rows).map { case (c, name) => col(c).as(name) }: _*)

  /** The audit-only frame whose [[audit]] projection is `rows`. */
  def auditOnly(rows: DataFrame): DataFrame =
    rows.select(rows.columns.toSeq.map(c => rows(c).as(auditColumn(c))) :+
      lit(false).as(HasTarget): _*)
}

/** Test/local sink: one parquet directory per table under `baseDir`
  * (`schema.table` → `schema.table/`). Array columns (the audit table's
  * `missing_columns`) are stored as JSON strings to mirror the JSONB
  * wire format. Every append is one
  * [[graft.sources.ParquetLandingWrite]]: [[append]] of one leg,
  * [[appendCollection]] of a target and an audit leg in one job with
  * nothing persisted, exactly-once per `batchId`. Appends into one
  * directory run concurrently: each write stages its files in a temp
  * directory of its own.
  */
final class ParquetSink(baseDir: String) extends TableSink {

  private def dir(tableName: String) =
    Paths.get(baseDir, SchemaScript.normalizeTableName(tableName))

  override def tableExists(tableName: String): Boolean =
    Files.exists(dir(tableName))

  override def createSchema(schemaName: String): Unit = {
    val _ = Files.createDirectories(Paths.get(baseDir))
  }

  override def createTable(tableName: String, columns: Seq[ColumnDef]): Unit = {
    val _ = Files.createDirectories(dir(tableName))
  }

  private def leg(tableName: String, columns: Seq[(String, String)], when: Option[String] = None) =
    PgLeg(dir(tableName).toString, columns, when)

  /** Lands `df` in `legs` as one write job, array columns as JSON. */
  private def write(df: DataFrame, legs: Seq[PgLeg], batchId: Option[String]): Unit = {
    val jsonified = df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType =>
          acc.withColumn(f.name, to_json(col(f.name)))
        case _ => acc
      }
    }
    val w = jsonified.write.format(classOf[ParquetLandingSource].getName)
      .option("legs", PgLeg.encode(legs)).mode("append")
    batchId.fold(w)(w.option("batchId", _)).save()
  }

  override def append(df: DataFrame, tableName: String): Unit =
    write(df, Seq(leg(tableName, df.columns.toSeq.map(c => c -> c))), None)

  /** One job: the target leg takes the [[Landing.HasTarget]] rows, the
    * audit leg every row, and each task writes both tables' files.
    * With a `batchId`, a partition whose file a table already holds
    * from an earlier write of the batch lands nothing in it (the naming
    * in `ParquetLandingWrite.scala`), provided the frame's partition
    * contents are deterministic.
    */
  override def appendCollection(rows: DataFrame, targetTable: Option[String],
      auditTable: String, batchId: Option[String]): Unit =
    write(rows, targetTable.map(t => leg(t,
      Landing.targetColumns(rows).map(c => c -> c), Some(Landing.HasTarget))).toSeq :+
      leg(auditTable, Landing.auditColumns(rows)), batchId)

  def read(spark: org.apache.spark.sql.SparkSession, tableName: String): DataFrame =
    spark.read.parquet(dir(tableName).toString)
}

/** K3's ensure-database half (reference
  * `etl_pipeline/postgres_loader.py:110-168`, driven by the
  * `create_if_missing`/`admin_db` config knobs): probe the target
  * database; if the connect error says it does not exist, connect to the
  * admin database, check `pg_database`, and `CREATE DATABASE`. Factored
  * against [[EnsureDatabase.AdminOps]] so the DDL sequence is
  * spec-testable without a live server; [[EnsureDatabase.overWire]]
  * binds the live implementation over [[graft.sources.PgWireClient]].
  */
object EnsureDatabase {

  /** The minimal admin-connection surface the ensure flow needs. */
  trait AdminOps {
    /** Try connecting to `dbName`; `Left(message)` on failure. */
    def tryConnect(dbName: String): Either[String, Unit]
    /** Against the ADMIN db: `SELECT 1 FROM pg_database WHERE datname = ?`. */
    def databaseExists(dbName: String): Boolean
    /** Against the ADMIN db, autocommit: `CREATE DATABASE "dbName"`. */
    def createDatabase(dbName: String): Unit
  }

  def apply(db: DatabaseConfig, ops: AdminOps): Unit = {
    if (!db.createIfMissing) return // guard clause, postgres_loader.py:111-112
    ops.tryConnect(db.name) match {
      case Right(_) => // target exists — nothing to do (py:124-127)
      case Left(msg) if msg != null && msg.contains("does not exist") =>
        try {
          if (!ops.databaseExists(db.name)) ops.createDatabase(db.name)
        } catch {
          case e: EtlException => throw e
          case e: Throwable => throw new LoadError(
            s"Failed to create database '${db.name}': ${e.getMessage}")
        }
      case Left(msg) =>
        throw new LoadError(s"Failed to connect to PostgreSQL: $msg")
    }
  }

  /** K3 against the live server: probe and admin statements each over
    * their own wire connection. Call once before the first pipeline run
    * against a fresh deployment (the Cli does).
    */
  def overWire(db: DatabaseConfig): Unit = {
    HostGuard.requireLocal(db.host) // F5
    apply(db, new WireAdminOps(db))
  }

  private final class WireAdminOps(db: DatabaseConfig) extends AdminOps {
    private def connTo(dbName: String) =
      PgConn(db.host, db.port, db.user, dbName, db.password)
    override def tryConnect(dbName: String): Either[String, Unit] =
      try { connTo(dbName).open().close(); Right(()) }
      catch { case scala.util.control.NonFatal(e) => Left(String.valueOf(e.getMessage)) }
    private def onAdmin[A](f: graft.sources.PgWireClient => A): A = {
      val c = connTo(db.adminDb).open()
      try f(c) finally c.close()
    }
    override def databaseExists(dbName: String): Boolean = onAdmin(_.query(
      "SELECT 1 FROM pg_database WHERE datname = " +
        SchemaManager.quoteLiteral(dbName)).rows.nonEmpty)
    override def createDatabase(dbName: String): Unit = onAdmin { c =>
      val _ = c.query(createDatabaseSql(dbName))
    }
  }

  def createDatabaseSql(dbName: String): String = {
    if (dbName.isEmpty) throw new LoadError("Database name is required.")
    // postgres_loader.py:119 quotes with sql.Identifier
    s"CREATE DATABASE ${SchemaManager.quoteIdent(dbName)}"
  }
}
