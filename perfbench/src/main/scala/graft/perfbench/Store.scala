package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.etl._
import graft.sources.{LivePostgres, PgWireClient}

/** Where a workload lands its tables and how the benchmark reads them
  * back. Resets and reads run outside the timed sections.
  */
sealed trait Store {
  def sink: TableSink
  /** Drops everything the previous run landed. */
  def reset(): Unit
  /** A fresh read of a landed table, as the dashboard would issue it. */
  def table(name: String): DataFrame
  /** Bytes the landed tables take in the sink. */
  def storedBytes(): Long
  /** Rows of a landed table, and how many of them have status error. */
  def targetCounts(table: String): (Long, Long)
  /** Per source collection of the audit table: rows, status error, status
    * missing, rows missing `comment`, rows missing `extra_col`; ordered.
    */
  def auditSummary(): Seq[Seq[String]]
  /** A report table's rows as strings, ordered; arrays as compact JSON. */
  def reportRows(table: String, cols: Seq[String]): Seq[Seq[String]]
  /** `pg_stat_database` counters of the benchmark's database (0 off Postgres). */
  def pgStats(): Map[String, Double]
}

final class PgStore(spark: SparkSession, h: LivePostgres.Handle) extends Store {
  private val conn = PgConn(h.host, h.port, h.user, h.database)
  override val sink: PgWireSink = new PgWireSink(conn)

  private def query(sql: String): Seq[Seq[String]] = {
    val c = conn.open()
    try c.query(sql).rows finally c.close()
  }

  override def reset(): Unit = {
    val auditSchema = EtlDefaults.audit.auditSchema
    sink.execute(s"DROP SCHEMA IF EXISTS ${Gen.TargetSchema} CASCADE; " +
      s"DROP SCHEMA IF EXISTS $auditSchema CASCADE")
  }

  override def table(name: String): DataFrame =
    spark.read.format("graft.sources.PgWireSource")
      .option("host", h.host).option("port", h.port.toString)
      .option("user", h.user).option("database", h.database)
      .option("table", name)
      .load()

  /** Main-fork bytes of the landed tables and their TOAST tables. The
    * free-space and visibility maps are left out: autovacuum adds them at
    * times of its own choosing.
    */
  override def storedBytes(): Long =
    query(
      s"""SELECT coalesce(sum(pg_relation_size(c.oid) + CASE WHEN c.reltoastrelid <> 0
                 THEN pg_relation_size(c.reltoastrelid) ELSE 0 END), 0)
          FROM pg_class c JOIN pg_namespace n ON n.oid = c.relnamespace
          WHERE c.relkind = 'r'
            AND n.nspname IN ('${Gen.TargetSchema}', '${EtlDefaults.audit.auditSchema}')""")
      .head.head.toLong

  override def targetCounts(table: String): (Long, Long) = {
    val r = query(
      s"SELECT count(*), count(*) FILTER (WHERE status = 'error') FROM $table").head
    (r(0).toLong, r(1).toLong)
  }

  override def auditSummary(): Seq[Seq[String]] =
    query(
      s"""SELECT source_collection, count(*),
                 count(*) FILTER (WHERE processing_status = 'error'),
                 count(*) FILTER (WHERE processing_status = 'missing'),
                 count(*) FILTER (WHERE missing_columns @> '["comment"]'),
                 count(*) FILTER (WHERE missing_columns @> '["extra_col"]')
          FROM ${EtlDefaults.audit.auditTable} GROUP BY 1 ORDER BY 1""")

  override def reportRows(table: String, cols: Seq[String]): Seq[Seq[String]] =
    query(s"SELECT ${cols.map(c => s"$c::text").mkString(", ")} FROM $table " +
      s"ORDER BY ${cols.indices.map(_ + 1).mkString(", ")}")
      .map(_.map(v => if (v == null) null else v.replace(" ", "")))

  override def pgStats(): Map[String, Double] = {
    val r = query(
      """SELECT tup_inserted, xact_commit, tup_returned FROM pg_stat_database
         WHERE datname = current_database()""").head
    Map("pg.tup_inserted" -> r(0).toDouble, "pg.xact_commit" -> r(1).toDouble,
      "pg.tup_returned" -> r(2).toDouble)
  }
}

/** Parquet tables under a run-scoped directory; [[reset]] moves to a
  * fresh directory and deletes the previous one.
  */
final class ParquetStore(spark: SparkSession, base: Path) extends Store {
  private var run = 0
  private def dir: Path = base.resolve(s"run-$run")
  private var current = new ParquetSink(dir.toString)
  override def sink: TableSink = current

  override def reset(): Unit = {
    Files.createDirectories(base)
    Store.deleteTree(dir)
    run += 1
    current = new ParquetSink(dir.toString)
  }

  override def table(name: String): DataFrame = current.read(spark, name)

  override def storedBytes(): Long = Store.treeBytes(dir)

  override def targetCounts(table: String): (Long, Long) = {
    val r = current.read(spark, table)
      .agg(count(lit(1)), count(when(col("status") === "error", 1))).head()
    (r.getLong(0), r.getLong(1))
  }

  override def auditSummary(): Seq[Seq[String]] = {
    val missing = from_json(col("missing_columns"), ArrayType(StringType))
    def n(c: Column) = count(when(c, 1)).cast("string")
    current.read(spark, EtlDefaults.audit.auditTable)
      .groupBy("source_collection")
      .agg(count(lit(1)).cast("string"), n(col("processing_status") === "error"),
        n(col("processing_status") === "missing"),
        n(array_contains(missing, "comment")), n(array_contains(missing, "extra_col")))
      .orderBy("source_collection")
      .collect().toSeq.map(r => (0 until 6).map(r.getString))
  }

  override def reportRows(table: String, cols: Seq[String]): Seq[Seq[String]] =
    current.read(spark, table).select(cols.map(c => col(c).cast("string")): _*)
      .collect().toSeq.map(r => cols.indices.map(r.getString))
      .sortBy(_.mkString("\u0000"))

  override def pgStats(): Map[String, Double] =
    Map("pg.tup_inserted" -> 0.0, "pg.xact_commit" -> 0.0, "pg.tup_returned" -> 0.0)
}

object Store {
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
