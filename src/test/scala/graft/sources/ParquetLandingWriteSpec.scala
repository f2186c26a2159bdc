package graft.sources

import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.etl.{AttributeMapping, CollectionMapping, EtlDefaults, Landing, ParquetSink, Transform}

/** [[ParquetLandingWrite]] against Spark's own Parquet writer: a frame
  * landed through [[ParquetSink]] reads back with the schema and rows
  * that `df.write.parquet` of its [[Landing.target]] and
  * [[Landing.audit]] projections (arrays as `to_json`) reads back with,
  * including the frames where a table gets no row. Plus the batch
  * naming: a replay lands nothing twice, and a replay after a partial
  * commit lands only the missing files.
  */
class ParquetLandingWriteSpec extends AnyFunSuite with SparkTestSession {

  private val Target = "public.people"
  private val Audit = EtlDefaults.audit.auditTable

  private val mapping = CollectionMapping(Target, "raw_json", "person_id", ListMap(
    "person_id" -> AttributeMapping("person_id", "integer"),
    "name" -> AttributeMapping("name", "text"),
    "joined" -> AttributeMapping("joined", "date"),
    "balance" -> AttributeMapping("balance", "numeric")))

  private val people = (1 to 30).map { i =>
    if (i % 7 == 0) s"""{"person_id": $i, "joined": "bad"}"""
    else s"""{"person_id": $i, "name": "p$i", "joined": "2025-01-${10 + i % 9}", "balance": $i.25}"""
  }

  /** One collection's [[Landing]] frame over `raw`. */
  private def landing(raw: DataFrame): DataFrame =
    Transform.transformCollection(raw, "raw", "people", mapping, EtlDefaults.runtime,
      EtlDefaults.audit, clock = lit("2026-02-03 04:05:06").cast("timestamp")).rows

  private def landing(docs: Seq[String], partitions: Int): DataFrame = {
    import spark.implicits._
    landing(spark.sparkContext.parallelize(docs, partitions).toDF("raw"))
  }

  private def tempDir(): Path = Files.createTempDirectory("graft-landing")

  private def jsonArrays(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map {
      case StructField(name, _: ArrayType, _, _) => to_json(col(name)).as(name)
      case f => col(f.name)
    }: _*)

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The names of the Parquet files directly under `dir`. */
  private def dataFiles(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
    finally s.close()
  }

  /** The distinct Spark schemas the Parquet files under `dir` record in
    * their footers, nullability included (`spark.read.parquet` reads
    * every column back as nullable).
    */
  private def writtenSchemas(dir: Path): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(dir).map { name =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir.resolve(name).toString), conf))
      try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      finally reader.close()
    }.toSet
  }

  /** Lands `rows` through the sink (into `target`, if given, and the
    * audit table) and through `df.write.parquet`; every table reads
    * back with equal schemas and sorted rows, from as many files, each
    * recording the same schema. Returns the tables' row counts.
    */
  private def assertSameAsSparkWriter(rows: DataFrame, target: Option[String],
      audit: String = Audit): Seq[Long] = {
    val base = tempDir()
    val sink = new ParquetSink(base.toString)
    sink.appendCollection(rows, target, audit)
    val spark0 = tempDir()
    val tables = target.map(_ -> Landing.target(rows)).toSeq :+ (audit -> Landing.audit(rows))
    tables.map { case (table, projection) =>
      val dir = spark0.resolve(table)
      jsonArrays(projection).write.parquet(dir.toString)
      val (landed, reference) = (sink.read(spark, table), spark.read.parquet(dir.toString))
      assert(landed.schema == reference.schema, table)
      assert(sorted(landed) == sorted(reference), table)
      assert(dataFiles(base.resolve(table)).size == dataFiles(dir).size, table)
      assert(writtenSchemas(base.resolve(table)) == writtenSchemas(dir), table)
      landed.count()
    }
  }

  test("a collection lands as Spark's writer lands its target and audit projections") {
    assert(assertSameAsSparkWriter(landing(people, 3), Some(Target)) == Seq(30L, 30L))
  }

  test("a collection with zero documents lands both tables empty, with their schemas") {
    assert(assertSameAsSparkWriter(landing(Nil, 2), Some(Target)) == Seq(0L, 0L))
  }

  test("a zero-partition frame lands both tables empty, with their schemas") {
    val raw = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("raw", StringType))))
    val rows = landing(raw)
    assert(rows.queryExecution.toRdd.getNumPartitions == 0)
    assert(assertSameAsSparkWriter(rows, Some(Target)) == Seq(0L, 0L))
  }

  test("an audit-only frame lands as Spark's writer lands it") {
    import spark.implicits._
    val report = Seq(("public.a", Seq("x", "y")), ("public.b", Seq.empty[String]),
      ("public.c", null)).toDF("object_name", "missing_columns")
    val rows = Landing.auditOnly(report.select(
      lit("2026-02-03").cast("date").as("ingestion_date") +: report.columns.toSeq.map(col): _*))
    assert(assertSameAsSparkWriter(rows, None, "doc_audit.missing_attributes_report") ==
      Seq(3L))
  }

  test("a partition 0 with no target row still lands the target table's schema") {
    val rows = landing(people, 3)
      .withColumn(Landing.HasTarget, col(Landing.HasTarget) && spark_partition_id() =!= 0)
    assert(assertSameAsSparkWriter(rows, Some(Target)) == Seq(20L, 30L))
  }

  test("a replayed batch lands nothing twice; a replay after a partial commit lands the rest") {
    val base = tempDir()
    val sink = new ParquetSink(base.toString)
    def land(): Unit = sink.appendCollection(landing(people, 3), Some(Target), Audit, Some("run/people"))
    def counts() = Seq(Target, Audit).map(sink.read(spark, _).count())
    def parts(table: String) = dataFiles(base.resolve(table))
    land()
    assert(counts() == Seq(30L, 30L))
    val files = parts(Target)
    assert(files.size == 3 && parts(Audit).size == 3)
    land()
    assert(counts() == Seq(30L, 30L))
    assert(parts(Target) == files)
    // a commit that died after renaming all but the last target file
    Files.delete(base.resolve(Target).resolve(files.last))
    assert(counts() == Seq(20L, 30L))
    land()
    assert(counts() == Seq(30L, 30L))
    assert(parts(Target) == files)
    // every write deleted its temp files
    val tmp = base.resolve(Target).resolve(ParquetLandingWrite.TempDir)
    assert(!Files.exists(tmp) || Files.list(tmp).count() == 0)
    // another batch is another set of files
    sink.appendCollection(landing(people, 3), Some(Target), Audit, Some("run2/people"))
    assert(counts() == Seq(60L, 60L))
  }
}
