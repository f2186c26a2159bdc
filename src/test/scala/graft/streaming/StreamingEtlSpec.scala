package graft.streaming

import java.nio.file.Files
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.etl._

class StreamingEtlSpec extends AnyFunSuite with SparkTestSession {

  /** A parquet sink that records, per append, the cached relations the
    * appended frame's plan reads.
    */
  private final class CacheRecordingSink(base: String) extends TableSink {
    val inner = new ParquetSink(base)
    val cachedReads = ArrayBuffer.empty[Seq[InMemoryRelation]]
    override def tableExists(tableName: String): Boolean = inner.tableExists(tableName)
    override def createSchema(schemaName: String): Unit = inner.createSchema(schemaName)
    override def createTable(tableName: String, columns: Seq[ColumnDef]): Unit =
      inner.createTable(tableName, columns)
    override def append(df: DataFrame, tableName: String): Unit = {
      cachedReads += df.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r
      }
      inner.append(df, tableName)
    }
  }

  test("streaming ETL drains staged JSONL through the shared transform into the sink") {
    val staging = Files.createTempDirectory("graft-staging")
    val checkpoint = Files.createTempDirectory("graft-ckpt").toString
    val base = Files.createTempDirectory("graft-stream-sink").toString
    Files.writeString(staging.resolve("part-0.jsonl"),
      """{"_id": 1, "name": "Ada", "joined": "03/04/2025"}
        |{"_id": 2, "joined": "bad"}
        |""".stripMargin)

    val cm = CollectionMapping("public.people_s", "raw_json", "_id", ListMap(
      "_id" -> AttributeMapping("person_id", "integer"),
      "name" -> AttributeMapping("full_name", "text"),
      "joined" -> AttributeMapping("joined_date", "date")))
    val recording = new CacheRecordingSink(base)
    val sink = recording.inner
    sink.createTable("public.people_s", Seq.empty)

    val q = StreamingEtl.run(
      spark, staging.toString, checkpoint, "people", cm,
      EtlDefaults.runtime, EtlDefaults.audit, recording,
      clock = lit("2026-01-01 00:00:00").cast("timestamp"))
    q.awaitTermination(60000)

    // One micro-batch, transformed once: the target and audit write
    // plans both read the same persisted shared projection.
    assert(recording.cachedReads.size == 2)
    assert(recording.cachedReads.forall(_.size == 1), recording.cachedReads)
    val Seq(Seq(targetRead), Seq(auditRead)) = recording.cachedReads.toSeq: @unchecked
    assert(targetRead.cacheBuilder eq auditRead.cacheBuilder)

    val target = sink.read(spark, "public.people_s").orderBy("person_id").collect()
    assert(target.length == 2)
    assert(target(0).getAs[String]("joined_date") == "2025-03-04")
    assert(target(0).getAs[String]("status") == "success")
    assert(target(1).getAs[String]("status") == "error") // bad date
    val audit = sink.read(spark, "doc_audit.ingestion_audit")
    assert(audit.count() == 2)
    assert(audit.filter(col("missing_columns") === """["full_name"]""").count() == 1)
  }

  test("windowed counts + streaming dedup plans are valid streaming plans") {
    import spark.implicits._
    // Plan-level check on a batch frame with the same shapes the stream uses.
    val events = Seq(("2026-01-01 10:05:00", "click"), ("2026-01-01 10:20:00", "click"))
      .toDF("ts", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val counts = StreamingEtl.windowedCounts(events, "ts", "event_type").collect()
    assert(counts.length == 1 && counts(0).getAs[Long]("cnt") == 2L)
    val deduped = Seq((1L, "2026-01-01 10:05:00"), (2L, "2026-01-01 10:06:00"))
      .toDF("doc_id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    assert(deduped.withWatermark("ts", "1 hour").dropDuplicates("doc_id").count() == 2)
  }

  test("ParquetSink: an epoch replayed after a crash past its landing lands every row once") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    import spark.implicits._
    val staging = Files.createTempDirectory("graft-pq-se-staging")
    Seq(1 to 12, 13 to 25).zipWithIndex.foreach { case (ids, i) =>
      Files.writeString(staging.resolve(s"part-$i.jsonl"),
        ids.map(id => s"""{"person_id": $id, "name": "p$id"}""").mkString("", "\n", "\n"))
    }
    val checkpoint = Files.createTempDirectory("graft-pq-se-ckpt").toString
    val sink = new ParquetSink(Files.createTempDirectory("graft-pq-se-sink").toString)
    val cm = CollectionMapping("public.people_eo", "raw_json", "person_id", ListMap(
      "person_id" -> AttributeMapping("person_id", "integer"),
      "name" -> AttributeMapping("name", "text")))
    sink.createTable(cm.targetTable, Seq.empty)
    // the first run crashes right after epoch 0 landed, before Spark
    // commits it in the checkpoint
    val crashing = new CrashOnceSink(sink, (_, batch) => batch.forall(_.endsWith("/0")))
    def run(through: TableSink) = StreamingEtl.run(spark, staging.toString, checkpoint,
      "people", cm, EtlDefaults.runtime, EtlDefaults.audit, through)

    val first = run(crashing)
    val failed = intercept[StreamingQueryException](first.awaitTermination(60000))
    assert(failed.getMessage.contains("injected post-commit crash"))
    val restarted = run(sink) // epoch 0 is replayed under the same query id
    assert(restarted.awaitTermination(60000))
    assert(restarted.exception.isEmpty)
    assert(restarted.id == first.id)

    val people = sink.read(spark, cm.targetTable).select("person_id").as[Int]
      .collect().sorted.toSeq
    val audited = sink.read(spark, EtlDefaults.audit.auditTable).select("object_id").as[String]
      .collect().map(_.toInt).sorted.toSeq
    assert((people.size, audited.size) == ((25, 25)))
    assert(people == (1 to 25) && audited == (1 to 25))
  }
}
