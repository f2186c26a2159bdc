package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.AuditAnalytics
import graft.etl.Ingestion
import graft.sources.{AuditSource, MongoSource}
import graft.streaming.StreamingEtl

/** Coverage for the operators no oracle query or other spec exercises:
  * A1's base form, S6's projection/sort, K6's envelope re-write, the
  * JSONL scale source, Mongo extended-JSON normalization, and the
  * streaming dedup.
  */
class OperatorGapSpec extends AnyFunSuite with SparkTestSession {

  test("countOnDate (A1 base form) counts rows on an exact date") {
    import spark.implicits._
    val df = Seq("2026-01-01 10:00:00", "2026-01-01 23:59:59", "2026-01-02 00:00:00")
      .toDF("ts").withColumn("ts", col("ts").cast("timestamp"))
    val n = AuditAnalytics.countOnDate(df, col("ts"), lit("2026-01-01").cast("date"))
      .head().getLong(0)
    assert(n == 2)
  }

  test("ingestionAudit (S6) projects the date cast and sorts newest-first") {
    val audit = AuditSource.ingestionAudit(
      Tables.events(spark, "/root/testdata/sf0.001"),
      col("ts"), Seq("event_id", "event_type"))
    assert(audit.columns.toSeq == Seq("event_id", "event_type", "ingestion_date"))
    val ts2 = audit.limit(500).collect() // ordered prefix
    val dates = ts2.map(_.getDate(2).toString)
    assert(dates.zip(dates.tail).forall { case (a, b) => a >= b })
  }

  test("writeFilteredEnvelope (K6) persists the selected-collection subset") {
    val env = Ingestion.parseEnvelope(
      """{"a": [{"x": 1}], "b": [{"y": 2}], "c": []}""")
    val out = Files.createTempFile("graft-k6", ".json")
    Ingestion.writeFilteredEnvelope(env, Seq("a", "c"), out.toString)
    val re = Ingestion.parseEnvelope(Files.readString(out))
    assert(re.keys.toSeq == Seq("a", "c"))
    assert(re("a") == Seq("""{"x":1}""") && re("c").isEmpty)
  }

  test("fromJsonLines reads distributed JSONL into the transform contract") {
    val dir = Files.createTempDirectory("graft-jsonl")
    Files.writeString(dir.resolve("part-0.jsonl"), "{\"k\": 1}\n{\"k\": 2}\n")
    val df = Ingestion.fromJsonLines(spark, dir.toString)
    assert(df.columns.toSeq == Seq("raw"))
    assert(df.count() == 2)
  }

  test("extended-JSON normalization: $oid/$date collapse recursively, everything else verbatim") {
    import spark.implicits._
    def norm(doc: String): String =
      MongoSource.normalizeExtendedJson(Seq(doc).toDF("raw")).head().getString(0)
    // deep nesting: wrapper inside dict inside list inside dict
    assert(norm(
      """{"_id":{"$oid":"64a10000000000000000beef"},"a":[{"b":{"$oid":"64a10000000000000000cafe"}},1]}""")
      == """{"_id":"64a10000000000000000beef","a":[{"b":"64a10000000000000000cafe"},1]}""")
    // $date: UTC instant -> pymongo-default naive isoformat; zero
    // micros omitted, nonzero rendered 6-digit; offsets shift to UTC
    assert(norm("""{"t":{"$date":"2023-06-01T08:30:00Z"}}""")
      == """{"t":"2023-06-01T08:30:00"}""")
    assert(norm("""{"t":{"$date":"2023-06-01T08:30:00.250Z"}}""")
      == """{"t":"2023-06-01T08:30:00.250000"}""")
    assert(norm("""{"t":{"$date":"2023-06-01T08:30:00+05:30"}}""")
      == """{"t":"2023-06-01T03:00:00"}""")
    // NOT the wrapper shape: a dict with $oid plus other keys, or a
    // non-text $oid, passes through untouched (reference recursion
    // only maps true BSON types)
    assert(norm("""{"x":{"$oid":"abc","extra":1}}""")
      == """{"x":{"$oid":"abc","extra":1}}""")
    // unmodeled wrappers and numbers ride verbatim — decimal digits
    // preserved (15.30 stays 15.30, never re-rendered as 15.3)
    assert(norm("""{"n":{"$numberLong":"9"},"d":15.30,"s":"x"}""")
      == """{"n":{"$numberLong":"9"},"d":15.30,"s":"x"}""")
  }

  test("dedupStream drops re-delivered ids within the watermark (real stream)") {
    val staging = Files.createTempDirectory("graft-dd-staging")
    Files.writeString(staging.resolve("part-0.jsonl"),
      """{"doc_id": 1, "ts": "2026-01-01T10:00:00"}
        |{"doc_id": 1, "ts": "2026-01-01T10:00:05"}
        |{"doc_id": 2, "ts": "2026-01-01T10:00:10"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema).json(staging.toString)
    val q = StreamingEtl.dedupStream(stream, "doc_id", "ts")
      .writeStream.format("memory").queryName("graft_dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-dd-ckpt").toString)
      .start()
    q.awaitTermination(60000)
    val ids = spark.table("graft_dedup_out").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L))
  }
}
