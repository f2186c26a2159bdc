package graft.etl

import java.io.{BufferedOutputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeType
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}

/** The streaming envelope split behind `Ingestion.loadEnvelope`: the
  * same documents and errors as a whole-tree `readTree` parse, a
  * distributed (not driver-local) plan that `Pipeline.run` runs without
  * a shuffle, and driver memory bounded by one document rather than the
  * file.
  */
class EnvelopeIngestionSpec extends AnyFunSuite with SparkTestSession {

  /** The whole-tree parse `parseEnvelope` had before the streaming
    * walker, kept here as the reference the walker must agree with.
    */
  private object ReadTreeReference {
    private val mapper = new ObjectMapper()
      .configure(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS, true)

    def parse(content: String): ListMap[String, Seq[String]] = {
      val root =
        try mapper.readTree(content)
        catch {
          case e: Exception => throw new InputError(s"Input is not valid JSON: ${e.getMessage}")
        }
      if (root == null || root.getNodeType != JsonNodeType.OBJECT)
        throw new InputError("Input JSON must be an object keyed by collection name.")
      var result = ListMap.empty[String, Seq[String]]
      for (name <- root.fieldNames.asScala) {
        val docs = root.get(name)
        if (!docs.isArray)
          throw new InputError(s"Collection '$name' must map to a list of documents.")
        val rendered = docs.elements.asScala.zipWithIndex.map { case (doc: JsonNode, i) =>
          if (!doc.isObject)
            throw new InputError(
              s"Document at index $i in collection '$name' must be an object.")
          mapper.writeValueAsString(doc)
        }.toSeq
        result = result + (name -> rendered)
      }
      result
    }
  }

  private lazy val work = TempDirs.create("graft-envelope-spec")

  private def envelopeFile(content: String): Path = {
    val p = Files.createTempFile(work, "envelope", ".json")
    Files.writeString(p, content)
    p
  }

  private def raws(df: DataFrame): Seq[String] = df.collect().map(_.getString(0)).toSeq

  private def multiset(xs: Seq[String]): Map[String, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  // Prefix of a JSON unicode escape, spelled so Scala leaves it alone.
  private val u = "\\" + "u"

  // Nested objects and arrays, unicode, escaped line breaks, big and
  // high-precision decimals, an empty collection, and duplicated keys
  // both inside a document and at the top level.
  private val orders = (0 until 40).map { i =>
    s"""{"order_id": $i, "nested": {"a": [1, [2, {"b": null}], {"c": {"d": true}}], "e": {}},
       | "note": "line $i\\nnext\\r\\nlast\\ttab \\"quoted\\" back\\\\slash ${u}0001",
       | "unicode": "h${u}00e9llo — 日本語 😀 #$i",
       | "amount": ${i}.10, "big": 123456789012345678901234567890.12345678901234567890$i,
       | "tiny": 1.0E-30, "huge_int": 1234567890123456789012345678$i,
       | "dup": "first", "dup": "second $i"}""".stripMargin
  }
  private val fixture =
    s"""{"orders": [${orders.mkString(",\n")}],
       | "empty": [],
       | "repeated": [{"x": 1}],
       | "other": [{"y": "tab\\there"}, {"z": [1.5, -0.0, 1e308]}],
       | "repeated": [{"x": 2}, {"x": 3}]}""".stripMargin

  test("every collection's rows equal parseEnvelope's documents, byte for byte") {
    val expected = Ingestion.parseEnvelope(fixture)
    assert(expected == ReadTreeReference.parse(fixture))
    val loaded = Ingestion.loadEnvelope(spark, envelopeFile(fixture).toString)
    assert(loaded.keys.toSeq == Seq("orders", "empty", "repeated", "other"))
    for ((name, docs) <- expected) {
      assert(loaded(name).columns.toSeq == Seq("raw"))
      assert(multiset(raws(loaded(name))) == multiset(docs), name)
    }
    assert(expected("orders").size == 40 && expected("empty").isEmpty)
    assert(expected("orders").head.contains("\"dup\":\"second 0\""))
    assert(!expected("orders").head.contains("first"))
  }

  test("a repeated top-level key keeps the last value in the first position") {
    val env = """{"a": [{"v": 1}], "b": [], "a": [{"v": 2}, {"v": 3}]}"""
    val expected = ListMap("a" -> Seq("""{"v":2}""", """{"v":3}"""), "b" -> Seq())
    assert(Ingestion.parseEnvelope(env) == expected)
    assert(ReadTreeReference.parse(env) == expected)
    val loaded = Ingestion.loadEnvelope(spark, envelopeFile(env).toString)
    assert(loaded.keys.toSeq == Seq("a", "b"))
    assert(raws(loaded("a")).sorted == expected("a") && raws(loaded("b")).isEmpty)
    // a valid later value replaces an invalid earlier one, as readTree does
    val healed = """{"c": 1, "d": [{"k": 0}], "c": [{"k": 1}]}"""
    assert(Ingestion.parseEnvelope(healed) == ReadTreeReference.parse(healed))
    assert(raws(Ingestion.loadEnvelope(spark, envelopeFile(healed).toString)("c"))
      == Seq("""{"k":1}"""))
  }

  test("a lone surrogate is encoded as Spark encodes a driver-side string") {
    val env = s"""{"s": [{"t": "a${u}d800b"}, {"t": "ok"}]}"""
    import spark.implicits._
    val driverLocal = ReadTreeReference.parse(env)("s").toDF("raw")
    assert(raws(Ingestion.loadEnvelope(spark, envelopeFile(env).toString)("s")).sorted
      == raws(driverLocal).sorted)
  }

  test("every InputError is raised through a file, with the reference's message") {
    val cases = Seq(
      "[1, 2]", """{"c": 1}""", """{"c": [1]}""", "not json", "", "null", "[1, 2",
      """{"a": [{"x": 1}, 2, 3], "b": 5}""",
      """{"a": [{"x": 1}], "b": "s", "a": [7]}""",
      """{"a": [1], "b": [{"x": }]}""",
      """{"a": [{"x": 1}]""",
      """{"c": 1, "c": [2]}""")
    for (env <- cases) {
      val expected = intercept[InputError](ReadTreeReference.parse(env)).getMessage
      val fromString = intercept[InputError](Ingestion.parseEnvelope(env)).getMessage
      val fromFile = intercept[InputError](
        Ingestion.loadEnvelope(spark, envelopeFile(env).toString)).getMessage
      val prefix = "Input is not valid JSON: "
      if (expected.startsWith(prefix))
        assert(fromString.startsWith(prefix) && fromFile.startsWith(prefix), env)
      else assert(fromString == expected && fromFile == expected, env)
    }
    assertThrows[InputError](Ingestion.loadEnvelope(spark, "/nonexistent.json"))
  }

  test("collections are distributed splits: no LocalRelation, no fan-out exchange") {
    val loaded = Ingestion.loadEnvelope(spark, envelopeFile(fixture).toString)
    val parallelism = spark.sparkContext.defaultParallelism
    for ((name, df) <- loaded)
      assert(df.queryExecution.analyzed.collect { case l: LocalRelation => l }.isEmpty, name)
    val ordersDf = loaded("orders")
    assert(ordersDf.rdd.getNumPartitions >= parallelism)
    assert(Ingestion.fanOutForCpu(ordersDf) eq ordersDf)

    // One JSONL file per collection, a repeated key's file rewritten in
    // place; an empty collection stages an empty file.
    val staging = Files.createTempDirectory(work, "staging")
    val split = Ingestion.splitEnvelope(envelopeFile(fixture), staging)
    assert(split.values.forall(f => Files.isRegularFile(f) && f.getParent == staging))
    assert(split.map { case (name, f) => name -> Files.readAllLines(f, UTF_8).size } ==
      ListMap("orders" -> 40, "empty" -> 0, "repeated" -> 2, "other" -> 2))
    assert(Files.list(staging).count() == 4)
  }

  private val ordersMapping = MappingConfig(ListMap("orders" -> CollectionMapping(
    "public.orders", "raw_json", "order_id", ListMap(
      "order_id" -> AttributeMapping("order_id", "integer"),
      "amount" -> AttributeMapping("amount", "numeric")))))

  /** One append of a `Pipeline.run`: its table, its executed plan and the
    * Spark jobs it ran.
    */
  private final class Append(val table: String, val plan: SparkPlan, val jobs: Int)

  /** Runs the collection through `Pipeline.run` into a parquet sink,
    * counting the jobs of each append with a listener.
    */
  private def appends(orders: DataFrame): Seq[Append] = {
    val schemaSql = Files.createTempFile(work, "schema", ".sql")
    val app = EtlDefaults.appConfig.copy(
      runtime = EtlDefaults.runtime.copy(schemaPath = schemaSql.toString))
    val parquet = new ParquetSink(Files.createTempDirectory(work, "e2e").toString)
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val recorded = Seq.newBuilder[Append]
    val recording = new TableSink {
      def tableExists(t: String) = parquet.tableExists(t)
      def createSchema(s: String) = parquet.createSchema(s)
      def createTable(t: String, c: Seq[ColumnDef]) = parquet.createTable(t, c)
      def append(df: DataFrame, t: String): Unit = {
        ListenerBusDrain.drain(sc)
        val before = jobs.get
        parquet.append(df, t)
        ListenerBusDrain.drain(sc)
        val append = new Append(t, df.queryExecution.executedPlan, jobs.get - before)
        recorded.synchronized { recorded += append }
      }
    }
    sc.addSparkListener(listener)
    try Pipeline.run(spark, ListMap("orders" -> orders), app, ordersMapping, recording,
      clock = lit("2026-02-03 04:05:06").cast("timestamp"), ingestionDate = "2026-02-03")
    finally sc.removeSparkListener(listener)
    assert(parquet.read(spark, "public.orders").count() == 40)
    recorded.result()
  }

  private def exchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] = plan.flatMap {
    case a: AdaptiveSparkPlanExec => exchanges(a.inputPlan)
    case m: InMemoryTableScanExec => exchanges(m.relation.cachedPlan)
    case e: ShuffleExchangeExec => Seq(e)
    case _ => Nil
  }

  test("Pipeline.run plans no shuffle and one job per target append, from an envelope or one JSONL file") {
    val oneFile = Files.createTempDirectory(work, "jsonl")
    Files.write(oneFile.resolve("part-0.jsonl"),
      Ingestion.parseEnvelope(fixture)("orders").asJava, UTF_8)
    val inputs = Seq(
      "envelope" -> Ingestion.loadEnvelope(spark, envelopeFile(fixture).toString)("orders"),
      "one JSONL file" -> Ingestion.fromJsonLines(spark, oneFile.toString))
    for ((name, orders) <- inputs) {
      val runs = appends(orders)
      for (a <- runs) assert(exchanges(a.plan).isEmpty, s"$name, ${a.table}:\n${a.plan}")
      // the target append parses, caches and writes in one job
      assert(runs.filter(_.table == "public.orders").map(_.jobs) == Seq(1),
        s"$name: ${runs.map(a => a.table -> a.jobs)}")
    }
  }

  test("the split runs in a heap a quarter the size of the envelope") {
    val heapMb = 64
    val dir = Files.createTempDirectory(work, "bounded")
    try {
      val input = dir.resolve("envelope.json")
      val counts = ListMap("big" -> 200000, "empty" -> 0, "small" -> 70000)
      writeLargeEnvelope(input, counts)
      assert(Files.size(input) >= 4L * heapMb * 1024 * 1024)

      val split = runChild(heapMb, "split", input.toString, dir.resolve("staging").toString)
      assert(split._1 == 0, split._2)
      assert(split._2.linesIterator.filter(_.startsWith("lines ")).toSeq ==
        counts.map { case (name, n) => s"lines $name=$n" }.toSeq, split._2)

      // The whole-file path does not fit that heap.
      val whole = runChild(heapMb, "readTree", input.toString)
      assert(whole._1 != 0 && whole._2.contains("OutOfMemoryError"), whole._2)
    } finally TempDirs.deleteRecursively(dir)
  }

  /** ~1.1 KB documents, written without holding the envelope in memory. */
  private def writeLargeEnvelope(path: Path, counts: ListMap[String, Int]): Unit = {
    val out = new BufferedOutputStream(Files.newOutputStream(path), 1 << 16)
    try {
      val pad = "x" * 1000
      out.write('{')
      for (((name, n), c) <- counts.zipWithIndex) {
        if (c > 0) out.write(',')
        out.write(s""""$name": [""".getBytes(UTF_8))
        for (i <- 0 until n) {
          if (i > 0) out.write(",\n".getBytes(UTF_8))
          out.write(s"""{"id": $i, "name": "doc-$i é", "amount": $i.25, "pad": "$pad"}"""
            .getBytes(UTF_8))
        }
        out.write(']')
      }
      out.write('}')
    } finally out.close()
  }

  private def runChild(heapMb: Int, args: String*): (Int, String) = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(java, s"-Xmx${heapMb}m", "-XX:+UseSerialGC",
      "-cp", System.getProperty("java.class.path"),
      EnvelopeSplitMain.getClass.getName.stripSuffix("$")) ++ args
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val output = new String(proc.getInputStream.readAllBytes(), UTF_8)
    assert(proc.waitFor(5, TimeUnit.MINUTES))
    (proc.exitValue(), output)
  }
}

/** Child-JVM entry point of the bounded-memory test: `split <envelope>
  * <staging>` runs the Spark-free split and prints `lines name=n` per
  * collection; `readTree <envelope>` runs the whole-file parse.
  */
object EnvelopeSplitMain {
  def main(args: Array[String]): Unit = args match {
    case Array("split", input, staging) =>
      val files = Ingestion.splitEnvelope(Paths.get(input), Paths.get(staging))
      for ((name, file) <- files) println(s"lines $name=${lineCount(file)}")
    case Array("readTree", input) =>
      val root = new ObjectMapper().readTree(Files.readString(Paths.get(input)))
      println(s"collections ${root.size}")
    case _ => sys.error(s"unknown arguments: ${args.mkString(" ")}")
  }

  private def lineCount(file: Path): Long = {
    val in: InputStream = Files.newInputStream(file)
    try {
      val buf = new Array[Byte](1 << 16)
      var lines = 0L
      var n = in.read(buf)
      while (n >= 0) {
        var i = 0
        while (i < n) { if (buf(i) == '\n') lines += 1; i += 1 }
        n = in.read(buf)
      }
      lines
    } finally in.close()
  }
}
