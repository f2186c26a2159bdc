package graft.sources

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class RangeSourceSpec extends AnyFunSuite with SparkTestSession {

  private def read(start: Long, end: Long, slices: Int = 4) =
    spark.read.format("graft.sources.RangeSource")
      .option("start", start).option("end", end).option("slices", slices)
      .load()

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec = {
    df.collect()
    findScan(df.queryExecution.executedPlan)
      .getOrElse(fail("no BatchScanExec in plan"))
  }

  // descend through the AdaptiveSparkPlanExec leaf AQE wraps shuffling
  // plans in, and through materialized QueryStageExec leaves (both are
  // LeafExecNodes whose real subtree hangs off a field, not children)
  private def findScan(
      p: org.apache.spark.sql.execution.SparkPlan): Option[BatchScanExec] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        findScan(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        findScan(q.plan)
      case b: BatchScanExec => Some(b)
      case other => other.children.view.flatMap(findScan(_)).headOption
    }

  test("full read generates the exact interval") {
    val df = read(0, 1000)
    assert(df.count() === 1000L)
    val row = df.agg(sum("id"), sum("id_sq")).head()
    assert(row.getLong(0) === (0L until 1000L).sum)
    assert(row.getLong(1) === (0L until 1000L).map(i => i * i).sum)
  }

  test("id-range filters narrow the scan at planning time (no residual)") {
    val df = read(0, 100000).filter(col("id") >= 40000 && col("id") < 40100)
    val scan = scanOf(df)
    assert(scan.scan.description().contains("[40000,40100)"),
      s"bounds not pushed: ${scan.scan.description()}")
    // fully-pushed filters leave no post-scan Filter on id
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Filter "),
      s"pushed filter reappeared post-scan:\n$plan")
    assert(df.count() === 100L)
  }

  test("column pruning reaches the reader's output schema") {
    val df = read(0, 100).select("label")
    val scan = scanOf(df)
    assert(scan.scan.readSchema().fieldNames.toSeq === Seq("label"))
    assert(df.distinct().count() === 16L)
  }

  test("slice planning covers the interval exactly, any slice count") {
    for (slices <- Seq(1, 3, 8, 64)) {
      val df = read(100, 1123, slices)
      assert(df.count() === 1023L, s"slices=$slices")
      assert(df.agg(sum("id")).head().getLong(0) ===
        (100L until 1123L).sum, s"slices=$slices")
    }
  }

  test("negative interval keeps bucket in [0,16) and empty range is empty") {
    val df = read(-33, 0)
    val b = df.agg(min("bucket"), max("bucket")).head()
    assert(b.getLong(0) >= 0L && b.getLong(1) <= 15L)
    assert(read(5, 5).count() === 0L)
  }

  test("equality pushdown collapses to a one-row scan") {
    val df = read(0, 1000000).filter(col("id") === 777L)
    val scan = scanOf(df)
    assert(scan.scan.description().contains("[777,778)"),
      s"equality not collapsed: ${scan.scan.description()}")
    assert(df.select("id_sq").head().getLong(0) === 777L * 777L)
  }

  test("id bounds at Long.MaxValue saturate instead of wrapping") {
    // a strict lower or inclusive upper bound adds one to the literal;
    // at Long.MaxValue that wrapped to Long.MinValue, so `id > MAX`
    // kept the whole interval and `id <= MAX` kept nothing
    val scan = read(0, 100)
    val inMem = spark.createDataFrame(
      java.util.Arrays.asList(scan.collect(): _*), scan.schema)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    for (f <- Seq(col("id") > Long.MaxValue, col("id") <= Long.MaxValue,
                  col("id") === Long.MaxValue, col("id") >= Long.MinValue,
                  col("id") < Long.MinValue)) {
      assert(ids(scan.filter(f)) === ids(inMem.filter(f)), s"filter $f")
    }
    assert(scan.filter(col("id") <= Long.MaxValue).count() === 100L)
    // a runtime IN-set holding Long.MaxValue keeps its envelope's top
    val dim = spark.range(0, 2)
      .select(when(col("id") === 0, 5L).otherwise(Long.MaxValue).as("id"))
      .filter(col("id") % 2 === 1)
    val joined = read(0, 2000000, slices = 8).join(broadcast(dim), "id")
    assert(ids(joined) === Seq(5L))
    assert(findScan(joined.queryExecution.executedPlan).get
      .toString.toLowerCase.contains("runtimefilters"))
  }

  test("group-by aggregate pushes down: scan emits per-slice residue partials") {
    val df = read(0, 100000, slices = 7)
      .filter(col("id") >= 25000 && col("id") < 90000)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("id").as("sum_id"),
        min("id").as("min_id"), max("id").as("max_id"))
    val scan = scanOf(df)
    assert(scan.scan.description().contains("pushedAgg="),
      s"aggregate not pushed: ${scan.scan.description()}")
    assert(scan.scan.description().contains("[25000,90000)"),
      "filter pushdown must compose with aggregate pushdown")
    // the scan's output is the PARTIAL schema, 16 rows per slice max
    assert(scan.scan.readSchema().fieldNames.toSeq ===
      Seq("bucket", "count_star", "sum_id", "min_id", "max_id"))
    // bit-equal to the same query over an unpushed generator
    val expect = spark.range(25000, 90000)
      .withColumn("bucket", pmod(col("id"), lit(16L)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("id").as("sum_id"),
        min("id").as("min_id"), max("id").as("max_id"))
    assert(df.orderBy("bucket").collect().toSeq ===
      expect.orderBy("bucket").collect().toSeq)
  }

  test("ungrouped aggregate pushes down to one partial row per slice") {
    val df = read(5, 4321, slices = 5)
      .agg(count(lit(1)).as("n"), sum("id").as("s"),
        min("id").as("mn"), max("id").as("mx"))
    val scan = scanOf(df)
    assert(scan.scan.description().contains("pushedAgg=[groupBy= "),
      s"ungrouped aggregate not pushed: ${scan.scan.description()}")
    val r = df.head()
    assert(r.getLong(0) === 4316L)
    assert(r.getLong(1) === (5L until 4321L).sum)
    assert(r.getLong(2) === 5L && r.getLong(3) === 4320L)
  }

  test("unsupported aggregates decline pushdown and still compute correctly") {
    // avg over id_sq is not in the accepted surface → raw scan + Spark agg
    val df = read(0, 1000).groupBy("bucket").agg(avg("id_sq").as("a"))
    val scan = scanOf(df)
    assert(!scan.scan.description().contains("pushedAgg="),
      s"must decline: ${scan.scan.description()}")
    val expect = spark.range(1000)
      .withColumn("bucket", pmod(col("id"), lit(16L)))
      .withColumn("id_sq", col("id") * col("id"))
      .groupBy("bucket").agg(avg("id_sq").as("a"))
    assert(df.orderBy("bucket").collect().toSeq ===
      expect.orderBy("bucket").collect().toSeq)
    // count(DISTINCT id) likewise declines (partials can't re-aggregate)
    val dd = read(0, 1000).groupBy("bucket").agg(countDistinct("id").as("d"))
    assert(!scanOf(dd).scan.description().contains("pushedAgg="))
  }

  test("limit pushdown truncates the interval to one ascending partition") {
    val df = read(0, 1000000).limit(7)
    val scan = scanOf(df)
    assert(scan.scan.description().contains("[0,7)"),
      s"limit not pushed into bounds: ${scan.scan.description()}")
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 7L).toSeq)
  }

  test("ORDER BY id LIMIT pushes as TopN; descending declines") {
    val df = read(0, 1000000).filter(col("id") > 1234)
      .select("id", "id_sq").orderBy("id").limit(5)
    val scan = scanOf(df)
    assert(scan.scan.description().contains("[1235,1240)"),
      s"topN not pushed into bounds: ${scan.scan.description()}")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      (1235L until 1240L).map(i => (i, i * i)).toSeq)
    val desc = read(0, 5000).orderBy(col("id").desc).limit(3)
    assert(scanOf(desc).scan.description().contains("[0,5000)"),
      "descending TopN must decline truncation")
    assert(desc.collect().map(_.getLong(0)).toSeq === Seq(4999L, 4998L, 4997L))
  }

  test("runtime filtering narrows the executed scan to the join keys' envelope") {
    val big = read(0, 2000000, slices = 8)
    val dim = spark.range(100, 140).select(col("id"))
      .filter(col("id") % 2 === 0)
    val joined = big.join(broadcast(dim), "id")
    val rows = joined.select("id", "id_sq").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq ===
      (100L until 140L by 2).toSeq)
    // the executed scan must have planned the narrowed band, not the
    // 2M-id interval: [100, 139) envelope → ≤ 38 generated rows
    val scan = findScan(joined.queryExecution.executedPlan)
      .getOrElse(fail("no BatchScanExec in plan"))
    assert(scan.toString.toLowerCase.contains("runtimefilters"),
      s"no runtime filter attached:\n${scan.toString}")
    val produced = scan.metrics("numOutputRows").value
    assert(produced <= 39L,
      s"runtime filter did not narrow the scan: produced=$produced rows")
  }

  private def countShuffles(
      p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      countShuffles(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      countShuffles(q.plan)
    case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
      1 + s.children.map(countShuffles).sum
    case other => other.children.map(countShuffles).sum
  }

  test("key-grouped layout: grouped aggregate and join run with ZERO shuffles") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      def bucketed(start: Long, end: Long) =
        spark.read.format("graft.sources.RangeSource")
          .option("start", start).option("end", end)
          .option("partitionByBucket", "true")
          .load()
      // sum(id_sq) is OUTSIDE the agg-pushdown surface, so the raw
      // key-grouped scan survives and the aggregate itself needs no
      // exchange (the layout already clusters by bucket)
      val a = bucketed(0, 40000).groupBy("bucket")
        .agg(sum("id_sq").as("sq1"), count(lit(1)).as("n1"))
      val b = bucketed(10000, 90000).groupBy("bucket")
        .agg(sum("id_sq").as("sq2"), count(lit(1)).as("n2"))
      val joined = a.join(b, "bucket")
      val rows = joined.collect()
      assert(rows.length === 16)
      assert(countShuffles(joined.queryExecution.executedPlan) === 0,
        s"storage-partitioned plan must not shuffle:\n" +
          joined.queryExecution.executedPlan)
      // values equal the unpartitioned computation
      def expect(start: Long, end: Long) = spark.range(start, end)
        .groupBy(pmod(col("id"), lit(16L)).as("bucket"))
        .agg(sum(col("id") * col("id")).as("sq"), count(lit(1)).as("n"))
      val ea = expect(0, 40000).withColumnRenamed("sq", "sq1")
        .withColumnRenamed("n", "n1")
      val eb = expect(10000, 90000).withColumnRenamed("sq", "sq2")
        .withColumnRenamed("n", "n2")
      assert(joined.orderBy("bucket").collect().toSeq ===
        ea.join(eb, "bucket").orderBy("bucket").collect().toSeq)
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("reported statistics let Catalyst auto-broadcast a narrowed scan") {
    // no broadcast() hint anywhere: JoinSelection must read the scan's
    // reported numRows/sizeInBytes (shrunk by filter pushdown) and pick
    // a broadcast join for the 50-row side
    val big = read(0, 3000000, slices = 8)
    val small = read(0, 3000000, slices = 2)
      .filter(col("id") >= 1000 && col("id") < 1050)
      .select(col("id"), col("label").as("small_label"))
    val joined = big.join(small, "id")
    assert(joined.count() === 50L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"stats did not drive a broadcast join:\n$plan")
  }

  test("columnar batches deliver the same relation through ColumnarToRow") {
    val columnar = spark.read.format("graft.sources.RangeSource")
      .option("start", 0).option("end", 100000).option("slices", 4)
      .option("columnarBatch", "true")
      .load()
      .filter(col("id") >= 5000 && col("id") < 95000)
    val agg = columnar.groupBy("label")
      .agg(count(lit(1)).as("n"), sum("id_sq").as("sq"))
      .orderBy("label")
    val got = agg.collect().toSeq // execute, then read the FINAL plan
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"vectorized path not planned:\n$plan")
    val expect = read(0, 100000)
      .filter(col("id") >= 5000 && col("id") < 95000)
      .groupBy("label").agg(count(lit(1)).as("n"), sum("id_sq").as("sq"))
      .orderBy("label")
    assert(got === expect.collect().toSeq)
    // batch boundaries respect interval edges: a non-multiple-of-4096
    // interval ends exactly at until
    val edge = spark.read.format("graft.sources.RangeSource")
      .option("start", 10).option("end", 4100).option("slices", 1)
      .option("columnarBatch", "true").load()
    assert(edge.count() === 4090L)
    assert(edge.agg(sum("id")).head().getLong(0) === (10L until 4100L).sum)
  }

  test("connector custom metric reports exactly the generated id count") {
    val df = read(0, 500000, slices = 6)
      .filter(col("id") >= 100000 && col("id") < 230000)
    // sum(id_sq) declines aggregate pushdown, so the RAW scan (which
    // carries the metric) is what executes
    val scan = scanOf(df.agg(sum("id_sq")))
    assert(scan.metrics.contains("idsGenerated"),
      s"custom metric missing: ${scan.metrics.keys}")
    assert(scan.metrics("idsGenerated").value === 130000L,
      "pushdown economics must be visible in the reported metric")
    // The SQL UI listener aggregates task metrics by re-instantiating
    // each declared CustomMetric class REFLECTIVELY with a zero-arg
    // constructor (SQLAppStatusListener.aggregateMetrics). An
    // anonymous/inner metric class captures its enclosing scan in the
    // constructor, fails that load, and the metric silently vanishes
    // from the SQL metrics pane — so replay the listener's load here.
    scan.scan.supportedCustomMetrics().foreach { m =>
      val reloaded = Class.forName(m.getClass.getName)
        .getDeclaredConstructor().newInstance()
        .asInstanceOf[org.apache.spark.sql.connector.metric.CustomMetric]
      assert(reloaded.name() === m.name(),
        s"listener-reloaded metric diverges for ${m.getClass.getName}")
    }
  }

  private def readStreamRange(end: Long, maxRows: Long) =
    spark.readStream.format("graft.sources.RangeSource")
      .option("start", 0).option("end", end).option("slices", 3)
      .option("maxRowsPerBatch", maxRows)
      .load()

  test("streaming read drains the interval in admission-bounded micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rs-stream")
    val out = dir.resolve("out").toString
    val cp = dir.resolve("cp").toString
    val q = readStreamRange(end = 10000, maxRows = 1024)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.count() === 10000L)
    assert(got.agg(sum("id")).head().getLong(0) === (0L until 10000L).sum)
    // the 1024-row admission cap split the drain into many planned
    // batches (ceil(10000/1024) = 10), visible in the offset log
    val offsets = new java.io.File(cp, "offsets").list()
    assert(offsets.length >= 5, s"expected multi-batch drain: ${offsets.length}")
  }

  test("a stream ending near Long.MaxValue delivers every id (the batch end saturates)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rs-max")
    val out = dir.resolve("out").toString
    val lo = Long.MaxValue - 10
    val q = spark.readStream.format("graft.sources.RangeSource")
      .option("start", lo).option("end", Long.MaxValue - 1).option("slices", 3)
      .option("maxRowsPerBatch", 100L)
      .load()
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", out).option("checkpointLocation", dir.resolve("cp").toString)
      .start()
    try assert(q.awaitTermination(60000), "the stream never reached the end of its interval")
    finally q.stop()
    val got = spark.read.parquet(out).select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (lo until Long.MaxValue - 1).toSeq)
  }

  test("checkpoint restart extends the interval exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rs-restart")
    val out = dir.resolve("out").toString
    val cp = dir.resolve("cp").toString
    def drain(end: Long): Unit = {
      val q = readStreamRange(end, maxRows = 2048)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .start()
      q.awaitTermination()
    }
    drain(end = 5000)
    assert(spark.read.parquet(out).count() === 5000L)
    // restart from the SAME checkpoint with a longer interval: only the
    // delta [5000, 12000) is revealed — committed offsets replay nothing
    drain(end = 12000)
    val got = spark.read.parquet(out)
    assert(got.count() === 12000L)
    assert(got.select("id").distinct().count() === 12000L,
      "restart re-delivered committed ids")
    assert(got.agg(sum("id")).head().getLong(0) === (0L until 12000L).sum)
  }
}
