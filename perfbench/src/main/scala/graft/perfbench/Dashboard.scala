package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.analytics.AuditAnalytics
import graft.etl.EtlDefaults
import graft.sources.AuditSource

/** The reference dashboard's reads over the landed audit and target
  * tables, each paired with the answer a correct landing gives. The
  * expected answers follow from the generator's counts: `dates` lists
  * the ingestion dates landed, each with the same input.
  */
object Dashboard {

  final case class Query(name: String, build: () => DataFrame,
      expected: Seq[Seq[String]] => Option[String])

  private def rows(df: Seq[Row]): Seq[Seq[String]] =
    df.map(_.toSeq.map(v => if (v == null) null else v.toString))

  private def exactly(want: Seq[Seq[Any]]): Seq[Seq[String]] => Option[String] = {
    val w = want.map(_.map(_.toString))
    got => if (got == w) None else Some(s"expected $w, got ${got.take(20)}")
  }

  def queries(spark: SparkSession, store: Store, e: Gen.Expect, dates: Seq[String])
      : Seq[Query] = {
    import spark.implicits._
    val st = col("processing_status")
    val ts = col("ingested_at")
    val d = dates.size.toLong
    val o = e.orders
    val c = e.customer
    def audit = store.table(EtlDefaults.audit.auditTable)
    // Per collection, one landing: (audit rows, errors, insert failures).
    val perCollection = Seq(
      ("customer", c.docs, c.errors, 0L),
      (Gen.AbsentCollection, 0L, 0L, 1L),
      ("orders", o.docs, o.errors, 0L))
    Seq(
      Query("kpi",
        () => AuditAnalytics.kpiCounts(audit, st === "success", st === "missing"),
        exactly(Seq(Seq(d * (e.mappedDocs + 1), d * (e.mappedDocs - e.errors), d)))),
      Query("pivot_status",
        () => AuditAnalytics.pivotCounts(audit, "source_collection",
          "processing_status", Seq("error", "missing", "success"))
          .orderBy("source_collection"),
        exactly(perCollection.map { case (n, docs, err, miss) =>
          Seq(n, d * err, d * miss, d * (docs - err))
        })),
      Query("missing_freq",
        () => AuditAnalytics.explodeFrequency(audit,
          from_json(col("missing_columns"), ArrayType(StringType))),
        exactly(Seq(Seq("extra_col", d * e.mappedDocs),
          Seq("comment", d * (o.noComment + c.noComment))))),
      Query("latest_date_count",
        () => AuditAnalytics.countOnLatestDate(audit, ts),
        exactly(Seq(Seq(e.mappedDocs + 1)))),
      Query("by_collection_conditional",
        () => AuditAnalytics.groupedConditionalCount(audit, ts,
          col("source_collection"), st === "error")
          .orderBy("ingestion_date", "group_key"),
        exactly(dates.flatMap(date => perCollection.map { case (n, docs, err, miss) =>
          Seq(date, n, docs + miss, err)
        }))),
      Query("run_counters",
        () => AuditAnalytics.runCounters(audit, col("source_collection"),
          errorCond = st === "error", insertFailureCond = st === "missing")
          .orderBy("collection"),
        exactly(perCollection.map { case (n, docs, err, miss) =>
          Seq(n, d * docs, d * err, d * miss, d * (docs - err))
        })),
      Query("preview_top100",
        () => AuditSource.ingestionAudit(audit, ts,
          Seq("object_id", "source_collection", "processing_status")).limit(100),
        got =>
          if (got.size == 100 && got.forall(_.last == dates.last)) None
          else Some(s"expected 100 rows of ${dates.last}, got ${got.take(5)}")),
      Query("coverage",
        () => AuditAnalytics.coverage(
          Gen.mapping.collections.keys.toSeq.toDF("collection"),
          audit.filter(st =!= "missing").select(col("source_collection").as("collection")),
          "collection"),
        exactly(Seq(Seq("covered", 2L), Seq("missing", 1L)))),
      Query("target_filtered",
        () => store.table(Gen.OrdersTable)
          .filter(col("status") === "error" && col("order_date") >= lit("1995-01-01").cast("date"))
          .select("order_id", "order_date", "amount", "status"),
        got =>
          if (got.size == d * e.ordersErrorFrom1995 && got.forall(_.last == "error")) None
          else Some(s"expected ${d * e.ordersErrorFrom1995} error rows, got ${got.size}"))
    )
  }

  /** One timed query: plan (build the frame, which reads the source's
    * schema, and plan it) and execution (collect), then the check.
    */
  final case class Sample(name: String, planS: Double, execS: Double,
      rowsOut: Long, rowsRead: Long, error: Option[String]) {
    def seconds: Double = planS + execS
  }

  def run(q: Query, trace: Trace): Sample = {
    val t0 = System.nanoTime()
    val df = trace.span(s"dashboard.${q.name}.plan") {
      val df = q.build()
      df.queryExecution.executedPlan
      df
    }
    val t1 = System.nanoTime()
    val got = trace.span(s"dashboard.${q.name}.exec")(df.collect())
    val t2 = System.nanoTime()
    val out = rows(got.toSeq)
    Sample(q.name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, out.size.toLong,
      scannedRows(df.queryExecution.executedPlan), q.expected(out))
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Rows the source scans handed to Spark (their numOutputRows). */
  private def scannedRows(plan: SparkPlan): Long =
    Plans.collect(plan) {
      case s: DataSourceV2ScanExecBase => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}
