package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Literal => VLiteral, NamedReference, SortDirection, SortOrder => VSortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsPushDownV2Filters, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A complete DataSource V2 READ connector — the connector-surface
  * demonstration the parquet/JDBC/Mongo sources don't exercise:
  * `TableProvider` → `SupportsRead` table → `ScanBuilder` implementing
  * BOTH `SupportsPushDownV2Filters` (id-range predicates narrow the
  * generated interval at PLANNING time — accepted filters do not
  * reappear in the query's post-scan Filter) and
  * `SupportsPushDownRequiredColumns` (the reader materializes only the
  * pruned schema), then a `Batch` that splits the interval into
  * `slices` independent `InputPartition`s for parallel reads.
  *
  * The table is a deterministic integer interval
  * `[start, end) step 1` with schema
  * `(id BIGINT, id_sq BIGINT, bucket BIGINT, label STRING)` where
  * `id_sq = id*id`, `bucket = id mod 16`, `label = 'b' || bucket` —
  * pure functions of `id`, so an external oracle reproduces the whole
  * table from a range generator. Usage:
  * `spark.read.format("graft.sources.RangeSource")
  *   .option("start", 0).option("end", 100000).option("slices", 8)`.
  *
  * Why it matters at 100 TB: V2 pushdown is the contract that keeps a
  * selective query from materializing a table-sized scan out of ANY
  * source (Iceberg/Delta/JDBC follow this exact interface); this
  * in-repo connector pins the mechanics (filter acceptance, residual
  * semantics, pruned output schema, partition planning) with a spec
  * and an oracle gate, independent of a vendor format.
  */
class RangeSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RangeSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RangeTable(
      properties.getOrDefault("start", "0").toLong,
      properties.getOrDefault("end", "0").toLong,
      properties.getOrDefault("slices", "4").toInt)
}

object RangeSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("id_sq", LongType, nullable = false),
    StructField("bucket", LongType, nullable = false),
    StructField("label", org.apache.spark.sql.types.StringType,
      nullable = false)))
}

final class RangeTable(val start: Long, val end: Long, val slices: Int)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  require(slices > 0, s"slices must be positive, got $slices")

  override def name(): String = s"graft_range[$start,$end)"
  override def schema(): StructType = RangeSource.schema

  /** `_slice`: which planned partition produced the row — the
    * connector-side analog of `_metadata.file_name` on file sources
    * (hidden unless selected; lineage/debugging without a real column).
    */
  override def metadataColumns(): Array[
      org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_slice"
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String = "ordinal of the planned partition"
    })
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RangeScanBuilder(start, end, slices,
      Option(options.get("maxRowsPerBatch")).map(_.toLong),
      options.getBoolean("partitionByBucket", false),
      options.getBoolean("columnarBatch", false))
}

/** One aggregate the connector evaluates at the source. The partial
  * column type follows Spark's partial-pushdown re-aggregation
  * contract (`V2ScanRelationPushDown.rewriteAggregate`): COUNT partials
  * are summed, SUM partials summed, MIN/MAX partials min/max'd — all
  * BIGINT here because every accepted input column is BIGINT.
  */
sealed trait PushedRangeAgg { def name: String }
object PushedRangeAgg {
  case object CountStarAgg extends PushedRangeAgg { val name = "count_star" }
  case object CountIdAgg extends PushedRangeAgg { val name = "count_id" }
  case object MinIdAgg extends PushedRangeAgg { val name = "min_id" }
  case object MaxIdAgg extends PushedRangeAgg { val name = "max_id" }
  case object SumIdAgg extends PushedRangeAgg { val name = "sum_id" }
}

/** Aggregation accepted at planning time: group-by residue classes
  * (`bucket` and/or `label` — both are `id mod 16`), aggregates over
  * `id` only. Everything else is declined and Spark plans its own
  * aggregate over the raw scan.
  */
final case class PushedRangeAggregation(
    groupCols: Seq[String], aggs: Seq[PushedRangeAgg]) {
  def readSchema: StructType = StructType(
    groupCols.map(c => RangeSource.schema(c)) ++
      aggs.map(a => StructField(a.name, LongType, nullable = false)))
}

/** Planning-time state: id-range filters tighten [lo, hi); column
  * pruning keeps the projected subset in declared order; group-by
  * aggregates over the residue classes fold to closed forms per slice;
  * LIMIT / ORDER BY id LIMIT truncate the interval itself.
  */
final class RangeScanBuilder(
    start: Long, end: Long, slices: Int,
    maxRowsPerBatch: Option[Long] = None,
    partitionByBucket: Boolean = false,
    columnarBatch: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownV2Filters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private var lo = start
  private var hi = end
  private var accepted: Array[Predicate] = Array.empty
  private var required: StructType = RangeSource.schema
  private var pushedAgg: Option[PushedRangeAggregation] = None

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    val (taken, residual) =
      predicates.partition(RangeScanBuilder.idBounds(_).isDefined)
    taken.flatMap(RangeScanBuilder.idBounds).foreach { case (l, h) =>
      lo = math.max(lo, l); hi = math.min(hi, h)
    }
    accepted = taken
    residual // fully handled predicates do NOT come back as a post-scan Filter
  }

  override def pushedPredicates(): Array[Predicate] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(
      RangeSource.schema.fields.filter(f =>
        requiredSchema.fieldNames.contains(f.name)) ++
        // the `_slice` METADATA column survives pruning when selected
        requiredSchema.fields.filter(_.name == "_slice"))

  /** Partial pushdown only (`supportCompletePushDown` stays false): a
    * multi-slice scan cannot produce GLOBAL aggregates without its own
    * shuffle, so each slice emits closed-form per-residue partials and
    * Spark's planner re-aggregates them — 16 rows per slice upward
    * instead of the interval, which is the entire point at 100 TB.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val groups = aggregation.groupByExpressions.toSeq.map(V2Column.unapply)
    if (groups.exists(_.isEmpty)) return false
    val groupCols = groups.flatten
    if (!groupCols.forall(c => c == "bucket" || c == "label")) return false
    if (groupCols.distinct.length != groupCols.length) return false
    val aggs = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(PushedRangeAgg.CountStarAgg)
      case c: Count if !c.isDistinct && V2Column.unapply(c.column).contains("id") =>
        Some(PushedRangeAgg.CountIdAgg)
      case m: Min if V2Column.unapply(m.column).contains("id") =>
        Some(PushedRangeAgg.MinIdAgg)
      case m: Max if V2Column.unapply(m.column).contains("id") =>
        Some(PushedRangeAgg.MaxIdAgg)
      case s: Sum if !s.isDistinct && V2Column.unapply(s.column).contains("id") =>
        Some(PushedRangeAgg.SumIdAgg)
      case _ => None
    }
    if (aggs.exists(_.isEmpty) || aggs.isEmpty) return false
    pushedAgg = Some(PushedRangeAggregation(groupCols, aggs.flatten))
    true
  }

  /** LIMIT over the generated interval is interval truncation: any
    * `limit` ids of [lo, hi) satisfy an unordered LIMIT, so the scan
    * keeps the first `limit` and plans ONE ascending partition (fully
    * pushed — no post-scan limit remains necessary).
    */
  override def pushLimit(limit: Int): Boolean = {
    if (pushedAgg.isDefined) return false
    // span > limit → truncate (a negative hi-lo means the span
    // overflowed Long, which is certainly > limit)
    if (hi > lo && { val span = hi - lo; span < 0 || span > limit })
      hi = lo + limit
    limitOnePartition = true
    true
  }

  /** ORDER BY id ASC LIMIT n: the reader already emits ids ascending
    * within a partition, so TopN = truncation + a single partition.
    * Any other ordering is declined.
    */
  override def pushTopN(orders: Array[VSortOrder], limit: Int): Boolean = {
    if (pushedAgg.isDefined) return false
    val ascOnId = orders.length == 1 &&
      V2Column.unapply(orders(0).expression).contains("id") &&
      orders(0).direction == SortDirection.ASCENDING
    if (!ascOnId) return false
    pushLimit(limit)
  }

  override def isPartiallyPushed: Boolean = false

  private var limitOnePartition = false

  override def build(): Scan = pushedAgg match {
    case Some(agg) => new RangeAggScan(lo, hi, slices, agg)
    case None => new RangeScan(
      lo, hi, if (limitOnePartition) 1 else slices, required, maxRowsPerBatch,
      partitionByBucket && !limitOnePartition, columnarBatch)
  }
}

object RangeScanBuilder {

  /** The ids `[lo, hi)` an `id` comparison keeps, or None for any other
    * predicate. `+ 1` saturates: no id reaches Long.MaxValue (the end
    * is exclusive), so `id > MAX` keeps nothing and `id <= MAX` all.
    */
  def idBounds(p: Predicate): Option[(Long, Long)] = p match {
    case V2Comparison(op, V2Column("id"), v) => (op, v.value) match {
      case ("=", x: Long) => Some((x, succ(x)))
      case (">", x: Long) => Some((succ(x), Long.MaxValue))
      case (">=", x: Long) => Some((x, Long.MaxValue))
      case ("<", x: Long) => Some((Long.MinValue, x))
      case ("<=", x: Long) => Some((Long.MinValue, succ(x)))
      case _ => None
    }
    case _ => None
  }

  /** A runtime (DPP) IN-set's envelope: a superset, sound only where
    * the join still filters row-level.
    */
  def idEnvelope(p: Predicate): Option[(Long, Long)] =
    (p.name, p.children.toSeq) match {
      case ("IN", V2Column("id") +: vs) if vs.nonEmpty =>
        val ids = vs.collect { case l: VLiteral[_] => l.value }
          .collect { case x: Long => x }
        Option.when(ids.length == vs.length)((ids.min, succ(ids.max)))
      case _ => idBounds(p)
    }

  private def succ(x: Long): Long = if (x == Long.MaxValue) x else x + 1
}

object RangeScan {
  /** Overflow-safe interval slicing: `hi - lo` is checked (a
    * [min_long, max_long) request must fail loudly, not wrap), and
    * slice bounds use base/remainder arithmetic — the naive
    * `lo + n*i/k` overflows `n*i` for intervals near 2^60 with
    * several slices, silently planning negative bounds and dropping
    * rows (round-9 advice). Shared by the batch and streaming planers.
    */
  def slicePartitions(lo: Long, hi: Long, slices: Int): Array[InputPartition] = {
    val n =
      if (hi <= lo) 0L
      else try Math.subtractExact(hi, lo) catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"range [$lo, $hi) spans more than 2^63 - 1 ids; split the scan")
      }
    if (n == 0) return Array.empty
    val k = math.min(slices.toLong, n).toInt
    val base = n / k
    val rem = n % k
    // slice i covers [lo + i*base + min(i, rem), …): i*base <= n and
    // min(i, rem) <= k, so every intermediate stays within [lo, hi].
    def bound(i: Int): Long = lo + i * base + math.min(i.toLong, rem)
    (0 until k).map { i =>
      RangeInputPartition(bound(i), bound(i + 1), i): InputPartition
    }.toArray
  }
}

final class RangeScan(
    lo: Long, hi: Long, slices: Int, out: StructType,
    maxRowsPerBatch: Option[Long] = None,
    partitionByBucket: Boolean = false,
    columnarBatch: Boolean = false)
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  // Runtime (DPP-style) narrowing: Spark hands the scan an IN-set of
  // join keys at EXECUTION time (after the build side materialized);
  // the scan shrinks to the keys' envelope [min, max] before planning
  // partitions. A superset is sound — the join still filters row-level
  // — so envelope pruning keeps the contract simple while skipping the
  // bulk of a sparse interval.
  private var effLo = lo
  private var effHi = hi

  // only advertise columns that survived pruning: Spark resolves these
  // against the scan's OUTPUT, and an unresolvable reference fails the
  // whole query at planning time (seen with a bucket-only projection)
  override def filterAttributes(): Array[NamedReference] =
    if (out.fieldNames.contains("id"))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("id"))
    else Array.empty

  // an unknown runtime predicate keeps the planning-time bounds
  override def filter(predicates: Array[Predicate]): Unit =
    predicates.flatMap(RangeScanBuilder.idEnvelope).foreach { case (l, h) =>
      effLo = math.max(effLo, l); effHi = math.min(effHi, h)
    }

  override def readSchema(): StructType = out
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftRangeScan[$lo,$hi) cols=${out.fieldNames.mkString(",")}" +
      (if (partitionByBucket) " keyGroupedBy=bucket" else "")

  /** Storage-partitioned layout: with `partitionByBucket` the scan
    * plans one partition PER RESIDUE CLASS and reports
    * `KeyGroupedPartitioning(identity(bucket), 16)` — two such scans
    * joined on `bucket` are already co-located, so Spark (with
    * `spark.sql.sources.v2.bucketing.enabled`) plans the join with NO
    * shuffle on either side. This is the connector-side contract
    * behind Iceberg/Delta storage-partitioned joins: the layout, not
    * an exchange, provides the clustering. All 16 partitions are
    * always planned (possibly empty) so numPartitions matches the
    * declared partitioning on any interval.
    */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (partitionByBucket)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .identity("bucket")), 16)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        slices)

  /** Exact statistics (the interval is arithmetic): row count and a
    * 40-byte-per-row size estimate. This is what lets Catalyst pick a
    * broadcast join for a narrowed scan WITHOUT a hint — pushdown
    * shrinks [lo, hi), the stats shrink with it, and JoinSelection
    * sees a sub-threshold build side.
    */
  override def estimateStatistics():
      org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val n: Long =
        if (effHi <= effLo) 0L
        else try Math.subtractExact(effHi, effLo) catch {
          case _: ArithmeticException => Long.MaxValue
        }
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(
          if (n > Long.MaxValue / 40) Long.MaxValue else n * 40)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(n)
    }

  override def planInputPartitions(): Array[InputPartition] =
    if (partitionByBucket)
      (0 until 16).map { r =>
        RangeResiduePartition(effLo, effHi, r): InputPartition
      }.toArray
    else RangeScan.slicePartitions(effLo, effHi, slices)

  /** Connector-reported execution metrics (`CustomMetric`): the scan
    * publishes how many ids it actually GENERATED into the SQL metrics
    * system — the number pushdown/pruning/runtime-filter economics are
    * judged by, surfaced through the engine's own observability
    * channel instead of log lines. Task readers report
    * `currentMetricsValues`; Spark sums them per the metric's
    * aggregation.
    */
  override def supportedCustomMetrics(): Array[
      org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new IdsGeneratedMetric)

  override def createReaderFactory(): PartitionReaderFactory =
    new RangeReaderFactory(out.fieldNames, columnarBatch)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new RangeMicroBatchStream(lo, hi, slices, out, maxRowsPerBatch)
}

/** Driver-side descriptor for the scan's `idsGenerated` metric.
  * MUST be a top-level class with a zero-arg constructor: the SQL UI
  * listener re-instantiates it by reflection when aggregating task
  * metrics, and an anonymous/inner class (whose constructor captures
  * the enclosing scan) fails that load — the metric silently
  * disappears from the SQL metrics pane.
  */
final class IdsGeneratedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "idsGenerated"
  override def description(): String = "ids generated by the range scan"
}

/** Streaming offset = the next unrevealed id (ids below it are
  * committed to the offset log).
  */
final case class RangeStreamOffset(next: Long) extends Offset {
  override def json(): String = next.toString
}

/** The streaming leg of the connector — the same interval revealed
  * incrementally as an exactly-once micro-batch source. Offsets are
  * plain ids: batch N covers [startOffset, endOffset) and replanning
  * any committed window yields the identical rows, which is the whole
  * exactly-once contract (the offset log + deterministic reveal make
  * restarts idempotent; the RangeStreamSpec restarts from a
  * checkpoint and extends the interval to pin it).
  *
  * Admission control: `maxRowsPerBatch` caps each batch, so a
  * Trigger.AvailableNow drain steps through ceil(n/rate) planned
  * batches instead of one table-sized batch — the knob that bounds
  * per-batch state at 100 TB. Filter pushdown and column pruning flow
  * in from the ScanBuilder exactly as in the batch leg: a selective
  * streaming query scans the narrowed interval only.
  */
final class RangeMicroBatchStream(
    lo: Long, hi: Long, slices: Int, out: StructType,
    maxRowsPerBatch: Option[Long])
    extends MicroBatchStream
    with SupportsTriggerAvailableNow {

  override def initialOffset(): Offset = RangeStreamOffset(lo)

  override def deserializeOffset(json: String): Offset =
    RangeStreamOffset(json.toLong)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-control latestOffset(start, limit) is used")

  override def getDefaultReadLimit: ReadLimit =
    maxRowsPerBatch.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[RangeStreamOffset].next
    limit match {
      case r: ReadMaxRows =>
        // saturate: s + maxRows wraps when s is near Long.MaxValue
        val end = s + r.maxRows()
        RangeStreamOffset(if (end < s) hi else math.min(hi, end))
      case _ => RangeStreamOffset(hi)
    }
  }

  override def reportLatestOffset(): Offset = RangeStreamOffset(hi)

  // the interval is static, so there is nothing to snapshot: the
  // AvailableNow wrapper reads reportLatestOffset() as its end goal
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] =
    RangeScan.slicePartitions(
      start.asInstanceOf[RangeStreamOffset].next,
      end.asInstanceOf[RangeStreamOffset].next,
      slices)

  override def createReaderFactory(): PartitionReaderFactory =
    new RangeReaderFactory(out.fieldNames)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The aggregate-pushdown scan: each slice emits one row per residue
  * class (or one row total when ungrouped) computed in CLOSED FORM —
  * the ids of residue r inside [from, until) are an arithmetic
  * progression, so count/min/max/sum are O(1) per group. A pushed
  * aggregate over a 2^40-id interval moves 16 rows per slice, not the
  * interval. SUM folds through BigInt and wraps to Long two's
  * complement — the same wrap Spark's non-ANSI BIGINT sum applies, so
  * re-aggregated partials equal the unfused sum bit-for-bit.
  */
final class RangeAggScan(
    lo: Long, hi: Long, slices: Int, agg: PushedRangeAggregation)
    extends Scan with Batch {

  override def readSchema(): StructType = agg.readSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftRangeScan[$lo,$hi) pushedAgg=[groupBy=${agg.groupCols.mkString(",")} " +
      s"aggs=${agg.aggs.map(_.name).mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] =
    RangeScan.slicePartitions(lo, hi, slices)

  override def createReaderFactory(): PartitionReaderFactory =
    new RangeAggReaderFactory(agg)
}

final class RangeAggReaderFactory(agg: PushedRangeAggregation)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rp = p.asInstanceOf[RangeInputPartition]
    new RangeAggPartitionReader(rp.from, rp.until, agg)
  }
}

final class RangeAggPartitionReader(
    from: Long, until: Long, agg: PushedRangeAggregation)
    extends PartitionReader[InternalRow] {

  private def sumAp(first: Long, last: Long, cnt: Long): Long =
    // count * (first + last) / 2 exactly, then wrap like Spark's sum
    ((BigInt(first) + BigInt(last)) * BigInt(cnt) / 2).longValue

  private def row(groupVals: Seq[Any], first: Long, last: Long): InternalRow = {
    val cnt = (last - first) / 16 + 1
    val aggVals: Seq[Any] = agg.aggs.map {
      case PushedRangeAgg.CountStarAgg | PushedRangeAgg.CountIdAgg => cnt
      case PushedRangeAgg.MinIdAgg => first
      case PushedRangeAgg.MaxIdAgg => last
      case PushedRangeAgg.SumIdAgg => sumAp(first, last, cnt)
    }
    new GenericInternalRow((groupVals ++ aggVals).toArray[Any])
  }

  private val rows: Iterator[InternalRow] =
    if (from >= until) Iterator.empty
    else if (agg.groupCols.isEmpty) {
      val cnt = until - from
      val aggVals: Seq[Any] = agg.aggs.map {
        case PushedRangeAgg.CountStarAgg | PushedRangeAgg.CountIdAgg => cnt
        case PushedRangeAgg.MinIdAgg => from
        case PushedRangeAgg.MaxIdAgg => until - 1
        case PushedRangeAgg.SumIdAgg =>
          ((BigInt(from) + BigInt(until - 1)) * BigInt(cnt) / 2).longValue
      }
      Iterator.single(new GenericInternalRow(aggVals.toArray[Any]))
    } else (0 until 16).iterator.flatMap { r =>
      val first = from + java.lang.Math.floorMod(r - from, 16L)
      if (first >= until) Iterator.empty
      else {
        val last = first + ((until - 1 - first) / 16) * 16
        val groupVals: Seq[Any] = agg.groupCols.map {
          case "bucket" => r.toLong
          case "label" => UTF8String.fromString("b" + r)
          case other =>
            throw new IllegalStateException(s"unexpected group col $other")
        }
        Iterator.single(row(groupVals, first, last))
      }
    }

  private var cur: InternalRow = _
  override def next(): Boolean = { val h = rows.hasNext; if (h) cur = rows.next(); h }
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}

final case class RangeInputPartition(
    from: Long, until: Long, sliceIdx: Int = 0)
    extends InputPartition

/** One residue class `id ≡ r (mod 16)` of [from, until) — the
  * key-grouped layout partition. `partitionKey` is what Spark matches
  * across the two join sides when planning a storage-partitioned join.
  */
final case class RangeResiduePartition(from: Long, until: Long, r: Int)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](r.toLong))
}

final class RangeReaderFactory(
    cols: Array[String], columnarBatch: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case rp: RangeInputPartition =>
        new RangePartitionReader(rp.from, rp.until, cols, rp.sliceIdx)
      case rp: RangeResiduePartition =>
        new RangeResidueReader(rp.from, rp.until, rp.r, cols)
      case other => throw new IllegalArgumentException(
        s"unknown partition type $other")
    }

  // Vectorized path (opt-in via .option("columnarBatch", true)): the
  // scan feeds ColumnarBatches straight into whole-stage codegen's
  // columnar-to-row boundary, the same execution shape the vectorized
  // parquet reader uses — per-BATCH virtual calls instead of per-row.
  override def supportColumnarReads(p: InputPartition): Boolean =
    columnarBatch && p.isInstanceOf[RangeInputPartition]

  override def createColumnarReader(
      p: InputPartition): PartitionReader[
      org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val rp = p.asInstanceOf[RangeInputPartition]
    new RangeColumnarReader(rp.from, rp.until, cols, rp.sliceIdx)
  }
}

/** Fills 4096-row on-heap vectors per `next()` — the connector-side
  * half of vectorized execution. Values are identical to the row
  * reader's; only the delivery unit changes.
  */
final class RangeColumnarReader(
    from: Long, until: Long, cols: Array[String], sliceIdx: Int = 0)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

  private val BatchRows = 4096
  private val schema = StructType(cols.map { c =>
    if (c == "_slice") StructField("_slice", LongType, nullable = false)
    else RangeSource.schema(RangeSource.schema.fieldIndex(c))
  })
  private val vectors = OnHeapColumnVector.allocateColumns(BatchRows, schema)
  private val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
    vectors.map(v => v: org.apache.spark.sql.vectorized.ColumnVector))
  private var cur = from

  override def next(): Boolean = {
    if (cur >= until) return false
    val n = math.min(BatchRows.toLong, until - cur).toInt
    vectors.foreach(_.reset())
    var i = 0
    while (i < n) {
      val id = cur + i
      var c = 0
      while (c < cols.length) {
        cols(c) match {
          case "id" => vectors(c).putLong(i, id)
          case "id_sq" => vectors(c).putLong(i, id * id)
          case "bucket" => vectors(c).putLong(i, ((id % 16) + 16) % 16)
          case "label" =>
            val b = ("b" + (((id % 16) + 16) % 16)).getBytes("UTF-8")
            vectors(c).putByteArray(i, b, 0, b.length)
          case "_slice" => vectors(c).putLong(i, sliceIdx.toLong)
          case other =>
            throw new IllegalArgumentException(s"unknown column $other")
        }
        c += 1
      }
      i += 1
    }
    batch.setNumRows(n)
    cur += n
    true
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch

  override def close(): Unit = batch.close()
}

/** Emits the ids of one residue class in ascending order (step 16). */
final class RangeResidueReader(
    from: Long, until: Long, r: Int, cols: Array[String])
    extends PartitionReader[InternalRow] {

  private val first =
    if (from >= until) until
    else from + java.lang.Math.floorMod(r.toLong - from, 16L)
  private var cur = first - 16

  override def next(): Boolean = { cur += 16; cur < until }

  override def get(): InternalRow = {
    val vals = cols.map {
      case "id" => cur: java.lang.Long
      case "id_sq" => (cur * cur): java.lang.Long
      case "bucket" => r.toLong: java.lang.Long
      case "label" => UTF8String.fromString("b" + r)
      case "_slice" => r.toLong: java.lang.Long
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = ()
}

/** Materializes ONLY the pruned columns, in the pruned order. */
final class RangePartitionReader(
    from: Long, until: Long, cols: Array[String], sliceIdx: Int = 0)
    extends PartitionReader[InternalRow] {

  private var cur = from - 1

  override def next(): Boolean = { cur += 1; cur < until }

  override def currentMetricsValues(): Array[
      org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val produced = math.max(0L, math.min(cur, until - 1) - from + 1)
    Array(new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = "idsGenerated"
      override def value(): Long = produced
    })
  }

  override def get(): InternalRow = {
    val vals = cols.map {
      case "id" => cur: java.lang.Long
      case "id_sq" => (cur * cur): java.lang.Long
      case "bucket" => (((cur % 16) + 16) % 16): java.lang.Long
      case "label" => UTF8String.fromString("b" + (((cur % 16) + 16) % 16))
      case "_slice" => sliceIdx.toLong: java.lang.Long
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = ()
}
