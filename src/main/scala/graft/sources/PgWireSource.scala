package graft.sources

import java.util

import scala.collection.JavaConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression => VExpression, Expressions, Literal => VLiteral, NamedReference, NullOrdering, SortDirection, SortOrder => VSortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.etl.PgConn
import graft.etl.SchemaManager.{quoteIdent, quoteLiteral, quoteTable}

/** DSv2 table over the Postgres wire protocol — the live analog of
  * `spark.read.jdbc`/`df.write.jdbc` for a classpath with no JDBC
  * driver jar. One `TableProvider` serves both planes: reads through
  * [[PgScanBuilder]] (below) and writes through [[PgWriteBuilder]]
  * (PgWireWrite.scala — a transactional COPY append per partition,
  * with a ledger-arbitrated exactly-once claim when the write names a
  * `batchId`).
  * Catalyst gets a real connector, not an RDD of pre-rendered SQL:
  *
  *  - one catalog query per read ([[PgProbe]]) returns the typed
  *    schema, each column's PG type and collation, the server encoding
  *    and the `pg_class` statistics; writes never probe;
  *  - filter pushdown compiles the supported V2 predicate subset
  *    ([[PgCompiler]]) to a WHERE clause evaluated BY Postgres
  *    (comparisons, IN, null tests, LIKE-shaped string matches,
  *    AND/OR/NOT) — rejected predicates stay in Spark, accepted ones
  *    are exact so Spark does not re-evaluate them;
  *  - column pruning becomes the SELECT list (a 2-column projection
  *    ships 2 columns over the wire, not the table);
  *  - LIMIT pushes per partition (partial when partitioned: each slice
  *    returns at most N and Spark re-limits globally);
  *  - `partitionColumn`/`numPartitions` plan disjoint range slices
  *    (bounds probed via min/max when not given; the first slice keeps
  *    `IS NULL` so null keys are not silently dropped — a documented
  *    JDBC-source gotcha), each read over its own connection via
  *    `COPY (SELECT …) TO STDOUT` — the bulk path, not row-at-a-time
  *    cursors.
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.PgWireSource")
  *   .option("port", h.port).option("table", "doc_audit.ingestion_audit")
  *   .option("partitionColumn", "object_id").option("numPartitions", 4)
  *   .load()
  * }}}
  *
  * Type mapping (COPY text → Catalyst; server TimeZone pinned UTC by
  * the startup params): int2/4/8 → Short/Int/Long, real/double →
  * Float/Double, numeric(p,s) → Decimal(p,s) (unbounded numeric →
  * Decimal(38,18)), bool → Boolean, date → Date, timestamp[tz] →
  * Timestamp (tz-less read as UTC), bytea → Binary, text/varchar/uuid/
  * json/jsonb and anything else (arrays, user types) → String verbatim.
  */
class PgWireSource extends TableProvider {

  /** The probe `inferSchema` took. Spark calls `inferSchema` and then
    * `getTable` on one provider instance per `load()`, so the table
    * reuses it instead of asking the catalog twice.
    */
  private var inferred: Option[(PgConn, String, PgProbe)] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (conn, table) = (PgWireSource.connOf(options), options.get("table"))
    val probe = PgProbe(conn, table)
    inferred = Some((conn, table, probe))
    probe.schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val conn = PgWireSource.connOf(opts)
    val table = opts.get("table")
    new PgWireTable(conn, table, schema,
      inferred.collect { case (c, t, p) if c == conn && t == table => p },
      Option(opts.get("partitionColumn")),
      Option(opts.get("numPartitions")).map(_.toInt).getOrElse(1),
      Option(opts.get("lowerBound")).map(_.toLong),
      Option(opts.get("upperBound")).map(_.toLong))
  }

  override def supportsExternalMetadata(): Boolean = true
}

object PgWireSource {

  private[sources] def connOf(o: CaseInsensitiveStringMap): PgConn = {
    val host = Option(o.get("host")).getOrElse("127.0.0.1")
    graft.etl.HostGuard.requireLocal(host) // F5
    require(o.containsKey("port"), "option 'port' is required")
    require(o.containsKey("table"), "option 'table' is required")
    PgConn(host, o.get("port").toInt,
      Option(o.get("user")).getOrElse("postgres"),
      Option(o.get("database")).getOrElse("postgres"),
      Option(o.get("password")).getOrElse(""))
  }

  private[sources] def sparkType(pgType: String, prec: Option[String],
      scale: Option[String]): DataType = pgType match {
    case "smallint" => ShortType
    case "integer" => IntegerType
    case "bigint" => LongType
    case "real" => FloatType
    case "double precision" => DoubleType
    case "numeric" =>
      (prec.map(_.toInt), scale.map(_.toInt)) match {
        case (Some(p), Some(s)) if p <= 38 => DecimalType(p, s)
        case _ => DecimalType(38, 18) // unbounded NUMERIC: JDBC convention
      }
    case "boolean" => BooleanType
    case "date" => DateType
    case "timestamp with time zone" | "timestamp without time zone" =>
      TimestampType
    case "bytea" => BinaryType
    case _ => StringType // text/varchar/uuid/json[b]/arrays/user types
  }

  // ---- COPY text → Catalyst value ------------------------------------

  private[sources] def parseValue(dt: DataType, s: String): Any =
    if (s == null) null
    else dt match {
      case ShortType => s.toShort
      case IntegerType => s.toInt
      case LongType => s.toLong
      case FloatType => s.toFloat
      case DoubleType => s.toDouble
      case d: DecimalType =>
        org.apache.spark.sql.types.Decimal(
          new java.math.BigDecimal(s).setScale(d.scale,
            java.math.RoundingMode.HALF_UP), d.precision, d.scale)
      case BooleanType => s == "t" || s == "true"
      case DateType => java.time.LocalDate.parse(s).toEpochDay.toInt
      case TimestampType => parseTimestampMicros(s)
      case BinaryType =>
        // COPY text renders bytea as \x<hex> (after COPY unescaping)
        require(s.startsWith("\\x"), s"unexpected bytea form: $s")
        val hex = s.substring(2)
        Array.tabulate[Byte](hex.length / 2)(i =>
          Integer.parseInt(hex.substring(2 * i, 2 * i + 2), 16).toByte)
      case StringType => UTF8String.fromString(s)
      case other => throw new IllegalArgumentException(
        s"unsupported read type $other")
    }

  /** `2026-08-16 01:23:45[.ffffff][+HH[:MM]]` (DateStyle=ISO, server TZ
    * pinned UTC) → epoch micros. A tz-less timestamp is taken as UTC.
    */
  private[sources] def parseTimestampMicros(s: String): Long = {
    val iso = s.replace(' ', 'T')
    val tzAt = math.max(iso.lastIndexOf('+'), iso.lastIndexOf('-'))
    val hasTz = tzAt > 10 // a '-' before pos 10 is the date part
    val odt =
      if (hasTz) {
        val tz = iso.substring(tzAt)
        val norm = // +HH → +HH:00 (PG emits the short form for UTC)
          if (tz.length == 3) tz + ":00" else tz
        java.time.OffsetDateTime.parse(iso.substring(0, tzAt) + norm)
      } else
        java.time.LocalDateTime.parse(iso).atOffset(java.time.ZoneOffset.UTC)
    val inst = odt.toInstant
    Math.addExact(Math.multiplyExact(inst.getEpochSecond, 1000000L),
      (inst.getNano / 1000).toLong)
  }
}

/** What one catalog query says about a table: the typed schema, each
  * column's declared PG `data_type` and whether its collation is
  * absent-or-deterministic, the server encoding, and the planner
  * statistics `pg_class` keeps (`reltuples`, -1 until the first
  * analyze, and `pg_table_size`). Taken once per read — by
  * `inferSchema`, or on the first scan of a table read with a
  * user-specified schema — so a table dropped and re-created with other
  * types, or grown and re-analyzed, is seen as it is now by the next
  * `load()`.
  *
  * A column with no explicit collation inherits the database default,
  * which Postgres requires to be deterministic; an explicit collation
  * the catalog cannot resolve reads as nondeterministic (the safe
  * direction: its string filters stay in Spark).
  */
final case class PgProbe(schema: StructType, pgTypes: Map[String, String],
    detCollation: Map[String, Boolean], utf8: Boolean, rows: Long,
    bytes: Long)

object PgProbe {

  def apply(conn: PgConn, table: String): PgProbe = {
    val (schema, t) = graft.etl.SchemaScript.splitTableName(table)
    val c = conn.open()
    try {
      val r = c.query(
        s"""SELECT c.column_name, c.data_type, c.numeric_precision,
                   c.numeric_scale, c.is_nullable,
                   CASE WHEN c.collation_name IS NULL THEN 'true'
                        ELSE COALESCE(pc.collisdeterministic::text, 'false')
                   END,
                   current_setting('server_encoding'),
                   COALESCE(s.reltuples::int8, -1),
                   COALESCE(pg_table_size(s.oid), -1)
            FROM information_schema.columns c
            LEFT JOIN pg_catalog.pg_collation pc
              JOIN pg_catalog.pg_namespace pn ON pn.oid = pc.collnamespace
              ON pc.collname = c.collation_name
                AND pn.nspname = c.collation_schema
            LEFT JOIN pg_catalog.pg_class s
              ON s.oid = to_regclass(${quoteLiteral(quoteTable(table))})
            WHERE c.table_schema = ${quoteLiteral(schema)}
              AND c.table_name = ${quoteLiteral(t)}
            ORDER BY c.ordinal_position""")
      require(r.rows.nonEmpty, s"table $table not found (or has no columns)")
      val fields = r.rows.map { row =>
        StructField(row(0),
          PgWireSource.sparkType(row(1), Option(row(2)), Option(row(3))),
          row(4) != "NO")
      }
      val names = fields.map(_.name)
      val Seq(encoding, rows, bytes) = r.rows.head.drop(6): @unchecked
      PgProbe(StructType(fields), names.zip(r.rows.map(_(1))).toMap,
        names.zip(r.rows.map(_(5) == "true")).toMap,
        encoding.equalsIgnoreCase("UTF8"), rows.toLong, bytes.toLong)
    } finally c.close()
  }
}

/** The one V2-expression → Postgres SQL compiler: pushed and runtime
  * filters, aggregate arguments, group keys and sort keys all render
  * through [[column]] and [[literal]], or are declined (None) when
  * Postgres would not evaluate them exactly as Spark does. SQL WHERE
  * keeps only TRUE under the same three-valued logic Spark uses, so
  * `NOT (...)` composes exactly. A find filter has no such NOT (Mongo's
  * `$nor` also matches a missing field), so the Mongo plane renders
  * `NOT` and `<>` as "IS FALSE" instead ([[MongoWireSource.notToBson]]).
  */
final class PgCompiler(schema: StructType, probe: PgProbe) {
  import PgCompiler._

  /** The table column a V2 reference names (top-level only). */
  def field(e: VExpression): Option[StructField] =
    V2Column.unapply(e).flatMap(name => schema.fields.find(_.name == name))

  /** Plain text/varchar: the only StringType-backed PG types whose
    * server-side comparison is Spark's textual one. uuid/json[b]/xml/
    * enums/arrays read as StringType too, but the server compares them
    * in the TYPE's semantics (uuid parse-equality matches a
    * differently-cased literal, jsonb equality is structural, enum
    * order is definition order) and rejects COLLATE outright.
    */
  private def isText(f: StructField): Boolean =
    probe.pgTypes.get(f.name).exists(t => t == "text" || t == "character varying")

  private def detCollation(f: StructField): Boolean =
    probe.detCollation.getOrElse(f.name, false)

  /** char(n): PG compares blank-padded ('a' = 'a  ' is TRUE), Spark
    * does not — no filter touching one is pushed.
    */
  private def isBpchar(f: StructField): Boolean =
    probe.pgTypes.get(f.name).contains("character")

  /** The one column reference: a top-level column of the table,
    * quoted, or None when Postgres cannot evaluate `use` on it exactly.
    *
    *  - Equal (`=`, IN, `<=>`, LIKE) renders no collate clause, so a
    *    string column must be true text under a deterministic collation
    *    (a nondeterministic ICU one makes `=` match case-insensitively
    *    and LIKE fail with 42P22).
    *  - Group merges keys under the column's collation: a string key
    *    needs only a deterministic one (uuid/jsonb carry none and group
    *    by their canonical wire text, which is what Spark groups by).
    *  - Order (ranges, TopN keys, MIN/MAX) renders strings with
    *    `COLLATE "C"` — byte order of the server encoding, which is
    *    Spark's binary UTF-8 order only on a UTF-8 server, and which
    *    overrides any column collation; bytea ordering stays in Spark.
    */
  def column(e: VExpression, use: Use): Option[String] = field(e).flatMap { f =>
    val q = quoteIdent(f.name)
    val string = f.dataType == StringType
    use match {
      case Plain => Some(q)
      case Equal => Option.when(!string || (isText(f) && detCollation(f)))(q)
      case Group => Option.when(!string || detCollation(f))(q)
      case Order => f.dataType match {
        case StringType =>
          Option.when(isText(f) && probe.utf8)(q + " COLLATE \"C\"")
        case BinaryType => None
        case _ => Some(q)
      }
    }
  }

  /** The one literal: V2 literals carry Catalyst's internal values
    * (UTF8String, Decimal, proleptic-Gregorian days and micros), which
    * is also the calendar Postgres compares in — so dates and instants
    * render exactly at any epoch PG's ISO input reads (years 1–9999).
    * Doubles/floats use Java's shortest-round-trip decimal form, which
    * PG's float8/float4 input parses back to the identical bit pattern.
    * A null literal is None: comparisons to null are never true.
    */
  def literal(e: VExpression): Option[String] = e match {
    case l: VLiteral[_] => (l.value: Any, l.dataType) match {
      case (null, _) => None
      case (s: UTF8String, StringType) => Some(quoteLiteral(s.toString))
      case (b: Boolean, BooleanType) => Some(if (b) "TRUE" else "FALSE")
      case (n, ByteType | ShortType | IntegerType | LongType) => Some(n.toString)
      case (f: Float, FloatType) => Some(s"'$f'::float4")
      case (d: Double, DoubleType) => Some(s"'$d'::float8")
      case (d: Decimal, _: DecimalType) => Some(d.toJavaBigDecimal.toPlainString)
      case (days: Int, DateType) =>
        val d = java.time.LocalDate.ofEpochDay(days.toLong)
        Option.when(d.getYear >= 1 && d.getYear <= 9999)(s"DATE '$d'")
      case (micros: Long, TimestampType) =>
        val i = java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
        val year = i.atOffset(java.time.ZoneOffset.UTC).getYear
        Option.when(year >= 1 && year <= 9999)(s"TIMESTAMPTZ '$i'")
      case _ => None
    }
    case _ => None
  }

  /** A pushed or runtime filter as a WHERE fragment, or None if any
    * piece is not exactly expressible (the filter then stays in Spark).
    */
  def predicate(p: Predicate): Option[String] =
    if (p.references.exists(r => field(r).exists(isBpchar))) None
    else condition(p)

  private def condition(e: VExpression): Option[String] = e match {
    case V2Comparison(op, c, v) => compare(op, c, v)
    case p: Predicate => (p.name, p.children.toSeq) match {
      case ("AND", Seq(l, r)) =>
        for (a <- condition(l); b <- condition(r)) yield s"($a AND $b)"
      case ("OR", Seq(l, r)) =>
        for (a <- condition(l); b <- condition(r)) yield s"($a OR $b)"
      case ("NOT", Seq(c)) => condition(c).map(s => s"(NOT $s)")
      case ("IS_NULL", Seq(c)) => column(c, Plain).map(_ + " IS NULL")
      case ("IS_NOT_NULL", Seq(c)) => column(c, Plain).map(_ + " IS NOT NULL")
      // the 10k cap mirrors the runtime (DPP) filter path's: a larger
      // literal IN-list bloats the query text past any planning benefit
      // — it stays in Spark instead
      case ("IN", c +: vs) if vs.nonEmpty && vs.length <= 10000 =>
        val lits = vs.map(literal)
        if (lits.exists(_.isEmpty)) None
        else column(c, Equal).map(k => s"$k IN (${lits.flatten.mkString(", ")})")
      case (like @ ("STARTS_WITH" | "ENDS_WITH" | "CONTAINS"),
          Seq(c, v: VLiteral[_])) if v.value.isInstanceOf[UTF8String] =>
        val needle = v.value.toString
          .replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
        val pattern = like match {
          case "STARTS_WITH" => needle + "%"
          case "ENDS_WITH" => "%" + needle
          case _ => "%" + needle + "%"
        }
        column(c, Equal).map(k =>
          s"$k LIKE ${quoteLiteral(pattern)} ESCAPE '\\'")
      case _ => None
    }
    case _ => None
  }

  /** `column op literal` ([[V2Comparison]]); `<>` renders as NOT over
    * `=`, `<=>` is SQL's IS NOT DISTINCT FROM, and `<=> NULL` is IS
    * NULL on any column.
    */
  private def compare(op: String, c: NamedReference, v: VLiteral[_]): Option[String] =
    op match {
      case "<>" => compare("=", c, v).map(s => s"(NOT $s)")
      case "<=>" if v.value == null => column(c, Plain).map(_ + " IS NULL")
      case _ =>
        val use = if (op == "=" || op == "<=>") Equal else Order
        val sqlOp = if (op == "<=>") "IS NOT DISTINCT FROM" else op
        for (k <- column(c, use); lit <- literal(v)) yield s"$k $sqlOp $lit"
    }
}

object PgCompiler {
  sealed trait Use
  case object Plain extends Use
  case object Equal extends Use
  case object Group extends Use
  case object Order extends Use
}

final class PgWireTable(conn: PgConn, table: String,
    tableSchema: StructType, inferred: Option[PgProbe],
    partCol: Option[String], numParts: Int,
    lower: Option[Long], upper: Option[Long])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  /** Probed on the first scan when `load()` did not infer the schema. */
  private lazy val probe = inferred.getOrElse(PgProbe(conn, table))

  override def name(): String = s"graft_pg[$table]"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PgScanBuilder(conn, table, tableSchema, probe, partCol, numParts,
      lower, upper)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new PgWriteBuilder(conn, table, info)
}

/** GROUP BY + aggregate expressions compiled to server-side SQL: the
  * SELECT list (group columns then aggregate expressions, the order
  * Spark maps positions by) and the matching read schema.
  */
final case class PushedPgAgg(selectExprs: Seq[String],
    groupByCols: Seq[String], schema: StructType)

final class PgScanBuilder(conn: PgConn, table: String,
    tableSchema: StructType, probe: PgProbe, partCol: Option[String],
    numParts: Int, lower: Option[Long], upper: Option[Long])
    extends ScanBuilder
    with SupportsPushDownV2Filters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit
    with SupportsPushDownTopN {

  import PgCompiler._

  private val sql = new PgCompiler(tableSchema, probe)
  private var out: StructType = tableSchema
  private var accepted: Array[Predicate] = Array.empty
  private var whereSqls: Seq[String] = Nil
  private var limit: Option[Int] = None
  private var orderBySql: Seq[String] = Nil
  private var pushedAgg: Option[PushedPgAgg] = None

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    val compiled = predicates.map(p => (p, sql.predicate(p)))
    accepted = compiled.collect { case (p, Some(_)) => p }
    whereSqls = compiled.toSeq.flatMap(_._2)
    compiled.collect { case (p, None) => p } // unsupported stay in Spark
  }
  override def pushedPredicates(): Array[Predicate] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    // With an aggregate pushed the output IS the agg schema; otherwise
    // Spark passes a subset of the table schema (possibly empty for
    // count(*) — keep one narrow column so COPY has a SELECT list).
    if (pushedAgg.isEmpty)
      out =
        if (requiredSchema.fields.nonEmpty) requiredSchema
        else StructType(tableSchema.fields.take(1))

  private def singleSlice: Boolean = partCol.isEmpty || numParts <= 1

  /** Compile the aggregation to server SQL, or None if any piece is
    * outside the exactly-translatable subset: COUNT(*)/COUNT(col)
    * (→ ::int8; PG count is int8 already), MIN/MAX (column's own
    * type, keyed like a sort — strings ride COLLATE "C"), SUM over
    * integrals (→ ::int8 — PG widens int sums to numeric; on true int8
    * overflow PG raises where non-ANSI Spark would wrap,
    * loud-over-silent), floats (→ ::float8, Spark's SUM result type for
    * both float widths) and decimals (→ the ::numeric(p+10,s) widening
    * Spark's SUM uses, while p+10 fits), and AVG on the single-slice
    * (complete) path only. DISTINCT aggregates are not pushed —
    * per-slice DISTINCT partials do not merge.
    *
    * Zero-sign note: float MIN/MAX over a group holding both 0.0 and
    * -0.0 may return either sign from the server — but that is inside
    * Spark's OWN envelope (Spark's Min/Max keep the first-seen zero
    * representation, so the answer is row-order-dependent there too);
    * float SUM/AVG are different — Spark's zero-initialized
    * accumulators make +0.0 deterministic, which the `+ '0'` rendering
    * in the Sum case replays (PG's bare sum(float8) preserves -0.0).
    */
  private def compileAgg(agg: Aggregation): Option[PushedPgAgg] = {
    val groups = agg.groupByExpressions.toSeq
    val groupKeys = groups.map(sql.column(_, Group))
    val groupFields = groups.map(sql.field)
    if (groupKeys.exists(_.isEmpty) ||
        groupKeys.distinct.length != groupKeys.length) return None

    def typed(e: VExpression, use: Use) =
      for (f <- sql.field(e); k <- sql.column(e, use)) yield (f.dataType, k)
    val specs = agg.aggregateExpressions.toSeq.zipWithIndex.map {
      case (_: CountStar, i) =>
        Some(("count(*)::int8", StructField(s"agg_$i", LongType, nullable = false)))
      case (c: Count, i) if !c.isDistinct =>
        sql.column(c.column, Plain).map(k =>
          (s"count($k)::int8", StructField(s"agg_$i", LongType, nullable = false)))
      case (m: Min, i) =>
        typed(m.column, Order).map { case (dt, k) =>
          (s"min($k)", StructField(s"agg_$i", dt)) }
      case (m: Max, i) =>
        typed(m.column, Order).map { case (dt, k) =>
          (s"max($k)", StructField(s"agg_$i", dt)) }
      case (s: Sum, i) if !s.isDistinct =>
        typed(s.column, Plain).flatMap {
          case (ShortType | IntegerType | LongType, k) =>
            Some((s"sum($k)::int8", StructField(s"agg_$i", LongType)))
          case (FloatType | DoubleType, k) =>
            // two exactness points (PgPushdownPropertySpec found the
            // second): the cast sits INSIDE the sum — PG's sum(real)
            // accumulates in float4 where Spark casts each float to
            // double and accumulates in double; and `+ '0'` replays
            // Spark's zero-initialized accumulator, so a group whose
            // values are all -0.0 reads +0.0 exactly as Spark's
            // 0.0 + (-0.0) does (x + 0 is the identity for every
            // other float8, NULL and NaN included)
            Some((s"(sum(($k)::float8) + '0'::float8)",
              StructField(s"agg_$i", DoubleType)))
          case (d: DecimalType, k) if d.precision + 10 <= 38 =>
            Some((s"sum($k)::numeric(${d.precision + 10},${d.scale})",
              StructField(s"agg_$i", DecimalType(d.precision + 10, d.scale))))
          case _ => None
        }
      case (a: Avg, i) if !a.isDistinct && singleSlice =>
        // AVG does not decompose into mergeable per-slice partials
        // (avg-of-avgs is wrong under uneven slice counts), so it is
        // compiled ONLY on the complete-pushdown path; when the scan is
        // partitioned this returns None and Spark re-plans avg as
        // sum/count partials, which the cases above accept.
        typed(a.column, Plain).flatMap {
          case (ShortType | IntegerType | LongType | FloatType | DoubleType, k) =>
            // Spark's Average accumulates non-decimal inputs in
            // DOUBLE; cast the input so PG runs the same IEEE
            // arithmetic instead of exact numeric it would use for
            // integer inputs.
            Some((s"avg(($k)::float8)::float8", StructField(s"agg_$i", DoubleType)))
          // Decimal AVG is DECLINED even single-slice (r16 advice):
          // PG computes the quotient at its internal ~16-digit scale
          // and the ::numeric(p+4,s+4) cast rounds AGAIN, while Spark
          // rounds an exact sum/count quotient once — adversarial
          // values differ by 1 ulp at scale s+4. Declining complete
          // pushdown makes Spark rewrite avg → sum+count, the Sum
          // case above pushes the exact numeric sum, and Spark's own
          // single-rounded division restores bit-exact decimals —
          // the aggregate still evaluates server-side, just in its
          // decomposed (and exact) form.
          case _ => None
        }
      case _ => None
    }
    if (specs.isEmpty || specs.exists(_.isEmpty)) return None
    val aggExprs = specs.flatten
    Some(PushedPgAgg(groupKeys.flatten ++ aggExprs.map(_._1),
      groupKeys.flatten,
      StructType(groupFields.flatten ++ aggExprs.map(_._2))))
  }

  /** Complete only when the scan plans ONE slice — a multi-slice scan
    * emits per-slice partials for Spark's final merge (count→sum,
    * sum/min/max→themselves), which all the accepted functions do
    * exactly.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    singleSlice && compileAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    compileAgg(agg) match {
      case some @ Some(compiled) =>
        pushedAgg = some
        out = compiled.schema
        true
      case None => false
    }

  override def pushLimit(n: Int): Boolean =
    if (pushedAgg.isDefined) false
    else { limit = Some(n); true }

  /** ORDER BY over plain columns with Spark's null ordering rendered
    * explicitly — PG's defaults (NULLS LAST for ASC) differ from
    * Spark's (NULLS FIRST for ASC), so the clause is never implicit.
    * String keys carry COLLATE "C" (see [[PgCompiler.column]]): under
    * the database collation en_US has 'a' < 'B' where Spark has
    * 'B' < 'a', so an uncollated string key would return a silently
    * different top-N.
    */
  override def pushTopN(orders: Array[VSortOrder], n: Int): Boolean = {
    if (pushedAgg.isDefined) return false
    val rendered = orders.toSeq.map(o =>
      sql.column(o.expression, Order).map { key =>
        val dir =
          if (o.direction == SortDirection.ASCENDING) "ASC" else "DESC"
        val nulls =
          if (o.nullOrdering == NullOrdering.NULLS_FIRST) "NULLS FIRST"
          else "NULLS LAST"
        s"$key $dir $nulls"
      })
    if (rendered.isEmpty || rendered.exists(_.isEmpty)) return false
    orderBySql = rendered.flatten
    limit = Some(n)
    true
  }

  override def isPartiallyPushed: Boolean =
    numParts > 1 // each slice limits/sorts locally; Spark re-does globally

  override def build(): Scan = {
    // Catalyst default-size width share of the projected columns vs the
    // full table row — how much of pg_table_size this scan actually
    // ships (1.0 when an aggregate is pushed: its output is tiny but
    // table-level stats are the safe over-estimate there).
    val share =
      if (pushedAgg.isDefined) 1.0
      else {
        val total = tableSchema.fields.map(_.dataType.defaultSize.toLong).sum
        if (total <= 0L) 1.0
        else math.min(1.0,
          out.fields.map(_.dataType.defaultSize.toLong).sum.toDouble / total)
      }
    new PgScan(conn, table, out, sql, probe, whereSqls, limit, partCol,
      numParts, lower, upper, pushedAgg, orderBySql, share)
  }
}

final class PgScan(conn: PgConn, table: String, out: StructType,
    sql: PgCompiler, probe: PgProbe, wheres: Seq[String],
    limit: Option[Int], partCol: Option[String], numParts: Int,
    lower: Option[Long], upper: Option[Long],
    agg: Option[PushedPgAgg] = None, orderBy: Seq[String] = Nil,
    widthShare: Double = 1.0)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {

  /** Runtime (DPP-style) filtering: after a broadcast build side
    * materializes, Spark hands the scan the join keys' IN-set and the
    * scan re-plans — here the set is rendered into the WHERE clause,
    * so Postgres evaluates the join-key filter and only matching rows
    * ever cross the wire (and the partition-bounds probe narrows to
    * the surviving key range). Best-effort by contract: a filter this
    * source cannot render exactly (unsupported type, char(n) padding,
    * an IN-set too large to ship as SQL) is simply not applied — the
    * join still filters row-level.
    */
  private var runtimeWheres: Seq[String] = Nil

  /** Join keys whose IN-set the compiler would render: the equality
    * gate (a uuid/jsonb-backed or nondeterministic-collated string key
    * would be declined anyway), no bytea.
    */
  override def filterAttributes(): Array[NamedReference] =
    if (agg.isDefined) Array.empty // WHERE injects below the GROUP BY
    else out.fields.filter(_.dataType != BinaryType)
      .map(f => Expressions.column(f.name))
      .filter(sql.column(_, PgCompiler.Equal).isDefined)

  override def filter(predicates: Array[Predicate]): Unit =
    runtimeWheres = predicates.toSeq.flatMap(sql.predicate)

  override def readSchema(): StructType = out
  override def toBatch: Batch = this

  /** Table-level planner statistics from the server's own pg_class
    * estimates — what lets Spark BROADCAST a small Postgres dimension
    * against a big fact scan instead of shuffling both sides (without
    * stats a DSv2 relation sizes as "huge" and never broadcasts; the
    * decision that matters most at 1000-executor scale). Row count is
    * scaled to the SELECT list's width share and capped by a pushed
    * LIMIT; a scan with a pushed aggregate or filter reports table-
    * level numbers — an over-estimate, which errs away from a wrong
    * broadcast. Unknown (never-analyzed) tables report empty: the
    * planner then keeps its huge default, the safe direction.
    */
  override def estimateStatistics(): Statistics = {
    val (rows, bytes) = (probe.rows, probe.bytes)
    new Statistics {
      override def numRows(): java.util.OptionalLong =
        if (rows < 0) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(
          limit.map(l => math.min(l.toLong, rows)).getOrElse(rows))
      override def sizeInBytes(): java.util.OptionalLong =
        if (rows < 0 || bytes < 0) java.util.OptionalLong.empty()
        else {
          // prune-aware: charge only the projected columns' width share
          val pruned = (bytes * widthShare).toLong max 1L
          val capped = limit match {
            case Some(l) if rows > 0 =>
              math.min(pruned, (pruned.toDouble * l / rows).toLong max 1L)
            case _ => pruned
          }
          java.util.OptionalLong.of(capped)
        }
    }
  }
  override def description(): String = {
    val w = if (wheres.isEmpty) "" else s" where=${wheres.mkString(" AND ")}"
    val a = agg.map(a => s" agg=${a.selectExprs.mkString(",")}").getOrElse("")
    val o = if (orderBy.isEmpty) "" else s" orderBy=${orderBy.mkString(",")}"
    val l = limit.map(n => s" limit=$n").getOrElse("")
    s"GraftPgScan[$table] cols=${out.fieldNames.mkString(",")}$w$a$o$l"
  }

  private def baseWhere: String = {
    val all = wheres ++ runtimeWheres
    if (all.isEmpty) "" else all.mkString(" AND ")
  }

  private def selectSql(extra: Option[String]): String = {
    val cols = agg.map(_.selectExprs.mkString(", ")).getOrElse(
      out.fieldNames.map(quoteIdent).mkString(", "))
    val conds = Seq(baseWhere).filter(_.nonEmpty) ++ extra
    val where = if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
    val grp = agg.filter(_.groupByCols.nonEmpty)
      .map(a => s" GROUP BY ${a.groupByCols.mkString(", ")}").getOrElse("")
    val ord = if (orderBy.isEmpty) "" else s" ORDER BY ${orderBy.mkString(", ")}"
    val lim = limit.map(n => s" LIMIT $n").getOrElse("")
    s"SELECT $cols FROM ${quoteTable(table)}$where$grp$ord$lim"
  }

  override def planInputPartitions(): Array[InputPartition] =
    partCol match {
      case Some(col) if numParts > 1 =>
        val (lo, hi) = bounds(col)
        if (lo > hi) Array(PgSqlPartition(selectSql(None)))
        else {
          val q = quoteIdent(col)
          val n = math.min(numParts.toLong, hi - lo + 1).toInt
          val width = (hi - lo + 1 + n - 1) / n
          (0 until n).map { i =>
            val a = lo + i * width
            val b = math.min(lo + (i + 1) * width, hi + 1)
            // Bounds set the STRIDE, never filter rows (the JDBC-source
            // contract): the first slice is unbounded below and keeps
            // nulls (the JDBC source silently drops null-keyed rows,
            // this one does not), the last is unbounded above — rows
            // outside explicit lower/upperBound land in an edge slice
            // instead of silently vanishing.
            val range =
              if (n == 1) None
              else if (i == 0) Some(s"($q < $b OR $q IS NULL)")
              else if (i == n - 1) Some(s"($q >= $a)")
              else Some(s"($q >= $a AND $q < $b)")
            PgSqlPartition(selectSql(range)): InputPartition
          }.toArray
        }
      case _ => Array(PgSqlPartition(selectSql(None)))
    }

  /** Partition bounds: explicit options, else probed with one min/max
    * query (the probe reuses the pushed WHERE so pruning narrows the
    * planned range too).
    */
  private def bounds(col: String): (Long, Long) = (lower, upper) match {
    case (Some(a), Some(b)) => (a, b)
    case _ =>
      val q = quoteIdent(col)
      val where = if (baseWhere.isEmpty) "" else s" WHERE $baseWhere"
      val c = conn.open()
      try {
        val r = c.query(
          s"SELECT min($q)::text, max($q)::text FROM " +
            s"${quoteTable(table)}$where")
        val Seq(mn, mx) = r.rows.head: @unchecked
        if (mn == null) (1L, 0L) // empty table → single-partition plan
        else (lower.getOrElse(mn.toLong), upper.getOrElse(mx.toLong))
      } finally c.close()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PgReaderFactory(conn, out)
}

final case class PgSqlPartition(sql: String) extends InputPartition

final class PgReaderFactory(conn: PgConn, out: StructType)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sql = p.asInstanceOf[PgSqlPartition].sql
    new PartitionReader[InternalRow] {
      private val client = conn.open()
      // Streaming read: memory stays bounded by one wire frame + one
      // line regardless of slice size (close() mid-stream — e.g. an
      // early task limit — tears the connection down and the server
      // aborts the COPY).
      private val lines =
        try client.copyOutIterator(s"COPY ($sql) TO STDOUT")
        catch { case e: Throwable => client.close(); throw e }
      private var row: InternalRow = _

      override def next(): Boolean =
        if (!lines.hasNext) false
        else {
          val vs = PgWireClient.decodeCopyRow(lines.next())
          val arr = new Array[Any](out.length)
          var i = 0
          while (i < out.length) {
            arr(i) = PgWireSource.parseValue(out(i).dataType, vs(i))
            i += 1
          }
          row = new GenericInternalRow(arr)
          true
        }

      override def get(): InternalRow = row
      override def close(): Unit = client.close()
    }
  }
}
