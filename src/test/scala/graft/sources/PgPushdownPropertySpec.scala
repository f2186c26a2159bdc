package graft.sources

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.etl.PgConn

/** The PG-plane sibling of [[MongoPushdownPropertySpec]] (r17 verdict
  * #2 asked for exactly this pair): filter pushdown over the live
  * scratch Postgres must be INVISIBLE — for ANY row set (NULLs,
  * NaN/±Inf/-0.0 doubles, empty and quoted strings, year-1
  * timestamps, dates on both sides of 1582-10-15) and ANY filter tree over And/Or/Not/eq/null-safe-eq/
  * range/in/null-tests/LIKE-shapes, the DSv2 scan returns exactly
  * what Spark computes over the same rows in memory. The SQL plane is
  * structurally safer than Mongo's (WHERE shares Spark's three-valued
  * logic, float8 NaN sorts above all values and equals itself on both
  * sides), but the calendar of date/timestamp literals and the
  * string-range collation hazard live here too — this property checks
  * the pushed pre-Gregorian literals and keeps the declines honest.
  */
object PgPushdownPropertySpec extends Properties("PgPushdown") {

  private lazy val spark = SparkTestSession.session
  private lazy val h = LivePostgres.get()

  // table churn + ~7 filter trees × 2 collects per case: 15 cases
  // ≈ 105 differential comparisons per run
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  // ---- row sets -------------------------------------------------------

  private def opt(g: Gen[String]): Gen[String] =
    Gen.frequency((3, Gen.const("NULL")), (7, g))

  private val genA: Gen[String] = opt(Gen.choose(-3L, 7L).map(_.toString))
  private val genP: Gen[String] = opt(Gen.oneOf(
    "'NaN'::float8", "'Infinity'::float8", "'-Infinity'::float8",
    "'-0.0'::float8", "0.0", "1.5", "5.0", "10.25"))
  private val genS: Gen[String] = opt(Gen.oneOf(
    "''", "'a'", "'b'", "'é☃'", "'zz'", "'x''y'"))
  private val genB: Gen[String] = opt(Gen.oneOf("TRUE", "FALSE"))
  private val genT: Gen[String] = opt(Gen.oneOf(
    "TIMESTAMPTZ '1970-01-01 00:00:00+00'",
    "TIMESTAMPTZ '2024-01-01 00:00:00+00'",
    "TIMESTAMPTZ '2024-01-01 00:00:00.000500+00'",
    "TIMESTAMPTZ '0001-01-01 00:00:00+00'"))
  // both sides of the Julian/Gregorian cutover (1582-10-15)
  private val dates = Seq("0001-01-01", "1500-01-01", "1582-10-15", "1990-06-15")
  private val genD: Gen[String] = opt(Gen.oneOf(dates).map(d => s"DATE '$d'"))

  // uuid/jsonb read as StringType but carry NON-textual server
  // semantics — their string filters must decline (type-gated), which
  // the property verifies by including them in the row set and the
  // filter trees
  private val genU: Gen[String] = opt(Gen.oneOf(
    "'550e8400-e29b-41d4-a716-446655440000'",
    "'aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee'",
    "'00000000-0000-0000-0000-000000000000'"))
  private val genJ: Gen[String] = opt(Gen.oneOf(
    """'{"k": 1}'""", """'{"k":  1}'""", """'{"k": 2}'""", "'[1, 2]'"))

  // case-colliding values for the ci-collated column: under the
  // nondeterministic ICU collation 'alpha' = 'ALPHA' server-side,
  // while Spark compares bytes — the r19 collation gate must make the
  // difference invisible by keeping those filters in Spark
  private val genC: Gen[String] = opt(Gen.oneOf(
    "'alpha'", "'ALPHA'", "'Alpha'", "'beta'", "''"))

  private val genRows: Gen[Vector[String]] = for {
    n <- Gen.choose(1, 16)
    rows <- Gen.sequence[Vector[String], String]((0 until n).map { i =>
      for (a <- genA; p <- genP; s <- genS; b <- genB; t <- genT;
           u <- genU; j <- genJ; cs <- genC; dt <- genD)
        yield s"($i, $a, $p, $s, $b, $t, $u, $j, $cs, $dt)"
    }.toVector)
  } yield rows

  // ---- filter trees ---------------------------------------------------

  private val cmpOps: Gen[(Column, Column) => Column] = Gen.oneOf(
    Seq[(Column, Column) => Column](
      _ === _, _ =!= _, _ < _, _ <= _, _ > _, _ >= _, _ <=> _))

  private val genALit: Gen[Column] = Gen.frequency(
    (8, Gen.choose(-3L, 7L).map(lit(_))),
    (1, Gen.const(lit(null).cast("bigint"))))
  private val genPLit: Gen[Column] = Gen.oneOf(
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
    -0.0, 0.0, 1.5, 5.0, 10.25).map(lit(_))
  private val genSLit: Gen[Column] =
    Gen.oneOf("", "a", "é☃", "zz", "x'y", "missing").map(lit(_))
  private val genTLit: Gen[Column] = Gen.oneOf(
    "1970-01-01T00:00:00Z", "2024-01-01T00:00:00Z",
    "2024-01-01T00:00:00.000500Z",
    "0001-01-01T00:00:00Z") // pre-1900: pushed as its proleptic micros
    .map(s => lit(java.sql.Timestamp.from(java.time.Instant.parse(s))))
  private val genDLit: Gen[Column] =
    Gen.oneOf(dates).map(d => lit(java.sql.Date.valueOf(d)))

  private val genLeaf: Gen[Column] = {
    def cmp(c: String, lits: Gen[Column]): Gen[Column] =
      for (op <- cmpOps; l <- lits) yield op(col(c), l)
    def in(c: String, lits: Gen[Any]): Gen[Column] =
      Gen.choose(1, 3).flatMap(k =>
        Gen.listOfN(k, lits).map(ls => col(c).isin(ls: _*)))
    val inALit: Gen[Any] = Gen.frequency(
      (8, Gen.choose(-3L, 7L)), (1, Gen.const(null)))
    val inSLit: Gen[Any] = Gen.oneOf("", "a", "é☃", "zz", "missing")
    Gen.oneOf(
      cmp("a", genALit), cmp("p", genPLit), cmp("s", genSLit),
      cmp("t", genTLit), cmp("dt", genDLit),
      Gen.oneOf(true, false).map(col("b") === _),
      Gen.oneOf("a", "p", "s", "b", "t", "dt").map(col(_).isNull),
      Gen.oneOf("a", "p", "s", "b", "t", "dt").map(col(_).isNotNull),
      in("a", inALit), in("s", inSLit),
      Gen.oneOf("a", "z", "x'").map(col("s").startsWith(_)),
      Gen.oneOf("a", "z", "'y").map(col("s").endsWith(_)),
      Gen.oneOf("", "z", "'").map(col("s").contains(_)),
      // uuid/jsonb: type-gated declines must be invisible — note the
      // UPPERCASE uuid literal (PG parse-equality would match, Spark's
      // textual equality must not) and the double-space jsonb literal
      // (structural equality there, textual here)
      for (op <- cmpOps; l <- Gen.oneOf(
        "550e8400-e29b-41d4-a716-446655440000",
        "550E8400-E29B-41D4-A716-446655440000",
        "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee", "z"))
        yield op(col("u"), lit(l)),
      for (op <- Gen.oneOf(Seq[(Column, Column) => Column](
        _ === _, _ =!= _, _ <=> _)); l <- Gen.oneOf(
        """{"k": 1}""", """{"k":  1}""", "[1, 2]"))
        yield op(col("doc"), lit(l)),
      Gen.oneOf("u", "doc").map(col(_).isNull),
      Gen.oneOf("u", "doc").map(col(_).isNotNull),
      // ci-collated text: =/IN/<=>/LIKE-shapes must stay in Spark
      // (collation-gated), ranges ride COLLATE "C" and may push —
      // either way the answer must equal the in-memory one
      cmp("cs", Gen.oneOf("alpha", "ALPHA", "Alpha", "beta", "")
        .map(lit(_))),
      in("cs", Gen.oneOf("alpha", "ALPHA", "beta", "")),
      Gen.oneOf("al", "AL", "be").map(col("cs").startsWith(_)),
      Gen.oneOf("ha", "HA", "ta").map(col("cs").endsWith(_)),
      Gen.oneOf("lph", "LPH", "").map(col("cs").contains(_)),
      Gen.const(col("cs").isNull), Gen.const(col("cs").isNotNull))
  }

  private def genTree(depth: Int): Gen[Column] =
    if (depth <= 0) genLeaf
    else Gen.frequency(
      (3, genLeaf),
      (2, for (l <- genTree(depth - 1); r <- genTree(depth - 1))
        yield l && r),
      (2, for (l <- genTree(depth - 1); r <- genTree(depth - 1))
        yield l || r),
      (3, genTree(depth - 1).map(!_)))

  private val genFilters: Gen[List[Column]] =
    Gen.listOfN(7, genTree(3))

  // ---- the property ---------------------------------------------------

  /** The nondeterministic ICU collation the `cs` column carries —
    * created once; on a server built without ICU the column falls back
    * to plain TEXT (the property still runs, just without exercising
    * the collation gate).
    */
  private lazy val ciCollation: Boolean = {
    val c = PgConn(h.host, h.port, h.user, h.database).open()
    try {
      val _ = c.query(
        """CREATE SCHEMA IF NOT EXISTS graft_t;
           CREATE COLLATION IF NOT EXISTS graft_t.prop_ci (
             provider = icu, locale = 'und-u-ks-level2',
             deterministic = false)""")
      true
    } catch { case _: Throwable => false }
    finally c.close()
  }

  private def seed(rows: Vector[String]): Unit = {
    val csType =
      if (ciCollation) "TEXT COLLATE graft_t.prop_ci" else "TEXT"
    val c = PgConn(h.host, h.port, h.user, h.database).open()
    try {
      val _ = c.query(
        s"""CREATE SCHEMA IF NOT EXISTS graft_t;
            DROP TABLE IF EXISTS graft_t.prop;
            CREATE TABLE graft_t.prop (
              id BIGINT, a BIGINT, p DOUBLE PRECISION, s TEXT,
              b BOOLEAN, t TIMESTAMPTZ, u UUID, doc JSONB, cs $csType,
              dt DATE);
            INSERT INTO graft_t.prop VALUES ${rows.mkString(", ")}""")
    } finally c.close()
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // ---- aggregate shapes ------------------------------------------------

  /** Aggregates from the pushable subset (plus count-distinct, which
    * the builder declines — the decline must be invisible too). Double
    * SUM/AVG inputs are dyadic rationals (1.5, 5.0, 10.25, ±0.0,
    * ±Inf, NaN) so IEEE accumulation is order-independent and the
    * comparison never trips on a legitimate last-ulp association
    * difference between the server's and Spark's summation order.
    * The Boolean marks zero-sign-AMBIGUOUS aggregates: Spark's own
    * float MIN/MAX keep the first-seen zero representation (verified:
    * min over [0.0,-0.0] is 0.0, over [-0.0,0.0] is -0.0), so over a
    * mixed-sign-zero group both answers are Spark-reachable and the
    * comparison must not fail on the sign — while SUM/AVG are
    * deterministic (+0.0, zero-initialized accumulators) and compare
    * strictly; the bare-sum -0.0 divergence this property caught is
    * fixed by the `+ '0'` rendering in PgWireSource.compileAgg.
    */
  private val genAgg: Gen[(Column, Boolean)] = Gen.oneOf(
    Gen.const((count(lit(1)).as("cnt"), false)),
    Gen.oneOf("a", "p", "s", "t").map(c =>
      (count(col(c)).as(s"cnt_$c"), false)),
    Gen.oneOf("a", "p").map(c => (sum(col(c)).as(s"sum_$c"), false)),
    // cs: string MIN/MAX on the ci column still push — COLLATE "C"
    // overrides the column collation, byte order == Spark's
    Gen.oneOf("a", "p", "s", "t", "cs").map(c =>
      (min(col(c)).as(s"min_$c"), c == "p")),
    Gen.oneOf("a", "p", "s", "t", "cs").map(c =>
      (max(col(c)).as(s"max_$c"), c == "p")),
    Gen.oneOf("a", "p").map(c => (avg(col(c)).as(s"avg_$c"), false)),
    Gen.const((countDistinct(col("a")).as("cd_a"), false))) // declined → Spark

  private val genAggQuery
      : Gen[(Seq[String], Seq[(Column, Boolean)], Option[Column])] =
    for {
      groups <- Gen.oneOf(Seq.empty[String], Seq("s"), Seq("b"),
        Seq("s", "b"), Seq("cs")) // cs: GROUP BY collation-gate decline
        // must be invisible (server would merge 'alpha'/'ALPHA')
      n <- Gen.choose(1, 3)
      aggs <- Gen.listOfN(n, genAgg)
      filt <- Gen.option(genTree(2))
    } yield (groups, aggs, filt)

  /** Row formatter normalizing -0.0 → 0.0 in the zero-sign-ambiguous
    * agg columns only (group keys and the other aggs compare strictly).
    */
  private def fmtRow(r: org.apache.spark.sql.Row, nGroups: Int,
      ambiguous: Seq[Boolean]): String =
    (0 until r.length).map { i =>
      val v = r.get(i)
      val norm =
        if (i >= nGroups && ambiguous(i - nGroups)) v match {
          case d: java.lang.Double if d.doubleValue() == 0.0 =>
            java.lang.Double.valueOf(0.0)
          case x => x
        } else v
      String.valueOf(norm)
    }.mkString("[", ",", "]")

  // ---- the properties --------------------------------------------------

  property("aggregate pushdown (complete and partial) == in memory") = {
    if (!LivePostgres.available) {
      System.err.println(
        "PgPushdownPropertySpec SKIPPED: postgres binaries not installed")
      Prop.passed
    } else Prop.forAllNoShrink(genRows, Gen.listOfN(4, genAggQuery),
      Gen.oneOf(1, 3)) { (rows, queries, nParts) =>
      seed(rows)
      val base = spark.read.format("graft.sources.PgWireSource")
        .option("host", h.host).option("port", h.port)
        .option("user", h.user).option("database", h.database)
        .option("table", "graft_t.prop")
      val scan =
        (if (nParts > 1)
          base.option("partitionColumn", "id").option("numPartitions", nParts)
        else base).load()
      val full = spark.read.format("graft.sources.PgWireSource")
        .option("host", h.host).option("port", h.port)
        .option("user", h.user).option("database", h.database)
        .option("table", "graft_t.prop").load()
      val inMem = spark.createDataFrame(
        new java.util.ArrayList(
          scala.jdk.CollectionConverters.SeqHasAsJava(
            full.collect().toSeq).asJava),
        full.schema)
      queries.forall { case (groups, aggs, filt) =>
        val cols = aggs.map(_._1)
        val amb = aggs.map(_._2)
        def run(df: DataFrame): Seq[String] = {
          val fd = filt.map(df.filter).getOrElse(df)
          val ag =
            if (groups.isEmpty) fd.agg(cols.head, cols.tail: _*)
            else fd.groupBy(groups.map(col): _*).agg(cols.head, cols.tail: _*)
          ag.collect().map(fmtRow(_, groups.length, amb)).sorted.toSeq
        }
        val pushed = run(scan)
        val oracle = run(inMem)
        if (pushed == oracle) true
        else {
          System.err.println(
            s"AGG PUSHDOWN DIVERGENCE groups=$groups aggs=$aggs " +
              s"filter=$filt nParts=$nParts\n rows=$rows\n " +
              s"pushed=$pushed\n oracle=$oracle")
          false
        }
      }
    }
  }

  property("TopN pushdown (incl. null ordering) == in memory") = {
    if (!LivePostgres.available) Prop.passed
    else Prop.forAllNoShrink(genRows, Gen.listOfN(4, for {
      dir <- Gen.oneOf(Seq[Column => Column](
        c => c.asc, c => c.desc, c => c.asc_nulls_first,
        c => c.asc_nulls_last, c => c.desc_nulls_first,
        c => c.desc_nulls_last))
      k <- Gen.choose(1, 6)
    } yield (dir, k)), Gen.oneOf(1, 3)) { (rows, orders, nParts) =>
      // id is unique (one NULL-keyed row appended), so top-k content
      // is deterministic and comparable
      val withNull = rows :+
        s"(NULL, 0, 0.0, 'nullkey', TRUE, " +
          "TIMESTAMPTZ '2024-01-01 00:00:00+00', NULL, NULL, NULL, NULL)"
      seed(withNull)
      val base = spark.read.format("graft.sources.PgWireSource")
        .option("host", h.host).option("port", h.port)
        .option("user", h.user).option("database", h.database)
        .option("table", "graft_t.prop")
      val scan =
        (if (nParts > 1)
          base.option("partitionColumn", "id").option("numPartitions", nParts)
        else base).load()
      // the oracle base read is a FRESH unpartitioned reader —
      // DataFrameReader.option mutates in place, so reusing `base`
      // after the partition options would make the oracle the very
      // partitioned path under test (review-found)
      val full = spark.read.format("graft.sources.PgWireSource")
        .option("host", h.host).option("port", h.port)
        .option("user", h.user).option("database", h.database)
        .option("table", "graft_t.prop").load()
      val inMem = spark.createDataFrame(
        new java.util.ArrayList(
          scala.jdk.CollectionConverters.SeqHasAsJava(
            full.collect().toSeq).asJava),
        full.schema)
      orders.forall { case (dir, k) =>
        val pushed = scan.orderBy(dir(col("id"))).limit(k)
          .collect().map(_.toString).toSeq
        val oracle = inMem.orderBy(dir(col("id"))).limit(k)
          .collect().map(_.toString).toSeq
        if (pushed == oracle) true
        else {
          System.err.println(
            s"TOPN PUSHDOWN DIVERGENCE k=$k nParts=$nParts\n " +
              s"rows=$withNull\n pushed=$pushed\n oracle=$oracle")
          false
        }
      }
    }
  }

  property("DSv2 scan with pushdown == the same predicate in memory") = {
    if (!LivePostgres.available) {
      System.err.println(
        "PgPushdownPropertySpec SKIPPED: postgres binaries not installed")
      Prop.passed
    } else Prop.forAllNoShrink(genRows, genFilters) { (rows, filters) =>
      seed(rows)
      val scan = spark.read.format("graft.sources.PgWireSource")
        .option("host", h.host).option("port", h.port)
        .option("user", h.user).option("database", h.database)
        .option("table", "graft_t.prop").load()
      val base = scan.collect().toSeq
      val inMem = spark.createDataFrame(
        new java.util.ArrayList(
          scala.jdk.CollectionConverters.SeqHasAsJava(base).asJava),
        scan.schema)
      filters.forall { f =>
        val pushed = rowsOf(scan.filter(f))
        val oracle = rowsOf(inMem.filter(f))
        if (pushed == oracle) true
        else {
          System.err.println(
            s"PUSHDOWN DIVERGENCE on $f\n rows=$rows\n " +
              s"pushed=$pushed\n oracle=$oracle")
          false
        }
      }
    }
  }
}
