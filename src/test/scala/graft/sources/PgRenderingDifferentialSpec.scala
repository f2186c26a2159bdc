package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.etl.{ColumnDef, PgConn, PgWireSink}

/** Differential pin of the two COPY text renderings the Postgres write
  * plane has had: the plan-side `cast(string)`/`to_json` rendering
  * (kept here, verbatim in behaviour, as the reference) and the typed
  * `PgRowText` converters of the DSv2 writer. One frame covering every
  * Spark type `Pipeline.run` writes — plus the edge values each
  * rendering could get wrong — lands through each path into identically
  * typed tables; the landed tables must agree row for row, compared as
  * Postgres' own text output so `-0` vs `0` or a NUMERIC scale change
  * would show.
  */
class PgRenderingDifferentialSpec extends AnyFunSuite with SparkTestSession {

  private lazy val conn: PgConn = {
    val h = LivePostgres.get()
    PgConn(h.host, h.port, h.user, h.database)
  }

  private val pgColumns = Seq(
    ColumnDef("k", "INTEGER", notNull = true),
    ColumnDef("t", "TEXT"), ColumnDef("i", "INTEGER"),
    ColumnDef("b", "BIGINT"), ColumnDef("s", "SMALLINT"),
    ColumnDef("d8", "DOUBLE PRECISION"), ColumnDef("n", "NUMERIC"),
    ColumnDef("f", "BOOLEAN"), ColumnDef("dt", "DATE"),
    ColumnDef("ds", "DATE"), ColumnDef("ts", "TIMESTAMPTZ"),
    ColumnDef("tss", "TIMESTAMPTZ"), ColumnDef("j", "JSONB"),
    ColumnDef("raw", "JSONB"))

  private val schema = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("t", StringType), StructField("i", IntegerType),
    StructField("b", LongType), StructField("s", ShortType),
    StructField("d8", DoubleType), StructField("n", DecimalType(38, 18)),
    StructField("f", BooleanType), StructField("dt", DateType),
    // `Pipeline.run` writes dates/datetimes as canonical strings
    StructField("ds", StringType), StructField("ts", TimestampType),
    StructField("tss", StringType),
    StructField("j", ArrayType(StringType, containsNull = true)),
    StructField("raw", StringType)))

  private def dec(s: String) = new java.math.BigDecimal(s)
  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

  /** Row k takes the k-th value of every column list (all length 8). */
  private val columns: Seq[Seq[Any]] = Seq(
    Seq("plain", "tab\tnl\ncr\r", "back\\slash \\N", "quote\"'",
      "ctl\u0001\u001f\u007f", "unicode ‰ 😀", "", null),
    Seq(0, Int.MinValue, Int.MaxValue, -1, 42, null, 7, 1),
    Seq(0L, Long.MinValue, Long.MaxValue, -1L, null, 9007199254740993L, 2L, 3L),
    Seq(0.toShort, Short.MinValue, Short.MaxValue, null, (-1).toShort,
      5.toShort, 6.toShort, 7.toShort),
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0,
      0.1, 1.0e300, Double.MinPositiveValue, null),
    Seq(dec("12345678901234567890.123456789012345678"),
      dec("-0.000000000000000001"), dec("0"), dec("1000"),
      dec("-99999999999999999999.999999999999999999"), dec("0.1"), null,
      dec("7.5")),
    Seq(true, false, null, true, false, true, false, null),
    Seq(java.sql.Date.valueOf("1970-01-01"), java.sql.Date.valueOf("2024-02-29"),
      java.sql.Date.valueOf("1500-06-15"), java.sql.Date.valueOf("9999-12-31"),
      null, java.sql.Date.valueOf("0001-01-01"), java.sql.Date.valueOf("2000-01-01"),
      java.sql.Date.valueOf("1999-12-31")),
    Seq("2025-03-04", "1999-12-31", null, "2024-02-29", "1970-01-01",
      "2000-01-01", "2100-12-31", "1900-01-01"),
    Seq(ts("2024-02-29T23:59:59.123456Z"), ts("1970-01-01T00:00:00Z"),
      ts("1900-01-01T00:00:00Z"), ts("1000-01-01T12:00:00Z"), null,
      ts("2262-04-11T23:47:16.854775Z"), ts("2026-01-01T00:00:00.000001Z"),
      ts("1969-12-31T23:59:59.999999Z")),
    Seq("2025-03-04 05:06:07", "2025-03-04T05:06:07", null,
      "1999-12-31 23:59:59", "2024-02-29 00:00:00", "1970-01-01 00:00:00",
      "2000-06-15 12:30:45", "2100-01-01 00:00:00"),
    Seq(Seq("a", null, "q\"uote"), Seq(), Seq("tab\t", "nl\n", "\u0001"), null,
      Seq("back\\slash", "uni ‰ 😀"), Seq(null), Seq("'single'"), Seq("x")),
    Seq("""{"_id":1,"s":"x\"y"}""", """{"a":[1,null,{"b":"\t"}]}""", null,
      """{}""", """{"n":15.30}""", """{"u":"é"}""", """[]""", """{"z":null}"""))

  private def frame: DataFrame = {
    val rows = (0 until 8).map { k =>
      Row.fromSeq(k +: columns.map(_(k)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  /** The `cast(string)`/`to_json` rendering: stringify inside the plan,
    * then COPY each partition over its own connection.
    */
  private def referenceAppend(df: DataFrame, table: String): Unit = {
    val stringified = df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: ArrayType => to_json(col(f.name)).as(f.name)
        case _ => col(f.name).cast("string").as(f.name)
      }
    }.toSeq: _*)
    val colList = stringified.columns.map(c => "\"" + c + "\"").mkString(", ")
    val copySql = s"COPY $table ($colList) FROM STDIN"
    val cn = conn
    stringified.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val client = cn.open()
        try {
          val _ = client.copyIn(copySql, rows.map { r =>
            PgWireClient.encodeCopyRow((0 until r.length).map(r.getString))
          })
        } finally client.close()
      }
    }
  }

  private def asText(table: String): String =
    pgColumns.map(c => s"${c.name}::text").mkString(s"SELECT ", ", ", s" FROM $table")

  private def except(a: String, b: String): Seq[Seq[String]] = {
    val c = conn.open()
    try c.query(s"${asText(a)} EXCEPT ALL ${asText(b)}").rows
    finally c.close()
  }

  test("live: cast(string)/to_json and the DSv2 PgRowText rendering land identical rows") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val sink = new PgWireSink(conn)
    sink.createSchema("graft_r")
    val tables = Seq("graft_r.reference", "graft_r.dsv2", "graft_r.sink")
    tables.foreach { t =>
      sink.execute(s"DROP TABLE IF EXISTS $t")
      sink.createTable(t, pgColumns)
    }

    val df = frame
    referenceAppend(df, "graft_r.reference")
    df.write.format("graft.sources.PgWireSource")
      .option("host", conn.host).option("port", conn.port)
      .option("user", conn.user).option("database", conn.database)
      .option("table", "graft_r.dsv2").option("ledger", "false")
      .mode("append").save()
    sink.append(df, "graft_r.sink")

    val c = conn.open()
    try {
      tables.foreach { t =>
        assert(c.query(s"SELECT count(*) FROM $t").rows.head.head == "8", t)
      }
      // The edge values really landed as themselves, not as look-alikes.
      val edge = c.query(
        """SELECT d8::text, n::text, t FROM graft_r.reference
           WHERE k IN (0, 3) ORDER BY k""").rows
      assert(edge == Seq(
        Seq("NaN", "12345678901234567890.123456789012345678", "plain"),
        Seq("-0", "1000.000000000000000000", "quote\"'")))
      assert(c.query("SELECT j::text FROM graft_r.reference WHERE k = 0")
        .rows.head.head == """["a", null, "q\"uote"]""")
    } finally c.close()

    for (other <- Seq("graft_r.dsv2", "graft_r.sink")) {
      assert(except("graft_r.reference", other).isEmpty, s"reference EXCEPT $other")
      assert(except(other, "graft_r.reference").isEmpty, s"$other EXCEPT reference")
    }
  }
}
