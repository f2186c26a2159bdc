package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.etl.{ColumnDef, PgConn, PgWireSink}

/** DSv2 write path (`df.write.format(...).mode("append").save()`)
  * against the live scratch server: typed COPY text rendering, the
  * ledger-arbitrated exactly-once protocol a `batchId` turns on under
  * Spark's commit coordinator, claim/abort semantics, per-table claims,
  * the plain append without a `batchId`, and plan-time validation.
  */
class PgWireWriteSpec extends AnyFunSuite with SparkTestSession {

  private lazy val h = LivePostgres.get()
  private lazy val conn = PgConn(h.host, h.port, h.user, h.database)

  private def writer(df: org.apache.spark.sql.DataFrame) =
    df.write.format("graft.sources.PgWireSource")
      .option("host", h.host).option("port", h.port)
      .option("user", h.user).option("database", h.database)

  private def reader =
    spark.read.format("graft.sources.PgWireSource")
      .option("host", h.host).option("port", h.port)
      .option("user", h.user).option("database", h.database)

  private def rowCount(table: String): Long = {
    val c = conn.open()
    try c.query(s"SELECT count(*) FROM $table").rows.head.head.toLong
    finally c.close()
  }

  /** Rows in the ledger; 0 while no write has created it. */
  private def ledgerRows(): Long = {
    val c = conn.open()
    try {
      if (c.query("SELECT to_regclass('graft_meta.copy_ledger') IS NULL")
          .rows.head.head == "t") 0L
      else c.query("SELECT count(*) FROM graft_meta.copy_ledger")
        .rows.head.head.toLong
    } finally c.close()
  }

  test("live: typed round-trip through df.write → COPY → DSv2 read") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val sink = new PgWireSink(conn)
    sink.createSchema("graft_w")
    sink.execute("DROP TABLE IF EXISTS \"graft_w\".\"rt\"")
    sink.createTable("graft_w.rt", Seq(
      ColumnDef("id", "BIGINT", notNull = true),
      ColumnDef("txt", "TEXT"), ColumnDef("amt", "NUMERIC(12,3)"),
      ColumnDef("f8", "DOUBLE PRECISION"), ColumnDef("flag", "BOOLEAN"),
      ColumnDef("d", "DATE"), ColumnDef("ts", "TIMESTAMPTZ"),
      ColumnDef("raw", "BYTEA"), ColumnDef("tags", "JSONB")))

    import org.apache.spark.sql.functions._
    val df = spark.range(0, 1000, 1, 4).select(
      col("id"),
      // nulls every 7th row + COPY-hostile characters in the payload
      when(col("id") % 7 =!= 0,
        concat(lit("v\t\\x\n"), col("id"))).as("txt"),
      (col("id") * 1.5).cast("decimal(12,3)").as("amt"),
      (col("id") / 7.0).as("f8"),
      (col("id") % 2 === 0).as("flag"),
      date_add(lit("2024-01-01").cast("date"),
        (col("id") % 365).cast("int")).as("d"),
      // epoch 1709251199.5 = 2024-02-29T23:59:59.5Z; +id seconds
      (lit(1709251199.5) + col("id")).cast("timestamp").as("ts"),
      when(col("id") % 5 =!= 0, unhex(lit("DEADBEEF"))).as("raw"),
      array(col("id") % 3, col("id") % 5).as("tags"))

    writer(df).option("table", "graft_w.rt").mode("append").save()
    assert(rowCount("graft_w.rt") == 1000)

    val back = reader.option("table", "graft_w.rt").load()
    val r8 = back.filter("id = 8").collect().head
    assert(r8.getAs[String]("txt") == "v\t\\x\n8")
    assert(r8.getAs[java.math.BigDecimal]("amt") ==
      new java.math.BigDecimal("12.000"))
    assert(r8.getAs[Double]("f8") == 8 / 7.0)
    assert(r8.getAs[Boolean]("flag"))
    assert(r8.getAs[java.sql.Date]("d").toString == "2024-01-09")
    assert(r8.getAs[java.sql.Timestamp]("ts").toInstant.toString ==
      "2024-03-01T00:00:07.500Z") // UTC session; +8s over the .5 base
    assert(r8.getAs[Array[Byte]]("raw").toSeq ==
      Seq(0xDE, 0xAD, 0xBE, 0xEF).map(_.toByte))
    assert(r8.getAs[String]("tags") == "[2, 3]") // JSONB round-trip
    // null legs: every 7th txt, every 5th raw
    assert(back.filter("txt is null").count() == 143)
    assert(back.filter("raw is null").count() == 200)
  }

  test("live: ledger dedups a job re-run with the same batchId; new batchId appends") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val sink = new PgWireSink(conn)
    sink.createSchema("graft_w")
    sink.execute(
      """DROP TABLE IF EXISTS graft_w.eo;
         CREATE TABLE graft_w.eo (id BIGINT NOT NULL, v TEXT)""")

    import org.apache.spark.sql.functions._
    val df = spark.range(0, 1000, 1, 4)
      .select(col("id"), concat(lit("r"), col("id")).as("v"))

    // Same stable batchId twice = the job-re-run / redelivery case:
    // every partition's claim hits 23505 and no-ops before any data.
    writer(df).option("table", "graft_w.eo")
      .option("batchId", "w-batch-1").mode("append").save()
    writer(df).option("table", "graft_w.eo")
      .option("batchId", "w-batch-1").mode("append").save()
    assert(rowCount("graft_w.eo") == 1000)
    val c = conn.open()
    try assert(c.query(
      """SELECT count(*)::text, sum(n_rows)::text
         FROM graft_meta.copy_ledger WHERE batch_id = 'w-batch-1'""")
      .rows.head == Seq("4", "1000"))
    finally c.close()

    // A fresh batchId appends; a write without a batchId claims
    // nothing, so two of them append twice.
    writer(df).option("table", "graft_w.eo")
      .option("batchId", "w-batch-2").mode("append").save()
    assert(rowCount("graft_w.eo") == 2000)
    writer(df).option("table", "graft_w.eo").mode("append").save()
    writer(df).option("table", "graft_w.eo").mode("append").save()
    assert(rowCount("graft_w.eo") == 4000)
  }

  test("live: a pre-committed claim makes that partition's attempt no-op (post-commit task death window)") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val sink = new PgWireSink(conn)
    sink.createSchema("graft_w")
    sink.execute(
      """DROP TABLE IF EXISTS graft_w.claimed;
         CREATE TABLE graft_w.claimed (id BIGINT NOT NULL)""")
    // Simulate the window the commit coordinator cannot see: partition
    // 2's earlier attempt committed in Postgres (ledger row present)
    // but its task never reported success, so Spark re-runs it.
    val c = conn.open()
    try {
      val _ = c.query(
        """CREATE SCHEMA IF NOT EXISTS graft_meta;
           CREATE TABLE IF NOT EXISTS graft_meta.copy_ledger (
             batch_id TEXT NOT NULL, table_name TEXT NOT NULL,
             partition_id INT NOT NULL, n_rows BIGINT,
             committed_at TIMESTAMPTZ NOT NULL DEFAULT now(),
             PRIMARY KEY (batch_id, table_name, partition_id));
           INSERT INTO graft_meta.copy_ledger
             (batch_id, table_name, partition_id, n_rows)
           VALUES ('w-claim', 'graft_w.claimed', 2, 250)""")
    } finally c.close()

    val df = spark.range(0, 1000, 1, 4).toDF("id")
    writer(df).option("table", "graft_w.claimed")
      .option("batchId", "w-claim").mode("append").save()
    // partitions 0,1,3 landed; partition 2 deduped against the claim
    assert(rowCount("graft_w.claimed") == 750)
    assert(spark.range(0, 1000, 1, 4).toDF("id").rdd
      .mapPartitionsWithIndex((i, it) => if (i == 2) it else Iterator.empty)
      .count() == 250) // the withheld slice is exactly the claimed one
  }

  test("live: mid-write failure aborts that partition's transaction; same-batchId re-run converges") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val sink = new PgWireSink(conn)
    sink.createSchema("graft_w")
    sink.execute(
      """DROP TABLE IF EXISTS graft_w.aborted;
         CREATE TABLE graft_w.aborted (id BIGINT NOT NULL)""")

    import org.apache.spark.sql.functions._
    // A NOT NULL violation in ONE partition's COPY: the server rejects
    // at finish(), that partition's transaction (rows + ledger claim)
    // aborts, and the job fails. Sibling partitions commit
    // independently — the db-arbitrated contract is CONVERGENCE, not
    // all-or-nothing: a re-run with the same batchId no-ops the
    // committed partitions and lands only the missing one.
    val poisoned = spark.range(0, 1000, 1, 4)
      .select(when(col("id") =!= 500, col("id")).as("id"))
    val err = intercept[Exception] {
      writer(poisoned).option("table", "graft_w.aborted")
        .option("batchId", "w-abort").mode("append").save()
    }
    assert(err.getMessage != null)
    val c = conn.open()
    try {
      // The poisoned partition landed NOTHING (500 is in [500,750), so
      // that whole slice is absent) and holds no ledger claim.
      val landed = c.query(
        """SELECT count(*)::text,
                  count(*) FILTER (WHERE id >= 500 AND id < 750)::text
           FROM graft_w.aborted""").rows.head
      assert(landed(1) == "0", s"aborted slice must land nothing: $landed")
      assert(landed(0).toLong % 250 == 0, s"only whole slices commit: $landed")
      // Every surviving claim is a COMMITTED one (n_rows filled in).
      assert(c.query(
        """SELECT count(*) FROM graft_meta.copy_ledger
           WHERE batch_id = 'w-abort' AND n_rows IS NULL""")
        .rows.head.head == "0", "no half-open claim may survive the abort")
    } finally c.close()

    // The orchestrator re-runs the job with the same batchId and clean
    // data: committed partitions dedup against their claims, the
    // aborted one lands fresh — exactly 1000 distinct rows, no dupes.
    writer(spark.range(0, 1000, 1, 4).toDF("id"))
      .option("table", "graft_w.aborted")
      .option("batchId", "w-abort").mode("append").save()
    assert(rowCount("graft_w.aborted") == 1000)
    val c2 = conn.open()
    try assert(c2.query("SELECT count(DISTINCT id) FROM graft_w.aborted")
      .rows.head.head == "1000")
    finally c2.close()
  }

  test("live: one batchId claims per table — a second table under it lands every row") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val sink = new PgWireSink(conn)
    sink.createSchema("graft_w")
    sink.execute(
      """DROP TABLE IF EXISTS graft_w.t1; DROP TABLE IF EXISTS graft_w.t2;
         CREATE TABLE graft_w.t1 (id BIGINT NOT NULL);
         CREATE TABLE graft_w.t2 (id BIGINT NOT NULL)""")
    val df = spark.range(0, 1000, 1, 4).toDF("id")
    sink.appendExactlyOnce(df, "graft_w.t1", "w-two-tables")
    sink.appendExactlyOnce(df, "graft_w.t2", "w-two-tables")
    assert(rowCount("graft_w.t1") == 1000)
    assert(rowCount("graft_w.t2") == 1000)
    // ...and each table still dedups its own re-run.
    sink.appendExactlyOnce(df, "graft_w.t2", "w-two-tables")
    assert(rowCount("graft_w.t2") == 1000)
    val c = conn.open()
    try assert(c.query(
      """SELECT table_name, sum(n_rows)::text FROM graft_meta.copy_ledger
         WHERE batch_id = 'w-two-tables' GROUP BY table_name
         ORDER BY table_name""").rows ==
      Seq(Seq("graft_w.t1", "1000"), Seq("graft_w.t2", "1000")))
    finally c.close()
  }

  test("live: mode(overwrite) and writeStream into PgWireSource fail at analysis") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val sink = new PgWireSink(conn)
    sink.createSchema("graft_w")
    sink.execute(
      """DROP TABLE IF EXISTS graft_w.modes;
         CREATE TABLE graft_w.modes (id BIGINT NOT NULL)""")
    val df = spark.range(0, 100, 1, 2).toDF("id")
    val overwrite = intercept[org.apache.spark.sql.AnalysisException] {
      writer(df).option("table", "graft_w.modes").mode("overwrite").save()
    }
    assert(overwrite.getMessage.contains("truncate"), overwrite.getMessage)

    val root = java.nio.file.Files.createTempDirectory("graft-pg-dsv2-stream")
    df.write.parquet(root.resolve("src").toString)
    val streaming = intercept[Exception] {
      spark.readStream.schema(df.schema).parquet(root.resolve("src").toString)
        .writeStream.format("graft.sources.PgWireSource")
        .option("host", h.host).option("port", h.port)
        .option("user", h.user).option("database", h.database)
        .option("table", "graft_w.modes")
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .start()
    }
    assert(streaming.getMessage.contains("streamed writing"),
      streaming.getMessage)
    assert(rowCount("graft_w.modes") == 0)
  }

  test("live: a write without a batchId is the plain transactional append and claims no ledger slot; bad types fail at plan time") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val sink = new PgWireSink(conn)
    sink.createSchema("graft_w")
    sink.execute(
      """DROP TABLE IF EXISTS graft_w.plain;
         CREATE TABLE graft_w.plain (id BIGINT NOT NULL)""")
    val df = spark.range(0, 100, 1, 2).toDF("id")
    val claimsBefore = ledgerRows()
    writer(df).option("table", "graft_w.plain").mode("append").save()
    sink.append(df, "graft_w.plain")
    assert(rowCount("graft_w.plain") == 200) // no dedup without a batchId
    assert(ledgerRows() == claimsBefore)

    // Nested types are rejected before any connection is opened.
    import org.apache.spark.sql.functions._
    val nested = df.select(struct(col("id")).as("s"))
    val err = intercept[Exception] {
      writer(nested).option("table", "graft_w.plain").mode("append").save()
    }
    assert(err.getMessage.contains("COPY text"), err.getMessage)
  }
}
