package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.etl.{ColumnDef, CrashOnceSink, Landing, PgConn, PgWireSink, SchemaManager}

/** Live-server round trip for the wire-protocol plane (round-14 verdict
  * carried item #1, Postgres half): boots a real scratch PostgreSQL 15
  * cluster (the container ships the server binaries since round 15;
  * still no JDBC driver jar, hence [[PgWireClient]]), then drives the
  * exact surfaces the q312 gate uses — K2 DDL against the real grammar,
  * partition-parallel COPY IN, simple-query and COPY OUT read-back —
  * and checks values, not just row counts.
  *
  * `assume` (not `assert`) on binary availability: an environment
  * without Postgres cancels this suite loudly; the q312 GATE still
  * fails red in Verify there, which is the honest signal for the
  * driver-run correctness file.
  */
class PgLiveRoundTripSpec extends AnyFunSuite with SparkTestSession {

  private lazy val conn: PgConn = {
    val h = LivePostgres.get()
    PgConn(h.host, h.port, h.user, h.database)
  }

  test("copy text codec round-trips gnarly values (no server)") {
    val rows: Seq[Seq[String]] = Seq(
      Seq("plain", null, ""),
      Seq("tab\there", "new\nline", "cr\rreturn"),
      Seq("back\\slash", "\\N", "mix\t\\\n"),
      Seq("unicode ‰∂é√º", "emoji 😀", "quote\"'"))
    rows.foreach { r =>
      val decoded = PgWireClient.decodeCopyRow(PgWireClient.encodeCopyRow(r))
      assert(decoded.toSeq == r, s"codec mismatch for $r")
    }
  }

  test("live: DDL + COPY IN + query/COPY OUT round-trip values exactly") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val sink = new PgWireSink(conn)
    sink.createSchema("graft_t")
    sink.execute("DROP TABLE IF EXISTS \"graft_t\".\"rt\"")
    sink.createTable("graft_t.rt", Seq(
      ColumnDef("id", "INTEGER", notNull = true),
      ColumnDef("txt", "TEXT"),
      ColumnDef("amt", "NUMERIC"),
      ColumnDef("flag", "BOOLEAN"),
      ColumnDef("d", "DATE"),
      ColumnDef("ts", "TIMESTAMPTZ"),
      ColumnDef("doc", "JSONB")))
    assert(sink.tableExists("graft_t.rt"))
    assert(!sink.tableExists("graft_t.nope"))

    val client = conn.open()
    try {
      val gnarly = "line1\nline2\ttabbed \\backslash \"quoted\" ünïcode"
      val n = client.copyIn(
        "COPY \"graft_t\".\"rt\" (id, txt, amt, flag, d, ts, doc) FROM STDIN",
        Iterator(
          PgWireClient.encodeCopyRow(Seq(
            "1", gnarly, "12345.6789", "true", "2024-02-29",
            "2024-02-29T23:59:59", """{"k":1,"s":"v"}""")),
          PgWireClient.encodeCopyRow(Seq(
            "2", null, null, "false", null, null, """{"arr":[1,2,3]}"""))))
      assert(n == 2)

      // Simple-query read-back: typed values through PG's input+output
      // functions, timestamptz pinned to UTC by the server config.
      val r = client.query(
        """SELECT id, txt, amt::text, flag,
                  to_char(d, 'YYYY-MM-DD'),
                  to_char(ts AT TIME ZONE 'UTC', 'YYYY-MM-DD"T"HH24:MI:SS'),
                  doc->>'k', jsonb_array_length(doc->'arr')
           FROM graft_t.rt ORDER BY id""")
      assert(r.rows.size == 2)
      assert(r.rows(0) == Seq("1", gnarly, "12345.6789", "t", "2024-02-29",
        "2024-02-29T23:59:59", "1", null))
      assert(r.rows(1) == Seq("2", null, null, "f", null, null, null, "3"))

      // COPY OUT leg: same rows, text escaping decoded by the client.
      val lines = client.copyOutIterator(
        "COPY (SELECT id, txt FROM graft_t.rt ORDER BY id) TO STDOUT").toVector
      assert(lines.size == 2)
      val row0 = PgWireClient.decodeCopyRow(lines(0))
      assert(row0(0) == "1" && row0(1) == gnarly)
      assert(PgWireClient.decodeCopyRow(lines(1))(1) == null)

      // Server-side errors surface as exceptions with the PG message.
      val err = intercept[PgWireClient.PgServerException](
        client.query("SELECT no_such_column FROM graft_t.rt"))
      assert(err.getMessage.contains("no_such_column"))
      // ...and the connection survives for the next query.
      assert(client.query("SELECT 41 + 1").rows == Seq(Seq("42")))
    } finally client.close()
  }

  test("live: partition-parallel sink append + partitioned COPY read-back") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val sink = new PgWireSink(conn)
    sink.createSchema("graft_t")
    sink.execute("DROP TABLE IF EXISTS \"graft_t\".\"bulk\"")
    sink.createTable("graft_t.bulk", Seq(
      ColumnDef("id", "BIGINT", notNull = true),
      ColumnDef("val", "TEXT"),
      ColumnDef("tags", "JSONB")))

    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 10000, 1, 4)
      .select(col("id"),
        concat(lit("v\t"), col("id"), lit("\\x")).as("val"),
        array(col("id") % 3, col("id") % 5).as("tags"))
    sink.append(df, "graft_t.bulk")

    // Partitioned read-back through the DSv2 scan: 4 disjoint id-range
    // slices reassemble the table; values (including the tab/backslash
    // payload and the JSONB array) survive both directions.
    val back = spark.read.format("graft.sources.PgWireSource")
      .option("host", conn.host).option("port", conn.port)
      .option("user", conn.user).option("database", conn.database)
      .option("table", "graft_t.bulk")
      .option("partitionColumn", "id").option("numPartitions", "4")
      .load()
    assert(back.rdd.getNumPartitions == 4)
    val got = back.select(col("id"), col("val"),
      get_json_object(col("tags"), "$[1]").cast("long"))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got.length == 10000)
    assert(got(7) == ((7L, "v\t7\\x", 2L)))
    assert(got(9999) == ((9999L, "v\t9999\\x", 4L)))

    // Count through a driver-side simple query as the cross-check.
    val client = conn.open()
    try assert(client.query("SELECT count(*) FROM graft_t.bulk")
      .rows.head.head == "10000")
    finally client.close()
  }

  test("live: exactly-once append — duplicate batch no-ops, claims arbitrate, aborted claim retries clean") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val sink = new PgWireSink(conn)
    sink.createSchema("graft_t")
    sink.execute(
      """CREATE SCHEMA IF NOT EXISTS graft_meta;
         DROP TABLE IF EXISTS graft_meta.copy_ledger;
         DROP TABLE IF EXISTS graft_t.eo""")
    sink.createTable("graft_t.eo", Seq(
      ColumnDef("id", "BIGINT", notNull = true),
      ColumnDef("v", "TEXT")))

    import org.apache.spark.sql.functions._
    val df = spark.range(0, 1000, 1, 4)
      .select(col("id"), concat(lit("r"), col("id")).as("v"))

    // Redelivery of the SAME batch id (the foreachBatch replay case):
    // second call is a per-partition no-op.
    sink.appendCollection(Landing.auditOnly(df), None, "graft_t.eo", Some("batch-1"))
    sink.appendCollection(Landing.auditOnly(df), None, "graft_t.eo", Some("batch-1"))
    val c = conn.open()
    try {
      assert(c.query("SELECT count(*) FROM graft_t.eo").rows.head.head == "1000")
      assert(c.query(
        """SELECT count(*)::text, sum(n_rows)::text
           FROM graft_meta.copy_ledger WHERE batch_id = 'batch-1'""")
        .rows.head == Seq("4", "1000"))
    } finally c.close()

    // A NEW batch id appends again — idempotence is per batch, not global.
    sink.appendCollection(Landing.auditOnly(df), None, "graft_t.eo", Some("batch-2"))

    // Concurrent claim arbitration at the wire level (the speculation
    // interleaving): B's claim blocks on A's uncommitted ledger row,
    // then resolves to 23505 when A commits.
    val a = conn.open()
    val _ = a.query("""BEGIN;
      INSERT INTO graft_meta.copy_ledger (batch_id, table_name, partition_id)
      VALUES ('batch-race', 'graft_t.eo', 0)""")
    @volatile var bState: String = "did-not-run"
    val t = new Thread(() => {
      val b = conn.open()
      try {
        try {
          val _ = b.query("""BEGIN;
            INSERT INTO graft_meta.copy_ledger (batch_id, table_name, partition_id)
            VALUES ('batch-race', 'graft_t.eo', 0)""")
          bState = "claimed"
        } catch {
          case e: PgWireClient.PgServerException =>
            bState = e.sqlState
        }
        val _2 = b.query("ROLLBACK")
      } finally b.close()
    })
    t.start()
    Thread.sleep(300) // let B reach the row lock
    val _2 = a.query("COMMIT")
    t.join(10000)
    a.close()
    assert(bState == "23505", s"expected the duplicate claim to lose, got: $bState")

    // A claim whose task dies before commit (connection drop) leaves NO
    // ledger row — the retry runs clean and lands the partition.
    val dying = conn.open()
    val _3 = dying.query("""BEGIN;
      INSERT INTO graft_meta.copy_ledger (batch_id, table_name, partition_id)
      VALUES ('batch-4', 'graft_t.eo', 0)""")
    dying.close() // task death mid-transaction: server aborts it
    val c2 = conn.open()
    try assert(c2.query(
      "SELECT count(*) FROM graft_meta.copy_ledger WHERE batch_id = 'batch-4'")
      .rows.head.head == "0")
    finally c2.close()
    sink.appendCollection(Landing.auditOnly(df), None, "graft_t.eo", Some("batch-4"))

    val c3 = conn.open()
    try assert(c3.query("SELECT count(*) FROM graft_t.eo").rows.head.head == "3000")
    finally c3.close()

    // Retention: vacuum past the horizon drops the ledger rows (and a
    // missing ledger table vacuums to zero, not an error).
    assert(sink.vacuumLedger(0) >= 9) // 4+4 batch partitions + batch-4
    assert(sink.vacuumLedger(0) == 0)
    sink.execute("DROP TABLE graft_meta.copy_ledger")
    assert(sink.vacuumLedger(7) == 0)
  }

  test("live: streaming foreachBatch + epoch id = exactly-once through a batch replay") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val sink = new PgWireSink(conn)
    sink.createSchema("graft_t")
    sink.execute(
      """CREATE SCHEMA IF NOT EXISTS graft_meta;
         DROP TABLE IF EXISTS graft_meta.copy_ledger;
         DROP TABLE IF EXISTS graft_t.eo_stream""")
    sink.createTable("graft_t.eo_stream", Seq(
      ColumnDef("id", "BIGINT", notNull = true),
      ColumnDef("v", "TEXT")))

    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-pg-stream")
    val srcDir = root.resolve("src").toString
    val ckpt = root.resolve("ckpt").toString
    // Two files → two micro-batches under maxFilesPerTrigger=1.
    spark.range(0, 500, 1, 2).select(col("id"), concat(lit("a"), col("id")).as("v"))
      .write.parquet(s"$srcDir/f0")
    spark.range(500, 1000, 1, 2).select(col("id"), concat(lit("b"), col("id")).as("v"))
      .write.parquet(s"$srcDir/f1")

    val schema = spark.read.parquet(s"$srcDir/f0").schema
    @volatile var injected = false
    def run(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$srcDir/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          sink.appendCollection(
            Landing.auditOnly(batch), None, "graft_t.eo_stream", Some(s"ep-$id"))
          // Die AFTER the sink committed but BEFORE Spark records the
          // batch as complete — the exact window where a plain append
          // double-writes on restart.
          if (id == 0 && !injected) {
            injected = true
            throw new RuntimeException("injected post-commit crash")
          }
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }

    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(failed.getMessage.contains("injected post-commit crash"))
    run() // restart from the checkpoint: batch 0 is REPLAYED with id 0

    val c = conn.open()
    try {
      // 1000 rows exactly — the replayed epoch-0 COPY no-opped.
      assert(c.query("SELECT count(*) FROM graft_t.eo_stream").rows.head.head == "1000")
      assert(c.query(
        "SELECT count(DISTINCT id) FROM graft_t.eo_stream").rows.head.head == "1000")
      // Ledger: every committed (epoch, partition) is unique by PK; the
      // n_rows total equals the landed rows (epoch/file-split boundaries
      // are the source's business — one part file per micro-batch here),
      // and the replayed epoch 0 is present exactly as one commit set.
      assert(c.query(
        """SELECT sum(n_rows)::text FROM graft_meta.copy_ledger
           WHERE batch_id LIKE 'ep-%'""").rows.head.head == "1000")
      assert(c.query(
        """SELECT count(*) FROM graft_meta.copy_ledger
           WHERE batch_id = 'ep-0'""").rows.head.head.toInt >= 1)
    } finally c.close()
  }

  test("live: md5 and cleartext auth legs, and a COPY rejected mid-statement") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val h = LivePostgres.get()

    // Roles for the three password auth methods. PG15 defaults to
    // scram-sha-256, so pin md5 for the md5 role's stored verifier; the
    // scram role takes the default (its verifier is a real
    // SCRAM-SHA-256 one, salt + 4096 iterations).
    val admin = conn.open()
    try {
      val _ = admin.query(
        """SET password_encryption = 'md5';
           DROP ROLE IF EXISTS graft_md5; DROP ROLE IF EXISTS graft_clear;
           DROP ROLE IF EXISTS graft_scram;
           CREATE ROLE graft_md5 LOGIN PASSWORD 'pw-md5';
           SET password_encryption = 'scram-sha-256';
           CREATE ROLE graft_clear LOGIN PASSWORD 'pw-clear';
           CREATE ROLE graft_scram LOGIN PASSWORD 'pw-scram'""")
    } finally admin.close()

    // hba is first-match: our method lines must precede the blanket
    // trust entries. The JVM runs as root (or as the cluster owner), so
    // prepending and reloading is direct.
    val hba = h.baseDir.resolve("data/pg_hba.conf")
    val orig = java.nio.file.Files.readString(hba)
    java.nio.file.Files.writeString(hba,
      "host all graft_md5 127.0.0.1/32 md5\n" +
        "host all graft_clear 127.0.0.1/32 password\n" +
        "host all graft_scram 127.0.0.1/32 scram-sha-256\n" + orig)
    val reload = conn.open()
    try { val _ = reload.query("SELECT pg_reload_conf()") }
    finally reload.close()

    try {
      // md5 leg: AuthenticationMD5Password → md5(md5(pw+user)+salt)
      val m = PgWireClient.connect(h.host, h.port, "graft_md5", h.database,
        password = "pw-md5")
      try assert(m.query("SELECT current_user").rows == Seq(Seq("graft_md5")))
      finally m.close()
      // cleartext leg: AuthenticationCleartextPassword
      val c = PgWireClient.connect(h.host, h.port, "graft_clear", h.database,
        password = "pw-clear")
      try assert(c.query("SELECT current_user").rows == Seq(Seq("graft_clear")))
      finally c.close()
      // SCRAM-SHA-256 leg: AuthenticationSASL → initial response →
      // SASLContinue (salt+iterations from the stored verifier) →
      // proof → SASLFinal (server signature verified client-side).
      val sc = PgWireClient.connect(h.host, h.port, "graft_scram", h.database,
        password = "pw-scram")
      try assert(sc.query("SELECT current_user").rows == Seq(Seq("graft_scram")))
      finally sc.close()
      // a wrong password fails loudly with the server's message — on
      // the md5 leg and on the SCRAM leg (where it arrives as an
      // ErrorResponse AFTER the proof, not a signature mismatch)
      val bad = intercept[PgWireClient.PgServerException](
        PgWireClient.connect(h.host, h.port, "graft_md5", h.database,
          password = "nope"))
      assert(bad.getMessage.toLowerCase.contains("password"))
      val badScram = intercept[PgWireClient.PgServerException](
        PgWireClient.connect(h.host, h.port, "graft_scram", h.database,
          password = "nope"))
      assert(badScram.getMessage.toLowerCase.contains("password"))
    } finally {
      java.nio.file.Files.writeString(hba, orig) // restore trust-only hba
      val r = conn.open()
      try { val _ = r.query("SELECT pg_reload_conf()") }
      finally r.close()
    }

    // COPY rejected mid-statement (NOT NULL violation at a late row):
    // the statement's implicit transaction rolls back — NOTHING lands —
    // the error surfaces with the server's message, and the connection
    // survives for the next statement (the task-retry contract
    // PgWireSink documents).
    val client = conn.open()
    try {
      val _ = client.query(
        """CREATE SCHEMA IF NOT EXISTS graft_t;
           DROP TABLE IF EXISTS graft_t.strict;
           CREATE TABLE graft_t.strict (id INT NOT NULL, v TEXT)""")
      val rows = (1 to 1000).map(i => s"$i\tok") :+ "\\N\tboom"
      val err = intercept[PgWireClient.PgServerException](
        client.copyIn("COPY graft_t.strict (id, v) FROM STDIN", rows.iterator))
      assert(err.getMessage.contains("null value"), err.getMessage)
      assert(client.query("SELECT count(*) FROM graft_t.strict")
        .rows.head.head == "0", "failed COPY must land nothing")
      assert(client.query("SELECT 1").rows == Seq(Seq("1")))
    } finally client.close()
  }

  test("live: full Pipeline.run against Postgres — planning, targets, audit, reports") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    import java.nio.file.Files
    import scala.collection.immutable.ListMap
    import org.apache.spark.sql.functions._
    import graft.etl._

    // Condensed PipelineSpec golden fixture, executed against the REAL
    // database: T11 object-status classification probes live
    // information_schema, K2 auto-creates through the real grammar,
    // every plane lands via partition-parallel COPY.
    val sink = new PgWireSink(conn)
    Seq("public.customers", "doc_audit.ingestion_audit",
      "doc_audit.missing_collections_report",
      "doc_audit.missing_attributes_report", "public.legacy_t")
      .foreach { t =>
        val Array(s0, t0) = t.split("\\.")
        sink.execute(s"DROP TABLE IF EXISTS \"$s0\".\"$t0\"")
      }
    // legacy_t exists in schema.sql but NOT in the database → MISSING.
    val schemaSql = Files.createTempFile("graft-live-schema", ".sql")
    Files.writeString(schemaSql,
      "CREATE TABLE IF NOT EXISTS public.legacy_t (x TEXT);\n")
    val app = EtlDefaults.appConfig.copy(
      runtime = EtlDefaults.runtime.copy(schemaPath = schemaSql.toString))
    val mapping = MappingConfig(ListMap("customers" -> CollectionMapping(
      "public.customers", "raw_json", "customer_id", ListMap(
        "customer_id" -> AttributeMapping("customer_id", "integer"),
        "name" -> AttributeMapping("name", "text"),
        "signup_date" -> AttributeMapping("signup_date", "date"),
        "email" -> AttributeMapping("email", "text")))))
    val envelope =
      """{"customers": [
        |  {"customer_id": 1, "name": "Ada", "signup_date": "03/04/2025", "email": "a@x"},
        |  {"customer_id": 2, "name": "Bob", "signup_date": "bad-date"},
        |  {"customer_id": 3, "name": null, "signup_date": "2025-01-15", "email": "c@x"}
        |]}""".stripMargin
    val inputPath = Files.createTempFile("graft-live-input", ".json")
    Files.writeString(inputPath, envelope)

    val result = Pipeline.run(
      spark, Ingestion.loadEnvelope(spark, inputPath.toString),
      app, mapping, sink,
      clock = lit("2026-02-03 04:05:06").cast("timestamp"),
      ingestionDate = "2026-02-03")
    assert(result.objectStatuses == Map(
      "public.legacy_t" -> "MISSING", "public.customers" -> "NEW"))

    val client = conn.open()
    try {
      // Target golden read back from the LIVE table (typed by the real
      // DDL): date canonicalized, cast failure → NULL + error status,
      // JSON null passthrough, raw doc queryable as JSONB.
      val t = client.query(
        """SELECT customer_id, name, to_char(signup_date,'YYYY-MM-DD'),
                  email, status, raw_json->>'name'
           FROM public.customers ORDER BY customer_id""")
      assert(t.rows == Seq(
        Seq("1", "Ada", "2025-03-04", "a@x", "success", "Ada"),
        Seq("2", "Bob", null, null, "error", "Bob"),
        Seq("3", null, "2025-01-15", "c@x", "success", null)))

      // Audit golden: 3 doc rows + 1 missing-table row, JSONB arrays.
      val a = client.query(
        """SELECT object_id, processing_status, missing_columns::text
           FROM doc_audit.ingestion_audit
           ORDER BY object_id NULLS LAST""")
      assert(a.rows.map(_.take(2)) == Seq(
        Seq("1", "success"), Seq("2", "error"), Seq("3", "success"),
        Seq(null, "missing")))
      assert(a.rows(1)(2) == """["email"]""")

      // Report tables (K5) landed live.
      assert(client.query(
        "SELECT count(*) FROM doc_audit.missing_collections_report")
        .rows.head.head == "2") // legacy_t MISSING + customers NEW
      assert(client.query(
        """SELECT missing_columns::text
           FROM doc_audit.missing_attributes_report
           WHERE object_name = 'public.customers'""")
        .rows.head.head == """["email"]""")
    } finally client.close()

    // The observed report equals the old derivation over the LIVE rows.
    def landed(table: String) = spark.read.format(classOf[PgWireSource].getName)
      .option("host", conn.host).option("port", conn.port.toLong)
      .option("user", conn.user).option("database", conn.database)
      .option("table", table).load()
    val audit = landed("doc_audit.ingestion_audit")
    val reference = ReportReference.counters(audit, Seq("customers"))
    assert(ReportReference.observed(result) == reference)
    assert(reference == Seq(("customers", 3L, 1L, 0L, 2L)))
    assert(ReportReference.report(landed("doc_audit.missing_attributes_report")) ==
      ReportReference.missingAttributes(audit))
  }

  test("live: StreamingEtl replays an epoch that crashed after its commit without landing a row twice") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    import java.nio.file.Files
    import scala.collection.immutable.ListMap
    import org.apache.spark.sql.streaming.StreamingQueryException
    import graft.etl._
    import graft.streaming.StreamingEtl

    val sink = new PgWireSink(conn)
    sink.execute("""DROP SCHEMA IF EXISTS graft_se CASCADE; DROP SCHEMA IF EXISTS graft_se_audit CASCADE;
      CREATE SCHEMA IF NOT EXISTS graft_meta; DROP TABLE IF EXISTS graft_meta.copy_ledger""")
    val audit = EtlDefaults.audit.copy(
      auditSchema = "graft_se_audit", auditTable = "graft_se_audit.ingestion_audit")
    val cm = CollectionMapping("graft_se.people", "raw_json", "person_id", ListMap(
      "person_id" -> AttributeMapping("person_id", "integer"),
      "name" -> AttributeMapping("name", "text")))
    val _ = sink.prepare(Seq(cm.targetTable), Seq(
      cm.targetTable -> SchemaManager.buildTableColumns(cm, EtlDefaults.runtime.typeMappings,
        audit.businessColumns.toSeq, audit.businessColumnTypes),
      audit.auditTable -> SchemaManager.buildAuditTableColumns(audit)))

    val staging = Files.createTempDirectory("graft-pg-se-staging")
    Seq(1 to 12, 13 to 25).zipWithIndex.foreach { case (ids, i) =>
      Files.writeString(staging.resolve(s"part-$i.jsonl"),
        ids.map(id => s"""{"person_id": $id, "name": "p$id"}""").mkString("", "\n", "\n"))
    }
    val checkpoint = Files.createTempDirectory("graft-pg-se-ckpt").toString
    // the first run crashes right after epoch 0 committed in Postgres,
    // before Spark commits it in the checkpoint
    val crashing = new CrashOnceSink(sink, (_, batch) => batch.forall(_.endsWith("/0")))
    def run(through: TableSink) = StreamingEtl.run(spark, staging.toString, checkpoint,
      "people", cm, EtlDefaults.runtime, audit, through)

    val first = run(crashing)
    val failed = intercept[StreamingQueryException](first.awaitTermination(60000))
    assert(failed.getMessage.contains("injected post-commit crash"))
    val restarted = run(sink) // epoch 0 is replayed under the same query id
    assert(restarted.awaitTermination(60000))
    assert(restarted.exception.isEmpty)
    assert(restarted.id == first.id)

    val c = conn.open()
    try {
      assert(c.query(
        """SELECT (SELECT count(*) FROM graft_se.people),
                  (SELECT count(DISTINCT person_id) FROM graft_se.people),
                  (SELECT count(*) FROM graft_se_audit.ingestion_audit),
                  (SELECT count(DISTINCT object_id) FROM graft_se_audit.ingestion_audit)""")
        .rows.head == Seq("25", "25", "25", "25"))
      assert(c.query(
        """SELECT DISTINCT batch_id FROM graft_meta.copy_ledger
           WHERE table_name IN ('graft_se.people', 'graft_se_audit.ingestion_audit')""")
        .rows == Seq(Seq(s"${first.id}/0")))
    } finally c.close()
  }

  /** The one-pass landing fixture: collections `customers` and `orders`
    * of 20 documents each, in four partitions of five, mapped into
    * schema `ns`; `ns.ghost` is declared in schema.sql and absent from
    * the input (one MISSING audit row); audit tables under `ns_audit`.
    * Both schemas are dropped first.
    */
  private final class LandingFixture(ns: String) {
    import java.nio.file.Files
    import scala.collection.immutable.ListMap
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.etl._

    val sink = new PgWireSink(conn)
    sink.execute(s"DROP SCHEMA IF EXISTS $ns CASCADE; DROP SCHEMA IF EXISTS ${ns}_audit CASCADE")
    val audit = EtlDefaults.audit.copy(
      auditSchema = s"${ns}_audit", auditTable = s"${ns}_audit.ingestion_audit")
    private val schemaSql = Files.createTempFile("graft-landing-schema", ".sql")
    Files.writeString(schemaSql, s"CREATE TABLE IF NOT EXISTS $ns.ghost (x TEXT);\n")
    private val app = EtlDefaults.appConfig.copy(audit = audit,
      runtime = EtlDefaults.runtime.copy(schemaPath = schemaSql.toString))
    private val mapping = MappingConfig(ListMap(
      "customers" -> CollectionMapping(s"$ns.customers", "raw_json", "customer_id", ListMap(
        "customer_id" -> AttributeMapping("customer_id", "integer"),
        "name" -> AttributeMapping("name", "text"))),
      "orders" -> CollectionMapping(s"$ns.orders", "raw_json", "order_id", ListMap(
        "order_id" -> AttributeMapping("order_id", "integer"),
        "amount" -> AttributeMapping("amount", "numeric")))))

    def input(): ListMap[String, DataFrame] = {
      import spark.implicits._
      def docs(json: Seq[String]) = spark.sparkContext.parallelize(json, 4).toDF("raw")
      ListMap(
        "customers" -> docs((1 to 20).map(i => s"""{"customer_id": $i, "name": "c$i"}""")),
        "orders" -> docs((101 to 120).map(i => s"""{"order_id": $i, "amount": ${i % 7}}""")))
    }

    def run(in: ListMap[String, DataFrame] = input(),
        runKey: Option[String] = None, through: TableSink = sink): Pipeline.PipelineResult =
      Pipeline.run(spark, in, app, mapping, through,
        clock = lit("2026-02-03 04:05:06").cast("timestamp"),
        ingestionDate = "2026-02-03", runKey = runKey)

    /** One statement, so one snapshot: each value is a `count(*)`. */
    def counts(queries: String*): Seq[Long] = {
      val c = conn.open()
      try c.query(queries.map(q => s"(SELECT count(*) FROM $q)").mkString("SELECT ", ", ", ""))
        .rows.head.map(_.toLong)
      finally c.close()
    }

    def landed(): Seq[Long] =
      counts(s"$ns.customers", s"$ns.orders", audit.auditTable)

    def reported(): Seq[Long] =
      counts(s"${audit.auditSchema}.missing_collections_report",
        s"${audit.auditSchema}.missing_attributes_report")
  }

  test("live: prepare answers the probe as it was before the call and creates only missing tables") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val sink = new PgWireSink(conn)
    sink.execute("""DROP SCHEMA IF EXISTS graft_prep CASCADE; DROP SCHEMA IF EXISTS graft_prep2 CASCADE;
      CREATE SCHEMA graft_prep; CREATE TABLE graft_prep.old (x TEXT)""")
    val text = Seq(ColumnDef("x", "TEXT"))
    val create = Seq("graft_prep.old" -> Seq(ColumnDef("y", "INT")),
      "graft_prep.fresh" -> text, "graft_prep2.t" -> text)
    assert(sink.prepare(Seq("graft_prep.old", "graft_prep.fresh", "graft_prep.none"), create) ==
      Set("graft_prep.old"))
    val c = conn.open()
    try assert(c.query(
      """SELECT table_schema || '.' || table_name || '.' || column_name
         FROM information_schema.columns WHERE table_schema LIKE 'graft_prep%'
         ORDER BY 1""").rows.map(_.head) ==
      Seq("graft_prep.fresh.x", "graft_prep.old.x", "graft_prep2.t.x"))
    finally c.close()
    assert(sink.prepare(Seq("graft_prep.fresh", "graft_prep2.t"), create) ==
      Set("graft_prep.fresh", "graft_prep2.t"))
  }

  test("live: Pipeline.run twice under one run key lands each target and audit row once") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val f = new LandingFixture("graft_eo")
    val key = s"run-${System.nanoTime}"
    f.run(runKey = Some(key))
    assert(f.landed() == Seq(20L, 20L, 41L))
    assert(f.reported() == Seq(3L, 0L))
    f.run(runKey = Some(key))
    assert(f.landed() == Seq(20L, 20L, 41L))
    assert(f.reported() == Seq(3L, 0L))
    // a new key is a new batch
    f.run(runKey = Some(s"$key-2"))
    assert(f.landed() == Seq(40L, 40L, 82L))
    assert(f.reported() == Seq(6L, 0L))
  }

  test("live: a run that dies after a collection landed converges when re-run under its run key") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val f = new LandingFixture("graft_rekey")
    val key = s"run-${System.nanoTime}"
    val crashing = new CrashOnceSink(f.sink, (target, _) => target.contains("graft_rekey.orders"))
    val err = intercept[RuntimeException](f.run(runKey = Some(key), through = crashing))
    assert(err.getMessage == "injected post-commit crash")
    assert(f.reported() == Seq(0L, 0L))
    f.run(runKey = Some(key))
    assert(f.landed() == Seq(20L, 20L, 41L))
    assert(f.reported() == Seq(3L, 0L))
  }

  test("live: a partition whose audit row the database rejects lands neither its target nor its audit rows") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    val f = new LandingFixture("graft_atomic")
    f.sink.createSchema(f.audit.auditSchema)
    f.sink.createTable(f.audit.auditTable, SchemaManager.buildAuditTableColumns(f.audit))
    f.sink.execute(s"ALTER TABLE ${f.audit.auditTable} " +
      "ADD CONSTRAINT no_seven CHECK (object_id <> '7')")
    val err = intercept[Exception](f.run())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("no_seven")), err)
    // customer 7's partition holds customers 6-10
    val Seq(target, audited, seven) = f.counts("graft_atomic.customers",
      s"${f.audit.auditTable} WHERE source_collection = 'customers'",
      "graft_atomic.customers WHERE customer_id BETWEEN 6 AND 10")
    assert(target == audited && seven == 0, (target, audited, seven))
  }

  test("live: Pipeline.run lands each mapped collection in one job and stores no RDD block") {
    assume(LivePostgres.available, "postgres server binaries not installed")
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart}
    val f = new LandingFixture("graft_receipt")
    val input = f.input()
    val jobs = new AtomicInteger
    val blocks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        if (e.blockUpdatedInfo.blockId.isRDD && e.blockUpdatedInfo.storageLevel.isValid)
          blocks.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    val result =
      try f.run(input)
      finally { ListenerBusDrain.drain(sc); sc.removeSparkListener(listener) }
    // one write job per mapped collection; the driver writes the reports
    assert(jobs.get == 2)
    assert(blocks.get == 0)
    assert(f.landed() == Seq(20L, 20L, 41L))
    assert(graft.etl.ReportReference.observed(result) ==
      Seq(("customers", 20L, 0L, 0L, 20L), ("orders", 20L, 0L, 0L, 20L)))
  }
}
