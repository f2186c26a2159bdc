package graft.queries

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{Tables, TempDirs}

/** SQL-surface and engine-native-operator gates that round out the
  * declarative surface a reference user would reach for:
  *
  *   - q159: the engine's NATIVE session-window operator
  *     (`session_window`) driven through a real watermarked stream —
  *     the state-store-merged counterpart of the hand-rolled
  *     `flatMapGroupsWithState` sessionizer (q56) and the batch
  *     gaps-and-islands form (q44).
  *   - q160: `WITH RECURSIVE` through `spark.sql` — the recursive-CTE
  *     surface (date-spine zero-fill), previously exercised only on
  *     the DuckDB oracle side.
  *   - q161: correlated LATERAL subquery with ORDER BY + LIMIT — the
  *     optimizer decorrelates it to a WindowGroupLimit plan (verified
  *     in SurfaceGatesSpec), never a per-outer-row re-execution.
  *
  * Reference anchor: the reference dashboards sessionize audit rows
  * and zero-fill date ranges client-side after SELECTing raw rows
  * (/root/reference/ui/audit_dashboard.py); here both are engine-side
  * relational operators that keep the work distributed.
  */
object SurfaceQueries {

  /** Scoped conf overrides for stream starts — stream confs are read
    * when the stream STARTS, so overrides scope to the call (see the
    * ExtQueries scaladoc for the state-partition sizing rationale).
    */
  private def withStreamConf[A](
      s: SparkSession, confs: (String, String)*)(start: => A): A = {
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try start finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  private def withStatePartitions[A](
      s: SparkSession, n: Int)(start: => A): A =
    withStreamConf(s, "spark.sql.shuffle.partitions" -> n.toString)(start)

  /** Stage `parts` as single-file parquet inputs under `dir` with
    * strictly ascending modification times, so the file stream source
    * (which orders by mtime) delivers them as microbatches in exactly
    * this order. Seconds-apart mtimes dodge filesystem timestamp
    * granularity; names are ordered too for human debugging.
    */
  private def stageOrdered(parts: Seq[DataFrame], dir: Path): Unit = {
    val now = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (df, i) =>
      val scratch = Files.createTempDirectory(dir, s"stage$i")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val listing = Files.list(scratch)
      val src = try {
        import scala.jdk.CollectionConverters._
        listing.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
      } finally listing.close()
      val dst = dir.resolve(f"$i%02d-batch.parquet")
      Files.move(src, dst)
      Files.setLastModifiedTime(
        dst, FileTime.fromMillis(now - (parts.size - i) * 10000L))
      TempDirs.deleteRecursively(scratch)
    }
  }

  val specs: Map[String, QuerySpec] = Map(

    // Q159: native session windows through a REAL stream. The engine
    // merges per-key session state in the state store (sessions that
    // touch within the 30-minute gap coalesce as events arrive) and
    // emits a session only when the event-time watermark passes its
    // end — the operator Spark ships for what q56 hand-rolls. Two
    // far-future sentinel batches (+3 h, +6 h, user −1) push the
    // watermark past every real session's end so the AvailableNow
    // drain deterministically closes them all, without relying on a
    // trailing no-data microbatch: the batch that processes sentinel 2
    // already plans with watermark = sentinel 1. Scale shape: one hash
    // shuffle on user_id; state is one struct per OPEN session per
    // key, evicted at watermark — bounded by concurrent open sessions,
    // not corpus size. Tie rule (pinned by SurfaceGatesSpec on a
    // crafted exact-gap corpus, where the fixture's random microsecond
    // timestamps never land): an event exactly `gap` after its
    // predecessor MERGES into the session — Spark treats the window
    // end inclusively when merging — so the oracle's island test is
    // strict `>`, matching q44's hand-rolled sessionizer.
    "q159_session_window_stream" -> QuerySpec(
      (s, dir) => {
        val tmpPath = GateTmp.dir("graft-q159")
        val tmp = tmpPath.toString
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"))
        val maxTs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
        def sentinel(offsetUs: Long): DataFrame =
          ev.sparkSession.range(1).select(
            lit(-1L).as("user_id"),
            timestamp_micros(lit(maxTs + offsetUs)).as("ts"),
            lit(-1L).as("event_id"))
        val staging = Files.createDirectories(tmpPath.resolve("staging"))
        stageOrdered(
          Seq(ev, sentinel(3L * 3600 * 1000000), sentinel(6L * 3600 * 1000000)),
          staging)
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(staging.toString)
        val sessions = stream
          .withWatermark("ts", "0 seconds")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("start_us"),
            unix_micros(col("session_window.end")).as("end_us"),
            col("n_events"))
        val q = withStatePartitions(s, 4) {
          sessions.writeStream
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", s"$tmp/checkpoint")
            .format("parquet")
            .option("path", s"$tmp/out")
            .start()
        }
        q.awaitTermination()
        TempDirs.deleteRecursively(tmpPath.resolve("staging"))
        TempDirs.deleteRecursively(tmpPath.resolve("checkpoint"))
        s.read.parquet(s"$tmp/out")
          .filter(col("user_id") >= 0)
          .orderBy("user_id", "start_us")
      },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         f AS (SELECT user_id, us,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
         g AS (SELECT user_id, us,
                 CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS sid
               FROM f)
         SELECT user_id, min(us) AS start_us,
                max(us) + 1800000000 AS end_us, count(*) AS n_events
         FROM g GROUP BY user_id, sid ORDER BY user_id, start_us"""),

    // Q160: recursive CTE date spine — the WITH RECURSIVE surface in
    // Spark SQL itself (4.x), zero-filling days with no events so a
    // downstream consumer sees an unbroken daily series. Recursion
    // depth equals the CALENDAR SPAN in days (engine default limit
    // 100 covers the fixture's one-month span with wide margin), not
    // the corpus size: the spine is the tiny side and joins broadcast
    // against the per-day aggregate, so 100 TB of events changes the
    // aggregate's shuffle, never the recursion. The [mn, days] bounds
    // are resolved ONCE up front and inlined as literals: leaving them
    // as scalar subqueries inside the recursion made the loop re-plan
    // the bound per step — a full events aggregate × depth (measured
    // 3.7 s → 0.2 s at sf0.1). Day indexing is integral micros
    // arithmetic — engine-exact on both sides.
    "q160_recursive_spine" -> QuerySpec(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("g_q160_events")
        val Array(mn, days) = {
          val r = s.sql(
            """SELECT min(unix_micros(ts)),
                      (max(unix_micros(ts)) - min(unix_micros(ts)))
                        div 86400000000L
               FROM g_q160_events""").head()
          Array(r.getLong(0), r.getLong(1))
        }
        s.sql(s"""
          WITH RECURSIVE
          spine(d) AS (
            SELECT CAST(0 AS BIGINT)
            UNION ALL
            SELECT d + 1 FROM spine WHERE d + 1 <= ${days}L),
          e AS (SELECT (unix_micros(ts) - ${mn}L) div 86400000000L AS d,
                       count(*) AS n
                FROM g_q160_events GROUP BY 1)
          SELECT s.d AS day_idx, coalesce(e.n, CAST(0 AS BIGINT)) AS n_events
          FROM spine s LEFT JOIN e ON s.d = e.d
          ORDER BY day_idx""")
      },
      """WITH RECURSIVE
         b AS (SELECT min(epoch_us(ts)) AS mn,
                      (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS days
               FROM events),
         spine(d) AS (
           SELECT CAST(0 AS BIGINT)
           UNION ALL
           SELECT d + 1 FROM spine WHERE d + 1 <= (SELECT days FROM b)),
         e AS (SELECT (epoch_us(ts) - (SELECT mn FROM b)) // 86400000000 AS d,
                      count(*) AS n
               FROM events GROUP BY 1)
         SELECT s.d AS day_idx, CAST(coalesce(e.n, 0) AS BIGINT) AS n_events
         FROM spine s LEFT JOIN e ON s.d = e.d
         ORDER BY day_idx"""),

    // Q161: correlated LATERAL subquery with ORDER BY + LIMIT — the
    // SQL spelling of per-group top-k. The optimizer DECORRELATES it:
    // the plan is a WindowGroupLimit over one customer sort plus a
    // broadcast join of nations (asserted in SurfaceGatesSpec), i.e.
    // identical machinery to the window-function form (q91), NOT a
    // re-executed subquery per outer row. Both the top-3 SELECTION and
    // the projection use the e2-quantized balance: ordering by the
    // quantized value keeps the decorrelated window's order spec on a
    // deterministic engine-exact key (ordering by the raw double
    // instead regresses the plan to a global range sort + unordered
    // row_number — pinned in SurfaceGatesSpec).
    "q161_lateral_topk" -> QuerySpec(
      (s, dir) => {
        Tables.nation(s, dir).createOrReplaceTempView("g_q161_nation")
        Tables.customer(s, dir).createOrReplaceTempView("g_q161_customer")
        s.sql("""
          SELECT n.n_name, t.c_custkey, t.bal_e2
          FROM g_q161_nation n,
          LATERAL (SELECT c_custkey,
                          CAST(round(c_acctbal * 100) AS BIGINT) AS bal_e2
                   FROM g_q161_customer c
                   WHERE c.c_nationkey = n.n_nationkey
                   ORDER BY bal_e2 DESC, c_custkey
                   LIMIT 3) t
          ORDER BY n_name, bal_e2 DESC, c_custkey""")
      },
      """SELECT n.n_name, t.c_custkey, t.bal_e2
         FROM nation n,
         LATERAL (SELECT c_custkey,
                         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_e2
                  FROM customer c
                  WHERE c.c_nationkey = n.n_nationkey
                  ORDER BY bal_e2 DESC, c_custkey
                  LIMIT 3) t
         ORDER BY n_name, bal_e2 DESC, c_custkey"""),

    // Q162: sessionization on `transformWithState` — Spark 4's current
    // arbitrary-stateful API (typed ValueState handles, RocksDB-native
    // state, incremental checkpoints) — against the SAME oracle as the
    // legacy flatMapGroupsWithState form (q56) and the batch form
    // (q44): three implementations of one semantic, each on the
    // engine surface a different Spark generation offers. The RocksDB
    // provider is REQUIRED by the operator and scoped to the stream
    // start; per-user flush sentinels close every real session in the
    // final batch exactly as in q56.
    "q162_tws_sessionize" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val tmpPath = GateTmp.dir("graft-q162")
        val tmp = tmpPath.toString
        val ev = Tables.events(s, dir).select(
          col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
        val flushUs = ev.agg(max("ts_us")).head().getLong(0) + 3L * 3600 * 1000000
        val staged = ev.unionByName(
          ev.select(col("user_id")).distinct()
            .select(col("user_id"), lit(flushUs).as("ts_us"),
              lit(-1L).as("event_id")))
        staged.coalesce(1).write.parquet(s"$tmp/staging")
        val stream = s.readStream.schema(staged.schema).parquet(s"$tmp/staging")
          .as[graft.streaming.StreamingSessions.Ev]
        val q = withStreamConf(s,
          "spark.sql.shuffle.partitions" -> "4",
          "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          graft.streaming.StreamingSessionsTws.sessionize(stream)
            .writeStream
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", s"$tmp/checkpoint")
            .format("parquet")
            .option("path", s"$tmp/out")
            .start()
        }
        q.awaitTermination()
        TempDirs.deleteRecursively(tmpPath.resolve("staging"))
        TempDirs.deleteRecursively(tmpPath.resolve("checkpoint"))
        s.read.parquet(s"$tmp/out").orderBy("user_id", "session_idx")
      },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
         f AS (SELECT user_id, ts_us, event_id,
                 CASE WHEN lag(ts_us) OVER w IS NULL
                        OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         g AS (SELECT user_id, ts_us,
                 CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                      AS BIGINT) AS session_idx
               FROM f)
         SELECT user_id, session_idx, count(*) AS n_events,
                min(ts_us) AS start_us, max(ts_us) AS end_us
         FROM g GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Q163: event-time TIMER sessionization — sessions close
    // THEMSELVES when the watermark passes last+gap (StatefulProcessor
    // handleExpiredTimer), not when the user's next event arrives: the
    // production semantics q56/q162 approximate with per-user flush
    // sentinels. Staging needs only GLOBAL watermark-advancing
    // sentinel batches (user −1, filtered from output); every real
    // user's final session emits from its own timer. Same oracle as
    // q44/q56/q162 — four implementations, one semantic.
    "q163_timer_sessionize" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val tmpPath = GateTmp.dir("graft-q163")
        val tmp = tmpPath.toString
        val ev = Tables.events(s, dir).select(
          col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"))
        val maxUs = ev.agg(max("ts_us")).head().getLong(0)
        def sentinel(offsetUs: Long): DataFrame =
          ev.sparkSession.range(1).select(
            lit(-1L).as("user_id"),
            timestamp_micros(lit(maxUs + offsetUs)).as("ts"),
            lit(maxUs + offsetUs).as("ts_us"),
            lit(-1L).as("event_id"))
        val staging = Files.createDirectories(tmpPath.resolve("staging"))
        stageOrdered(
          Seq(ev, sentinel(3L * 3600 * 1000000), sentinel(6L * 3600 * 1000000)),
          staging)
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(staging.toString)
          .withWatermark("ts", "0 seconds")
          .as[graft.streaming.StreamingSessionsTws.EvT]
        val q = withStreamConf(s,
          "spark.sql.shuffle.partitions" -> "4",
          "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          graft.streaming.StreamingSessionsTws.sessionizeWithTimers(stream)
            .writeStream
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", s"$tmp/checkpoint")
            .format("parquet")
            .option("path", s"$tmp/out")
            .start()
        }
        q.awaitTermination()
        TempDirs.deleteRecursively(tmpPath.resolve("staging"))
        TempDirs.deleteRecursively(tmpPath.resolve("checkpoint"))
        s.read.parquet(s"$tmp/out")
          .filter(col("user_id") >= 0)
          .orderBy("user_id", "session_idx")
      },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
         f AS (SELECT user_id, ts_us, event_id,
                 CASE WHEN lag(ts_us) OVER w IS NULL
                        OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         g AS (SELECT user_id, ts_us,
                 CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                      AS BIGINT) AS session_idx
               FROM f)
         SELECT user_id, session_idx, count(*) AS n_events,
                min(ts_us) AS start_us, max(ts_us) AS end_us
         FROM g GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Q164: mergeable bitmap distinct sketch — the native
    // TypedImperativeAggregate (`functions/BitmapDistinct.scala`)
    // called through its SQL registration, counting occupied
    // linear-counting buckets per source over the portable 60-bit
    // content hash. The occupied count is exact for a given hash
    // column, so the oracle recomputes it as COUNT(DISTINCT bucket).
    // Scale shape: per-group state is a FIXED 512-byte bitmap (m=4096)
    // that map-side combines and merges by bitwise OR — the shuffle
    // carries one bitmap per group per partition, never per-value
    // state, and pre-aggregated shard sketches OR into rollups without
    // re-touching rows.
    "q164_bitmap_distinct" -> QuerySpec(
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("g_q164_documents")
        s.sql("""
          SELECT source,
                 graft_bitmap_distinct(md5_prefix60(text), 4096) AS occupied
          FROM g_q164_documents
          GROUP BY source ORDER BY source""")
      },
      """SELECT source,
                CAST(count(DISTINCT
                       ('0x' || substr(md5(text), 1, 15))::BIGINT % 4096)
                     AS BIGINT) AS occupied
         FROM documents GROUP BY source ORDER BY source"""),

    // Q165: SCD2 point-in-time lookup — the companion to the SCD2
    // BUILD gate (q106): enrich each click with the dimension version
    // (purchase-derived tier per user) that was ACTIVE at click time,
    // by composing Scd.type2 with the native single-pass as-of join
    // (q148's operator ladder). This is the classic dimensional-
    // warehouse temporal join, and the as-of form is its scale shape:
    // one co-partitioned merge, no BETWEEN-range nested loop and no
    // per-fact-row interval probe. Clicks before a user's first tier
    // version null-extend. The oracle rebuilds the run-collapsed
    // dimension as CTEs and resolves the lookup with the tagged-union
    // running-last_value pattern (dimension rows sort before facts at
    // the same instant — a version is visible AT its own start).
    "q165_scd2_lookup" -> QuerySpec(
      (s, dir) => {
        val ev = Tables.events(s, dir).select(
          col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"))
        val changes = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"),
            expr("CAST(round(value) AS BIGINT) div 10").as("tier"),
            col("event_id"))
        val dim = graft.analytics.Scd.type2(
          changes, col("user_id"), col("ts_us"), col("tier"), col("event_id"))
          .select(col("k").as("user_id"), col("valid_from").as("ts_us"),
            lit(-1L).as("event_id"), col("a"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts_us"), col("event_id"))
        graft.analytics.AsOfJoinNative.asOf(
          clicks, dim, "user_id", "ts_us", "event_id",
          payloadCols = Seq("a", "ts_us"))
          .withColumnRenamed("asof_a", "tier")
          .withColumnRenamed("asof_ts_us", "tier_since_us")
          .orderBy("event_id")
      },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                           event_type, value FROM events),
         p AS (SELECT user_id, ts_us,
                      CAST(round(value) AS BIGINT) // 10 AS tier, event_id
               FROM e WHERE event_type = 'purchase'),
         f AS (SELECT user_id, ts_us, tier, event_id,
                 CASE WHEN lag(tier) OVER w IS NULL
                        OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
               FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         r AS (SELECT user_id, ts_us, tier,
                 sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
               FROM f),
         dim AS (SELECT user_id, min(tier) AS tier, min(ts_us) AS valid_from
                 FROM r GROUP BY user_id, run),
         u AS (SELECT user_id, valid_from AS ts_us,
                      CAST(NULL AS BIGINT) AS event_id, 0 AS tag,
                      tier AS r_tier, valid_from AS r_vf
               FROM dim
               UNION ALL
               SELECT user_id, ts_us, event_id, 1, NULL, NULL
               FROM e WHERE event_type = 'click'),
         m AS (SELECT user_id, ts_us, event_id, tag,
                 last_value(r_tier IGNORE NULLS) OVER w AS tier,
                 last_value(r_vf IGNORE NULLS) OVER w AS tier_since_us
               FROM u
               WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, tag, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT user_id, ts_us, event_id, tier, tier_since_us
         FROM m WHERE tag = 1 ORDER BY event_id"""),

    // Q166: streaming per-user top-k digest on ListState — the
    // list-typed rung of the transformWithState state surface
    // (ValueState: q162, timers: q163). State per user is AT MOST k
    // entries pruned on every fold — the bounded-state form of a
    // per-key leaderboard that `collect_list` aggregation can't
    // provide on an unbounded stream. Per-user sentinels flush the
    // ranked digest; the oracle is the batch row_number top-3.
    "q166_tws_topk" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val tmpPath = GateTmp.dir("graft-q166")
        val tmp = tmpPath.toString
        val ev = Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            round(col("value") * 100).cast("long").as("v_e2"),
            col("event_id"))
        val staged = ev.unionByName(
          ev.select(col("user_id")).distinct()
            .select(col("user_id"), lit(0L).as("v_e2"), lit(-1L).as("event_id")))
        staged.coalesce(1).write.parquet(s"$tmp/staging")
        val stream = s.readStream.schema(staged.schema).parquet(s"$tmp/staging")
          .as[graft.streaming.StreamingTopK.In]
        val q = withStreamConf(s,
          "spark.sql.shuffle.partitions" -> "4",
          "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          graft.streaming.StreamingTopK.topK(stream, k = 3)
            .writeStream
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", s"$tmp/checkpoint")
            .format("parquet")
            .option("path", s"$tmp/out")
            .start()
        }
        q.awaitTermination()
        TempDirs.deleteRecursively(tmpPath.resolve("staging"))
        TempDirs.deleteRecursively(tmpPath.resolve("checkpoint"))
        s.read.parquet(s"$tmp/out").orderBy("user_id", "rank")
      },
      """WITH p AS (SELECT user_id,
                           CAST(round(value * 100) AS BIGINT) AS v_e2, event_id
                    FROM events WHERE event_type = 'purchase'),
         r AS (SELECT user_id, v_e2, event_id,
                 CAST(row_number() OVER (PARTITION BY user_id
                        ORDER BY v_e2 DESC, event_id) AS BIGINT) AS rank
               FROM p)
         SELECT user_id, rank, v_e2, event_id
         FROM r WHERE rank <= 3 ORDER BY user_id, rank"""),

    // Q167: per-user grouped counters on MapState — the map-typed rung
    // of the transformWithState surface. One store entry per (user,
    // event_type); updating one counter never rewrites the family
    // (each map entry is its own RocksDB key) — the right state shape
    // for wide counter families vs a ValueState[struct] read-modify-
    // write. Sentinels flush; the oracle is the batch 2-key count.
    "q167_tws_map_counters" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val tmpPath = GateTmp.dir("graft-q167")
        val tmp = tmpPath.toString
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("event_id"))
        val staged = ev.unionByName(
          ev.select(col("user_id")).distinct()
            .select(col("user_id"), lit("__flush").as("event_type"),
              lit(-1L).as("event_id")))
        staged.coalesce(1).write.parquet(s"$tmp/staging")
        val stream = s.readStream.schema(staged.schema).parquet(s"$tmp/staging")
          .as[graft.streaming.StreamingCounters.In]
        val q = withStreamConf(s,
          "spark.sql.shuffle.partitions" -> "4",
          "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          graft.streaming.StreamingCounters.countsByType(stream)
            .writeStream
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", s"$tmp/checkpoint")
            .format("parquet")
            .option("path", s"$tmp/out")
            .start()
        }
        q.awaitTermination()
        TempDirs.deleteRecursively(tmpPath.resolve("staging"))
        TempDirs.deleteRecursively(tmpPath.resolve("checkpoint"))
        s.read.parquet(s"$tmp/out").orderBy("user_id", "event_type")
      },
      """SELECT user_id, event_type, count(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Q168: k-core peeling on the token co-occurrence graph — the
    // corpus-density filter that strips low-degree periphery until
    // minimum degree ≥ k. The gate pins the BOUNDED form (exactly 3
    // peel rounds) so the oracle can unroll the rounds as CTEs; the
    // fixpoint form and its equivalence-at-convergence are spec'd
    // (KCoreSpec). Per round: one map-side-combined degree aggregate
    // + two left-semi restrictions; lineage cut per round.
    "q168_kcore_peel" -> QuerySpec(
      (s, dir) =>
        graft.analytics.KCore.peelBounded(
          FrontierQueries.bigramCanonicalEdges(s, dir),
          col("u"), col("v"), k = 2, rounds = 3)
          .select(col("n").as("token"), col("deg"))
          .orderBy("token"),
      """WITH t AS (SELECT string_split(text,' ') AS toks FROM documents),
         g AS (SELECT toks, unnest(generate_series(1, len(toks)-1)) AS i FROM t),
         bg AS (SELECT toks[i] AS wa, toks[i+1] AS wb FROM g
                WHERE toks[i] <> toks[i+1]),
         e0 AS (SELECT DISTINCT least(wa, wb) AS u, greatest(wa, wb) AS v FROM bg),
         d1 AS (SELECT n, count(*) AS deg FROM
                 (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
         k1 AS (SELECT n FROM d1 WHERE deg >= 2),
         e1 AS (SELECT u, v FROM e0 WHERE u IN (SELECT n FROM k1)
                                      AND v IN (SELECT n FROM k1)),
         d2 AS (SELECT n, count(*) AS deg FROM
                 (SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1) GROUP BY 1),
         k2 AS (SELECT n FROM d2 WHERE deg >= 2),
         e2 AS (SELECT u, v FROM e1 WHERE u IN (SELECT n FROM k2)
                                      AND v IN (SELECT n FROM k2)),
         d3 AS (SELECT n, count(*) AS deg FROM
                 (SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2) GROUP BY 1),
         k3 AS (SELECT n FROM d3 WHERE deg >= 2),
         e3 AS (SELECT u, v FROM e2 WHERE u IN (SELECT n FROM k3)
                                      AND v IN (SELECT n FROM k3))
         SELECT n AS token, CAST(count(*) AS BIGINT) AS deg FROM
           (SELECT u AS n FROM e3 UNION ALL SELECT v FROM e3)
         GROUP BY 1 ORDER BY 1"""),

    // Q169: malformed-record handling on the SQL plane — PERMISSIVE
    // from_json with a corrupt-record column, the engine-side form of
    // the reference's per-document error accumulation (T9): bad
    // payloads quarantine into `_corrupt_record` instead of failing
    // the job, and the aggregate reports corruption per event type.
    // Corruption is synthesized deterministically (every 7th event
    // loses its closing byte). Map-only; the parse is one codegen'd
    // Jackson pass per row, no shuffle before the final aggregate.
    "q169_corrupt_json" -> QuerySpec(
      (s, dir) => {
        val mutated = Tables.events(s, dir).select(
          col("event_type"),
          when(pmod(col("event_id"), lit(7)) === 0,
            expr("substring(props, 1, length(props) - 1)"))
            .otherwise(col("props")).as("js"))
        val parsed = mutated.select(
          col("event_type"),
          from_json(col("js"), "k BIGINT, _corrupt_record STRING",
            Map("columnNameOfCorruptRecord" -> "_corrupt_record").asJava)
            .as("p"))
        parsed
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_total"),
            sum(when(col("p._corrupt_record").isNotNull, 1L).otherwise(0L))
              .as("n_corrupt"),
            // exclude corrupt rows EXPLICITLY rather than riding on
            // partial-results parsing leaving k NULL: for other payload
            // shapes Jackson can retain already-parsed fields of a
            // truncated object, which would leak corrupt rows into the
            // sum while the oracle's json_valid CASE excludes them
            sum(when(col("p._corrupt_record").isNull, col("p.k")))
              .as("k_sum"))
          .orderBy("event_type")
      },
      """WITH j AS (SELECT event_type,
                      CASE WHEN event_id % 7 = 0
                           THEN substr(props, 1, length(props) - 1)
                           ELSE props END AS js
                    FROM events)
         SELECT event_type, count(*) AS n_total,
                CAST(sum(CASE WHEN json_valid(js) THEN 0 ELSE 1 END) AS BIGINT)
                  AS n_corrupt,
                CAST(sum(CASE WHEN json_valid(js)
                              THEN CAST(json_extract(js, '$.k') AS BIGINT)
                         END) AS BIGINT) AS k_sum
         FROM j GROUP BY 1 ORDER BY 1"""),

    // Q170: warm-started stateful stream — the
    // StatefulProcessorWithInitialState constructor: history (even
    // event ids) is recomputed ONCE as a batch aggregate and seeded
    // into state before the first microbatch; the stream carries only
    // the increment (odd ids). Seed + increment must equal the full
    // recount — the oracle is the whole-corpus 2-key count, identical
    // to q167's, proving the cutover pattern loses nothing. At scale
    // this replaces replaying the entire historical stream through the
    // stateful operator with one batch shuffle.
    "q170_tws_warm_start" -> QuerySpec(
      (s, dir) => {
        import s.implicits._
        val tmpPath = GateTmp.dir("graft-q170")
        val tmp = tmpPath.toString
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("event_id"))
        val initial = ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n"))
          .as[graft.streaming.StreamingCounters.CountRow]
        val streamHalf = ev.filter(pmod(col("event_id"), lit(2)) === 1)
        val staged = streamHalf.unionByName(
          ev.select(col("user_id")).distinct()
            .select(col("user_id"), lit("__flush").as("event_type"),
              lit(-1L).as("event_id")))
        staged.coalesce(1).write.parquet(s"$tmp/staging")
        val stream = s.readStream.schema(staged.schema).parquet(s"$tmp/staging")
          .as[graft.streaming.StreamingCounters.In]
        val q = withStreamConf(s,
          "spark.sql.shuffle.partitions" -> "4",
          "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          graft.streaming.StreamingCounters
            .countsByTypeWarmStart(stream, initial)
            .writeStream
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", s"$tmp/checkpoint")
            .format("parquet")
            .option("path", s"$tmp/out")
            .start()
        }
        q.awaitTermination()
        TempDirs.deleteRecursively(tmpPath.resolve("staging"))
        TempDirs.deleteRecursively(tmpPath.resolve("checkpoint"))
        s.read.parquet(s"$tmp/out").orderBy("user_id", "event_type")
      },
      """SELECT user_id, event_type, count(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""")
  )
}
