package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{CacheScope, Tables, TempDirs}
import graft.streaming.StreamingUpsert

/** The streaming STATE introspection plane — Spark's state data
  * source (`format("statestore")` / `format("state-metadata")`): the
  * ops tool that answers "what does this production streaming job
  * currently believe?" by reading a checkpoint's state stores as
  * plain DataFrames, without touching the running query. At 100 TB
  * of daily stream this is how state-skew, key-explosion, and
  * poisoned-key incidents get debugged — offline, from the
  * checkpoint, with ordinary SQL.
  */
object StateInspectionQueries {

  /** Scope `spark.sql.shuffle.partitions` around an ENTIRE drain
    * (start through awaitTermination), not just the `start()` call:
    * StreamExecution counts down its start latch BEFORE cloning the
    * session conf onto the stream thread, so a restore racing the
    * clone could hand the stream the session default — and q302's
    * oracle pins the partition count, which would turn that race into
    * a flaky red. Holding the override until termination closes the
    * window (AvailableNow drains terminate on their own).
    */
  private def drainWithStatePartitions(
      s: org.apache.spark.sql.SparkSession, n: Int)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit =
    SqlConfScope.withShufflePartitions(s, n)(start.awaitTermination())

  val specs: Map[String, QuerySpec] = Map(

    // Q301: state-store reader — drain a keyed streaming aggregation
    // (count + sum per order status) into a checkpoint, then read the
    // aggregation STATE back through the state data source and check
    // it equals the truth computed directly from the table. The sink
    // is a discard foreachBatch (count() forces the batch so the
    // state stores execute and commit; the OUTPUT goes nowhere): the
    // assertion target is the state itself, which is exactly what an
    // operator inspecting a production checkpoint has. State rows are
    // (key struct, value struct, partition_id); each key lives in
    // exactly one shuffle partition, so the projection needs no
    // re-aggregation. Scale shape: the reader loads each state
    // partition independently (one task per store) — inspection
    // parallelism equals the query's state partitioning. The state is
    // status-cardinality-bounded, so it collects into a local
    // relation and the staged copy + checkpoint are deleted before
    // returning (bench reruns must not accumulate orders-sized temp
    // copies).
    "q301_state_store_reader" -> QuerySpec(
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-q301")
        Tables.orders(s, dir)
          .select(col("o_orderstatus").as("st"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .write.mode("overwrite").parquet(tmp.resolve("in").toString)
        drainWithStatePartitions(s, 4) {
          s.readStream.schema("st STRING, cents BIGINT")
            .parquet(tmp.resolve("in").toString)
            .groupBy("st")
            .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
            .writeStream
            .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
              { b.count(); () })
            .outputMode("complete")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", tmp.resolve("cp").toString)
            .start()
        }
        val state = s.read.format("statestore")
          .load(tmp.resolve("cp").toString)
          .select(col("key.st").as("status"),
            col("value.count").cast("long").as("n"),
            col("value.sum").cast("long").as("cents"))
          .collect().toSeq // ≤ |status domain| rows
        TempDirs.deleteRecursively(tmp)
        import s.implicits._
        state.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .toDF("status", "n", "cents")
          .orderBy("status")
      },
      """SELECT o_orderstatus AS status,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS cents
         FROM orders GROUP BY 1 ORDER BY status"""),

    // Q302: state-metadata reader — the checkpoint's own catalog:
    // which stateful operators exist, under which store names, across
    // how many partitions, spanning which batch range. The drain runs
    // TWO batches (maxFilesPerTrigger=1 over two staged files, both
    // cut from ONE cached scan of orders) so the batch span is
    // nontrivial; the oracle pins the expected metadata row exactly
    // (operator name, store, partitions, batch ids) — values fixed by
    // the query shape, not the data. Metadata is one row per stateful
    // operator, so it collects and the staging is deleted.
    "q302_state_metadata" -> QuerySpec(
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-q302")
        val src = CacheScope.persist(Tables.orders(s, dir)
          .select(col("o_orderstatus").as("st"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")))
        src.filter(col("st") === "O").coalesce(1)
          .write.mode("append").parquet(tmp.resolve("in").toString)
        src.filter(col("st") =!= "O").coalesce(1)
          .write.mode("append").parquet(tmp.resolve("in").toString)
        drainWithStatePartitions(s, 4) {
          s.readStream.schema("st STRING, cents BIGINT")
            .option("maxFilesPerTrigger", 1)
            .parquet(tmp.resolve("in").toString)
            .groupBy("st").agg(count(lit(1)).as("n"))
            .writeStream
            .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
              { b.count(); () })
            .outputMode("complete")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", tmp.resolve("cp").toString)
            .start()
        }
        val meta = s.read.format("state-metadata")
          .load(tmp.resolve("cp").toString)
          .select(col("operatorId").cast("long"),
            col("operatorName"), col("stateStoreName"),
            col("numPartitions").cast("long"),
            col("minBatchId").cast("long"), col("maxBatchId").cast("long"))
          .collect().toSeq // one row per stateful operator
        TempDirs.deleteRecursively(tmp)
        import s.implicits._
        meta.map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getLong(3), r.getLong(4), r.getLong(5)))
          .toDF("operator_id", "operator_name", "store",
            "n_partitions", "min_batch", "max_batch")
          .orderBy("operator_id")
      },
      """SELECT CAST(0 AS BIGINT) AS operator_id,
                'stateStoreSave' AS operator_name,
                'default' AS store,
                CAST(4 AS BIGINT) AS n_partitions,
                CAST(0 AS BIGINT) AS min_batch,
                CAST(1 AS BIGINT) AS max_batch"""),

    // Q307: snapshot TIME TRAVEL on the bucketed upsert store —
    // versioned manifests + by-reference bucket carry-forward make
    // "the table as of batch N" a free read: manifest v0 still points
    // at exactly the files that were live when batch 0 committed
    // (the Delta/Iceberg VERSION AS OF contract, built on the store's
    // own commit protocol). Batch 0 lands every order; batch 1
    // deletes the 'F' orders and bumps every 10th surviving key by 5
    // cents. The gate reads BOTH versions and rolls each up; the
    // oracle recomputes both states from the raw table. Reading v0
    // after batch 1 costs the same as reading latest — time travel
    // is manifest selection, not replay.
    "q307_snapshot_time_travel" -> QuerySpec(
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-q307")
        val src = CacheScope.persist(Tables.orders(s, dir).select(
          col("o_orderkey").as("k"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderstatus").as("st")))
        val b1 = src.select(col("k"), col("cents"),
          lit(1L).as("__seq"), lit("upsert").as("__op"))
        val b2 = src.filter(col("st") === "F")
          .select(col("k"), lit(0L).as("cents"),
            lit(2L).as("__seq"), lit("delete").as("__op"))
          .unionByName(src.filter(col("st") =!= "F" && pmod(col("k"), lit(10)) === 0)
            .select(col("k"), (col("cents") + 5L).as("cents"),
              lit(2L).as("__seq"), lit("upsert").as("__op")))
        val staging = tmp.resolve("staging").toString
        val snap = tmp.resolve("snap").toString
        val cp = tmp.resolve("cp").toString
        def drainOne(batch: org.apache.spark.sql.DataFrame): Unit = {
          batch.coalesce(1).write.mode("append").parquet(staging)
          StreamingUpsert.mergeStream(s,
            s.readStream.schema("k BIGINT, cents BIGINT, __seq BIGINT, __op STRING")
              .parquet(staging),
            snap, "k", cp, buckets = 8)
          ()
        }
        drainOne(b1)
        drainOne(b2)
        def rollup(df: org.apache.spark.sql.DataFrame) = {
          val r = df.agg(count(lit(1)).cast("long"),
            sum("cents").cast("long")).head()
          (r.getLong(0), r.getLong(1))
        }
        // rollup() already materialized both states as plain tuples,
        // so nothing below references tmp — safe to delete first
        val v0 = rollup(StreamingUpsert.snapshotAt(s, snap, 0L))
        val v1 = rollup(StreamingUpsert.finalSnapshot(s, snap))
        TempDirs.deleteRecursively(tmp)
        import s.implicits._
        Seq((0L, v0._1, v0._2), (1L, v1._1, v1._2))
          .toDF("version", "n_live", "cents").orderBy("version")
      },
      """WITH base AS (SELECT o_orderkey AS k,
                              CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                              o_orderstatus AS st
                       FROM orders)
         SELECT CAST(0 AS BIGINT) AS version,
                CAST(count(*) AS BIGINT) AS n_live,
                CAST(sum(cents) AS BIGINT) AS cents
         FROM base
         UNION ALL
         SELECT CAST(1 AS BIGINT),
                CAST(sum(CASE WHEN st <> 'F' THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN st <> 'F'
                              THEN cents + CASE WHEN k % 10 = 0 THEN 5 ELSE 0 END
                              ELSE 0 END) AS BIGINT)
         FROM base
         ORDER BY version""")
  )
}
