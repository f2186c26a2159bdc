package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot grouping keys: two-stage salted aggregation.
  *
  * Stage 1 groups by (key, salt) — the hot key's rows spread over
  * `saltBuckets` reducers; stage 2 merges the per-salt partials. The
  * stage-2 shuffle carries at most `saltBuckets` rows per key, so a key
  * holding 50% of a 100 TB table no longer lands on one executor.
  *
  * Use for algebraic aggregates (count/sum/min/max — anything with a
  * merge step). AQE's skew handling covers joins; this covers the
  * aggregation path AQE doesn't split.
  */
object SkewedAgg {

  /** Salted count per key: equivalent to
    * `df.groupBy(key).agg(count(*))` under any skew.
    */
  def saltedCount(df: DataFrame, key: Column, saltBuckets: Int = 32): DataFrame =
    saltedAgg(df, key, Seq(count(lit(1)).as("__partial")),
      Seq(sum(col("__partial")).as("cnt")), saltBuckets)

  /** General salted aggregation: `partials` computes stage-1 aggregates
    * over (key, salt); `merges` combines them per key — e.g.
    * `saltedAgg(df, $"k", Seq(count(lit(1)).as("c"), sum($"x").as("s")),
    *            Seq(sum($"c").as("cnt"), sum($"s").as("total")))`.
    */
  def saltedAgg(
      df: DataFrame,
      key: Column,
      partials: Seq[Column],
      merges: Seq[Column],
      saltBuckets: Int = 32): DataFrame =
    df.groupBy(key.as("key"), (rand(seed = 7) * saltBuckets).cast("int").as("__salt"))
      .agg(partials.head, partials.tail: _*)
      .groupBy(col("key"))
      .agg(merges.head, merges.tail: _*)

  /** Skew-safe equi-join by dimension replication (the "salted join"):
    * every fact row gets a deterministic salt in [0, buckets); the dim
    * side is exploded `buckets`×; the join key becomes (key, salt). A
    * fact key holding half the table now spreads over `buckets`
    * reducers instead of landing on one. Use when the dim side is too
    * big to broadcast but `buckets`× its size still shuffles cheaply —
    * the manual fallback for skew AQE doesn't catch (e.g. a
    * pre-shuffled layout you want to preserve). `salt` must be a
    * deterministic function of the fact row (NOT rand()) so retried
    * tasks re-derive the same placement.
    */
  def replicatedJoin(
      fact: DataFrame,
      dim: DataFrame,
      factKey: Column,
      dimKey: Column,
      salt: Column,
      buckets: Int = 8): DataFrame = {
    val saltedFact = fact.withColumn("__salt", pmod(salt, lit(buckets)).cast("int"))
    val replicatedDim = dim.withColumn("__rep", explode(sequence(lit(0), lit(buckets - 1))))
    saltedFact
      .join(replicatedDim,
        factKey === dimKey && col("__salt") === col("__rep"))
      .drop("__salt", "__rep")
  }
}
