package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Fixpoint

/** k-core peeling: iteratively remove nodes of degree < k (with their
  * incident edges) until the remaining subgraph — the k-core — has
  * minimum degree ≥ k. The classic corpus-graph density filter: on a
  * token co-occurrence graph it strips the long tail of rare-word
  * periphery, on a near-dup graph it isolates the heavily-replicated
  * cores worth human review.
  *
  * Scale shape: the edge list is persisted and counted ONCE up front,
  * then each round costs one map-side-combined degree aggregate plus
  * two anti joins against the round's DROP set — the nodes falling
  * below k, which is the small periphery by construction (peeling
  * converges precisely because few nodes fall per round), so the
  * joins broadcast it and the surviving edge majority is never
  * shuffled. Rounds run on [[graft.Fixpoint]]: the drop set is the
  * counted cut (its count is the convergence test and the broadcast
  * bound), the surviving edges are marked. A round that drops nothing
  * ends the loop (a no-op round proves the fixpoint, so early exit is
  * semantics-preserving for the bounded form too).
  */
object KCore {

  /** At most `rounds` peel iterations (stopping early at the fixpoint,
    * which a no-op round makes result-identical) — the bounded form
    * the q168 oracle unrolls as CTEs. Returns per-node degrees of the
    * surviving subgraph.
    */
  def peelBounded(
      edges: DataFrame, u: Column, v: Column,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 0, s"need k >= 1, rounds >= 0; got $k, $rounds")
    val input = persisted(edges, u, v)
    val core = Fixpoint.rounds(rounds, input)(input.df)(peel(k))
    Fixpoint.finish(input)(degrees(core))
  }

  /** Peel to the FIXPOINT — the true k-core. */
  def kCore(edges: DataFrame, u: Column, v: Column, k: Int): DataFrame = {
    val input = persisted(edges, u, v)
    // every round that goes on drops a node, and an edge has two
    val core = Fixpoint.converge("KCore.kCore", input, cap = 2 * input.rows)(input.df)(peel(k))
    Fixpoint.finish(input)(degrees(core))
  }

  private def persisted(edges: DataFrame, u: Column, v: Column): Fixpoint.Bounded =
    Fixpoint.counted(graft.CacheScope.persist(edges.select(u.as("u"), v.as("v"))))

  private def peel(k: Int)(e: DataFrame): Option[DataFrame] = {
    val drop = Fixpoint.cut(degrees(e).filter(col("deg") < k).select("n"))
    if (drop.rows == 0L) None
    else Some(Fixpoint.mark(e
      .join(drop.hinted.withColumnRenamed("n", "u"), Seq("u"), "left_anti")
      .join(drop.hinted.withColumnRenamed("n", "v"), Seq("v"), "left_anti")
      .select("u", "v")))
  }

  private def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
}
