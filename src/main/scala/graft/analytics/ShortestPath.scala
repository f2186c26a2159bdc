package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Fixpoint

/** Hop-bounded single-source weighted shortest paths as iterated
  * min-plus products (distributed Bellman-Ford) — the weighted
  * companion to the unweighted BFS frontier operator
  * (`llm/TokenGraph.bfsHops`).
  *
  * Round r relaxes every edge once:
  * `dist_{r+1}(v) = min(dist_r(v), min_{(u,v,w)} dist_r(u) + w)` —
  * one join + one min-aggregate per round; after k rounds, distances
  * are exact over paths of <= k edges (and fully exact once k reaches
  * the graph's hop diameter).
  *
  * Scale shape (100 TB): the EDGE relation is the big side and is
  * only ever equi-joined on its src key; the dist relation is
  * nodes-sized and shrinks to the reachable set, so each round is a
  * map-side join over the edge partitions when it broadcasts. Rounds
  * run on [[graft.Fixpoint]] (cut, count, broadcast gate and bracket);
  * both operators count `edges` once up front, which materializes a
  * caller's persist at session settings and bounds every round.
  */
object ShortestPath {

  /** Full directed reachability from `source` (BFS to fixpoint):
    * returns (node) for every node reachable over `edges`
    * (src: long, dst: long). Each round expands the frontier — work is
    * its out-degree sum (Pregel step), never all-pairs — and stops on
    * an empty one. `visited` is a union of counted frontiers, so its
    * plan stays flat without a cut of its own.
    */
  def reachable(edges: DataFrame, source: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val input = Fixpoint.counted(edges)
    val seed = Fixpoint.Bounded(Seq(source).toDF("node"), 1L)
    // every round that goes on adds a node, and at most one per edge
    // is reachable besides the source
    val (visited, _) = Fixpoint.converge("ShortestPath.reachable", input, cap = input.rows)(
        (seed, seed)) { case (visited, frontier) =>
      val next = Fixpoint.cut(frontier.hinted.alias("f")
        .join(edges.alias("e"), col("f.node") === col("e.src"))
        .select(col("e.dst").as("node")).distinct()
        .join(visited.hinted, Seq("node"), "left_anti"))
      if (next.rows == 0) None
      else Some((Fixpoint.Bounded(visited.df.unionByName(next.df), visited.rows + next.rows), next))
    }
    visited.df
  }

  /** edges: (src: long, dst: long, w: long). Returns (node, dist)
    * for nodes reachable from `source` within `rounds` edges.
    */
  def boundedMinPlus(edges: DataFrame, source: Long, rounds: Int): DataFrame = {
    require(rounds >= 0 && rounds <= 64, s"rounds must be in [0, 64], got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val input = Fixpoint.counted(edges)
    val seed = Fixpoint.Bounded(Seq((source, 0L)).toDF("node", "dist"), 1L)
    Fixpoint.rounds(rounds, input)(seed) { dist =>
      // alias both sides each round: dist derives from edges after the
      // first relaxation, so unqualified refs would be ambiguous
      val relaxed = dist.hinted.alias("d")
        .join(edges.alias("e"), col("d.node") === col("e.src"))
        .select(col("e.dst").as("node"),
          (col("d.dist") + col("e.w")).as("dist"))
      Some(Fixpoint.cut(dist.df.unionByName(relaxed)
        .groupBy("node").agg(min("dist").as("dist"))))
    }.df
  }
}
