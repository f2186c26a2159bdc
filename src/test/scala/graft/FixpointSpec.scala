package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{KCore, ShortestPath}
import graft.llm.{Dedup, TokenGraph}

class FixpointSpec extends AnyFunSuite with SparkTestSession {

  private def chain(n: Int): DataFrame = {
    import spark.implicits._
    (0L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
  }

  private def tokens(n: Int): DataFrame = {
    import spark.implicits._
    Seq((0 to n).map(i => f"t$i%03d").mkString(" ")).toDF("text")
  }

  private def digraph: DataFrame = {
    import spark.implicits._
    Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")).toDF("w1", "w2")
  }

  /** Each Fixpoint operator built to run about `r` rounds on a tiny graph. */
  private val operators: Seq[(String, Int => DataFrame)] = Seq(
    "ShortestPath.reachable" -> (r => ShortestPath.reachable(chain(r), 0L)),
    "ShortestPath.boundedMinPlus" -> (r =>
      ShortestPath.boundedMinPlus(chain(r).withColumn("w", lit(1L)), 0L, r)),
    "Dedup.connectedComponents" -> (r =>
      Dedup.connectedComponents(chain(r + 1).toDF("id1", "id2"), "id1", "id2")),
    "Dedup.connectedComponentsStars" -> (r =>
      Dedup.connectedComponentsStars(chain(1 << r).toDF("id1", "id2"), "id1", "id2")),
    // a path loses both end nodes per peel round
    "KCore.peelBounded" -> (r =>
      KCore.peelBounded(chain(2 * r + 2), col("src"), col("dst"), k = 2, rounds = r)),
    "KCore.kCore" -> (r => KCore.kCore(chain(2 * r), col("src"), col("dst"), k = 2)),
    "TokenGraph.bfsHops" -> (r => TokenGraph.bfsHops(spark, tokens(r), col("text"), r)),
    "TokenGraph.pagerankE6" -> (r =>
      TokenGraph.pagerankE6(spark, tokens(3), col("text"), r, redistributeSinks = true)),
    "TokenGraph.hitsE6" -> (r => TokenGraph.hitsE6(spark, digraph, r)))

  test("every operator's plan grows at most linearly in rounds") {
    // A state the next round references twice (a union and a join,
    // values and their max) doubles an uncut unrolled plan per round;
    // the per-round cut keeps it flat. k → 2k rounds may at most
    // double the optimized plan.
    def nodes(df: DataFrame): Int = df.queryExecution.optimizedPlan.collect { case p => p }.size
    val k = 2
    val superlinear = operators.flatMap { case (op, build) =>
      val (small, large) = CacheScope.scoped((nodes(build(k)), nodes(build(2 * k))))
      if (large <= 2 * small) None
      else Some(s"$op: $small plan nodes at $k rounds, $large at ${2 * k}")
    }
    assert(superlinear.isEmpty, superlinear.mkString("\n"))
  }

  test("converge fails naming the operator when the cap is reached") {
    import spark.implicits._
    val input = Fixpoint.Bounded(Seq(1L).toDF("x"), 1L)
    val e = intercept[IllegalStateException] {
      Fixpoint.converge("Op.name", input, cap = 3L)(0)(s => Some(s + 1))
    }
    assert(e.getMessage.contains("Op.name") && e.getMessage.contains("3 rounds"), e.getMessage)
    assert(Fixpoint.converge("Op.name", input, cap = 3L)(0)(s => if (s < 3) Some(s + 1) else None) === 3)
    assert(Fixpoint.rounds(5, input)(0)(s => Some(s + 1)) === 5)
    assert(Fixpoint.rounds(5, input)(0)(s => if (s < 2) Some(s + 1) else None) === 2)
  }

  test("rounds run narrow with AQE off only while the loop's bound is small") {
    import spark.implicits._
    val df = Seq(1L).toDF("x")
    def confsInRound(rows: Long): (String, String) =
      Fixpoint.rounds(1, Fixpoint.Bounded(df, rows))(("", "")) { _ =>
        Some((spark.conf.get("spark.sql.adaptive.enabled"),
          spark.conf.get("spark.sql.shuffle.partitions")))
      }
    val outside = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.shuffle.partitions"))
    assert(confsInRound(10L) === (("false", "2")))
    assert(confsInRound(Long.MaxValue) === outside)
    assert((spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.shuffle.partitions")) === outside)
  }
}
