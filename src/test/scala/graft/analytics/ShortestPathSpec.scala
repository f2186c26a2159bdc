package graft.analytics

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class ShortestPathSpec extends AnyFunSuite with SparkTestSession {

  private def edges(rows: (Long, Long, Long)*) = {
    import spark.implicits._
    rows.toDF("src", "dst", "w")
  }

  private def run(e: org.apache.spark.sql.DataFrame, rounds: Int) =
    ShortestPath.boundedMinPlus(e, 0L, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a cheaper two-hop path beats the direct edge") {
    val e = edges((0L, 1L, 10L), (0L, 2L, 100L), (1L, 2L, 5L))
    assert(run(e, 1) === Map(0L -> 0L, 1L -> 10L, 2L -> 100L))
    assert(run(e, 2) === Map(0L -> 0L, 1L -> 10L, 2L -> 15L))
  }

  test("hop bound limits reach; unreachable nodes never appear") {
    val e = edges((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (9L, 8L, 1L))
    assert(run(e, 2) === Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    assert(run(e, 3) === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("converged distances are stable under extra rounds (incl. cycles)") {
    val e = edges((0L, 1L, 2L), (1L, 0L, 2L), (1L, 2L, 2L), (2L, 1L, 2L))
    val d3 = run(e, 3)
    assert(d3 === Map(0L -> 0L, 1L -> 2L, 2L -> 4L))
    assert(run(e, 6) === d3)
  }

  test("per-round cut keeps the unrolled plan linear, not 2^rounds") {
    // round r references dist_{r-1} twice (union + relaxation); without
    // the per-round cut the returned plan re-derived
    // every earlier round — and the caller's edge build under it —
    // 2^rounds times (q189 scanned its fact tables 56 times). The
    // returned relation must be the round-3 materialization: a
    // checkpoint scan, no joins left in its plan.
    val e = edges((0L, 1L, 1L), (1L, 2L, 1L))
    val d = ShortestPath.boundedMinPlus(e, 0L, 3)
    val plan = d.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("zero rounds returns only the source") {
    val e = edges((0L, 1L, 1L))
    assert(run(e, 0) === Map(0L -> 0L))
  }

  test("reachable runs to fixpoint and respects direction") {
    val e = edges((0L, 1L, 1L), (1L, 2L, 1L), (2L, 0L, 1L), (3L, 0L, 1L))
      .select("src", "dst")
    val fwd = ShortestPath.reachable(e, 0L)
      .collect().map(_.getLong(0)).toSet
    assert(fwd === Set(0L, 1L, 2L)) // 3 points INTO the cycle, not out
    val bwd = ShortestPath.reachable(
      e.selectExpr("dst AS src", "src AS dst"), 0L)
      .collect().map(_.getLong(0)).toSet
    assert(bwd === Set(0L, 1L, 2L, 3L))
  }

  test("reachable runs past 64 rounds on a 70-node chain") {
    // one round per hop: a loop capped at 64 rounds returned 65 nodes
    val e = edges((0L until 69L).map(i => (i, i + 1, 1L)): _*).select("src", "dst")
    assert(ShortestPath.reachable(e, 0L).collect().map(_.getLong(0)).toSet ===
      (0L to 69L).toSet)
  }

  test("reachable on an isolated source is just the source") {
    val e = edges((5L, 6L, 1L)).select("src", "dst")
    assert(ShortestPath.reachable(e, 0L)
      .collect().map(_.getLong(0)).toSeq === Seq(0L))
  }
}
