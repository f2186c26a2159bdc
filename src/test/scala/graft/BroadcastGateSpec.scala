package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BroadcastGateSpec extends AnyFunSuite with SparkTestSession {

  private def hasBroadcastHint(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.logical.toString.contains("UnresolvedHint")

  test("ifUnder hints below the ceiling, passes through above it") {
    import spark.implicits._
    val df = Seq(1L, 2L, 3L).toDF("id")
    assert(hasBroadcastHint(BroadcastGate.ifUnder(df, 3L)))
    assert(!hasBroadcastHint(
      BroadcastGate.ifUnder(df, BroadcastGate.maxRows(df) + 1)))
  }

  test("ceiling is conf-overridable") {
    import spark.implicits._
    val df = Seq(1L).toDF("id")
    val prev = spark.conf.getOption(BroadcastGate.ConfKey)
    try {
      spark.conf.set(BroadcastGate.ConfKey, "2")
      assert(BroadcastGate.maxRows(df) === 2L)
      assert(hasBroadcastHint(BroadcastGate.ifUnder(df, 2L)))
      assert(!hasBroadcastHint(BroadcastGate.ifUnder(df, 3L)))
    } finally prev match {
      case Some(v) => spark.conf.set(BroadcastGate.ConfKey, v)
      case None => spark.conf.unset(BroadcastGate.ConfKey)
    }
  }

  test("gated operators produce identical results with the hint forced off") {
    // The 100 TB fallback path: a ceiling of 0 drops every gated hint
    // (shuffle joins everywhere); results must be identical.
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L))
      .toDF("src", "dst")
    val weighted = Seq((0L, 1L, 10L), (0L, 2L, 100L), (1L, 2L, 5L), (2L, 3L, 1L))
      .toDF("src", "dst", "w")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id1", "id2")
    val corpus = Seq(1L, 2L, 3L, 4L, 7L, 9L).toDF("doc_id")
    // a triangle with a pendant chain: the 2-core is the triangle
    val coreEdges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"))
      .toDF("u", "v")
    val docs = Seq("a b c d", "c e").toDF("text")

    def results() = CacheScope.scoped {
      val reach = graft.analytics.ShortestPath.reachable(edges, 0L)
        .collect().map(_.getLong(0)).toSet
      val kept = graft.llm.Dedup
        .dropNearDuplicates(corpus, "doc_id", pairs)
        .collect().map(_.getLong(0)).toSet
      val stars = graft.llm.Dedup.connectedComponentsStars(pairs, "id1", "id2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = graft.analytics.ShortestPath.boundedMinPlus(weighted, 0L, 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val core = graft.analytics.KCore.kCore(coreEdges, col("u"), col("v"), k = 2)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val hops = graft.llm.TokenGraph.bfsHops(spark, docs, col("text"), maxHops = 5)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      (reach, kept, stars, dist, core, hops)
    }

    val hinted = results()
    val prev = spark.conf.getOption(BroadcastGate.ConfKey)
    val unhinted =
      try {
        spark.conf.set(BroadcastGate.ConfKey, "0")
        results()
      } finally prev match {
        case Some(v) => spark.conf.set(BroadcastGate.ConfKey, v)
        case None => spark.conf.unset(BroadcastGate.ConfKey)
      }
    assert(hinted === unhinted)
    assert(hinted._1 === Set(0L, 1L, 2L))
    assert(hinted._2 === Set(1L, 4L, 7L))
    assert(hinted._3 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    assert(hinted._4 === Map(0L -> 0L, 1L -> 10L, 2L -> 15L, 3L -> 16L))
    assert(hinted._5 === Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    assert(hinted._6 === Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3, "e" -> 3))
  }
}
