package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheScope, Fixpoint}

/** Graph analytics over the token-adjacency (bigram) digraph of a
  * corpus — the centrality signal behind TextRank-style keyword and
  * domain-quality scoring.
  *
  * PageRank here is INTEGER arithmetic end to end: scores live in
  * parts-per-million and every division is integral (`div`; all
  * operands nonnegative, so truncation == floor and the result is
  * engine-portable). That trades a bounded quantization error
  * (≤ 1 ppm per step) for bit-exact reproducibility — the right trade
  * for a verification gate, and irrelevant at ranking granularity.
  *
  * Scale shape: the edge aggregate is one map-side-combined shuffle at
  * vocabulary² granularity; each iteration is an equi-join of the
  * (small, broadcast) score relation against the persisted edge list
  * plus one aggregate — vocabulary-sized, never corpus-sized. Every
  * iteration runs on [[graft.Fixpoint]] (cut, broadcast gate and
  * small-round bracket), bounded by the node or edge count each
  * operator takes up front.
  */
object TokenGraph {

  /** Weighted-edge list (w1 → w2, multiplicity c) from whitespace
    * bigrams. Built in two projections: the bigram array in its own
    * select, the explode in the next (generator extraction strips
    * in-lambda aliases otherwise).
    */
  def bigramEdges(docs: DataFrame, text: Column): DataFrame = {
    val toks = docs.select(split(text, " ").as("toks"))
    // sequence(1, 0) is a DESCENDING [1, 0] in Spark — a one-token doc
    // would index element 0 and throw. Guard to the empty array.
    val pairs = toks
      .select(
        when(size(col("toks")) > 1,
          transform(
            sequence(lit(1), size(col("toks")) - 1),
            i => struct(
              element_at(col("toks"), i).as("w1"),
              element_at(col("toks"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
          .as("bg"))
      .select(explode(col("bg")).as("e"))
      .select(col("e.w1").as("w1"), col("e.w2").as("w2"))
    pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
  }

  /** `iters` rounds of damping-0.85 PageRank in ppm over the bigram
    * graph. Returns (token, out_w, pr_e6) — out-weight 0 marks a sink.
    *
    * Sink handling: by default a sink's mass is dropped each round (the
    * strongly-preferential formulation — the gated q111 contract).
    * `redistributeSinks = true` selects the standard TextRank/PageRank
    * variant instead: each round the total sink mass (one scalar
    * aggregate over the vocabulary-sized score relation, broadcast back)
    * is shared equally across all nodes before damping, so total mass is
    * conserved up to integral-division quantization. Cost: one extra
    * anti-join + scalar broadcast per round, still vocabulary-sized.
    *
    * The node count is taken once up front: it is the uniform start
    * score's divisor and the bound of every per-node relation.
    */
  def pagerankE6(
      spark: SparkSession,
      docs: DataFrame,
      text: Column,
      iters: Int,
      redistributeSinks: Boolean = false): DataFrame = {
    val edges = CacheScope.persist(bigramEdges(docs, text))
    val nodes = CacheScope.persist(
      edges.select(col("w1").as("w"))
        .union(edges.select(col("w2").as("w")))
        .distinct())
    val input = Fixpoint.counted(nodes)
    // an empty graph has no rows to divide for; keep the literal legal
    val n = math.max(input.rows, 1L)
    // per-node relations (scores, in-flow, out-weights) join the
    // up-to-vocab² edge side broadcast, gated on the node count
    def perNode(df: DataFrame) = Fixpoint.Bounded(df, input.rows).hinted
    val outw = edges.groupBy(col("w1")).agg(sum(col("c")).as("outw"))
    val weighted = CacheScope.persist(
      edges.join(outw, "w1")
        .select(col("w1"), col("w2"), col("c"), col("outw")))

    val pr0 = nodes.select(col("w"), lit(1000000L / n).as("pr"))
    val pr = Fixpoint.rounds(iters, input)(pr0) { pr =>
      val incoming = weighted.join(perNode(pr), weighted("w1") === pr("w"))
        .select(col("w2"), expr("(pr * c) div outw").as("contrib"))
        .groupBy(col("w2"))
        .agg(sum(col("contrib")).as("inc"))
      val next =
        if (redistributeSinks) {
          val sinkMass = pr.join(perNode(outw), pr("w") === outw("w1"), "left_anti")
            .agg(coalesce(sum(col("pr")), lit(0L)).as("sink_pr"))
          nodes.crossJoin(broadcast(sinkMass))
            .join(perNode(incoming), nodes("w") === incoming("w2"), "left")
            .select(
              col("w"),
              expr(s"""150000L div ${n}L
                     + (850000L * (coalesce(inc, 0L) + sink_pr div ${n}L))
                       div 1000000L""").as("pr"))
        } else
          nodes.join(perNode(incoming), nodes("w") === incoming("w2"), "left")
            .select(
              col("w"),
              expr(s"150000L div ${n}L + (850000L * coalesce(inc, 0L)) div 1000000L")
                .as("pr"))
      Some(Fixpoint.mark(next))
    }
    nodes.join(perNode(outw), nodes("w") === outw("w1"), "left")
      .join(perNode(pr.withColumnRenamed("w", "w_pr")), nodes("w") === col("w_pr"))
      .select(
        nodes("w").as("token"),
        coalesce(col("outw"), lit(0L)).as("out_w"),
        col("pr").as("pr_e6"))
  }

  /** Undirected, deduplicated edge relation (u, v) of the bigram graph
    * in BOTH orientations — the adjacency list a traversal walks.
    */
  def undirectedAdjacency(docs: DataFrame, text: Column): DataFrame = {
    val oriented = bigramEdges(docs, text)
      .filter(col("w1") =!= col("w2"))
      .select(col("w1").as("u"), col("w2").as("v"))
    oriented.union(oriented.select(col("v").as("u"), col("u").as("v"))).distinct()
  }

  /** Breadth-first hop distances from the lexicographically-smallest
    * node, out to `maxHops`. Returns (token, dist) for every reached
    * node; an edgeless graph yields zero rows (the `agg(min)` null row
    * is filtered, not emitted as a phantom seed).
    *
    * Frontier expansion, not all-pairs: each round joins the CURRENT
    * frontier (shrinking, vocabulary-bounded) against the persisted
    * adjacency and anti-joins the visited set — work per round is
    * proportional to the frontier's out-degree sum, the textbook
    * Pregel/BSP step. Rounds run on [[graft.Fixpoint]] and stop as soon
    * as a frontier comes back empty, so a graph whose component is
    * exhausted early doesn't keep launching no-op join jobs out to
    * `maxHops`.
    */
  def bfsHops(
      spark: SparkSession,
      docs: DataFrame,
      text: Column,
      maxHops: Int): DataFrame = {
    val adj = CacheScope.persist(undirectedAdjacency(docs, text))
    val input = Fixpoint.counted(adj)
    val seed = Fixpoint.Bounded(
      adj.agg(min(col("u")).as("token"))
        .filter(col("token").isNotNull)
        .select(col("token"), lit(0).as("dist")),
      1L)
    val (visited, _, _) = Fixpoint.rounds(maxHops, input)((seed, seed, 1)) {
      case (visited, frontier, h) =>
        val next = Fixpoint.cut(
          adj.join(frontier.hinted, adj("u") === frontier.df("token"))
            .select(adj("v").as("token"))
            .distinct()
            .join(visited.hinted, Seq("token"), "left_anti")
            .select(col("token"), lit(h).as("dist")))
        if (next.rows == 0) None
        else Some((Fixpoint.Bounded(visited.df.unionAll(next.df), visited.rows + next.rows),
          next, h + 1))
    }
    Fixpoint.finish(input)(visited.df)
  }

  /** `iters` rounds of HITS (hubs & authorities) over the DISTINCT
    * bigram digraph — the second classic link-centrality next to
    * [[pagerankE6]], and the one that separates the two roles PageRank
    * conflates: a token that POINTS AT important tokens (hub) vs one
    * that important tokens point at (authority).
    *
    * Same determinism contract as PageRank: integer arithmetic end to
    * end. HITS normally normalizes by the L2 norm each round (a sqrt —
    * not portable bit-for-bit); this formulation normalizes by the
    * per-round MAXIMUM instead, scores in ppm of the round's top node.
    * Max-normalization keeps the iteration's fixed direction (it is
    * still power iteration on AᵀA / AAᵀ, just scaled differently each
    * round) and every step stays an exact integer: sum, max, one
    * integral division routed through DECIMAL(38,0) so `s·10⁶` cannot
    * wrap at web-scale vocabularies.
    *
    * Takes the directed edge list (w1 → w2) directly — HITS is only
    * informative on a graph with degree STRUCTURE, and the caller
    * owns that choice (e.g. the above-mean co-occurrence backbone the
    * q244 gate builds; the raw bigram graph of a small vocabulary is
    * near-complete and every score collapses to the trivial fixpoint).
    * Duplicate edges are deduplicated here.
    *
    * Scale shape: the persisted distinct-edge relation is joined twice
    * per round against vocabulary-sized score relations; each round is
    * two equi-joins + two aggregates + two scalar-max broadcasts on
    * [[graft.Fixpoint]]. Each half-round's sum aggregate is the cut
    * state: it is referenced twice (values and their max). Returns
    * (token, auth_e6, hub_e6): 0 marks a node absent from that role's
    * domain (no in-edges / no out-edges).
    */
  def hitsE6(
      spark: SparkSession,
      edgeList: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val edges = CacheScope.persist(
      edgeList.select(col("w1"), col("w2")).distinct())
    // every score relation has at most one row per edge
    val input = Fixpoint.counted(edges)
    def scores(df: DataFrame) = Fixpoint.Bounded(df, input.rows).hinted
    val e6 = "CAST((CAST(s AS DECIMAL(38,0)) * 1000000) div m AS BIGINT)"
    val hub0 = edges.select(col("w1").as("w")).distinct()
      .withColumn("v", lit(1000000L))
    // round 1 replaces the placeholder authority scores
    val (auth, hub) = Fixpoint.rounds(iters, input)((hub0, hub0)) { case (_, hub) =>
      val as = Fixpoint.mark(edges.join(scores(hub), edges("w1") === hub("w"))
        .groupBy(edges("w2")).agg(sum(col("v")).cast("long").as("s")))
      val auth = as.crossJoin(broadcast(as.agg(max(col("s")).as("m"))))
        .select(col("w2").as("w"), expr(e6).as("v"))
      val hs = Fixpoint.mark(edges.join(scores(auth), edges("w2") === auth("w"))
        .groupBy(edges("w1")).agg(sum(col("v")).cast("long").as("s")))
      Some((auth, hs.crossJoin(broadcast(hs.agg(max(col("s")).as("m"))))
        .select(col("w1").as("w"), expr(e6).as("v"))))
    }
    // Final combine as union + groupBy, not FULL OUTER join: both sides
    // are uniquely keyed on w (groupBy outputs), so the two are
    // result-identical — max over {score, null} is the score, an
    // absent side stays null → coalesce 0 — but the aggregate costs ONE
    // exchange with map-side partials where the full-outer SortMergeJoin
    // cost two exchanges plus two sorts (full outer cannot broadcast;
    // r19 §3, the q244 plan's last remaining SMJ pair).
    Fixpoint.finish(input)(auth.select(col("w"), col("v").as("auth_e6"),
        lit(null).cast("long").as("hub_e6"))
      .unionByName(hub.select(col("w"),
        lit(null).cast("long").as("auth_e6"), col("v").as("hub_e6")))
      .groupBy("w")
      .agg(max(col("auth_e6")).as("auth_e6"), max(col("hub_e6")).as("hub_e6"))
      .select(col("w").as("token"),
        coalesce(col("auth_e6"), lit(0L)).as("auth_e6"),
        coalesce(col("hub_e6"), lit(0L)).as("hub_e6")))
  }
}
