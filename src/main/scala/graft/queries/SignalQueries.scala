package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm.{RandomProjection, Similarity, TokenGraph}

/** Round-10 session-3 signal operators: JL random-projection search
  * with measured recall (q243 — the dimensionality-reduction path of
  * the ANN family) and HITS hub/authority centrality (q244 — the
  * second link-analysis signal next to PageRank).
  */
object SignalQueries {

  /** Each normalized round is ONE chained CTE using `max(s) OVER ()`
    * rather than a separate scalar-max CTE: a per-round max CTE would
    * reference the sum CTE a second time, and an engine that inlines
    * CTEs (DuckDB) then doubles the expanded plan per round — 2¹²
    * expansion over six rounds, observed as a hung oracle. The window
    * form keeps every CTE referenced exactly once, so expansion is
    * linear; the window itself is over a vocabulary-sized relation.
    */
  private def hitsOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "h0" else s"h${i - 1}"
      s"""a$i AS (SELECT w, CAST((CAST(s AS HUGEINT) * 1000000)
                                 // max(s) OVER () AS BIGINT) AS v
                  FROM (SELECT e.w2 AS w, CAST(sum(p.v) AS BIGINT) AS s
                        FROM e JOIN $prev p ON e.w1 = p.w GROUP BY 1)),
         h$i AS (SELECT w, CAST((CAST(s AS HUGEINT) * 1000000)
                                // max(s) OVER () AS BIGINT) AS v
                 FROM (SELECT e.w1 AS w, CAST(sum(p.v) AS BIGINT) AS s
                       FROM e JOIN a$i p ON e.w2 = p.w GROUP BY 1))"""
    }.mkString(",\n         ")
    s"""WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents),
       e0 AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                            i -> ws[i] || ' ' || ws[i+1])) AS ab
              FROM d WHERE len(ws) >= 2),
       ec AS (SELECT string_split(ab, ' ')[1] AS w1,
                     string_split(ab, ' ')[2] AS w2,
                     CAST(count(*) AS BIGINT) AS c
              FROM e0 GROUP BY 1, 2),
       e AS (SELECT w1, w2 FROM ec,
                  (SELECT CAST(sum(c) AS BIGINT) AS total,
                          CAST(count(*) AS BIGINT) AS n_pairs FROM ec) t
             WHERE c * n_pairs >= total),
       h0 AS (SELECT DISTINCT w1 AS w, CAST(1000000 AS BIGINT) AS v FROM e),
       $rounds
       SELECT coalesce(a.w, h.w) AS token,
              coalesce(a.v, CAST(0 AS BIGINT)) AS auth_e6,
              coalesce(h.v, CAST(0 AS BIGINT)) AS hub_e6
       FROM a$iters a FULL JOIN h$iters h ON a.w = h.w
       ORDER BY auth_e6 DESC, token"""
  }

  val specs: Map[String, QuerySpec] = Map(

    // Q243: signed random projection (64→16 dims) with measured
    // recall@10 against the exact full-dimension ranking — the
    // measure-then-trust discipline of q238 applied to JL sketching:
    // the projection is only worth its 4× bandwidth cut if the recall
    // it buys is known, so the gate emits it. Projection is map-only
    // (plan-literal ±1 matrix, integer dots inside codegen); both
    // ranking legs are broadcast-query scans with
    // WindowGroupLimit-bounded top-10s; recall is a |queries|·k join.
    "q243_random_projection" -> QuerySpec(
      (s, dir) => {
        val qids = Seq(2L, 7L, 13L)
        val emb = Tables.embeddings(s, dir)
        val exact = Similarity.bruteForceTopK(
          emb.filter(col("vec_id").isin(qids: _*)),
          emb.filter(!col("vec_id").isin(qids: _*)),
          "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("candidate_id"), lit(1L).as("hit"))
        val p = RandomProjection.project(emb, "vec_id", "embedding",
          outDim = 16, dim = 64)
          .withColumn("n", RandomProjection.normSq(col("proj")))
        val q = p.filter(col("vec_id").isin(qids: _*))
          .select(col("vec_id").as("query_id"), col("proj").as("qp"),
            col("n").as("qn"))
        val c = p.filter(!col("vec_id").isin(qids: _*))
          .select(col("vec_id").as("candidate_id"), col("proj").as("cp"),
            col("n").as("cn"))
        val projTop = c.crossJoin(broadcast(q))
          .withColumn("cosine", Similarity.cosine(
            Similarity.intDot(col("qp"), col("cp")), col("qn"), col("cn")))
          .withColumn("rank", row_number().over(
            Window.partitionBy("query_id")
              .orderBy(desc("cosine"), col("candidate_id"))))
          .filter(col("rank") <= 10)
        projTop
          .join(exact, Seq("query_id", "candidate_id"), "left")
          .groupBy("query_id")
          .agg(sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
          .select(col("query_id").cast("long").as("query_id"),
            lit(10L).as("k"), col("n_hits"),
            (col("n_hits") * 100000L).cast("long").as("recall_ppm"))
          .orderBy("query_id")
      },
      s"""WITH planes AS (SELECT p, d,
                   CASE WHEN ${OracleIdioms.hex60(
                     "CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)")}
                        % 2 = 0 THEN 1 ELSE -1 END AS sg
                 FROM generate_series(0, 15) t(p),
                      generate_series(1, 64) u(d)),
         av AS (SELECT vec_id,
                       list_transform(embedding,
                         x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))
                         AS e
                FROM embeddings),
         an AS (SELECT vec_id, e,
                       CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT)
                         AS n
                FROM av),
         escore AS (SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
                      CAST(CAST(list_sum(list_transform(list_zip(q.e, c.e),
                                                        z -> z[1]*z[2]))
                                AS BIGINT) AS DOUBLE)
                        / (sqrt(CAST(q.n AS DOUBLE))
                           * sqrt(CAST(c.n AS DOUBLE))) AS cosine
                    FROM an c, an q
                    WHERE q.vec_id IN (2, 7, 13)
                      AND c.vec_id NOT IN (2, 7, 13)),
         etop AS (SELECT query_id, candidate_id FROM
                  (SELECT query_id, candidate_id,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, candidate_id) AS r
                   FROM escore) WHERE r <= 10),
         pr AS (SELECT vec_id, p, CAST(sum(sg * e[d]) AS BIGINT) AS v
                FROM av CROSS JOIN planes GROUP BY 1, 2),
         pn AS (SELECT vec_id, CAST(sum(v*v) AS BIGINT) AS n
                FROM pr GROUP BY 1),
         pd AS (SELECT qq.vec_id AS query_id, cc.vec_id AS candidate_id,
                       CAST(sum(qq.v * cc.v) AS BIGINT) AS dot
                FROM pr qq JOIN pr cc ON qq.p = cc.p
                WHERE qq.vec_id IN (2, 7, 13)
                  AND cc.vec_id NOT IN (2, 7, 13)
                GROUP BY 1, 2),
         pcos AS (SELECT query_id, candidate_id,
                         CAST(dot AS DOUBLE)
                           / (sqrt(CAST(a.n AS DOUBLE))
                              * sqrt(CAST(b.n AS DOUBLE))) AS cosine
                  FROM pd
                  JOIN pn a ON a.vec_id = pd.query_id
                  JOIN pn b ON b.vec_id = pd.candidate_id),
         ptop AS (SELECT query_id, candidate_id FROM
                  (SELECT query_id, candidate_id,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, candidate_id) AS r
                   FROM pcos) WHERE r <= 10)
         SELECT CAST(p.query_id AS BIGINT) AS query_id,
                CAST(10 AS BIGINT) AS k,
                CAST(count(e.candidate_id) AS BIGINT) AS n_hits,
                CAST(count(e.candidate_id) * 100000 AS BIGINT) AS recall_ppm
         FROM ptop p
         LEFT JOIN etop e ON e.query_id = p.query_id
           AND e.candidate_id = p.candidate_id
         GROUP BY 1 ORDER BY 1"""),

    // Q244: HITS hubs & authorities, 6 max-normalized integer rounds
    // ([[TokenGraph.hitsE6]]) over the ABOVE-MEAN co-occurrence
    // backbone: keep bigram edges whose multiplicity is at least the
    // mean multiplicity (c·n_pairs ≥ total — an exact integer
    // compare, and scale-invariant, unlike a fixed count threshold).
    // The raw bigram graph of this vocabulary is near-complete, which
    // collapses HITS to the trivial all-equal fixpoint; the backbone
    // has degree structure, so hubs and authorities separate. All
    // sums/maxes/divisions exact, the 10⁶-scaled product routed
    // through DECIMAL(38,0)/HUGEINT. The oracle unrolls the same six
    // rounds as generated CTEs. Per round: two vocabulary-sized
    // equi-joins against the persisted edge list — never corpus-sized.
    "q244_hits" -> QuerySpec(
      (s, dir) => {
        val weighted = TokenGraph.bigramEdges(
          Tables.documents(s, dir), col("text"))
        val tot = weighted.agg(
          sum(col("c")).cast("long").as("total"),
          count(lit(1)).cast("long").as("n_pairs"))
        val backbone = weighted.crossJoin(broadcast(tot))
          .filter(col("c") * col("n_pairs") >= col("total"))
          .select(col("w1"), col("w2"))
        TokenGraph.hitsE6(s, backbone, iters = 6)
          .orderBy(desc("auth_e6"), col("token"))
      },
      hitsOracle(6)))
}
