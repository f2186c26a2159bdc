package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Tables, TempDirs}

/** Round-9 statistics / experimentation surface: the hypothesis-test,
  * sampling, and view-maintenance operators a training-data platform
  * runs ON TOP of the raw pipeline — split assignment, drift tests,
  * association mining, incremental view maintenance.
  *
  * Design rule shared by every gate here: any statistic that would
  * naively be a floating-point fold (chi-squared, rank sums, OLS
  * coefficients, lift) is computed in EXACT integer arithmetic —
  * rationals scaled to ppm with truncating division (`div`, identical
  * to DuckDB's `//` toward-zero semantics, verified both engines) —
  * so results are bit-stable under any partitioning / visit order.
  * A double fold would make the answer depend on partition count,
  * which is exactly what a 1000-executor re-run must not do.
  */
object StatQueries {

  val specs: Map[String, QuerySpec] = Map(

    // Q179: deterministic train/val/test split assignment — the
    // content-stable 80/10/10 hash split every training pipeline needs.
    // split(doc) = md5(doc_id) mod 100 (native codegen'd Md5Prefix60),
    // so assignment is a pure map: no shuffle, no RNG state, stable
    // under re-runs, re-partitioning, and incremental appends (a new
    // doc never moves an old doc's split — the property
    // sample()/rand(seed) cannot give, since those depend on partition
    // layout). The verification agg is one map-side-combined shuffle.
    "q179_hash_split" -> QuerySpec(
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .withColumn("b",
            expr("md5_prefix60(CAST(doc_id AS STRING)) % 100"))
          .withColumn("split",
            when(col("b") < 80, "train")
              .when(col("b") < 90, "val")
              .otherwise("test"))
        d.groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"))
          .orderBy("lang", "split")
      },
      """WITH h AS (SELECT lang, n_chars,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                        % 100 AS b
                    FROM documents)
         SELECT lang,
                CASE WHEN b < 80 THEN 'train'
                     WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM h GROUP BY 1, 2 ORDER BY lang, split"""),

    // Q180: chi-squared independence test (lang x source contingency)
    // in EXACT integer ppm. Per cell (o - e)^2/e with e = r*c/n
    // rewrites rationally to (o*n - r*c)^2 / (n*r*c); each cell's term
    // is floored to ppm and summed — including the zero-observed cells
    // the full r x c grid implies (a sum over observed cells only
    // understates chi2). Plan: one count aggregate over the fact, then
    // a cells-sized (langs x sources) broadcast cross grid — the fact
    // is scanned once; the statistic is assembled from aggregates.
    "q180_chi2_independence" -> QuerySpec(
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("g_q180_documents")
        s.sql("""
          WITH o AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
                     FROM g_q180_documents GROUP BY 1, 2),
          r AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM o GROUP BY 1),
          c AS (SELECT source, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY 1),
          n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
          grid AS (SELECT r.lang, c.source, r.r, c.c, n.n,
                          COALESCE(o.o, CAST(0 AS BIGINT)) AS o
                   FROM r CROSS JOIN c CROSS JOIN n
                   LEFT JOIN o ON o.lang = r.lang AND o.source = c.source),
          cell AS (SELECT n,
                          (CAST(o*n - r*c AS DECIMAL(38,0))
                           * CAST(o*n - r*c AS DECIMAL(38,0))
                           * 1000000) div (n*r*c) AS t
                   FROM grid)
          SELECT CAST(sum(t) AS BIGINT) AS chi2_ppm,
                 CAST((SELECT count(*) - 1 FROM r)
                      * (SELECT count(*) - 1 FROM c) AS BIGINT) AS dof,
                 CAST(max(n) AS BIGINT) AS n
          FROM cell""")
      },
      """WITH o AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
                    FROM documents GROUP BY 1, 2),
         r AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM o GROUP BY 1),
         c AS (SELECT source, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY 1),
         n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
         grid AS (SELECT r.lang, c.source, r.r, c.c, n.n,
                         COALESCE(o.o, CAST(0 AS BIGINT)) AS o
                  FROM r CROSS JOIN c CROSS JOIN n
                  LEFT JOIN o ON o.lang = r.lang AND o.source = c.source),
         cell AS (SELECT n,
                         (CAST(o*n - r*c AS HUGEINT)
                          * CAST(o*n - r*c AS HUGEINT)
                          * 1000000) // (CAST(n AS HUGEINT)*r*c) AS t
                  FROM grid)
         SELECT CAST(sum(t) AS BIGINT) AS chi2_ppm,
                CAST((SELECT count(*) - 1 FROM r)
                     * (SELECT count(*) - 1 FROM c) AS BIGINT) AS dof,
                CAST(max(n) AS BIGINT) AS n
         FROM cell"""),

    // Q181: Mann-Whitney rank-sum drift test (click vs purchase event
    // values) — the nonparametric two-sample test that catches
    // distribution shift the mean misses, and the tie-robust companion
    // to the KS gate (q122). Ranks stay exact integers: with rmin =
    // min rank of a value and tc its tie count, 2*avg_rank = 2*rmin +
    // tc - 1, so the doubled rank sum R2 and U-statistic 2U = R2 -
    // n(n+1) are integer-exact under any tie structure. Plan: one
    // global sort (rank needs it), tie counts by a value-partitioned
    // window on the same sorted exchange, then a two-row aggregate.
    "q181_mann_whitney" -> QuerySpec(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("g_q181_events")
        s.sql("""
          WITH sample AS (SELECT event_type AS grp, value
                          FROM g_q181_events
                          WHERE event_type IN ('click', 'purchase')),
          ranked AS (SELECT grp,
                            rank() OVER (ORDER BY value) AS rmin,
                            count(*) OVER (PARTITION BY value) AS tc
                     FROM sample),
          agg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(2*rmin + tc - 1) AS BIGINT) AS r2
                  FROM ranked GROUP BY 1)
          SELECT grp, n, r2 - n*(n+1) AS u2
          FROM agg ORDER BY grp""")
      },
      """WITH sample AS (SELECT event_type AS grp, value
                         FROM events
                         WHERE event_type IN ('click', 'purchase')),
         ranked AS (SELECT grp,
                           rank() OVER (ORDER BY value) AS rmin,
                           count(*) OVER (PARTITION BY value) AS tc
                    FROM sample),
         agg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(2*rmin + tc - 1) AS BIGINT) AS r2
                 FROM ranked GROUP BY 1)
         SELECT grp, n, r2 - n*(n+1) AS u2
         FROM agg ORDER BY grp"""),

    // Q182: grouped OLS regression (n_chars on whitespace token count,
    // per language) from sufficient statistics — slope, intercept, and
    // R^2 in exact integer ppm. One map-side-combined aggregate
    // collects (n, Sx, Sy, Sxy, Sxx, Syy); the closed-form
    // slope = (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) is a ratio of exact
    // integers, floored to ppm; intercept and R^2 derive the same way
    // (R^2's num^2 term routed through DECIMAL(38,0) — it exceeds
    // int64). No per-row residual pass, no iterative solver: at 100 TB
    // this is one scan and a groups-sized result.
    "q182_ols_groups" -> QuerySpec(
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("g_q182_documents")
        s.sql("""
          WITH xy AS (SELECT lang,
                             CAST(size(split(text, ' ')) AS BIGINT) AS x,
                             CAST(n_chars AS BIGINT) AS y
                      FROM g_q182_documents),
          m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(x*y) AS BIGINT) AS sxy,
                       CAST(sum(x*x) AS BIGINT) AS sxx,
                       CAST(sum(y*y) AS BIGINT) AS syy
                FROM xy GROUP BY 1),
          d AS (SELECT lang, n, sx, sy,
                       n*sxy - sx*sy AS num,
                       n*sxx - sx*sx AS den,
                       n*syy - sy*sy AS deny
                FROM m)
          SELECT lang, n,
                 CAST((CAST(num AS DECIMAL(38,0)) * 1000000) div den
                      AS BIGINT) AS slope_ppm,
                 CAST((CAST(sy AS DECIMAL(38,0)) * 1000000
                       - ((CAST(num AS DECIMAL(38,0)) * 1000000) div den) * sx)
                      div n AS BIGINT) AS intercept_ppm,
                 (CAST(num AS DECIMAL(38,0)) * CAST(num AS DECIMAL(38,0))
                  * 1000000)
                   div (CAST(den AS DECIMAL(38,0)) * CAST(deny AS DECIMAL(38,0)))
                   AS r2_ppm
          FROM d ORDER BY lang""")
      },
      """WITH xy AS (SELECT lang,
                            CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
                            CAST(n_chars AS BIGINT) AS y
                     FROM documents),
         m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(x*y) AS BIGINT) AS sxy,
                      CAST(sum(x*x) AS BIGINT) AS sxx,
                      CAST(sum(y*y) AS BIGINT) AS syy
               FROM xy GROUP BY 1),
         d AS (SELECT lang, n, sx, sy,
                      n*sxy - sx*sy AS num,
                      n*sxx - sx*sx AS den,
                      n*syy - sy*sy AS deny
               FROM m)
         SELECT lang, n,
                CAST((CAST(num AS HUGEINT) * 1000000) // den
                     AS BIGINT) AS slope_ppm,
                CAST((CAST(sy AS HUGEINT) * 1000000
                      - ((CAST(num AS HUGEINT) * 1000000) // den) * sx)
                     // n AS BIGINT) AS intercept_ppm,
                CAST((CAST(num AS HUGEINT) * CAST(num AS HUGEINT) * 1000000)
                     // (CAST(den AS HUGEINT) * CAST(deny AS HUGEINT))
                     AS BIGINT) AS r2_ppm
         FROM d ORDER BY lang"""),

    // Q183: incremental view maintenance for a JOIN view (delta rules)
    // — the per-nation revenue view M = orders |X| customer maintained
    // under simultaneous inserts on BOTH sides. New state =
    // old partials + [dA |X| B0  UNION  A0 |X| dB  UNION  dA |X| dB]
    // aggregated — the classic delta-join identity. The base
    // contribution is kept as per-nation (count, cents) PARTIALS and
    // never recomputed; only delta-sized joins run at refresh, so a
    // 1 GB batch against a 100 TB view costs O(delta join) + a
    // groups-sized merge, not a view rebuild. The oracle recomputes
    // the full join from scratch — the identity the maintenance must
    // reproduce exactly.
    "q183_ivm_delta_join" -> QuerySpec(
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
        val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
        val oBase = o.filter(col("o_orderkey") % 10 =!= 0)
        val oDelta = o.filter(col("o_orderkey") % 10 === 0)
        val cBase = c.filter(col("c_custkey") % 13 =!= 0)
        val cDelta = c.filter(col("c_custkey") % 13 === 0)
        def joined(a: DataFrame, b: DataFrame): DataFrame =
          a.join(b, a("o_custkey") === b("c_custkey"))
            .select(b("c_nationkey"), a("cents"))
        def partials(df: DataFrame): DataFrame =
          df.groupBy("c_nationkey")
            .agg(count(lit(1)).as("pn"), sum("cents").as("pc"))
        // the standing view state: per-nation partials of A0 |X| B0
        val viewState = partials(joined(oBase, cBase))
        // refresh: three delta-sized joins, aggregated once
        val deltaState = partials(
          joined(oDelta, cBase)
            .unionByName(joined(oBase, cDelta))
            .unionByName(joined(oDelta, cDelta)))
        viewState.unionByName(deltaState)
          .groupBy("c_nationkey")
          .agg(sum("pn").as("n_orders"), sum("pc").as("revenue_e2"))
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"), col("n_orders"), col("revenue_e2"))
          .orderBy("n_name")
      },
      """SELECT n.n_name,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CAST(round(o.o_totalprice*100) AS BIGINT)) AS BIGINT)
                  AS revenue_e2
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1 ORDER BY n_name"""),

    // Q184: market-basket association mining — brand pairs co-bought
    // in one order, with support and lift in exact ppm. The pair
    // generator is a SELF-JOIN ON THE ORDER KEY over the distinct
    // (order, brand) relation, so fan-out is C(basket,2) per order —
    // bounded by basket size (<= 13 lines here), never all-pairs over
    // the catalog. Lift = P(ab)/(P(a)P(b)) rewrites to the integer
    // ratio (n_ab * n_orders * 1e6) div (n_a * n_b). Top-20 by
    // support with a total tiebreak.
    "q184_basket_lift" -> QuerySpec(
      (s, dir) => {
        // the basket relation feeds FOUR consumers (the order count,
        // the singles aggregate, and both sides of the pair self-join);
        // as a WITH-clause CTE Catalyst inlines it and the fact-side
        // join + distinct executed four times (r19 plan audit) —
        // persist it once and let the SQL read the cached view
        graft.CacheScope.persist(
          Tables.lineitem(s, dir).alias("l")
            .join(Tables.part(s, dir).alias("p"),
              org.apache.spark.sql.functions.col("l.l_partkey") ===
                org.apache.spark.sql.functions.col("p.p_partkey"))
            .select(org.apache.spark.sql.functions.col("l.l_orderkey"),
              org.apache.spark.sql.functions.col("p.p_brand"))
            .distinct())
          .createOrReplaceTempView("g_q184_basket")
        s.sql("""
          WITH basket AS (SELECT l_orderkey, p_brand FROM g_q184_basket),
          n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
                FROM basket),
          singles AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_1
                      FROM basket GROUP BY 1),
          pairs AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                           CAST(count(*) AS BIGINT) AS support
                    FROM basket a
                    JOIN basket b ON a.l_orderkey = b.l_orderkey
                                 AND a.p_brand < b.p_brand
                    GROUP BY 1, 2)
          SELECT p.brand_a, p.brand_b, p.support,
                 CAST((CAST(p.support AS DECIMAL(38,0)) * n.n_orders * 1000000)
                      div (CAST(sa.n_1 AS DECIMAL(38,0)) * sb.n_1)
                      AS BIGINT) AS lift_ppm
          FROM pairs p
          JOIN singles sa ON sa.p_brand = p.brand_a
          JOIN singles sb ON sb.p_brand = p.brand_b
          CROSS JOIN n
          ORDER BY p.support DESC, p.brand_a, p.brand_b
          LIMIT 20""")
      },
      """WITH basket AS (SELECT DISTINCT l.l_orderkey, p.p_brand
                         FROM lineitem l
                         JOIN part p ON l.l_partkey = p.p_partkey),
         n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
               FROM basket),
         singles AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_1
                     FROM basket GROUP BY 1),
         pairs AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                          CAST(count(*) AS BIGINT) AS support
                   FROM basket a
                   JOIN basket b ON a.l_orderkey = b.l_orderkey
                                AND a.p_brand < b.p_brand
                   GROUP BY 1, 2)
         SELECT p.brand_a, p.brand_b, p.support,
                CAST((CAST(p.support AS HUGEINT) * n.n_orders * 1000000)
                     // (CAST(sa.n_1 AS HUGEINT) * sb.n_1)
                     AS BIGINT) AS lift_ppm
         FROM pairs p
         JOIN singles sa ON sa.p_brand = p.brand_a
         JOIN singles sb ON sb.p_brand = p.brand_b
         CROSS JOIN n
         ORDER BY p.support DESC, p.brand_a, p.brand_b
         LIMIT 20"""),

    // Q185: weighted sampling without replacement (Efraimidis-Spirakis
    // exponential-rank), per language, k = 5, weight = n_chars — but
    // DERANDOMIZED: the uniform draw is u = (md5(doc_id)+1)/2^60 from
    // the native content hash, so the "random" sample is a pure
    // function of the data (reproducible across runs, appends, and
    // partitionings — the property a training-data sampler must have
    // for auditable dataset lineage). Rank key ln(u)/w never leaves
    // the plan (float keys are compared, not emitted), and the window
    // top-k plans as WindowGroupLimit: per-group k-row state, no
    // global sort of the corpus.
    // LIBM ASSUMPTION (the one float-keyed comparison in the gate
    // surface): the rank key ln(u)/w is an IEEE double on both
    // engines, and the gate holds because ordering — not the value —
    // is emitted. Two near-equal keys could in principle order
    // differently if the harness's libm ln() rounds the last ulp
    // differently than the JVM's StrictMath-backed log; with
    // 60-bit-hash-derived u values the minimum observed key gap at
    // these SFs is orders of magnitude above 1 ulp, and any future
    // flake here should be read as that assumption breaking (swap in
    // the integer surrogate ordering from q208 if it ever does).
    "q185_weighted_sample" -> QuerySpec(
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .withColumn("u",
            (expr("md5_prefix60(CAST(doc_id AS STRING))") + 1)
              .cast("double") / lit(1152921504606846976.0))
          .withColumn("es_key", log(col("u")) / col("n_chars"))
        d.withColumn("rank",
            row_number().over(
              Window.partitionBy("lang").orderBy(desc("es_key"))))
          .filter(col("rank") <= 5)
          .select(col("lang"), col("rank").cast("long").as("rank"),
            col("doc_id"), col("n_chars").as("weight"))
          .orderBy("lang", "rank")
      },
      """WITH u AS (SELECT lang, doc_id, n_chars,
                      ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                              + 1 AS DOUBLE) / 1152921504606846976.0)
                        / n_chars AS es_key
                    FROM documents),
         r AS (SELECT lang, doc_id, n_chars,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY es_key DESC) AS rank
               FROM u)
         SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id,
                n_chars AS weight
         FROM r WHERE rank <= 5 ORDER BY lang, rank"""),

    // Q190: EXACT set-similarity self-join with prefix filtering
    // (AllPairs/PPJoin family) — Jaccard >= 0.5 over document token
    // sets. Unlike the MinHash/LSH gates (probabilistic recall), this
    // is exact: candidates come from an equi-join on PREFIX tokens
    // only — each doc indexes its |T| - ceil(0.5|T|) + 1 rarest tokens
    // (global df order) — and the pigeonhole guarantee says every
    // qualifying pair shares a prefix token, so the pruning loses
    // nothing. The oracle is the DEFINITIONAL full inverted-index
    // join, which is what makes the completeness claim a checked
    // property rather than scaladoc. Stop-word postings never join:
    // at 100 TB the full-index self-join dies on frequent-token
    // posting lists; the prefix index keeps only rare-token postings.
    // The threshold test 2c >= (na + nb - c) and the emitted j_ppm
    // are exact integers. Scoped to ONE source shard: this corpus is
    // near-duplicate-dense by construction (8.9M qualifying pairs
    // across shards at sf0.1 — quadratic in the data, not the plan),
    // and the shard-local pass is how exact similarity join is
    // actually deployed: LSH routes ACROSS shards, exact verification
    // runs WITHIN the bounded blocks.
    "q190_ppjoin" -> QuerySpec(
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("g_q190_documents")
        // r19 §2.4 note: persisting tok (it feeds sz, freq, ord, and
        // both common-count sides — 5 inline re-derivations, 10 scans
        // in the static plan) was MEASURED here and REGRESSED 2.3×
        // (2.71→6.25 s, bench protocol): the distinct token set is
        // token-scale, each consumer re-derivation is a column-pruned
        // scan + codegen explode that runs fully parallel, and the
        // cached rows cost more to write+read than to recompute.
        // Left inline — at 100 TB the call is the same (recompute beats
        // caching a corpus-sized intermediate; only strata/vocab-sized
        // subtrees earn a persist, cf. q219/q255/q226).
        s.sql("""
          WITH tok AS (SELECT DISTINCT doc_id, t FROM
                         (SELECT doc_id, explode(split(text, ' ')) AS t
                          FROM g_q190_documents
                          WHERE source = 'src0')
                       WHERE t <> ''),
          sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                 FROM tok GROUP BY 1),
          freq AS (SELECT t, CAST(count(*) AS BIGINT) AS df
                   FROM tok GROUP BY 1),
          ord AS (SELECT tok.doc_id, tok.t, sz.n,
                         row_number() OVER (PARTITION BY tok.doc_id
                                            ORDER BY freq.df, tok.t) AS rn
                  FROM tok
                  JOIN freq ON tok.t = freq.t
                  JOIN sz ON tok.doc_id = sz.doc_id),
          pref AS (SELECT doc_id, t FROM ord
                   WHERE rn <= n - ((n + 1) div 2) + 1),
          cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                   FROM pref a JOIN pref b
                     ON a.t = b.t AND a.doc_id < b.doc_id),
          common AS (SELECT c.d1, c.d2, CAST(count(*) AS BIGINT) AS c
                     FROM cand c
                     JOIN tok x ON x.doc_id = c.d1
                     JOIN tok y ON y.doc_id = c.d2 AND y.t = x.t
                     GROUP BY 1, 2)
          SELECT common.d1, common.d2,
                 (common.c * 1000000) div (sa.n + sb.n - common.c) AS j_ppm
          FROM common
          JOIN sz sa ON sa.doc_id = common.d1
          JOIN sz sb ON sb.doc_id = common.d2
          WHERE 2 * common.c >= sa.n + sb.n - common.c
          ORDER BY d1, d2""")
      },
      """WITH tok AS (SELECT DISTINCT doc_id, t FROM
                        (SELECT doc_id,
                                unnest(list_filter(string_split(text, ' '),
                                                   x -> x <> '')) AS t
                         FROM documents
                         WHERE source = 'src0')),
         sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                FROM tok GROUP BY 1),
         common AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                           CAST(count(*) AS BIGINT) AS c
                    FROM tok a JOIN tok b
                      ON a.t = b.t AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
         SELECT common.d1, common.d2,
                (common.c * 1000000) // (sa.n + sb.n - common.c) AS j_ppm
         FROM common
         JOIN sz sa ON sa.doc_id = common.d1
         JOIN sz sb ON sb.doc_id = common.d2
         WHERE 2 * common.c >= sa.n + sb.n - common.c
         ORDER BY d1, d2"""),

    // Q191: KMV (k-minimum-values) distinct sketch per event type,
    // k = 64 — the third distinct-sketch family member (bitmap = exact
    // buckets, HLL = log-log registers, KMV = order statistics), with
    // the one property the others lack: partials are a uniform hash
    // SAMPLE, so the 'ALL' row below merges the five per-type sketches
    // themselves (flatten -> distinct -> take k) without re-touching
    // raw rows — union estimation from kilobytes. Estimate
    // (k-1)*2^60 div h_k is one exact integer division (routed through
    // DECIMAL/HUGEINT: 63*2^60 overflows int64); the oracle rebuilds
    // the same order statistics with a row_number window.
    "q191_kmv_distinct" -> QuerySpec(
      (s, dir) => {
        val kmv = udaf(new graft.functions.KmvSketchAgg(64))
        val perType = Tables.events(s, dir)
          .select(col("event_type"),
            expr("md5_prefix60(CAST(user_id AS STRING))").as("hv"),
            col("user_id"))
          .groupBy("event_type")
          .agg(kmv(col("hv")).as("sk"),
            countDistinct(col("user_id")).as("exact_n"))
        val merged = perType
          .agg(
            slice(array_sort(array_distinct(flatten(collect_list(col("sk"))))),
              1, 64).as("sk"))
          .join(Tables.events(s, dir)
            .agg(countDistinct(col("user_id")).as("exact_n")))
          .select(lit("ALL").as("event_type"), col("sk"), col("exact_n"))
        perType.select(col("event_type"), col("sk"), col("exact_n"))
          .unionByName(merged)
          .select(col("event_type"),
            size(col("sk")).cast("long").as("n_kept"),
            expr("try_element_at(sk, 64)").as("h_k"),
            when(size(col("sk")) < 64, size(col("sk")).cast("long"))
              .otherwise(expr(
                "(CAST(63 AS DECIMAL(38,0)) * 1152921504606846976) div try_element_at(sk, 64)"))
              .as("est"),
            col("exact_n").cast("long").as("exact_n"))
          .orderBy("event_type")
      },
      """WITH h AS (SELECT event_type,
                      ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                        AS hv
                    FROM events),
         d AS (SELECT DISTINCT event_type, hv FROM h),
         r AS (SELECT event_type, hv,
                      row_number() OVER (PARTITION BY event_type
                                         ORDER BY hv) AS rn
               FROM d),
         g AS (SELECT event_type FROM d GROUP BY 1),
         pt AS (SELECT r.event_type,
                       CAST(count(*) AS BIGINT) AS n_kept,
                       max(CASE WHEN rn = 64 THEN hv END) AS h_k
                FROM r WHERE rn <= 64 GROUP BY 1),
         ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
                         AS exact_n
                FROM events GROUP BY 1),
         da AS (SELECT DISTINCT hv FROM h),
         ra AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM da),
         pa AS (SELECT CAST(count(*) AS BIGINT) AS n_kept,
                       max(CASE WHEN rn = 64 THEN hv END) AS h_k
                FROM ra WHERE rn <= 64),
         exa AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n
                 FROM events),
         u AS (SELECT pt.event_type, pt.n_kept, pt.h_k, ex.exact_n
               FROM pt JOIN ex ON pt.event_type = ex.event_type
               UNION ALL
               SELECT 'ALL', pa.n_kept, pa.h_k, exa.exact_n
               FROM pa CROSS JOIN exa)
         SELECT event_type, n_kept, h_k,
                CASE WHEN n_kept < 64 THEN n_kept
                     ELSE CAST((CAST(63 AS HUGEINT)
                                * (CAST(1 AS BIGINT) << 60)) // h_k AS BIGINT)
                END AS est,
                exact_n
         FROM u ORDER BY event_type"""),

    // Q192: histogram-driven join-cardinality estimation — the
    // optimizer-side operator: estimate |orders self-join on custkey|
    // from a 256-bucket hash histogram ONLY (est = sum over buckets of
    // rows^2 div distinct-keys, the uniform-frequency assumption),
    // next to the exact answer sum(c_k^2) from the key-level
    // aggregate. Neither side executes the join: the point is that
    // the 256-row summary — the thing a planner can afford to ship
    // and intersect — prices a shuffle join before paying for it.
    // The estimation error the gate emits IS the skew signal (uniform
    // assumption vs true per-key counts).
    "q192_join_size_estimate" -> QuerySpec(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("g_q192_orders")
        s.sql("""
          WITH k AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS c
                     FROM g_q192_orders GROUP BY 1),
          actual AS (SELECT CAST(sum(c * c) AS BIGINT) AS actual
                     FROM k),
          b AS (SELECT md5_prefix60(CAST(o_custkey AS STRING)) % 256 AS bucket,
                       CAST(sum(c) AS BIGINT) AS rows_in_b,
                       CAST(count(*) AS BIGINT) AS keys_in_b
                FROM k GROUP BY 1),
          est AS (SELECT CAST(sum((CAST(rows_in_b AS DECIMAL(38,0)) * rows_in_b)
                                  div keys_in_b)
                              AS BIGINT) AS est
                  FROM b)
          SELECT est.est, actual.actual,
                 CAST((abs(CAST(est.est AS DECIMAL(38,0)) - actual.actual)
                       * 1000000) div actual.actual AS BIGINT)
                   AS err_ppm
          FROM est CROSS JOIN actual""")
      },
      """WITH k AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS c
                    FROM orders GROUP BY 1),
         actual AS (SELECT CAST(sum(c * c) AS BIGINT) AS actual FROM k),
         b AS (SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                        % 256 AS bucket,
                      CAST(sum(c) AS BIGINT) AS rows_in_b,
                      CAST(count(*) AS BIGINT) AS keys_in_b
               FROM k GROUP BY 1),
         est AS (SELECT CAST(sum((CAST(rows_in_b AS HUGEINT) * rows_in_b)
                                 // keys_in_b)
                             AS BIGINT) AS est
                 FROM b)
         SELECT est.est, actual.actual,
                CAST((abs(CAST(est.est AS HUGEINT) - actual.actual)
                      * 1000000) // actual.actual AS BIGINT)
                  AS err_ppm
         FROM est CROSS JOIN actual"""),

    // Q193: lag-k autocorrelation of the daily-revenue series (lags 1
    // and 7), exact to the last bit: the Pearson numerator/denominator
    // over (x_t, x_{t+k}) pairs are integer sums of the k$-quantized
    // series, and the emitted statistic is the SIGNED SQUARED
    // correlation in ppm — sign(num) * num^2 * 1e6 div (dx * dy) —
    // because r itself needs a square root and a square root is where
    // bit-stability dies. Lag is over the ordered present-day series
    // (row lag); one day-level aggregate, two window lags, one fold.
    "q193_autocorr_revenue" -> QuerySpec(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("g_q193_orders")
        s.sql("""
          WITH day AS (SELECT CAST(o_orderdate AS DATE) AS d,
                              sum(CAST(round(o_totalprice * 100) AS BIGINT))
                                div 100000 AS x
                       FROM g_q193_orders GROUP BY 1),
          lagged AS (SELECT d, x,
                            lag(x, 1) OVER (ORDER BY d) AS y1,
                            lag(x, 7) OVER (ORDER BY d) AS y7
                     FROM day),
          stats AS (
            SELECT 1L AS lag, CAST(count(*) AS BIGINT) AS n,
                   sum(x) AS sx, sum(y1) AS sy, sum(x*y1) AS sxy,
                   sum(x*x) AS sxx, sum(y1*y1) AS syy
            FROM lagged WHERE y1 IS NOT NULL
            UNION ALL
            SELECT 7L, CAST(count(*) AS BIGINT),
                   sum(x), sum(y7), sum(x*y7), sum(x*x), sum(y7*y7)
            FROM lagged WHERE y7 IS NOT NULL),
          d2 AS (SELECT lag, n,
                        n*sxy - sx*sy AS num,
                        n*sxx - sx*sx AS dx,
                        n*syy - sy*sy AS dy
                 FROM stats)
          SELECT lag, n AS n_pairs,
                 (CASE WHEN num < 0 THEN -1 ELSE 1 END)
                   * ((CAST(num AS DECIMAL(38,0)) * CAST(num AS DECIMAL(38,0))
                       * 1000000)
                      div (CAST(dx AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0))))
                   AS r2s_ppm
          FROM d2 ORDER BY lag""")
      },
      """WITH day AS (SELECT CAST(o_orderdate AS DATE) AS d,
                             sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               // 100000 AS x
                      FROM orders GROUP BY 1),
         lagged AS (SELECT d, x,
                           lag(x, 1) OVER (ORDER BY d) AS y1,
                           lag(x, 7) OVER (ORDER BY d) AS y7
                    FROM day),
         stats AS (
           SELECT CAST(1 AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y1) AS BIGINT) AS sy,
                  CAST(sum(x*y1) AS BIGINT) AS sxy,
                  CAST(sum(x*x) AS BIGINT) AS sxx,
                  CAST(sum(y1*y1) AS BIGINT) AS syy
           FROM lagged WHERE y1 IS NOT NULL
           UNION ALL
           SELECT CAST(7 AS BIGINT), CAST(count(*) AS BIGINT),
                  CAST(sum(x) AS BIGINT), CAST(sum(y7) AS BIGINT),
                  CAST(sum(x*y7) AS BIGINT), CAST(sum(x*x) AS BIGINT),
                  CAST(sum(y7*y7) AS BIGINT)
           FROM lagged WHERE y7 IS NOT NULL),
         d2 AS (SELECT lag, n,
                       n*sxy - sx*sy AS num,
                       n*sxx - sx*sx AS dx,
                       n*syy - sy*sy AS dy
                FROM stats)
         SELECT lag, n AS n_pairs,
                CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                  * ((CAST(num AS HUGEINT) * CAST(num AS HUGEINT) * 1000000)
                     // (CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)))
                  AS BIGINT) AS r2s_ppm
         FROM d2 ORDER BY lag"""),

    // Q194: 7-day trailing moving MEDIAN of daily revenue — the
    // robust smoother the moving average (q63) is not: one outlier
    // day saturates a mean but not a median. Exact and bit-stable:
    // the window carries the 7 daily values as a sorted array and
    // takes the LOWER median element — never a float average of
    // middle pairs (engines disagree on that; element selection they
    // cannot disagree on). State per window position is bounded by
    // the window length, the general pattern for any exact
    // order-statistic smoother.
    "q194_moving_median" -> QuerySpec(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("g_q194_orders")
        s.sql("""
          WITH day AS (SELECT CAST(o_orderdate AS DATE) AS d,
                              sum(CAST(round(o_totalprice * 100) AS BIGINT))
                                AS cents
                       FROM g_q194_orders GROUP BY 1),
          w AS (SELECT d, cents,
                       sort_array(collect_list(cents) OVER
                         (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
                         AS arr
                FROM day)
          SELECT d, cents,
                 element_at(arr, CAST((size(arr) + 1) div 2 AS INT))
                   AS med7_cents
          FROM w ORDER BY d""")
      },
      """WITH day AS (SELECT CAST(o_orderdate AS DATE) AS d,
                             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                                  AS BIGINT) AS cents
                      FROM orders GROUP BY 1),
         w AS (SELECT d, cents,
                      list_sort(list(cents) OVER
                        (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
                        AS arr
               FROM day)
         SELECT d, cents, arr[(len(arr) + 1) // 2] AS med7_cents
         FROM w ORDER BY d"""),

    // Q195: panel construction — every purchase event aligned with
    // the user's most recent click AND most recent view via two
    // CHAINED native as-of joins (GraftAsOfJoinExec: one co-partitioned
    // single-pass merge each, O(1) state, no BETWEEN nested loop).
    // This is the feature-at-event-time join that trains every
    // clickstream model, and the composition is the point: as-of
    // output is a first-class relation that feeds the next as-of. The
    // oracle rebuilds both lookups in one tagged-union window pass
    // (clicks/views sort before the purchase at equal ts — matching
    // the operator's inclusive right_ts <= left_ts with greatest-id
    // tiebreak).
    "q195_event_panel" -> QuerySpec(
      (s, dir) => {
        val ev = Tables.events(s, dir).select(
          col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("v_e2"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"), col("event_id"),
            col("v_e2").as("p_v_e2"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts_us"), col("event_id"), col("v_e2"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us"), col("event_id"), col("v_e2"))
        val withClick = graft.analytics.AsOfJoinNative.asOf(
          purchases, clicks, "user_id", "ts_us", "event_id",
          payloadCols = Seq("v_e2"))
          .withColumnRenamed("asof_v_e2", "click_v_e2")
        graft.analytics.AsOfJoinNative.asOf(
          withClick, views, "user_id", "ts_us", "event_id",
          payloadCols = Seq("v_e2"))
          .withColumnRenamed("asof_v_e2", "view_v_e2")
          .select("event_id", "user_id", "ts_us", "p_v_e2",
            "click_v_e2", "view_v_e2")
          .orderBy("event_id")
      },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                           event_type,
                           CAST(round(value * 100) AS BIGINT) AS v_e2
                    FROM events),
         u AS (SELECT user_id, ts_us, event_id,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                        AS tag,
                      event_type, v_e2
               FROM e WHERE event_type IN ('purchase', 'click', 'view')),
         m AS (SELECT user_id, ts_us, event_id, tag, event_type, v_e2,
                 last_value(CASE WHEN event_type = 'click' THEN v_e2 END
                            IGNORE NULLS) OVER w AS click_v_e2,
                 last_value(CASE WHEN event_type = 'view' THEN v_e2 END
                            IGNORE NULLS) OVER w AS view_v_e2
               FROM u
               WINDOW w AS (PARTITION BY user_id
                            ORDER BY ts_us, tag, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, ts_us, v_e2 AS p_v_e2,
                click_v_e2, view_v_e2
         FROM m WHERE tag = 1 ORDER BY event_id"""),

    // Q196: distinct users per sliding 7-day window — the windowed
    // COUNT DISTINCT that naive per-window re-scans make O(days *
    // corpus). The scale-shaped plan: each (day, user) pair explodes
    // into the <= 7 window-ends it covers (fan-out bounded by window
    // length, map-side), then ONE distinct-aggregate shuffle answers
    // every window at once. Emitted for every window end between the
    // corpus' min and max event day (scalar-subquery bounds).
    "q196_sliding_distinct" -> QuerySpec(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("g_q196_events")
        s.sql("""
          WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
                      FROM g_q196_events),
          cover AS (SELECT explode(sequence(d, date_add(d, 6))) AS w, user_id
                    FROM du),
          cnt AS (SELECT w, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
                  FROM cover GROUP BY 1)
          SELECT w, n_users FROM cnt
          WHERE w >= (SELECT min(d) FROM du) AND w <= (SELECT max(d) FROM du)
          ORDER BY w""")
      },
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
                     FROM events),
         cover AS (SELECT unnest(generate_series(d, d + INTERVAL 6 DAY,
                                                 INTERVAL 1 DAY))::DATE AS w,
                          user_id
                   FROM du),
         cnt AS (SELECT w, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
                 FROM cover GROUP BY 1)
         SELECT w, n_users FROM cnt
         WHERE w >= (SELECT min(d) FROM du) AND w <= (SELECT max(d) FROM du)
         ORDER BY w"""),

    // Q197: decile lift table — the model-evaluation operator behind
    // every gains chart: rank by score (here n_chars as a toy score
    // for label lang='en'), cut into 10 deterministic near-equal
    // buckets, per-bucket positive rate and lift vs base rate in
    // exact ppm. The decile cut is ((r-1)*10) div n over a TOTAL
    // order (score desc, doc_id) — ntile() would tie-break by
    // partition layout, which is exactly the nondeterminism this
    // formulation exists to kill. The global rank comes from
    // DistributedOrder (range-partitioned two-level row_number) —
    // NOT a single-partition window over the corpus (round-9 scale
    // verdict) — and the ppm products route through DECIMAL(38,0)
    // so non-ANSI Spark can't wrap them silently at large n; final
    // columns are all BIGINT (OracleIdioms rule 1; the oracle's
    // HUGEINT stays internal).
    "q197_decile_lift" -> QuerySpec(
      (s, dir) => {
        val scored = Tables.documents(s, dir).select(
          col("n_chars").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("label"),
          col("doc_id"))
        graft.analytics.DistributedOrder
          .withRowNumber(scored, Seq(col("score").desc, col("doc_id")), "r")
          .createOrReplaceTempView("g_q197_ranked")
        s.sql("""
          WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                            CAST(sum(label) AS BIGINT) AS p
                     FROM g_q197_ranked),
          cut AS (SELECT ((r - 1) * 10) div n + 1 AS decile, label, n, p
                  FROM g_q197_ranked CROSS JOIN t)
          SELECT CAST(decile AS BIGINT) AS decile,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(label) AS BIGINT) AS n_pos,
                 CAST((CAST(sum(label) AS DECIMAL(38,0)) * 1000000)
                      div count(*) AS BIGINT) AS rate_ppm,
                 CAST((CAST(sum(label) AS DECIMAL(38,0)) * max(n) * 1000000)
                      div (CAST(count(*) AS DECIMAL(38,0)) * max(p))
                      AS BIGINT) AS lift_ppm
          FROM cut GROUP BY 1 ORDER BY decile""")
      },
      """WITH scored AS (SELECT n_chars AS score,
                                CASE WHEN lang = 'en' THEN 1 ELSE 0 END
                                  AS label,
                                doc_id
                         FROM documents),
         ranked AS (SELECT score, label,
                           row_number() OVER (ORDER BY score DESC, doc_id)
                             AS r,
                           count(*) OVER () AS n,
                           sum(label) OVER () AS p
                    FROM scored),
         cut AS (SELECT ((r - 1) * 10) // n + 1 AS decile, label, n, p
                 FROM ranked)
         SELECT CAST(decile AS BIGINT) AS decile,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(label) AS BIGINT) AS n_pos,
                CAST((CAST(sum(label) AS HUGEINT) * 1000000) // count(*)
                     AS BIGINT) AS rate_ppm,
                CAST((CAST(sum(label) AS HUGEINT) * max(n) * 1000000)
                     // (CAST(count(*) AS HUGEINT) * max(p))
                     AS BIGINT) AS lift_ppm
         FROM cut GROUP BY 1 ORDER BY decile"""),

    // Q198: exact AUC via the Mann-Whitney identity — AUC is
    // U/(n_pos*n_neg), and U comes from the same integer-exact
    // doubled rank sums as q181 (ties contribute exactly 1/2 through
    // 2*avg_rank = 2*rmin + tc - 1, the standard AUC tie convention).
    // No threshold sweep, no trapezoid floats. The rank statistic is
    // computed at the PER-SCORE level: group to (score, cnt, pos) —
    // a distributed aggregate — then rmin(score) = 1 + running count
    // of strictly smaller scores via DistributedOrder's two-level
    // prefix sum, so no single-partition window ever sees raw corpus
    // rows (round-9 scale verdict); every tied row shares (rmin, tc),
    // so sum over rows = sum over scores of pos*(2*rmin + tc - 1).
    // The >64-bit-capable products route through DECIMAL(38,0)
    // (q180/q193 pattern) with a BIGINT final.
    "q198_auc" -> QuerySpec(
      (s, dir) => {
        val scored = Tables.documents(s, dir).select(
          col("n_chars").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("label"))
        val perScore = scored.groupBy("score")
          .agg(count(lit(1)).as("cnt"), sum("label").as("pos"))
        graft.analytics.DistributedOrder
          .withRunningSum(perScore, Seq(col("score")), col("cnt"), "before")
          .createOrReplaceTempView("g_q198_scores")
        s.sql("""
          WITH agg AS (SELECT
                  CAST(sum(CAST(pos AS DECIMAL(38,0))
                           * (2 * (before + 1) + cnt - 1))
                       AS DECIMAL(38,0)) AS r2_pos,
                  CAST(sum(pos) AS BIGINT) AS n_pos,
                  CAST(sum(cnt) - sum(pos) AS BIGINT) AS n_neg
               FROM g_q198_scores)
          SELECT n_pos, n_neg,
                 CAST(((r2_pos - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1))
                       * 1000000)
                      div (CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg)
                      AS BIGINT) AS auc_ppm
          FROM agg""")
      },
      """WITH scored AS (SELECT n_chars AS score,
                                CASE WHEN lang = 'en' THEN 1 ELSE 0 END
                                  AS label
                         FROM documents),
         ranked AS (SELECT label,
                           rank() OVER (ORDER BY score) AS rmin,
                           count(*) OVER (PARTITION BY score) AS tc
                    FROM scored),
         agg AS (SELECT CAST(sum(CASE WHEN label = 1
                                      THEN 2*rmin + tc - 1 END) AS BIGINT)
                          AS r2_pos,
                        CAST(sum(label) AS BIGINT) AS n_pos,
                        CAST(count(*) - sum(label) AS BIGINT) AS n_neg
                 FROM ranked)
         SELECT n_pos, n_neg,
                ((r2_pos - n_pos * (n_pos + 1)) * 1000000)
                  // (2 * n_pos * n_neg) AS auc_ppm
         FROM agg"""),

    // Q199: distinct-sketch CUBE — bitmap distinct-token sketches
    // materialized at every (lang, source) grouping-sets cell in ONE
    // aggregate pass (the planner expands the cube map-side; the
    // sketch's OR-merge is what makes a distinct measure legal inside
    // grouping sets at all — exact COUNT(DISTINCT) re-shuffles per
    // cell, a bitmap ORs up the lattice). Occupied-bucket counts are
    // exact over hash mod m, which is what the oracle's CUBE over
    // distinct (cell, bucket) recomputes.
    "q199_cube_sketch" -> QuerySpec(
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("g_q199_documents")
        s.sql("""
          WITH tok AS (SELECT lang, source, explode(split(text, ' ')) AS t
                       FROM g_q199_documents)
          SELECT coalesce(lang, 'ALL') AS lang,
                 coalesce(source, 'ALL') AS source,
                 CAST(count(*) AS BIGINT) AS n_tokens,
                 graft_bitmap_distinct(md5_prefix60(t), 4096)
                   AS distinct_buckets
          FROM tok WHERE t <> ''
          GROUP BY CUBE (lang, source)
          ORDER BY lang, source""")
      },
      """WITH tok AS (SELECT lang, source, t
                      FROM (SELECT lang, source,
                                   unnest(list_filter(string_split(text, ' '),
                                                      x -> x <> '')) AS t
                            FROM documents)),
         h AS (SELECT lang, source,
                      ('0x' || substr(md5(t), 1, 15))::BIGINT % 4096 AS bucket
               FROM tok)
         SELECT coalesce(lang, 'ALL') AS lang,
                coalesce(source, 'ALL') AS source,
                CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(count(DISTINCT bucket) AS BIGINT) AS distinct_buckets
         FROM h
         GROUP BY CUBE (lang, source)
         ORDER BY lang, source"""),

    // Q200: curation-pipeline capstone — the composed shape a
    // training-data run actually executes, end to end in one plan:
    // quality gate (token count >= 20) -> exact dedup on the content
    // hash (keep smallest doc_id per text) -> deterministic 95/5
    // train/val hash split -> per (split, lang) accounting: docs,
    // whitespace tokens, and 512-token chunk counts (the packing
    // denominator). Every stage is one of this library's gated
    // operators; the capstone checks their COMPOSITION still matches
    // the oracle exactly — map-side quality filter, one dedup
    // shuffle, pure-map split, one final aggregate.
    "q200_curation_pipeline" -> QuerySpec(
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("g_q200_documents")
        s.sql("""
          WITH base AS (SELECT doc_id, lang, text,
                               size(split(text, ' ')) AS n_tok
                        FROM g_q200_documents),
          quality AS (SELECT * FROM base WHERE n_tok >= 20),
          dedup AS (SELECT lang, n_tok, min(doc_id) AS doc_id
                    FROM quality
                    GROUP BY md5(text), lang, n_tok),
          split AS (SELECT lang, n_tok,
                           CASE WHEN md5_prefix60(CAST(doc_id AS STRING))
                                     % 100 < 95
                                THEN 'train' ELSE 'val' END AS split
                    FROM dedup)
          SELECT split, lang,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                 CAST(sum((n_tok + 511) div 512) AS BIGINT) AS n_chunks
          FROM split GROUP BY 1, 2 ORDER BY split, lang""")
      },
      """WITH base AS (SELECT doc_id, lang, text,
                              len(string_split(text, ' ')) AS n_tok
                       FROM documents),
         quality AS (SELECT * FROM base WHERE n_tok >= 20),
         dedup AS (SELECT lang, n_tok, min(doc_id) AS doc_id
                   FROM quality
                   GROUP BY md5(text), lang, n_tok),
         split AS (SELECT lang, n_tok,
                          CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                                    % 100 < 95
                               THEN 'train' ELSE 'val' END AS split
                   FROM dedup)
         SELECT split, lang,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                CAST(sum((n_tok + 511) // 512) AS BIGINT) AS n_chunks
         FROM split GROUP BY 1, 2 ORDER BY split, lang"""),

    // Q201: BM25-style retrieval ranking, LOG-FREE BY DESIGN — the
    // tf-saturation core of BM25 (k1 = 6/5, b = 3/4) is rational, so
    // with avgdl expanded as total_tokens/N the normalized tf becomes
    //   tfn = 44*T*tf / (20*T*tf + 6*T + 18*dl*N)   (exact integers)
    // and idf uses the Robertson RATIO (2(N-df)+1)/(2df+1) in ppm
    // instead of its log — a monotone-in-df surrogate chosen because
    // ln() is where engines stop agreeing bit-for-bit. Ranking
    // retrieval at 100 TB is: one tf aggregate, df/dl/N side
    // aggregates broadcast, score = sum over QUERY terms only (the
    // posting lists of 3 terms, never the corpus), top-10 by
    // (score, doc_id) total order.
    "q201_bm25_retrieval" -> QuerySpec(
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("g_q201_documents")
        s.sql("""
          WITH tok AS (SELECT doc_id, explode(split(text, ' ')) AS t
                       FROM g_q201_documents),
          tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
                 FROM tok WHERE t <> '' GROUP BY 1, 2),
          dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
                 FROM tok WHERE t <> '' GROUP BY 1),
          corpus AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n,
                            CAST(count(*) AS BIGINT) AS tt
                     FROM tok WHERE t <> ''),
          df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf
                 WHERE t IN ('hash', 'merge', 'window') GROUP BY 1),
          scored AS (SELECT tf.doc_id,
                            CAST((CAST(2*(c.n - df.df) + 1 AS DECIMAL(38,0))
                                  * 1000000)
                              div (2*df.df + 1) AS BIGINT) AS idf_ppm,
                            CAST((CAST(44 AS DECIMAL(38,0)) * c.tt * tf.tf
                                  * 1000000)
                              div (CAST(20 AS DECIMAL(38,0)) * c.tt * tf.tf
                                   + 6 * c.tt
                                   + 18 * dl.dl * c.n) AS BIGINT) AS tfn_ppm
                     FROM tf
                     JOIN df ON tf.t = df.t
                     JOIN dl ON tf.doc_id = dl.doc_id
                     CROSS JOIN corpus c)
          SELECT doc_id,
                 CAST(sum(CAST(idf_ppm AS DECIMAL(38,0)) * tfn_ppm)
                      AS BIGINT) AS score
          FROM scored GROUP BY 1
          ORDER BY score DESC, doc_id LIMIT 10""")
      },
      """WITH tok AS (SELECT doc_id,
                             unnest(list_filter(string_split(text, ' '),
                                                x -> x <> '')) AS t
                      FROM documents),
         tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
                FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
                FROM tok GROUP BY 1),
         corpus AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n,
                           CAST(count(*) AS BIGINT) AS tt
                    FROM tok),
         df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf
                WHERE t IN ('hash', 'merge', 'window') GROUP BY 1),
         scored AS (SELECT tf.doc_id,
                           CAST((CAST(2*(c.n - df.df) + 1 AS HUGEINT)
                                 * 1000000)
                             // (2*df.df + 1) AS BIGINT) AS idf_ppm,
                           CAST((CAST(44 AS HUGEINT) * c.tt * tf.tf
                                 * 1000000)
                             // (CAST(20 AS HUGEINT) * c.tt * tf.tf
                                  + 6 * c.tt
                                  + 18 * dl.dl * c.n) AS BIGINT) AS tfn_ppm
                    FROM tf
                    JOIN df ON tf.t = df.t
                    JOIN dl ON tf.doc_id = dl.doc_id
                    CROSS JOIN corpus c)
         SELECT doc_id,
                CAST(sum(CAST(idf_ppm AS HUGEINT) * tfn_ppm)
                     AS BIGINT) AS score
         FROM scored GROUP BY 1
         ORDER BY score DESC, doc_id LIMIT 10"""),

    // Q202: exact phrase search over a POSITIONAL inverted index —
    // the operator full-text phrase queries actually need: the
    // (doc, token, position) relation self-joins on (doc, p+1), so
    // the phrase "table hash" is an equi-join of two single-token
    // posting lists with a position offset, never a substring scan
    // of the corpus. At 100 TB the index is the thing that shuffles
    // once at build time; each phrase query touches only its terms'
    // postings. The oracle builds the same positional join with
    // generate_subscripts.
    "q202_phrase_search" -> QuerySpec(
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("g_q202_documents")
        s.sql("""
          WITH pos AS (SELECT doc_id, p, w
                       FROM g_q202_documents
                       LATERAL VIEW posexplode(split(text, ' ')) AS p, w),
          hits AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_hits
                   FROM pos a JOIN pos b
                     ON a.doc_id = b.doc_id AND b.p = a.p + 1
                   WHERE a.w = 'table' AND b.w = 'hash'
                   GROUP BY 1)
          SELECT doc_id, n_hits FROM hits ORDER BY doc_id""")
      },
      """WITH pos AS (SELECT doc_id,
                             generate_subscripts(string_split(text, ' '), 1)
                               AS p,
                             unnest(string_split(text, ' ')) AS w
                      FROM documents),
         hits AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_hits
                  FROM pos a JOIN pos b
                    ON a.doc_id = b.doc_id AND b.p = a.p + 1
                  WHERE a.w = 'table' AND b.w = 'hash'
                  GROUP BY 1)
         SELECT doc_id, n_hits FROM hits ORDER BY doc_id"""),

    // Q203: CUSUM change-point detection on the daily revenue series
    // — the classic "where did the level shift" statistic, exact:
    // S_t = prefix_t - t*mean scaled by n to the integer
    // n*prefix_t - t*total, argmax |.| with an earliest-day tiebreak,
    // plus the exact integer segment means either side of the break.
    // One day aggregate, one running-sum window, one top-1 — the
    // whole statistic rides on a cumulative sum, which distributes as
    // a range-partitioned prefix scan.
    "q203_cusum_changepoint" -> QuerySpec(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("g_q203_orders")
        s.sql("""
          WITH day AS (SELECT CAST(o_orderdate AS DATE) AS d,
                              sum(CAST(round(o_totalprice * 100) AS BIGINT))
                                AS cents
                       FROM g_q203_orders GROUP BY 1),
          series AS (SELECT d, cents,
                            row_number() OVER (ORDER BY d) AS t,
                            sum(cents) OVER (ORDER BY d
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS prefix,
                            count(*) OVER () AS n,
                            sum(cents) OVER () AS total
                     FROM day),
          dev AS (SELECT d, t, n, prefix, total,
                         abs(n * prefix - t * total) AS cusum_n
                  FROM series WHERE t < n)
          SELECT d, cusum_n,
                 prefix div t AS pre_mean_cents,
                 (total - prefix) div (n - t) AS post_mean_cents
          FROM dev ORDER BY cusum_n DESC, d LIMIT 1""")
      },
      """WITH day AS (SELECT CAST(o_orderdate AS DATE) AS d,
                             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                                  AS BIGINT) AS cents
                      FROM orders GROUP BY 1),
         series AS (SELECT d, cents,
                           row_number() OVER (ORDER BY d) AS t,
                           sum(cents) OVER (ORDER BY d
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS prefix,
                           count(*) OVER () AS n,
                           sum(cents) OVER () AS total
                    FROM day),
         dev AS (SELECT d, t, n, prefix, total,
                        abs(n * prefix - t * total) AS cusum_n
                 FROM series WHERE t < n)
         SELECT d, CAST(cusum_n AS BIGINT) AS cusum_n,
                CAST(prefix // t AS BIGINT) AS pre_mean_cents,
                CAST((total - prefix) // (n - t) AS BIGINT)
                  AS post_mean_cents
         FROM dev ORDER BY cusum_n DESC, d LIMIT 1"""),

    // Q204: streaming SCD2 dimension maintenance — the tier-change
    // log drains through a REAL 3-microbatch stream into the bucketed
    // manifest-tracked changelog store (each change row is its own
    // key, so redelivered changes dedup and NO change is ever lost to
    // last-writer-wins — the store is an exactly-once compacted log,
    // maintained incrementally per the q137 machinery), and the
    // type-2 dimension (validity intervals, current flags) is derived
    // from the log by the gated Scd.type2 fold. This split is the
    // point at scale: version derivation is a per-key fold you can
    // re-run for dirty keys only, while the thing maintained under
    // streaming pressure is the append-compacted log — out-of-order
    // batches can never corrupt interval boundaries the way
    // version-appending sinks silently do. The oracle rebuilds the
    // dimension from scratch in SQL.
    "q204_streaming_scd2" -> QuerySpec(
      (s, dir) => {
        val tmpPath = GateTmp.dir("graft-q204")
        val tmp = tmpPath.toString
        val changes = Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .select(
            col("event_id").as("change_id"),
            col("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            expr("CAST(round(value) AS BIGINT) div 10").as("tier"),
            col("event_id").cast("long").as("__seq"),
            lit("upsert").as("__op"))
        changes.repartition(3).write.parquet(s"$tmp/staging")
        val stream = s.readStream.schema(changes.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/staging")
        val snapshot = graft.streaming.StreamingUpsert.mergeStream(
          s, stream, s"$tmp/snapshots", "change_id", s"$tmp/checkpoint")
        val log = graft.streaming.StreamingUpsert.finalSnapshot(s, snapshot)
        val out = graft.analytics.Scd.type2(
          log, col("user_id"), col("ts_us"), col("tier"), col("change_id"))
          .select(col("k").as("user_id"), col("valid_from"),
            col("valid_to"), col("a").as("tier"),
            col("n_changes"), col("is_current"))
          .orderBy("user_id", "valid_from")
        TempDirs.deleteRecursively(tmpPath.resolve("staging"))
        TempDirs.deleteRecursively(tmpPath.resolve("checkpoint"))
        out
      },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
                           CAST(round(value) AS BIGINT) // 10 AS tier,
                           event_id
                    FROM events WHERE event_type = 'purchase'),
         f AS (SELECT user_id, ts_us, tier, event_id,
                 CASE WHEN lag(tier) OVER w IS NULL
                        OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
               FROM e
               WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         r AS (SELECT user_id, ts_us, tier,
                 sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
               FROM f),
         dim AS (SELECT user_id, run, min(tier) AS tier,
                        min(ts_us) AS valid_from,
                        CAST(count(*) AS BIGINT) AS n_changes
                 FROM r GROUP BY 1, 2),
         v AS (SELECT user_id, tier, valid_from, n_changes,
                      lead(valid_from) OVER (PARTITION BY user_id
                                             ORDER BY run) AS valid_to
               FROM dim)
         SELECT user_id, valid_from, valid_to, tier, n_changes,
                valid_to IS NULL AS is_current
         FROM v ORDER BY user_id, valid_from"""),

    // Q205: pivot SCC membership on the sparsified trade graph — the
    // strongly-connected component containing nation 0, computed as
    // forward-reachability ∩ backward-reachability (the
    // forward-backward decomposition step every distributed SCC
    // algorithm builds on). The graph keeps each nation's 2 cheapest
    // outbound lanes (rank-sparsified with a total tiebreak), so the
    // cycle structure is non-trivial at any SF. Reachability runs to
    // FIXPOINT with per-round frontier anti-joins, empty-frontier
    // early exit, and lineage cuts — the unbounded companion to
    // q189's hop-bounded relaxation. The oracle is a recursive CTE
    // pair intersected.
    "q205_scc_pivot" -> QuerySpec(
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val su = Tables.supplier(s, dir)
        val lanes = li
          .join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
          .groupBy(
            col("c_nationkey").cast("long").as("src"),
            col("s_nationkey").cast("long").as("dst"))
          .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("w"))
        // persist the (nations x 2)-row edge relation: every BFS round
        // joins it, and without the cut each round would re-derive the
        // 4-table fact join from scratch (measured 7.8 s -> sub-second)
        val edges = graft.CacheScope.persist(lanes
          .withColumn("rn", row_number().over(
            Window.partitionBy("src").orderBy("w", "dst")))
          .filter(col("rn") <= 2).select("src", "dst"))
        val fwd = graft.analytics.ShortestPath.reachable(edges, 0L)
        val bwd = graft.analytics.ShortestPath.reachable(
          edges.select(col("dst").as("src"), col("src").as("dst")), 0L)
        fwd.intersect(bwd).orderBy("node")
      },
      """WITH RECURSIVE
         e0 AS (SELECT CAST(c.c_nationkey AS BIGINT) AS src,
                       CAST(s.s_nationkey AS BIGINT) AS dst,
                       min(CAST(round(l.l_extendedprice*100) AS BIGINT)) AS w
                FROM lineitem l
                JOIN orders o ON l.l_orderkey = o.o_orderkey
                JOIN customer c ON o.o_custkey = c.c_custkey
                JOIN supplier s ON l.l_suppkey = s.s_suppkey
                GROUP BY 1, 2),
         ranked AS (SELECT src, dst,
                           row_number() OVER (PARTITION BY src
                                              ORDER BY w, dst) AS rn
                    FROM e0),
         e AS (SELECT src, dst FROM ranked WHERE rn <= 2),
         fwd AS (SELECT CAST(0 AS BIGINT) AS node
                 UNION
                 SELECT e.dst FROM fwd JOIN e ON e.src = fwd.node),
         bwd AS (SELECT CAST(0 AS BIGINT) AS node
                 UNION
                 SELECT e.src FROM bwd JOIN e ON e.dst = bwd.node)
         SELECT node FROM fwd
         INTERSECT
         SELECT node FROM bwd
         ORDER BY node"""),

    // Q206: Benford leading-digit audit of order totals — the
    // data-forensics screen for fabricated or truncated numeric
    // columns: observed leading-digit shares vs the Benford
    // expectation, with the expectation pinned as an exact ppm
    // CONSTANT table (log10(1+1/d) precomputed once — no runtime
    // transcendentals to disagree over). Leading digit extracted from
    // the decimal STRING rendering (no log10 tricks); everything else
    // is counts and integer ppm.
    "q206_benford_audit" -> QuerySpec(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("g_q206_orders")
        s.sql("""
          WITH cents AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                                  AS v
                         FROM g_q206_orders),
          digit AS (SELECT substr(CAST(v AS STRING), 1, 1) AS d
                    FROM cents WHERE v > 0),
          obs AS (SELECT d, CAST(count(*) AS BIGINT) AS c FROM digit
                  GROUP BY 1),
          n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM obs),
          benford AS (SELECT * FROM VALUES
            ('1', 301030L), ('2', 176091L), ('3', 124939L),
            ('4', 96910L), ('5', 79181L), ('6', 66947L),
            ('7', 57992L), ('8', 51153L), ('9', 45757L)
            AS t(d, expected_ppm))
          SELECT b.d AS digit, coalesce(obs.c, 0L) AS n_rows,
                 (coalesce(obs.c, 0L) * 1000000) div n.n AS share_ppm,
                 b.expected_ppm,
                 abs((coalesce(obs.c, 0L) * 1000000) div n.n
                     - b.expected_ppm) AS dev_ppm
          FROM benford b LEFT JOIN obs ON obs.d = b.d CROSS JOIN n
          ORDER BY digit""")
      },
      """WITH cents AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
                        FROM orders),
         digit AS (SELECT substr(CAST(v AS VARCHAR), 1, 1) AS d
                   FROM cents WHERE v > 0),
         obs AS (SELECT d, CAST(count(*) AS BIGINT) AS c FROM digit
                 GROUP BY 1),
         n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM obs),
         benford AS (SELECT * FROM (VALUES
           ('1', CAST(301030 AS BIGINT)), ('2', 176091), ('3', 124939),
           ('4', 96910), ('5', 79181), ('6', 66947),
           ('7', 57992), ('8', 51153), ('9', 45757))
           AS t(d, expected_ppm))
         SELECT b.d AS digit, coalesce(obs.c, 0) AS n_rows,
                (coalesce(obs.c, 0) * 1000000) // n.n AS share_ppm,
                b.expected_ppm,
                abs((coalesce(obs.c, 0) * 1000000) // n.n
                    - b.expected_ppm) AS dev_ppm
         FROM benford b LEFT JOIN obs ON obs.d = b.d CROSS JOIN n
         ORDER BY digit"""),

    // Q207: deletion-request cascade (GDPR erasure shape) — the
    // subject set (customers in the AUTOMOBILE segment) propagates
    // through the foreign-key chain as a LEFT-SEMI then LEFT-ANTI
    // cascade: orders of erased customers become erased; line items
    // of erased orders become erased; survivors are counted and
    // FINGERPRINTED (order-independent 60-bit digest sum folded mod
    // 2^62 to a BIGINT, the q174 checksum shape + OracleIdioms rule 1)
    // so the gate proves both HOW MUCH survived and EXACTLY WHICH
    // rows. The scale shape is the only one that works
    // at 100 TB: the subject set broadcasts down the chain, facts are
    // anti-joined in place — no row ever moves to where the subjects
    // are.
    "q207_erasure_cascade" -> QuerySpec(
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("g_q207_customer")
        Tables.orders(s, dir).createOrReplaceTempView("g_q207_orders")
        Tables.lineitem(s, dir).createOrReplaceTempView("g_q207_lineitem")
        s.sql("""
          WITH erased_c AS (SELECT c_custkey FROM g_q207_customer
                            WHERE c_mktsegment = 'AUTOMOBILE'),
          surviving_o AS (SELECT o.o_orderkey
                          FROM g_q207_orders o
                          LEFT ANTI JOIN erased_c e
                            ON o.o_custkey = e.c_custkey),
          surviving_l AS (SELECT l.l_orderkey, l.l_linenumber
                          FROM g_q207_lineitem l
                          LEFT SEMI JOIN surviving_o o
                            ON l.l_orderkey = o.o_orderkey)
          SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM erased_c) AS n_erased_customers,
            (SELECT CAST(count(*) AS BIGINT) FROM surviving_o) AS n_surviving_orders,
            CAST(count(*) AS BIGINT) AS n_surviving_lineitems,
            CAST(sum(CAST(md5_prefix60(concat_ws('|',
              CAST(l_orderkey AS STRING), CAST(l_linenumber AS STRING)))
              AS DECIMAL(38,0))) % 4611686018427387904 AS BIGINT)
              AS survivor_fp
          FROM surviving_l""")
      },
      s"""WITH erased_c AS (SELECT c_custkey FROM customer
                           WHERE c_mktsegment = 'AUTOMOBILE'),
         surviving_o AS (SELECT o.o_orderkey FROM orders o
                         WHERE o.o_custkey NOT IN (SELECT c_custkey
                                                   FROM erased_c)),
         surviving_l AS (SELECT l.l_orderkey, l.l_linenumber
                         FROM lineitem l
                         WHERE l.l_orderkey IN (SELECT o_orderkey
                                                FROM surviving_o))
         SELECT
           (SELECT CAST(count(*) AS BIGINT) FROM erased_c) AS n_erased_customers,
           (SELECT CAST(count(*) AS BIGINT) FROM surviving_o) AS n_surviving_orders,
           CAST(count(*) AS BIGINT) AS n_surviving_lineitems,
           CAST(sum(CAST(${OracleIdioms.hex60(
        "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)")}
             AS HUGEINT)) % ${OracleIdioms.fold62} AS BIGINT) AS survivor_fp
         FROM surviving_l"""),

    // Q208: fair-share capped sampling — rebalance a source-skewed
    // corpus by keeping AT MOST 15 docs per source, chosen by the
    // content-hash order (deterministic, append-stable, no RNG): the
    // per-group row_number plans as WindowGroupLimit, so each group
    // carries k rows of state and the corpus is never globally
    // sorted. The composition with q179/q185 completes the sampling
    // triptych: uniform split, weighted draw, capped fair share.
    "q208_capped_fairshare" -> QuerySpec(
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("g_q208_documents")
        s.sql("""
          WITH ranked AS (SELECT source, doc_id, n_chars,
                                 row_number() OVER (PARTITION BY source
                                   ORDER BY md5_prefix60(CAST(doc_id AS STRING)),
                                            doc_id) AS rn
                          FROM g_q208_documents),
          kept AS (SELECT * FROM ranked WHERE rn <= 15)
          SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 CAST(sum(doc_id) AS BIGINT) AS id_sum
          FROM kept GROUP BY 1 ORDER BY source""")
      },
      """WITH ranked AS (SELECT source, doc_id, n_chars,
                                row_number() OVER (PARTITION BY source
                                  ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                                           doc_id) AS rn
                         FROM documents),
         kept AS (SELECT * FROM ranked WHERE rn <= 15)
         SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM kept GROUP BY 1 ORDER BY source""") ,

    // Q209: exact quantile normalization — re-express each language's
    // n_chars distribution on the GLOBAL distribution (the batch-
    // effect alignment step in feature prep): a value maps to its
    // within-group rank fraction, then to the global order statistic
    // at that fraction. All rank arithmetic is integer ((r*N) div n_g,
    // clamped to >= 1, lower-quantile convention, r*N routed through
    // DECIMAL(38,0) so it can't wrap at any corpus size) over total
    // orders (value, doc_id), and the final lookup is an equi-join on
    // global rank. Both ranks — global AND per-lang — come from
    // DistributedOrder's range-partitioned two-level row_number, so
    // neither the corpus nor a dominant language ever lands in one
    // window partition (round-9 scale verdict); the grid variant
    // (q136) is the documented swap when even range sorts are too
    // much.
    "q209_quantile_normalize" -> QuerySpec(
      (s, dir) => {
        val base = Tables.documents(s, dir)
          .select("doc_id", "lang", "n_chars")
        val order = Seq(col("n_chars"), col("doc_id"))
        graft.analytics.DistributedOrder
          .withRowNumber(base, order, "r", partitionBy = Seq("lang"))
          .createOrReplaceTempView("g_q209_grp")
        graft.analytics.DistributedOrder
          .withRowNumber(base, order, "k")
          .select(col("n_chars").as("g_val"), col("k"))
          .createOrReplaceTempView("g_q209_grank")
        s.sql("""
          WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g_q209_grp),
          ng AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_g
                 FROM g_q209_grp GROUP BY lang),
          target AS (SELECT g.doc_id, g.lang, g.n_chars,
                            greatest(CAST((CAST(g.r AS DECIMAL(38,0)) * n.n)
                                          div ng.n_g AS BIGINT),
                                     CAST(1 AS BIGINT)) AS k
                     FROM g_q209_grp g
                     JOIN ng ON ng.lang = g.lang
                     CROSS JOIN n)
          SELECT t.doc_id, t.lang, t.n_chars,
                 grank.g_val AS normalized
          FROM target t JOIN g_q209_grank grank ON grank.k = t.k
          ORDER BY doc_id""")
      },
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
         grp AS (SELECT doc_id, lang, n_chars,
                        row_number() OVER (PARTITION BY lang
                                           ORDER BY n_chars, doc_id) AS r,
                        count(*) OVER (PARTITION BY lang) AS n_g
                 FROM base),
         grank AS (SELECT n_chars AS g_val,
                         row_number() OVER (ORDER BY n_chars, doc_id) AS k
                  FROM base),
         target AS (SELECT g.doc_id, g.lang, g.n_chars,
                           greatest((g.r * n.n) // g.n_g,
                                    CAST(1 AS BIGINT)) AS k
                    FROM grp g CROSS JOIN n)
         SELECT t.doc_id, t.lang, t.n_chars, grank.g_val AS normalized
         FROM target t JOIN grank ON grank.k = t.k
         ORDER BY doc_id"""),

    // Q210: hashing-trick featurizer (HashingVectorizer semantics) —
    // tokens map to a FIXED 64-bucket feature space via the content
    // hash, with a hash-derived sign (+1/-1) so collisions cancel in
    // expectation instead of accumulating bias. No vocabulary fit, no
    // dictionary broadcast, no OOV path — the properties that make
    // the hashing trick THE featurizer you can run on 100 TB in one
    // map-side pass. Emitted as exploded (doc_id, bucket, weight)
    // sparse triples over one source shard, fully SQL-replicable.
    "q210_feature_hashing" -> QuerySpec(
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("g_q210_documents")
        s.sql("""
          WITH tok AS (SELECT doc_id, explode(split(text, ' ')) AS t
                       FROM g_q210_documents WHERE source = 'src0'),
          hashed AS (SELECT doc_id,
                            md5_prefix60(t) % 64 AS bucket,
                            CASE WHEN (md5_prefix60(t) div 64) % 2 = 0
                                 THEN 1L ELSE -1L END AS sign
                     FROM tok WHERE t <> '')
          SELECT doc_id, bucket,
                 CAST(sum(sign) AS BIGINT) AS weight
          FROM hashed GROUP BY 1, 2
          HAVING sum(sign) <> 0
          ORDER BY doc_id, bucket""")
      },
      """WITH tok AS (SELECT doc_id,
                             unnest(list_filter(string_split(text, ' '),
                                                x -> x <> '')) AS t
                      FROM documents WHERE source = 'src0'),
         hashed AS (SELECT doc_id,
                           ('0x' || substr(md5(t), 1, 15))::BIGINT % 64
                             AS bucket,
                           CASE WHEN (('0x' || substr(md5(t), 1, 15))::BIGINT
                                      // 64) % 2 = 0
                                THEN 1 ELSE -1 END AS sign
                    FROM tok)
         SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS weight
         FROM hashed GROUP BY 1, 2
         HAVING sum(sign) <> 0
         ORDER BY doc_id, bucket"""),

    // Q211: exact weighted median per group — the smallest value
    // whose cumulative weight reaches half the group total (weights =
    // token mass, here n_chars): one cumulative-sum window over the
    // (group, value) order and a first-crossing argmin, the same
    // cumulative-walk shape as the grid quantiles (q136) but
    // per-group and weighted. Integer threshold test 2*cum >= total
    // avoids the /2 rational. This is how "median document length
    // weighted by tokens" style stats stay exact at scale — no
    // weighted-percentile buffers, no interpolation.
    "q211_weighted_median" -> QuerySpec(
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("g_q211_documents")
        s.sql("""
          WITH w AS (SELECT lang, n_chars AS v,
                            CAST(n_chars AS BIGINT) AS wt, doc_id
                     FROM g_q211_documents),
          c AS (SELECT lang, v, wt,
                       sum(wt) OVER (PARTITION BY lang ORDER BY v, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cum,
                       sum(wt) OVER (PARTITION BY lang) AS total
                FROM w),
          x AS (SELECT lang, v, cum, total,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY cum, v) AS rn
                FROM c WHERE 2 * cum >= total)
          SELECT lang, CAST(v AS BIGINT) AS weighted_median,
                 total AS total_weight
          FROM x WHERE rn = 1 ORDER BY lang""")
      },
      """WITH w AS (SELECT lang, n_chars AS v,
                           CAST(n_chars AS BIGINT) AS wt, doc_id
                    FROM documents),
         c AS (SELECT lang, v, wt,
                      sum(wt) OVER (PARTITION BY lang ORDER BY v, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS cum,
                      sum(wt) OVER (PARTITION BY lang) AS total
               FROM w),
         x AS (SELECT lang, v, cum, total,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY cum, v) AS rn
               FROM c WHERE 2 * cum >= total)
         SELECT lang, CAST(v AS BIGINT) AS weighted_median,
                CAST(total AS BIGINT) AS total_weight
         FROM x WHERE rn = 1 ORDER BY lang"""),

    // Q212: maximum drawdown of the cumulative daily-revenue series —
    // the running-extrema statistic (largest peak-to-trough fall of
    // the running total), exact: running sum, running max of the
    // running sum, max gap, plus the day the trough lands. Two
    // stacked unbounded-preceding windows over ONE sort — the frame
    // shape that answers "how bad did it get" questions over any
    // cumulative metric (revenue, net adds, error budget) in a
    // single pass.
    "q212_max_drawdown" -> QuerySpec(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("g_q212_orders")
        s.sql("""
          WITH day AS (SELECT CAST(o_orderdate AS DATE) AS d,
                              sum(CAST(round(o_totalprice * 100) AS BIGINT))
                                - 130000000L AS net
                       FROM g_q212_orders GROUP BY 1),
          run AS (SELECT d,
                         sum(net) OVER (ORDER BY d
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS bal
                  FROM day),
          peak AS (SELECT d, bal,
                          max(bal) OVER (ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS pk
                   FROM run)
          SELECT d AS trough_day, pk - bal AS drawdown_cents,
                 pk AS peak_cents, bal AS trough_cents
          FROM peak ORDER BY pk - bal DESC, d LIMIT 1""")
      },
      """WITH day AS (SELECT CAST(o_orderdate AS DATE) AS d,
                             sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               - 130000000 AS net
                      FROM orders GROUP BY 1),
         run AS (SELECT d,
                        sum(net) OVER (ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS bal
                 FROM day),
         peak AS (SELECT d, bal,
                         max(bal) OVER (ORDER BY d
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS pk
                  FROM run)
         SELECT d AS trough_day, CAST(pk - bal AS BIGINT) AS drawdown_cents,
                CAST(pk AS BIGINT) AS peak_cents,
                CAST(bal AS BIGINT) AS trough_cents
         FROM peak ORDER BY pk - bal DESC, d LIMIT 1"""),

    // Q213: custom DataSource V2 connector end to end — reads the
    // in-repo `graft.sources.RangeSource` (TableProvider → ScanBuilder
    // with filter pushdown + column pruning → parallel
    // InputPartitions) through a selective id-range filter and an
    // aggregate. The id bounds narrow the GENERATED interval at
    // planning time (the scan does the skipping, not a post-scan
    // Filter — asserted in RangeSourceSpec), and only the three
    // referenced columns are materialized. The oracle regenerates the
    // same interval with generate_series — the connector's contract
    // is that a deterministic table definition plus pushdown yields
    // exactly the relation the SQL engine would.
    "q213_dsv2_range" -> QuerySpec(
      (s, dir) => {
        s.read.format("graft.sources.RangeSource")
          .option("start", 0).option("end", 100000).option("slices", 8)
          .load()
          .filter(col("id") >= 25000 && col("id") < 75000)
          .groupBy("bucket", "label")
          .agg(count(lit(1)).as("n"), sum("id_sq").as("sum_sq"))
          .orderBy("bucket")
      },
      """WITH r AS (SELECT unnest(generate_series(25000, 74999)) AS id)
         SELECT id % 16 AS bucket,
                'b' || CAST(id % 16 AS VARCHAR) AS label,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(id * id) AS BIGINT) AS sum_sq
         FROM r GROUP BY 1, 2 ORDER BY bucket""",
    ),

    // Q252: the STREAMING leg of the q213 connector — the same
    // interval revealed through the MicroBatchStream with admission
    // control (maxRowsPerBatch=8192 ⇒ an AvailableNow drain steps
    // through 7 offset-logged batches, not one table-sized batch),
    // checkpointed to a parquet sink, then rolled up per bucket. The
    // oracle is the plain range generator: any duplicated or dropped
    // micro-batch window changes n/sum_sq. Exactly-once across
    // RESTARTS is pinned by RangeSourceSpec (checkpoint reuse with an
    // extended interval); this gate pins the end-to-end drain
    // equivalence batch-vs-stream.
    "q252_dsv2_stream" -> QuerySpec(
      (s, dir) => {
        val tmpPath = GateTmp.dir("graft-q252")
        val out = tmpPath.resolve("out").toString
        val cp = tmpPath.resolve("cp").toString
        val q = s.readStream.format("graft.sources.RangeSource")
          .option("start", 0).option("end", 50000).option("slices", 4)
          .option("maxRowsPerBatch", 8192)
          .load()
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .format("parquet")
          .option("path", out).option("checkpointLocation", cp)
          .start()
        q.awaitTermination()
        s.read.parquet(out)
          .groupBy("bucket", "label")
          .agg(count(lit(1)).as("n"), sum("id_sq").as("sum_sq"))
          .orderBy("bucket")
      },
      """WITH r AS (SELECT unnest(generate_series(0, 49999)) AS id)
         SELECT id % 16 AS bucket,
                'b' || CAST(id % 16 AS VARCHAR) AS label,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(id * id) AS BIGINT) AS sum_sq
         FROM r GROUP BY 1, 2 ORDER BY bucket""")
  )
}
