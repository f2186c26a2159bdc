package graft.queries

import org.apache.spark.sql.functions._
import graft.{CacheScope, Tables}

/** Spark 4 SQL-language surface: native recursive CTEs (q299) and the
  * pipe operator syntax (q300). The reference issues only flat
  * SQL/pandas (`repositories/postgres_audit_repository.py:24-111`);
  * these extend the engine's SQL plane to the Spark-4 spec so a user
  * can express iteration and pipelined transforms IN SQL instead of
  * driver-side loops.
  */
object Sql4Queries {

  val specs: Map[String, QuerySpec] = Map(

    // Q299: WITH RECURSIVE — Spark 4's native recursion operator
    // (UnionLoop) walking each customer's order chain in date order
    // and accumulating spend step by step. Depth = orders per
    // customer, a TPC-H constant (~25 at every SF — orders/customer
    // does not grow with scale), so the recursion depth is
    // SF-INVARIANT and each round joins the frontier (one row per
    // still-active chain, shrinking monotonically) against the cached
    // (ck, rn)-keyed order table. The BROADCAST(w) hint exists
    // because the recursive ref carries no statistics, so the planner
    // would otherwise shuffle BOTH sides every round (measured
    // 4.7 → 3.7 s locally — 25 broadcasts instead of 25 re-shuffles
    // of the order table). SIZING RULE: the hint is right while the
    // active-chain count fits a broadcast (it only shrinks from round
    // 1's size); for corpus-scale recursion where the frontier itself
    // is huge, drop the hint (shuffle join) or use the repo's
    // operator-level iterative forms (TokenGraph BFS/CC), which
    // manage per-round lineage and partitioning explicitly. The
    // oracle replays the identical
    // recursion in DuckDB; every intermediate row is checked because
    // the rollup groups by recursion depth over the FULL walk
    // relation (trajectory, not just final states).
    "q299_recursive_cte" -> QuerySpec(
      (s, dir) => {
        // rank once, persist, and let every loop iteration join the
        // CACHED relation — the recursion then costs one hash join of
        // a shrinking frontier per round, never a recomputed window
        CacheScope.persist(Tables.orders(s, dir).select(
          col("o_custkey").as("ck"),
          row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("o_custkey")
              .orderBy("o_orderdate", "o_orderkey")).as("rn"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")))
          .createOrReplaceTempView("g_q299_ord")
        val out = s.sql("""
          WITH RECURSIVE walk(ck, rn, cum) AS (
            SELECT ck, rn, cents FROM g_q299_ord WHERE rn = 1
            UNION ALL
            SELECT /*+ BROADCAST(w) */ o.ck, o.rn, w.cum + o.cents
            FROM walk w JOIN g_q299_ord o
              ON o.ck = w.ck AND o.rn = w.rn + 1)
          SELECT CAST(rn AS BIGINT) AS depth,
                 CAST(count(*) AS BIGINT) AS n_chains,
                 CAST(sum(cum) AS BIGINT) AS cum_cents
          FROM walk GROUP BY rn ORDER BY depth""")
        // Materialize the ~depth-bounded rollup (≤ orders/customer
        // rows) under a NARROW shuffle width with AQE off: the recursion
        // runs ~25 rounds and every round pays per-partition scheduling
        // (and, under AQE, a job per stage) on exchanges that move a
        // customer-count-sized frontier (measured 6.5 → 2.6 s on q85).
        // Width and AQE are read at EXECUTION, so the override brackets
        // an action: persist + count here, and later actions reuse the
        // cached rollup. This is the one bracket outside graft.Fixpoint:
        // Spark runs the recursion inside that single action, and no
        // count the gate already runs bounds the frontier before it, so
        // Fixpoint's bound-gated decision has nothing to decide on
        // without an extra job. Drop the scope together with the
        // BROADCAST hint per the sizing rule above. (Concurrency
        // contract lives on SqlConfScope: single-threaded runner, or
        // clone the session first.)
        SqlConfScope.withShufflePartitions(s, 8) {
          SqlConfScope.withConf(s, "spark.sql.adaptive.enabled", "false") {
            CacheScope.persist(out).count(); ()
          }
        }
        out
      },
      """WITH RECURSIVE ord AS (
           SELECT o_custkey AS ck,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS rn,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         walk(ck, rn, cum) AS (
           SELECT ck, rn, cents FROM ord WHERE rn = 1
           UNION ALL
           SELECT o.ck, o.rn, w.cum + o.cents
           FROM walk w JOIN ord o ON o.ck = w.ck AND o.rn = w.rn + 1)
         SELECT CAST(rn AS BIGINT) AS depth,
                CAST(count(*) AS BIGINT) AS n_chains,
                CAST(sum(cum) AS BIGINT) AS cum_cents
         FROM walk GROUP BY rn ORDER BY depth"""),

    // Q300: SQL pipe syntax (`|>`) — the Spark 4 linear-flow form of
    // the classic pricing summary: each pipe stage is exactly one
    // logical operator applied to the previous result, so the written
    // order IS the dataflow order. Catalyst plans it identically to
    // the nested form (same scan → filter → aggregate → sort), which
    // the classic-SQL DuckDB oracle certifies by value equality.
    "q300_pipe_syntax" -> QuerySpec(
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("g_q300_lineitem")
        s.sql("""
          FROM g_q300_lineitem
          |> WHERE l_quantity >= 10
          |> EXTEND CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
          |> AGGREGATE CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(cents) AS BIGINT) AS cents,
                       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
             GROUP BY l_returnflag, l_linestatus
          |> ORDER BY l_returnflag, l_linestatus""")
      },
      """SELECT l_returnflag, l_linestatus,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                     AS BIGINT) AS cents,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
         FROM lineitem WHERE l_quantity >= 10
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Q303: collated grouping (Spark 4 string collations) — group
    // case-mangled segment strings under UTF8_LCASE so 'AUTOMOBILE',
    // 'automobile' and 'Automobile' land in ONE group, while
    // count(DISTINCT seg) inside the group still counts binary
    // variants. The group key is emitted as lower(min(seg)) — min
    // over the UNCOLLATED column is a deterministic binary pick
    // (uppercase sorts first), never whichever variant the hash
    // aggregate happened to see first. Oracle: lower()-keyed grouping,
    // equivalent for ASCII segment names. Collation-aware grouping is
    // a property of the comparator, so the plan is still one ordinary
    // hash aggregate — no normalization pre-pass materialized.
    "q303_collated_grouping" -> QuerySpec(
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("g_q303_customer")
        s.sql("""
          WITH src AS (SELECT CASE CAST(pmod(c_custkey, 3) AS INT)
                         WHEN 0 THEN c_mktsegment
                         WHEN 1 THEN lower(c_mktsegment)
                         ELSE initcap(lower(c_mktsegment)) END AS seg
                       FROM g_q303_customer)
          SELECT lower(min(seg)) AS segment,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT seg) AS BIGINT) AS n_variants
          FROM src
          GROUP BY seg COLLATE UTF8_LCASE
          ORDER BY segment""")
      },
      """WITH src AS (SELECT CASE c_custkey % 3
                        WHEN 0 THEN c_mktsegment
                        WHEN 1 THEN lower(c_mktsegment)
                        ELSE upper(substr(c_mktsegment, 1, 1)) ||
                             lower(substr(c_mktsegment, 2)) END AS seg
                      FROM customer)
         SELECT lower(min(seg)) AS segment,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT seg) AS BIGINT) AS n_variants
         FROM src GROUP BY lower(seg) ORDER BY segment"""),

    // Q304: XML ingest — the reference's envelope story for the OTHER
    // document markup: build an XML envelope per order, parse it with
    // schema'd from_xml AND path-level xpath, and prove both
    // extraction planes agree with each other and with the raw
    // columns (the oracle computes from the columns directly — no XML
    // on the oracle side, same lossless-round-trip trick as q297).
    // n_xpath_agree == n pins from_xml ≡ xpath row-by-row.
    //
    // The REPARTITION between envelope and parse is the gate's scale
    // story, measured in round 15: xpath_* builds a DOM per row
    // (~50 µs — 75× the cost of from_xml's StAX pass over the same
    // envelope), and the fixture parquet is one file = ONE input
    // split, so without the exchange the whole parse stage ran on a
    // single core (9.6 s; 1.4 s fanned out). At 100 TB the splits fan
    // out naturally, but a parse-bound stage must never be bound to
    // the file-split count when that count is below the cluster's
    // cores. The exchange is also the staging barrier that keeps the
    // envelope concat rendered once (CTE inlining would otherwise
    // duplicate it into both parse legs — PlanAudit dups). The count
    // is pinned to defaultParallelism because a bare REPARTITION is
    // advisory: AQE coalesces the 6 MB shuffle to one partition by
    // byte size — right for I/O-bound stages, wrong when the cost is
    // per-ROW cpu (measured: bare hint 3.7 s, pinned 1.4 s).
    "q304_xml_ingest" -> QuerySpec(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("g_q304_orders")
        s.sql(s"""
          WITH env AS (SELECT /*+ REPARTITION(${s.sparkContext.defaultParallelism}) */ concat('<o><k>',
                         o_orderkey, '</k><st>',
                         o_orderstatus, '</st><p>',
                         CAST(round(o_totalprice * 100) AS BIGINT),
                         '</p></o>') AS xml
                       FROM g_q304_orders),
          parsed AS (SELECT from_xml(xml, 'k BIGINT, st STRING, p BIGINT') AS x,
                            xpath_string(xml, '/o/st') AS st_xpath
                     FROM env)
          SELECT x.st AS status,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x.p) AS BIGINT) AS cents,
                 CAST(max(x.k) AS BIGINT) AS max_key,
                 CAST(sum(CASE WHEN st_xpath = x.st THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_xpath_agree
          FROM parsed GROUP BY 1 ORDER BY status""")
      },
      """SELECT o_orderstatus AS status,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS cents,
                CAST(max(o_orderkey) AS BIGINT) AS max_key,
                CAST(count(*) AS BIGINT) AS n_xpath_agree
         FROM orders GROUP BY 1 ORDER BY status"""),

    // Q305: try_* error-safe arithmetic — the ANSI-mode answer to
    // "one poisoned row kills the 100 TB job": try_divide / try_cast
    // / try_add return NULL instead of raising on division by zero,
    // malformed numerics, and int64 overflow. The gate counts
    // survivors per failure class; the oracle replays the
    // admission rule arithmetically (no reliance on the oracle
    // engine's own error semantics).
    "q305_try_arithmetic" -> QuerySpec(
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("g_q305_customer")
        s.sql("""
          WITH src AS (SELECT c_custkey AS k,
                              CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
                              CASE CAST(pmod(c_custkey, 3) AS INT)
                                WHEN 0 THEN CAST(c_custkey AS STRING)
                                WHEN 1 THEN concat('x', c_custkey)
                                ELSE '' END AS numlike
                       FROM g_q305_customer)
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(count(try_divide(cents, pmod(k, 7))) AS BIGINT)
                   AS n_div_ok,
                 CAST(count(try_cast(numlike AS BIGINT)) AS BIGINT)
                   AS n_cast_ok,
                 CAST(count(try_add(9223372036854775807,
                        CASE WHEN pmod(k, 11) = 0 THEN 1 ELSE 0 END))
                      AS BIGINT) AS n_add_ok,
                 CAST(sum(coalesce(try_cast(numlike AS BIGINT), 0))
                      AS BIGINT) AS cast_sum
          FROM src""")
      },
      """SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN c_custkey % 7 <> 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_div_ok,
                CAST(sum(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_cast_ok,
                CAST(sum(CASE WHEN c_custkey % 11 <> 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_add_ok,
                CAST(sum(CASE WHEN c_custkey % 3 = 0 THEN c_custkey
                              ELSE 0 END) AS BIGINT) AS cast_sum
         FROM customer"""),

    // Q306: the SQL definition plane — Spark 4's CREATE FUNCTION
    // (scalar SQL UDF), SQL table function, and session VARIABLE,
    // composed: a scalar UDF defines the cents conversion once, a
    // session variable holds the admission threshold, and a TABLE
    // function parameterized by BOTH serves the filtered relation the
    // final rollup reads. SQL UDFs inline into the plan (they are
    // substitution, not black boxes), so the composed query still
    // planned as one scan + filter + aggregate. The oracle writes the
    // same logic inline.
    "q306_sql_definitions" -> QuerySpec(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("g_q306_orders")
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION g_q306_cents(p DOUBLE)
                 RETURNS BIGINT RETURN CAST(round(p * 100) AS BIGINT)""")
        s.sql("DECLARE OR REPLACE VARIABLE g_q306_min BIGINT DEFAULT 0")
        s.sql("SET VAR g_q306_min = 15000000")
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION g_q306_big()
                 RETURNS TABLE(status STRING, cents BIGINT)
                 RETURN SELECT o_orderstatus, g_q306_cents(o_totalprice)
                        FROM g_q306_orders
                        WHERE g_q306_cents(o_totalprice) >= g_q306_min""")
        s.sql("""SELECT status, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(cents) AS BIGINT) AS cents
                 FROM g_q306_big() GROUP BY 1 ORDER BY status""")
      },
      """SELECT o_orderstatus AS status,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS cents
         FROM orders
         WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= 15000000
         GROUP BY 1 ORDER BY status"""),

    // Q310: SQL SCRIPTING (Spark 4 BEGIN…END compound statements) —
    // the last unexplored Spark-4 SQL plane (round-12 item 5):
    // DECLARE'd session-local variables, a WHILE loop issuing one
    // distributed query per iteration, IF/ELSE routing, and an ERROR
    // CONDITION: a nested compound whose EXIT HANDLER catches the
    // ANSI cast failure and records it instead of aborting the
    // script. (The raising statement is driver-evaluable by design:
    // in Spark 4.1.2 an error thrown inside a TASK reaches the
    // handler matcher wrapped without its error condition and the
    // matcher NPEs — handlers are reliable for analysis/driver-side
    // conditions, which is what this leg pins.) The scripting result
    // is the final SELECT.
    // The oracle computes the same totals set-based — the loop is
    // driver-side CONTROL FLOW only; each iteration's aggregate is a
    // full distributed scan, so the pattern scales exactly like the
    // underlying queries (iteration count is fixed by the priority
    // domain, not the data volume).
    "q310_sql_scripting" -> QuerySpec(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("g_q310_orders")
        // Shipped default, pinned for the gate — SCOPED (round-13 advice:
        // a bare conf.set leaked session-global state into every later
        // query of the sweep). The script executes eagerly inside sql();
        // the returned final-SELECT result does not need the flag again.
        SqlConfScope.withConf(s, "spark.sql.scripting.enabled", "true") {
        s.sql(
          """BEGIN
            |  DECLARE i INT DEFAULT 1;
            |  DECLARE n_hi BIGINT DEFAULT 0;
            |  DECLARE n_lo BIGINT DEFAULT 0;
            |  DECLARE cents BIGINT DEFAULT 0;
            |  DECLARE cast_errors INT DEFAULT 0;
            |  WHILE i <= 5 DO
            |    IF i <= 2 THEN
            |      SET n_hi = n_hi + (SELECT count(*) FROM g_q310_orders
            |        WHERE CAST(substring(o_orderpriority, 1, 1) AS INT) = i);
            |    ELSE
            |      SET n_lo = n_lo + (SELECT count(*) FROM g_q310_orders
            |        WHERE CAST(substring(o_orderpriority, 1, 1) AS INT) = i);
            |    END IF;
            |    SET cents = cents + (SELECT coalesce(
            |        CAST(sum(round(o_totalprice * 100)) AS BIGINT), 0L)
            |      FROM g_q310_orders
            |      WHERE CAST(substring(o_orderpriority, 1, 1) AS INT) = i
            |        AND o_orderkey % 2 = i % 2);
            |    SET i = i + 1;
            |  END WHILE;
            |  BEGIN
            |    DECLARE EXIT HANDLER FOR SQLEXCEPTION
            |    BEGIN
            |      SET cast_errors = cast_errors + 1;
            |    END;
            |    SET i = (SELECT CAST('5-LOW is not an int' AS INT));
            |  END;
            |  SELECT n_hi, n_lo, cents, cast_errors;
            |END""".stripMargin)
        }
      },
      """SELECT
           CAST(sum(CASE WHEN CAST(substring(o_orderpriority,1,1) AS INT) <= 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
           CAST(sum(CASE WHEN CAST(substring(o_orderpriority,1,1) AS INT) > 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
           CAST(sum(CASE WHEN o_orderkey % 2 =
                              CAST(substring(o_orderpriority,1,1) AS INT) % 2
                         THEN round(o_totalprice * 100) ELSE 0 END)
                AS BIGINT) AS cents,
           CAST(1 AS INT) AS cast_errors
         FROM orders"""),

    // Q311: METADATA PLANE — DESCRIBE over the engine's table loaders,
    // cross-checked against DuckDB's information_schema on the SAME
    // parquet files: both engines independently resolve the physical
    // schemas, and the oracle maps DuckDB's type names onto Spark's
    // (TIMESTAMP→timestamp_ntz, VARCHAR→string, FLOAT[]→array<float>).
    // Proves the catalog surface (DESCRIBE result shape + resolved
    // types) rather than any hardcoded expectation; covers integral,
    // floating, string, ntz-timestamp and nested-array columns.
    "q311_describe_metadata" -> QuerySpec(
      (s, dir) => {
        val tables = Seq(
          "customer" -> Tables.customer(s, dir),
          "documents" -> Tables.documents(s, dir),
          "embeddings" -> Tables.embeddings(s, dir),
          "lineitem" -> Tables.lineitem(s, dir),
          "orders" -> Tables.orders(s, dir))
        tables.map { case (name, df) =>
          df.createOrReplaceTempView(s"g_q311_$name")
          s.sql(s"DESCRIBE TABLE g_q311_$name")
            .where(!col("col_name").startsWith("#") && col("col_name") =!= "")
            .select(
              lit(name).as("table_name"),
              col("col_name"),
              col("data_type"))
        }.reduce(_.unionByName(_)).orderBy("table_name", "col_name")
      },
      """SELECT table_name, column_name AS col_name,
                CASE data_type
                  WHEN 'BIGINT'    THEN 'bigint'
                  WHEN 'INTEGER'   THEN 'int'
                  WHEN 'DOUBLE'    THEN 'double'
                  WHEN 'VARCHAR'   THEN 'string'
                  WHEN 'TIMESTAMP' THEN 'timestamp_ntz'
                  WHEN 'FLOAT[]'   THEN 'array<float>'
                  ELSE lower(data_type) END AS data_type
         FROM information_schema.columns
         WHERE table_name IN
           ('customer','documents','embeddings','lineitem','orders')
         ORDER BY table_name, col_name""")
  )
}
