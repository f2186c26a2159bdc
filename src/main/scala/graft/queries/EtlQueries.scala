package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl._

/** Q11/Q12 fixture plumbing: a deterministic raw-JSON document corpus
  * derived from the `orders` fixture table, constructed by string
  * concatenation with the *same* arithmetic in Spark and in the DuckDB
  * oracle — so the oracle can compute the transform's expected output
  * directly from the base columns while Spark exercises the real
  * variant-parsing ETL path.
  *
  * Per-document variation (k = o_orderkey):
  *  - `order_date` rotates through 4 of the reference's 10 configured
  *    formats (k%4) — exercises first-match multi-format parsing (T4)
  *  - `event_time` is a naive ISO datetime (format 6)
  *  - `amount_str` is a numeric string, or the unparseable `"junk"` when
  *    k%7=0 — exercises cast-failure → NULL + error + status flip (T9)
  *  - `is_priority` is a JSON boolean; `total`/`mixed` JSON numbers
  *  - `comment` is ABSENT (not null) when k%5=0 — exercises
  *    missing-vs-null tracking (T2); `extra_attr` is never present
  *  - `mixed` has no mapping entry — exercises unmapped-attr drop (T1)
  */
object EtlQueries {

  /** The fixture parquet is ONE file = one input split, so without a
    * fan-out every consumer's parse/cast plane would run on a single
    * core regardless of the session's size — a fixture artifact, not a
    * property of the measured system (round-15: the q11 transform read
    * 8.1 s single-split vs 1.6 s fanned at sf0.1; at 100 TB inputs
    * arrive in many splits and `fanOutForCpu` inserts nothing).
    */
  def rawOrdersDocs(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val kStr = k.cast("string")
    val d = to_date(col("o_orderdate"))
    val amtDec = col("o_totalprice").cast("decimal(12,2)")
    val decStr = amtDec.cast("string")
    def pad(c: Column) = lpad(c.cast("string"), 2, "0")
    val fd = when(pmod(k, lit(4)) === 0, date_format(d, "yyyy-MM-dd"))
      .when(pmod(k, lit(4)) === 1, date_format(d, "MM/dd/yyyy"))
      .when(pmod(k, lit(4)) === 2, date_format(d, "dd-MM-yyyy"))
      .otherwise(date_format(d, "yyyy/MM/dd"))
    val et = concat(
      date_format(d, "yyyy-MM-dd"), lit("T"),
      pad(pmod(k, lit(24))), lit(":"), pad(pmod(k, lit(60))), lit(":"), pad(pmod(k * 7, lit(60))))
    val amt = when(pmod(k, lit(7)) === 0, lit("junk")).otherwise(decStr)
    val boolStr = when(pmod(k, lit(2)) === 0, lit("true")).otherwise(lit("false"))
    val mixedStr = when(pmod(k, lit(3)) === 0, kStr).otherwise(decStr)
    val commentPart = when(pmod(k, lit(5)) === 0, lit(""))
      .otherwise(concat(lit(",\"comment\":\"note "), kStr, lit("\"")))
    Ingestion.fanOutForCpu(Tables.orders(s, dir)).select(concat(
      lit("{\"_id\":"), kStr,
      lit(",\"order_date\":\""), fd,
      lit("\",\"event_time\":\""), et,
      lit("\",\"total\":"), decStr,
      lit(",\"amount_str\":\""), amt,
      lit("\",\"is_priority\":"), boolStr,
      lit(",\"priority\":\""), col("o_orderpriority"),
      lit("\",\"mixed\":"), mixedStr,
      commentPart,
      lit("}")).as("raw"))
  }

  /** The q11 mapping config (SURVEY Q11): every logical-type family, a
    * renamed projection, an always-absent attribute, an error-prone one.
    */
  val ordersMapping: CollectionMapping = CollectionMapping(
    targetTable = "public.orders_t",
    rawJsonColumn = "raw_json",
    objectIdAttribute = "_id",
    mappings = ListMap(
      "_id" -> AttributeMapping("order_id", "integer"),
      "order_date" -> AttributeMapping("order_date", "date"),
      "event_time" -> AttributeMapping("event_ts", "datetime"),
      "total" -> AttributeMapping("amount", "numeric"),
      "amount_str" -> AttributeMapping("amount2", "numeric"),
      "is_priority" -> AttributeMapping("is_priority", "boolean"),
      "priority" -> AttributeMapping("priority_label", "text"),
      "comment" -> AttributeMapping("comment", "text"),
      "extra_attr" -> AttributeMapping("extra_col", "text")))

  private[queries] val docSql =
    """WITH src AS (
         SELECT o_orderkey AS k,
                CAST(o_orderdate AS DATE) AS d,
                CAST(o_totalprice AS DECIMAL(12,2)) AS amt_dec,
                o_orderpriority AS pri
         FROM orders),
       doc AS (
         SELECT k, d, amt_dec, pri,
           CASE k%4 WHEN 0 THEN strftime(d,'%Y-%m-%d')
                    WHEN 1 THEN strftime(d,'%m/%d/%Y')
                    WHEN 2 THEN strftime(d,'%d-%m-%Y')
                    ELSE strftime(d,'%Y/%m/%d') END AS fd,
           strftime(d,'%Y-%m-%d')||'T'||lpad(CAST(k%24 AS VARCHAR),2,'0')||':'||
             lpad(CAST(k%60 AS VARCHAR),2,'0')||':'||lpad(CAST((k*7)%60 AS VARCHAR),2,'0') AS et,
           CASE WHEN k%7=0 THEN 'junk' ELSE CAST(amt_dec AS VARCHAR) END AS amt,
           CASE WHEN k%2=0 THEN 'true' ELSE 'false' END AS boolstr,
           CASE WHEN k%3=0 THEN CAST(k AS VARCHAR) ELSE CAST(amt_dec AS VARCHAR) END AS mixedstr
         FROM src)"""

  val specs: Map[String, QuerySpec] = Map(

    // Q11 (T1-T10): the full ETL transform as one oracle query — the
    // oracle recomputes the expected post-transform values from the base
    // columns while Spark runs the real parse_json/variant path.
    // The engine keeps numeric attributes as DecimalType(38,18)
    // (Transform.scala); the GATE casts them to double on both sides
    // because the driver's comparator materializes Spark decimals as
    // java Decimal objects but DuckDB decimals as float64, so any hash
    // over the frame diverges on representation even when every value
    // is exact (CORRECTNESS_r03 q11). decimal(12,2)->double is the
    // identical correctly-rounded conversion in both engines.
    "q11_etl_transform" -> QuerySpec(
      (s, dir) =>
        Transform.transformFlat(
          rawOrdersDocs(s, dir), "raw", ordersMapping,
          EtlDefaults.runtime, EtlDefaults.audit)
          .withColumn("amount", col("amount").cast("double"))
          .withColumn("amount2", col("amount2").cast("double"))
          .orderBy("order_id"),
      docSql + """
         SELECT CAST(k AS INTEGER) AS order_id,
                strftime(d,'%Y-%m-%d') AS order_date,
                et AS event_ts,
                CAST(amt_dec AS DOUBLE) AS amount,
                CASE WHEN k%7=0 THEN NULL ELSE CAST(amt_dec AS DOUBLE) END AS amount2,
                (k%2=0) AS is_priority,
                pri AS priority_label,
                CASE WHEN k%5=0 THEN NULL ELSE 'note '||CAST(k AS VARCHAR) END AS comment,
                CAST(NULL AS VARCHAR) AS extra_col,
                '{"_id":'||CAST(k AS VARCHAR)||',"order_date":"'||fd||'","event_time":"'||et||
                  '","total":'||CAST(amt_dec AS VARCHAR)||',"amount_str":"'||amt||
                  '","is_priority":'||boolstr||',"priority":"'||pri||'","mixed":'||mixedstr||
                  (CASE WHEN k%5=0 THEN '' ELSE ',"comment":"note '||CAST(k AS VARCHAR)||'"' END)||
                  '}' AS raw_json,
                CASE WHEN k%5=0 THEN '["comment","extra_col"]' ELSE '["extra_col"]' END AS missing_columns,
                CASE WHEN k%7=0 THEN 1 ELSE 0 END AS n_errors,
                CASE WHEN k%7=0 THEN 'error' ELSE 'success' END AS status,
                CAST(k AS VARCHAR) AS object_id
         FROM doc ORDER BY order_id"""),

    // Q12 (I1-I4): type-vote schema inference over the same corpus. The
    // oracle rebuilds the per-value label stream (JSON-native types are
    // structural; string attrs re-sniffed with the same datetime→date→
    // int-regex→float→text ladder) and applies the identical vote
    // resolution + _id>id>first object-id pick.
    "q12_schema_inference" -> QuerySpec(
      (s, dir) =>
        SchemaInference.inferSchema(rawOrdersDocs(s, dir), "raw"),
      docSql + """,
         sniffed AS (
           SELECT attribute, CASE
             WHEN try_strptime(v, ['%Y-%m-%dT%H:%M:%S','%Y-%m-%dT%H:%M:%S%z',
                                   '%Y-%m-%dT%H:%M:%S.%fZ','%d-%m-%Y %H:%M:%S',
                                   '%m/%d/%Y %I:%M %p']) IS NOT NULL THEN 'datetime'
             WHEN try_strptime(v, ['%Y-%m-%d','%m/%d/%Y','%d-%m-%Y','%Y/%m/%d',
                                   '%Y.%m.%d']) IS NOT NULL THEN 'date'
             WHEN regexp_matches(v, '^[+-]?[0-9]+$') THEN 'integer'
             WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL THEN 'numeric'
             ELSE 'text' END AS label
           FROM (
             SELECT 'order_date' AS attribute, fd AS v FROM doc
             UNION ALL SELECT 'event_time', et FROM doc
             UNION ALL SELECT 'amount_str', amt FROM doc
             UNION ALL SELECT 'priority', pri FROM doc
             UNION ALL SELECT 'comment', 'note '||CAST(k AS VARCHAR) FROM doc WHERE k%5<>0)),
         labels AS (
           SELECT attribute, label FROM sniffed
           UNION ALL SELECT '_id', 'integer' FROM doc
           UNION ALL SELECT 'total', 'numeric' FROM doc
           UNION ALL SELECT 'is_priority', 'boolean' FROM doc
           UNION ALL SELECT 'mixed', CASE WHEN k%3=0 THEN 'integer' ELSE 'numeric' END FROM doc),
         votes AS (
           SELECT attribute, list_sort(list_distinct(list(label))) AS vs
           FROM labels GROUP BY 1),
         resolved AS (
           SELECT attribute, CASE
             WHEN len(vs) = 0 THEN 'text'
             WHEN len(vs) = 1 THEN vs[1]
             WHEN len(list_filter(vs, v -> v NOT IN ('integer','numeric'))) = 0 THEN 'numeric'
             ELSE 'text' END AS inferred_type
           FROM votes),
         chosen AS (
           SELECT coalesce(max(CASE WHEN attribute = '_id' THEN '_id' END),
                           max(CASE WHEN attribute = 'id' THEN 'id' END),
                           min(attribute)) AS c
           FROM resolved)
         SELECT r.attribute, r.inferred_type, (r.attribute = chosen.c) AS is_object_id
         FROM resolved r CROSS JOIN chosen ORDER BY r.attribute"""),

    // Q124 (the 100 TB inference path): SAMPLED schema inference — the
    // content-stable hash sample (salted md5-prefix bucket of the raw
    // document, pct=37) is deterministic, so the oracle reconstructs the
    // identical raw string, applies the identical md5 predicate, and
    // runs the identical vote resolution over the sampled subset. No
    // TABLESAMPLE partition-order dependence on either side.
    "q124_sampled_inference" -> QuerySpec(
      (s, dir) =>
        SchemaInference.inferSchemaSampled(rawOrdersDocs(s, dir), "raw", pct = 37),
      docSql + """,
         sdoc AS (
           SELECT * FROM (
             SELECT doc.*,
               '{"_id":'||CAST(k AS VARCHAR)||',"order_date":"'||fd||'","event_time":"'||et||
                 '","total":'||CAST(amt_dec AS VARCHAR)||',"amount_str":"'||amt||
                 '","is_priority":'||boolstr||',"priority":"'||pri||'","mixed":'||mixedstr||
                 (CASE WHEN k%5=0 THEN '' ELSE ',"comment":"note '||CAST(k AS VARCHAR)||'"' END)||
                 '}' AS raw
             FROM doc)
           WHERE ('0x'||substr(md5('infer:'||raw),1,15))::BIGINT % 100 < 37),
         sniffed AS (
           SELECT attribute, CASE
             WHEN try_strptime(v, ['%Y-%m-%dT%H:%M:%S','%Y-%m-%dT%H:%M:%S%z',
                                   '%Y-%m-%dT%H:%M:%S.%fZ','%d-%m-%Y %H:%M:%S',
                                   '%m/%d/%Y %I:%M %p']) IS NOT NULL THEN 'datetime'
             WHEN try_strptime(v, ['%Y-%m-%d','%m/%d/%Y','%d-%m-%Y','%Y/%m/%d',
                                   '%Y.%m.%d']) IS NOT NULL THEN 'date'
             WHEN regexp_matches(v, '^[+-]?[0-9]+$') THEN 'integer'
             WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL THEN 'numeric'
             ELSE 'text' END AS label
           FROM (
             SELECT 'order_date' AS attribute, fd AS v FROM sdoc
             UNION ALL SELECT 'event_time', et FROM sdoc
             UNION ALL SELECT 'amount_str', amt FROM sdoc
             UNION ALL SELECT 'priority', pri FROM sdoc
             UNION ALL SELECT 'comment', 'note '||CAST(k AS VARCHAR) FROM sdoc WHERE k%5<>0)),
         labels AS (
           SELECT attribute, label FROM sniffed
           UNION ALL SELECT '_id', 'integer' FROM sdoc
           UNION ALL SELECT 'total', 'numeric' FROM sdoc
           UNION ALL SELECT 'is_priority', 'boolean' FROM sdoc
           UNION ALL SELECT 'mixed', CASE WHEN k%3=0 THEN 'integer' ELSE 'numeric' END FROM sdoc),
         votes AS (
           SELECT attribute, list_sort(list_distinct(list(label))) AS vs
           FROM labels GROUP BY 1),
         resolved AS (
           SELECT attribute, CASE
             WHEN len(vs) = 0 THEN 'text'
             WHEN len(vs) = 1 THEN vs[1]
             WHEN len(list_filter(vs, v -> v NOT IN ('integer','numeric'))) = 0 THEN 'numeric'
             ELSE 'text' END AS inferred_type
           FROM votes),
         chosen AS (
           SELECT coalesce(max(CASE WHEN attribute = '_id' THEN '_id' END),
                           max(CASE WHEN attribute = 'id' THEN 'id' END),
                           min(attribute)) AS c
           FROM resolved)
         SELECT r.attribute, r.inferred_type, (r.attribute = chosen.c) AS is_object_id
         FROM resolved r CROSS JOIN chosen ORDER BY r.attribute"""),

    // Q308 (S2/S3): the Mongo BSON→JSON normalization, oracle-gated
    // without the connector jar (round-11 verdict item 1). The fixture
    // is a deterministic Mongo EXTENDED-JSON corpus derived from
    // `orders` — `$oid` wrappers (top-level and nested in a dict),
    // `$date` wrappers (top-level with an optional fractional second,
    // and nested inside a list), a scale-carrying decimal, plain
    // ints/strings — and Spark runs the REAL recursive normalization
    // path (MongoSource.normalizeExtendedJson: Jackson tree rewrite →
    // reference `_serialize_value` semantics, ui/mongo_ingest.py:81-91)
    // while the oracle constructs the expected serialized document
    // directly from the base columns with the same arithmetic.
    // Byte-exact on the full document string: field order, compact
    // separators, decimal digits, Python isoformat fractional rules
    // (6-digit micros, omitted when zero) all checked.
    "q308_mongo_normalize" -> QuerySpec(
      (s, dir) => {
        val k = col("o_orderkey")
        val d = to_date(col("o_orderdate"))
        def pad(c: Column) = lpad(c.cast("string"), 2, "0")
        val oid1 = lower(lpad(hex(k), 24, "0"))
        val oid2 = lower(lpad(hex(k * 7), 24, "0"))
        val t = concat(
          date_format(d, "yyyy-MM-dd"), lit("T"),
          pad(pmod(k, lit(24))), lit(":"), pad(pmod(k, lit(60))),
          lit(":"), pad(pmod(k * 3, lit(60))))
        val frac = when(pmod(k, lit(3)) === 0, lit(".500")).otherwise(lit(""))
        val dec = col("o_totalprice").cast("decimal(12,2)").cast("string")
        // same single-split fixture artifact as rawOrdersDocs: the
        // recursive Jackson rewrite is per-row CPU, fan it out
        val docs = Ingestion.fanOutForCpu(Tables.orders(s, dir)).select(concat(
          lit("{\"_id\":{\"$oid\":\""), oid1,
          lit("\"},\"created\":{\"$date\":\""), t, frac, lit("Z\"},"),
          lit("\"meta\":{\"ref\":{\"$oid\":\""), oid2,
          lit("\"},\"n\":"), pmod(k, lit(97)),
          lit("},\"tags\":[\"t"), pmod(k, lit(5)),
          lit("\",{\"$date\":\""), t, lit("Z\"},123],"),
          lit("\"total\":"), dec,
          lit(",\"priority\":\""), col("o_orderpriority"),
          lit("\"}")).as("raw"))
        graft.sources.MongoSource.normalizeExtendedJson(docs)
          .select(get_json_object(col("raw"), "$._id").as("doc_id"),
            col("raw"))
          .orderBy("doc_id")
      },
      """WITH src AS (
           SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d,
                  CAST(o_totalprice AS DECIMAL(12,2)) AS amt,
                  o_orderpriority AS pri
           FROM orders),
         doc AS (
           SELECT lower(lpad(hex(k),24,'0')) AS oid1,
                  lower(lpad(hex(k*7),24,'0')) AS oid2,
                  strftime(d,'%Y-%m-%d')||'T'||
                    lpad(CAST(k%24 AS VARCHAR),2,'0')||':'||
                    lpad(CAST(k%60 AS VARCHAR),2,'0')||':'||
                    lpad(CAST((k*3)%60 AS VARCHAR),2,'0') AS t,
                  CASE WHEN k%3=0 THEN '.500000' ELSE '' END AS fracn,
                  CAST(amt AS VARCHAR) AS decs, pri, k
           FROM src)
         SELECT oid1 AS doc_id,
                '{"_id":"'||oid1||'","created":"'||t||fracn||
                  '","meta":{"ref":"'||oid2||'","n":'||CAST(k%97 AS VARCHAR)||
                  '},"tags":["t'||CAST(k%5 AS VARCHAR)||'","'||t||
                  '",123],"total":'||decs||',"priority":"'||pri||'"}' AS raw
         FROM doc ORDER BY doc_id"""),

    // Q309: the reference's CORE PATH as a tracked throughput line
    // (round-11 verdict item 5): S1 fixture docs → the full
    // transformCollection plane (T1–T11: variant parse, typed casts,
    // multi-format dates, error accumulation, audit columns) → BOTH
    // output planes written through a Parquet sink double (the
    // stand-in for the reference's Postgres appends — pipeline.py
    // stage 5 + audit.py) → summary aggregated from the FILES WRITTEN,
    // so the timed number includes parse + transform + sink I/O, and
    // the oracle cross-checks the landed row counts from base columns.
    // Bench runs this at sf0.1 every round — the reference's
    // architectural bound is a single-process row loop; this is one
    // narrow distributed pass per output plane.
    "q309_etl_throughput" -> QuerySpec(
      (s, dir) => {
        val tc = Transform.transformCollection(
          rawOrdersDocs(s, dir), "raw", "orders", ordersMapping,
          EtlDefaults.runtime, EtlDefaults.audit,
          clock = to_timestamp(lit("2024-01-01 00:00:00")))
        val tmp = GateTmp.dir("graft-q309").toString
        // Cached for THIS invocation only — not CacheScope — so the
        // bench's warmup cache can't feed the timed passes: every pass
        // must pay the full parse + transform once, or this stops being
        // a throughput gate.
        tc.withSharedCached {
          tc.target.write.mode("overwrite").parquet(s"$tmp/target")
          tc.audit.write.mode("overwrite").parquet(s"$tmp/audit")
        }
        val a = s.read.parquet(s"$tmp/audit")
        val t = s.read.parquet(s"$tmp/target")
        a.agg(
          count(lit(1)).cast("long").as("n_audit"),
          sum(when(col("processing_status") === "error", 1L).otherwise(0L))
            .cast("long").as("n_error"),
          sum(when(size(col("missing_columns")) > 1, 1L).otherwise(0L))
            .cast("long").as("n_missing_comment"))
          .crossJoin(t.agg(
            count(lit(1)).cast("long").as("n_target"),
            sum(when(col("status") === "error", 1L).otherwise(0L))
              .cast("long").as("n_target_error")))
          .select("n_audit", "n_error", "n_missing_comment",
            "n_target", "n_target_error")
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_audit,
                CAST(sum(CASE WHEN o_orderkey%7=0 THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
                CAST(sum(CASE WHEN o_orderkey%5=0 THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_comment,
                CAST(count(*) AS BIGINT) AS n_target,
                CAST(sum(CASE WHEN o_orderkey%7=0 THEN 1 ELSE 0 END) AS BIGINT) AS n_target_error
         FROM orders""")
  )
}
