package graft.etl

import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.{MultiFormatTimestamp, VariantTypeTag}

/** The ETL transform plane (reference T1–T10,
  * `etl_pipeline/transformer.py:7-125` + `pipeline.py:188-249`),
  * re-expressed as ONE declarative projection over a raw-JSON-document
  * DataFrame.
  *
  * Spark-first design: each document is parsed ONCE per row with
  * `parse_json` into a VariantType column; every per-attribute semantic
  * (missing-vs-null, JSON-type-aware cast dispatch, first-match
  * multi-format dates, error capture) is a Column expression over that
  * variant — the whole transform is a staged `Project` chain that
  * Catalyst pipelines into the scan (one whole-stage-codegen pass), with
  * nothing row-at-a-time and nothing on the driver: stage 1 parses and
  * extracts each attribute's sub-variant ONCE ([[extractAttrs]]), stage
  * 2 computes every typed value from those references. Variant access
  * distinguishes exactly what the reference's Python dict sees:
  *   - attribute absent        → `variant_get` is SQL NULL        (T2)
  *   - attribute JSON null     → `is_variant_null`                (null passthrough)
  *   - JSON value type         → [[graft.functions.VariantTypeTag]] (T3 dispatch —
  *     an O(1) header read; `schema_of_variant` would render a type
  *     string per attribute per row)
  *
  * Cast semantics matched to `transform_value` (`transformer.py:43-79`):
  * `int()` truncates numerics toward zero but rejects non-integral
  * strings; `Decimal(str(v))` is exact; booleans use the token table
  * (`transformer.py:114-125`); dates try the configured formats in
  * declared order, first match wins, and re-serialize to the canonical
  * output string (`transformer.py:82-111`). Cast failure → NULL + an
  * `"attr: message"` error entry, never an abort (T9).
  *
  * Documented divergences (SURVEY §7.4): offsets normalize to UTC
  * (`+0000`) instead of preserving the original offset; `%f` needs
  * exactly 6 digits; Python `str()` of dicts/lists renders here as JSON;
  * integral overflow beyond the target width is an error rather than
  * Python's unbounded int; and for TEXT-typed attributes holding JSON
  * numbers, the rendering is Spark's cast-to-string, not Python `repr`
  * — variant decimals keep their scale's trailing zeros (`5.50` where
  * Python str(Decimal) may print `5.5`) and large doubles render as
  * `1.0E20` where Python prints `1e+20`.
  */
object Transform {

  /** Target rows + audit rows for one collection, all derived from the
    * single-pass `shared` projection (scan + parse_json + all casts).
    * `rows` is both in one [[Landing]] frame, which a sink lands with
    * [[TableSink.appendCollection]] (`Pipeline.landCollection`, the one
    * collection step of batch and streaming runs, does); callers
    * writing `target` and `audit` separately run the
    * writes inside [[withSharedCached]], or the dominant scan+parse cost
    * runs once per consumer.
    */
  final case class TransformedCollection(
      target: DataFrame, audit: DataFrame, shared: DataFrame, rows: DataFrame) {

    /** Runs `body` with `shared` persisted, so every action in it reads
      * one materialization of the projection (Spark's CacheManager
      * substitutes the cached relation into `target` and `audit` by plan
      * match); the cache is released when `body` returns or throws.
      */
    def withSharedCached[A](body: => A): A = {
      shared.persist(StorageLevel.MEMORY_AND_DISK)
      try body finally shared.unpersist()
    }
  }

  private val V = "__graft_variant"
  private def vgCol(i: Int): String = s"__graft_vg_$i"
  private val VgOid = "__graft_vg_oid"

  /** Variant path for a top-level attribute (bracket-quoted so dots or
    * spaces in attribute names stay literal).
    */
  private def path(attr: String): String =
    if (attr.matches("[A-Za-z_][A-Za-z0-9_]*")) s"$$.$attr"
    else "$['" + attr.replace("'", "\\'") + "']"

  /** O(1) physical-type tag of a sub-variant (the header byte), wrapped
    * directly so the transform works on sessions built without
    * [[graft.GraftExtensions]]. Replaces the `schema_of_variant` string
    * renders the dispatch used through round 12 — measured at ~3 variant
    * traversals per attribute per row on the q309 throughput gate.
    */
  private def variantTag(vg: Column): Column =
    GraftExpressionBridge.column(
      VariantTypeTag(GraftExpressionBridge.expression(vg)))

  /** Stage-1 projection: parse the document ONCE, then extract each
    * mapped attribute's sub-variant ONCE into its own column (plus the
    * object-id attribute's). Everything downstream dispatches on these
    * attribute references, so per-row work is one parse + one
    * object-field lookup per attribute — not one lookup per USE of the
    * attribute. The multi-referenced non-cheap aliases (parse_json, each
    * variant_get) keep CollapseProject from folding the stages back into
    * duplicated work, while whole-stage codegen still fuses them into
    * one pass.
    */
  private def extractAttrs(
      raw: DataFrame, rawCol: String, cm: CollectionMapping): DataFrame = {
    val withV = raw.withColumn(V, parse_json(col(rawCol)))
    val v = col(V)
    val keys = cm.mappings.keys.toSeq
    // When the object-id attribute is itself mapped (the common config —
    // `_id` both lands in the target row and names the audit object),
    // REUSE its extraction instead of running the variant path walk a
    // second time per row (round-14 plan audit: q11 showed the `$._id`
    // variant_get twice). The stacked Project survives optimization:
    // CollapseProject won't fold it because folding would duplicate the
    // non-cheap variant_get alias it references.
    val oidIdx = keys.indexOf(cm.objectIdAttribute)
    val base = withV.select(
      Seq(col(rawCol)) ++
        keys.zipWithIndex.map { case (attr, i) =>
          variant_get(v, path(attr), "variant").as(vgCol(i))
        } ++
        (if (oidIdx >= 0) Nil
         else Seq(
           variant_get(v, path(cm.objectIdAttribute), "variant").as(VgOid))): _*)
    if (oidIdx >= 0) base.withColumn(VgOid, col(vgCol(oidIdx))) else base
  }

  private def mCol(i: Int): String = s"__graft_m_$i"
  private def hCol(i: Int): String = s"__graft_h_$i"
  private def pCol(i: Int): String = s"__graft_p_$i"
  private val RawCol = "__raw"
  private val OidCol = "__graft_oid"

  private def needsParse(am: AttributeMapping): Boolean =
    LogicalTypes.normalize(am.typeName) match {
      case "date" | "datetime" => true
      case _                   => false
    }

  /** Stage-1.5 projection: ONE first-match parse attempt per
    * date/datetime attribute per row ([[graft.functions.MultiFormatTimestamp]]
    * — exception-free, returns the matched-format index alongside the
    * instant), staged so the value render, the `%z` offset decision and
    * the error column all read the SAME parse result. The
    * `coalesce(try_to_timestamp × N)` chain it replaces threw a caught
    * DateTimeParseException per non-matching format per row and was
    * re-evaluated by every consumer that needed the matched format.
    */
  private def parseStage(
      ext: DataFrame, cm: CollectionMapping, runtime: RuntimeConfig): DataFrame = {
    val patterns = runtime.dateFormats.map(StrptimeFormats.toParsePattern)
    val parseCols = cm.mappings.values.toSeq.zipWithIndex.collect {
      case (am, i) if needsParse(am) =>
        val vg = col(vgCol(i))
        when(variantTag(vg) === VariantTypeTag.TagString,
          GraftExpressionBridge.column(MultiFormatTimestamp(
            GraftExpressionBridge.expression(vg.try_cast("string")), patterns)))
          .as(pCol(i))
    }
    if (parseCols.isEmpty) ext
    else ext.select(ext.columns.map(col).toSeq ++ parseCols: _*)
  }

  /** All per-attribute derived expressions for one mapping entry. */
  private final case class AttrExprs(
      sourceAttr: String,
      targetColumn: String,
      value: Column,
      missing: Column,
      hasValue: Column,
      errorMessage: Option[String])

  private def attrExprs(
      vg: Column,
      parsed: Option[Column],
      sourceAttr: String,
      am: AttributeMapping,
      runtime: RuntimeConfig): AttrExprs = {
    val normalized = LogicalTypes.normalize(am.typeName)
    if (!LogicalTypes.supported.contains(normalized))
      throw new ConfigError(s"Unsupported target type '${am.typeName}'")

    val missing = vg.isNull
    val jsonNull = is_variant_null(vg)
    val hasValue = vg.isNotNull && !jsonNull
    // Header-byte tag, not schema_of_variant: same dispatch domain
    // (parse_json yields only null/bool/long/decimal/double/string/
    // object/array), zero per-row string rendering.
    val tag = variantTag(vg)
    val isBool = tag === VariantTypeTag.TagBoolean
    val isString = tag === VariantTypeTag.TagString
    val isNumeric = tag.isin(
      VariantTypeTag.TagLong, VariantTypeTag.TagDecimal, VariantTypeTag.TagDouble)
    val asString = vg.try_cast("string")

    def decimalType = s"decimal(${LogicalTypes.decimalPrecision},${LogicalTypes.decimalScale})"

    // Python str(value): booleans render capitalized; everything else via cast.
    def textValue: Column =
      when(isBool, when(vg.try_cast("boolean"), "True").otherwise("False"))
        .otherwise(asString)

    def integralValue(target: String): Column =
      when(isBool, when(vg.try_cast("boolean"), 1).otherwise(0).cast(target))
        .when(isNumeric, vg.try_cast(decimalType).try_cast(target)) // truncates toward zero like int()
        .when(isString, trim(asString).try_cast(target)) // integral strings only, like int(s)
        .otherwise(lit(null).cast(target))

    def doubleValue: Column =
      when(isBool, when(vg.try_cast("boolean"), 1d).otherwise(0d))
        .when(isNumeric, vg.try_cast("double"))
        .when(isString, trim(asString).try_cast("double"))
        .otherwise(lit(null).cast("double"))

    // Decimal(str(value)): exact for numerics and numeric strings;
    // Decimal("True") raises → booleans are errors here, like Python.
    def decimalValue: Column =
      when(isNumeric, vg.try_cast(decimalType))
        .when(isString, trim(asString).try_cast(decimalType))
        .otherwise(lit(null).cast(decimalType))

    def booleanValue: Column =
      when(isBool, vg.try_cast("boolean"))
        .when(isNumeric, vg.try_cast("double") =!= 0d)
        .when(isString,
          when(lower(trim(asString)).isin("true", "t", "yes", "y", "1"), true)
            .when(lower(trim(asString)).isin("false", "f", "no", "n", "0"), false)
            .otherwise(lit(null).cast("boolean")))
        .otherwise(lit(null).cast("boolean"))

    // First-match multi-format parse (T4): the staged
    // MultiFormatTimestamp struct ([[parseStage]]) — `ts` is the first
    // matching format's instant, `idx` which format matched (both NULL
    // when nothing parsed, exactly like the old coalesced chain).
    lazy val parsedTs: Column = parsed.get.getField("ts")
    lazy val matchedHasOffset: Column =
      coalesce(
        element_at(
          array(runtime.dateFormats.map(f =>
            lit(StrptimeFormats.hasOffsetDirective(f))): _*),
          parsed.get.getField("idx") + 1),
        lit(false))

    /** Render `ts` through a strftime output format; `%z` renders as the
      * session-zone offset (`+0000` under UTC) when the matched input
      * format carried an offset, else empty — mirroring strftime on
      * naive vs aware datetimes.
      */
    def renderOutput(ts: Column, outputFormat: String): Column = {
      val parts = outputFormat.split("%z", -1)
      val rendered: Seq[Column] = parts.zipWithIndex.flatMap { case (part, i) =>
        val formatted: Seq[Column] =
          if (part.isEmpty) Seq.empty
          else Seq(date_format(ts, StrptimeFormats.toFormatPattern(part)))
        if (i < parts.length - 1)
          formatted :+ when(matchedHasOffset, date_format(ts, "xx")).otherwise("")
        else formatted
      }.toSeq
      if (rendered.isEmpty) lit("") else concat(rendered: _*)
    }

    def dateValue: Column =
      when(isString, renderOutput(to_timestamp(to_date(parsedTs)), runtime.dateOutputFormat))
        .otherwise(lit(null).cast("string"))

    def datetimeValue: Column =
      when(isString, renderOutput(parsedTs, runtime.datetimeOutputFormat))
        .otherwise(lit(null).cast("string"))

    val value: Column = normalized match {
      case "text" | "string" | "varchar"            => textValue
      case "integer" | "int"                        => integralValue("int")
      case "bigint"                                 => integralValue("bigint")
      case "smallint"                               => integralValue("smallint")
      case "float" | "double" | "double precision"  => doubleValue
      case "numeric" | "decimal"                    => decimalValue
      case "boolean" | "bool"                       => booleanValue
      case "date"                                   => dateValue
      case "datetime"                               => datetimeValue
    }

    // Cast failure → NULL + message (transformer.py:76-79); text never
    // fails. The error COLUMN is built downstream over the staged value
    // ([[stagedValues]]) so the typed cast runs once per row, not once
    // per referencing output column.
    val message = normalized match {
      case "text" | "string" | "varchar" => None
      case "date"                        => Some("invalid date format")
      case "datetime"                    => Some("invalid datetime format")
      case _                             => Some(s"invalid value for type '${am.typeName}'")
    }

    AttrExprs(sourceAttr, am.column, when(hasValue, value), missing, hasValue, message)
  }

  /** Stage-2 projection: every typed value — including the multi-format
    * date parse chains, the costliest expressions in the transform —
    * computed ONCE per row and aliased, alongside the cheap missing /
    * has-value bits. Downstream error/status/array columns reference
    * these aliases instead of re-evaluating the cast trees (through
    * round 12 the `__errors` array re-ran every typed cast once per
    * output column that mentioned it — measured at 2–3× the whole
    * transform's per-row work on the q309 gate). Multi-referenced
    * non-cheap aliases keep CollapseProject from folding the stage back
    * into duplicated work.
    */
  private def stagedValues(
      ext: DataFrame, rawCol: String, attrs: Seq[AttrExprs]): DataFrame =
    ext.select(
      Seq(col(rawCol).as(RawCol), objectIdExpr(col(VgOid)).as(OidCol)) ++
        attrs.zipWithIndex.flatMap { case (a, i) =>
          Seq(
            a.value.as(a.targetColumn),
            a.missing.as(mCol(i)),
            a.hasValue.as(hCol(i)))
        }: _*)

  /** `attr: message` error entries over the staged values: an attribute
    * errored iff it HAD a value and the staged typed value is NULL
    * (equivalent to the pre-staging `hasValue && typedValue.isNull`
    * because the staged value is `when(hasValue, typedValue)`).
    */
  private def stagedErrors(attrs: Seq[AttrExprs]): Column =
    array_compact(array(attrs.zipWithIndex.map { case (a, i) =>
      a.errorMessage match {
        case None      => lit(null).cast("string")
        case Some(msg) =>
          when(col(hCol(i)) && col(a.targetColumn).isNull,
            lit(s"${a.sourceAttr}: $msg"))
            .otherwise(lit(null).cast("string"))
      }
    }: _*))

  private def stagedMissingColumns(attrs: Seq[AttrExprs]): Column =
    array_compact(array(attrs.zipWithIndex.map { case (a, i) =>
      when(col(mCol(i)), lit(a.targetColumn))
    }: _*))

  /** Python `str(value)` for the audit object id (T10): string
    * passthrough, capitalized booleans, numbers via cast. `vg` is the
    * pre-extracted object-id sub-variant ([[extractAttrs]]).
    */
  private def objectIdExpr(vg: Column): Column =
    when(vg.isNotNull && !is_variant_null(vg),
      when(variantTag(vg) === VariantTypeTag.TagBoolean,
        when(vg.try_cast("boolean"), "True").otherwise("False"))
        .otherwise(vg.try_cast("string")))

  /** The projection both public transforms select from: the raw
    * document, every typed target column, and the audit-derived
    * `__missing_columns`, `__errors`, `__object_id` and `__status`.
    */
  private def baseProjection(
      raw: DataFrame,
      rawCol: String,
      cm: CollectionMapping,
      runtime: RuntimeConfig,
      audit: AuditSettings): (DataFrame, Seq[AttrExprs]) = {
    val ext = parseStage(extractAttrs(raw, rawCol, cm), cm, runtime)
    val attrs = cm.mappings.toSeq.zipWithIndex.map { case ((attr, am), i) =>
      attrExprs(col(vgCol(i)),
        if (needsParse(am)) Some(col(pCol(i))) else None, attr, am, runtime)
    }
    val base = stagedValues(ext, rawCol, attrs).select(
      Seq(col(RawCol)) ++
        attrs.map(a => col(a.targetColumn)) ++
        Seq(
          stagedMissingColumns(attrs).as("__missing_columns"),
          stagedErrors(attrs).as("__errors"),
          col(OidCol).as("__object_id")): _*)
      .withColumn("__status",
        when(size(col("__errors")) > 0, audit.statusValues("error"))
          .otherwise(audit.statusValues("success")))
    (base, attrs)
  }

  /** Full single-collection transform: returns the target-row DataFrame
    * and the audit-row DataFrame (K4 shape, `audit.py:13-31`), both
    * derived from one shared projection.
    *
    * @param raw          DataFrame holding raw JSON document strings
    * @param rawCol       name of the raw-JSON string column in `raw`
    * @param collectionName source collection (T8 business column)
    * @param cm           the collection's mapping config
    * @param objectStatus T11 classification for the destination table
    *                     (NEW / MISSING / ALREADY_EXISTS), decided in the
    *                     sink plane
    * @param clock        injectable ingestion timestamp (golden tests pin
    *                     it; default wall clock like `audit.py:7`)
    */
  def transformCollection(
      raw: DataFrame,
      rawCol: String,
      collectionName: String,
      cm: CollectionMapping,
      runtime: RuntimeConfig,
      audit: AuditSettings,
      objectStatus: String = "ALREADY_EXISTS",
      clock: Column = current_timestamp()): TransformedCollection = {
    val (base, attrs) = baseProjection(raw, rawCol, cm, runtime, audit)

    val bc = audit.businessColumns
    val targetCols = attrs.map(a => col(a.targetColumn)) ++
      Seq(
        col("__raw").as(cm.rawJsonColumn), // T7: original document verbatim
        clock.as(bc("ingested_at")),
        lit(collectionName).as(bc("source_collection")),
        col("__status").as(bc("status")))

    val ac = audit.auditColumns
    val auditCols = Seq(
      ac("ingested_at") -> clock,
      ac("object_id") -> col("__object_id"),
      ac("source_collection") -> lit(collectionName),
      ac("object_name") -> lit(cm.targetTable),
      ac("object_status") -> lit(objectStatus),
      ac("missing_columns") -> col("__missing_columns"),
      ac("processing_status") -> col("__status"))

    TransformedCollection(
      base.select(targetCols: _*),
      base.select(auditCols.map { case (name, c) => c.as(name) }: _*),
      base,
      base.select(targetCols ++
        auditCols.map { case (name, c) => c.as(Landing.auditColumn(name)) } :+
        lit(true).as(Landing.HasTarget): _*))
  }

  /** Diagnostic variant used by the oracle query: target columns plus
    * the audit-derived columns in one flat DataFrame (no timestamp, so
    * the output is deterministic).
    */
  def transformFlat(
      raw: DataFrame,
      rawCol: String,
      cm: CollectionMapping,
      runtime: RuntimeConfig,
      audit: AuditSettings): DataFrame = {
    val (base, attrs) = baseProjection(raw, rawCol, cm, runtime, audit)
    base.select(
      attrs.map(a => col(a.targetColumn)) ++
        Seq(
          col(RawCol).as(cm.rawJsonColumn),
          to_json(col("__missing_columns")).as("missing_columns"),
          size(col("__errors")).as("n_errors"),
          col("__status").as("status"),
          col("__object_id").as("object_id")): _*)
  }
}
