package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S2 — the reference's BSON→JSON normalization
  * (`ui/mongo_ingest.py:76-91`: ObjectId→str, datetime→ISO) over
  * extended-JSON dumps, feeding the same raw-doc transform path as the
  * file source.
  *
  * The live read is [[MongoWireSource]] (the from-scratch wire client,
  * no connector jar): `.schema("raw STRING")` yields each whole
  * document already in this normal form, and `.limit(1)` on it is the
  * S3 preview (`ui/mapping_editor.py:391-409`).
  */
object MongoSource {

  /** The reference serializer re-expressed over Mongo Extended JSON —
    * the connector-less ingest path (`mongoexport` / extended-JSON v2
    * dumps): BSON types arrive as `{"$oid":"<hex24>"}` and
    * `{"$date":"<ISO-8601>"}` wrapper objects at ANY nesting depth,
    * and the reference's recursive `_serialize_value`
    * (`ui/mongo_ingest.py:81-91`) maps ObjectId→str(oid) and
    * datetime→`isoformat()` while recursing through lists and dicts,
    * leaving every other value untouched. This applies exactly that
    * mapping to a `raw` column of extended-JSON document strings,
    * emitting the reference's serialized form (compact JSON, field
    * order preserved — Python dicts and Jackson object nodes both keep
    * insertion order; numbers round-trip verbatim via BigDecimal so
    * `15.30` never re-renders as `15.3`).
    *
    * `$date` normalization matches pymongo's default decode
    * (tz_aware=False: UTC instant → NAIVE datetime → `isoformat()`),
    * so `"2023-01-01T12:34:56Z"` becomes `"2023-01-01T12:34:56"` and a
    * fractional second renders as Python does — 6-digit microseconds,
    * omitted entirely when zero. Wrappers this engine does not model
    * (e.g. canonical `$numberLong`) pass through untouched — the
    * relaxed export format this path ingests emits plain numbers.
    *
    * Scale shape: one narrow mapPartitions (per-partition Jackson
    * mapper, no shuffle, no driver involvement) — the same per-doc
    * cost class as the reference's row loop, but distributed.
    */
  def normalizeExtendedJson(df: DataFrame, rawCol: String = "raw"): DataFrame = {
    import org.apache.spark.sql.Encoders
    val ds = df.select(col(rawCol).cast("string")).as(Encoders.STRING)
    ds.mapPartitions { it =>
      val mapper = newExtendedJsonMapper()
      it.map(doc => mapper.writeValueAsString(normalizeNode(mapper.readTree(doc), mapper)))
    }(Encoders.STRING).toDF(rawCol)
  }

  private def newExtendedJsonMapper(): com.fasterxml.jackson.databind.ObjectMapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    // floats as BigDecimal: the document's own digits survive the
    // round-trip (double would re-render 15.30 as 15.3) — and keep
    // Jackson 2.15+'s node-level normalization from stripping the
    // trailing zero right back off
    m.configure(
      com.fasterxml.jackson.databind.DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS,
      true)
    m.configure(
      com.fasterxml.jackson.databind.cfg.JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES,
      false)
    m
  }

  private def normalizeNode(
      n: com.fasterxml.jackson.databind.JsonNode,
      mapper: com.fasterxml.jackson.databind.ObjectMapper)
      : com.fasterxml.jackson.databind.JsonNode = {
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode, TextNode}
    n match {
      case o: ObjectNode if o.size == 1 && o.has("$oid")
          && o.get("$oid").isTextual =>
        TextNode.valueOf(o.get("$oid").asText)
      case o: ObjectNode if o.size == 1 && o.has("$date")
          && o.get("$date").isTextual =>
        // one parse per node: Some → rendered naive isoformat; None
        // (unparseable text) → the wrapper passes through verbatim
        isoNaive(o.get("$date").asText)
          .map(TextNode.valueOf)
          .getOrElse(o)
      case o: ObjectNode =>
        val out = mapper.createObjectNode()
        val fields = o.fields()
        while (fields.hasNext) {
          val e = fields.next()
          out.set[ObjectNode](e.getKey, normalizeNode(e.getValue, mapper))
        }
        out
      case a: ArrayNode =>
        val out = mapper.createArrayNode()
        a.forEach(el => { out.add(normalizeNode(el, mapper)); () })
        out
      case other => other
    }
  }

  /** `$date` ISO instant → pymongo-default naive `isoformat()`: shift
    * to UTC, drop the offset, microseconds 6-digit or omitted-if-zero
    * (Python's exact rendering). An offset-less `$date` is already
    * naive and passes through re-rendered the same way. A textual
    * `$date` NEITHER parser accepts (date-only, epoch-millis text, …)
    * returns None and the wrapper passes through VERBATIM — the same
    * policy every other unmodeled extended-JSON shape gets (round-12
    * advice: an executor throw here failed the whole ingest job).
    */
  private[sources] def isoNaive(s: String): Option[String] = {
    val ldt =
      try Some(java.time.OffsetDateTime.parse(s)
        .withOffsetSameInstant(java.time.ZoneOffset.UTC).toLocalDateTime)
      catch {
        case _: java.time.format.DateTimeParseException =>
          try Some(java.time.LocalDateTime.parse(s))
          catch { case _: java.time.format.DateTimeParseException => None }
      }
    ldt.map(BsonCodec.isoformat)
  }
}
