package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.HostGuard

/** S2/S3 — MongoDB collection source (reference `ui/mongo_ingest.py:94-105`
  * / preview `ui/mapping_editor.py:391-409`).
  *
  * The live read is the from-scratch wire client ([[readRawWire]],
  * [[readRawWirePartitioned]]; no connector jar). The BSON→JSON
  * normalization the reference applies (ObjectId→str, datetime→ISO)
  * feeds the same raw-doc transform path as the file source; the
  * frame- and extended-JSON forms of it are below.
  */
object MongoSource {

  /** The BSON→raw-JSON normalization of a document-shaped frame:
    * `_id` stringified, whole document re-serialized to one `raw`
    * string column.
    */
  def normalizeRaw(df: DataFrame): DataFrame = {
    val normalized =
      if (df.columns.contains("_id")) df.withColumn("_id", col("_id").cast("string"))
      else df
    normalized.select(to_json(struct(normalized.columns.map(col).toSeq: _*)).as("raw"))
  }

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
    ldt.map { l =>
      val base = f"${l.getYear}%04d-${l.getMonthValue}%02d-" +
        f"${l.getDayOfMonth}%02dT${l.getHour}%02d:" +
        f"${l.getMinute}%02d:${l.getSecond}%02d"
      val micros = l.getNano / 1000
      if (micros == 0) base else f"$base.$micros%06d"
    }
  }

  /** S2's LIVE leg over the from-scratch wire client, without any
    * connector jar: one [[MongoWireClient]] cursor streams
    * the collection (`find` + `getMore`, memory bounded by one server
    * batch) and each BSON document is rendered to the reference's
    * serialized JSON form ([[BsonCodec.toReferenceJson]]: ObjectId →
    * hex string, datetime → naive isoformat — the identical normal
    * form `normalizeExtendedJson` produces), feeding the same
    * transform plane.
    *
    * The single slice matches the reference's one-cursor
    * `collection.find()` semantics and runs ON AN EXECUTOR, not the
    * driver; the scale path is one cursor per partition with disjoint
    * `_id`-range filters via [[MongoWireClient.find]]'s `filter`
    * (bounds from a driver-side min/max probe), the same shape the
    * Postgres read plane uses.
    */
  def readRawWire(spark: SparkSession, host: String, port: Int,
      database: String, collection: String): DataFrame = {
    HostGuard.requireLocal(host, "MongoDB") // F5, driver-side and early
    import org.apache.spark.sql.Encoders
    spark.range(0, 1, 1, 1).mapPartitions { _ =>
      val client = MongoWireClient.connect(host, port)
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => client.close()))
      client.find(database, collection).map(BsonCodec.toReferenceJson)
    }(Encoders.STRING).toDF("raw")
  }

  /** The SCALE path of the wire read: one cursor per Spark partition
    * over disjoint `_id`-range filters — the shape that turns the
    * reference's single `collection.find()` into a partition-parallel
    * scan (the Mongo analog of [[PgWireSource]]'s range slices, with
    * the same stride-only contract: first slice unbounded below, last
    * unbounded above, so every document lands in exactly one slice no
    * matter where the probed bounds sit).
    *
    * Bounds come from one driver-side min/max probe (`find` sorted by
    * `_id`, limit 1, each way). Numeric `_id` (int32/int64) slices
    * arithmetically; ObjectId `_id` slices on its leading 4 timestamp
    * bytes (BSON compares ObjectIds bytewise, so boundary ObjectIds
    * `<tsHex> + 16 zero hex chars` split the key space exactly — the
    * slicing MongoDB's own splitVector uses conceptually); any other
    * key shape (string, mixed) or fewer distinct slice points than
    * partitions falls back to the single-cursor [[readRawWire]] —
    * correct first, parallel when the key supports it.
    */
  def readRawWirePartitioned(spark: SparkSession, host: String, port: Int,
      database: String, collection: String,
      numPartitions: Int): DataFrame = {
    HostGuard.requireLocal(host, "MongoDB") // F5, driver-side and early
    require(numPartitions >= 1, "numPartitions must be >= 1")
    planIdSlices(host, port, database, collection, numPartitions) match {
      case None =>
        readRawWire(spark, host, port, database, collection)
      case Some(slices) =>
        import org.apache.spark.sql.Encoders
        val rdd = spark.sparkContext
          .parallelize(slices, slices.length)
          .mapPartitions(_.flatMap { filter =>
            val client = MongoWireClient.connect(host, port)
            Option(org.apache.spark.TaskContext.get()).foreach(
              _.addTaskCompletionListener[Unit](_ => client.close()))
            client.find(database, collection, filter)
              .map(BsonCodec.toReferenceJson)
          })
        spark.createDataset(rdd)(Encoders.STRING).toDF("raw")
    }
  }

  /** Plan `numPartitions` disjoint `_id`-range filter docs covering the
    * whole collection, or None when the key shape is unsliceable (then
    * the caller falls back to the single cursor). Shared by the raw
    * read above and the DSv2 scan ([[MongoWireSource]]).
    *
    * One driver-side min/max probe (`find` sorted by `_id`, limit 1,
    * each way; `probeFilter` narrows the probe the way [[PgScan]]'s
    * bounds query reuses the pushed WHERE, so a selective pushed
    * filter concentrates the slices on the surviving key range —
    * stride-only edges keep that sound). Numeric `_id` (int32/int64)
    * slices arithmetically; ObjectId `_id` slices on its leading 4
    * timestamp bytes. Bounds are the STRIDE, never a row filter (the
    * r16 PgWireSource lesson: a capped edge slice silently drops keys
    * outside the probed bounds) — the first slice is unbounded below,
    * the last unbounded above.
    */
  private[sources] def planIdSlices(host: String, port: Int,
      database: String, collection: String, numPartitions: Int,
      probeFilter: BsonCodec.BDoc = BsonCodec.BDoc())
      : Option[Vector[BsonCodec.BDoc]] = {
    import graft.sources.BsonCodec._
    if (numPartitions <= 1) return None
    val (loId, hiId) = {
      val c = MongoWireClient.connect(host, port)
      try {
        def probe(dir: Int): Option[BsonValue] =
          c.find(database, collection, probeFilter, batchSize = 1,
            limit = 1L, sort = Some(BDoc("_id" -> BInt32(dir))))
            .take(1).toSeq
            .headOption.flatMap(_.get("_id"))
        (probe(1), probe(-1))
      } finally c.close()
    }
    // Slice coordinates: numeric ids use the value itself; ObjectIds
    // use the leading 4-byte timestamp (seconds). `mkBound` renders a
    // coordinate back into a comparable _id boundary value.
    val coords: Option[(Long, Long, Long => BsonValue)] =
      (loId, hiId) match {
        case (Some(BInt32(a)), Some(BInt32(b))) =>
          Some((a.toLong, b.toLong, v => BInt64(v)))
        case (Some(BInt64(a)), Some(BInt64(b))) =>
          Some((a, b, v => BInt64(v)))
        case (Some(BObjectId(a)), Some(BObjectId(b))) =>
          // boundary ObjectId <tsHex><16 zeros>: bytewise-minimal for
          // its timestamp, so [tsA, tsB) boundaries are exact. The
          // ceil-width stride can overshoot an intermediate boundary
          // past 0xFFFFFFFF when the probed max sits near the 32-bit
          // limit (r16 advice) — clamp before formatting: a clamped
          // boundary keeps the slice cover exhaustive and disjoint
          // (the slices between two clamped boundaries are empty, and
          // the last slice is unbounded above), where the unclamped
          // 9-hex render would trip BObjectId's 24-char require.
          Some((java.lang.Long.parseLong(a.substring(0, 8), 16),
            java.lang.Long.parseLong(b.substring(0, 8), 16),
            v => BObjectId(f"${math.min(v, 0xffffffffL)}%08x" + "0" * 16)))
        case _ => None
      }
    // Span/boundary arithmetic in BigInt: an extreme int64 _id range
    // (span near 2^64) overflows Long subtraction into a NEGATIVE
    // width, and the ceil-width stride can carry an intermediate
    // boundary past Long.MaxValue — either way wrapped boundaries
    // make slices overlap and a partitioned read DUPLICATES rows
    // (r17 advice). Boundaries clamp at Long.MaxValue: a clamped
    // sequence stays monotone, so the cover stays disjoint and
    // exhaustive (slices between clamped boundaries are empty and the
    // last slice is unbounded above) — the ObjectId clamp's argument.
    coords.filter { case (a, b, _) =>
      BigInt(b) - BigInt(a) + 1 >= numPartitions }
      .map { case (a0, b0, mkBound) =>
        val span = BigInt(b0) - BigInt(a0) + 1
        val width = (span + numPartitions - 1) / numPartitions
        def boundAt(i: Int): Long =
          (BigInt(a0) + i * width).min(BigInt(Long.MaxValue)).toLong
        // (lower, upper): None = unbounded on that side — stride-only.
        (0 until numPartitions).map { i =>
          val a = if (i == 0) None else Some(boundAt(i))
          val b = if (i == numPartitions - 1) None
                  else Some(boundAt(i + 1))
          val range = BDoc(Vector[(String, BsonValue)]() ++
            a.map(v => "$gte" -> mkBound(v)) ++
            b.map(v => "$lt" -> mkBound(v)))
          if (range.fields.isEmpty) BDoc() else BDoc("_id" -> range)
        }.toVector
      }
  }
}
