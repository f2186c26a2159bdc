package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

/** Minimal BSON 1.1 codec — the document encoding MongoDB's wire
  * protocol carries (public spec: bsonspec.org; byte layout:
  * little-endian int32 total length, a sequence of elements
  * `type-byte cstring-name value`, a trailing 0x00). Implemented from
  * the spec for [[MongoWireClient]], the live half of S2
  * (reference `ui/mongo_ingest.py:94-105`), mirroring how the
  * Postgres wire plane was built from its public protocol docs when
  * no driver jar exists on the classpath.
  *
  * The type set covers what `mongoexport`-class documents contain
  * (the same set [[MongoSource.normalizeExtendedJson]] models):
  * double 0x01, string 0x02, document 0x03, array 0x04, binary 0x05,
  * ObjectId 0x07, boolean 0x08, UTC datetime 0x09, null 0x0A,
  * int32 0x10, Mongo timestamp 0x11 (decoded as its raw int64),
  * int64 0x12. Anything else (decimal128, regex, code, minkey/maxkey)
  * fails LOUDLY with the type byte — silent coercion of an unmodeled
  * type is how row corruption hides.
  */
object BsonCodec {

  sealed trait BsonValue
  final case class BDouble(v: Double) extends BsonValue
  final case class BString(v: String) extends BsonValue
  /** Field order is part of BSON document identity — preserved. */
  final case class BDoc(fields: Vector[(String, BsonValue)]) extends BsonValue {
    def get(name: String): Option[BsonValue] =
      fields.collectFirst { case (`name`, v) => v }
  }
  final case class BArray(items: Vector[BsonValue]) extends BsonValue
  final case class BBinary(subtype: Byte, bytes: Array[Byte]) extends BsonValue
  /** 12 bytes kept as the 24-char lowercase hex the reference's
    * `str(ObjectId)` emits.
    */
  final case class BObjectId(hex: String) extends BsonValue {
    require(hex.length == 24, s"ObjectId must be 24 hex chars, got '$hex'")
  }
  final case class BBool(v: Boolean) extends BsonValue
  /** UTC datetime: milliseconds since epoch (int64 on the wire). */
  final case class BDateTime(epochMillis: Long) extends BsonValue
  case object BNull extends BsonValue
  final case class BInt32(v: Int) extends BsonValue
  final case class BInt64(v: Long) extends BsonValue
  /** BSON "timestamp" (0x11) — internal replication type; carried as
    * its raw int64 (high 32 bits seconds, low 32 increment).
    */
  final case class BTimestamp(raw: Long) extends BsonValue

  object BDoc {
    def apply(fields: (String, BsonValue)*): BDoc = BDoc(fields.toVector)
  }

  final class BsonException(msg: String) extends RuntimeException(msg)

  // ---- encode ---------------------------------------------------------

  def encode(doc: BDoc): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    writeDoc(out, doc)
    out.toByteArray
  }

  private def writeDoc(out: java.io.ByteArrayOutputStream, doc: BDoc): Unit = {
    val body = new java.io.ByteArrayOutputStream(64)
    doc.fields.foreach { case (name, v) => writeElement(body, name, v) }
    writeInt32(out, body.size + 5) // len includes itself + trailing 0
    body.writeTo(out)
    out.write(0)
  }

  private def writeElement(out: java.io.ByteArrayOutputStream, name: String,
      v: BsonValue): Unit = {
    def cstring(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      require(!b.contains(0.toByte), s"BSON names cannot contain NUL: $s")
      out.write(b, 0, b.length); out.write(0)
    }
    v match {
      case BDouble(d) =>
        out.write(0x01); cstring(name)
        writeInt64(out, java.lang.Double.doubleToLongBits(d))
      case BString(s) =>
        out.write(0x02); cstring(name)
        val b = s.getBytes(UTF_8)
        writeInt32(out, b.length + 1); out.write(b, 0, b.length); out.write(0)
      case d: BDoc =>
        out.write(0x03); cstring(name); writeDoc(out, d)
      case BArray(items) =>
        out.write(0x04); cstring(name)
        writeDoc(out, BDoc(items.zipWithIndex.map {
          case (item, i) => i.toString -> item
        }))
      case BBinary(sub, bytes) =>
        out.write(0x05); cstring(name)
        writeInt32(out, bytes.length); out.write(sub.toInt)
        out.write(bytes, 0, bytes.length)
      case BObjectId(hex) =>
        out.write(0x07); cstring(name)
        var i = 0
        while (i < 24) {
          out.write(Integer.parseInt(hex.substring(i, i + 2), 16))
          i += 2
        }
      case BBool(b) =>
        out.write(0x08); cstring(name); out.write(if (b) 1 else 0)
      case BDateTime(ms) =>
        out.write(0x09); cstring(name); writeInt64(out, ms)
      case BNull =>
        out.write(0x0A); cstring(name)
      case BInt32(n) =>
        out.write(0x10); cstring(name); writeInt32(out, n)
      case BTimestamp(raw) =>
        out.write(0x11); cstring(name); writeInt64(out, raw)
      case BInt64(n) =>
        out.write(0x12); cstring(name); writeInt64(out, n)
    }
  }

  private def writeInt32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }

  private def writeInt64(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    writeInt32(out, v.toInt); writeInt32(out, (v >> 32).toInt)
  }

  // ---- decode ---------------------------------------------------------

  def decode(bytes: Array[Byte]): BDoc = {
    val (doc, next) = readDoc(bytes, 0)
    if (next != bytes.length) throw new BsonException(
      s"trailing ${bytes.length - next} bytes after document")
    doc
  }

  /** Decode one document starting at `off`; returns (doc, next offset).
    * Exposed for the wire client, whose OP_MSG bodies and kind-1
    * sections are back-to-back documents in one frame.
    *
    * Every name/value extent is validated against the ENCLOSING
    * document end before it is read (r16 advice): a name missing its
    * NUL, a negative/oversized string/binary length, or a fixed-width
    * value overrunning the body all fail with the loud [[BsonException]]
    * contract instead of a raw ArrayIndexOutOfBounds / negative-length
    * JVM exception from a corrupt frame.
    */
  private[sources] def readDoc(b: Array[Byte], off: Int): (BDoc, Int) = {
    if (off < 0 || off + 4 > b.length) throw new BsonException(
      s"document header overruns buffer at offset $off")
    val len = readInt32(b, off)
    // long arithmetic: a hostile length near 2^31 must not wrap the
    // bound check negative and slip past it
    if (len < 5 || off.toLong + len > b.length) throw new BsonException(
      s"implausible document length $len at offset $off")
    val end = off + len
    if (b(end - 1) != 0) throw new BsonException(
      s"document at $off lacks the trailing 0x00")
    var pos = off + 4
    val fields = Vector.newBuilder[(String, BsonValue)]
    while (pos < end - 1) {
      val tpe = b(pos) & 0xff
      pos += 1
      val (name, afterName) = cstring(b, pos, end - 1)
      pos = afterName
      val (value, afterValue) = readValue(tpe, b, pos, end - 1)
      fields += name -> value
      pos = afterValue
    }
    if (pos != end - 1) throw new BsonException(
      s"element overran document body at $pos (doc end $end)")
    (BDoc(fields.result()), end)
  }

  /** `limit` is the enclosing document's body end (the byte index of
    * its trailing 0x00) — no value may read at or past it.
    */
  private def readValue(tpe: Int, b: Array[Byte], pos: Int,
      limit: Int): (BsonValue, Int) = {
    def need(n: Int): Unit =
      if (pos + n > limit) throw new BsonException(
        f"BSON value (type 0x$tpe%02x) of $n bytes at offset $pos " +
          s"overruns document body end $limit")
    tpe match {
      case 0x01 =>
        need(8)
        (BDouble(java.lang.Double.longBitsToDouble(readInt64(b, pos))), pos + 8)
      case 0x02 =>
        need(4)
        val len = readInt32(b, pos)
        // long arithmetic: len near 2^31 must not wrap the check
        if (len < 1 || pos + 4L + len > limit || b(pos + 4 + len - 1) != 0)
          throw new BsonException(s"bad string length $len at $pos")
        (BString(new String(b, pos + 4, len - 1, UTF_8)), pos + 4 + len)
      case 0x03 =>
        val (doc, next) = readDoc(b, pos)
        if (next > limit) throw new BsonException(
          s"embedded document at $pos overruns parent body end $limit")
        (doc, next)
      case 0x04 =>
        val (doc, next) = readDoc(b, pos)
        if (next > limit) throw new BsonException(
          s"embedded array at $pos overruns parent body end $limit")
        (BArray(doc.fields.map(_._2)), next)
      case 0x05 =>
        need(5)
        val len = readInt32(b, pos)
        // long arithmetic: len near 2^31 must not wrap the check
        if (len < 0 || pos + 5L + len > limit) throw new BsonException(
          s"bad binary length $len at $pos (body end $limit)")
        val sub = b(pos + 4)
        val bytes = java.util.Arrays.copyOfRange(b, pos + 5, pos + 5 + len)
        (BBinary(sub, bytes), pos + 5 + len)
      case 0x07 =>
        need(12)
        val sb = new java.lang.StringBuilder(24)
        var i = 0
        while (i < 12) {
          val v = b(pos + i) & 0xff
          sb.append(Character.forDigit(v >> 4, 16))
          sb.append(Character.forDigit(v & 0xf, 16))
          i += 1
        }
        (BObjectId(sb.toString), pos + 12)
      case 0x08 => need(1); (BBool(b(pos) != 0), pos + 1)
      case 0x09 => need(8); (BDateTime(readInt64(b, pos)), pos + 8)
      case 0x0A => (BNull, pos)
      case 0x10 => need(4); (BInt32(readInt32(b, pos)), pos + 4)
      case 0x11 => need(8); (BTimestamp(readInt64(b, pos)), pos + 8)
      case 0x12 => need(8); (BInt64(readInt64(b, pos)), pos + 8)
      case other => throw new BsonException(
        f"unmodeled BSON type 0x$other%02x at offset $pos — refusing to " +
          "coerce silently (decimal128/regex/code are outside this " +
          "plane's document model)")
    }
  }

  /** Element name: NUL-terminated UTF-8, terminator required BEFORE
    * `limit` (the document body end) — a name whose NUL is missing
    * must not walk into the next element, the next frame, or off the
    * end of the buffer.
    */
  private def cstring(b: Array[Byte], off: Int, limit: Int): (String, Int) = {
    var end = off
    while (end < limit && b(end) != 0) end += 1
    if (end >= limit) throw new BsonException(
      s"element name at $off is missing its NUL terminator before " +
        s"document body end $limit")
    (new String(b, off, end - off, UTF_8), end + 1)
  }

  private def readInt32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def readInt64(b: Array[Byte], off: Int): Long =
    (readInt32(b, off) & 0xffffffffL) | (readInt32(b, off + 4).toLong << 32)

  // ---- reference-serializer rendering ---------------------------------

  /** Render a decoded document as the reference's serialized JSON form —
    * the exact mapping `ui/mongo_ingest.py:81-91` applies after
    * pymongo's decode: ObjectId → `str(oid)` (hex), datetime →
    * tz-naive `isoformat()` (UTC, microseconds 6-digit or omitted when
    * zero — pymongo decodes tz_aware=False), everything else JSON
    * verbatim. This is the same normal form
    * [[MongoSource.normalizeExtendedJson]] produces from extended-JSON
    * dumps, so wire-read documents feed the identical transform plane.
    * Binary renders as base64 text (the wrapper-free convention);
    * doubles in CPython repr form ([[shortestDouble]] — "1e+23", not
    * Java's "1.0E23"). Deliberate divergence: NaN/±Infinity render as
    * `null` where Python's json.dumps would emit the bare NaN/Infinity
    * tokens — those tokens are not JSON, and every consumer of this
    * plane re-parses `raw` as strict JSON (Jackson rejects them), so
    * the valid-JSON invariant wins over byte-fidelity to a form the
    * reference itself could not re-ingest.
    */
  def toReferenceJson(v: BsonValue): String = {
    val sb = new java.lang.StringBuilder(64)
    renderJson(v, sb)
    sb.toString
  }

  private def renderJson(v: BsonValue, sb: java.lang.StringBuilder): Unit =
    v match {
      case BDoc(fields) =>
        sb.append('{')
        var first = true
        fields.foreach { case (name, fv) =>
          if (!first) sb.append(',')
          first = false
          jsonString(name, sb); sb.append(':')
          renderJson(fv, sb)
        }
        sb.append('}')
      case BArray(items) =>
        sb.append('[')
        var first = true
        items.foreach { it =>
          if (!first) sb.append(',')
          first = false
          renderJson(it, sb)
        }
        sb.append(']')
      case BString(s) => jsonString(s, sb)
      case BObjectId(hex) => jsonString(hex, sb)
      case BDateTime(ms) => jsonString(isoNaiveMillis(ms), sb)
      case BDouble(d) =>
        if (d.isNaN || d.isInfinite) sb.append("null") // JSON has no NaN/Inf
        else sb.append(shortestDouble(d))
      case BInt32(n) => sb.append(n)
      case BInt64(n) => sb.append(n)
      case BBool(b) => sb.append(if (b) "true" else "false")
      case BNull => sb.append("null")
      case BTimestamp(raw) => sb.append(raw)
      case BBinary(_, bytes) =>
        jsonString(java.util.Base64.getEncoder.encodeToString(bytes), sb)
    }

  /** Double → the text CPython's `repr`/`json.dumps` emits (r16 advice:
    * Java's `Double.toString` diverges outside [1e-3, 1e7) — "1.0E23"
    * where Python writes "1e+23").
    *
    * Java 17's own digits cannot be borrowed: its pre-JDK-19 algorithm
    * is not shortest-round-trip (`Double.toString(1e23)` is the famous
    * "9.999999999999999E22"), so the digits are derived here the way
    * Ryū/Gay define repr — the FEWEST significant digits whose
    * closest (half-even) decimal rounding re-parses to the identical
    * bits, found by rounding the exact binary expansion of the value
    * at increasing precision (≤17 always round-trips; decimal-derived
    * data terminates after a few iterations). Layout then follows
    * Python's rules: positional while the decimal exponent e (of
    * d.ddd×10^e) is in [-4, 16), otherwise scientific with a lowercase
    * 'e', an explicit sign, a ≥2-digit zero-padded exponent, and no
    * trailing ".0" on a bare mantissa ("1e+23", not "1.0e+23"). A true
    * double 5.0 still renders "5.0" (both languages agree there).
    */
  private def shortestDouble(d: Double): String = {
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val sign = if (d < 0) "-" else ""
    val a = Math.abs(d)
    val exact = new java.math.BigDecimal(a) // exact binary expansion
    var n = 1
    var bd = exact.round(new java.math.MathContext(n,
      java.math.RoundingMode.HALF_EVEN))
    while (bd.doubleValue() != a && n < 17) {
      n += 1
      bd = exact.round(new java.math.MathContext(n,
        java.math.RoundingMode.HALF_EVEN))
    }
    val stripped = bd.stripTrailingZeros
    val digits = stripped.unscaledValue.toString
    val e = digits.length - 1 - stripped.scale // value = D.DDD × 10^e
    val out =
      if (e >= -4 && e < 16) {
        if (e >= 0) {
          val intPart = digits.padTo(e + 1, '0').substring(0, e + 1)
          val frac = if (digits.length > e + 1) digits.substring(e + 1) else "0"
          s"$intPart.$frac"
        } else "0." + ("0" * (-e - 1)) + digits
      } else {
        val m =
          if (digits.length == 1) digits
          else digits.substring(0, 1) + "." + digits.substring(1)
        val es = if (e < 0) "-" else "+"
        val ea = Math.abs(e).toString
        s"${m}e$es${if (ea.length < 2) "0" + ea else ea}"
      }
    sign + out
  }

  /** Epoch millis → pymongo-default naive isoformat (UTC), the same
    * rendering [[MongoSource.isoNaive]] produces from textual `$date`.
    */
  private[sources] def isoNaiveMillis(ms: Long): String =
    isoformat(java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(ms, 1000L), Math.floorMod(ms, 1000L).toInt * 1000000,
      java.time.ZoneOffset.UTC))

  /** Python's naive `datetime.isoformat()`: microseconds 6-digit, or
    * omitted when zero.
    */
  private[sources] def isoformat(l: java.time.LocalDateTime): String = {
    val base = f"${l.getYear}%04d-${l.getMonthValue}%02d-" +
      f"${l.getDayOfMonth}%02dT${l.getHour}%02d:" +
      f"${l.getMinute}%02d:${l.getSecond}%02d"
    val micros = l.getNano / 1000
    if (micros == 0) base else f"$base.$micros%06d"
  }

  private def jsonString(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}
