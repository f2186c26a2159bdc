package graft.sources

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import BsonCodec._

/** In-memory mongod stand-in for the S2 wire plane's specs and gates —
  * real loopback sockets, one handler thread per connection (the
  * partitioned read opens several concurrently), speaking exactly the
  * OP_MSG subset [[MongoWireClient]] emits. Promoted from the
  * MongoWireSpec inner class (r16 verdict #1/#2) so oracle gates can
  * drive the full wire path — connect → hello → find/getMore → decode —
  * without a mongod binary in the container; the moment one ships,
  * [[LiveMongo]] flips the live legs green and this harness keeps
  * pinning the protocol edges a real server exercises rarely.
  *
  * Modeled surface (enough for the DSv2 scan contract):
  *  - `find` with filter ($and/$or/$nor, field equality, $eq/$ne/$gt/
  *    $gte/$lt/$lte/$in — BSON type-bracketed comparison: numerics
  *    cross-width, strings bytewise, ObjectIds bytewise), `projection`
  *    (inclusion mode, `_id` implicit unless excluded), `sort {_id:±1}`,
  *    `limit`, `batchSize`, getMore-driven cursor batching;
  *  - `count` (optional `query`) for the statistics probe;
  *  - `insert` appending to the in-memory collection.
  *
  * Every received `find` body is recorded in [[findLog]] so specs can
  * assert WHAT was pushed down the wire (projection doc, filter doc),
  * not just that results came back right.
  *
  * Mongo's missing-vs-null equality semantics are modeled faithfully —
  * `{f: null}` matches a missing field, `{f: {$ne: null}}` does not,
  * range operators never match missing/null — because those are the
  * exact alignment assumptions [[MongoWireSource]]'s filter pushdown
  * is built on.
  */
final class FakeMongoServer(initial: Vector[BDoc]) extends AutoCloseable {

  private val server = new java.net.ServerSocket(0, 64,
    java.net.InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort

  @volatile private var docs: Vector[BDoc] = initial
  private val cursors = new ConcurrentHashMap[Long, Vector[BDoc]]()
  private val nextCursor = new AtomicLong(100L)

  /** Every `find` command body received, in arrival order. */
  val findLog = new ConcurrentLinkedQueue[BDoc]()
  def findCommands: Vector[BDoc] = {
    val b = Vector.newBuilder[BDoc]
    findLog.forEach(d => { b += d; () })
    b.result()
  }
  def clearLog(): Unit = findLog.clear()

  // ---- BSON comparison (the subset the slicing/pushdown planes use) --

  /** Same-bracket comparison; None when the two values are not
    * comparable (different BSON type brackets — Mongo range operators
    * then simply do not match, which is what the pushdown relies on).
    */
  private def cmp(a: BsonValue, b: BsonValue): Option[Int] = (a, b) match {
    case (x: BDoc, y: BDoc) =>
      if (x == y) Some(0) else None // equality only; no doc ordering here
    case (BObjectId(x), BObjectId(y)) => Some(x.compareTo(y))
    case (BString(x), BString(y)) =>
      // bytewise UTF-8 (Mongo's default simple collation) == code
      // point order (UTF-8 preserves it); compared code point by code
      // point so the prefix-range filter path — hundreds of thousands
      // of evaluations per find at probe scale — never allocates a
      // byte[] pair per comparison
      Some(compareCodePoints(x, y))
    case (BBool(x), BBool(y)) => Some(java.lang.Boolean.compare(x, y))
    case (BDateTime(x), BDateTime(y)) => Some(java.lang.Long.compare(x, y))
    // numeric bracket: integral pairs compare directly (the hot path —
    // every _id-range slice filter evaluates this per document) …
    case (BInt32(x), BInt32(y)) => Some(Integer.compare(x, y))
    case (BInt64(x), BInt64(y)) => Some(java.lang.Long.compare(x, y))
    case (BInt32(x), BInt64(y)) => Some(java.lang.Long.compare(x.toLong, y))
    case (BInt64(x), BInt32(y)) => Some(java.lang.Long.compare(x, y.toLong))
    case _ =>
      // … double-involved pairs follow Mongo's numeric TOTAL order
      // (r19, ADVICE item — the connector declines KDouble ranges so
      // this is unexercised by pushdown, but the fake must never
      // diverge from a real server a spec might swap in): NaN sorts
      // below all numbers and equals itself, -0.0 == 0.0, infinities
      // at the ends; finite values compare exactly via BigDecimal
      // (avoids 2^53 truncation surprises on long↔double)
      def rank(v: BsonValue): Option[(Int, java.math.BigDecimal)] = v match {
        case BInt32(i) => Some((0, java.math.BigDecimal.valueOf(i.toLong)))
        case BInt64(i) => Some((0, java.math.BigDecimal.valueOf(i)))
        case BDouble(d) =>
          if (d.isNaN) Some((-2, null))
          else if (d == Double.NegativeInfinity) Some((-1, null))
          else if (d == Double.PositiveInfinity) Some((1, null))
          else Some((0, new java.math.BigDecimal(d)))
        case _ => None
      }
      for ((rx, dx) <- rank(a); (ry, dy) <- rank(b)) yield
        if (rx != ry) Integer.compare(rx, ry)
        else if (rx != 0) 0
        else dx.compareTo(dy)
  }

  /** Code-point comparison — identical to comparing the two strings'
    * UTF-8 encodings bytewise (UTF-8 preserves code point order), with
    * zero allocation.
    */
  private def compareCodePoints(x: String, y: String): Int = {
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx)
      j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  /** Field lookup treating missing as absent (None); BNull stays BNull. */
  private def fieldOf(doc: BDoc, name: String): Option[BsonValue] =
    doc.get(name)

  private def eqMatch(actual: Option[BsonValue], lit: BsonValue): Boolean =
    (actual, lit) match {
      case (None, BNull) => true // {f: null} matches a missing field
      case (None, _) => false
      case (Some(BNull), BNull) => true
      // real Mongo matches {f: NaN} to a NaN value (NaN equals itself
      // in BSON equality, unlike IEEE) — model it, even though the
      // connector declines NaN literals, so the fake never diverges
      // from a real server a spec might one day swap in
      case (Some(BDouble(x)), BDouble(y)) if x.isNaN && y.isNaN => true
      case (Some(a), b) => cmp(a, b).contains(0) || a == b
    }

  private def opMatch(actual: Option[BsonValue], op: String,
      lit: BsonValue): Boolean = op match {
    case "$eq" => eqMatch(actual, lit)
    case "$ne" => !eqMatch(actual, lit)
    case "$in" => lit match {
      case BArray(items) => items.exists(eqMatch(actual, _))
      case _ => false
    }
    case "$gt" | "$gte" | "$lt" | "$lte" =>
      actual match {
        case Some(BNull) | None => false // ranges never match missing/null
        case Some(a) => cmp(a, lit).exists { c =>
          op match {
            case "$gt" => c > 0
            case "$gte" => c >= 0
            case "$lt" => c < 0
            case "$lte" => c <= 0
          }
        }
      }
    case other => sys.error(s"FakeMongoServer: unmodeled operator $other")
  }

  private def matches(doc: BDoc, filter: BDoc): Boolean =
    filter.fields.forall {
      case ("$and", BArray(subs)) =>
        subs.forall { case s: BDoc => matches(doc, s); case _ => false }
      case ("$or", BArray(subs)) =>
        subs.exists { case s: BDoc => matches(doc, s); case _ => false }
      case ("$nor", BArray(subs)) =>
        !subs.exists { case s: BDoc => matches(doc, s); case _ => false }
      case (name, opDoc: BDoc)
          if opDoc.fields.nonEmpty && opDoc.fields.forall(_._1.startsWith("$")) =>
        opDoc.fields.forall { case (op, lit) =>
          opMatch(fieldOf(doc, name), op, lit) }
      case (name, lit) => eqMatch(fieldOf(doc, name), lit)
    }

  /** Inclusion-mode projection: listed fields in the DOCUMENT's own
    * order (Mongo semantics), `_id` implicit unless `"_id": 0`.
    */
  private def project(doc: BDoc, projection: Option[BDoc]): BDoc =
    projection match {
      case None => doc
      case Some(p) =>
        val excludeId = p.get("_id").exists {
          case BInt32(0) | BInt64(0L) | BBool(false) => true
          case _ => false
        }
        val wanted = p.fields.collect {
          case (n, BInt32(1)) => n
          case (n, BInt64(1L)) => n
          case (n, BBool(true)) => n
        }.toSet
        BDoc(doc.fields.filter { case (n, _) =>
          (n == "_id" && !excludeId) || wanted.contains(n) })
    }

  private def runFind(body: BDoc): BDoc = {
    findLog.add(body)
    var selected = body.get("filter") match {
      case Some(f: BDoc) if f.fields.nonEmpty => docs.filter(matches(_, f))
      case _ => docs
    }
    val sortDir: Option[Int] = body.get("sort").flatMap {
      case s: BDoc => s.get("_id").collect {
        case BInt32(d) if d == 1 || d == -1 => d
      }
      case _ => None
    }
    val limitN: Option[Int] = body.get("limit").collect {
      case BInt64(n) => n.toInt
      case BInt32(n) => n
    }
    (sortDir, limitN) match {
      case (Some(d), Some(n)) if n < 1000 =>
        // partial selection instead of a full sort: the bound probes
        // (`sort {_id}, limit 1`) would otherwise fully sort the
        // collection twice per partitioned-read planning — at 1.5M
        // docs that harness cost dominated the client plane the
        // scale probe exists to measure
        selected = topK(selected, n, d)
      case (Some(d), _) =>
        selected = selected.sortWith((x, y) =>
          cmp(idOf(x), idOf(y)).exists(c => if (d == 1) c < 0 else c > 0))
      case _ => ()
    }
    limitN.foreach(n => selected = selected.take(n))
    val projection = body.get("projection").collect { case p: BDoc => p }
    selected = selected.map(project(_, projection))
    val batchSize = body.get("batchSize")
      .collect { case BInt32(n) => n }.getOrElse(101)
    val (first, rest) = selected.splitAt(batchSize)
    val cid = if (rest.isEmpty) 0L else {
      val id = nextCursor.getAndIncrement()
      cursors.put(id, rest); id
    }
    cursorReply("firstBatch", first, cid)
  }

  private def idOf(d: BDoc): BsonValue = d.get("_id").getOrElse(BNull)

  /** First k docs by `_id` in direction `d` (1 asc, -1 desc): one
    * O(n·log k) pass with a bounded heap instead of a full sort.
    */
  private def topK(docs: Vector[BDoc], k: Int, d: Int): Vector[BDoc] = {
    if (k <= 0 || docs.isEmpty) return Vector.empty
    // heap keeps the WORST of the current best-k on top, to evict
    val worstFirst = new java.util.PriorityQueue[BDoc](k + 1,
      (x: BDoc, y: BDoc) => {
        val c = cmp(idOf(x), idOf(y)).getOrElse(0)
        if (d == 1) -c else c // asc: largest first = worst first
      })
    docs.foreach { doc =>
      worstFirst.add(doc)
      if (worstFirst.size > k) { val _ = worstFirst.poll() }
    }
    val buf = Vector.newBuilder[BDoc]
    while (!worstFirst.isEmpty) buf += worstFirst.poll()
    buf.result().reverse
  }

  private def runGetMore(body: BDoc): BDoc = {
    val cid = body.get("getMore").collect { case BInt64(v) => v }.get
    val remaining = Option(cursors.remove(cid)).getOrElse(Vector.empty)
    val batchSize = body.get("batchSize")
      .collect { case BInt32(n) => n }.getOrElse(101)
    val (batch, rest) = remaining.splitAt(batchSize)
    val next = if (rest.isEmpty) 0L else { cursors.put(cid, rest); cid }
    cursorReply("nextBatch", batch, next)
  }

  private def runCount(body: BDoc): BDoc = {
    val n = body.get("query") match {
      case Some(q: BDoc) if q.fields.nonEmpty => docs.count(matches(_, q))
      case _ => docs.size
    }
    BDoc("n" -> BInt32(n), "ok" -> BDouble(1.0))
  }

  private def runInsert(body: BDoc): BDoc = {
    val added = body.get("documents") match {
      case Some(BArray(items)) => items.collect { case d: BDoc => d }
      case _ => Vector.empty
    }
    synchronized { docs = docs ++ added }
    BDoc("n" -> BInt32(added.size), "ok" -> BDouble(1.0))
  }

  private def cursorReply(key: String, batch: Vector[BDoc], id: Long) = BDoc(
    "cursor" -> BDoc(
      (if (key == "firstBatch")
        Vector[(String, BsonValue)]("ns" -> BString("db.c")) else Vector.empty) ++
        Vector[(String, BsonValue)](
          key -> BArray(batch.map(d => d: BsonValue)),
          "id" -> BInt64(id)): _*),
    "ok" -> BDouble(1.0))

  private val acceptor = new Thread(() => {
    try {
      while (true) {
        val s = server.accept()
        val h = new Thread(() => handle(s))
        h.setDaemon(true); h.start()
      }
    } catch { case _: Throwable => () } // server closed
  })
  acceptor.setDaemon(true)
  acceptor.start()

  private def handle(s: java.net.Socket): Unit = {
    val in = new java.io.DataInputStream(s.getInputStream)
    val out = s.getOutputStream
    try {
      while (true) {
        val lenB = new Array[Byte](4); in.readFully(lenB)
        val len = (lenB(0) & 0xff) | ((lenB(1) & 0xff) << 8) |
          ((lenB(2) & 0xff) << 16) | ((lenB(3) & 0xff) << 24)
        val rest = new Array[Byte](len - 4); in.readFully(rest)
        val reqId = (rest(0) & 0xff) | ((rest(1) & 0xff) << 8) |
          ((rest(2) & 0xff) << 16) | ((rest(3) & 0xff) << 24)
        val (body, _) = BsonCodec.readDoc(rest, 17) // hdr-rest 12 + flags 4 + kind 1
        val reply = body.fields.head._1 match {
          case "hello" => BDoc("ok" -> BDouble(1.0),
            "maxWireVersion" -> BInt32(17))
          case "find" => runFind(body)
          case "getMore" => runGetMore(body)
          case "count" => runCount(body)
          case "insert" => runInsert(body)
          case other => BDoc("ok" -> BDouble(0.0),
            "errmsg" -> BString(s"unknown command $other"))
        }
        out.write(MongoWireClient.buildMessage(1000 + reqId, reply,
          responseTo = reqId))
        out.flush()
      }
    } catch { case _: Throwable => () } // client closed
    finally s.close()
  }

  override def close(): Unit = server.close()
}
