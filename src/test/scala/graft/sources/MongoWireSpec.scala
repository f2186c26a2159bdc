package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import BsonCodec._

/** The Mongo wire plane, attested without a server (r15 verdict #1 —
  * the ScramSpec pattern): BSON codec pinned to the public spec's own
  * byte vectors (bsonspec.org's two canonical examples plus per-type
  * round-trips), OP_MSG framing pinned byte-for-byte, and the full
  * hello → find → getMore cursor cycle driven against a loopback fake
  * server speaking pre-framed replies over a real socket. Live legs
  * (`assume(LiveMongo.available)`) cancel loudly today and go green
  * the moment a mongod binary ships — no code change.
  */
class MongoWireSpec extends AnyFunSuite with graft.SparkTestSession {

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2)
      .map(b => Integer.parseInt(b, 16).toByte).toArray

  test("BSON golden vector 1 (bsonspec.org): {\"hello\": \"world\"}") {
    val expected = hex("16000000 02 68656c6c6f00 06000000 776f726c6400 00")
    val doc = BDoc("hello" -> BString("world"))
    assert(encode(doc).toSeq == expected.toSeq)
    assert(decode(expected) == doc)
  }

  test("BSON golden vector 2 (bsonspec.org): {\"BSON\": [\"awesome\", 5.05, 1986]}") {
    val expected = hex(
      "31000000 04 42534f4e00" + // array element "BSON"
        "26000000" +             // inner doc length 0x26
        "02 3000 08000000 617765736f6d6500" + // "0": "awesome"
        "01 3100 333333333333 1440" +         // "1": 5.05 (LE float64)
        "10 3200 c2070000" +                  // "2": 1986 (int32)
        "00 00")
    val doc = BDoc("BSON" -> BArray(Vector(
      BString("awesome"), BDouble(5.05), BInt32(1986))))
    assert(encode(doc).toSeq == expected.toSeq)
    assert(decode(expected) == doc)
  }

  test("BSON per-type round-trips: every modeled type survives encode→decode") {
    val doc = BDoc(
      "_id" -> BObjectId("507f1f77bcf86cd799439011"),
      "str" -> BString("uni ‰∂é√º \n tab\t"),
      "f" -> BDouble(-0.0),
      "i32" -> BInt32(Int.MinValue),
      "i64" -> BInt64(Long.MaxValue),
      "flag" -> BBool(true),
      "when" -> BDateTime(1709251199500L), // 2024-02-29T23:59:59.5Z
      "nothing" -> BNull,
      "ts" -> BTimestamp(0x100000002L),
      "bin" -> BBinary(0, Array[Byte](0, 1, 127, -128)),
      "nested" -> BDoc("a" -> BArray(Vector(
        BInt32(1), BNull, BDoc("b" -> BString("c"))))))
    val encoded = encode(doc)
    val back = decode(encoded)
    // BBinary holds an Array — compare fields structurally
    assert(back.fields.map(_._1) == doc.fields.map(_._1))
    back.fields.zip(doc.fields).foreach {
      case ((_, BBinary(s1, b1)), (_, BBinary(s2, b2))) =>
        assert(s1 == s2 && b1.toSeq == b2.toSeq)
      case ((_, got), (_, want)) => assert(got == want)
    }
    // and the re-encoding is byte-identical (field order preserved)
    assert(encode(back).toSeq == encoded.toSeq)
  }

  test("BSON decode refuses unmodeled types and corrupt framing loudly") {
    // decimal128 (0x13) — the likeliest real-world unmodeled type in
    // financial collections — must not be silently coerced: a correct
    // 24-byte golden vector {d: <16-byte decimal128 zero>} whose ONLY
    // defect is the unmodeled type byte, so the failure is attributable
    // to the type contract and the message names 0x13 (r16 verdict #5).
    val d128 = hex("18000000 13 6400" + "00" * 16 + "00")
    val e = intercept[BsonException](decode(d128))
    assert(e.getMessage.contains("0x13"))
    // truncated document
    intercept[Exception](decode(hex("16000000 02 68656c6c6f00")))
    // bad trailing byte
    intercept[BsonException](decode(hex("0500000001")))
  }

  test("BSON decoder bounds: corrupt extents fail as BsonException, not JVM errors") {
    // element name missing its NUL: the cstring walk must stop at the
    // document body end instead of walking off the array (r16 advice)
    val noNul = hex("10000000 10 61616161616161616161 00")
    val e1 = intercept[BsonException](decode(noNul))
    assert(e1.getMessage.contains("NUL"))
    // negative binary length (would be a negative-length copyOfRange)
    val negBin = hex("0d000000 05 6200 ffffffff 00 00")
    val e2 = intercept[BsonException](decode(negBin))
    assert(e2.getMessage.contains("binary length"))
    // oversized binary length (would zero-pad past the doc end)
    val bigBin = hex("0d000000 05 6200 64000000 00 00")
    val e3 = intercept[BsonException](decode(bigBin))
    assert(e3.getMessage.contains("binary length"))
    // oversized string length
    val bigStr = hex("0c000000 02 7300 64000000 00")
    val e4 = intercept[BsonException](decode(bigStr))
    assert(e4.getMessage.contains("string length"))
    // fixed-width value overrunning the body (int64 with 2 bytes left)
    val shortI64 = hex("0a000000 12 6900 0000 00")
    val e5 = intercept[BsonException](decode(shortI64))
    assert(e5.getMessage.contains("overruns"))
    // hostile lengths near 2^31: int arithmetic would wrap the bound
    // check negative and slip past it — the long-arithmetic guard must
    // still fail loudly
    val hugeBin = hex("0d000000 05 6200 fbffff7f 00 00") // len 2^31-5
    val e6 = intercept[BsonException](decode(hugeBin))
    assert(e6.getMessage.contains("binary length"))
    val hugeStr = hex("0c000000 02 7300 fdffff7f 00") // len 2^31-3
    val e7 = intercept[BsonException](decode(hugeStr))
    assert(e7.getMessage.contains("string length"))
  }

  test("reference-serializer doubles render in CPython repr form") {
    def r(d: Double) = toReferenceJson(BDoc("d" -> BDouble(d)))
    // positional inside Python's [1e-4, 1e16) window …
    assert(r(5.0) == """{"d":5.0}""")
    assert(r(123.45) == """{"d":123.45}""")
    assert(r(12345678.0) == """{"d":12345678.0}""") // Java says 1.2345678E7
    assert(r(1e15) == """{"d":1000000000000000.0}""")
    assert(r(0.0001) == """{"d":0.0001}""")
    assert(r(0.001) == """{"d":0.001}""")
    assert(r(0.0) == """{"d":0.0}""")
    assert(r(-0.0) == """{"d":-0.0}""")
    // … scientific outside it, Python layout: lowercase e, explicit
    // sign, ≥2-digit exponent, no trailing .0 on a bare mantissa
    assert(r(1e23) == """{"d":1e+23}""")   // Java says 1.0E23
    assert(r(-1.5e300) == """{"d":-1.5e+300}""")
    assert(r(1e-5) == """{"d":1e-05}""")   // Java says 1.0E-5
    assert(r(1e16) == """{"d":1e+16}""")
    assert(r(Double.MaxValue) == """{"d":1.7976931348623157e+308}""")
    // NaN/Inf → null: the documented valid-JSON divergence
    assert(r(Double.NaN) == """{"d":null}""")
    assert(r(Double.PositiveInfinity) == """{"d":null}""")
  }

  test("reference-serializer rendering: ObjectId→hex, datetime→naive isoformat") {
    val doc = BDoc(
      "_id" -> BObjectId("507f1f77bcf86cd799439011"),
      "when" -> BDateTime(1709251199500L),
      "whole" -> BDateTime(1704067200000L), // 2024-01-01T00:00:00Z exactly
      "n" -> BInt32(42), "f" -> BDouble(5.0), "s" -> BString("a\"b"),
      "ok" -> BBool(false), "z" -> BNull,
      "arr" -> BArray(Vector(BInt64(7), BObjectId("507f1f77bcf86cd799439012"))))
    assert(toReferenceJson(doc) ==
      """{"_id":"507f1f77bcf86cd799439011",""" +
        """"when":"2024-02-29T23:59:59.500000",""" +
        """"whole":"2024-01-01T00:00:00",""" +
        """"n":42,"f":5.0,"s":"a\"b","ok":false,"z":null,""" +
        """"arr":[7,"507f1f77bcf86cd799439012"]}""")
    // the rendering matches MongoSource.isoNaive on the same instant:
    // fractional, pre-1970 (floorDiv/floorMod) and whole-second
    Seq(
      "2024-02-29T23:59:59.5Z" -> 1709251199500L,
      "1969-12-31T23:59:58.5Z" -> -1500L,
      "2024-01-01T00:00:00Z" -> 1704067200000L).foreach { case (text, ms) =>
      assert(MongoSource.isoNaive(text).contains(BsonCodec.isoNaiveMillis(ms)),
        s"$text vs $ms")
    }
    assert(BsonCodec.isoNaiveMillis(-1500L) == "1969-12-31T23:59:58.500000")
  }

  test("OP_MSG golden frame: hello command, pinned byte-for-byte") {
    val body = BDoc("hello" -> BInt32(1), "$db" -> BString("admin"))
    val frame = MongoWireClient.buildMessage(requestId = 7, body)
    val expected = hex(
      "34000000" +  // messageLength 0x34 = 52
        "07000000" + // requestID 7
        "00000000" + // responseTo 0
        "dd070000" + // opCode 2013 (OP_MSG)
        "00000000" + // flagBits 0
        "00" +       // section kind 0
        // body: {hello: 1, $db: "admin"} — 31 bytes
        "1f000000 10 68656c6c6f00 01000000" +
        "02 24646200 06000000 61646d696e00 00")
    assert(frame.toSeq == expected.toSeq)
  }

  // The fake mongod lives in main ([[graft.sources.FakeMongoServer]],
  // promoted r17) so oracle gates can drive the wire path too; these
  // legs keep pinning the protocol cycle against it.

  /** S2's raw export: every document as one reference-JSON string. */
  private def rawRead(server: FakeMongoServer, numPartitions: Int) =
    spark.read.format("graft.sources.MongoWireSource")
      .schema("raw STRING")
      .option("port", server.port).option("database", "db")
      .option("collection", "c").option("numPartitions", numPartitions)
      .load()

  test("fake server over a real socket: hello → find → getMore cursor cycle") {
    import MongoWireClient._
    val docs = (0 until 5).map(i => BDoc(
      "_id" -> BObjectId(f"$i%024x"),
      "v" -> BInt32(i),
      "at" -> BDateTime(1704067200000L + i))).toVector
    val server = new FakeMongoServer(docs)
    val client = MongoWireClient.connect("127.0.0.1", server.port)
    try {
      val got = client.find("db", "c", batchSize = 2).toVector
      assert(got.size == 5)
      assert(got.map(_.get("v")) == docs.map(_.get("v")))
      // and the documents render to the reference's serialized form
      assert(BsonCodec.toReferenceJson(got.head) ==
        """{"_id":"000000000000000000000000","v":0,""" +
          """"at":"2024-01-01T00:00:00"}""")
      // an error reply surfaces as a server exception
      val err = intercept[MongoServerException](
        client.runCommand("db", BDoc("bogus" -> BInt32(1))))
      assert(err.getMessage.contains("unknown command"))
    } finally {
      client.close()
      server.close()
    }
  }

  test("partitioned wire read: disjoint _id slices reassemble the collection, stride-only bounds") {
    // 97 docs, ids 3..99 — deliberately not starting at 0 so the probe
    // matters, with a doc count that does not divide evenly by 3.
    val docs = (0 until 97).map(i => BDoc(
      "_id" -> BInt32(i + 3), "name" -> BString(s"d$i"))).toVector
    val server = new FakeMongoServer(docs)
    try {
      val df = rawRead(server, numPartitions = 3)
      assert(df.rdd.getNumPartitions == 3)
      val raws = df.collect().map(_.getString(0))
      assert(raws.length == 97, "every document exactly once")
      assert(raws.toSet.size == 97, "slices are disjoint")
      assert(raws.contains("""{"_id":3,"name":"d0"}"""))
      assert(raws.contains("""{"_id":99,"name":"d96"}"""))
    } finally server.close()

    // ObjectId _id: sliced on the leading 4 timestamp bytes (bytewise
    // comparison), boundary ObjectIds <tsHex><16 zeros>. 60 docs over
    // 60 distinct timestamps — the machine suffix varies to prove the
    // boundaries cut on the prefix, not the whole value.
    val base = 0x65000000L
    val oidDocs = (0 until 60).map(i => BDoc(
      "_id" -> BObjectId(f"${base + i}%08x" + f"${(i * 2654435761L) & 0xffffffffffffffffL}%016x".takeRight(16)),
      "n" -> BInt32(i))).toVector
    val server2 = new FakeMongoServer(oidDocs)
    try {
      val df2 = rawRead(server2, numPartitions = 4)
      assert(df2.rdd.getNumPartitions == 4)
      val raws2 = df2.collect().map(_.getString(0))
      assert(raws2.length == 60, "every ObjectId-keyed doc exactly once")
      assert(raws2.toSet.size == 60, "timestamp-prefix slices are disjoint")

      // A key shape the slicer does not model (string ids) falls back
      // to the single-cursor read — correct first.
      val strDocs = (0 until 5).map(i =>
        BDoc("_id" -> BString(s"k$i"))).toVector
      val server3 = new FakeMongoServer(strDocs)
      try assert(rawRead(server3, numPartitions = 4).count() == 5)
      finally server3.close()
    } finally server2.close()
  }

  test("ObjectId slicing clamps overshooting boundaries at the 32-bit timestamp limit") {
    // Timestamps 0xfffffffc..0xffffffff with 3 partitions: the
    // ceil-width stride (width 2) puts the i=2 boundary at 0x100000000,
    // which unclamped renders 9 hex chars and trips BObjectId's
    // 24-char require (r16 advice). Clamped to 0xffffffff the cover
    // stays exhaustive and disjoint.
    val docs = (0 until 4).map(i => BDoc(
      "_id" -> BObjectId(f"${0xfffffffcL + i}%08x" + f"$i%016x"),
      "n" -> BInt32(i))).toVector
    val server = new FakeMongoServer(docs)
    try {
      val df = rawRead(server, numPartitions = 3)
      val raws = df.collect().map(_.getString(0))
      assert(raws.length == 4, "every doc exactly once at the ts limit")
      assert(raws.toSet.size == 4)
    } finally server.close()
  }

  test("a silent peer fails the hello handshake within the deadline") {
    val silent = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getLoopbackAddress)
    try {
      val t0 = System.nanoTime()
      intercept[java.net.SocketTimeoutException] {
        MongoWireClient.connect("127.0.0.1", silent.getLocalPort,
          connectTimeoutMs = 500)
      }
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      assert(elapsedMs < 10000, s"handshake hung ${elapsedMs}ms")
    } finally silent.close()
  }

  test("live: insert + find round-trip against a real mongod (flips green when one ships)") {
    assume(LiveMongo.available,
      "mongod not installed — the live S2 leg stays environment-blocked; " +
        "the wire plane is attested by the golden-vector legs above")
    val h = LiveMongo.get()
    val client = MongoWireClient.connect(h.host, h.port)
    try {
      val docs = (0 until 100).map(i => BDoc(
        "_id" -> BInt32(i), "name" -> BString(s"doc-$i"),
        "at" -> BDateTime(1704067200000L + i * 1000L))).toVector
      assert(client.insert("graft_t", "wire_rt", docs) == 100L)
      val back = client.find("graft_t", "wire_rt", batchSize = 7).toVector
      assert(back.size == 100)
      assert(back.map(_.get("name")).toSet == docs.map(_.get("name")).toSet)
    } finally client.close()
  }
}
