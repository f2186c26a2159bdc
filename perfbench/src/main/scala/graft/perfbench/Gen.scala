package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.immutable.ListMap

import graft.etl._

/** Seeded input generator. Documents are shaped like the TPC-H `orders`
  * and `customer` rows the q11 corpus derives from, with the same
  * per-document variety:
  *
  *  - dates in four of the configured formats,
  *  - ~1/7 unparseable amounts (`"junk"`, a cast error),
  *  - ~1/5 documents without `comment` (absent, not null),
  *  - `extra_attr` mapped but never present,
  *  - one unmapped attribute per collection (`mixed`, `legacy_code`).
  *
  * The seed decides which document gets which variant; the generator
  * counts the variants so the output checks know every expected number.
  * The same seed always gives byte-identical files.
  */
object Gen {

  val TargetSchema = "bench"
  val OrdersTable = s"$TargetSchema.orders_t"
  val CustomerTable = s"$TargetSchema.customer_t"
  /** Mapped collection that the input never contains. It is also listed
    * in schema.sql, so the run writes a MISSING audit row for it.
    */
  val AbsentCollection = "lineitem"
  val AbsentTable = s"$TargetSchema.lineitem_t"
  /** Collection present in the input with no mapping entry. */
  val UnmappedCollection = "audit_log"

  /** Error orders dated on or after this day answer the pushdown query. */
  val FilterFromEpochDay: Long = LocalDate.parse("1995-01-01").toEpochDay

  val ordersMapping: CollectionMapping = CollectionMapping(
    targetTable = OrdersTable,
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
      "clerk" -> AttributeMapping("clerk", "text"),
      "comment" -> AttributeMapping("comment", "text"),
      "extra_attr" -> AttributeMapping("extra_col", "text")))

  val customerMapping: CollectionMapping = CollectionMapping(
    targetTable = CustomerTable,
    rawJsonColumn = "raw_json",
    objectIdAttribute = "_id",
    mappings = ListMap(
      "_id" -> AttributeMapping("customer_id", "integer"),
      "name" -> AttributeMapping("name", "text"),
      "address" -> AttributeMapping("address", "text"),
      "nation" -> AttributeMapping("nation_key", "integer"),
      "phone" -> AttributeMapping("phone", "text"),
      "acctbal" -> AttributeMapping("acct_balance", "numeric"),
      "segment" -> AttributeMapping("market_segment", "text"),
      "signup_date" -> AttributeMapping("signup_date", "date"),
      "comment" -> AttributeMapping("comment", "text"),
      "extra_attr" -> AttributeMapping("extra_col", "text")))

  val mapping: MappingConfig = MappingConfig(ListMap(
    "orders" -> ordersMapping,
    "customer" -> customerMapping,
    AbsentCollection -> CollectionMapping(
      targetTable = AbsentTable,
      rawJsonColumn = "raw_json",
      objectIdAttribute = "_id",
      mappings = ListMap("_id" -> AttributeMapping("line_id", "integer")))))

  /** schema.sql of the deployment: the audit table and the table of the
    * absent collection. The two landed targets are not listed, so the
    * pipeline creates them (object status NEW).
    */
  val schemaSql: String =
    s"""CREATE TABLE IF NOT EXISTS $AbsentTable (line_id INTEGER, raw_json JSONB);
       |CREATE TABLE IF NOT EXISTS ${EtlDefaults.audit.auditTable} (object_id TEXT);
       |""".stripMargin

  /** Expected per-collection numbers for one landing of the input. */
  final case class Counts(docs: Long, errors: Long, noComment: Long)

  final case class Expect(
      orders: Counts,
      customer: Counts,
      unmappedDocs: Long,
      /** Orders with status error and an order date on or after 1995-01-01. */
      ordersErrorFrom1995: Long) {
    def mappedDocs: Long = orders.docs + customer.docs
    def totalDocs: Long = mappedDocs + unmappedDocs
    def errors: Long = orders.errors + customer.errors
  }

  /** One generated input: the files the program reads and what a correct
    * run must produce from them.
    */
  final case class Input(files: Map[String, Path], expect: Expect, bytes: Long,
      digest: String)

  /** yyyy-MM-dd, MM/dd/yyyy, dd-MM-yyyy, yyyy/MM/dd: see [[date]]. */
  private val DateFormats = 4
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Words = Array("furiously", "quickly", "carefully", "blithely", "slyly",
    "ironic", "final", "regular", "express", "pending", "special", "bold",
    "deposits", "requests", "accounts", "packages", "theodolites", "pinto",
    "beans", "foxes", "ideas", "instructions", "platelets", "asymptotes")
  private val MinDay = LocalDate.parse("1992-01-01").toEpochDay.toInt
  private val DaySpan = 2405 // through 1998-08-02, the TPC-H order-date range

  private def pad(sb: java.lang.StringBuilder, v: Int, w: Int): Unit = {
    val s = Integer.toString(v)
    var i = s.length
    while (i < w) { sb.append('0'); i += 1 }
    sb.append(s)
  }

  private def date(sb: java.lang.StringBuilder, epochDay: Int, fmt: Int): Unit = {
    val d = LocalDate.ofEpochDay(epochDay.toLong)
    fmt match {
      case 0 => pad(sb, d.getYear, 4); sb.append('-'); pad(sb, d.getMonthValue, 2); sb.append('-'); pad(sb, d.getDayOfMonth, 2)
      case 1 => pad(sb, d.getMonthValue, 2); sb.append('/'); pad(sb, d.getDayOfMonth, 2); sb.append('/'); pad(sb, d.getYear, 4)
      case 2 => pad(sb, d.getDayOfMonth, 2); sb.append('-'); pad(sb, d.getMonthValue, 2); sb.append('-'); pad(sb, d.getYear, 4)
      case _ => pad(sb, d.getYear, 4); sb.append('/'); pad(sb, d.getMonthValue, 2); sb.append('/'); pad(sb, d.getDayOfMonth, 2)
    }
  }

  private def money(sb: java.lang.StringBuilder, cents: Long): Unit = {
    sb.append(cents / 100).append('.')
    pad(sb, (cents % 100).toInt, 2)
  }

  private def words(sb: java.lang.StringBuilder, r: SplittableRandom): Unit = {
    val n = 3 + r.nextInt(6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Words(r.nextInt(Words.length)))
      i += 1
    }
  }

  /** Writes `n` orders documents through `emit`; returns their counts. */
  private def orders(r: SplittableRandom, n: Int, emit: String => Unit): (Counts, Long) = {
    var errors, noComment, errorFrom1995 = 0L
    val sb = new java.lang.StringBuilder(320)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      val day = MinDay + r.nextInt(DaySpan)
      val fmt = r.nextInt(DateFormats)
      val cents = 90000L + r.nextInt(50000000)
      val junk = r.nextInt(7) == 0
      val withComment = r.nextInt(5) != 0
      sb.append("{\"_id\":").append(i + 1)
      sb.append(",\"order_date\":\""); date(sb, day, fmt)
      sb.append("\",\"event_time\":\""); date(sb, day, 0)
      sb.append('T'); pad(sb, r.nextInt(24), 2); sb.append(':'); pad(sb, r.nextInt(60), 2)
      sb.append(':'); pad(sb, r.nextInt(60), 2)
      sb.append("\",\"total\":"); money(sb, cents)
      sb.append(",\"amount_str\":\"")
      if (junk) sb.append("junk") else money(sb, cents)
      sb.append("\",\"is_priority\":").append(r.nextBoolean())
      sb.append(",\"priority\":\"").append(Priorities(r.nextInt(Priorities.length)))
      sb.append("\",\"clerk\":\"Clerk#"); pad(sb, 1 + r.nextInt(1000), 9)
      sb.append("\",\"mixed\":").append(r.nextInt(100000))
      if (withComment) { sb.append(",\"comment\":\""); words(sb, r); sb.append('"') }
      sb.append('}')
      emit(sb.toString)
      if (junk) { errors += 1; if (day >= FilterFromEpochDay) errorFrom1995 += 1 }
      if (!withComment) noComment += 1
      i += 1
    }
    (Counts(n.toLong, errors, noComment), errorFrom1995)
  }

  private def customers(r: SplittableRandom, n: Int, emit: String => Unit): Counts = {
    var errors, noComment = 0L
    val sb = new java.lang.StringBuilder(320)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      val nation = r.nextInt(25)
      val junk = r.nextInt(7) == 0
      val withComment = r.nextInt(5) != 0
      sb.append("{\"_id\":").append(i + 1)
      sb.append(",\"name\":\"Customer#"); pad(sb, i + 1, 9)
      sb.append("\",\"address\":\""); words(sb, r)
      sb.append("\",\"nation\":").append(nation)
      sb.append(",\"phone\":\"").append(10 + nation).append('-')
      pad(sb, r.nextInt(1000), 3); sb.append('-'); pad(sb, r.nextInt(1000), 3)
      sb.append('-'); pad(sb, r.nextInt(10000), 4)
      sb.append("\",\"acctbal\":\"")
      if (junk) sb.append("junk") else money(sb, r.nextInt(1099999).toLong)
      sb.append("\",\"segment\":\"").append(Segments(r.nextInt(Segments.length)))
      sb.append("\",\"signup_date\":\""); date(sb, MinDay + r.nextInt(DaySpan), r.nextInt(DateFormats))
      sb.append("\",\"legacy_code\":\"L").append(r.nextInt(1000)).append('"')
      if (withComment) { sb.append(",\"comment\":\""); words(sb, r); sb.append('"') }
      sb.append('}')
      emit(sb.toString)
      if (junk) errors += 1
      if (!withComment) noComment += 1
      i += 1
    }
    Counts(n.toLong, errors, noComment)
  }

  private def auditLog(r: SplittableRandom, n: Int, emit: String => Unit): Unit = {
    var i = 0
    while (i < n) {
      emit(s"""{"_id":${i + 1},"event":"login","user":${r.nextInt(100000)}}""")
      i += 1
    }
  }

  /** Sizes of one input. */
  final case class Size(orders: Int, customers: Int, unmapped: Int)

  /** Generator order is fixed (orders, customer, audit_log) and each
    * collection draws from its own stream split off the seed, so a
    * collection's documents do not depend on the other collections' sizes.
    */
  private def streams(seed: Long): (SplittableRandom, SplittableRandom, SplittableRandom) = {
    val root = new SplittableRandom(seed)
    (root.split(), root.split(), root.split())
  }

  /** The CLI's input: one JSON object keyed by collection name. */
  def envelope(dir: Path, seed: Long, size: Size): Input = {
    Files.createDirectories(dir)
    val path = dir.resolve("envelope.json")
    val (ro, rc, ra) = streams(seed)
    val w = Files.newBufferedWriter(path, UTF_8)
    val (o, oErr95, c) = try {
      def section[A](name: String, first: Boolean)(body: (String => Unit) => A): A = {
        w.write(if (first) "{\"" else "],\"")
        w.write(name); w.write("\":[")
        var n = 0
        body { doc => if (n > 0) w.write(','); w.write(doc); n += 1 }
      }
      val (o, oErr95) = section("orders", first = true)(orders(ro, size.orders, _))
      val c = section("customer", first = false)(customers(rc, size.customers, _))
      section(UnmappedCollection, first = false)(auditLog(ra, size.unmapped, _))
      w.write("]}")
      (o, oErr95, c)
    } finally w.close()
    Input(Map("envelope" -> path), Expect(o, c, size.unmapped.toLong, oErr95),
      Files.size(path), digest(Seq(path)))
  }

  /** The scale path's input: one JSONL file per collection, in its own
    * directory.
    */
  def jsonLines(dir: Path, seed: Long, size: Size): Input = {
    val (ro, rc, ra) = streams(seed)
    def file[A](name: String)(body: (String => Unit) => A): (Path, A) = {
      val d = dir.resolve(name)
      Files.createDirectories(d)
      val p = d.resolve("part-00000.jsonl")
      val w = Files.newBufferedWriter(p, UTF_8)
      try (p, body { doc => w.write(doc); w.write('\n') })
      finally w.close()
    }
    val (po, (o, oErr95)) = file("orders")(orders(ro, size.orders, _))
    val (pc, c) = file("customer")(customers(rc, size.customers, _))
    val (pa, _) = file(UnmappedCollection)(auditLog(ra, size.unmapped, _))
    val paths = Seq(po, pc, pa)
    Input(Map("orders" -> po.getParent, "customer" -> pc.getParent,
      UnmappedCollection -> pa.getParent),
      Expect(o, c, size.unmapped.toLong, oErr95),
      paths.map(p => Files.size(p)).sum, digest(paths))
  }

  private def digest(paths: Seq[Path]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 16)
    paths.foreach { p =>
      val in = Files.newInputStream(p)
      try {
        var n = in.read(buf)
        while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
