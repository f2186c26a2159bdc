package graft.etl

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hex}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}

/** `Ingestion.fromJsonLines` against `spark.read.text` over the same
  * path: the same multiset of lines, byte for byte, in at least
  * `defaultParallelism` splits however the input is laid out.
  */
class JsonLinesReaderSpec extends AnyFunSuite with SparkTestSession {

  private lazy val work = TempDirs.create("graft-jsonl-reader-spec")

  private def write(dir: Path, name: String, bytes: Array[Byte]): Path =
    Files.write(dir.resolve(name), bytes)

  private def write(dir: Path, name: String, text: String): Path =
    write(dir, name, text.getBytes(UTF_8))

  private def gzip(text: String): Array[Byte] = {
    val bytes = new ByteArrayOutputStream
    val out = new GZIPOutputStream(bytes)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    bytes.toByteArray
  }

  /** Each distinct line's bytes (as hex) with its count. */
  private def lineBytes(df: DataFrame): Map[String, Int] =
    df.select(hex(col(df.columns.head))).collect().toSeq
      .groupBy(_.getString(0)).view.mapValues(_.size).toMap

  /** Reads `path` both ways, requires the same lines and returns ours. */
  private def sameLinesAsSpark(path: Path): DataFrame = {
    val ours = Ingestion.fromJsonLines(spark, path.toString)
    assert(ours.columns.toSeq == Seq("raw"))
    assert(lineBytes(ours) == lineBytes(spark.read.text(path.toString)), path)
    assert(ours.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism, path)
    ours
  }

  private def lines(df: DataFrame): Seq[String] = df.collect().map(_.getString(0)).toSeq

  test("line endings, blank lines, hidden files and gzip read as spark.read.text reads them") {
    val dir = Files.createDirectory(work.resolve("mixed"))
    val files = Seq(
      write(dir, "lf.jsonl", "{\"a\":1}\n{\"a\":2}\n"),
      write(dir, "crlf.jsonl", "{\"b\":1}\r\n{\"b\":2}\r\n"),
      write(dir, "cr.jsonl", "{\"c\":1}\r{\"c\":2}\r"),
      // blank lines of every ending, and a last line without one
      write(dir, "blank.jsonl", "{\"d\":1}\r\n\n{\"d\":2}\r\r{\"d\":3}\n\n\n{\"d\":4}"),
      write(dir, "bom.jsonl", "\uFEFF{\"e\":1}\n"),
      write(dir, "z.jsonl.gz", gzip("{\"g\":1}\n{\"g\":2}\n")))
    write(dir, "_SUCCESS", "hidden\n")
    write(dir, "_part.jsonl", "hidden\n")
    write(dir, ".part.jsonl", "hidden\n")
    Files.createDirectory(dir.resolve("_temporary"))
    write(dir.resolve("_temporary"), "part.jsonl", "hidden\n")

    val all = lines(sameLinesAsSpark(dir))
    assert(all.size == 17 && all.count(_.isEmpty) == 4)
    assert(!all.exists(_.contains("hidden")))
    assert(Seq("{\"a\":2}", "{\"b\":2}", "{\"c\":2}", "{\"d\":4}", "{\"e\":1}", "{\"g\":2}")
      .forall(all.contains)) // the byte order mark is dropped
    // each file alone is cut into defaultParallelism ranges of its own
    files.foreach(sameLinesAsSpark)
  }

  test("a split boundary inside a multi-byte UTF-8 character loses no byte") {
    // a one-file input is cut at size * i / defaultParallelism; pad the
    // first document until a cut falls on a continuation byte
    val n = spark.sparkContext.defaultParallelism
    def cutsInsideACharacter(bytes: Array[Byte]) =
      (1 until n).exists(i => (bytes((bytes.length.toLong * i / n).toInt) & 0xc0) == 0x80)
    val docs = (0 to 8).iterator.map { pad =>
      s"""{"pad":"${"x" * pad}"}""" +:
        (0 until 50).map(i => s"""{"i":$i,"s":"${"é日😀" * (i % 7 + 1)}"}""")
    }.find(d => cutsInsideACharacter(d.mkString("\n").getBytes(UTF_8))).get
    val file = write(Files.createDirectory(work.resolve("utf8")), "utf8.jsonl",
      docs.mkString("\n"))
    val df = sameLinesAsSpark(file)
    assert(df.rdd.getNumPartitions == n)
    assert(lines(df).sorted == docs.sorted)
  }

  test("invalid UTF-8 bytes are kept as read, as spark.read.text keeps them") {
    val bad = "{\"x\":\"".getBytes(UTF_8) ++ Array(0xff, 0xc3).map(_.toByte) ++
      "\"}\nok\n".getBytes(UTF_8)
    val file = write(Files.createDirectory(work.resolve("invalid")), "bad.jsonl", bad)
    val row = sameLinesAsSpark(file).filter(col("raw") =!= "ok")
      .select(hex(col("raw")), col("raw")).head()
    // the column holds the file's bytes; a Java String shows U+FFFD for each bad one
    assert(row.getString(0) == "7B2278223A22FFC3227D")
    assert(row.getString(1) == "{\"x\":\"\uFFFD\uFFFD\"}")
  }

  test("2,000 tiny files share defaultParallelism splits") {
    val dir = Files.createDirectory(work.resolve("tiny"))
    for (i <- 0 until 2000) write(dir, f"part-$i%05d.jsonl", s"""{"i":$i}\n""")
    val df = sameLinesAsSpark(dir)
    assert(df.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(df.count() == 2000)
  }

  test("a tiny or empty input still arrives in defaultParallelism splits") {
    val n = spark.sparkContext.defaultParallelism
    val one = write(Files.createDirectory(work.resolve("one")), "one.jsonl", "{\"k\":1}")
    assert(lines(sameLinesAsSpark(one)) == Seq("{\"k\":1}"))
    val empty = Files.createDirectory(work.resolve("empty"))
    write(empty, "empty.jsonl", "")
    val none = sameLinesAsSpark(empty)
    assert(none.rdd.getNumPartitions == n && none.count() == 0)
  }

  test("a missing path fails at call time with an InputError naming it") {
    for (missing <- Seq(work.resolve("no-such-dir"), work.resolve("no-such-*.jsonl"))) {
      val e = intercept[InputError](Ingestion.fromJsonLines(spark, missing.toString))
      assert(e.getMessage == s"Input path not found: $missing")
    }
  }

  test("split sizing: total / defaultParallelism, at most 128 MB, small files packed") {
    val mb = 1L << 20
    def file(name: String, size: Long) =
      new FileStatus(size, false, 1, 0L, 0L, new HPath(s"/in/$name"))
    def sizes(ranges: Array[Seq[SplitLines.Chunk]]) = ranges.map(_.map(_.length).sum).toSeq

    // large input: 128 MB caps the range, so there are more than 4
    val large = SplitLines.plan(Seq(file("a", 1000 * mb) -> true), 4)
    assert(sizes(large) == Seq.fill(8)(125 * mb))
    // small input: 4 equal ranges, and the last two files share one
    val small = SplitLines.plan(
      Seq(file("a", 9 * mb) -> true, file("b", 1 * mb) -> true, file("c", 2 * mb) -> true), 4)
    assert(sizes(small) == Seq.fill(4)(3 * mb))
    assert(small(3) == Seq(SplitLines.Chunk("/in/b", 0, mb), SplitLines.Chunk("/in/c", 0, 2 * mb)))
    // a file its codec cannot split stays whole, in the range it starts in
    val gz = SplitLines.plan(Seq(file("a.gz", 9 * mb) -> false, file("b", 3 * mb) -> true), 4)
    assert(gz.map(_.map(c => c.path -> c.length)).toSeq ==
      Seq(Seq("/in/a.gz" -> 9 * mb), Nil, Nil, Seq("/in/b" -> 3 * mb)))
  }
}
