package graft.etl

import java.io.BufferedOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.core.{JsonParser, JsonProcessingException, JsonToken}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.TempDirs

/** S1/S7 — the collection-envelope JSON source, reference
  * `etl_pipeline/ingestion.py:7-30`: one JSON object keyed by collection
  * name, each value a list of document objects; anything else is an
  * InputError naming the offending collection/index.
  *
  * The envelope is read in ONE streaming pass ([[splitEnvelope]]): a
  * Jackson parser walks it a document at a time and appends each
  * document as one line to its collection's JSONL staging file, so
  * driver memory holds one document plus one file buffer, never the
  * file. Each collection is then read by [[fromJsonLines]], and the
  * transform runs in executor tasks instead of being folded into a
  * driver-local relation. The staging directory lives on the driver's
  * filesystem, which every executor of graft's `local[N]` session
  * shares; a multi-node deployment stages JSONL on shared storage and
  * calls [[fromJsonLines]] directly.
  *
  * Every frame this object returns arrives split: at least
  * `defaultParallelism` partitions, whatever the number and size of the
  * files behind it, so the transform plane needs no repartition.
  */
object Ingestion {

  private val mapper = new ObjectMapper()
    .configure(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS, true)

  /** Where a walk sends the documents of one collection occurrence. */
  private trait Docs {
    def add(doc: String): Unit
    def close(): Unit = ()
  }

  /** The one envelope validator: a single pass over `p` that checks the
    * shape and hands every document, rendered as `writeValueAsString` of
    * its `readTree`, to the [[Docs]] that `open(ordinal, name)` returns
    * for that key occurrence (`ordinal` is the key's first-occurrence
    * position). It keeps whole-tree `readTree` semantics: malformed JSON
    * anywhere wins over a shape error, and a repeated top-level key
    * replaces the earlier value in the earlier position — so `open` must
    * discard what an earlier occurrence of the ordinal received, and a
    * shape error is final only once the walk ends.
    */
  private def walk[D <: Docs](p: JsonParser)(open: (Int, String) => D): ListMap[String, D] = {
    val seen = mutable.LinkedHashMap.empty[String, Either[String, D]]
    val ordinals = mutable.HashMap.empty[String, Int]
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) {
        p.skipChildren()
        throw new InputError("Input JSON must be an object keyed by collection name.")
      }
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName
        val docs = open(ordinals.getOrElseUpdate(name, ordinals.size), name)
        seen(name) =
          try {
            if (p.nextToken() != JsonToken.START_ARRAY) {
              p.skipChildren()
              Left(s"Collection '$name' must map to a list of documents.")
            } else {
              var error: Option[String] = None
              var i = 0
              while (p.nextToken() != JsonToken.END_ARRAY) {
                if (error.isEmpty && p.currentToken == JsonToken.START_OBJECT)
                  docs.add(mapper.writeValueAsString(mapper.readTree[JsonNode](p)))
                else {
                  if (error.isEmpty)
                    error = Some(s"Document at index $i in collection '$name' must be an object.")
                  p.skipChildren()
                }
                i += 1
              }
              error.toLeft(docs)
            }
          } finally docs.close()
      }
    } catch {
      case e: JsonProcessingException =>
        throw new InputError(s"Input is not valid JSON: ${e.getMessage}")
    } finally p.close()
    seen.valuesIterator.collectFirst { case Left(msg) => msg }
      .foreach(msg => throw new InputError(msg))
    ListMap.from(seen.iterator.collect { case (name, Right(docs)) => name -> docs })
  }

  private final class Collected extends Docs {
    val docs = Vector.newBuilder[String]
    def add(doc: String): Unit = docs += doc
  }

  /** Parse + shape-validate an envelope string into per-collection lists
    * of document-JSON strings (declaration order preserved).
    */
  def parseEnvelope(content: String): ListMap[String, Seq[String]] =
    walk(mapper.createParser(content))((_, _) => new Collected)
      .map { case (name, c) => name -> c.docs.result() }

  /** One collection's JSONL staging file, one document per line; a
    * repeated key truncates the file its earlier value wrote.
    */
  private final class JsonlFile(val path: Path) extends Docs {
    private val out = new BufferedOutputStream(Files.newOutputStream(path))

    def add(doc: String): Unit = {
      // String.getBytes turns a lone surrogate into '?', as Spark's
      // UTF8String.fromString does; a strict encoder would throw
      out.write(doc.getBytes(UTF_8))
      out.write('\n')
    }

    override def close(): Unit = out.close()
  }

  /** The Spark-free half of [[loadEnvelope]]: one streaming pass over
    * `input` that validates it like [[parseEnvelope]] and writes each
    * collection as one JSONL file under `staging` (only the current
    * collection's open at a time; an empty collection's file is empty).
    * Returns each collection's file, in envelope order.
    */
  def splitEnvelope(input: Path, staging: Path): ListMap[String, Path] = {
    val _ = Files.createDirectories(staging)
    walk(mapper.createParser(input.toFile)) { (ordinal, _) =>
      new JsonlFile(staging.resolve(s"c$ordinal.jsonl"))
    }.map { case (name, file) => name -> file.path }
  }

  /** `load_input_json` + distribution: envelope file → one DataFrame of
    * raw-document strings (column `raw`) per collection, each read by
    * [[fromJsonLines]] from the collection's JSONL file, staged in a
    * fresh directory under `java.io.tmpdir` that is deleted at JVM exit
    * (the frames read it lazily).
    */
  def loadEnvelope(spark: SparkSession, inputPath: String): ListMap[String, DataFrame] = {
    val path = Paths.get(inputPath)
    if (!Files.exists(path))
      throw new InputError(s"Input file not found: $inputPath")
    val staging = TempDirs.create("graft-envelope")
    val files =
      try splitEnvelope(path, staging)
      catch { case e: Throwable => TempDirs.deleteRecursively(staging); throw e }
    files.map { case (name, file) => name -> fromJsonLines(spark, file.toString) }
  }

  /** Scale path: JSONL per collection (one document per line; a file, a
    * directory or a glob), read distributed — no driver materialization,
    * shape errors surface per-row in the transform (absent keys /
    * parse_json failures). The frame arrives split: its lines are read
    * in `max(defaultParallelism, total / 128 MB)` byte ranges of equal
    * size, so one large file is cut into many splits and many small
    * files share one ([[SplitLines]]). The path is listed now: a missing
    * one is an [[InputError]] naming it.
    */
  def fromJsonLines(spark: SparkSession, path: String): DataFrame =
    SplitLines.read(spark, path)

  /** Fan a per-row-CPU-bound plane out to the session's full parallelism
    * when the input's split count would otherwise serialize it. A
    * single-file scan by one of Spark's file sources plans ONE split, so
    * the downstream parse/cast plane runs on one core no matter how many
    * the cluster has — Spark sizes splits by BYTES
    * (`spark.sql.files.maxPartitionBytes`), which under-partitions any
    * input whose cost is per-row CPU rather than I/O (round-15,
    * measured: the full transform at sf0.1 ran 8.1 s on the fixture's
    * single split vs 1.6 s fanned out to 32). No-op whenever the input
    * has no splits (an empty collection) or already carries at least the
    * session's parallelism — at production
    * scale inputs arrive in many splits and nothing is inserted; the
    * exchange, when it does fire, hash-partitions on a CONTENT hash of
    * the full row (r20) rather than round-robin: keyless
    * `repartition(n)` first locally sorts every map partition
    * (`spark.sql.execution.sortBeforeRepartition`, required so task
    * retries reproduce the same assignment — guide §2.5) — measured
    * 0.49 s vs 0.31 s for the hash spread on the single-split fixture,
    * and the hash of the row content is deterministic under retry BY
    * CONSTRUCTION, so it needs no such sort. Distribution caveat: rows
    * duplicated many times co-locate; the ingestion plane's documents
    * carry unique ids, and a 64-bit hash over 32–1024 partitions
    * spreads unique rows uniformly. The ingestion plane does not need
    * it: [[fromJsonLines]] and [[loadEnvelope]] return frames that
    * already hold `defaultParallelism` splits, and `Pipeline.run` plans
    * no repartition. It serves inputs read by Spark's own file sources.
    */
  def fanOutForCpu(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val splits = df.rdd.getNumPartitions
    if (splits == 0 || splits >= target) df
    else df.repartition(target,
      org.apache.spark.sql.functions.xxhash64(
        df.columns.map(org.apache.spark.sql.functions.col).toSeq: _*))
  }

  /** K6 — filtered-input re-write (reference `ui/run_pipeline.py:56-61`,
    * `386-392`): subset an envelope to selected collections and persist
    * it (2-space indented, like the reference's `json.dumps(indent=2)`).
    */
  def writeFilteredEnvelope(
      envelope: ListMap[String, Seq[String]],
      collections: Seq[String],
      outPath: String): Unit = {
    val selected = envelope.filter { case (k, _) => collections.contains(k) }
    val writer = mapper.writerWithDefaultPrettyPrinter()
    val root = mapper.createObjectNode()
    for ((name, docs) <- selected) {
      val arr = root.putArray(name)
      docs.foreach(d => arr.add(mapper.readTree(d)))
    }
    Files.writeString(Paths.get(outPath), writer.writeValueAsString(root))
  }
}
