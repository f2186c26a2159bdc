package graft.streaming

import java.nio.file.{Files, Path}

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.SparkTestSession

/** Crash-interleaving fuzz of the bucketed manifest store — the
  * generalization of the two deterministic crash-window specs in
  * StreamingUpsertSpec: instead of hand-picking the kill point, inject
  * a `kill -9` at a RANDOM durability boundary of a RANDOM microbatch
  * (up to two kills per run) across 3–5 batches, then let the
  * simulated engine recover exactly the way mergeStream does —
  * re-read the latest manifest, replay every batch whose checkpoint
  * commit marker is missing — and assert the recovery invariants:
  *
  *  - at every restart, no surviving manifest references a missing
  *    bucket directory (readers during any crash window only ever see
  *    fully-durable state);
  *  - replay is idempotent: the run converges with one manifest per
  *    batch, every one parquet-readable;
  *  - the snapshot at EVERY version equals the driver-side LWW fold
  *    of the batch prefix it covers — independent of where the kills
  *    landed, how many attempts a batch took, or whether a torn
  *    parquet file from a half-finished delta write was left behind.
  *
  * The harness drives [[StreamingUpsert.mergeBatch]] (the extracted
  * `foreachBatch` body) directly: the crash hook throwing IS the
  * kill — everything written before the hook point stays on disk,
  * exactly what a real kill leaves. The `start-torn` flavor
  * additionally plants a truncated parquet part inside the delta
  * directory the killed attempt would have written (computed with the
  * writer's own naming rule, so a retry attempt's torn file never
  * lands inside a published manifest's referenced directory — a real
  * partial write never does either).
  */
object UpsertCrashPropertySpec extends Properties("UpsertCrashRecovery") {

  // 4 workers (r20): cases are independent — each gets its own temp
  // dir AND its own cloned SparkSession (below), so nothing shared
  // mutates. Same 100-case surface, ~4× less wall-clock (this suite
  // was ~240 s of the driver's test budget, mostly idle driver
  // round-trips a concurrent case back-fills, guide §2.6).
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(100).withWorkers(4)

  private lazy val sharedSpark = SparkTestSession.session

  private final case class R(k: Long, v: Long, seq: Long, op: String)
  private final class SimulatedCrash extends RuntimeException("kill")

  private val CrashPoints =
    Seq("start", "start-torn", "after-delta", "after-manifest")

  private val caseGen: Gen[(List[List[R]], List[(Int, String)])] = for {
    nBatches <- Gen.choose(3, 5)
    sizes <- Gen.listOfN(nBatches, Gen.choose(1, 4))
    rows <- Gen.sequence[List[(Long, Long, Long, String)],
      (Long, Long, Long, String)](sizes.flatMap(n => List.fill(n)(for {
        k <- Gen.choose(0L, 5L)
        v <- Gen.choose(0L, 99L)
        shuf <- Gen.choose(0L, 999L)
        op <- Gen.frequency(3 -> Gen.const("upsert"), 1 -> Gen.const("delete"))
      } yield (k, v, shuf, op))))
    nCrash <- Gen.choose(0, 2)
    crashes <- Gen.listOfN(nCrash, for {
      b <- Gen.choose(0, nBatches - 1)
      p <- Gen.oneOf(CrashPoints)
    } yield (b, p))
  } yield {
    // seq = shuffle-key then global index: unique by construction, and
    // ORDERED ACROSS BATCHES ESSENTIALLY AT RANDOM — late/out-of-order
    // sequences land in earlier batches routinely, so the LWW fold is
    // genuinely exercised, not just "last batch wins".
    val seqd = rows.zipWithIndex.map { case ((k, v, shuf, op), i) =>
      R(k, v, shuf * 1000L + i, op)
    }
    val batches = sizes.foldLeft((List.empty[List[R]], seqd)) {
      case ((acc, rest), n) => (acc :+ rest.take(n), rest.drop(n))
    }._1
    (batches, crashes)
  }

  /** Driver-side oracle: last-writer-wins over unique sequences,
    * live = surviving upserts.
    */
  private def lwwLive(rows: Seq[R]): Map[Long, Long] =
    rows.groupBy(_.k).flatMap { case (k, rs) =>
      val top = rs.maxBy(_.seq)
      if (top.op == "upsert") Some(k -> top.v) else None
    }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))

  private def manifestVersions(dir: String): Seq[Long] = {
    val mdir = Path.of(dir, "_graft_manifest")
    val Name = raw"v(\d+)\.json".r
    if (!Files.exists(mdir)) Seq.empty
    else Files.list(mdir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case Name(v) => v.toLong }.toSeq.sorted
  }

  /** The delta directory the NEXT write attempt of batch `id` will
    * target — the writer's own naming rule (base when no manifest
    * v<id> exists, else a fresh max+1 retry) — so a planted torn file
    * models a partial write of that attempt, never corruption of an
    * already-published directory.
    */
  private def nextDeltaPath(dir: String, id: Long): Path =
    if (!Files.exists(Path.of(dir, "_graft_manifest", s"v$id.json")))
      Path.of(dir, s"delta-v$id")
    else {
      val Name = raw"delta-v$id-r(\d+)".r
      val max = Files.list(Path.of(dir)).iterator().asScala
        .map(_.getFileName.toString)
        .collect { case Name(n) => n.toLong }
        .foldLeft(0L)(math.max)
      Path.of(dir, s"delta-v$id-r${max + 1}")
    }

  private def plantTorn(dir: String, id: Long): Unit = {
    val torn = nextDeltaPath(dir, id).resolve("__bucket=0")
    Files.createDirectories(torn)
    Files.write(torn.resolve("part-00000-torn.snappy.parquet"),
      Array[Byte]('P', 'A', 'R', '1', 0, 0, 0))
  }

  property("random crash interleavings recover to the LWW fold at every version") =
    forAll(caseGen) { case (batches, crashes) =>
      // per-case cloned session: same SparkContext, own SQLConf — the
      // narrow shuffle width is case-local instead of a set/restore on
      // the shared session (which would race across workers and could
      // leak the narrowed width into later suites)
      val spark = sharedSpark.newSession()
      import spark.implicits._
      val root = Files.createTempDirectory("graft-crashfuzz")
      val dir = root.resolve("snap").toString
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      try {
        // Simulated engine: commit markers are an in-order prefix
        // (Spark commits batch N's offsets only after foreachBatch(N)
        // returns), recovery re-reads the latest manifest — the exact
        // mergeStream restart path.
        var committedUpTo = 0 // batches [0, committedUpTo) are committed
        var pending = crashes
        var restartInvariantOk = true
        var guard = 0
        while (committedUpTo < batches.size && guard < 20) {
          guard += 1
          var state = StreamingUpsert.readLatestManifest(spark, dir)
            .getOrElse(StreamingUpsert.Manifest(SortedMap.empty, -1L))
          // restart-window invariant: every surviving manifest
          // references only directories that are actually on disk
          restartInvariantOk &&= manifestVersions(dir).forall(v =>
            StreamingUpsert.readManifestVersion(spark, dir, v).get
              .buckets.values.forall(p => Files.exists(Path.of(p))))
          try {
            (committedUpTo until batches.size).foreach { i =>
              val id = i.toLong
              val hook: String => Unit = point =>
                pending match {
                  case (b, p) :: rest
                      if b == i && (p == point || (p == "start-torn" && point == "start")) =>
                    pending = rest
                    if (p == "start-torn") plantTorn(dir, id)
                    throw new SimulatedCrash
                  case _ => ()
                }
              state = StreamingUpsert.mergeBatch(
                spark, state,
                batches(i).map(r => (r.k, r.v, r.seq, r.op))
                  .toDF("k", "v", "__seq", "__op"),
                id, dir, "k", buckets = 2, crashHook = hook)
              committedUpTo = i + 1
            }
          } catch { case _: SimulatedCrash => () }
        }

        val versions = manifestVersions(dir)
        val converged = committedUpTo == batches.size &&
          versions == batches.indices.map(_.toLong)
        // every version's snapshot is parquet-readable AND equals the
        // LWW fold of exactly the batch prefix it covers
        val versionsExact = converged && versions.forall { v =>
          val liveV = StreamingUpsert.snapshotAt(spark, dir, v)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          liveV == lwwLive(batches.take(v.toInt + 1).flatten)
        }
        (converged :| s"run did not converge: committed=$committedUpTo/${batches.size} versions=$versions (crashes=$crashes)") &&
          (restartInvariantOk :| s"a surviving manifest referenced a missing directory (crashes=$crashes)") &&
          (versionsExact :| s"some version's snapshot diverged from the LWW prefix fold (crashes=$crashes)")
      } finally deleteRecursively(root)
    }
}
