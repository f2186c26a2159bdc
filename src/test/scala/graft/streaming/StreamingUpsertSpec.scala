package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}

/** Contracts of the bucketed foreachBatch upsert sink:
  *
  *  - compaction associativity: with tombstone retention, batch arrival
  *    order cannot change the final snapshot;
  *  - bucket carry-forward: a microbatch rewrites ONLY the buckets its
  *    keys hash into — untouched buckets keep their exact files
  *    (byte-identical, same path) across the batch;
  *  - restart recovery: a second drain against the same snapshot dir
  *    and checkpoint compacts against the RECOVERED manifest, not an
  *    empty one;
  *  - crash replay: a batch replayed before or after its manifest was
  *    published converges without touching the files it reads, and a
  *    checkpoint that does not belong to the store is refused;
  *  - time travel: every published version reads back exactly.
  */
class StreamingUpsertSpec extends AnyFunSuite with SparkTestSession {

  private def rows(t: (Long, Long, Long, String)*) = {
    import spark.implicits._
    t.toDF("k", "v", "__seq", "__op")
  }

  /** Stage `batch` as one parquet file and drain it through mergeStream
    * (AvailableNow) — each call is a separate run: a fresh JVM's worth
    * of state against the same snapshot dir and checkpoint.
    */
  private def drain(
      root: Path,
      batch: Seq[(Long, Long, Long, String)],
      buckets: Int): String = {
    val staging = root.resolve("staging").toString
    rows(batch: _*).coalesce(1).write.mode("append").parquet(staging)
    val stream = spark.readStream.schema(rows().schema).parquet(staging)
    StreamingUpsert.mergeStream(spark, stream, root.resolve("snap").toString,
      "k", root.resolve("checkpoint").toString, buckets)
  }

  private def live(snapDir: String): Map[Long, Long] =
    StreamingUpsert.finalSnapshot(spark, snapDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** All (path, bytes) under a bucket data dir, sorted by path. */
  private def bucketBytes(p: String): Seq[(String, Seq[Byte])] = {
    import scala.jdk.CollectionConverters._
    Files.walk(java.nio.file.Path.of(p)).iterator().asScala.toSeq
      .filter(Files.isRegularFile(_))
      .sortBy(_.toString)
      .map(f => f.toString -> Files.readAllBytes(f).toSeq)
  }

  test("compact is order-independent: early tombstone beats late low-seq upsert") {
    val b1 = rows((1L, 0L, 10L, "delete"), (2L, 20L, 3L, "upsert"))
    val b2 = rows((1L, 99L, 5L, "upsert"), (2L, 21L, 4L, "upsert"))
    val empty = b1.limit(0)
    def liveOf(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("__op") === "upsert")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ab = StreamingUpsert.compact(StreamingUpsert.compact(empty, b1, "k"), b2, "k")
    val ba = StreamingUpsert.compact(StreamingUpsert.compact(empty, b2, "k"), b1, "k")
    // key 1: delete@10 wins over upsert@5 in BOTH orders; key 2: seq 4
    assert(liveOf(ab) == Map(2L -> 21L))
    assert(liveOf(ba) == Map(2L -> 21L))
    // the tombstone itself is retained (not dropped) so a further
    // merge of an even later batch still sees it
    assert(ab.filter(col("k") === 1 && col("__op") === "delete").count() == 1L)
  }

  test("equal-sequence duplicate resolves deterministically: delete outranks upsert") {
    val b = rows((7L, 1L, 5L, "upsert"), (7L, 2L, 5L, "delete"))
    val out = StreamingUpsert.compact(b.limit(0), b, "k").collect()
    assert(out.length == 1 && out.head.getString(3) == "delete")
  }

  test("a drain admits every __seq, Long.MinValue included") {
    val root = Files.createTempDirectory("graft-upsert-minseq")
    val snap = drain(root, Seq((1L, 10L, 5L, "upsert")), buckets = 2)
    drain(root, Seq((2L, 20L, Long.MinValue, "upsert")), buckets = 2)
    assert(live(snap) == Map(1L -> 10L, 2L -> 20L))
  }

  test("untouched buckets carry forward byte-identical; restart recovers the manifest") {
    val buckets = 8
    // pick three keys: kA alone in its bucket, kB/kB2 sharing a different one
    val byBucket = spark.range(64)
      .select(col("id"), pmod(hash(col("id")), lit(buckets)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    val (bA, bB) = {
      val bs = byBucket.filter(_._2.size >= 2).keys.toSeq.sorted
      (bs.head, bs(1))
    }
    val kA = byBucket(bA).head
    val (kB, kB2) = (byBucket(bB).head, byBucket(bB)(1))

    val root = Files.createTempDirectory("graft-upsert-cf")
    // run 1: kA and kB land in different buckets
    val snap = drain(root, Seq((kA, 10L, 1L, "upsert"), (kB, 20L, 2L, "upsert")),
      buckets)
    assert(live(snap) == Map(kA -> 10L, kB -> 20L))
    val m1 = StreamingUpsert.readLatestManifest(spark, snap).get
    val bytesA1 = bucketBytes(m1.buckets(bA))

    // run 2 (restart: same snapshot dir + checkpoint, new staged file):
    // touches ONLY kB's bucket
    drain(root, Seq((kB2, 30L, 3L, "upsert")), buckets)
    val m2 = StreamingUpsert.readLatestManifest(spark, snap).get
    // recovery: kA survives a merge it did not participate in — a lost
    // manifest would have compacted against nothing and dropped it
    assert(live(snap) == Map(kA -> 10L, kB -> 20L, kB2 -> 30L))
    // carry-forward by reference: the untouched bucket keeps its PATH...
    assert(m2.buckets(bA) == m1.buckets(bA))
    assert(m2.buckets(bB) != m1.buckets(bB))
    // ...and its exact bytes
    assert(bucketBytes(m2.buckets(bA)) == bytesA1)
  }

  test("worst case: a batch touching ALL buckets degenerates to a full rewrite — correctly") {
    // The documented upper bound on per-batch write volume: when a
    // microbatch's keys land in every bucket, every manifest entry
    // must move to the new delta (nothing carries forward) and the
    // merge must still be exact. This is the degenerate case the
    // bucket-count sizing rule exists to make rare (see mergeStream's
    // `buckets` scaladoc) — the sink's guarantee is correctness with
    // O(touched buckets) cost, and here touched == all.
    val buckets = 4
    val root = Files.createTempDirectory("graft-upsert-full")
    val all = (0L until 64L).map(k => (k, k * 10L, k + 1L, "upsert"))
    val snap = drain(root, all, buckets)
    val m1 = StreamingUpsert.readLatestManifest(spark, snap).get
    assert(m1.buckets.keySet == (0 until buckets).toSet,
      "64 keys over 4 buckets should populate every bucket")

    // second full-coverage batch: every key overwritten
    val all2 = (0L until 64L).map(k => (k, k * 100L, 100L + k, "upsert"))
    drain(root, all2, buckets)
    val m2 = StreamingUpsert.readLatestManifest(spark, snap).get
    // full rewrite: NO bucket carried forward by reference
    assert((0 until buckets).forall(b => m2.buckets(b) != m1.buckets(b)),
      "a bucket carried forward although the batch touched it")
    assert(m2.buckets.values.forall(_.contains(s"delta-v")),
      s"unexpected bucket paths: ${m2.buckets}")
    assert(live(snap) == all2.map(t => t._1 -> t._2).toMap)
  }

  test("crash between bucket write and manifest publish: readers see only committed state; restart replays idempotently") {
    // The one window the restart test above does not cover: the JVM
    // dies AFTER a batch's delta data hits disk but BEFORE its
    // manifest is published (and hence before the checkpoint commits
    // the batch). The exactly-once story requires (a) a reader during
    // that window sees the previous committed snapshot — the torn
    // delta is unreachable because no manifest references it — and
    // (b) the restarted stream replays the same batch id, overwriting
    // the torn delta by name before publishing its manifest.
    val root = Files.createTempDirectory("graft-upsert-crash")
    val snap = drain(root,
      Seq((1L, 10L, 1L, "upsert"), (2L, 20L, 2L, "upsert")), buckets = 2)
    val m1 = StreamingUpsert.readLatestManifest(spark, snap).get
    assert(m1.version == 0L)

    // Simulate the crash artifact: batch 1 wrote (part of) its delta —
    // including a TRUNCATED parquet file — and died before
    // writeManifest. Same on-disk state a kill -9 there leaves.
    val torn = java.nio.file.Path.of(snap, "delta-v1", "__bucket=0")
    Files.createDirectories(torn)
    val tornFile = torn.resolve("part-00000-dead.snappy.parquet")
    Files.write(tornFile, Array[Byte]('P', 'A', 'R', '1', 0, 0, 0))

    // Crash-window invariant: latest manifest is still v0, references
    // nothing under the torn delta, and the reader view is exactly the
    // committed snapshot.
    val mCrash = StreamingUpsert.readLatestManifest(spark, snap).get
    assert(mCrash.version == 0L)
    assert(mCrash.buckets.values.forall(!_.contains("delta-v1")),
      s"manifest references a half-written delta: ${mCrash.buckets}")
    assert(live(snap) == Map(1L -> 10L, 2L -> 20L))

    // Restart against the same checkpoint: the staged file replays as
    // batch id 1 — the SAME delta name — so overwrite replaces the
    // torn directory wholesale before manifest v1 is published.
    drain(root, Seq((2L, 21L, 3L, "upsert"), (3L, 30L, 4L, "upsert")),
      buckets = 2)
    val m2 = StreamingUpsert.readLatestManifest(spark, snap).get
    assert(m2.version == 1L)
    // every manifest-referenced bucket directory must be fully
    // parquet-readable (a torn file surviving into a referenced path
    // would throw here)
    m2.buckets.values.foreach(p => spark.read.parquet(p).count())
    assert(!Files.exists(tornFile),
      "truncated pre-crash part file survived the replay overwrite")
    assert(live(snap) == Map(1L -> 10L, 2L -> 21L, 3L -> 30L))
  }

  test("crash AFTER manifest publish: replay must not overwrite the files it reads from") {
    // The other half of the crash window: the JVM dies after
    // writeManifest(v1) but BEFORE the checkpoint commits batch 1.
    // On restart the engine replays batch 1 while the recovered
    // manifest's bucket paths point INSIDE delta-v1 — so the replay
    // must write a fresh retry directory instead of overwriting the
    // very files its prev-snapshot scan reads (overwrite clears the
    // target before tasks run → FileNotFound → the store would wedge
    // on every restart). Simulated with a REAL engine replay: delete
    // the checkpoint's commit marker for batch 1 and re-drain.
    val root = Files.createTempDirectory("graft-upsert-replay")
    val snap = drain(root,
      Seq((1L, 10L, 1L, "upsert"), (2L, 20L, 2L, "upsert")), buckets = 2)
    drain(root, Seq((2L, 21L, 3L, "upsert"), (3L, 30L, 4L, "upsert")),
      buckets = 2)
    val m1 = StreamingUpsert.readLatestManifest(spark, snap).get
    assert(m1.version == 1L)
    // crash simulation: batch 1's manifest is durable, its checkpoint
    // commit is not (the local FS keeps a .crc sidecar — drop it too,
    // or recreating the commit file trips the checksum layer's
    // FileAlreadyExists guard)
    val commits = root.resolve("checkpoint").resolve("commits")
    Files.delete(commits.resolve("1"))
    Files.deleteIfExists(commits.resolve(".1.crc"))

    // restart with no new staged data: AvailableNow replays batch 1
    val stream = spark.readStream
      .schema("k BIGINT, v BIGINT, __seq BIGINT, __op STRING")
      .parquet(root.resolve("staging").toString)
    StreamingUpsert.mergeStream(spark, stream, snap,
      "k", root.resolve("checkpoint").toString, buckets = 2)

    val m2 = StreamingUpsert.readLatestManifest(spark, snap).get
    assert(m2.version == 1L)
    // every referenced bucket is fully readable and the merged state
    // is EXACTLY the first attempt's — replay is idempotent
    m2.buckets.values.foreach(p => spark.read.parquet(p).count())
    assert(live(snap) == Map(1L -> 10L, 2L -> 21L, 3L -> 30L))
    // the replay attempt wrote a RETRY delta, leaving the published
    // v1 files untouched for its own prev read
    assert(m2.buckets.values.exists(_.contains("delta-v1-r")),
      s"replay overwrote the referenced delta in place: ${m2.buckets}")
  }

  test("snapshotAt reads the exact historical state; vacuum reclaims it") {
    // versioned manifests + by-reference carry-forward = free time
    // travel: manifest v0 still points at exactly the files that were
    // live after batch 0
    val root = Files.createTempDirectory("graft-upsert-tt")
    val snap = drain(root,
      Seq((1L, 10L, 1L, "upsert"), (2L, 20L, 2L, "upsert")), buckets = 2)
    drain(root, Seq((2L, 21L, 3L, "upsert"), (3L, 30L, 4L, "upsert"),
      (1L, 0L, 5L, "delete")), buckets = 2)
    def liveAt(v: Long) =
      StreamingUpsert.snapshotAt(spark, snap, v)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(liveAt(0L) == Map(1L -> 10L, 2L -> 20L))
    assert(live(snap) == Map(2L -> 21L, 3L -> 30L))
    intercept[IllegalStateException] { liveAt(99L) }
  }

  test("retry suffix survives vacuum: a second replay never reuses a surviving retry name") {
    // A second crash-after-manifest replay of the same batch must not
    // regenerate the name of the still-referenced survivor
    // (delta-v1-r1), which would overwrite the files its own prev scan
    // reads. The suffix comes from max(existing -rN) + 1.
    val root = Files.createTempDirectory("graft-upsert-rr")
    val snap = drain(root,
      Seq((1L, 10L, 1L, "upsert"), (2L, 20L, 2L, "upsert")), buckets = 1)
    drain(root, Seq((2L, 21L, 3L, "upsert")), buckets = 1)
    val commits = root.resolve("checkpoint").resolve("commits")
    def replayBatch1(): Unit = {
      Files.delete(commits.resolve("1"))
      Files.deleteIfExists(commits.resolve(".1.crc"))
      val stream = spark.readStream
        .schema("k BIGINT, v BIGINT, __seq BIGINT, __op STRING")
        .parquet(root.resolve("staging").toString)
      StreamingUpsert.mergeStream(spark, stream, snap,
        "k", root.resolve("checkpoint").toString, buckets = 1)
    }
    // first crash-after-manifest replay → writes delta-v1-r1
    replayBatch1()
    val mR1 = StreamingUpsert.readLatestManifest(spark, snap).get
    assert(mR1.buckets.values.exists(_.contains("delta-v1-r1")), s"${mR1.buckets}")
    // the superseded base attempt (delta-v1) removed by hand: only the
    // referenced retry remains — the trap a count of attempts falls in
    TempDirs.deleteRecursively(Path.of(snap, "delta-v1"))
    // second replay of the same batch: must pick a FRESH name (r2),
    // read prev from r1 untouched, and stay correct
    replayBatch1()
    val mR2 = StreamingUpsert.readLatestManifest(spark, snap).get
    assert(mR2.buckets.values.exists(_.contains("delta-v1-r2")),
      s"second replay reused a surviving retry dir: ${mR2.buckets}")
    mR2.buckets.values.foreach(p => spark.read.parquet(p).count())
    assert(live(snap) == Map(1L -> 10L, 2L -> 21L))
  }

  test("batch ids restarting BELOW existing history are REFUSED; every committed version stays byte-untouched") {
    // A fresh checkpoint pointed at an existing store makes the engine
    // deliver batch ids 0,1,… again while manifests v0..vN and their
    // delta dirs already exist. Round 13 only half-fixed this
    // (knownPublishedThrough protected delta DIRS, but writeManifest
    // still rewrote v0.json in place — shadowing history time travel
    // promises stays byte-untouched — and readLatestManifest kept resolving the
    // OLD vN, hiding the new run's writes from the latest view). The
    // round-14 contract: an id strictly below the published ceiling is
    // an operator error and mergeBatch refuses LOUDLY, leaving the
    // store exactly as it was; id == ceiling remains the legitimate
    // crash replay of the one uncommitted batch.
    val root = Files.createTempDirectory("graft-upsert-restart")
    import org.apache.spark.sql.functions.{hash => fhash, lit, pmod}
    def bucketOf(k: Long): Int =
      spark.range(1).select(pmod(fhash(lit(k)), lit(2))).head().getInt(0)
    val kA = (1L to 50L).find(bucketOf(_) == 0).get
    val kB = (1L to 50L).find(bucketOf(_) == 1).get

    val snap = drain(root, Seq((kA, 10L, 1L, "upsert")), buckets = 2) // v0: bucket A
    drain(root, Seq((kB, 20L, 2L, "upsert")), buckets = 2)            // v1: bucket B
    drain(root, Seq((kA, 30L, 3L, "upsert")), buckets = 2)            // v2: bucket A
    def liveAt(v: Long) =
      StreamingUpsert.snapshotAt(spark, snap, v)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = (0L to 2L).map(v => v -> liveAt(v)).toMap
    assert(before(2L) == Map(kA -> 30L, kB -> 20L))
    val m0Bytes = Files.readAllBytes(
      java.nio.file.Path.of(snap, "_graft_manifest", "v0.json")).toSeq

    // new engine, ids restart at 0; recovery = latest manifest, and the
    // recovery-time ceiling rides every mergeBatch of the run
    val st = StreamingUpsert.readLatestManifest(spark, snap).get
    val ceiling = st.version
    val e = intercept[IllegalStateException] {
      StreamingUpsert.mergeBatch(spark, st,
        rows((kB, 40L, 4L, "upsert")), 0L, snap, "k",
        buckets = 2, knownPublishedThrough = ceiling)
    }
    assert(e.getMessage.contains("checkpoint"), e.getMessage)

    // refusal left the store EXACTLY as it was: latest still resolves
    // v2, every historical version reads identically, and manifest v0
    // is byte-identical (not rewritten in place)
    assert(StreamingUpsert.readLatestManifest(spark, snap).get.version == 2L)
    (0L to 2L).foreach(v => assert(liveAt(v) == before(v), s"v$v changed"))
    assert(Files.readAllBytes(
      java.nio.file.Path.of(snap, "_graft_manifest", "v0.json")).toSeq == m0Bytes,
      "refused batch rewrote a committed manifest in place")
    assert(StreamingUpsert.finalSnapshot(spark, snap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == before(2L))

    // ...and the SAME refusal holds end-to-end through mergeStream with
    // a genuinely fresh checkpoint dir (engine delivers batch 0)
    val staging2 = root.resolve("staging2").toString
    rows((kB, 99L, 9L, "upsert")).coalesce(1).write.mode("append").parquet(staging2)
    val stream = spark.readStream.schema(rows().schema).parquet(staging2)
    val se = intercept[Exception] {
      StreamingUpsert.mergeStream(spark, stream, snap, "k",
        root.resolve("checkpoint-fresh").toString, buckets = 2)
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(se).exists(c => c.isInstanceOf[IllegalStateException]
      && c.getMessage.contains("checkpoint")), se.toString)
    // the failed drain left nothing at the store root but deltas and
    // manifests, and changed nothing
    import scala.jdk.CollectionConverters._
    val rootNames = Files.list(java.nio.file.Path.of(snap)).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSet
    assert(rootNames.forall(n => n.startsWith("delta-v") || n == "_graft_manifest"),
      s"unexpected files at the store root: $rootNames")
    (0L to 2L).foreach(v => assert(liveAt(v) == before(v), s"v$v changed"))

    // the legitimate crash replay (id == ceiling) still proceeds and
    // stays idempotent: replaying v2's content publishes v2 again
    val st2 = StreamingUpsert.mergeBatch(spark, st,
      rows((kA, 30L, 3L, "upsert")), 2L, snap, "k",
      buckets = 2, knownPublishedThrough = ceiling)
    assert(st2.version == 2L)
    assert(liveAt(2L) == before(2L))
  }
}
