package graft.streaming

import java.nio.charset.StandardCharsets

import scala.collection.immutable.SortedMap

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The `foreachBatch` upsert sink — the standard production pattern for
  * landing a CDC stream in a keyed snapshot when the sink has no native
  * MERGE: each microbatch is compacted against the previous snapshot
  * with last-writer-wins semantics.
  *
  * The snapshot is HASH-BUCKETED by key (`pmod(hash(key), buckets)`)
  * and tracked through a versioned MANIFEST (bucket → data directory):
  * a microbatch rewrites ONLY the buckets its keys land in, writing
  * them to a fresh per-batch delta directory (ping-pong — never read
  * and overwrite the same files in one job); every untouched bucket
  * carries forward BY REFERENCE — its manifest entry keeps pointing at
  * the files a previous batch wrote, byte-untouched. Per-batch write
  * volume is therefore O(touched buckets), not O(snapshot): at a
  * 100 TB snapshot a 1 GB microbatch rewrites ~1 GB · (buckets touched
  * / keys-per-bucket locality), never the whole 100 TB.
  *
  * Deletes are retained as TOMBSTONES in the snapshot rather than
  * dropped, which makes the per-batch merge ASSOCIATIVE and
  * commutative across batches: a delete at sequence 10 arriving in an
  * earlier microbatch than an upsert at sequence 5 still wins, so the
  * final snapshot is independent of how the source splits files into
  * batches. Readers filter tombstones at the end ([[finalSnapshot]]).
  * Every row is admitted, whatever its `__seq`, and tombstones are
  * kept for the life of the store.
  *
  * Nothing is reclaimed: superseded deltas and old manifests stay on
  * disk, which is what keeps every published version readable through
  * [[snapshotAt]]. A store is dropped whole, with its checkpoint.
  *
  * RESTART SAFETY: the manifest is durable next to the data
  * (`_graft_manifest/v<batchId>.json`, written after the batch's data
  * commit). [[mergeStream]] recovers the latest manifest at start, so
  * a JVM restart against an existing streaming checkpoint resumes from
  * the previously merged snapshot instead of silently compacting
  * against nothing (the committed source offsets mean earlier files
  * are never re-read). Delta dirs and manifests are named by batch id,
  * so a batch replayed after a crash between data write and checkpoint
  * commit overwrites its own output — idempotent. The checkpoint and
  * the store are PAIRED: pointing a fresh (or foreign) checkpoint at
  * an existing store restarts batch ids below the published ceiling
  * and is REFUSED loudly at the first such batch, because letting it
  * through would rewrite committed manifests in place (shadowing the
  * history that time travel promises stays byte-untouched) while the
  * latest view still resolved the old maximum version.
  *
  * Scale shape: each merge is ONE hash shuffle on the key with
  * WindowGroupLimit keeping one row of state per key, over the touched
  * buckets only. State lives in the snapshot files, not in stream
  * state — no watermark needed.
  */
object StreamingUpsert {

  /** Snapshot state: per-bucket data directory and the batch id that
    * wrote it.
    */
  final case class Manifest(buckets: SortedMap[Int, String], version: Long)

  /** Last-writer-wins compaction of `prev` (snapshot rows) with
    * `batch` (new change rows). Both carry `keyCol`, payload columns,
    * `__seq` (long, unique per key per producer) and `__op`
    * (upsert/delete). Delete outranks upsert at equal sequence so a
    * duplicated sequence still resolves deterministically.
    */
  def compact(prev: DataFrame, batch: DataFrame, keyCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("__seq").desc, col("__op").asc)
    prev.unionByName(batch)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Drain `stream` (shaped: keyCol, payload…, __seq, __op) through a
    * foreachBatch merge into a bucketed, manifest-tracked snapshot
    * under `dir`. Returns `dir`; read it back with [[finalSnapshot]].
    *
    * @param buckets          key-hash bucket count — the rewrite
    *                         granularity. SIZING RULE: per-batch
    *                         rewrite volume is
    *                         `touched/buckets × snapshot`, and with a
    *                         microbatch of `k` random keys
    *                         `E[touched] = buckets·(1-(1-1/buckets)^k)`
    *                         ≈ min(k, buckets) — so choose
    *                         `buckets ≈ snapshot_bytes / target_task_bytes`
    *                         (e.g. 100 TB / 256 MB ≈ 400k buckets),
    *                         upper-bounded so a typical batch's key
    *                         count `k` stays well BELOW `buckets`
    *                         (else every batch touches every bucket
    *                         and the merge degenerates to a full
    *                         snapshot rewrite — pinned as the
    *                         worst-case spec). Keys clustered by the
    *                         producer (hot shards) hash-spread, so
    *                         the estimate holds under skew; keep
    *                         buckets ≫ executors regardless so the
    *                         rewrite parallelizes.
    */
  def mergeStream(
      spark: SparkSession,
      stream: DataFrame,
      dir: String,
      keyCol: String,
      checkpoint: String,
      buckets: Int = 16): String = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    @volatile var state: Manifest = readLatestManifest(spark, dir)
      .getOrElse(Manifest(SortedMap.empty, -1L))
    // Versions already published at stream START. The in-run state's
    // version alone cannot answer "was v<id> ever published?" when the
    // engine's batch ids restart BELOW existing history (a fresh
    // checkpoint pointed at an existing store): after replaying batch
    // 0 the carried version is 0 while v1..vN still exist on disk and
    // may reference the delta dirs those ids would overwrite. Carrying
    // the recovery-time maximum keeps the replay answer an in-memory
    // max() instead of a per-batch filesystem probe.
    val publishedAtStart = state.version
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        state = mergeBatch(
          spark, state, batch, id, dir, keyCol, buckets,
          knownPublishedThrough = publishedAtStart)
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
      .awaitTermination()
    if (state.version < 0)
      throw new IllegalStateException("stream produced no microbatch")
    dir
  }

  /** One microbatch's merge against the snapshot — the exact
    * `foreachBatch` body, extracted so the crash-recovery property
    * can drive it directly under a simulated engine (checkpoint-
    * commit markers + manifest recovery) and kill it at a RANDOM
    * point in the write-delta → publish-manifest → commit sequence.
    * `crashHook` fires at the three durability boundaries —
    * `"start"` (nothing of this batch durable), `"after-delta"`
    * (delta data durable, manifest not), `"after-manifest"`
    * (manifest durable, checkpoint commit not — the caller records
    * the commit only after this returns) — and a throw from the hook
    * IS the kill: everything written before it stays on disk,
    * exactly what a `kill -9` there leaves. Production passes the
    * no-op hook and pays nothing.
    */
  private[streaming] def mergeBatch(
      spark: SparkSession,
      st: Manifest,
      batch: DataFrame,
      id: Long,
      dir: String,
      keyCol: String,
      buckets: Int,
      crashHook: String => Unit = _ => (),
      knownPublishedThrough: Long = Long.MinValue): Manifest = {
    // Fresh/foreign-checkpoint refusal (round-13 advice): an id strictly
    // BELOW the store's published ceiling can never come from this
    // store's own checkpoint — a legitimate crash replay re-delivers
    // exactly the ONE uncommitted batch, id == ceiling (the manifest is
    // written before the checkpoint commit, so the checkpoint is at most
    // one batch behind), and all new work arrives above it. An id below
    // the ceiling means a fresh checkpoint was pointed at an existing
    // store: batch ids restart at 0, and letting them through would
    // overwrite manifest v0..vN in place — replacing committed history
    // that time travel promises stays byte-untouched, while
    // readLatestManifest still resolves the OLD vN, so the new run's
    // writes would also vanish from the latest view. Refuse loudly; the
    // operator resumes with the store's own checkpoint or a fresh dir.
    // (Residual ambiguity: a fresh checkpoint whose FIRST id equals the
    // ceiling is indistinguishable from a crash replay and is merged as
    // one — LWW makes the latest content right; only that single ceiling
    // version's manifest is rewritten.)
    if (id < math.max(st.version, knownPublishedThrough))
      throw new IllegalStateException(
        s"mergeBatch(id=$id) refused: $dir already has published history " +
          s"through v${math.max(st.version, knownPublishedThrough)}; a batch " +
          "id below that ceiling means the streaming checkpoint does not " +
          "belong to this store (a fresh checkpoint restarts ids at 0 and " +
          "would shadow committed snapshots). Resume with the store's own " +
          "checkpoint, or target a fresh snapshot dir.")
    crashHook("start")
    // Persisted: the batch is read twice, by the touched-bucket
    // aggregate and by the merge.
    val changes = batch.persist()
    try {
      val bucketOf = pmod(hash(col(keyCol)), lit(buckets))
      // collect_set is bounded by `buckets` and map-side combined
      val touched = changes.agg(collect_set(bucketOf)).head().getSeq[Int](0).toSet

      val newBuckets: SortedMap[Int, String] =
        if (touched.isEmpty) st.buckets
        else {
          val prevPaths = touched.toSeq.sorted.flatMap(st.buckets.get)
          val prev =
            if (prevPaths.isEmpty) changes.limit(0)
            else spark.read.parquet(prevPaths: _*)
          // Delta naming must never overwrite files the PREV read
          // references. Normal runs and crash-before-manifest
          // replays write (over) `delta-v<id>` — nothing points at
          // it. But a crash AFTER manifest v<id> published and
          // BEFORE the checkpoint committed replays batch <id>
          // with prevPaths INSIDE delta-v<id>; overwriting it
          // would delete the files the lazy prev scan is about to
          // read (overwrite clears the target before tasks run)
          // and wedge the store on every restart. In that case
          // write a fresh retry directory instead; the manifest
          // overwrite re-points the buckets, and the superseded
          // attempt stays on disk, unreferenced.
          val deltaBase = s"$dir/delta-v$id"
          // "Was manifest v<id> already published?" is answerable from
          // the carried state — no filesystem probe per microbatch:
          // within one run st.version tracks our own monotonic writes,
          // and `knownPublishedThrough` carries the store's version
          // ceiling at stream start (which st.version alone loses when
          // a fresh checkpoint restarts batch ids below existing
          // history — replaying batch 0 drops the carried version to 0
          // while v1..vN still reference the dirs those ids would
          // overwrite). max(st.version, knownPublishedThrough) < id
          // ⟺ batch <id> never published ⟺ nothing references
          // delta-v<id>.
          val delta =
            if (math.max(st.version, knownPublishedThrough) < id) deltaBase
            else {
              // Retry suffix = 1 + MAX existing -rN, never a COUNT of
              // attempts: the store deletes no attempt, but the max
              // names a directory that does not exist even when an
              // attempt is removed by hand (a superseded delta-v7
              // deleted leaves only delta-v7-r1 → count=1 → write
              // delta-v7-r1 — the exact overwrite of a still-
              // referenced survivor this branch exists to avoid).
              // The exact-prefix glob
              // `delta-v<id>-r*` also keeps delta-v1 from matching
              // delta-v10's attempts.
              val fs = fileSystem(spark, new HPath(dir))
              val RetryName = raw"delta-v$id-r(\d+)".r
              val maxRetry = Option(
                fs.globStatus(new HPath(s"$deltaBase-r*")))
                .getOrElse(Array.empty)
                .flatMap(_.getPath.getName match {
                  case RetryName(n) => Some(n.toLong)
                  case _ => None
                })
                .foldLeft(0L)(math.max)
              s"$deltaBase-r${maxRetry + 1}"
            }
          compact(prev, changes, keyCol)
            .withColumn("__bucket", bucketOf)
            .repartition(math.min(buckets, touched.size), col("__bucket"))
            .write.mode("overwrite").partitionBy("__bucket").parquet(delta)
          st.buckets ++ touched.toSeq.sorted.map(b =>
            b -> s"$delta/__bucket=$b")
        }
      crashHook("after-delta")
      val next = Manifest(newBuckets, id)
      writeManifest(spark, dir, next)
      crashHook("after-manifest")
      next
    } finally changes.unpersist()
  }

  /** The reader view of a snapshot: live rows only (tombstones out),
    * assembled from the latest manifest's per-bucket directories.
    */
  def finalSnapshot(spark: SparkSession, dir: String): DataFrame =
    snapshotOf(spark, dir, readLatestManifest(spark, dir).getOrElse(
      throw new IllegalStateException(s"no snapshot manifest under $dir")))

  /** TIME TRAVEL: the live-row view as of manifest `version` (the
    * batch id that committed it). Versioned manifests + by-reference
    * bucket carry-forward make this free — an old manifest still
    * points at exactly the files that were live when it was
    * published, byte-untouched, so reading "the snapshot after batch
    * N" costs the same as reading the latest. Every published
    * version stays readable: the store deletes no manifest and no
    * delta. An unknown version fails loudly.
    */
  def snapshotAt(spark: SparkSession, dir: String, version: Long): DataFrame =
    snapshotOf(spark, dir, readManifestVersion(spark, dir, version).getOrElse(
      throw new IllegalStateException(
        s"no manifest v$version under $dir (never committed)")))

  private def snapshotOf(
      spark: SparkSession, dir: String, m: Manifest): DataFrame = {
    if (m.buckets.isEmpty)
      throw new IllegalStateException(s"snapshot under $dir holds no buckets")
    spark.read.parquet(m.buckets.values.toSeq: _*)
      .filter(col("__op") === "upsert")
  }

  // ---- manifest persistence (tiny hand-rolled JSON — no new deps) ----

  private val ManifestDir = "_graft_manifest"
  private val ManifestName = raw"v(\d+)\.json".r

  private def fileSystem(spark: SparkSession, p: HPath): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }
  private def unesc(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  private def writeManifest(spark: SparkSession, dir: String, m: Manifest): Unit = {
    val mdir = new HPath(s"$dir/$ManifestDir")
    val fs = fileSystem(spark, mdir)
    fs.mkdirs(mdir)
    val body = m.buckets
      .map { case (b, p) => s""""$b":"${esc(p)}"""" }
      .mkString(s"""{"version":${m.version},"buckets":{""", ",", "}}")
    // write-then-rename so a reader never sees a torn manifest
    val tmp = new HPath(mdir, s"v${m.version}.json.tmp")
    val fin = new HPath(mdir, s"v${m.version}.json")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (fs.exists(fin)) fs.delete(fin, false)
    if (!fs.rename(tmp, fin))
      throw new IllegalStateException(s"manifest rename failed: $fin")
  }

  private[streaming] def readLatestManifest(
      spark: SparkSession, dir: String): Option[Manifest] = {
    val mdir = new HPath(s"$dir/$ManifestDir")
    val fs = fileSystem(spark, mdir)
    if (!fs.exists(mdir)) return None
    val versions = fs.listStatus(mdir).toSeq.flatMap(s =>
      s.getPath.getName match {
        case ManifestName(v) => Some(v.toLong -> s.getPath)
        case _ => None
      })
    if (versions.isEmpty) return None
    val (version, path) = versions.maxBy(_._1)
    parseManifest(fs, path, version)
  }

  private[streaming] def readManifestVersion(
      spark: SparkSession, dir: String, version: Long): Option[Manifest] = {
    val mdir = new HPath(s"$dir/$ManifestDir")
    val fs = fileSystem(spark, mdir)
    val path = new HPath(mdir, s"v$version.json")
    if (!fs.exists(path)) None else parseManifest(fs, path, version)
  }

  private def parseManifest(
      fs: FileSystem, path: HPath, version: Long): Option[Manifest] = {
    val in = fs.open(path)
    val body =
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    val at = body.indexOf(""""buckets":{""")
    if (at < 0) throw new IllegalStateException(s"bad manifest: $path")
    val bucketsBody = body.substring(at + 11)
    val buckets = SortedMap.from(
      """"(\d+)":"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(bucketsBody)
        .map(m => m.group(1).toInt -> unesc(m.group(2))))
    Some(Manifest(buckets, version))
  }
}
