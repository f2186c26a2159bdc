package graft.queries

import java.nio.file.{Files, Path}

import graft.TempDirs

/** Per-invocation temp directories for gate queries that materialize
  * files (bucketed tables, format roundtrips): unique per call — two
  * concurrent runs never share a path, and nothing stale survives into
  * a later comparison — and reaped at JVM exit by [[TempDirs]] (results
  * are read lazily, so the data must outlive the returned frame).
  */
private[queries] object GateTmp {

  /** Memory-backed scratch when the host offers it: gate artifacts
    * (stream staging/checkpoints, bucketed tables, roundtrip files)
    * are transient by construction, so tmpfs spares the disk the
    * checkpoint-commit fsync traffic. Production streaming checkpoints
    * belong on RELIABLE storage — this shortcut is for the per-run
    * throwaway dirs only.
    */
  private val base: Option[Path] = {
    val shm = Path.of("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm) else None
  }

  /** A fresh temp dir, deleted at JVM exit. */
  def dir(prefix: String): Path = TempDirs.create(prefix, base)
}
