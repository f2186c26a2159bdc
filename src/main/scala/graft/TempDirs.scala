package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** Per-call scratch directories: unique per call — two concurrent runs
  * never share a path — and reaped at JVM exit by ONE shutdown hook,
  * because what is written there (envelope staging splits, gate tables,
  * stream sinks) is read lazily by frames that outlive the call.
  */
object TempDirs {

  private val reaper = new ConcurrentLinkedQueue[Path]

  sys.addShutdownHook(reaper.forEach { p =>
    try deleteRecursively(p) catch { case _: Throwable => () }
  })

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(f => Files.deleteIfExists(f))
    }

  /** A fresh directory under `base` (`java.io.tmpdir` when None),
    * deleted at JVM exit.
    */
  def create(prefix: String, base: Option[Path] = None): Path = {
    val p = base match {
      case Some(b) => Files.createTempDirectory(b, prefix)
      case None => Files.createTempDirectory(prefix)
    }
    reaper.add(p)
    p
  }
}
