package graft

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Scoped lifetime for query-internal `persist`s.
  *
  * Operators that persist a shared subplan (LSH signatures, posting
  * lists) register it here; a runner wrapping each query in [[scoped]]
  * releases every registered cache when the query's actions finish.
  * Without this, a long-lived session running many queries accumulates
  * MEMORY_AND_DISK entries that are never evicted by reference
  * (round-3 advice).
  *
  * Outside any scope, [[persist]] degrades to a plain caller-managed
  * `persist` — library users who hold the result long-term keep the
  * cache and release it themselves.
  */
object CacheScope {

  private val active = new ThreadLocal[ListBuffer[DataFrame]]

  // Every open scope's frames, on all threads (guarded by itself). The
  // CacheManager keeps ONE entry per plan, so when two threads' scopes
  // persist the same plan, the first to end must leave the entry to
  // the other.
  private val open = ListBuffer.empty[ListBuffer[DataFrame]]

  /** Persist `df` (MEMORY_AND_DISK) and, inside a [[scoped]] block,
    * register it for release when the block ends.
    */
  def persist(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    val buf = active.get()
    if (buf != null) open.synchronized(buf += df)
    df
  }

  /** Run `body`; unpersist every frame registered via [[persist]] on
    * this thread inside it (blocking=false — executors free the blocks
    * asynchronously), except a plan that another open scope also
    * registered: the last scope holding it releases it. Nestable:
    * inner scopes release only their own.
    */
  def scoped[T](body: => T): T = {
    val prev = active.get()
    val buf = ListBuffer.empty[DataFrame]
    active.set(buf)
    open.synchronized(open += buf)
    try body
    finally {
      val release = open.synchronized {
        open -= buf
        buf.filterNot(df => open.exists(_.exists(o =>
          o.queryExecution.analyzed.sameResult(df.queryExecution.analyzed))))
      }
      release.foreach(df => try df.unpersist() catch { case _: Throwable => () })
      active.set(prev)
    }
  }
}
