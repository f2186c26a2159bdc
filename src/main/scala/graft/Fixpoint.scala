package graft

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame}

import graft.queries.SqlConfScope

/** The one round driver for graft's iterative operators (connected
  * components, star contraction, reachability, min-plus relaxation,
  * k-core peeling, BFS, PageRank, HITS). It owns four decisions that
  * every loop makes the same way:
  *
  *  1. The per-round cut. A round's next state is marked with a lazy
  *     `localCheckpoint(false)`: the Dataset's lineage ends at the mark,
  *     so a state that the next round references twice (a union and a
  *     join, values and their max) is read from its blocks, never
  *     re-derived. Without the cut an unrolled plan doubles per round.
  *  2. One counting job per round, and only where the loop reads the
  *     count. [[cut]] counts the mark in the job that materializes it;
  *     that count is the convergence probe and the state's row bound.
  *     [[mark]] cuts without a job, for loops that never read a count
  *     (PageRank, HITS); their marks materialize inside the jobs that
  *     consume them.
  *  3. The broadcast hint. A state joined against the loop's big side
  *     is hinted through [[BroadcastGate.ifUnder]] on its driver-known
  *     bound ([[Bounded.hinted]]), so past the ceiling the join falls back
  *     to a shuffle instead of an OOM.
  *  4. The small-round bracket. [[converge]] and [[rounds]] take the
  *     loop's input with its row count ([[counted]]: a job at session
  *     settings, which also materializes the input); that count bounds
  *     every state the loop builds. While it is at or under `SmallRows`
  *     the rounds run with shuffle width `SmallWidth` and AQE off:
  *     exchanges that move a few thousand rows pay per-partition
  *     scheduling and, under AQE, one extra job per stage. Above it the
  *     rounds run at session settings, so a large loop keeps AQE by
  *     construction. Width and AQE are read when a plan is physically
  *     planned — for a lazy mark, at the `localCheckpoint` call — so
  *     the bracket covers every mark and count of the rounds, and the
  *     mark of a result built in [[finish]]; it covers nothing the
  *     caller runs afterwards.
  *
  * Both constants come from a sweep on 4 cores, recorded in CHANGES.md: on
  * synthetic graphs of 3,000 and 10,000 rows, label propagation, star
  * contraction and reachability each ran faster at width 2 with AQE
  * off than at session settings; from 30,000 rows star contraction ran
  * slower in the bracket, and width 8 lost to session settings for
  * star contraction at every size.
  *
  * The bracket sets session confs through [[SqlConfScope]] and inherits
  * its condition: the session must not plan other queries while a
  * bracketed loop runs. The gate, bench and verify runners are
  * single-threaded; a concurrent caller gives each thread its own
  * `spark.newSession()`.
  */
object Fixpoint {

  /** Rows at or under which a loop's rounds run in the small-round bracket. */
  private val SmallRows = 10000L
  private val SmallWidth = 2

  /** A relation and a driver-known upper bound on its rows. */
  final case class Bounded(df: DataFrame, rows: Long) {
    /** `df` with a broadcast hint while `rows` is within the ceiling. */
    def hinted: DataFrame = BroadcastGate.ifUnder(df, rows)
  }

  /** Lazily cut `df`'s lineage; the blocks materialize in the first job that reads them. */
  def mark(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** `df` with its exact row count: how a loop takes its input's bound. */
  def counted(df: DataFrame): Bounded = Bounded(df, rows(df))

  /** Cut `df` and count it in the one job that materializes the mark. */
  def cut(df: DataFrame): Bounded = counted(mark(df))

  // One job counts the plan's RDD; a `count()` adds an aggregate
  // exchange that AQE runs as a job of its own.
  private def rows(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** [[cut]] for a loop whose convergence probe is not the row count:
    * the one job counts only the rows of the mark where `probe` holds.
    */
  def cutCounting(df: DataFrame, probe: Column): (DataFrame, Long) = {
    val m = mark(df)
    (m, rows(m.filter(probe)))
  }

  /** Run `round` from `init` until it returns `None` (a round that
    * changes nothing). `cap` is the most rounds that can change the
    * state, derived from a row count the caller holds; a loop that
    * changes it once more fails naming `op`, never returning a
    * truncated state.
    */
  def converge[S](op: String, input: Bounded, cap: Long)(init: S)(round: S => Option[S]): S =
    loop(input, cap + 1, init, round) match {
      case (s, true) => s
      case _ => throw new IllegalStateException(s"$op did not converge within $cap rounds")
    }

  /** Run at most `n` rounds of `round` from `init`, stopping early when
    * it returns `None`.
    */
  def rounds[S](n: Int, input: Bounded)(init: S)(round: S => Option[S]): S =
    loop(input, n, init, round)._1

  /** Mark a loop's result, built from its final state, under the loop's
    * bracket: a result with an exchange or a broadcast of its own is
    * planned like the rounds, and the caller's plan on it re-plans none
    * of it.
    */
  def finish(input: Bounded)(result: => DataFrame): DataFrame =
    bracketed(input)(mark(result))

  /** The state after at most `limit` rounds, and whether a round returned `None`. */
  private def loop[S](input: Bounded, limit: Long, init: S, round: S => Option[S]): (S, Boolean) =
    bracketed(input) {
      @tailrec def go(s: S, r: Long): (S, Boolean) =
        if (r >= limit) (s, false)
        else round(s) match {
          case Some(next) => go(next, r + 1)
          case None => (s, true)
        }
      go(init, 0L)
    }

  private def bracketed[A](input: Bounded)(body: => A): A =
    if (input.rows > SmallRows) body
    else {
      val spark = input.df.sparkSession
      SqlConfScope.withShufflePartitions(spark, SmallWidth) {
        SqlConfScope.withConf(spark, "spark.sql.adaptive.enabled", "false")(body)
      }
    }
}
