package graft.analytics

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.SparkTestSession

/** Property check for the gate-attested allocation operator against a
  * driver-side sequential reference on random inputs:
  * [[Proration.largestRemainder]] gives per-group Σalloc == amount
  * EXACTLY, every row at least its floor share and at most floor+1,
  * and the whole allocation equals the sequential largest-remainder
  * computation (remainder desc, tie asc).
  */
object AllocationPropertySpec extends Properties("AllocationProperties") {

  // 4 workers (r20): each case builds its own DataFrames and collects —
  // no shared state; concurrent driver threads back-fill the idle
  // scheduler gaps (guide §2.6). Same case counts.
  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withWorkers(4)

  private lazy val spark = SparkTestSession.session
  import spark.implicits._

  // ---- Proration -----------------------------------------------------

  private val prorationGen: Gen[List[(Long, Long, Long, Long)]] = for {
    nGroups <- Gen.choose(1, 4)
    rows <- Gen.sequence[List[List[(Long, Long, Long, Long)]], List[(Long, Long, Long, Long)]](
      (0 until nGroups).map { g =>
        for {
          amt <- Gen.choose(0L, 10000L)
          n <- Gen.choose(1, 8)
          ws <- Gen.listOfN(n, Gen.choose(0L, 50L))
        } yield {
          // at least one positive weight: W == 0 divides by zero,
          // which the operator's contract excludes
          val fixed = if (ws.forall(_ == 0L)) 1L :: ws.tail else ws
          fixed.zipWithIndex.map { case (w, i) =>
            (g.toLong, amt, w, i.toLong)
          }
        }
      })
  } yield rows.flatten

  private def prorationRef(
      rows: List[(Long, Long, Long, Long)]): Map[(Long, Long), Long] =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val amt = rs.head._2
      val bigW = rs.map(_._3).sum
      val base = rs.map { case (_, _, w, t) =>
        (t, amt * w / bigW, amt * w % bigW)
      }
      val left = amt - base.map(_._2).sum
      val bumped = base.sortBy { case (t, _, rem) => (-rem, t) }
        .zipWithIndex
        .map { case ((t, b, _), i) => (t, if (i < left) b + 1 else b) }
      bumped.map { case (t, a) => (g, t) -> a }
    }

  property("largestRemainder == sequential reference; sums exact") =
    forAll(prorationGen) { rows =>
      val df = rows.toDF("g", "amt", "w", "t")
      val got = Proration
        .largestRemainder(df, col("g"), col("amt"), col("w"), col("t"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = prorationRef(rows)
      val sumsExact = rows.groupBy(_._1).forall { case (g, rs) =>
        rs.map(r => got((g, r._4))).sum == rs.head._2
      }
      got == want && sumsExact
    }
}
