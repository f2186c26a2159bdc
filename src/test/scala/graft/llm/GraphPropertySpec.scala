package graft.llm

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.SparkTestSession

/** Property-based check of the distributed connected-components
  * operator against a driver-side union-find reference on random
  * graphs — the invariant that matters for dedup clustering: every
  * node's label is exactly the minimum id of its component.
  */
object GraphPropertySpec extends Properties("GraphProperties") {

  // 4 ScalaCheck workers (r20): each case is an independent CC run over
  // its own DataFrames — concurrent Spark jobs from driver threads are
  // the guide's §2.6 back-fill pattern, and the per-case CacheScope
  // below is thread-local. Same minSuccessfulTests, ~4× less wall-clock
  // (this suite was 275 s of the driver's test budget, 201 sequential
  // convergence loops of mostly idle driver round-trips).
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withWorkers(4)

  // One session per case: Fixpoint brackets small loops with session
  // confs, which concurrent workers must not share (the SqlConfScope
  // condition). The SparkContext and its caches are shared.
  private def spark = SparkTestSession.session.newSession()

  private val graphGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(2, 25)
    m <- Gen.choose(1, 40)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n.toLong - 1)
      b <- Gen.choose(0L, n.toLong - 1) if a != b
    } yield (math.min(a, b), math.max(a, b)))
  } yield edges

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id root: union always points the larger root at the smaller,
    // so find() yields the component minimum
    parent.keys.map(k => k -> find(k)).toMap
  }

  property("labels equal the component minimum (vs union-find)") =
    forAll(graphGen) { edges =>
      // scoped: CC persists its edge relation internally; unscoped, 100
      // cases leak 100 cache entries into the shared session (and every
      // later suite's CacheManager lookups)
      graft.CacheScope.scoped {
        val s = spark
        import s.implicits._
        val pairs = edges.toDF("id1", "id2")
        val got = Dedup.connectedComponents(pairs, "id1", "id2")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == unionFind(edges)
      }
    }

  // The O(log n) star-contraction variant must agree with union-find
  // (and hence with label propagation) on every random graph —
  // including long chains, where propagation's round count is the
  // diameter but contraction's is logarithmic.
  property("large-star/small-star labels equal the component minimum") =
    forAll(graphGen) { edges =>
      graft.CacheScope.scoped {
        val s = spark
        import s.implicits._
        val pairs = edges.toDF("id1", "id2")
        val got = Dedup.connectedComponentsStars(pairs, "id1", "id2")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == unionFind(edges)
      }
    }

  property("star contraction resolves a 30-node chain") =
    graft.CacheScope.scoped {
      val s = spark
      import s.implicits._
      val chain = (0L until 29L).map(i => (i, i + 1)).toDF("id1", "id2")
      Dedup.connectedComponentsStars(chain, "id1", "id2")
        .collect().forall(r => r.getLong(1) == 0L)
    }

  // A 30-node chain has diameter 29: label propagation needs 28 rounds
  // past its seed, more than a fixed cap of 20 would run — a truncated
  // loop leaves node 29 labeled 8.
  property("label propagation resolves a 30-node chain") =
    graft.CacheScope.scoped {
      val s = spark
      import s.implicits._
      val chain = (0L until 29L).map(i => (i, i + 1)).toDF("id1", "id2")
      val got = Dedup.connectedComponents(chain, "id1", "id2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == (0L to 29L).map(_ -> 0L).toMap
    }
}
