package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class LlmSpec extends AnyFunSuite with SparkTestSession {
  import TextHash._

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("shingles: 3-gram windows, distinct, short-text fallback") {
    val r = df(1L -> "a b c d c d", 2L -> "x y")
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .orderBy("doc_id").collect()
    assert(r(0).getSeq[String](1).toSet == Set("a b c", "b c d", "c d c", "d c d"))
    assert(r(1).getSeq[String](1).toList == List("x y"))
  }

  test("exact dedup groups by content hash") {
    val r = Dedup.exactDuplicates(
      df(1L -> "same text here", 2L -> "same text here", 3L -> "different"),
      col("doc_id"), col("text")).collect()
    assert(r.length == 1 && r(0).getLong(1) == 1L && r(0).getLong(2) == 2L)
  }

  test("dropExactDuplicates keeps the smallest id per content group") {
    val kept = Dedup.dropExactDuplicates(
      df(5L -> "dup text", 2L -> "dup text", 3L -> "unique"),
      col("doc_id"), col("text")).orderBy("doc_id").collect()
    assert(kept.map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("minhash: identical texts → identical signatures; banding pairs them") {
    val coeffs = minhashCoefficients(16)
    val sets = df(1L -> "w1 w2 w3 w4 w5 w6", 2L -> "w1 w2 w3 w4 w5 w6", 3L -> "q r s t u v")
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val banded = sets
      .withColumn("hs", transform(col("sh"), h => hashMod(h)))
      .withColumn("sig", Dedup.minhashSignature(col("hs"), coeffs))
      .withColumn("bands", Dedup.bandKeys(col("sig"), 4, 4))
    val sigs = banded.select("doc_id", "sig").orderBy("doc_id").collect()
    assert(sigs(0).getSeq[Long](1) == sigs(1).getSeq[Long](1))
    assert(sigs(0).getSeq[Long](1) != sigs(2).getSeq[Long](1))
    val pairs = Dedup.candidatePairs(banded, "doc_id", "bands").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val j = Dedup.jaccardVerify(
      Dedup.candidatePairs(banded, "doc_id", "bands"), sets, "doc_id", "sh").head()
    assert(j.getDouble(2) == 1.0)
  }

  test("simhash: identical equal; near-identical closer than unrelated") {
    val r = Dedup.simhash(
      df(1L -> "alpha beta gamma delta epsilon zeta eta theta",
        2L -> "alpha beta gamma delta epsilon zeta eta iota",
        3L -> "one two three four five six seven eight"),
      col("doc_id"), col("text")).orderBy("id").collect()
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val Seq(s1, s2, s3) = r.map(_.getLong(1)).toSeq
    assert(ham(s1, s2) < ham(s1, s3))
  }

  test("integer-quantized cosine: self=1, orthogonal=0, topK ranks correctly") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)),
      (10L, Array(2f, 0f, 0f)),   // same direction as query → cos 1
      (11L, Array(0f, 3f, 0f)),   // orthogonal → cos 0
      (12L, Array(1f, 1f, 0f)))   // cos ≈ 0.707
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      emb.filter($"vec_id" === 0), emb.filter($"vec_id" > 0),
      "vec_id", "embedding", k = 3).orderBy("rank").collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(10L, 12L, 11L))
    assert(math.abs(top(0).getDouble(3) - 1.0) < 1e-12)
    assert(math.abs(top(1).getDouble(3) - math.sqrt(0.5)) < 1e-3)
    assert(math.abs(top(2).getDouble(3)) < 1e-12)
  }

  test("lsh topK scores agree with brute force for returned pairs") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val planes = hyperplanes(6, 64)
    val q = emb.filter($"vec_id" < 5)
    val c = emb.filter($"vec_id" >= 5)
    val brute = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 1000)
      .select($"query_id", $"candidate_id", $"cosine".as("bcos"))
    val lsh = Similarity.lshTopK(q, c, "vec_id", "embedding", 3, planes)
    val joined = lsh.join(brute, Seq("query_id", "candidate_id"))
    assert(lsh.count() == joined.filter($"cosine" === $"bcos").count())
  }

  test("ivf topK scores agree with brute force for returned pairs") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" < 5)
    val c = emb.filter($"vec_id" >= 5)
    val cents = emb.filter($"vec_id" % 50 === 0 && $"vec_id" >= 5)
    val brute = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 100000)
      .select($"query_id", $"candidate_id", $"cosine".as("bcos"))
    val ivf = Similarity.ivfTopK(q, c, cents, "vec_id", "embedding", 5)
    val joined = ivf.join(brute, Seq("query_id", "candidate_id"))
    assert(ivf.count() > 0)
    assert(ivf.count() == joined.filter($"cosine" === $"bcos").count())
  }

  test("language guess ties resolve in list order; token counts match") {
    val lists = TextAnalysis.markerLists
    val scores = TextAnalysis.languageScores(col("text"), lists)
    val r = df(1L -> "table join data", 2L -> "join merge table", 3L -> "stream query data x!")
      .select(col("doc_id"),
        TextAnalysis.languageGuess(scores, lists.map(_._1)).as("g"),
        TextAnalysis.tokenCounts(col("text"))._1.as("ws"),
        TextAnalysis.tokenCounts(col("text"))._2.as("sub"))
      .orderBy("doc_id").collect()
    assert(r(0).getString(1) == "struct") // 1-1-1 tie → first list
    assert(r(1).getString(1) == "flow")
    assert(r(2).getString(1) == "core")
    assert(r(2).getInt(2) == 4 && r(2).getInt(3) == 5) // "x!" → 2 subword tokens
  }

  test("fingerprint is content-determined and permutation-sensitive") {
    val fp = TextAnalysis.fingerprint(
      df(1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "f e d c b a"),
      col("doc_id"), col("text")).orderBy("doc_id").collect()
    assert(fp(0).getLong(1) == fp(1).getLong(1) && fp(0).getLong(3) == fp(1).getLong(3))
    assert(fp(0).getLong(1) != fp(2).getLong(1) || fp(0).getLong(3) != fp(2).getLong(3))
  }

  test("pii scan counts, flags, and redacts with portable patterns") {
    val r = TextAnalysis.piiScan(df(
      1L -> "mail me at bob.smith@corp-mail.io today",
      2L -> "call 555-0199 or 555-1234 now",
      3L -> "nothing sensitive here 5555-12345"), "doc_id", col("text"))
      .orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 1 && r(0).getLong(2) == 0 && r(0).getBoolean(3))
    assert(r(0).getString(4) == "mail me at <EMAIL> today")
    assert(r(1).getLong(2) == 2 && r(1).getString(4) == "call <PHONE> or <PHONE> now")
    // \b guards: digits glued to more digits are not a phone
    assert(r(2).getLong(1) == 0 && r(2).getLong(2) == 0 && !r(2).getBoolean(3))
    assert(r(2).getString(4) == "nothing sensitive here 5555-12345")
  }

  test("topKTokens ranks by count desc then token asc, bounded by k") {
    val r = TextAnalysis.topKTokens(
      df(1L -> "b b b a a c", 2L -> "a c d"), col("text"), 3).collect()
    assert(r.map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toList ==
      List(("a", 3L, 1L), ("b", 3L, 2L), ("c", 2L, 3L)))
  }

  test("connected components: min-label over chains and separate clusters") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter forces multiple rounds) + pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id1", "id2")
    val r = Dedup.connectedComponents(pairs, "id1", "id2")
      .orderBy("id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toList
    assert(r == List(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dropNearDuplicates keeps cluster minima and all singletons") {
    import spark.implicits._
    val corpus = df(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 10L -> "e")
    val pairs = Seq((2L, 3L), (3L, 4L)).toDF("id1", "id2")
    val kept = Dedup.dropNearDuplicates(corpus, "doc_id", pairs)
      .orderBy("doc_id").collect().map(_.getLong(0)).toList
    assert(kept == List(1L, 2L, 10L)) // 3,4 fold into cluster min 2
  }

  test("trainCentroids converges to cluster means with integer-exact updates") {
    import spark.implicits._
    // two tight direction-clusters in 2-D; seeds = ids 0 and 1 (one in
    // each cluster)
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (4L, Seq(1.1f, -0.1f)),
      (1L, Seq(0.0f, 1.0f)), (3L, Seq(0.1f, 0.9f)), (5L, Seq(-0.1f, 1.1f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 2, iters = 2)
      .orderBy("cell", "d").collect()
    assert(r.length == 4) // 2 cells × 2 dims
    // cell 0 = mean of (1000,0),(900,100),(1100,-100) = (1000, 0)
    assert(r(0).getLong(2) == 1000L && r(1).getLong(2) == 0L)
    // cell 1 = mean of (0,1000),(100,900),(-100,1100) = (0, 1000)
    assert(r(2).getLong(2) == 0L && r(3).getLong(2) == 1000L)
    assert(r.forall(_.getLong(3) == 3L)) // 3 members each
  }

  test("jvm hash matches the Spark-side md5 prefix hash") {
    import spark.implicits._
    val s = "graft determinism probe"
    val sparkVal = Seq(s).toDF("x").select(hash60(col("x"))).head().getLong(0)
    assert(sparkVal == jvmHash60(s))
  }

  test("containment: quoted short doc scores high toward its superset, " +
    "and the pair is asymmetric") {
    // doc 2 is wholly quoted inside doc 1 (plus padding), so
    // containment(2→1) = 10⁶ while containment(1→2) is the partial
    // ratio — exactly the asymmetry Jaccard cannot express.
    val quoted = "the quick brown fox jumps over the lazy dog"
    val host = s"intro words here $quoted closing words trail off now"
    val r = graft.CacheScope.scoped {
      Dedup.containmentIndex(
        df(1L -> host, 2L -> quoted, 3L -> "nothing shared at all whatsoever"),
        col("doc_id"), col("text"), n = 3, minInter = 2L)
        .collect().map(x => (x.getLong(0), x.getLong(1),
          x.getLong(2), x.getLong(4))).toSet
    }
    val c21 = r.find(p => p._1 == 2L && p._2 == 1L).get
    val c12 = r.find(p => p._1 == 1L && p._2 == 2L).get
    assert(c21._4 == 1000000L, s"full quote must be fully contained: $c21")
    assert(c12._4 < 1000000L && c12._4 > 0L)
    assert(c21._3 == c12._3) // same intersection, different denominators
    assert(!r.exists(p => p._1 == 3L || p._2 == 3L))
  }
}
