package graft.operators

import graft.{SparkEntry, SparkFixture}
import org.scalatest.funsuite.AnyFunSuite

/** The driver-fast-path rule: every size-switched query gives identical
  * rows on its driver branch (the default cap) and its distributed branch
  * (cap 0), on each fixture corpus of the table below; and the cap is
  * validated in one place. */
class DriverCollectSpec extends AnyFunSuite with SparkFixture {

  private def corpus(docs: (Long, String)*): String = {
    val s = spark
    import s.implicits._
    val dir = tmpSfDir()
    writeTable(dir, "documents", docs
      .map { case (id, t) => (id, t, "en", if (id % 2 == 0) "s0" else "s1", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    dir.toString
  }

  private val clique = "p q r s t u v w x y"

  /** name → sf dir; the small corpora are built on first use. */
  private lazy val corpora: Map[String, String] = Map(
    "sf0.001" -> "/root/testdata/sf0.001",
    "empty" -> corpus(),
    // identical-doc clique (m = 3), a near-dup of it (J = 9/10), a pendant
    "clique" -> corpus(
      1L -> clique, 2L -> clique, 3L -> clique,
      4L -> "p q r s t u v w x", 5L -> "lonely words here"),
    // x, y, z pairwise J ≥ 0.8 (a triangle of sets) plus a dup pair
    "triangle" -> corpus(
      1L -> "a b c d e f g h i j k l m n o p q r s t",
      2L -> "a b c d e f g h i j k l m n o p q r s",
      3L -> "a b c d e f g h i j k l m n o p q r s t u",
      4L -> "aa bb cc dd ee", 5L -> "aa bb cc dd ee"),
    // a star: x~y (9/10), x~z (9/11), y≁z (8/11)
    "star" -> corpus(
      1L -> "a b c d e f g h i j", 2L -> "a b c d e f g h i",
      3L -> "a b c d e f g h j k"),
    // five merges, then no word has two symbols left (the exhaustion
    // stop, round 6 of 8); the (ｂ,x) vs (𝔸,x) tie orders differently
    // in UTF-16 and in Spark's UTF-8 binary order
    "bpe-exhaust" -> corpus(
      1L -> "ab ab abc", 2L -> "ba", 3L -> "𝔸x ｂx"))

  private val graphQueries = Seq("dedup_components", "dedup_graph_pagerank",
    "pipeline_dedup_graph", "dedup_graph_triangles", "dedup_graph_kcore",
    "dedup_graph_assortativity")
  private val bpeQueries = Seq("bpe_train_merges", "bpe_compression_curve")

  private val cases: Seq[(String, String)] =
    (for (q <- graphQueries; c <- Seq("sf0.001", "empty", "clique",
      "triangle", "star")) yield (q, c)) ++
      (for (q <- bpeQueries; c <- Seq("sf0.001", "empty", "bpe-exhaust")) yield (q, c))

  private def run(query: String, corpusName: String, cap: Long) =
    withDriverCollectCap(cap) {
      try SparkEntry.queries(query)(spark, corpora(corpusName)).collect().toSeq
      finally spark.catalog.clearCache()
    }

  cases.foreach { case (query, corpusName) =>
    test(s"$query on $corpusName: driver ≡ distributed") {
      val fast = run(query, corpusName, 1L << 20)
      val dist = run(query, corpusName, 0L)
      assert(fast == dist, s"driver $fast != distributed $dist")
      if (corpusName != "empty") assert(fast.nonEmpty)
    }
  }

  test("bpe-exhaust: the merge loop stops once no word has two symbols left") {
    val merges = run("bpe_train_merges", "bpe-exhaust", 0L)
      .map(r => r.getString(3))
    assert(merges == Seq("ab", "abc", "ba", "ｂx", "𝔸x"), s"got $merges")
    assert(run("bpe_compression_curve", "bpe-exhaust", 0L).map(_.getLong(0)) ==
      (0L to 5L))
  }

  test("collectSmall: all rows up to the cap, None above it or at cap 0") {
    val df = spark.range(3).toDF("id")
    assert(withDriverCollectCap(3)(DriverCollect.collectSmall(df)).map(_.length)
      .contains(3))
    assert(withDriverCollectCap(2)(DriverCollect.collectSmall(df)).isEmpty)
    assert(withDriverCollectCap(0)(DriverCollect.collectSmall(df)).isEmpty)
    assert(DriverCollect.cap(spark) == (1 << 20))
  }

  test("a cap outside [0, Int.MaxValue) fails, naming the conf key") {
    for (bad <- Seq(-1L, Int.MaxValue.toLong)) {
      val e = intercept[IllegalArgumentException] {
        run("dedup_components", "star", bad)
      }
      assert(e.getMessage.contains(DriverCollect.CapKey), e.getMessage)
    }
    val key = DriverCollect.CapKey
    spark.conf.set(key, "lots")
    try {
      val e = intercept[IllegalArgumentException](DriverCollect.cap(spark))
      assert(e.getMessage.contains(key), e.getMessage)
    } finally spark.conf.unset(key)
  }
}
