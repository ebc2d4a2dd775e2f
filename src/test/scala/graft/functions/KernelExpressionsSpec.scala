package graft.functions

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-4 codegen kernels (WinnowFp, AffineMinHash, DotF64):
  * equivalence with the higher-order-function spellings they replaced,
  * plus null/empty/edge handling through the SQL-registered (codegen)
  * path. */
class KernelExpressionsSpec extends AnyFunSuite with SparkFixture {

  test("winnow_fp equals the transform/slice/array_min spelling") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val alpha = "ab cdefg"
    val rows = (1 to 300).map { i =>
      val len = 11 + rng.nextInt(120)
      (i.toLong, (0 until len).map(_ => alpha(rng.nextInt(alpha.length))).mkString)
    }
    // reference spelling: polynomial gram hash + per-window slice minima
    val k = 8
    val w = 4
    val pow = (0 until k).map(j => math.pow(31.0, (k - 1 - j).toDouble).toLong)
    val codes = transform(sequence(lit(1), length(col("text"))),
      i => ascii(col("text").substr(i, lit(1))).cast("long"))
    val gh = transform(sequence(lit(1), length(col("text")) - (k - 1)), i =>
      pmod((0 until k).map(j => element_at(col("codes"), i + j) * pow(j)).reduce(_ + _),
        lit(1L << 32)))
    val ref = array_distinct(transform(sequence(lit(1), size(col("gh")) - (w - 1)),
      j => array_min(slice(col("gh"), j, lit(w)))))
    val df = rows.toDF("id", "text")
      .withColumn("codes", codes)
      .withColumn("gh", gh)
      .withColumn("ref", ref)
      .withColumn("mine", GraftFunctions.winnow_fp(col("text"), k, w))
    assert(df.filter(col("mine") =!= col("ref")).count() == 0)
  }

  test("winnow_fp: too-short input is null; null propagates") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT winnow_fp('abcdefghij', 8, 4) AS short,
        |       winnow_fp(CAST(NULL AS STRING), 8, 4) AS nul,
        |       winnow_fp('abcdefghijk', 8, 4) AS exact1
        |""".stripMargin).collect().head
    assert(r.isNullAt(0)) // 10 chars -> 3 grams < W windows
    assert(r.isNullAt(1))
    assert(r.getSeq[Long](2).length == 1) // exactly one window
  }

  test("affine_minhash equals the per-permutation transform+array_min spelling") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val rows = (1 to 300).map { i =>
      (i.toLong, (0 until (1 + rng.nextInt(60))).map(_ => rng.nextInt().toLong & 0xffffffffL))
    }
    val a = (0 until 16).map(j => (0x9e3779b97f4a7c15L * (2 * j + 1) >>> 33) | 1L)
    val b = (0 until 16).map(j => (0xc6a4a7935bd1e995L * (j + 7)) >>> 33)
    val ref = array((0 until 16).map { j =>
      array_min(transform(col("hs"), h => h * a(j) + b(j)))
    }: _*)
    val df = rows.toDF("id", "hs")
      .withColumn("ref", ref)
      .withColumn("mine", GraftFunctions.affine_minhash(col("hs"), a, b))
    assert(df.filter(col("mine") =!= col("ref")).count() == 0)
  }

  test("affine_minhash: empty input is null (matches array_min-of-empty)") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT affine_minhash(CAST(array() AS ARRAY<BIGINT>),
        |                      array(3L, 5L), array(1L, 2L)) AS empty
        |""".stripMargin).collect().head
    assert(r.isNullAt(0))
  }

  test("shingle_set equals the filter/split/transform/concat_ws spelling") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val vocab = Array("the", "cat", "sat", "on", "a", "mat", "zz", "été")
    val rows = (1 to 300).map { i =>
      // random word runs with random space runs (1-3 spaces) between them
      val n = rng.nextInt(8)
      val sep = () => " " * (1 + rng.nextInt(3))
      (i.toLong, (0 until n).map(_ => vocab(rng.nextInt(vocab.length)))
        .mkString(sep(), sep(), sep()))
    } :+ ((0L, ""))
    val words = filter(split(col("text"), " "), w => w =!= "")
    val ref3 = sort_array(array_distinct(
      when(size(col("words")) === 0, array().cast("array<string>"))
        .when(size(col("words")) < 3, array(concat_ws(" ", col("words"))))
        .otherwise(transform(sequence(lit(1), size(col("words")) - 2),
          i => concat_ws(" ", col("words")(i - 1), col("words")(i), col("words")(i + 1))))))
    val ref1 = sort_array(array_distinct(col("words")))
    val df = rows.toDF("id", "text")
      .withColumn("words", words)
      .withColumn("ref3", ref3)
      .withColumn("mine3", GraftFunctions.shingle_set(col("text"), 3))
      .withColumn("ref1", ref1)
      .withColumn("mine1", GraftFunctions.shingle_set(col("text"), 1))
    assert(df.filter(col("mine3") =!= col("ref3") || col("mine1") =!= col("ref1"))
      .count() == 0)
  }

  test("shingle_set: null propagates; empty text -> [] for every n") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT shingle_set(CAST(NULL AS STRING), 3) AS nul,
        |       shingle_set('   ', 3) AS blank3,
        |       shingle_set('   ', 1) AS blank1,
        |       shingle_set('a b', 3) AS short3
        |""".stripMargin).collect().head
    assert(r.isNullAt(0))
    // blank docs must NOT share a [''] fingerprint and become mutual
    // "exact duplicates" under n-gram dedup
    assert(r.getSeq[String](1) == Seq.empty)
    assert(r.getSeq[String](2) == Seq.empty)
    assert(r.getSeq[String](3) == Seq("a b"))
  }

  test("dot_f64 equals the aggregate(zip_with) spelling bit-for-bit") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    val rows = (1 to 300).map { i =>
      def v() = (0 until 64).map(_ => rng.nextDouble() * 2 - 1)
      (i.toLong, v(), v())
    }
    val ref = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val df = rows.toDF("id", "a", "b")
      .withColumn("ref", ref)
      .withColumn("mine", GraftFunctions.dot_f64(col("a"), col("b")))
    // exact equality: identical fold order means identical rounding
    assert(df.filter(col("mine") =!= col("ref")).count() == 0)
  }

  test("greedy_pair_count equals a reference greedy scan on random strings") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val alpha = "abcd"
    // merge table: a random half of the 16 possible pairs
    val pairs = (for { x <- alpha; y <- alpha if rng.nextBoolean() }
      yield GreedyPairCount.key(x.toInt, y.toInt)).toSeq
    val keySet = pairs.toSet
    def refCount(s: String): Long = {
      var i = 0; var n = 0L
      while (i < s.length) {
        if (i + 1 < s.length && keySet.contains(GreedyPairCount.key(s(i), s(i + 1)))) i += 2
        else i += 1
        n += 1
      }
      n
    }
    val rows = (1 to 500).map { i =>
      val len = rng.nextInt(40)
      val s = (0 until len).map(_ => alpha(rng.nextInt(alpha.length))).mkString
      (i.toLong, s, refCount(s))
    }
    val df = rows.toDF("id", "s", "ref")
      .withColumn("mine", GraftFunctions.greedy_pair_count(col("s"), pairs))
    assert(df.filter(col("mine") =!= col("ref")).count() == 0)
  }

  test("greedy_pair_count: golden cases, empty string, null propagation") {
    GraftFunctions.register(spark)
    val ab = GreedyPairCount.key('a'.toInt, 'b'.toInt)
    val r = spark.sql(
      s"""SELECT greedy_pair_count('abab', array(${ab}L)) AS two,
         |       greedy_pair_count('aab', array(${ab}L)) AS aab,
         |       greedy_pair_count('aba', array(${ab}L)) AS aba,
         |       greedy_pair_count('', array(${ab}L)) AS empty,
         |       greedy_pair_count('abab', CAST(array() AS ARRAY<BIGINT>)) AS nopair,
         |       greedy_pair_count(CAST(NULL AS STRING), array(${ab}L)) AS nul
         |""".stripMargin).collect().head
    assert(r.getLong(0) == 2L) // ab|ab
    assert(r.getLong(1) == 2L) // a|ab (greedy takes ab at pos 2)
    assert(r.getLong(2) == 2L) // ab|a
    assert(r.getLong(3) == 0L)
    assert(r.getLong(4) == 4L) // no merges -> one piece per cp
    assert(r.isNullAt(5))
  }
}
