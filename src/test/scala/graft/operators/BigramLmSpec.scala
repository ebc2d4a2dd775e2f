package graft.operators

import graft.SparkFixture
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared bigram LM: the vocabulary shortcut (bigram tokens plus the
  * ≤ 1-token sliver) against a brute-force tokenize, the pair
  * multiplicities, and the folds' rounding on true half-ties. */
class BigramLmSpec extends AnyFunSuite with SparkFixture {

  private def bruteVocab(docs: DataFrame): Long = docs
    .select(explode(graft.queries.Text.words(col("text"))).as("t"))
    .distinct().count()

  private def fitVocab(docs: DataFrame): Long = {
    val (pairs, lm) = BigramLm.fit(docs)
    try lm.vocab finally pairs.unpersist()
  }

  test("fit's vocabulary equals a brute-force distinct token count on edge-case texts") {
    val s = spark
    import s.implicits._
    val texts = Seq("solo", "", "   ", "a\tb", null, "\t", "  lone  ",
      " x  y ", "x\t y solo", "p\tq r")
    val all = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    assert(fitVocab(all) == bruteVocab(all))
    assert(bruteVocab(all) == 9L) // solo, a\tb, \t, lone, x, y, x\t, p\tq, r
    // each document alone: the sliver test must decide every shape by itself
    texts.zipWithIndex.foreach { case (t, i) =>
      val one = Seq((i.toLong, t)).toDF("doc_id", "text")
      assert(fitVocab(one) == bruteVocab(one), s"text ${Option(t).map(_.replace("\t", "\\t"))}")
    }
  }

  test("pairs carries the per-key multiplicity of each adjacent token pair") {
    val s = spark
    import s.implicits._
    val got = BigramLm.pairs(Seq((1L, Seq("a", "b", "a", "b")), (2L, Seq("a")))
        .toDF("doc_id", "ws"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set((1L, "a", "b", 2L), (1L, "b", "a", 1L)))
  }

  test("the NLL fold rounds true half-ties as the oracle does") {
    val s = spark
    import s.implicits._
    // Σ m·term = 48.036863 over Σ m = 14 is exactly 3.4312045 (rounds up);
    // 330.166655 over 98 is exactly 3.3690475 (rounds down): text_lm_nll's
    // documents 268 and 454 on the seed-15 generated corpus
    val scored = Seq((268L, 13L, "3.000000"), (268L, 1L, "9.036863"),
        (454L, 97L, "3.000000"), (454L, 1L, "39.166655"))
      .toDF("doc_id", "m", "t")
      .withColumn("term", col("t").cast("decimal(20,6)"))
    val got = scored.groupBy(col("doc_id")).agg(BigramLm.nBigrams, BigramLm.nll)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == Map(268L -> (14L, 3.431205), 454L -> (98L, 3.369047)))
  }
}
