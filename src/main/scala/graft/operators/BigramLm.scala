package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataTypes
import graft.core.QueryCaches.cached

/**
 * The add-one-smoothed bigram language model every LM scorer shares —
 * the batch queries (`text_lm_nll`, `text_lm_heldout_ppl`,
 * `text_lm_kneser_ney`, `dsir_score` and the compositions built on
 * `text_lm_nll`), the CorpusLm train/score workers and the streaming
 * scorer. One spelling of each piece, so the model cannot drift between
 * them:
 *
 *  - [[explode]]: one (w1, w2) row per adjacent token pair;
 *  - [[pairs]]: per-key pair multiplicities `m`;
 *  - [[fit]]: the model — pair multiplicities persisted once, bigram and
 *    history counts re-aggregated from them (no second corpus scan), and
 *    the vocabulary size V as a driver scalar;
 *  - [[Model.score]] / [[addOneTerm]]: −ln p(w2|w1) with
 *    p = (c(w1,w2)+1)/(c(w1,·)+V), rounded to a 6-dp DECIMAL;
 *  - [[nBigrams]] / [[nll]] / [[meanNll]]: the m-weighted folds.
 *
 * Determinism: each term is one IEEE expression over exact integer
 * counts, rounded to 6 dp and summed as exact DECIMAL (order-
 * independent); a fold divides the exact sum, as a DOUBLE, once, and
 * rounds the quotient with [[round6]].
 */
object BigramLm {

  private val Dec6 = DataTypes.createDecimalType(20, 6)

  /** The pair model: bigram counts (w1, w2, cb), history counts (w1, cu)
    * and the vocabulary size. */
  final case class Model(cb: DataFrame, cu: DataFrame, vocab: Long) {

    /** Left-joins scored pairs to the model and adds the add-one `term`;
      * `cb` stays NULL for a bigram the model never saw (scored as pure
      * smoothing mass). */
    def score(scored: DataFrame): DataFrame = scored
      .join(cb, Seq("w1", "w2"), "left")
      .join(cu, Seq("w1"), "left")
      .withColumn("term", addOneTerm(vocab))
  }

  object Model {
    /** Bigram counts from a pair-multiplicity relation, history counts
      * re-aggregated from the bigram table. Pairs keyed by (w1, w2) alone
      * already are the bigram counts. */
    def of(pairs: DataFrame, vocab: Long): Model = {
      val cb =
        if (pairs.columns.toSet == Set("w1", "w2", "m")) pairs.withColumnRenamed("m", "cb")
        else pairs.groupBy(col("w1"), col("w2")).agg(sum(col("m")).as("cb"))
      Model(cb, cb.groupBy(col("w1")).agg(sum(col("cb")).as("cu")), vocab)
    }
  }

  /** Adjacent-token pair explode over a relation carrying a `ws` token
    * array: keeps every other column, drops `ws`, emits one (w1, w2) row
    * per bigram. */
  def explode(df: DataFrame): DataFrame = df
    .filter(size(col("ws")) >= 2)
    // arrays_zip of two slices, NOT transform(sequence, i -> struct):
    // higher-order lambdas evaluate interpreted per element while the
    // zip/slice chain stays codegen — same pairs, ~30% less explode
    // wall-clock
    .select(col("*"), org.apache.spark.sql.functions.explode(arrays_zip(
      slice(col("ws"), lit(1), size(col("ws")) - 1).as("w1"),
      slice(col("ws"), lit(2), size(col("ws")) - 1).as("w2"))).as("p"))
    .withColumn("w1", col("p.w1")).withColumn("w2", col("p.w2"))
    .drop("p", "ws")

  /** Per-key pair multiplicities: every column of `df` other than `ws` is
    * a key; one row per (keys, w1, w2) with its occurrence count `m`.
    * Σ m·term over these rows equals Σ term over the occurrences exactly
    * (a 6-dp DECIMAL times an integer), so everything downstream runs on
    * the distinct-pair relation instead of the token stream. */
  def pairs(df: DataFrame): DataFrame = {
    val keys = df.columns.filter(_ != "ws").map(col).toSeq
    explode(df).groupBy(keys ++ Seq(col("w1"), col("w2")): _*)
      .agg(count(lit(1)).as("m"))
  }

  /** Fits the model on a documents relation carrying `text`: `keys`
    * (expressions over `docs`) ride along as pair keys. Returns the pair
    * multiplicities — cached in the active [[graft.core.QueryCaches]]
    * scope, as the model tables, the vocabulary
    * action and any scoring join over them all read it — and the model.
    * The corpus is tokenized once: the vocabulary action materializes the
    * pairs. */
  def fit(docs: DataFrame, keys: Column*): (DataFrame, Model) = {
    val p = pairs(docs.select(keys :+ graft.queries.Text.words(col("text")).as("ws"): _*))
      .transform(cached)
    (p, Model.of(p, vocabulary(docs, p)))
  }

  /** Vocabulary size of `docs` without a dedicated tokenize pass: every
    * token of a document with ≥ 2 tokens is some w1 or w2 of its own
    * bigrams, so V = |distinct(w1 ∪ w2 ∪ tokens of ≤ 1-token docs)|.
    * Tokens are single-space splits, so ≥ 2 non-empty tokens ⟺ the
    * space-trimmed text holds an inner space: `instr(trim(text), ' ') = 0`
    * finds the ≤ 1-token sliver with a codegen string test. NULL text
    * yields a NULL instr and is dropped, as it has no tokens. */
  private def vocabulary(docs: DataFrame, p: DataFrame): Long = {
    val singles = docs
      .filter(instr(trim(col("text")), " ") === 0)
      .select(org.apache.spark.sql.functions.explode(
        graft.queries.Text.words(col("text"))).as("t"))
    p.select(col("w1").as("t"))
      .unionByName(p.select(col("w2").as("t")))
      .unionByName(singles)
      .agg(countDistinct(col("t"))).first().getLong(0)
  }

  /** ln p(w2|w1) under add-one smoothing; NULL (unseen) counts are 0. */
  def addOneLogP(cb: Column, cu: Column, vocab: Long): Column =
    log((coalesce(cb, lit(0L)) + lit(1.0)) / (coalesce(cu, lit(0L)) + lit(1.0 * vocab)))

  /** A per-bigram score rounded to 6 dp, as exact DECIMAL for summation. */
  def term(score: Column): Column = round(score, 6).cast(Dec6)

  /** The add-one term over the `cb` and `cu` columns. */
  def addOneTerm(vocab: Long): Column = term(-addOneLogP(col("cb"), col("cu"), vocab))

  /** Σ m — the bigram count of a group. */
  def nBigrams: Column = sum(col("m")).as("n_bigrams")

  /** Σ m·term — exact DECIMAL. */
  def totalTerm: Column = sum(col("m") * col("term"))

  /** The group's mean NLL Σ m·term / Σ m. */
  def nll: Column = round6(totalTerm.cast("double") / sum(col("m"))).as("nll")

  /** Mean of per-document 6-dp NLLs over a group of documents. */
  def meanNll(docNll: Column): Column =
    round6(sum(docNll.cast(Dec6)).cast("double") / count(lit(1)))

  /** Rounds a DOUBLE to 6 dp as the DuckDB oracle does: half away from
    * zero on the DOUBLE product x·10⁶. Spark's `round` decides on x's own
    * decimal expansion instead, and the two part on a quotient a hair
    * off a true tie: Σ m·term = 48.036863 over Σ m = 14 is exactly
    * 3.4312045, its DOUBLE quotient 3.43120449999999977 scales to exactly
    * 3431204.5 and rounds up, while 330.166655 / 98 (exactly 3.3690475)
    * scales to 3369047.4999999995 and rounds down — so neither Spark's
    * `round` nor an exact DECIMAL quotient matches both. */
  private def round6(x: Column): Column = round(x * lit(1e6), 0) / lit(1e6)
}
