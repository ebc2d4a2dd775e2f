package graft.workers

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.BigramLm

/**
 * Bigram-LM corpus scoring as pipeline steps — the worker form of
 * [[graft.queries.Text.textLmNll]]'s model, so a scheduled curation
 * pipeline can chain "train LM on last month's corpus" → "score this
 * month's crawl" as two DAG tasks on `success` (the CCNet recipe where
 * the reference LM is frozen between sweeps; same persist→reload→score
 * round-trip contract as the CorpusQuality workers).
 *
 * The persisted model is three parquet tables under `model_uri`:
 * `cb` (bigram counts), `cu` (history counts) and `meta` (one row:
 * vocabulary size) — distinct-bigram-bounded, no driver-side
 * dictionary. Both sides are [[graft.operators.BigramLm]]: scoring
 * left-joins the frozen tables so bigrams the model never saw score as
 * pure smoothing mass, identical to the streaming leg.
 */
object CorpusLm {

  /** Fit the bigram LM on a documents table and persist it; the corpus is
    * tokenized once. */
  def trainLm(docs: DataFrame, modelUri: String): Long = {
    // the cached pair multiplicities live until the model tables are written
    val scope = new graft.core.QueryCaches.CacheScope
    try scope {
      val (_, lm) = BigramLm.fit(docs)
      lm.cb.write.mode("overwrite").parquet(s"$modelUri/cb")
      lm.cu.write.mode("overwrite").parquet(s"$modelUri/cu")
      val s = docs.sparkSession
      import s.implicits._
      Seq(lm.vocab).toDF("vocab").coalesce(1)
        .write.mode("overwrite").parquet(s"$modelUri/meta")
      lm.vocab
    } finally scope.release()
  }

  /** Score a documents table with a persisted (frozen) bigram LM. */
  def scoreWithLm(spark: SparkSession, docs: DataFrame, modelUri: String): DataFrame = {
    val lm = BigramLm.Model(spark.read.parquet(s"$modelUri/cb"),
      spark.read.parquet(s"$modelUri/cu"),
      spark.read.parquet(s"$modelUri/meta").first().getLong(0))
    lm.score(BigramLm.pairs(
        docs.select(col("doc_id"), graft.queries.Text.words(col("text")).as("ws"))))
      .groupBy(col("doc_id"))
      .agg(BigramLm.nBigrams, BigramLm.nll)
  }

  /** DAG worker: count the bigram LM over a documents table and persist
    * the model tables (overwrite, same convention as Ml.Trainer). */
  final class LmTrainer(spark: SparkSession,
      params: Map[String, graft.core.Spec.WorkerValue]) extends graft.core.Dag.Worker {
    def execute(ctx: graft.core.Dag.WorkerContext): Unit = {
      val table = Workers.str(params, "documents_table")
      val modelUri = Workers.str(params, "model_uri")
      require(table.nonEmpty && modelUri.nonEmpty,
        "'documents_table' and 'model_uri' are required")
      val vocab = trainLm(Workers.resolveTable(spark, table), modelUri)
      ctx.log(s"Counted bigram LM on $table -> $modelUri (vocab $vocab)")
    }
  }

  /** DAG worker: load a persisted bigram LM and write per-document
    * cross-entropy scores to the destination table. */
  final class LmScorer(spark: SparkSession,
      params: Map[String, graft.core.Spec.WorkerValue]) extends graft.core.Dag.Worker {
    def execute(ctx: graft.core.Dag.WorkerContext): Unit = {
      val table = Workers.str(params, "documents_table")
      val modelUri = Workers.str(params, "model_uri")
      val dest = Workers.str(params, "destination_table")
      require(table.nonEmpty && modelUri.nonEmpty && dest.nonEmpty,
        "'documents_table', 'model_uri' and 'destination_table' are required")
      val out = scoreWithLm(spark, Workers.resolveTable(spark, table), modelUri)
      Workers.writeTable(out, dest, overwrite = Workers.bool(params, "overwrite", default = true))
      ctx.log(s"LM-scored $table with $modelUri -> $dest")
    }
  }

  def register(r: graft.core.Dag.Registry, spark: SparkSession): Unit = {
    r.register("CorpusLmTrainer")(p => new LmTrainer(spark, p))
    r.register("CorpusLmScorer")(p => new LmScorer(spark, p))
  }
}
