package graft.workers

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * K-means as schedulable pipeline steps — the worker form of
 * [[graft.queries.KmeansFit]]'s full-Lloyd loop, so a curation pipeline
 * can chain "train the clustering on last month's embeddings" → "assign
 * this month's vectors" as two DAG tasks on `success` (the semantic-dedup
 * recipe where the cell model is frozen between sweeps; same
 * persist→reload→apply round-trip contract as [[CorpusLm]], and the same
 * trained-model shape `VertexAITabularTrainer` established for the
 * reference's ML surface — reference/backend/jobs/workers/
 * vertexai_worker.py:37-44's train-then-batch-predict split).
 *
 * The persisted model is two parquet tables under `model_uri`:
 * `cent` (cid, dim, n, c_new — the final M-step relation, model-parameter
 * sized: C·dim rows) and `meta` (one row: rounds, cell target, member
 * count). Assignment reloads the frozen centroids and runs one E-step —
 * driver-constant codegen at ≤ 8 live centroids, the two-level
 * coarse-cell join above ([[graft.queries.KmeansFit.assignRel]]), so a
 * model trained at any C applies at any corpus scale without a plan
 * change.
 */
object CorpusKmeans {

  /** Fit `rounds` Lloyd iterations on an embeddings table and persist the
    * centroid model; returns the live-centroid count. */
  def trainKmeans(e: DataFrame, modelUri: String, rounds: Int,
      target: Long = graft.queries.Similarity.FineCellTarget): Long = {
    val s = e.sparkSession
    // the Lloyd loop's cached intermediates live until the model is written
    val scope = new graft.core.QueryCaches.CacheScope
    try scope {
      graft.queries.KmeansFit.fit(e, rounds, target)
        .write.mode("overwrite").parquet(s"$modelUri/cent")
    } finally scope.release()
    val c = s.read.parquet(s"$modelUri/cent")
      .select(col("cid")).distinct().count()
    import s.implicits._
    Seq((rounds.toLong, target, c)).toDF("rounds", "target", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$modelUri/meta")
    c
  }

  /** One E-step of a persisted (frozen) centroid model over an embeddings
    * table: (vec_id, cid, rd2). The reloaded centroid relation is cached
    * in the caller's active [[graft.core.QueryCaches]] scope (callers
    * materialize, then release it). */
  def assignWithKmeans(spark: SparkSession, e: DataFrame, modelUri: String): DataFrame =
    graft.queries.KmeansFit.assignCentroids(e,
      spark.read.parquet(s"$modelUri/cent"))

  /** DAG worker: run the Lloyd loop over an embeddings table and persist
    * the centroid model (overwrite, the Ml.Trainer convention). */
  final class KmeansTrainer(spark: SparkSession,
      params: Map[String, graft.core.Spec.WorkerValue]) extends graft.core.Dag.Worker {
    def execute(ctx: graft.core.Dag.WorkerContext): Unit = {
      val table = Workers.str(params, "embeddings_table")
      val modelUri = Workers.str(params, "model_uri")
      require(table.nonEmpty && modelUri.nonEmpty,
        "'embeddings_table' and 'model_uri' are required")
      val rounds = Workers.str(params, "rounds", "3").toInt
      val c = trainKmeans(Workers.resolveTable(spark, table), modelUri, rounds)
      ctx.log(s"Fitted $rounds-round k-means on $table -> $modelUri ($c centroids)")
    }
  }

  /** DAG worker: load a persisted centroid model and write per-vector
    * assignments to the destination table. */
  final class KmeansAssigner(spark: SparkSession,
      params: Map[String, graft.core.Spec.WorkerValue]) extends graft.core.Dag.Worker {
    def execute(ctx: graft.core.Dag.WorkerContext): Unit = {
      val table = Workers.str(params, "embeddings_table")
      val modelUri = Workers.str(params, "model_uri")
      val dest = Workers.str(params, "destination_table")
      require(table.nonEmpty && modelUri.nonEmpty && dest.nonEmpty,
        "'embeddings_table', 'model_uri' and 'destination_table' are required")
      val scope = new graft.core.QueryCaches.CacheScope
      try scope {
        val out = assignWithKmeans(spark, Workers.resolveTable(spark, table), modelUri)
        Workers.writeTable(out, dest, overwrite = Workers.bool(params, "overwrite", default = true))
      } finally scope.release()
      ctx.log(s"Assigned $table with $modelUri -> $dest")
    }
  }

  def register(r: graft.core.Dag.Registry, spark: SparkSession): Unit = {
    r.register("CorpusKmeansTrainer")(p => new KmeansTrainer(spark, p))
    r.register("CorpusKmeansAssigner")(p => new KmeansAssigner(spark, p))
  }
}
