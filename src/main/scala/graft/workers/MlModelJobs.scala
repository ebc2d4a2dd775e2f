package graft.workers

import graft.core.{Dag, QueryCaches}
import graft.core.Dag.{Worker, WorkerContext}
import graft.core.Spec.WorkerValue
import graft.plans.{MlCompiler, MlModelPipelines}
import graft.plans.MlModelPipelines.MlModelSpec
import graft.queries.Ga4
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The native job bodies behind [[MlModelPipelines]]'s compiled pipelines.
 * The reference renders each step into SQL text for `BQScriptExecutor`
 * (`templates/model_bqml.sql` steps TRAINING /
 * CALCULATING_CONVERSION_VALUES / PREDICTING); the Spark-native engine
 * hands the typed model config to these workers, which run the SAME
 * composition through [[MlCompiler]]'s DataFrame builder + the MLlib
 * trainer — one implementation of the dataset semantics instead of a SQL
 * copy. Tables land in the session catalog under `{bq_dataset_id}.` so
 * the Output step's genuine SQL script and the Upload worker resolve them
 * exactly like the reference's `{project}.{dataset}.X` ids.
 *
 * Each job builds under its own [[graft.core.QueryCaches]] scope, released
 * in a `finally`: these workers run on a LONG-LIVED scheduler session
 * (daily predictive cron), so a cache a job or a failed attempt left
 * behind (the events slice) would live until the session dies.
 */
object MlModelJobs {

  private def cfgOf(params: Map[String, WorkerValue]): MlModelSpec =
    MlModelPipelines.fromJson(Workers.str(params, "ml_model"))

  private def ensureDb(spark: SparkSession, cfg: MlModelSpec): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${cfg.bqDatasetId}")

  private def modelUri(cfg: MlModelSpec): String = s"${cfg.workDir}/model"

  private def ga4(spark: SparkSession, cfg: MlModelSpec): DataFrame =
    Ga4.ga4EventsPartitioned(spark, cfg.sourceDir)

  /** The first-party variable relation: the customer table projected
    * through its role mapping (`model_bqml.sql:53-70`). */
  private def fpv(spark: SparkSession, cfg: MlModelSpec): DataFrame =
    MlCompiler.firstPartyCte(Workers.resolveTable(spark, cfg.fpTable), cfg.fpRoles.get)

  /** Step dataset per the model's input source (`compiler.py:109-206`
    * VariableSet dispatch): GA-only, first-party-only, or the combined
    * path where the GA composition is semi-join-restricted to first-party
    * ids and the fp features ride along. */
  private def datasetFor(spark: SparkSession, cfg: MlModelSpec,
      step: MlCompiler.Step): DataFrame = cfg.source match {
    case MlModelPipelines.GoogleAnalytics =>
      MlCompiler.dataset(spark, ga4(spark, cfg), cfg.dataset, step)
    case MlModelPipelines.FirstParty =>
      MlCompiler.firstPartyDataset(fpv(spark, cfg), cfg.dataset, step)
    case MlModelPipelines.GoogleAnalyticsAndFirstParty =>
      // GA supplies label, trigger, and first_value; the fp relation
      // contributes ids + features (an fp first_value would collide with
      // the GA trigger's column in the uv join)
      MlCompiler.dataset(spark, ga4(spark, cfg), cfg.dataset, step,
        firstParty = Some(fpv(spark, cfg).drop("label", "trigger_date", "first_value")))
  }

  /** The Output script scans the `events_*` / `__TABLES_SUMMARY__`
    * analogs (`output.sql:2-20`); in the ML context those ARE the GA4
    * export, so the views resolve to the GA4-shaped date-partitioned
    * relation (suffix predicates still prune partitions) and its
    * partition-metadata listing. The views are NAMESPACED per dataset id
    * (`{ds}_events_star`) rather than the dialect's session-global
    * `events_star`: two predictive pipelines for different models may run
    * concurrently on one session, and a shared view name would let one
    * model's Output job scan the other model's source. */
  private def registerOutputViews(spark: SparkSession, cfg: MlModelSpec): Unit = {
    if (cfg.source.hasGa) {
      ga4(spark, cfg).createOrReplaceTempView(s"${cfg.bqDatasetId}_events_star")
      graft.sources.WildcardTable.tablesSummary(spark, cfg.sourceDir)
        .createOrReplaceTempView(s"${cfg.bqDatasetId}_tables_summary")
    }
    if (cfg.source.hasFp)
      Workers.resolveTable(spark, cfg.fpTable)
        .createOrReplaceTempView(s"${cfg.bqDatasetId}_first_party")
  }

  /** Model scores over a step's dataset, shaped like the reference's
    * predictions table: classification exposes the positive-class
    * probability as scalar `probability` (`model_bqml.sql:313-316`),
    * regression the raw score as `predicted_label`. */
  private def scored(spark: SparkSession, cfg: MlModelSpec, step: MlCompiler.Step): DataFrame = {
    val ds = datasetFor(spark, cfg, step)
    val out = PipelineModel.load(modelUri(cfg)).transform(ds)
    if (cfg.isClassification)
      out.withColumn("__p", vector_to_array(col("probability")).getItem(1))
        .drop("features", "rawPrediction", "probability", "prediction")
        .withColumnRenamed("__p", "probability")
    else
      out.drop("features")
        .withColumnRenamed("prediction", "predicted_label")
  }

  /** `{name} - Training Setup`: training dataset (suffix-window pruned,
    * hash-split/rebalanced per config) → `training_dataset` table →
    * estimator fit with the config's hyperparameters. */
  final class TrainingSetup(spark: SparkSession, params: Map[String, WorkerValue]) extends Worker {
    def execute(ctx: WorkerContext): Unit = {
      val cfg = cfgOf(params)
      ensureDb(spark, cfg)
      val scope = new QueryCaches.CacheScope
      try scope {
        Workers.writeTable(datasetFor(spark, cfg, MlCompiler.Training),
          cfg.table("training_dataset"), overwrite = true)
      } finally scope.release()
      new Ml.Trainer(spark, Map(
        "training_table" -> WorkerValue.S(cfg.table("training_dataset")),
        "model_type" -> WorkerValue.S(cfg.modelType),
        "model_uri" -> WorkerValue.S(modelUri(cfg)),
        "hyper_parameters" -> WorkerValue.S(
          cfg.hyperParameters.map { case (k, v) => s"$k=$v" }.mkString("\n"))))
        .execute(ctx)
      ctx.log(s"Training setup complete: ${cfg.table("training_dataset")} -> ${modelUri(cfg)}")
    }
  }

  /** `{name} - Conversion Value Calculations` (classifiers only): scores
    * over the training-timespan dataset → NTILE calibration →
    * `conversion_values` segments table (`model_bqml.sql`
    * CALCULATING_CONVERSION_VALUES). */
  final class ConversionValues(spark: SparkSession, params: Map[String, WorkerValue]) extends Worker {
    def execute(ctx: WorkerContext): Unit = {
      val cfg = cfgOf(params)
      ensureDb(spark, cfg)
      val scope = new QueryCaches.CacheScope
      try scope {
        val preds = QueryCaches.cached(scored(spark, cfg, MlCompiler.ConversionValues)
          .select(col("unique_id"), col("label"), col("probability")))
        Workers.writeTable(MlCompiler.conversionValues(spark, preds, cfg.dataset),
          cfg.table("conversion_values"), overwrite = true)
      } finally scope.release()
      ctx.log(s"Conversion values written: ${cfg.table("conversion_values")}")
    }
  }

  /** `{name} - Predictive Setup`: scores over the predicting dataset →
    * `predictions` table, and registers the wildcard views the Output
    * script scans. */
  final class PredictiveSetup(spark: SparkSession, params: Map[String, WorkerValue]) extends Worker {
    def execute(ctx: WorkerContext): Unit = {
      val cfg = cfgOf(params)
      ensureDb(spark, cfg)
      val scope = new QueryCaches.CacheScope
      try scope {
        Workers.writeTable(scored(spark, cfg, MlCompiler.Predicting),
          cfg.table("predictions"), overwrite = true)
      } finally scope.release()
      registerOutputViews(spark, cfg)
      ctx.log(s"Predictions written: ${cfg.table("predictions")}")
    }
  }

  def register(r: Dag.Registry, spark: SparkSession): Unit = {
    r.register("MlTrainingSetup")(p => new TrainingSetup(spark, p))
    r.register("MlConversionValues")(p => new ConversionValues(spark, p))
    r.register("MlPredictiveSetup")(p => new PredictiveSetup(spark, p))
  }
}
