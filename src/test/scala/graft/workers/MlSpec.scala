package graft.workers

import graft.SparkFixture
import graft.core.Spec.WorkerValue
import graft.core.Dag.WorkerContext
import graft.plans.MlCompiler
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Train → predict → evaluate round-trips for the BQML-on-MLlib workers
  * (Ml.scala was previously untested), plus the MlCompiler split/rebalance
  * semantics that have no DuckDB oracle (farmhash-dependent). */
class MlSpec extends AnyFunSuite with SparkFixture {

  private val noCtx = new WorkerContext {
    def params: Map[String, WorkerValue] = Map.empty
    def generalSettings: Map[String, String] = Map.empty
    def enqueue(wc: String, p: Map[String, WorkerValue], d: Int): Unit = ()
  }

  /** Deterministic learnable dataset: label correlates with x1 and the
    * categorical c; 400 rows. */
  private def labelled() = {
    import spark.implicits._
    (0 until 400).map { i =>
      val x1 = (i % 20).toDouble
      val x2 = ((i * 7) % 13).toDouble
      val c = if (i % 3 == 0) "a" else "b"
      val label = if (x1 + (if (c == "a") 5 else 0) > 12) 1.0 else 0.0
      (x1, x2, c, label)
    }.toDF("x1", "x2", "c", "label")
  }

  test("LOGISTIC_REG: train -> predict adds positive-class probability -> evaluate AUC") {
    val dir = Files.createTempDirectory("graft_ml")
    labelled().write.parquet(s"$dir/train")
    val modelUri = s"$dir/model"
    new Ml.Trainer(spark, Map(
      "training_table" -> WorkerValue.S(s"$dir/train"),
      "model_type" -> WorkerValue.S("LOGISTIC_REG"),
      "model_uri" -> WorkerValue.S(modelUri))).execute(noCtx)
    new Ml.Predictor(spark, Map(
      "bq_table_id" -> WorkerValue.S(s"$dir/train"),
      "model_uri" -> WorkerValue.S(modelUri),
      "destination_table" -> WorkerValue.S(s"$dir/preds"))).execute(noCtx)
    val preds = spark.read.parquet(s"$dir/preds")
    assert(preds.columns.contains("probability_of_positive"))
    val probs = preds.select("probability_of_positive").as[Double](
      org.apache.spark.sql.Encoders.scalaDouble).collect()
    assert(probs.forall(p => p >= 0.0 && p <= 1.0))
    new Ml.Evaluator(spark, Map(
      "bq_table_id" -> WorkerValue.S(s"$dir/train"),
      "model_uri" -> WorkerValue.S(modelUri),
      "destination_table" -> WorkerValue.S(s"$dir/metrics"),
      "classifier" -> WorkerValue.B(true))).execute(noCtx)
    val metrics = spark.read.parquet(s"$dir/metrics").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(metrics.contains("roc_auc") && metrics.contains("pr_auc"))
    assert(metrics("roc_auc") > 0.9, s"separable data should be learnable: $metrics")
  }

  test("BOOSTED_TREE_REGRESSOR: train -> predict -> evaluate r2/rmse") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_mlr")
    val df = (0 until 300).map { i =>
      val x = (i % 50).toDouble
      (x, (i % 7).toDouble, 3.0 * x + 2.0)
    }.toDF("x1", "x2", "label")
    df.write.parquet(s"$dir/train")
    new Ml.Trainer(spark, Map(
      "training_table" -> WorkerValue.S(s"$dir/train"),
      "model_type" -> WorkerValue.S("BOOSTED_TREE_REGRESSOR"),
      "model_uri" -> WorkerValue.S(s"$dir/model"))).execute(noCtx)
    new Ml.Evaluator(spark, Map(
      "bq_table_id" -> WorkerValue.S(s"$dir/train"),
      "model_uri" -> WorkerValue.S(s"$dir/model"),
      "destination_table" -> WorkerValue.S(s"$dir/metrics"),
      "classifier" -> WorkerValue.B(false))).execute(noCtx)
    val metrics = spark.read.parquet(s"$dir/metrics").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(metrics("r2") > 0.95, s"linear target should fit: $metrics")
    assert(metrics("rmse") < 10.0)
  }

  test("DatasetSnapshot: clean_up keeps newest existing snapshot + the new one (vertexai_worker.py:131-143)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_snap")
    Seq((1, "a")).toDF("id", "v").write.parquet(s"$dir/src")
    var tick = 1000L
    def snap(): Unit = new Ml.DatasetSnapshot(spark, Map(
      "bq_table_id" -> WorkerValue.S(s"$dir/src"),
      "snapshot_base" -> WorkerValue.S(s"$dir/snaps"),
      "vertexai_dataset_name" -> WorkerValue.S("ds")), () => { tick += 1; tick })
      .execute(noCtx)
    snap(); snap(); snap()
    val root = new java.io.File(s"$dir/snaps/ds")
    val after3 = root.listFiles().filter(_.isDirectory).map(_.getName).sorted
    // run3 cleaned up all but run2's snapshot, then wrote its own
    assert(after3.length == 2)
    assert(after3.last > after3.head)
  }

  test("ML dataset scans prune event-date partitions (suffix window reaches the scan)") {
    val df = graft.queries.Ml.mlTrainingDataset(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_table_suffix"),
      "suffix window must be a partition filter on the wildcard layout")
    assert(plan.contains("20240105"), s"window bound missing from partition filters")
  }

  test("MlCompiler: combined first-party + GA dataset restricts to fpv ids and carries fp features") {
    val dir = "/root/testdata/sf0.001"
    val gaOnly = graft.queries.Ml.mlTrainingDataset(spark, dir)
    val combined = graft.queries.Ml.mlCombinedDataset(spark, dir)
    // fp features joined in alongside GA behavior counters
    assert(combined.columns.contains("n_events") && combined.columns.contains("total_value"))
    assert(combined.columns.contains("cnt_error") && combined.columns.contains("label"))
    // semi-join on the fpv subset can only shrink the GA-only user set
    assert(combined.count() <= gaOnly.count() && combined.count() > 0)
  }

  test("MlCompiler: hash split partitions users 90/10 disjointly; rebalance keeps all positives") {
    val dir = "/root/testdata/sf0.001"
    val ga4 = graft.queries.Ga4.ga4Events(spark, dir)
    def cfg(split: Boolean, imb: Int) = MlCompiler.MlModel(
      isClassification = true, uniqueId = "user_pseudo_id",
      features = Seq(MlCompiler.GaFeature("error")),
      label = MlCompiler.GaLabel("purchase", "k"),
      suffixLo = "20240101", suffixHi = "20240130",
      classImbalance = imb, hashSplit = split, engagementEvent = "view")

    // training (hash < 90) and conversion-values (hash >= 90) user sets are disjoint
    val trainUsers = MlCompiler.eventsCte(ga4, cfg(split = true, imb = 1), MlCompiler.Training)
      .select("unique_id").distinct().collect().map(_.getString(0)).toSet
    val cvUsers = MlCompiler.eventsCte(ga4, cfg(split = true, imb = 1), MlCompiler.ConversionValues)
      .select("unique_id").distinct().collect().map(_.getString(0)).toSet
    assert(trainUsers.nonEmpty && cvUsers.nonEmpty)
    assert(trainUsers.intersect(cvUsers).isEmpty)

    // class rebalance: every positive row survives; negatives are hash-thinned
    val full = MlCompiler.dataset(spark, ga4, cfg(split = false, imb = 1), MlCompiler.Training)
    val rebal = MlCompiler.dataset(spark, ga4, cfg(split = false, imb = 4), MlCompiler.Training)
    val posFull = full.filter(col("label") > 0).count()
    val posRebal = rebal.filter(col("label") > 0).count()
    val negFull = full.filter(col("label") === 0).count()
    val negRebal = rebal.filter(col("label") === 0).count()
    assert(posRebal == posFull, "rebalance must keep all positives")
    assert(negRebal <= negFull, "rebalance must not add negatives")
  }

  test("MlCompiler: every comparison operator matches an explode-based re-computation") {
    // The oracle-checked configs only exercise Equal/Greater; this pins the
    // remaining VariableComparison semantics (compiler.py comparisons:
    // regex, not-equal, less[-or-equal], greater-or-equal) by recomputing
    // each counter with an independent explode+conditional-agg spelling
    // (exists-probe and explode agree because param keys are unique per
    // event).
    val dir = "/root/testdata/sf0.001"
    val ga4 = graft.queries.Ga4.ga4Events(spark, dir)
    import MlCompiler._
    val feats = Seq(
      GaFeature("view", key = "medium", cmp = Regex("^(cpc|organic)$"),
        description = "med_re"),
      GaFeature("click", key = "m", cmp = Less, value = "30", description = "m_lt30"),
      GaFeature("view", key = "m", cmp = GreaterOrEqual, value = "10",
        description = "m_ge10"),
      GaFeature("click", key = "medium", cmp = NotEqual, value = "cpc",
        valueIsString = true, description = "med_ne"),
      GaFeature("error", key = "k", cmp = LessOrEqual, value = "40",
        description = "k_le40"))
    val c = MlModel(
      isClassification = true, uniqueId = "user_pseudo_id",
      features = feats, label = GaLabel("purchase", "k"),
      suffixLo = "20240101", suffixHi = "20240130",
      classImbalance = 1, hashSplit = false, engagementEvent = "view")
    val ev = eventsCte(ga4, c, Training)
    val uv = analyticsVariables(ev, firstEngagement(ev, c), c)
    val got = aggregateBehavior(ev, uv, c)
      .select(col("unique_id"), col("cnt_med_re"), col("cnt_m_lt30"),
        col("cnt_m_ge10"), col("cnt_med_ne"), col("cnt_k_le40"))

    // independent spelling: explode params, conditional aggregation
    val p = col("p")
    val str = coalesce(p.getField("value").getField("string_value"),
      p.getField("value").getField("int_value").cast("string"))
    // try_cast (not cast): codegen hoists this subexpression over ALL
    // exploded params incl. non-numeric strings; the library's exists-probe
    // only evaluates it on key-matched elements (where values are numeric,
    // so try_cast == cast and the equivalence is unaffected)
    val wide = coalesce(expr("try_cast(p.value.string_value AS double)"),
      p.getField("value").getField("int_value").cast("double"),
      p.getField("value").getField("float_value"),
      p.getField("value").getField("double_value"))
    def cnt(name: String, key: String, pred: org.apache.spark.sql.Column) =
      sum(when(col("name") === name && p.getField("key") === key && pred, 1L)
        .otherwise(0L))
    val exp = ev.join(uv, Seq("unique_id"))
      .filter((col("label") > 0 && col("date") <= col("trigger_date")) || col("label") === 0)
      .select(col("unique_id"), col("name"), explode(col("params")).as("p"))
      .groupBy(col("unique_id"))
      .agg(
        cnt("view", "medium", p.getField("value").getField("string_value")
          .rlike("^(cpc|organic)$")).as("cnt_med_re"),
        cnt("click", "m", wide < 30.0).as("cnt_m_lt30"),
        cnt("view", "m", wide >= 10.0).as("cnt_m_ge10"),
        cnt("click", "medium", str =!= "cpc").as("cnt_med_ne"),
        cnt("error", "k", wide <= 40.0).as("cnt_k_le40"))
    assert(got.count() > 0)
    assert(got.except(exp).isEmpty && exp.except(got).isEmpty,
      "exists-probe counters diverge from the explode spelling")
  }

  test("DNN_CLASSIFIER: MLP with feature-derived layers trains and predicts (compiler.py:58-61)") {
    val dir = Files.createTempDirectory("graft_dnn")
    labelled().write.parquet(s"$dir/train")
    new Ml.Trainer(spark, Map(
      "training_table" -> WorkerValue.S(s"$dir/train"),
      "model_type" -> WorkerValue.S("DNN_CLASSIFIER"),
      "hyper_parameters" -> WorkerValue.S("HIDDEN_UNITS=8\nMAX_ITERATIONS=60"),
      "model_uri" -> WorkerValue.S(s"$dir/model"))).execute(noCtx)
    new Ml.Predictor(spark, Map(
      "bq_table_id" -> WorkerValue.S(s"$dir/train"),
      "model_uri" -> WorkerValue.S(s"$dir/model"),
      "destination_table" -> WorkerValue.S(s"$dir/preds"))).execute(noCtx)
    val preds = spark.read.parquet(s"$dir/preds")
    assert(preds.columns.contains("probability_of_positive"))
    val probs = preds.select("probability_of_positive")
      .as[Double](org.apache.spark.sql.Encoders.scalaDouble).collect()
    assert(probs.forall(p => p >= 0.0 && p <= 1.0))
  }

  test("DNN_REGRESSOR is rejected explicitly (no MLlib perceptron regressor)") {
    val e = intercept[IllegalArgumentException] {
      Ml.estimator("DNN_REGRESSOR", "label")
    }
    assert(e.getMessage.contains("DNN_REGRESSOR"))
  }

  test("hyperparameter passthrough: BQML OPTIONS names map to MLlib params (models.py:608-618)") {
    import org.apache.spark.ml.classification.{GBTClassifier, LogisticRegression}
    val (lr, lrIgnored) = Ml.estimator("LOGISTIC_REG", "label", Map(
      "MAX_ITERATIONS" -> "7", "L1_REG" -> "0.1", "L2_REG" -> "0.3"))
    val lrc = lr.asInstanceOf[LogisticRegression]
    assert(lrc.getMaxIter == 7)
    // MLlib penalty = regParam*(α·L1 + (1-α)/2·L2²-term): matching
    // a=0.1, b=0.3 needs regParam = a+2b = 0.7, α = a/(a+2b) = 1/7
    assert(math.abs(lrc.getRegParam - 0.7) < 1e-12)
    assert(math.abs(lrc.getElasticNetParam - 0.1 / 0.7) < 1e-12)
    // effective penalties round-trip: α·regParam = L1, (1-α)/2·regParam = L2
    assert(math.abs(lrc.getElasticNetParam * lrc.getRegParam - 0.1) < 1e-12)
    assert(math.abs((1 - lrc.getElasticNetParam) / 2 * lrc.getRegParam - 0.3) < 1e-12)
    assert(lrIgnored.isEmpty)

    val (gbt, gbtIgnored) = Ml.estimator("BOOSTED_TREE_CLASSIFIER", "label", Map(
      "LEARN_RATE" -> "0.2", "MAX_TREE_DEPTH" -> "3", "SUBSAMPLE" -> "0.8",
      "L1_REG" -> "0.5", "HIDDEN_UNITS" -> "8"))
    val g = gbt.asInstanceOf[GBTClassifier]
    assert(g.getStepSize == 0.2 && g.getMaxDepth == 3 && g.getSubsamplingRate == 0.8)
    // GBT carries neither an elastic-net penalty nor layers: recorded as
    // ignored, not an error
    assert(gbtIgnored.contains("L1_REG/L2_REG"))
    assert(gbtIgnored.contains("HIDDEN_UNITS"))

    intercept[IllegalArgumentException] {
      Ml.estimator("LOGISTIC_REG", "label", Map("LEARNING_RATE_TYPO" -> "1"))
    }
  }

  test("MlCompiler: ANSI robustness — absent engagement params and non-numeric strings") {
    // The driver fixture carries engagement_time_msec on every event and
    // numeric-looking strings only; real GA4 exports do neither. Both
    // shapes must yield NULL/uncounted rows, not an ANSI
    // INVALID_ARRAY_INDEX_IN_ELEMENT_AT / CAST_INVALID_INPUT job kill.
    val dir = "/root/testdata/sf0.001"
    val ga4 = graft.queries.Ga4.ga4Events(spark, dir)
      .withColumn("event_params", // strip the engagement param from odd events
        when(pmod(col("event_id"), lit(2)) === 1,
          filter(col("event_params"), p => p.getField("key") =!= "engagement_time_msec"))
          .otherwise(col("event_params")))
    val cfg = MlCompiler.MlModel(
      isClassification = true, uniqueId = "user_pseudo_id",
      features = Seq(
        // numeric comparison probing a STRING-valued param ('cpc', ...):
        // non-numeric strings must try_cast to NULL, never qualify
        MlCompiler.GaFeature("view", key = "medium", cmp = MlCompiler.Greater,
          value = "5", description = "med_gt5"),
        // keyed feature WITHOUT a comparison: a name counter, not a crash
        MlCompiler.GaFeature("click", key = "m"),
        MlCompiler.GaFeature("error")),
      label = MlCompiler.GaLabel("purchase", "k"),
      suffixLo = "20240101", suffixHi = "20240130",
      classImbalance = 1, hashSplit = false, engagementEvent = "view")
    val ds = MlCompiler.dataset(spark, ga4, cfg, MlCompiler.Training)
    assert(ds.count() > 0)
    assert(ds.filter(col("cnt_med_gt5") > 0).count() == 0,
      "a string param value must never satisfy a numeric comparison")
    // the comparison-less keyed feature counted click events by name
    assert(ds.columns.contains("cnt_click"))
    assert(ds.agg(sum(col("cnt_click"))).head.getLong(0) > 0)
  }
}
