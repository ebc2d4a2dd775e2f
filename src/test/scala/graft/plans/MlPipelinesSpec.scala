package graft.plans

import java.nio.file.Files
import java.time.LocalDate
import graft.SparkFixture
import graft.core.{Cron, Dag, Spec}
import graft.core.Spec.{Condition, ParamSpec, PipelineSpec}
import graft.plans.MlModelPipelines._
import graft.workers.{Sinks, Workers}
import org.scalatest.funsuite.AnyFunSuite

/**
 * The MlModel → pipeline compiler against the reference's shape
 * assertions (`ml_model_templates_compiler_tests.py:29-91` training,
 * `:958-1073` predictive) plus what the reference cannot test — actually
 * RUNNING the compiled pipelines end-to-end through the DAG runtime on
 * the wildcard layout.
 */
class MlPipelinesSpec extends AnyFunSuite with SparkFixture {

  private def demoDataset = MlCompiler.MlModel(
    isClassification = true,
    uniqueId = "user_pseudo_id",
    features = Seq(
      MlCompiler.GaFeature("error"),
      MlCompiler.GaFeature("view", key = "medium", cmp = MlCompiler.Equal, value = "cpc",
        valueIsString = true, description = "view_cpc")),
    label = MlCompiler.GaLabel("purchase", "k"),
    suffixLo = "20240105", suffixHi = "20240125",
    classImbalance = 1, conversionRateSegments = 10,
    averageConversionValue = 25.0, hashSplit = false,
    engagementEvent = "view")

  private def demoCfg(
      modelType: String = "BOOSTED_TREE_CLASSIFIER",
      destination: Destination = GoogleAnalyticsMpEvent,
      workDir: String = "/tmp/graft_mlpipe") = MlModelSpec(
    name = "Test Model",
    modelType = modelType,
    dataset = demoDataset,
    projectId = "test-project-id-1234",
    bqDatasetId = "test_dataset",
    bqDatasetLocation = "US",
    destination = destination,
    ga4MeasurementId = "G-TESTID",
    ga4ApiSecret = "test-secret",
    adsCustomerId = "123456",
    adsConversionActionId = "789",
    hyperParameters = Seq("MAX_ITERATIONS" -> "10"),
    clickEvent = "click",
    sourceDir = "/root/testdata/sf0.001",
    workDir = workDir)

  private def first(params: Seq[ParamSpec], name: String): Option[ParamSpec] =
    params.find(_.name == name)

  test("schedule helpers match compiler.py:367-379") {
    assert(safeDay(LocalDate.of(2024, 4, 6)) == "6")
    assert(safeDay(LocalDate.of(2024, 3, 30)) == "28")
    assert(quarterlyMonths(LocalDate.of(2024, 4, 1)) == "4,7,10,1")
    assert(quarterlyMonths(LocalDate.of(2024, 12, 15)) == "12,3,6,9")
    assert(trainingCron(LocalDate.of(2024, 4, 6)) == "0 0 6 4,7,10,1 *")
    assert(Cron.isValid(trainingCron(LocalDate.of(2024, 4, 6))))
    assert(Cron.isValid(PredictiveCron))
  }

  test("training pipeline shape (ml_model_templates_compiler_tests.py:29-91)") {
    val pipeline = training(demoCfg(), LocalDate.of(2024, 4, 6))
    assert(pipeline.name == "Test Model - Training")
    assert(pipeline.schedules.head.cron == "0 0 6 4,7,10,1 *")

    val setup = pipeline.jobs.head
    assert(setup.name == "Test Model - Training Setup")
    assert(first(setup.params, "bq_dataset_location").exists(_.value == "US"))
    assert(first(setup.params, "ml_model").exists(_.value.nonEmpty))

    // conversion-value job: classifiers only, chained on setup success
    val cv = pipeline.jobs(1)
    assert(cv.name == "Test Model - Conversion Value Calculations")
    assert(cv.startConditions.head.precedingJobId == setup.id)
    assert(cv.startConditions.head.condition == Condition.Success)
    assert(first(cv.params, "bq_dataset_location").exists(_.value == "US"))

    val regression = training(demoCfg(modelType = "LINEAR_REG"), LocalDate.of(2024, 4, 6))
    assert(regression.jobs.length == 1, "regression trains without a conversion-value job")
  }

  test("predictive pipeline shape (ml_model_templates_compiler_tests.py:958-1073)") {
    for (dest <- Seq(GoogleAnalyticsMpEvent, GoogleAdsOfflineConversion)) {
      val pipeline = predictive(demoCfg(destination = dest))
      assert(pipeline.name == "Test Model - Predictive")
      assert(pipeline.schedules.head.cron == "0 0 * * *")

      val setup = pipeline.jobs.find(_.name == "Test Model - Predictive Setup").get
      val output = pipeline.jobs.find(_.name == "Test Model - Predictive Output").get
      val upload = pipeline.jobs.find(_.name == "Test Model - Predictive Upload").get

      assert(output.startConditions.head.precedingJobId == setup.id)
      assert(upload.startConditions.head.precedingJobId == output.id)
      assert(output.workerClass == "BQScriptExecutor")
      val script = first(output.params, "script").get
      assert(script.ptype == Spec.ParamType.Sql)
      assert(script.value.contains("test_dataset_tables_summary") &&
        script.value.contains("prepared_predictions"))
      assert(first(output.params, "bq_dataset_location").exists(_.value == "US"))

      assert(first(upload.params, "bq_project_id").exists(_.value == "test-project-id-1234"))
      assert(first(upload.params, "bq_dataset_id").exists(_.value == "test_dataset"))
      assert(first(upload.params, "bq_dataset_location").exists(_.value == "US"))
      assert(first(upload.params, "template").exists(_.value.nonEmpty))
      dest match {
        case GoogleAnalyticsMpEvent =>
          assert(upload.workerClass == "BQToMeasurementProtocolGA4")
          assert(first(upload.params, "measurement_id").exists(_.value == "G-TESTID"))
          assert(first(upload.params, "api_secret").exists(_.value == "test-secret"))
          assert(first(upload.params, "mp_batch_size").exists(_.value == "20"))
        case GoogleAdsOfflineConversion =>
          assert(upload.workerClass == "BQToAdsOfflineClickConversion")
          assert(first(upload.params, "customer_id").exists(_.value == "123456"))
          assert(first(upload.params, "template").exists(_.value.contains(
            "customers/123456/conversionActions/789")))
      }
    }
  }

  private val demoFpRoles = MlCompiler.FpRoles(
    uniqueId = "customer_id",
    features = Seq("n_events", "total_value"),
    label = Some("purchased"),
    triggerDate = Some("first_seen"))

  test("FIRST_PARTY source: script scans the customer table, no wildcard declare, no GA ids") {
    val cfg = demoCfg().copy(source = FirstParty, sourceDir = "",
      fpTable = "/tmp/fp.parquet", fpRoles = Some(demoFpRoles), fpGclid = "gclid")
    val script = predictive(cfg).jobs.find(_.workerClass == "BQScriptExecutor").get
      .params.find(_.name == "script").get.value
    assert(!script.contains("DECLARE"), "first-party output has no latest-shard declare")
    assert(script.contains("first_party AS") &&
      script.contains("test_dataset_first_party"))
    assert(script.contains("customer_id AS unique_id") &&
      script.contains("first_seen AS `timestamp`"))
    assert(!script.contains("user_pseudo_id"), "a first-party table has no GA ids")
    // ads destination takes the gclid column directly, no UNNEST window
    val ads = predictive(cfg.copy(destination = GoogleAdsOfflineConversion))
      .jobs.find(_.workerClass == "BQScriptExecutor").get
      .params.find(_.name == "script").get.value
    assert(ads.contains("gclid AS gclid") || ads.contains("gclid,"), ads)
    assert(!ads.contains("LATERAL VIEW"), "first-party gclid is a plain column")
    // and fp-source models require the fp table + roles at compile time
    intercept[IllegalArgumentException] {
      predictive(cfg.copy(fpTable = ""))
    }
    intercept[IllegalArgumentException] {
      predictive(cfg.copy(fpRoles = None))
    }
  }

  test("compile-time validation rejects missing locations and SQL-hostile identifiers") {
    intercept[IllegalArgumentException] { predictive(demoCfg().copy(sourceDir = "")) }
    intercept[IllegalArgumentException] { training(demoCfg().copy(workDir = "")) }
    intercept[IllegalArgumentException] { predictive(demoCfg().copy(bqDatasetId = "ds;drop")) }
    // a quote in click_event would escape the script's string literal
    intercept[IllegalArgumentException] {
      predictive(demoCfg(destination = GoogleAdsOfflineConversion)
        .copy(clickEvent = "x' OR name != '"))
    }
    // the suffix window is spliced into the fp Output SQL as literals
    intercept[IllegalArgumentException] {
      predictive(demoCfg().copy(dataset = demoDataset.copy(suffixLo = "2024-01-05')--")))
    }
    // fp-only models must carry the roles their jobs and Output need
    val fpCfg = demoCfg().copy(source = FirstParty, sourceDir = "",
      fpTable = "/tmp/fp.parquet", fpRoles = Some(demoFpRoles))
    intercept[IllegalArgumentException] {
      predictive(fpCfg.copy(fpRoles = Some(demoFpRoles.copy(triggerDate = None))))
    }
    intercept[IllegalArgumentException] {
      training(fpCfg.copy(fpRoles = Some(demoFpRoles.copy(label = None))))
    }
    intercept[IllegalArgumentException] {
      predictive(fpCfg.copy(destination = GoogleAdsOfflineConversion, fpGclid = ""))
    }
    // feature invariants fail at compile, not as MatchError/NFE at cron time
    def withFeature(f: MlCompiler.GaFeature) =
      demoCfg().copy(dataset = demoDataset.copy(features = demoDataset.features :+ f))
    intercept[IllegalArgumentException] { // comparison but no description
      predictive(withFeature(MlCompiler.GaFeature("view", key = "k",
        cmp = MlCompiler.Greater, value = "5")))
    }
    intercept[IllegalArgumentException] { // numeric comparison, non-numeric value
      predictive(withFeature(MlCompiler.GaFeature("view", key = "k",
        cmp = MlCompiler.Greater, value = "lots", description = "v")))
    }
    intercept[IllegalArgumentException] { // regex that does not compile
      predictive(withFeature(MlCompiler.GaFeature("view", key = "k",
        cmp = MlCompiler.Regex("["), description = "v")))
    }
    intercept[IllegalArgumentException] { // duplicate output columns
      predictive(withFeature(MlCompiler.GaFeature("error")))
    }
    // keyed-but-comparison-less features are LEGAL name counters
    // (model_bqml.sql:219 branches on the comparison alone)
    predictive(withFeature(MlCompiler.GaFeature("click", key = "k")))
  }

  test("DNN_REGRESSOR is rejected at pipeline-compile time, not at train time (compiler.py:50-62)") {
    // the reference's compiler is where its user first learns a model type
    // can't run; our MLlib gap (no perceptron regressor) must surface at
    // the same point — compiling either pipeline — not when the quarterly
    // training cron fires months later
    for (compile <- Seq[MlModelSpec => Any](c => training(c), c => predictive(c))) {
      val e = intercept[IllegalArgumentException] {
        compile(demoCfg(modelType = "DNN_REGRESSOR"))
      }
      assert(e.getMessage.contains("DNN_REGRESSOR") &&
        e.getMessage.contains("no perceptron regressor"))
    }
    // the classifier sibling still compiles (the rejection is type-exact)
    training(demoCfg(modelType = "DNN_CLASSIFIER"))
  }

  test("MP template placeholders match the output table's id columns per source/unique-id") {
    // CLIENT_ID: clientId only
    assert(mpEventTemplate(demoCfg()).contains("\"clientId\""))
    assert(!mpEventTemplate(demoCfg()).contains("user_id"))
    // USER_ID + GA source: both ids (output carries client_id AND user_id)
    val gaUser = demoCfg().copy(dataset = demoDataset.copy(uniqueId = "user_id"))
    assert(mpEventTemplate(gaUser).contains("\"clientId\"") &&
      mpEventTemplate(gaUser).contains("\"userId\""))
    // USER_ID + first-party-only: userId only — a clientId placeholder
    // would throw per row in the upload worker (no client_id column)
    val fpUser = gaUser.copy(source = FirstParty, sourceDir = "",
      fpTable = "/tmp/fp.parquet", fpRoles = Some(demoFpRoles))
    assert(!mpEventTemplate(fpUser).contains("client_id"))
    assert(mpEventTemplate(fpUser).contains("\"userId\""))
  }

  test("MlModelSpec JSON codec round-trips (the /api/ml-models wire format)") {
    val cfg = demoCfg(destination = GoogleAdsOfflineConversion).copy(
      dataset = demoDataset.copy(
        triggerEvent = Some(MlCompiler.GaTrigger("signup", "k")),
        splitHash = MlCompiler.Md5Split, hashSplit = true, classImbalance = 4))
    val back = MlModelPipelines.fromJson(MlModelPipelines.toJson(cfg))
    assert(back == cfg)
    // combined-source config with first-party roles round-trips too
    val combined = cfg.copy(source = GoogleAnalyticsAndFirstParty,
      fpTable = "/tmp/fp.parquet", fpRoles = Some(demoFpRoles), fpGclid = "gclid")
    assert(MlModelPipelines.fromJson(MlModelPipelines.toJson(combined)) == combined)
    // and the compiled pipeline export round-trips through Spec.toJson
    val pipeline = predictive(cfg)
    val restored = Spec.fromJson(Spec.toJson(pipeline))
    assert(restored.name == pipeline.name)
    assert(restored.jobs.map(_.name) == pipeline.jobs.map(_.name))
    assert(restored.jobs.map(_.workerClass) == pipeline.jobs.map(_.workerClass))
    assert(restored.jobs.flatMap(_.startConditions) == pipeline.jobs.flatMap(_.startConditions))
    assert(restored.schedules == pipeline.schedules)
    assert(restored.jobs.find(_.workerClass == "BQScriptExecutor").get
      .params.find(_.name == "script").get.value ==
      pipeline.jobs.find(_.workerClass == "BQScriptExecutor").get
        .params.find(_.name == "script").get.value)
  }

  test("an ML worker whose step fails releases the caches its build made") {
    val noCtx = new Dag.WorkerContext {
      def params: Map[String, Spec.WorkerValue] = Map.empty
      def generalSettings: Map[String, String] = Map.empty
      def enqueue(wc: String, p: Map[String, Spec.WorkerValue], d: Int): Unit = ()
    }
    spark.catalog.clearCache()
    // no model was ever trained under this work dir: scoring throws after
    // the dataset build cached its events slice
    val cfg = demoCfg(workDir = Files.createTempDirectory("graft_mlpipe_untrained").toString)
    intercept[Exception](new graft.workers.MlModelJobs.ConversionValues(spark,
      Map("ml_model" -> Spec.WorkerValue.S(toJson(cfg)))).execute(noCtx))
    assert(spark.sharedState.cacheManager.isEmpty, "the failed step's events slice stayed cached")
  }

  test("compiled training + predictive pipelines run end-to-end on the wildcard layout") {
    val workDir = Files.createTempDirectory("graft_mlpipe").toString
    val cfg = demoCfg(modelType = "LOGISTIC_REG", workDir = workDir)
      .copy(bqDatasetId = "mlpipe")
    // the in-memory catalog is fresh per JVM but the warehouse directory
    // is not: a stale mlpipe.db from a previous test run would fail
    // saveAsTable with LOCATION_ALREADY_EXISTS
    spark.sql("DROP DATABASE IF EXISTS mlpipe CASCADE")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_warehouse/mlpipe.db"))
    val registry = Workers.registry(spark)
    val exec = Dag.newExecutor(4)
    try {
      Sinks.RecordingTransport.clear()

      val trainRun = new Dag.PipelineRun(training(cfg, LocalDate.of(2024, 4, 6)), registry, exec)
      assert(trainRun.start())
      assert(trainRun.awaitCompletion(300000) == Dag.PipelineStatus.Succeeded,
        s"training failed: ${trainRun.failureMessages}")
      assert(spark.table("mlpipe.training_dataset").count() > 0)
      val cv = spark.table("mlpipe.conversion_values")
      assert(cv.count() == 10)
      assert(cv.columns.toSet == Set("normalized_probability", "value",
        "probability_range_start", "probability_range_end"))

      val predRun = new Dag.PipelineRun(predictive(cfg), registry, exec)
      assert(predRun.start())
      assert(predRun.awaitCompletion(300000) == Dag.PipelineStatus.Succeeded,
        s"predictive failed: ${predRun.failureMessages}")

      val preds = spark.table("mlpipe.predictions")
      assert(preds.columns.contains("probability") && preds.count() > 0)

      val out = spark.table("mlpipe.output")
      assert(out.columns.toSet == Set("value", "normalized_score", "score",
        "client_id", "event_name", "type"))
      val rows = out.count()
      assert(rows > 0, "output table must score at least one user")

      // the upload job posted one MP event per output row via the
      // recording client, to the GA4 collect URL with our credentials
      assert(Sinks.RecordingTransport.size.toLong == rows)
      val (url, body) = Sinks.RecordingTransport.requests.peek()
      assert(url.contains("measurement_id=G-TESTID") && url.contains("api_secret=test-secret"))
      assert(body.contains("\"clientId\"") && body.contains("prop_score"))
    } finally {
      exec.shutdown()
      Sinks.RecordingTransport.clear()
    }
  }

  test("FIRST_PARTY-source pipelines run end-to-end (customer table in, MP posts out)") {
    import spark.implicits._
    val workDir = Files.createTempDirectory("graft_mlpipe_fp").toString
    // deterministic customer CRM table: learnable label, trigger dates
    // inside the model's predictive window
    val fp = (0 until 60).map { i =>
      (s"c$i", (i % 20 + 1).toLong, i * 1.5,
        java.sql.Timestamp.valueOf(f"2024-01-${2 + i % 20}%02d 10:00:00"),
        if (i % 20 + 1 > 10) 1.0 else 0.0)
    }.toDF("customer_id", "n_events", "total_value", "first_seen", "purchased")
    fp.write.mode("overwrite").parquet(s"$workDir/fp")
    val cfg = demoCfg(modelType = "LOGISTIC_REG", workDir = workDir)
      .copy(bqDatasetId = "mlpipe_fp", source = FirstParty, sourceDir = "",
        fpTable = s"$workDir/fp", fpRoles = Some(demoFpRoles),
        dataset = demoDataset.copy(suffixLo = "20240101", suffixHi = "20240125"))
    spark.sql("DROP DATABASE IF EXISTS mlpipe_fp CASCADE")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_warehouse/mlpipe_fp.db"))
    val registry = Workers.registry(spark)
    val exec = Dag.newExecutor(4)
    try {
      Sinks.RecordingTransport.clear()
      val trainRun = new Dag.PipelineRun(training(cfg, LocalDate.of(2024, 4, 6)), registry, exec)
      assert(trainRun.start())
      assert(trainRun.awaitCompletion(300000) == Dag.PipelineStatus.Succeeded,
        s"training failed: ${trainRun.failureMessages}")
      assert(spark.table("mlpipe_fp.conversion_values").count() == 10)

      val predRun = new Dag.PipelineRun(predictive(cfg), registry, exec)
      assert(predRun.start())
      assert(predRun.awaitCompletion(300000) == Dag.PipelineStatus.Succeeded,
        s"predictive failed: ${predRun.failureMessages}")

      val out = spark.table("mlpipe_fp.output")
      // first-party output carries no GA ids — just the scored columns
      assert(out.columns.toSet == Set("value", "normalized_score", "score",
        "client_id", "event_name", "type"))
      val rows = out.count()
      assert(rows > 0)
      assert(Sinks.RecordingTransport.size.toLong == rows)
      val (_, body) = Sinks.RecordingTransport.requests.peek()
      assert(body.contains("\"clientId\": \"c"))
    } finally {
      exec.shutdown()
      Sinks.RecordingTransport.clear()
    }
  }

  test("regression + Ads-destination pipelines run end-to-end (predicted_label branch, %Ez datetimes)") {
    val workDir = Files.createTempDirectory("graft_mlpipe_ads").toString
    val cfg = demoCfg(modelType = "LINEAR_REG",
      destination = GoogleAdsOfflineConversion, workDir = workDir)
      .copy(bqDatasetId = "mlpipe_ads",
        dataset = demoDataset.copy(isClassification = false,
          triggerEvent = Some(MlCompiler.GaTrigger("signup", "k"))))
    spark.sql("DROP DATABASE IF EXISTS mlpipe_ads CASCADE")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_warehouse/mlpipe_ads.db"))
    val registry = Workers.registry(spark)
    val exec = Dag.newExecutor(4)
    try {
      Sinks.RecordingTransport.clear()

      val trainSpec = training(cfg, LocalDate.of(2024, 4, 6))
      assert(trainSpec.jobs.length == 1, "regression trains without a conversion-value job")
      val trainRun = new Dag.PipelineRun(trainSpec, registry, exec)
      assert(trainRun.start())
      assert(trainRun.awaitCompletion(300000) == Dag.PipelineStatus.Succeeded,
        s"training failed: ${trainRun.failureMessages}")

      val predRun = new Dag.PipelineRun(predictive(cfg), registry, exec)
      assert(predRun.start())
      assert(predRun.awaitCompletion(300000) == Dag.PipelineStatus.Succeeded,
        s"predictive failed: ${predRun.failureMessages}")

      assert(spark.table("mlpipe_ads.predictions").columns.contains("predicted_label"))
      val out = spark.table("mlpipe_ads.output")
      assert(out.columns.toSet == Set("unique_id", "user_pseudo_id", "user_id",
        "value", "revenue", "gclid", "datetime"))
      val rows = out.collect()
      assert(rows.nonEmpty, "ads output must carry at least one gclid row")
      val dt = rows.head.getAs[String]("datetime")
      // BigQuery's %Ez prints the numeric offset — 'Z' would be the
      // uppercase-pattern bug the round-5 review caught
      assert(dt.endsWith("+00:00"), s"datetime must carry the +00:00 offset: $dt")

      // one chunked Ads upload per partition batch, with the conversion
      // action resolved from the model's output parameters
      assert(Sinks.RecordingTransport.size > 0)
      val (url, body) = Sinks.RecordingTransport.requests.peek()
      assert(url.contains("customers/123456:uploadClickConversions"))
      assert(body.contains("customers/123456/conversionActions/789"))
      assert(body.contains("\"gclid\"") && body.contains("+00:00"))
    } finally {
      exec.shutdown()
      Sinks.RecordingTransport.clear()
    }
  }
}
