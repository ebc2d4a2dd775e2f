package perfbench

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, ScheduledExecutorService, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.RestApi
import graft.core.{Dag, Spec}
import graft.core.Spec.{Condition, JobSpec, ParamSpec, ParamType, PipelineSpec, StartConditionSpec, WorkerValue}
import graft.plans.{BqDialect, MlCompiler, MlModelPipelines}
import graft.plans.MlModelPipelines._
import graft.workers.{Sinks, Workers}
import org.apache.spark.sql.SparkSession

/**
 * CRMint's product path: seed-generated ML models (POSTed to
 * `/api/ml-models`, each running its training and then its predictive
 * pipeline) beside seed-generated SQL DAGs (`/api/pipelines`), all run by
 * `core.Dag` over `Workers.registry` with up to `nproc` pipelines in
 * flight. One op is one pipeline run, from its start request to its
 * completion.
 */
final class CrmWorkload extends Workload {
  import CrmWorkload._

  private var api: RestApi = _
  private var executor: ScheduledExecutorService = _
  private var port = 0
  private var ctxRef: RunContext = _
  private var items: Seq[Item] = Nil
  private val apiNanos = new ConcurrentLinkedQueue[java.lang.Long]()
  /** Live op per owner (a model's dataset id or a DAG's), for the timing
    * workers: an owner never has two pipelines in flight. */
  private val live = new ConcurrentHashMap[String, OpTrace]()
  private val completed = new ConcurrentHashMap[String, java.lang.Integer]()
  /** Models whose pipeline was cut at the deadline. */
  private val cut = ConcurrentHashMap.newKeySet[String]()

  def prepare(spark: SparkSession, ctx: RunContext): Unit = {
    ctxRef = ctx
    Harness.deleteTree(new File(ctx.workDir, "warehouse"))
    Harness.deleteTree(new File(ctx.workDir, "crm"))
    Sinks.RecordingTransport.clear()
    cut.clear()
    Seq("events", "orders", "lineitem", "customer").foreach { t =>
      spark.read.parquet(s"${ctx.dataDir}/$t.parquet").createOrReplaceTempView(s"src_$t")
    }
    val base = Workers.registry(spark)
    val registry = if (!ctx.trace) base else {
      val timed = new Dag.Registry
      base.names.foreach { name =>
        val build = base.lookup(name).get
        timed.register(name)(p => new TimedWorker(name, build(p), p))
      }
      timed
    }
    executor = Dag.newExecutor(ctx.cpus)
    api = new RestApi(registry, executor, spark = () => Some(spark))
    port = api.start()
    val rnd = new scala.util.Random(ctx.seed)
    val models = (0 until Models).map(i => model(rnd, i, ctx))
    val dags = (0 until Dags).map(j => dag(rnd, j, ctx))
    dags.foreach(d => spark.sql(s"CREATE DATABASE IF NOT EXISTS ${d.owner}"))
    items = rnd.shuffle(models.map(m => m: Item) ++ dags)
    items.foreach(_.register(this))
  }

  /** Every DAG once beside the first model's training, not counted: the
    * model lane then starts with that model's predictive pipeline. */
  def warmUp(spark: SparkSession, ctx: RunContext): Unit = {
    val first = items.collect { case m: ModelItem => m }.minBy(_.owner)
    Harness.parallel(first +: items.collect { case d: DagItem => d }, 1 + dagLanes(ctx)) {
      case m: ModelItem => runOp(m, m.trainingId, "training")
      case d: DagItem => runOp(d, d.id, "dag")
    }
    apiNanos.clear()
    completed.clear()
    ctx.layer.clear()
    Sinks.RecordingTransport.clear()
  }

  /**
   * Closed loop in lanes: one lane runs the models (each model's training,
   * then its predictive pipeline; the first model starts at its predictive
   * pipeline), `dagLanes` lanes share the DAGs (never two runs of one DAG
   * at once). Ops that end after the deadline are left out of the
   * metrics: the DAG lanes finish theirs, then the model pipeline still
   * running is stopped and its Spark jobs cancelled, and that model is left
   * out of the output check.
   */
  def run(spark: SparkSession, ctx: RunContext, deadlineNs: Long): (Seq[Op], Long) = {
    val models = items.collect { case m: ModelItem => m }.sortBy(_.owner)
    val dags = new java.util.ArrayDeque[DagItem]()
    items.foreach { case d: DagItem => dags.add(d); case _ => () }
    val ops = new ConcurrentLinkedQueue[Op]()
    def lane(next: () => (Item, Long, String), done: Item => Unit): Runnable = () =>
      while (System.nanoTime() < deadlineNs) {
        val (item, pid, kind) = next()
        if (ctx.trace) probeCompile(item, kind)
        val op = runOp(item, pid, kind)
        if (System.nanoTime() < deadlineNs) ops.add(op)
        done(item)
      }
    var m = 1 // the first model was trained in the warm-up
    val mlLane = lane(() => {
      val model = models((m / 2) % models.size)
      val kind = if (m % 2 == 0) "training" else "predictive"
      m += 1
      (model, if (kind == "training") model.trainingId else model.predictiveId, kind)
    }, _ => ())
    val dagLane = lane(() => dags.synchronized {
      while (dags.isEmpty) dags.wait()
      val d = dags.poll()
      (d, d.id, "dag")
    }, item => dags.synchronized { dags.add(item.asInstanceOf[DagItem]); dags.notifyAll() })
    ctx.spark.recording = ctx.trace
    val cpu0 = ctx.processCpuNs()
    val mlPool = Executors.newSingleThreadExecutor()
    val dagPool = Executors.newFixedThreadPool(dagLanes(ctx))
    mlPool.submit(mlLane)
    (1 to dagLanes(ctx)).foreach(_ => dagPool.submit(dagLane))
    mlPool.shutdown()
    dagPool.shutdown()
    Thread.sleep(math.max(0L, (deadlineNs - System.nanoTime()) / 1000000))
    ctx.spark.recording = false
    // ops overlap, so CPU is charged per window, not per op
    ctx.add("cpu.window_ns", ctx.processCpuNs() - cpu0)
    dagPool.awaitTermination(OpTimeoutMs, TimeUnit.MILLISECONDS)
    models.filter(m => live.containsKey(m.owner)).foreach { m =>
      cut.add(m.owner)
      m.pipelineIds.foreach(pid => api.get(pid).foreach(_.stop()))
    }
    // a cut worker keeps launching jobs after a cancel: cancel until done
    val give = System.nanoTime() + OpTimeoutMs * 1000000L
    do spark.sparkContext.cancelAllJobs()
    while (!mlPool.awaitTermination(100, TimeUnit.MILLISECONDS) && System.nanoTime() < give)
    (ops.asScala.toSeq, deadlineNs)
  }

  /** Start one pipeline over the REST API, wait for it, read its status. */
  private def runOp(item: Item, pid: Long, kind: String): Op = {
    val ctx = ctxRef
    val trace = new OpTrace(s"${item.owner}:$kind")
    live.put(item.owner, trace)
    val cpu0 = ctx.processCpuNs()
    trace.startNs = System.nanoTime()
    val (code, _) = http("POST", s"/api/pipelines/$pid/start")
    val status = api.get(pid).map(_.awaitCompletion(OpTimeoutMs).wire).getOrElse("missing")
    val t1 = System.nanoTime()
    val (getCode, body) = http("GET", s"/api/pipelines/$pid")
    live.remove(item.owner)
    val ok = code == 202 && getCode == 200 && status == "succeeded" &&
      body.contains("\"status\":\"succeeded\"")
    if (ok) completed.merge(trace.name, 1, (a, b) => a + b)
    if (ctx.trace) {
      trace.firstWorkerNs.foreach(t => ctx.add("core.start_ns", t - trace.startNs))
      ctx.add("core.handoff_ns", trace.handoffNs.sum)
    }
    Op(trace.name, (t1 - trace.startNs) / 1e9, (ctx.processCpuNs() - cpu0) / 1e9, ok,
      if (ok) "" else s"status $status (start $code): ${api.get(pid).map(_.failureMessages).getOrElse(Nil).mkString("; ").take(300)}")
  }

  /** Outside the op: time the plan compilers a user's request would run. */
  private def probeCompile(item: Item, kind: String): Unit = {
    val t0 = System.nanoTime()
    item match {
      case m: ModelItem =>
        val spec = if (kind == "training") MlModelPipelines.training(m.cfg)
          else MlModelPipelines.predictive(m.cfg)
        val t1 = System.nanoTime()
        ctxRef.add("plans.compile_ns", t1 - t0)
        bqRewrite(spec)
      case d: DagItem => bqRewrite(d.spec)
    }
  }

  private def bqRewrite(spec: PipelineSpec): Unit = {
    val t0 = System.nanoTime()
    spec.jobs.flatMap(_.params).filter(p => p.name == "script" || p.name == "query")
      .foreach(p => BqDialect.splitStatements(p.value).foreach(BqDialect.rewrite))
    ctxRef.add("plans.bq_rewrite_ns", System.nanoTime() - t0)
  }

  private[perfbench] def http(method: String, path: String, body: String = null): (Int, String) = {
    val t0 = System.nanoTime()
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    if (body != null) {
      c.setDoOutput(true)
      c.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val text = if (in == null) "" else new String(in.readAllBytes(), StandardCharsets.UTF_8)
    apiNanos.add(System.nanoTime() - t0)
    if (code / 100 != 2) ctxRef.add("api.non2xx", 1)
    ctxRef.add("api.requests", 1)
    (code, text)
  }

  /** Output checks (MlPipelinesSpec's end-to-end assertions): every
    * pipeline's tables are non-empty, exports exist, and the sink received
    * one post per output row (Ads: one conversion per row) per run. */
  def check(spark: SparkSession, ctx: RunContext): Set[String] = {
    val failed = mutable.Set.empty[String]
    val posts = Sinks.RecordingTransport.requests.asScala.toSeq
    def rows(t: String): Long = try spark.table(t).count() catch { case _: Throwable => -1L }
    items.filterNot(i => cut.contains(i.owner)).foreach {
      case m: ModelItem =>
        val ds = m.owner
        val trainRuns = completed.getOrDefault(s"$ds:training", 0)
        val predRuns = completed.getOrDefault(s"$ds:predictive", 0)
        if (trainRuns > 0 && (rows(s"$ds.training_dataset") <= 0 ||
            (m.cfg.isClassification && rows(s"$ds.conversion_values") <= 0)))
          failed += s"$ds:training"
        if (predRuns > 0) {
          val out = rows(s"$ds.output")
          val sent = m.cfg.destination match {
            case GoogleAnalyticsMpEvent =>
              posts.count(_._1.contains(s"measurement_id=${m.cfg.ga4MeasurementId}&")).toLong
            case GoogleAdsOfflineConversion =>
              posts.filter(_._1.contains(s"customers/${m.cfg.adsCustomerId}:"))
                .map(_._2.split("\"conversionAction\"", -1).length - 1L).sum
          }
          if (rows(s"$ds.predictions") <= 0 || out <= 0 || sent != out * predRuns)
            failed += s"$ds:predictive"
        }
      case d: DagItem =>
        if (completed.getOrDefault(s"${d.owner}:dag", 0) > 0) {
          val exported = Option(new File(d.exportDir).listFiles()).getOrElse(Array.empty)
            .exists(f => f.getName.startsWith("part-") && f.length > 0)
          if (d.tables.exists(t => rows(t) <= 0) || !exported) failed += s"${d.owner}:dag"
        }
    }
    ctx.add("workers.sink_posts", posts.size)
    // a collection between ops would stall the other lanes: the heap the
    // session retains is read once, after the window and the check, without
    // the recorded sink posts and the caches a cut pipeline left, and once
    // Spark's cleaner has dropped the blocks of collected broadcasts
    Sinks.RecordingTransport.clear()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    ctx.postGcHeapBytes()
    Thread.sleep(500)
    ctx.add("heap.peak_bytes", ctx.postGcHeapBytes())
    failed.toSet
  }

  override def shutdown(): Unit = {
    if (api != null) api.shutdown()
    if (executor != null) {
      executor.shutdown()
      executor.awaitTermination(60, TimeUnit.SECONDS)
    }
    api = null
    executor = null
  }

  override def layerMetrics: Map[String, Double] = {
    val req = apiNanos.asScala.map(_ / 1e9).toIndexedSeq.sorted
    Map("api.request_p50_s" -> Harness.percentile(req, 50))
  }

  override def facts: Map[String, Any] = Map(
    "cut_at_deadline" -> cut.size,
    "models" -> items.collect { case m: ModelItem =>
      s"${m.owner} ${m.cfg.modelType} ${m.cfg.source.wire} ${m.cfg.destination.wire} " +
        s"${m.cfg.dataset.suffixLo}-${m.cfg.dataset.suffixHi} features=${m.cfg.dataset.features.size}" },
    "dags" -> items.collect { case d: DagItem => s"${d.owner} jobs=${d.spec.jobs.size}" })

  /** Wraps a registry worker: times it per class, counts attempts and
    * failures, and tags its Spark jobs with the op's job group. */
  private final class TimedWorker(name: String, inner: Dag.Worker,
      params: Map[String, WorkerValue]) extends Dag.Worker {
    private var attempts = 0
    ctxRef.add("core.tasks", 1)
    override def maxAttempts: Int = inner.maxAttempts
    def execute(wctx: Dag.WorkerContext): Unit = {
      val ctx = ctxRef
      val op = ownerOf(params).flatMap(o => Option(live.get(o)))
      val sc = SparkSession.active.sparkContext
      val t0 = System.nanoTime()
      op.foreach(_.workerStarted(t0))
      attempts += 1
      ctx.add("core.attempts", 1)
      if (ctx.trace) sc.setJobGroup(JobGroups.task(name), name)
      try inner.execute(wctx)
      catch {
        case e: Throwable =>
          if (attempts >= math.max(1, maxAttempts)) ctx.add("core.failed_tasks", 1)
          throw e
      } finally {
        val t1 = System.nanoTime()
        if (ctx.trace) sc.clearJobGroup()
        ctx.add(s"workers.$name.busy_ns", t1 - t0)
        op.foreach(_.workerFinished(t1))
      }
    }
  }
}

object CrmWorkload {
  /** Lanes running DAGs beside the one model lane: with half the cores,
    * every pipeline in flight has a core of its own; never more lanes than
    * DAGs. */
  def dagLanes(ctx: RunContext): Int = math.max(1, math.min(Dags, ctx.cpus / 2))
  val Models = 4
  val Dags = 4
  val OpTimeoutMs = 120000L
  private val OwnerRe = "pb[md]_[0-9]+".r

  /** The model or DAG a worker's params belong to: every generated id,
    * table and script names its owner. */
  def ownerOf(params: Map[String, WorkerValue]): Option[String] =
    params.values.iterator.flatMap {
      case WorkerValue.S(v) => OwnerRe.findFirstIn(v)
      case _ => None
    }.nextOption()

  final class OpTrace(val name: String) {
    @volatile var startNs = 0L
    var firstWorkerNs: Option[Long] = None
    private var lastEndNs: Option[Long] = None
    val handoffNs = mutable.ArrayBuffer.empty[Long]
    def workerStarted(t: Long): Unit = synchronized {
      if (firstWorkerNs.isEmpty) firstWorkerNs = Some(t)
      lastEndNs.foreach(e => handoffNs += math.max(0L, t - e))
    }
    def workerFinished(t: Long): Unit = synchronized { lastEndNs = Some(t) }
  }

  sealed trait Item {
    def owner: String
    def register(w: CrmWorkload): Unit
    def pipelineIds: Seq[Long]
  }

  final class ModelItem(val owner: String, val cfg: MlModelSpec) extends Item {
    var trainingId = 0L
    var predictiveId = 0L
    def pipelineIds: Seq[Long] = Seq(trainingId, predictiveId)
    def register(w: CrmWorkload): Unit = {
      val (code, body) = w.http("POST", "/api/ml-models", MlModelPipelines.toJson(cfg))
      require(code == 201, s"model $owner rejected: $body")
      val ids = "\"id\":([0-9]+),\"name\":\"([^\"]*)\"".r.findAllMatchIn(body)
        .map(m => m.group(2) -> m.group(1).toLong).toMap
      trainingId = ids(s"${cfg.name} - Training")
      predictiveId = ids(s"${cfg.name} - Predictive")
    }
  }

  final class DagItem(val owner: String, val spec: PipelineSpec, val tables: Seq[String],
      val exportDir: String) extends Item {
    var id = 0L
    def pipelineIds: Seq[Long] = Seq(id)
    def register(w: CrmWorkload): Unit = {
      val (code, body) = w.http("POST", "/api/pipelines", Spec.toJson(spec))
      require(code == 201, s"pipeline $owner rejected: $body")
      id = "\"id\":([0-9]+)".r.findFirstMatchIn(body).get.group(1).toLong
    }
  }

  /** Half the models classify, half regress: the types that train in
    * seconds on these inputs. */
  private val ModelTypes = Seq("LOGISTIC_REG", "LINEAR_REG")
  /** By model index: the first-party models train in seconds, so the model
    * lane completes pipelines inside the window; the GA-source models
    * follow (their dataset build is the one sql_analytics times as
    * ml_training_dataset). */
  private val Sources = Seq(FirstParty, FirstParty, GoogleAnalyticsAndFirstParty, GoogleAnalytics)
  private val Destinations = Seq(GoogleAnalyticsMpEvent, GoogleAdsOfflineConversion)
  private val FeaturePool = Seq(
    MlCompiler.GaFeature("error"),
    MlCompiler.GaFeature("click"),
    MlCompiler.GaFeature("signup"),
    MlCompiler.GaFeature("view", key = "medium", cmp = MlCompiler.Equal, value = "cpc",
      valueIsString = true, description = "view_cpc"),
    MlCompiler.GaFeature("view", key = "k", cmp = MlCompiler.Greater, value = "50",
      description = "view_k50"),
    MlCompiler.GaFeature("click", key = "k", cmp = MlCompiler.Less, value = "30",
      description = "click_k30"))

  def model(rnd: scala.util.Random, i: Int, ctx: RunContext): ModelItem = {
    val owner = s"pbm_$i"
    // type and source are stratified by index, so the model lane starts
    // with the same kind of model under every seed
    val modelType = ModelTypes(i % ModelTypes.size)
    val classification = ClassificationTypes.contains(modelType)
    val source = Sources(i % Sources.size)
    val lo = 2 + rnd.nextInt(6)
    val hi = lo + 14 + rnd.nextInt(8)
    val features = rnd.shuffle(FeaturePool).take(2 + rnd.nextInt(3))
    val dataset = MlCompiler.MlModel(
      isClassification = classification,
      uniqueId = "user_pseudo_id",
      features = features,
      label = MlCompiler.GaLabel("purchase", "k"),
      suffixLo = f"202401$lo%02d", suffixHi = f"202401$hi%02d",
      triggerEvent = if (classification) None else Some(MlCompiler.GaTrigger("signup", "k")),
      classImbalance = 1 + rnd.nextInt(4), conversionRateSegments = 10,
      averageConversionValue = 10.0 + rnd.nextInt(40), hashSplit = false,
      engagementEvent = "view")
    val roles = MlCompiler.FpRoles(uniqueId = "customer_id",
      features = Seq("n_events", "total_value"), label = Some("purchased"),
      firstValue = if (classification) None else Some("total_value"),
      triggerDate = Some("first_seen"))
    val cfg = MlModelSpec(
      name = s"Model $i", modelType = modelType, dataset = dataset,
      projectId = "perfbench", bqDatasetId = owner, bqDatasetLocation = "US",
      destination = Destinations(rnd.nextInt(Destinations.size)),
      ga4MeasurementId = s"G-PBM$i", ga4ApiSecret = "bench-secret",
      adsCustomerId = s"${1000 + i}", adsConversionActionId = s"${i + 1}",
      hyperParameters = Seq("MAX_ITERATIONS" -> (3 + rnd.nextInt(3)).toString),
      clickEvent = "click", source = source,
      fpTable = if (source.hasFp) s"${ctx.dataDir}/first_party.parquet" else "",
      fpRoles = if (source.hasFp) Some(roles) else None,
      fpGclid = if (source == FirstParty) "gclid" else "",
      sourceDir = if (source.hasGa) ctx.dataDir else "",
      workDir = s"${ctx.workDir}/crm/$owner")
    new ModelItem(owner, cfg)
  }

  private def job(id: String, name: String, worker: String, params: Seq[(String, ParamType, String)],
      after: Seq[(String, Condition)] = Nil): JobSpec =
    JobSpec(id, name, worker, params.map { case (n, t, v) => ParamSpec(n, t, v) },
      after.map { case (j, c) => StartConditionSpec(j, c) })

  /** A SQL DAG: query → script (DECLARE + CTAS) → export, chained on
    * success/whatever; half of them add a failing comment job whose
    * `fail` edge starts a second query. */
  def dag(rnd: scala.util.Random, j: Int, ctx: RunContext): DagItem = {
    val ds = s"pbd_$j"
    val day = 1 + rnd.nextInt(20)
    val groupCol = Seq("event_type", "user_id % 10")(rnd.nextInt(2))
    val q1 = s"SELECT user_id, event_type, COUNT(*) AS n, SUM(value) AS total " +
      f"FROM src_events WHERE ts >= TIMESTAMP '2024-01-$day%02d' GROUP BY user_id, event_type"
    val script =
      s"""DECLARE min_n DEFAULT (SELECT CAST(percentile_approx(n, 0.5) AS INT) FROM $ds.agg);
         |DROP TABLE IF EXISTS $ds.top;
         |CREATE TABLE $ds.top USING parquet AS
         |SELECT $groupCol AS grp, SUM(total) AS total, COUNT(*) AS users
         |FROM $ds.agg WHERE n >= min_n GROUP BY $groupCol""".stripMargin
    val exportDir = s"${ctx.workDir}/crm/$ds/export"
    val base = Seq(
      job("q", s"$ds aggregate", "BQQueryLauncher", Seq(
        ("query", ParamType.Sql, q1), ("bq_table_id", ParamType.PString, s"$ds.agg"))),
      job("s", s"$ds script", "BQScriptExecutor", Seq(("script", ParamType.Sql, script)),
        Seq("q" -> Condition.Success)),
      job("e", s"$ds export", "BQToStorageExporter", Seq(
        ("bq_table_id", ParamType.PString, s"$ds.top"),
        ("destination_uri", ParamType.PString, exportDir),
        ("export_json", ParamType.PBoolean, if (rnd.nextBoolean()) "1" else "0")),
        Seq("s" -> Condition.Whatever)))
    val withFallback = rnd.nextBoolean()
    val extra = if (!withFallback) Nil else Seq(
      job("c", s"$ds probe", "Commenter", Seq(
        ("comment", ParamType.PString, ds), ("fail_at_the_end", ParamType.PBoolean, "1"))),
      job("f", s"$ds fallback", "BQQueryLauncher", Seq(
        ("query", ParamType.Sql, s"SELECT o_orderpriority, COUNT(*) AS n, SUM(l_quantity) AS qty " +
          "FROM src_orders JOIN src_lineitem ON o_orderkey = l_orderkey GROUP BY o_orderpriority"),
        ("bq_table_id", ParamType.PString, s"$ds.fallback")),
        Seq("c" -> Condition.Fail)))
    val tables = Seq(s"$ds.agg", s"$ds.top") ++ (if (withFallback) Seq(s"$ds.fallback") else Nil)
    new DagItem(ds, PipelineSpec(s"$ds pipeline", base ++ extra), tables, exportDir)
  }
}
