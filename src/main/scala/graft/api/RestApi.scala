package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.core.{Dag, Spec}
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

/**
 * Thin REST facade mirroring the reference's controller API surface
 * (SURVEY §7.1.8; `backend/controller/pipeline/views.py:379-389`,
 * `backend/jobs_app.py:50-57`) on the JDK's built-in HTTP server — no
 * web-framework dependency, parity-testing only:
 *
 *   GET  /api/workers                 → registered worker class names
 *   GET  /api/pipelines               → pipeline summaries
 *   POST /api/pipelines               → import a PipelineSpec JSON
 *   GET  /api/pipelines/{id}          → detail incl. per-job statuses
 *   POST /api/pipelines/{id}/start    → start (202, like the async starter)
 *   POST /api/pipelines/{id}/stop     → stop
 *   GET  /api/pipelines/{id}/export   → the export-format JSON
 *
 * Jobs blueprint (`job/views.py:69-160` — jobs are rows of a pipeline):
 *
 *   GET  /api/jobs?pipeline_id={id}   → job list (all pipelines without the filter)
 *   GET  /api/jobs/{pid}/{jobId}      → single job detail
 *   PUT  /api/jobs/{pid}/{jobId}      → update name/worker/params (409 while active)
 *
 * ML-models blueprint (`ml_model/views.py:145-244`): a stored model
 * config owns its two compiled pipelines; POST/PUT (re)build them via
 * [[graft.plans.MlModelPipelines]] exactly like `build_pipelines`:
 *
 *   GET    /api/ml-models/variables   → GA4 + first-party feature/label discovery
 *   GET    /api/ml-models             → model summaries
 *   POST   /api/ml-models             → create + compile training/predictive pipelines
 *   GET    /api/ml-models/{id}        → model + its pipelines
 *   PUT    /api/ml-models/{id}        → update + recompile pipelines (409 while active)
 *   DELETE /api/ml-models/{id}        → delete model + its pipelines (409 while active)
 *
 * The 3-service Pub/Sub loop of the reference collapses into the
 * in-process [[Dag.PipelineRun]] scheduler; statuses surface with the
 * same vocabulary (idle/running/stopping/failed/succeeded).
 */
final class RestApi(registry: Dag.Registry,
    executor: java.util.concurrent.ScheduledExecutorService,
    // the reference binds general settings + the bigquery() table peek into
    // every run's render session (inline.py:51-80); an embedding with a
    // SparkSession passes `Workers.sparkTablePeek(spark)` here — the
    // default session makes any bigquery()-using import fail at start
    generalSettings: Map[String, String] = Map.empty,
    session: () => graft.core.Templates.Session = () => new graft.core.Templates.Session(),
    // the variables endpoint introspects tables, which needs an engine
    // session (the reference's BigQuery client analog); embeddings that
    // don't serve it can leave the default and get a 400 on that route
    spark: () => Option[org.apache.spark.sql.SparkSession] = () => None) {

  private val pipelines = TrieMap.empty[Long, Dag.PipelineRun]
  private val nextId = new AtomicLong(0)
  // model id → (model config, its compiled pipeline ids)
  private val mlModels = TrieMap.empty[Long, (graft.plans.MlModelPipelines.MlModelSpec, Seq[Long])]
  private val nextModelId = new AtomicLong(0)

  def create(spec: Spec.PipelineSpec): Long = {
    val id = nextId.incrementAndGet()
    pipelines.put(id, new Dag.PipelineRun(spec, registry, executor,
      generalSettings = generalSettings, session = session))
    id
  }

  def get(id: Long): Option[Dag.PipelineRun] = pipelines.get(id)

  private def summary(id: Long, p: Dag.PipelineRun): JObject = JObject(
    "id" -> JLong(id),
    "name" -> JString(p.spec.name),
    "status" -> JString(p.status.wire))

  private def detail(id: Long, p: Dag.PipelineRun): JObject = JObject(
    "id" -> JLong(id),
    "name" -> JString(p.spec.name),
    "status" -> JString(p.status.wire),
    "jobs" -> JArray(p.spec.jobs.toList.map { j =>
      JObject(
        "id" -> JString(j.id),
        "name" -> JString(j.name),
        "worker_class" -> JString(j.workerClass),
        "status" -> JString(p.jobs(j.id).status.wire))
    }))

  private def respond(x: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(status, bytes.length)
    x.getResponseBody.write(bytes)
    x.close()
  }

  // ---- jobs blueprint ----

  private def jobJson(pid: Long, p: Dag.PipelineRun, j: Spec.JobSpec): JObject = JObject(
    "id" -> JString(j.id),
    "pipeline_id" -> JLong(pid),
    "name" -> JString(j.name),
    "worker_class" -> JString(j.workerClass),
    "status" -> JString(p.jobs(j.id).status.wire),
    "params" -> JArray(j.params.toList.map(pp => JObject(
      "name" -> JString(pp.name),
      "type" -> JString(pp.ptype.wire),
      "value" -> JString(pp.value)): JValue)),
    "hash_start_conditions" -> JArray(j.startConditions.toList.map(sc => JObject(
      "preceding_job_id" -> JString(sc.precedingJobId),
      "condition" -> JString(sc.condition.wire)): JValue)))

  /** PUT body → updated JobSpec fields (job/views.py:94-108: name,
    * worker_class, params; conditions untouched unless sent). */
  private def updateJob(pid: Long, jobId: String, body: String): Option[JObject] =
    pipelines.get(pid).flatMap { p =>
      p.spec.jobs.find(_.id == jobId).map { old =>
        if (p.status == Dag.PipelineStatus.Running || p.status == Dag.PipelineStatus.Stopping)
          throw new IllegalStateException("pipeline is active")
        val root = JsonMethods.parse(body)
        def strOr(k: String, d: String) =
          root \ k match { case JString(s) => s; case _ => d }
        val params = root \ "params" match {
          case JArray(arr) => arr.map { v =>
            val JString(n) = v \ "name"
            Spec.ParamSpec(n,
              Spec.ParamType.fromWire(v \ "type" match { case JString(t) => t; case _ => "string" }),
              Spec.paramValueString(v \ "value")) // numbers/bools coerce like the import codec
          }
          case _ => old.params
        }
        val conditions = root \ "hash_start_conditions" match {
          case JArray(arr) => arr.map { sc =>
            val pjid = sc \ "preceding_job_id" match {
              case JString(s) => s
              case JInt(i) => i.toString
              case _ => ""
            }
            Spec.StartConditionSpec(pjid, Spec.Condition.fromWire(
              sc \ "condition" match { case JString(c) => c; case _ => "whatever" }))
          }
          case _ => old.startConditions
        }
        val updated = old.copy(name = strOr("name", old.name),
          workerClass = strOr("worker_class", old.workerClass), params = params,
          startConditions = conditions)
        val newSpec = p.spec.copy(jobs = p.spec.jobs.map(j => if (j.id == jobId) updated else j))
        val replaced = new Dag.PipelineRun(newSpec, registry, executor,
          generalSettings = generalSettings, session = session)
        pipelines.put(pid, replaced)
        jobJson(pid, replaced, updated)
      }
    }

  // ---- ml-models blueprint ----

  private def mlModelJson(id: Long, cfg: graft.plans.MlModelPipelines.MlModelSpec,
      pids: Seq[Long]): JObject = {
    val JObject(modelFields) =
      JsonMethods.parse(graft.plans.MlModelPipelines.toJson(cfg))
    JObject(("id" -> (JLong(id): JValue)) +: modelFields :+
      ("pipelines" -> (JArray(pids.toList.flatMap(pid =>
        pipelines.get(pid).map(p => summary(pid, p): JValue))): JValue)))
  }

  private def modelPipelinesActive(pids: Seq[Long]): Boolean =
    pids.flatMap(pipelines.get).exists(p =>
      p.status == Dag.PipelineStatus.Running || p.status == Dag.PipelineStatus.Stopping)

  /** `ml_model/views.py:335-355` build_pipelines: compile + attach the
    * training and predictive pipelines for a model config. Both specs
    * compile BEFORE either is registered, so a validation failure in the
    * second cannot leave an orphaned first pipeline behind. */
  private def buildModelPipelines(cfg: graft.plans.MlModelPipelines.MlModelSpec): Seq[Long] = {
    val specs = Seq(graft.plans.MlModelPipelines.training(cfg),
      graft.plans.MlModelPipelines.predictive(cfg))
    specs.map(create)
  }

  private def putMlModel(id: Long, body: String): JObject = {
    val cfg = graft.plans.MlModelPipelines.fromJson(body)
    val oldPids = mlModels.get(id).map(_._2).getOrElse(Nil)
    if (modelPipelinesActive(oldPids)) throw new IllegalStateException("pipeline is active")
    // build FIRST, remove after: a compile/validation failure must leave
    // the model's existing pipelines exactly as they were (the 400 the
    // client gets would otherwise hide that the old pipelines are gone)
    val pids = buildModelPipelines(cfg)
    oldPids.foreach(pipelines.remove)
    mlModels.put(id, (cfg, pids))
    mlModelJson(id, cfg, pids)
  }

  /**
   * `GET /api/ml-models/variables` (`ml_model/views.py:246-291`
   * MlModelVariables): the GA4 event/parameter inventory and/or the
   * first-party table's usable columns, for the UI's feature/label
   * picker. Query params replace the reference's JSON-blob args:
   *
   *   - `ga_dir`   → run the analytics discovery query
   *                  ([[graft.queries.Ml.mlVariableDiscovery]]) over that
   *                  source dir; 400 if it yields no events (the
   *                  reference aborts 400 on an empty result too);
   *   - `fp_table` → introspect that table's schema
   *                  ([[graft.queries.Ml.firstPartyVariables]] — JSON and
   *                  nested columns dropped, `bigquery.py:158-161`).
   *
   * Wire shape matches `ml_variable_structure`: name / count / source /
   * parameters[key, value_type].
   */
  private def variablesJson(params: Map[String, String]): JArray = {
    val s = spark().getOrElse(
      throw new IllegalArgumentException("variables endpoint needs an engine session"))
    val ga = params.get("ga_dir").map { dir =>
      // the discovery query caches its pruned events slice until collected
      val scope = new graft.core.QueryCaches.CacheScope
      val rows = try scope(graft.queries.Ml.mlVariableDiscovery(s, dir).collect())
        finally scope.release()
      if (rows.isEmpty) throw new IllegalArgumentException(
        "GA4 dataset does not include expected events tables. " +
          "Check configuration (source dir and timespan) and try again.")
      // rows arrive (name, count, parameter_key, parameter_value_type)
      // sorted by (name, key): group consecutive runs like views.py:135-143
      rows.toSeq.groupBy(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1._1)
        .map { case ((name, count), ps) => JObject(
          "name" -> JString(name),
          "count" -> JLong(count),
          "source" -> JString("GOOGLE_ANALYTICS"),
          "parameters" -> JArray(ps.toList.map(p => JObject(
            "key" -> JString(p.getString(2)),
            "value_type" -> JString(p.getString(3))): JValue))): JValue }
    }.getOrElse(Seq.empty)
    val fp = params.get("fp_table").map { table =>
      graft.queries.Ml.firstPartyVariables(s, table).map { case (name, tpe) => JObject(
        "name" -> JString(name),
        "count" -> JLong(0L),
        "source" -> JString("FIRST_PARTY"),
        "parameters" -> JArray(List(JObject(
          "key" -> JString("value"),
          "value_type" -> JString(tpe)): JValue))): JValue }
    }.getOrElse(Seq.empty)
    if (params.get("ga_dir").isEmpty && params.get("fp_table").isEmpty)
      throw new IllegalArgumentException("pass ga_dir and/or fp_table")
    JArray((ga ++ fp).toList)
  }

  private def queryParams(x: HttpExchange): Map[String, String] =
    Option(x.getRequestURI.getQuery).toSeq.flatMap(_.split("&").toSeq).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
        case _ => None
      }
    }.toMap

  private val PipelineIdRe = raw"/api/pipelines/(\d+)".r
  private val PipelineActionRe = raw"/api/pipelines/(\d+)/(start|stop|export)".r
  private val JobIdRe = raw"/api/jobs/(\d+)/([^/]+)".r
  private val MlModelIdRe = raw"/api/ml-models/(\d+)".r

  private def handle(x: HttpExchange): Unit = {
    val path = x.getRequestURI.getPath
    val method = x.getRequestMethod
    try (method, path) match {
      case ("GET", "/api/workers") =>
        respond(x, 200, JsonMethods.compact(JArray(
          registry.names.toList.map(JString(_)))))
      case ("GET", "/api/pipelines") =>
        respond(x, 200, JsonMethods.compact(JArray(
          pipelines.toList.sortBy(_._1).map { case (id, p) => summary(id, p) })))
      case ("POST", "/api/pipelines") =>
        val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val spec = Spec.fromJson(body)
        val id = create(spec)
        respond(x, 201, JsonMethods.compact(summary(id, pipelines(id))))
      case ("POST", PipelineActionRe(id, action)) =>
        pipelines.get(id.toLong) match {
          case None => respond(x, 404, """{"error":"not found"}""")
          case Some(p) => action match {
            case "start" =>
              val ok = p.start()
              respond(x, if (ok) 202 else 409, JsonMethods.compact(summary(id.toLong, p)))
            case "stop" =>
              p.stop()
              respond(x, 200, JsonMethods.compact(summary(id.toLong, p)))
            case _ => respond(x, 405, """{"error":"method"}""")
          }
        }
      case ("GET", PipelineActionRe(id, "export")) =>
        pipelines.get(id.toLong) match {
          case None => respond(x, 404, """{"error":"not found"}""")
          case Some(p) => respond(x, 200, Spec.toJson(p.spec))
        }
      case ("GET", PipelineIdRe(id)) =>
        pipelines.get(id.toLong) match {
          case None => respond(x, 404, """{"error":"not found"}""")
          case Some(p) => respond(x, 200, JsonMethods.compact(detail(id.toLong, p)))
        }
      case ("GET", "/api/jobs") =>
        val wanted = Option(x.getRequestURI.getQuery).flatMap(
          _.split("&").collectFirst {
            case kv if kv.startsWith("pipeline_id=") => kv.stripPrefix("pipeline_id=").toLong })
        val rows = pipelines.toList.sortBy(_._1)
          .filter { case (pid, _) => wanted.forall(_ == pid) }
          .flatMap { case (pid, p) => p.spec.jobs.map(j => jobJson(pid, p, j): JValue) }
        respond(x, 200, JsonMethods.compact(JArray(rows)))
      case ("GET", JobIdRe(pid, jobId)) =>
        pipelines.get(pid.toLong).flatMap(p => p.spec.jobs.find(_.id == jobId)
          .map(j => jobJson(pid.toLong, p, j))) match {
          case None => respond(x, 404, """{"error":"not found"}""")
          case Some(j) => respond(x, 200, JsonMethods.compact(j))
        }
      case ("PUT", JobIdRe(pid, jobId)) =>
        val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        try updateJob(pid.toLong, jobId, body) match {
          case None => respond(x, 404, """{"error":"not found"}""")
          case Some(j) => respond(x, 200, JsonMethods.compact(j))
        } catch {
          case _: IllegalStateException => respond(x, 409, """{"error":"pipeline is active"}""")
        }
      case ("GET", "/api/ml-models/variables") =>
        respond(x, 200, JsonMethods.compact(variablesJson(queryParams(x))))
      case ("GET", "/api/ml-models") =>
        respond(x, 200, JsonMethods.compact(JArray(
          mlModels.toList.sortBy(_._1).map { case (id, (cfg, pids)) =>
            mlModelJson(id, cfg, pids): JValue })))
      case ("POST", "/api/ml-models") =>
        val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val id = nextModelId.incrementAndGet()
        respond(x, 201, JsonMethods.compact(putMlModel(id, body)))
      case ("GET", MlModelIdRe(id)) =>
        mlModels.get(id.toLong) match {
          case None => respond(x, 404, """{"error":"not found"}""")
          case Some((cfg, pids)) =>
            respond(x, 200, JsonMethods.compact(mlModelJson(id.toLong, cfg, pids)))
        }
      case ("PUT", MlModelIdRe(id)) =>
        if (!mlModels.contains(id.toLong)) respond(x, 404, """{"error":"not found"}""")
        else {
          val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          try respond(x, 200, JsonMethods.compact(putMlModel(id.toLong, body)))
          catch {
            case _: IllegalStateException => respond(x, 409, """{"error":"pipeline is active"}""")
          }
        }
      case ("DELETE", MlModelIdRe(id)) =>
        mlModels.get(id.toLong) match {
          case None => respond(x, 404, """{"error":"not found"}""")
          case Some((_, pids)) =>
            if (modelPipelinesActive(pids)) respond(x, 409, """{"error":"pipeline is active"}""")
            else {
              pids.foreach(pipelines.remove)
              mlModels.remove(id.toLong)
              respond(x, 204, "")
            }
        }
      case _ => respond(x, 404, """{"error":"no route"}""")
    } catch {
      case e: Exception =>
        respond(x, 400, JsonMethods.compact(JObject(
          "error" -> JString(Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))))
    }
  }

  private var server: HttpServer = _

  /** Binds on an ephemeral (or given) port; returns the bound port. */
  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/api", (x: HttpExchange) => handle(x))
    server.setExecutor(null) // current-thread dispatch; parity tests only
    server.start()
    server.getAddress.getPort
  }

  def shutdown(): Unit = if (server != null) server.stop(0)
}
