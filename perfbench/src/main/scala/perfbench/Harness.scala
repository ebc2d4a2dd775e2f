package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One completed op of a workload. `cpuS` is process CPU time over the op
  * (unused where ops overlap: the workload then records the window's CPU). */
final case class Op(name: String, latencyS: Double, cpuS: Double, ok: Boolean,
    error: String = "")

/** A closed-loop workload. `prepare` runs in every set-up repetition (after
  * the session and the events layout exist); `warmUp` runs once, on the
  * timed inputs, before the timed phase; `run` drives ops until the
  * deadline; `check` validates outputs after the timed phase and returns
  * the names of ops that failed it. */
trait Workload {
  def prepare(spark: SparkSession, ctx: RunContext): Unit
  def warmUp(spark: SparkSession, ctx: RunContext): Unit
  /** The completed ops and the end of the measured window. */
  def run(spark: SparkSession, ctx: RunContext, deadlineNs: Long): (Seq[Op], Long)
  def check(spark: SparkSession, ctx: RunContext): Set[String]
  def shutdown(): Unit = ()
  /** Per-layer metrics this workload adds to the traced report. */
  def layerMetrics: Map[String, Double] = Map.empty
  def facts: Map[String, Any] = Map.empty
}

final class RunContext(val seed: Long, val trace: Boolean, val dataDir: String,
    val workDir: String, val cpus: Int) {
  val spark = new SparkLayer
  /** Seconds and counts measured from outside the program's modules,
    * summed over the timed phase (keys are per-layer metric names). */
  val layer = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  def add(key: String, v: Long): Unit = layer.computeIfAbsent(key, _ => new LongAdder).add(v)
  def sum(key: String): Long = Option(layer.get(key)).map(_.sum).getOrElse(0L)
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  /** Heap in use after a full collection. */
  def postGcHeapBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

object Harness {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("plan-shape")) return planShapeCheck(a("plan-shape"), a("data"), a("work"))
    val cpus = Runtime.getRuntime.availableProcessors
    val ctx = new RunContext(a("seed").toLong, a("trace") == "1", a("data"), a("work"), cpus)
    val workload: Workload = a("workload") match {
      case "sql_analytics" => new QueryWorkload(QueryWorkload.SqlAnalytics)
      case "crm_pipelines" => new CrmWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val report = measure(workload, ctx, a("seconds").toDouble)
    Files.write(Paths.get(a("out")), Json.write(report).getBytes(StandardCharsets.UTF_8))
  }

  def session(ctx: RunContext): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${ctx.workDir}/warehouse")
      .config("spark.local.dir", s"${ctx.workDir}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Cumulative (total, steal) jiffies of the host from /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+")
        .drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }

  /** Apply `f` to every element on `threads` threads; waits for all. */
  def parallel[A](xs: Seq[A], threads: Int)(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) })).foreach(_.get())
    finally pool.shutdown()
  }

  def percentile(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1, math.max(0, math.ceil(p / 100 * sorted.size).toInt - 1)))

  /** Set up `SetupReps` times (fresh session, fresh events layout, workload
    * prepare; the last one is kept), warm up once, run the timed phase,
    * then check outputs. `setup_s` is the median repetition plus the
    * warm-up. */
  def measure(w: Workload, ctx: RunContext, seconds: Double): Map[String, Any] = {
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to SetupReps) {
      if (spark != null) { w.shutdown(); stop(spark) }
      val t0 = System.nanoTime()
      deleteTree(new File(System.getProperty("java.io.tmpdir"), "graft_wildcard"))
      spark = session(ctx)
      graft.sources.WildcardTable.eventsPath(spark, ctx.dataDir)
      w.prepare(spark, ctx)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmUp(spark, ctx)
    val warmS = (System.nanoTime() - w0) / 1e9
    if (ctx.trace) {
      spark.sparkContext.addSparkListener(ctx.spark)
      ctx.spark.attachLogCounter()
    }
    System.gc()
    val (tot0, steal0) = cpuJiffies()
    val t0 = System.nanoTime()
    val (ops, endNs) = w.run(spark, ctx, t0 + (seconds * 1e9).toLong)
    val elapsedS = (endNs - t0) / 1e9
    val (tot1, steal1) = cpuJiffies()
    ctx.spark.recording = false
    val failedChecks = w.check(spark, ctx)
    val checked = ops.map(o => if (o.ok && failedChecks.contains(o.name))
      o.copy(ok = false, error = "output check failed") else o)
    val report = this.report(w, ctx, spark, checked, elapsedS, setups.toSeq, warmS,
      if (tot1 > tot0) (steal1 - steal0).toDouble / (tot1 - tot0) else 0.0)
    w.shutdown()
    stop(spark)
    report
  }

  private def report(w: Workload, ctx: RunContext, spark: SparkSession, ops: Seq[Op],
      elapsedS: Double, setups: Seq[Double], warmS: Double, stealFrac: Double): Map[String, Any] = {
    val lat = ops.map(_.latencyS).sorted.toIndexedSeq
    val n = ops.size
    // the highest percentile with at least ten samples beyond it
    val tailPct = if (n >= 20) math.floor(100.0 * (n - 10) / n) else 50.0
    val e2e = Map[String, Any](
      "setup_s" -> (setups.sorted.apply(setups.size / 2) + warmS),
      "ops_per_min" -> (if (elapsedS > 0) n / elapsedS * 60 else 0.0),
      "latency_p50_s" -> percentile(lat, 50),
      "latency_tail_s" -> percentile(lat, tailPct),
      "cpu_s_per_op" -> (if (n == 0) 0.0 else if (ctx.layer.containsKey("cpu.window_ns"))
        ctx.sum("cpu.window_ns") / 1e9 / n else ops.map(_.cpuS).sum / n),
      "peak_heap_mb" -> ctx.sum("heap.peak_bytes") / 1048576.0,
      "failed_frac" -> (if (n > 0) ops.count(!_.ok).toDouble / n else 1.0))
    val perOp = (v: Double) => if (n > 0) v / n else 0.0
    val l = ctx.spark
    val layers: Map[String, Any] = if (!ctx.trace) Map.empty else Map(
      "spark.jobs" -> perOp(l.jobs.sum),
      "spark.stages" -> perOp(l.stages.sum),
      "spark.tasks" -> perOp(l.tasks.sum),
      "spark.task_wait_s" -> perOp(l.taskWaitMs.sum / 1e3),
      "spark.task_run_s" -> perOp(l.taskRunMs.sum / 1e3),
      "spark.task_cpu_s" -> perOp(l.taskCpuNs.sum / 1e9),
      "spark.gc_s" -> perOp(l.gcMs.sum / 1e3),
      "spark.shuffle_read_bytes" -> perOp(l.shuffleRead.sum),
      "spark.shuffle_write_bytes" -> perOp(l.shuffleWrite.sum),
      "spark.spill_bytes" -> perOp(l.spill.sum),
      "spark.cache_put_bytes" -> perOp(l.cachePutBytes.sum),
      "spark.cache_dup_puts" -> perOp(l.cacheReputs.sum + l.cacheAlreadyExists.sum),
      "spark.cache_put_useful_frac" -> {
        val attempts = l.cachePuts.sum + l.cacheAlreadyExists.sum
        if (attempts > 0) l.cacheFirstPuts.sum.toDouble / attempts else 1.0
      },
      "spark.failed_tasks" -> perOp(l.failedTasks.sum),
      "queries.construct_jobs" -> perOp(l.constructJobs.sum),
      "trace.ops_per_min" -> e2e("ops_per_min")) ++ layerSums(ctx, perOp) ++ w.layerMetrics
    val conf = spark.sparkContext.getConf
    Map(
      "attempted" -> n,
      "failed" -> ops.count(!_.ok),
      "end_to_end" -> e2e,
      "per_layer" -> layers,
      "latency_tail_pct" -> tailPct,
      "latency_samples" -> n,
      "setup_reps_s" -> setups,
      "warmup_s" -> warmS,
      "timed_s" -> elapsedS,
      "errors" -> ops.filterNot(_.ok).map(o => s"${o.name}: ${o.error}").distinct.take(20),
      "op_counts" -> ops.groupBy(_.name).map { case (k, v) => k -> v.size },
      "op_median_s" -> ops.groupBy(_.name).map { case (k, v) =>
        k -> percentile(v.map(_.latencyS).sorted.toIndexedSeq, 50) },
      "host" -> Map(
        "nproc" -> ctx.cpus,
        "steal_frac" -> stealFrac,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "driver_memory" -> conf.get("spark.driver.memory", "(jvm -Xmx)")),
      "workload" -> w.facts)
  }

  /** The harness's own layer counters as per-op means; `_ns` sums are
    * reported in seconds under an `_s` name. */
  private def layerSums(ctx: RunContext, perOp: Double => Double): Map[String, Double] =
    ctx.layer.asScala.toMap.collect {
      case (k, v) if !k.startsWith("heap.") && !k.startsWith("cpu.") =>
        if (k.endsWith("_ns")) k.stripSuffix("_ns") + "_s" -> perOp(v.sum / 1e9)
        else k -> perOp(v.sum.toDouble)
    }

  /** Plan-structure self-check: the [[PlanShape]] of one query, built (its
    * eager driver jobs run) but not executed, beside the counts of the
    * numbered operator table a formatted `explain` prints for that plan. */
  private def planShapeCheck(query: String, data: String, work: String): Unit = {
    val ctx = new RunContext(0, false, data, work, Runtime.getRuntime.availableProcessors)
    val spark = session(ctx)
    val qe = graft.SparkEntry.queries(query)(spark, data).queryExecution
    val text = qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val table = text.split("\n").filter(_.matches("^\\([0-9]+\\) .*"))
    def numbered(op: String) = table.count(_.matches(s"^\\([0-9]+\\) $op\\b.*"))
    val codegenIds = "\\[codegen id : ([0-9]+)\\]".r.findAllMatchIn(text).map(_.group(1)).toSet
    println(s"$query ${PlanShape.of(qe.executedPlan)} formatted: Exchange=${numbered("Exchange")} " +
      s"InMemoryRelation=${numbered("InMemoryRelation")} codegen-ids=${codegenIds.size}")
    stop(spark)
  }
}

/** Minimal JSON writer for the report (maps, sequences, numbers, strings). */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case x => quote(x.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Records the QueryExecution of every action finished on the bus; the
  * query workloads read the op's last one (its noop write). */
final class ActionRecorder extends QueryExecutionListener {
  @volatile var last: QueryExecution = _
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = last = qe
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = last = qe
}

object QueryWorkload {
  case class Spec(name: String, queries: Seq[String])

  /** Short and medium queries over the star schema, the events stream and
    * the corpus: a relational aggregate, a join, scripting, events with
    * eager rank offsets, a funnel, GA4 parameters, an ML dataset builder
    * and the bigram LM. */
  val SqlAnalytics = Spec("sql_analytics", Seq(
    "q1_agg", "q4_join_agg", "q20_scripting", "q11_ntile", "q_funnel",
    "ga4_param_counters", "ml_training_dataset", "text_lm_heldout_ppl"))
}

/**
 * One client over a seed-shuffled fixed list of `SparkEntry.queries`: each
 * op constructs the query (its eager driver jobs included) and writes its
 * result as parquet, after op isolation (caches dropped, listener bus
 * drained so `QueryCaches.owned` releases have fired). Every op's output
 * is kept for the oracle check.
 */
final class QueryWorkload(spec: QueryWorkload.Spec) extends Workload {
  private val recorder = new ActionRecorder
  /** The loop replays the list in this fixed order (the seed varies the
    * data): a window then covers the same ops under every seed, where a
    * seed-shuffled order let the partial last pass change the mix. */
  private val order = spec.queries

  private def drain(spark: SparkSession): Unit = org.apache.spark.BusAccess.drain(spark.sparkContext)

  private def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def prepare(spark: SparkSession, ctx: RunContext): Unit =
    spark.listenerManager.register(recorder)

  /** Each query once, one per core: JIT and the generated-code cache are
    * shared by the whole JVM, so the timed ops start warm. */
  def warmUp(spark: SparkSession, ctx: RunContext): Unit = {
    Harness.parallel(spec.queries, ctx.cpus) { q =>
      try graft.SparkEntry.queries(q)(spark, ctx.dataDir).write.format("noop")
        .mode("overwrite").save()
      catch { case _: Throwable => () } // a failing query fails in the timed phase
    }
    isolate(spark)
  }

  def run(spark: SparkSession, ctx: RunContext, deadlineNs: Long): (Seq[Op], Long) = {
    val sc = spark.sparkContext
    val out = new File(ctx.workDir, "outputs")
    deleteAll(out)
    val ops = mutable.ArrayBuffer.empty[Op]
    var i = 0L
    var peakHeap = 0L
    while (System.nanoTime() < deadlineNs) {
      val name = order((i % order.size).toInt)
      isolate(spark)
      drain(spark)
      ctx.spark.resetBlocks()
      ctx.spark.recording = ctx.trace
      val cpu0 = ctx.processCpuNs()
      val t0 = System.nanoTime()
      val op = try {
        if (ctx.trace) sc.setJobGroup(JobGroups.construct(i), name)
        val df = graft.SparkEntry.queries(name)(spark, ctx.dataDir)
        val t1 = System.nanoTime()
        if (ctx.trace) sc.setJobGroup(JobGroups.execute(i), name)
        df.write.parquet(new File(out, s"$name/$i").getPath)
        val t2 = System.nanoTime()
        if (ctx.trace) {
          ctx.add("queries.construct_ns", t1 - t0)
          ctx.add("queries.exec_ns", t2 - t1)
        }
        Op(name, (t2 - t0) / 1e9, (ctx.processCpuNs() - cpu0) / 1e9, ok = true)
      } catch {
        case e: Throwable =>
          Op(name, (System.nanoTime() - t0) / 1e9, (ctx.processCpuNs() - cpu0) / 1e9,
            ok = false, error = String.valueOf(e.getMessage).take(300))
      } finally sc.clearJobGroup()
      drain(spark)
      ctx.spark.recording = false
      if (ctx.trace) {
        ctx.add("queries.leaked_cached_rdds", sc.getPersistentRDDs.size)
        Option(recorder.last).foreach { qe =>
          val shape = PlanShape.of(qe.executedPlan)
          ctx.add("queries.exchanges", shape.exchanges)
          ctx.add("queries.wscg_stages", shape.wscgStages)
          ctx.add("queries.cached_plans", shape.cachedPlans)
          ctx.add("queries.plan_ns", Seq("analysis", "optimization", "planning")
            .flatMap(p => qe.tracker.phases.get(p)).map(_.durationMs).sum * 1000000L)
        }
      }
      recorder.last = null
      peakHeap = math.max(peakHeap, ctx.postGcHeapBytes())
      ops += op
      i += 1
    }
    val endNs = System.nanoTime()
    ctx.add("heap.peak_bytes", peakHeap)
    isolate(spark)
    (ops.toSeq, endNs)
  }

  /** Every op wrote its output under outputs/<query>/<op>; run.py compares
    * each with the DuckDB oracle for that query, given here. */
  def check(spark: SparkSession, ctx: RunContext): Set[String] = {
    Files.write(new File(ctx.workDir, "outputs/oracle_sql.json").toPath,
      Json.write(graft.SparkEntry.oracleSql.filter { case (k, _) => order.contains(k) })
        .getBytes(StandardCharsets.UTF_8))
    Set.empty
  }

  private def deleteAll(f: File): Unit = { Harness.deleteTree(f); f.mkdirs() }

  override def facts: Map[String, Any] = Map("queries" -> spec.queries.size, "order" -> order)
}
