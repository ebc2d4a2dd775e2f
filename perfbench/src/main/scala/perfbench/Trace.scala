package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** Job-group naming shared by the harness and [[SparkLayer]]: only jobs
  * whose group starts with `Prefix` are attributed to ops. */
object JobGroups {
  val Prefix = "op:"
  def construct(op: Long): String = s"${Prefix}$op:construct"
  def execute(op: Long): String = s"${Prefix}$op:execute"
  def task(worker: String): String = s"${Prefix}task:$worker"
}

/**
 * The `spark` layer, recorded by a listener the benchmark registers only in
 * traced runs, while `recording` is on. Job, stage and task counts are
 * summed over the jobs of op job groups; cache puts and "already exists"
 * double computes carry no job group and are counted as they come.
 */
final class SparkLayer extends SparkListener {
  @volatile var recording = false
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val opStages = ConcurrentHashMap.newKeySet[Int]()
  private val firstPut = ConcurrentHashMap.newKeySet[String]()
  val constructJobs, jobs, stages, tasks, failedTasks = new LongAdder
  val taskWaitMs, taskRunMs, taskCpuNs, gcMs = new LongAdder
  val shuffleRead, shuffleWrite, spill = new LongAdder
  val cachePutBytes, cachePuts, cacheFirstPuts, cacheReputs = new LongAdder
  /** Put attempts refused by the BlockManager because another task had
    * already stored the same block: a partition computed twice. */
  val cacheAlreadyExists = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (recording && group != null && group.startsWith(JobGroups.Prefix)) {
      jobs.increment()
      if (group.endsWith(":construct")) constructJobs.increment()
      e.stageIds.foreach(id => opStages.add(id))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    if (opStages.contains(id)) {
      stages.increment()
      stageSubmit.put(id, java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val submitted = stageSubmit.get(e.stageId)
    if (submitted != null) taskWaitMs.add(math.max(0L, e.taskInfo.launchTime - submitted))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (opStages.contains(e.stageId)) {
    tasks.increment()
    if (!e.taskInfo.successful) failedTasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.add(m.executorRunTime)
      taskCpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (recording && info.blockId.isRDD && info.storageLevel.isValid) {
      cachePuts.increment()
      cachePutBytes.add(info.memSize + info.diskSize)
      if (firstPut.add(info.blockId.name)) cacheFirstPuts.increment()
      else cacheReputs.increment()
    }
  }

  private val appender = new AbstractAppender("perfbench-block-dups", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(event: LogEvent): Unit =
      if (recording && event.getLoggerName.startsWith("org.apache.spark.storage.BlockManager") &&
          event.getMessage.getFormattedMessage.contains("already exists on this machine"))
        cacheAlreadyExists.increment()
  }

  /** Route BlockManager log events through the counter (root logger, so
    * the level set by `setLogLevel` still applies). */
  def attachLogCounter(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }

  /** Forget the blocks seen so far: op isolation drops every cache, so a
    * later put of the same block id is a fresh first put. */
  def resetBlocks(): Unit = firstPut.clear()
}

/** Structure of an executed physical plan. Each node object is counted
  * once, however many times it is referenced; a cached relation's plan is
  * entered once per distinct cache builder, and a reused exchange is not a
  * second exchange. */
final case class PlanShape(exchanges: Int, wscgStages: Int, cachedPlans: Int)

object PlanShape {
  def of(root: SparkPlan): PlanShape = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    var exchanges, wscg, cached = 0
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _: ReusedExchangeExec => ()
        case m: InMemoryTableScanExec =>
          if (seen.add(m.relation.cacheBuilder)) {
            cached += 1
            walk(m.relation.cacheBuilder.cachedPlan)
          }
        case _ =>
          p match {
            case _: ShuffleExchangeLike => exchanges += 1
            case _: WholeStageCodegenExec => wscg += 1
            case _ => ()
          }
          p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(root)
    PlanShape(exchanges, wscg, cached)
  }
}
