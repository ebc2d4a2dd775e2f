package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/**
 * Cache-lifetime ownership for query-built DataFrames.
 *
 * Several compositions persist an intermediate because more than one
 * consumer inside ONE action would otherwise re-execute it (the ML events
 * slice, the two-pass rank materialization, the collapsed dedup universe),
 * and the iterative-components loop leaves its final round as a
 * checkpointed RDD. A lazy DataFrame cannot release those itself —
 * unpersisting before the caller's action would undo the persist — so
 * ownership sits with whoever knows when the action is over, through one
 * path:
 *
 *  - components persist with [[cached]] (and hand checkpoint RDDs over
 *    with [[reportRdd]]), which registers the relation with the
 *    [[CacheScope]] active on the current thread, if any;
 *  - an owner activates a scope around its build (`scope { build }`) and
 *    calls `release()` once the output is materialized. Long-lived
 *    callers — the scheduled ML and corpus workers, the REST `variables`
 *    endpoint — release in a `finally`, streaming callers after `stop()`;
 *  - [[owned]] (every `SparkEntry.queries` build, whose driver contract is
 *    one materializing action per constructed relation) activates a fresh
 *    scope and releases it after the FIRST action over the returned plan
 *    completes — success or failure — or at once if the build throws.
 *
 * Scopes nest: an inner scope takes the reports of its own body only.
 * [[cached]] with no active scope persists and registers nowhere (the
 * caller owns the cache). A persist a function releases itself stays a
 * local persist/unpersist pair with the unpersist in a `finally`.
 *
 * Contract of [[owned]]: one materializing action per constructed
 * DataFrame. Re-running an action on the SAME object after the first
 * completes recomputes from source — correct for pure plans, but the
 * rank-based compositions pin driver-collected offsets to one specific
 * materialization ([[graft.operators.Quantiles]]), so a second action on
 * a stale object is API misuse: construct a fresh DataFrame instead
 * (Verify and Bench both do).
 */
object QueryCaches {

  /** The relations one job persists: activate it around the build with
    * `scope { ... }`, `release()` after the job's output is materialized. */
  final class CacheScope {
    private val pending = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    private[QueryCaches] def add(free: () => Unit): Unit = synchronized { pending += free }
    def isEmpty: Boolean = synchronized(pending.isEmpty)
    def release(): Unit = synchronized {
      pending.foreach(f => try f() catch { case _: Throwable => () })
      pending.clear()
    }

    /** Runs `body` with this scope active on the current thread (not on
      * threads `body` starts); the enclosing scope is restored after. */
    def apply[T](body: => T): T = {
      val outer = active.get
      active.set(this)
      try body finally active.set(outer)
    }
  }

  // query construction is synchronous driver-side code, so the active
  // scope is a property of the thread building the plan
  private val active = new ThreadLocal[CacheScope]

  /** Persists `df` (memory with disk spill) and registers it with the
    * active scope, which unpersists it on release. */
  def cached(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    register(() => df.unpersist(false))
    df
  }

  /** Registers an RDD-level cache (localCheckpoint/checkpoint blocks — the
    * iterative-components round state) with the active scope. */
  def reportRdd(rdd: RDD[_]): Unit = register(() => { rdd.unpersist(false); () })

  private def register(free: () => Unit): Unit = Option(active.get).foreach(_.add(free))

  /** Builds a query DataFrame whose cached intermediates are released
    * after the first completed action over the returned plan, or at once
    * if the build throws. Builds that cache nothing pay nothing (no
    * listener is registered). */
  def owned(s: SparkSession)(build: => DataFrame): DataFrame = {
    val scope = new CacheScope
    val df = try scope(build) catch { case t: Throwable => scope.release(); throw t }
    if (!scope.isEmpty) releaseAfterFirstAction(s, df, scope)
    df
  }

  /** One-shot auto-release: unpersist the scope when an action whose
    * analyzed plan contains this DataFrame's plan completes. Matching is
    * by object identity first (DataFrameWriter and direct actions reuse
    * the Dataset's analyzed plan object) with a canonicalized
    * `sameResult` fallback for commands that re-analyze. */
  private def releaseAfterFirstAction(s: SparkSession, df: DataFrame, scope: CacheScope): Unit = {
    val target = df.queryExecution.analyzed
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    lazy val listener: QueryExecutionListener = new QueryExecutionListener {
      private def hit(qe: QueryExecution): Boolean =
        try qe.analyzed.exists(p => (p eq target) || p.sameResult(target))
        catch { case _: Throwable => false }
      private def maybeRelease(qe: QueryExecution): Unit =
        if (hit(qe) && fired.compareAndSet(false, true)) {
          scope.release()
          s.listenerManager.unregister(listener)
        }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        maybeRelease(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        maybeRelease(qe)
    }
    s.listenerManager.register(listener)
  }
}
