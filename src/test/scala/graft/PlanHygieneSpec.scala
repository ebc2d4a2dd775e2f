package graft

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.catalyst.plans.Cross
import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-shape regression net over EVERY driver-contract query: the two
 * scale-killers past rounds fought — unpartitioned windows ("WindowExec:
 * No Partition Defined" moves the whole relation to one task) and
 * accidental cartesian joins — must never reappear. Checks the OPTIMIZED
 * logical plan, so a `Window.partitionBy(lit(0))` that constant-folds
 * away is caught even though the source reads as partitioned.
 *
 * Deliberate exceptions are narrow:
 *  - `sim_bruteforce_topk`'s query⨯candidate crossJoin is the documented
 *    O(|C|·|Q|) contract with a BROADCAST small side (and `sim_ivf_topk`
 *    exists as the non-cross scale path);
 *  - windows whose partition key is `Tables.zeroPart` (pmod over a
 *    data-derived length) run on metadata-sized post-aggregation inputs —
 *    they survive constant folding, so partitionSpec stays non-empty and
 *    they pass the check by construction.
 */
class PlanHygieneSpec extends AnyFunSuite with SparkFixture {

  private val sfDir = "/root/testdata/sf0.001"

  // sim_knn_accuracy shares sim_bruteforce_topk's documented broadcast
  // query⨯candidate contract (the eval runs over the same exact baseline;
  // sim_ivf_topk remains the scale path for the candidate sweep)
  // sim_ivf_recall's ground-truth side is the same documented baseline
  // eval_confusion_knn aggregates sim_knn_accuracy's prediction relation,
  // so it carries the same documented baseline
  // stats_mann_whitney densifies the (value × source) cumulative grid:
  // the cross side is the BROADCAST per-source metadata relation (dozens
  // of rows), so the product is linear in the value domain — the O(V·S)
  // replacement for the O(V²) inequality cross it used to run
  // sim_ivf_multiprobe's ground-truth side is the same documented
  // brute-force baseline as sim_ivf_recall (the sweep it generalizes)
  // embed_ann_lid ranks the same broadcast query⨯candidate cross as
  // sim_knn_accuracy (≤10 anchor rows broadcast; product linear in the
  // candidate stream)
  private val crossJoinAllowed =
    Set("sim_bruteforce_topk", "sim_knn_accuracy", "sim_ivf_recall",
      "sim_pq_recall", "eval_confusion_knn", "stats_mann_whitney",
      "sim_ivf_multiprobe", "embed_ann_lid")

  private def collectPlan(p: LogicalPlan): Seq[LogicalPlan] =
    (p +: p.children.flatMap(collectPlan)) ++ p.subqueries.flatMap(collectPlan)

  // Each query builds on its own fresh session, whose function registry
  // holds only Spark's built-ins: a build must not lean on an earlier
  // build's session state. No action ever runs over the plan, so the
  // build's caches are dropped right after it.
  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name: no unpartitioned window, no cartesian join (optimized plan)") {
      val s = spark.newSession()
      val plan = try fn(s, sfDir).queryExecution.optimizedPlan
        finally s.catalog.clearCache()
      val nodes = collectPlan(plan)

      val badWindows = nodes.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(badWindows.isEmpty,
        s"$name has ${badWindows.size} unpartitioned Window node(s) — " +
          "single-partition execution at scale")

      if (!crossJoinAllowed(name)) {
        val crosses = nodes.collect {
          case j: Join if j.joinType == Cross || j.condition.isEmpty => j
        }
        assert(crosses.isEmpty,
          s"$name has ${crosses.size} cartesian/condition-less join(s)")
      }
    }
  }
}
