package graft.operators

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Bloom prefilter's contract: candidates are a SUPERSET of the exact
  * hit set (no false negatives — a contaminated document can never slip
  * past), the sketch stays sketch-sized, and an empty benchmark yields an
  * empty candidate set instead of a crash. */
class SketchesSpec extends AnyFunSuite with SparkFixture {

  private val dir = "/root/testdata/sf0.01"

  private def shingles(df: org.apache.spark.sql.DataFrame) = {
    df.select(col("doc_id"),
      explode(graft.functions.GraftFunctions.shingle_set(col("text"), 5)).as("sh"))
  }

  test("bloom prefilter never drops a true benchmark hit") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bench = shingles(docs.filter(col("source") === "src0"))
      .select(col("sh")).distinct()
    val train = shingles(docs.filter(col("source") =!= "src0"))
    val nBench = bench.count()
    val (cand, bytes) = Sketches.bloomPrefilter(train, "sh", bench, "sh", nBench)
    val exactHitRows = train.join(bench, Seq("sh"), "left_semi")
      .select(col("doc_id"), col("sh"))
    val exact = exactHitRows.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got = cand.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(exact.subsetOf(got),
      s"${(exact -- got).size} true hits lost — Bloom filters must have no false negatives")
    // at fpp=1% the over-selection should be a sliver of the non-hit stream
    val nonHits = train.count() - exactHitRows.count()
    val falsePos = got.size - exact.size
    assert(nonHits == 0 || falsePos.toDouble / nonHits < 0.05,
      s"false-positive rate ${falsePos.toDouble / nonHits} far above the 1% design point")
    // sketch-sized: ~10 bits/element at 1% — allow generous slack, but
    // nothing near the string payload size
    assert(bytes > 0 && bytes < 4L * nBench + 4096,
      s"$bytes bytes for $nBench elements is not sketch-sized")
  }

  test("count-min estimates never underestimate and respect the eps ceiling") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val tokens = docs.select(
      explode(filter(split(col("text"), " "), w => w =!= "")).as("token"))
    val exact = tokens.groupBy("token").count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val n = exact.map(_._2).sum
    val eps = 0.001
    val cms = Sketches.countMinTokens(tokens, "token", eps = eps)
    val overs = exact.map { case (t, c) => cms.estimateCount(t) - c }
    assert(overs.forall(_ >= 0), "count-min must never underestimate")
    // ε·N ceiling holds per-item with prob ≥ confidence; across all items
    // allow the standard small tail
    val ceiling = (eps * n).toLong
    val violators = overs.count(_ > ceiling)
    assert(violators <= math.max(1, exact.length / 50),
      s"$violators of ${exact.length} tokens exceed the eps*N=$ceiling overestimate bound")
  }

  test("approx_percentile ranks stay within the accuracy bound vs exact order statistics") {
    // the sketch-quantile scale path next to the exact stats_length_pctl
    // operator: percentile_approx guarantees the returned value's RANK is
    // within n/accuracy of the target rank
    val accuracy = 100
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("n_chars").isNotNull)
    val sorted = docs.select(col("n_chars")).collect().map(_.getLong(0)).sorted
    val n = sorted.length
    val approx = docs
      .agg(expr(s"percentile_approx(n_chars, array(0.25, 0.5, 0.75, 0.9, 0.99), $accuracy)"))
      .first().getSeq[Long](0)
    val ps = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
    ps.zip(approx).foreach { case (p, v) =>
      val rank = sorted.count(_ <= v)
      val target = p * n
      assert(math.abs(rank - target) <= n.toDouble / accuracy + 1,
        s"p=$p: approx value $v has rank $rank, target $target, bound ${n.toDouble / accuracy}")
    }
  }

  test("approx_count_distinct stays inside the rsd envelope vs exact distincts") {
    // the HLL++ scale path next to the exact per-source countDistinct: at
    // 100 TB the exact per-key distinct is a full shuffle on the key —
    // the sketch answers the same cardinality question in one map-side
    // pass. The guarantee pinned here: relative error within 3× the
    // requested rsd (3σ of the HLL estimator) for every source, and the
    // estimate is deterministic (same data → same sketch → same figure).
    val rsd = 0.05
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val tokens = docs.select(col("source"),
      explode(filter(split(col("text"), " "), w => w =!= "")).as("token"))
    val exact = tokens.groupBy("source").agg(countDistinct(col("token")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    def approxRun() = tokens.groupBy("source")
      .agg(approx_count_distinct(col("token"), rsd).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val approx = approxRun()
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (src, n) =>
      val est = approx(src)
      assert(math.abs(est - n).toDouble / n <= 3 * rsd,
        s"source $src: HLL estimate $est vs exact $n breaks the 3*rsd envelope")
    }
    assert(approxRun() == approx, "HLL sketches must be deterministic on identical data")
  }

  test("an empty benchmark yields zero candidates, not a crash") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val train = shingles(docs.limit(50))
    val bench = shingles(docs.filter(lit(false))).select(col("sh"))
    val (cand, bytes) = Sketches.bloomPrefilter(train, "sh", bench, "sh", 0L)
    assert(cand.count() == 0 && bytes == 0L)
  }

  test("histogram quantile sketch: estimate within one bucket width of exact") {
    // the covering bucket contains BOTH the exact order statistic and the
    // interpolated estimate, so |est − exact| <= width by construction
    // (equality is reachable: target rank on the bucket's last row while
    // every member sits on the lower edge) — the bound a profiler quotes
    // when it swaps the sort for the sketch
    val rows = graft.queries.Sketch.sketchQuantileAudit(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val src = r.getString(0)
      assert(r.getDouble(4) <= 64.0, s"$src: p50 error ${r.getDouble(4)} > width")
      assert(r.getDouble(7) <= 64.0, s"$src: p90 error ${r.getDouble(7)} > width")
    }
  }

  test("HLL intersection: union estimate dominates both sides; full pair grid") {
    // union registers are the bucket-max of the sides, so the union's
    // harmonic sum can only shrink — est_union >= max(est_a, est_b) is a
    // STRUCTURAL guarantee of the merge, not a statistical one
    val rows = graft.queries.Sketch.sketchHllIntersect(spark, dir).collect()
    val srcs = rows.flatMap(r => Seq(r.getString(0), r.getString(1))).distinct
    assert(rows.length == srcs.length * (srcs.length - 1) / 2,
      "one row per unordered source pair")
    rows.foreach { r =>
      val (ea, eb, eu) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(eu >= math.max(ea, eb) - 1e-6,
        s"${r.getString(0)}x${r.getString(1)}: union estimate $eu below max($ea, $eb)")
      assert(r.getLong(2) >= 0L)
    }
  }
}
