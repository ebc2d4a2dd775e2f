package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExpressionColumns.{column, expression}

/**
 * Probabilistic-sketch operators — the approximate scale paths that stand
 * in front of exact verification when the exact structure no longer fits:
 * a membership sketch replaces a broadcast hash set. Sketches are
 * approximate, so none of these back an oracle-checked contract query
 * directly; every use pairs the sketch with an exact follow-up
 * (prefilter → verify), and SketchesSpec pins the guaranteed side of the
 * error bound (no false negatives) against the exact operators.
 */
object Sketches {

  /**
   * Bloom-filter decontamination prefilter. The exact decontamination scan
   * ([[graft.queries.Corpus.decontamOverlap]]) broadcasts the benchmark's
   * distinct shingles as a hash set for a left-semi probe; at some
   * benchmark size that set outgrows a comfortable broadcast. A Bloom
   * filter is the standard fix: ~10 bits per element at 1% false-positive
   * rate (orders of magnitude smaller than the strings themselves), NO
   * false negatives ever — so filtering the corpus's exploded shingle
   * stream through it can only OVER-select candidate rows, never drop a
   * truly contaminated one, and the surviving sliver is exact-verified
   * (semi-join against the real set) at a fraction of the original probe
   * cost.
   *
   * Built and probed entirely with Spark-native codegen expressions:
   * `bloom_filter_agg(xxhash64(...))` constructs the sketch distributed
   * (per-partition filters merged in the aggregate), and
   * `might_contain(<filter literal>, xxhash64(col))` is a per-row probe
   * on the scan — no UDF, no join, no shuffle. Both are Spark-internal
   * expressions (they back the optimizer's runtime row-level filter)
   * with no SQL name, so they are built directly through
   * [[org.apache.spark.sql.graft.ExpressionColumns]].
   *
   * @return (candidate relation: input rows whose `shingleCol` might be
   *         in the benchmark — the only rows an exact verify must touch;
   *         the serialized sketch size in bytes, for capacity audits)
   */
  def bloomPrefilter(stream: DataFrame, shingleCol: String,
      benchShingles: DataFrame, benchCol: String,
      expectedItems: Long, fpp: Double = 0.01): (DataFrame, Long) = {
    // optimal bit count m = -n·ln(p)/ln(2)²; floor at 64 bits for
    // degenerate/empty benchmarks
    val nBits = math.max(64L,
      math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bfBytes = benchShingles
      .agg(column(new BloomFilterAggregate(expression(xxhash64(col(benchCol))),
        expression(lit(math.max(1L, expectedItems))), expression(lit(nBits)))
        .toAggregateExpression()))
      .first().getAs[Array[Byte]](0)
    // an EMPTY benchmark has nothing to match: constant-false keeps the
    // schema and folds to an empty relation (bloom_filter_agg yields NULL
    // on zero rows)
    val probe: Column =
      if (bfBytes == null) lit(false)
      else column(BloomFilterMightContain(expression(lit(bfBytes)),
        expression(xxhash64(col(shingleCol)))))
    (stream.filter(probe), if (bfBytes == null) 0L else bfBytes.length.toLong)
  }

  /**
   * Count-Min frequency sketch over a token stream — the one-pass
   * heavy-hitter estimator for when the exact `groupBy(token)` count
   * table itself is the bottleneck (e.g. a quick vocabulary probe over a
   * raw 100 TB crawl before committing to the full rollup). Width/depth
   * follow the standard ε/δ sizing: estimates NEVER underestimate, and
   * overestimate by more than ε·N with probability at most 1−confidence.
   * Built with Spark's distributed `stat.countMinSketch` (per-partition
   * sketches merged pairwise — one pass, no shuffle of the token stream).
   * The returned sketch is driver-held and mergeable across corpus
   * shards; SketchesSpec pins the never-underestimate guarantee and the
   * ε·N ceiling against the exact counts.
   */
  def countMinTokens(tokens: DataFrame, tokenCol: String,
      eps: Double = 0.0001, confidence: Double = 0.99,
      seed: Int = 42): org.apache.spark.util.sketch.CountMinSketch =
    tokens.stat.countMinSketch(col(tokenCol), eps, confidence, seed)
}
