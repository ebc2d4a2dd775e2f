package graft.operators

import graft.core.QueryCaches.cached
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Distributed exact global ranking / NTILE.
 *
 * `ntile(n) OVER (ORDER BY ...)` with no PARTITION BY (the reference's
 * conversion-value segmentation, `model_bqml.sql:49`) makes Spark move the
 * whole relation to ONE partition (`WindowExec: No Partition Defined`) — a
 * scale-killer when the input is a fact table. This computes the identical
 * result fully distributed:
 *
 *  1. `repartitionByRange` on the total order (range partitioner — a
 *     sampling pass, no global sort materialization);
 *  2. per-partition `row_number` (windows partitioned by partition id —
 *     embarrassingly parallel);
 *  3. per-partition row counts → cumulative offsets (a #partitions-row
 *     relation — metadata-sized — windowed on a single partition and
 *     broadcast back);
 *  4. global rank = offset + local row number; NTILE from the rank by the
 *     standard SQL formula (first `N mod n` buckets take one extra row).
 *
 * The order must be TOTAL (include a tiebreaker column) for ranks to be
 * well-defined and reproducible.
 */
object Quantiles {

  /** Runs `f` with `df` persisted, unpersisting it when `f` returns or
    * throws. `repartitionByRange` runs a range-boundary SAMPLING job
    * before the shuffle — without this persist the entire upstream plan
    * (often an expensive multi-join composition) executes twice, once for
    * the sampler and once for the real pass. An input the caller already
    * persisted is used as-is and left alone (unpersisting it here would
    * silently drop a cache the caller still depends on). */
  private def withTransientInput[T](df: DataFrame)(f: DataFrame => T): T =
    if (df.storageLevel != StorageLevel.NONE) f(df)
    else {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      try f(df) finally df.unpersist(false)
    }

  /** Adds `rankCol` (1-based global rank) and `totalCol` (total row count)
    * under the given total order, fully distributed.
    *
    * After `repartitionByRange` + `sortWithinPartitions`,
    * `monotonically_increasing_id()` already encodes
    * `(partitionId << 33) + localOrdinal` — so local ranks cost ZERO
    * additional shuffles (a `Window.partitionBy(pid)` here would hash the
    * full relation a second time). The explicit partition count keeps AQE
    * from re-coalescing the range shuffle, so partition ids are stable
    * between the two passes.
    *
    * Two-pass contract: the range-partitioned relation is PERSISTED
    * (memory-with-disk-spill) before the counting pass — Catalyst's
    * exchange reuse cannot unify the passes (column pruning makes their
    * subtrees differ), so without the persist the entire upstream plan
    * executes once per pass. The per-partition counts (#partitions rows —
    * metadata-sized) are collected and folded into a LITERAL offset map,
    * the same statistics-to-driver round-trip AQE itself performs at every
    * stage boundary; the rank is then a pure map lookup with no further
    * shuffle or broadcast.
    *
    * Capacity: the id encoding caps at 2^33 rows PER PARTITION (Spark's
    * documented layout) — size `spark.sql.shuffle.partitions` so no range
    * partition exceeds ~8.5e9 rows. */
  def withGlobalRank(df: DataFrame, order: Seq[Column],
      rankCol: String, totalCol: String): DataFrame = {
    Seq("__mid", "__pid", "__lrn").foreach(h => require(!df.columns.contains(h),
      s"withGlobalRank: input must not contain helper column '$h'"))
    val parts = graft.queries.Tables.parallelism(df.sparkSession)
    // `ranged` stays cached for the lifetime of the returned plan, owned
    // by the active scope ([[graft.core.QueryCaches]]) — the per-partition
    // offsets were computed against this exact materialization, and a
    // re-execution could range-partition rows differently.
    val (ranged, cnts) = withTransientInput(df) { in =>
      val ranged = cached(in.repartitionByRange(parts, order: _*)
        .sortWithinPartitions(order: _*)
        .withColumn("__mid", monotonically_increasing_id())
        .withColumn("__pid", shiftrightunsigned(col("__mid"), 33).cast("int"))
        .withColumn("__lrn", col("__mid").bitwiseAND(lit((1L << 33) - 1)) + 1)
        .drop("__mid"))
      (ranged, ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1))
    }
    val offsets = cnts.map(_._1).zip(cnts.map(_._2).scanLeft(0L)(_ + _)).toMap
    val total = cnts.map(_._2).sum
    ranged
      .withColumn(rankCol,
        element_at(typedLit(offsets), col("__pid")) + col("__lrn"))
      .withColumn(totalCol, lit(total))
      .drop("__pid", "__lrn")
  }

  /** Standard SQL NTILE bucket from a 1-based rank and total count:
    * the first `N mod n` buckets hold `ceil(N/n)` rows, the rest
    * `floor(N/n)`. Exact integer arithmetic (magnitudes < 2^53). */
  def ntileFromRank(rank: Column, total: Column, n: Int): Column = {
    val q = floor(total / n)        // floor(N/n)
    val rem = total - q * n         // N mod n
    val bigRows = (q + 1) * rem     // rows living in the first `rem` buckets
    when(rank <= bigRows, floor((rank - 1) / (q + 1)) + 1)
      .otherwise(rem + floor((rank - bigRows - 1) / q) + 1)
      .cast("long")
  }

  /**
   * Exact global running total (prefix sum) of a LONG column under a total
   * order — `SUM(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)` without
   * the single-partition window. Same two-pass shape as [[withGlobalRank]]:
   * range-partition on the order, per-partition SEQUENTIAL fold
   * (mapPartitions — the one computation a declarative window cannot do
   * here without re-shuffling the relation on the partition id), plus a
   * metadata-sized per-partition-sum collect folded into a literal offset
   * map. NULL values count as 0.
   *
   * This is the primitive behind sequence-packing/chunk accounting: with
   * a cumulative token count, `(cum - n) DIV L` is the L-token context
   * window each document starts in.
   */
  def withRunningTotal(df: DataFrame, order: Seq[Column], valueCol: String,
      out: String): DataFrame = {
    require(!df.columns.contains(out),
      s"withRunningTotal: input already contains output column '$out'")
    require(df.schema(valueCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"withRunningTotal: '$valueCol' must be LONG (exact integer prefix sums)")
    val parts = graft.queries.Tables.parallelism(df.sparkSession)
    // same input and `ranged` cache contract as withGlobalRank
    val (ranged, sums) = withTransientInput(df) { in =>
      val ranged = cached(in.repartitionByRange(parts, order: _*)
        .sortWithinPartitions(order: _*))
      // per-partition sums → prefix offsets (#partitions rows — metadata)
      (ranged, ranged
        .groupBy(spark_partition_id().as("__pid"))
        .agg(coalesce(sum(col(valueCol)), lit(0L)).as("__s"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1))
    }
    val offsets = sums.map(_._1).zip(sums.map(_._2).scanLeft(0L)(_ + _)).toMap
    val idx = ranged.schema.fieldIndex(valueCol)
    val outSchema = ranged.schema.add(out, org.apache.spark.sql.types.LongType)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val local = ranged.mapPartitions { it =>
      var acc = 0L
      it.map { r =>
        acc += (if (r.isNullAt(idx)) 0L else r.getLong(idx))
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ acc)
      }
    }(enc)
    // mapPartitions is narrow, so spark_partition_id() here still names the
    // range partition the offsets were computed for
    local.withColumn(out, col(out) + element_at(typedLit(offsets), spark_partition_id()))
  }

  /** `ntile(n) OVER (ORDER BY order*)` as a distributed computation. */
  def withNtile(df: DataFrame, n: Int, order: Seq[Column], out: String): DataFrame = {
    Seq("__rank", "__total").foreach(h => require(!df.columns.contains(h),
      s"withNtile: input must not contain helper column '$h'"))
    withGlobalRank(df, order, "__rank", "__total")
      .withColumn(out, ntileFromRank(col("__rank"), col("__total"), n))
      .drop("__rank", "__total")
  }
}
