package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, functions => F}

/** Shared helpers for the driver-facing query inventory. */
object Tables {

  /** The session's `spark.sql.shuffle.partitions` — the one partition
    * count every explicit repartition and adaptive spread sizes itself by
    * (an unset key reads Spark's default, 200). */
  def parallelism(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Load one of the driver-provided parquet tables from an sf dir. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /**
   * The documents scan prepared for CPU-heavy per-row kernels (regex
   * batteries, tokenization, DP verifies): when the file layout yields
   * fewer splits than the configured parallelism, Spark fuses the whole
   * per-row chain into that handful of scan tasks — a 6 MB single-file
   * corpus serializes a 30-second kernel onto 1–2 cores (measured 264 s →
   * 13 s on the edit-distance verify). One narrow round-robin repartition
   * spreads the raw text first. At real scale the scan already has more
   * splits than cores and this is a PASSTHROUGH — no shuffle tax on a
   * 100 TB read (the split count comes from the plan, no job runs).
   */
  def spreadDocs(spark: SparkSession, dir: String): DataFrame =
    spreadBy(spark, load(spark, dir, "documents"))

  /** Per-slot byte floor below which a spread can't pay for its shuffle:
    * with < ~64 KB of raw input per core, the per-row kernel finishes
    * faster than the extra stage boundary costs (measured +0.2–0.5 s per
    * pass on a 0.6 MB corpus vs −10× wall on a 6 MB one). */
  private val SpreadMinBytesPerSlot = 64L * 1024L

  /** The generic adaptive spread behind [[spreadDocs]] — round-robin
    * repartition only when the relation's layout yields fewer splits than
    * the configured parallelism (passthrough at scale; see spreadDocs).
    * Round-robin, NOT a keyed hash: a key would drag its column into the
    * scan and break column-pruning for consumers that never read it
    * (ScanHygieneSpec pins that discipline). Use before a per-row kernel
    * or a row-multiplying explode whose work would otherwise fuse into an
    * undersized scan stage. */
  def spreadBy(spark: SparkSession, df: DataFrame): DataFrame = {
    val parts = parallelism(spark)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (df.rdd.getNumPartitions >= parts ||
        bytes < BigInt(parts.toLong * SpreadMinBytesPerSlot)) df
    else df.repartition(parts)
  }

  /**
   * The events table's `ts` column is exposed to every consumer as a raw
   * nanosecond-epoch LONG, whatever precision the parquet file carries:
   *
   *  - timestamp[ns] files (early driver drops) are read under the
   *    `nanosAsLong` legacy conf, so `ts` already arrives as that long;
   *  - timestamp[us] files (current driver drops) arrive as a Spark
   *    TIMESTAMP and are normalized via `unix_micros(ts) * 1000`.
   *
   * The long form is *better* for oracle parity: Spark and DuckDB share an
   * exact total order on ts (no sub-microsecond truncation ambiguity in
   * window ordering), and `ts DIV 1000` == DuckDB `epoch_us(ts)` in both
   * layouts (for a microsecond file the `* 1000` then `DIV 1000` round-trip
   * is exact). Instants derive via `ts DIV 1000` → `timestamp_micros`.
   */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampType =>
        df.withColumn("ts", F.unix_micros(F.col("ts")) * F.lit(1000L))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Naive (no-UTC-adjustment) micros: the session runs in UTC, so the
        // NTZ→TIMESTAMP cast is value-preserving and matches DuckDB's
        // epoch_us() of the same naive value.
        df.withColumn("ts",
          F.unix_micros(F.col("ts").cast(org.apache.spark.sql.types.TimestampType)) * F.lit(1000L))
      case _ => df
    }
  }

  /**
   * Money/quantity columns go through exact DECIMAL arithmetic before any
   * aggregation so Spark and the DuckDB oracle produce bit-identical
   * results regardless of partition-level summation order (double addition
   * is not associative; decimal is exact). Final values are cast back to
   * DOUBLE — exact-decimal → double conversion is deterministic on both
   * engines.
   */
  def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Exact-decimal sum exposed as a double. */
  def dsum(c: Column): Column = F.sum(dec(c)).cast("double")

  /** Exact-decimal avg exposed as a double (sum/count in double at the end). */
  def davg(c: Column): Column = F.sum(dec(c)).cast("double") / F.count(F.lit(1))

  /**
   * Always-zero window partition key that Catalyst can NOT constant-fold.
   *
   * Windows over metadata-sized relations (segment aggregates, event-type
   * rollups) are correctly single-partition, but `partitionBy(lit(0))` is
   * folded away by the optimizer, leaving an empty partition spec and the
   * scary `WindowExec: No Partition Defined` warning. Deriving 0 from a
   * data column keeps the spec non-empty (and the plan honest about being
   * a deliberate single-group window). Null-safe: coalesce keeps the key 0
   * even when the column is null.
   */
  def zeroPart(c: Column): Column =
    F.pmod(F.coalesce(F.length(c.cast("string")), F.lit(0)), F.lit(1))
}
