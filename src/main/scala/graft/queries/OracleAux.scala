package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/**
 * Oracle side tables for the FARM_FINGERPRINT query family.
 *
 * DuckDB has no farmhash (or xxhash64), so the three production-hash
 * queries (`q_hash_split`, `ml_training_rebalanced`, `dedup_minhash_lsh`)
 * were rows-only checked, pinned by md5 twins + the Guava golden vectors
 * in FarmHashSpec. These writers emit the hash OUTPUTS as parquet side
 * tables — `(value, fingerprint)` maps computed by the golden-tested
 * Scala hash — which the DuckDB oracles join as plain input data. The
 * oracle then independently replays everything DOWNSTREAM of the opaque
 * hash (split arithmetic, shingling, minhash permutations, banding,
 * bucket caps, agreement prefilter, exact Jaccard verify), turning all
 * three rows into full rows+schema+hash checks.
 *
 * [[graft.Verify]] writes the tables before dumping results, so the
 * driver's DuckDB pass (which runs right after Verify on the same host)
 * always reads side tables generated from the same sfDir.
 */
object OracleAux {

  /** Aux location the oracle SQL strings embed. Keyed per-run via the
    * `graft.aux.dir` system property, which [[graft.Verify]] pins to
    * `<outDir>_aux` BEFORE any oracle SQL is rendered — so two
    * Verify runs on different sfDirs (or concurrent CI jobs on a shared
    * host) can never overwrite each other's side tables mid-pass. The
    * /tmp default only covers ad-hoc REPL use outside Verify. */
  def AuxDir: String = sys.props.getOrElse("graft.aux.dir", "/tmp/graft_aux")

  /** DuckDB relation over a written side table (Spark writes a parquet
    * DIRECTORY; DuckDB globs the part files). */
  def duckAux(table: String): String =
    s"read_parquet('$AuxDir/$table.parquet/*.parquet')"

  /** Each side table is independent, and a source table absent from the
    * sfDir (the edge corpus ships only documents/events/embeddings) skips
    * just its own aux output — a partial corpus must not leave the OTHER
    * oracles reading a stale aux dir from a previous run. */
  def writeAll(s: SparkSession, dir: String): Unit = {
    def ifPresent(name: String)(f: org.apache.spark.sql.DataFrame => Unit): Unit =
      if (new java.io.File(s"$dir/$name.parquet").exists())
        f(s.read.parquet(s"$dir/$name.parquet"))
    // q_hash_split: fingerprint of every customer name
    ifPresent("customer") {
      _.select(col("c_name")).distinct()
        .withColumn("fp", GraftFunctions.farm_fingerprint(col("c_name")))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$AuxDir/farm_customer.parquet")
    }
    // ml_training_rebalanced: fingerprint of the GA4 unique-id domain
    // (user_pseudo_id = CAST(user_id AS STRING), the Ga4 convention)
    ifPresent("events") {
      _.select(col("user_id").cast("string").as("unique_id"))
        .filter(col("unique_id").isNotNull).distinct()
        .withColumn("fp", GraftFunctions.farm_fingerprint(col("unique_id")))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$AuxDir/farm_users.parquet")
    }
    // dedup_minhash_lsh: shingle→h32 map + minhash-tuple→xxhash64 band keys
    ifPresent("documents") { _ => Dedup.writeFarmAux(s, dir, AuxDir) }
  }
}
