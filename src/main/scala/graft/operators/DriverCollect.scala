package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * The one rule for driver-side fast paths. An operator whose working
 * relation is metadata-sized (the collapsed dedup set graph, the BPE
 * word-frequency dictionary) collects it and runs its algorithm on the
 * driver; above the cap its distributed algorithm runs. Both branches
 * must give identical rows.
 *
 * The cap is the session conf key `spark.graft.driverCollectCap`
 * (default `1 << 20` rows). `0` turns every fast path off, which is how
 * the distributed branches are checked against the oracle. Being a
 * `spark.*` key, it can also come from a JVM system property
 * (`-Dspark.graft.driverCollectCap=0`), which SparkConf reads.
 */
object DriverCollect {

  val CapKey = "spark.graft.driverCollectCap"

  private val DefaultCap = 1 << 20

  /** The session's cap, checked: 0 ≤ cap < Int.MaxValue (the probe
    * collects cap + 1 rows, so a larger cap would wrap). */
  def cap(s: SparkSession): Int = {
    val raw = s.conf.getOption(CapKey).map(_.trim)
    val v = raw.fold(Option(DefaultCap.toLong))(_.toLongOption)
    require(v.exists(c => c >= 0 && c < Int.MaxValue),
      s"$CapKey must be an integer in [0, ${Int.MaxValue}); got ${raw.getOrElse("")}")
    v.get.toInt
  }

  /** All rows of `df` when there are at most cap of them, else None
    * (always None at cap 0, without running a job). The probe runs `df`
    * once; callers whose distributed branch re-reads `df` materialize it
    * first. */
  def collectSmall(df: DataFrame): Option[Array[Row]] = {
    val c = cap(df.sparkSession)
    if (c == 0) None
    else Some(df.limit(c + 1).collect()).filter(_.length <= c)
  }
}
