package graft

import org.apache.spark.sql.SparkSession

/** The one local-session configuration the Bench and Verify mains and the
  * specs share: `cpus` cores and as many shuffle partitions, UTC session
  * time, nanosecond parquet timestamps read as longs, no UI, WARN logs.
  * `extra` adds caller-specific settings (app name, warehouse dir). */
object LocalSession {
  def start(cpus: Int, extra: (String, String)*): SparkSession = {
    val s = extra.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
