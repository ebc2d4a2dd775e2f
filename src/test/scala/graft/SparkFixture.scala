package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local session for specs (one JVM-wide session; Spark reuses it). */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkFixture.session

  /** Write rows as a parquet table under a temp dir shaped like an sf dir. */
  def writeTable(dir: java.nio.file.Path, name: String, df: org.apache.spark.sql.DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  def tmpSfDir(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_test_sf")

  /** Runs `body` with `spark.graft.driverCollectCap` set to `cap` (0
    * forces every size-switched operator onto its distributed branch),
    * restoring the previous setting afterwards. */
  def withDriverCollectCap[T](cap: Long)(body: => T): T = {
    val key = graft.operators.DriverCollect.CapKey
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, cap.toString)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

object SparkFixture {
  lazy val session: SparkSession = LocalSession.start(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse")
}
