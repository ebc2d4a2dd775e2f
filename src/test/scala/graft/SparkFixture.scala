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
}

object SparkFixture {
  lazy val session: SparkSession = LocalSession.start(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse")
}
