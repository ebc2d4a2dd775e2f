package graft.functions

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The sorted-merge intersection Expression: equivalence with
  * array_intersect on sorted distinct inputs, SQL registration (codegen
  * path), and null/empty handling. */
class SortedIntersectSizeSpec extends AnyFunSuite with SparkFixture {

  test("merge count equals size(array_intersect) on random sorted distinct arrays") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = (1 to 500).map { i =>
      def arr() = (0 until rng.nextInt(30))
        .map(_ => s"w${rng.nextInt(40)}").distinct.sorted
      (i.toLong, arr(), arr())
    }
    val df = rows.toDF("id", "a", "b")
      .withColumn("mine", GraftFunctions.sorted_intersect_size(col("a"), col("b")))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))).cast("long"))
    assert(df.filter(col("mine") =!= col("ref")).count() == 0)
  }

  test("SQL-registered form, empty arrays, and null propagation") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  sorted_intersect_size(array('a','b','c'), array('b','c','d')) AS two,
        |  sorted_intersect_size(array('a'), CAST(array() AS ARRAY<STRING>)) AS zero,
        |  sorted_intersect_size(CAST(NULL AS ARRAY<STRING>), array('a')) AS nul
        |""".stripMargin).collect().head
    assert(r.getLong(0) == 2L)
    assert(r.getLong(1) == 0L)
    assert(r.isNullAt(2))
  }
}
