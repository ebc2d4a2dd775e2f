package graft.core

import graft.SparkFixture
import graft.core.QueryCaches.cached
import graft.operators.{BigramLm, Quantiles}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Cache-lifetime ownership ([[QueryCaches]]): relations persisted with
  * `cached` register with the scope active on the current thread. An
  * `owned` build's scope is released after the FIRST action over the
  * returned plan — for both direct actions (collect) and writer commands
  * (the Verify parquet write / Bench noop write path, whose QueryExecution
  * wraps the query in a command node) — or at once if the build throws;
  * an activated scope is released by its caller. */
class QueryCachesSpec extends AnyFunSuite with SparkFixture {

  private def newRddIds(before: Set[Int]): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before

  private def awaitReleased(before: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (newRddIds(before).nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    newRddIds(before)
  }

  private def noCachedData: Boolean = spark.sharedState.cacheManager.isEmpty

  private def build(): DataFrame = QueryCaches.owned(spark) {
    import spark.implicits._
    val base = cached((1 to 100).toDF("n"))
    base.groupBy(($"n" % 10).as("k")).count()
  }

  test("owned releases reported persists after a collect action") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val df = build()
    assert(df.collect().length == 10)
    assert(awaitReleased(before).isEmpty, "persist survived the first action")
  }

  test("owned releases reported persists after a writer-command action") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val df = build()
    df.write.format("noop").mode("overwrite").save()
    assert(awaitReleased(before).isEmpty, "persist survived the writer command")
  }

  test("cached outside a scope registers nowhere; a scope releases on demand") {
    import spark.implicits._
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val loose = cached((1 to 50).toDF("n")) // no active scope: the caller owns it
    val scope = new QueryCaches.CacheScope
    val base = scope(cached((1 to 60).toDF("m")))
    assert(loose.count() == 50 && base.count() == 60)
    // no auto-release happened (no listener was registered for the scope)
    Thread.sleep(200)
    assert(newRddIds(before).size == 2, "both caches should still be live")
    scope.release()
    assert(base.storageLevel == StorageLevel.NONE, "explicit release must unpersist immediately")
    assert(loose.storageLevel != StorageLevel.NONE, "a scope must not release what it never took")
    loose.unpersist(true)
    assert(newRddIds(before).isEmpty)
  }

  test("an activated scope releases every relation persisted under it, nested operators too") {
    import spark.implicits._
    spark.catalog.clearCache()
    val docs = Seq((1L, "a b c a b"), (2L, "b c d")).toDF("doc_id", "text")
    val scope = new QueryCaches.CacheScope
    try scope {
      val base = cached(spark.range(0, 200).toDF("n"))
      // withNtile caches its range-partitioned relation, fit its pairs
      val q = Quantiles.withNtile(base, 4, Seq(col("n")), "q")
      assert(q.agg(max(col("q"))).first().getLong(0) == 4L)
      val (pairs, lm) = BigramLm.fit(docs)
      assert(lm.vocab == 4L && pairs.storageLevel != StorageLevel.NONE)
    } finally scope.release()
    assert(noCachedData, "a relation cached under the scope outlived its release")
  }

  test("an owned build nested in a worker scope reports only to the inner scope") {
    spark.catalog.clearCache()
    val outer = new QueryCaches.CacheScope
    val df = outer(build())
    assert(outer.isEmpty, "the owned build's cache leaked into the enclosing scope")
    assert(!noCachedData)
    assert(df.collect().length == 10)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!noCachedData && System.nanoTime() < deadline) Thread.sleep(50)
    assert(noCachedData, "the inner scope was not released after the first action")
  }

  test("an owned build that caches and then throws leaves no cached data") {
    spark.catalog.clearCache()
    val err = intercept[IllegalStateException](QueryCaches.owned(spark) {
      cached(spark.range(0, 10).toDF("n")).count()
      throw new IllegalStateException("boom")
    })
    assert(err.getMessage == "boom")
    assert(noCachedData, "the failed build's cache was never released")
  }

  test("withGlobalRank whose offsets collect fails leaves no cached data") {
    spark.catalog.clearCache()
    val in = spark.range(1, 101).toDF("n")
      .withColumn("x", when(col("n") === 50, raise_error(lit("boom"))).otherwise(col("n")))
    intercept[Exception](QueryCaches.owned(spark)(
      Quantiles.withGlobalRank(in, Seq(col("n")), "r", "t")))
    assert(noCachedData, "the rank's input or ranged cache survived the failure")
  }
}
