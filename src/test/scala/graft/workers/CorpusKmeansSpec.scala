package graft.workers

import graft.SparkFixture
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The k-means worker pair: the persisted centroid model must reproduce
  * the in-memory Lloyd fit exactly through the persist → reload → assign
  * round-trip (driven through the registry), the E-step must be a true
  * argmin against the frozen centroids, and the relation (C > 8,
  * two-level) loop must agree with a driver-side flat Lloyd reference on
  * synthetic data. */
class CorpusKmeansSpec extends AnyFunSuite with SparkFixture {

  private val dir = "/root/testdata/sf0.001"

  private val noCtx = new graft.core.Dag.WorkerContext {
    def params: Map[String, graft.core.Spec.WorkerValue] = Map.empty
    def generalSettings: Map[String, String] = Map.empty
    def enqueue(wc: String, p: Map[String, graft.core.Spec.WorkerValue], d: Int): Unit = ()
  }

  test("train persists the model; registry assign is the frozen argmin") {
    import graft.core.Spec.WorkerValue.S
    val work = tmpSfDir()
    val modelUri = s"$work/km_model"
    val dest = s"$work/km_assign.parquet"
    val registry = Workers.registry(spark)
    registry.lookup("CorpusKmeansTrainer").get(Map(
      "embeddings_table" -> S(s"$dir/embeddings.parquet"),
      "model_uri" -> S(modelUri),
      "rounds" -> S("3"))).execute(noCtx)
    val cent = spark.read.parquet(s"$modelUri/cent")
    assert(cent.columns.toSeq == Seq("cid", "dim", "n", "c_new"))
    val meta = spark.read.parquet(s"$modelUri/meta").first()
    assert(meta.getLong(0) == 3L && meta.getLong(2) >= 1L)
    registry.lookup("CorpusKmeansAssigner").get(Map(
      "embeddings_table" -> S(s"$dir/embeddings.parquet"),
      "model_uri" -> S(modelUri),
      "destination_table" -> S(dest))).execute(noCtx)
    // every member must sit at its TRUE nearest frozen centroid:
    // recompute the argmin driver-side from the persisted model
    val cents = cent.collect()
      .groupBy(_.getLong(0)).view.mapValues(rs =>
        rs.sortBy(_.getLong(1)).map(_.getDouble(3))).toMap
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") >= 8 && col("embedding").isNotNull)
      .collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toMap
    val got = spark.read.parquet(dest).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == emb.keySet, "every member is assigned exactly once")
    got.foreach { case (vid, cid) =>
      val v = emb(vid)
      def d2(c: Seq[Double]): Double =
        v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
      val best = cents.toSeq.map { case (k, c) => (d2(c), k) }.min
      // the frozen-argmin distance must match the recomputed minimum
      // (cid itself can differ only on an exact tie, broken to lower id)
      assert(math.abs(d2(cents(cid)) - best._1) < 1e-9,
        s"vec $vid assigned to $cid but nearest is ${best._2}")
    }
  }

  test("fit is deterministic: two runs produce identical model tables") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    def run() = graft.queries.KmeansFit.fit(e, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    assert(run() == run())
    spark.catalog.clearCache()
  }

  test("relation-path loop (C > 8) matches a driver-side flat Lloyd reference") {
    val s = spark
    import s.implicits._
    // 3 tight 2-d blobs + seeds: 9 centroid seeds (vec_id 0..8) force the
    // C > 8 relation path when target=2 over 24 members
    val rnd = new scala.util.Random(7)
    def blob(cx: Double, cy: Double, n: Int, base: Long): Seq[(Long, Array[Float])] =
      (0 until n).map(i => (base + i,
        Array((cx + rnd.nextGaussian() * 0.05).toFloat,
          (cy + rnd.nextGaussian() * 0.05).toFloat)))
    val members = blob(0, 0, 8, 100L) ++ blob(5, 5, 8, 200L) ++ blob(-5, 5, 8, 300L)
    val seeds = (0L until 9L).map(i => (i,
      Array((i % 3 * 5.0 - 5.0).toFloat, (i / 3 * 5.0 - 5.0).toFloat)))
    val e = (seeds ++ members).toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
    val target = 2L // 24 members / 2 -> C = 12 > 8: the two-level loop
    val got = graft.queries.KmeansFit.fit(e, 3, target)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    // driver-side reference: flat argmin every round, exact 6-dp half-up
    // means — the semantics the two-level loop must preserve here (the
    // coarse cells are spread far apart, so no member's true argmin
    // crosses a cell boundary in this geometry)
    // BigDecimal.valueOf = the double's SHORTEST decimal repr — the
    // rounding base Spark's round() and the micro-unit fold both use
    def r6(x: Double): Double =
      BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // members are vec_id >= 8: seed 8 participates on BOTH sides (it is
    // a round-0 centroid AND a member — the fineModel id convention)
    val mem = (seeds ++ members).filter(_._1 >= 8L)
      .map { case (id, v) => (id, v.map(_.toDouble)) }
    val c0 = math.max(8L, (mem.size + target - 1L) / target)
    var cents: Seq[(Long, Array[Double])] =
      (seeds ++ members).filter(_._1 < c0).sortBy(_._1)
        .map { case (id, v) => (id, v.map(_.toDouble)) }
    var ref: Seq[(Long, Long, Long, Double)] = Nil
    (1 to 3).foreach { _ =>
      val asg = mem.map { case (id, v) =>
        val (_, cid) = cents.map { case (c, cv) =>
          (v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, c)
        }.min
        (id, v, cid)
      }
      ref = asg.groupBy(_._3).toSeq.flatMap { case (cid, rows) =>
        (0 until 2).map { d =>
          val xs = rows.map(r => r6(r._2(d)))
          // exact micro-unit half-away-from-zero mean of 6-dp terms
          val tot = xs.map(x => BigDecimal.valueOf(x).setScale(6) * 1000000).sum
          val n = xs.size
          val q = (tot.toBigInt * 2 + (if (tot >= 0) n else -n)) / (2 * n)
          (cid, d.toLong, n.toLong, q.toDouble / 1e6)
        }
      }
      cents = ref.groupBy(_._1).toSeq.sortBy(_._1).map { case (cid, rs) =>
        (cid, rs.sortBy(_._2).map(_._4).toArray)
      }
    }
    assert(got == ref.sorted)
    spark.catalog.clearCache()
  }

  test("empty corpus: fit returns an empty, schema-correct model") {
    val s = spark
    import s.implicits._
    val e = Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
    val out = graft.queries.KmeansFit.fit(e, 3)
    assert(out.columns.toSeq == Seq("cid", "dim", "n", "c_new"))
    assert(out.count() == 0L)
    spark.catalog.clearCache()
  }
}
