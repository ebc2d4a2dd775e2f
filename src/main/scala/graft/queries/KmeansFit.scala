package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._
import graft.core.QueryCaches.cached

/**
 * Full-Lloyd k-means over the embeddings table — the looped composition of
 * the two verified single passes ([[Similarity.embedKmeansAssign]] E-step /
 * [[Similarity.embedKmeansUpdate]] M-step): N rounds of assign → re-mean,
 * emitting the final per-(cluster, dimension) member count and centroid
 * coordinate. This is the trainer the M-step's Scaladoc promised ("a
 * trainer loops the pair, feeding each round's means back in as the next
 * round's centroid constants"), packaged both as a contract query
 * (`embed_kmeans_fit`, [[FitRounds]] rounds, chained-CTE oracle) and as
 * persisted DAG workers ([[graft.workers.CorpusKmeans]] — the
 * CorpusLm persist→reload→apply convention).
 *
 * Semantics (identical on both engines, each round):
 *  - round 0 centroids: the first C = max(8, ⌈members/256⌉) embedding rows
 *    by vec_id, raw values promoted to double (the [[Similarity.fineModel]]
 *    sizing and id convention: cid = vec_id of the seeding row);
 *  - E-step: nearest centroid by squared distance, d² expanded as
 *    ‖v‖² − 2·v·c + ‖c‖², ties to the lower cid. Above 8 live centroids
 *    the assignment is the TWO-LEVEL coarse-cell rule (members and
 *    centroids coarse-assign to the K₁ = ⌈√C⌉ lowest-id centroids; the
 *    fine argmin runs within the member's cell — Θ(n·√C), the IVF
 *    approximation fineModel's consumers document); at C ≤ 8 both engines
 *    degenerate to the flat argmin (K₁ = 1 puts every centroid in one
 *    cell), which the Spark side computes as a pure literal-codegen
 *    expression — no join.
 *  - M-step: new coordinate = exact half-up mean of the members'
 *    6-dp-rounded coordinates ([[Similarity.microMean6]] — integer
 *    arithmetic, so every round ≥ 1 centroid is an exactly-representable
 *    6-dp double on both engines). Clusters that attract no members emit
 *    no rows and drop out of the next round's centroid set (the standard
 *    empty-cluster decay; both engines apply it identically).
 *
 * Scale: the member relation persists once and is scanned once per round;
 * at C ≤ 8 each round is a codegen argmin + one map-side-combined
 * (cid, dim)-group aggregate (shuffle ≤ C·dim rows); above that the
 * coarse step broadcasts K₁ = ⌈√C⌉ rows and the fine join is an equi-join
 * on the cell id — Θ(n·√C) distance work per round, the measured 9–25×
 * at 100× envelope (BENCH_SF10_r10). Centroid relations are
 * model-parameter-sized (C·dim rows = n/4 values at the 256 sizing),
 * persisted eagerly per round to truncate lineage; at C ≤ 8 they fold
 * back as driver-constant literals (the anchorVecs whitelisted collect —
 * 8·64 doubles).
 */
object KmeansFit {

  /** Rounds the contract query runs (the oracle unrolls the same count). */
  val FitRounds = 3

  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot_f64(a, b)

  private val decM = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 8)

  /** Members (vec_id ≥ 8) as (vec_id, v double[], ‖v‖²). */
  private def memberRel(e: DataFrame): DataFrame = e
    .filter(col("vec_id") >= 8)
    .select(col("vec_id"), Similarity.dArr(col("embedding")).as("v"))
    .withColumn("vv", dot(col("v"), col("v")))

  /** Flat E-step against driver-constant centroids (C ≤ 8): pure codegen
    * argmin, ties to the lower cid; constant-false on an empty model. */
  private def assignLit(members: DataFrame,
      cents: Seq[(Long, Array[Double])]): DataFrame = {
    def best(v: Column, vv: Column): Column =
      if (cents.isEmpty) struct(lit(0.0).as("nd"), lit(0L).as("nj"))
      else array_max(array(cents.map { case (cid, cv) =>
        val cl = typedLit(cv)
        val d2 = vv - lit(2.0) * dot(v, cl) + dot(cl, cl)
        struct((-d2).as("nd"), lit(-cid).as("nj"))
      }: _*))
    members.filter(lit(cents.nonEmpty))
      .withColumn("b", best(col("v"), col("vv")))
      .select(col("vec_id"), col("v"),
        (-col("b.nj")).cast("long").as("cid"),
        (round(-col("b.nd"), 6) + lit(0.0)).as("rd2"))
  }

  /** Two-level E-step against a centroid relation (cid, cv, cc) — the
    * [[Similarity.fineModel]] coarse-cell rule over an arbitrary (round-r)
    * centroid set: K₁ = 1 when ≤ 8 centroids are live (flat argmin), else
    * ⌈√C⌉ lowest-cid coarse cells; both argmins are map-side-combinable
    * min/max(struct) aggregates, so every shuffle stays |members|-sized.
    * The coarse side is a BROADCAST model relation (≤ ⌈√C⌉ rows). */
  private[graft] def assignRel(members: DataFrame, cents: DataFrame,
      cCount: Long): DataFrame = {
    val k1 = if (cCount <= 8L) 1L
      else math.max(1L, math.ceil(math.sqrt(cCount.toDouble)).toLong)
    val coarse = cents
      .withColumn("rk", row_number().over(
        Window.partitionBy(zeroPart(col("cid"))).orderBy(col("cid"))))
      .filter(col("rk") <= k1)
      .select(col("cid").as("gid"), col("cv").as("gv"), col("cc").as("gg"))
    def cellOf(df: DataFrame, idc: String, vc: String, vvc: String): DataFrame =
      df.crossJoin(broadcast(coarse))
        .select(col(idc), struct(
          (col(vvc) - lit(2.0) * dot(col(vc), col("gv")) + col("gg")).as("d"),
          col("gid").as("g")).as("cand"))
        .groupBy(col(idc)).agg(min(col("cand")).as("b"))
        .select(col(idc), col("b.g").as("g"))
    val mg = cellOf(members, "vec_id", "v", "vv")
    val cg = cellOf(cents.withColumnRenamed("cc", "cvv"), "cid", "cv", "cvv")
    val centsG = cents.join(cg, "cid")
    members.join(mg, "vec_id")
      .join(broadcast(centsG.withColumnRenamed("cid", "cid0")), "g")
      .select(col("vec_id"), col("v"),
        struct(
          (-(col("vv") - lit(2.0) * dot(col("v"), col("cv")) + col("cc"))).as("nd"),
          (-col("cid0")).as("nj")).as("cand"))
      .groupBy(col("vec_id"))
      .agg(first(col("v")).as("v"), max(col("cand")).as("b"))
      .select(col("vec_id"), col("v"), (-col("b.nj")).cast("long").as("cid"),
        (round(-col("b.nd"), 6) + lit(0.0)).as("rd2"))
  }

  /** M-step: per (cid, dim) member count + exact half-up mean of the
    * 6-dp-rounded coordinates (the [[Similarity.embedKmeansUpdate]]
    * recipe — shuffle ≤ C·dim rows after map-side combine). */
  private def mStep(asg: DataFrame): DataFrame = asg
    .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
    .select(col("cid"), col("dim").cast("long").as("dim"),
      round(col("x"), 6).as("rx"))
    .groupBy(col("cid"), col("dim"))
    .agg(count(lit(1)).as("n"),
      Similarity.microMean6(sum(col("rx").cast(decM)), count(lit(1))).as("c_new"))

  /** (cid, dim, c_new) rows → driver-side literal centroids, cid order. */
  private def collectCents(m: DataFrame): Seq[(Long, Array[Double])] = m
    .select(col("cid"), col("dim"), col("c_new")).collect()
    .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    .map { case (cid, rs) =>
      (cid, rs.sortBy(_.getLong(1)).map(_.getDouble(2)).toArray)
    }

  /** (cid, dim, c_new) relation → (cid, cv double[], cc) relation. */
  private[graft] def centRelOf(m: DataFrame): DataFrame = m
    .groupBy(col("cid"))
    .agg(transform(sort_array(collect_list(struct(col("dim"), col("c_new")))),
      p => p.getField("c_new")).as("cv"))
    .withColumn("cc", dot(col("cv"), col("cv")))

  /**
   * Run `rounds` full Lloyd iterations; returns the final round's
   * (cid, dim, n, c_new) — the trained model table. Intermediate
   * centroid sets materialize eagerly per round (driver literals at
   * C ≤ 8, persisted model-sized relations above); the returned plan
   * recomputes only the LAST round from the persisted member relation.
   */
  def fit(e0: DataFrame, rounds: Int,
      target: Long = Similarity.FineCellTarget): DataFrame =
    mStep(lloydChain(e0, rounds, target).last)
      .orderBy(col("cid"), col("dim"))

  /** The per-round assignment plans of a `rounds`-round Lloyd run: element
    * r−1 is round r's E-step (vec_id, v, cid, rd2) against the round-(r−1)
    * centroid set. Intermediate centroid sets materialize eagerly
    * (driver literals at C ≤ 8, persisted model-sized relations above —
    * all owned by the active [[graft.core.QueryCaches]] scope); each
    * returned plan recomputes only ITS round's assignment from the
    * persisted member relation. */
  private[graft] def lloydChain(e0: DataFrame, rounds: Int,
      target: Long = Similarity.FineCellTarget): Seq[DataFrame] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = e0.filter(col("embedding").isNotNull)
    val members = cached(memberRel(e))
    val nMembers = members.count()
    val c0 = math.max(8L, (nMembers + target - 1L) / target)
    if (c0 <= 8L) {
      // literal path: every round's model is 8·dim doubles on the driver
      var cents: Seq[(Long, Array[Double])] = e.filter(col("vec_id") < c0)
        .select(col("vec_id"), Similarity.dArr(col("embedding")).as("cv"))
        .orderBy(col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      (1 to rounds).map { r =>
        val asg = assignLit(members, cents)
        if (r < rounds) cents = collectCents(mStep(asg))
        asg
      }
    } else {
      // relation path: centroids stay distributed; eager persist + count
      // per round truncates lineage (the components checkpoint contract);
      // every round's model stays persisted (model-parameter-sized) so
      // each returned round plan replays against ITS centroid set
      var cents: DataFrame = e.filter(col("vec_id") < c0)
        .select(col("vec_id").as("cid"), Similarity.dArr(col("embedding")).as("cv"))
        .withColumn("cc", dot(col("cv"), col("cv")))
        .transform(cached)
      var cCount = cents.count()
      (1 to rounds).map { r =>
        val asg = assignRel(members, cents, cCount)
        if (r < rounds) {
          val next = cached(centRelOf(mStep(asg)))
          cCount = next.count()
          cents = next
        }
        asg
      }
    }
  }

  /** Convergence audit of the Lloyd trainer: per round, the member count
    * and the exact mean assigned d² (6-dp inertia) — the observable a
    * pipeline checks before freezing a [[graft.workers.CorpusKmeans]]
    * model (non-decreasing mean_d2 across rounds ⇒ converged / mis-sized
    * k). One |members|-scan per round; each round's aggregate collapses
    * map-side to a single row. */
  def embedKmeansInertia(s: SparkSession, dir: String): DataFrame = {
    val decI = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 12)
    lloydChain(load(s, dir, "embeddings"), FitRounds)
      .zipWithIndex.map { case (asg, i) =>
        asg.agg(count(lit(1)).as("n"),
          Similarity.microMean6(sum(col("rd2").cast(decI)), count(lit(1)))
            .as("mean_d2"))
          .select(lit((i + 1).toLong).as("round"), col("n"), col("mean_d2"))
      }
      .reduce(_ unionByName _)
      .orderBy(col("round"))
  }

  /** E-step of a FROZEN model: assign every member of `e0` to its nearest
    * centroid from a trained (cid, dim, n, c_new) table — the reload half
    * of the worker round-trip. Output (vec_id, cid, rd2). */
  def assignCentroids(e0: DataFrame, centDims: DataFrame): DataFrame = {
    val members = memberRel(e0.filter(col("embedding").isNotNull))
    val cents = cached(centRelOf(centDims.select(col("cid"), col("dim"), col("c_new"))))
    val cCount = cents.count()
    val asg =
      if (cCount <= 8L) {
        val lits = cents.select(col("cid"), col("cv")).orderBy(col("cid"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
        assignLit(members, lits)
      } else assignRel(members, cents, cCount)
    asg.select(col("vec_id"), col("cid"), col("rd2"))
  }

  /** Contract query: [[FitRounds]] Lloyd rounds over the embeddings
    * table, final (cid, dim, n, c_new). */
  def embedKmeansFit(s: SparkSession, dir: String): DataFrame =
    fit(load(s, dir, "embeddings"), FitRounds)

  // ---------------------------------------------------------------- oracle

  /** One unrolled Lloyd round as DuckDB CTEs: expects `m(vec_id,
    * embedding)` and `ct{r-1}(cid, cv DOUBLE[])`; emits `c{r}(cid, dim,
    * n, c_new)` and `ct{r}(cid, cv)`. The K₁/coarse-cell chain is the
    * [[Similarity.fineModel]] oracle shape, re-rooted at the round's live
    * centroid set; at ≤ 8 live centroids K₁ = 1 makes it the flat argmin
    * the Spark literal path computes. */
  private def roundCtes(r: Int): String = {
    val prev = s"ct${r - 1}"
    s"""n$r AS (SELECT COUNT(*) AS cnt FROM $prev),
      |k$r AS (SELECT CASE WHEN cnt <= 8 THEN CAST(1 AS BIGINT)
      |          ELSE GREATEST(1, CAST(CEIL(SQRT(CAST(cnt AS DOUBLE))) AS BIGINT))
      |        END AS k FROM n$r),
      |cor$r AS (SELECT cid AS gid, cv AS gv FROM (
      |           SELECT cid, cv, row_number() OVER (ORDER BY cid) AS rk
      |           FROM $prev), k$r
      |         WHERE rk <= k$r.k),
      |mgd$r AS (
      |  SELECT m.vec_id, cor$r.gid,
      |    SUM(m.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vv,
      |    SUM(cor$r.gv[i] * m.embedding[i]::DOUBLE) AS vc,
      |    SUM(cor$r.gv[i] * cor$r.gv[i]) AS gg
      |  FROM m, cor$r, generate_series(1, 64) t(i)
      |  GROUP BY 1, 2),
      |mg$r AS (SELECT vec_id, gid FROM (
      |  SELECT vec_id, gid, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY vv - 2 * vc + gg, gid) AS rn FROM mgd$r) WHERE rn = 1),
      |cgd$r AS (
      |  SELECT c.cid, g.gid,
      |    SUM(c.cv[i] * c.cv[i]) AS vv,
      |    SUM(g.gv[i] * c.cv[i]) AS vc,
      |    SUM(g.gv[i] * g.gv[i]) AS gg
      |  FROM $prev c, cor$r g, generate_series(1, 64) t(i)
      |  GROUP BY 1, 2),
      |cg$r AS (SELECT cid, gid FROM (
      |  SELECT cid, gid, row_number() OVER (PARTITION BY cid
      |    ORDER BY vv - 2 * vc + gg, gid) AS rn FROM cgd$r) WHERE rn = 1),
      |dots$r AS (
      |  SELECT m.vec_id, c.cid,
      |    SUM(m.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vv,
      |    SUM(c.cv[i] * m.embedding[i]::DOUBLE) AS vc,
      |    SUM(c.cv[i] * c.cv[i]) AS cc
      |  FROM m JOIN mg$r USING (vec_id)
      |  JOIN cg$r ON cg$r.gid = mg$r.gid
      |  JOIN $prev c ON c.cid = cg$r.cid,
      |  generate_series(1, 64) t(i)
      |  GROUP BY 1, 2),
      |a$r AS (SELECT vec_id, cid, rd2 FROM (
      |  SELECT vec_id, cid, round(vv - 2 * vc + cc, 6) + 0.0 AS rd2,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY vv - 2 * vc + cc, cid) AS rn FROM dots$r) WHERE rn = 1),
      |c$r AS (
      |  SELECT a.cid, CAST(i - 1 AS BIGINT) AS dim, COUNT(1) AS n,
      |    ${Similarity.duckMicroMean6(
             "SUM(CAST(round(m.embedding[i]::DOUBLE, 6) AS DECIMAL(30,8)))",
             "COUNT(1)")} AS c_new
      |  FROM a$r a JOIN m USING (vec_id), generate_series(1, 64) t(i)
      |  GROUP BY 1, 2),
      |ct$r AS (SELECT cid, list(c_new ORDER BY dim) AS cv FROM c$r GROUP BY cid)""".stripMargin
  }

  /** The full WITH body: seeding + [[FitRounds]] unrolled rounds. */
  private def chainCtes: String = {
    val rounds = (1 to FitRounds).map(roundCtes).mkString(",\n")
    s"""e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
      |nm AS (SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 256.0) AS BIGINT)) AS c
      |       FROM e WHERE vec_id >= 8),
      |m AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 8),
      |ct0 AS (SELECT vec_id AS cid,
      |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      |        FROM e, nm WHERE vec_id < nm.c),
      |$rounds""".stripMargin
  }

  private def fitOracleSql: String =
    s"WITH $chainCtes\n" +
      s"SELECT cid, dim, n, c_new FROM c$FitRounds ORDER BY cid, dim"

  private def inertiaOracleSql: String =
    s"WITH $chainCtes\n" +
      (1 to FitRounds).map { r =>
        s"SELECT CAST($r AS BIGINT) AS round, COUNT(1) AS n, " +
          Similarity.duckMicroMean6(
            "SUM(CAST(rd2 AS DECIMAL(30,12)))", "COUNT(1)") +
          s" AS mean_d2 FROM a$r"
      }.mkString("\nUNION ALL\n") + "\nORDER BY round"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_kmeans_fit" -> (embedKmeansFit _),
    "embed_kmeans_inertia" -> (embedKmeansInertia _))

  val oracle: Map[String, String] = Map(
    "embed_kmeans_fit" -> fitOracleSql,
    "embed_kmeans_inertia" -> inertiaOracleSql)
}
