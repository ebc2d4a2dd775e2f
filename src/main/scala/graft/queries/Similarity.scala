package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._
import graft.core.QueryCaches.cached

/**
 * Similarity search over the embeddings table (builder brief §similarity):
 * brute-force cosine top-k as the exactness baseline, and sign-LSH
 * (random-hyperplane-style, anchors drawn deterministically from the data)
 * bucketing as the scale path.
 *
 * Scale design: brute-force is a broadcast of the (small) query set against
 * a distributed candidate scan — O(|C|·|Q|) with no shuffle until top-k; the
 * per-query top-k is a partial TakeOrdered per partition. The LSH variant
 * replaces the full scan with an equi-join on bucket id.
 *
 * Float convention: elements promoted to double before accumulation; dot
 * products folded in index order (zip_with + ordered aggregate) on both
 * engines; emitted similarities rounded to 6 dp.
 */
object Similarity {

  private[graft] def dArr(c: Column): Column = transform(c, x => x.cast("double"))

  /** Index-ordered dot product — codegen'd expression
    * ([[graft.functions.DotF64]]); the higher-order
    * `aggregate(zip_with(...))` spelling interpreted two lambdas per
    * element, the dominant cost of these operators. Fold order (array
    * index) is unchanged, so results are bit-identical. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot_f64(a, b)

  /** NULL when either vector has zero norm (a failed-encoder all-zeros
    * embedding must not crash the scan under ANSI division — and NULL
    * similarity never passes a threshold filter, matching DuckDB's x/0
    * semantics). */
  private[graft] def cosine(a: Column, b: Column): Column = {
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(denom > 0, dot(a, b) / denom)
  }

  /** Brute-force cosine top-5: queries = vec_id < 10, candidates = rest. */
  def simBruteforceTopk(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull) // failed-encoder rows are outside vector ops
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val c = e.filter(col("vec_id") >= 10)
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    c.crossJoin(broadcast(q))
      .withColumn("sim", cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor"),
        round(col("sim"), 6).as("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The 8 anchor vectors (vec_id 0..7) as driver-side constants: LSH
    * hyperplanes are MODEL PARAMETERS, metadata-sized by construction, so
    * collecting them and folding the bucket computation into a pure
    * per-row expression removes a crossJoin + aggregation + join-back
    * chain per reference — which executed TWICE in the self-join
    * operators (Spark re-executes un-materialized subtrees per branch). */
  private def anchorVecs(s: SparkSession, dir: String): Seq[Array[Double]] =
    anchorVecsOf(load(s, dir, "embeddings"))

  /** Same collect from an already-loaded embeddings relation (the
    * streaming twin's static side). */
  private[graft] def anchorVecsOf(emb: DataFrame): Seq[Array[Double]] =
    emb
      .filter(col("vec_id") < 8 && col("embedding").isNotNull)
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
      .orderBy(col("vec_id"))
      .collect()
      .map(_.getSeq[Double](1).toArray).toSeq

  /** 8-bit sign-LSH bucket of `v` against the anchor constants — a single
    * codegen'd expression, no join. */
  /** NULL bucket when there are no anchors (an empty model-parameter
    * collect on an empty/filtered-out slice) — consumers pair this with a
    * [[noModel]] guard so the query returns zero rows instead of throwing
    * from expression construction. */
  private[graft] def bucketExpr(v: Column, anchors: Seq[Array[Double]]): Column =
    if (anchors.isEmpty) lit(null).cast("long")
    else anchors.zipWithIndex.map { case (a, j) =>
      when(dot(v, typedLit(a)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Constant-false filter when the model-parameter collect came back
    * empty: keeps the plan/schema intact, folds to an empty relation. */
  private[graft] def noModel(params: Seq[_]): Column = lit(params.nonEmpty)

  /** Sign-LSH bucketing: 8 anchor vectors (vec_id 0..7, driver constants)
    * give an 8-bit bucket per vector; the bucket histogram is the
    * oracle-checked output. At scale the ANN search becomes an equi-join
    * on this bucket. */
  def simLshBuckets(s: SparkSession, dir: String): DataFrame = {
    val anchors = anchorVecs(s, dir)
    load(s, dir, "embeddings")
      .filter(col("vec_id") >= 8 && col("embedding").isNotNull && noModel(anchors))
      .select(col("vec_id"), bucketExpr(dArr(col("embedding")), anchors).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  private val IvfNprobe = 2

  /**
   * IVF (inverted-file) ANN top-5: the coarse quantizer is the 8 centroid
   * vectors (vec_id 0..7, injected driver-side constants — FAISS-style
   * externally-trained centroids); every candidate vector is assigned to
   * its nearest centroid (argmax cosine), forming inverted lists keyed by
   * centroid id; each query probes its [[IvfNprobe]] nearest lists and
   * exact-ranks only those candidates.
   *
   * Scale design vs [[simBruteforceTopk]]'s O(|C|·|Q|) scan: assignment is
   * a per-row codegen expression over the scan (no join — centroids are
   * model parameters, metadata-sized); the probe is an equi-join on
   * centroid id, so the work shrinks to |C|·nprobe/K and shuffles on the
   * list key — at 100 TB the candidate side would be bucketed by `cid` so
   * repeated queries join without re-shuffling the corpus.
   */
  def simIvfTopk(s: SparkSession, dir: String): DataFrame = {
    val cents = anchorVecs(s, dir)
    // (dot, -j) structs: max picks the highest dot, ties the SMALLEST j —
    // matching the oracle's ORDER BY d DESC, cid ASC. With no centroids
    // the array must still TYPE-resolve (a bare array() is VOID and kills
    // the getField extraction at analysis), so a typed placeholder stands
    // in behind the noModel constant-false guard below.
    def simsArr(v: Column): Column =
      if (cents.isEmpty) array(struct(lit(0.0).as("d"), lit(0).as("nj")))
      else array(cents.zipWithIndex.map { case (c, j) =>
        struct(dot(v, typedLit(c)).as("d"), lit(-j).as("nj"))
      }: _*)

    val e = load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull && noModel(cents))
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
    val cands = e.filter(col("vec_id") >= 18)
      .select(col("vec_id"), col("v"),
        (-array_max(simsArr(col("v"))).getField("nj")).as("cid"))
    val probes = e.filter(col("vec_id").between(8, 17))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(slice(reverse(array_sort(simsArr(col("v")))), 1, IvfNprobe)).as("p"))
      .select(col("qid"), col("qv"), (-col("p.nj")).as("cid"))

    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    probes.join(cands, "cid")
      .withColumn("sim", cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor"),
        round(col("sim"), 6).as("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Near-dup threshold for the synthetic label-cluster embeddings; real
    * dedup corpora would sit near 0.95 — the plan is threshold-agnostic. */
  private[graft] val CosineDupThreshold = 0.35

  /**
   * Embedding-cosine near-dup pairs (builder brief §dedup): sign-LSH
   * bucket equi-join generates candidates (never all-pairs), exact cosine
   * verifies. The oracle computes the identical bucket definition, so the
   * whole candidate-generation + verify pipeline is hash-checked.
   * Scale: candidates shuffle on bucket id only; anchors broadcast.
   */
  def dedupEmbeddingCosine(s: SparkSession, dir: String): DataFrame = {
    val anchors = anchorVecs(s, dir)
    // bucket is a per-row expression over the scan — the embedding rides
    // along, so neither a bucket aggregation nor a join-back exists and
    // each self-join branch is a bare (pruned) scan + project
    val buckets = load(s, dir, "embeddings")
      .filter(col("vec_id") >= 8 && col("embedding").isNotNull && noModel(anchors))
      .select(col("vec_id"), dArr(col("embedding")).as("v"),
        bucketExpr(dArr(col("embedding")), anchors).as("bucket"))
    val a = buckets.select(col("bucket"), col("vec_id").as("va"), col("v").as("xa"))
    val b = buckets.select(col("bucket").as("bucket_b"), col("vec_id").as("vb"),
      col("v").as("xb"))
    a.join(b, col("bucket") === col("bucket_b") && col("va") < col("vb"))
      .withColumn("sim", cosine(col("xa"), col("xb")))
      .filter(col("sim") >= CosineDupThreshold)
      .select(col("va"), col("vb"), round(col("sim"), 6).as("sim"))
      .orderBy(col("va"), col("vb"))
  }

  /**
   * Int8 symmetric-quantization accounting — the storage-shrink audit an
   * embedding corpus runs before serving ANN from quantized vectors: per
   * vector, the max-abs scale, how many dims quantize to zero, how many
   * saturate at ±127, and the squared reconstruction error. Everything is
   * a per-row codegen expression over one scan — no shuffle at all until
   * the (tiny) ordered output. Quantization uses `floor(x/scale + 0.5)`
   * (identical IEEE ops on both engines) rather than `round()`, whose tie
   * behavior is engine-defined; float accumulation follows the
   * [[Similarity]] convention (double promotion, 6-dp rounding on output).
   * A zero vector (failed encoder) yields NULL accounting rather than a
   * division error.
   */
  def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    val v = dArr(col("embedding"))
    val maxabs = aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x)))
    load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull) // failed-encoder rows are outside vector ops
      .select(col("vec_id"), v.as("v"), size(col("embedding")).as("dim"),
        maxabs.as("maxabs"))
      .withColumn("scale", when(col("maxabs") > 0, col("maxabs") / 127.0d))
      .withColumn("q", when(col("scale").isNotNull,
        transform(col("v"), x => floor(x / col("scale") + lit(0.5d)))))
      .select(col("vec_id"), col("dim"),
        round(col("maxabs"), 6).as("maxabs"),
        size(filter(col("q"), q => q === 0L)).cast("long").as("n_zero"),
        size(filter(col("q"), q => abs(q) === 127L)).cast("long").as("n_sat"),
        round(aggregate(
          zip_with(col("v"), col("q"),
            (x, q) => (x - q * col("scale")) * (x - q * col("scale"))),
          lit(0.0), (a, e) => a + e), 6).as("sq_err"))
      .orderBy(col("vec_id"))
  }

  /**
   * K-means assignment pass (one Lloyd iteration's E-step) — the
   * clustering primitive behind semantic dedup / diversity-balanced corpus
   * sampling: every member vector is assigned to its nearest centroid by
   * squared Euclidean distance, and the per-cluster population + mean
   * distortion (the inertia decomposition a trainer watches for
   * convergence) come back as the audit table. Centroids are vec_id 0..7 —
   * externally-trained model parameters, same convention as
   * [[simIvfTopk]]'s coarse quantizer.
   *
   * Scale: centroids are driver-constant codegen expressions (no join —
   * the assignment is a pure per-row argmin over the scan, d² expanded as
   * ‖v‖² − 2·v·c + ‖c‖² so ‖v‖² is computed once per row); the only
   * shuffle is the k-group aggregation, map-side-combined. Determinism:
   * per-row d² rounded to 6 dp (identical IEEE ops both engines), then
   * summed as exact DECIMAL so partial-agg order can't flip low bits;
   * `+ 0.0` canonicalizes a −0.0 round result.
   */
  /** Shared E-step: every member vector (vec_id ≥ 8) with its nearest
    * centroid id and (unrounded-argmin, 6-dp-rounded-output) squared
    * distance. Centroids are driver constants; the assignment is a pure
    * per-row codegen argmin — no join, no shuffle. */
  private def kmeansAssigned(s: SparkSession, dir: String): DataFrame = {
    val cents = anchorVecs(s, dir)
    // typed placeholder when there are no centroids (see simsArr note) —
    // the noModel guard makes the relation empty, never mis-assigned
    def best(v: Column, vv: Column): Column =
      if (cents.isEmpty) struct(lit(0.0).as("nd"), lit(0).as("nj"))
      else array_max(array(
        cents.zipWithIndex.map { case (c, j) =>
          val cl = typedLit(c)
          val d2 = vv - lit(2.0) * dot(v, cl) + dot(cl, cl)
          struct((-d2).as("nd"), lit(-j).as("nj"))
        }: _*))
    load(s, dir, "embeddings")
      .filter(col("vec_id") >= 8 && col("embedding").isNotNull && noModel(cents))
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
      .withColumn("vv", dot(col("v"), col("v")))
      .withColumn("b", best(col("v"), col("vv")))
      .select(col("vec_id"), col("v"),
        (-col("b.nj")).cast("long").as("cid"),
        (round(-col("b.nd"), 6) + lit(0.0)).as("rd2"))
  }

  /** Target cell population for the adaptive-k assignment feeding the
    * cell-bounded quadratic consumers ([[dedupSemantic]],
    * [[embedPairMining]]): the centroid count grows as
    * C = max(8, ceil(members / FineCellTarget)), so candidate-pair volume
    * is ~members·FineCellTarget — LINEAR in the corpus — instead of
    * members²/8 under a fixed-k model (measured 36× wall-clock at 10×
    * rows before this; SemDeDup's own scale story is the same sizing,
    * ~100k cells at web scale). */
  private[graft] val FineCellTarget = 256L

  /** Exact half-up mean of 6-dp terms, safe against the half-way 7th
    * digit that splits the engines' `round`: Spark re-derives the decimal
    * from the double's SHORTEST repr (BigDecimal.valueOf) while DuckDB
    * rounds the exact binary expansion, so a quotient like 0.0317195
    * rounds to .031720 on one engine and .031719 on the other (measured
    * at 10× on embed_kmeans_update). Both engines instead fold the sum
    * as exact micro-units (terms have ≤6 dp, so sum·10⁶ is integral) and
    * round half-away-from-zero in integer arithmetic — floor((2|T|+n)
    * / (2n)) via an exactly-divisible pmod split, no double until the
    * final /10⁶ which is the same IEEE op on both engines. */
  private[graft] def microMean6(sumDec: Column, n: Column): Column = {
    val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val t = (sumDec * lit(1000000L)).cast(d38)
    val num = when(t >= 0, lit(2L).cast(d38) * t + n.cast(d38))
      .otherwise(lit(-2L).cast(d38) * t + n.cast(d38))
    val den = lit(2L).cast(d38) * n.cast(d38)
    val q = ((num - pmod(num, den)) / den).cast(d38)
    (when(t >= 0, q).otherwise(-q).cast("double") / lit(1000000.0)) +
      lit(0.0)
  }

  /** The DuckDB spelling of [[microMean6]] over a decimal sum expression
    * and a BIGINT count expression. */
  private[graft] def duckMicroMean6(sumSql: String, nSql: String): String =
    s"(CAST(CASE WHEN CAST(($sumSql) * 1000000 AS HUGEINT) >= 0 THEN " +
      s"(2 * CAST(($sumSql) * 1000000 AS HUGEINT) + ($nSql)) // (2 * ($nSql)) " +
      s"ELSE -((-2 * CAST(($sumSql) * 1000000 AS HUGEINT) + ($nSql)) " +
      s"// (2 * ($nSql))) END AS DOUBLE) / 1000000.0) + 0.0"

  /** Adaptive-k E-step: the same nearest-centroid assignment as
    * [[kmeansAssigned]], but the centroid set is the first
    * C = max(8, ceil(members/target)) embedding rows, so cells stay
    * ~target-sized at any corpus scale. At C = 8 (every sf the DuckDB
    * oracle checks) this IS kmeansAssigned — the bit-identical
    * literal-codegen path. Above that the assignment is TWO-LEVEL
    * (the IVF coarse-quantizer shape): members and centroids first
    * coarse-assign to the K₁ = ⌈√C⌉ lowest-id centroids, then the fine
    * argmin runs only within the member's coarse cell — an equi-join on
    * the cell id, Θ(n·√C) distance work instead of the flat broadcast's
    * Θ(n·C) = Θ(n²/target), which the 100× spot-scale pair measured at
    * up to 3.9× over linear (BENCH_SF10, embed_kmeans_update 391× for
    * 100× data). Both argmins collapse in map-side-combinable
    * min/max(struct) aggregates, so every shuffle is |members|-sized.
    * d² uses the same ‖v‖² − 2·v·c + ‖c‖² expansion in the same IEEE op
    * order on both levels and both engines; ties break to the lower id.
    * The oracle mirrors the two-level rule exactly and degenerates to
    * the flat assignment at C ≤ 8 (K₁ = 1 — one coarse cell holds every
    * centroid), which is why the coarse codegen path stays bit-identical.
    * The sizing count is one column-pruned scan action — the same
    * model-sizing driver decision as the anchor collect. Returns the
    * assignment and C (consumers size their cell salts from it). */
  private[graft] def fineModel(s: SparkSession, dir: String,
      target: Long = FineCellTarget): (DataFrame, Long) = {
    val e = load(s, dir, "embeddings").filter(col("embedding").isNotNull)
    val nMembers = e.filter(col("vec_id") >= 8).count()
    val c = math.max(8L, (nMembers + target - 1L) / target)
    if (c <= 8L)
      (kmeansAssigned(s, dir)
        .select(col("vec_id"), col("v"), col("cid"), col("rd2")), c)
    else {
      val cents = e.filter(col("vec_id") < c)
        .select(col("vec_id").as("cid0"), dArr(col("embedding")).as("cv"))
        .withColumn("cc", dot(col("cv"), col("cv")))
      val k1 = math.max(1L, math.ceil(math.sqrt(c.toDouble)).toLong)
      // coarse level: the first K₁ centroids by id (presence-robust rank
      // over the model-parameter-sized centroid relation)
      val coarse = cents
        .withColumn("rk", row_number().over(
          Window.partitionBy(zeroPart(col("cid0"))).orderBy(col("cid0"))))
        .filter(col("rk") <= k1)
        .select(col("cid0").as("gid"), col("cv").as("gv"), col("cc").as("gg"))
      // coarse cell of a (id, vec, ‖vec‖²) relation: min (d², gid) struct
      def cellOf(df: DataFrame, idc: String, vc: String, vvc: String): DataFrame =
        df.crossJoin(broadcast(coarse))
          .select(col(idc), struct(
            (col(vvc) - lit(2.0) * dot(col(vc), col("gv")) + col("gg")).as("d"),
            col("gid").as("g")).as("cand"))
          .groupBy(col(idc)).agg(min(col("cand")).as("b"))
          .select(col(idc), col("b.g").as("g"))
      val members = e.filter(col("vec_id") >= 8)
        .select(col("vec_id"), dArr(col("embedding")).as("v"))
        .withColumn("vv", dot(col("v"), col("v")))
      val mg = cellOf(members, "vec_id", "v", "vv")
      val cg = cellOf(cents, "cid0", "cv", "cc")
      val centsG = cents.join(cg, "cid0")
      val asg = members.join(mg, "vec_id")
        .join(broadcast(centsG), "g")
        .select(col("vec_id"), col("v"),
          struct(
            (-(col("vv") - lit(2.0) * dot(col("v"), col("cv")) + col("cc")))
              .as("nd"),
            (-col("cid0")).as("nj")).as("cand"))
        .groupBy(col("vec_id"))
        .agg(first(col("v")).as("v"), max(col("cand")).as("b"))
        .select(col("vec_id"), col("v"), (-col("b.nj")).cast("long").as("cid"),
          (round(-col("b.nd"), 6) + lit(0.0)).as("rd2"))
      (asg, c)
    }
  }

  /** The two-level adaptive assignment as a shared DuckDB CTE chain —
    * the oracle mirror of [[fineModel]], used by every fineModel
    * consumer. Expects an `e(vec_id, embedding)` CTE already defined;
    * ends with `m(vec_id, embedding)` and
    * `assign(vec_id, cid, rd2, rn)` (take rn = 1). At C ≤ 8, K₁ = 1
    * puts every centroid in one coarse cell, so the chain IS the flat
    * argmin the coarse codegen path computes. */
  private def fineAssignCtes: String =
    """nm AS (SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 256.0) AS BIGINT)) AS c
      |       FROM e WHERE vec_id >= 8),
      |cent AS (SELECT vec_id AS cid0, embedding AS cv FROM e, nm WHERE vec_id < nm.c),
      |k1 AS (SELECT CASE WHEN c <= 8 THEN CAST(1 AS BIGINT)
      |         ELSE GREATEST(1, CAST(CEIL(SQRT(CAST(c AS DOUBLE))) AS BIGINT))
      |       END AS k FROM nm),
      |cor AS (SELECT cid0 AS gid, cv AS gv FROM (
      |          SELECT cid0, cv, row_number() OVER (ORDER BY cid0) AS rk
      |          FROM cent), k1
      |        WHERE rk <= k1.k),
      |m AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 8),
      |mgd AS (
      |  SELECT m.vec_id, cor.gid,
      |    SUM(m.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vv,
      |    SUM(cor.gv[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vc,
      |    SUM(cor.gv[i]::DOUBLE * cor.gv[i]::DOUBLE) AS gg
      |  FROM m, cor, generate_series(1, 64) t(i)
      |  GROUP BY 1, 2),
      |mg AS (SELECT vec_id, gid FROM (
      |  SELECT vec_id, gid, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY vv - 2 * vc + gg, gid) AS rn FROM mgd) WHERE rn = 1),
      |cgd AS (
      |  SELECT cent.cid0, cor.gid,
      |    SUM(cent.cv[i]::DOUBLE * cent.cv[i]::DOUBLE) AS vv,
      |    SUM(cor.gv[i]::DOUBLE * cent.cv[i]::DOUBLE) AS vc,
      |    SUM(cor.gv[i]::DOUBLE * cor.gv[i]::DOUBLE) AS gg
      |  FROM cent, cor, generate_series(1, 64) t(i)
      |  GROUP BY 1, 2),
      |cg AS (SELECT cid0, gid FROM (
      |  SELECT cid0, gid, row_number() OVER (PARTITION BY cid0
      |    ORDER BY vv - 2 * vc + gg, gid) AS rn FROM cgd) WHERE rn = 1),
      |dots AS (
      |  SELECT m.vec_id, cent.cid0,
      |    SUM(m.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vv,
      |    SUM(cent.cv[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vc,
      |    SUM(cent.cv[i]::DOUBLE * cent.cv[i]::DOUBLE) AS cc
      |  FROM m JOIN mg USING (vec_id)
      |  JOIN cg ON cg.gid = mg.gid
      |  JOIN cent ON cent.cid0 = cg.cid0,
      |  generate_series(1, 64) t(i)
      |  GROUP BY 1, 2),
      |assign AS (
      |  SELECT vec_id, cid0 AS cid, round(vv - 2 * vc + cc, 6) + 0.0 AS rd2,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY vv - 2 * vc + cc ASC, cid0) AS rn
      |  FROM dots)""".stripMargin

  /** Salt count for a cid-bounded quadratic join: spread cells only as far
    * as needed to fill the cores — a coarse model (C ≪ cores) gets the
    * full [[CellJoinSalts]] spread, a fine model (C ≥ cores) none (salting
    * there only replicates the partner side for no parallelism gain). */
  private def cellSalts(s: SparkSession, cCells: Long): Int =
    math.max(1L, math.min(CellJoinSalts.toLong,
      (s.sparkContext.defaultParallelism.toLong + cCells - 1L) / cCells)).toInt

  def embedKmeansAssign(s: SparkSession, dir: String): DataFrame =
    fineModel(s, dir)._1
      .select(col("cid"), col("rd2"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        microMean6(sum(col("rd2").cast(org.apache.spark.sql.types.DataTypes
            .createDecimalType(30, 12))), count(lit(1)))
          .as("mean_d2"))
      .orderBy(col("cid"))

  /**
   * Simplified-silhouette clustering audit (the centroid-distance
   * silhouette — the O(n·k) form used at scale, where the classic O(n²)
   * pairwise silhouette is unpayable): the audited clustering is the
   * corpus's own `label` column (an externally-trained partition — the
   * thing a curation team wants graded), the centroids are the first
   * C = max(8, ceil(members/target)) embedding rows (label j's centroid
   * is row j — the [[fineModel]] adaptive-k convention, so the audited
   * model grows with the corpus instead of pinning k=8). Per member:
   * a = Euclidean distance to
   * its OWN labeled centroid, b = distance to the nearest OTHER
   * centroid, s = (b − a) / max(a, b) ∈ [−1, 1]; the per-label audit
   * reports population, misfit count (s < 0 — the member sits closer to
   * another cluster than its own; unlike an argmin assignment, a labeled
   * partition CAN misfit), and mean s. Members whose label has no
   * centroid are outside the audit (documented contract: the label
   * space may be wider than the trained k).
   *
   * Scale: at C = 8 centroids are driver-constant codegen expressions —
   * the full k-way distance profile is one per-row expression over the
   * scan (no join); it materializes ONCE behind an explode-of-singleton
   * barrier (Generate stops CollapseProject from re-inlining the distance
   * tree per downstream reference — the measured PQ lesson). Above C = 8
   * (codegen'ing thousands of literal centroids would blow the JVM
   * method-size limit — the [[fineModel]] switch) the profile becomes a
   * broadcast cross join against the C-row centroid relation with a/b
   * collapsed in ONE map-side-combinable aggregate (conditional MAX for
   * the own-label distance, conditional MIN over the others), so the
   * shuffle is |members|-sized, never |members·C|. The only other
   * shuffle is the ≤k-group rollup. Determinism: a/b pick on unrounded
   * d² in the same ‖v‖² − 2·v·c + ‖c‖² IEEE op order on both paths (the
   * [[kmeansAssigned]] contract — b is a MIN of values, no id tiebreak
   * needed), per-row s rounded to 6 dp, summed as exact DECIMAL; −0.0
   * canonicalized.
   */
  def embedSilhouette(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings").filter(col("embedding").isNotNull)
    val nMembers = e.filter(col("vec_id") >= 8).count()
    val cK = math.max(8L, (nMembers + FineCellTarget - 1L) / FineCellTarget)
    val perRow = if (cK <= 8L) {
      val cents = anchorVecs(s, dir)
      // typed placeholder when there is no model — the guard below empties
      // the relation before evaluation (b needs a second centroid to exist)
      def dists(v: Column, vv: Column): Column =
        if (cents.isEmpty) array(lit(0.0), lit(0.0))
        else array(cents.map { c =>
          val cl = typedLit(c)
          vv - lit(2.0) * dot(v, cl) + dot(cl, cl)
        }: _*)
      e
        .filter(col("vec_id") >= 8 &&
          col("label").isNotNull && col("label") >= 0 &&
          col("label") < cents.size && lit(cents.size >= 2))
        .select(col("vec_id"), col("label").cast("long").as("label"),
          dArr(col("embedding")).as("v"))
        .withColumn("vv", dot(col("v"), col("v")))
        .select(col("vec_id"), col("label"),
          explode(array(dists(col("v"), col("vv")))).as("da"))
        .select(col("vec_id"), col("label"),
          element_at(col("da"), (col("label") + 1).cast("int")).as("a2"),
          array_min(filter(col("da"),
            (_, i) => i.cast("long") =!= col("label"))).as("b2"))
    } else {
      val cents = e.filter(col("vec_id") < cK)
        .select(col("vec_id").as("cid0"), dArr(col("embedding")).as("cv"))
        .withColumn("cc", dot(col("cv"), col("cv")))
      // label admission bound = the COUNT of centroid rows actually
      // present (mirrors the oracle's nc.k and the coarse branch's
      // cents.size), NOT the sizing-formula value cK: if any vec_id in
      // [0, cK) is absent from embeddings the two quantities differ and
      // the engines would admit different label sets. One column-pruned
      // count action over the model-sized centroid relation.
      val nCents = e.filter(col("vec_id") < cK).count()
      val d2 = col("vv") - lit(2.0) * dot(col("v"), col("cv")) + col("cc")
      e
        .filter(col("vec_id") >= 8 &&
          col("label").isNotNull && col("label") >= 0 && col("label") < nCents)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          dArr(col("embedding")).as("v"))
        .withColumn("vv", dot(col("v"), col("v")))
        .crossJoin(broadcast(cents))
        .select(col("vec_id"), col("label"), col("cid0"), d2.as("d2"))
        .groupBy(col("vec_id"), col("label"))
        .agg(max(when(col("cid0") === col("label"), col("d2"))).as("a2"),
          min(when(col("cid0") =!= col("label"), col("d2"))).as("b2"))
        // a label with no centroid row (non-contiguous ids) is outside
        // the audit — the same exclusion the coarse filter applies
        .filter(col("a2").isNotNull && col("b2").isNotNull)
    }
    val a = sqrt(greatest(col("a2"), lit(0.0)))
    val b = sqrt(greatest(col("b2"), lit(0.0)))
    val sil = round(when(greatest(a, b) > 0, (b - a) / greatest(a, b))
      .otherwise(0.0), 6) + lit(0.0)
    val decS = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 8)
    perRow
      .select(col("label"), sil.as("sil"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("sil") < 0, 1L).otherwise(0L)).as("n_misfit"),
        microMean6(sum(col("sil").cast(decS)), count(lit(1))).as("mean_sil"))
      .orderBy(col("label"))
  }

  /** k-center coreset size (greedy farthest-point picks). */
  private val KcPicks = 8

  /**
   * Greedy k-center coreset (farthest-point traversal, the 2-approx of
   * Gonzalez 1985) — the diversity-first subset selection a curation run
   * uses to pick exemplar documents / seed centroids: start from the
   * lowest-id member, then repeatedly take the vector FARTHEST from the
   * chosen set (max over members of min d² to any pick). Each pick's r²
   * is the covering radius the set had before absorbing it — the
   * monotone curve a planner reads to choose the coreset size.
   *
   * Scale shape: the member scan persists ONCE (vec_id, v, ‖v‖²); each
   * of the ≤[[KcPicks]] rounds is one scan with the chosen set folded in
   * as driver constants (≤k·dim doubles — model parameters, the MMR /
   * PCA-power convention) and a 1-row argmax collect. k scans of the
   * cache, no joins, no windows. Determinism: argmax on the UNROUNDED
   * min-d² (identical IEEE ‖v‖²−2·v·c+‖c‖² chains both engines; min is
   * order-free) with vec_id as the tiebreak; display radius rounded at
   * 6 dp; already-picked ids are excluded so an all-duplicates corpus
   * yields distinct picks at r² = 0.
   */
  def embedKcenterCoreset(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = load(s, dir, "embeddings")
      .filter(col("vec_id") >= 8 && col("embedding").isNotNull)
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
      .withColumn("vv", dot(col("v"), col("v")))
      .transform(cached)
    val seed = m.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("v")).collect().headOption
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Option[Double])]
    seed.foreach { row =>
      var picks = Vector((row.getLong(0), row.getSeq[Double](1).toArray))
      out += ((1L, row.getLong(0), None))
      var done = false
      while (!done && picks.size < KcPicks) {
        val mind = picks.map { case (_, c) =>
          val cl = typedLit(c)
          col("vv") - lit(2.0) * dot(col("v"), cl) + dot(cl, cl)
        }.reduce(least(_, _))
        val picked = picks.map(_._1)
        val best = m
          .filter(!col("vec_id").isin(picked: _*))
          .select(col("vec_id"), col("v"), mind.as("md"))
          .orderBy(col("md").desc, col("vec_id")).limit(1)
          .collect()
        if (best.isEmpty) done = true
        else {
          val b = best.head
          picks = picks :+ ((b.getLong(0), b.getSeq[Double](1).toArray))
          out += ((picks.size.toLong, b.getLong(0), Some(b.getDouble(2))))
        }
      }
    }
    out.toSeq
      .map { case (p, id, r2) => (p, id, r2) }
      .toDF("pick", "vec_id", "r2")
      .select(col("pick"), col("vec_id"),
        (round(col("r2"), 6) + lit(0.0)).as("r2"))
      .orderBy(col("pick"))
  }

  /** DuckDB mirror of [[embedKcenterCoreset]]: one chained CTE block per
    * round — round k computes every member's min d² against picks_{k−1}
    * (the same ‖v‖²−2·v·c+‖c‖² spelling), argmaxes with the vec_id
    * tiebreak excluding prior picks, and unions the pick in. */
  private def kcenterOracleSql: String = {
    val rounds = (2 to KcPicks).map { k =>
      s"""d$k AS (
         |  SELECT vid AS vec_id, MIN(vv - 2 * vc + cc) AS md FROM (
         |    SELECT m.vec_id AS vid,
         |      SUM(m.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vv,
         |      SUM(p.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vc,
         |      SUM(p.embedding[i]::DOUBLE * p.embedding[i]::DOUBLE) AS cc
         |    FROM m, picks${k - 1} p, generate_series(1, 64) t(i)
         |    GROUP BY m.vec_id, p.vec_id)
         |  GROUP BY vid),
         |p$k AS (
         |  SELECT m.vec_id, m.embedding, round(d.md, 6) + 0.0 AS r2,
         |    CAST($k AS BIGINT) AS pick
         |  FROM m JOIN d$k d USING (vec_id)
         |  WHERE m.vec_id NOT IN (SELECT vec_id FROM picks${k - 1})
         |  ORDER BY d.md DESC, m.vec_id LIMIT 1),
         |picks$k AS (SELECT * FROM picks${k - 1} UNION ALL SELECT * FROM p$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |m AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 8),
       |p1 AS (SELECT vec_id, embedding, CAST(NULL AS DOUBLE) AS r2,
       |         CAST(1 AS BIGINT) AS pick
       |       FROM m ORDER BY vec_id LIMIT 1),
       |picks1 AS (SELECT * FROM p1),
       |$rounds
       |SELECT pick, vec_id, r2 FROM picks$KcPicks ORDER BY pick""".stripMargin
  }

  /** PQ subspace count: 64-dim vectors → 8 subspaces × 8 dims. */
  private val PqM = 8

  /**
   * Product-quantization code assignment (Jégou et al. 2011) — the
   * compression step that makes billion-vector ANN affordable: each
   * vector splits into [[PqM]] subspaces and every subspace is encoded
   * as the id of its nearest sub-centroid, turning 64 floats into 8
   * byte-sized codes (32× smaller; at 100 TB the codes fit in memory
   * where the raw vectors never would, and distance queries scan codes
   * against per-query lookup tables). Sub-centroids are the anchor
   * vectors' slices (vec_id 0..7 — externally-trained model parameters,
   * the [[simIvfTopk]] convention). Emits (vec_id, subspace, code,
   * sq_err) — the per-subspace reconstruction error is the audit a
   * pipeline reads to size M before committing to a codebook.
   *
   * Scale: sub-centroids are driver-constant codegen expressions (no
   * join, no shuffle — the argmin is a per-row `array_max` over
   * [[PqM]]·8 literal-dot terms); the only ordering cost is the output
   * sort. Determinism: unrounded argmin with the smaller-code tiebreak,
   * 6-dp-rounded error output, −0.0 canonicalized — the
   * [[kmeansAssigned]] contract per subspace.
   */
  /** Literal sub-centroid model for the PQ family: the sub-vector table
    * keyed m·|C|+j plus its self-dots pre-folded driver-side in INDEX
    * ORDER — bit-identical to the constant-folded `dot(cs, cs)` the
    * monolithic spelling produced ([[graft.functions.DotF64]] is an
    * ascending-index fold). */
  private def pqModel(cents: Seq[Array[Double]], sub: Int): (Column, Column) =
    if (cents.isEmpty) (typedLit(Map(0L -> Seq(0.0))), typedLit(Map(0L -> 0.0)))
    else {
      val nC = cents.length
      val kv = for { m <- 0 until PqM; j <- 0 until nC } yield
        (m.toLong * nC + j) -> cents(j).slice(m * sub, (m + 1) * sub)
      (typedLit(kv.map { case (k, cs) => k -> cs.toSeq }.toMap),
        typedLit(kv.map { case (k, cs) =>
          k -> cs.foldLeft(0.0)((a, x) => a + x * x) }.toMap))
    }

  /** Per-(row, subspace) PQ code assignment on an EXPLODED subspace
    * relation: one row per (carry, m) scored against the |C| sub-centroids
    * by a small argmin (|C| dots). The monolithic all-subspaces projection
    * (PqM·|C| dot terms in one expression) exceeds the JIT huge-method
    * limit and executes as uncompiled bytecode — measured 24× slower than
    * the SAME flops in [[kmeansAssigned]]'s 8-dot shape. Distances keep
    * the monolithic spelling's IEEE order ((vv − 2·v·c) + cc with cc the
    * index-order fold), so codes, tie-breaks, and errors are
    * bit-identical. */
  private def pqCodeRows(vecs: DataFrame, vCol: String,
      cents: Seq[Array[Double]], sub: Int, carry: Seq[String]): DataFrame = {
    val nC = cents.length
    val (cslit, csqlit) = pqModel(cents, sub)
    val slices = transform(sequence(lit(0), lit(PqM - 1)),
      mi => slice(col(vCol), mi * lit(sub) + 1, lit(sub)))
    val rows = vecs.select(
      carry.map(col) :+ posexplode(slices).as(Seq("m", "vs")): _*)
    def key(j: Int) = col("m").cast("long") * lit(nC.toLong) + lit(j.toLong)
    val best =
      if (cents.isEmpty) struct(lit(0.0).as("nd"), lit(0).as("nj"))
      else array_max(array((0 until nC).map { j =>
        val d2 = (col("vv") - lit(2.0) * dot(col("vs"), element_at(cslit, key(j)))) +
          element_at(csqlit, key(j))
        struct((-d2).as("nd"), lit(-j).as("nj"))
      }: _*))
    rows
      .withColumn("vv", dot(col("vs"), col("vs")))
      .withColumn("b", best)
      .select(carry.map(col) ++ Seq(col("m").cast("long").as("m"),
        (-col("b.nj")).cast("long").as("code"),
        (round(-col("b.nd"), 6) + lit(0.0)).as("sq_err")): _*)
  }

  def embedPqAssign(s: SparkSession, dir: String): DataFrame = {
    val cents = anchorVecs(s, dir)
    val sub = cents.headOption.map(_.length).getOrElse(64) / PqM
    val members = load(s, dir, "embeddings")
      .filter(col("vec_id") >= 8 && col("embedding").isNotNull && noModel(cents))
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
    pqCodeRows(members, "v", cents, sub, Seq("vec_id"))
      .select(col("vec_id"), col("m").as("subspace"), col("code"), col("sq_err"))
      .orderBy(col("vec_id"), col("subspace"))
  }

  /**
   * PQ asymmetric-distance (ADC) top-5 search — the query path over
   * [[embedPqAssign]]'s codes: each query precomputes an 8×8 lookup
   * table (subspace × sub-centroid → partial squared distance), and a
   * candidate's distance ESTIMATE is just 8 table lookups summed —
   * no float vector is touched at query time, which is the whole PQ
   * bargain (codes in memory, raw vectors cold). Query/candidate
   * universe follows [[simIvfTopk]] (queries 8..17, candidates ≥ 18).
   *
   * Scale: query LUTs are driver constants (|Q|·M·8 rounded doubles —
   * model-parameter-sized, the [[anchorVecs]] convention); the scan
   * computes candidate codes + all query estimates as pure codegen
   * expressions — no join — and only the per-qid top-5 ranking
   * shuffles (|Q|-bounded partitions, the IVF convention). Estimate
   * terms are 6-dp-rounded in the LUT and summed as exact DECIMAL so
   * both engines rank identical numbers.
   */
  def simPqAdcTopk(s: SparkSession, dir: String): DataFrame =
    pqAdcRanked(s, dir)
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor"), col("est").as("est_d2"))
      .orderBy(col("qid"), col("rank"))

  /** The ADC core: every (query, candidate) estimate with its per-query
    * rank — topk cuts at 5, the re-ranker takes a deeper shortlist. */
  private def pqAdcRanked(s: SparkSession, dir: String): DataFrame = {
    val cents = anchorVecs(s, dir)
    val sub = cents.headOption.map(_.length).getOrElse(64) / PqM
    val queries10: Seq[(Long, Array[Double])] = load(s, dir, "embeddings")
      .filter(col("vec_id").between(8, 17) && col("embedding").isNotNull && noModel(cents))
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
      .orderBy(col("vec_id"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
    // lut(q)(m)(j): ‖q_m − c_j,m‖² rounded to 6 dp, index-ordered fold
    def lut(q: Array[Double]): Array[Array[Double]] =
      Array.tabulate(PqM) { m =>
        cents.map { c =>
          var acc = 0.0
          var i = m * sub
          while (i < (m + 1) * sub) { val d = q(i) - c(i); acc += d * d; i += 1 }
          BigDecimal(acc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }.toArray
      }
    val dec6 = org.apache.spark.sql.types.DataTypes.createDecimalType(20, 6)
    // the LUT sums reference the CODES, not the argmin trees: without the
    // materialization barrier below, every one of the |Q|·M lookups would
    // inline its own copy of the 8-centroid argmin expression — measured
    // 8× slower at sf1 (the codes are computed once per row here, and
    // the explode stops CollapseProject from merging the projections)
    val ests = queries10.map { case (qid, q) =>
      val l = lut(q)
      val est = (0 until PqM).map { m =>
        element_at(typedLit(l(m)), element_at(col("codes"), m + 1) + 1).cast(dec6)
      }.reduce(_ + _)
      struct(lit(qid).as("qid"), est.cast("double").as("est"))
    }
    val cands = load(s, dir, "embeddings")
      .filter(col("vec_id") >= 18 && col("embedding").isNotNull &&
        noModel(cents) && lit(queries10.nonEmpty))
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
    val w = Window.partitionBy(col("qid")).orderBy(col("est"), col("vec_id"))
    // candidate codes via the exploded small-argmin path (see
    // [[pqCodeRows]]), regrouped to one codes array per candidate — the
    // 400k-row regroup costs one tiny shuffle and also keeps the |Q|·M
    // LUT lookups referencing materialized codes, not argmin trees
    pqCodeRows(cands, "v", cents, sub, Seq("vec_id"))
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        x => x.getField("code").cast("int")).as("codes"))
      .select(col("vec_id"), explode(
        if (ests.isEmpty) array(struct(lit(0L).as("qid"), lit(0.0).as("est")))
        else array(ests: _*)).as("e"))
      .select(col("vec_id"), col("e.qid").as("qid"), col("e.est").as("est"))
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /**
   * IVF-PQ residual encoding (the FAISS IVFPQ composition): each member
   * vector is first assigned to its coarse cell ([[kmeansAssigned]]),
   * then the RESIDUAL v − centroid is PQ-encoded per subspace — with a
   * residual-TRAINED codebook the smaller residual norms quantize far
   * more precisely than [[embedPqAssign]] on raw vectors. The fixture
   * reuses the anchor-slice codebook (untrained on residuals), and the
   * per-vector `sq_err` output is precisely the audit that exposes it:
   * at sf0.01 the residual errors total 750 vs raw PQ's 478 — the
   * "retrain the codebook on residuals before shipping" signal, which
   * is what this audit column exists to catch. Emits (vec_id, cid,
   * subspace, code, sq_err) — the inverted-list entry an IVFPQ index
   * stores per vector.
   *
   * Scale: the cell assignment and the residual subtraction are per-row
   * codegen over driver constants (centroids ride in a literal map —
   * no join); the residual materializes ONCE behind the same explode
   * barrier as [[pqAdcRanked]] before the 8 argmins read it.
   */
  def embedIvfPqAssign(s: SparkSession, dir: String): DataFrame = {
    val cents = anchorVecs(s, dir)
    val sub = cents.headOption.map(_.length).getOrElse(64) / PqM
    val cmap =
      if (cents.isEmpty) typedLit(Map(0L -> Array(0.0)))
      else typedLit(cents.indices.map(j => j.toLong -> cents(j)).toMap)
    val withRes = kmeansAssigned(s, dir)
      .select(col("vec_id"), col("cid"),
        explode(array(struct(zip_with(col("v"), element_at(cmap, col("cid")),
          (a, b) => a - b).as("r")))).as("rr"))
      .select(col("vec_id"), col("cid"), col("rr.r").as("r"))
    pqCodeRows(withRes, "r", cents, sub, Seq("vec_id", "cid"))
      .select(col("vec_id"), col("cid"), col("m").as("subspace"),
        col("code"), col("sq_err"))
      .orderBy(col("vec_id"), col("subspace"))
  }

  /** ADC shortlist depth for the exact re-rank pass. */
  private val PqShortlist = 20

  /**
   * PQ shortlist re-ranking — the standard production answer to
   * [[simPqRecall]]'s quantization loss: ADC codes produce a cheap
   * top-[[PqShortlist]] shortlist per query (codes only, no vectors),
   * and ONLY those candidates are re-ranked by exact squared L2 against
   * the raw vectors to give the final top-5. At 100 TB the raw-vector
   * fetch is |Q|·shortlist random reads instead of a corpus scan — the
   * two-tier fidelity/cost trade every deployed PQ system runs.
   *
   * Scale: the shortlist join is a (qid-bounded) equi-join on vec_id;
   * query vectors ride along as a driver-constant literal map (the
   * [[anchorVecs]] convention), so the exact pass is per-row codegen.
   */
  def simPqRerankTopk(s: SparkSession, dir: String): DataFrame = {
    val short = pqAdcRanked(s, dir).filter(col("rank") <= PqShortlist)
      .select(col("qid"), col("vec_id"))
    val cands = load(s, dir, "embeddings")
      .filter(col("vec_id") >= 18 && col("embedding").isNotNull)
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
    val queries10 = load(s, dir, "embeddings")
      .filter(col("vec_id").between(8, 17) && col("embedding").isNotNull)
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val qv =
      if (queries10.isEmpty) typedLit(Map(0L -> Array(0.0)))
      else typedLit(queries10)
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))
    short.join(cands, "vec_id")
      .withColumn("d2",
        dot(col("v"), col("v")) -
          lit(2.0) * dot(element_at(qv, col("qid")), col("v")) +
          dot(element_at(qv, col("qid")), element_at(qv, col("qid"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor"),
        (round(col("d2"), 6) + lit(0.0)).as("d2"))
      .orderBy(col("qid"), col("rank"))
  }

  /**
   * PQ recall audit — [[simIvfRecall]]'s twin for the compression side:
   * the exact squared-L2 top-5 per query checked against what
   * [[simPqAdcTopk]]'s 8-byte codes returned. A missed neighbor was
   * ranked out by quantization error — the number that decides M (and
   * whether to re-rank ADC shortlists with raw vectors) before a
   * 100 TB corpus trusts PQ codes as its only ranking signal.
   *
   * Scale: ground truth is the documented broadcast-query brute-force
   * baseline (the audit's cost, not the hot path); the audit itself is
   * one (qid, neighbor) equi-join and a ≤|Q| rollup.
   */
  def simPqRecall(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") >= 8 && col("vec_id") <= 17)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val c = e.filter(col("vec_id") >= 18)
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))
    val truth = c.crossJoin(broadcast(q))
      .withColumn("d2",
        dot(col("v"), col("v")) - lit(2.0) * dot(col("qv"), col("v")) +
          dot(col("qv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("neighbor"))
    val adc = simPqAdcTopk(s, dir)
      .select(col("qid"), col("neighbor"), lit(1L).as("hit"))
    truth
      .join(adc, Seq("qid", "neighbor"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .withColumn("recall",
        round(col("n_found").cast("double") / col("n_true"), 6))
      .orderBy(col("qid"))
  }

  /** Cosine at or above which two same-cluster members are semantic
    * duplicates. The synthetic label-cluster corpus tops out near 0.48
    * within-cluster, so 0.40 keeps a small, meaningful dropped set; a
    * production embedding corpus would sit near 0.95+ — the plan is
    * threshold-agnostic. */
  private val SemDedupTau = 0.4

  /** Slices per k-means cell for the cid-bounded quadratic joins
    * ([[dedupSemantic]], [[embedPairMining]]): a coarse model (k ≪ cores)
    * otherwise caps those joins at k parallel tasks. 32 matches the local
    * harness; a cluster deployment sizes it to cores/k. */
  private val CellJoinSalts = 32

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
   * Data-efficient learning at web-scale through semantic deduplication"):
   * cluster the corpus with k-means, then compare vectors PAIRWISE ONLY
   * WITHIN each cluster and drop every vector that has a lower-id
   * same-cluster neighbor at cosine ≥ τ (the paper keeps one
   * representative per semantic-duplicate group; lowest id is the
   * deterministic choice). Complements [[dedupEmbeddingCosine]]: that
   * operator's candidate key is a global sign-LSH bucket, this one's is
   * the semantic cluster — the two miss different duplicate types.
   * Output is the per-cluster audit (members / dropped / kept).
   *
   * Scale: the cluster id bounds the quadratic — pair generation is an
   * equi-join on `cid`, never all-pairs, and k grows with the corpus
   * (SemDeDup runs web-scale with ~100k clusters) so per-cluster
   * populations stay bounded; a skewed giant cluster would additionally
   * salt on the sign-LSH bucket. The assignment scan is persisted once
   * (released by the QueryCaches owner) and feeds the membership count
   * and both join branches. Determinism: sims rounded to 6 dp before the
   * threshold so a last-ulp tie can't flip an engine.
   */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    // norms ride along from the assignment scan: the pair stage then does
    // ONE dot per candidate pair instead of three (dot + both self-dots),
    // and the per-row ‖v‖ is computed once, not once per partner
    val (asg, cCells) = fineModel(s, dir)
    val m = asg
      .select(col("vec_id"), col("v"), col("cid"),
        sqrt(dot(col("v"), col("v"))).as("nrm"))
      .transform(cached)
    val a = m.select(col("cid"), col("vec_id").as("va"), col("v").as("xa"),
      col("nrm").as("na"))
    val b = m.select(col("cid"), col("vec_id").as("vb"),
      col("v").as("xb"), col("nrm").as("nb"))
    val denom = col("na") * col("nb")
    // salted k-slice spread of the cid-bounded quadratic (the "giant
    // cluster" case the Scale note promises to salt — with a coarse model
    // every cell is giant relative to the core count; with the adaptive
    // fine model C grows past the cores and the salt collapses to 1).
    // Same pairs, same audit; the survivors feeding distinct() are only
    // the ≥τ near-dups.
    val salts = cellSalts(s, cCells)
    val dropped = graft.operators.SkewJoin
      .saltedEquiJoin(a, b, Seq("cid"), salts,
        numPartitions = if (salts == 1) 0 else salts * 8)
      .filter(col("va") < col("vb"))
      .filter(round(when(denom > 0, dot(col("xa"), col("xb")) / denom), 6) >= SemDedupTau)
      .select(col("cid"), col("vb"))
      .distinct()
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_dropped"))
    m.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
      .join(dropped, Seq("cid"), "left")
      .select(col("cid"), col("n_members"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_members") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
      .orderBy(col("cid"))
  }

  /**
   * Per-dimension moment pass over the embedding corpus — the calibration
   * scan behind whitening / PCA preprocessing and per-dimension
   * quantization ranges: for every vector dimension, the population count,
   * mean and (biased) variance.
   *
   * Scale: one posexplode (linear) into a groupBy(dim) with exactly `dim`
   * groups — partial aggregation collapses each map task to ≤dim rows, so
   * the shuffle is metadata-sized regardless of corpus size. Determinism:
   * elements rounded to 6 dp, summed (and squared-summed) as exact
   * DECIMAL; variance derived from the two exact sums with identical IEEE
   * ops on both engines; `+ 0.0` canonicalizes −0.0 (dimension means of
   * centered embeddings round to zero routinely).
   */
  def embedDimStats(s: SparkSession, dir: String): DataFrame = {
    val decS = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 8)
    val decQ = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 14)
    load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(posexplode(dArr(col("embedding"))).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), round(col("x"), 6).as("rx"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("rx").cast(decS)).cast("double").as("s"),
        sum((col("rx") * col("rx")).cast(decQ)).cast("double").as("sq"))
      .select(col("dim"), col("n"),
        (round(col("s") / col("n"), 6) + lit(0.0)).as("mean"),
        (round(col("sq") / col("n") - (col("s") / col("n")) * (col("s") / col("n")), 6)
          + lit(0.0)).as("var"))
      .orderBy(col("dim"))
  }

  /**
   * K-means update pass (the Lloyd iteration's M-step): per (cluster,
   * dimension), the member count and the new centroid coordinate — the
   * element-wise mean of the assigned vectors. Chaining
   * [[embedKmeansAssign]] (E) and this (M) is one full distributed Lloyd
   * iteration; a trainer loops the pair, feeding each round's means back
   * in as the next round's centroid constants.
   *
   * Scale: assignment stays a per-row expression (no join); the explode
   * multiplies rows ×dim, but the groupBy target is only k·dim groups, so
   * map-side combine collapses every task's output to ≤k·dim rows and the
   * shuffle is metadata-sized regardless of corpus size. Same determinism
   * recipe as [[embedDimStats]] (6-dp element rounding, exact DECIMAL
   * sums, −0.0 canonicalized).
   */
  def embedKmeansUpdate(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 8)
    fineModel(s, dir)._1
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("cid"), col("dim").cast("long").as("dim"), round(col("x"), 6).as("rx"))
      .groupBy(col("cid"), col("dim"))
      .agg(count(lit(1)).as("n"),
        microMean6(sum(col("rx").cast(dec)), count(lit(1))).as("c_new"))
      .orderBy(col("cid"), col("dim"))
  }

  /**
   * Per-source embedding-drift audit — the distribution-shift scan an
   * embedding pipeline runs when corpora from different sources share one
   * encoder: compute the corpus's global centroid (per-dimension mean),
   * then per source the count and mean cosine of its vectors to that
   * centroid. A source whose mean cosine sits far from the others encodes
   * systematically different content (or hit an encoder regression).
   *
   * Scale: the centroid is a MODEL PARAMETER — one posexplode →
   * groupBy(dim) rollup (map-side combined to ≤dim rows per task),
   * collected driver-side as 64 doubles and folded back as a constant, so
   * the per-row cosine is pure codegen with no join against the centroid;
   * the doc↔vector join is the same doc_id = vec_id equi-join the
   * coverage audit uses. Determinism: centroid dims and per-row cosines
   * rounded to 6 dp, per-source means via exact DECIMAL sums.
   */
  def embedSourceDrift(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 8)
    val e = load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
    val centroid: Array[Double] = e
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("dim"), round(col("x"), 6).as("rx"))
      .groupBy(col("dim"))
      .agg((round(sum(col("rx").cast(dec)).cast("double") / count(lit(1)), 6) + lit(0.0))
        .as("c"))
      .orderBy(col("dim"))
      .collect().map(_.getDouble(1))
    val srcs = load(s, dir, "documents").select(col("doc_id"), col("source"))
    val decM = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 12)
    srcs.join(e.filter(noModel(centroid.toSeq)), col("doc_id") === col("vec_id"))
      .withColumn("cos",
        round(cosine(col("v"),
          typedLit(if (centroid.isEmpty) Array(0.0) else centroid)), 6))
      .filter(col("cos").isNotNull) // zero-norm rows carry no direction
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(col("cos").cast(decM)).cast("double") / count(lit(1)), 6)
          .as("mean_cos"))
      .orderBy(col("source"))
  }

  /**
   * kNN label-agreement eval — the embedding-quality scan a training
   * pipeline runs before trusting a new encoder: each labelled query
   * vector (vec_id < 10 convention) takes its 5 nearest labelled
   * candidates by cosine and predicts the majority label (ties → smaller
   * label id); the output row says whether the prediction matches the
   * query's own label. A collapsing encoder (everything similar to
   * everything) scores near chance here long before downstream training
   * notices. Unlabelled rows are outside the eval — they can neither vote
   * nor be scored.
   *
   * Scale: identical shape to [[simBruteforceTopk]] (broadcast query
   * constants, exact baseline; `sim_ivf_topk` is the scale path for the
   * candidate sweep); the vote rollup adds ≤|queries|·k rows.
   */
  def simKnnAccuracy(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .select(col("vec_id"), dArr(col("embedding")).as("v"),
        col("label").cast("long").as("label"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("label").as("true_label"))
    val c = e.filter(col("vec_id") >= 10)
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    val votes = c.crossJoin(broadcast(q))
      .withColumn("sim", cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .groupBy(col("qid"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    votes
      .groupBy(col("qid"), col("true_label"))
      // majority with smaller-label tiebreak: max of (votes, -label)
      .agg(max(struct(col("n_votes"), (-col("label")).as("nl"))).as("b"))
      .select(col("qid"), col("true_label"), (-col("b.nl")).as("pred_label"),
        col("b.n_votes").as("n_votes"),
        (col("true_label") === -col("b.nl")).as("correct"))
      .orderBy(col("qid"))
  }

  /**
   * Contrastive training-pair mining — the data-prep pass that turns a
   * labelled embedding corpus into (anchor, positive, hard-negative)
   * triplets for metric-learning / contrastive fine-tuning: for every
   * labelled member vector, the positive is its most-similar SAME-label
   * neighbour inside its k-means cluster, the hard negative its
   * most-similar DIFFERENT-label neighbour there (the classic
   * "closest wrong class" choice that makes triplet losses informative),
   * and the margin `pos_sim − neg_sim` is the difficulty score a
   * curriculum sampler reads. Anchors with no same-label (or no
   * other-label) cluster partner keep a NULL on that side — visible,
   * not silently dropped.
   *
   * Scale: the candidate pool is the k-means cell, so pair generation is
   * the same cid-bounded equi-join as [[dedupSemantic]] (never
   * all-pairs; k grows with the corpus). Both argmaxes collapse in ONE
   * map-side-combinable hash aggregate over the pair stream — conditional
   * `max(struct(sim, −id))` per side, no windows, one shuffle on the
   * anchor id. Determinism: sims rounded to 6 dp before the argmax, id
   * as the tiebreak; norms ride along from the assignment scan so the
   * pair stage does one dot per pair.
   */
  def embedPairMining(s: SparkSession, dir: String): DataFrame = {
    val labels = load(s, dir, "embeddings")
      .filter(col("label").isNotNull)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val (asg, cCells) = fineModel(s, dir)
    val m = asg
      .join(labels, Seq("vec_id"))
      .select(col("vec_id"), col("v"), col("cid"), col("label"),
        sqrt(dot(col("v"), col("v"))).as("nrm"))
      .transform(cached)
    val a = m.select(col("cid"), col("vec_id").as("anchor_id"),
      col("v").as("xa"), col("nrm").as("na"), col("label"))
    val b = m.select(col("cid"), col("vec_id").as("vb"),
      col("v").as("xb"), col("nrm").as("nb"), col("label").as("lb"))
    val denom = col("na") * col("nb")
    // k is small relative to cores when the trained model is coarse, so a
    // plain cid equi-join caps parallelism at k tasks each doing a cell's
    // O(n_c²) dots serially. Salting the anchor side spreads every cell
    // over cellSalts slices (partner side replicated — same pairs,
    // same results); each anchor's pairs stay in ONE slice, so the argmax
    // partial-agg still collapses to one row per anchor before the
    // shuffle. With the adaptive fine model C outgrows the cores and the
    // salt collapses to 1 — a plain cid equi-join.
    val salts = cellSalts(s, cCells)
    val pairs = graft.operators.SkewJoin
      .saltedEquiJoin(a, b, Seq("cid"), salts,
        numPartitions = if (salts == 1) 0 else salts * 8)
      .filter(col("anchor_id") =!= col("vb"))
      .withColumn("sim", round(when(denom > 0,
        dot(col("xa"), col("xb")) / denom), 6))
      .filter(col("sim").isNotNull)
    pairs
      .groupBy(col("anchor_id"), col("label"))
      .agg(
        max(when(col("label") === col("lb"),
          struct(col("sim"), (-col("vb")).as("nid")))).as("p"),
        max(when(col("label") =!= col("lb"),
          struct(col("sim"), (-col("vb")).as("nid")))).as("n"))
      .select(col("anchor_id"), col("label"),
        (-col("p.nid")).as("pos_id"), col("p.sim").as("pos_sim"),
        (-col("n.nid")).as("neg_id"), col("n.sim").as("neg_sim"),
        round(col("p.sim") - col("n.sim"), 6).as("margin"))
      .orderBy(col("anchor_id"))
  }

  /**
   * Per-class evaluation rollup over the [[simKnnAccuracy]] prediction
   * relation — the confusion-derived precision / recall / F1 table an
   * eval harness publishes per label: true-support and predicted-support
   * aggregates joined full-outer on the class (a label that is only ever
   * predicted, or never predicted, still gets its row — zero-support
   * metrics are NULL, not dropped or divide-by-zero). F1 computed as
   * 2·tp/(n_true+n_pred) — ONE exact-integer division rather than the
   * p·r composition, so no intermediate rounding enters.
   *
   * Scale: two ≤|classes|-group aggregates over the prediction relation
   * and a ≤|classes| join — everything after the kNN vote is metadata.
   */
  def evalConfusionKnn(s: SparkSession, dir: String): DataFrame = {
    val preds = simKnnAccuracy(s, dir)
    val t = preds.groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L))
          .as("tp"))
    val p = preds.groupBy(col("pred_label").as("label"))
      .agg(count(lit(1)).as("n_pred"))
    t.join(p, Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision", when(col("n_pred") > 0,
        round(col("tp").cast("double") / col("n_pred"), 6)))
      .withColumn("recall", when(col("n_true") > 0,
        round(col("tp").cast("double") / col("n_true"), 6)))
      .withColumn("f1", when(col("n_true") + col("n_pred") > 0,
        round(lit(2.0d) * col("tp") / (col("n_true") + col("n_pred")), 6)))
      .orderBy(col("label"))
  }

  /**
   * IVF recall audit — the sketch-governance scan for the vector side
   * (the embedding analog of [[Dedup.dedupLshAudit]]): the exact cosine
   * top-5 for every IVF query (same query/candidate universe as
   * [[simIvfTopk]]) checked against what the nprobe=2 IVF search
   * returned. A missed neighbor lives in a cell the probe didn't visit —
   * the number that decides nprobe before a 100 TB corpus trusts IVF as
   * its only candidate generator.
   *
   * Scale: ground truth is the documented brute-force exactness baseline
   * (broadcast query constants — the audit's cost, not the hot path);
   * the audit itself is one (qid, neighbor) equi-join and a ≤|Q| rollup.
   */
  def simIvfRecall(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") >= 8 && col("vec_id") <= 17)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val c = e.filter(col("vec_id") >= 18)
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    val truth = c.crossJoin(broadcast(q))
      .withColumn("sim", cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("neighbor"))
    val ivf = simIvfTopk(s, dir)
      .select(col("qid"), col("neighbor"), lit(1L).as("hit"))
    truth
      .join(ivf, Seq("qid", "neighbor"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .withColumn("recall",
        round(col("n_found").cast("double") / col("n_true"), 6))
      .orderBy(col("qid"))
  }

  /** Largest probe depth the multiprobe sweep prices (cells 1..4 of 8). */
  private val MultiprobeMax = 4

  /**
   * IVF nprobe tuning curve — the multi-probe sizing table [[simIvfRecall]]
   * audits a single point of: for every probe depth 1..[[MultiprobeMax]],
   * the recall@5 against the exact baseline, the number of candidate pairs
   * actually scored, and that count as a fraction of the brute-force
   * |C|·|Q| scan. This is the table that PRICES nprobe before a corpus
   * commits to IVF as its only candidate generator — the single-probe
   * coarse assignment is an approximation (a true neighbor can live in an
   * unprobed cell), and this sweep shows exactly what each extra probe
   * buys and costs.
   *
   * Scale: assignment and probe ranking are per-row codegen expressions
   * over the scan (centroids are broadcast model constants); the candidate
   * stream materializes each (query, candidate) pair ONCE with the probe
   * rank that reaches it, then a per-row `sequence(prank, max)` generator
   * fans it to the depths that include it — no per-depth re-join, no
   * re-scan. The exact-truth side is the documented brute-force baseline
   * (the audit's cost, not the hot path — same contract as
   * [[simIvfRecall]]). |C| and |Q| are metadata-sized driver scalars (the
   * AQE-statistics round-trip convention).
   */
  def simIvfMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val cents = anchorVecs(s, dir)
    // (dot, -j) structs — the simIvfTopk ranking convention: max picks the
    // highest dot, ties the SMALLEST centroid id; typed placeholder keeps
    // the empty-model plan analyzable behind the noModel guard
    def simsArr(v: Column): Column =
      if (cents.isEmpty) array(struct(lit(0.0).as("d"), lit(0).as("nj")))
      else array(cents.zipWithIndex.map { case (c, j) =>
        struct(dot(v, typedLit(c)).as("d"), lit(-j).as("nj"))
      }: _*)

    val e = load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull && noModel(cents))
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
    val cands = e.filter(col("vec_id") >= 18)
      .select(col("vec_id"), col("v"),
        (-array_max(simsArr(col("v"))).getField("nj")).as("cid"))
    val q = e.filter(col("vec_id").between(8, 17))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    // |C|/|Q| — model-scale scalars for the scan-fraction denominator
    val sizes = e.agg(
      sum(when(col("vec_id") >= 18, 1L).otherwise(0L)),
      sum(when(col("vec_id").between(8, 17), 1L).otherwise(0L))).first()
    val nC = Option(sizes.get(0)).fold(0L)(_.asInstanceOf[Long])
    val nQ = Option(sizes.get(1)).fold(0L)(_.asInstanceOf[Long])

    // per-query probe list with its rank 1..MultiprobeMax
    val probes = q
      .select(col("qid"), col("qv"),
        posexplode(slice(reverse(array_sort(simsArr(col("qv")))), 1, MultiprobeMax)))
      .select(col("qid"), col("qv"), (-col("col.nj")).as("cid"),
        (col("pos") + 1).as("prank"))
    // each (query, candidate) pair exists at exactly ONE probe rank (a
    // candidate has one cell); fan it to every depth that includes it
    val pairs = probes.join(cands, "cid")
      .withColumn("sim", cosine(col("qv"), col("v")))
      .withColumn("np", explode(sequence(col("prank"), lit(MultiprobeMax))))
    val w = Window.partitionBy(col("np"), col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    val top = pairs
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("np"), col("qid"), col("vec_id").as("neighbor"), lit(1L).as("hit"))
    val scanned = pairs.groupBy(col("np")).agg(count(lit(1)).as("n_candidates"))

    // exact truth (documented brute-force baseline), fanned to all depths
    val wt = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    val truth = cands.crossJoin(broadcast(q))
      .withColumn("sim", cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(wt))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("neighbor"),
        explode(sequence(lit(1), lit(MultiprobeMax))).as("np"))
    truth
      .join(top, Seq("np", "qid", "neighbor"), "left")
      .groupBy(col("np"))
      .agg(countDistinct(col("qid")).as("n_queries"),
        count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .join(scanned, Seq("np"))
      .select(col("np").cast("long").as("nprobe"), col("n_queries"),
        col("n_candidates"),
        when(lit(nC * nQ) > 0,
          round(col("n_candidates").cast("double") / lit(nC * nQ).cast("double"), 6))
          .as("scan_frac"),
        round(col("n_found").cast("double") / col("n_true"), 6).as("recall"))
      .orderBy(col("nprobe"))
  }

  /** Variance floor for the whitening divisor (guards a constant dim). */
  private val WhitenEps = 1e-6

  /**
   * Whitening application — the feature-preprocessing step that consumes
   * [[embedDimStats]]' calibration scan: every vector re-expressed as
   * `(x − mean) / √(var + ε)` per dimension, the standardization an
   * embedding pipeline applies before quantization ranges or isotropic
   * similarity search. The moment pass and the apply pass are the exact
   * same math — the oracle embeds the dim-stats aggregate, so the two
   * contracts cannot drift.
   *
   * Scale: the moments are 64 rows — MODEL PARAMETERS, collected once
   * (the AQE-statistics round-trip) and folded into a pure per-row
   * codegen transform; the apply pass is stateless scan-local work with
   * no shuffle before the ordered output. Determinism: elements rounded
   * to 6 dp (the stats' population convention), one IEEE
   * subtract/divide/√ chain per element on identical inputs, output
   * rounded and −0.0-canonicalized.
   */
  def embedWhitenApply(s: SparkSession, dir: String): DataFrame = {
    val stats = embedDimStats(s, dir).orderBy(col("dim")).collect()
    val means = stats.map(_.getDouble(2)).toSeq
    val vars = stats.map(_.getDouble(3)).toSeq
    val mlit = typedLit(means)
    val vlit = typedLit(vars)
    // the zips pad to the LONGER side with nulls, so a vector longer
    // than the dim-stats model would grow a null tail — slice pins the
    // output to exactly the model's dimension count
    val emb = if (means.isEmpty) dArr(col("embedding"))
      else slice(dArr(col("embedding")), 1, means.length)
    // two linear zips, NOT element_at(transform(...), i): indexed access
    // into a computed array re-evaluates the whole cast per element
    // (O(dim^2) per row — the embedPcaPower lesson); same ops, same order
    val centered = zip_with(emb, mlit, (x, m) => round(x, 6) - m)
    val y = zip_with(centered, vlit,
      (cx, vv) => round(cx / sqrt(vv + lit(WhitenEps)), 6) + lit(0.0))
    load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull && noModel(means))
      .select(col("vec_id"), y.as("whitened"))
      .orderBy(col("vec_id"))
  }

  /** [[embedWhitenApply]] in the verify-friendly EXPLODED shape — the
    * driver's pandas compare cannot sort/hash `array<double>` columns,
    * so the contract query emits one `(vec_id, dim, y)` row per element
    * (the [[embedDimStats]] long-form convention). Same math, same
    * determinism recipe; the sort adds the dim key. */
  def embedWhitenApplyRows(s: SparkSession, dir: String): DataFrame =
    embedWhitenApply(s, dir)
      .select(col("vec_id"), posexplode(col("whitened")).as(Seq("dim", "y")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("y"))
      .orderBy(col("vec_id"), col("dim"))

  /**
   * Semantic decontamination — the paraphrase-level complement of
   * [[Corpus]]'s shingle-overlap `decontam_overlap`: a training document
   * is flagged when its EMBEDDING sits within [[CosineDupThreshold]]
   * cosine of any benchmark document, catching reworded benchmark
   * leakage that exact n-gram matching can never see (the GPT-4-era
   * contamination concern). The benchmark slice is data-derived (the
   * minimum source, the `shingle_except` convention) so the query can't
   * go vacuous; output is the per-training-doc verdict (hit count +
   * max similarity) a decontamination gate consumes.
   *
   * Scale shape: candidates meet the benchmark through the sign-LSH
   * bucket equi-join ([[dedupEmbeddingCosine]]'s candidate generator) —
   * never corpus × benchmark; the benchmark side is broadcast (benchmark
   * suites are thousands of rows, not corpus-scale — the one honest
   * small side in this family); the verdict is one map-side-combinable
   * groupBy over the surviving pairs. Determinism: sims rounded at 6 dp
   * before MAX; the unrounded value only gates the ≥ τ filter with the
   * same IEEE ops both engines.
   */
  def decontamSemantic(s: SparkSession, dir: String): DataFrame = {
    val anchors = anchorVecs(s, dir)
    val m = load(s, dir, "embeddings")
      .filter(col("vec_id") >= 8 && col("embedding").isNotNull && noModel(anchors))
      .select(col("vec_id"), dArr(col("embedding")).as("v"),
        bucketExpr(dArr(col("embedding")), anchors).as("bucket"))
      .join(load(s, dir, "documents").select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
    // benchmark slice key: metadata-sized driver scalar (1-row aggregate)
    val bs = m.agg(min(col("source"))).first().getString(0)
    val bsLit = Option(bs).map(lit).getOrElse(lit(null).cast("string"))
    val bench = m.filter(col("source") === bsLit)
      .select(col("bucket").as("bucket_b"), col("vec_id").as("bid"), col("v").as("bv"))
    val corp = m.filter(col("source") =!= bsLit)
      .select(col("bucket"), col("vec_id").as("did"), col("v").as("cv"))
    corp.join(broadcast(bench), col("bucket") === col("bucket_b"))
      .withColumn("sim", cosine(col("cv"), col("bv")))
      .groupBy(col("did"))
      .agg(count(lit(1)).as("n_cands"),
        sum(when(col("sim") >= CosineDupThreshold, 1L).otherwise(0L))
          .as("n_bench_hits"),
        max(round(col("sim"), 6)).as("max_sim"))
      .select(col("did").as("doc_id"), col("n_cands"), col("n_bench_hits"),
        col("max_sim"), (col("n_bench_hits") > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Power-iteration rounds for the top-component estimate. */
  private val PcaIters = 3

  /**
   * Top principal component by distributed power iteration — the PCA
   * primitive behind embedding compression, de-biasing (dominant-
   * direction removal, Mu & Viswanath 2018) and drift diagnosis: three
   * rounds of `v ← normalize(Σᵢ xᶜᵢ (xᶜᵢ·v))` over the mean-centered
   * corpus, starting from the exact unit vector (1/8,…,1/8). Emits the
   * 64 loadings plus the eigenvalue estimate λ = ‖Cv‖ (the converged
   * Rayleigh norm).
   *
   * Scale shape: each round is ONE corpus pass — a per-row codegen dot
   * against the driver-constant v (model parameter, the kmeans-update
   * convention), a posexplode into a ≤dim-group aggregate (map-side
   * combined, metadata-sized shuffle), and a 64-value driver collect;
   * the mean comes from [[embedDimStats]]' moments the same way
   * [[embedWhitenApply]] folds them. Determinism: per-term products
   * round at 8 dp and sum as exact DECIMAL; the driver normalization
   * replicates the engines' HALF_UP rounding on the exact sums, so the
   * v fed into round k+1 is bit-identical to the oracle's CTE chain.
   * A zero norm at any round (empty or fully-degenerate corpus) yields
   * an empty result on both engines rather than NaN loadings.
   */
  /** The power-iteration core behind [[embedPcaPower]] /
    * [[embedPcaDebias]], taking the per-dim means so a composed caller
    * pays the dim-stats scan ONCE. Returns (loading vector, per-round
    * norms). */
  private def pcaPowerCore(s: SparkSession, dir: String,
      means: Seq[Double]): (Seq[Double], Seq[Double]) = {
    val dims = means.length
    def r(x: Double, scale: Int): Double =
      BigDecimal.valueOf(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0
    val norms = scala.collection.mutable.ArrayBuffer.empty[Double]
    var v: Seq[Double] = Seq.fill(dims)(0.125) // exact unit norm for 64 dims
    if (dims > 0) {
      val emb = load(s, dir, "embeddings").filter(col("embedding").isNotNull)
      val mlit = typedLit(means)
      // zip_with, NOT element_at(transform(...), i): indexed access into a
      // transform re-evaluates the whole array per element (O(dim^2) per
      // row - measured 67 s at sf0.1); the zip is one linear pass
      val xc = zip_with(dArr(col("embedding")), mlit,
        (x, m) => round(x, 6) - m)
      // centered vectors materialize ONCE for all three iterations (the
      // scan + cast + center pass is the per-round constant cost;
      // released by the query owner)
      val cent = emb.select(xc.as("xc"))
        .transform(cached)
      val dec8 = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 8)
      for (_ <- 1 to PcaIters if norms.forall(_ > 0)) {
        val sc = round(dot(col("xc"), typedLit(v)), 6)
        val w = cent
          .select(sc.as("sc"), posexplode(col("xc")).as(Seq("d", "x")))
          .select(col("d"), round(col("x") * col("sc"), 8).as("t"))
          .groupBy(col("d"))
          .agg(sum(col("t").cast(dec8)).cast("double").as("w"))
          .orderBy(col("d"))
          .collect().map(_.getDouble(1))
        val nrm2 = w.map(x => BigDecimal.valueOf(x * x)
          .setScale(8, BigDecimal.RoundingMode.HALF_UP)).sum
        val nrm = math.sqrt(nrm2.toDouble)
        norms += nrm
        if (nrm > 0) v = w.map(x => r(x / nrm, 6)).toSeq
      }
    }
    (v, norms.toSeq)
  }

  /** Per-dim means from the dim-stats scan — the PCA family's shared
    * model-sizing collect. */
  private def dimMeans(s: SparkSession, dir: String): Seq[Double] =
    embedDimStats(s, dir).orderBy(col("dim")).collect()
      .map(_.getDouble(2)).toSeq

  def embedPcaPower(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val means = dimMeans(s, dir)
    val dims = means.length
    val (v, norms) = pcaPowerCore(s, dir, means)
    def r6(x: Double): Double =
      BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0
    val ok = dims > 0 && norms.size == PcaIters && norms.forall(_ > 0)
    if (!ok) Seq.empty[(Long, Double, Double)].toDF("dim", "loading", "lambda")
    else {
      val lambda = r6(norms.last)
      v.zipWithIndex.map { case (x, d) => (d.toLong, x, lambda) }
        .toDF("dim", "loading", "lambda")
    }
  }

  /**
   * Dominant-direction removal ("all-but-the-top", Mu & Viswanath 2018)
   * — the de-biasing application of [[embedPcaPower]]'s component: every
   * centered vector sheds its projection onto the top PC
   * (x′ = xᶜ − (xᶜ·v)·v), the standard post-processing that makes
   * embedding similarity discriminative again when one direction (often
   * frequency) dominates. Emits the per-vector projection coefficient
   * and the residual's squared norm next to the original's — the
   * audit showing how much energy the dominant direction held.
   *
   * Scale shape: v and the means are driver constants (the model from
   * the power-iteration pass, collected once); the application is a
   * per-row codegen dot + `transform` — no join, no shuffle beyond the
   * output sort. Determinism: the coefficient rounds at 6 dp BEFORE the
   * subtraction, residual components round at 6 dp, norms derive from
   * the rounded values — identical inputs to identical IEEE ops on
   * both engines.
   */
  def embedPcaDebias(s: SparkSession, dir: String): DataFrame = {
    // one dim-stats scan feeds BOTH the centering means and the power
    // iteration (embedPcaPower re-collects it when run standalone)
    val means = dimMeans(s, dir)
    val (vRaw, norms) = pcaPowerCore(s, dir, means)
    val ok = means.nonEmpty && norms.size == PcaIters && norms.forall(_ > 0)
    val v: Seq[Double] = if (ok) vRaw else Seq.empty
    val dims = means.length
    val mlit = typedLit(means)
    val vlit = typedLit(v)
    // single-pass centered array (see embedPcaPower's zip_with note)
    val xc = zip_with(dArr(col("embedding")), mlit, (x, m) => round(x, 6) - m)
    load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull && noModel(v))
      .select(col("vec_id"), xc.as("xc"))
      .withColumn("coef", round(dot(col("xc"), vlit), 6) + lit(0.0))
      .withColumn("resid", zip_with(col("xc"), vlit,
        (x, vd) => round(x - col("coef") * vd, 6) + lit(0.0)))
      .select(col("vec_id"), col("coef"),
        (round(dot(col("xc"), col("xc")), 6) + lit(0.0)).as("n2_orig"),
        (round(dot(col("resid"), col("resid")), 6) + lit(0.0)).as("n2_resid"),
        col("resid"))
      .orderBy(col("vec_id"))
  }

  /** [[embedPcaDebias]] in the verify-friendly EXPLODED shape (the
    * driver's pandas compare cannot sort/hash `array<double>`): one
    * `(vec_id, coef, n2_orig, n2_resid, dim, resid)` row per residual
    * element. The scalar audit columns repeat per dim — redundant but
    * deterministic, and the per-vector view is one groupBy away.
    *
    * The per-vector result PERSISTS before the explode as an optimizer
    * barrier (the dedupEditDistance candidate-persist lesson): without
    * it CollapseProject folds the coef dot INTO the residual zip_with
    * lambda and the n2 dots re-expand the whole residual array per
    * element — O(dim²·dim) per row, measured 100 s at the 10× tile vs
    * ~16 s with the barrier. */
  def embedPcaDebiasRows(s: SparkSession, dir: String): DataFrame = {
    val perVec = embedPcaDebias(s, dir)
      .transform(cached)
    perVec
      .select(col("vec_id"), col("coef"), col("n2_orig"), col("n2_resid"),
        posexplode(col("resid")).as(Seq("dim", "resid")))
      .select(col("vec_id"), col("coef"), col("n2_orig"), col("n2_resid"),
        col("dim").cast("long").as("dim"), col("resid"))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** Random-projection output dimensionality (64 → 16, 4× cheaper). */
  private val RpK = 16
  private val RpDim = 64

  /** The ±1 projection matrix — a fixed model parameter derived
    * deterministically from md5 (Achlioptas 2003 shows ±1 entries satisfy
    * the JL guarantee; no float randomness needed). Row-major [RpK][RpDim];
    * the SAME Scala value renders into the Spark literal and the oracle
    * SQL, so the two engines cannot disagree on the matrix. */
  private[queries] lazy val rpSigns: Seq[Seq[Double]] =
    (0 until RpK).map { r =>
      (0 until RpDim).map { i =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"rp:$r:$i".getBytes("UTF-8"))
        if ((d(0) & 1) == 0) 1.0 else -1.0
      }
    }

  /**
   * Johnson–Lindenstrauss random projection (±1/Achlioptas entries),
   * 64 → [[RpK]] dims — the preprocessing step that makes 100 TB-scale
   * similarity affordable: downstream LSH/clustering run on a 4×-smaller
   * vector whose pairwise geometry is preserved in expectation
   * (E‖Pv‖² = k·‖v‖²). Emits the projected vector plus the per-vector
   * norm-distortion audit (‖Pv‖²/k over ‖v‖², −1) a pipeline reads
   * before committing the projected index.
   *
   * Scale shape: the matrix is a driver-constant literal (model
   * parameter, the anchorVecs convention) — the projection is [[RpK]]
   * codegen dot kernels per row, no join, no shuffle, nothing but the
   * output sort. Determinism: each component is an index-ordered
   * [[graft.functions.DotF64]] fold rounded at 6 dp (−0.0 canonicalized);
   * the audit derives from the ROUNDED components so both engines feed
   * identical inputs into the closed form.
   */
  def embedRpProject(s: SparkSession, dir: String): DataFrame = {
    val sl = typedLit(rpSigns)
    val v = dArr(col("embedding"))
    val proj = array((1 to RpK).map(r =>
      round(dot(v, element_at(sl, lit(r))), 6) + lit(0.0)): _*)
    load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), proj.as("proj"), round(dot(v, v), 6).as("n2"))
      .select(col("vec_id"), col("proj"), col("n2"),
        (round(aggregate(col("proj"), lit(0.0), (a, e) => a + e * e) /
          lit(RpK.toDouble), 6) + lit(0.0)).as("n2p"))
      .withColumn("distortion",
        round(when(col("n2") > 0, col("n2p") / col("n2") - lit(1.0)), 6) + lit(0.0))
      .orderBy(col("vec_id"))
  }

  /** [[embedRpProject]] in the verify-friendly EXPLODED shape (the
    * driver's pandas compare cannot sort/hash `array<double>`): one
    * `(vec_id, r, pr, n2, n2p, distortion)` row per projected component,
    * `r` 1-based to match the projection matrix's row index. */
  def embedRpProjectRows(s: SparkSession, dir: String): DataFrame =
    embedRpProject(s, dir)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("p0", "pr")),
        col("n2"), col("n2p"), col("distortion"))
      .select(col("vec_id"), (col("p0") + 1).cast("long").as("r"), col("pr"),
        col("n2"), col("n2p"), col("distortion"))
      .orderBy(col("vec_id"), col("r"))

  /** Topic terms reported per cluster. */
  private val TopicsPerCell = 5

  /**
   * Semantic-cluster topic profiling — the "what is each cluster about"
   * table a curation team reads next to [[dedupSemantic]] /
   * [[embedPairMining]]: for every k-means cell, the [[TopicsPerCell]]
   * most DISTINCTIVE terms of its member documents, ranked by lift —
   * the cell's term share over the corpus term share ((cnt/n_cell) /
   * (cnt_corpus/n_total)). Raw counts would rank stopwords first in
   * every cell; lift surfaces what separates a cell from the rest.
   *
   * Scale shape: member docs join their cluster id on the doc_id=vec_id
   * equi-key; tokens collapse to (cid, term) counts (map-side combined);
   * the per-cell totals re-aggregate from THAT collapsed relation (≤k
   * rows, broadcast back) and corpus term counts re-aggregate the same
   * relation (never a second corpus scan), joining back on the term
   * equi-key under AQE. The rank window partitions by cid over the
   * collapsed per-cell vocabulary — bounded because k grows with the
   * corpus (the [[dedupSemantic]] scale-knob convention). Determinism:
   * lift ranks on the unrounded double (identical IEEE quotient both
   * engines) with (cnt desc, term) tiebreaks; output rounds at 6 dp.
   */
  def clusterTopics(s: SparkSession, dir: String): DataFrame = {
    val assigned = fineModel(s, dir)._1.select(col("vec_id"), col("cid"))
    val toks = load(s, dir, "documents")
      .join(assigned, col("doc_id") === col("vec_id"))
      .select(col("cid"), explode(Text.words(col("text"))).as("term"))
    val cellTerm = toks.groupBy(col("cid"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .transform(cached)
    val cellTot = cellTerm.groupBy(col("cid")).agg(sum(col("cnt")).as("n_cell"))
    val corpTerm = cellTerm.groupBy(col("term")).agg(sum(col("cnt")).as("cnt_corpus"))
    val nTotal = cellTot.agg(coalesce(sum(col("n_cell")), lit(0L))).first().getLong(0)
    val lift = (col("cnt").cast("double") / col("n_cell").cast("double")) /
      (col("cnt_corpus").cast("double") / lit(nTotal.toDouble))
    cellTerm
      .join(broadcast(cellTot), Seq("cid"))
      .join(corpTerm, Seq("term"))
      .withColumn("lift", lift)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cid"))
          .orderBy(col("lift").desc, col("cnt").desc, col("term"))))
      .filter(col("rk") <= TopicsPerCell)
      .select(col("cid"), col("rk").cast("long").as("rk"), col("term"),
        col("cnt"), round(col("lift"), 6).as("lift"))
      .orderBy(col("cid"), col("rk"))
  }

  /** Matryoshka truncation prefix length (dims kept). */
  private val MatDim = 16
  /** Neighbors per query in the recall audit. */
  private val MatK = 5

  /**
   * Matryoshka-truncation recall audit (Kusupati et al. 2022, MRL): can
   * the FIRST [[MatDim]] of 64 embedding dimensions stand in for the
   * full vector at 4× less storage/compute? Per query anchor, the
   * cosine top-[[MatK]] under the truncated prefix is compared against
   * the full-dimension top-[[MatK]] (the documented exactness baseline,
   * the [[simBruteforceTopk]] shape) — per-query hit counts + recall
   * ppm are the number that decides whether the cheap prefix index can
   * front the expensive full-vector re-rank (the PQ-shortlist trade,
   * [[simPqRerankTopk]], at the dimension axis instead of the codebook
   * axis).
   *
   * Scale shape: anchors are driver-constant model parameters; the
   * relevance fan-out is ONE exploded literal over the candidate scan
   * (no join, both sims computed in the same pass — the prefix dot is a
   * `slice`, not a second vector read); the (qid, vec_id, sim, sim)
   * scalar relation persists once so the two rank windows don't re-run
   * the dot kernels; per-query windows are ≤|anchors|-way partitions;
   * the overlap join runs on two ≤|anchors|·[[MatK]]-row relations.
   * Determinism: both sims round at 6 dp before ranking, ties break by
   * vec_id, recall is integer ppm.
   */
  def simMatryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings").filter(col("embedding").isNotNull)
    val anchors: Seq[(Long, Array[Double])] = e.filter(col("vec_id") < 8)
      .select(col("vec_id"), dArr(col("embedding")))
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    if (anchors.isEmpty) {
      return e.select(col("vec_id").as("qid"), lit(0L).as("n_full"),
        lit(0L).as("hits"), lit(0L).as("recall_ppm")).limit(0)
    }
    val cands = e.filter(col("vec_id") >= 8)
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
    val simF = coalesce(anchors.map { case (q, v0) =>
      when(col("qid") === q, cosine(col("v"), typedLit(v0)))
    }: _*)
    val simT = coalesce(anchors.map { case (q, v0) =>
      when(col("qid") === q,
        cosine(slice(col("v"), 1, MatDim), typedLit(v0.take(MatDim))))
    }: _*)
    val sims = cands
      .withColumn("qid", explode(typedLit(anchors.map(_._1))))
      .select(col("qid"), col("vec_id"),
        round(simF, 6).as("sim_full"), round(simT, 6).as("sim_trunc"))
      .transform(cached)
    val wF = Window.partitionBy(col("qid"))
      .orderBy(col("sim_full").desc, col("vec_id"))
    val wT = Window.partitionBy(col("qid"))
      .orderBy(col("sim_trunc").desc, col("vec_id"))
    val topF = sims.filter(col("sim_full").isNotNull)
      .withColumn("rk", row_number().over(wF)).filter(col("rk") <= MatK)
      .select(col("qid"), col("vec_id"))
    val topT = sims.filter(col("sim_trunc").isNotNull)
      .withColumn("rk", row_number().over(wT)).filter(col("rk") <= MatK)
      .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
    topF.join(topT, Seq("qid", "vec_id"), "left_outer")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_full"),
        coalesce(sum(col("hit")), lit(0L)).as("hits"))
      .select(col("qid"), col("n_full"), col("hits"),
        (col("hits") * 1000000L / col("n_full")).cast("long").as("recall_ppm"))
      .orderBy(col("qid"))
  }

  /** Neighbors per query in the Hamming recall audit. */
  private val HamK = 5

  /** Sign-bit pack of dims [off+1, off+32] into one non-negative long —
    * the driver-side twin of [[hamPackCol]], applied to anchor constants. */
  private def hamPack(v: Array[Double], off: Int): Long = {
    var w = 0L
    var j = 0
    while (j < 32 && off + j < v.length) {
      if (v(off + j) > 0) w |= (1L << j)
      j += 1
    }
    w
  }

  /** Column form of [[hamPack]]: 32 null-safe indexed reads (`get` is
    * 0-based and returns NULL past the array end — matching DuckDB's
    * out-of-bounds list extract), each contributing one fixed power of
    * two. Pure codegen, no UDF. */
  private def hamPackCol(v: Column, off: Int): Column =
    (0 until 32).map { j =>
      when(get(v, lit(off + j)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /**
   * Binarized-embedding Hamming recall audit — the 1-bit extreme of the
   * quantization family ([[simPqRecall]] is the 8×-code point,
   * [[simMatryoshkaRecall]] the dimension-truncation point): every
   * vector collapses to its 64 sign bits (two 32-bit words — bit 63 in
   * one word would overflow a signed BIGINT on the oracle side), queries
   * rank candidates by Hamming distance, and the audit reports overlap
   * with the exact cosine top-[[HamK]]. Sign-bit search is the cheapest
   * possible index (64 bits/vector, XOR+popcount per probe); this table
   * prices its recall before it fronts a re-rank.
   *
   * Scale shape: the pack is a per-row codegen expression over the scan
   * (no join); anchors pack driver-side into literal words; cosine and
   * Hamming compute in the SAME fan pass and the scalar relation
   * persists once (the matryoshka convention); overlap joins two
   * ≤|anchors|·K-row relations. Determinism: Hamming is exact integer;
   * cosine rounds at 6 dp; ties break by vec_id.
   */
  def simHammingRecall(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings").filter(col("embedding").isNotNull)
    val anchors: Seq[(Long, Array[Double])] = e.filter(col("vec_id") < 8)
      .select(col("vec_id"), dArr(col("embedding")))
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    if (anchors.isEmpty) {
      return e.select(col("vec_id").as("qid"), lit(0L).as("n_full"),
        lit(0L).as("hits"), lit(0L).as("recall_ppm")).limit(0)
    }
    val cands = e.filter(col("vec_id") >= 8)
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
      .withColumn("lo", hamPackCol(col("v"), 0))
      .withColumn("hi", hamPackCol(col("v"), 32))
    val simF = coalesce(anchors.map { case (q, v0) =>
      when(col("qid") === q, cosine(col("v"), typedLit(v0)))
    }: _*)
    val hamm = coalesce(anchors.map { case (q, v0) =>
      when(col("qid") === q,
        bit_count(col("lo").bitwiseXOR(lit(hamPack(v0, 0)))) +
          bit_count(col("hi").bitwiseXOR(lit(hamPack(v0, 32)))))
    }: _*)
    val sims = cands
      .withColumn("qid", explode(typedLit(anchors.map(_._1))))
      .select(col("qid"), col("vec_id"),
        round(simF, 6).as("sim_full"), hamm.cast("long").as("ham"))
      .transform(cached)
    val wF = Window.partitionBy(col("qid"))
      .orderBy(col("sim_full").desc, col("vec_id"))
    val wH = Window.partitionBy(col("qid"))
      .orderBy(col("ham").asc, col("vec_id"))
    val topF = sims.filter(col("sim_full").isNotNull)
      .withColumn("rk", row_number().over(wF)).filter(col("rk") <= HamK)
      .select(col("qid"), col("vec_id"))
    val topH = sims
      .withColumn("rk", row_number().over(wH)).filter(col("rk") <= HamK)
      .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
    topF.join(topH, Seq("qid", "vec_id"), "left_outer")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_full"),
        coalesce(sum(col("hit")), lit(0L)).as("hits"))
      .select(col("qid"), col("n_full"), col("hits"),
        (col("hits") * 1000000L / col("n_full")).cast("long").as("recall_ppm"))
      .orderBy(col("qid"))
  }

  /** Neighborhood size for the LID estimator. */
  private val LidK = 20

  // ---------------------------------------------------------------------
  // embed_ann_lid — local intrinsic dimensionality (MLE) per query anchor
  // ---------------------------------------------------------------------

  /**
   * Local intrinsic dimensionality by the maximum-likelihood estimator
   * (Levina & Bickel 2004; Amsaleg et al. 2015):
   * LID(q) = −k / Σᵢ ln(rᵢ/r_k) over q's k nearest cosine DISTANCES
   * (r = 1 − cos, the [[simBruteforceTopk]] neighbor order). The
   * embedding-health number that PREDICTS how hard ANN indexing will be
   * in each query's neighborhood: high LID ⇒ distances concentrate ⇒
   * IVF/LSH recall degrades — read it next to [[simIvfRecall]] before
   * trusting a low-nprobe configuration.
   *
   * Determinism: similarities round to 6 dp BEFORE ranking and before
   * the distance transform; ln(rᵢ/r_k) folds as the exact difference of
   * two 8-dp-rounded DECIMAL ln terms (Σln rᵢ − k·ln r_k). Zero
   * distances (exact duplicates of the query) are excluded — the
   * estimator's own convention, ln(0) diverges. NULL when fewer than 2
   * positive-distance neighbors exist or every neighbor ties r_k.
   * Scale: the query panel is a broadcast anchor cross (whitelisted
   * family); per-qid rank windows; everything after the rank filter is
   * ≤|panel|·k rows.
   */
  def embedAnnLid(s: SparkSession, dir: String): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 8)
    val e = load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), dArr(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val c = e.filter(col("vec_id") >= 10)
    val w = Window.partitionBy(col("qid")).orderBy(col("r"), col("vec_id"))
    val nn = c.crossJoin(broadcast(q))
      .withColumn("sim", round(cosine(col("qv"), col("v")), 6))
      .filter(col("sim").isNotNull)
      .withColumn("r", lit(1.0d) - col("sim"))
      .filter(col("r") > 0)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= LidK)
    nn.groupBy(col("qid"))
      .agg(count(lit(1)).as("k_used"),
        max(col("r")).as("r_k"),
        sum(round(log(col("r")), 8).cast(dec8)).as("sln"))
      .select(col("qid"), col("k_used"), round(col("r_k"), 6).as("r_k"),
        (round(when(col("k_used") >= 2L &&
          col("sln").cast("double") -
            col("k_used").cast("double") *
            round(log(col("r_k")), 8) < 0,
          -col("k_used").cast("double") /
            (col("sln").cast("double") -
              col("k_used").cast("double") * round(log(col("r_k")), 8))), 6)
          + lit(0.0)).as("lid"))
      .orderBy(col("qid"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_ann_lid" -> (embedAnnLid _),
    "sim_hamming_recall" -> (simHammingRecall _),
    "sim_matryoshka_recall" -> (simMatryoshkaRecall _),
    "embed_rp_project" -> (embedRpProjectRows _),
    "embed_pca_power" -> (embedPcaPower _),
    "embed_pca_debias" -> (embedPcaDebiasRows _),
    "decontam_semantic" -> (decontamSemantic _),
    "cluster_topics" -> (clusterTopics _),
    "embed_whiten_apply" -> (embedWhitenApplyRows _),
    "sim_ivf_recall" -> (simIvfRecall _),
    "sim_ivf_multiprobe" -> (simIvfMultiprobe _),
    "embed_pair_mining" -> (embedPairMining _),
    "sim_bruteforce_topk" -> (simBruteforceTopk _),
    "sim_lsh_buckets" -> (simLshBuckets _),
    "sim_ivf_topk" -> (simIvfTopk _),
    "dedup_embedding_cosine" -> (dedupEmbeddingCosine _),
    "embed_quantize" -> (embedQuantize _),
    "embed_kmeans_assign" -> (embedKmeansAssign _),
    "embed_kcenter_coreset" -> (embedKcenterCoreset _),
    "embed_silhouette" -> (embedSilhouette _),
    "embed_pq_assign" -> (embedPqAssign _),
    "sim_pq_adc_topk" -> (simPqAdcTopk _),
    "sim_pq_recall" -> (simPqRecall _),
    "sim_pq_rerank_topk" -> (simPqRerankTopk _),
    "embed_ivfpq_assign" -> (embedIvfPqAssign _),
    "embed_kmeans_update" -> (embedKmeansUpdate _),
    "embed_dim_stats" -> (embedDimStats _),
    "dedup_semantic" -> (dedupSemantic _),
    "embed_source_drift" -> (embedSourceDrift _),
    "sim_knn_accuracy" -> (simKnnAccuracy _),
    "eval_confusion_knn" -> (evalConfusionKnn _))

  /** The power-iteration CTE chain — iteration k scores per vector
    * against v_{k−1}, computes the per-dim weighted sum, its norm, and
    * the normalized v_k: the exact chain the Spark driver loop runs, so
    * the two engines see identical model vectors per round. Shared by
    * the PCA fit and the de-biasing application so the model contracts
    * cannot drift. */
  private val PcaCtes: String = {
    val iters = (1 to PcaIters).map { k =>
      val sK =
        if (k == 1)
          s"s$k AS (SELECT vec_id, round(SUM(xc * 0.125), 6) AS sc FROM xc GROUP BY vec_id)"
        else
          s"s$k AS (SELECT vec_id, round(SUM(xc * v), 6) AS sc FROM xc JOIN v${k - 1} USING (dim) GROUP BY vec_id)"
      s"""$sK,
         |w$k AS (
         |  SELECT dim, CAST(SUM(CAST(round(xc * sc, 8) AS DECIMAL(30,8))) AS DOUBLE) AS w
         |  FROM xc JOIN s$k USING (vec_id) GROUP BY dim),
         |n$k AS (
         |  SELECT sqrt(CAST(SUM(CAST(round(w * w, 8) AS DECIMAL(30,8))) AS DOUBLE)) AS nrm
         |  FROM w$k),
         |v$k AS (SELECT dim, round(w / nrm, 6) + 0.0 AS v FROM w$k CROSS JOIN n$k)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
       |x AS (
       |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, round(embedding[i]::DOUBLE, 6) AS rx
       |  FROM e, generate_series(1, 64) t(i)),
       |mu AS (
       |  SELECT dim, round(CAST(SUM(CAST(rx AS DECIMAL(30,8))) AS DOUBLE) / COUNT(1), 6) + 0.0 AS m
       |  FROM x GROUP BY dim),
       |xc AS (SELECT vec_id, dim, rx - m AS xc FROM x JOIN mu USING (dim)),
       |$iters""".stripMargin
  }

  /** The sim_pq_adc_topk oracle body — shared verbatim by the PQ recall
    * audit, which embeds it so the code/LUT contracts can't drift. */
  private val PqAdcCtes =
    """e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
      |cent AS (SELECT vec_id AS cid0, embedding AS cv FROM e WHERE vec_id < 8),
      |q AS (SELECT vec_id AS qid, embedding AS qv FROM e WHERE vec_id BETWEEN 8 AND 17),
      |c AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 18),
      |dots AS (
      |  SELECT c.vec_id, cent.cid0, CAST((i - 1) // 8 AS BIGINT) AS sub,
      |    SUM(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS vv,
      |    SUM(cv[i]::DOUBLE * embedding[i]::DOUBLE) AS vc,
      |    SUM(cv[i]::DOUBLE * cv[i]::DOUBLE) AS cc
      |  FROM c, cent, generate_series(1, 64) t(i)
      |  GROUP BY 1, 2, 3),
      |codes AS (
      |  SELECT vec_id, sub, cid0 AS code FROM (
      |    SELECT vec_id, sub, cid0,
      |      row_number() OVER (PARTITION BY vec_id, sub
      |        ORDER BY vv - 2 * vc + cc ASC, cid0) AS rn
      |    FROM dots) WHERE rn = 1),
      |lut AS (
      |  SELECT q.qid, cent.cid0 AS code, CAST((i - 1) // 8 AS BIGINT) AS sub,
      |    round(SUM((qv[i]::DOUBLE - cv[i]::DOUBLE) * (qv[i]::DOUBLE - cv[i]::DOUBLE)), 6) AS d
      |  FROM q, cent, generate_series(1, 64) t(i)
      |  GROUP BY 1, 2, 3),
      |est AS (
      |  SELECT codes.vec_id, lut.qid,
      |    CAST(SUM(CAST(d AS DECIMAL(20,6))) AS DOUBLE) AS est
      |  FROM codes JOIN lut USING (sub, code)
      |  GROUP BY codes.vec_id, lut.qid),
      |r AS (
      |  SELECT qid, vec_id, est,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY est, vec_id) AS BIGINT) AS rank
      |  FROM est)""".stripMargin

  /** The embed_dim_stats oracle body — shared verbatim by the whitening
    * apply oracle, which embeds it as a CTE so the moment math can't
    * drift between the calibration scan and the apply pass. */
  private val DimStatsSql =
    """WITH x AS (
      |  SELECT CAST(i - 1 AS BIGINT) AS dim, round(embedding[i]::DOUBLE, 6) AS rx
      |  FROM embeddings, generate_series(1, 64) t(i)
      |  WHERE embedding IS NOT NULL),
      |agg AS (
      |  SELECT dim, COUNT(1) AS n,
      |    CAST(SUM(CAST(rx AS DECIMAL(30,8))) AS DOUBLE) AS s,
      |    CAST(SUM(CAST(rx * rx AS DECIMAL(38,14))) AS DOUBLE) AS sq
      |  FROM x GROUP BY dim)
      |SELECT dim, n, round(s / n, 6) + 0.0 AS mean,
      |  round(sq / n - (s / n) * (s / n), 6) + 0.0 AS var
      |FROM agg ORDER BY dim""".stripMargin

  /** The sim_ivf_topk oracle body — shared verbatim by the recall audit,
    * which embeds it as a CTE so the two contracts can't drift. */
  private val IvfTopkSql =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
      |cent AS (SELECT vec_id AS cid0, embedding AS cv FROM e WHERE vec_id < 8),
      |q AS (SELECT vec_id AS qid, embedding AS qv FROM e WHERE vec_id BETWEEN 8 AND 17),
      |c AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 18),
      |cdots AS (
      |  SELECT c.vec_id, cent.cid0, SUM(cv[i]::DOUBLE * embedding[i]::DOUBLE) AS d
      |  FROM c, cent, generate_series(1, 64) t(i)
      |  GROUP BY 1, 2),
      |assign AS (
      |  SELECT vec_id, cid0 AS cid FROM (
      |    SELECT vec_id, cid0,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid0) AS rn
      |    FROM cdots)
      |  WHERE rn = 1),
      |qdots AS (
      |  SELECT qid, cent.cid0, SUM(cv[i]::DOUBLE * qv[i]::DOUBLE) AS d
      |  FROM q, cent, generate_series(1, 64) t(i)
      |  GROUP BY 1, 2),
      |probes AS (
      |  SELECT qid, cid0 AS cid FROM (
      |    SELECT qid, cid0,
      |      row_number() OVER (PARTITION BY qid ORDER BY d DESC, cid0) AS rn
      |    FROM qdots)
      |  WHERE rn <= 2),
      |pairs AS (
      |  SELECT p.qid, a.vec_id AS neighbor,
      |    SUM(q.qv[i]::DOUBLE * c.embedding[i]::DOUBLE) AS d,
      |    SUM(q.qv[i]::DOUBLE * q.qv[i]::DOUBLE) AS qq,
      |    SUM(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE) AS cc
      |  FROM probes p
      |  JOIN assign a USING (cid)
      |  JOIN q ON p.qid = q.qid
      |  JOIN c ON a.vec_id = c.vec_id,
      |  generate_series(1, 64) t(i)
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT qid, neighbor, d / (sqrt(qq) * sqrt(cc)) AS sim,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY d / (sqrt(qq) * sqrt(cc)) DESC, neighbor) AS rnk
      |  FROM pairs)
      |SELECT qid, CAST(rnk AS BIGINT) AS rank, neighbor, round(sim, 6) AS sim
      |FROM ranked WHERE rnk <= 5 ORDER BY qid, rank""".stripMargin

  /** The kNN per-query prediction relation (unordered) — shared by the
    * sim_knn_accuracy and eval_confusion_knn oracles. */
  private val KnnPredsSql =
    """WITH q AS (
      |  SELECT vec_id AS qid, embedding AS qv, CAST(label AS BIGINT) AS true_label
      |  FROM embeddings
      |  WHERE vec_id < 10 AND embedding IS NOT NULL AND label IS NOT NULL),
      |c AS (
      |  SELECT vec_id, embedding, CAST(label AS BIGINT) AS label
      |  FROM embeddings
      |  WHERE vec_id >= 10 AND embedding IS NOT NULL AND label IS NOT NULL),
      |el AS (
      |  SELECT qid, true_label, c.vec_id AS neighbor, c.label,
      |    SUM(qv[i]::DOUBLE * embedding[i]::DOUBLE) AS d,
      |    SUM(qv[i]::DOUBLE * qv[i]::DOUBLE) AS qq,
      |    SUM(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS cc
      |  FROM q, c, generate_series(1, 64) t(i)
      |  GROUP BY qid, true_label, c.vec_id, c.label),
      |ranked AS (
      |  SELECT qid, true_label, label,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY d / (sqrt(qq) * sqrt(cc)) DESC, neighbor) AS rnk
      |  FROM el),
      |votes AS (
      |  SELECT qid, true_label, label, CAST(count(*) AS BIGINT) AS n_votes
      |  FROM ranked WHERE rnk <= 5
      |  GROUP BY 1, 2, 3),
      |best AS (
      |  SELECT qid, true_label, label AS pred_label, n_votes,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY n_votes DESC, label ASC) AS vr
      |  FROM votes)
      |SELECT qid, true_label, pred_label, n_votes,
      |  true_label = pred_label AS correct
      |FROM best WHERE vr = 1""".stripMargin

  val oracle: Map[String, String] = Map(
    "embed_ann_lid" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |           WHERE embedding IS NOT NULL),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM e WHERE vec_id < 10),
         |m AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 10),
         |cd AS (
         |  SELECT q.qid, m.vec_id,
         |    SUM(m.embedding[i]::DOUBLE * q.qv[i]::DOUBLE) AS vc,
         |    SUM(m.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vv,
         |    SUM(q.qv[i]::DOUBLE * q.qv[i]::DOUBLE) AS aa
         |  FROM m, q, generate_series(1, 64) g(i)
         |  GROUP BY 1, 2),
         |cs AS (
         |  SELECT qid, vec_id,
         |    round(CASE WHEN sqrt(vv) * sqrt(aa) > 0
         |      THEN vc / (sqrt(vv) * sqrt(aa)) END, 6) AS sim
         |  FROM cd),
         |rk AS (
         |  SELECT qid, vec_id, 1.0 - sim AS r,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY 1.0 - sim, vec_id) AS BIGINT) AS rank
         |  FROM cs WHERE sim IS NOT NULL AND 1.0 - sim > 0),
         |top AS (SELECT qid, r FROM rk WHERE rank <= $LidK),
         |g2 AS (
         |  SELECT qid, CAST(COUNT(1) AS BIGINT) AS k_used, MAX(r) AS rk,
         |    SUM(CAST(round(ln(r), 8) AS DECIMAL(30,8))) AS sln
         |  FROM top GROUP BY 1)
         |SELECT qid, k_used, round(rk, 6) AS r_k,
         |  round(CASE WHEN k_used >= 2 AND CAST(sln AS DOUBLE)
         |      - CAST(k_used AS DOUBLE) * round(ln(rk), 8) < 0 THEN
         |    -CAST(k_used AS DOUBLE) / (CAST(sln AS DOUBLE)
         |      - CAST(k_used AS DOUBLE) * round(ln(rk), 8)) END, 6) + 0.0
         |    AS lid
         |FROM g2 ORDER BY qid""".stripMargin,
    "sim_hamming_recall" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |           WHERE embedding IS NOT NULL),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM e WHERE vec_id < 8),
         |m AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 8),
         |qp AS (
         |  SELECT qid,
         |    CAST(COALESCE(SUM(CASE WHEN i <= 32 AND qv[i]::DOUBLE > 0
         |      THEN 1::BIGINT << (i - 1) ELSE 0 END), 0) AS BIGINT) AS qlo,
         |    CAST(COALESCE(SUM(CASE WHEN i > 32 AND qv[i]::DOUBLE > 0
         |      THEN 1::BIGINT << (i - 33) ELSE 0 END), 0) AS BIGINT) AS qhi
         |  FROM q, generate_series(1, 64) g(i) GROUP BY 1),
         |mp AS (
         |  SELECT vec_id,
         |    CAST(COALESCE(SUM(CASE WHEN i <= 32 AND embedding[i]::DOUBLE > 0
         |      THEN 1::BIGINT << (i - 1) ELSE 0 END), 0) AS BIGINT) AS lo,
         |    CAST(COALESCE(SUM(CASE WHEN i > 32 AND embedding[i]::DOUBLE > 0
         |      THEN 1::BIGINT << (i - 33) ELSE 0 END), 0) AS BIGINT) AS hi
         |  FROM m, generate_series(1, 64) g(i) GROUP BY 1),
         |cd AS (
         |  SELECT q.qid, m.vec_id,
         |    SUM(m.embedding[i]::DOUBLE * q.qv[i]::DOUBLE) AS vc,
         |    SUM(m.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vv,
         |    SUM(q.qv[i]::DOUBLE * q.qv[i]::DOUBLE) AS aa
         |  FROM m, q, generate_series(1, 64) g(i)
         |  GROUP BY 1, 2),
         |sf AS (
         |  SELECT qid, vec_id,
         |    round(CASE WHEN sqrt(vv) * sqrt(aa) > 0
         |      THEN vc / (sqrt(vv) * sqrt(aa)) END, 6) AS sim
         |  FROM cd),
         |hm AS (
         |  SELECT qp.qid, mp.vec_id,
         |    CAST(bit_count(xor(mp.lo, qp.qlo))
         |       + bit_count(xor(mp.hi, qp.qhi)) AS BIGINT) AS ham
         |  FROM mp CROSS JOIN qp),
         |rf AS (
         |  SELECT qid, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
         |      AS rk
         |  FROM sf WHERE sim IS NOT NULL),
         |rh AS (
         |  SELECT qid, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham ASC, vec_id)
         |      AS rk
         |  FROM hm),
         |tf AS (SELECT qid, vec_id FROM rf WHERE rk <= $HamK),
         |th AS (SELECT qid, vec_id, 1 AS hit FROM rh WHERE rk <= $HamK)
         |SELECT tf.qid, CAST(COUNT(1) AS BIGINT) AS n_full,
         |  CAST(COUNT(th.hit) AS BIGINT) AS hits,
         |  CAST(COUNT(th.hit) * 1000000 // COUNT(1) AS BIGINT) AS recall_ppm
         |FROM tf LEFT JOIN th USING (qid, vec_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_matryoshka_recall" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |           WHERE embedding IS NOT NULL),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM e WHERE vec_id < 8),
         |m AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 8),
         |cdf AS (
         |  SELECT q.qid, m.vec_id,
         |    SUM(m.embedding[i]::DOUBLE * q.qv[i]::DOUBLE) AS vc,
         |    SUM(m.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vv,
         |    SUM(q.qv[i]::DOUBLE * q.qv[i]::DOUBLE) AS aa
         |  FROM m, q, generate_series(1, 64) g(i)
         |  GROUP BY 1, 2),
         |cdt AS (
         |  SELECT q.qid, m.vec_id,
         |    SUM(m.embedding[i]::DOUBLE * q.qv[i]::DOUBLE) AS vc,
         |    SUM(m.embedding[i]::DOUBLE * m.embedding[i]::DOUBLE) AS vv,
         |    SUM(q.qv[i]::DOUBLE * q.qv[i]::DOUBLE) AS aa
         |  FROM m, q, generate_series(1, $MatDim) g(i)
         |  GROUP BY 1, 2),
         |sf AS (
         |  SELECT qid, vec_id,
         |    round(CASE WHEN sqrt(vv) * sqrt(aa) > 0
         |      THEN vc / (sqrt(vv) * sqrt(aa)) END, 6) AS sim
         |  FROM cdf),
         |st AS (
         |  SELECT qid, vec_id,
         |    round(CASE WHEN sqrt(vv) * sqrt(aa) > 0
         |      THEN vc / (sqrt(vv) * sqrt(aa)) END, 6) AS sim
         |  FROM cdt),
         |rf AS (
         |  SELECT qid, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
         |      AS rk
         |  FROM sf WHERE sim IS NOT NULL),
         |rt AS (
         |  SELECT qid, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
         |      AS rk
         |  FROM st WHERE sim IS NOT NULL),
         |tf AS (SELECT qid, vec_id FROM rf WHERE rk <= $MatK),
         |tt AS (SELECT qid, vec_id, 1 AS hit FROM rt WHERE rk <= $MatK)
         |SELECT tf.qid, CAST(COUNT(1) AS BIGINT) AS n_full,
         |  CAST(COUNT(tt.hit) AS BIGINT) AS hits,
         |  CAST(COUNT(tt.hit) * 1000000 // COUNT(1) AS BIGINT) AS recall_ppm
         |FROM tf LEFT JOIN tt USING (qid, vec_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "embed_pair_mining" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
        |$fineAssignCtes,
        |am AS (
        |  SELECT a.cid, m.vec_id, m.embedding, CAST(l.label AS BIGINT) AS label
        |  FROM assign a JOIN m USING (vec_id)
        |  JOIN embeddings l ON l.vec_id = m.vec_id AND l.label IS NOT NULL
        |  WHERE rn = 1),
        |pairs AS (
        |  SELECT x.vec_id AS anchor_id, x.label, y.vec_id AS vb, y.label AS lb,
        |    round(CASE WHEN sqrt(SUM(x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE))
        |                  * sqrt(SUM(y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE)) > 0
        |      THEN SUM(x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE)
        |           / (sqrt(SUM(x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE))
        |            * sqrt(SUM(y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))) END, 6) AS sim
        |  FROM am x JOIN am y ON x.cid = y.cid AND x.vec_id <> y.vec_id,
        |  generate_series(1, 64) t(i)
        |  GROUP BY x.vec_id, x.label, y.vec_id, y.label),
        |pv AS (SELECT * FROM pairs WHERE sim IS NOT NULL),
        |base AS (SELECT DISTINCT anchor_id, label FROM pv),
        |pos AS (
        |  SELECT anchor_id, vb, sim,
        |    row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, vb ASC) AS rn
        |  FROM pv WHERE label = lb),
        |neg AS (
        |  SELECT anchor_id, vb, sim,
        |    row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, vb ASC) AS rn
        |  FROM pv WHERE label <> lb)
        |SELECT base.anchor_id, base.label,
        |  p.vb AS pos_id, p.sim AS pos_sim,
        |  n.vb AS neg_id, n.sim AS neg_sim,
        |  round(p.sim - n.sim, 6) AS margin
        |FROM base
        |LEFT JOIN pos p ON p.anchor_id = base.anchor_id AND p.rn = 1
        |LEFT JOIN neg n ON n.anchor_id = base.anchor_id AND n.rn = 1
        |ORDER BY base.anchor_id""".stripMargin,
    "sim_knn_accuracy" -> s"$KnnPredsSql ORDER BY qid",
    "eval_confusion_knn" ->
      s"""WITH preds AS ($KnnPredsSql),
         |t AS (SELECT true_label AS label, CAST(COUNT(1) AS BIGINT) AS n_true,
         |        CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
         |          AS BIGINT) AS tp
         |      FROM preds GROUP BY 1),
         |p AS (SELECT pred_label AS label, CAST(COUNT(1) AS BIGINT) AS n_pred
         |      FROM preds GROUP BY 1)
         |SELECT coalesce(t.label, p.label) AS label,
         |  CAST(coalesce(n_true, 0) AS BIGINT) AS n_true,
         |  CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred,
         |  CAST(coalesce(tp, 0) AS BIGINT) AS tp,
         |  CASE WHEN coalesce(n_pred, 0) > 0
         |    THEN round(CAST(coalesce(tp, 0) AS DOUBLE) / n_pred, 6) END AS precision,
         |  CASE WHEN coalesce(n_true, 0) > 0
         |    THEN round(CAST(coalesce(tp, 0) AS DOUBLE) / n_true, 6) END AS recall,
         |  CASE WHEN coalesce(n_true, 0) + coalesce(n_pred, 0) > 0
         |    THEN round(2.0 * coalesce(tp, 0)
         |      / (coalesce(n_true, 0) + coalesce(n_pred, 0)), 6) END AS f1
         |FROM t FULL OUTER JOIN p ON t.label = p.label
         |ORDER BY label""".stripMargin,
    "sim_bruteforce_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10 AND embedding IS NOT NULL),
        |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10 AND embedding IS NOT NULL),
        |el AS (
        |  SELECT qid, c.vec_id AS neighbor,
        |    SUM(qv[i]::DOUBLE * embedding[i]::DOUBLE) AS d,
        |    SUM(qv[i]::DOUBLE * qv[i]::DOUBLE) AS qq,
        |    SUM(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS cc
        |  FROM q, c, generate_series(1, 64) t(i)
        |  GROUP BY qid, c.vec_id),
        |ranked AS (
        |  SELECT qid, neighbor, d / (sqrt(qq) * sqrt(cc)) AS sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY d / (sqrt(qq) * sqrt(cc)) DESC, neighbor) AS rnk
        |  FROM el)
        |SELECT qid, CAST(rnk AS BIGINT) AS rank, neighbor, round(sim, 6) AS sim
        |FROM ranked WHERE rnk <= 5 ORDER BY qid, rank""".stripMargin,
    "sim_lsh_buckets" ->
      """WITH a AS (SELECT vec_id AS aid, embedding AS av FROM embeddings WHERE vec_id < 8 AND embedding IS NOT NULL),
        |v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8 AND embedding IS NOT NULL),
        |dots AS (
        |  SELECT v.vec_id, a.aid, SUM(av[i]::DOUBLE * embedding[i]::DOUBLE) AS d
        |  FROM v, a, generate_series(1, 64) t(i)
        |  GROUP BY v.vec_id, a.aid),
        |buckets AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << CAST(aid AS INT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id)
        |SELECT bucket, COUNT(1) AS n FROM buckets GROUP BY bucket ORDER BY bucket""".stripMargin,
    "sim_ivf_topk" -> IvfTopkSql,
    "sim_ivf_recall" ->
      s"""WITH ivf AS ($IvfTopkSql),
        |e2 AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
        |q2 AS (SELECT vec_id AS qid, embedding AS qv FROM e2 WHERE vec_id BETWEEN 8 AND 17),
        |c2 AS (SELECT vec_id, embedding FROM e2 WHERE vec_id >= 18),
        |el2 AS (
        |  SELECT qid, c2.vec_id AS neighbor,
        |    SUM(qv[i]::DOUBLE * embedding[i]::DOUBLE) AS d,
        |    SUM(qv[i]::DOUBLE * qv[i]::DOUBLE) AS qq,
        |    SUM(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS cc
        |  FROM q2, c2, generate_series(1, 64) t(i)
        |  GROUP BY qid, c2.vec_id),
        |truth AS (
        |  SELECT qid, neighbor FROM (
        |    SELECT qid, neighbor,
        |      row_number() OVER (PARTITION BY qid
        |        ORDER BY d / (sqrt(qq) * sqrt(cc)) DESC, neighbor) AS rnk
        |    FROM el2)
        |  WHERE rnk <= 5)
        |SELECT truth.qid, CAST(COUNT(1) AS BIGINT) AS n_true,
        |  CAST(SUM(CASE WHEN ivf.neighbor IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
        |  round(CAST(SUM(CASE WHEN ivf.neighbor IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(1), 6) AS recall
        |FROM truth
        |LEFT JOIN ivf ON truth.qid = ivf.qid AND truth.neighbor = ivf.neighbor
        |GROUP BY truth.qid ORDER BY truth.qid""".stripMargin,
    "sim_ivf_multiprobe" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
        |cent AS (SELECT vec_id AS cid0, embedding AS cv FROM e WHERE vec_id < 8),
        |q AS (SELECT vec_id AS qid, embedding AS qv FROM e WHERE vec_id BETWEEN 8 AND 17),
        |c AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 18),
        |sizes AS (
        |  SELECT CAST(COUNT(CASE WHEN vec_id >= 18 THEN 1 END) AS BIGINT) AS n_c,
        |    CAST(COUNT(CASE WHEN vec_id BETWEEN 8 AND 17 THEN 1 END) AS BIGINT) AS n_q
        |  FROM e),
        |cdots AS (
        |  SELECT c.vec_id, cent.cid0, SUM(cv[i]::DOUBLE * embedding[i]::DOUBLE) AS d
        |  FROM c, cent, generate_series(1, 64) t(i)
        |  GROUP BY 1, 2),
        |assign AS (
        |  SELECT vec_id, cid0 AS cid FROM (
        |    SELECT vec_id, cid0,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid0) AS rn
        |    FROM cdots)
        |  WHERE rn = 1),
        |qdots AS (
        |  SELECT qid, cent.cid0, SUM(cv[i]::DOUBLE * qv[i]::DOUBLE) AS d
        |  FROM q, cent, generate_series(1, 64) t(i)
        |  GROUP BY 1, 2),
        |probes AS (
        |  SELECT qid, cid0 AS cid, rn AS prank FROM (
        |    SELECT qid, cid0,
        |      row_number() OVER (PARTITION BY qid ORDER BY d DESC, cid0) AS rn
        |    FROM qdots)
        |  WHERE rn <= 4),
        |pairs AS (
        |  SELECT p.qid, a.vec_id AS neighbor, p.prank,
        |    SUM(q.qv[i]::DOUBLE * c.embedding[i]::DOUBLE) AS d,
        |    SUM(q.qv[i]::DOUBLE * q.qv[i]::DOUBLE) AS qq,
        |    SUM(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE) AS cc
        |  FROM probes p
        |  JOIN assign a USING (cid)
        |  JOIN q ON p.qid = q.qid
        |  JOIN c ON a.vec_id = c.vec_id,
        |  generate_series(1, 64) t(i)
        |  GROUP BY 1, 2, 3),
        |fan AS (
        |  SELECT np, qid, neighbor, d / (sqrt(qq) * sqrt(cc)) AS sim
        |  FROM pairs, generate_series(1, 4) s(np)
        |  WHERE prank <= np),
        |scanned AS (
        |  SELECT np, CAST(COUNT(1) AS BIGINT) AS n_candidates
        |  FROM fan GROUP BY np),
        |top AS (
        |  SELECT np, qid, neighbor FROM (
        |    SELECT np, qid, neighbor,
        |      row_number() OVER (PARTITION BY np, qid
        |        ORDER BY sim DESC, neighbor) AS rnk
        |    FROM fan)
        |  WHERE rnk <= 5),
        |el2 AS (
        |  SELECT qid, c.vec_id AS neighbor,
        |    SUM(qv[i]::DOUBLE * embedding[i]::DOUBLE) AS d,
        |    SUM(qv[i]::DOUBLE * qv[i]::DOUBLE) AS qq,
        |    SUM(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS cc
        |  FROM q, c, generate_series(1, 64) t(i)
        |  GROUP BY qid, c.vec_id),
        |truth AS (
        |  SELECT np, qid, neighbor FROM (
        |    SELECT qid, neighbor,
        |      row_number() OVER (PARTITION BY qid
        |        ORDER BY d / (sqrt(qq) * sqrt(cc)) DESC, neighbor) AS rnk
        |    FROM el2), generate_series(1, 4) s(np)
        |  WHERE rnk <= 5),
        |rec AS (
        |  SELECT t.np, CAST(COUNT(DISTINCT t.qid) AS BIGINT) AS n_queries,
        |    COUNT(1) AS n_true,
        |    SUM(CASE WHEN tp.neighbor IS NOT NULL THEN 1 ELSE 0 END) AS n_found
        |  FROM truth t
        |  LEFT JOIN top tp ON t.np = tp.np AND t.qid = tp.qid
        |    AND t.neighbor = tp.neighbor
        |  GROUP BY t.np)
        |SELECT CAST(rec.np AS BIGINT) AS nprobe, rec.n_queries, sc.n_candidates,
        |  CASE WHEN sizes.n_c * sizes.n_q > 0 THEN
        |    round(CAST(sc.n_candidates AS DOUBLE)
        |      / CAST(sizes.n_c * sizes.n_q AS DOUBLE), 6) END AS scan_frac,
        |  round(CAST(rec.n_found AS DOUBLE) / CAST(rec.n_true AS DOUBLE), 6)
        |    AS recall
        |FROM rec JOIN scanned sc ON rec.np = sc.np CROSS JOIN sizes
        |ORDER BY nprobe""".stripMargin,
    "dedup_embedding_cosine" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
        |a AS (SELECT vec_id AS aid, embedding AS av FROM e WHERE vec_id < 8),
        |v AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 8),
        |dots AS (
        |  SELECT v.vec_id, a.aid, SUM(av[i]::DOUBLE * embedding[i]::DOUBLE) AS dt
        |  FROM v, a, generate_series(1, 64) t(i)
        |  GROUP BY v.vec_id, a.aid),
        |buckets AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN dt > 0 THEN CAST(1 AS BIGINT) << CAST(aid AS INT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |be AS (SELECT b.vec_id, b.bucket, e.embedding FROM buckets b JOIN e USING (vec_id)),
        |pairs AS (
        |  SELECT x.vec_id AS va, y.vec_id AS vb,
        |    SUM(x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE) AS d,
        |    SUM(x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE) AS dx,
        |    SUM(y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE) AS dy
        |  FROM be x JOIN be y ON x.bucket = y.bucket AND x.vec_id < y.vec_id,
        |  generate_series(1, 64) t(i)
        |  GROUP BY 1, 2)
        |SELECT va, vb, round(d / (sqrt(dx) * sqrt(dy)), 6) AS sim
        |FROM pairs
        |WHERE d / (sqrt(dx) * sqrt(dy)) >= 0.35
        |ORDER BY va, vb""".stripMargin,
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
        |ex AS (SELECT vec_id, len(embedding) AS dim, unnest(embedding)::DOUBLE AS x FROM e),
        |m AS (
        |  SELECT vec_id, CAST(MAX(dim) AS INT) AS dim, MAX(abs(x)) AS maxabs
        |  FROM ex GROUP BY vec_id),
        |q AS (
        |  SELECT ex.vec_id, ex.x, m.maxabs / 127 AS scale,
        |    CAST(FLOOR(ex.x / (m.maxabs / 127) + 0.5) AS BIGINT) AS q
        |  FROM ex JOIN m USING (vec_id)
        |  WHERE m.maxabs > 0),
        |a AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |    CAST(SUM(CASE WHEN abs(q) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat,
        |    round(SUM((x - q * scale) * (x - q * scale)), 6) AS sq_err
        |  FROM q GROUP BY vec_id)
        |SELECT m.vec_id, m.dim, round(m.maxabs, 6) AS maxabs,
        |  a.n_zero, a.n_sat, a.sq_err
        |FROM m LEFT JOIN a USING (vec_id) ORDER BY m.vec_id""".stripMargin,
    "sim_pq_adc_topk" ->
      s"""WITH $PqAdcCtes
         |SELECT qid, rank, vec_id AS neighbor, est AS est_d2
         |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "embed_ivfpq_assign" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
        |cent AS (SELECT vec_id AS cid0, embedding AS cv FROM e WHERE vec_id < 8),
        |m AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 8),
        |adots AS (
        |  SELECT m.vec_id, cent.cid0,
        |    SUM(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS vv,
        |    SUM(cv[i]::DOUBLE * embedding[i]::DOUBLE) AS vc,
        |    SUM(cv[i]::DOUBLE * cv[i]::DOUBLE) AS cc
        |  FROM m, cent, generate_series(1, 64) t(i)
        |  GROUP BY 1, 2),
        |assign0 AS (
        |  SELECT vec_id, cid0 AS cid FROM (
        |    SELECT vec_id, cid0,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY vv - 2 * vc + cc ASC, cid0) AS rn
        |    FROM adots) WHERE rn = 1),
        |av AS (
        |  SELECT m.vec_id, assign0.cid, m.embedding, cent.cv AS acv
        |  FROM m JOIN assign0 USING (vec_id)
        |  JOIN cent ON cent.cid0 = assign0.cid),
        |rdots AS (
        |  SELECT av.vec_id, av.cid, cb.cid0, CAST((i - 1) // 8 AS BIGINT) AS sub,
        |    SUM((embedding[i]::DOUBLE - acv[i]::DOUBLE)
        |      * (embedding[i]::DOUBLE - acv[i]::DOUBLE)) AS rr,
        |    SUM(cb.cv[i]::DOUBLE * (embedding[i]::DOUBLE - acv[i]::DOUBLE)) AS rc,
        |    SUM(cb.cv[i]::DOUBLE * cb.cv[i]::DOUBLE) AS cc
        |  FROM av, cent cb, generate_series(1, 64) t(i)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT vec_id, cid, sub AS subspace, CAST(cid0 AS BIGINT) AS code,
        |  round(rr - 2 * rc + cc, 6) + 0.0 AS sq_err
        |FROM (
        |  SELECT vec_id, cid, sub, cid0, rr, rc, cc,
        |    row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY rr - 2 * rc + cc ASC, cid0) AS rn
        |  FROM rdots) WHERE rn = 1
        |ORDER BY vec_id, subspace""".stripMargin,
    "sim_pq_rerank_topk" ->
      s"""WITH $PqAdcCtes,
         |short AS (SELECT qid, vec_id FROM r WHERE rank <= $PqShortlist),
         |sd AS (
         |  SELECT s.qid, s.vec_id,
         |    SUM(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS vv,
         |    SUM(qv[i]::DOUBLE * embedding[i]::DOUBLE) AS vq,
         |    SUM(qv[i]::DOUBLE * qv[i]::DOUBLE) AS qq
         |  FROM short s
         |  JOIN c ON c.vec_id = s.vec_id
         |  JOIN q ON q.qid = s.qid, generate_series(1, 64) t(i)
         |  GROUP BY 1, 2),
         |rr AS (
         |  SELECT qid, vec_id, round(vv - 2 * vq + qq, 6) + 0.0 AS d2,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY vv - 2 * vq + qq ASC, vec_id) AS BIGINT) AS rank
         |  FROM sd)
         |SELECT qid, rank, vec_id AS neighbor, d2
         |FROM rr WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "sim_pq_recall" ->
      s"""WITH $PqAdcCtes,
         |td AS (
         |  SELECT c.vec_id, q.qid,
         |    SUM(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS vv,
         |    SUM(qv[i]::DOUBLE * embedding[i]::DOUBLE) AS vq,
         |    SUM(qv[i]::DOUBLE * qv[i]::DOUBLE) AS qq
         |  FROM c, q, generate_series(1, 64) t(i)
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY vv - 2 * vq + qq ASC, vec_id) AS trn
         |    FROM td) WHERE trn <= 5),
         |adc AS (SELECT qid, vec_id FROM r WHERE rank <= 5)
         |SELECT truth.qid, COUNT(1) AS n_true,
         |  CAST(SUM(CASE WHEN adc.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
         |  round(CAST(SUM(CASE WHEN adc.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(1) AS DOUBLE), 6) AS recall
         |FROM truth LEFT JOIN adc USING (qid, vec_id)
         |GROUP BY truth.qid ORDER BY truth.qid""".stripMargin,
    "embed_pq_assign" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
        |cent AS (SELECT vec_id AS cid0, embedding AS cv FROM e WHERE vec_id < 8),
        |m AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 8),
        |dots AS (
        |  SELECT m.vec_id, cent.cid0, CAST((i - 1) // 8 AS BIGINT) AS sub,
        |    SUM(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS vv,
        |    SUM(cv[i]::DOUBLE * embedding[i]::DOUBLE) AS vc,
        |    SUM(cv[i]::DOUBLE * cv[i]::DOUBLE) AS cc
        |  FROM m, cent, generate_series(1, 64) t(i)
        |  GROUP BY 1, 2, 3),
        |assign AS (
        |  SELECT vec_id, sub, cid0, round(vv - 2 * vc + cc, 6) + 0.0 AS rd2,
        |    row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY vv - 2 * vc + cc ASC, cid0) AS rn
        |  FROM dots)
        |SELECT vec_id, sub AS subspace, CAST(cid0 AS BIGINT) AS code, rd2 AS sq_err
        |FROM assign WHERE rn = 1 ORDER BY vec_id, subspace""".stripMargin,
    "embed_pca_power" ->
      s"""WITH $PcaCtes
         |SELECT v$PcaIters.dim, v$PcaIters.v AS loading,
         |  round(n$PcaIters.nrm, 6) + 0.0 AS lambda
         |FROM v$PcaIters CROSS JOIN n$PcaIters CROSS JOIN n1 CROSS JOIN n2
         |WHERE n1.nrm > 0 AND n2.nrm > 0 AND n$PcaIters.nrm > 0
         |ORDER BY v$PcaIters.dim""".stripMargin,
    "embed_pca_debias" ->
      s"""WITH $PcaCtes,
         |xb AS (SELECT vec_id, dim, xc, v FROM xc JOIN v$PcaIters USING (dim)),
         |cf AS (
         |  SELECT vec_id, round(SUM(xc * v), 6) + 0.0 AS coef
         |  FROM xb GROUP BY vec_id),
         |rs AS (
         |  SELECT xb.vec_id, dim, xc,
         |    round(xc - coef * v, 6) + 0.0 AS r
         |  FROM xb JOIN cf USING (vec_id)),
         |ag AS (
         |  SELECT vec_id,
         |    round(SUM(xc * xc), 6) + 0.0 AS n2_orig,
         |    round(SUM(r * r), 6) + 0.0 AS n2_resid
         |  FROM rs GROUP BY vec_id)
         |SELECT vec_id, cf.coef, ag.n2_orig, ag.n2_resid, rs.dim,
         |  rs.r AS resid
         |FROM rs JOIN cf USING (vec_id) JOIN ag USING (vec_id)
         |CROSS JOIN n1 CROSS JOIN n2 CROSS JOIN n$PcaIters
         |WHERE n1.nrm > 0 AND n2.nrm > 0 AND n$PcaIters.nrm > 0
         |ORDER BY vec_id, rs.dim""".stripMargin,
    "decontam_semantic" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
        |a AS (SELECT vec_id AS aid, embedding AS av FROM e WHERE vec_id < 8),
        |v AS (SELECT vec_id, embedding FROM e WHERE vec_id >= 8),
        |m AS (
        |  SELECT v.vec_id, v.embedding, d.source
        |  FROM v JOIN documents d ON d.doc_id = v.vec_id),
        |bsrc AS (SELECT MIN(source) AS bs FROM m),
        |dots AS (
        |  SELECT m.vec_id, a.aid, SUM(av[i]::DOUBLE * embedding[i]::DOUBLE) AS dt
        |  FROM m, a, generate_series(1, 64) t(i)
        |  GROUP BY m.vec_id, a.aid),
        |buckets AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN dt > 0 THEN CAST(1 AS BIGINT) << CAST(aid AS INT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |be AS (
        |  SELECT m.vec_id, b.bucket, m.embedding, m.source
        |  FROM buckets b JOIN m USING (vec_id)),
        |pairs AS (
        |  SELECT c.vec_id AS did,
        |    SUM(c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE) AS d,
        |    SUM(c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE) AS dx,
        |    SUM(q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE) AS dy
        |  FROM be c JOIN be q ON c.bucket = q.bucket, bsrc,
        |  generate_series(1, 64) t(i)
        |  WHERE q.source = bs AND c.source <> bs
        |  GROUP BY c.vec_id, q.vec_id),
        |agg AS (
        |  SELECT did AS doc_id, CAST(COUNT(1) AS BIGINT) AS n_cands,
        |    CAST(SUM(CASE WHEN d / (sqrt(dx) * sqrt(dy)) >= 0.35
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_bench_hits,
        |    MAX(round(d / (sqrt(dx) * sqrt(dy)), 6)) AS max_sim
        |  FROM pairs GROUP BY did)
        |SELECT doc_id, n_cands, n_bench_hits, max_sim,
        |  n_bench_hits > 0 AS contaminated
        |FROM agg ORDER BY doc_id""".stripMargin,
    "embed_rp_project" -> {
      val matRows = rpSigns.zipWithIndex.map { case (row, r) =>
        s"(${r + 1}, [${row.map(x => if (x > 0) "1.0" else "-1.0").mkString(", ")}])"
      }.mkString(",\n|    ")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
         |s(r, sv) AS (VALUES
         |    $matRows),
         |p AS (
         |  SELECT e.vec_id, s.r,
         |    round(SUM(sv[i] * embedding[i]::DOUBLE), 6) + 0.0 AS pr
         |  FROM e, s, generate_series(1, $RpDim) t(i)
         |  GROUP BY e.vec_id, s.r),
         |n AS (
         |  SELECT vec_id,
         |    round(SUM(embedding[i]::DOUBLE * embedding[i]::DOUBLE), 6) AS n2
         |  FROM e, generate_series(1, $RpDim) t(i) GROUP BY vec_id),
         |agg AS (
         |  SELECT vec_id,
         |    round(SUM(pr * pr) / ${RpK.toDouble}, 6) + 0.0 AS n2p
         |  FROM p GROUP BY vec_id)
         |SELECT vec_id, CAST(p.r AS BIGINT) AS r, p.pr, n.n2, a.n2p,
         |  round(CASE WHEN n.n2 > 0 THEN a.n2p / n.n2 - 1.0 END, 6) + 0.0 AS distortion
         |FROM p JOIN n USING (vec_id) JOIN agg a USING (vec_id)
         |ORDER BY vec_id, p.r""".stripMargin
    },
    "cluster_topics" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
         |$fineAssignCtes,
         |t AS (
         |  SELECT a.cid,
         |    unnest(list_filter(string_split(d.text, ' '), w -> w <> '')) AS term
         |  FROM assign a JOIN documents d ON d.doc_id = a.vec_id
         |  WHERE a.rn = 1),
         |ct AS (SELECT cid, term, CAST(COUNT(1) AS BIGINT) AS cnt FROM t GROUP BY cid, term),
         |tot AS (SELECT cid, CAST(SUM(cnt) AS BIGINT) AS n_cell FROM ct GROUP BY cid),
         |corp AS (SELECT term, CAST(SUM(cnt) AS BIGINT) AS cnt_corpus FROM ct GROUP BY term),
         |nt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM ct),
         |r AS (
         |  SELECT ct.cid, ct.term, ct.cnt,
         |    (CAST(ct.cnt AS DOUBLE) / CAST(tot.n_cell AS DOUBLE))
         |      / (CAST(corp.cnt_corpus AS DOUBLE) / CAST(nt.n_total AS DOUBLE)) AS lift
         |  FROM ct JOIN tot USING (cid) JOIN corp USING (term) CROSS JOIN nt),
         |k AS (
         |  SELECT cid, term, cnt, lift,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY cid
         |      ORDER BY lift DESC, cnt DESC, term) AS BIGINT) AS rk
         |  FROM r)
         |SELECT cid, rk, term, cnt, round(lift, 6) AS lift
         |FROM k WHERE rk <= $TopicsPerCell ORDER BY cid, rk""".stripMargin,
    "embed_silhouette" ->
      s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings
        |           WHERE embedding IS NOT NULL),
        |nm AS (SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 256.0) AS BIGINT)) AS c
        |       FROM e WHERE vec_id >= 8),
        |cent AS (SELECT vec_id AS cid0, embedding AS cv FROM e, nm WHERE vec_id < nm.c),
        |nc AS (SELECT CAST(COUNT(1) AS BIGINT) AS k FROM cent),
        |m AS (
        |  SELECT vec_id, embedding, CAST(label AS BIGINT) AS label
        |  FROM e, nc
        |  WHERE vec_id >= 8 AND label IS NOT NULL AND label >= 0
        |    AND label < nc.k AND nc.k >= 2),
        |dots AS (
        |  SELECT m.vec_id, m.label, cent.cid0,
        |    SUM(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS vv,
        |    SUM(cv[i]::DOUBLE * embedding[i]::DOUBLE) AS vc,
        |    SUM(cv[i]::DOUBLE * cv[i]::DOUBLE) AS cc
        |  FROM m, cent, generate_series(1, 64) t(i)
        |  GROUP BY 1, 2, 3),
        |own AS (
        |  SELECT vec_id, label, vv - 2 * vc + cc AS a2
        |  FROM dots WHERE cid0 = label),
        |oth AS (
        |  SELECT vec_id, min(vv - 2 * vc + cc) AS b2
        |  FROM dots WHERE cid0 <> label GROUP BY vec_id),
        |sil AS (
        |  SELECT own.label,
        |    round(CASE WHEN greatest(sqrt(greatest(a2, 0)), sqrt(greatest(b2, 0))) > 0
        |      THEN (sqrt(greatest(b2, 0)) - sqrt(greatest(a2, 0)))
        |           / greatest(sqrt(greatest(a2, 0)), sqrt(greatest(b2, 0)))
        |      ELSE 0 END, 6) + 0.0 AS sil
        |  FROM own JOIN oth USING (vec_id))
        |SELECT label, CAST(COUNT(1) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misfit,
        |  ${duckMicroMean6("SUM(CAST(sil AS DECIMAL(30,8)))", "COUNT(1)")}
        |    AS mean_sil
        |FROM sil GROUP BY label ORDER BY label""".stripMargin,
    "embed_kcenter_coreset" -> kcenterOracleSql,
    "embed_kmeans_assign" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
        |$fineAssignCtes
        |SELECT cid, COUNT(1) AS n,
        |  ${duckMicroMean6("SUM(CAST(rd2 AS DECIMAL(30,12)))", "COUNT(1)")}
        |    AS mean_d2
        |FROM assign WHERE rn = 1 GROUP BY cid ORDER BY cid""".stripMargin,
    "embed_kmeans_update" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
        |$fineAssignCtes,
        |x AS (
        |  SELECT a.cid, CAST(i - 1 AS BIGINT) AS dim,
        |    round(m.embedding[i]::DOUBLE, 6) AS rx
        |  FROM assign a JOIN m USING (vec_id), generate_series(1, 64) t(i)
        |  WHERE a.rn = 1)
        |SELECT cid, dim, COUNT(1) AS n,
        |  ${duckMicroMean6("SUM(CAST(rx AS DECIMAL(30,8)))", "COUNT(1)")}
        |    AS c_new
        |FROM x GROUP BY cid, dim ORDER BY cid, dim""".stripMargin,
    "dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
        |$fineAssignCtes,
        |am AS (SELECT a.cid, m.vec_id, m.embedding
        |       FROM assign a JOIN m USING (vec_id) WHERE rn = 1),
        |pairs AS (
        |  SELECT x.cid, y.vec_id AS vb,
        |    SUM(x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE) AS d,
        |    SUM(x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE) AS dx,
        |    SUM(y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE) AS dy
        |  FROM am x JOIN am y ON x.cid = y.cid AND x.vec_id < y.vec_id,
        |  generate_series(1, 64) t(i)
        |  GROUP BY x.cid, y.vec_id, x.vec_id),
        |dropped AS (
        |  SELECT cid, COUNT(1) AS n_dropped FROM (
        |    SELECT DISTINCT cid, vb FROM pairs
        |    WHERE round(d / (sqrt(dx) * sqrt(dy)), 6) >= 0.4)
        |  GROUP BY cid)
        |SELECT am.cid, COUNT(1) AS n_members,
        |  COALESCE(MAX(dr.n_dropped), 0) AS n_dropped,
        |  COUNT(1) - COALESCE(MAX(dr.n_dropped), 0) AS n_kept
        |FROM am LEFT JOIN dropped dr ON am.cid = dr.cid
        |GROUP BY am.cid ORDER BY am.cid""".stripMargin,
    "embed_source_drift" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
        |cx AS (
        |  SELECT CAST(i - 1 AS BIGINT) AS dim,
        |    round(CAST(SUM(CAST(round(embedding[i]::DOUBLE, 6) AS DECIMAL(30,8))) AS DOUBLE)
        |      / COUNT(1), 6) + 0.0 AS c
        |  FROM e, generate_series(1, 64) t(i) GROUP BY 1),
        |cv AS (SELECT list(c ORDER BY dim) AS cv FROM cx),
        |dots AS (
        |  SELECT e.vec_id,
        |    SUM(cv.cv[i] * e.embedding[i]::DOUBLE) AS d,
        |    SUM(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE) AS vv,
        |    SUM(cv.cv[i] * cv.cv[i]) AS cc
        |  FROM e, cv, generate_series(1, 64) t(i)
        |  GROUP BY e.vec_id),
        |r AS (
        |  SELECT vec_id, round(d / (sqrt(vv) * sqrt(cc)), 6) AS cos
        |  FROM dots WHERE sqrt(vv) * sqrt(cc) > 0)
        |SELECT doc.source, COUNT(1) AS n_vectors,
        |  round(CAST(SUM(CAST(cos AS DECIMAL(30,12))) AS DOUBLE) / COUNT(1), 6) AS mean_cos
        |FROM r JOIN documents doc ON doc.doc_id = r.vec_id
        |GROUP BY doc.source ORDER BY doc.source""".stripMargin,
    "embed_dim_stats" -> DimStatsSql,
    "embed_whiten_apply" ->
      s"""WITH st0 AS ($DimStatsSql)
        |SELECT e.vec_id, st0.dim,
        |  round((round(e.embedding[t.i]::DOUBLE, 6) - st0.mean)
        |    / sqrt(st0.var + 1e-6), 6) + 0.0 AS y
        |FROM embeddings e, generate_series(1, 64) t(i)
        |JOIN st0 ON st0.dim = t.i - 1
        |WHERE e.embedding IS NOT NULL
        |ORDER BY e.vec_id, st0.dim""".stripMargin)
}
