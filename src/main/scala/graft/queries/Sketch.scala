package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._
import graft.core.QueryCaches.cached

/**
 * Cardinality / resemblance SKETCH operators with bit-exact cross-engine
 * semantics (builder brief §beyond-the-reference). Sketches are THE
 * 100 TB-scale tool for distinct counting and set resemblance — one pass,
 * constant memory per group, mergeable across shards — but engine-native
 * implementations (Spark's HyperLogLogPlusPlus, DuckDB's
 * approx_count_distinct) use incompatible hash functions, so their
 * estimates can't be oracle-checked. These operators instead derive the
 * sketch from md5 arithmetic both engines share (the repo's established
 * cross-engine hash family, cf. [[TrainAudit.md5Mod]]): every register,
 * bottom-k order statistic and estimator term is reproducible to the bit
 * in DuckDB, so the ESTIMATES themselves are hash-checked — stronger
 * evidence than the usual "estimate is within ε of exact" spec assertion
 * (which SketchesSpec still pins for the Spark-native Bloom/Count-Min
 * paths in [[graft.operators.Sketches]]).
 *
 * Hash: h48(word) = first 12 hex chars of md5 → 48-bit integer. u =
 * h48 / 2^48 is an exactly-representable double (48 < 53 mantissa bits),
 * so every downstream IEEE op ((k−1)/u_k, α·m²·2^43/S) is the SAME
 * correctly-rounded double on both engines.
 */
object Sketch {

  private def docs(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")

  /** Bottom-k size for the KMV estimators. */
  private val KmvK = 128

  /** 2^48 as an exact double — the h48 normalizer. */
  private val Pow48 = 281474976710656.0d

  /** Distinct (source, word) universe with the 48-bit md5 hash — the
    * shared scan of all three sketch audits. One explode, one distinct
    * (hash-partitioned on the pair — linear, the exact-dedup shape). */
  private def sourceWords(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"), explode(Text.words(col("text"))).as("word"))
      .distinct()
      .withColumn("h48",
        conv(substring(md5(col("word")), 1, 12), 16, 10).cast("long"))

  private val sourceWordsSql =
    """SELECT source, word,
      |  CAST(CAST('0x' || substring(md5(word), 1, 12) AS UBIGINT) AS BIGINT) AS h48
      |FROM (SELECT DISTINCT source, word FROM (
      |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
      |  FROM documents))""".stripMargin

  // ---------------------------------------------------------------------
  // sketch_kmv_distinct — k-minimum-values distinct-count estimate
  // ---------------------------------------------------------------------

  /**
   * KMV (bottom-k) distinct-count sketch per source, audited against the
   * exact distinct vocabulary: keep the k smallest hash values; the k-th
   * smallest u estimates the distinct count as (k−1)/u_k (Bar-Yossef et
   * al.'s KMV / Beyer et al.'s unbiased variant). A source whose whole
   * vocabulary fits in the sketch (n ≤ k) reports the exact count — the
   * standard small-set exactness of bottom-k sketches.
   *
   * Scale: the `row_number ≤ k` filter triggers Spark's
   * InferWindowGroupLimit rewrite — each map task keeps only its LOCAL
   * bottom-k per source before the shuffle (WindowGroupLimit physical
   * node), so the window moves ≤ k·|sources|·#tasks rows, never the
   * vocabulary. That per-partition-prune-then-merge IS the distributed
   * KMV merge; the estimator itself is a ≤|sources|-row projection.
   * Determinism: ties on h48 (distinct words colliding in 48 bits) are
   * broken by the word itself; the estimate divides exact integers in
   * exactly-representable doubles.
   */
  def sketchKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val w = sourceWords(s, dir)
    val exact = w.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
    val kth = w
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h48"), col("word"))))
      .filter(col("rn") === KmvK)
      .select(col("source"), col("h48").as("hk"))
    val est = when(col("hk").isNull, col("n_exact").cast("double"))
      .otherwise(round(lit((KmvK - 1).toDouble * Pow48) / col("hk"), 6))
    exact.join(kth, Seq("source"), "left")
      .withColumn("est_kmv", est)
      .select(col("source"), col("n_exact"), col("est_kmv"),
        round(abs(col("est_kmv") - col("n_exact")) / col("n_exact"), 6)
          .as("rel_err"))
      .orderBy(col("source"))
  }

  private val sketchKmvDistinctSql =
    s"""WITH h AS ($sourceWordsSql),
       |e AS (SELECT source, COUNT(*) AS n_exact FROM h GROUP BY source),
       |r AS (SELECT source, h48,
       |        row_number() OVER (PARTITION BY source ORDER BY h48, word) AS rn
       |      FROM h),
       |k AS (SELECT source, h48 AS hk FROM r WHERE rn = $KmvK),
       |j AS (SELECT e.source, n_exact,
       |        CASE WHEN hk IS NULL THEN CAST(n_exact AS DOUBLE)
       |             ELSE round(${KmvK - 1}.0 * 281474976710656.0 / hk, 6) END
       |          AS est_kmv
       |      FROM e LEFT JOIN k ON e.source = k.source)
       |SELECT source, n_exact, est_kmv,
       |  round(abs(est_kmv - n_exact) / n_exact, 6) AS rel_err
       |FROM j ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // sketch_hll_distinct — HyperLogLog registers + raw estimator
  // ---------------------------------------------------------------------

  /** HLL bucket count m = 2^6. */
  private val HllM = 64

  /**
   * HyperLogLog distinct-count sketch per source (m = 64 registers),
   * audited against the exact vocabulary: bucket = top 6 bits of h48,
   * register = max over the bucket of ρ (1 + leading zeros of the
   * remaining 42 bits), estimate = α_m·m²/Σ2^−M_j (Flajolet et al.'s raw
   * estimator). The harmonic sum is kept EXACT by integer scaling:
   * Σ2^−M_j = S/2^43 where S = Σ2^(43−M_j) is a BIGINT (≤ 64·2^43 < 2^50)
   * — no decimal rounding enters the estimator, and the final
   * α·m²·2^43/S is one correctly-rounded double division, identical on
   * both engines. The small-range regime (raw < 2.5m with empty
   * registers, where Flajolet's correction switches to linear counting)
   * is REPORTED as a flag rather than applied: ln() is not guaranteed
   * identically rounded across libm implementations, so the correction is
   * the client's (documented) choice while the registers and raw estimate
   * stay bit-exact.
   *
   * Scale: registers are a two-level map-side-combinable aggregation
   * (≤ m rows per source after the first combine); the whole sketch is
   * O(m) memory per source and mergeable across shards by register-max —
   * the property that makes HLL the 100 TB distinct counter.
   */
  def sketchHllDistinct(s: SparkSession, dir: String): DataFrame = {
    val w = sourceWords(s, dir)
    val rem = col("h48") % lit(4398046511104L) // 2^42
    val rho = when(rem === 0L, lit(43))
      .otherwise(lit(43) - length(conv(rem, 10, 2)))
    val regs = w
      .select(col("source"), (col("h48") / lit(4398046511104L)).cast("long").as("bucket"),
        rho.as("rho"))
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("rho")).as("m_j"))
    val exact = w.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
    // integer-scaled harmonic sum: empty buckets contribute 2^43 each
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(HllM.toDouble))
    val perSrc = regs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_present"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(43 - m_j AS INT))"))
          .as("s_present"))
      .select(col("source"), (lit(HllM.toLong) - col("n_present")).as("v_empty"),
        (col("s_present") +
          (lit(HllM.toLong) - col("n_present")) * lit(8796093022208L)).as("s_total"))
    val raw = alpha * lit(HllM.toDouble * HllM.toDouble) * lit(8796093022208.0d) /
      col("s_total")
    exact.join(perSrc, Seq("source"))
      .withColumn("est_hll", round(raw, 6))
      .select(col("source"), col("n_exact"), col("v_empty"), col("s_total"),
        col("est_hll"),
        (raw < lit(2.5d * HllM) && col("v_empty") > 0L).as("small_range"),
        round(abs(col("est_hll") - col("n_exact")) / col("n_exact"), 6)
          .as("rel_err"))
      .orderBy(col("source"))
  }

  private val sketchHllDistinctSql =
    s"""WITH h AS ($sourceWordsSql),
       |b AS (SELECT source, h48 // 4398046511104 AS bucket,
       |        CASE WHEN h48 % 4398046511104 = 0 THEN 43
       |             ELSE 43 - length(bin(h48 % 4398046511104)) END AS rho
       |      FROM h),
       |regs AS (SELECT source, bucket, max(rho) AS m_j FROM b
       |         GROUP BY source, bucket),
       |e AS (SELECT source, COUNT(*) AS n_exact FROM h GROUP BY source),
       |p AS (SELECT source, $HllM - COUNT(*) AS v_empty,
       |        CAST(SUM(CAST(1 AS BIGINT) << CAST(43 - m_j AS INTEGER))
       |          + ($HllM - COUNT(*)) * 8796093022208 AS BIGINT) AS s_total
       |      FROM regs GROUP BY source),
       |j AS (SELECT e.source, n_exact, v_empty, s_total,
       |        (0.7213 / (1.0 + 1.079 / ${HllM}.0)) * ${HllM}.0 * ${HllM}.0
       |          * 8796093022208.0 / s_total AS raw
       |      FROM e JOIN p ON e.source = p.source)
       |SELECT source, n_exact, v_empty, s_total, round(raw, 6) AS est_hll,
       |  (raw < ${2.5 * HllM} AND v_empty > 0) AS small_range,
       |  round(abs(round(raw, 6) - n_exact) / n_exact, 6) AS rel_err
       |FROM j ORDER BY source""".stripMargin

  /**
   * HLL merge-losslessness proof — the property that makes HLL the
   * 100 TB distinct counter: registers built per SHARD (here per source)
   * and merged by bucket-max are IDENTICAL to registers built in one
   * pass over the union, because max is associative and a word
   * contributes the same (bucket, ρ) everywhere. The audit computes the
   * corpus estimate both ways — from the per-source sketches' bucket-max
   * merge and from the direct global build — plus the exact distinct
   * count, and emits `merge_lossless` (register-level equality expressed
   * through the integer harmonic sums). A pipeline reads this as
   * license to sketch shards independently and combine at the
   * coordinator without touching the data again.
   *
   * Scale: everything after the (source, word) distinct is register
   * space — ≤ sources·m rows merged to m.
   */
  def sketchHllMerge(s: SparkSession, dir: String): DataFrame = {
    val w = sourceWords(s, dir)
      .transform(cached)
    val rem = col("h48") % lit(4398046511104L)
    val rho = when(rem === 0L, lit(43))
      .otherwise(lit(43) - length(conv(rem, 10, 2)))
    // per-source registers, then bucket-max merge
    val perSrc = w.select(col("source"),
        (col("h48") / lit(4398046511104L)).cast("long").as("bucket"), rho.as("rho"))
      .groupBy(col("source"), col("bucket")).agg(max(col("rho")).as("m_j"))
    val merged = perSrc.groupBy(col("bucket")).agg(max(col("m_j")).as("m_j"))
    // direct global registers
    val direct = w.select((col("h48") / lit(4398046511104L)).cast("long").as("bucket"),
        rho.as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("m_j"))
    // register sums are 1-row aggregates — driver scalars by the
    // [[graft.queries.Corpus.mixEpochs]] precedent, folded into a 1-row
    // result (no singleton joins for the hygiene net to squint at)
    def sTotal(regs: DataFrame): Long = {
      val r = regs.agg(count(lit(1)).as("n_present"),
        coalesce(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(43 - m_j AS INT))")),
          lit(0L)).as("s_present")).first()
      r.getLong(1) + (HllM.toLong - r.getLong(0)) * 8796093022208L
    }
    val sMerged = sTotal(merged)
    val sDirect = sTotal(direct)
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(HllM.toDouble))
    def est(sVal: Long): Column =
      round(alpha * lit(HllM.toDouble * HllM.toDouble) * lit(8796093022208.0d) /
        lit(sVal), 6)
    val exact = w.select(col("word")).distinct().count()
    s.range(1).select(lit(exact).as("n_exact"),
      est(sMerged).as("est_merged"),
      est(sDirect).as("est_direct"),
      lit(sMerged == sDirect).as("merge_lossless"))
  }

  private val sketchHllMergeSql =
    s"""WITH h AS ($sourceWordsSql),
       |b AS (SELECT source, h48 // 4398046511104 AS bucket,
       |        CASE WHEN h48 % 4398046511104 = 0 THEN 43
       |             ELSE 43 - length(bin(h48 % 4398046511104)) END AS rho
       |      FROM h),
       |ps AS (SELECT source, bucket, max(rho) AS m_j FROM b GROUP BY 1, 2),
       |mg AS (SELECT bucket, max(m_j) AS m_j FROM ps GROUP BY 1),
       |dr AS (SELECT bucket, max(rho) AS m_j FROM b GROUP BY 1),
       |sm AS (SELECT SUM(CAST(1 AS BIGINT) << CAST(43 - m_j AS INTEGER))
       |         + ($HllM - COUNT(*)) * 8796093022208 AS s FROM mg),
       |sd AS (SELECT SUM(CAST(1 AS BIGINT) << CAST(43 - m_j AS INTEGER))
       |         + ($HllM - COUNT(*)) * 8796093022208 AS s FROM dr),
       |ex AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS n_exact FROM h)
       |SELECT n_exact,
       |  round((0.7213 / (1.0 + 1.079 / ${HllM}.0)) * ${HllM}.0 * ${HllM}.0
       |    * 8796093022208.0 / sm.s, 6) AS est_merged,
       |  round((0.7213 / (1.0 + 1.079 / ${HllM}.0)) * ${HllM}.0 * ${HllM}.0
       |    * 8796093022208.0 / sd.s, 6) AS est_direct,
       |  sm.s = sd.s AS merge_lossless
       |FROM ex CROSS JOIN sm CROSS JOIN sd""".stripMargin

  // ---------------------------------------------------------------------
  // sketch_kmv_jaccard — source-pair resemblance from merged sketches
  // ---------------------------------------------------------------------

  /**
   * KMV resemblance estimate for every source pair, audited against the
   * exact word-set Jaccard: merge the two sources' sketches (= bottom-k
   * of the UNION's hash multiset), estimate J as the fraction of those k
   * that belong to BOTH sources (Beyer et al.'s KMV set-operation
   * estimator). A pair whose union fits in the sketch (|∪| ≤ k) reports
   * the exact Jaccard — the divisor is min(k, |∪|).
   *
   * Scale: source pairs are METADATA (a corpus has dozens of sources —
   * the |pairs| × vocabulary candidate stream is linear in the
   * vocabulary with a small constant, built by ONE broadcast join against
   * the word universe, never a shingle self-join); the per-pair
   * membership collapse is one hash aggregate, and the bottom-k window
   * gets the same WindowGroupLimit per-partition prune as
   * [[sketchKmvDistinct]]. At a scale where |pairs| itself explodes,
   * the same sketch merges pairwise FROM the per-source bottom-k
   * relations (k rows each) without revisiting the corpus — the
   * mergeability this audit certifies.
   */
  def sketchKmvJaccard(s: SparkSession, dir: String): DataFrame = {
    val w = sourceWords(s, dir)
    val srcs = docs(s, dir).select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("src_a"))
      .join(srcs.select(col("source").as("src_b")), col("src_a") < col("src_b"))
    val members = w.join(broadcast(pairs),
        col("source") === col("src_a") || col("source") === col("src_b"))
      .groupBy(col("src_a"), col("src_b"), col("word"), col("h48"))
      .agg(max(when(col("source") === col("src_a"), 1L).otherwise(0L)).as("in_a"),
        max(when(col("source") === col("src_b"), 1L).otherwise(0L)).as("in_b"))
    val ranked = members.withColumn("rn", row_number().over(
      Window.partitionBy(col("src_a"), col("src_b"))
        .orderBy(col("h48"), col("word"))))
    ranked.groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_union"),
        sum(col("in_a") * col("in_b")).as("n_inter"),
        sum(when(col("rn") <= KmvK, col("in_a") * col("in_b"))
          .otherwise(0L)).as("k_inter"))
      .select(col("src_a"), col("src_b"), col("n_union"), col("n_inter"),
        round(col("n_inter").cast("double") / col("n_union"), 6)
          .as("jaccard_exact"),
        round(col("k_inter").cast("double") /
          least(lit(KmvK.toLong), col("n_union")), 6).as("jaccard_kmv"))
      .withColumn("abs_err",
        round(abs(col("jaccard_kmv") - col("jaccard_exact")), 6))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val sketchKmvJaccardSql =
    s"""WITH h AS ($sourceWordsSql),
       |s AS (SELECT DISTINCT source FROM documents),
       |p AS (SELECT a.source AS src_a, b.source AS src_b
       |      FROM s a JOIN s b ON a.source < b.source),
       |m AS (SELECT src_a, src_b, word, h48,
       |        max(CASE WHEN h.source = src_a THEN 1 ELSE 0 END) AS in_a,
       |        max(CASE WHEN h.source = src_b THEN 1 ELSE 0 END) AS in_b
       |      FROM p JOIN h ON h.source = src_a OR h.source = src_b
       |      GROUP BY src_a, src_b, word, h48),
       |r AS (SELECT *, row_number() OVER (PARTITION BY src_a, src_b
       |        ORDER BY h48, word) AS rn FROM m),
       |g AS (SELECT src_a, src_b, COUNT(*) AS n_union,
       |        CAST(SUM(in_a * in_b) AS BIGINT) AS n_inter,
       |        CAST(SUM(CASE WHEN rn <= $KmvK THEN in_a * in_b ELSE 0 END)
       |          AS BIGINT) AS k_inter
       |      FROM r GROUP BY src_a, src_b)
       |SELECT src_a, src_b, n_union, n_inter,
       |  round(CAST(n_inter AS DOUBLE) / n_union, 6) AS jaccard_exact,
       |  round(CAST(k_inter AS DOUBLE) / least($KmvK, n_union), 6) AS jaccard_kmv,
       |  round(abs(round(CAST(k_inter AS DOUBLE) / least($KmvK, n_union), 6)
       |      - round(CAST(n_inter AS DOUBLE) / n_union, 6)), 6) AS abs_err
       |FROM g ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------------
  // sketch_cms_heavy — Count-Min heavy-hitter estimates
  // ---------------------------------------------------------------------

  /** Count-Min geometry: depth (independent hash rows) × width. */
  private val CmsDepth = 4
  private val CmsWidth = 64

  /** Probe set size (top tokens by exact count). */
  private val CmsProbes = 20

  /**
   * Count-Min heavy-hitter audit with bit-exact estimates: the token
   * stream is folded into a [[CmsDepth]]×[[CmsWidth]] counter matrix —
   * hash row j keys on the j-th disjoint 8-hex-char slice of md5(word),
   * so the d hashes are independent AND reproducible in DuckDB — and the
   * top-[[CmsProbes]] exact heavy hitters are then estimated back from
   * the sketch (est = min over rows of the hashed counter; Cormode &
   * Muthukrishnan's point query). `overestimate = est − exact` is ≥ 0 by
   * construction — the sketch NEVER undercounts — and the audit reports
   * it per probe token, the number a vocabulary probe reads before
   * trusting the sketch at crawl scale.
   *
   * Scale: the sketch build is ONE map-side-combinable aggregate with
   * d·w = 256 groups (the whole point of CMS — counter state is O(d·w)
   * no matter the stream); probes are metadata joined against those 256
   * rows. The [[graft.operators.Sketches.countMinTokens]] path remains
   * the Spark-native builder; this audit certifies the estimator
   * contract end-to-end against the oracle.
   */
  def sketchCmsHeavy(s: SparkSession, dir: String): DataFrame = {
    val tc = docs(s, dir)
      .select(explode(Text.words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .transform(cached)
    def slice(j: Int): Column =
      conv(substring(md5(col("word")), 1 + 8 * j, 8), 16, 10).cast("long") %
        CmsWidth
    val rows = (0 until CmsDepth).map(j =>
      tc.select(lit(j.toLong).as("j"), slice(j).as("bucket"), col("c")))
    val cms = rows.reduce(_ unionByName _)
      .groupBy(col("j"), col("bucket")).agg(sum(col("c")).as("bc"))
    val probes = tc.orderBy(col("c").desc, col("word")).limit(CmsProbes)
    val probeBits = (0 until CmsDepth).map(j =>
        probes.select(col("word"), col("c"), lit(j.toLong).as("j"),
          slice(j).as("bucket")))
      .reduce(_ unionByName _)
    probeBits.join(broadcast(cms), Seq("j", "bucket"))
      .groupBy(col("word"))
      .agg(max(col("c")).as("n_exact"), min(col("bc")).as("est_cms"))
      .select(col("word"), col("n_exact"), col("est_cms"),
        (col("est_cms") - col("n_exact")).as("overestimate"))
      .orderBy(col("n_exact").desc, col("word"))
  }

  private val sketchCmsHeavySql = {
    val sliceSql = (j: Int) =>
      s"CAST(CAST('0x' || substring(md5(word), ${1 + 8 * j}, 8) AS UBIGINT) AS BIGINT) % $CmsWidth"
    val rowBranches = (0 until CmsDepth).map(j =>
      s"SELECT $j AS j, ${sliceSql(j)} AS bucket, c FROM tc").mkString("\n  UNION ALL\n  ")
    val probeBranches = (0 until CmsDepth).map(j =>
      s"SELECT word, c, $j AS j, ${sliceSql(j)} AS bucket FROM probes")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH tc AS (
       |  SELECT word, CAST(COUNT(1) AS BIGINT) AS c
       |  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
       |        FROM documents)
       |  GROUP BY word),
       |r AS (
       |  $rowBranches),
       |cms AS (SELECT j, bucket, CAST(SUM(c) AS BIGINT) AS bc FROM r GROUP BY j, bucket),
       |probes AS (SELECT word, c FROM tc ORDER BY c DESC, word LIMIT $CmsProbes),
       |pb AS (
       |  $probeBranches)
       |SELECT pb.word, CAST(max(pb.c) AS BIGINT) AS n_exact,
       |  CAST(min(cms.bc) AS BIGINT) AS est_cms,
       |  CAST(min(cms.bc) - max(pb.c) AS BIGINT) AS overestimate
       |FROM pb JOIN cms ON pb.j = cms.j AND pb.bucket = cms.bucket
       |GROUP BY pb.word
       |ORDER BY n_exact DESC, word""".stripMargin
  }

  // ---------------------------------------------------------------------
  // sketch_bloom_fp — Bloom filter fill + measured false-positive rate
  // ---------------------------------------------------------------------

  /** Bloom geometry: bit-array size × hash count. */
  private val BloomM = 1024
  private val BloomK = 4

  /**
   * Bloom-filter audit with a MEASURED false-positive rate per source:
   * each source's word set feeds an m = [[BloomM]], k = [[BloomK]] filter
   * (hash bits from the same disjoint md5 slices as [[sketchCmsHeavy]] —
   * engine-reproducible), then every corpus word OUTSIDE the source
   * probes it; a probe whose k bits are all set is a false positive. The
   * audit row is (members, bits set, fill ratio, probes, measured fp
   * rate) — the empirical check of the ~(fill)^k theory a
   * decontamination gate sizes its filter by. No false NEGATIVES by
   * construction, which is the half SketchesSpec pins on the
   * Spark-native [[graft.operators.Sketches.bloomPrefilter]]; here the
   * positive half is hash-checked against the oracle.
   *
   * Scale: bit sets are ≤|sources|·m rows (the filter IS the collapsed
   * state); probing is |vocab|·k bit lookups via one broadcast equi-join
   * — the audit's cost, linear in the vocabulary, documented. The
   * all-(word, source) probe grid rides the ≤|sources| source list, not
   * a corpus self-join.
   */
  def sketchBloomFp(s: SparkSession, dir: String): DataFrame = {
    def slice(j: Int): Column =
      conv(substring(md5(col("word")), 1 + 8 * j, 8), 16, 10).cast("long") %
        BloomM
    val sw = sourceWords(s, dir).select(col("source"), col("word"))
      .transform(cached)
    val wordBits = (0 until BloomK).map(j =>
        sw.select(col("source"), col("word"), slice(j).as("bit")))
      .reduce(_ unionByName _)
    val sBits = wordBits.select(col("source"), col("bit")).distinct()
    val fill = sBits.groupBy(col("source")).agg(count(lit(1)).as("bits_set"))
    val members = sw.groupBy(col("source")).agg(count(lit(1)).as("n_members"))
    // the source list is METADATA (≤ dozens) — collected as a driver
    // constant and exploded over the vocabulary, the anchors/centroids
    // convention, so the probe grid needs no join at all
    val srcList: Seq[String] = sw.select(col("source")).distinct()
      .orderBy(col("source")).collect().map(_.getString(0)).toSeq
    val vocab = sw.select(col("word")).distinct()
    val vocabBits = (0 until BloomK).map(j =>
        vocab.select(col("word"), lit(j.toLong).as("j"), slice(j).as("bit")))
      .reduce(_ unionByName _)
    val probes = vocab
      .select(col("word"), explode(typedLit(srcList)).as("source"))
      .join(sw.withColumn("member", lit(1L)), Seq("source", "word"), "left")
      .filter(col("member").isNull)
      .select(col("source"), col("word"))
    val hits = probes.join(vocabBits, Seq("word"))
      .join(sBits.withColumn("present", lit(1L)), Seq("source", "bit"), "left")
      .groupBy(col("source"), col("word"))
      .agg(sum(coalesce(col("present"), lit(0L))).as("k_hits"))
    val fp = hits.groupBy(col("source"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("k_hits") === BloomK, 1L).otherwise(0L)).as("n_fp"))
    // LEFT join: a source covering the whole vocabulary has zero probes
    // and still reports its row (fp_rate NULL, not dropped)
    members.join(fill, Seq("source")).join(fp, Seq("source"), "left")
      .select(col("source"), col("n_members"), col("bits_set"),
        round(col("bits_set").cast("double") / BloomM, 6).as("fill_ratio"),
        coalesce(col("n_probes"), lit(0L)).as("n_probes"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        when(col("n_probes") > 0,
          round(col("n_fp").cast("double") / col("n_probes"), 6)).as("fp_rate"))
      .orderBy(col("source"))
  }

  private val sketchBloomFpSql = {
    val sliceSql = (j: Int) =>
      s"CAST(CAST('0x' || substring(md5(word), ${1 + 8 * j}, 8) AS UBIGINT) AS BIGINT) % $BloomM"
    val wbBranches = (0 until BloomK).map(j =>
      s"SELECT source, word, ${sliceSql(j)} AS bit FROM sw")
      .mkString("\n  UNION ALL\n  ")
    val vbBranches = (0 until BloomK).map(j =>
      s"SELECT word, $j AS j, ${sliceSql(j)} AS bit FROM vocab")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH sw AS (
       |  SELECT DISTINCT source, word FROM (
       |    SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
       |    FROM documents)),
       |wb AS (
       |  $wbBranches),
       |sbits AS (SELECT DISTINCT source, bit FROM wb),
       |fill AS (SELECT source, CAST(COUNT(1) AS BIGINT) AS bits_set
       |         FROM sbits GROUP BY source),
       |members AS (SELECT source, CAST(COUNT(1) AS BIGINT) AS n_members
       |            FROM sw GROUP BY source),
       |vocab AS (SELECT DISTINCT word FROM sw),
       |vb AS (
       |  $vbBranches),
       |probes AS (
       |  SELECT s.source, v.word
       |  FROM (SELECT DISTINCT source FROM sw) s
       |  CROSS JOIN vocab v
       |  LEFT JOIN sw ON sw.source = s.source AND sw.word = v.word
       |  WHERE sw.word IS NULL),
       |hits AS (
       |  SELECT p.source, p.word,
       |    CAST(SUM(CASE WHEN sbits.bit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS k_hits
       |  FROM probes p
       |  JOIN vb ON p.word = vb.word
       |  LEFT JOIN sbits ON sbits.source = p.source AND sbits.bit = vb.bit
       |  GROUP BY p.source, p.word),
       |fp AS (
       |  SELECT source, CAST(COUNT(1) AS BIGINT) AS n_probes,
       |    CAST(SUM(CASE WHEN k_hits = $BloomK THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_fp
       |  FROM hits GROUP BY source)
       |SELECT m.source, n_members, bits_set,
       |  round(CAST(bits_set AS DOUBLE) / $BloomM, 6) AS fill_ratio,
       |  CAST(coalesce(n_probes, 0) AS BIGINT) AS n_probes,
       |  CAST(coalesce(n_fp, 0) AS BIGINT) AS n_fp,
       |  CASE WHEN n_probes > 0
       |    THEN round(CAST(n_fp AS DOUBLE) / n_probes, 6) END AS fp_rate
       |FROM members m
       |JOIN fill ON m.source = fill.source
       |LEFT JOIN fp ON m.source = fp.source
       |ORDER BY m.source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // sketch_hll_intersect — inclusion–exclusion intersection estimate
  // ---------------------------------------------------------------------

  /**
   * HLL intersection estimate for every source pair by
   * inclusion–exclusion — |A∩B| ≈ est(A) + est(B) − est(A∪B), where
   * est(A∪B) comes from the bucket-max MERGE of the two sources'
   * register tables (never a second corpus pass) — audited against the
   * exact vocabulary intersection. This is the standard (and standardly
   * noisy) HLL set operation: the audit exists precisely because I–E
   * inherits the union's error at the intersection's scale, so a
   * governance layer needs the measured error before trusting sketch
   * overlap numbers (the KMV twin [[sketchKmvJaccard]] estimates
   * resemblance directly).
   *
   * Scale: register tables are ≤ m rows per source; the pair merge is
   * register-space only (|pairs|·m rows, sources are metadata). The
   * exact intersection is one word-equi self-join of the distinct
   * (source, word) relation — linear in vocabulary, the
   * corpus_source_overlap shape. Determinism: every harmonic sum is the
   * integer-scaled BIGINT of [[sketchHllDistinct]]; the three estimates
   * round to 6 dp BEFORE the I–E sum, so the output is arithmetic on
   * already-pinned decimals.
   */
  def sketchHllIntersect(s: SparkSession, dir: String): DataFrame = {
    val w = sourceWords(s, dir)
      .transform(cached)
    val rem = col("h48") % lit(4398046511104L)
    val rho = when(rem === 0L, lit(43))
      .otherwise(lit(43) - length(conv(rem, 10, 2)))
    val regs = w.select(col("source"),
        (col("h48") / lit(4398046511104L)).cast("long").as("bucket"), rho.as("rho"))
      .groupBy(col("source"), col("bucket")).agg(max(col("rho")).as("m_j"))
      .transform(cached)
    def sTotalCol: Column =
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(43 - m_j AS INT))")) +
        (lit(HllM.toLong) - count(lit(1))) * lit(8796093022208L)
    val perSrc = regs.groupBy(col("source")).agg(sTotalCol.as("s_src"))
    val srcs = perSrc.select(col("source"))
    val pairs = srcs.select(col("source").as("src_a"))
      .join(srcs.select(col("source").as("src_b")), col("src_a") < col("src_b"))
    // union registers: each source's registers fan out to its pairs
    // (broadcast pair list), then bucket-max per pair
    val uni = regs.join(broadcast(pairs),
        col("source") === col("src_a") || col("source") === col("src_b"))
      .groupBy(col("src_a"), col("src_b"), col("bucket"))
      .agg(max(col("m_j")).as("m_j"))
      .groupBy(col("src_a"), col("src_b")).agg(sTotalCol.as("s_uni"))
    val exact = w.select(col("source").as("src_a"), col("word"))
      .join(w.select(col("source").as("src_b"), col("word")), Seq("word"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_inter"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(HllM.toDouble))
    def est(sc: Column): Column =
      round(alpha * lit(HllM.toDouble * HllM.toDouble) * lit(8796093022208.0d) / sc, 6)
    pairs
      .join(broadcast(perSrc.select(col("source").as("src_a"), col("s_src").as("sa"))), "src_a")
      .join(broadcast(perSrc.select(col("source").as("src_b"), col("s_src").as("sb"))), "src_b")
      .join(uni, Seq("src_a", "src_b"))
      .join(exact, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        est(col("sa")).as("est_a"), est(col("sb")).as("est_b"),
        est(col("s_uni")).as("est_union"),
        round(est(col("sa")) + est(col("sb")) - est(col("s_uni")), 6)
          .as("est_inter"))
      .withColumn("abs_err",
        round(abs(col("est_inter") - col("n_inter").cast("double")), 6))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val sketchHllIntersectSql = {
    val estExpr = (sc: String) =>
      s"round((0.7213 / (1.0 + 1.079 / ${HllM}.0)) * ${HllM}.0 * ${HllM}.0 " +
        s"* 8796093022208.0 / $sc, 6)"
    s"""WITH h AS ($sourceWordsSql),
       |b AS (SELECT source, h48 // 4398046511104 AS bucket,
       |        CASE WHEN h48 % 4398046511104 = 0 THEN 43
       |             ELSE 43 - length(bin(h48 % 4398046511104)) END AS rho
       |      FROM h),
       |regs AS (SELECT source, bucket, max(rho) AS m_j FROM b GROUP BY 1, 2),
       |ps AS (SELECT source,
       |         CAST(SUM(CAST(1 AS BIGINT) << CAST(43 - m_j AS INTEGER))
       |           + ($HllM - COUNT(*)) * 8796093022208 AS BIGINT) AS s_src
       |       FROM regs GROUP BY source),
       |pairs AS (SELECT a.source AS src_a, b.source AS src_b
       |          FROM ps a JOIN ps b ON a.source < b.source),
       |uregs AS (
       |  SELECT p.src_a, p.src_b, r.bucket, max(r.m_j) AS m_j
       |  FROM pairs p JOIN regs r
       |    ON r.source = p.src_a OR r.source = p.src_b
       |  GROUP BY 1, 2, 3),
       |uni AS (SELECT src_a, src_b,
       |          CAST(SUM(CAST(1 AS BIGINT) << CAST(43 - m_j AS INTEGER))
       |            + ($HllM - COUNT(*)) * 8796093022208 AS BIGINT) AS s_uni
       |        FROM uregs GROUP BY 1, 2),
       |ex AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(COUNT(1) AS BIGINT) AS n_inter
       |  FROM h a JOIN h b ON a.word = b.word AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT p.src_a, p.src_b,
       |  CAST(coalesce(ex.n_inter, 0) AS BIGINT) AS n_inter,
       |  ${estExpr("sa.s_src")} AS est_a,
       |  ${estExpr("sb.s_src")} AS est_b,
       |  ${estExpr("uni.s_uni")} AS est_union,
       |  round(${estExpr("sa.s_src")} + ${estExpr("sb.s_src")}
       |    - ${estExpr("uni.s_uni")}, 6) AS est_inter,
       |  round(abs(round(${estExpr("sa.s_src")} + ${estExpr("sb.s_src")}
       |      - ${estExpr("uni.s_uni")}, 6)
       |    - CAST(coalesce(ex.n_inter, 0) AS DOUBLE)), 6) AS abs_err
       |FROM pairs p
       |JOIN ps sa ON p.src_a = sa.source
       |JOIN ps sb ON p.src_b = sb.source
       |JOIN uni ON p.src_a = uni.src_a AND p.src_b = uni.src_b
       |LEFT JOIN ex ON p.src_a = ex.src_a AND p.src_b = ex.src_b
       |ORDER BY p.src_a, p.src_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // sketch_quantile_audit — mergeable histogram quantiles vs exact
  // ---------------------------------------------------------------------

  /** Histogram bucket width for the quantile sketch (chars). */
  private val QsWidth = 64L

  /**
   * Fixed-width histogram quantile sketch per source, audited against
   * the EXACT order statistics — the mergeable one-pass structure (a
   * bucket-count vector adds across shards, the property t-digest/GK
   * sketches trade precision for) a 100 TB profiler uses for length
   * medians instead of a global sort. Estimates p50/p90 by linear
   * interpolation inside the covering bucket; exact values are the
   * lower order statistics (ceil(q·n)-th smallest — no engine-defined
   * interpolation).
   *
   * Scale: the histogram is one map-side-combined (source, bucket)
   * count; cumulative walks run over the ≤(domain/width)-row bucket
   * relation and the distinct-value relation (the [[sketchKmvDistinct]]
   * window convention — value-domain partitions, never per-row).
   * Determinism: targets are exact integer ceilings ((q·n + 99) DIV
   * 100); the interpolation is integer arithmetic with one IEEE
   * division.
   */
  def sketchQuantileAudit(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("n_chars").isNotNull)
      .select(col("source"), col("n_chars").cast("long").as("v"))
    val gv = d.groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("source")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .transform(cached)
    val hb = d.groupBy(col("source"), expr(s"v DIV $QsWidth").as("bucket"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("source")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .transform(cached)
    val n = gv.groupBy(col("source")).agg(sum(col("c")).as("n"))
    def target(q: Int): Column = expr(s"($q * n + 99) DIV 100")
    def exactQ(q: Int, out: String): DataFrame =
      gv.join(n, Seq("source"))
        .filter(col("cum") >= target(q))
        .groupBy(col("source")).agg(min(col("v")).as(out))
    def estQ(q: Int, out: String): DataFrame =
      hb.join(n, Seq("source"))
        .filter(col("cum") >= target(q))
        .groupBy(col("source"))
        .agg(min(struct(col("bucket"), col("cum"), col("c"), col("n"))).as("st"))
        .select(col("source"),
          round(col("st.bucket").cast("double") * lit(QsWidth.toDouble) +
            (lit(QsWidth.toDouble) *
              (expr(s"($q * st.n + 99) DIV 100") - (col("st.cum") - col("st.c")))
                .cast("double")) / col("st.c").cast("double"), 6).as(out))
    n.join(exactQ(50, "exact_p50"), Seq("source"))
      .join(estQ(50, "est_p50"), Seq("source"))
      .join(exactQ(90, "exact_p90"), Seq("source"))
      .join(estQ(90, "est_p90"), Seq("source"))
      .select(col("source"), col("n"),
        col("exact_p50"), col("est_p50"),
        round(abs(col("est_p50") - col("exact_p50").cast("double")), 6)
          .as("err_p50"),
        col("exact_p90"), col("est_p90"),
        round(abs(col("est_p90") - col("exact_p90").cast("double")), 6)
          .as("err_p90"))
      .orderBy(col("source"))
  }

  private val sketchQuantileAuditSql =
    s"""WITH d AS (
       |  SELECT source, CAST(n_chars AS BIGINT) AS v
       |  FROM documents WHERE n_chars IS NOT NULL),
       |gv AS (
       |  SELECT source, v, CAST(COUNT(1) AS BIGINT) AS c,
       |    CAST(SUM(COUNT(1)) OVER (PARTITION BY source ORDER BY v) AS BIGINT)
       |      AS cum
       |  FROM d GROUP BY 1, 2),
       |hb AS (
       |  SELECT source, v // $QsWidth AS bucket, CAST(COUNT(1) AS BIGINT) AS c,
       |    CAST(SUM(COUNT(1)) OVER (PARTITION BY source ORDER BY v // $QsWidth)
       |      AS BIGINT) AS cum
       |  FROM d GROUP BY 1, 2),
       |n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM gv GROUP BY 1),
       |e50 AS (SELECT gv.source, MIN(v) AS exact_p50
       |        FROM gv JOIN n USING (source)
       |        WHERE cum >= (50 * n + 99) // 100 GROUP BY 1),
       |e90 AS (SELECT gv.source, MIN(v) AS exact_p90
       |        FROM gv JOIN n USING (source)
       |        WHERE cum >= (90 * n + 99) // 100 GROUP BY 1),
       |f50 AS (SELECT hb.source, MIN(bucket) AS b FROM hb JOIN n USING (source)
       |        WHERE cum >= (50 * n + 99) // 100 GROUP BY 1),
       |s50 AS (SELECT hb.source,
       |          round(CAST(hb.bucket * $QsWidth AS DOUBLE)
       |            + CAST($QsWidth * ((50 * n + 99) // 100 - (cum - c)) AS DOUBLE)
       |              / CAST(c AS DOUBLE), 6) AS est_p50
       |        FROM hb JOIN n USING (source)
       |        JOIN f50 ON hb.source = f50.source AND hb.bucket = f50.b),
       |f90 AS (SELECT hb.source, MIN(bucket) AS b FROM hb JOIN n USING (source)
       |        WHERE cum >= (90 * n + 99) // 100 GROUP BY 1),
       |s90 AS (SELECT hb.source,
       |          round(CAST(hb.bucket * $QsWidth AS DOUBLE)
       |            + CAST($QsWidth * ((90 * n + 99) // 100 - (cum - c)) AS DOUBLE)
       |              / CAST(c AS DOUBLE), 6) AS est_p90
       |        FROM hb JOIN n USING (source)
       |        JOIN f90 ON hb.source = f90.source AND hb.bucket = f90.b)
       |SELECT n.source, n.n AS n, exact_p50, est_p50,
       |  round(abs(est_p50 - CAST(exact_p50 AS DOUBLE)), 6) AS err_p50,
       |  exact_p90, est_p90,
       |  round(abs(est_p90 - CAST(exact_p90 AS DOUBLE)), 6) AS err_p90
       |FROM n
       |JOIN e50 USING (source) JOIN s50 USING (source)
       |JOIN e90 USING (source) JOIN s90 USING (source)
       |ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_hll_intersect" -> (sketchHllIntersect _),
    "sketch_quantile_audit" -> (sketchQuantileAudit _),
    "sketch_cms_heavy" -> (sketchCmsHeavy _),
    "sketch_bloom_fp" -> (sketchBloomFp _),
    "sketch_hll_merge" -> (sketchHllMerge _),
    "sketch_kmv_distinct" -> (sketchKmvDistinct _),
    "sketch_hll_distinct" -> (sketchHllDistinct _),
    "sketch_kmv_jaccard" -> (sketchKmvJaccard _))

  val oracle: Map[String, String] = Map(
    "sketch_hll_intersect" -> sketchHllIntersectSql,
    "sketch_quantile_audit" -> sketchQuantileAuditSql,
    "sketch_cms_heavy" -> sketchCmsHeavySql,
    "sketch_bloom_fp" -> sketchBloomFpSql,
    "sketch_hll_merge" -> sketchHllMergeSql,
    "sketch_kmv_distinct" -> sketchKmvDistinctSql,
    "sketch_hll_distinct" -> sketchHllDistinctSql,
    "sketch_kmv_jaccard" -> sketchKmvJaccardSql)
}
