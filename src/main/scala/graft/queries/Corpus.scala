package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._
import graft.functions.GraftFunctions
import graft.core.QueryCaches.cached

/**
 * Corpus-preparation operators for the large-scale training-data pipeline
 * (builder brief §dedup/§text-analysis, beyond the reference's own surface):
 * segment-level dedup with document reassembly (the CCNet/RefinedWeb
 * line-dedup shape), deterministic global shuffle + shard assignment for
 * training order, source-weighted mixture sampling, corpus term scoring
 * (the tf-idf shape), and benchmark decontamination by shingle overlap
 * (the GPT-3 appendix-C n-gram decontamination shape).
 *
 * Every operator is a linear pipeline — scan → (explode) → hash-keyed
 * shuffle → agg — with no per-row UDFs and no driver-side loops; the only
 * driver round-trips are metadata-sized (a corpus row count, the rank
 * offsets inside [[graft.operators.Quantiles]]).
 */
object Corpus {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.spreadDocs(s, dir)

  // ---------------------------------------------------------------------
  // Segment-level dedup (CCNet-style) — text_seg_dedup
  // ---------------------------------------------------------------------

  /** Tokens per segment. The synthetic corpus has no newlines, so the
    * "line" unit is a fixed token window; on real data the split would be
    * `split(text, '\n')` and everything downstream is unchanged. */
  private[queries] val SegTokens = 8

  /**
   * Corpus-wide segment dedup with reassembly: split every document into
   * [[SegTokens]]-token segments, keep only the FIRST occurrence of each
   * distinct segment corpus-wide (ordered by (doc_id, seg_no) — the
   * deterministic keep-first contract), and reassemble each document from
   * its surviving segments.
   *
   * Scale shape: one explode (corpus tokens ÷ 8 rows), ONE shuffle for the
   * keep-first window (partitioned by segment text — a hot boilerplate
   * segment lands in one partition but is only aggregated, never joined,
   * so there is no m×n blowup), one groupBy(doc_id) for the reassembly.
   * The per-doc collect_list is bounded by document size, not corpus size.
   */
  def textSegDedup(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), Text.words(col("text")).as("w"))
      .filter(size(col("w")) > 0)
    val nSeg = floor((size(col("w")) + (SegTokens - 1)) / SegTokens).cast("int")
    val segs = toks.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), nSeg - 1),
        i => array_join(slice(col("w"), i * SegTokens + 1, lit(SegTokens)), " ")))
        .as(Seq("seg_no", "seg")))
    val first = min(struct(col("doc_id"), col("seg_no")))
      .over(Window.partitionBy(col("seg")))
    segs
      .withColumn("kept",
        col("doc_id") === first.getField("doc_id") &&
          col("seg_no") === first.getField("seg_no"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("seg_no"), col("seg"))))),
          e => e.getField("seg")), " ").as("joined"))
      // zero survivors → NULL, matching the oracle's empty string_agg
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        when(col("n_kept") > 0, col("joined")).as("new_text"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // Deterministic global shuffle → training order + shards — shuffle_order
  // ---------------------------------------------------------------------

  /** Shard count for the training-file assignment. */
  private val Shards = 8

  /**
   * Deterministic global shuffle for training order: every document gets a
   * pseudo-random but reproducible position (rank under md5(doc_id)) and a
   * round-robin shard assignment — the "globally shuffle the corpus, then
   * write N training shards" step every pretraining pipeline ends with.
   *
   * A naive `row_number() OVER (ORDER BY md5(...))` is a single-partition
   * window — the classic scale-killer. This reuses
   * [[graft.operators.Quantiles.withGlobalRank]]: range-partition on the
   * shuffle key, zero-extra-shuffle local ranks, metadata-sized offset
   * collect. At 100 TB the output would be written with
   * `partitionBy(shard_id)` straight from the ranged partitions.
   */
  def shuffleOrder(s: SparkSession, dir: String): DataFrame = {
    val keyed = docs(s, dir)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("skey"))
    graft.operators.Quantiles
      .withGlobalRank(keyed, Seq(col("skey"), col("doc_id")), "pos", "__total")
      .select(col("pos"), col("doc_id"),
        ((col("pos") - 1) % Shards).as("shard_id"))
      .orderBy(col("pos"))
  }

  // ---------------------------------------------------------------------
  // Source-weighted mixture sampling — mix_weighted
  // ---------------------------------------------------------------------

  /** Per-source keep rates (percent) for the training mixture — the
    * "sample source A at 90%, source B at 50%, the long tail at 15%"
    * config a data-mixing recipe pins down. Unlisted sources fall back to
    * [[MixDefaultRate]]. */
  private[graft] val MixRates: Map[String, Int] = Map(
    "src0" -> 90, "src1" -> 90, "src2" -> 90, "src3" -> 90,
    "src4" -> 50, "src5" -> 50, "src6" -> 50,
    "src7" -> 50, "src8" -> 50, "src9" -> 50)
  private[graft] val MixDefaultRate = 15

  /** The mixture keep rate shared by the batch rollup and the streaming
    * sampler (one spelling — the two paths cannot drift). */
  private[graft] def mixKeepRate(source: Column): Column =
    coalesce(element_at(typedLit(MixRates), source), lit(MixDefaultRate))

  /**
   * Mixture-weighting audit: deterministically sample each source at its
   * configured rate (the same md5-mod-100 scan-local predicate family as
   * [[Curation.sampleStratified]] — reproducible across engines and runs,
   * zero shuffle for the sampling itself) and account per source for what
   * the mixture keeps (docs and characters). One scan, one groupBy.
   */
  def mixWeighted(s: SparkSession, dir: String): DataFrame = {
    val rate = mixKeepRate(col("source"))
    docs(s, dir)
      .select(col("source"), col("n_chars"), rate.as("rate"),
        (Curation.md5Mod100(col("doc_id")) < rate).as("keep"))
      .groupBy(col("source"), col("rate"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------------
  // Pareto-dominance source screen — mix_pareto_frontier
  // ---------------------------------------------------------------------

  /**
   * Pareto frontier over the per-source (token mass, mean document
   * length) plane — the shortlist screen a mixture planner runs before
   * weighting: a source is DOMINATED if some other source has at least
   * as much token mass AND at least as long documents (one strictly
   * greater) — there is then no (size, quality)-monotone objective under
   * which the dominated source is the best pick. Frontier members are
   * the candidates worth a DoReMi/temperature pass; dominated rows keep
   * their dominator count as the audit trail.
   *
   * Scale: the corpus collapses to ≤|sources| rows first (one map-side-
   * combined aggregate); dominance is a ≤|sources|² broadcast self-join
   * on metadata. Determinism: the mean-length comparison is the exact
   * integer cross-multiplication chars_a·n_b vs chars_b·n_a (DECIMAL —
   * products reach (Σchars)², past LONG at corpus scale); no division
   * anywhere until the 6-dp display mean.
   */
  def mixParetoFrontier(s: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val g = docs(s, dir)
      .filter(col("n_chars").isNotNull)
      .select(col("source"), col("n_chars").cast("long").as("nc"),
        size(Text.words(col("text"))).cast("long").as("nw"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).cast(d38).as("tokens"),
        sum(col("nc")).cast(d38).as("chars"))
    val r = g.select(col("source").as("source_r"),
      col("n_docs").as("n_r"), col("tokens").as("tokens_r"),
      col("chars").as("chars_r"))
    // b dominates a: tokens_b ≥ tokens_a AND mean_b ≥ mean_a (cross-mult)
    // with at least one strict
    val geTok = col("tokens_r") >= col("tokens")
    val geLen = col("chars_r") * col("n_docs").cast(d38) >=
      col("chars") * col("n_r").cast(d38)
    val strict = col("tokens_r") > col("tokens") ||
      col("chars_r") * col("n_docs").cast(d38) >
        col("chars") * col("n_r").cast(d38)
    val dom = g.join(broadcast(r),
        col("source") =!= col("source_r") && geTok && geLen && strict)
      .groupBy(col("source")).agg(count(lit(1)).as("n_dominators"))
    g.join(dom, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        col("tokens").cast("long").as("tokens"),
        round(col("chars").cast("double") / col("n_docs").cast("double"), 6)
          .as("mean_chars"),
        coalesce(col("n_dominators"), lit(0L)).as("n_dominators"),
        coalesce(col("n_dominators"), lit(0L)).===(0L).as("on_frontier"))
      .orderBy(col("source"))
  }

  private val mixParetoFrontierSql: String =
    """WITH g AS (
      |  SELECT source, CAST(COUNT(1) AS BIGINT) AS n_docs,
      |    CAST(SUM(CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
      |      AS BIGINT)) AS DECIMAL(38,0)) AS tokens,
      |    CAST(SUM(CAST(n_chars AS BIGINT)) AS DECIMAL(38,0)) AS chars
      |  FROM documents WHERE n_chars IS NOT NULL
      |  GROUP BY source),
      |dom AS (
      |  SELECT a.source, CAST(COUNT(1) AS BIGINT) AS n_dominators
      |  FROM g a JOIN g b ON a.source <> b.source
      |    AND b.tokens >= a.tokens
      |    AND b.chars * CAST(a.n_docs AS DECIMAL(38,0))
      |      >= a.chars * CAST(b.n_docs AS DECIMAL(38,0))
      |    AND (b.tokens > a.tokens
      |      OR b.chars * CAST(a.n_docs AS DECIMAL(38,0))
      |        > a.chars * CAST(b.n_docs AS DECIMAL(38,0)))
      |  GROUP BY a.source)
      |SELECT g.source, g.n_docs, CAST(g.tokens AS BIGINT) AS tokens,
      |  round(CAST(g.chars AS DOUBLE) / CAST(g.n_docs AS DOUBLE), 6)
      |    AS mean_chars,
      |  CAST(COALESCE(dom.n_dominators, 0) AS BIGINT) AS n_dominators,
      |  COALESCE(dom.n_dominators, 0) = 0 AS on_frontier
      |FROM g LEFT JOIN dom USING (source)
      |ORDER BY g.source""".stripMargin

  // ---------------------------------------------------------------------
  // Temperature-scaled mixture shares — mix_temperature
  // ---------------------------------------------------------------------

  /**
   * Temperature-scaled sampling shares (the multilingual-pretraining
   * recipe: p_i ∝ n_i^α flattens the source distribution so small
   * sources aren't drowned): per source, the raw share n_i/Σn and the
   * α = 0.5 share √n_i/Σ√n. α is pinned at 0.5 because IEEE `sqrt` is
   * correctly-rounded on every engine — an arbitrary `pow(x, α)` is
   * only faithfully rounded, which a hash-exact oracle can't tolerate.
   * One count aggregate; the denominators are folded on the DRIVER from
   * the collected per-source counts (#sources rows — metadata-sized at
   * any scale) in sorted source order: a distributed `sum(sqrt(n))` adds
   * doubles in partition-arrival order, so its last ulp — and therefore
   * `round(..., 6)` on an exact half-way tie — could vary run to run,
   * which a hash-exact oracle can't tolerate.
   */
  /** Char budget for [[mixEpochs]] at test scale — a deployment would pass
    * the real token budget as the job parameter. */
  private val EpochBudgetChars = 1000000L

  /**
   * Epoch / repeat planner — the data-budget arithmetic a training-mixture
   * recipe runs after choosing shares: given each source's available
   * characters and a √-temperature weight, how many chars the budget
   * allots it (`target`), how many FULL passes over the source that means
   * (`epochs`, rounded up), and how much of the final partial pass
   * remains. The entire plan is integer arithmetic — weights are
   * `floor(sqrt(avail))` (IEEE sqrt is correctly rounded, so the floor is
   * engine-exact), allocation is `budget·w DIV W`, and the epoch count is
   * ceiling division spelled `(target + avail − 1) DIV avail` — so the
   * plan is bit-identical on any engine, with no float share in sight.
   *
   * Scale: one groupBy(source) (map-side combined, ≤|sources| groups); the
   * total weight is a 1-row driver scalar ([[corpusReport]] precedent).
   */
  def mixEpochs(s: SparkSession, dir: String): DataFrame = {
    val counts = docs(s, dir).groupBy(col("source"))
      .agg(sum(col("n_chars")).cast("long").as("avail_chars"))
      .select(col("source"), col("avail_chars"),
        floor(sqrt(col("avail_chars").cast("double"))).cast("long").as("weight"))
    val totalW = counts.agg(coalesce(sum(col("weight")), lit(0L)).cast("long"))
      .first().getLong(0)
    val target =
      if (totalW > 0) expr(s"${EpochBudgetChars}L * weight DIV ${totalW}L") else lit(0L)
    val withTarget = counts.withColumn("target_chars", target)
    val epochs = when(col("avail_chars") > 0,
      expr("(target_chars + avail_chars - 1) DIV avail_chars")).otherwise(lit(0L))
    withTarget
      .withColumn("epochs", epochs)
      .withColumn("last_epoch_chars",
        when(col("avail_chars") > 0 && col("epochs") > 0,
          col("target_chars") - (col("epochs") - lit(1L)) * col("avail_chars"))
          .otherwise(lit(0L)))
      .orderBy(col("source"))
  }

  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val counts = docs(s, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val perSource = counts.collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val totalN = perSource.map(_._2).sum
    val totalW = perSource.foldLeft(0.0) { case (acc, (_, n)) => acc + math.sqrt(n.toDouble) }
    counts.select(col("source"), col("n_docs"),
        round(col("n_docs").cast("double") / lit(totalN.toDouble), 6)
          .as("raw_share"),
        round(sqrt(col("n_docs").cast("double")) / lit(totalW), 6)
          .as("temp_share"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------------
  // Corpus term scoring (tf-idf shape) — text_tfidf_topk
  // ---------------------------------------------------------------------

  /** Result size for the term ranking. */
  private val TopTerms = 40

  /**
   * Corpus-level term statistics and ranking — the tf-idf shape: explode
   * to (doc, term), aggregate term frequency and document frequency in one
   * pass, score, top-K. The score is the integer `tf · (N − df)` (df-damped
   * frequency) rather than `tf · ln(N/df)`: the ORDERING is the same
   * monotone-in-df family, and integer arithmetic is bit-identical across
   * engines, where `ln` is only correctly-rounded-to-1-ulp on either side
   * (a hash-exact oracle cannot tolerate a last-ulp tie flip).
   *
   * The corpus row count is a metadata-sized scalar materialized up front
   * (the same statistics-to-driver round-trip AQE performs at stage
   * boundaries); everything else is a single explode → groupBy(term).
   */
  def textTfidfTopk(s: SparkSession, dir: String): DataFrame = {
    val nDocs = docs(s, dir).count()
    docs(s, dir)
      .select(col("doc_id"), explode(Text.words(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .withColumn("score", col("tf") * (lit(nDocs) - col("df")))
      .orderBy(col("score").desc, col("term"))
      .limit(TopTerms)
  }

  /** Coverage targets (percent of total token mass). */
  private val CoverageTargets = Seq(50L, 90L, 99L)

  /**
   * Vocabulary-coverage planning — the truncation curve a tokenizer
   * designer reads before fixing a vocab size: for each target share of
   * the corpus's total token mass, how many of the most-frequent word
   * types are needed, and the exact mass they cover. A token type is
   * needed for target T when the cumulative mass BEFORE it (descending
   * frequency, token text as the deterministic tiebreak) is still under
   * T% — the Zipf head/tail cut.
   *
   * Scale: the corpus collapses to its distinct vocabulary in one
   * map-side-combined groupBy; the running mass over the
   * frequency-ordered vocabulary is [[graft.operators.Quantiles]]'
   * distributed exact prefix sum (range partition + metadata-sized
   * offsets — no single-partition window); the target fan-out is a
   * 3-row explode, not a join. All threshold tests are integer
   * cross-multiplications (`(cum−cnt)·100 < T·total`), so no float
   * boundary can flip a token in or out.
   */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val tf = docs(s, dir)
      .select(explode(Text.words(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .transform(cached)
    // total token mass: metadata-sized driver scalar (same convention as
    // textTfidfTopk's corpus row count); tf is cached so the prefix-sum
    // pass below reuses it rather than re-running the explode
    val total = tf.agg(coalesce(sum(col("cnt")), lit(0L))).first().getLong(0)
    graft.operators.Quantiles
      .withRunningTotal(tf, Seq(col("cnt").desc, col("token").asc), "cnt", "cum")
      .withColumn("target", explode(typedLit(CoverageTargets)))
      .filter((col("cum") - col("cnt")) * 100 < col("target") * total)
      .groupBy(col("target"))
      .agg(count(lit(1)).as("tokens_needed"),
        max(col("cum")).as("covered_tokens"))
      .select(col("target"), col("tokens_needed"), col("covered_tokens"),
        round(col("covered_tokens").cast("double") / total, 6).as("coverage_frac"))
      .orderBy(col("target"))
  }

  // ---------------------------------------------------------------------
  // Benchmark decontamination by shingle overlap — decontam_overlap
  // ---------------------------------------------------------------------

  /** Tokens per decontamination shingle (GPT-3's appendix-C uses 13-gram
    * spans at web scale; 5 keeps the synthetic short-doc corpus
    * non-vacuous). */
  private[graft] val DecontamShingle = 5
  /** Overlap fraction at which a document is flagged contaminated. */
  private[graft] val DecontamTau = 0.2

  /**
   * Held-out-benchmark decontamination: treat one source (`src0`) as the
   * evaluation benchmark and flag training documents whose distinct
   * [[DecontamShingle]]-token shingles overlap the benchmark's shingle set
   * by ≥ [[DecontamTau]].
   *
   * Collapse-EARLY contract (the contamination_check lesson): the
   * benchmark side is reduced to its DISTINCT shingle set before the join,
   * so a boilerplate shingle appearing m times in the benchmark and n
   * times in training costs n join rows, never m·n. The join is a
   * left-semi on the shingle — at real scale the benchmark set is the
   * small side and broadcasts; per-doc hit counting is a plain groupBy.
   * Every training doc appears in the output (zero-hit docs with
   * overlap 0), so the check stays non-vacuous at any scale factor.
   */
  def decontamOverlap(s: SparkSession, dir: String): DataFrame = {
    val sh = docs(s, dir)
      .select(col("doc_id"), col("source"),
        GraftFunctions.shingle_set(col("text"), DecontamShingle).as("shs"))
      .filter(size(col("shs")) > 0)
    val bench = sh.filter(col("source") === "src0")
      .select(explode(col("shs")).as("sh")).distinct()
    val train = sh.filter(col("source") =!= "src0")
      .select(col("doc_id"), size(col("shs")).cast("long").as("n_sh"))
    val hits = sh.filter(col("source") =!= "src0")
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .join(broadcast(bench), Seq("sh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"))
    train.join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(col("doc_id"), col("n_sh"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_sh").cast("double"))
          .as("overlap_frac"),
        (col("n_hit").cast("double") / col("n_sh").cast("double") >=
          DecontamTau).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // Exact global length percentiles — stats_length_pctl
  // ---------------------------------------------------------------------

  /** Percentile points for the length-distribution report. */
  private val Pctls = Seq(25, 50, 75, 90, 99)

  /**
   * Exact document-length percentiles over the whole corpus — the length
   * distribution every data card reports, computed EXACTLY (not
   * approx_percentile) without a single-partition global sort: rank every
   * doc with [[graft.operators.Quantiles.withGlobalRank]] (range shuffle +
   * local ranks + metadata-sized offset collect), then keep the rows whose
   * rank is the ceil(p·N/100) order statistic. Ties broken by doc_id so
   * the selected row is deterministic.
   */
  def statsLengthPctl(s: SparkSession, dir: String): DataFrame = {
    // NULL-length docs (failed extraction) are excluded from the length
    // distribution on BOTH engines — Spark ranks NULLS FIRST, DuckDB
    // NULLS LAST, so leaving them in shifts every order statistic
    val keyed = docs(s, dir).filter(col("n_chars").isNotNull)
      .select(col("n_chars"), col("doc_id"))
    val ranked = graft.operators.Quantiles
      .withGlobalRank(keyed, Seq(col("n_chars"), col("doc_id")), "rk", "__total")
    val hits = ranked.withColumn("pctl",
      explode(filter(typedLit(Pctls),
        p => col("rk") === floor((col("__total") * p + 99) / 100))))
    hits.select(col("pctl"), col("rk"), col("n_chars"))
      .orderBy(col("pctl"))
  }

  /** PERCENTILE_CONT probe points. */
  private val ContPctls = Seq(0.25, 0.5, 0.75, 0.9, 0.99)

  /**
   * Interpolated percentiles (SQL-standard PERCENTILE_CONT semantics) of
   * the document length distribution — the continuous companion of
   * [[statsLengthPctl]]'s discrete order statistics: for each p, h =
   * (n−1)·p, and the value is lerp(v⌊h⌋₊₁, v⌈h⌉₊₁, h−⌊h⌋). Spark's own
   * `percentile_cont` is a single-node-ish aggregate; this is the
   * distributed two-pass form over [[graft.operators.Quantiles]]' exact
   * global rank.
   *
   * Scale shape: rank via range partition + metadata offsets (no
   * single-partition window); the probe predicate (does this rank carry
   * a ⌊h⌋+1 / ⌈h⌉+1 value for some p) is a scan-local ≤|Ps| filter, so
   * ≤2·|Ps| rows enter the final ≤|Ps|-group aggregate. Determinism: h
   * is one double multiply of exact integers, identical IEEE both
   * engines; lo/hi are exact longs; one lerp rounded at 6 dp.
   */
  def statsPercentileCont(s: SparkSession, dir: String): DataFrame = {
    // NULL lengths out of the ranked population (statsLengthPctl contract)
    val keyed = docs(s, dir).filter(col("n_chars").isNotNull)
      .select(col("n_chars"), col("doc_id"))
    val ranked = graft.operators.Quantiles
      .withGlobalRank(keyed, Seq(col("n_chars"), col("doc_id")), "rk", "__total")
    def h(p: Column): Column = (col("__total").cast("double") - lit(1.0)) * p
    val hits = ranked.withColumn("p",
      explode(filter(typedLit(ContPctls),
        p => col("rk") === (floor(h(p)) + 1) || col("rk") === (ceil(h(p)) + 1))))
    val hp = h(col("p"))
    hits
      .groupBy(col("p"))
      .agg(
        max(when(col("rk") === (floor(hp) + 1), col("n_chars"))).as("lo"),
        max(when(col("rk") === (ceil(hp) + 1), col("n_chars"))).as("hi"),
        first(hp - floor(hp)).as("frac"))
      .select(col("p"), col("lo"), col("hi"),
        round(col("lo") + (col("hi") - col("lo")) * col("frac"), 6)
          .as("pctl_value"))
      .orderBy(col("p"))
  }

  // ---------------------------------------------------------------------
  // Deterministic exactly-N-per-source sample — sample_per_source_topn
  // ---------------------------------------------------------------------

  /** Rows to keep per source. */
  private val PerSourceN = 10
  /** Prefilter oversampling factor (× [[PerSourceN]]). */
  private val Oversample = 3

  /**
   * Deterministic N-per-source sample: keep the [[PerSourceN]] docs with
   * the smallest md5 order inside each source, but NEVER sort a whole
   * source — a scan-local md5-mod-100 prefilter (threshold
   * ceil(N·oversample·100 / n_src) percent, from a broadcast per-source
   * count) shrinks each source to ~N·oversample survivors first, so the
   * per-source rank window runs on a metadata-sized relation no matter how
   * large the source is. The contract (and oracle) is the prefilter+rank
   * composition — fully deterministic given the config.
   */
  def samplePerSourceTopn(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val thr = least(lit(100L),
      floor((lit(PerSourceN * Oversample * 100L) + col("n_src") - 1) /
        col("n_src")).cast("long"))
    val survivors = d.join(broadcast(counts), Seq("source"))
      .filter(Curation.md5Mod100(col("doc_id")) < thr)
      .select(col("source"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("skey"))
    survivors
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("skey"), col("doc_id"))))
      .filter(col("rn") <= PerSourceN)
      .select(col("source"), col("doc_id"), col("rn").cast("long").as("rn"))
      .orderBy(col("source"), col("rn"))
  }

  // ---------------------------------------------------------------------
  // Corpus composition report — corpus_report
  // ---------------------------------------------------------------------

  /**
   * The lang × source composition matrix (docs, characters, length range,
   * corpus share) — the "data card" table a corpus release publishes. One
   * groupBy; the corpus-total characters is a metadata-sized scalar
   * (single agg row to the driver, the same statistics round-trip AQE
   * does) folded into the share projection as a literal.
   */
  def corpusReport(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // coalesce: an empty corpus sums to NULL, not 0 (getLong would NPE);
    // the zero-total guard keeps the share NULL (matching the oracle's
    // CASE) instead of engine-defined 0/0 arithmetic
    val totalChars =
      d.agg(coalesce(sum(col("n_chars")), lit(0L))).collect()(0).getLong(0)
    d.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .withColumn("char_share",
        when(lit(totalChars) > 0,
          round(col("sum_chars").cast("double") / lit(totalChars.toDouble), 6)))
      .orderBy(col("lang"), col("source"))
  }

  /**
   * UNPIVOT / melt of the per-source composition rollup — wide metric
   * columns (docs, characters, languages) to long (source, metric,
   * value) rows, the shape metric stores and plotting layers ingest.
   * Spark-first: ONE `stack(...)` Generate over the ≤|sources| aggregate
   * (Spark's UNPIVOT plan node is exactly this expand) — the transpose
   * never touches the corpus, only the rollup.
   */
  def corpusUnpivot(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_chars")), lit(0L)).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .select(col("source"), expr(
        "stack(3, 'n_docs', n_docs, 'n_chars', n_chars, 'n_langs', n_langs)")
        .as(Seq("metric", "value")))
      .orderBy(col("source"), col("metric"))

  /** Decile probe points (percent) for the per-source Q-Q drift. */
  private val QqPctls: Seq[Int] = (1 to 9).map(_ * 10)

  /**
   * Per-source Q-Q length drift — each source's document-length deciles
   * against the corpus-wide deciles (the quantile-quantile comparison a
   * drift monitor plots: a source whose curve sits systematically above
   * the diagonal ships longer documents than the corpus at every
   * quantile, which re-weights every length-bucketed downstream op).
   * Discrete lower order statistics — rank ⌈p·n/100⌉ under the total
   * (n_chars, doc_id) order — no interpolation, engine-exact.
   *
   * Scale: the GLOBAL deciles ride [[graft.operators.Quantiles]]' exact
   * two-pass rank (never a single-partition window); per-source deciles
   * are ordinary source-partitioned windows. The probe predicate keeps
   * ≤|Ps| rows per scope, and the decile join is a broadcast of 9 rows.
   */
  def statsQqDrift(s: SparkSession, dir: String): DataFrame = {
    val keyed = docs(s, dir).filter(col("n_chars").isNotNull)
      .select(col("source"), col("n_chars"), col("doc_id"))
    val g = graft.operators.Quantiles
      .withGlobalRank(keyed.select(col("n_chars"), col("doc_id")),
        Seq(col("n_chars"), col("doc_id")), "rk", "__total")
      .withColumn("decile", explode(filter(typedLit(QqPctls),
        p => col("rk") === floor((col("__total") * p + 99) / 100))))
      .select(col("decile"), col("n_chars").as("global_val"))
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    keyed
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn("decile", explode(filter(typedLit(QqPctls),
        p => col("rk") === floor((col("n") * p + 99) / 100))))
      .select(col("source"), col("decile"), col("n_chars").as("src_val"))
      .join(broadcast(g), Seq("decile"))
      .select(col("source"), col("decile"), col("src_val"), col("global_val"),
        (col("src_val") - col("global_val")).as("drift"))
      .orderBy(col("source"), col("decile"))
  }

  /**
   * N-gram distinctness curve — the duplication profile by granularity:
   * for each shingle order n = 1..5, the total and distinct n-gram
   * counts and the duplication rate. Unigrams always repeat; the n at
   * which the curve's dup rate collapses tells a curation team where
   * boilerplate ends and genuine text begins (and fixes the shingle
   * order the dedup family should key on).
   *
   * Scale: ONE scan — a nested transform emits all five shingle orders
   * from each doc's token array in a single Generate (≈5× the token
   * stream, tagged by n), then one two-level (n, gram) aggregate;
   * map-side combine collapses repeats before the shuffle.
   */
  def corpusDistinctCurve(s: SparkSession, dir: String): DataFrame = {
    // Optimization r11: the original single-Generate spelling evaluated a
    // NESTED higher-order lambda per emitted gram (interpreted, never
    // codegen) and shuffled every occurrence. Split the two quantities:
    //  - total n-grams is CLOSED FORM — Σ_docs max(|w| − n + 1, 0) — one
    //    scan, five sums, no explode at all;
    //  - distinct n-grams ride the codegen [[GraftFunctions.shingle_set]]
    //    kernel (per-doc distinct, so the distinct aggregate sees only
    //    unique-per-doc grams). Docs shorter than n are filtered BEFORE
    //    the kernel (its short-doc whole-text shingle is a fingerprint
    //    convention the curve must not count).
    // Row set, values and dup_rate expression are unchanged: an order n
    // appears iff ≥ 1 gram exists (inner join on the distinct side).
    val nw = size(Text.words(col("text"))).cast("long")
    val orders = 1 to 5
    val totals = docs(s, dir)
      .select(nw.as("nw"))
      .agg(sum(greatest(col("nw") - lit(0L), lit(0L))).as("t1"),
        sum(greatest(col("nw") - lit(1L), lit(0L))).as("t2"),
        sum(greatest(col("nw") - lit(2L), lit(0L))).as("t3"),
        sum(greatest(col("nw") - lit(3L), lit(0L))).as("t4"),
        sum(greatest(col("nw") - lit(4L), lit(0L))).as("t5"))
      .select(explode(array(orders.map(n =>
        struct(lit(n.toLong).as("n"), col(s"t$n").as("total"))): _*)).as("kv"))
      .select(col("kv.n").as("n"), col("kv.total").as("total"))
    val dn = orders.map { n =>
        val base = docs(s, dir).select(col("text"))
        val guarded = if (n == 1) base else base.filter(nw >= n)
        guarded.select(lit(n.toLong).as("n"),
          explode(graft.functions.GraftFunctions.shingle_set(col("text"), n)).as("g"))
      }.reduce(_.unionByName(_))
      .groupBy(col("n")).agg(countDistinct(col("g")).as("n_distinct"))
    totals.join(dn, Seq("n"))
      .select(col("n"), col("total"), col("n_distinct"),
        round(lit(1.0d) - col("n_distinct").cast("double") / col("total"), 6)
          .as("dup_rate"))
      .orderBy(col("n"))
  }

  // ---------------------------------------------------------------------
  // Shingle-set algebra — shingle_except / shingle_intersect
  // ---------------------------------------------------------------------

  /** (source, shingle) pairs — the exploded [[DecontamShingle]]-gram
    * relation (unigrams/bigrams would be vacuous here: the synthetic
    * corpus draws every doc from one ~31-word vocabulary, so only
    * higher-order shingles distinguish slices). The benchmark slice is
    * the lexicographically FIRST source — data-derived (a metadata-sized
    * 1-row aggregate), so the operator is non-vacuous on any corpus. */
  private def shinglesBySource(s: SparkSession, dir: String): (String, DataFrame) = {
    val benchSrc = docs(s, dir).agg(min(col("source"))).first().getString(0)
    val sh = docs(s, dir).select(col("source"),
      explode(GraftFunctions.shingle_set(col("text"), DecontamShingle)).as("shingle"))
    (benchSrc, sh)
  }

  /**
   * Benchmark-only shingles — the eval-set n-grams the training corpus
   * does NOT cover (the complement of [[decontamOverlap]]'s hit set).
   * The inventory's EXCEPT set operator: Catalyst plans it as a distinct
   * left-anti join, one shuffle per side on the shingle.
   */
  def shingleExcept(s: SparkSession, dir: String): DataFrame = {
    val (benchSrc, sh) = shinglesBySource(s, dir)
    sh.filter(col("source") === benchSrc).select(col("shingle"))
      .except(sh.filter(!(col("source") <=> benchSrc)).select(col("shingle")))
      .orderBy(col("shingle"))
  }

  /**
   * Shingles shared by the benchmark slice and the rest of the corpus —
   * the INTERSECT twin of [[shingleExcept]] (distinct left-semi join).
   */
  def shingleIntersect(s: SparkSession, dir: String): DataFrame = {
    val (benchSrc, sh) = shinglesBySource(s, dir)
    sh.filter(col("source") === benchSrc).select(col("shingle"))
      .intersect(sh.filter(!(col("source") <=> benchSrc)).select(col("shingle")))
      .orderBy(col("shingle"))
  }

  // ---------------------------------------------------------------------
  // Wide composition table — corpus_pivot
  // ---------------------------------------------------------------------

  /** The corpus languages, pinned so the pivot schema is static (a
    * values-less pivot adds a distinct-collection driver job and makes
    * the output schema data-dependent — wrong for a published report). */
  private val Langs = Seq("de", "en", "es", "fr", "zh")

  /**
   * The composition report in WIDE form — `pivot`: one row per source,
   * one doc-count column per language. Catalyst lowers the fixed-values
   * pivot to a single hash aggregate with per-value conditional
   * aggregates — one shuffle, no per-language pass.
   */
  def corpusPivot(s: SparkSession, dir: String): DataFrame = {
    val wide = docs(s, dir)
      .groupBy(col("source"))
      .pivot(col("lang"), Langs)
      .agg(count(lit(1)))
    // a (source, lang) combination with no docs pivots to NULL; the
    // report wants an explicit zero
    wide.select(col("source") +: Langs.map(l =>
        coalesce(col(l), lit(0L)).as(l)): _*)
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------------
  // Relative standing within a language — stats_percent_rank
  // ---------------------------------------------------------------------

  /**
   * `PERCENT_RANK` + `CUME_DIST` over the per-language length
   * distribution, reported for each language's 3 longest docs — where a
   * doc stands inside its slice (the SQL-standard relative-rank pair,
   * absent elsewhere in the inventory). Tie-stable: both functions
   * depend only on the ORDER BY value, not tie order; the top-3 cut uses
   * a doc_id tiebreak. All three windows share one (lang)-partitioned
   * sort — hash-distributed, no global sort.
   */
  def statsPercentRank(s: SparkSession, dir: String): DataFrame = {
    val byLen = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
    val top = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    docs(s, dir)
      .filter(col("n_chars").isNotNull) // NULL ranks diverge across engines (see statsLengthPctl)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        round(percent_rank().over(byLen), 6).as("pr"),
        round(cume_dist().over(byLen), 6).as("cd"),
        row_number().over(top).as("rn"))
      .filter(col("rn") <= 3)
      .select(col("lang"), col("doc_id"), col("n_chars"), col("pr"), col("cd"))
      .orderBy(col("lang"), col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // Doc-store ↔ vector-store coverage audit — integrity_full_outer
  // ---------------------------------------------------------------------

  /** Minimum characters for a doc to be embedding-worthy (the audit's
    * "should have a vector" predicate — ~the corpus median). */
  private val EmbedWorthyChars = 300L

  /**
   * FULL OUTER integrity audit between the document store and the vector
   * store: every embedding-worthy doc should have a vector
   * (`doc_id = vec_id`), every vector should have a live doc — count the
   * matched, the missing-embedding, and the orphaned-vector populations
   * in one pass. The inventory's full-outer join: a shuffle equi-join on
   * the id with BOTH null sides meaningful, then a metadata-sized
   * status aggregate.
   */
  def integrityFullOuter(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("n_chars") >= EmbedWorthyChars)
      .select(col("doc_id"))
    val e = load(s, dir, "embeddings").select(col("vec_id"))
    d.join(e, col("doc_id") === col("vec_id"), "full_outer")
      .select(when(col("doc_id").isNotNull && col("vec_id").isNotNull, "both")
        .when(col("vec_id").isNull, "missing_embedding")
        .otherwise("orphaned_vector").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("status"))
  }

  // ---------------------------------------------------------------------
  // Hierarchical rollup of the composition report — corpus_rollup
  // ---------------------------------------------------------------------

  /**
   * The composition report with subtotals — `ROLLUP(lang, source)`: per
   * (lang, source), per lang, and grand total in ONE pass (Catalyst's
   * Expand operator replicates each row per grouping set BEFORE the
   * single hash aggregate, so the subtotal levels share one shuffle
   * instead of a union of three aggregations). `grouping_id` marks the
   * level exactly as the SQL-standard GROUPING() bitmap does.
   */
  def corpusRollup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .rollup(col("lang"), col("source"))
      .agg(grouping_id().cast("long").as("lvl"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lvl"), col("lang").asc_nulls_first, col("source").asc_nulls_first)

  // ---------------------------------------------------------------------
  // Duplicate-cluster-size histogram — dedup_cluster_sizes
  // ---------------------------------------------------------------------

  /**
   * How much of the corpus is duplicated, by cluster size: group exact
   * duplicates (bag-of-words fingerprint, the [[Text.dedupBowFp]] key),
   * then histogram the cluster sizes — the "n docs appear k times"
   * table a dedup report leads with. Two linear aggregations, both
   * map-side combinable; the second input is one row per DISTINCT
   * fingerprint, already corpus-collapsed.
   */
  def dedupClusterSizes(s: SparkSession, dir: String): DataFrame = {
    val parts = parallelism(s)
    docs(s, dir)
      .repartition(parts, col("doc_id")) // spread before the tokenize+hash kernel
      .select(Text.bowFp(col("text")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("csize") * col("n_clusters"))
      .orderBy(col("csize"))
  }

  // ---------------------------------------------------------------------
  // Token-budget mixture fill — mix_token_budget
  // ---------------------------------------------------------------------

  /** Token budget for the mixture-fill accounting. */
  private val TokenBudget = 20000L

  /**
   * Fill a fixed token budget from the weighted mixture: apply the
   * [[MixRates]] sampling predicate (scan-local, zero shuffle), walk the
   * kept docs in deterministic md5 order, and stop when the cumulative
   * token count passes [[TokenBudget]] — then account per source for what
   * made it in. The "draw 1T tokens from the weighted mixture" step of a
   * pretraining data recipe, with an exact, reproducible cutoff.
   *
   * The cumulative count uses
   * [[graft.operators.Quantiles.withRunningTotal]] — the two-pass exact
   * prefix sum (range shuffle + per-partition offsets) — never a
   * single-partition `SUM OVER (ORDER BY ...)` window.
   */
  def mixTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val rate = mixKeepRate(col("source"))
    val kept = docs(s, dir)
      .filter(Curation.md5Mod100(col("doc_id")) < rate)
      .select(col("source"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("skey"),
        size(Text.words(col("text"))).cast("long").as("n_tok"))
    graft.operators.Quantiles
      .withRunningTotal(kept, Seq(col("skey"), col("doc_id")), "n_tok", "cum_tok")
      .filter(col("cum_tok") <= TokenBudget)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("source"))
  }

  /**
   * Per-source lexical drift — KL(source ‖ corpus) over unigram
   * distributions: for each source, Σ_w p_s(w)·ln(p_s(w)/p_c(w)), the
   * text-side complement of the embedding-space
   * [[Similarity.embedSourceDrift]]. A source whose vocabulary usage
   * diverges from the corpus (boilerplate farms, non-prose dumps, wrong
   * split) surfaces with a high KL long before any downstream eval — the
   * mixture designer reads this next to `mix_weighted`'s shares.
   *
   * Scale: the corpus collapses ONCE to (source, word) counts
   * (map-side-combined, persisted — |sources|·vocab-bounded, released by
   * the query owner); corpus-level word counts and per-source totals are
   * RE-AGGREGATES of that relation (no second corpus scan). The scoring
   * join shuffles the collapsed relation on `word`, never the corpus;
   * per-source totals broadcast. Probabilities are IEEE divisions of
   * exact integer counts computed in the same op order on both engines
   * (integer cross-products would overflow at 100 TB token counts);
   * per-term values rounded then summed as exact DECIMAL.
   */
  def textSourceKl(s: SparkSession, dir: String): DataFrame = {
    val sw = docs(s, dir)
      .select(col("source"), explode(Text.words(col("text"))).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("cs"))
      .transform(cached)
    val wc = sw.groupBy(col("word")).agg(sum(col("cs")).as("c"))
    val ns = sw.groupBy(col("source"))
      .agg(sum(col("cs")).as("n_tokens"), count(lit(1)).as("n_vocab"))
    val nTotal = sw.agg(coalesce(sum(col("cs")), lit(0L))).first().getLong(0)
    val ps = col("cs").cast("double") / col("n_tokens").cast("double")
    val pc = col("c").cast("double") / lit(nTotal.toDouble)
    val term = round(ps * log(ps / pc), 8)
      .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(20, 8))
    sw.join(wc, Seq("word"))
      .join(broadcast(ns), Seq("source"))
      .select(col("source"), col("n_tokens"), col("n_vocab"), term.as("term"))
      .groupBy(col("source"), col("n_tokens"), col("n_vocab"))
      .agg(round(sum(col("term")).cast("double"), 6).as("kl"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------------
  // Contract registration
  // ---------------------------------------------------------------------

  /**
   * Per-source Simpson concentration / diversity index — the data-card
   * number that answers "if I draw two tokens from this slice, how often
   * are they the same word?" (λ, the Simpson/Herfindahl index, here
   * WITHOUT replacement: λ = Σnᵢ(nᵢ−1)/(N(N−1))); its reciprocal is the
   * effective vocabulary size — the "how many words is this slice really
   * using" complement of [[graft.queries.Governance.statsEntropy]]'s
   * nats (Simpson weighs the HEAD where entropy weighs the tail, so a
   * template farm stamping one sentence moves λ far before it moves H).
   *
   * Scale shape: one explode collapsed to (source, word) counts
   * (map-side combined), then a ≤|sources| rollup — no window, no join.
   * Determinism: Σnᵢ(nᵢ−1) and N(N−1) are exact DECIMAL integers; λ is
   * ONE division of their double images rounded at 6 dp; diversity and
   * the effective-size reciprocal derive from the ROUNDED λ.
   */
  def corpusSimpsonDiversity(s: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    docs(s, dir)
      .select(col("source"), explode(Text.words(col("text"))).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("cs"))
      .groupBy(col("source"))
      .agg(sum(col("cs")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum((col("cs") * (col("cs") - 1)).cast(d38)).as("coll"))
      .withColumn("simpson", when(col("n_tokens") > 1,
        round(col("coll").cast("double") /
          (col("n_tokens").cast(d38) * (col("n_tokens") - 1).cast(d38))
            .cast("double"), 6) + lit(0.0)))
      .select(col("source"), col("n_tokens"), col("n_types"), col("simpson"),
        when(col("simpson").isNotNull,
          round(lit(1.0) - col("simpson"), 6) + lit(0.0)).as("diversity"),
        when(col("simpson") > 0,
          round(lit(1.0) / col("simpson"), 6) + lit(0.0)).as("effective_types"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_qq_drift" -> (statsQqDrift _),
    "corpus_distinct_curve" -> (corpusDistinctCurve _),
    "corpus_unpivot" -> (corpusUnpivot _),
    "text_source_kl" -> (textSourceKl _),
    "text_seg_dedup" -> (textSegDedup _),
    "shuffle_order" -> (shuffleOrder _),
    "mix_weighted" -> (mixWeighted _),
    "mix_pareto_frontier" -> (mixParetoFrontier _),
    "text_tfidf_topk" -> (textTfidfTopk _),
    "vocab_coverage" -> (vocabCoverage _),
    "decontam_overlap" -> (decontamOverlap _),
    "stats_length_pctl" -> (statsLengthPctl _),
    "stats_percentile_cont" -> (statsPercentileCont _),
    "sample_per_source_topn" -> (samplePerSourceTopn _),
    "corpus_report" -> (corpusReport _),
    "corpus_simpson_diversity" -> (corpusSimpsonDiversity _),
    "dedup_cluster_sizes" -> (dedupClusterSizes _),
    "mix_token_budget" -> (mixTokenBudget _),
    "corpus_rollup" -> (corpusRollup _),
    "integrity_full_outer" -> (integrityFullOuter _),
    "shingle_except" -> (shingleExcept _),
    "shingle_intersect" -> (shingleIntersect _),
    "corpus_pivot" -> (corpusPivot _),
    "stats_percent_rank" -> (statsPercentRank _),
    "mix_temperature" -> (mixTemperature _),
    "mix_epochs" -> (mixEpochs _),
    "mix_anneal" -> (mixAnneal _),
    "corpus_cube" -> (corpusCube _))

  /** Two-phase training budget (chars): 9/10 pretrain, 1/10 anneal. */
  private val PretrainBudgetChars = 900000L
  private val AnnealBudgetChars = 100000L

  /**
   * Two-phase mixture schedule — the pretrain + anneal (cooldown) split
   * modern recipes run (MiniCPM, Llama-3 style): the PRETRAIN budget
   * allocates by the [[mixEpochs]] √-mass weights (breadth), while the
   * ANNEAL budget allocates by each source's QUALITY mass — the
   * characters of documents passing the full Gopher-rule battery
   * ([[Text.gopherPredicates]]) — upweighting clean slices exactly when
   * the learning rate decays. Emits the per-source plan for both phases.
   *
   * Scale shape: ONE scan computes availability and quality mass (the
   * battery is pure codegen predicates), collapsed to ≤|sources| rows;
   * phase totals are metadata-sized driver scalars; allocations are
   * integer `budget·w DIV W` cross-multiplications — engine-exact, no
   * float shares anywhere.
   */
  def mixAnneal(s: SparkSession, dir: String): DataFrame = {
    val keep = Text.gopherPredicates.reduce(_ && _)
    val nc = coalesce(col("n_chars"), lit(0L))
    val counts = docs(s, dir)
      .select(col("source"), nc.as("nc"),
        when(keep, nc).otherwise(lit(0L)).as("pc"))
      .groupBy(col("source"))
      .agg(sum(col("nc")).cast("long").as("avail_chars"),
        sum(col("pc")).cast("long").as("pass_chars"))
      .withColumn("w_pre",
        floor(sqrt(col("avail_chars").cast("double"))).cast("long"))
    val row = counts
      .agg(coalesce(sum(col("w_pre")), lit(0L)).cast("long"),
        coalesce(sum(col("pass_chars")), lit(0L)).cast("long")).first()
    val (tw, tp) = (row.getLong(0), row.getLong(1))
    val pre =
      if (tw > 0) expr(s"${PretrainBudgetChars}L * w_pre DIV ${tw}L") else lit(0L)
    val ann =
      if (tp > 0) expr(s"${AnnealBudgetChars}L * pass_chars DIV ${tp}L") else lit(0L)
    counts
      .withColumn("target_pretrain", pre)
      .withColumn("target_anneal", ann)
      .withColumn("target_total", col("target_pretrain") + col("target_anneal"))
      .orderBy(col("source"))
  }

  /**
   * Full CUBE composition report — completes the grouping-sets surface
   * next to [[corpusRollup]] (hierarchical) and [[corpusPivot]] (wide):
   * all four (lang, source) grouping sets with the SQL-standard
   * GROUPING() bitmap, the shape BI layers ask of a corpus data card.
   * Catalyst lowers CUBE to one Expand + a single hash aggregate — all
   * grouping sets share ONE shuffle.
   */
  def corpusCube(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .cube(col("lang"), col("source"))
      .agg(grouping_id().cast("long").as("lvl"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lvl"), col("lang").asc_nulls_first, col("source").asc_nulls_first)

  /** DuckDB spelling of the mixture rate config. */
  private val duckRate: String = {
    val hi = MixRates.filter(_._2 == 90).keys.toSeq.sorted
      .map(x => s"'$x'").mkString(", ")
    val mid = MixRates.filter(_._2 == 50).keys.toSeq.sorted
      .map(x => s"'$x'").mkString(", ")
    s"CASE WHEN source IN ($hi) THEN 90 WHEN source IN ($mid) THEN 50 " +
      s"ELSE $MixDefaultRate END"
  }

  /** DuckDB spelling of the ShingleSet kernel (same short-doc and blank
    * contract as dedup_jaccard_ngrams' oracle). */
  private[queries] def duckShingles(n: Int): String = {
    val cat = (0 until n).map(j => s"w[i + $j]").mkString(" || ' ' || ")
    s"""CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
       |    WHEN len(w) < $n THEN [array_to_string(w, ' ')]
       |    ELSE list_distinct(list_transform(generate_series(1, len(w) - ${n - 1}),
       |      i -> $cat)) END""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "stats_qq_drift" ->
      """WITH k AS (
        |  SELECT source, n_chars, doc_id FROM documents
        |  WHERE n_chars IS NOT NULL),
        |p AS (SELECT unnest(generate_series(10, 90, 10)) AS decile),
        |g AS (
        |  SELECT decile, n_chars AS global_val FROM (
        |    SELECT n_chars,
        |      row_number() OVER (ORDER BY n_chars, doc_id) AS rk,
        |      COUNT(1) OVER () AS total
        |    FROM k) r JOIN p ON r.rk = floor((r.total * p.decile + 99) / 100)),
        |sd AS (
        |  SELECT source, decile, n_chars AS src_val FROM (
        |    SELECT source, n_chars,
        |      row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
        |      COUNT(1) OVER (PARTITION BY source) AS n
        |    FROM k) r JOIN p ON r.rk = floor((r.n * p.decile + 99) / 100))
        |SELECT sd.source, sd.decile, sd.src_val, g.global_val,
        |  CAST(sd.src_val - g.global_val AS BIGINT) AS drift
        |FROM sd JOIN g ON sd.decile = g.decile
        |ORDER BY source, sd.decile""".stripMargin,
    "corpus_distinct_curve" -> {
      val branches = (1 to 5).map { n =>
        val gram =
          if (n == 1) "unnest(w)"
          else s"""unnest(CASE WHEN len(w) >= $n
                 |    THEN list_transform(generate_series(1, len(w) - ${n - 1}),
                 |      i -> array_to_string(w[i:i+${n - 1}], ' '))
                 |    ELSE [] END)""".stripMargin
        s"SELECT $n AS n, $gram AS g FROM d"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH d AS (
         |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |g AS (
         |  $branches)
         |SELECT CAST(n AS BIGINT) AS n, CAST(COUNT(1) AS BIGINT) AS total,
         |  CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
         |  round(1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(1), 6) AS dup_rate
         |FROM g GROUP BY n ORDER BY n""".stripMargin
    },
    "corpus_unpivot" ->
      """WITH w AS (
        |  SELECT source, CAST(COUNT(1) AS BIGINT) AS n_docs,
        |    CAST(coalesce(SUM(n_chars), 0) AS BIGINT) AS n_chars,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        |  FROM documents GROUP BY source)
        |SELECT source, 'n_docs' AS metric, n_docs AS value FROM w
        |UNION ALL
        |SELECT source, 'n_chars' AS metric, n_chars AS value FROM w
        |UNION ALL
        |SELECT source, 'n_langs' AS metric, n_langs AS value FROM w
        |ORDER BY source, metric""".stripMargin,
    "corpus_simpson_diversity" ->
      """WITH sw AS (
        |  SELECT source,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        |  FROM documents),
        |c0 AS (SELECT source, word, CAST(COUNT(1) AS BIGINT) AS cs
        |       FROM sw GROUP BY source, word),
        |a AS (
        |  SELECT source, CAST(SUM(cs) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(1) AS BIGINT) AS n_types,
        |    SUM(CAST(cs * (cs - 1) AS DECIMAL(38,0))) AS coll
        |  FROM c0 GROUP BY source),
        |l AS (
        |  SELECT source, n_tokens, n_types,
        |    CASE WHEN n_tokens > 1 THEN round(CAST(coll AS DOUBLE)
        |      / CAST(CAST(n_tokens AS DECIMAL(38,0))
        |             * CAST(n_tokens - 1 AS DECIMAL(38,0)) AS DOUBLE), 6)
        |      + 0.0 END AS simpson
        |  FROM a)
        |SELECT source, n_tokens, n_types, simpson,
        |  CASE WHEN simpson IS NOT NULL
        |    THEN round(1.0 - simpson, 6) + 0.0 END AS diversity,
        |  CASE WHEN simpson > 0
        |    THEN round(1.0 / simpson, 6) + 0.0 END AS effective_types
        |FROM l ORDER BY source""".stripMargin,
    "text_source_kl" ->
      """WITH sw AS (
        |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        |  FROM documents),
        |c0 AS (SELECT source, word, COUNT(1) AS cs FROM sw GROUP BY source, word),
        |wc AS (SELECT word, CAST(SUM(cs) AS BIGINT) AS c FROM c0 GROUP BY word),
        |ns AS (
        |  SELECT source, CAST(SUM(cs) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(1) AS BIGINT) AS n_vocab
        |  FROM c0 GROUP BY source),
        |tot AS (SELECT CAST(SUM(cs) AS BIGINT) AS n FROM c0)
        |SELECT c0.source, ns.n_tokens, ns.n_vocab,
        |  round(CAST(SUM(CAST(round(
        |    (CAST(cs AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |      * ln((CAST(cs AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |          / (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))), 8)
        |    AS DECIMAL(20,8))) AS DOUBLE), 6) AS kl
        |FROM c0
        |JOIN wc USING (word)
        |JOIN ns USING (source)
        |CROSS JOIN tot
        |GROUP BY c0.source, ns.n_tokens, ns.n_vocab
        |ORDER BY c0.source""".stripMargin,
    "text_seg_dedup" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
         |  FROM documents),
         |s AS (
         |  SELECT doc_id,
         |    unnest(generate_series(1, (len(w) + ${SegTokens - 1}) // $SegTokens)) - 1 AS seg_no,
         |    unnest(list_transform(generate_series(1, (len(w) + ${SegTokens - 1}) // $SegTokens),
         |      i -> array_to_string(w[(i-1)*$SegTokens + 1 : i*$SegTokens], ' '))) AS seg
         |  FROM t WHERE len(w) > 0),
         |k AS (
         |  SELECT doc_id, seg_no, seg,
         |    ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_no) AS rn
         |  FROM s)
         |SELECT doc_id,
         |  COUNT(1) AS n_segs,
         |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  string_agg(seg, ' ' ORDER BY seg_no) FILTER (WHERE rn = 1) AS new_text
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "shuffle_order" ->
      s"""WITH r AS (
         |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS skey FROM documents),
         |p AS (
         |  SELECT doc_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY skey, doc_id) AS BIGINT) AS pos
         |  FROM r)
         |SELECT pos, doc_id, (pos - 1) % $Shards AS shard_id
         |FROM p ORDER BY pos""".stripMargin,
    "mix_pareto_frontier" -> mixParetoFrontierSql,
    "mix_weighted" ->
      s"""WITH d AS (
         |  SELECT source, n_chars, $duckRate AS rate,
         |    CASE WHEN ${Curation.duckMd5Mod100("doc_id")} < $duckRate
         |      THEN 1 ELSE 0 END AS keep
         |  FROM documents)
         |SELECT source, rate, COUNT(1) AS n_docs,
         |  CAST(SUM(keep) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
         |FROM d GROUP BY source, rate ORDER BY source""".stripMargin,
    "text_tfidf_topk" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
         |  FROM documents),
         |a AS (
         |  SELECT term, COUNT(1) AS tf, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM t GROUP BY term)
         |SELECT term, tf, df,
         |  tf * ((SELECT COUNT(1) FROM documents) - df) AS score
         |FROM a ORDER BY score DESC, term LIMIT $TopTerms""".stripMargin,
    "vocab_coverage" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT token, COUNT(1) AS cnt FROM w GROUP BY token),
        |c AS (
        |  SELECT token, cnt,
        |    SUM(cnt) OVER (ORDER BY cnt DESC, token ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tf),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM tf),
        |t(target) AS (VALUES (CAST(50 AS BIGINT)), (90), (99))
        |SELECT target, COUNT(1) AS tokens_needed,
        |  CAST(MAX(cum) AS BIGINT) AS covered_tokens,
        |  round(CAST(MAX(cum) AS DOUBLE) / MAX(total), 6) AS coverage_frac
        |FROM c, tot, t
        |WHERE (cum - cnt) * 100 < target * total
        |GROUP BY target ORDER BY target""".stripMargin,
    "decontam_overlap" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, list_filter(string_split(text, ' '), w -> w <> '') AS w
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, source, ${duckShingles(DecontamShingle)} AS shs
         |  FROM t),
         |nz AS (SELECT * FROM s WHERE len(shs) > 0),
         |b AS (SELECT DISTINCT unnest(shs) AS sh FROM nz WHERE source = 'src0'),
         |tr AS (
         |  SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_sh
         |  FROM nz WHERE source <> 'src0'),
         |c AS (
         |  SELECT doc_id, unnest(shs) AS sh
         |  FROM nz WHERE source <> 'src0'),
         |h AS (
         |  SELECT doc_id, COUNT(1) AS n_hit
         |  FROM c JOIN b USING (sh) GROUP BY doc_id)
         |SELECT tr.doc_id, tr.n_sh, COALESCE(h.n_hit, 0) AS n_hit,
         |  COALESCE(h.n_hit, 0)::DOUBLE / tr.n_sh::DOUBLE AS overlap_frac,
         |  COALESCE(h.n_hit, 0)::DOUBLE / tr.n_sh::DOUBLE >= $DecontamTau AS contaminated
         |FROM tr LEFT JOIN h USING (doc_id) ORDER BY tr.doc_id""".stripMargin,
    "stats_percentile_cont" ->
      s"""WITH r AS (
         |  SELECT n_chars,
         |    CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rk,
         |    CAST(COUNT(1) OVER () AS BIGINT) AS t
         |  FROM documents WHERE n_chars IS NOT NULL),
         |px AS (SELECT CAST(unnest([${ContPctls.mkString(", ")}]) AS DOUBLE) AS p),
         |hit AS (
         |  SELECT px.p, r.rk, r.n_chars,
         |    (CAST(r.t AS DOUBLE) - 1.0) * px.p AS h
         |  FROM r, px
         |  WHERE r.rk = floor((CAST(r.t AS DOUBLE) - 1.0) * px.p) + 1
         |     OR r.rk = ceil((CAST(r.t AS DOUBLE) - 1.0) * px.p) + 1),
         |g AS (
         |  SELECT p,
         |    MAX(CASE WHEN rk = floor(h) + 1 THEN n_chars END) AS lo,
         |    MAX(CASE WHEN rk = ceil(h) + 1 THEN n_chars END) AS hi,
         |    any_value(h - floor(h)) AS frac
         |  FROM hit GROUP BY p)
         |SELECT p, lo, hi, round(lo + (hi - lo) * frac, 6) AS pctl_value
         |FROM g ORDER BY p""".stripMargin,
    "stats_length_pctl" ->
      s"""WITH r AS (
         |  SELECT n_chars, doc_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rk,
         |    CAST(COUNT(1) OVER () AS BIGINT) AS total
         |  FROM documents WHERE n_chars IS NOT NULL),
         |p AS (SELECT unnest([${Pctls.mkString(", ")}]) AS pctl)
         |SELECT p.pctl, r.rk, r.n_chars
         |FROM r JOIN p ON r.rk = (r.total * p.pctl + 99) // 100
         |ORDER BY p.pctl""".stripMargin,
    "sample_per_source_topn" ->
      s"""WITH c AS (SELECT source, COUNT(1) AS n_src FROM documents GROUP BY source),
         |f AS (
         |  SELECT d.source, d.doc_id, md5(CAST(d.doc_id AS VARCHAR)) AS skey
         |  FROM documents d JOIN c USING (source)
         |  WHERE ${Curation.duckMd5Mod100("doc_id")} <
         |    LEAST(100, (${PerSourceN * Oversample * 100L} + n_src - 1) // n_src)),
         |r AS (
         |  SELECT source, doc_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY skey, doc_id) AS BIGINT) AS rn
         |  FROM f)
         |SELECT source, doc_id, rn FROM r WHERE rn <= $PerSourceN
         |ORDER BY source, rn""".stripMargin,
    "corpus_report" ->
      """WITH a AS (
        |  SELECT lang, source, COUNT(1) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |    MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |  FROM documents GROUP BY lang, source)
        |SELECT lang, source, n_docs, sum_chars, min_chars, max_chars,
        |  CASE WHEN (SELECT COALESCE(SUM(n_chars), 0) FROM documents) > 0
        |    THEN round(sum_chars::DOUBLE /
        |      (SELECT SUM(n_chars)::DOUBLE FROM documents), 6) END AS char_share
        |FROM a ORDER BY lang, source""".stripMargin,
    "dedup_cluster_sizes" ->
      """WITH f AS (
        |  SELECT md5(array_to_string(list_sort(list_distinct(
        |    list_filter(string_split(text, ' '), w -> w <> ''))), ' ')) AS fp
        |  FROM documents),
        |c AS (SELECT fp, COUNT(1) AS csize FROM f GROUP BY fp)
        |SELECT csize, COUNT(1) AS n_clusters,
        |  CAST(csize * COUNT(1) AS BIGINT) AS n_docs
        |FROM c GROUP BY csize ORDER BY csize""".stripMargin,
    "mix_token_budget" ->
      s"""WITH d AS (
         |  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS skey,
         |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_tok
         |  FROM documents
         |  WHERE ${Curation.duckMd5Mod100("doc_id")} < $duckRate),
         |c AS (
         |  SELECT source, n_tok,
         |    SUM(n_tok) OVER (ORDER BY skey, doc_id ROWS UNBOUNDED PRECEDING) AS cum_tok
         |  FROM d)
         |SELECT source, COUNT(1) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |FROM c WHERE cum_tok <= $TokenBudget
         |GROUP BY source ORDER BY source""".stripMargin,
    "mix_anneal" ->
      s"""WITH f AS (
         |  SELECT source, COALESCE(n_chars, 0) AS nc,
         |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
         |    CAST(length(text) AS BIGINT) AS tn,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars,
         |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS sym_chars,
         |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit_chars,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      w -> w IN ('the', 'of', 'and', 'to', 'in'))) AS BIGINT) AS n_stop
         |  FROM documents),
         |p AS (
         |  SELECT source, nc,
         |    (n_words >= 50 AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
         |     AND 10 * sym_chars <= tn AND n_stop >= 2 AND 5 * digit_chars <= tn) AS keep
         |  FROM f),
         |c AS (
         |  SELECT source, CAST(SUM(nc) AS BIGINT) AS avail_chars,
         |    CAST(SUM(CASE WHEN keep THEN nc ELSE 0 END) AS BIGINT) AS pass_chars
         |  FROM p GROUP BY source),
         |w AS (
         |  SELECT source, avail_chars, pass_chars,
         |    CAST(floor(sqrt(CAST(avail_chars AS DOUBLE))) AS BIGINT) AS w_pre
         |  FROM c),
         |t AS (
         |  SELECT CAST(COALESCE(SUM(w_pre), 0) AS BIGINT) AS tw,
         |    CAST(COALESCE(SUM(pass_chars), 0) AS BIGINT) AS tp FROM w),
         |a AS (
         |  SELECT source, avail_chars, pass_chars, w_pre,
         |    CASE WHEN tw > 0 THEN $PretrainBudgetChars * w_pre // tw ELSE 0 END AS target_pretrain,
         |    CASE WHEN tp > 0 THEN $AnnealBudgetChars * pass_chars // tp ELSE 0 END AS target_anneal
         |  FROM w CROSS JOIN t)
         |SELECT source, avail_chars, pass_chars, w_pre,
         |  target_pretrain, target_anneal,
         |  target_pretrain + target_anneal AS target_total
         |FROM a ORDER BY source""".stripMargin,
    "corpus_cube" ->
      """SELECT lang, source,
        |  CAST(GROUPING(lang, source) AS BIGINT) AS lvl,
        |  COUNT(1) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE (lang, source)
        |ORDER BY lvl, lang NULLS FIRST, source NULLS FIRST""".stripMargin,
    "corpus_rollup" ->
      """SELECT lang, source,
        |  CAST(GROUPING(lang, source) AS BIGINT) AS lvl,
        |  COUNT(1) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP (lang, source)
        |ORDER BY lvl, lang NULLS FIRST, source NULLS FIRST""".stripMargin,
    "integrity_full_outer" ->
      s"""WITH d AS (SELECT doc_id FROM documents WHERE n_chars >= $EmbedWorthyChars),
         |e AS (SELECT vec_id FROM embeddings)
         |SELECT CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL THEN 'both'
         |            WHEN vec_id IS NULL THEN 'missing_embedding'
         |            ELSE 'orphaned_vector' END AS status, COUNT(1) AS n
         |FROM d FULL OUTER JOIN e ON doc_id = vec_id
         |GROUP BY status ORDER BY status""".stripMargin,
    "shingle_except" ->
      s"""WITH t AS (
         |  SELECT source, list_filter(string_split(text, ' '), w -> w <> '') AS w
         |  FROM documents),
         |b AS (
         |  SELECT source, unnest(${duckShingles(DecontamShingle)}) AS shingle FROM t),
         |m AS (SELECT MIN(source) AS bs FROM documents)
         |SELECT shingle FROM b WHERE source = (SELECT bs FROM m)
         |EXCEPT
         |SELECT shingle FROM b WHERE source IS DISTINCT FROM (SELECT bs FROM m)
         |ORDER BY shingle""".stripMargin,
    "shingle_intersect" ->
      s"""WITH t AS (
         |  SELECT source, list_filter(string_split(text, ' '), w -> w <> '') AS w
         |  FROM documents),
         |b AS (
         |  SELECT source, unnest(${duckShingles(DecontamShingle)}) AS shingle FROM t),
         |m AS (SELECT MIN(source) AS bs FROM documents)
         |SELECT shingle FROM b WHERE source = (SELECT bs FROM m)
         |INTERSECT
         |SELECT shingle FROM b WHERE source IS DISTINCT FROM (SELECT bs FROM m)
         |ORDER BY shingle""".stripMargin,
    "corpus_pivot" -> {
      val cols = Langs.map(l =>
        s"COUNT(1) FILTER (WHERE lang = '$l') AS $l").mkString(",\n  ")
      s"""SELECT source,
         |  $cols
         |FROM documents GROUP BY source ORDER BY source""".stripMargin
    },
    "stats_percent_rank" ->
      """WITH r AS (
        |  SELECT lang, doc_id, n_chars,
        |    round(percent_rank() OVER (PARTITION BY lang ORDER BY n_chars), 6) AS pr,
        |    round(cume_dist() OVER (PARTITION BY lang ORDER BY n_chars), 6) AS cd,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT lang, doc_id, n_chars, pr, cd
        |FROM r WHERE rn <= 3 ORDER BY lang, doc_id""".stripMargin,
    "mix_temperature" ->
      """WITH c AS (SELECT source, COUNT(1) AS n_docs FROM documents GROUP BY source),
        |t AS (SELECT SUM(n_docs) AS tn, SUM(sqrt(n_docs::DOUBLE)) AS tw FROM c)
        |SELECT source, n_docs,
        |  round(n_docs::DOUBLE / tn::DOUBLE, 6) AS raw_share,
        |  round(sqrt(n_docs::DOUBLE) / tw, 6) AS temp_share
        |FROM c, t ORDER BY source""".stripMargin,
    "mix_epochs" ->
      """WITH c AS (
        |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS avail_chars
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, avail_chars,
        |    CAST(floor(sqrt(avail_chars::DOUBLE)) AS BIGINT) AS weight
        |  FROM c),
        |t AS (SELECT CAST(COALESCE(SUM(weight), 0) AS BIGINT) AS tw FROM w),
        |p AS (
        |  SELECT source, avail_chars, weight,
        |    CAST(CASE WHEN tw > 0 THEN (1000000 * weight) // tw ELSE 0 END AS BIGINT)
        |      AS target_chars
        |  FROM w, t),
        |e AS (
        |  SELECT *, CAST(CASE WHEN avail_chars > 0
        |    THEN (target_chars + avail_chars - 1) // avail_chars
        |    ELSE 0 END AS BIGINT) AS epochs
        |  FROM p)
        |SELECT source, avail_chars, weight, target_chars, epochs,
        |  CAST(CASE WHEN avail_chars > 0 AND epochs > 0
        |    THEN target_chars - (epochs - 1) * avail_chars
        |    ELSE 0 END AS BIGINT) AS last_epoch_chars
        |FROM e ORDER BY source""".stripMargin)
}
