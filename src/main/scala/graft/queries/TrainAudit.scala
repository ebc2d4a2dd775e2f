package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Tables._
import graft.core.QueryCaches.cached

/**
 * Training-pipeline audit + sampling operators (builder brief §beyond-the-
 * reference): deterministic negative sampling for recommender-style
 * training pairs, robust (median/MAD) length-outlier detection, temporal
 * train/test split leakage audit, and a shuffle-key skew profile — the
 * governance scans a 100 TB training-data build runs before committing a
 * dataset.
 *
 * Everything is integer- or string-exact across engines: sampling uses the
 * md5-bucket family (same as the ML split), robust stats use lower-median
 * order statistics (no engine-defined percentile interpolation), ratios are
 * integer cross-multiplications.
 */
object TrainAudit {

  /** md5-mod-N bucket of an id — the cross-engine reproducible sampling
    * hash (same family as [[Curation.md5Mod100]], local copy because that
    * one is fixed at 100). */
  private def md5Mod(c: Column, m: Int): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % m

  private def duckMd5ModExpr(c: String, m: String): String =
    s"CAST(CAST('0x' || substring(md5(CAST($c AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) % $m"

  // ---------------------------------------------------------------------
  // ml_negative_sample — deterministic per-user negative items
  // ---------------------------------------------------------------------

  /** Target probe-bucket size: the bucket COUNT is derived from the
    * catalog (⌈|parts| / NegBucketSize⌉, a metadata-sized count action),
    * so each customer probes ~NegBucketSize candidates NO MATTER how big
    * the item catalog grows — a fixed bucket count would make the probe
    * join a 1/B-scaled cross join (|C|·|P|/B rows, quadratic in scale;
    * measured 28× at a 10× tile before this sizing). ≥ 20× NegPerUser so
    * the top-K survives removing true interactions (documented oversample
    * contract). */
  private val NegBucketSize = 64L
  private val NegPerUser = 3

  /**
   * Deterministic negative sampling for implicit-feedback training pairs:
   * for every customer, [[NegPerUser]] parts they never ordered, chosen by
   * a reproducible hash ranking — the (user, negative-item) generator of a
   * recommender / two-tower training-data build.
   *
   * Scale design: NEVER a customers × items cross join. Each part lands in
   * one of ⌈|parts| / [[NegBucketSize]]⌉ hash buckets (bucket count grows
   * WITH the catalog — a metadata-sized count action — so the per-user
   * probe set stays ~[[NegBucketSize]] rows at any scale); each customer
   * probes exactly the bucket its own hash selects — one equi-join on the
   * bucket id, linear in |customers|. True interactions leave via a
   * left-anti join on (custkey, partkey); the per-user top-K is a
   * rank-window over the ~NegBucketSize candidate rows per user. The
   * md5 priority makes the same negatives come out of every engine, every
   * run — resumable training-data builds need the sample to be a pure
   * function of the catalog.
   */
  def mlNegativeSample(s: SparkSession, dir: String): DataFrame = {
    val nParts = load(s, dir, "part").count()
    val nBuckets = math.max(1L, (nParts + NegBucketSize - 1) / NegBucketSize).toInt
    val parts = load(s, dir, "part")
      .select(col("p_partkey"), md5Mod(col("p_partkey"), nBuckets).as("bucket"))
    val custs = load(s, dir, "customer")
      .select(col("c_custkey"), md5Mod(col("c_custkey"), nBuckets).as("bucket"))
    // only SAME-BUCKET (cust, part) pairs can collide with a candidate
    // (candidates are built by bucket equi-join), so the true-interaction
    // relation is bucket-filtered BEFORE the distinct — the distinct and
    // the anti-join shuffle ~1/|buckets| of the raw pairs instead of all
    // of them, and the filter is two codegen hashes on the join output
    val interactions = load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(load(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c_custkey"), col("l_partkey").as("p_partkey"))
      .filter(md5Mod(col("c_custkey"), nBuckets) === md5Mod(col("p_partkey"), nBuckets))
      .distinct()
    val cand = custs.join(parts, Seq("bucket"))
      .join(interactions, Seq("c_custkey", "p_partkey"), "left_anti")
    val pri = md5(concat(col("c_custkey").cast("string"), lit(":"),
      col("p_partkey").cast("string")))
    cand
      .withColumn("neg_rank",
        row_number().over(Window.partitionBy(col("c_custkey")).orderBy(pri)).cast("long"))
      .filter(col("neg_rank") <= NegPerUser)
      .select(col("c_custkey"), col("neg_rank"), col("p_partkey"))
      .orderBy(col("c_custkey"), col("neg_rank"))
  }

  /** The oracle derives the bucket count with the same ⌈|parts|/size⌉
    * formula (scalar subquery), so both engines probe identical buckets. */
  private def mlNegativeSampleSql: String =
    s"""WITH nb AS (
       |  SELECT GREATEST(1, (count(*) + ${NegBucketSize - 1}) // $NegBucketSize) AS b
       |  FROM part),
       |p AS (
       |  SELECT p_partkey, ${duckMd5ModExpr("p_partkey", "nb.b")} AS bucket
       |  FROM part, nb),
       |c AS (
       |  SELECT c_custkey, ${duckMd5ModExpr("c_custkey", "nb.b")} AS bucket
       |  FROM customer, nb),
       |inter AS (
       |  SELECT DISTINCT o.o_custkey AS c_custkey, l.l_partkey AS p_partkey
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |cand AS (
       |  SELECT c.c_custkey, p.p_partkey
       |  FROM c JOIN p ON c.bucket = p.bucket
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM inter i
       |    WHERE i.c_custkey = c.c_custkey AND i.p_partkey = p.p_partkey)),
       |ranked AS (
       |  SELECT c_custkey, p_partkey,
       |    CAST(row_number() OVER (PARTITION BY c_custkey
       |      ORDER BY md5(CAST(c_custkey AS VARCHAR) || ':' ||
       |                   CAST(p_partkey AS VARCHAR))) AS BIGINT) AS neg_rank
       |  FROM cand)
       |SELECT c_custkey, neg_rank, p_partkey FROM ranked
       |WHERE neg_rank <= $NegPerUser
       |ORDER BY c_custkey, neg_rank""".stripMargin

  // ---------------------------------------------------------------------
  // stats_mad_outliers — robust per-source length outliers
  // ---------------------------------------------------------------------

  /** Outlier cut: |x − median| > MadK · MAD (the ~3σ-equivalent robust
    * fence, kept integer so the comparison is engine-exact). */
  private val MadK = 3L

  /**
   * Robust per-source length-outlier detection: lower-median and MAD
   * (median absolute deviation) of `n_chars` per source, then the count of
   * docs outside median ± [[MadK]]·MAD — the data-card "how many docs are
   * length-anomalous" scan, immune to the heavy tails that wreck
   * mean/stddev fences on web corpora.
   *
   * Exactness: lower median (value at rank ⌈n/2⌉) via order statistics —
   * no percentile interpolation, every quantity stays an integer, so the
   * outlier comparison cross-engines bit-exactly. Scale: windows partition
   * on `source` — the established blocking-key contract
   * ([[Corpus.statsPercentRank]] precedent); the two rank passes shuffle
   * (source, n_chars) longs only, never text.
   */
  def statsMadOutliers(s: SparkSession, dir: String): DataFrame = {
    val bySrc = Window.partitionBy(col("source"))
    // NULL-length docs are OUT of the order-statistics population on both
    // engines (Spark sorts NULLS FIRST asc, DuckDB NULLS LAST — a NULL in
    // the ranked sequence shifts the median rank differently per engine;
    // same contract as stats_length_pctl)
    val lens = load(s, dir, "documents")
      .filter(col("n_chars").isNotNull)
      .select(col("source"), col("n_chars"))
    // lower median per source: value at rank ceil(n/2), ties broken by the
    // value order itself (rank over equal values picks the same value)
    val med = lens
      .withColumn("rk", row_number().over(bySrc.orderBy(col("n_chars"))))
      .withColumn("n", count(lit(1)).over(bySrc))
      .filter(col("rk") === ((col("n") + 1) / 2).cast("int"))
      .select(col("source"), col("n_chars").as("med_len"))
    val dev = lens.join(med, "source")
      .withColumn("adev", abs(col("n_chars") - col("med_len")))
    val mad = dev
      .withColumn("rk", row_number().over(bySrc.orderBy(col("adev"))))
      .withColumn("n", count(lit(1)).over(bySrc))
      .filter(col("rk") === ((col("n") + 1) / 2).cast("int"))
      .select(col("source"), col("adev").as("mad"))
    dev.join(mad, "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        first(col("med_len")).as("med_len"),
        first(col("mad")).as("mad"),
        sum(when(col("adev") > lit(MadK) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy(col("source"))
  }

  private def statsMadOutliersSql: String =
    s"""WITH lens AS (
       |  SELECT source, n_chars FROM documents WHERE n_chars IS NOT NULL),
       |med AS (
       |  SELECT source, n_chars AS med_len FROM (
       |    SELECT source, n_chars,
       |      row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
       |      count(*) OVER (PARTITION BY source) AS n
       |    FROM lens)
       |  WHERE rk = (n + 1) // 2),
       |dev AS (
       |  SELECT lens.source, lens.n_chars, med.med_len,
       |    abs(lens.n_chars - med.med_len) AS adev
       |  FROM lens JOIN med ON lens.source = med.source),
       |mad AS (
       |  SELECT source, adev AS mad FROM (
       |    SELECT source, adev,
       |      row_number() OVER (PARTITION BY source ORDER BY adev) AS rk,
       |      count(*) OVER (PARTITION BY source) AS n
       |    FROM dev)
       |  WHERE rk = (n + 1) // 2)
       |SELECT dev.source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(any_value(dev.med_len) AS BIGINT) AS med_len,
       |  CAST(any_value(mad.mad) AS BIGINT) AS mad,
       |  CAST(SUM(CASE WHEN dev.adev > $MadK * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_outliers
       |FROM dev JOIN mad ON dev.source = mad.source
       |GROUP BY dev.source
       |ORDER BY dev.source""".stripMargin

  // ---------------------------------------------------------------------
  // ml_split_leakage — temporal split audit over events
  // ---------------------------------------------------------------------

  /** Temporal cutoff: events strictly before day 16 of the synthetic
    * 30-day window (2024-01-01..2024-01-30) are "train", the rest "test"
    * (the fixed boundary makes the audit reproducible; a production run
    * passes its split date). */
  private val SplitCutoff = "2024-01-16"

  /** The cutoff as epoch MICROseconds — events expose `ts` as an epoch
    * long ([[Tables.events]]), so the comparison runs on integers on both
    * engines (`ts DIV 1000` == DuckDB `epoch_us(ts)`). */
  private val SplitCutoffUs: Long =
    java.time.LocalDate.parse(SplitCutoff).toEpochDay * 86400L * 1000000L

  /**
   * Train/test temporal-split leakage audit: per event type, how many
   * users appear only before the cutoff (train-only), only after
   * (test-only), or on BOTH sides — the rows a user-level temporal split
   * must regroup before training, because a user straddling the boundary
   * leaks future behavior into the training half.
   *
   * Scale: one (user, event_type) rollup with map-side-combined min/max
   * timestamps, then a ≤|event_types| rollup — two shuffles, both
   * combiner-collapsed; no window, no join.
   */
  def mlSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val cut = lit(SplitCutoffUs)
    events(s, dir)
      .select(col("user_id"), col("event_type"), expr("ts DIV 1000").as("ts_us"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("last_us") < cut, 1L).otherwise(0L)).as("n_train_only"),
        sum(when(col("first_us") >= cut, 1L).otherwise(0L)).as("n_test_only"),
        sum(when(col("first_us") < cut && col("last_us") >= cut, 1L).otherwise(0L))
          .as("n_leaking"))
      .orderBy(col("event_type"))
  }

  private def mlSplitLeakageSql: String =
    s"""WITH u AS (
       |  SELECT user_id, event_type,
       |    min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
       |  FROM events GROUP BY 1, 2)
       |SELECT event_type,
       |  CAST(SUM(CASE WHEN last_us < $SplitCutoffUs THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_train_only,
       |  CAST(SUM(CASE WHEN first_us >= $SplitCutoffUs THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_test_only,
       |  CAST(SUM(CASE WHEN first_us < $SplitCutoffUs
       |    AND last_us >= $SplitCutoffUs THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_leaking
       |FROM u GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // stats_key_skew — shuffle-key skew profile
  // ---------------------------------------------------------------------

  private val SkewTopK = 20

  /**
   * Shuffle-key skew profile over the events stream: the [[SkewTopK]]
   * heaviest `user_id` keys with their event counts and corpus share in
   * ppm (integer cross-multiplication — engine-exact) — the scan that
   * decides whether a user-keyed join needs salting
   * ([[graft.operators.SkewJoin]]) before it runs at 100 TB.
   *
   * Scale: one map-side-combined count per key, then TakeOrderedAndProject
   * for the top-K (no global sort); the corpus total is a 1-row aggregate
   * folded in as a driver scalar, the same metadata-sized round-trip as
   * [[Corpus.corpusReport]].
   */
  def statsKeySkew(s: SparkSession, dir: String): DataFrame = {
    val perKey = events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val total = events(s, dir).count()
    perKey
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(SkewTopK)
      // single-group window over the ≤TopK surviving rows — deliberate
      // (zeroPart keeps the partition spec honest; see Tables.zeroPart)
      .withColumn("rank",
        row_number().over(Window.partitionBy(zeroPart(col("user_id")))
          .orderBy(col("n_events").desc, col("user_id"))).cast("long"))
      .select(col("rank"), col("user_id"), col("n_events"),
        (col("n_events") * 1000000L / lit(total)).cast("long").as("share_ppm"))
      .orderBy(col("rank"))
  }

  private def statsKeySkewSql: String =
    s"""WITH k AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY user_id),
       |t AS (SELECT count(*) AS total FROM events)
       |SELECT
       |  CAST(row_number() OVER (ORDER BY n_events DESC, user_id) AS BIGINT) AS rank,
       |  user_id, n_events,
       |  CAST(n_events * 1000000 // t.total AS BIGINT) AS share_ppm
       |FROM k, t
       |ORDER BY n_events DESC, user_id
       |LIMIT $SkewTopK""".stripMargin

  // ---------------------------------------------------------------------
  // seq_transition_matrix — behavior-sequence Markov transitions
  // ---------------------------------------------------------------------

  /**
   * Event-type transition matrix — the first-order Markov statistics a
   * behavior-sequence model (session-based recommendation, churn LSTM
   * pretraining) is sanity-checked against: for every ordered pair of
   * event types, how often one follows the other inside a user's
   * timeline, with the within-row share in ppm (integer
   * cross-multiplication — engine-exact).
   *
   * Scale: the successor is a `lead` window partitioned by `user_id` (a
   * real blocking key, bounded per-user history); transitions collapse to
   * ≤|types|² rows in one map-side-combined rollup, and the row-share
   * window runs over that POST-AGGREGATION metadata-sized relation.
   * Ordering ties break on `event_id` — same total order both engines.
   */
  def seqTransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val byFrom = Window.partitionBy(col("from_type"))
    trans
      .withColumn("row_total", sum(col("n_transitions")).over(byFrom))
      .select(col("from_type"), col("to_type"), col("n_transitions"),
        (col("n_transitions") * 1000000L / col("row_total")).cast("long").as("share_ppm"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private def seqTransitionMatrixSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |trans AS (
      |  SELECT event_type AS from_type, to_type,
      |    CAST(count(*) AS BIGINT) AS n_transitions
      |  FROM seq WHERE to_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT from_type, to_type, n_transitions,
      |  CAST(n_transitions * 1000000 //
      |    SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT) AS share_ppm
      |FROM trans
      |ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------------
  // split_temporal_embargo — purged temporal split with an embargo gap
  // ---------------------------------------------------------------------

  /** Train side ends (exclusive) at this day; test side starts at
    * [[EmbargoTestStart]]. The events between are PURGED — the embargo
    * that keeps near-boundary temporal leakage (label horizons, session
    * spillover) out of both halves (the purged/embargoed K-fold of
    * López de Prado 2018, "Advances in Financial Machine Learning" §7). */
  private val EmbargoTrainEnd = "2024-01-14"
  private val EmbargoTestStart = "2024-01-17"

  private def dayUs(d: String): Long =
    java.time.LocalDate.parse(d).toEpochDay * 86400L * 1000000L

  private val EmbargoT1Us: Long = dayUs(EmbargoTrainEnd)
  private val EmbargoT2Us: Long = dayUs(EmbargoTestStart)

  /**
   * Purged temporal split audit: per event type, how many events fall in
   * the train half (ts < T1), the embargo gap ([T1, T2) — dropped from
   * BOTH halves), and the test half (ts ≥ T2); the purged share in ppm;
   * and how many users still have events on BOTH sides of the gap (the
   * residual entity-level leakage a user-grouped split would remove —
   * see [[mlSplitLeakage]] for the ungapped audit this extends).
   *
   * Scale: one conditional-aggregate pass per event type plus one
   * (user, event_type) min/max rollup for the crossing count — two
   * map-side-combined shuffles, both collapsing to ≤|types| (or
   * users×types) rows; no window, no self-join. All quantities integers;
   * the ppm share is an integer cross-multiplication.
   */
  def splitTemporalEmbargo(s: SparkSession, dir: String): DataFrame = {
    val t1 = lit(EmbargoT1Us)
    val t2 = lit(EmbargoT2Us)
    val base = events(s, dir)
      .select(col("event_type"), col("user_id"), expr("ts DIV 1000").as("ts_us"))
    val perType = base.groupBy(col("event_type"))
      .agg(
        sum(when(col("ts_us") < t1, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("ts_us") >= t1 && col("ts_us") < t2, 1L).otherwise(0L))
          .as("n_purged"),
        sum(when(col("ts_us") >= t2, 1L).otherwise(0L)).as("n_test"))
    val crossing = base
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"))
      .filter(col("first_us") < t1 && col("last_us") >= t2)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users_crossing"))
    perType.join(crossing, Seq("event_type"), "left")
      .select(col("event_type"), col("n_train"), col("n_purged"), col("n_test"),
        (col("n_purged") * 1000000L /
          (col("n_train") + col("n_purged") + col("n_test"))).cast("long")
          .as("purged_ppm"),
        coalesce(col("n_users_crossing"), lit(0L)).as("n_users_crossing"))
      .orderBy(col("event_type"))
  }

  private def splitTemporalEmbargoSql: String =
    s"""WITH b AS (
       |  SELECT event_type, user_id, epoch_us(ts) AS ts_us FROM events),
       |t AS (
       |  SELECT event_type,
       |    CAST(SUM(CASE WHEN ts_us < $EmbargoT1Us THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_train,
       |    CAST(SUM(CASE WHEN ts_us >= $EmbargoT1Us AND ts_us < $EmbargoT2Us
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
       |    CAST(SUM(CASE WHEN ts_us >= $EmbargoT2Us THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_test
       |  FROM b GROUP BY 1),
       |c AS (
       |  SELECT event_type, CAST(COUNT(1) AS BIGINT) AS n_users_crossing
       |  FROM (
       |    SELECT event_type, user_id,
       |      min(ts_us) AS first_us, max(ts_us) AS last_us
       |    FROM b GROUP BY 1, 2)
       |  WHERE first_us < $EmbargoT1Us AND last_us >= $EmbargoT2Us
       |  GROUP BY 1)
       |SELECT t.event_type, n_train, n_purged, n_test,
       |  CAST(n_purged * 1000000 // (n_train + n_purged + n_test) AS BIGINT)
       |    AS purged_ppm,
       |  CAST(COALESCE(c.n_users_crossing, 0) AS BIGINT) AS n_users_crossing
       |FROM t LEFT JOIN c USING (event_type)
       |ORDER BY event_type""".stripMargin

  /** Fold count for the cross-validation assignment audit. */
  private val KFolds = 5

  /**
   * Deterministic k-fold cross-validation assignment audit: every
   * document lands in fold md5(doc_id) mod [[KFolds]] (the reproducible
   * split family every other audit here uses — re-runs and engines
   * agree), and per fold the audit reports the population and the worst
   * per-language share deviation from the corpus-wide language
   * distribution — the imbalance number that decides whether plain
   * k-fold suffices or stratified folding is needed.
   *
   * Exactness: deviations use the [[Governance.privacyTCloseness]]
   * integer identity — |c_fl·N − c_l·n_f| in DECIMAL(38,0), one double
   * division, 6-dp round BEFORE the max so the argmax can't flip on a
   * low bit. Missing (fold, lang) cells are materialized by exploding
   * the ≤|langs| marginal relation across the [[KFolds]] literal fold
   * ids — no grid join, no corpus rescan.
   *
   * Scale: two map-side-combined aggregates over the scan (fold×lang,
   * lang), a driver-scalar total, and ≤|langs|·K grid rows.
   */
  def splitKfold(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val base = load(s, dir, "documents").select(col("doc_id"),
      coalesce(col("lang"), lit("")).as("lang"))
      .withColumn("fold", md5Mod(col("doc_id"), KFolds))
    val fl = base.groupBy(col("fold"), col("lang")).agg(count(lit(1)).as("c_fl"))
    val folds = fl.groupBy(col("fold")).agg(sum(col("c_fl")).as("n_f"))
    val langs = base.groupBy(col("lang")).agg(count(lit(1)).as("c_l"))
    val n = base.count()
    val grid = langs.select(col("lang"), col("c_l"),
        explode(sequence(lit(0L), lit((KFolds - 1).toLong))).as("fold"))
      .join(fl, Seq("fold", "lang"), "left")
      .join(broadcast(folds), Seq("fold"))
      .select(col("fold"), col("n_f"),
        round(abs(coalesce(col("c_fl"), lit(0L)).cast(dec) * lit(n) -
            col("c_l").cast(dec) * col("n_f")).cast("double") /
          (col("n_f").cast("double") * lit(n.toDouble)), 6).as("dev"))
    grid.groupBy(col("fold"))
      .agg(max(col("n_f")).as("n_docs"), max(col("dev")).as("max_share_dev"))
      .orderBy(col("fold"))
  }

  /** PSI length-bucket width (chars), matching the k-anon bucket family. */
  private val PsiBucket = 200L

  /**
   * Population Stability Index between the md5 train/test split — THE
   * model-governance drift number (banking's standard gate: PSI < 0.1
   * stable, > 0.25 investigate): over fixed [[PsiBucket]]-char length
   * buckets, the train share p and test share q per bucket, and the PSI
   * term (p−q)·ln(p/q). Laplace-smoothed counts ((c+1)/(n+B), B = bucket
   * count) keep a bucket that one side misses finite and deterministic —
   * no ±∞, no dropped bins.
   *
   * Exactness: shares are exact-integer ratios in doubles; the ln term
   * follows the [[Corpus.textSourceKl]] recipe (term rounded to 8 dp —
   * both engines' libm ln is faithful, and the round crushes the last
   * ulp). Scale: one (split, bucket) aggregate, a ≤B-row pivot, two
   * 1-row scalars.
   */
  def mlPsiDrift(s: SparkSession, dir: String): DataFrame = {
    val base = load(s, dir, "documents").filter(col("n_chars").isNotNull)
      .select(
        when(md5Mod(col("doc_id"), 5) === 0L, "test").otherwise("train").as("grp"),
        expr(s"n_chars DIV $PsiBucket").as("bin"))
    val cb = base.groupBy(col("grp"), col("bin")).agg(count(lit(1)).as("c"))
      .transform(cached)
    val totals = cb.groupBy(col("grp")).agg(sum(col("c")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nTrain = totals.getOrElse("train", 0L)
    val nTest = totals.getOrElse("test", 0L)
    val bins = cb.select(col("bin")).distinct()
    val nB = bins.count()
    val grid = bins
      .join(cb.filter(col("grp") === "train")
        .select(col("bin"), col("c").as("c_train")), Seq("bin"), "left")
      .join(cb.filter(col("grp") === "test")
        .select(col("bin"), col("c").as("c_test")), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("c_train"), lit(0L)).as("c_train"),
        coalesce(col("c_test"), lit(0L)).as("c_test"))
    val p = (col("c_train") + lit(1L)).cast("double") / lit((nTrain + nB).toDouble)
    val q = (col("c_test") + lit(1L)).cast("double") / lit((nTest + nB).toDouble)
    grid
      .withColumn("psi_term", round((p - q) * log(p / q), 8))
      .orderBy(col("bin"))
  }

  // ---------------------------------------------------------------------
  // eval_auc_roc — tie-corrected ROC AUC via the rank-sum identity
  // ---------------------------------------------------------------------

  /**
   * ROC AUC of a score against a binary label, computed by the
   * Mann–Whitney rank-sum identity — the one-number model-quality gate a
   * training pipeline runs on every scored eval shard. Labels: parity of
   * the embeddings class label; score: the second embedding component
   * (deterministic, engine-neutral inputs).
   *
   * AUC = (Σ_pos avgrank − P(P+1)/2) / (P·N). Tie-corrected without a
   * global ROW_NUMBER: scores collapse to one row per distinct value
   * (c, #pos), the exclusive prefix count comes from
   * [[graft.operators.Quantiles.withRunningTotal]] (range-partitioned
   * distributed prefix sum — no single-partition window), and doubled
   * average ranks 2·r = 2·cumBefore + c + 1 keep everything in exact
   * LONG arithmetic until the single final division (magnitudes < 2^63
   * up to ~10^9 rows; the doc contract for bigger shards is to AUC per
   * stratum and average).
   */
  def evalAucRoc(s: SparkSession, dir: String): DataFrame = {
    val sc = load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .select(element_at(col("embedding"), 1).cast("double").as("score"),
        (col("label") % 2 === 1).cast("long").as("pos"))
    val g = sc.groupBy(col("score"))
      .agg(count(lit(1)).as("c"), sum(col("pos")).as("p"))
    val r = graft.operators.Quantiles.withRunningTotal(
      g, Seq(col("score")), "c", "cum")
    // n_pos/n_neg fold into the SAME final aggregate over the grouped
    // relation (Σp and Σc−Σp), so the whole query is agg → prefix-sum →
    // agg with no join anywhere.
    // NULL-on-degenerate (the splitAdversarialAuc convention): an
    // all-pos or all-neg label column would divide by zero — Spark's
    // Divide yields NULL but DuckDB's IEEE division yields inf/NaN, so
    // gate BOTH engines explicitly.
    r.agg(
        sum(col("p") * (lit(2L) * (col("cum") - col("c")) +
          col("c") + lit(1L))).as("s2"),
        sum(col("p")).as("n_pos"),
        (sum(col("c")) - sum(col("p"))).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          round((col("s2") - col("n_pos") * (col("n_pos") + lit(1L)))
              .cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double"), 6))
          .as("auc"))
  }

  private val evalAucRocSql: String =
    """WITH s AS (
      |  SELECT CAST(embedding[1] AS DOUBLE) AS score,
      |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos
      |  FROM embeddings
      |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
      |g AS (SELECT score, CAST(COUNT(1) AS BIGINT) AS c,
      |        CAST(SUM(pos) AS BIGINT) AS p
      |      FROM s GROUP BY 1),
      |r AS (SELECT c, p,
      |        CAST(coalesce(SUM(c) OVER (ORDER BY score
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) AS cb
      |      FROM g),
      |tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
      |          CAST(COUNT(1) - SUM(pos) AS BIGINT) AS n_neg
      |        FROM s)
      |SELECT n_pos, n_neg,
      |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
      |    round(CAST(SUM(p * (2*cb + c + 1)) - n_pos*(n_pos+1) AS DOUBLE)
      |      / CAST(2*n_pos*n_neg AS DOUBLE), 6) END AS auc
      |FROM r CROSS JOIN tot GROUP BY n_pos, n_neg""".stripMargin

  // ---------------------------------------------------------------------
  // eval_ece_bins — reliability diagram / expected-calibration-error bins
  // ---------------------------------------------------------------------

  /**
   * Reliability-diagram bins (the ECE decomposition): predicted
   * probability vs realized positive rate in 10 equal-width bins, plus
   * each bin's weighted ECE contribution. Complements
   * `quality_nll_calibration` (NLL measures sharpness+calibration
   * together; the reliability gap isolates calibration). Probabilities
   * are the repo's deterministic Knuth-hash score (exact rational
   * k/1000003 on both engines); labels are the class-label parity.
   *
   * Exactness: per-bin confidence sums go through DECIMAL(20,8) after an
   * 8 dp round (partial-sum order can't flip bits); positive rates are
   * single integer-ratio divisions. Scale: one 10-group hash aggregate
   * with map-side combine; the total folds in as a window over the
   * 10-row result — a single pass over the data.
   */
  def evalEceBins(s: SparkSession, dir: String): DataFrame = {
    val prob = ((col("vec_id") * lit(2654435761L)) % lit(1000003L))
      .cast("double") / lit(1000003.0)
    val base = load(s, dir, "embeddings")
      .filter(col("vec_id").isNotNull && col("label").isNotNull)
      .select(
        least(floor(prob * 10).cast("long"), lit(9L)).as("bin"),
        round(prob, 8).cast(DecimalType(20, 8)).as("p8"),
        (col("label") % 2 === 1).cast("long").as("pos"))
    val bins = base.groupBy(col("bin")).agg(
      count(lit(1)).as("n"),
      round(sum(col("p8")).cast("double") / count(lit(1)), 6).as("confidence"),
      round(sum(col("pos")).cast("double") / count(lit(1)), 6).as("frac_pos"))
    // n_total = Σn over the ≤10-row post-aggregation relation (zeroPart
    // single-group window convention) — no second scan, no join.
    bins
      .withColumn("n_total",
        sum(col("n")).over(Window.partitionBy(Tables.zeroPart(col("bin")))))
      .select(col("bin"), col("n"), col("confidence"), col("frac_pos"),
        round(abs(col("confidence") - col("frac_pos")), 6).as("gap"),
        round(abs(col("confidence") - col("frac_pos")) *
          (col("n").cast("double") / col("n_total").cast("double")), 6)
          .as("ece_term"))
      .orderBy(col("bin"))
  }

  /**
   * Isotonic (PAV) calibration over the [[evalEceBins]] deciles — the
   * monotone recalibration map a scoring pipeline fits when the
   * reliability table shows non-monotone bin accuracies: per present
   * bin, the raw positive rate and the isotonic rate from the exact
   * MINIMAX closed form iso(i) = max_{j≤i} min_{k≥i} mean(j..k) — the
   * algebraic identity for pool-adjacent-violators output, which makes
   * the sequential merge loop fully relational (no driver iteration,
   * no recursion).
   *
   * Scale: everything after the one ≤10-group aggregate runs on the
   * post-aggregation bin relation — prefix sums via zeroPart windows,
   * the (j ≤ i ≤ k) grid ≤ bins³ rows. Determinism: block means are
   * single divisions of exact integer prefix differences (identical
   * IEEE both engines), so the min/max lattice and the 6-dp rounding
   * agree exactly.
   */
  def mlIsotonicBins(s: SparkSession, dir: String): DataFrame = {
    val prob = ((col("vec_id") * lit(2654435761L)) % lit(1000003L))
      .cast("double") / lit(1000003.0)
    val bins = load(s, dir, "embeddings")
      .filter(col("vec_id").isNotNull && col("label").isNotNull)
      .select(least(floor(prob * 10).cast("long"), lit(9L)).as("bin"),
        (col("label") % 2 === 1).cast("long").as("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
    val ord = Window.partitionBy(Tables.zeroPart(col("bin")))
      .orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val idx = bins
      .withColumn("i", row_number().over(
        Window.partitionBy(Tables.zeroPart(col("bin"))).orderBy(col("bin")))
        .cast("long"))
      .withColumn("cp", sum(col("p")).over(ord))
      .withColumn("cn", sum(col("n")).over(ord))
    val js = idx.select(col("i").as("j"),
      (col("cp") - col("p")).as("cpb"), (col("cn") - col("n")).as("cnb"))
    val ks = idx.select(col("i").as("k"), col("cp").as("cpk"), col("cn").as("cnk"))
    val means = js.join(ks, col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("cpk") - col("cpb")).cast("double") /
          (col("cnk") - col("cnb")).cast("double")).as("m"))
    val spine = idx.select(col("i"), col("bin"), col("n"), col("p"))
    val iso = spine.join(means, col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("bin"), col("n"), col("p"), col("j"))
      .agg(min(col("m")).as("inner"))
      .groupBy(col("i"), col("bin"), col("n"), col("p"))
      .agg(max(col("inner")).as("iso"))
    iso.select(col("bin"), col("n"),
        round(col("p").cast("double") / col("n").cast("double"), 6)
          .as("raw_rate"),
        round(col("iso"), 6).as("iso_rate"))
      .orderBy(col("bin"))
  }

  private val mlIsotonicBinsSql: String =
    """WITH s AS (
      |  SELECT LEAST(CAST(FLOOR(((vec_id * 2654435761) % 1000003)
      |      / 1000003.0 * 10) AS BIGINT), 9) AS bin,
      |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos
      |  FROM embeddings WHERE vec_id IS NOT NULL AND label IS NOT NULL),
      |b AS (SELECT bin, CAST(COUNT(1) AS BIGINT) AS n,
      |        CAST(SUM(pos) AS BIGINT) AS p
      |      FROM s GROUP BY bin),
      |ix AS (
      |  SELECT bin, n, p,
      |    CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS i,
      |    CAST(SUM(p) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp,
      |    CAST(SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn
      |  FROM b),
      |mns AS (
      |  SELECT j.i AS j, k.i AS k,
      |    CAST(k.cp - (j.cp - j.p) AS DOUBLE)
      |      / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS m
      |  FROM ix j JOIN ix k ON j.i <= k.i),
      |inner_min AS (
      |  SELECT sp.i, sp.bin, sp.n, sp.p, mns.j, MIN(mns.m) AS inner_m
      |  FROM ix sp JOIN mns ON mns.j <= sp.i AND mns.k >= sp.i
      |  GROUP BY sp.i, sp.bin, sp.n, sp.p, mns.j),
      |iso AS (
      |  SELECT i, bin, n, p, MAX(inner_m) AS iso
      |  FROM inner_min GROUP BY i, bin, n, p)
      |SELECT bin, n,
      |  round(CAST(p AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_rate,
      |  round(iso, 6) AS iso_rate
      |FROM iso ORDER BY bin""".stripMargin

  /**
   * Murphy/binned Brier-score decomposition over the same synthetic
   * score/outcome relation as [[evalEceBins]] — the one-row calibration
   * summary an eval harness publishes next to the per-bin ECE table:
   * reliability = Σ n_k(conf_k−acc_k)²/N (how far bin confidence sits
   * from bin accuracy — lower is better), resolution = Σ n_k(acc_k−p̄)²/N
   * (how much the bins separate outcomes — higher is better),
   * uncertainty = p̄(1−p̄), and the binned Brier estimate
   * rel − res + unc.
   *
   * Scale: one ≤10-group aggregate (map-side combined), totals via the
   * zeroPart single-group window over the ≤10-row post-aggregation
   * relation, one global fold — a single linear pass. Determinism:
   * per-bin terms rounded to 8 dp into exact DECIMAL sums; the three
   * published components are rounded BEFORE the final sum so the
   * headline number is a function of the published parts.
   */
  def evalBrierDecomp(s: SparkSession, dir: String): DataFrame = {
    val prob = ((col("vec_id") * lit(2654435761L)) % lit(1000003L))
      .cast("double") / lit(1000003.0)
    val base = load(s, dir, "embeddings")
      .filter(col("vec_id").isNotNull && col("label").isNotNull)
      .select(
        least(floor(prob * 10).cast("long"), lit(9L)).as("bin"),
        round(prob, 8).cast(DecimalType(20, 8)).as("p8"),
        (col("label") % 2 === 1).cast("long").as("pos"))
    val bins = base.groupBy(col("bin")).agg(
      count(lit(1)).as("n"),
      sum(col("p8")).as("sp"),
      sum(col("pos")).as("spos"))
    val zw = Window.partitionBy(Tables.zeroPart(col("bin")))
    val conf = col("sp").cast("double") / col("n").cast("double")
    val acc = col("spos").cast("double") / col("n").cast("double")
    val baseRate = col("pt").cast("double") / col("nt").cast("double")
    val relT = round(col("n").cast("double") * (conf - acc) * (conf - acc), 8)
      .cast(DecimalType(20, 8))
    val resT = round(col("n").cast("double") * (acc - baseRate) * (acc - baseRate), 8)
      .cast(DecimalType(20, 8))
    val folded = bins
      .withColumn("nt", sum(col("n")).over(zw))
      .withColumn("pt", sum(col("spos")).over(zw))
      .select(col("nt"), col("pt"), relT.as("relt"), resT.as("rest"))
      .groupBy(col("nt"), col("pt"))
      .agg(sum(col("relt")).as("sr"), sum(col("rest")).as("ss"))
    val rel = round(col("sr").cast("double") / col("nt").cast("double"), 6)
    val res = round(col("ss").cast("double") / col("nt").cast("double"), 6)
    val unc = round(baseRate * (lit(1.0d) - baseRate), 6)
    folded.select(col("nt").as("n_total"),
        round(baseRate, 6).as("base_rate"),
        rel.as("reliability"), res.as("resolution"), unc.as("uncertainty"),
        round(rel - res + unc, 6).as("brier_binned"))
  }

  private val evalBrierDecompSql: String =
    """WITH base AS (
      |  SELECT least(CAST(floor(
      |      (CAST((vec_id * 2654435761) % 1000003 AS DOUBLE) / 1000003.0)
      |        * 10) AS BIGINT), 9) AS bin,
      |    CAST(round(
      |      CAST((vec_id * 2654435761) % 1000003 AS DOUBLE) / 1000003.0,
      |      8) AS DECIMAL(20,8)) AS p8,
      |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos
      |  FROM embeddings
      |  WHERE vec_id IS NOT NULL AND label IS NOT NULL),
      |bins AS (
      |  SELECT bin, CAST(COUNT(1) AS BIGINT) AS n,
      |    SUM(p8) AS sp, CAST(SUM(pos) AS BIGINT) AS spos
      |  FROM base GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
      |               CAST(SUM(spos) AS BIGINT) AS pt FROM bins),
      |terms AS (
      |  SELECT nt, pt,
      |    CAST(round(CAST(n AS DOUBLE)
      |      * (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)
      |         - CAST(spos AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)
      |         - CAST(spos AS DOUBLE) / CAST(n AS DOUBLE)), 8)
      |      AS DECIMAL(20,8)) AS relt,
      |    CAST(round(CAST(n AS DOUBLE)
      |      * (CAST(spos AS DOUBLE) / CAST(n AS DOUBLE)
      |         - CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
      |      * (CAST(spos AS DOUBLE) / CAST(n AS DOUBLE)
      |         - CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)), 8)
      |      AS DECIMAL(20,8)) AS rest
      |  FROM bins CROSS JOIN tot),
      |folded AS (
      |  SELECT nt, pt, SUM(relt) AS sr, SUM(rest) AS ss
      |  FROM terms GROUP BY nt, pt),
      |parts AS (
      |  SELECT nt, pt,
      |    round(CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS base_rate,
      |    round(CAST(sr AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS reliability,
      |    round(CAST(ss AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS resolution,
      |    round(CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)
      |      * (1.0 - CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)), 6) AS uncertainty
      |  FROM folded)
      |SELECT nt AS n_total, base_rate, reliability, resolution, uncertainty,
      |  round(reliability - resolution + uncertainty, 6) AS brier_binned
      |FROM parts""".stripMargin

  private val evalEceBinsSql: String =
    """WITH base AS (
      |  SELECT least(CAST(floor(
      |      (CAST((vec_id * 2654435761) % 1000003 AS DOUBLE) / 1000003.0)
      |        * 10) AS BIGINT), 9) AS bin,
      |    CAST(round(
      |      CAST((vec_id * 2654435761) % 1000003 AS DOUBLE) / 1000003.0,
      |      8) AS DECIMAL(20,8)) AS p8,
      |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos
      |  FROM embeddings
      |  WHERE vec_id IS NOT NULL AND label IS NOT NULL),
      |bins AS (
      |  SELECT bin, CAST(COUNT(1) AS BIGINT) AS n,
      |    round(CAST(SUM(p8) AS DOUBLE) / COUNT(1), 6) AS confidence,
      |    round(CAST(SUM(pos) AS DOUBLE) / COUNT(1), 6) AS frac_pos
      |  FROM base GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_total FROM base)
      |SELECT bin, n, confidence, frac_pos,
      |  round(abs(confidence - frac_pos), 6) AS gap,
      |  round(abs(confidence - frac_pos)
      |    * (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)), 6) AS ece_term
      |FROM bins CROSS JOIN tot
      |ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------------
  // ml_target_encoding — smoothed leave-one-out categorical encoding
  // ---------------------------------------------------------------------

  /** Smoothing pseudo-count for the target-encoding prior. */
  private val TargetEncM = 20L

  /**
   * Leave-one-out target encoding with additive smoothing — the standard
   * leakage-free way to turn a categorical feature into a numeric one
   * before training: each row's category mean EXCLUDES the row itself and
   * shrinks toward the global prior by [[TargetEncM]] pseudo-counts.
   *
   * enc = (Σ_cat y − y_i + m·prior) / (n_cat − 1 + m), cleared of the
   * prior's inner division by cross-multiplying with the global count:
   * ((Σ_cat − y_i)·N + m·Σ_all) / ((n_cat − 1 + m)·N). Numerator terms
   * stay exact (DECIMAL sums, single casts to double, two IEEE
   * multiply-adds) so both engines compute bit-identical doubles before
   * the one rounded division.
   *
   * Scale: one |categories|-group aggregate (map-side combined) that also
   * carries the global sums, one broadcast of that tiny table back onto
   * the fact scan — a single linear pass, no row-vs-row window.
   */
  def mlTargetEncoding(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"),
        round(col("value"), 6).cast(DecimalType(20, 6)).as("y"))
    // Global prior = Σ over the ≤|categories|-row aggregate (zeroPart
    // single-group window on the tiny relation), carried on the broadcast
    // side — one scan, one broadcast equi-join, no cross join.
    val one = Window.partitionBy(Tables.zeroPart(col("event_type")))
    val cat = e.groupBy(col("event_type"))
      .agg(sum(col("y")).as("sum_cat"), count(lit(1)).as("n_cat"))
      .withColumn("sum_all", sum(col("sum_cat")).over(one))
      .withColumn("n_all", sum(col("n_cat")).over(one))
    e.join(broadcast(cat), Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        round(
          ((col("sum_cat") - col("y")).cast("double") *
              col("n_all").cast("double") +
            lit(TargetEncM.toDouble) * col("sum_all").cast("double")) /
          ((col("n_cat") - lit(1L) + lit(TargetEncM)) * col("n_all"))
            .cast("double"), 6).as("target_enc"))
      .orderBy(col("event_id"))
  }

  private val mlTargetEncodingSql: String =
    s"""WITH e AS (
       |  SELECT event_id, event_type,
       |    CAST(round(value, 6) AS DECIMAL(20,6)) AS y
       |  FROM events WHERE value IS NOT NULL),
       |cat AS (SELECT event_type, SUM(y) AS sum_cat,
       |          CAST(COUNT(1) AS BIGINT) AS n_cat
       |        FROM e GROUP BY 1),
       |tot AS (SELECT SUM(y) AS sum_all, CAST(COUNT(1) AS BIGINT) AS n_all
       |        FROM e)
       |SELECT event_id, event_type,
       |  round(
       |    (CAST(sum_cat - y AS DOUBLE) * CAST(n_all AS DOUBLE)
       |      + ${TargetEncM}.0 * CAST(sum_all AS DOUBLE))
       |    / CAST((n_cat - 1 + $TargetEncM) * n_all AS DOUBLE), 6)
       |    AS target_enc
       |FROM e
       |JOIN cat USING (event_type)
       |CROSS JOIN tot
       |ORDER BY event_id""".stripMargin

  /**
   * One Newton/IRLS step of Platt scaling (Platt 1999) over the same
   * synthetic score/outcome relation as [[evalEceBins]] — the
   * calibration-fitting audit an eval harness runs when the raw scores
   * are miscalibrated: starting from (a₀, b₀) = (1, 0) (identity
   * scaling), compute the logistic-NLL gradient
   * (Σ(p−y)·s, Σ(p−y)) and Hessian ([Σws², Σws; Σws, Σw], w = p(1−p)),
   * and report the post-step (a₁, b₁) from the closed-form 2×2 solve.
   * A near-zero gradient says the scores are already calibrated; the
   * step direction says which way temperature should move.
   *
   * Scale: ONE map-side-combined global aggregate (five sums); the 2×2
   * solve is scalar arithmetic on the aggregate row. Determinism: s is
   * the 8-dp-rounded hash score, every per-row term rounds to 8 dp
   * DECIMAL before summing, and the solve runs the same IEEE ops on the
   * exact sums cast to double once (exp envelope = the survival-curve
   * convention).
   */
  def mlPlattStep(s: SparkSession, dir: String): DataFrame = {
    val dec8 = DecimalType(30, 8)
    val prob = ((col("vec_id") * lit(2654435761L)) % lit(1000003L))
      .cast("double") / lit(1000003.0)
    val sc = round(prob, 8)
    val y = (col("label") % 2 === 1).cast("long").cast("double")
    val p = lit(1.0d) / (lit(1.0d) + exp(-sc))
    val w = p * (lit(1.0d) - p)
    val agg = load(s, dir, "embeddings")
      .filter(col("vec_id").isNotNull && col("label").isNotNull)
      .select(sc.as("s"), y.as("y"), p.as("p"), w.as("w"))
      .agg(count(lit(1)).as("n"),
        sum(round((col("p") - col("y")) * col("s"), 8).cast(dec8)).as("ga"),
        sum(round(col("p") - col("y"), 8).cast(dec8)).as("gb"),
        sum(round(col("w") * col("s") * col("s"), 8).cast(dec8)).as("hss"),
        sum(round(col("w") * col("s"), 8).cast(dec8)).as("hs"),
        sum(round(col("w"), 8).cast(dec8)).as("hw"))
    val gaD = col("ga").cast("double")
    val gbD = col("gb").cast("double")
    val aD = col("hss").cast("double")
    val bD = col("hs").cast("double")
    val cD = col("hw").cast("double")
    val det = aD * cD - bD * bD
    agg.select(col("n"),
      round(gaD, 6).as("grad_a"), round(gbD, 6).as("grad_b"),
      round(det, 6).as("hess_det"),
      round(when(det =!= 0.0, lit(1.0d) - (cD * gaD - bD * gbD) / det), 6)
        .as("a1"),
      round(when(det =!= 0.0, lit(0.0d) - (aD * gbD - bD * gaD) / det), 6)
        .as("b1"))
  }

  // ---------------------------------------------------------------------
  // eval_avg_precision — PR-curve average precision (step-interpolated)
  // ---------------------------------------------------------------------

  /**
   * Average precision (the area under the precision–recall curve in its
   * step-interpolated form, AP = Σ_i ΔR_i · P_i over distinct score
   * thresholds descending) for the same score/label relation as
   * [[evalAucRoc]] — the imbalanced-data companion to ROC AUC (a quality
   * classifier at 1% positive rate can hold AUC ≈ 0.9 while AP collapses;
   * training-data gates watch both).
   *
   * Ties collapse to one block per DISTINCT score (the sklearn
   * `average_precision_score` convention), so the result is
   * permutation-independent: AP = Σ_blocks p_b · (cumPos_b / cumTotal_b)
   * / n_pos with cumulative counts INCLUSIVE of the block.
   *
   * Scale: scores collapse to one row per distinct value first (map-side
   * combined), then TWO distributed prefix sums over the collapsed
   * relation ([[graft.operators.Quantiles.withRunningTotal]] — range
   * partitioned, never a single-partition window; one pass per measure
   * because the prefix kernel carries one LONG column). Determinism:
   * counts are exact integers; each block term rounds to 8 dp DECIMAL;
   * one final division.
   */
  def evalAvgPrecision(s: SparkSession, dir: String): DataFrame = {
    val dec8 = DecimalType(30, 8)
    val sc = load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .select(element_at(col("embedding"), 1).cast("double").as("score"),
        (col("label") % 2 === 1).cast("long").as("pos"))
    val g = sc.groupBy(col("score"))
      .agg(count(lit(1)).as("c"), sum(col("pos")).as("p"))
      // descending-threshold order spelled as an ascending range sort on
      // the negated score (repartitionByRange needs a sortable key)
      .withColumn("nscore", -col("score"))
      .transform(cached)
    val r1 = graft.operators.Quantiles.withRunningTotal(
      g, Seq(col("nscore")), "c", "cumc")
    val r2 = graft.operators.Quantiles.withRunningTotal(
      r1.withColumn("cumc2", col("cumc")).drop("cumc"),
      Seq(col("nscore")), "p", "cump")
    r2.agg(
        sum(col("p")).as("n_pos"),
        sum(col("c")).as("n_total"),
        sum(round(col("p").cast("double") *
            (col("cump").cast("double") / col("cumc2").cast("double")), 8)
          .cast(dec8)).as("ap_num"))
      .select(col("n_pos"), col("n_total"),
        round(when(col("n_pos") > 0,
          col("ap_num").cast("double") / col("n_pos").cast("double")), 6)
          .as("avg_precision"))
  }

  private val evalAvgPrecisionSql: String =
    """WITH s AS (
      |  SELECT CAST(embedding[1] AS DOUBLE) AS score,
      |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos
      |  FROM embeddings
      |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
      |g AS (SELECT score, CAST(COUNT(1) AS BIGINT) AS c,
      |        CAST(SUM(pos) AS BIGINT) AS p
      |      FROM s GROUP BY 1),
      |r AS (SELECT c, p,
      |        CAST(SUM(c) OVER (ORDER BY score DESC) AS BIGINT) AS cumc,
      |        CAST(SUM(p) OVER (ORDER BY score DESC) AS BIGINT) AS cump
      |      FROM g)
      |SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
      |  CAST(SUM(c) AS BIGINT) AS n_total,
      |  round(CASE WHEN SUM(p) > 0 THEN
      |    CAST(SUM(CAST(round(CAST(p AS DOUBLE)
      |        * (CAST(cump AS DOUBLE) / CAST(cumc AS DOUBLE)), 8)
      |      AS DECIMAL(30,8))) AS DOUBLE) / CAST(SUM(p) AS DOUBLE) END, 6)
      |    AS avg_precision
      |FROM r""".stripMargin

  // ---------------------------------------------------------------------
  // eval_cost_curve — expected-cost-optimal decision threshold
  // ---------------------------------------------------------------------

  /** Asymmetric decision costs: a missed positive (FN) costs 5× a false
    * alarm (FP) — the usual shape when positives are rare and expensive
    * (fraud, contamination, quality escapes). */
  private val CostFp = 1L
  private val CostFn = 5L

  /**
   * Expected-cost threshold tuning over the [[evalAucRoc]] score/label
   * relation — the step that turns a ranked scorer into a DECISION: for
   * every distinct score t (classify positive iff score ≥ t), the exact
   * confusion counts and total cost [[CostFp]]·FP + [[CostFn]]·FN, plus
   * the two degenerate policies (accept-all / reject-all) as baselines;
   * the emitted row is the cost-minimizing threshold. AUC says the
   * ranking is good; this says where to cut it and what the cut costs.
   *
   * Exactness: EVERYTHING is exact LONG arithmetic — confusion counts
   * from two distributed prefix sums over the distinct-score relation,
   * costs as integer linear combinations; the argmin tie-breaks on the
   * higher threshold (fewer positives at equal cost). No float enters
   * until never. Scale: distinct-score collapse first, two range-
   * partitioned prefix passes ([[graft.operators.Quantiles]]), then a
   * rank-1 cut on the collapsed relation.
   */
  def evalCostCurve(s: SparkSession, dir: String): DataFrame = {
    val sc = load(s, dir, "embeddings")
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .select(element_at(col("embedding"), 1).cast("double").as("score"),
        (col("label") % 2 === 1).cast("long").as("pos"))
    val g = sc.groupBy(col("score"))
      .agg(count(lit(1)).as("c"), sum(col("pos")).as("p"))
      .withColumn("nscore", -col("score"))
      .transform(cached)
    val r1 = graft.operators.Quantiles.withRunningTotal(
      g, Seq(col("nscore")), "c", "cumc")
    val r2 = graft.operators.Quantiles.withRunningTotal(
      r1.withColumn("cumc2", col("cumc")).drop("cumc"),
      Seq(col("nscore")), "p", "cump")
      .transform(cached)
    val totRow = r2.agg(sum(col("c")), sum(col("p"))).first()
    if (totRow.isNullAt(0))
      return r2.select(col("score").as("threshold"), col("cump").as("tp"),
        col("cumc2").as("fp"), col("cump").as("fn"), col("cumc2").as("tn"),
        col("cumc2").as("cost"), col("cumc2").as("cost_reject_all"),
        col("cumc2").as("cost_accept_all")).limit(0)
    val nTot = totRow.getLong(0)
    val nPos = totRow.getLong(1)
    val nNeg = nTot - nPos
    val fp = col("cumc2") - col("cump")
    val fn = lit(nPos) - col("cump")
    val cost = lit(CostFp) * fp + lit(CostFn) * fn
    r2.select(col("score").as("threshold"),
        col("cump").as("tp"), fp.as("fp"), fn.as("fn"),
        (lit(nNeg) - fp).as("tn"), cost.as("cost"),
        lit(CostFn * nPos).as("cost_reject_all"),
        lit(CostFp * nNeg).as("cost_accept_all"))
      .withColumn("rn", row_number().over(Window.partitionBy(
          Tables.zeroPart(col("threshold")))
        .orderBy(col("cost"), col("threshold").desc)))
      .filter(col("rn") === 1).drop("rn")
  }

  private val evalCostCurveSql: String =
    s"""WITH s AS (
       |  SELECT CAST(embedding[1] AS DOUBLE) AS score,
       |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
       |g AS (SELECT score, CAST(COUNT(1) AS BIGINT) AS c,
       |        CAST(SUM(pos) AS BIGINT) AS p
       |      FROM s GROUP BY 1),
       |r AS (SELECT score,
       |        CAST(SUM(c) OVER (ORDER BY score DESC) AS BIGINT) AS cumc,
       |        CAST(SUM(p) OVER (ORDER BY score DESC) AS BIGINT) AS cump
       |      FROM g),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
       |          CAST(SUM(p) AS BIGINT) AS n_pos
       |        FROM g),
       |cand AS (
       |  SELECT score AS threshold, cump AS tp,
       |    cumc - cump AS fp, n_pos - cump AS fn,
       |    (n - n_pos) - (cumc - cump) AS tn,
       |    $CostFp * (cumc - cump) + $CostFn * (n_pos - cump) AS cost,
       |    $CostFn * n_pos AS cost_reject_all,
       |    $CostFp * (n - n_pos) AS cost_accept_all
       |  FROM r CROSS JOIN tot)
       |SELECT threshold, tp, fp, fn, tn, cost, cost_reject_all,
       |  cost_accept_all
       |FROM (SELECT *, row_number() OVER (ORDER BY cost, threshold DESC)
       |        AS rn FROM cand)
       |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // eval_cohens_kappa — inter-annotator chance-corrected agreement
  // ---------------------------------------------------------------------

  /**
   * Cohen's κ between two deterministic labelers of document quality —
   * the inter-annotator-agreement gate an RLHF / labeled-data pipeline
   * runs before trusting a label source (raw agreement overstates
   * reliability when marginals are skewed; κ corrects for chance).
   * Annotator A: n_chars ≥ 300; annotator B: word count ≥ 50 (the Gopher
   * word-count rule) — two rule families that CORRELATE but disagree on
   * short-word/long-text documents, per source.
   *
   * Exactness: κ = (N·(n11+n00) − (a1·b1 + a0·b0)) /
   * (N² − (a1·b1 + a0·b0)) — the whole statistic is ONE exact-integer
   * ratio (the po/pe divisions cancel against N²), so engines can only
   * agree; a degenerate source (pe = 1: both annotators constant) reports
   * NULL. Scale: one map-side-combined |sources|-group aggregate over a
   * scan-local projection — a single linear pass, no shuffle beyond the
   * group-by.
   */
  def evalCohensKappa(s: SparkSession, dir: String): DataFrame = {
    val a = (col("n_chars") >= 300L).cast("long")
    val b = (size(Text.words(col("text"))).cast("long") >= 50L).cast("long")
    val g = load(s, dir, "documents")
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
      .select(col("source"), a.as("a"), b.as("b"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
    val a1 = col("n11") + col("n10")
    val b1 = col("n11") + col("n01")
    val a0 = col("n01") + col("n00")
    val b0 = col("n10") + col("n00")
    val peNum = a1 * b1 + a0 * b0 // N²·pe as an exact integer
    val num = col("n") * (col("n11") + col("n00")) - peNum
    val den = col("n") * col("n") - peNum
    g.select(col("source"), col("n"), col("n11"), col("n10"), col("n01"),
        col("n00"),
        round((col("n11") + col("n00")).cast("double") /
          col("n").cast("double"), 6).as("po"),
        round(peNum.cast("double") /
          (col("n") * col("n")).cast("double"), 6).as("pe"),
        round(when(den =!= 0L,
          num.cast("double") / den.cast("double")), 6).as("kappa"))
      .orderBy(col("source"))
  }

  /**
   * Gwet's AC1 agreement (Gwet 2008) between [[evalCohensKappa]]'s two
   * rule annotators — the prevalence-robust member of the agreement
   * family (κ collapses toward 0 on skewed label distributions even when
   * raters agree almost always — the "kappa paradox"; AC1's
   * chance-agreement model 2π(1−π) stays calibrated). Reading κ and AC1
   * together is the standard annotator-audit practice.
   *
   * Scale/determinism: the same one-pass contingency rollup as κ, and
   * AC1 reduces to ONE exact integer ratio —
   * (2n(n11+n00) − T(2n−T)) / (2n² − T(2n−T)) with T = a1+b1 — whose
   * denominator (T−n)² + n² is never zero; DECIMAL(38,0) products since
   * 2n² wraps LONG past ~2e9 rows.
   */
  def evalGwetAc1(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val a = (col("n_chars") >= 300L).cast("long")
    val b = (size(Text.words(col("text"))).cast("long") >= 50L).cast("long")
    val g = load(s, dir, "documents")
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
      .select(col("source"), a.as("a"), b.as("b"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
    val n = col("n").cast(d38)
    val t = (col("n11") + col("n10") + col("n11") + col("n01")).cast(d38)
    val num = lit(2L).cast(d38) * n * (col("n11") + col("n00")).cast(d38) -
      t * (lit(2L).cast(d38) * n - t)
    val den = lit(2L).cast(d38) * n * n - t * (lit(2L).cast(d38) * n - t)
    g.select(col("source"), col("n"),
        round((col("n11") + col("n00")).cast("double") /
          col("n").cast("double"), 6).as("po"),
        round(num.cast("double") / den.cast("double"), 6).as("ac1"))
      .orderBy(col("source"))
  }

  private val evalGwetAc1Sql: String =
    """WITH l AS (
      |  SELECT source,
      |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN len(list_filter(string_split(text, ' '), w -> w <> ''))
      |      >= 50 THEN 1 ELSE 0 END AS b
      |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      |g AS (
      |  SELECT source, CAST(COUNT(1) AS BIGINT) AS n,
      |    CAST(SUM(a * b) AS BIGINT) AS n11,
      |    CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
      |    CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
      |    CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
      |  FROM l GROUP BY source)
      |SELECT source, n,
      |  round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
      |  round(CAST(2 * CAST(n AS DECIMAL(38,0)) * (n11 + n00)
      |      - CAST(n11 + n10 + n11 + n01 AS DECIMAL(38,0))
      |        * (2 * CAST(n AS DECIMAL(38,0)) - (n11 + n10 + n11 + n01))
      |      AS DOUBLE)
      |    / CAST(2 * CAST(n AS DECIMAL(38,0)) * n
      |      - CAST(n11 + n10 + n11 + n01 AS DECIMAL(38,0))
      |        * (2 * CAST(n AS DECIMAL(38,0)) - (n11 + n10 + n11 + n01))
      |      AS DOUBLE), 6) AS ac1
      |FROM g ORDER BY source""".stripMargin

  /**
   * McNemar's paired-classifier test (with Edwards' continuity
   * correction) per source — the "is gate B actually better than gate A"
   * check a filter migration runs before swapping thresholds: against
   * the five-rule gopher verdict as the reference judgment, classifier A
   * is the char-length gate (n_chars ≥ 300) and classifier B the
   * word-count gate (≥ 50 words) — [[evalCohensKappa]]'s pair, now
   * scored against a truth instead of against each other. Only the
   * DISCORDANT counts matter: b = A right / B wrong, c = B right /
   * A wrong; χ² = (|b−c|−1)²/(b+c), NULL when b + c = 0 (no
   * disagreement — the test is undefined, not zero).
   *
   * Scale: one pure-codegen predicate scan → per-source
   * map-side-combined rollup; no window, no join. Determinism: integer
   * counts end-to-end, one final double division, 6-dp round.
   */
  def evalMcnemar(s: SparkSession, dir: String): DataFrame = {
    val t = Text.gopherPredicates.reduce(_ && _)
    val a = (col("n_chars") >= 300L) === t
    val b = (size(Text.words(col("text"))).cast("long") >= 50L) === t
    val g = load(s, dir, "documents")
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
      .select(col("source"), a.as("a_ok"), b.as("b_ok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a_ok") && !col("b_ok"), 1L).otherwise(0L)).as("b_disc"),
        sum(when(!col("a_ok") && col("b_ok"), 1L).otherwise(0L)).as("c_disc"))
    val diff = abs(col("b_disc") - col("c_disc")) - lit(1L)
    g.select(col("source"), col("n"), col("b_disc"), col("c_disc"),
        round(when(col("b_disc") + col("c_disc") > 0L,
          (diff * diff).cast("double") /
            (col("b_disc") + col("c_disc")).cast("double")), 6)
          .as("chi2_cc"))
      .orderBy(col("source"))
  }

  private val evalMcnemarSql: String =
    """WITH f AS (
      |  SELECT source,
      |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
      |    CAST(length(text) AS BIGINT) AS tchars,
      |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars,
      |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS sym_chars,
      |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit_chars,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> w IN ('the', 'of', 'and', 'to', 'in'))) AS BIGINT) AS n_stop,
      |    CAST(n_chars AS BIGINT) AS n_chars
      |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      |p AS (
      |  SELECT source,
      |    (n_words >= 50 AND 3 * n_words <= word_chars
      |      AND word_chars <= 10 * n_words AND 10 * sym_chars <= tchars
      |      AND n_stop >= 2 AND 5 * digit_chars <= tchars) AS t,
      |    n_chars >= 300 AS ca, n_words >= 50 AS cb
      |  FROM f),
      |g AS (
      |  SELECT source, CAST(COUNT(1) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN (ca = t) AND NOT (cb = t) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b_disc,
      |    CAST(SUM(CASE WHEN NOT (ca = t) AND (cb = t) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c_disc
      |  FROM p GROUP BY source)
      |SELECT source, n, b_disc, c_disc,
      |  round(CASE WHEN b_disc + c_disc > 0 THEN
      |    CAST((abs(b_disc - c_disc) - 1) * (abs(b_disc - c_disc) - 1)
      |      AS DOUBLE) / CAST(b_disc + c_disc AS DOUBLE) END, 6) AS chi2_cc
      |FROM g ORDER BY source""".stripMargin

  private val evalCohensKappaSql: String =
    """WITH l AS (
      |  SELECT source,
      |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN len(list_filter(string_split(text, ' '), w -> w <> ''))
      |      >= 50 THEN 1 ELSE 0 END AS b
      |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      |g AS (
      |  SELECT source, CAST(COUNT(1) AS BIGINT) AS n,
      |    CAST(SUM(a * b) AS BIGINT) AS n11,
      |    CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
      |    CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
      |    CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
      |  FROM l GROUP BY source)
      |SELECT source, n, n11, n10, n01, n00,
      |  round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
      |  round(CAST((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00) AS DOUBLE)
      |    / CAST(n * n AS DOUBLE), 6) AS pe,
      |  round(CASE WHEN n*n - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)) <> 0
      |    THEN CAST(n*(n11+n00) - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00))
      |        AS DOUBLE)
      |      / CAST(n*n - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00))
      |        AS DOUBLE) END, 6) AS kappa
      |FROM g ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // pref_bt_step — Bradley–Terry strengths from pairwise preferences
  // ---------------------------------------------------------------------

  /** Bucket count for the pairwise-preference tournament. Prime so the
    * md5 bucket spreads evenly; the PAIR stream is ≤ buckets·S²/2 rows
    * (S = |sources|, metadata-sized), independent of corpus rows. */
  private val BtBuckets = 997

  /**
   * Two MM iterations of a Bradley–Terry preference model (Hunter 2004)
   * over deterministic document "matches" — the preference-data audit an
   * RLHF pipeline runs on pairwise comparisons: which slice wins
   * head-to-head, and do one-step and two-step strengths agree (a large
   * w1→w2 move flags marginal-dominated win counts).
   *
   * Matches are bucket-champion tournaments, NOT row pairs: each source's
   * champion in hash bucket k (max n_chars among its docs with
   * md5(doc_id) mod [[BtBuckets]] = k) plays every other source's
   * champion in the same bucket; longer text wins, equal lengths are
   * undecided and dropped. The MM updates from uniform strengths:
   * w1_i = W_i / Σ_j n_ij/2, then w2_i = W_i / Σ_j n_ij/(w1_i + w1_j).
   *
   * Scale: the champion table is one (bucket, source) max-aggregate
   * (map-side combined, linear); the pair join is bucket-equi —
   * ≤ [[BtBuckets]]·S²/2 rows no matter the corpus size; both MM steps
   * run on the ≤S²-row pair-count relation with the ≤S-row strength
   * vector broadcast back in. Determinism: wins/games are exact
   * integers; w1 is one rounded division; w2's per-pair terms round to
   * 8 dp DECIMAL before summing.
   */
  def prefBtStep(s: SparkSession, dir: String): DataFrame = {
    val dec8 = DecimalType(30, 8)
    val champs = load(s, dir, "documents")
      .filter(col("n_chars").isNotNull)
      .groupBy(md5Mod(col("doc_id"), BtBuckets).as("bkt"), col("source"))
      .agg(max(col("n_chars")).as("m"))
    val a = champs.select(col("bkt"), col("source").as("src_i"), col("m").as("m_i"))
    val b = champs.select(col("bkt"), col("source").as("src_j"), col("m").as("m_j"))
    // symmetric per-(i, j) view (both orientations), decisive games only
    val games = a.join(b, Seq("bkt"))
      .filter(col("src_i") =!= col("src_j") && col("m_i") =!= col("m_j"))
      .groupBy(col("src_i"), col("src_j"))
      .agg(count(lit(1)).as("n_ij"),
        sum((col("m_i") > col("m_j")).cast("long")).as("w_ij"))
      .transform(cached)
    val w1 = games.groupBy(col("src_i"))
      .agg(sum(col("w_ij")).as("n_wins"), sum(col("n_ij")).as("n_games"))
      .withColumn("w1", round(lit(2.0d) * col("n_wins").cast("double") /
        col("n_games").cast("double"), 8))
    val w1j = w1.select(col("src_i").as("src_j"), col("w1").as("w1_j"))
    val step2 = games
      .join(broadcast(w1.select(col("src_i"), col("w1").as("w1_i"))), "src_i")
      .join(broadcast(w1j), "src_j")
      .select(col("src_i"),
        round(col("n_ij").cast("double") / (col("w1_i") + col("w1_j")), 8)
          .cast(dec8).as("d"))
      .groupBy(col("src_i"))
      .agg(sum(col("d")).as("den2"))
    w1.join(step2, Seq("src_i"))
      .select(col("src_i").as("source"), col("n_games"), col("n_wins"),
        round(col("w1"), 6).as("w1"),
        round(when(col("den2") > 0,
          col("n_wins").cast("double") / col("den2").cast("double")), 6)
          .as("w2"))
      .orderBy(col("source"))
  }

  private val prefBtStepSql: String =
    s"""WITH champs AS (
       |  SELECT ${duckMd5ModExpr("doc_id", BtBuckets.toString)} AS bkt,
       |    source, MAX(n_chars) AS m
       |  FROM documents WHERE n_chars IS NOT NULL
       |  GROUP BY 1, 2),
       |games AS (
       |  SELECT a.source AS src_i, b.source AS src_j,
       |    CAST(COUNT(1) AS BIGINT) AS n_ij,
       |    CAST(SUM(CASE WHEN a.m > b.m THEN 1 ELSE 0 END) AS BIGINT) AS w_ij
       |  FROM champs a JOIN champs b
       |    ON a.bkt = b.bkt AND a.source <> b.source AND a.m <> b.m
       |  GROUP BY 1, 2),
       |s1 AS (
       |  SELECT src_i, CAST(SUM(w_ij) AS BIGINT) AS n_wins,
       |    CAST(SUM(n_ij) AS BIGINT) AS n_games,
       |    round(2.0 * CAST(SUM(w_ij) AS DOUBLE) / CAST(SUM(n_ij) AS DOUBLE), 8)
       |      AS w1
       |  FROM games GROUP BY 1),
       |s2 AS (
       |  SELECT g.src_i,
       |    SUM(CAST(round(CAST(g.n_ij AS DOUBLE) / (wi.w1 + wj.w1), 8)
       |      AS DECIMAL(30,8))) AS den2
       |  FROM games g
       |  JOIN s1 wi ON g.src_i = wi.src_i
       |  JOIN s1 wj ON g.src_j = wj.src_i
       |  GROUP BY 1)
       |SELECT s1.src_i AS source, n_games, n_wins,
       |  round(w1, 6) AS w1,
       |  round(CASE WHEN den2 > 0 THEN CAST(n_wins AS DOUBLE)
       |    / CAST(den2 AS DOUBLE) END, 6) AS w2
       |FROM s1 JOIN s2 ON s1.src_i = s2.src_i
       |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // ml_feature_corr — per-source Pearson matrix over derived doc features
  // ---------------------------------------------------------------------

  /**
   * Pearson correlation matrix over four derived document features
   * (chars, words, digit chars, symbol chars), per source — the
   * collinearity screen a feature pipeline runs before fitting anything
   * linear: near-±1 pairs mean redundant features (drop one), and a pair
   * whose correlation FLIPS between sources flags a slice where the
   * feature means something different. Complements [[Governance.statsSpearman]]
   * (monotone association of two fixed measures) with the full
   * product-moment grid.
   *
   * Scale: ONE map-side-combined |sources|-group aggregate carries all
   * 14 sums (4 linear + 10 upper-triangle products) in DECIMAL(38,0) —
   * a single linear pass; the 6-row-per-source pair table unpivots from
   * the aggregate with a literal stack, never a self-join of the data.
   * Exactness: features are exact integers, so every sum is exact; each
   * r is the same IEEE expression over exact sums cast to double once.
   * A constant feature (zero variance) reports NULL.
   */
  def mlFeatureCorr(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val nChars = length(col("text")).cast("long")
    val nWords = size(Text.words(col("text"))).cast("long")
    val nDigit = (length(col("text")) -
      length(regexp_replace(col("text"), "[0-9]", ""))).cast("long")
    val nSym = length(regexp_replace(col("text"), "[A-Za-z0-9 ]", ""))
      .cast("long")
    val feats = Seq("chars" -> nChars, "words" -> nWords,
      "digits" -> nDigit, "symbols" -> nSym)
    val base = load(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("source") +: feats.map { case (n, c) => c.as(n) }: _*)
    val sums = feats.map { case (n, _) => sum(col(n).cast(d38)).as(s"s_$n") }
    val prods = for {
      i <- feats.indices; j <- feats.indices if i <= j
    } yield sum((col(feats(i)._1) * col(feats(j)._1)).cast(d38))
      .as(s"p_${feats(i)._1}_${feats(j)._1}")
    val g = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), (sums ++ prods): _*)
    def r(a: String, b: String): Column = {
      val nD = col("n").cast("double")
      val cov = nD * col(s"p_${a}_$b").cast("double") -
        col(s"s_$a").cast("double") * col(s"s_$b").cast("double")
      val va = nD * col(s"p_${a}_$a").cast("double") -
        col(s"s_$a").cast("double") * col(s"s_$a").cast("double")
      val vb = nD * col(s"p_${b}_$b").cast("double") -
        col(s"s_$b").cast("double") * col(s"s_$b").cast("double")
      round(when(va > 0 && vb > 0, cov / sqrt(va * vb)), 6)
    }
    val pairs = for {
      i <- feats.indices; j <- feats.indices if i < j
    } yield (feats(i)._1, feats(j)._1)
    pairs.map { case (a, b) =>
      g.select(col("source"), lit(a).as("feat_a"), lit(b).as("feat_b"),
        col("n"), r(a, b).as("r"))
    }.reduce(_ unionByName _)
      .orderBy(col("source"), col("feat_a"), col("feat_b"))
  }

  private val mlFeatureCorrSql: String = {
    val feats = Seq("chars", "words", "digits", "symbols")
    val pairSelects = (for {
      i <- feats.indices; j <- feats.indices if i < j
    } yield {
      val (a, b) = (feats(i), feats(j))
      s"""SELECT source, '$a' AS feat_a, '$b' AS feat_b, n,
         |  round(CASE WHEN
         |      CAST(n AS DOUBLE) * CAST(p_${a}_$a AS DOUBLE)
         |        - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE) > 0
         |      AND CAST(n AS DOUBLE) * CAST(p_${b}_$b AS DOUBLE)
         |        - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE) > 0
         |    THEN (CAST(n AS DOUBLE) * CAST(p_${a}_$b AS DOUBLE)
         |        - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))
         |      / sqrt((CAST(n AS DOUBLE) * CAST(p_${a}_$a AS DOUBLE)
         |          - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))
         |        * (CAST(n AS DOUBLE) * CAST(p_${b}_$b AS DOUBLE)
         |          - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))) END, 6)
         |    AS r
         |FROM g""".stripMargin
    }).mkString("\n|UNION ALL\n|")
    val sumCols = feats.map(f => s"SUM(CAST($f AS DECIMAL(38,0))) AS s_$f")
    val prodCols = (for {
      i <- feats.indices; j <- feats.indices if i <= j
    } yield s"SUM(CAST(${feats(i)} * ${feats(j)} AS DECIMAL(38,0))) " +
      s"AS p_${feats(i)}_${feats(j)}").mkString(",\n|    ")
    s"""WITH f AS (
       |  SELECT source,
       |    CAST(length(text) AS BIGINT) AS chars,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
       |      AS BIGINT) AS words,
       |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
       |      AS BIGINT) AS digits,
       |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
       |      AS BIGINT) AS symbols
       |  FROM documents WHERE text IS NOT NULL),
       |g AS (
       |  SELECT source, CAST(COUNT(1) AS BIGINT) AS n,
       |    ${sumCols.mkString(",\n|    ")},
       |    $prodCols
       |  FROM f GROUP BY source)
       |SELECT * FROM (
       |$pairSelects)
       |ORDER BY source, feat_a, feat_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // eval_krippendorff — nominal Krippendorff's α over three annotators
  // ---------------------------------------------------------------------

  /**
   * Krippendorff's α (nominal data) across THREE deterministic quality
   * annotators — [[evalCohensKappa]]'s many-rater generalization, the
   * reliability number labeling guidelines actually gate on (α ≥ 0.8
   * publishable, 0.667 tentative; Krippendorff 2004). Annotators: chars
   * ≥ 300, words ≥ 50, stopwords ≥ 2 — three correlated-but-disagreeing
   * rule families, per source.
   *
   * Exactness: with m = 3 binary votes per unit the coincidence algebra
   * collapses to integers — disagreement D = Σ_u o_u(3−o_u) (o_u =
   * positive votes), marginals P1 = Σo_u, P0 = 3n−P1, and
   * α = 1 − (3n−1)·D / (2·P1·P0) is ONE exact-integer ratio. A source
   * where any margin is empty (all votes identical) reports NULL.
   * Scale: one scan-local vote projection, one |sources|-group
   * aggregate — a single linear pass.
   */
  def evalKrippendorff(s: SparkSession, dir: String): DataFrame = {
    val w = Text.words(col("text"))
    val votes =
      (col("n_chars") >= 300L).cast("long") +
      (size(w).cast("long") >= 50L).cast("long") +
      (size(filter(w, x => x.isin("the", "of", "and", "to", "in")))
        .cast("long") >= 2L).cast("long")
    val g = load(s, dir, "documents")
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
      .select(col("source"), votes.as("o"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("o")).as("p1"),
        sum(col("o") * (lit(3L) - col("o"))).as("d"))
    val p0 = lit(3L) * col("n") - col("p1")
    g.select(col("source"), col("n"), col("p1"), col("d"),
        round(when(col("p1") > 0 && p0 > 0,
          lit(1.0d) - ((lit(3L) * col("n") - 1L) * col("d")).cast("double") /
            (lit(2L) * col("p1") * p0).cast("double")), 6).as("alpha"))
      .orderBy(col("source"))
  }

  private val evalKrippendorffSql: String =
    """WITH v AS (
      |  SELECT source,
      |    CAST((CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
      |      + (CASE WHEN len(list_filter(string_split(text, ' '), w -> w <> ''))
      |          >= 50 THEN 1 ELSE 0 END)
      |      + (CASE WHEN len(list_filter(string_split(text, ' '),
      |          w -> w IN ('the', 'of', 'and', 'to', 'in'))) >= 2
      |          THEN 1 ELSE 0 END) AS BIGINT) AS o
      |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      |g AS (
      |  SELECT source, CAST(COUNT(1) AS BIGINT) AS n,
      |    CAST(SUM(o) AS BIGINT) AS p1,
      |    CAST(SUM(o * (3 - o)) AS BIGINT) AS d
      |  FROM v GROUP BY source)
      |SELECT source, n, p1, d,
      |  round(CASE WHEN p1 > 0 AND 3*n - p1 > 0 THEN
      |    1.0 - CAST((3*n - 1) * d AS DOUBLE)
      |      / CAST(2 * p1 * (3*n - p1) AS DOUBLE) END, 6) AS alpha
      |FROM g ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // ml_stump_split — CART root-node Gini stump over document length
  // ---------------------------------------------------------------------

  /**
   * Best single-threshold decision stump (the CART root node, Breiman
   * et al. 1984) of document length against the en-label, per source —
   * the one-split feature screen a modeling pipeline runs before
   * anything deeper: the threshold that maximizes Gini gain says where
   * the feature separates the classes, and a near-zero best gain says
   * the feature is useless for this slice. Every DISTINCT length is a
   * candidate threshold (split = x ≤ t), evaluated exactly — no
   * quantile-sampling of candidates.
   *
   * Scale: candidates collapse to the distinct-value relation first
   * (map-side combined), cumulative class counts come from one
   * value-domain window per source (never a per-row window), and the
   * argmax is a rank-1 cut with deterministic tie-break (smaller
   * threshold). Exactness: left/right class counts are exact integers;
   * the split score Σ_child (pos²+neg²)/n_child uses exact-integer
   * numerators with the same IEEE division order both engines, rounded
   * to 8 dp before ranking so a sub-round tie cannot reorder engines.
   */
  def mlStumpSplit(s: SparkSession, dir: String): DataFrame = {
    val base = load(s, dir, "documents")
      .filter(col("n_chars").isNotNull && col("lang").isNotNull)
      .select(col("source"), col("n_chars").cast("long").as("x"),
        (col("lang") === "en").cast("long").as("y"))
    val gv = base.groupBy(col("source"), col("x"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
      .withColumn("nl", sum(col("c")).over(
        Window.partitionBy(col("source")).orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pl", sum(col("p")).over(
        Window.partitionBy(col("source")).orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    val ql = col("nl") - col("pl")
    val nr = col("n") - col("nl")
    val pr = col("n_pos") - col("pl")
    val qr = nr - pr
    val score = (col("pl") * col("pl") + ql * ql).cast("double") /
      col("nl").cast("double") +
      (pr * pr + qr * qr).cast("double") / nr.cast("double")
    val parent = (col("n_pos") * col("n_pos") +
      (col("n") - col("n_pos")) * (col("n") - col("n_pos"))).cast("double") /
      (col("n").cast("double") * col("n").cast("double"))
    val cand = gv.join(tot, Seq("source"))
      .filter(col("nl") < col("n")) // an empty right child is not a split
      .select(col("source"), col("x"), col("nl"), col("pl"),
        col("n"), col("n_pos"),
        round(score, 8).as("score8"),
        round(score / col("n").cast("double") - parent, 8).as("gain8"))
    cand
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("score8").desc, col("x"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("n"), col("n_pos"),
        col("x").as("split_at"), col("nl").as("n_left"),
        col("pl").as("pos_left"), round(col("gain8"), 6).as("gini_gain"))
      .orderBy(col("source"))
  }

  private val mlStumpSplitSql: String =
    """WITH base AS (
      |  SELECT source, CAST(n_chars AS BIGINT) AS x,
      |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
      |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
      |gv AS (
      |  SELECT source, x, CAST(COUNT(1) AS BIGINT) AS c,
      |    CAST(SUM(y) AS BIGINT) AS p,
      |    CAST(SUM(COUNT(1)) OVER (PARTITION BY source ORDER BY x) AS BIGINT)
      |      AS nl,
      |    CAST(SUM(SUM(y)) OVER (PARTITION BY source ORDER BY x) AS BIGINT)
      |      AS pl
      |  FROM base GROUP BY 1, 2),
      |tot AS (
      |  SELECT source, CAST(COUNT(1) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS n_pos
      |  FROM base GROUP BY 1),
      |cand AS (
      |  SELECT gv.source, x, nl, pl, n, n_pos,
      |    round(CAST(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE)
      |        / CAST(nl AS DOUBLE)
      |      + CAST((n_pos - pl) * (n_pos - pl)
      |          + ((n - nl) - (n_pos - pl)) * ((n - nl) - (n_pos - pl))
      |          AS DOUBLE)
      |        / CAST(n - nl AS DOUBLE), 8) AS score8,
      |    round((CAST(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE)
      |        / CAST(nl AS DOUBLE)
      |      + CAST((n_pos - pl) * (n_pos - pl)
      |          + ((n - nl) - (n_pos - pl)) * ((n - nl) - (n_pos - pl))
      |          AS DOUBLE)
      |        / CAST(n - nl AS DOUBLE)) / CAST(n AS DOUBLE)
      |      - CAST(n_pos * n_pos + (n - n_pos) * (n - n_pos) AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 8) AS gain8
      |  FROM gv JOIN tot USING (source)
      |  WHERE nl < n),
      |best AS (
      |  SELECT *, row_number() OVER (PARTITION BY source
      |    ORDER BY score8 DESC, x) AS rn
      |  FROM cand)
      |SELECT source, n, n_pos, x AS split_at, nl AS n_left, pl AS pos_left,
      |  round(gain8, 6) AS gini_gain
      |FROM best WHERE rn = 1 ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // split_adversarial_auc — distinguishability audit of the md5 split
  // ---------------------------------------------------------------------

  /**
   * Adversarial-validation AUC of the train/test split: how well does a
   * feature (document length) DISTINGUISH split membership? A fair
   * random split is indistinguishable (AUC ≈ 0.5); an AUC away from 0.5
   * means the split is biased along that feature and every held-out
   * metric inherits the bias. This is the one-feature core of the
   * "adversarial validation" practice (fit a classifier to predict
   * split membership; its AUC is the leakage score) applied to the SAME
   * md5 split [[mlPsiDrift]] buckets — PSI sees marginal drift, AUC
   * prices it as a classifier would.
   *
   * Machinery: the tie-corrected rank-sum identity of [[evalAucRoc]] on
   * the (length, is_test) relation — distinct-value collapse, one
   * distributed prefix sum, exact LONG arithmetic to a single division.
   */
  def splitAdversarialAuc(s: SparkSession, dir: String): DataFrame = {
    val sc = load(s, dir, "documents")
      .filter(col("n_chars").isNotNull)
      .select(col("n_chars").cast("long").as("score"),
        (md5Mod(col("doc_id"), 5) === 0L).cast("long").as("pos"))
    val g = sc.groupBy(col("score"))
      .agg(count(lit(1)).as("c"), sum(col("pos")).as("p"))
    val r = graft.operators.Quantiles.withRunningTotal(
      g, Seq(col("score")), "c", "cum")
    // NULL-on-degenerate (the kappa/alpha convention): an all-pos or
    // all-neg split would divide by zero — Spark's Divide yields NULL but
    // DuckDB's IEEE division yields inf/NaN, so gate BOTH engines
    val auc = when(col("n_pos") > 0L && col("n_neg") > 0L,
      round((col("s2") - col("n_pos") * (col("n_pos") + lit(1L)))
        .cast("double") /
      (lit(2L) * col("n_pos") * col("n_neg")).cast("double"), 6))
    r.agg(
        sum(col("p") * (lit(2L) * (col("cum") - col("c")) +
          col("c") + lit(1L))).as("s2"),
        sum(col("p")).as("n_pos"),
        (sum(col("c")) - sum(col("p"))).as("n_neg"))
      .select(col("n_pos"), col("n_neg"), auc.as("auc"),
        (abs(auc - lit(0.5d)) > lit(0.05d)).as("biased_flag"))
  }

  private val splitAdversarialAucSql: String =
    s"""WITH s AS (
       |  SELECT CAST(n_chars AS BIGINT) AS score,
       |    CASE WHEN ${duckMd5ModExpr("doc_id", "5")} = 0 THEN 1 ELSE 0 END
       |      AS pos
       |  FROM documents WHERE n_chars IS NOT NULL),
       |g AS (SELECT score, CAST(COUNT(1) AS BIGINT) AS c,
       |        CAST(SUM(pos) AS BIGINT) AS p
       |      FROM s GROUP BY 1),
       |r AS (SELECT c, p,
       |        CAST(coalesce(SUM(c) OVER (ORDER BY score
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS BIGINT) AS cb
       |      FROM g),
       |tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       |          CAST(COUNT(1) - SUM(pos) AS BIGINT) AS n_neg
       |        FROM s)
       |SELECT n_pos, n_neg,
       |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
       |    round(CAST(SUM(p * (2*cb + c + 1)) - n_pos*(n_pos+1) AS DOUBLE)
       |      / CAST(2*n_pos*n_neg AS DOUBLE), 6) END AS auc,
       |  abs(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
       |    round(CAST(SUM(p * (2*cb + c + 1)) - n_pos*(n_pos+1) AS DOUBLE)
       |      / CAST(2*n_pos*n_neg AS DOUBLE), 6) END - 0.5) > 0.05
       |    AS biased_flag
       |FROM r CROSS JOIN tot GROUP BY n_pos, n_neg""".stripMargin

  // ---------------------------------------------------------------------
  // eval_matthews_corr — MCC of the cheap length rule vs the gopher label
  // ---------------------------------------------------------------------

  /**
   * Matthews correlation coefficient of the cheap length rule
   * (n_chars ≥ 300) against the full gopher-rules verdict, per source —
   * the single-number confusion summary that stays honest under class
   * imbalance (accuracy and F1 both inflate when one class dominates a
   * slice; MCC = 0 for any constant predictor). The same
   * predictor/label pairing [[evalMcnemar]] tests for DISAGREEMENT
   * direction; MCC grades overall agreement strength.
   *
   * Exactness: the four confusion cells are exact integer counts from
   * one aggregate; the numerator tp·tn − fp·fn folds in DECIMAL(38,0)
   * (cell products wrap LONG past ~3·10⁹ rows/source), the denominator
   * multiplies four separate square roots (√ of each margin — the
   * textbook overflow-free factoring), NULL when any margin is zero.
   * Scale: one |sources|-group hash aggregate with map-side combine.
   */
  def evalMatthewsCorr(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val t = Text.gopherPredicates.reduce(_ && _)
    val pred = col("n_chars") >= 300L
    val g = load(s, dir, "documents")
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
      .select(col("source"), pred.as("p"), t.as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p") && col("y"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("p") && !col("y"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("p") && col("y"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("p") && !col("y"), 1L).otherwise(0L)).as("tn"))
    val num = (col("tp").cast(d38) * col("tn") -
      col("fp").cast(d38) * col("fn")).cast("double")
    val den = sqrt((col("tp") + col("fp")).cast("double")) *
      sqrt((col("tp") + col("fn")).cast("double")) *
      sqrt((col("tn") + col("fp")).cast("double")) *
      sqrt((col("tn") + col("fn")).cast("double"))
    g.select(col("source"), col("n"), col("tp"), col("fp"), col("fn"),
        col("tn"),
        (round(when(col("tp") + col("fp") > 0L && col("tp") + col("fn") > 0L &&
          col("tn") + col("fp") > 0L && col("tn") + col("fn") > 0L,
          num / den), 6) + lit(0.0)).as("mcc"))
      .orderBy(col("source"))
  }

  private val evalMatthewsCorrSql: String =
    """WITH f AS (
      |  SELECT source,
      |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words,
      |    CAST(length(text) AS BIGINT) AS tchars,
      |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars,
      |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS sym_chars,
      |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit_chars,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> w IN ('the', 'of', 'and', 'to', 'in'))) AS BIGINT) AS n_stop,
      |    CAST(n_chars AS BIGINT) AS n_chars
      |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      |p AS (
      |  SELECT source,
      |    (n_words >= 50 AND 3 * n_words <= word_chars
      |      AND word_chars <= 10 * n_words AND 10 * sym_chars <= tchars
      |      AND n_stop >= 2 AND 5 * digit_chars <= tchars) AS y,
      |    n_chars >= 300 AS p
      |  FROM f),
      |g AS (
      |  SELECT source, CAST(COUNT(1) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN p AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(SUM(CASE WHEN p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |    CAST(SUM(CASE WHEN NOT p AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |    CAST(SUM(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM p GROUP BY source)
      |SELECT source, n, tp, fp, fn, tn,
      |  round(CASE WHEN tp + fp > 0 AND tp + fn > 0
      |      AND tn + fp > 0 AND tn + fn > 0 THEN
      |    CAST(CAST(tp AS DECIMAL(38,0)) * tn
      |      - CAST(fp AS DECIMAL(38,0)) * fn AS DOUBLE)
      |    / (sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE))
      |       * sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE)))
      |    END, 6) + 0.0 AS mcc
      |FROM g ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // eval_lift_deciles — score-ranked decile lift / cumulative-gains table
  // ---------------------------------------------------------------------

  /**
   * Decile lift and cumulative-gains table for the deterministic
   * Knuth-hash score against the parity label (the [[evalEceBins]]
   * score/label pairing): rank all rows by score DESCENDING, cut into 10
   * equal-population deciles, and report each decile's response rate,
   * lift over the base rate, and the cumulative gain curve — the
   * campaign-targeting readout the reference's conversion pipelines feed
   * into audience sizing (top-decile lift decides how deep to mail).
   *
   * Determinism: deciles derive from EXACT integer ranks — scores
   * collapse to one row per distinct hash value, the inclusive prefix
   * count comes from [[graft.operators.Quantiles.withRunningTotal]]
   * (range-partitioned distributed prefix sum, ordered by the negated
   * hash so decile 1 is the TOP of the score range), and the decile is
   * the pure-integer ⌈10·cum/n⌉ = (10·cum + n − 1) div n — a
   * value-group straddling a boundary lands in its LAST element's
   * decile on both engines. n and total positives fold in as 1-row
   * driver scalars; cumulative columns are windows over the ≤10-row
   * decile relation.
   */
  def evalLiftDeciles(s: SparkSession, dir: String): DataFrame = {
    val k = (col("vec_id") * lit(2654435761L)) % lit(1000003L)
    val base = load(s, dir, "embeddings")
      .filter(col("vec_id").isNotNull && col("label").isNotNull)
      .select((-k).as("nk"), (col("label") % 2 === 1).cast("long").as("pos"))
    val g = base.groupBy(col("nk"))
      .agg(count(lit(1)).as("c"), sum(col("pos")).as("p"))
      .transform(cached)
    // n / total positives: exact 1-row model scalars (the Dunn convention)
    val tot = g.agg(sum(col("c")), sum(col("p"))).first()
    val n = if (tot.isNullAt(0)) 0L else tot.getLong(0)
    val np = if (tot.isNullAt(1)) 0L else tot.getLong(1)
    if (n == 0L) {
      import org.apache.spark.sql.types._
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("decile", LongType),
          StructField("n", LongType), StructField("n_pos", LongType),
          StructField("resp_rate", DoubleType), StructField("lift", DoubleType),
          StructField("cum_gain", DoubleType), StructField("cum_pct", DoubleType))))
    }
    val r = graft.operators.Quantiles.withRunningTotal(
      g, Seq(col("nk")), "c", "cum")
    val agg = r
      .select(expr(s"(10 * cum + ${n - 1L}) div ${n}").as("decile"),
        col("c"), col("p"))
      .groupBy(col("decile"))
      .agg(sum(col("c")).as("n_d"), sum(col("p")).as("pos_d"))
    val cw = Window.partitionBy(Tables.zeroPart(col("decile")))
      .orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val baseRate = lit(np.toDouble) / lit(n.toDouble)
    agg
      .withColumn("cum_pos", sum(col("pos_d")).over(cw))
      .withColumn("cum_n", sum(col("n_d")).over(cw))
      .select(col("decile"), col("n_d").as("n"), col("pos_d").as("n_pos"),
        round(col("pos_d").cast("double") / col("n_d").cast("double"), 6)
          .as("resp_rate"),
        round(when(lit(np) > 0L,
          col("pos_d").cast("double") / col("n_d").cast("double") / baseRate), 6)
          .as("lift"),
        round(when(lit(np) > 0L,
          col("cum_pos").cast("double") / lit(np.toDouble)), 6).as("cum_gain"),
        round(col("cum_n").cast("double") / lit(n.toDouble), 6).as("cum_pct"))
      .orderBy(col("decile"))
  }

  private val evalLiftDecilesSql: String =
    """WITH s AS (
      |  SELECT -((vec_id * 2654435761) % 1000003) AS nk,
      |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos
      |  FROM embeddings
      |  WHERE vec_id IS NOT NULL AND label IS NOT NULL),
      |g AS (SELECT nk, CAST(COUNT(1) AS BIGINT) AS c,
      |        CAST(SUM(pos) AS BIGINT) AS p
      |      FROM s GROUP BY 1),
      |r AS (SELECT c, p,
      |        CAST(SUM(c) OVER (ORDER BY nk
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS BIGINT) AS cum
      |      FROM g),
      |tot AS (SELECT CAST(COUNT(1) AS BIGINT) AS n,
      |          CAST(SUM(pos) AS BIGINT) AS np
      |        FROM s),
      |dd AS (SELECT (10 * cum + n - 1) // n AS decile, c, p
      |       FROM r CROSS JOIN tot),
      |agg AS (SELECT decile, CAST(SUM(c) AS BIGINT) AS n_d,
      |          CAST(SUM(p) AS BIGINT) AS pos_d
      |        FROM dd GROUP BY 1)
      |SELECT decile, n_d AS n, pos_d AS n_pos,
      |  round(CAST(pos_d AS DOUBLE) / CAST(n_d AS DOUBLE), 6) AS resp_rate,
      |  round(CASE WHEN np > 0 THEN CAST(pos_d AS DOUBLE) / CAST(n_d AS DOUBLE)
      |    / (CAST(np AS DOUBLE) / CAST(n AS DOUBLE)) END, 6) AS lift,
      |  round(CASE WHEN np > 0 THEN
      |    CAST(SUM(pos_d) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(np AS DOUBLE) END, 6) AS cum_gain,
      |  round(CAST(SUM(n_d) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(n AS DOUBLE), 6) AS cum_pct
      |FROM agg CROSS JOIN tot ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------------
  // ml_adaboost_step — one boosting round: best stump, α, reweighting
  // ---------------------------------------------------------------------

  /**
   * One AdaBoost.M1 round (Freund & Schapire 1997) from uniform weights:
   * scan every threshold stump x ≤ t (both polarities) over document
   * length vs the is-English label, pick the minimum-error stump, and
   * report ε, α = ½ln((1−ε)/ε), and the NORMALIZED per-example weights
   * the next round would train against. Complements [[mlStumpSplit]]
   * (one Gini tree split per source) with the boosting-loop step — and
   * exposes the AdaBoost invariant directly: after reweighting, the
   * wrong and right halves each carry total mass ½, so the per-example
   * weights are pure count arithmetic, 1/(2·n_err) and 1/(2·(n−n_err)).
   *
   * Determinism: stump errors are EXACT integers from the cumulative
   * (value, count, pos) relation — candidate selection happens entirely
   * in integer space (tie-break: error, threshold, polarity); ε/α/weights
   * are one final double expression each, NULL α when the stump is
   * perfect or useless (ε ∈ {0, 1} — log diverges). Scale: cumulative
   * counts window over the DISTINCT length domain (the
   * [[graft.queries.Governance]] value-domain convention), candidates =
   * 2·|domain| rows; n/n_pos fold in as 1-row driver scalars.
   */
  def mlAdaboostStep(s: SparkSession, dir: String): DataFrame = {
    val base = load(s, dir, "documents")
      .filter(col("n_chars").isNotNull && col("lang").isNotNull)
      .select(col("n_chars").cast("long").as("x"),
        (col("lang") === "en").cast("long").as("y"))
    val gv = base.groupBy(col("x"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
      .transform(cached)
    val tot = gv.agg(sum(col("c")), sum(col("p"))).first()
    val n = if (tot.isNullAt(0)) 0L else tot.getLong(0)
    val nPos = if (tot.isNullAt(1)) 0L else tot.getLong(1)
    if (n == 0L) {
      import org.apache.spark.sql.types._
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("n", LongType), StructField("n_pos", LongType),
          StructField("split_at", LongType), StructField("polarity", LongType),
          StructField("n_err", LongType), StructField("eps", DoubleType),
          StructField("alpha", DoubleType),
          StructField("w_wrong_each", DoubleType),
          StructField("w_correct_each", DoubleType))))
    }
    val cw = Window.partitionBy(Tables.zeroPart(col("x"))).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = gv
      .withColumn("nl", sum(col("c")).over(cw))
      .withColumn("pl", sum(col("p")).over(cw))
      .filter(col("nl") < lit(n)) // an empty right child is not a split
    // predict-1-left errors: negatives left + positives right (exact ints)
    val errP = (col("nl") - col("pl")) + (lit(nPos) - col("pl"))
    val cand = cum.select(col("x"),
        explode(array(
          struct(lit(1L).as("polarity"), errP.as("n_err")),
          struct(lit(-1L).as("polarity"), (lit(n) - errP).as("n_err"))))
          .as("s"))
      .select(col("x"), col("s.polarity").as("polarity"),
        col("s.n_err").as("n_err"))
    val ow = Window.partitionBy(Tables.zeroPart(col("x")))
      .orderBy(col("n_err"), col("x"), col("polarity").desc)
    val eps = col("n_err").cast("double") / lit(n.toDouble)
    cand
      .withColumn("rn", row_number().over(ow))
      .filter(col("rn") === 1)
      .select(lit(n).as("n"), lit(nPos).as("n_pos"), col("x").as("split_at"),
        col("polarity"), col("n_err"),
        round(eps, 6).as("eps"),
        (round(when(col("n_err") > 0L && col("n_err") < lit(n),
          lit(0.5d) * log((lit(1.0d) - eps) / eps)), 6) + lit(0.0)).as("alpha"),
        round(when(col("n_err") > 0L,
          lit(1.0d) / (lit(2.0d) * col("n_err").cast("double"))), 6)
          .as("w_wrong_each"),
        round(when(col("n_err") < lit(n),
          lit(1.0d) / (lit(2.0d) * (lit(n) - col("n_err")).cast("double"))), 6)
          .as("w_correct_each"))
  }

  private def mlAdaboostStepSql: String =
    """WITH base AS (
      |  SELECT CAST(n_chars AS BIGINT) AS x,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
      |gv AS (SELECT x, CAST(COUNT(1) AS BIGINT) AS c,
      |         CAST(SUM(y) AS BIGINT) AS p
      |       FROM base GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
      |          CAST(SUM(p) AS BIGINT) AS np FROM gv),
      |cum AS (
      |  SELECT x,
      |    CAST(SUM(c) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
      |    CAST(SUM(p) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pl
      |  FROM gv),
      |cand AS (
      |  SELECT x, 1 AS polarity, (nl - pl) + (np - pl) AS n_err
      |  FROM cum CROSS JOIN tot WHERE nl < n
      |  UNION ALL
      |  SELECT x, -1 AS polarity, n - ((nl - pl) + (np - pl)) AS n_err
      |  FROM cum CROSS JOIN tot WHERE nl < n),
      |best AS (
      |  SELECT x, polarity, n_err,
      |    ROW_NUMBER() OVER (ORDER BY n_err, x, polarity DESC) AS rn
      |  FROM cand)
      |SELECT n, np AS n_pos, x AS split_at, CAST(polarity AS BIGINT)
      |    AS polarity, n_err,
      |  round(CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE), 6) AS eps,
      |  round(CASE WHEN n_err > 0 AND n_err < n THEN
      |    0.5 * ln((1.0 - CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE))) END, 6) + 0.0
      |    AS alpha,
      |  round(CASE WHEN n_err > 0 THEN
      |    1.0 / (2.0 * CAST(n_err AS DOUBLE)) END, 6) AS w_wrong_each,
      |  round(CASE WHEN n_err < n THEN
      |    1.0 / (2.0 * CAST(n - n_err AS DOUBLE)) END, 6) AS w_correct_each
      |FROM best CROSS JOIN tot WHERE rn = 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ml_adaboost_step" -> (mlAdaboostStep _),
    "eval_matthews_corr" -> (evalMatthewsCorr _),
    "eval_lift_deciles" -> (evalLiftDeciles _),
    "split_adversarial_auc" -> (splitAdversarialAuc _),
    "ml_stump_split" -> (mlStumpSplit _),
    "eval_cost_curve" -> (evalCostCurve _),
    "ml_feature_corr" -> (mlFeatureCorr _),
    "eval_krippendorff" -> (evalKrippendorff _),
    "eval_avg_precision" -> (evalAvgPrecision _),
    "eval_cohens_kappa" -> (evalCohensKappa _),
    "eval_mcnemar" -> (evalMcnemar _),
    "eval_gwet_ac1" -> (evalGwetAc1 _),
    "ml_isotonic_bins" -> (mlIsotonicBins _),
    "pref_bt_step" -> (prefBtStep _),
    "ml_platt_step" -> (mlPlattStep _),
    "eval_auc_roc" -> (evalAucRoc _),
    "eval_ece_bins" -> (evalEceBins _),
    "eval_brier_decomp" -> (evalBrierDecomp _),
    "ml_target_encoding" -> (mlTargetEncoding _),
    "ml_psi_drift" -> (mlPsiDrift _),
    "split_kfold" -> (splitKfold _),
    "split_temporal_embargo" -> (splitTemporalEmbargo _),
    "ml_negative_sample" -> (mlNegativeSample _),
    "stats_mad_outliers" -> (statsMadOutliers _),
    "ml_split_leakage" -> (mlSplitLeakage _),
    "stats_key_skew" -> (statsKeySkew _),
    "seq_transition_matrix" -> (seqTransitionMatrix _))

  val oracle: Map[String, String] = Map(
    "ml_adaboost_step" -> mlAdaboostStepSql,
    "eval_matthews_corr" -> evalMatthewsCorrSql,
    "eval_lift_deciles" -> evalLiftDecilesSql,
    "split_adversarial_auc" -> splitAdversarialAucSql,
    "ml_stump_split" -> mlStumpSplitSql,
    "eval_cost_curve" -> evalCostCurveSql,
    "ml_feature_corr" -> mlFeatureCorrSql,
    "eval_krippendorff" -> evalKrippendorffSql,
    "eval_avg_precision" -> evalAvgPrecisionSql,
    "eval_cohens_kappa" -> evalCohensKappaSql,
    "eval_mcnemar" -> evalMcnemarSql,
    "eval_gwet_ac1" -> evalGwetAc1Sql,
    "ml_isotonic_bins" -> mlIsotonicBinsSql,
    "pref_bt_step" -> prefBtStepSql,
    "ml_platt_step" ->
      """WITH base AS (
        |  SELECT
        |    round(CAST((vec_id * 2654435761) % 1000003 AS DOUBLE) / 1000003.0, 8)
        |      AS s,
        |    CAST(CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS DOUBLE) AS y
        |  FROM embeddings WHERE vec_id IS NOT NULL AND label IS NOT NULL),
        |pw AS (
        |  SELECT s, y,
        |    1.0 / (1.0 + exp(-s)) AS p,
        |    (1.0 / (1.0 + exp(-s))) * (1.0 - 1.0 / (1.0 + exp(-s))) AS w
        |  FROM base),
        |agg AS (
        |  SELECT CAST(COUNT(1) AS BIGINT) AS n,
        |    SUM(CAST(round((p - y) * s, 8) AS DECIMAL(30,8))) AS ga,
        |    SUM(CAST(round(p - y, 8) AS DECIMAL(30,8))) AS gb,
        |    SUM(CAST(round(w * s * s, 8) AS DECIMAL(30,8))) AS hss,
        |    SUM(CAST(round(w * s, 8) AS DECIMAL(30,8))) AS hs,
        |    SUM(CAST(round(w, 8) AS DECIMAL(30,8))) AS hw
        |  FROM pw)
        |SELECT n,
        |  round(CAST(ga AS DOUBLE), 6) AS grad_a,
        |  round(CAST(gb AS DOUBLE), 6) AS grad_b,
        |  round(CAST(hss AS DOUBLE) * CAST(hw AS DOUBLE)
        |    - CAST(hs AS DOUBLE) * CAST(hs AS DOUBLE), 6) AS hess_det,
        |  round(CASE WHEN CAST(hss AS DOUBLE) * CAST(hw AS DOUBLE)
        |      - CAST(hs AS DOUBLE) * CAST(hs AS DOUBLE) <> 0.0
        |    THEN 1.0 - (CAST(hw AS DOUBLE) * CAST(ga AS DOUBLE)
        |        - CAST(hs AS DOUBLE) * CAST(gb AS DOUBLE))
        |      / (CAST(hss AS DOUBLE) * CAST(hw AS DOUBLE)
        |        - CAST(hs AS DOUBLE) * CAST(hs AS DOUBLE)) END, 6) AS a1,
        |  round(CASE WHEN CAST(hss AS DOUBLE) * CAST(hw AS DOUBLE)
        |      - CAST(hs AS DOUBLE) * CAST(hs AS DOUBLE) <> 0.0
        |    THEN 0.0 - (CAST(hss AS DOUBLE) * CAST(gb AS DOUBLE)
        |        - CAST(hs AS DOUBLE) * CAST(ga AS DOUBLE))
        |      / (CAST(hss AS DOUBLE) * CAST(hw AS DOUBLE)
        |        - CAST(hs AS DOUBLE) * CAST(hs AS DOUBLE)) END, 6) AS b1
        |FROM agg""".stripMargin,
    "eval_auc_roc" -> evalAucRocSql,
    "eval_ece_bins" -> evalEceBinsSql,
    "eval_brier_decomp" -> evalBrierDecompSql,
    "ml_target_encoding" -> mlTargetEncodingSql,
    "ml_psi_drift" ->
      s"""WITH base AS (
         |  SELECT CASE WHEN ${duckMd5ModExpr("doc_id", "5")} = 0
         |      THEN 'test' ELSE 'train' END AS grp,
         |    n_chars // $PsiBucket AS bin
         |  FROM documents WHERE n_chars IS NOT NULL),
         |cb AS (SELECT grp, bin, CAST(COUNT(1) AS BIGINT) AS c
         |       FROM base GROUP BY 1, 2),
         |tot AS (
         |  SELECT
         |    (SELECT coalesce(SUM(c), 0) FROM cb WHERE grp = 'train') AS n_train,
         |    (SELECT coalesce(SUM(c), 0) FROM cb WHERE grp = 'test') AS n_test,
         |    (SELECT COUNT(DISTINCT bin) FROM cb) AS nb),
         |grid AS (
         |  SELECT b.bin,
         |    CAST(coalesce(tr.c, 0) AS BIGINT) AS c_train,
         |    CAST(coalesce(te.c, 0) AS BIGINT) AS c_test
         |  FROM (SELECT DISTINCT bin FROM cb) b
         |  LEFT JOIN (SELECT bin, c FROM cb WHERE grp = 'train') tr ON b.bin = tr.bin
         |  LEFT JOIN (SELECT bin, c FROM cb WHERE grp = 'test') te ON b.bin = te.bin)
         |SELECT CAST(bin AS BIGINT) AS bin, c_train, c_test,
         |  round((CAST(c_train + 1 AS DOUBLE) / (n_train + nb)
         |       - CAST(c_test + 1 AS DOUBLE) / (n_test + nb))
         |    * ln((CAST(c_train + 1 AS DOUBLE) / (n_train + nb))
         |        / (CAST(c_test + 1 AS DOUBLE) / (n_test + nb))), 8) AS psi_term
         |FROM grid CROSS JOIN tot
         |ORDER BY bin""".stripMargin,
    "split_kfold" ->
      s"""WITH base AS (
         |  SELECT doc_id, coalesce(lang, '') AS lang,
         |    ${duckMd5ModExpr("doc_id", KFolds.toString)} AS fold
         |  FROM documents),
         |fl AS (SELECT fold, lang, CAST(COUNT(1) AS BIGINT) AS c_fl
         |       FROM base GROUP BY 1, 2),
         |f AS (SELECT fold, CAST(SUM(c_fl) AS BIGINT) AS n_f FROM fl GROUP BY 1),
         |l AS (SELECT lang, CAST(COUNT(1) AS BIGINT) AS c_l FROM base GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(1) AS BIGINT) AS n FROM base),
         |grid AS (
         |  SELECT g.fold, l.lang, l.c_l FROM l
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${KFolds - 1})) AS fold) g),
         |dev AS (
         |  SELECT grid.fold, f.n_f,
         |    round(CAST(abs(CAST(coalesce(fl.c_fl, 0) AS DECIMAL(38,0)) * tot.n
         |        - CAST(grid.c_l AS DECIMAL(38,0)) * f.n_f) AS DOUBLE)
         |      / (CAST(f.n_f AS DOUBLE) * tot.n), 6) AS dev
         |  FROM grid
         |  LEFT JOIN fl ON grid.fold = fl.fold AND grid.lang = fl.lang
         |  JOIN f ON grid.fold = f.fold
         |  CROSS JOIN tot)
         |SELECT fold, CAST(max(n_f) AS BIGINT) AS n_docs,
         |  max(dev) AS max_share_dev
         |FROM dev GROUP BY fold ORDER BY fold""".stripMargin,
    "split_temporal_embargo" -> splitTemporalEmbargoSql,
    "ml_negative_sample" -> mlNegativeSampleSql,
    "stats_mad_outliers" -> statsMadOutliersSql,
    "ml_split_leakage" -> mlSplitLeakageSql,
    "stats_key_skew" -> statsKeySkewSql,
    "seq_transition_matrix" -> seqTransitionMatrixSql)
}
