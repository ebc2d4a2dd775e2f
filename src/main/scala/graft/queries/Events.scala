package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._
import graft.core.QueryCaches.cached

/**
 * Window / event-stream operator inventory (SURVEY §2.2 window rows) on the
 * `events` table.
 *
 * Timestamp convention: the parquet `ts` column is nanosecond-precision,
 * read as a raw ns LONG (see Tables.events). Window ordering uses the raw
 * ns value — bit-identical to DuckDB's TIMESTAMP_NS ordering — and emitted
 * instants go through `ts DIV 1000` == DuckDB `epoch_us(ts)`.
 *
 * Scale notes: all windows are partitioned by `user_id` (hash-distributed,
 * no global sort) except NTILE, which the reference uses for
 * conversion-value segmentation — a deliberately global, single-pass window
 * over the *aggregated* (small) relation, mirroring model_bqml.sql:49.
 */
object Events {

  private def ev(s: SparkSession, dir: String): DataFrame =
    events(s, dir)

  /** Microsecond epoch from the raw nanosecond long (matches DuckDB
    * epoch_us truncation for positive epochs). */
  private val epochUsExpr = "ts DIV 1000"
  private def epochUs(): org.apache.spark.sql.Column = expr(epochUsExpr)

  /** First-event-per-user dedup: ROW_NUMBER() ... = 1
    * (model_bqml.sql:134-138; output.sql:112,118). */
  def q10FirstEvent(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("first_event_type"),
        col("value").as("first_value"), epochUs().as("first_ts_us"))
      .orderBy(col("user_id"))
  }

  /** Global NTILE segmentation over an aggregated relation
    * (model_bqml.sql:49): per-user value totals → 10 segments → stats.
    * The unpartitioned NTILE runs via [[graft.operators.Quantiles]] —
    * distributed two-pass exact ranks, never a single-partition window. */
  def q11Ntile(s: SparkSession, dir: String): DataFrame = {
    val perUser = ev(s, dir)
      .groupBy(col("user_id"))
      .agg(dsum(col("value")).as("user_total"))
    // NULLS LAST explicitly: a user whose every event value is NULL sums
    // to a NULL total, and Spark's ascending default (NULLS FIRST) would
    // shift every bucket by one vs DuckDB's NULLS LAST
    graft.operators.Quantiles
      .withNtile(perUser, 10, Seq(col("user_total").asc_nulls_last, col("user_id")), "segment")
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_users"),
        min(col("user_total")).as("lo"),
        max(col("user_total")).as("hi"))
      .orderBy(col("segment"))
  }

  /**
   * Weekly cohort retention — the activation/retention triangle every
   * marketing-analytics stack reports (and the reference's GA-flavored
   * domain lives on): users are cohorted by the ISO week of their FIRST
   * event; for each (cohort week, week offset) the distinct active users.
   *
   * Scale: two shuffles on `user_id` (first-event rollup and the
   * user-week distinct — both map-side combinable), an equi-join back on
   * `user_id`, and a final ≤(weeks²) aggregation whose shuffle is
   * metadata-sized. date_trunc('week') is ISO-Monday on both engines.
   */
  /** Per-user cohort week (ISO week of the first event) — shared by the
    * retention and LTV triangles so the two can never disagree. */
  private def cohortWeeks(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(col("user_id"))
      .agg(to_date(date_trunc("week", timestamp_micros(min(epochUs())))).as("cohort_week"))

  def qCohortRetention(s: SparkSession, dir: String): DataFrame = {
    val w = date_trunc("week", timestamp_micros(epochUs()))
    val active = ev(s, dir)
      .select(col("user_id"), to_date(w).as("w"))
      .distinct()
    active.join(cohortWeeks(s, dir), "user_id")
      .groupBy(col("cohort_week"),
        expr("CAST(datediff(w, cohort_week) DIV 7 AS BIGINT)").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /**
   * Cohort LTV triangle — the revenue companion of [[qCohortRetention]]:
   * per (cohort week, week offset), the exact-DECIMAL revenue that week
   * and the cumulative revenue through it (the curve a lifetime-value
   * model is fit to). Offsets with no activity are simply absent — the
   * cumulative is over observed weeks.
   *
   * Scale: one user-keyed equi-join (events ⋈ cohort table), one
   * map-side-combined rollup to ≤weeks² rows; the running total is a
   * window over that POST-AGGREGATION metadata-sized relation (partition
   * key = cohort week — a real partition spec, never a single global
   * sort of raw events). Money stays DECIMAL until the final cast.
   */
  def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = date_trunc("week", timestamp_micros(epochUs()))
    val rev = ev(s, dir)
      .select(col("user_id"), to_date(w).as("w"), dec(col("value")).as("v"))
      .join(cohortWeeks(s, dir), "user_id")
      .groupBy(col("cohort_week"),
        expr("CAST(datediff(w, cohort_week) DIV 7 AS BIGINT)").as("week_offset"))
      .agg(coalesce(sum(col("v")), lit(0).cast(org.apache.spark.sql.types
        .DataTypes.createDecimalType(12, 2))).as("revd"))
    val cum = Window.partitionBy(col("cohort_week"))
      .orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .select(col("cohort_week"), col("week_offset"),
        col("revd").cast("double").as("revenue"),
        sum(col("revd")).over(cum).cast("double").as("cum_revenue"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Lookback window for multi-touch attribution (7 days, in the ts
    * column's nanosecond unit). */
  private val AttribWindowNs = 7L * 86400L * 1000000000L

  /**
   * Linear multi-touch attribution — the credit model a marketing stack
   * runs beyond last-click: every purchase's value is split EQUALLY
   * across the user's view/click touchpoints in the preceding 7 days,
   * and a conversion with no in-window touchpoint keeps full credit in a
   * `direct` bucket. Output is the per-channel (touch type) credit
   * rollup the budget-allocation report reads.
   *
   * Scale: the conversion↔touch pairing is a `user_id` equi-join with
   * the time window as a residual predicate (bounded per user — never a
   * cross join); the per-conversion touch count is a window over
   * `conv_id` (same single shuffle), and the channel rollup is
   * map-side-combined. Determinism: per-touch credit is one IEEE
   * division rounded to 6 dp, summed as exact DECIMAL.
   */
  def qAttributionLinear(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = ev(s, dir)
    val conv = e.filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("event_id").as("conv_id"), col("user_id"),
        col("ts").as("cts"), col("value"))
    val touch = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("tuid"), col("ts").as("tts"),
        col("event_type").as("touch_type"))
    // the time window is part of the JOIN condition, not a post-filter:
    // a conversion whose touches are all outside the window must still
    // surface as one unmatched (`direct`) row, not vanish
    conv.join(touch,
        col("user_id") === col("tuid") &&
          col("tts") < col("cts") && col("tts") >= col("cts") - lit(AttribWindowNs),
        "left")
      .withColumn("n_touch", count(lit(1)).over(Window.partitionBy(col("conv_id"))))
      .select(coalesce(col("touch_type"), lit("direct")).as("touch_type"),
        round(col("value") / col("n_touch"), 6).as("credit"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("credit").cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(30, 8))).cast("double"), 6).as("credited_value"))
      .orderBy(col("touch_type"))
  }

  /**
   * Time-decay multi-touch attribution — [[qAttributionLinear]]'s
   * recency-weighted sibling (the third classic credit model next to
   * linear and U-shape): a touchpoint's credit halves for every day
   * between it and the conversion (half-life = 1 day over the same
   * 7-day lookback), so yesterday's click out-earns last week's view.
   * Unmatched conversions keep full credit in the `direct` bucket.
   *
   * Same join shape as linear (user_id equi-join, window as residual
   * predicate, per-conversion normalizer as a `conv_id` window).
   * Determinism: the decay weight is an EXACT dyadic rational — w =
   * 1/2^k with k = whole elapsed days (integer division of the raw
   * nanosecond timestamps, capped at 2^20) — so the per-conversion Σw
   * is exact in a double (common denominator 2^20, numerators ≪ 2^53)
   * and the share w/Σw is one IEEE division on both engines; never a
   * pow()/exp() whose libm could differ.
   */
  def qAttributionTimeDecay(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = ev(s, dir)
    val conv = e.filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("event_id").as("conv_id"), col("user_id"),
        col("ts").as("cts"), col("value"))
    val touch = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("tuid"), col("ts").as("tts"),
        col("event_type").as("touch_type"))
    val w = when(col("touch_type").isNull, lit(1.0d))
      .otherwise(lit(1.0d) / expr(
        "shiftleft(CAST(1 AS BIGINT), " +
          "CAST(least((cts - tts) DIV 86400000000000, 20) AS INT))")
        .cast("double"))
    conv.join(touch,
        col("user_id") === col("tuid") &&
          col("tts") < col("cts") && col("tts") >= col("cts") - lit(AttribWindowNs),
        "left")
      .withColumn("w", w)
      .withColumn("sw", sum(col("w")).over(Window.partitionBy(col("conv_id"))))
      .select(coalesce(col("touch_type"), lit("direct")).as("touch_type"),
        round(col("value") * (col("w") / col("sw")), 6).as("credit"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("credit").cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(30, 8))).cast("double"), 6).as("credited_value"))
      .orderBy(col("touch_type"))
  }

  /**
   * Sample-ratio-mismatch (SRM) gate over the md5 user hash-split — the
   * first thing an experimentation platform checks before reading ANY
   * A/B metric: if the 50/50 assignment's realized unit counts fail a
   * χ²(1) test, the experiment is corrupted (selective logging, bot
   * filtering skew, assignment bug) and every downstream readout is
   * invalid. Units are distinct users per event_type slice, assigned by
   * the same md5-mod family as the ML train/test split, so the gate
   * audits the split machinery the pipeline actually ships.
   *
   * Scale: one (event_type, arm) distinct-user aggregate — the
   * countDistinct shuffles (user, type) pairs once; everything after is
   * a ≤|event types|-row projection. Determinism: counts are exact
   * integers; e = n/2 is an exact dyadic, the χ² is the same three IEEE
   * ops on both engines; the 3.841459 flag threshold (χ²₀.₀₅,df=1)
   * compares a rounded value.
   */
  def qAbTestSrm(s: SparkSession, dir: String): DataFrame = {
    val arm = conv(substring(md5(col("user_id").cast("string")), 1, 8),
      16, 10).cast("long") % 2L
    val g = ev(s, dir)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("user_id"), arm.as("arm"))
      .groupBy(col("event_type"))
      .agg(countDistinct(when(col("arm") === 0L, col("user_id"))).as("n_a"),
        countDistinct(when(col("arm") === 1L, col("user_id"))).as("n_b"))
    val e = (col("n_a") + col("n_b")).cast("double") / lit(2.0d)
    val chi2 = (col("n_a").cast("double") - e) * (col("n_a").cast("double") - e) / e +
      (col("n_b").cast("double") - e) * (col("n_b").cast("double") - e) / e
    g.select(col("event_type"), col("n_a"), col("n_b"),
        round(chi2, 6).as("chi2"),
        (round(chi2, 6) > lit(3.841459d)).as("srm_flag"))
      .orderBy(col("event_type"))
  }

  /** Channel taxonomy for the Markov attribution model — the
    * non-absorbing event types of the reference event stream, FIXED (and
    * lexicographic) so both engines iterate the same state order;
    * events outside the taxonomy are ignored by contract. */
  private val MarkovChannels = Seq("click", "error", "signup", "view")

  /** Fixed-point iterations for the absorption solve (geometric
    * convergence; 60 rounds drive the residual far below double ulp for
    * any substochastic transient matrix). */
  private val MarkovIters = 60

  /**
   * Markov removal-effect attribution — the DATA-DRIVEN credit model
   * that completes the heuristic family ([[qAttributionLinear]] /
   * [[qAttributionUshape]] / [[qAttributionTimeDecay]]): fit a
   * first-order Markov chain on user journeys (start → touch types →
   * purchase | null, truncated at the FIRST purchase — the
   * q10_first_event convention), then price each channel by how much the
   * start→purchase absorption probability DROPS when the channel is
   * removed (its transitions redirect to null). Credit shares are the
   * normalized removal effects; attributed value scales the exact
   * DECIMAL total of first-purchase values.
   *
   * Spark-first scale shape: journey extraction is one user-partitioned
   * window pass (transitions) + one terminal rollup; the collected
   * transition matrix is ≤ (|taxonomy|+2)² rows — MODEL PARAMETERS (the
   * k-means-centroid convention), never data. The absorption solve runs
   * [[MarkovIters]] fixed-point rounds driver-side.
   *
   * Determinism: NO intermediate rounding anywhere — every iteration is
   * the same left-to-right IEEE multiply-add chain over the same
   * division-exact probabilities on both engines (the oracle replays the
   * identical recursion in a recursive CTE), so raw doubles match to the
   * bit; absent channels contribute exact +0.0 terms (IEEE identity).
   */
  def qAttributionMarkov(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val taxonomy = MarkovChannels :+ "purchase"
    val e = ev(s, dir)
      .filter(col("user_id").isNotNull && col("event_type").isin(taxonomy: _*))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
    val fp = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("fp"))
    val kept = e.join(fp, Seq("user_id"), "left")
      .filter(col("fp").isNull || struct(col("ts"), col("event_id")) <= col("fp"))
      .transform(cached)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val steps = kept
      .withColumn("f",
        coalesce(lag(col("event_type"), 1).over(w), lit("start")))
      .select(col("f"), col("event_type").as("t"))
    val terminals = kept.filter(col("fp").isNull)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("l"))
      .select(col("l.event_type").as("f"), lit("null").as("t"))
    val counts = steps.unionByName(terminals)
      .groupBy(col("f"), col("t")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val vRow = kept.filter(col("event_type") === "purchase")
      .agg(dsum(col("value"))).first()
    val vTot = if (vRow.isNullAt(0)) 0.0 else vRow.getDouble(0)

    val states = "start" +: MarkovChannels
    val nOut: Map[String, Long] = states.map { st =>
      st -> (MarkovChannels ++ Seq("purchase", "null"))
        .map(t => counts.getOrElse((st, t), 0L)).sum
    }.toMap
    def p(i: String, j: String): Double = {
      val n = nOut(i)
      if (n == 0L) 0.0 else counts.getOrElse((i, j), 0L).toDouble / n.toDouble
    }
    // fixed-point absorption probability from `start`, optionally with one
    // channel removed (its terms SKIPPED, not zeroed — the oracle's
    // removal recursion drops the same terms so the add chains agree)
    def absorb(removed: Option[String]): Double = {
      var v: Map[String, Double] = states.map(_ -> 0.0).toMap
      for (_ <- 1 to MarkovIters) {
        v = states.map { i =>
          i -> (if (removed.contains(i)) 0.0
          else {
            var acc = p(i, "purchase")
            MarkovChannels.foreach { j =>
              if (!removed.contains(j)) acc = acc + p(i, j) * v(j)
            }
            acc
          })
        }.toMap
      }
      v("start")
    }
    val pBase = absorb(None)
    val res = MarkovChannels.map(c => c -> absorb(Some(c))).toMap
    val re: Map[String, Option[Double]] = MarkovChannels.map { c =>
      c -> (if (pBase > 0.0) Some(1.0 - res(c) / pBase) else None)
    }.toMap
    // left-fold in channel order with exact +0.0 for NULL effects — the
    // oracle's coalesce fold adds in the same order
    val sumRe = MarkovChannels.foldLeft(0.0)((a, c) => a + re(c).getOrElse(0.0))
    val rows = MarkovChannels.map { c =>
      val nIn = ("start" +: MarkovChannels)
        .map(i => counts.getOrElse((i, c), 0L)).sum
      val share = re(c).flatMap(r => if (sumRe > 0.0) Some(r / sumRe) else None)
      (c, nIn, pBase, res(c), re(c), share, share.map(sh => vTot * sh))
    }
    import s.implicits._
    rows.toDF("channel", "n_in", "p_conv_base", "p_conv_removed",
      "removal_effect", "share", "attributed_value")
      .orderBy(col("channel"))
  }

  /** [[qAttributionMarkov]]'s oracle: the same journey extraction,
    * division-exact probabilities and fixed-point recursions spelled in
    * SQL (one recursive CTE per removal variant, identical add order). */
  private val qAttributionMarkovSql: String = {
    // state abbreviations: start→s plus channel initials; targets add p
    val abbr = Map("start" -> "s", "click" -> "c", "error" -> "e",
      "signup" -> "g", "view" -> "v", "purchase" -> "p")
    val states = Seq("start", "click", "error", "signup", "view")
    val chans = Seq("click", "error", "signup", "view")
    val pCols = (for (i <- states; j <- chans :+ "purchase") yield
      s"coalesce(MAX(CASE WHEN f = '$i' AND t = '$j' THEN " +
        s"CAST(c AS DOUBLE) / CAST(n AS DOUBLE) END), 0.0) " +
        s"AS p_${abbr(i)}_${abbr(j)}").mkString(",\n|    ")
    def update(i: String, removed: Option[String]): String = {
      val terms = chans.filterNot(removed.contains)
        .map(j => s"p_${abbr(i)}_${abbr(j)} * v${abbr(j)}")
      (s"p_${abbr(i)}_p" +: terms).mkString(" + ")
    }
    def recursion(name: String, removed: Option[String]): String = {
      val upd = states.map { i =>
        if (removed.contains(i)) "CAST(0 AS DOUBLE)" else update(i, removed)
      }.mkString(",\n|    ")
      s"""$name AS (
         |  SELECT 0 AS i, CAST(0 AS DOUBLE) AS vs, CAST(0 AS DOUBLE) AS vc,
         |    CAST(0 AS DOUBLE) AS ve, CAST(0 AS DOUBLE) AS vg,
         |    CAST(0 AS DOUBLE) AS vv
         |  UNION ALL
         |  SELECT i + 1,
         |    $upd
         |  FROM $name CROSS JOIN m WHERE i < 60)""".stripMargin
    }
    val recs = (recursion("itb", None) +:
      chans.map(c => recursion(s"it${abbr(c)}", Some(c)))).mkString(",\n|")
    val reExprs = chans.map { c =>
      s"CASE WHEN (SELECT vs FROM itb WHERE i = 60) > 0 THEN " +
        s"1.0 - (SELECT vs FROM it${abbr(c)} WHERE i = 60) " +
        s"/ (SELECT vs FROM itb WHERE i = 60) END AS re_${abbr(c)}"
    }.mkString(",\n|    ")
    val sumRe = chans.map(c => s"coalesce(re_${abbr(c)}, 0.0)")
      .reduce((a, b) => s"($a + $b)")
    val chRows = chans.map(c => s"SELECT '$c' AS channel").mkString(" UNION ALL ")
    val reOf = "CASE ch.channel " +
      chans.map(c => s"WHEN '$c' THEN re_${abbr(c)}").mkString(" ") + " END"
    s"""WITH RECURSIVE e AS (
       |  SELECT user_id, ts, event_id, event_type, value FROM events
       |  WHERE user_id IS NOT NULL
       |    AND event_type IN ('click', 'error', 'signup', 'view', 'purchase')),
       |fpx AS (
       |  SELECT user_id, ts AS fts, event_id AS fid
       |  FROM (SELECT user_id, ts, event_id,
       |          row_number() OVER (PARTITION BY user_id
       |            ORDER BY ts, event_id) AS rn
       |        FROM e WHERE event_type = 'purchase')
       |  WHERE rn = 1),
       |kept AS (
       |  SELECT e.user_id, e.ts, e.event_id, e.event_type, e.value,
       |    (fts IS NOT NULL) AS converted
       |  FROM e LEFT JOIN fpx USING (user_id)
       |  WHERE fts IS NULL OR e.ts < fts OR (e.ts = fts AND e.event_id <= fid)),
       |st AS (
       |  SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id), 'start') AS f,
       |    event_type AS t
       |  FROM kept),
       |term AS (
       |  SELECT event_type AS f, 'null' AS t
       |  FROM (SELECT event_type,
       |          row_number() OVER (PARTITION BY user_id
       |            ORDER BY ts DESC, event_id DESC) AS rn
       |        FROM kept WHERE NOT converted)
       |  WHERE rn = 1),
       |tr AS (
       |  SELECT f, t, CAST(COUNT(1) AS BIGINT) AS c
       |  FROM (SELECT * FROM st UNION ALL SELECT * FROM term)
       |  GROUP BY 1, 2),
       |nn AS (SELECT f, CAST(SUM(c) AS BIGINT) AS n FROM tr GROUP BY 1),
       |m AS (
       |  SELECT
       |    $pCols
       |  FROM tr JOIN nn USING (f)),
       |$recs,
       |vt AS (
       |  SELECT coalesce(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 0.0)
       |    AS vtot
       |  FROM kept WHERE event_type = 'purchase'),
       |res AS (
       |  SELECT (SELECT vs FROM itb WHERE i = 60) AS p_base,
       |    $reExprs),
       |ni AS (SELECT t AS channel, CAST(SUM(c) AS BIGINT) AS n_in
       |       FROM tr WHERE t IN ('click', 'error', 'signup', 'view')
       |       GROUP BY t),
       |ch AS ($chRows)
       |SELECT ch.channel,
       |  CAST(coalesce(ni.n_in, 0) AS BIGINT) AS n_in,
       |  res.p_base AS p_conv_base,
       |  CASE ch.channel
       |    WHEN 'click' THEN (SELECT vs FROM itc WHERE i = 60)
       |    WHEN 'error' THEN (SELECT vs FROM ite WHERE i = 60)
       |    WHEN 'signup' THEN (SELECT vs FROM itg WHERE i = 60)
       |    WHEN 'view' THEN (SELECT vs FROM itv WHERE i = 60)
       |  END AS p_conv_removed,
       |  $reOf AS removal_effect,
       |  CASE WHEN $sumRe > 0 THEN ($reOf) / ($sumRe) END AS share,
       |  CASE WHEN $sumRe > 0 THEN vt.vtot * (($reOf) / ($sumRe)) END
       |    AS attributed_value
       |FROM ch CROSS JOIN res CROSS JOIN vt
       |LEFT JOIN ni ON ch.channel = ni.channel
       |ORDER BY ch.channel""".stripMargin
  }

  /** RFM quintile count. */
  private val RfmBuckets = 5

  /**
   * RFM segmentation — the classic CRM audience builder (recency /
   * frequency / monetary): per user, days since last activity relative to
   * the dataset's reference day (max event date — a metadata-sized driver
   * scalar, the AQE-style statistics round-trip), event count, and exact
   * DECIMAL spend; each metric scored into quintiles where 5 is best
   * (most recent / most frequent / highest spend).
   *
   * Scale: the per-user rollup is one map-side-combined groupBy; each
   * quintile is the DISTRIBUTED exact NTILE
   * ([[graft.operators.Quantiles.withNtile]] — range partition + local
   * ranks + metadata offsets, no single-partition window), three passes
   * over the persisted per-user relation (released by the QueryCaches
   * owner). NULL spends score as 0 on both engines.
   */
  def qRfmSegments(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    val refDay = ev(s, dir).agg(max(epochUs())).first() match {
      case r if r.isNullAt(0) => None
      case r => Some(r.getLong(0))
    }
    if (refDay.isEmpty) {
      // empty events: schema-correct empty relation
      return ev(s, dir).select(col("user_id"),
        lit(0L).as("recency_days"), lit(0L).as("frequency"),
        lit(0.0).as("monetary"), lit(0L).as("r_score"),
        lit(0L).as("f_score"), lit(0L).as("m_score")).limit(0)
    }
    val refDate = to_date(timestamp_micros(lit(refDay.get)))
    val perUser = ev(s, dir)
      .groupBy(col("user_id"))
      .agg(
        datediff(refDate, to_date(timestamp_micros(max(epochUs())))).cast("long")
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        coalesce(dsum(col("value")), lit(0.0)).as("monetary"))
      .transform(cached)
    val r = Quantiles.withNtile(perUser, RfmBuckets,
      Seq(col("recency_days").desc, col("user_id")), "r_score")
    val f = Quantiles.withNtile(r, RfmBuckets,
      Seq(col("frequency").asc, col("user_id")), "f_score")
    Quantiles.withNtile(f, RfmBuckets,
      Seq(col("monetary").asc, col("user_id")), "m_score")
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"))
      .orderBy(col("user_id"))
  }

  /** Agg-then-window LAG/LEAD (model_bqml.sql:35-44): the boundary-smoothing
    * shape of the conversion-value calibration. */
  def q12LagLead(s: SparkSession, dir: String): DataFrame = {
    val agg = ev(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
    // window input is the aggregated relation (#event_types rows —
    // metadata-sized at any scale), so one partition IS the right plan;
    // the data-derived constant key states that explicitly (a lit(0)
    // would be constant-folded back to an empty partition spec)
    // NULLS LAST explicitly: Spark's ascending default is NULLS FIRST,
    // DuckDB's is NULLS LAST, so a NULL event_type group would flip its
    // LAG/LEAD neighbors between engines
    val w = Window.partitionBy(zeroPart(col("event_type")))
      .orderBy(col("event_type").asc_nulls_last)
    agg.select(col("event_type"), col("n"), col("total"),
        lag(col("total"), 1).over(w).as("prev_total"),
        lead(col("total"), 1).over(w).as("next_total"))
      .orderBy(col("event_type"))
  }

  /** Sessionization: 30-minute-gap sessions via lag + running sum — the
    * classic stateful shape, kept fully distributed (per-user windows). */
  def q21Sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    ev(s, dir)
      .withColumn("us", epochUs())
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(w) > gapUs || lag(col("us"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /**
   * Event-time sliding aggregate — a RANGE frame over microsecond event
   * time (q_range_frame): at every event, the count and exact-decimal
   * value sum of that user's trailing hour, reduced to the per-user PEAK
   * (burst detection — the "most active hour" metric). The only window
   * shape in the inventory with a value-based frame: peer rows enter by
   * time distance, not row position, so same-instant events are always
   * frame-mates regardless of tie order. Partitioned by `user_id` —
   * hash-distributed, no global sort, scale-safe like every other
   * per-user window here.
   */
  def qRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000 * 1000
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-hourUs, 0)
    ev(s, dir)
      .withColumn("us", epochUs())
      .select(col("user_id"),
        count(lit(1)).over(w).as("n_last_hour"),
        sum(dec(col("value"))).over(w).cast("double").as("val_last_hour"))
      .groupBy(col("user_id"))
      .agg(max(col("n_last_hour")).as("peak_events_hour"),
        max(col("val_last_hour")).as("peak_value_hour"))
      .orderBy(col("user_id"))
  }

  /** Per-stage attribution window (24 h in µs). */
  private val FunnelWindowUs = 86400000000L

  /**
   * Ordered 3-stage funnel (q_funnel): per user, the earliest
   * view → first click within [[FunnelWindowUs]] after that view → first
   * purchase within the window after that click, with the stage reached.
   * The marketing staple the reference's audiences are built from,
   * computed with per-stage conditional aggregation: each stage is an
   * equi-join on `user_id` (hash-shuffled, one row per user on the build
   * side) plus a time filter — never a per-user sort or a cross join of
   * a user's events.
   */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).withColumn("us", epochUs())
      .select(col("user_id"), col("event_type"), col("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("view_us"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("us") > col("view_us") && col("us") <= col("view_us") + FunnelWindowUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("click_us"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("us") > col("click_us") && col("us") <= col("click_us") + FunnelWindowUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("purchase_us"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("view_us"), col("click_us"), col("purchase_us"),
        (lit(1L) + col("click_us").isNotNull.cast("long") +
          col("purchase_us").isNotNull.cast("long")).as("stage"))
      .orderBy(col("user_id"))
  }

  /**
   * Time-series gap fill + LOCF (q_gap_fill): the dense per-user daily
   * panel — every (user, day) cell over the corpus date span, zero-filled
   * where the user was inactive, with the last ACTIVE day carried forward
   * (the classic spine-join + last-observation-carried-forward shape
   * reporting pipelines need before any day-over-day arithmetic).
   *
   * Scale shape: the date bounds come from PARTITION METADATA — the
   * `_table_suffix` directory names of the date-sharded layout (the same
   * listing `q_latest_suffix` reads), min/max'd on the driver with zero
   * Spark jobs — never a full-column min/max scan of the events relation;
   * the spine is distinct-users × explode(sequence(lo, hi)) — never a
   * cross join of two scans; the fill join is user+day hash-partitioned;
   * the LOCF window is partitioned by user. Dense-panel size (users ×
   * days) is the operator's contract, same as any reporting cube.
   */
  def qGapFill(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .withColumn("day", to_date(timestamp_micros(epochUs())))
    // shard suffixes are yyyyMMdd of the SAME ts-derived UTC date as `day`
    // (WildcardTable.suffixExpr), so the suffix range IS the day range
    val sfx = graft.sources.WildcardTable.listSuffixes(s, dir)
    // no shards (empty events table) → an empty spine: the epoch of the
    // zero-length sequence below. Any placeholder date works — the
    // user_id DISTINCT over the empty relation already has zero rows.
    val fmt = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
    val lo = java.sql.Date.valueOf(
      if (sfx.isEmpty) java.time.LocalDate.EPOCH else java.time.LocalDate.parse(sfx.min, fmt))
    val hi = java.sql.Date.valueOf(
      if (sfx.isEmpty) java.time.LocalDate.EPOCH else java.time.LocalDate.parse(sfx.max, fmt))
    val daily = e.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
    val spine = e.select(col("user_id")).distinct()
      .select(col("user_id"), explode(sequence(lit(lo), lit(hi))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("total", coalesce(col("total"), lit(0.0d)))
      .withColumn("last_active_day",
        last(when(col("n") > 0, col("day")), ignoreNulls = true).over(w))
      .select(col("user_id"), col("day"), col("n"), col("total"),
        col("last_active_day"))
      .orderBy(col("user_id"), col("day"))
  }

  /** JSON property extraction from the props column (GA4 event_params
    * analog): get_json_object + typed cast + agg. */
  def q24JsonProps(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** Hourly histogram: EXTRACT(HOUR FROM ts) bucketing (model_bqml.sql:90,125-133). */
  def q25HourBuckets(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .select(hour(timestamp_micros(epochUs())).cast("long").as("hour_of_day"),
        col("value"))
      .groupBy(col("hour_of_day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy(col("hour_of_day"))

  /** Backward as-of join ([[graft.operators.AsOfJoin]]): for every
    * purchase, the most recent same-user view at or before it — the
    * attribution lookup ("which impression preceded this conversion")
    * as one shuffle + one window, never a range-join pair blowup.
    * DuckDB's native ASOF LEFT JOIN is the oracle, so the operator's
    * inclusive/left-outer/tie semantics are hash-checked end-to-end. */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"))
    graft.operators.AsOfJoin.backward(p, v, Seq("user_id"), "ts", "ts",
        Seq("ts" -> "view_ts"))
      .select(col("event_id"), col("user_id"),
        expr("ts DIV 1000").as("ts_us"),
        expr("view_ts DIV 1000").as("view_ts_us"),
        (expr("ts DIV 1000") - expr("view_ts DIV 1000")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** Forward as-of: the next same-user click at or after each purchase —
    * the "what followed the conversion" lookup, oracle-checked against
    * DuckDB's ASOF LEFT JOIN with the reversed inequality. */
  def qAsofFwd(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
    graft.operators.AsOfJoin.forward(p, c, Seq("user_id"), "ts", "ts",
        Seq("ts" -> "click_ts"))
      .select(col("event_id"), col("user_id"),
        expr("ts DIV 1000").as("ts_us"),
        expr("click_ts DIV 1000").as("click_ts_us"),
        (expr("click_ts DIV 1000") - expr("ts DIV 1000")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** Rolling-distinct window for the stickiness denominator (days). */
  private val StickyWindowDays = 7

  /**
   * DAU/WAU stickiness — the product-analytics engagement ratio: per
   * day, distinct active users that day over distinct users in the
   * trailing [[StickyWindowDays]]-day window. The classic "how much of
   * the weekly audience shows up daily" report.
   *
   * Scale shape: rolling COUNT(DISTINCT) has no sliding-window form, so
   * the plan collapses events to distinct (user, day) FIRST (one
   * map-side-combined distinct — bounded by users × days, not events)
   * and then fans each row out to the ≤7 future days it keeps the user
   * "weekly-active" for — a bounded explode of the COLLAPSED relation,
   * never of the event stream — followed by a second distinct + count.
   * Output days are restricted to observed activity days (inner join
   * with the DAU side). All integer counts; one rounded division.
   */
  def qStickiness(s: SparkSession, dir: String): DataFrame = {
    val ud = ev(s, dir)
      .select(col("user_id"), to_date(timestamp_micros(epochUs())).as("day"))
      .distinct()
      .transform(cached)
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(transform(sequence(lit(0), lit(StickyWindowDays - 1)),
          i => date_add(col("day"), i))).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))
      .orderBy(col("day"))
  }

  /** Paths reported by the path-mining scan. */
  private val PathTopK = 20

  /**
   * Top-K 3-step behavior paths — the "what do users actually do"
   * product-analytics mine: every consecutive (event, next, next²)
   * triple per user in time order, counted corpus-wide, top
   * [[PathTopK]]. The sequence-pattern complement of
   * `seq_transition_matrix`'s first-order pairs.
   *
   * Scale shape: the two LEADs share ONE user-partitioned sort (high-
   * cardinality key — no hot partition; same window family as
   * q10/q12/q21); triples collapse in a map-side-combined groupBy and
   * the cut is a TakeOrderedAndProject. Ties break on the path string.
   */
  def qUserPaths(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(PathTopK)
  }

  /** Value-tier boundaries for the SCD-2 state history (fixed model
    * thresholds, like the RFM cut points). */
  private def valueTier(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(v.isNull, "none").when(v < 10.0d, "low").when(v < 100.0d, "mid")
      .otherwise("high")

  /**
   * SCD-2 state history via gaps-and-islands — the slowly-changing-
   * dimension build every warehouse ships: each user's event stream is
   * reduced to the history of their value tier (consecutive same-tier
   * runs collapse to one versioned row with `valid_from`/`valid_to`
   * validity bounds, half-open; the last row per user is `is_current`).
   * The standard LAG-change-flag → running-sum island id → per-island
   * rollup formulation.
   *
   * Scale shape: all three windows (change flag, island id, the closing
   * `lead`) partition on `user_id` — a real high-cardinality blocking
   * key, ONE sort shared by the first two (identical partition+order
   * spec), islands per user bounded by the user's own history. No global
   * window, no join; the rollup is map-side-combined on (user, island).
   * Ordering ties break on `event_id` — the same total order both
   * engines (see [[seqTransitionMatrix]]).
   */
  def qIslandsScd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nextIsland = Window.partitionBy(col("user_id")).orderBy(col("island"))
    ev(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        valueTier(col("value")).as("tier"))
      .withColumn("prev", lag(col("tier"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("tier"), 1L).otherwise(0L))
      .withColumn("island", sum(col("chg")).over(run))
      .groupBy(col("user_id"), col("island"), col("tier"))
      .agg(count(lit(1)).as("n_events"),
        min(expr(epochUsExpr)).as("valid_from_us"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(nextIsland))
      .select(col("user_id"), col("island"), col("tier"), col("n_events"),
        col("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy(col("user_id"), col("island"))
  }

  /**
   * Revenue Pareto curve — the 80/20 concentration report a marketing
   * team reads before segmenting spend: users rank by lifetime purchase
   * revenue (descending), and each user-count decile reports its
   * cumulative revenue share. "The top 10% of customers hold 62% of
   * revenue" is row 1.
   *
   * Scale shape: per-user revenue collapses map-side; the global rank
   * and the exact prefix sum are the [[graft.operators.Quantiles]]
   * two-pass primitives (range partition + metadata offsets — no
   * single-partition window); decile boundaries are a scan-local ≤10-way
   * predicate and the total-revenue scalar reads the already-persisted
   * ranked relation. Money is exact integer cents end-to-end
   * ([[Tables.dec]] × 100); shares are integer ppm (cents·10⁶ stays
   * < 2⁵³ at any plausible scale — a 100 TB ledger would move the ppm
   * cross-multiplication into DECIMAL).
   */
  def qParetoRevenue(s: SparkSession, dir: String): DataFrame = {
    val rev = ev(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum((dec(col("value")) * 100).cast("long")).as("cents"))
    val order = Seq(col("cents").desc, col("user_id").asc)
    val ranked = graft.operators.Quantiles
      .withGlobalRank(rev, order, "rk", "__total")
    val cum = graft.operators.Quantiles
      .withRunningTotal(ranked, order, "cents", "cum")
    // total revenue: a 1-row aggregate over the persisted ranked relation
    val totCents = cum.agg(coalesce(max(col("cum")), lit(0L))).first().getLong(0)
    cum
      .withColumn("decile", explode(filter(typedLit(Seq.range(1, 11)),
        d => col("rk") === floor((col("__total") * d + lit(9)) / lit(10)).cast("long"))))
      .select(col("decile"), col("rk").as("n_users"),
        (col("rk") * 1000000L / col("__total")).cast("long").as("users_ppm"),
        (if (totCents > 0) (col("cum") * 1000000L / lit(totCents)).cast("long")
         else lit(0L)).as("revenue_ppm"))
      .orderBy(col("decile"))
  }

  /** Anomaly fence in (rounded) z units. */
  private val AnomalyZ = 3.0

  /**
   * Rolling z-score anomaly monitor over the daily event series — the
   * ingest-volume tripwire a pipeline team runs per event type: each
   * day's count scores against the trailing 7-day window's mean/stddev,
   * and |z| > [[AnomalyZ]] flags the day. The monitoring twin of the
   * windowed-aggregate family (`q_range_frame` is the value-range
   * variant).
   *
   * The baseline window is the 7 days STRICTLY BEFORE the scored day — a
   * self-inclusive window caps z at (w−1)/√w ≈ 2.27 and the fence could
   * never fire; forecasting against the past is also the semantically
   * right monitor.
   *
   * Scale shape: events collapse to the ≤days×types daily relation FIRST
   * (one map-side-combined groupBy); every window runs over that
   * metadata-sized series, partitioned by event type, as a RANGE frame
   * on the integer epoch-day (calendar gaps shrink the window rather
   * than leaking old days in). Determinism: window sums are exact
   * integers (n, n² as longs); mean/variance derive from the integer
   * sums by one fixed IEEE op sequence (sample variance via
   * n·Σx²−(Σx)², exact in LONG); z rounds at 6 dp and the fence
   * compares the ROUNDED value.
   */
  def statsDailyAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .select(col("event_type"), to_date(timestamp_micros(epochUs())).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dn", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("dn"))
      .rangeBetween(-7, -1)
    val st = daily
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("ws", sum(col("n")).over(w))
      .withColumn("wq", sum(col("n") * col("n")).over(w))
    val mean = col("ws").cast("double") / col("wn").cast("double")
    // variance only exists past one sample — guarding BEFORE the division
    // (not after) keeps NaN out of both engines entirely (DuckDB compares
    // NaN > 0 as true — an unguarded 0/0 would diverge)
    val varC = when(col("wn") > 1,
      (col("wn") * col("wq") - col("ws") * col("ws")).cast("double") /
        (col("wn") * (col("wn") - 1)).cast("double"))
    val std = sqrt(varC)
    val z = round((col("n").cast("double") - mean) / std, 6)
    st.select(col("event_type"), col("day"), col("n"), col("wn").as("win_days"),
      (round(mean, 6) + lit(0.0)).as("win_mean"),
      when(col("wn") > 1 && std > 0, z + lit(0.0)).as("z"),
      coalesce(when(col("wn") > 1 && std > 0, abs(z) > lit(AnomalyZ)),
        lit(false)).as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** The zero-filled per-type daily count series — shared by the
    * autocorrelation, CUSUM and seasonality monitors so the calendar
    * semantics can't drift between them. Gap days are true zeros; the
    * spine explodes a ≤|types|-row min/max rollup, never the event
    * stream; `dn` is the integer epoch day. */
  private def denseDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .select(col("event_type"),
        datediff(to_date(timestamp_micros(epochUs())), lit("1970-01-01").cast("date"))
          .cast("long").as("dn"))
      .groupBy(col("event_type"), col("dn"))
      .agg(count(lit(1)).as("n"))
    val spine = daily
      .groupBy(col("event_type"))
      .agg(min(col("dn")).as("lo"), max(col("dn")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("dn"))
    spine.join(daily, Seq("event_type", "dn"), "left_outer")
      .select(col("event_type"), col("dn"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /**
   * Friedman rank test across event types over daily blocks — "do the
   * event types keep the same daily ordering?": each calendar day is a
   * BLOCK, the types are the k treatments, the measurement is the day's
   * count, and the tie-corrected Friedman χ²_F (Conover's form) says
   * whether the per-day rankings are stable structure or noise. The
   * k-sample repeated-measures closure of the daily-series monitors
   * ([[statsCusumShift]] watches one type's level; this watches the
   * RELATIVE ordering of all of them).
   *
   * Blocks form a complete design over the GLOBAL day range × the full
   * type set — a type absent on a day is a true zero measurement (the
   * [[denseDaily]] calendar convention, widened to a common spine so
   * every block ranks all k treatments). Untyped events are outside the
   * design.
   *
   * Exactness: within-block doubled average ranks are exact integers;
   * per-type rank sums and Σ(2r)² accumulate in DECIMAL(38,0); the
   * per-type squared rank sums round to 8 dp before the order-free fold
   * (the Levene recipe); χ²_F = (k−1)(Σ(2R_j)² − n²k(k+1)²) /
   * (Σ(2r)² − nk(k+1)²) is one final double expression, NULL when every
   * block ranks all types identically (zero denominator) or k < 2.
   * Scale: events collapse to the ≤days×types relation first; windows
   * partition by day over ≤k rows; the type list is a metadata-sized
   * driver constant.
   */
  def statsFriedman(s: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 8)
    val daily = ev(s, dir)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"),
        datediff(to_date(timestamp_micros(epochUs())), lit("1970-01-01").cast("date"))
          .cast("long").as("dn"))
      .groupBy(col("event_type"), col("dn"))
      .agg(count(lit(1)).as("x"))
      .transform(cached)
    val types = daily.select(col("event_type")).distinct()
      .orderBy(col("event_type")).collect().map(_.getString(0)).toSeq
    val spine = daily.agg(min(col("dn")).as("lo"), max(col("dn")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("dn"))
    val grid = spine
      .select(col("dn"), explode(typedLit(types)).as("event_type"))
      .join(daily, Seq("event_type", "dn"), "left")
      .select(col("dn"), col("event_type"), coalesce(col("x"), lit(0L)).as("x"))
    val wd = Window.partitionBy(col("dn")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r2 = grid.groupBy(col("dn"), col("x")).agg(count(lit(1)).as("c"))
      .withColumn("cum", coalesce(sum(col("c")).over(wd), lit(0L)))
      .select(col("dn"), col("x"), (lit(2L) * col("cum") + col("c") + 1L).as("r2v"))
    val perType = grid.join(r2, Seq("dn", "x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("nb"),
        sum(col("r2v").cast(d38)).as("rr2"),
        sum(col("r2v").cast(d38) * col("r2v")).as("a4j"))
    val ai = round(col("rr2").cast("double") * col("rr2").cast("double"), 8)
      .cast(dec8)
    val folded = perType.agg(count(lit(1)).as("k"), max(col("nb")).as("n"),
      sum(ai).as("sr2"), sum(col("a4j")).as("a4"))
    val kD = col("k").cast("double")
    val nD = col("n").cast("double")
    val num = col("sr2").cast("double") -
      nD * nD * kD * (kD + lit(1.0d)) * (kD + lit(1.0d))
    val den = col("a4").cast("double") -
      nD * kD * (kD + lit(1.0d)) * (kD + lit(1.0d))
    folded.select(col("k").as("k_treatments"), col("n").as("n_blocks"),
      (round(when(col("k") > 1 && den > 0, (kD - lit(1.0d)) * num / den), 6)
        + lit(0.0)).as("chi2_f"))
  }

  /** Autocorrelation probe lags (days). */
  private val AcfMaxLag = 7

  /**
   * Daily-series autocorrelation function (lags 1..[[AcfMaxLag]]) per
   * event type — the seasonality detector behind [[statsDailyAnomaly]]'s
   * fence: a strong lag-7 peak says the "anomaly" is just weekly rhythm
   * and the monitor needs a seasonal baseline. Pearson r between the
   * daily-count series and its k-day shift, on the ZERO-FILLED calendar
   * (gap days are real zeros — correlating only active days would
   * misalign the shift).
   *
   * Scale shape: events collapse to the ≤days×types daily relation FIRST
   * (one map-side-combined groupBy); the dense spine is a per-type
   * `sequence` explode over that metadata-sized rollup's min/max (never
   * over events); the shifted pairing is one equi-join of two
   * calendar-sized relations keyed (type, day); the final rollup has
   * ≤types·[[AcfMaxLag]] groups. Determinism: all six moment sums are
   * exact integers; the Pearson numerator/denominators are DECIMAL
   * cross-multiplications; the only floats are two sqrts and one
   * division in a fixed op order, rounded at 6 dp.
   */
  def statsAutocorr(s: SparkSession, dir: String): DataFrame = {
    val decC = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val dense = denseDaily(s, dir)
    val lagged = dense
      .withColumn("lag", explode(sequence(lit(1L), lit(AcfMaxLag.toLong))))
      .select(col("event_type"), (col("dn") + col("lag")).as("dn"),
        col("lag"), col("n").as("x"))
    val pairs = lagged.join(
      dense.select(col("event_type"), col("dn"), col("n").as("y")),
      Seq("event_type", "dn"))
    val agg = pairs
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast(decC)).as("sxy"),
        sum((col("x") * col("x")).cast(decC)).as("sxx"),
        sum((col("y") * col("y")).cast(decC)).as("syy"))
    val num = (col("m").cast(decC) * col("sxy") -
      col("sx").cast(decC) * col("sy").cast(decC)).cast("double")
    val denx = (col("m").cast(decC) * col("sxx") -
      col("sx").cast(decC) * col("sx").cast(decC)).cast("double")
    val deny = (col("m").cast(decC) * col("syy") -
      col("sy").cast(decC) * col("sy").cast(decC)).cast("double")
    agg.select(col("event_type"), col("lag"), col("m").as("n_pairs"),
      when(denx > 0 && deny > 0,
        round(num / (sqrt(denx) * sqrt(deny)), 6) + lit(0.0)).as("r"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** χ²₀.₀₅ critical value at 6 degrees of freedom (7 weekday buckets). */
  private val DowChi2Crit = 12.592

  /**
   * Day-of-week seasonality profile + chi-square uniformity test per
   * event type — the companion report that tells [[statsAutocorr]]'s
   * lag-7 signal WHICH days carry it: per-weekday event counts with ppm
   * shares, and the χ² statistic against the uniform-across-weekdays
   * null; `is_seasonal` fires past the 0.05 critical value
   * ([[DowChi2Crit]], 6 df).
   *
   * Scale shape: ONE map-side-combined groupBy on (type, dow) — ≤7·types
   * groups; the per-type total and Σo² come from a window over that
   * ≤7-row-per-type post-aggregation relation (the zeroPart convention —
   * partitioned by type, bounded by construction). Determinism: χ²
   * collapses algebraically to (7·Σo² − t²)/t — integer
   * cross-multiplications in DECIMAL, ONE division rounded at 6 dp;
   * shares are integer ppm; dow derives from the epoch-day integer
   * ((dn+3) mod 7 + 1 — ISO 1=Monday; 1970-01-01 was a Thursday).
   */
  def statsSeasonalityDow(s: SparkSession, dir: String): DataFrame = {
    val decC = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val byDow = ev(s, dir)
      .select(col("event_type"),
        datediff(to_date(timestamp_micros(epochUs())), lit("1970-01-01").cast("date"))
          .cast("long").as("dn"))
      .withColumn("dow", pmod(col("dn") + 3, lit(7)) + 1)
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type"))
    val chi2 = (lit(7).cast(decC) * sum((col("n") * col("n")).cast(decC)).over(w) -
      (sum(col("n")).over(w) * sum(col("n")).over(w)).cast(decC)).cast("double") /
      sum(col("n")).over(w).cast("double")
    byDow
      .withColumn("share_ppm", (col("n") * 1000000L / sum(col("n")).over(w)).cast("long"))
      .withColumn("chi2", round(chi2, 6) + lit(0.0))
      .withColumn("is_seasonal", col("chi2") > lit(DowChi2Crit))
      .select(col("event_type"), col("dow"), col("n"), col("share_ppm"),
        col("chi2"), col("is_seasonal"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** Churn horizon: days of silence after the cutoff that count as churn
    * (and the size of the label window held out at the end). */
  private val ChurnDays = 14

  /**
   * Temporal churn-label builder — the training-set job for a
   * retention model: the last [[ChurnDays]] days of the observed window
   * are the LABEL window; every user active before the cutoff gets RFM
   * features computed from pre-cutoff events only and a `churned` label
   * = "no activity in the label window". The leakage-safe-by-construction
   * twin of `ml_split_leakage` (features can't see past the cutoff
   * because the conditional aggregates are keyed on the day).
   *
   * Scale shape: ONE user-keyed conditional-aggregation pass over events
   * (map-side combined) — features and label come out of the same
   * shuffle; the cutoff is a metadata-sized driver scalar (max day — at
   * 100 TB read it from partition metadata like `q_latest_suffix`).
   * Money stays exact integer cents ([[Tables.dec]] × 100).
   */
  def mlChurnLabels(s: SparkSession, dir: String): DataFrame = {
    val withDn = ev(s, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        datediff(to_date(timestamp_micros(epochUs())), lit("1970-01-01").cast("date"))
          .cast("long").as("dn"))
    val maxDnRow = withDn.agg(max(col("dn"))).first()
    if (maxDnRow.isNullAt(0)) {
      return withDn.select(col("user_id"), lit(0L).as("n_events"),
        lit(0L).as("n_purchases"), lit(0L).as("revenue_cents"),
        lit(0L).as("recency_days"), lit(false).as("churned")).limit(0)
    }
    val cutoff = maxDnRow.getLong(0) - ChurnDays
    val pre = col("dn") <= cutoff
    withDn
      .groupBy(col("user_id"))
      .agg(
        sum(when(pre, 1L).otherwise(0L)).as("n_events"),
        sum(when(pre && col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        coalesce(sum(when(pre && col("event_type") === "purchase",
          (dec(col("value")) * 100).cast("long"))), lit(0L)).as("revenue_cents"),
        max(when(pre, col("dn"))).as("last_day"),
        sum(when(!pre, 1L).otherwise(0L)).as("post_events"))
      .filter(col("n_events") > 0)
      .select(col("user_id"), col("n_events"), col("n_purchases"),
        col("revenue_cents"),
        (lit(cutoff) - col("last_day")).as("recency_days"),
        (col("post_events") === 0).as("churned"))
      .orderBy(col("user_id"))
  }

  /**
   * CUSUM mean-shift detection over the daily series — the changepoint
   * monitor next to [[statsDailyAnomaly]]'s spike fence: a single-day
   * spike trips a z-score, but a sustained 30% rate drift never does;
   * CUSUM accumulates excess over a slack line (here 1.25× the series
   * mean) and alarms when the accumulation passes a decision interval
   * (2× the mean per accumulated unit — S > 8·total in the integer
   * scaling below).
   *
   * The page recursion S_t = max(0, S_{t−1} + d_t) is NOT a window
   * frame — but it has the closed form S_t = P_t − min(0, min_{j≤t} P_j)
   * over the prefix sums P, so it IS two running windows over the
   * zero-filled daily relation. Everything stays integer: d_t scaled by
   * 4·days gives D_t = 4·days·n_t − 5·total exactly
   * (= 4·days·(n_t − μ − μ/4)).
   *
   * Scale shape: [[denseDaily]]'s collapsed calendar relation; per-type
   * totals and both runnings are windows over calendar-bounded
   * partitions (the stats_ks_drift convention). LONG bounds: 4·days·n
   * needs days·n < 2⁶¹ — a century of 10⁸ events/day fits; past that the
   * sums move to DECIMAL.
   */
  def statsCusumShift(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy(col("event_type"))
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("dn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    denseDaily(s, dir)
      .withColumn("days", count(lit(1)).over(wAll))
      .withColumn("tot", sum(col("n")).over(wAll))
      .withColumn("d", lit(4L) * col("days") * col("n") - lit(5L) * col("tot"))
      .withColumn("p", sum(col("d")).over(wRun))
      .withColumn("cusum", col("p") - least(min(col("p")).over(wRun), lit(0L)))
      .select(col("event_type"),
        date_add(lit("1970-01-01").cast("date"), col("dn").cast("int")).as("day"),
        col("n"), col("cusum").as("cusum_scaled"),
        (col("cusum") > lit(8L) * col("tot")).as("alarm"))
      .orderBy(col("event_type"), col("day"))
  }

  /**
   * Wald–Wolfowitz runs test over the daily series — the randomness
   * check between [[statsDailyAnomaly]]'s spike fence and
   * [[statsCusumShift]]'s drift alarm: too FEW runs of
   * above/below-median days means the series trends or clusters (ingest
   * ramps, batch-flush cadence), too MANY means oscillation
   * (load-balancer flapping). Days equal to the median are dropped (the
   * standard treatment); the median is the exact lower median (the
   * stats_mad convention). z = (R − μ)/σ with μ = 1 + 2ab/m and
   * σ² = 2ab(2ab − m) / (m²(m−1)), NULL on a degenerate sign split
   * (a = 0, b = 0, or a = b = 1 where σ = 0).
   *
   * Scale shape: [[denseDaily]]'s collapsed calendar relation; the
   * median is a cumulative window over (type, n) VALUE groups, the run
   * count one LAG pass over calendar-bounded partitions; everything
   * integer until the final pinned-order double expression, rounded at
   * 6 dp.
   */
  def statsRunsTest(s: SparkSession, dir: String): DataFrame = {
    val dd = denseDaily(s, dir)
    val wAll = Window.partitionBy(col("event_type"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("n"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = dd.groupBy(col("event_type"), col("n")).agg(count(lit(1)).as("cnt"))
      .withColumn("tot", sum(col("cnt")).over(wAll))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("k", expr("(tot + 1) DIV 2"))
      .filter(col("cum") >= col("k"))
      .groupBy(col("event_type")).agg(min(col("n")).as("med"))
    val wSeq = Window.partitionBy(col("event_type")).orderBy(col("dn"))
    val runs = dd.join(med, "event_type")
      .filter(col("n") =!= col("med"))
      .select(col("event_type"), col("dn"), (col("n") > col("med")).as("above"))
      .withColumn("chg", when(lag(col("above"), 1).over(wSeq).isNull ||
        lag(col("above"), 1).over(wSeq) =!= col("above"), 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(sum(when(col("above"), 1L).otherwise(0L)).as("n_above"),
        sum(when(!col("above"), 1L).otherwise(0L)).as("n_below"),
        sum(col("chg")).as("n_runs"))
    val m = (col("n_above") + col("n_below")).cast("double")
    val twoAB = (lit(2L) * col("n_above") * col("n_below")).cast("double")
    val mu = lit(1.0) + twoAB / m
    val varR = (twoAB * (twoAB - m)) / (m * m * (m - lit(1.0)))
    runs
      .select(col("event_type"), col("n_above"), col("n_below"), col("n_runs"),
        round(when(col("n_above") > 0 && col("n_below") > 0 &&
          lit(2L) * col("n_above") * col("n_below") >
            col("n_above") + col("n_below"),
          (col("n_runs").cast("double") - mu) / sqrt(varR)), 6).as("z"))
      .orderBy(col("event_type"))
  }

  /**
   * Inter-event gap profile per event type — the arrival-cadence data
   * card (bot-rate / scraper detection reads the p50; retention
   * heuristics read the p90): per-user consecutive-event gaps, bucketed
   * to whole seconds, with exact discrete order statistics.
   *
   * Scale shape: the gap computation is ONE user-partitioned sort (the
   * real blocking key); gaps then collapse to (type, gap_s) counts —
   * bounded by the observation span in seconds, not by events (the
   * second-bucketing is what makes the cumulative windows safe) — and
   * the percentiles are cumulative windows over that collapsed relation
   * (the stats_ks_drift convention). Determinism: pure integer
   * arithmetic end-to-end; p50 is the lower median (the stats_mad
   * convention), p90 the smallest value covering ⌈0.9·n⌉.
   */
  def qInterEventGaps(s: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = ev(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("gap_ns", col("ts") - lag(col("ts"), 1).over(wu))
      // integral DIV, not `/` (double division truncates past 2^53)
      .withColumn("gap_s", expr("gap_ns DIV 1000000000"))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("event_type"), col("gap_s"))
      .agg(count(lit(1)).as("cnt"))
    val wAll = Window.partitionBy(col("event_type"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("gap_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gaps
      .withColumn("tot", sum(col("cnt")).over(wAll))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("k50", expr("(tot + 1) DIV 2"))
      .withColumn("k90", expr("(tot * 9 + 9) DIV 10"))
      .groupBy(col("event_type"))
      .agg(max(col("tot")).as("n_gaps"),
        min(when(col("cum") >= col("k50"), col("gap_s"))).as("p50_s"),
        min(when(col("cum") >= col("k90"), col("gap_s"))).as("p90_s"),
        max(col("gap_s")).as("max_s"))
      .orderBy(col("event_type"))
  }

  /**
   * Difference-in-differences lift estimate — the incrementality number
   * a marketing team reads before attributing revenue to a channel:
   * users who ever clicked (the "exposed" group) vs users who never did,
   * purchase revenue in the first half of the window (pre) vs the second
   * (post); DiD = Δtreated/user − Δcontrol/user cancels both the group
   * baseline and the common time trend. The causal-inference companion
   * to [[qAttributionLinear]]'s mechanical credit split.
   *
   * Scale shape: ONE user-keyed conditional-aggregation pass (treatment
   * flag and pre/post revenue out of the same shuffle), a ≤2-row group
   * rollup, then a 1-row summary; the window midpoint is a
   * metadata-sized driver scalar. Money is exact integer cents; the
   * only floats are the three final per-user divisions of exact
   * DECIMALs, rounded at 6 dp.
   */
  def qDidLift(s: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val withDn = ev(s, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        datediff(to_date(timestamp_micros(epochUs())), lit("1970-01-01").cast("date"))
          .cast("long").as("dn"))
    val bounds = withDn.agg(min(col("dn")), max(col("dn"))).first()
    if (bounds.isNullAt(0)) {
      return withDn.select(lit(0L).as("n_treat"), lit(0L).as("n_ctrl"),
        lit(0L).as("delta_treat_cents"), lit(0L).as("delta_ctrl_cents"),
        lit(null).cast("double").as("treat_pu"),
        lit(null).cast("double").as("ctrl_pu"),
        lit(null).cast("double").as("did_cents_pu")).limit(0)
    }
    // post window = second half of the observed span
    val mid = (bounds.getLong(0) + bounds.getLong(1) + 1) / 2
    val cents = (dec(col("value")) * 100).cast("long")
    val perUser = withDn
      .groupBy(col("user_id"))
      .agg(max(col("event_type") === "click").as("treated"),
        coalesce(sum(when(col("event_type") === "purchase" && col("dn") < mid,
          cents)), lit(0L)).as("pre_c"),
        coalesce(sum(when(col("event_type") === "purchase" && col("dn") >= mid,
          cents)), lit(0L)).as("post_c"))
    val groups = perUser
      .groupBy(col("treated"))
      .agg(count(lit(1)).as("n"),
        sum(col("post_c") - col("pre_c")).as("delta_c"))
    def pick(t: Boolean, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      max(when(col("treated") === t, c))
    groups.agg(
        coalesce(pick(t = true, col("n")), lit(0L)).as("n_treat"),
        coalesce(pick(t = false, col("n")), lit(0L)).as("n_ctrl"),
        coalesce(pick(t = true, col("delta_c")), lit(0L)).as("delta_treat_cents"),
        coalesce(pick(t = false, col("delta_c")), lit(0L)).as("delta_ctrl_cents"))
      .withColumn("treat_pu", when(col("n_treat") > 0,
        round(col("delta_treat_cents").cast("double") / col("n_treat").cast("double"), 6)
          + lit(0.0)))
      .withColumn("ctrl_pu", when(col("n_ctrl") > 0,
        round(col("delta_ctrl_cents").cast("double") / col("n_ctrl").cast("double"), 6)
          + lit(0.0)))
      .withColumn("did_cents_pu", when(col("n_treat") > 0 && col("n_ctrl") > 0,
        round((col("delta_treat_cents").cast(d38) * col("n_ctrl").cast(d38) -
          col("delta_ctrl_cents").cast(d38) * col("n_treat").cast(d38)).cast("double") /
          (col("n_treat").cast(d38) * col("n_ctrl").cast(d38)).cast("double"), 6)
          + lit(0.0)))
  }

  /**
   * Peak session concurrency per day — the classic interval sweep (how
   * many sessions are simultaneously open?) that sizes serving capacity /
   * rate limits from an event log. Sessions are the [[q21Sessionize]]
   * 30-minute-gap intervals, closed on both ends; each contributes a +1
   * at its start and a −1 one microsecond after its end, deltas are
   * NETTED PER TIMESTAMP first (so same-instant boundaries can't make
   * the running value order-dependent), and the concurrency curve is the
   * exact global prefix sum of the netted deltas. Per calendar day the
   * audit reports the peak boundary-sampled concurrency and the boundary
   * count; a session spanning midnight registers its plateau on the day
   * the plateau starts (documented boundary-sampling semantics).
   *
   * Scale: session building is the per-user hash-partitioned window every
   * events query uses; the sweep is 2 rows per session netted by ONE
   * map-side-combinable groupBy(t), and the prefix sum is
   * [[graft.operators.Quantiles.withRunningTotal]] — range-partitioned,
   * two-pass, never a single-partition window. The day rollup is ≤366
   * groups per year.
   */
  def intervalConcurrency(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    val sessions = ev(s, dir)
      .withColumn("us", epochUs())
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(w) > gapUs ||
          lag(col("us"), 1).over(w).isNull, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("us")).as("s_us"), max(col("us")).as("e_us"))
    val net = sessions
      .select(explode(array(
        struct(col("s_us").as("t"), lit(1L).as("d")),
        struct((col("e_us") + 1L).as("t"), lit(-1L).as("d")))).as("b"))
      .select(col("b.t").as("t"), col("b.d").as("d"))
      .groupBy(col("t")).agg(sum(col("d")).as("net"))
    graft.operators.Quantiles
      .withRunningTotal(net, Seq(col("t")), "net", "conc")
      .groupBy(expr("t DIV 86400000000").as("day_num"))
      .agg(max(col("conc")).as("peak_concurrency"),
        count(lit(1)).as("n_boundaries"))
      .orderBy(col("day_num"))
  }

  /**
   * Time-weighted average value per user — the step-function integral
   * metric (a gauge sampled at irregular event times: the honest mean is
   * ∫v dt / T, not the event mean, which over-weights bursty periods).
   * Each event's value holds until the user's next event; the weighted
   * sum is Σ vᵢ·(tᵢ₊₁ − tᵢ) in EXACT decimal (DECIMAL(12,2) value ×
   * integer microseconds — no float partial-sum order), divided once by
   * the observed duration. Single-event users report NULL (zero
   * duration), not a division error.
   *
   * Scale: one per-user hash-partitioned LEAD window + one aggregate —
   * the [[q12LagLead]] shape with decimal weighting.
   */
  def qTimeWeightedAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev(s, dir)
      .withColumn("us", epochUs())
      .withColumn("delta", lead(col("us"), 1).over(w) - col("us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("duration_us"),
        sum(dec(col("value")) * col("delta")).as("wsum"))
      .select(col("user_id"), col("n_events"), col("duration_us"),
        when(col("duration_us") > 0,
          round(col("wsum").cast("double") / col("duration_us"), 6))
          .as("twa_value"))
      .orderBy(col("user_id"))
  }

  /**
   * Position-based (U-shape / 40-20-40) attribution — [[qAttributionLinear]]'s
   * companion credit model: the first and last touch in the conversion
   * window take 40% each, interior touches split the remaining 20%
   * (n = 1 → 100%, n = 2 → 50/50 — the standard degenerate cases).
   * Unmatched conversions surface as full-credit `direct` rows, same
   * left-join contract as linear.
   *
   * Exactness: per-touch weight is a closed-form double from (rank, n)
   * — identical IEEE ops both engines — credit rounded to 6 dp per row,
   * then summed as exact DECIMAL so partial-agg order can't flip bits.
   * Scale: one time-banded equi-join on user, one conv_id-partitioned
   * rank window, one ≤|touch types| rollup — the linear shape plus a
   * window.
   */
  def qAttributionUshape(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val conv = e.filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("event_id").as("conv_id"), col("user_id"),
        col("ts").as("cts"), col("value"))
    val touch = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("tuid"), col("ts").as("tts"),
        col("event_id").as("tid"), col("event_type").as("touch_type"))
    val w = Window.partitionBy(col("conv_id"))
    val joined = conv.join(touch,
        col("user_id") === col("tuid") &&
          col("tts") < col("cts") && col("tts") >= col("cts") - lit(AttribWindowNs),
        "left")
      .withColumn("n_touch", count(col("tid")).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col("tts"), col("tid"))))
    val weight = when(col("n_touch") <= 1, lit(1.0d))
      .when(col("n_touch") === 2, lit(0.5d))
      .when(col("rn") === 1 || col("rn") === col("n_touch"), lit(0.4d))
      .otherwise(lit(0.2d) / (col("n_touch") - 2).cast("double"))
    joined
      .select(coalesce(col("touch_type"), lit("direct")).as("touch_type"),
        round(col("value") * weight, 6).as("credit"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("credit").cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(30, 8))).cast("double"), 6).as("credited_value"))
      .orderBy(col("touch_type"))
  }

  /**
   * Trailing 7-day distinct active users per day (the rolling-window
   * COUNT DISTINCT no window frame can express — DISTINCT doesn't
   * decompose over frames): Spark-first as dedup-then-scatter — collapse
   * to distinct (user, day), explode each into the 7 window-end days it
   * keeps the user active for, dedup (user, window-day), count. Linear:
   * 7× a TWO-COLUMN relation already collapsed to user-days, never 7×
   * the event log. Days beyond the observed range are clipped by a
   * semi-join against the observed day set so the audit ends with the
   * data. Per-day actives (DAU) ride along from the same collapsed
   * relation ([[qStickiness]]'s ratio semantics at window = 7).
   */
  def qWindowedDistinct(s: SparkSession, dir: String): DataFrame = {
    val ud = ev(s, dir)
      .select(col("user_id"), expr(s"($epochUsExpr) DIV 86400000000").as("day"))
      .distinct()
      .transform(cached)
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("n_dau"))
    val trailing = ud
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6L)).as("day"))
      .distinct()
      .join(dau.select(col("day")), Seq("day"), "left_semi")
      .groupBy(col("day")).agg(count(lit(1)).as("n_active_7d"))
    dau.join(trailing, Seq("day"))
      .select(col("day").as("day_num"), col("n_dau"), col("n_active_7d"))
      .orderBy(col("day_num"))
  }

  /** Decile probe points (percent) for the conversion-latency profile. */
  private val TtcPctls: Seq[Int] = (1 to 9).map(_ * 10)

  /**
   * Time-to-convert latency profile — the funnel-velocity distribution
   * (how long from a user's FIRST view to their first subsequent
   * purchase?) reported as exact deciles, the numbers a growth team
   * reads as "median time to convert" / "p90 lag". Non-converting users
   * are out of population by definition; the decile is the discrete
   * lower order statistic under the total (delta, user_id) order — no
   * interpolation, engine-exact.
   *
   * Scale: two per-user rollups and one equi-join build the per-user
   * latency (linear, map-side combined); the decile scan rides
   * [[graft.operators.Quantiles]]' exact two-pass global rank, never a
   * single-partition window, and the probe keeps ≤9 rows.
   */
  def qTimeToConvert(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).withColumn("us", epochUs())
    val fv = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
    val deltas = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"))
      .join(fv, Seq("user_id"))
      .filter(col("us") > col("v_us"))
      .groupBy(col("user_id"))
      .agg((min(col("us")) - max(col("v_us"))).as("delta_us"))
    graft.operators.Quantiles
      .withGlobalRank(deltas.select(col("delta_us"), col("user_id")),
        Seq(col("delta_us"), col("user_id")), "rk", "__total")
      .withColumn("decile", explode(filter(typedLit(TtcPctls),
        p => col("rk") === floor((col("__total") * p + 99) / 100))))
      .select(col("decile"), col("delta_us"),
        col("__total").as("n_converting"))
      .orderBy(col("decile"))
  }

  /** Equi-width histogram bin count. */
  private val HistBins = 10

  /**
   * Equi-width value histogram per event type — the `histogram()` every
   * warehouse ships, Spark-first: per type the [min, max] range splits
   * into [[HistBins]] bins, values bucket by one closed-form floor
   * expression, and the audit reports each bin's population and bounds.
   * The max value clamps into the last bin (standard half-open bins with
   * a closed final edge); a constant-valued type degenerates to bin 0.
   *
   * Scale: the range is a ≤|types| aggregate broadcast back onto the
   * scan (never a driver collect of data rows), binning is per-row
   * codegen, and the rollup has ≤ types × bins groups. Determinism: the
   * bin index divides EXACT decimal differences ((v−lo)·10 / span) in
   * doubles — identical IEEE both engines — and bounds round at 6 dp.
   */
  def qHistogram(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), dec(col("value")).as("v"))
    val ranges = e.groupBy(col("event_type"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val span = (col("hi") - col("lo")).cast("double")
    val bin = when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(lit((HistBins - 1).toLong),
        floor((col("v") - col("lo")).cast("double") * HistBins / span).cast("long")))
    e.join(broadcast(ranges), Seq("event_type"))
      .withColumn("bin", bin)
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("lo").cast("double") +
          span * col("bin").cast("double") / HistBins), 6).as("bin_lo"))
      .orderBy(col("event_type"), col("bin"))
  }

  /**
   * Growth accounting — the weekly new / retained / resurrected /
   * churned user ledger (the standard growth decomposition: DAU movement
   * explained by cohort flows, the companion of [[qStickiness]] and
   * [[qCohortRetention]]): per user per active ISO week, the status is
   * `new` (first-ever week), `retained` (also active the immediately
   * preceding week), else `resurrected`; a `churned` row counts users
   * active the PREVIOUS week who went silent this week — attributed to
   * the week they went missing, including the week after the last
   * observed week (computed by shifting actives forward, an explode of
   * +1 week, never a calendar scan).
   *
   * Scale: everything runs on the collapsed distinct (user, week)
   * relation — per-user LAG window for the statuses, a +1-week shift
   * anti-join for churn, one ≤weeks rollup. Weeks are integer epoch-week
   * numbers (days since epoch DIV 7 after the ISO-Monday truncation both
   * engines share).
   */
  def qGrowthAccounting(s: SparkSession, dir: String): DataFrame = {
    val uw = ev(s, dir)
      .select(col("user_id"),
        (datediff(to_date(date_trunc("week", timestamp_micros(epochUs()))),
          lit(java.sql.Date.valueOf("1970-01-05"))) / 7).cast("long").as("wk"))
      .distinct()
      .transform(cached)
    val w = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    val statuses = uw
      .withColumn("prev", lag(col("wk"), 1).over(w))
      .withColumn("status",
        when(col("prev").isNull, "new")
          .when(col("wk") - col("prev") === 1L, "retained")
          .otherwise("resurrected"))
      .select(col("wk"), col("status"))
    // churn: active in wk, silent in wk+1 → one churned row AT wk+1
    val churned = uw.select(col("user_id"), (col("wk") + 1L).as("wk"))
      .join(uw, Seq("user_id", "wk"), "left_anti")
      .select(col("wk"), lit("churned").as("status"))
    statuses.unionByName(churned)
      .groupBy(col("wk")).agg(
        sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("status") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"),
        sum(when(col("status") === "churned", 1L).otherwise(0L)).as("n_churned"))
      .orderBy(col("wk"))
  }

  /**
   * Classical seasonal-trend decomposition of the daily revenue series
   * (the moving-average decomposition behind STL's intuition): trend =
   * centered 7-day moving average (full windows only — edges and
   * gap-adjacent days keep NULL rather than a biased short-window mean),
   * residual = revenue − trend, seasonal = per-ISO-DOW mean residual,
   * deseasonalized = residual − seasonal. The table an anomaly gate
   * consumes AFTER seasonality is explained ([[statsDailyAnomaly]]'s
   * refinement).
   *
   * Scale: the series is the POST-AGGREGATION daily relation (≤366
   * rows/year — metadata), so the single-group centered window is the
   * correct plan (zeroPart convention); the window frame is VALUE-based
   * (RANGE ±3 on the day number), so calendar gaps shrink `n_win` and
   * disqualify the window instead of silently stretching it. Exactness:
   * revenue sums in DECIMAL; trend is one double division by 7; every
   * derived column rounds at 6 dp before the next subtraction.
   */
  def statsSeasonalTrend(s: SparkSession, dir: String): DataFrame = {
    val decS = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 8)
    val daily = ev(s, dir)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(expr(s"($epochUsExpr) DIV 86400000000").as("dn"),
        dec(col("value")).as("v"))
      .groupBy(col("dn")).agg(sum(col("v")).as("rev_d"))
    val w = Window.partitionBy(zeroPart(col("dn"))).orderBy(col("dn"))
      .rangeBetween(-3, 3)
    val t = daily
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("revenue", round(col("rev_d").cast("double"), 6))
      .withColumn("trend", when(col("n_win") === 7,
        round(sum(col("rev_d")).over(w).cast("double") / 7, 6)))
      .withColumn("resid", when(col("trend").isNotNull,
        round(col("revenue") - col("trend"), 6)))
      .withColumn("dow", pmod(col("dn") + 3, lit(7)) + 1)
    val seasonal = t.filter(col("resid").isNotNull)
      .groupBy(col("dow"))
      .agg(round(sum(col("resid").cast(decS)).cast("double") / count(lit(1)), 6)
        .as("seasonal"))
    t.join(broadcast(seasonal), Seq("dow"), "left")
      .select(col("dn").as("day_num"), col("dow"), col("revenue"), col("trend"),
        col("resid"), col("seasonal"),
        when(col("resid").isNotNull && col("seasonal").isNotNull,
          round(col("resid") - col("seasonal"), 6)).as("deseasonalized"))
      .orderBy(col("day_num"))
  }

  /** Benford first-digit shares as fixed 6-dp literals — log10(1+1/d)
    * pre-rounded so neither engine ever evaluates a logarithm. */
  private val BenfordShares: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> BigDecimal(math.log10(1.0 + 1.0 / d))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /**
   * Benford first-significant-digit audit of the purchase amounts — the
   * classic fraud / synthetic-data sniff test: organically-sized amounts
   * follow log10(1+1/d); uniform or hand-made values don't. Per digit:
   * observed count, observed share, the Benford share, and the χ²
   * contribution (o−e)²/e. Digits come from the STRING of the exact
   * integer cents (no log, no float formatting — both engines print a
   * BIGINT identically); the Benford shares are pre-rounded literals, so
   * the whole audit is log-free and hash-exact.
   *
   * Scale: one map-side-combined 9-group aggregate over a per-row
   * projection; the digit grid joins a 9-row literal relation.
   */
  def statsBenford(s: SparkSession, dir: String): DataFrame = {
    val cents = (dec(col("value")) * 100).cast("long")
    val obs = ev(s, dir)
      .filter(col("value").isNotNull && col("value") > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val n = obs.agg(coalesce(sum(col("n_obs")), lit(0L))).first().getLong(0)
    import s.implicits._
    val bench = BenfordShares.map { case (d, sh) =>
      (d.toLong, sh)
    }.toDF("digit", "share_benford")
    bench.join(obs, Seq("digit"), "left")
      .select(col("digit"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        when(lit(n) > 0, round(coalesce(col("n_obs"), lit(0L)).cast("double") /
          lit(n.toDouble), 6)).as("share_obs"),
        col("share_benford"))
      .withColumn("chi2_term", when(lit(n) > 0, round(
        (col("n_obs").cast("double") - lit(n.toDouble) * col("share_benford")) *
          (col("n_obs").cast("double") - lit(n.toDouble) * col("share_benford")) /
          (lit(n.toDouble) * col("share_benford")), 6)))
      .orderBy(col("digit"))
  }

  /**
   * Per-user behavioral entropy — how predictable is each user's
   * event-type mix (Shannon entropy of the type distribution; the
   * Eagle/Pentland-style "behavioral signature" number a
   * personalization layer reads: H = 0 is a single-action user, ln(k)
   * is uniform use of k actions). Follows the repo's ln recipe
   * ([[graft.queries.Corpus.textSourceKl]]): each −p·ln(p) term rounds
   * at 8 dp, sums as exact DECIMAL, and the result rounds at 6 dp —
   * libm's last ulp can't flip the hash.
   *
   * Scale: one (user, type) aggregate, one broadcast-free per-user
   * rollup — both map-side combined; no window, no join beyond the
   * ≤|users| merge of the two rollups.
   */
  def statsUserEntropy(s: SparkSession, dir: String): DataFrame = {
    val decS = org.apache.spark.sql.types.DataTypes.createDecimalType(20, 8)
    val ut = ev(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val un = ut.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"), count(lit(1)).as("n_types"))
    val p = col("c").cast("double") / col("n_events").cast("double")
    ut.join(un, Seq("user_id"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        round(-p * log(p), 8).cast(decS).as("term"))
      .groupBy(col("user_id"), col("n_events"), col("n_types"))
      .agg(round(sum(col("term")).cast("double"), 6).as("entropy"))
      .orderBy(col("user_id"))
  }

  /** Microseconds per day, for duration bucketing on the µs epoch. */
  private val DayUs = 86400000000L

  /**
   * Kaplan–Meier survival curve for time-to-first-purchase — the
   * censoring-aware "how long until a user converts" estimator (product-
   * limit over the at-risk set; users who never purchase are censored at
   * the observation horizon rather than dropped, which is what separates
   * KM from a naive duration histogram).
   *
   * Shape: one per-user aggregate (duration day + event/censor flag), one
   * ≤#days aggregate, then the product-limit recursion as a window over
   * that post-aggregation ≤31-row relation (zeroPart convention — single
   * partition is the correct plan there). The survival product follows
   * the repo's ln recipe: each ln(1 − d/n) factor rounds at 8 dp into
   * exact DECIMAL, the cumulative sum is exact, and exp of the cast-back
   * double rounds at 6 dp. A day where every at-risk user converts
   * (d = n) pins survival to exactly 0 from that day on.
   */
  def qSurvivalKm(s: SparkSession, dir: String): DataFrame = {
    val usExpr = expr(epochUsExpr)
    val perUser = ev(s, dir).groupBy(col("user_id")).agg(
      min(usExpr).as("t0"),
      min(when(col("event_type") === "purchase", usExpr)).as("tp"))
    // Observation horizon = a genuinely global 1-row scalar; folded on the
    // driver (corpusReport precedent) rather than cross-joined back in.
    val gmax = ev(s, dir).agg(max(usExpr)).first().getLong(0)
    val durations = perUser.select(
      floor(when(col("tp").isNotNull, (col("tp") - col("t0")))
        .otherwise(lit(gmax) - col("t0")).divide(lit(DayUs)))
        .cast("long").as("t_day"),
      col("tp").isNotNull.cast("long").as("converted"))
    val byDay = durations.groupBy(col("t_day")).agg(
      sum(col("converted")).as("d_events"),
      (count(lit(1)) - sum(col("converted"))).as("n_censored"))
    val one = zeroPart(col("t_day"))
    val before = Window.partitionBy(one).orderBy(col("t_day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.partitionBy(one).orderBy(col("t_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(one)
    val decS = org.apache.spark.sql.types.DataTypes.createDecimalType(20, 8)
    val leaving = col("d_events") + col("n_censored")
    val withRisk = byDay.withColumn("n_risk",
      sum(leaving).over(all) - coalesce(sum(leaving).over(before), lit(0L)))
    val lnTerm = when(col("d_events") < col("n_risk"),
      round(log((col("n_risk") - col("d_events")).cast("double") /
        col("n_risk").cast("double")), 8).cast(decS))
    withRisk
      .withColumn("__ln", lnTerm)
      .withColumn("__dead",
        max((col("d_events") === col("n_risk")).cast("int")).over(upto))
      .select(col("t_day"), col("n_risk"), col("d_events"), col("n_censored"),
        when(col("__dead") === 1, lit(0.0))
          .otherwise(round(exp(sum(col("__ln")).over(upto).cast("double")), 6))
          .as("survival"))
      .orderBy(col("t_day"))
  }

  private val qSurvivalKmSql: String =
    s"""WITH pu AS (
       |  SELECT user_id, min(epoch_us(ts)) AS t0,
       |    min(CASE WHEN event_type = 'purchase'
       |             THEN epoch_us(ts) END) AS tp
       |  FROM events GROUP BY 1),
       |gm AS (SELECT max(epoch_us(ts)) AS gmax FROM events),
       |dur AS (
       |  SELECT CAST(floor((CASE WHEN tp IS NOT NULL THEN tp - t0
       |                    ELSE gmax - t0 END) / $DayUs) AS BIGINT) AS t_day,
       |    CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS converted
       |  FROM pu CROSS JOIN gm),
       |byday AS (
       |  SELECT t_day, CAST(SUM(converted) AS BIGINT) AS d_events,
       |    CAST(COUNT(1) - SUM(converted) AS BIGINT) AS n_censored
       |  FROM dur GROUP BY 1),
       |risk AS (
       |  SELECT *,
       |    SUM(d_events + n_censored) OVER ()
       |      - coalesce(SUM(d_events + n_censored) OVER (ORDER BY t_day
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS n_risk
       |  FROM byday),
       |terms AS (
       |  SELECT *,
       |    CASE WHEN d_events < n_risk THEN CAST(round(
       |        ln(CAST(n_risk - d_events AS DOUBLE)
       |           / CAST(n_risk AS DOUBLE)), 8) AS DECIMAL(20,8)) END
       |      AS lnterm,
       |    MAX(CASE WHEN d_events = n_risk THEN 1 ELSE 0 END)
       |      OVER (ORDER BY t_day
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
       |  FROM risk)
       |SELECT t_day, CAST(n_risk AS BIGINT) AS n_risk, d_events, n_censored,
       |  CASE WHEN dead = 1 THEN 0.0
       |       ELSE round(exp(CAST(SUM(lnterm) OVER (ORDER BY t_day
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |         AS DOUBLE)), 6) END AS survival
       |FROM terms
       |ORDER BY t_day""".stripMargin

  /** Bootstrap replicate count for [[statsBootstrapCi]]. */
  private val BootReps = 100

  /**
   * Poisson-bootstrap confidence interval for the mean event value — THE
   * distributed bootstrap: instead of resampling n rows with replacement
   * (which needs global coordination), every row independently contributes
   * a Poisson(1)-distributed multiplicity to each of [[BootReps]]
   * replicates, and each replicate's weighted mean is an ordinary
   * aggregate. One pass, B counters per row, map-side combined into B
   * groups — no materialized resamples at any scale.
   *
   * Determinism: multiplicities come from one md5 per row mixed through a
   * per-replicate affine (odd-multiplier) map into buckets matching the
   * Poisson(1) pmf at 3-digit resolution (368/368/184/61/15/4 per mille).
   * Replicate means use exact DECIMAL sums; the CI bounds are the 3rd and
   * 98th order statistics of the 100 replicate means (a window over the
   * post-aggregation 100-row relation — zeroPart convention).
   */
  def statsBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val decY = org.apache.spark.sql.types.DataTypes.createDecimalType(20, 6)
    val h = conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % lit(1000003L)
    // Optimization r11 (guide §2.3, aggregate before you shuffle): the
    // replicate weight only depends on h MOD 1000 — u = (h(2b+1)+7919b)
    // mod 1000 = ((h mod 1000)(2b+1)+7919b) mod 1000 — so the corpus
    // collapses to ≤1000 residue groups (Σy as exact DECIMAL, row count)
    // in ONE map-side-combined pass BEFORE the ×100 replica explode.
    // W·Σy (int × decimal) equals the per-row Σ(w·y) exactly, so mean_b
    // and everything downstream is bit-identical; the explode shrinks
    // from |events|×100 rows to ≤100k.
    val base = ev(s, dir).filter(col("value").isNotNull)
      .select((h % lit(1000L)).as("r"), round(col("value"), 6).cast(decY).as("y"))
      .groupBy(col("r"))
      .agg(sum(col("y")).as("ys"), count(lit(1)).as("nr"))
    val rep = base.select(col("r"), col("ys"), col("nr"),
      explode(sequence(lit(0), lit(BootReps - 1))).as("b"))
    val u = (col("r") * (lit(2) * col("b") + lit(1)) + col("b") * lit(7919)) %
      lit(1000)
    val w = when(u < 368, 0).when(u < 736, 1).when(u < 920, 2)
      .when(u < 981, 3).when(u < 996, 4).otherwise(5)
    val means = rep
      .select(col("b"), col("ys"), col("nr"), w.cast("long").as("w"))
      .groupBy(col("b"))
      .agg(round(sum(col("w") * col("ys")).cast("double") /
        sum(col("w") * col("nr")).cast("double"), 6).as("mean_b"))
    val rnW = Window.partitionBy(zeroPart(col("b")))
      .orderBy(col("mean_b"), col("b"))
    means.withColumn("rn", row_number().over(rnW))
      .agg(count(lit(1)).as("n_replicates"),
        round(sum(col("mean_b").cast(decY)).cast("double") / count(lit(1)), 6)
          .as("boot_mean"),
        max(when(col("rn") === 3, col("mean_b"))).as("ci_lo"),
        max(when(col("rn") === BootReps - 2, col("mean_b"))).as("ci_hi"))
  }

  private val statsBootstrapCiSql: String = {
    val wCase = """CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1
                  |    WHEN u < 920 THEN 2 WHEN u < 981 THEN 3
                  |    WHEN u < 996 THEN 4 ELSE 5 END""".stripMargin
    s"""WITH base AS (
       |  SELECT CAST(CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)),
       |      1, 8) AS UBIGINT) AS BIGINT) % 1000003 AS h,
       |    CAST(round(value, 6) AS DECIMAL(20,6)) AS y
       |  FROM events WHERE value IS NOT NULL),
       |rep AS (
       |  SELECT h, y, b,
       |    (h * (2*b + 1) + b * 7919) % 1000 AS u
       |  FROM base
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${BootReps - 1}))
       |              AS b) g),
       |means AS (
       |  SELECT b,
       |    round(CAST(SUM(($wCase) * y) AS DOUBLE)
       |      / CAST(SUM($wCase) AS DOUBLE), 6) AS mean_b
       |  FROM rep GROUP BY b),
       |r AS (SELECT b, mean_b,
       |        ROW_NUMBER() OVER (ORDER BY mean_b, b) AS rn
       |      FROM means)
       |SELECT CAST(COUNT(1) AS BIGINT) AS n_replicates,
       |  round(CAST(SUM(CAST(mean_b AS DECIMAL(20,6))) AS DOUBLE)
       |    / COUNT(1), 6) AS boot_mean,
       |  MAX(CASE WHEN rn = 3 THEN mean_b END) AS ci_lo,
       |  MAX(CASE WHEN rn = ${BootReps - 2} THEN mean_b END) AS ci_hi
       |FROM r""".stripMargin
  }

  /**
   * Theil–Sen robust trend of daily event volume — the outlier-proof
   * slope estimator (median of all pairwise slopes, Sen 1968) a traffic
   * monitor prefers over least squares when single anomalous days exist:
   * daily counts pair up (every a < b), each pair contributes
   * (n_b − n_a)/(day_b − day_a), and the reported slope is the LOWER
   * MEDIAN under the total order (slope, day_a, day_b) — an order
   * statistic, not an interpolated quantile, so both engines pick the
   * identical pair (also reported).
   *
   * Scale: the pair join runs on the ≤|days| daily rollup — O(days²)
   * pairs is the estimator's own contract (≈6.7M pairs for a 10-year
   * span; the corpus never self-joins). The median window is a
   * single-group window over that bounded pair relation (zeroPart
   * convention).
   */
  def statsTheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .select(to_date(timestamp_micros(epochUs())).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
      .withColumn("dn", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val a = daily.select(col("dn").as("da"), col("n").as("na"))
    val b = daily.select(col("dn").as("db"), col("n").as("nb"))
    val pairs = a.join(b, col("da") < col("db"))
      .select(col("da"), col("db"),
        round((col("nb") - col("na")).cast("double")
          / (col("db") - col("da")).cast("double"), 8).as("slope"))
    val ord = Window.partitionBy(Tables.zeroPart(col("da")))
      .orderBy(col("slope"), col("da"), col("db"))
    val zw = Window.partitionBy(Tables.zeroPart(col("da")))
    pairs
      .withColumn("rk", row_number().over(ord).cast("long"))
      .withColumn("np", count(lit(1)).over(zw))
      .filter(col("rk") === floor((col("np") + 1L) / 2L).cast("long"))
      .select(col("np").as("n_pairs"), round(col("slope"), 6).as("sen_slope"),
        col("da").as("pair_da"), col("db").as("pair_db"))
  }

  // ---------------------------------------------------------------------
  // stats_wilcoxon_signed — week-over-week paired signed-rank test
  // ---------------------------------------------------------------------

  /**
   * Wilcoxon signed-rank test on week-over-week PAIRED daily volumes per
   * event type: day d pairs with day d+7 on the dense grid, zero
   * differences drop (the textbook Wilcoxon treatment), |d| gets
   * average ranks, and z normal-approximates W⁺ with the tie-corrected
   * variance n(n+1)(2n+1)/24 − Σ(t³−t)/48. The PAIRED complement to
   * [[statsSeasonalityDow]] (which tests day-of-week level differences
   * unpaired): a significant z here says the series is NOT
   * week-stationary even after pairing away the weekday effect.
   *
   * Exactness: doubled average ranks 2r = 2·cumBefore + c + 1 stay
   * integers, 2·W⁺ = Σ c_pos·2r accumulates as exact LONG sums, and the
   * tie sum Σ(t³−t) folds in DECIMAL(38,0); one final double expression
   * per event type, NULL when every |d| ties into a single block
   * (σ² = 0) or no nonzero pairs survive. Scale: the pair relation is
   * the ≤|days| dense grid self-joined at lag 7 — date-range-sized, not
   * row-sized; ranks come from a cumulative window over the per-type
   * |d|-value domain (the [[graft.queries.Governance]] doubled-rank
   * machinery), never a per-row global window.
   */
  def statsWilcoxonSigned(s: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val dense = denseDaily(s, dir)
    val pairs = dense
      .join(dense.select(col("event_type"), (col("dn") - 7L).as("dn"),
        col("n").as("y")), Seq("event_type", "dn"))
      .select(col("event_type"), (col("y") - col("n")).as("d"))
      .filter(col("d") =!= 0L)
    val vc = pairs
      .select(col("event_type"), abs(col("d")).as("ad"),
        when(col("d") > 0L, 1L).otherwise(0L).as("ip"))
      .groupBy(col("event_type"), col("ad"))
      .agg(count(lit(1)).as("c"), sum(col("ip")).as("cp"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("ad"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = vc
      .withColumn("cb", coalesce(sum(col("c")).over(w), lit(0L)))
      .select(col("event_type"), col("c"), col("cp"),
        (lit(2L) * col("cb") + col("c") + lit(1L)).as("r2"))
    val g = r.groupBy(col("event_type")).agg(
      sum(col("c")).as("n"),
      sum(col("cp") * col("r2")).as("w2p"),
      sum(col("c").cast(d38) * col("c") * col("c") - col("c")).as("ts"))
    val nD = col("n").cast("double")
    val sig2 = nD * (nD + lit(1.0d)) * (lit(2.0d) * nD + lit(1.0d)) / lit(24.0d) -
      col("ts").cast("double") / lit(48.0d)
    g.select(col("event_type"), col("n").as("n_pairs"),
        (col("w2p").cast("double") / lit(2.0d)).as("w_plus"),
        (round(when(sig2 > 0,
          (col("w2p").cast("double") / lit(2.0d) -
            nD * (nD + lit(1.0d)) / lit(4.0d)) / sqrt(sig2)), 6) + lit(0.0)).as("z"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------------
  // stats_changepoint_binseg — one binary-segmentation step (level shift)
  // ---------------------------------------------------------------------

  /**
   * One binary-segmentation changepoint step on the dense global daily
   * series: the split that maximizes the SSE reduction
   * S_l²/k + S_r²/(T−k) − S²/T (least-squares level-shift detection —
   * the single step the CUSUM fence in [[statsCusumShift]] only
   * approximates; full binseg recursion would re-run this on each half).
   * Reports the split day (last day of the left segment), both segment
   * means, and the gain — the "did traffic step-change, and when"
   * readout a pipeline monitor acts on.
   *
   * Determinism: candidate scores are IEEE expressions over exact LONG
   * prefix sums (identical operand order in both engines), ranked after
   * an 8 dp round with the day as tie-break. Scale: the series is the
   * date-range-sized dense spine (≤|days| rows) — cumulative window +
   * rank run over a metadata-sized relation; the only data-sized work
   * is the one daily-count aggregate.
   */
  def statsChangepointBinseg(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .select(datediff(to_date(timestamp_micros(epochUs())),
        lit("1970-01-01").cast("date")).cast("long").as("dn"))
      .groupBy(col("dn")).agg(count(lit(1)).as("n"))
    val spine = daily
      .agg(min(col("dn")).as("lo"), max(col("dn")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("dn"))
    val dense = spine.join(daily, Seq("dn"), "left_outer")
      .select(col("dn"), coalesce(col("n"), lit(0L)).as("n"))
    val zw = Window.partitionBy(Tables.zeroPart(col("dn")))
    val cw = zw.orderBy(col("dn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rw = zw.orderBy(col("dn"))
    val cum = dense
      .withColumn("k", row_number().over(rw).cast("long"))
      .withColumn("sl", sum(col("n")).over(cw))
      .withColumn("t", count(lit(1)).over(zw))
      .withColumn("st", sum(col("n")).over(zw))
      .filter(col("k") < col("t")) // both segments non-empty
    val kD = col("k").cast("double")
    val tD = col("t").cast("double")
    val slD = col("sl").cast("double")
    val srD = (col("st") - col("sl")).cast("double")
    val gain = slD * slD / kD + srD * srD / (tD - kD) -
      col("st").cast("double") * col("st").cast("double") / tD
    val ow = Window.partitionBy(Tables.zeroPart(col("dn")))
      .orderBy(round(gain, 8).desc, col("dn"))
    cum
      .withColumn("rn", row_number().over(ow))
      .filter(col("rn") === 1)
      .select(col("t").as("n_days"), col("dn").as("split_dn"),
        col("k").as("n_left"),
        round(slD / kD, 6).as("mean_left"),
        round(srD / (tD - kD), 6).as("mean_right"),
        (round(gain, 6) + lit(0.0)).as("sse_gain"))
  }

  // ---------------------------------------------------------------------
  // stats_page_hinkley — sequential upward-drift detector on the series
  // ---------------------------------------------------------------------

  /**
   * Page–Hinkley upward-drift statistic on the dense global daily series
   * (Page 1954; the sequential test the streaming-drift literature
   * standardizes on, e.g. Gama 2014): mₜ = Σᵢ≤ₜ (xᵢ − μ̂ᵢ) with μ̂ᵢ the
   * running mean, and PH = maxₜ (mₜ − minₛ≤ₜ mₛ) — how far the series
   * has climbed above its own historical mean, cumulatively. The
   * SEQUENTIAL complement to [[statsChangepointBinseg]] (which picks the
   * single best retrospective split): PH is what a monitor evaluates
   * day-by-day, and `alarm_dn` is the day the evidence peaked.
   *
   * Determinism: per-day deviations xᵢ − Sᵢ/i round to 8 dp into
   * DECIMAL before the cumulative fold (running-mean divisions are the
   * only non-integer step); final stat one 6 dp round; argmax ties break
   * on the earlier day. Scale: three cumulative windows over the
   * date-range-sized dense spine — metadata-sized; the one data-sized
   * pass is the daily count aggregate.
   */
  def statsPageHinkley(s: SparkSession, dir: String): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 8)
    val daily = ev(s, dir)
      .select(datediff(to_date(timestamp_micros(epochUs())),
        lit("1970-01-01").cast("date")).cast("long").as("dn"))
      .groupBy(col("dn")).agg(count(lit(1)).as("n"))
    val spine = daily
      .agg(min(col("dn")).as("lo"), max(col("dn")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("dn"))
    val dense = spine.join(daily, Seq("dn"), "left_outer")
      .select(col("dn"), coalesce(col("n"), lit(0L)).as("n"))
    val zw = Window.partitionBy(Tables.zeroPart(col("dn")))
    val cw = zw.orderBy(col("dn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dev = dense
      .withColumn("t", row_number().over(zw.orderBy(col("dn"))).cast("long"))
      .withColumn("st", sum(col("n")).over(cw))
      .withColumn("d8",
        round(col("n").cast("double") -
          col("st").cast("double") / col("t").cast("double"), 8).cast(dec8))
    val m = dev
      .withColumn("m", sum(col("d8")).over(cw))
      .withColumn("mmin", min(col("m")).over(cw))
      .select(col("dn"), (col("m") - col("mmin")).as("ph"))
    val ow = zw.orderBy(col("ph").desc, col("dn"))
    m.withColumn("rn", row_number().over(ow))
      .withColumn("nd", count(lit(1)).over(zw))
      .filter(col("rn") === 1)
      .select(col("nd").as("n_days"), col("dn").as("alarm_dn"),
        round(col("ph").cast("double"), 6).as("ph_stat"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_page_hinkley" -> (statsPageHinkley _),
    "stats_changepoint_binseg" -> (statsChangepointBinseg _),
    "stats_wilcoxon_signed" -> (statsWilcoxonSigned _),
    "stats_theil_sen" -> (statsTheilSen _),
    "q_survival_km" -> (qSurvivalKm _),
    "stats_bootstrap_ci" -> (statsBootstrapCi _),
    "stats_user_entropy" -> (statsUserEntropy _),
    "stats_benford" -> (statsBenford _),
    "stats_seasonal_trend" -> (statsSeasonalTrend _),
    "q_growth_accounting" -> (qGrowthAccounting _),
    "q_histogram" -> (qHistogram _),
    "q_time_to_convert" -> (qTimeToConvert _),
    "q_attribution_ushape" -> (qAttributionUshape _),
    "q_attribution_time_decay" -> (qAttributionTimeDecay _),
    "q_ab_test_srm" -> (qAbTestSrm _),
    "q_attribution_markov" -> (qAttributionMarkov _),
    "q_windowed_distinct" -> (qWindowedDistinct _),
    "q_time_weighted_avg" -> (qTimeWeightedAvg _),
    "interval_concurrency" -> (intervalConcurrency _),
    "stats_cusum_shift" -> (statsCusumShift _),
    "stats_friedman" -> (statsFriedman _),
    "stats_runs_test" -> (statsRunsTest _),
    "q_inter_event_gaps" -> (qInterEventGaps _),
    "q_did_lift" -> (qDidLift _),
    "stats_autocorr" -> (statsAutocorr _),
    "stats_seasonality_dow" -> (statsSeasonalityDow _),
    "ml_churn_labels" -> (mlChurnLabels _),
    "q_pareto_revenue" -> (qParetoRevenue _),
    "stats_daily_anomaly" -> (statsDailyAnomaly _),
    "q_islands_scd2" -> (qIslandsScd2 _),
    "q_stickiness" -> (qStickiness _),
    "q_user_paths" -> (qUserPaths _),
    "q_asof_join" -> (qAsofJoin _),
    "q_asof_fwd" -> (qAsofFwd _),
    "q10_first_event" -> (q10FirstEvent _),
    "q11_ntile" -> (q11Ntile _),
    "q12_lag_lead" -> (q12LagLead _),
    "q_cohort_retention" -> (qCohortRetention _),
    "q_cohort_ltv" -> (qCohortLtv _),
    "q_rfm_segments" -> (qRfmSegments _),
    "q_attribution_linear" -> (qAttributionLinear _),
    "q21_sessionize" -> (q21Sessionize _),
    "q24_json_props" -> (q24JsonProps _),
    "q25_hour_buckets" -> (q25HourBuckets _),
    "q_range_frame" -> (qRangeFrame _),
    "q_funnel" -> (qFunnel _),
    "q_gap_fill" -> (qGapFill _))

  val oracle: Map[String, String] = Map(
    "stats_page_hinkley" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn,
        |    CAST(COUNT(1) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |b AS (SELECT MIN(dn) AS lo, MAX(dn) AS hi FROM daily),
        |sp AS (SELECT CAST(unnest(generate_series(b.lo, b.hi)) AS BIGINT)
        |         AS dn FROM b),
        |dense AS (
        |  SELECT sp.dn, CAST(COALESCE(d.n, 0) AS BIGINT) AS n
        |  FROM sp LEFT JOIN daily d USING (dn)),
        |dev AS (
        |  SELECT dn,
        |    CAST(round(CAST(n AS DOUBLE)
        |      - CAST(SUM(n) OVER (ORDER BY dn
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |        / CAST(ROW_NUMBER() OVER (ORDER BY dn) AS DOUBLE), 8)
        |      AS DECIMAL(30,8)) AS d8
        |  FROM dense),
        |mm AS (
        |  SELECT dn,
        |    SUM(d8) OVER (ORDER BY dn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        |  FROM dev),
        |m AS (
        |  SELECT dn,
        |    m - MIN(m) OVER (ORDER BY dn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
        |  FROM mm),
        |best AS (
        |  SELECT dn, ph,
        |    ROW_NUMBER() OVER (ORDER BY ph DESC, dn) AS rn,
        |    CAST(COUNT(1) OVER () AS BIGINT) AS nd
        |  FROM m)
        |SELECT nd AS n_days, dn AS alarm_dn,
        |  round(CAST(ph AS DOUBLE), 6) AS ph_stat
        |FROM best WHERE rn = 1""".stripMargin,
    "stats_changepoint_binseg" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn,
        |    CAST(COUNT(1) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |b AS (SELECT MIN(dn) AS lo, MAX(dn) AS hi FROM daily),
        |sp AS (SELECT CAST(unnest(generate_series(b.lo, b.hi)) AS BIGINT)
        |         AS dn FROM b),
        |dense AS (
        |  SELECT sp.dn, CAST(COALESCE(d.n, 0) AS BIGINT) AS n
        |  FROM sp LEFT JOIN daily d USING (dn)),
        |cum AS (
        |  SELECT dn,
        |    CAST(ROW_NUMBER() OVER (ORDER BY dn) AS BIGINT) AS k,
        |    CAST(SUM(n) OVER (ORDER BY dn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sl,
        |    CAST(COUNT(1) OVER () AS BIGINT) AS t,
        |    CAST(SUM(n) OVER () AS BIGINT) AS st
        |  FROM dense),
        |cand AS (
        |  SELECT dn, k, sl, t, st,
        |    CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(k AS DOUBLE)
        |    + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
        |      / (CAST(t AS DOUBLE) - CAST(k AS DOUBLE))
        |    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(t AS DOUBLE)
        |      AS gain
        |  FROM cum WHERE k < t),
        |best AS (
        |  SELECT dn, k, sl, t, st, gain,
        |    ROW_NUMBER() OVER (ORDER BY round(gain, 8) DESC, dn) AS rn
        |  FROM cand)
        |SELECT t AS n_days, dn AS split_dn, k AS n_left,
        |  round(CAST(sl AS DOUBLE) / CAST(k AS DOUBLE), 6) AS mean_left,
        |  round(CAST(st - sl AS DOUBLE)
        |    / (CAST(t AS DOUBLE) - CAST(k AS DOUBLE)), 6) AS mean_right,
        |  round(gain, 6) + 0.0 AS sse_gain
        |FROM best WHERE rn = 1""".stripMargin,
    "stats_wilcoxon_signed" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn,
        |    CAST(COUNT(1) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, MIN(dn) AS lo, MAX(dn) AS hi
        |      FROM daily GROUP BY 1),
        |sp AS (SELECT b.event_type,
        |         CAST(unnest(generate_series(b.lo, b.hi)) AS BIGINT) AS dn
        |       FROM b),
        |dense AS (
        |  SELECT sp.event_type, sp.dn, CAST(COALESCE(d.n, 0) AS BIGINT) AS n
        |  FROM sp LEFT JOIN daily d USING (event_type, dn)),
        |pr AS (
        |  SELECT x.event_type, y.n - x.n AS d
        |  FROM dense x JOIN dense y
        |    ON y.event_type = x.event_type AND y.dn = x.dn + 7
        |  WHERE y.n <> x.n),
        |vc AS (
        |  SELECT event_type, abs(d) AS ad, CAST(COUNT(1) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cp
        |  FROM pr GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, c, cp,
        |    2 * COALESCE(CAST(SUM(c) OVER (PARTITION BY event_type
        |      ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) + c + 1 AS r2
        |  FROM vc),
        |g AS (
        |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(cp * r2) AS BIGINT) AS w2p,
        |    SUM(CAST(c AS DECIMAL(38,0)) * c * c - c) AS ts
        |  FROM r GROUP BY 1)
        |SELECT event_type, n AS n_pairs, CAST(w2p AS DOUBLE) / 2.0 AS w_plus,
        |  round(CASE WHEN CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
        |      * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
        |      - CAST(ts AS DOUBLE) / 48.0 > 0 THEN
        |    (CAST(w2p AS DOUBLE) / 2.0
        |      - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
        |    / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
        |      * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
        |      - CAST(ts AS DOUBLE) / 48.0) END, 6) + 0.0 AS z
        |FROM g ORDER BY event_type""".stripMargin,
    "stats_theil_sen" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(1) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |d2 AS (
        |  SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS dn, n FROM daily),
        |p AS (
        |  SELECT a.dn AS da, b.dn AS db,
        |    round(CAST(b.n - a.n AS DOUBLE) / CAST(b.dn - a.dn AS DOUBLE), 8)
        |      AS slope
        |  FROM d2 a JOIN d2 b ON a.dn < b.dn),
        |r AS (
        |  SELECT da, db, slope,
        |    ROW_NUMBER() OVER (ORDER BY slope, da, db) AS rk,
        |    CAST(COUNT(1) OVER () AS BIGINT) AS np
        |  FROM p)
        |SELECT np AS n_pairs, round(slope, 6) AS sen_slope,
        |  da AS pair_da, db AS pair_db
        |FROM r WHERE rk = (np + 1) // 2""".stripMargin,
    "q_survival_km" -> qSurvivalKmSql,
    "stats_bootstrap_ci" -> statsBootstrapCiSql,
    "stats_user_entropy" ->
      """WITH ut AS (
        |  SELECT user_id, event_type, CAST(COUNT(1) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |un AS (
        |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
        |    CAST(COUNT(1) AS BIGINT) AS n_types
        |  FROM ut GROUP BY 1)
        |SELECT ut.user_id, n_events, n_types,
        |  round(CAST(SUM(CAST(round(
        |    -(CAST(c AS DOUBLE) / CAST(n_events AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(n_events AS DOUBLE)), 8)
        |    AS DECIMAL(20,8))) AS DOUBLE), 6) AS entropy
        |FROM ut JOIN un USING (user_id)
        |GROUP BY ut.user_id, n_events, n_types
        |ORDER BY ut.user_id""".stripMargin,
    "stats_benford" -> {
      val values = BenfordShares.map { case (d, sh) =>
        s"($d, ${BigDecimal(sh).bigDecimal.toPlainString})"
      }.mkString(", ")
      s"""WITH bench(digit, share_benford) AS (VALUES $values),
         |obs AS (
         |  SELECT CAST(substring(CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100
         |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         |    CAST(COUNT(1) AS BIGINT) AS n_obs
         |  FROM events WHERE value IS NOT NULL AND value > 0
         |  GROUP BY 1),
         |tot AS (SELECT CAST(coalesce(SUM(n_obs), 0) AS BIGINT) AS n FROM obs)
         |SELECT CAST(bench.digit AS BIGINT) AS digit,
         |  CAST(coalesce(n_obs, 0) AS BIGINT) AS n_obs,
         |  CASE WHEN n > 0
         |    THEN round(CAST(coalesce(n_obs, 0) AS DOUBLE) / n, 6) END AS share_obs,
         |  CAST(share_benford AS DOUBLE) AS share_benford,
         |  CASE WHEN n > 0 THEN round(
         |    (CAST(coalesce(n_obs, 0) AS DOUBLE) - n * CAST(share_benford AS DOUBLE))
         |    * (CAST(coalesce(n_obs, 0) AS DOUBLE) - n * CAST(share_benford AS DOUBLE))
         |    / (n * CAST(share_benford AS DOUBLE)), 6) END AS chi2_term
         |FROM bench LEFT JOIN obs ON bench.digit = obs.digit
         |CROSS JOIN tot
         |ORDER BY digit""".stripMargin
    },
    "stats_seasonal_trend" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS dn,
        |    SUM(CAST(value AS DECIMAL(12,2))) AS rev_d
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1),
        |t AS (
        |  SELECT dn,
        |    COUNT(1) OVER win AS n_win,
        |    round(CAST(rev_d AS DOUBLE), 6) AS revenue,
        |    CASE WHEN COUNT(1) OVER win = 7
        |      THEN round(CAST(SUM(rev_d) OVER win AS DOUBLE) / 7, 6) END AS trend
        |  FROM daily
        |  WINDOW win AS (ORDER BY dn RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |r AS (
        |  SELECT dn, revenue, trend,
        |    CASE WHEN trend IS NOT NULL THEN round(revenue - trend, 6) END AS resid,
        |    CAST((dn + 3) % 7 + 1 AS BIGINT) AS dow
        |  FROM t),
        |se AS (
        |  SELECT dow,
        |    round(CAST(SUM(CAST(resid AS DECIMAL(30,8))) AS DOUBLE) / COUNT(1), 6)
        |      AS seasonal
        |  FROM r WHERE resid IS NOT NULL GROUP BY dow)
        |SELECT r.dn AS day_num, r.dow, r.revenue, r.trend, r.resid, se.seasonal,
        |  CASE WHEN r.resid IS NOT NULL AND se.seasonal IS NOT NULL
        |    THEN round(r.resid - se.seasonal, 6) END AS deseasonalized
        |FROM r LEFT JOIN se ON r.dow = se.dow
        |ORDER BY day_num""".stripMargin,
    "q_growth_accounting" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_diff('day', DATE '1970-01-05',
        |      CAST(date_trunc('week', ts) AS DATE)) // 7 AS BIGINT) AS wk
        |  FROM events),
        |st AS (
        |  SELECT wk, CASE WHEN prev IS NULL THEN 'new'
        |    WHEN wk - prev = 1 THEN 'retained'
        |    ELSE 'resurrected' END AS status
        |  FROM (SELECT user_id, wk,
        |          LAG(wk, 1) OVER (PARTITION BY user_id ORDER BY wk) AS prev
        |        FROM uw)),
        |ch AS (
        |  SELECT a.wk + 1 AS wk, 'churned' AS status
        |  FROM uw a LEFT JOIN uw b
        |    ON a.user_id = b.user_id AND b.wk = a.wk + 1
        |  WHERE b.user_id IS NULL),
        |u AS (SELECT wk, status FROM st UNION ALL SELECT wk, status FROM ch)
        |SELECT wk,
        |  CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |  CAST(SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
        |  CAST(SUM(CASE WHEN status = 'churned' THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
        |FROM u GROUP BY wk ORDER BY wk""".stripMargin,
    "q_histogram" ->
      """WITH e AS (
        |  SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_type, min(v) AS lo, max(v) AS hi
        |      FROM e GROUP BY event_type),
        |b AS (
        |  SELECT e.event_type,
        |    CASE WHEN hi = lo THEN 0
        |      ELSE least(9, CAST(floor(CAST(e.v - lo AS DOUBLE) * 10
        |        / CAST(hi - lo AS DOUBLE)) AS BIGINT)) END AS bin,
        |    lo, hi
        |  FROM e JOIN r ON e.event_type = r.event_type)
        |SELECT event_type, CAST(bin AS BIGINT) AS bin,
        |  CAST(COUNT(1) AS BIGINT) AS n,
        |  round(min(CAST(lo AS DOUBLE)
        |    + CAST(hi - lo AS DOUBLE) * CAST(bin AS DOUBLE) / 10), 6) AS bin_lo
        |FROM b GROUP BY event_type, bin
        |ORDER BY event_type, bin""".stripMargin,
    "q_time_to_convert" ->
      """WITH fv AS (
        |  SELECT user_id, min(epoch_us(ts)) AS v_us
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |d AS (
        |  SELECT e.user_id,
        |    CAST(min(epoch_us(e.ts)) - max(fv.v_us) AS BIGINT) AS delta_us
        |  FROM events e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > fv.v_us
        |  GROUP BY e.user_id),
        |r AS (
        |  SELECT delta_us,
        |    row_number() OVER (ORDER BY delta_us, user_id) AS rk,
        |    COUNT(1) OVER () AS total
        |  FROM d)
        |SELECT p.decile, r.delta_us, CAST(r.total AS BIGINT) AS n_converting
        |FROM r JOIN (SELECT unnest(generate_series(10, 90, 10)) AS decile) p
        |  ON r.rk = floor((r.total * p.decile + 99) / 100)
        |ORDER BY p.decile""".stripMargin,
    "q_attribution_ushape" ->
      s"""WITH conv AS (
         |  SELECT event_id AS conv_id, user_id, ts AS cts, value
         |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
         |touch AS (
         |  SELECT user_id AS tuid, ts AS tts, event_id AS tid,
         |    event_type AS touch_type
         |  FROM events WHERE event_type IN ('view', 'click')),
         |j AS (
         |  SELECT conv_id, value, touch_type, tts, tid
         |  FROM conv LEFT JOIN touch ON user_id = tuid
         |    AND tts < cts AND tts >= cts - INTERVAL 7 DAY),
         |r AS (
         |  SELECT conv_id, value, touch_type,
         |    COUNT(tid) OVER (PARTITION BY conv_id) AS n_touch,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY tts, tid) AS rn
         |  FROM j),
         |c AS (
         |  SELECT coalesce(touch_type, 'direct') AS touch_type,
         |    round(value * (CASE
         |      WHEN n_touch <= 1 THEN 1.0
         |      WHEN n_touch = 2 THEN 0.5
         |      WHEN rn = 1 OR rn = n_touch THEN 0.4
         |      ELSE 0.2 / CAST(n_touch - 2 AS DOUBLE) END), 6) AS credit
         |  FROM r)
         |SELECT touch_type, CAST(COUNT(1) AS BIGINT) AS n_touches,
         |  round(CAST(SUM(CAST(credit AS DECIMAL(30,8))) AS DOUBLE), 6)
         |    AS credited_value
         |FROM c GROUP BY touch_type ORDER BY touch_type""".stripMargin,
    "q_windowed_distinct" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |dau AS (SELECT day, CAST(COUNT(1) AS BIGINT) AS n_dau FROM ud GROUP BY day),
        |sc AS (
        |  SELECT DISTINCT user_id, day + o AS day
        |  FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS o)),
        |tr AS (
        |  SELECT sc.day, CAST(COUNT(1) AS BIGINT) AS n_active_7d
        |  FROM sc WHERE sc.day IN (SELECT day FROM dau)
        |  GROUP BY sc.day)
        |SELECT dau.day AS day_num, n_dau, n_active_7d
        |FROM dau JOIN tr ON dau.day = tr.day
        |ORDER BY day_num""".stripMargin,
    "q_time_weighted_avg" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, value,
        |    LEAD(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) - epoch_us(ts) AS delta
        |  FROM events),
        |g AS (
        |  SELECT user_id, CAST(COUNT(1) AS BIGINT) AS n_events,
        |    CAST(max(us) - min(us) AS BIGINT) AS duration_us,
        |    SUM(CAST(value AS DECIMAL(12,2)) * delta) AS wsum
        |  FROM e GROUP BY user_id)
        |SELECT user_id, n_events, duration_us,
        |  CASE WHEN duration_us > 0
        |    THEN round(CAST(wsum AS DOUBLE) / duration_us, 6) END AS twa_value
        |FROM g ORDER BY user_id""".stripMargin,
    "interval_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |      OR LAG(epoch_us(ts), 1) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id, us
        |  FROM e),
        |iv AS (
        |  SELECT user_id, session_id, min(us) AS s_us, max(us) AS e_us
        |  FROM s GROUP BY 1, 2),
        |d AS (
        |  SELECT s_us AS t, CAST(1 AS BIGINT) AS d FROM iv
        |  UNION ALL
        |  SELECT e_us + 1 AS t, CAST(-1 AS BIGINT) AS d FROM iv),
        |net AS (SELECT t, SUM(d) AS net FROM d GROUP BY t),
        |c AS (
        |  SELECT t, SUM(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS conc
        |  FROM net)
        |SELECT CAST(t // 86400000000 AS BIGINT) AS day_num,
        |  CAST(max(conc) AS BIGINT) AS peak_concurrency,
        |  CAST(COUNT(1) AS BIGINT) AS n_boundaries
        |FROM c GROUP BY 1 ORDER BY day_num""".stripMargin,
    "stats_runs_test" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn,
        |    CAST(COUNT(1) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, MIN(dn) AS lo, MAX(dn) AS hi
        |      FROM daily GROUP BY 1),
        |sp AS (SELECT b.event_type,
        |         CAST(unnest(generate_series(b.lo, b.hi)) AS BIGINT) AS dn
        |       FROM b),
        |dense AS (
        |  SELECT sp.event_type, sp.dn, CAST(COALESCE(d.n, 0) AS BIGINT) AS n
        |  FROM sp LEFT JOIN daily d USING (event_type, dn)),
        |vg AS (
        |  SELECT event_type, n, CAST(COUNT(1) AS BIGINT) AS cnt
        |  FROM dense GROUP BY 1, 2),
        |cw AS (
        |  SELECT event_type, n,
        |    CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
        |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY n
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM vg),
        |med AS (
        |  SELECT event_type, MIN(n) AS med FROM cw
        |  WHERE cum >= (tot + 1) // 2 GROUP BY event_type),
        |sg AS (
        |  SELECT d.event_type, d.dn, d.n > m.med AS above
        |  FROM dense d JOIN med m USING (event_type)
        |  WHERE d.n <> m.med),
        |ch AS (
        |  SELECT event_type, above,
        |    CASE WHEN LAG(above, 1) OVER (PARTITION BY event_type
        |        ORDER BY dn) IS DISTINCT FROM above THEN 1 ELSE 0 END AS chg
        |  FROM sg),
        |r AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |    CAST(SUM(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT) AS n_below,
        |    CAST(SUM(chg) AS BIGINT) AS n_runs
        |  FROM ch GROUP BY event_type)
        |SELECT event_type, n_above, n_below, n_runs,
        |  round(CASE WHEN n_above > 0 AND n_below > 0
        |      AND 2 * n_above * n_below > n_above + n_below THEN
        |    (CAST(n_runs AS DOUBLE) -
        |      (1.0 + CAST(2 * n_above * n_below AS DOUBLE)
        |        / CAST(n_above + n_below AS DOUBLE)))
        |    / sqrt((CAST(2 * n_above * n_below AS DOUBLE)
        |        * (CAST(2 * n_above * n_below AS DOUBLE)
        |          - CAST(n_above + n_below AS DOUBLE)))
        |      / (CAST(n_above + n_below AS DOUBLE)
        |        * CAST(n_above + n_below AS DOUBLE)
        |        * (CAST(n_above + n_below AS DOUBLE) - 1.0))) END, 6) AS z
        |FROM r ORDER BY event_type""".stripMargin,
    "stats_friedman" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn,
        |    CAST(COUNT(1) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |b AS (SELECT MIN(dn) AS lo, MAX(dn) AS hi FROM daily),
        |sp AS (SELECT CAST(unnest(generate_series(lo, hi)) AS BIGINT) AS dn FROM b),
        |ty AS (SELECT DISTINCT event_type FROM daily),
        |grid AS (
        |  SELECT sp.dn, ty.event_type, CAST(COALESCE(d.x, 0) AS BIGINT) AS x
        |  FROM sp CROSS JOIN ty
        |  LEFT JOIN daily d ON d.dn = sp.dn AND d.event_type = ty.event_type),
        |r2 AS (
        |  SELECT dn, x,
        |    2 * COALESCE(CAST(SUM(c) OVER (PARTITION BY dn ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |      + c + 1 AS r2v
        |  FROM (SELECT dn, x, CAST(COUNT(1) AS BIGINT) AS c
        |        FROM grid GROUP BY 1, 2)),
        |pt AS (
        |  SELECT g.event_type, CAST(COUNT(1) AS BIGINT) AS nb,
        |    SUM(CAST(r2.r2v AS DECIMAL(38,0))) AS rr2,
        |    SUM(CAST(r2.r2v AS DECIMAL(38,0)) * r2.r2v) AS a4j
        |  FROM grid g JOIN r2 ON g.dn = r2.dn AND g.x = r2.x
        |  GROUP BY 1),
        |f AS (
        |  SELECT CAST(COUNT(1) AS BIGINT) AS k, CAST(MAX(nb) AS BIGINT) AS n,
        |    SUM(CAST(round(CAST(rr2 AS DOUBLE) * CAST(rr2 AS DOUBLE), 8)
        |      AS DECIMAL(30,8))) AS sr2,
        |    SUM(a4j) AS a4
        |  FROM pt)
        |SELECT k AS k_treatments, n AS n_blocks,
        |  round(CASE WHEN k > 1 AND
        |      CAST(a4 AS DOUBLE) - CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
        |        * (CAST(k AS DOUBLE) + 1.0) * (CAST(k AS DOUBLE) + 1.0) > 0
        |    THEN (CAST(k AS DOUBLE) - 1.0)
        |      * (CAST(sr2 AS DOUBLE) - CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |         * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)
        |         * (CAST(k AS DOUBLE) + 1.0))
        |      / (CAST(a4 AS DOUBLE) - CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
        |         * (CAST(k AS DOUBLE) + 1.0) * (CAST(k AS DOUBLE) + 1.0))
        |    END, 6) + 0.0 AS chi2_f
        |FROM f""".stripMargin,
    "stats_cusum_shift" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn,
        |    CAST(COUNT(1) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, MIN(dn) AS lo, MAX(dn) AS hi
        |      FROM daily GROUP BY 1),
        |sp AS (SELECT b.event_type,
        |         CAST(unnest(generate_series(b.lo, b.hi)) AS BIGINT) AS dn
        |       FROM b),
        |dense AS (
        |  SELECT sp.event_type, sp.dn, CAST(COALESCE(d.n, 0) AS BIGINT) AS n
        |  FROM sp LEFT JOIN daily d USING (event_type, dn)),
        |t AS (
        |  SELECT event_type, dn, n,
        |    CAST(COUNT(1) OVER (PARTITION BY event_type) AS BIGINT) AS days,
        |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot
        |  FROM dense),
        |d2 AS (
        |  SELECT event_type, dn, n, tot,
        |    CAST(4 * days * n - 5 * tot AS BIGINT) AS d
        |  FROM t),
        |p1 AS (
        |  SELECT event_type, dn, n, tot,
        |    CAST(SUM(d) OVER (PARTITION BY event_type ORDER BY dn
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
        |  FROM d2),
        |p2 AS (
        |  SELECT event_type, dn, n, tot, p,
        |    CAST(MIN(p) OVER (PARTITION BY event_type ORDER BY dn
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS mn
        |  FROM p1)
        |SELECT event_type, DATE '1970-01-01' + CAST(dn AS INTEGER) AS day, n,
        |  CAST(p - LEAST(mn, 0) AS BIGINT) AS cusum_scaled,
        |  p - LEAST(mn, 0) > 8 * tot AS alarm
        |FROM p2 ORDER BY event_type, day""".stripMargin,
    "q_inter_event_gaps" ->
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_us(ts) - epoch_us(LAG(ts, 1) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id))) // 1000000 AS gap_s
        |  FROM events),
        |c AS (
        |  SELECT event_type, CAST(gap_s AS BIGINT) AS gap_s,
        |    CAST(COUNT(1) AS BIGINT) AS cnt
        |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, gap_s, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
        |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY gap_s
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM c)
        |SELECT event_type, MAX(tot) AS n_gaps,
        |  MIN(CASE WHEN cum >= (tot + 1) // 2 THEN gap_s END) AS p50_s,
        |  MIN(CASE WHEN cum >= (tot * 9 + 9) // 10 THEN gap_s END) AS p90_s,
        |  MAX(gap_s) AS max_s
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_did_lift" ->
      """WITH e AS (
        |  SELECT user_id, event_type, value,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn
        |  FROM events),
        |mo AS (SELECT (MIN(dn) + MAX(dn) + 1) // 2 AS mid FROM e),
        |pu AS (
        |  SELECT user_id,
        |    MAX(event_type = 'click') AS treated,
        |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' AND dn < mo.mid
        |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END), 0)
        |      AS BIGINT) AS pre_c,
        |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' AND dn >= mo.mid
        |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END), 0)
        |      AS BIGINT) AS post_c
        |  FROM e CROSS JOIN mo GROUP BY user_id),
        |grp AS (
        |  SELECT treated, CAST(COUNT(1) AS BIGINT) AS n,
        |    CAST(SUM(post_c - pre_c) AS BIGINT) AS delta_c
        |  FROM pu GROUP BY treated),
        |f AS (
        |  SELECT
        |    CAST(COALESCE(MAX(CASE WHEN treated THEN n END), 0) AS BIGINT)
        |      AS n_treat,
        |    CAST(COALESCE(MAX(CASE WHEN NOT treated THEN n END), 0) AS BIGINT)
        |      AS n_ctrl,
        |    CAST(COALESCE(MAX(CASE WHEN treated THEN delta_c END), 0) AS BIGINT)
        |      AS delta_treat_cents,
        |    CAST(COALESCE(MAX(CASE WHEN NOT treated THEN delta_c END), 0)
        |      AS BIGINT) AS delta_ctrl_cents
        |  FROM grp)
        |SELECT n_treat, n_ctrl, delta_treat_cents, delta_ctrl_cents,
        |  CASE WHEN n_treat > 0 THEN round(
        |    CAST(delta_treat_cents AS DOUBLE) / CAST(n_treat AS DOUBLE), 6)
        |    + 0.0 END AS treat_pu,
        |  CASE WHEN n_ctrl > 0 THEN round(
        |    CAST(delta_ctrl_cents AS DOUBLE) / CAST(n_ctrl AS DOUBLE), 6)
        |    + 0.0 END AS ctrl_pu,
        |  CASE WHEN n_treat > 0 AND n_ctrl > 0 THEN round(
        |    CAST(CAST(delta_treat_cents AS DECIMAL(38,0)) * CAST(n_ctrl AS DECIMAL(38,0))
        |      - CAST(delta_ctrl_cents AS DECIMAL(38,0)) * CAST(n_treat AS DECIMAL(38,0))
        |      AS DOUBLE)
        |    / CAST(CAST(n_treat AS DECIMAL(38,0)) * CAST(n_ctrl AS DECIMAL(38,0))
        |      AS DOUBLE), 6) + 0.0 END AS did_cents_pu
        |FROM f""".stripMargin,
    "stats_autocorr" ->
      s"""WITH daily AS (
         |  SELECT event_type,
         |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn,
         |    CAST(COUNT(1) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT event_type, MIN(dn) AS lo, MAX(dn) AS hi
         |      FROM daily GROUP BY 1),
         |sp AS (SELECT b.event_type,
         |         CAST(unnest(generate_series(b.lo, b.hi)) AS BIGINT) AS dn
         |       FROM b),
         |dense AS (
         |  SELECT sp.event_type, sp.dn, CAST(COALESCE(d.n, 0) AS BIGINT) AS n
         |  FROM sp LEFT JOIN daily d USING (event_type, dn)),
         |lagged AS (
         |  SELECT event_type, dn + lag AS dn,
         |    CAST(lag AS BIGINT) AS lag, n AS x
         |  FROM dense, (SELECT unnest(generate_series(1, $AcfMaxLag)) AS lag)),
         |pairs AS (
         |  SELECT l.event_type, l.lag, l.x, d.n AS y
         |  FROM lagged l JOIN dense d
         |    ON d.event_type = l.event_type AND d.dn = l.dn),
         |a AS (
         |  SELECT event_type, lag,
         |    CAST(COUNT(1) AS BIGINT) AS m,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
         |    SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
         |    SUM(CAST(y * y AS DECIMAL(38,0))) AS syy
         |  FROM pairs GROUP BY 1, 2),
         |f AS (
         |  SELECT event_type, lag, m AS n_pairs,
         |    CAST(CAST(m AS DECIMAL(38,0)) * sxy
         |      - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
         |      AS DOUBLE) AS num,
         |    CAST(CAST(m AS DECIMAL(38,0)) * sxx
         |      - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
         |      AS DOUBLE) AS denx,
         |    CAST(CAST(m AS DECIMAL(38,0)) * syy
         |      - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
         |      AS DOUBLE) AS deny
         |  FROM a)
         |SELECT event_type, lag, n_pairs,
         |  CASE WHEN denx > 0 AND deny > 0
         |    THEN round(num / (sqrt(denx) * sqrt(deny)), 6) + 0.0 END AS r
         |FROM f ORDER BY event_type, lag""".stripMargin,
    "stats_seasonality_dow" ->
      s"""WITH e AS (
         |  SELECT event_type,
         |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn
         |  FROM events),
         |o AS (
         |  SELECT event_type, CAST((dn + 3) % 7 + 1 AS BIGINT) AS dow,
         |    CAST(COUNT(1) AS BIGINT) AS n
         |  FROM e GROUP BY 1, 2),
         |t AS (
         |  SELECT event_type, dow, n,
         |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
         |    SUM(CAST(n * n AS DECIMAL(38,0)))
         |      OVER (PARTITION BY event_type) AS sq
         |  FROM o),
         |c AS (
         |  SELECT event_type, dow, n,
         |    CAST(n * 1000000 // tot AS BIGINT) AS share_ppm,
         |    round(CAST(7 * sq - CAST(tot AS DECIMAL(38,0)) * CAST(tot AS DECIMAL(38,0))
         |      AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0 AS chi2
         |  FROM t)
         |SELECT event_type, dow, n, share_ppm, chi2,
         |  chi2 > $DowChi2Crit AS is_seasonal
         |FROM c ORDER BY event_type, dow""".stripMargin,
    "ml_churn_labels" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, value,
         |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn
         |  FROM events),
         |co AS (SELECT MAX(dn) - $ChurnDays AS cutoff FROM e),
         |a AS (
         |  SELECT user_id,
         |    CAST(SUM(CASE WHEN dn <= co.cutoff THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_events,
         |    CAST(SUM(CASE WHEN dn <= co.cutoff AND event_type = 'purchase'
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
         |    CAST(COALESCE(SUM(CASE WHEN dn <= co.cutoff AND event_type = 'purchase'
         |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END), 0)
         |      AS BIGINT) AS revenue_cents,
         |    MAX(CASE WHEN dn <= co.cutoff THEN dn END) AS last_day,
         |    CAST(SUM(CASE WHEN dn > co.cutoff THEN 1 ELSE 0 END) AS BIGINT)
         |      AS post_events,
         |    any_value(co.cutoff) AS cutoff
         |  FROM e CROSS JOIN co GROUP BY user_id)
         |SELECT user_id, n_events, n_purchases, revenue_cents,
         |  CAST(cutoff - last_day AS BIGINT) AS recency_days,
         |  post_events = 0 AS churned
         |FROM a WHERE n_events > 0 ORDER BY user_id""".stripMargin,
    "q_pareto_revenue" ->
      """WITH r AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |k AS (
        |  SELECT user_id, cents,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, user_id) AS BIGINT) AS rk,
        |    CAST(COUNT(1) OVER () AS BIGINT) AS t,
        |    CAST(SUM(cents) OVER (ORDER BY cents DESC, user_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM r),
        |tot AS (SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS tc FROM r),
        |d AS (SELECT unnest([1,2,3,4,5,6,7,8,9,10]) AS decile)
        |SELECT d.decile, k.rk AS n_users,
        |  CAST(k.rk * 1000000 // k.t AS BIGINT) AS users_ppm,
        |  CASE WHEN tot.tc > 0
        |    THEN CAST(k.cum * 1000000 // tot.tc AS BIGINT)
        |    ELSE 0 END AS revenue_ppm
        |FROM k JOIN d ON k.rk = (k.t * d.decile + 9) // 10 CROSS JOIN tot
        |ORDER BY d.decile""".stripMargin,
    "stats_daily_anomaly" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    CAST(COUNT(1) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |d2 AS (
         |  SELECT event_type, day, n,
         |    CAST(day - DATE '1970-01-01' AS BIGINT) AS dn
         |  FROM daily),
         |w AS (
         |  SELECT event_type, day, n,
         |    CAST(COUNT(1) OVER win AS BIGINT) AS wn,
         |    CAST(SUM(n) OVER win AS BIGINT) AS ws,
         |    CAST(SUM(n * n) OVER win AS BIGINT) AS wq
         |  FROM d2
         |  WINDOW win AS (PARTITION BY event_type ORDER BY dn
         |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         |sc AS (
         |  SELECT event_type, day, n, wn,
         |    CAST(ws AS DOUBLE) / CAST(wn AS DOUBLE) AS mean,
         |    sqrt(CASE WHEN wn > 1
         |      THEN CAST(wn * wq - ws * ws AS DOUBLE)
         |           / CAST(wn * (wn - 1) AS DOUBLE) END) AS std
         |  FROM w)
         |SELECT event_type, day, n, wn AS win_days,
         |  round(mean, 6) + 0.0 AS win_mean,
         |  CASE WHEN wn > 1 AND std > 0
         |    THEN round((CAST(n AS DOUBLE) - mean) / std, 6) + 0.0 END AS z,
         |  COALESCE(CASE WHEN wn > 1 AND std > 0
         |    THEN abs(round((CAST(n AS DOUBLE) - mean) / std, 6)) > $AnomalyZ
         |    END, FALSE) AS is_anomaly
         |FROM sc
         |ORDER BY event_type, day""".stripMargin,
    "q_islands_scd2" ->
      """WITH t AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN value IS NULL THEN 'none'
        |         WHEN value < 10 THEN 'low'
        |         WHEN value < 100 THEN 'mid'
        |         ELSE 'high' END AS tier
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, ts, tier,
        |    lag(tier) OVER w AS prev
        |  FROM t
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |f AS (
        |  SELECT user_id, event_id, ts, tier,
        |    CASE WHEN prev IS NULL OR prev <> tier THEN 1 ELSE 0 END AS chg
        |  FROM m),
        |i AS (
        |  SELECT user_id, ts, tier,
        |    CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        |  FROM f),
        |g AS (
        |  SELECT user_id, island, tier,
        |    CAST(COUNT(1) AS BIGINT) AS n_events,
        |    min(epoch_us(ts)) AS valid_from_us
        |  FROM i GROUP BY 1, 2, 3)
        |SELECT user_id, island, tier, n_events, valid_from_us,
        |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY island)
        |    AS valid_to_us,
        |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY island) IS NULL
        |    AS is_current
        |FROM g
        |ORDER BY user_id, island""".stripMargin,
    "q_user_paths" ->
      s"""WITH t AS (
         |  SELECT event_type,
         |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
         |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
         |  FROM events)
         |SELECT event_type || '>' || e2 || '>' || e3 AS path,
         |  CAST(COUNT(1) AS BIGINT) AS n
         |FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
         |GROUP BY 1 ORDER BY n DESC, path LIMIT $PathTopK""".stripMargin,
    "q_stickiness" ->
      s"""WITH ud AS (
         |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         |dau AS (SELECT day, CAST(COUNT(1) AS BIGINT) AS dau FROM ud GROUP BY day),
         |wx AS (
         |  SELECT DISTINCT user_id,
         |    unnest(list_transform(generate_series(0, ${StickyWindowDays - 1}),
         |      i -> day + CAST(i AS INTEGER))) AS day
         |  FROM ud),
         |wau AS (SELECT day, CAST(COUNT(1) AS BIGINT) AS wau FROM wx GROUP BY day)
         |SELECT day, dau, wau,
         |  round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6) AS stickiness
         |FROM dau JOIN wau USING (day)
         |ORDER BY day""".stripMargin,
    "q_asof_join" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
        |  epoch_us(v.ts) AS view_ts_us,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    "q_asof_fwd" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
        |  epoch_us(c.ts) AS click_ts_us,
        |  epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts >= p.ts
        |ORDER BY p.event_id""".stripMargin,
    "q10_first_event" ->
      """SELECT user_id, first_event_type, first_value, first_ts_us FROM (
        |  SELECT user_id, event_type AS first_event_type, value AS first_value,
        |    epoch_us(ts) AS first_ts_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_attribution_markov" -> qAttributionMarkovSql,
    "q_ab_test_srm" ->
      """WITH a AS (
        |  SELECT event_type, user_id,
        |    CAST(CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
        |      AS UBIGINT) AS BIGINT) % 2 AS arm
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |g AS (
        |  SELECT event_type,
        |    CAST(COUNT(DISTINCT CASE WHEN arm = 0 THEN user_id END) AS BIGINT)
        |      AS n_a,
        |    CAST(COUNT(DISTINCT CASE WHEN arm = 1 THEN user_id END) AS BIGINT)
        |      AS n_b
        |  FROM a GROUP BY event_type)
        |SELECT event_type, n_a, n_b,
        |  round((CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |      * (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |      / (CAST(n_a + n_b AS DOUBLE) / 2.0)
        |    + (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |      * (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |      / (CAST(n_a + n_b AS DOUBLE) / 2.0), 6) AS chi2,
        |  round((CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |      * (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |      / (CAST(n_a + n_b AS DOUBLE) / 2.0)
        |    + (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |      * (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |      / (CAST(n_a + n_b AS DOUBLE) / 2.0), 6) > 3.841459 AS srm_flag
        |FROM g ORDER BY event_type""".stripMargin,
    "q_attribution_time_decay" ->
      """WITH conv AS (
        |  SELECT event_id AS conv_id, user_id, ts AS cts, value
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        |t AS (SELECT user_id AS tuid, ts AS tts, event_type AS touch_type
        |      FROM events WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT c.conv_id, c.value, t.touch_type,
        |    CASE WHEN t.touch_type IS NULL THEN 1.0
        |      ELSE 1.0 / CAST(CAST(1 AS BIGINT) << CAST(least(
        |        (epoch_ns(c.cts) - epoch_ns(t.tts)) // 86400000000000, 20)
        |        AS INTEGER) AS DOUBLE) END AS w
        |  FROM conv c LEFT JOIN t ON c.user_id = t.tuid
        |    AND t.tts < c.cts AND t.tts >= c.cts - INTERVAL 7 DAY),
        |n AS (SELECT conv_id, SUM(w) AS sw FROM j GROUP BY conv_id),
        |cr AS (
        |  SELECT COALESCE(j.touch_type, 'direct') AS touch_type,
        |    round(j.value * (j.w / n.sw), 6) AS credit
        |  FROM j JOIN n USING (conv_id))
        |SELECT touch_type, COUNT(1) AS n_touches,
        |  round(CAST(SUM(CAST(credit AS DECIMAL(30,8))) AS DOUBLE), 6) AS credited_value
        |FROM cr GROUP BY touch_type ORDER BY touch_type""".stripMargin,
    "q_attribution_linear" ->
      """WITH conv AS (
        |  SELECT event_id AS conv_id, user_id, ts AS cts, value
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        |t AS (SELECT user_id AS tuid, ts AS tts, event_type AS touch_type
        |      FROM events WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT c.conv_id, c.value, t.touch_type
        |  FROM conv c LEFT JOIN t ON c.user_id = t.tuid
        |    AND t.tts < c.cts AND t.tts >= c.cts - INTERVAL 7 DAY),
        |n AS (SELECT conv_id, COUNT(1) AS n_touch FROM j GROUP BY conv_id),
        |cr AS (
        |  SELECT COALESCE(j.touch_type, 'direct') AS touch_type,
        |    round(j.value / n.n_touch, 6) AS credit
        |  FROM j JOIN n USING (conv_id))
        |SELECT touch_type, COUNT(1) AS n_touches,
        |  round(CAST(SUM(CAST(credit AS DECIMAL(30,8))) AS DOUBLE), 6) AS credited_value
        |FROM cr GROUP BY touch_type ORDER BY touch_type""".stripMargin,
    "q_cohort_retention" ->
      """WITH f AS (
        |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
        |      FROM events)
        |SELECT f.cohort_week,
        |  CAST(date_diff('day', f.cohort_week, a.w) // 7 AS BIGINT) AS week_offset,
        |  COUNT(DISTINCT a.user_id) AS n_active
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_cohort_ltv" ->
      """WITH f AS (
        |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY user_id),
        |r AS (
        |  SELECT f.cohort_week,
        |    CAST(date_diff('day', f.cohort_week,
        |      CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS week_offset,
        |    COALESCE(SUM(CAST(e.value AS DECIMAL(12,2))), CAST(0 AS DECIMAL(12,2))) AS revd
        |  FROM events e JOIN f USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT cohort_week, week_offset,
        |  CAST(revd AS DOUBLE) AS revenue,
        |  CAST(SUM(revd) OVER (PARTITION BY cohort_week ORDER BY week_offset
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue
        |FROM r ORDER BY cohort_week, week_offset""".stripMargin,
    "q_rfm_segments" ->
      """WITH ref AS (SELECT CAST(MAX(ts) AS DATE) AS ref_day FROM events),
        |per_user AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', CAST(MAX(ts) AS DATE), (SELECT ref_day FROM ref)) AS BIGINT)
        |      AS recency_days,
        |    COUNT(1) AS frequency,
        |    COALESCE(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 0.0) AS monetary
        |  FROM events GROUP BY user_id),
        |scored AS (
        |  SELECT user_id, recency_days, frequency, monetary,
        |    CAST(ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS BIGINT) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY frequency ASC, user_id) AS BIGINT) AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY monetary ASC, user_id) AS BIGINT) AS m_score
        |  FROM per_user)
        |SELECT user_id, recency_days, frequency, monetary, r_score, f_score, m_score
        |FROM scored ORDER BY user_id""".stripMargin,
    "q11_ntile" ->
      """WITH per_user AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS user_total
        |  FROM events GROUP BY user_id),
        |seg AS (
        |  SELECT user_total,
        |    CAST(ntile(10) OVER (ORDER BY user_total, user_id) AS BIGINT) AS segment
        |  FROM per_user)
        |SELECT segment, COUNT(1) AS n_users, min(user_total) AS lo, max(user_total) AS hi
        |FROM seg GROUP BY segment ORDER BY segment""".stripMargin,
    "q12_lag_lead" ->
      """WITH agg AS (
        |  SELECT event_type, COUNT(1) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n, total,
        |  lag(total, 1) OVER (ORDER BY event_type) AS prev_total,
        |  lead(total, 1) OVER (ORDER BY event_type) AS next_total
        |FROM agg ORDER BY event_type""".stripMargin,
    "q21_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |      OR lag(epoch_us(ts), 1)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events)
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(1) AS n_events
        |FROM flagged GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q24_json_props" ->
      """SELECT event_type, COUNT(1) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q25_hour_buckets" ->
      """SELECT CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hour_of_day, COUNT(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY hour_of_day ORDER BY hour_of_day""".stripMargin,
    "q_range_frame" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |w AS (
        |  SELECT user_id,
        |    COUNT(1) OVER win AS n_last_hour,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER win AS DOUBLE) AS val_last_hour
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY us
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
        |SELECT user_id, CAST(MAX(n_last_hour) AS BIGINT) AS peak_events_hour,
        |  MAX(val_last_hour) AS peak_value_hour
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_funnel" ->
      s"""WITH v AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS view_us
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS click_us
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.view_us
        |    AND epoch_us(e.ts) <= v.view_us + $FunnelWindowUs
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS purchase_us
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.click_us
        |    AND epoch_us(e.ts) <= c.click_us + $FunnelWindowUs
        |  GROUP BY e.user_id)
        |SELECT v.user_id, v.view_us, c.click_us, p.purchase_us,
        |  CAST(1 + CASE WHEN c.click_us IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN p.purchase_us IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin,
    "q_gap_fill" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM events),
        |d AS (
        |  SELECT user_id, day, COUNT(1) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |  FROM e GROUP BY user_id, day),
        |u AS (SELECT DISTINCT user_id FROM e),
        |s AS (
        |  SELECT u.user_id, unnest(generate_series(
        |    (SELECT MIN(day) FROM e), (SELECT MAX(day) FROM e),
        |    INTERVAL 1 DAY))::DATE AS day
        |  FROM u),
        |f AS (
        |  SELECT s.user_id, s.day,
        |    CAST(COALESCE(d.n, 0) AS BIGINT) AS n,
        |    COALESCE(d.total, 0.0) AS total
        |  FROM s LEFT JOIN d USING (user_id, day))
        |SELECT user_id, day, n, total,
        |  last_value(CASE WHEN n > 0 THEN day END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY day
        |          ROWS UNBOUNDED PRECEDING) AS last_active_day
        |FROM f ORDER BY user_id, day""".stripMargin)
}
