package graft.plans

import graft.functions.GraftFunctions
import graft.operators.Quantiles
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * ML-model dataset compiler — the Spark-native re-expression of the
 * reference's Jinja SQL template compiler
 * (`backend/controller/ml_model/compiler.py:246-266` rendering
 * `templates/model_bqml.sql:52-287`). Instead of emitting SQL text, the
 * same `MlModel` configuration drives a typed DataFrame builder — no
 * string round-trip, and Catalyst sees the whole plan.
 *
 * Implemented composition (the google_analytics source path):
 *   events (suffix window + platform filter + optional hash split,
 *           `model_bqml.sql:73-108`)
 *   → first_engagement (ROW_NUMBER dedup + daypart buckets, `:110-139`)
 *   → analytics_variables (label left-join / trigger inner-join, `:141-200`)
 *   → aggregate_behavior (per-comparison feature counters, `:214-259`)
 *   → unified_dataset (three-way equi-join, `:260-271`)
 *   → final step select (training EXCEPT / predicting / class rebalance,
 *     `:288-311`)
 * plus the conversion-value calibration query (`model_bqml.sql:31-49`):
 * NTILE segmentation (distributed via [[graft.operators.Quantiles]]) +
 * agg + LAG/LEAD boundary smoothing.
 *
 * Scale notes: every join is an equi-join on `unique_id` (hash
 * partitioned); the only windows are per-user ROW_NUMBER and the
 * segments-sized LAG/LEAD; feature counters are higher-order `exists`
 * probes — no explode of `event_params` in the aggregation path.
 */
object MlCompiler {

  /** Comparison methods for event-parameter features
    * (`compiler.py` VariableComparison). */
  sealed trait Cmp
  case object Equal extends Cmp
  case object NotEqual extends Cmp
  case object Greater extends Cmp
  case object GreaterOrEqual extends Cmp
  case object Less extends Cmp
  case object LessOrEqual extends Cmp
  case class Regex(pattern: String) extends Cmp

  /** A GA feature counted per user. Plain (no key+comparison): event-count
    * `SUM(IF(name=...))`; with key+cmp: the correlated-UNNEST counter.
    * A key WITHOUT a comparison falls back to the name counter — the
    * reference branches on `{% if feature.comparison %}` alone
    * (`model_bqml.sql:219,249-251`), so a keyed-but-comparison-less wire
    * feature must count events, not crash the plan build. */
  case class GaFeature(
      name: String,
      key: String = null,
      cmp: Cmp = null,
      value: String = null,
      valueIsString: Boolean = false,
      description: String = null) {
    def isNameCounter: Boolean = key == null || cmp == null
    def outName: String = if (isNameCounter) s"cnt_$name" else s"cnt_$description"
  }

  /** Label event (VariableRole.LABEL with a GA source). */
  case class GaLabel(name: String, key: String, valueIsString: Boolean = false)

  /** Trigger event (VariableRole.TRIGGER_EVENT): anchors trigger_date and,
    * for regression, supplies first_value (`model_bqml.sql:178-196`). */
  case class GaTrigger(name: String, key: String)

  /** Split-hash family for the deterministic 90/10 split. The reference
    * hardcodes FARM_FINGERPRINT (`model_bqml.sql:95-101`); the md5 family
    * exists so the ENTIRE split + rebalance composition can be
    * hash-checked against a DuckDB oracle (DuckDB has no farmhash — the
    * farm path itself is golden-tested in FarmHashSpec). */
  sealed trait SplitHash
  case object FarmSplit extends SplitHash
  case object Md5Split extends SplitHash

  /** Model + dataset configuration (the MlModel ADT slice the dataset
    * compiler needs; `models.py:371-666`). */
  case class MlModel(
      isClassification: Boolean,
      uniqueId: String, // "user_pseudo_id" (CLIENT_ID) or "user_id" (USER_ID)
      features: Seq[GaFeature],
      label: GaLabel,
      suffixLo: String, // _TABLE_SUFFIX window, anchored explicitly
      suffixHi: String,
      triggerEvent: Option[GaTrigger] = None,
      classImbalance: Int = 4,
      conversionRateSegments: Int = 10,
      averageConversionValue: Double = 1.0,
      hashSplit: Boolean = true, // 90/10 FARM_FINGERPRINT split on
      // GA4 exports hardcode "user_engagement" (model_bqml.sql:136);
      // configurable so non-GA4 event vocabularies can nominate one
      engagementEvent: String = "user_engagement",
      splitHash: SplitHash = FarmSplit)

  sealed trait Step
  case object Training extends Step
  case object ConversionValues extends Step
  case object Predicting extends Step

  private def p90(idCol: Column, cfg: MlModel): Column = {
    val h = cfg.splitHash match {
      case FarmSplit => GraftFunctions.farm_fingerprint(idCol)
      case Md5Split => conv(substring(md5(idCol), 1, 8), 16, 10).cast("long")
    }
    pmod(abs(h), lit(100L))
  }

  /** The `events` CTE (`model_bqml.sql:73-108`). When the input carries
    * the `_table_suffix` partition column (ga4EventsPartitioned), the date
    * window filters on it — Catalyst prunes the shard directories instead
    * of scanning every day. */
  def eventsCte(ga4: DataFrame, cfg: MlModel, step: Step): DataFrame = {
    val windowCol =
      if (ga4.columns.contains("_table_suffix")) col("_table_suffix") else col("event_date")
    var e = ga4
      .filter(windowCol.between(cfg.suffixLo, cfg.suffixHi))
      .filter(lower(col("platform")) === "web")
    if (cfg.hashSplit && cfg.isClassification) step match {
      case Training => e = e.filter(p90(col(cfg.uniqueId), cfg) < 90)
      case ConversionValues => e = e.filter(p90(col(cfg.uniqueId), cfg) >= 90)
      case Predicting => ()
    }
    e.select(
      col("event_id"), // ROW_NUMBER tiebreaker: timestamps can collide
      col("event_timestamp").as("timestamp"),
      to_date(col("event_date"), "yyyyMMdd").as("date"),
      col("event_name").as("name"),
      col("event_params").as("params"),
      col("user_id"),
      col("user_pseudo_id"),
      col(cfg.uniqueId).as("unique_id"),
      col("geo.country").as("country"),
      col("geo.region").as("region"),
      col("device.language").as("language"),
      col("device.category").as("device_type"),
      col("device.operating_system").as("device_os"),
      col("device.web_info.browser").as("device_browser"),
      col("traffic_source.source").as("traffic_source"),
      col("traffic_source.medium").as("traffic_medium"),
      hour(timestamp_micros(col("user_first_touch_timestamp"))).as("first_touch_hour"))
  }

  /** Daypart bucketing (`model_bqml.sql:125-133`). */
  private def daypart(h: Column): Column =
    when(h >= 1 && h < 6, "night_1_6")
      .when(h >= 6 && h < 11, "morning_6_11")
      .when(h >= 11 && h < 14, "lunch_11_14")
      .when(h >= 14 && h < 17, "afternoon_14_17")
      .when(h >= 17 && h < 19, "dinner_17_19")
      .when(h >= 19 && h < 22, "evening_19_23")
      .when(h >= 22 || h === 0, "latenight_23_1")

  /** `first_engagement` (`model_bqml.sql:110-139`): first engagement
    * event per user carries the demographic snapshot. */
  def firstEngagement(events: DataFrame, cfg: MlModel): DataFrame = {
    // event_id tiebreak: the selected row carries event-dependent columns
    // (device, browser), so a timestamp tie must resolve identically on
    // every engine and every run
    val w = Window.partitionBy(col("unique_id")).orderBy(col("timestamp"), col("event_id"))
    events
      .filter(col("name") === cfg.engagementEvent)
      .select(col("user_id"), col("user_pseudo_id"), col("unique_id"),
        col("country"), col("region"), col("language"),
        col("traffic_source"), col("traffic_medium"),
        col("device_type"), col("device_os"), col("device_browser"),
        daypart(col("first_touch_hour")).as("daypart"),
        col("timestamp"), col("event_id"))
      .withColumn("row_num", row_number().over(w))
      .filter(col("row_num") === 1)
      .drop("row_num", "timestamp", "event_id")
  }

  private def probedNum(v: Column): Column =
    coalesce(v.getField("int_value").cast("double"),
      v.getField("float_value"), v.getField("double_value"), lit(0.0))

  /**
   * `analytics_variables` (`model_bqml.sql:141-200`): label via left-join
   * on the label event's qualifying params (classification: 1; regression:
   * SUM of the param's numeric value), composed with the branch-dependent
   * trigger_date/first_value source — the trigger event's first occurrence
   * (inner join, `model_bqml.sql:178-196`) when configured, else the first
   * label date.
   */
  def analyticsVariables(events: DataFrame, fe: DataFrame, cfg: MlModel): DataFrame = {
    val qualifies =
      if (cfg.label.valueIsString)
        exists(col("params"), p => p.getField("key") === cfg.label.key &&
          !coalesce(p.getField("value").getField("string_value"),
            p.getField("value").getField("int_value").cast("string")).isin("", "0"))
      else
        exists(col("params"), p => p.getField("key") === cfg.label.key &&
          probedNum(p.getField("value")) > 0)
    val labelParam = element_at(
      filter(col("params"), p => p.getField("key") === cfg.label.key), 1).getField("value")
    // classification: presence flag; regression: summed numeric label value
    val l = events
      .filter(col("name") === cfg.label.name && qualifies)
      .groupBy(col("unique_id"))
      .agg(min(col("date")).as("date"),
        (if (cfg.isClassification) min(lit(1L)) else sum(probedNum(labelParam))).as("label"))
    val zero = if (cfg.isClassification) lit(0L) else lit(0.0)

    val base = fe.select(col("unique_id"))
      .join(l.withColumnRenamed("date", "l_date"), Seq("unique_id"), "left_outer")

    cfg.triggerEvent match {
      case Some(trig) =>
        // first trigger occurrence per user; regression also needs its value
        val trigParam = element_at(
          filter(col("params"), p => p.getField("key") === trig.key), 1).getField("value")
        val tw = Window.partitionBy(col("unique_id")).orderBy(col("timestamp"), col("event_id"))
        var t0 = events.filter(col("name") === trig.name &&
          exists(col("params"), p => p.getField("key") === trig.key))
        if (!cfg.isClassification) t0 = t0.filter(probedNum(trigParam) > 0)
        val t = t0
          .select(col("unique_id"), col("date").as("t_date"),
            probedNum(trigParam).as("t_value"), col("timestamp"), col("event_id"))
          .withColumn("row_num", row_number().over(tw))
          .filter(col("row_num") === 1)
          .select(col("unique_id"), col("t_date"), col("t_value"))
        val joined = base.join(t, Seq("unique_id")) // inner: trigger required
        if (cfg.isClassification)
          joined.select(col("t_date").as("trigger_date"),
            coalesce(col("label"), zero).as("label"), col("unique_id"))
        else
          joined.select(coalesce(col("t_value"), lit(0.0)).as("first_value"),
            col("t_date").as("trigger_date"),
            coalesce(col("label"), zero).as("label"), col("unique_id"))
      case None =>
        base.select(col("l_date").as("trigger_date"),
          coalesce(col("label"), zero).as("label"), col("unique_id"))
    }
  }

  /** One feature-counter column for `aggregate_behavior`
    * (`model_bqml.sql:219-250`). */
  private def featureFlag(f: GaFeature): Column = {
    if (f.isNameCounter) return when(col("name") === f.name, 1L).otherwise(0L)
    def vmatch(v: Column): Column = {
      val str = coalesce(v.getField("string_value"),
        v.getField("int_value").cast("string"))
      val num = coalesce(v.getField("int_value").cast("double"),
        v.getField("float_value"), v.getField("double_value"))
      // try_cast, not cast: a non-numeric string param value ('N/A') must
      // make the comparison NULL (row not counted), not kill the whole
      // scan under Spark 4 ANSI — the DuckDB oracle spells this TRY_CAST
      val wide = coalesce(v.getField("string_value").try_cast("double"),
        v.getField("int_value").cast("double"),
        v.getField("float_value"), v.getField("double_value"))
      f.cmp match {
        case Regex(p) => v.getField("string_value").rlike(p)
        case Equal if f.valueIsString => str === f.value
        case Equal => num === f.value.toDouble
        case NotEqual if f.valueIsString => str =!= f.value
        case NotEqual => num =!= f.value.toDouble
        case Greater => wide > f.value.toDouble
        case GreaterOrEqual => wide >= f.value.toDouble
        case Less => wide < f.value.toDouble
        case LessOrEqual => wide <= f.value.toDouble
      }
    }
    when(col("name") === f.name &&
      exists(col("params"), p => p.getField("key") === f.key && vmatch(p.getField("value"))),
      1L).otherwise(0L)
  }

  /** `aggregate_behavior` (`model_bqml.sql:214-259`): behavior counters up
    * to each converter's trigger date, over all events for non-converters. */
  def aggregateBehavior(events: DataFrame, uv: DataFrame, cfg: MlModel): DataFrame = {
    val joined = events.join(uv, Seq("unique_id"))
      .filter((col("label") > 0 && col("date") <= col("trigger_date")) || col("label") === 0)
    val counters = cfg.features.map(f => sum(featureFlag(f)).as(f.outName))
    // try_element_at: an event with NO engagement_time_msec param yields
    // NULL (the reference's scalar subquery over UNNEST does the same,
    // model_bqml.sql:254) — a plain element_at on the empty filtered
    // array would throw under Spark 4 ANSI. The driver fixture carries
    // the param on every event, so only real GA4 exports hit this.
    val engagement = sum(try_element_at(
      filter(col("params"), p => p.getField("key") === "engagement_time_msec"), lit(1))
      .getField("value").getField("int_value")).as("engagement_time")
    joined.groupBy(col("unique_id")).agg(counters.head, (counters.tail :+ engagement): _*)
  }

  /**
   * `unified_dataset` + the step-specific final select
   * (`model_bqml.sql:260-311`). `firstParty`, when present, is an
   * fpv-shaped relation (see [[firstPartyCte]]) joined in as the
   * combined-source `user_variables` branch (`model_bqml.sql:201-207`);
   * GA events are then pre-filtered to its ids (`model_bqml.sql:104-108`).
   *
   * The shared events window slice is persisted through
   * [[graft.core.QueryCaches.cached]], so it belongs to the caller's
   * active scope: LONG-LIVED callers — the scheduled ML workers — release
   * that scope once the result is materialized, or each nightly run would
   * leak a cached copy of the slice for the life of the session.
   */
  def dataset(s: SparkSession, ga4: DataFrame, cfg: MlModel, step: Step,
      firstParty: Option[DataFrame] = None): DataFrame = {
    var ev = eventsCte(ga4, cfg, step)
    firstParty.foreach { fpv =>
      ev = ev.join(fpv.select(col("unique_id")), Seq("unique_id"), "left_semi")
    }
    // Hash-partition the window slice ONCE on the key every downstream
    // groupBy / window / join uses, and persist it: first_engagement,
    // analytics_variables (label + trigger), and aggregate_behavior each
    // consume `ev` — without this, the scan+filter subtree re-executes per
    // consumer and each one re-shuffles on unique_id. The persisted slice
    // is the suffix-window events selection — the same relation the
    // reference materializes as its `events` CTE inside one BigQuery
    // query; MEMORY_AND_DISK spills instead of OOMing at scale. The
    // explicit repartition also survives AQE (a coalesced tiny exchange
    // would serialize the window/agg work on one core). The cache lives
    // until the owning scope is released.
    val parts = graft.queries.Tables.parallelism(s)
    ev = graft.core.QueryCaches.cached(ev.repartition(parts, col("unique_id")))
    val fe = firstEngagement(ev, cfg)
    val av = analyticsVariables(ev, fe, cfg)
    val uv = firstParty match {
      case Some(fpv) => fpv.join(av, Seq("unique_id")) // fpv.* ++ av.* EXCEPT(unique_id)
      case None => av
    }
    val ab = aggregateBehavior(ev, uv, cfg)
    val feCols =
      if (step == Training) fe.drop("user_id", "user_pseudo_id") else fe
    val unified = feCols
      .join(ab, Seq("unique_id"))
      .join(uv, Seq("unique_id"))
      .drop("trigger_date")
    finalSelect(unified, cfg, step)
  }

  /** The step/type-dependent final projection + class rebalance
    * (`model_bqml.sql:288-311`): regression emits `(label - first_value)`
    * as the learned target; rebalance keeps all positives and a
    * `1/class_imbalance` hash-sample of negatives. */
  private def finalSelect(unified: DataFrame, cfg: MlModel, step: Step): DataFrame = {
    val subtractsFirstValue = !cfg.isClassification &&
      unified.columns.contains("first_value")
    def project(df: DataFrame): DataFrame = step match {
      case Training =>
        val d = df.drop("unique_id")
        if (subtractsFirstValue)
          d.withColumn("__lbl", col("label") - col("first_value"))
            .drop("label").withColumnRenamed("__lbl", "label")
        else d
      case Predicting if subtractsFirstValue =>
        df.withColumn("total_value", col("label"))
          .withColumn("__lbl", col("label") - col("first_value"))
          .drop("label").withColumnRenamed("__lbl", "label")
      case _ => df
    }
    // deliberately NOT gated on isClassification: the reference applies
    // the rebalance whenever `step.is_training and class_imbalance > 1`
    // (model_bqml.sql:305-311) and its UI exposes the imbalance slider
    // (default 4) for regression models too — a regression caller that
    // wants no label-zero sampling sets class_imbalance = 1, as the
    // reference's own regression test does
    step match {
      case Training if cfg.classImbalance > 1 =>
        val pos = project(unified.filter(col("label") > 0))
        val neg = project(unified.filter(col("label") === 0 &&
          p90(col("unique_id"), cfg) <= (100.0 / cfg.classImbalance)))
        pos.unionByName(neg)
      case _ => project(unified)
    }
  }

  /** first_party_variables (`model_bqml.sql:53-70`): role-driven renames
    * over the customer's own table. */
  case class FpRoles(uniqueId: String, features: Seq[String],
      label: Option[String] = None, firstValue: Option[String] = None,
      triggerDate: Option[String] = None)

  def firstPartyCte(fp: DataFrame, roles: FpRoles): DataFrame = {
    var cols = roles.features.map(col)
    roles.label.foreach(l => cols :+= col(l).as("label"))
    roles.firstValue.foreach(v => cols :+= col(v).as("first_value"))
    roles.triggerDate.foreach(t => cols :+= col(t).as("trigger_date"))
    cols :+= col(roles.uniqueId).as("unique_id")
    fp.select(cols: _*)
  }

  /**
   * First-party-only unified dataset (`model_bqml.sql:272-287`): the fpv
   * relation filtered to the trigger_date window — DATETIME semantics with
   * the end bound shifted back one second — plus the hash split, then the
   * step projection (no GA composition).
   */
  def firstPartyDataset(fpv: DataFrame, cfg: MlModel, step: Step): DataFrame = {
    // NOTE the deliberate off-by-one vs the GA suffix window: the
    // first-party DATETIME window ends one second BEFORE the end day's
    // midnight (DATETIME_SUB(..., INTERVAL 1 SECOND), model_bqml.sql:277;
    // ml_model/shared.py:36-66), whereas _TABLE_SUFFIX BETWEEN includes
    // the end day.
    val lo = to_timestamp(lit(cfg.suffixLo), "yyyyMMdd")
    val hi = to_timestamp(lit(cfg.suffixHi), "yyyyMMdd") - expr("INTERVAL 1 SECOND")
    var d = fpv.filter(col("trigger_date").between(lo, hi))
    if (cfg.hashSplit && cfg.isClassification) step match {
      case Training => d = d.filter(p90(col("unique_id"), cfg) < 90)
      case ConversionValues => d = d.filter(p90(col("unique_id"), cfg) >= 90)
      case Predicting => ()
    }
    finalSelect(d.drop("trigger_date"), cfg, step)
  }

  /**
   * Conversion-value calibration (`model_bqml.sql:31-49`): NTILE the
   * holdout's predicted probabilities into `conversion_rate_segments`,
   * then per segment: conversion-rate × average value, and smoothed
   * probability range boundaries via LAG/LEAD of the neighbours' extrema.
   *
   * `probability` must be a column of the input (the reference feeds
   * ML.PREDICT output; callers plug in the model's scores).
   */
  def conversionValues(s: SparkSession, preds: DataFrame, cfg: MlModel): DataFrame = {
    val n = cfg.conversionRateSegments
    val seg = Quantiles.withNtile(preds, n,
      Seq(col("probability"), col("unique_id")), "normalized_probability")
    // LAG/LEAD runs over the aggregated #segments-row relation —
    // metadata-sized, single partition is the correct plan (the
    // data-derived constant key survives constant folding, so no
    // unpartitioned-window warning fires)
    val w = Window.partitionBy(graft.queries.Tables.zeroPart(col("normalized_probability")))
      .orderBy(col("normalized_probability"))
    seg
      .groupBy(col("normalized_probability"))
      .agg((sum(col("label")).cast("double") / count(lit(1)) * cfg.averageConversionValue)
          .as("value"),
        min(col("probability")).as("minp"),
        max(col("probability")).as("maxp"))
      .select(col("normalized_probability"), col("value"),
        when(col("normalized_probability") === 1, 0.0)
          .otherwise((lag(col("maxp"), 1).over(w) + col("minp")) / 2.0)
          .as("probability_range_start"),
        when(col("normalized_probability") === n, 1.0)
          .otherwise((lead(col("minp"), 1).over(w) + col("maxp")) / 2.0)
          .as("probability_range_end"))
      .orderBy(col("normalized_probability"))
  }
}
