package graft.queries

import graft.plans.MlCompiler
import graft.plans.MlCompiler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._
import graft.core.QueryCaches.cached

/**
 * ML-model template-compiler queries (SURVEY §2.5; VERDICT r02 missing #1):
 * the TRAINING / PREDICTING dataset composition and conversion-value
 * calibration of `model_bqml.sql`, driven by an [[MlCompiler.MlModel]]
 * config over the GA4-shaped relation of [[Ga4.ga4Events]].
 *
 * Oracle strategy: the oracle-checked configs disable the
 * FARM_FINGERPRINT split (DuckDB cannot compute farmhash — the hash
 * itself is golden-tested in FarmHashSpec and its split shape in
 * q_hash_split), so the full composition is hash-compared end-to-end.
 * `ml_training_rebalanced` exercises the split + class-rebalance path as
 * a rows-only entry with split/rebalance invariants asserted in MlSpec.
 */
object Ml {

  /** Shared demo config: classification on CLIENT_ID with three feature
    * styles (plain count, string-equal param, numeric-greater param). */
  private def cfg(hashSplit: Boolean, imbalance: Int) = MlModel(
    isClassification = true,
    uniqueId = "user_pseudo_id",
    features = Seq(
      GaFeature("error"),
      GaFeature("view", key = "medium", cmp = Equal, value = "cpc",
        valueIsString = true, description = "view_cpc"),
      GaFeature("click", key = "k", cmp = Greater, value = "50",
        description = "click_k_gt50")),
    label = GaLabel("purchase", "k"),
    suffixLo = "20240105", suffixHi = "20240125",
    classImbalance = imbalance,
    conversionRateSegments = 10,
    averageConversionValue = 25.0,
    hashSplit = hashSplit,
    engagementEvent = "view") // the fixture vocabulary's engagement analog

  def mlTrainingDataset(s: SparkSession, dir: String): DataFrame =
    MlCompiler.dataset(s, Ga4.ga4EventsPartitioned(s, dir), cfg(hashSplit = false, imbalance = 1), Training)

  /** The USER_ID unique-id variant (`compiler.py:85-87` UniqueId.USER_ID →
    * the sparse signed-in `user_id` column): events without a signed-in id
    * fall into one NULL group that self-eliminates at the fe/ab/uv joins —
    * the same semantics BigQuery's NULL grouping + equi-joins produce. */
  def mlTrainingDatasetUid(s: SparkSession, dir: String): DataFrame =
    MlCompiler.dataset(s, Ga4.ga4EventsPartitioned(s, dir),
      cfg(hashSplit = false, imbalance = 1).copy(uniqueId = "user_id"), Training)

  def mlPredictDataset(s: SparkSession, dir: String): DataFrame =
    MlCompiler.dataset(s, Ga4.ga4EventsPartitioned(s, dir), cfg(hashSplit = false, imbalance = 1), Predicting)

  /** Split + rebalance path. Hash-checked via the [[OracleAux]]
    * farm_users side table: the oracle joins the golden-tested
    * fingerprints as data and replays the 90/10 split + rebalance. */
  def mlTrainingRebalanced(s: SparkSession, dir: String): DataFrame =
    MlCompiler.dataset(s, Ga4.ga4EventsPartitioned(s, dir), cfg(hashSplit = true, imbalance = 4), Training)

  /** The same split + rebalance composition keyed on the md5 hash family,
    * so the 90/10 split AND the class-rebalance union are hash-checked
    * end-to-end against DuckDB (the production farm path above stays
    * rows-only + golden-tested — same strategy as dedup_minhash_lsh_md5). */
  def mlTrainingRebalancedMd5(s: SparkSession, dir: String): DataFrame =
    MlCompiler.dataset(s, Ga4.ga4EventsPartitioned(s, dir),
      cfg(hashSplit = true, imbalance = 4).copy(splitHash = MlCompiler.Md5Split), Training)

  /** GA-source REGRESSION: label = summed param value, trigger event
    * supplies first_value + trigger_date via inner join, final target is
    * (label − first_value) with first_value kept as a feature. */
  def mlTrainingRegression(s: SparkSession, dir: String): DataFrame = {
    val c = cfg(hashSplit = false, imbalance = 1).copy(
      isClassification = false,
      triggerEvent = Some(GaTrigger("signup", "k")))
    MlCompiler.dataset(s, Ga4.ga4EventsPartitioned(s, dir), c, Training)
  }

  /** First-party-style relation derived deterministically from the flat
    * events table (the customer-CRM analog both engines can build). */
  private def fpTable(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"),
        timestamp_micros(min(expr("ts DIV 1000"))).as("first_seen"),
        max(when(col("event_type") === "purchase" &&
            get_json_object(col("props"), "$.k").cast("long") > 0, 1L)
          .otherwise(0L)).as("purchased"))
      .select(col("user_id").cast("string").as("customer_id"),
        col("n_events"), col("total_value"), col("first_seen"), col("purchased"))
  }

  private val fpRoles = MlCompiler.FpRoles(
    uniqueId = "customer_id",
    features = Seq("n_events", "total_value"),
    label = Some("purchased"),
    triggerDate = Some("first_seen"))

  /** First-party-only dataset path (`model_bqml.sql:272-287`): datetime
    * trigger window (end − 1 s) + step projection, no GA composition. */
  def mlFirstPartyDataset(s: SparkSession, dir: String): DataFrame = {
    // window anchored at the data start: users' FIRST events cluster at the
    // head of the range, so a later window would be vacuously empty
    val c = cfg(hashSplit = false, imbalance = 1)
      .copy(suffixLo = "20240101", suffixHi = "20240125")
    val fpv = MlCompiler.firstPartyCte(fpTable(s, dir), fpRoles)
    MlCompiler.firstPartyDataset(fpv, c, Training)
  }

  /** Combined-source dataset (fpv ⋈ analytics variables + GA behavior),
    * exercised structurally; spec-covered (MlSpec) rather than oracled. */
  def mlCombinedDataset(s: SparkSession, dir: String): DataFrame = {
    val c = cfg(hashSplit = false, imbalance = 1)
    val fpv = MlCompiler.firstPartyCte(
        fpTable(s, dir).filter(col("n_events") >= 5), fpRoles)
      // GA source provides label/trigger/first_value here
      .drop("label", "trigger_date", "first_value")
    MlCompiler.dataset(s, Ga4.ga4EventsPartitioned(s, dir), c, Training, firstParty = Some(fpv))
  }

  /** Conversion-value calibration composed end-to-end. The probability
    * column stands in for ML.PREDICT output with a deterministic score
    * (both engines compute it identically), so the NTILE + LAG/LEAD
    * calibration itself is oracle-checked. */
  def mlConversionValues(s: SparkSession, dir: String): DataFrame = {
    val c = cfg(hashSplit = false, imbalance = 1)
    val ds = MlCompiler.dataset(s, Ga4.ga4EventsPartitioned(s, dir), c, Predicting)
    val preds = ds.select(col("unique_id"), col("label"),
      ((col("unique_id").cast("long") * 2654435761L % 1000003L) / lit(1000003.0))
        .as("probability"))
    MlCompiler.conversionValues(s, preds, c)
  }

  /** Deterministic ML.PREDICT stand-in over the predicting dataset (the
    * same score derivation as ml_conversion_values, so the calibration
    * and the output composition are checked against one oracle), with the
    * id columns the OUTPUTING step projects. Persisted: it feeds both the
    * NTILE calibration (whose range shuffle double-executes its input)
    * and the band join. */
  private def deterministicPreds(s: SparkSession, dir: String, c: MlModel): DataFrame =
    MlCompiler.dataset(s, Ga4.ga4EventsPartitioned(s, dir), c, Predicting)
      .select(col("unique_id"), col("user_pseudo_id"), col("user_id"), col("label"),
        ((col("unique_id").cast("long") * 2654435761L % 1000003L) / lit(1000003.0))
          .as("probability"))
      .transform(cached)

  /** `prepared_predictions` (`output.sql:37-54`): scores band-joined onto
    * the conversion-value segments. The segment relation is ≤
    * `conversionRateSegments` rows — always broadcast, so the band join
    * is a codegen'd broadcast nested-loop over a 10-row build side, never
    * a shuffle. */
  private def preparedPredictions(s: SparkSession, preds: DataFrame, c: MlModel): DataFrame = {
    val cv = MlCompiler.conversionValues(s, preds, c)
    preds.join(broadcast(cv),
        col("probability").between(col("probability_range_start"), col("probability_range_end")),
        "left")
      .groupBy(col("unique_id"), col("user_pseudo_id"), col("user_id"))
      .agg(round(max(col("value")), 4).as("value"),
        max(col("normalized_probability")).as("normalized_score"),
        (max(col("probability")) * 100).as("score"))
  }

  /**
   * The predictive pipeline's OUTPUTING step composed end-to-end —
   * classification + GA source + ads-offline destination
   * (`output.sql:2-7,37-54,104-135`): DECLARE the latest shard suffix
   * from partition metadata (the `__TABLES_SUMMARY__` analog — no data
   * scan), band-join deterministic ML.PREDICT-shaped scores onto the
   * conversion-value segments, take each user's freshest non-empty
   * ad-click id from ONLY the latest shard (partition-pruned scan,
   * ROW_NUMBER, `FORMAT_TIMESTAMP('%F %T%Ez', ...)`), and emit one row
   * per scored user holding a click id. The fixture's 'click' events
   * stand in for the reference's 'page_view' (the fixture vocabulary has
   * no page_view; the gclid param shape is identical).
   */
  def mlOutputPredictions(s: SparkSession, dir: String): DataFrame = {
    val c = cfg(hashSplit = false, imbalance = 1)
    val latest = graft.sources.WildcardTable.listSuffixes(s, dir).max
    val preds = deterministicPreds(s, dir, c)
    val prepared = preparedPredictions(s, preds, c)
    // the gclid value embeds the event id, so the DESC tiebreak is
    // deterministic even for same-microsecond clicks (the reference has
    // no tiebreak — nondeterminism its own tests tolerate, the hash
    // compare cannot)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("unique_id"))
      .orderBy(col("event_timestamp").desc, col("gclid").desc)
    val gclids = Ga4.ga4EventsPartitioned(s, dir)
      .filter(col("_table_suffix") === latest && lower(col("platform")) === "web" &&
        col("event_name") === "click")
      .select(col("user_pseudo_id").as("unique_id"), col("event_timestamp"),
        explode(col("event_params")).as("p"))
      .filter(col("p.key") === "gclid" &&
        coalesce(col("p.value.string_value"), lit("")) =!= "")
      .select(col("unique_id"), col("p.value.string_value").as("gclid"), col("event_timestamp"))
      .withColumn("row_num", row_number().over(w))
      .filter(col("row_num") === 1)
      .select(col("unique_id"), col("gclid"),
        concat(date_format(timestamp_micros(col("event_timestamp")), "yyyy-MM-dd HH:mm:ss"),
          lit("+00:00")).as("datetime"))
    prepared.join(gclids, "unique_id")
      .select(col("unique_id"), col("user_pseudo_id"), col("user_id"), col("value"),
        col("normalized_score"), col("score"), col("gclid"), col("datetime"))
      .orderBy(col("unique_id"))
  }

  /**
   * The OUTPUTING step's Measurement-Protocol branch
   * (`output.sql:70-103`): scored users MINUS users who already carry a
   * score event in the latest shard (`users_without_score` NOT-IN →
   * left-anti), projected to the MP payload columns. The
   * "already-scored" marker is the fixture's `view`-with-`medium=organic`
   * combination (the reference matches `prop_score`/`Predicted_Value`
   * events it previously uploaded; the fixture never contains those, and
   * a vacuous anti-join would test nothing).
   */
  def mlOutputPredictionsMp(s: SparkSession, dir: String): DataFrame = {
    val c = cfg(hashSplit = false, imbalance = 1)
    val latest = graft.sources.WildcardTable.listSuffixes(s, dir).max
    val preds = deterministicPreds(s, dir, c)
    val prepared = preparedPredictions(s, preds, c)
    val ev = Ga4.ga4EventsPartitioned(s, dir)
      .filter(col("_table_suffix") === latest && lower(col("platform")) === "web")
      .select(col("user_pseudo_id").as("unique_id"), col("event_name").as("name"),
        col("event_params").as("params"))
    val withScore = ev
      .filter(col("name") === "view" && exists(col("params"), p =>
        p.getField("key") === "medium" &&
          p.getField("value").getField("string_value") === "organic"))
      .select(col("unique_id")).distinct()
    val withoutScore = ev.select(col("unique_id")).distinct()
      .join(withScore, Seq("unique_id"), "left_anti")
    prepared.join(withoutScore, "unique_id")
      .select(col("value"), col("normalized_score"), col("score"),
        col("unique_id").as("client_id"),
        lit("prop_score").as("event_name"), lit("Predicted_Value").as("type"))
      .orderBy(col("client_id"))
  }

  /**
   * Variable-discovery query (`bigquery.py:74-117`): top-100 event names
   * by volume, their parameter keys (minus the exclusion list) and the
   * distinct typed slots each key populates — deterministic STRING_AGG
   * via sorted collect_set (SURVEY §2.3 STRING_AGG caveat).
   */
  def mlVariableDiscovery(s: SparkSession, dir: String): DataFrame = {
    // persisted: the top-100 aggregation AND the explode/probe join both
    // consume this slice — without the persist the pruned scan and the
    // event_params struct construction execute twice in one action
    val evs = Ga4.ga4EventsPartitioned(s, dir)
      .filter(col("_table_suffix").between("20240105", "20240125")) // pruned scan
      .select(col("event_name").as("name"), col("event_params").as("params"))
      .transform(cached)
    val top = evs.groupBy(col("name")).agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc).limit(100)
    val v = col("p.value")
    val vt = when(v.getField("string_value").isNotNull, "string")
      .when(v.getField("int_value").isNotNull, "int")
      .when(v.getField("double_value").isNotNull, "double")
      .when(v.getField("float_value").isNotNull, "float")
    evs.select(col("name"), explode(col("params")).as("p"))
      .join(top, "name")
      .filter(!col("p.key").isin("debug_mode", "engagement_time_msec") &&
        (v.getField("string_value").isNotNull || v.getField("int_value").isNotNull ||
          v.getField("double_value").isNotNull || v.getField("float_value").isNotNull))
      .groupBy(col("name"), col("count"), col("p.key").as("parameter_key"))
      .agg(concat_ws(",", sort_array(collect_set(vt))).as("parameter_value_type"))
      .orderBy(col("name").asc, col("parameter_key").asc)
  }

  /**
   * First-party variable discovery (`bigquery.py:140-162`
   * `get_first_party_variables`): introspect a registered first-party
   * table's schema and propose (name, field type) rows for the UI's
   * feature/label picker. The reference drops BigQuery `JSON` and
   * `RECORD` columns; the Spark analogs are `VariantType` (semi-
   * structured JSON) and the nested types (struct/array/map). Pure
   * driver-side metadata — reading the parquet footer schema runs no
   * scan of the table's data.
   *
   * Field types surface in BigQuery's vocabulary (STRING/INTEGER/...)
   * so a UI written against the reference's wire format needs no
   * translation layer.
   */
  def firstPartyVariables(s: SparkSession, tablePath: String): Seq[(String, String)] = {
    import org.apache.spark.sql.types._
    def bqType(dt: DataType): Option[String] = dt match {
      case _: StructType | _: ArrayType | _: MapType | _: VariantType => None // RECORD / JSON
      case _: StringType => Some("STRING")
      case LongType | IntegerType | ShortType | ByteType => Some("INTEGER")
      case DoubleType | FloatType => Some("FLOAT")
      case BooleanType => Some("BOOLEAN")
      case TimestampType => Some("TIMESTAMP")
      case TimestampNTZType => Some("DATETIME")
      case DateType => Some("DATE")
      case _: DecimalType => Some("NUMERIC")
      case BinaryType => Some("BYTES")
      case other => Some(other.sql.toUpperCase)
    }
    s.read.parquet(tablePath).schema.fields.toSeq
      .flatMap(f => bqType(f.dataType).map(t => f.name -> t))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ml_training_dataset" -> (mlTrainingDataset _),
    "ml_training_dataset_uid" -> (mlTrainingDatasetUid _),
    "ml_predict_dataset" -> (mlPredictDataset _),
    "ml_training_rebalanced" -> (mlTrainingRebalanced _),
    "ml_training_rebalanced_md5" -> (mlTrainingRebalancedMd5 _),
    "ml_conversion_values" -> (mlConversionValues _),
    "ml_variable_discovery" -> (mlVariableDiscovery _),
    "ml_training_regression" -> (mlTrainingRegression _),
    "ml_first_party_dataset" -> (mlFirstPartyDataset _),
    "ml_combined_dataset" -> (mlCombinedDataset _),
    "output_predictions" -> (mlOutputPredictions _),
    "output_predictions_mp" -> (mlOutputPredictionsMp _))

  /** The events→first_engagement→analytics_variables→aggregate_behavior
    * composition in DuckDB dialect (mirrors model_bqml.sql over the shared
    * derived ga4 relation). `extraCtes` are injected after ga4;
    * `evsExtra` appends to the events filter; `uvSql` overrides the
    * user_variables relation (combined-source path). */
  private def duckCoreWith(extraCtes: String, evsExtra: String, uvSql: String,
      labSql: String = Ml.defaultLab, uniqueIdCol: String = "user_pseudo_id"): String =
    s"""${Ga4.duckGa4},$extraCtes
       |evs AS (
       |  SELECT
       |    event_id,
       |    event_timestamp AS timestamp,
       |    CAST(strptime(event_date, '%Y%m%d') AS DATE) AS date,
       |    event_name AS name,
       |    event_params AS params,
       |    user_id,
       |    user_pseudo_id,
       |    $uniqueIdCol AS unique_id,
       |    geo.country AS country,
       |    geo.region AS region,
       |    device.language AS language,
       |    device.category AS device_type,
       |    device.operating_system AS device_os,
       |    device.web_info.browser AS device_browser,
       |    traffic_source.source AS traffic_source,
       |    traffic_source.medium AS traffic_medium,
       |    CAST(EXTRACT(HOUR FROM make_timestamp(user_first_touch_timestamp)) AS INT) AS first_touch_hour
       |  FROM ga4
       |  WHERE event_date BETWEEN '20240105' AND '20240125'
       |  AND lower(platform) = 'web'$evsExtra),
       |fe AS (
       |  SELECT * EXCLUDE (row_num) FROM (
       |    SELECT user_id, user_pseudo_id, unique_id, country, region, language,
       |      traffic_source, traffic_medium, device_type, device_os, device_browser,
       |      CASE
       |        WHEN first_touch_hour >= 1 AND first_touch_hour < 6 THEN 'night_1_6'
       |        WHEN first_touch_hour >= 6 AND first_touch_hour < 11 THEN 'morning_6_11'
       |        WHEN first_touch_hour >= 11 AND first_touch_hour < 14 THEN 'lunch_11_14'
       |        WHEN first_touch_hour >= 14 AND first_touch_hour < 17 THEN 'afternoon_14_17'
       |        WHEN first_touch_hour >= 17 AND first_touch_hour < 19 THEN 'dinner_17_19'
       |        WHEN first_touch_hour >= 19 AND first_touch_hour < 22 THEN 'evening_19_23'
       |        WHEN first_touch_hour >= 22 OR first_touch_hour = 0 THEN 'latenight_23_1'
       |      END AS daypart,
       |      ROW_NUMBER() OVER (PARTITION BY unique_id ORDER BY timestamp ASC, event_id ASC) AS row_num
       |    FROM evs WHERE name = 'view')
       |  WHERE row_num = 1),
       |$labSql
       |$uvSql
       |ab AS (
       |  SELECT e.unique_id,
       |    CAST(SUM(CASE WHEN e.name = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_error,
       |    CAST(SUM(CASE WHEN e.name = 'view' AND EXISTS (
       |      SELECT 1 FROM unnest(e.params) AS t(p) WHERE p.key = 'medium'
       |      AND COALESCE(p.value.string_value, CAST(p.value.int_value AS VARCHAR)) = 'cpc')
       |      THEN 1 ELSE 0 END) AS BIGINT) AS cnt_view_cpc,
       |    CAST(SUM(CASE WHEN e.name = 'click' AND EXISTS (
       |      SELECT 1 FROM unnest(e.params) AS t(p) WHERE p.key = 'k'
       |      AND COALESCE(TRY_CAST(p.value.string_value AS DOUBLE),
       |                   CAST(p.value.int_value AS DOUBLE),
       |                   p.value.float_value, p.value.double_value) > 50)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS cnt_click_k_gt50,
       |    CAST(SUM((SELECT p.value.int_value FROM unnest(e.params) AS t(p)
       |      WHERE p.key = 'engagement_time_msec')) AS BIGINT) AS engagement_time
       |  FROM evs e JOIN uv ON e.unique_id = uv.unique_id
       |  WHERE (uv.label > 0 AND e.date <= uv.trigger_date) OR uv.label = 0
       |  GROUP BY 1)""".stripMargin

  private val defaultLab =
    """lab AS (
      |  SELECT unique_id, CAST(1 AS BIGINT) AS label, MIN(date) AS date
      |  FROM evs
      |  WHERE name = 'purchase'
      |  AND EXISTS (SELECT 1 FROM unnest(params) AS t(p) WHERE p.key = 'k'
      |    AND COALESCE(CAST(p.value.int_value AS DOUBLE), p.value.float_value,
      |                 p.value.double_value, 0) > 0)
      |  GROUP BY 1),""".stripMargin

  private val defaultUv =
    """uv AS (
      |  SELECT lab.date AS trigger_date, CAST(COALESCE(lab.label, 0) AS BIGINT) AS label,
      |    fe.unique_id
      |  FROM fe LEFT JOIN lab USING (unique_id)),""".stripMargin

  private val duckCore = duckCoreWith("", "", defaultUv)

  private val regressionLab =
    """lab AS (
      |  SELECT e.unique_id AS unique_id,
      |    SUM(COALESCE(CAST(p.value.int_value AS DOUBLE), p.value.float_value,
      |                 p.value.double_value, 0)) AS label,
      |    MIN(e.date) AS date
      |  FROM evs e, unnest(e.params) AS t(p)
      |  WHERE e.name = 'purchase' AND p.key = 'k'
      |  AND COALESCE(CAST(p.value.int_value AS DOUBLE), p.value.float_value,
      |               p.value.double_value, 0) > 0
      |  GROUP BY 1),""".stripMargin

  private val regressionUv =
    """trg AS (
      |  SELECT unique_id, t_date, t_value FROM (
      |    SELECT e.unique_id AS unique_id, e.date AS t_date,
      |      COALESCE(CAST(p.value.int_value AS DOUBLE), p.value.float_value,
      |               p.value.double_value, 0) AS t_value,
      |      ROW_NUMBER() OVER (PARTITION BY e.unique_id ORDER BY e.timestamp ASC, e.event_id ASC) AS row_num
      |    FROM evs e, unnest(e.params) AS t(p)
      |    WHERE e.name = 'signup' AND p.key = 'k'
      |    AND COALESCE(CAST(p.value.int_value AS DOUBLE), p.value.float_value,
      |                 p.value.double_value, 0) > 0)
      |  WHERE row_num = 1),
      |uv AS (
      |  SELECT COALESCE(trg.t_value, 0) AS first_value, trg.t_date AS trigger_date,
      |    CAST(COALESCE(lab.label, 0) AS DOUBLE) AS label, fe.unique_id
      |  FROM fe LEFT JOIN lab USING (unique_id) JOIN trg USING (unique_id)),""".stripMargin

  private val md5Mod100 =
    "CAST(CAST('0x' || substring(md5(user_pseudo_id), 1, 8) AS UBIGINT) AS BIGINT) % 100"

  private val trainingCols =
    """fe.country, fe.region, fe.language, fe.traffic_source,
      |  fe.traffic_medium, fe.device_type, fe.device_os, fe.device_browser,
      |  fe.daypart, ab.cnt_error, ab.cnt_view_cpc, ab.cnt_click_k_gt50,
      |  ab.engagement_time, uv.label""".stripMargin

  private val combinedFp =
    """
      |fp AS (
      |  SELECT CAST(user_id AS VARCHAR) AS unique_id, COUNT(1) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |  FROM events GROUP BY 1 HAVING COUNT(1) >= 5),""".stripMargin

  private val combinedUv =
    """uv AS (
      |  SELECT CAST(fp.n_events AS BIGINT) AS n_events, fp.total_value,
      |    lab.date AS trigger_date, CAST(COALESCE(lab.label, 0) AS BIGINT) AS label,
      |    fe.unique_id
      |  FROM fe LEFT JOIN lab USING (unique_id) JOIN fp USING (unique_id)),""".stripMargin

  /** abs(farm_fp(id)) % 100 via the [[OracleAux]] farm_users side table
    * (correlated scalar lookup — DuckDB unnests it to a join). */
  private def farmMod100(idExpr: String): String =
    s"abs((SELECT f.fp FROM ${OracleAux.duckAux("farm_users")} f " +
      s"WHERE f.unique_id = $idExpr)) % 100"

  val oracle: Map[String, String] = Map(
    "ml_training_rebalanced" ->
      s"""WITH ${duckCoreWith("", s"\n  AND ${farmMod100("user_pseudo_id")} < 90", defaultUv)}
         |SELECT $trainingCols
         |FROM fe
         |JOIN ab ON fe.unique_id = ab.unique_id
         |JOIN uv ON fe.unique_id = uv.unique_id
         |WHERE uv.label > 0
         |UNION ALL
         |SELECT $trainingCols
         |FROM fe
         |JOIN ab ON fe.unique_id = ab.unique_id
         |JOIN uv ON fe.unique_id = uv.unique_id
         |WHERE uv.label = 0
         |AND ${farmMod100("fe.unique_id")} <= 25""".stripMargin,
    "ml_training_rebalanced_md5" ->
      s"""WITH ${duckCoreWith("", s"\n  AND $md5Mod100 < 90", defaultUv)}
         |SELECT $trainingCols
         |FROM fe
         |JOIN ab ON fe.unique_id = ab.unique_id
         |JOIN uv ON fe.unique_id = uv.unique_id
         |WHERE uv.label > 0
         |UNION ALL
         |SELECT $trainingCols
         |FROM fe
         |JOIN ab ON fe.unique_id = ab.unique_id
         |JOIN uv ON fe.unique_id = uv.unique_id
         |WHERE uv.label = 0
         |AND CAST(CAST('0x' || substring(md5(fe.unique_id), 1, 8) AS UBIGINT) AS BIGINT) % 100 <= 25""".stripMargin,
    "ml_combined_dataset" ->
      s"""WITH ${duckCoreWith(combinedFp,
              "\n  AND user_pseudo_id IN (SELECT unique_id FROM fp)", combinedUv)}
         |SELECT fe.country, fe.region, fe.language, fe.traffic_source,
         |  fe.traffic_medium, fe.device_type, fe.device_os, fe.device_browser,
         |  fe.daypart, ab.cnt_error, ab.cnt_view_cpc, ab.cnt_click_k_gt50,
         |  ab.engagement_time, uv.n_events, uv.total_value, uv.label
         |FROM fe
         |JOIN ab ON fe.unique_id = ab.unique_id
         |JOIN uv ON fe.unique_id = uv.unique_id""".stripMargin,
    "ml_training_regression" ->
      s"""WITH ${duckCoreWith("", "", regressionUv, regressionLab)}
         |SELECT fe.country, fe.region, fe.language, fe.traffic_source,
         |  fe.traffic_medium, fe.device_type, fe.device_os, fe.device_browser,
         |  fe.daypart, ab.cnt_error, ab.cnt_view_cpc, ab.cnt_click_k_gt50,
         |  ab.engagement_time, uv.first_value,
         |  (uv.label - uv.first_value) AS label
         |FROM fe
         |JOIN ab ON fe.unique_id = ab.unique_id
         |JOIN uv ON fe.unique_id = uv.unique_id""".stripMargin,
    "ml_first_party_dataset" ->
      """WITH fp AS (
        |  SELECT CAST(user_id AS VARCHAR) AS unique_id, COUNT(1) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |    make_timestamp(epoch_us(MIN(ts))) AS first_seen,
        |    CAST(MAX(CASE WHEN event_type = 'purchase'
        |      AND CAST(json_extract_string(props, '$.k') AS BIGINT) > 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS label
        |  FROM events GROUP BY 1)
        |SELECT n_events, total_value, label FROM fp
        |WHERE first_seen >= strptime('20240101', '%Y%m%d')
        |AND first_seen <= strptime('20240125', '%Y%m%d') - INTERVAL 1 SECOND""".stripMargin,
    "ml_variable_discovery" ->
      s"""WITH ${Ga4.duckGa4},
         |evs AS (
         |  SELECT event_name AS name, event_params AS params FROM ga4
         |  WHERE event_date BETWEEN '20240105' AND '20240125'),
         |top_events AS (
         |  SELECT name, COUNT(*) AS count FROM evs GROUP BY 1
         |  ORDER BY count DESC LIMIT 100),
         |pr AS (
         |  SELECT e.name AS name, p.key AS parameter_key,
         |    CASE
         |      WHEN p.value.string_value IS NOT NULL THEN 'string'
         |      WHEN p.value.int_value IS NOT NULL THEN 'int'
         |      WHEN p.value.double_value IS NOT NULL THEN 'double'
         |      WHEN p.value.float_value IS NOT NULL THEN 'float'
         |    END AS vt
         |  FROM evs e, unnest(e.params) AS u(p)
         |  WHERE p.key NOT IN ('debug_mode', 'engagement_time_msec')
         |  AND (p.value.string_value IS NOT NULL OR p.value.int_value IS NOT NULL
         |    OR p.value.double_value IS NOT NULL OR p.value.float_value IS NOT NULL))
         |SELECT pr.name, t.count, pr.parameter_key,
         |  array_to_string(list_sort(list(DISTINCT vt)), ',') AS parameter_value_type
         |FROM pr JOIN top_events t ON pr.name = t.name
         |GROUP BY 1, 2, 3
         |ORDER BY 1 ASC, 3 ASC""".stripMargin,
    "ml_training_dataset" ->
      s"""WITH $duckCore
         |SELECT fe.country, fe.region, fe.language, fe.traffic_source,
         |  fe.traffic_medium, fe.device_type, fe.device_os, fe.device_browser,
         |  fe.daypart, ab.cnt_error, ab.cnt_view_cpc, ab.cnt_click_k_gt50,
         |  ab.engagement_time, uv.label
         |FROM fe
         |JOIN ab ON fe.unique_id = ab.unique_id
         |JOIN uv ON fe.unique_id = uv.unique_id""".stripMargin,
    "ml_training_dataset_uid" ->
      s"""WITH ${duckCoreWith("", "", defaultUv, defaultLab, uniqueIdCol = "user_id")}
         |SELECT fe.country, fe.region, fe.language, fe.traffic_source,
         |  fe.traffic_medium, fe.device_type, fe.device_os, fe.device_browser,
         |  fe.daypart, ab.cnt_error, ab.cnt_view_cpc, ab.cnt_click_k_gt50,
         |  ab.engagement_time, uv.label
         |FROM fe
         |JOIN ab ON fe.unique_id = ab.unique_id
         |JOIN uv ON fe.unique_id = uv.unique_id""".stripMargin,
    "ml_predict_dataset" ->
      s"""WITH $duckCore
         |SELECT fe.user_id, fe.user_pseudo_id, fe.unique_id, fe.country,
         |  fe.region, fe.language, fe.traffic_source, fe.traffic_medium,
         |  fe.device_type, fe.device_os, fe.device_browser, fe.daypart,
         |  ab.cnt_error, ab.cnt_view_cpc, ab.cnt_click_k_gt50,
         |  ab.engagement_time, uv.label
         |FROM fe
         |JOIN ab ON fe.unique_id = ab.unique_id
         |JOIN uv ON fe.unique_id = uv.unique_id""".stripMargin,
    "ml_conversion_values" ->
      s"""WITH $duckCore,
         |preds AS (
         |  SELECT fe.unique_id, uv.label,
         |    (CAST(fe.unique_id AS BIGINT) * 2654435761 % 1000003) / 1000003.0 AS probability
         |  FROM fe
         |  JOIN ab ON fe.unique_id = ab.unique_id
         |  JOIN uv ON fe.unique_id = uv.unique_id),
         |seg AS (
         |  SELECT label, probability,
         |    CAST(NTILE(10) OVER (ORDER BY probability ASC, unique_id ASC) AS BIGINT)
         |      AS normalized_probability
         |  FROM preds)
         |SELECT normalized_probability,
         |  CAST(SUM(label) AS DOUBLE) / COUNT(1) * 25.0 AS value,
         |  CASE WHEN normalized_probability = 1 THEN 0.0
         |    ELSE (LAG(MAX(probability)) OVER (ORDER BY normalized_probability ASC)
         |          + MIN(probability)) / 2.0 END AS probability_range_start,
         |  CASE WHEN normalized_probability = 10 THEN 1.0
         |    ELSE (LEAD(MIN(probability)) OVER (ORDER BY normalized_probability ASC)
         |          + MAX(probability)) / 2.0 END AS probability_range_end
         |FROM seg
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,
    "output_predictions" ->
      s"""WITH $duckCore,
         |$duckOutputPrepared,
         |gc0 AS (
         |  SELECT g.user_pseudo_id AS unique_id, p.value.string_value AS gclid,
         |    g.event_timestamp,
         |    ROW_NUMBER() OVER (PARTITION BY g.user_pseudo_id
         |      ORDER BY g.event_timestamp DESC, p.value.string_value DESC) AS row_num
         |  FROM ga4 g, unnest(g.event_params) AS t(p)
         |  WHERE g.event_date = (SELECT sfx FROM latest) AND lower(g.platform) = 'web'
         |  AND g.event_name = 'click' AND p.key = 'gclid'
         |  AND COALESCE(p.value.string_value, '') != ''),
         |gclids AS (
         |  SELECT unique_id, gclid,
         |    strftime(make_timestamp(event_timestamp), '%Y-%m-%d %H:%M:%S') || '+00:00' AS datetime
         |  FROM gc0 WHERE row_num = 1)
         |SELECT p.unique_id, p.user_pseudo_id, p.user_id, p.value, p.normalized_score,
         |  p.score, g.gclid, g.datetime
         |FROM prepared p JOIN gclids g USING (unique_id)
         |ORDER BY p.unique_id""".stripMargin,
    "output_predictions_mp" ->
      s"""WITH $duckCore,
         |$duckOutputPrepared,
         |latest_ev AS (
         |  SELECT user_pseudo_id AS unique_id, event_name AS name, event_params AS params
         |  FROM ga4
         |  WHERE event_date = (SELECT sfx FROM latest) AND lower(platform) = 'web'),
         |ws AS (
         |  SELECT DISTINCT unique_id FROM latest_ev
         |  WHERE name = 'view' AND EXISTS (
         |    SELECT 1 FROM unnest(params) AS t(p)
         |    WHERE p.key = 'medium' AND p.value.string_value = 'organic')),
         |wos AS (
         |  SELECT DISTINCT unique_id FROM latest_ev
         |  WHERE unique_id NOT IN (SELECT unique_id FROM ws))
         |SELECT p.value, p.normalized_score, p.score, p.unique_id AS client_id,
         |  'prop_score' AS event_name, 'Predicted_Value' AS type
         |FROM prepared p JOIN wos USING (unique_id)
         |ORDER BY client_id""".stripMargin)

  /** Shared OUTPUTING-step oracle CTEs: the latest-shard declare, the
    * deterministic score stand-in, the NTILE calibration (textually the
    * ml_conversion_values oracle) and `prepared_predictions`'s band join
    * (`output.sql:37-54`). */
  private lazy val duckOutputPrepared: String =
    """latest AS (SELECT MAX(strftime(ts, '%Y%m%d')) AS sfx FROM events),
      |preds AS (
      |  SELECT fe.unique_id, fe.user_pseudo_id, fe.user_id, uv.label,
      |    (CAST(fe.unique_id AS BIGINT) * 2654435761 % 1000003) / 1000003.0 AS probability
      |  FROM fe
      |  JOIN ab ON fe.unique_id = ab.unique_id
      |  JOIN uv ON fe.unique_id = uv.unique_id),
      |seg AS (
      |  SELECT unique_id, label, probability,
      |    CAST(NTILE(10) OVER (ORDER BY probability ASC, unique_id ASC) AS BIGINT)
      |      AS normalized_probability
      |  FROM preds),
      |cv AS (
      |  SELECT normalized_probability,
      |    CAST(SUM(label) AS DOUBLE) / COUNT(1) * 25.0 AS value,
      |    CASE WHEN normalized_probability = 1 THEN 0.0
      |      ELSE (LAG(MAX(probability)) OVER (ORDER BY normalized_probability ASC)
      |            + MIN(probability)) / 2.0 END AS probability_range_start,
      |    CASE WHEN normalized_probability = 10 THEN 1.0
      |      ELSE (LEAD(MIN(probability)) OVER (ORDER BY normalized_probability ASC)
      |            + MAX(probability)) / 2.0 END AS probability_range_end
      |  FROM seg GROUP BY 1),
      |prepared AS (
      |  SELECT p.unique_id, p.user_pseudo_id, p.user_id,
      |    ROUND(MAX(cv.value), 4) AS value,
      |    MAX(cv.normalized_probability) AS normalized_score,
      |    MAX(p.probability) * 100 AS score
      |  FROM preds p
      |  LEFT JOIN cv ON p.probability BETWEEN cv.probability_range_start AND cv.probability_range_end
      |  GROUP BY 1, 2, 3)""".stripMargin
}
