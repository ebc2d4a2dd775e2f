package graft.queries

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.functions._
import Tables._
import graft.core.QueryCaches.cached

/**
 * Relational operator inventory (SURVEY §2.2) on the TPC-H-ish tables:
 * each entry is one operator shape the reference's generated SQL relies on,
 * expressed Spark-first, with a DuckDB oracle in [[Relational.oracle]].
 *
 * Conventions (driver compare contract):
 *  - every computed column is aliased identically in Spark and oracle SQL;
 *  - money/qty aggregates use exact decimal arithmetic (see Tables.dec);
 *  - every result has a total deterministic ORDER BY.
 *
 * Scale notes are per-query scaladoc; the global ones: aggregations are
 * partial (map-side) by construction, joins broadcast the small side
 * explicitly, and no operator collects to the driver except the scripted
 * scalar lookup (q20), which is a 1-row action by design.
 */
object Relational {

  /** Hash-agg with multiple aggregates (model_bqml.sql:214-259 shape / TPC-H Q1).
    * Scale: map-side partial agg on 6 groups — no shuffle pressure. */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Filter + projection; predicates and 3-column ReadSchema reach the scan
    * (PushedFilters on l_discount + l_shipdate). */
  def q2FilterProj(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .filter(to_date(col("l_shipdate")).between(lit("1995-01-01"), lit("1995-03-31"))
        && col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** SELECT DISTINCT (output.sql:38,58,72,79). */
  def q3Distinct(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_nationkey"))
      .distinct()
      .orderBy(col("c_mktsegment"), col("c_nationkey"))

  /** INNER equi-join + agg (model_bqml.sql:205-207). Customer side is the
    * small build side — broadcast it so the orders scan never shuffles. */
  def q4JoinAgg(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
    val c = load(s, dir, "customer")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** Multi-way join over the star schema (TPC-H Q5 shape): fact table joins
    * broadcast dims; revenue grouped by region. */
  def q5JoinMulti(s: SparkSession, dir: String): DataFrame = {
    val l = load(s, dir, "lineitem")
    val o = load(s, dir, "orders")
    val c = load(s, dir, "customer")
    val n = load(s, dir, "nation")
    val r = load(s, dir, "region")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"))
  }

  /** IN (subquery) semi-join (model_bqml.sql:102-108). */
  def q6SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
    val big = load(s, dir, "orders").filter(col("o_totalprice") > 150000)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** NOT IN / NOT EXISTS anti-join (output.sql:82-83). The subquery is
    * filtered to high-value orders so the anti side is non-empty at every
    * scale factor — a 0-row result would make the oracle check vacuous. */
  def q7AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
    val o = load(s, dir, "orders").filter(col("o_totalprice") > 300000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** LEFT OUTER join onto an aggregated subquery + IFNULL defaults
    * (model_bqml.sql:156-176). */
  def q8LeftJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
    val agg = load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("tot"))
    c.join(agg, c("c_custkey") === agg("o_custkey"), "left_outer")
      .select(
        col("c_custkey"),
        coalesce(col("cnt"), lit(0L)).as("n_orders"),
        coalesce(col("tot"), lit(0.0)).as("total_price"))
      .orderBy(col("c_custkey"))
  }

  /** Range/band join (output.sql:48-49): probability-style BETWEEN join onto
    * a tiny segments relation. The build side is O(segments) rows → broadcast
    * nested-loop, exactly the plan the reference's conversion-values join
    * wants; never a shuffle at any scale. */
  def q9RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
    // decile boundaries via distributed exact NTILE (Quantiles) — the
    // fact table never flows through a single-partition window
    val seg = graft.operators.Quantiles
      .withNtile(o.select(col("o_totalprice"), col("o_orderkey")), 10,
        Seq(col("o_totalprice"), col("o_orderkey")), "seg")
      .groupBy(col("seg"))
      .agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
    o.join(broadcast(seg), col("o_totalprice") >= col("lo") && col("o_totalprice") <= col("hi"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .withColumn("seg", col("seg").cast("long"))
      .orderBy(col("seg"))
  }

  /** Conditional aggregation SUM(IF(...)) per group (model_bqml.sql:250). */
  def q14CondAgg(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchases"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("errors"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))

  /** STRING_AGG(DISTINCT ...) determinism via sorted collect_set
    * (bigquery.py:106-115; SURVEY §2.3 STRING_AGG caveat). */
  def q15StringAgg(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
    val n = load(s, dir, "nation")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        concat_ws(",", sort_array(collect_set(col("c_mktsegment")))).as("segments"),
        count(lit(1)).as("n_customers"))
      .orderBy(col("n_name"))
  }

  /** Top-K: ORDER BY cnt DESC LIMIT k with total tiebreak (bigquery.py:93-100).
    * Catalyst plans TakeOrderedAndProject — no global sort materialization. */
  def q16TopK(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("cnt").desc, col("o_custkey").asc)
      .limit(10)

  /**
   * Correlated scalar subquery, decorrelated (the TPC-H Q17 shape):
   * lineitems whose quantity is below 0.2× their PART's average — the
   * `x < (SELECT 0.2*AVG(...) WHERE inner.key = outer.key)` idiom the
   * BQ SQL surface supports, expressed the way Catalyst should run it:
   * ONE per-part collapse (map-side combined) equi-joined back, never a
   * per-row re-aggregation. Rolled up per brand (the Q17 report).
   *
   * Determinism: the threshold is the integer-style cross-multiplication
   * `5·qty·cnt < Σqty` over exact DECIMALs — no float average, no
   * boundary ulp; the revenue division by 7.0 happens once per output
   * row on the exact DECIMAL sum.
   */
  def q27CorrScalar(s: SparkSession, dir: String): DataFrame = {
    val l = load(s, dir, "lineitem")
    val per = l.groupBy(col("l_partkey"))
      .agg(sum(dec(col("l_quantity"))).as("sq"), count(lit(1)).as("cnt"))
    l.join(per, Seq("l_partkey"))
      .filter(dec(col("l_quantity")) * lit(5) * col("cnt") < col("sq"))
      .join(broadcast(load(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small"),
        round(dsum(col("l_extendedprice")) / lit(7.0), 2).as("avg_yearly"))
      .orderBy(col("p_brand"))
  }

  /**
   * Market-basket brand affinity (association lift): for every pair of
   * part brands co-occurring in an order, `lift = P(a,b)/(P(a)·P(b))`
   * over the order universe — the retail cross-sell report, and the
   * co-occurrence join shape (entity pairs within a bounded group) that
   * recurs across domains.
   *
   * Scale shape: lineitems collapse to DISTINCT (order, brand) first —
   * the pair join runs on the collapsed relation keyed by the order
   * (bounded by order size, never all-pairs across orders); brand
   * marginals are a ≤|brands| broadcast; the order count is a
   * metadata-sized driver scalar. Lift is one double expression from
   * exact integer counts, rounded at 6 dp.
   */
  def q28BasketLift(s: SparkSession, dir: String): DataFrame = {
    val ob = load(s, dir, "lineitem")
      .join(broadcast(load(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
        col("p_partkey") === col("l_partkey"))
      .select(col("l_orderkey"), col("p_brand"))
      .distinct()
      .transform(cached)
    val nOrders = ob.select(col("l_orderkey")).distinct().count()
    val marg = ob.groupBy(col("p_brand")).agg(count(lit(1)).as("n_m"))
    val a = ob.select(col("l_orderkey"), col("p_brand").as("brand_a"))
    val b = ob.select(col("l_orderkey").as("ok_b"), col("p_brand").as("brand_b"))
    a.join(b, col("l_orderkey") === col("ok_b") && col("brand_a") < col("brand_b"))
      .groupBy(col("brand_a"), col("brand_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(marg.select(col("p_brand").as("brand_a"), col("n_m").as("n_a"))),
        Seq("brand_a"))
      .join(broadcast(marg.select(col("p_brand").as("brand_b"), col("n_m").as("n_b"))),
        Seq("brand_b"))
      .select(col("brand_a"), col("brand_b"), col("n_ab"), col("n_a"), col("n_b"),
        round((col("n_ab").cast("double") * lit(nOrders.toDouble)) /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
      .orderBy(col("brand_a"), col("brand_b"))
  }

  /** Scalar string functions (SURVEY §2.3): LOWER, SUBSTR, LENGTH, REGEXP. */
  def q18ScalarString(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "part")
      .select(
        col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_name"), 1, 5).as("name_prefix"),
        col("p_name").rlike("steel").as("has_steel"),
        split(col("p_type"), " ").getItem(0).as("type_first"))
      .orderBy(col("p_partkey"))

  /** Date/time functions (SURVEY §2.3): year/month extraction + formatting. */
  def q19DateFuncs(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_totalprice"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("month"))

  /** DECLARE/SET scripting shape (output.sql:2-7,19): scalar computed first,
    * spliced into the follow-up plan driver-side. The scalar action is a
    * 1-row agg — the only intentional driver round-trip in the inventory. */
  def q20Scripting(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
    val maxDate = o.agg(max(to_date(col("o_orderdate")))).first().getDate(0)
    o.filter(to_date(col("o_orderdate")) > date_sub(lit(maxDate), 30))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))
  }

  /** Deterministic hash-mod split on FARM_FINGERPRINT (model_bqml.sql:95-101).
    * Hash-checked via the [[OracleAux]] farm_customer side table (the
    * fingerprint itself is golden-tested vs Guava in FarmHashSpec; the
    * oracle joins it as data and replays the split arithmetic). */
  def qHashSplit(s: SparkSession, dir: String): DataFrame = {
    load(s, dir, "customer")
      .select(col("c_custkey"),
        (abs(GraftFunctions.farm_fingerprint(col("c_name"))) % 100).as("bucket"))
      .withColumn("split", when(col("bucket") < 90, "train").otherwise("holdout"))
      .groupBy(col("split")).agg(count(lit(1)).as("n"))
      .orderBy(col("split"))
  }

  /** [[qHashSplit]] keyed on the md5 hash family instead of
    * FARM_FINGERPRINT — the hash-checked twin (DuckDB has no farmhash;
    * the farm path is golden-tested in FarmHashSpec), the same strategy
    * as dedup_minhash_lsh_md5 / ml_training_rebalanced_md5. */
  def qHashSplitMd5(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "customer")
      .select(col("c_custkey"),
        (conv(substring(md5(col("c_name")), 1, 8), 16, 10).cast("long") % 100)
          .as("bucket"))
      .withColumn("split", when(col("bucket") < 90, "train").otherwise("holdout"))
      .groupBy(col("split")).agg(count(lit(1)).as("n"))
      .orderBy(col("split"))

  /** UNION ALL of two class branches + re-agg (model_bqml.sql:304-311). */
  def q13UnionAll(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val pos = e.filter(col("event_type") === "purchase")
    val neg = e.filter(col("event_type") =!= "purchase" && col("value") > 100)
    pos.unionAll(neg)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** "Late" threshold: shipped more than 90 days after the order date. */
  private val LateDays = 90
  private val LateTopK = 20

  /**
   * Sole-late-supplier report (the TPC-H Q21 shape on the columns this
   * schema carries): suppliers who, in a multi-supplier order, were the
   * ONLY one to ship late — the vendor-scorecard query whose reference
   * SQL is a correlated EXISTS (another supplier in the order) plus a
   * correlated NOT EXISTS (another LATE supplier).
   *
   * Spark-first reformulation: both correlated subqueries collapse into
   * ONE per-order conditional aggregation — distinct suppliers, distinct
   * late suppliers, and (when exactly one) the late supplier's id come
   * out of the same shuffle; no per-row re-probing, no self-join of
   * lineitem. The supplier dimension broadcasts for the name. Top-K is a
   * TakeOrderedAndProject.
   */
  def q29SoleLateSupplier(s: SparkSession, dir: String): DataFrame = {
    val l = load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val o = load(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
    val perSupp = l
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $LateDays DAYS"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("supp_late"))
    perSupp
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("supp_late"), 1L).otherwise(0L)).as("n_late"),
        max(when(col("supp_late"), col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") >= 2 && col("n_late") === 1)
      .groupBy(col("late_supp").as("s_suppkey"))
      .agg(count(lit(1)).as("n_orders"))
      .join(broadcast(load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))), Seq("s_suppkey"))
      .orderBy(col("n_orders").desc, col("s_suppkey"))
      .limit(LateTopK)
      .select(col("s_suppkey"), col("s_name"), col("n_orders"))
  }

  /** Explicit GROUPING SETS with GROUPING_ID — the generalized form behind
    * the inventory's ROLLUP/CUBE entries (BigQuery's GROUP BY GROUPING
    * SETS; reporting layers read `gid` to route subtotal rows): per
    * (returnflag, linestatus), per returnflag, and the grand total in ONE
    * Expand + hash aggregate — Catalyst multiplies the scan by the set
    * count map-side, so there is exactly one shuffle of ≤ sets × groups
    * rows, never one pass per set. gid bit convention (1 = column
    * aggregated away) matches on both engines. */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"),
        dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  /**
   * MERGE / upsert semantics re-expressed Spark-first (BigQuery `MERGE
   * target USING source ON key WHEN MATCHED THEN UPDATE … WHEN NOT
   * MATCHED THEN INSERT …`): the customer dim is merged with a change
   * feed — per-customer order counts drive an account-balance update
   * (matched rows), and a deterministic slice arrives as brand-new keys
   * (not-matched rows insert). Unmatched target rows pass through
   * unchanged. The result is the post-merge table plus the per-row
   * `action` audit column a CDC pipeline logs.
   *
   * Spark-first shape: MERGE is declaratively a FULL OUTER equi-join on
   * the key with row-level routing — one shuffle join (or broadcast when
   * the change feed is small, the common CDC case; Catalyst decides), no
   * per-row procedural apply. Exactness: balances go through DECIMAL
   * arithmetic; actions derive from join-side presence only.
   */
  def qMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val target = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), dec(col("c_acctbal")).as("bal"))
    val updates = load(s, dir, "orders")
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    // new-key arrivals: a deterministic slice re-keyed past the dim's range
    val inserts = target.filter(col("c_custkey") % 50 === 0)
      .select((col("c_custkey") + 10000000L).as("c_custkey"),
        lit("NEW").as("new_segment"))
    val source = updates
      .join(inserts, Seq("c_custkey"), "full_outer") // disjoint key ranges
    target.join(source, Seq("c_custkey"), "full_outer")
      .select(col("c_custkey"),
        coalesce(col("new_segment"), col("c_mktsegment")).as("c_mktsegment"),
        when(col("n_orders").isNotNull,
          (col("bal") + col("n_orders").cast(DecimalType(12, 2))))
          .otherwise(coalesce(col("bal"), lit(0).cast(DecimalType(12, 2))))
          .cast("double").as("c_acctbal"),
        when(col("bal").isNotNull && col("n_orders").isNotNull, "update")
          .when(col("bal").isNotNull, "keep")
          .otherwise("insert").as("action"))
      .orderBy(col("c_custkey"))
  }

  /**
   * Order-to-first-ship latency quartiles per order priority — the
   * fulfillment-SLA profile (does HIGH really ship faster than LOW?):
   * per order the days from order date to its FIRST line shipment, then
   * per priority the exact lower-order-statistic quartiles (25/50/75)
   * plus population and mean. Orders with no lineitems are out of
   * population (inner join semantics — nothing shipped, no latency).
   *
   * Scale: one per-order map-side-combined min over the lineitem scan,
   * one equi-join to orders, priority-partitioned rank windows (the
   * per-group-quantile shape [[graft.queries.Corpus.statsQqDrift]]
   * uses), a ≤|priorities| rollup.
   */
  def qShipLagPriority(s: SparkSession, dir: String): DataFrame = {
    val firstShip = load(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(min(to_date(col("l_shipdate"))).as("first_ship"))
    val lags = load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        to_date(col("o_orderdate")).as("odate"))
      .join(firstShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("first_ship"), col("odate")).cast("long").as("lag_days"),
        col("o_orderkey"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("lag_days"), col("o_orderkey"))
    val ranked = lags
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("o_orderpriority"))))
    val qs = ranked
      .withColumn("q", explode(filter(typedLit(Seq(25, 50, 75)),
        p => col("rk") === floor((col("n") * p + 99) / 100))))
      .groupBy(col("o_orderpriority"))
      .agg(max(when(col("q") === 25, col("lag_days"))).as("p25_days"),
        max(when(col("q") === 50, col("lag_days"))).as("p50_days"),
        max(when(col("q") === 75, col("lag_days"))).as("p75_days"))
    lags.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("lag_days")).cast("double") / count(lit(1)), 6)
          .as("mean_days"))
      .join(qs, Seq("o_orderpriority"))
      .orderBy(col("o_orderpriority"))
  }

  /** Small-quantity fraction for the Q17-shape filter. */
  private val SmallQtyFrac = 0.2
  /** Per-order quantity threshold for the Q18-shape report. */
  private val BigOrderQty = 300
  /** Dormancy cutoff for the Q22-shape anti join. */
  private val IdleSince = "1998-01-01"
  private val BigOrderTopK = 20

  /**
   * Small-order revenue by brand (the TPC-H Q17 shape): lineitems whose
   * quantity falls below [[SmallQtyFrac]] of their part's average
   * quantity — the reference SQL is a correlated scalar subquery
   * (`l_quantity < 0.2 * (SELECT avg(l_quantity) ... WHERE p_partkey =
   * l_partkey)`).
   *
   * Spark-first: the correlated scalar DECORRELATES into one per-part
   * aggregate joined back on the key — the per-part averages
   * co-partition with lineitem on `l_partkey`, so the probe is a single
   * shuffle equi-join (never per-row re-execution); the brand lookup
   * broadcasts the dim. Averages are exact-DECIMAL sums divided once;
   * the threshold compare runs on identical doubles both engines.
   */
  def q30SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = load(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val avgQ = l.groupBy(col("l_partkey")).agg(davg(col("l_quantity")).as("avg_qty"))
    l.join(avgQ, Seq("l_partkey"))
      .filter(dec(col("l_quantity")).cast("double") < lit(SmallQtyFrac) * col("avg_qty"))
      .join(broadcast(load(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small_lines"),
        dsum(col("l_extendedprice")).as("small_revenue"))
      .orderBy(col("p_brand"))
  }

  /**
   * Large-volume customers (the TPC-H Q18 shape): orders whose total
   * lineitem quantity exceeds [[BigOrderQty]] — the reference SQL is an
   * `IN (SELECT l_orderkey ... GROUP BY ... HAVING SUM(qty) > k)`
   * semi-join.
   *
   * Spark-first: the HAVING subquery is one map-side-combined aggregate
   * over lineitem; because the aggregate output IS the probe set, the
   * semi-join collapses into an inner join that also carries `sum_qty`
   * into the report (the reference re-aggregates it). AQE broadcasts the
   * filtered aggregate (top-percentile orders — small at any scale);
   * Top-K is a TakeOrderedAndProject, never a global sort.
   */
  def q31BigOrders(s: SparkSession, dir: String): DataFrame = {
    val big = load(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > BigOrderQty)
    load(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(load(s, dir, "customer").select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), dec(col("o_totalprice")).cast("double").as("o_totalprice"),
        col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(BigOrderTopK)
  }

  /**
   * Idle high-balance customers by nation (the TPC-H Q22 shape): the
   * reference SQL combines a scalar subquery (global average positive
   * balance) with a correlated NOT EXISTS (customer placed no order since
   * [[IdleSince]] — dormancy, not lifetime absence).
   *
   * Spark-first: the scalar average is a 1-row aggregate read back as a
   * metadata-sized driver scalar (the mixTemperature/AQE-statistics
   * convention — one row, never data-sized) and folded into the customer
   * filter as a literal; NOT EXISTS
   * is a LEFT ANTI join against the orders keys with the date predicate
   * PUSHED to the orders scan (the anti build side shrinks before it
   * shuffles); the rollup is one ≤|nations|-group aggregate. The
   * acctbal > 0 filter reaches the customer scan.
   */
  def q32IdleBalance(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .filter(dec(col("c_acctbal")).cast("double") > 0.0)
    val avgRow = c.agg(davg(col("c_acctbal")).as("avg_bal")).first()
    if (avgRow.isNullAt(0)) {
      // no positive balances: the oracle's correlated average is NULL so
      // its > comparison keeps nothing — return the empty frame directly
      return c.limit(0)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
    }
    val avgBal = avgRow.getDouble(0)
    c.filter(dec(col("c_acctbal")).cast("double") > lit(avgBal))
      .join(load(s, dir, "orders")
          .filter(to_date(col("o_orderdate")) >= lit(IdleSince))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("c_nationkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_small_qty_revenue" -> (q30SmallQtyRevenue _),
    "q31_big_orders" -> (q31BigOrders _),
    "q32_idle_balance" -> (q32IdleBalance _),
    "q_ship_lag_priority" -> (qShipLagPriority _),
    "q_merge_upsert" -> (qMergeUpsert _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q29_sole_late_supplier" -> (q29SoleLateSupplier _),
    "q1_agg" -> (q1Agg _),
    "q2_filter_proj" -> (q2FilterProj _),
    "q3_distinct" -> (q3Distinct _),
    "q4_join_agg" -> (q4JoinAgg _),
    "q5_join_multi" -> (q5JoinMulti _),
    "q6_semi_join" -> (q6SemiJoin _),
    "q7_anti_join" -> (q7AntiJoin _),
    "q8_left_join_agg" -> (q8LeftJoinAgg _),
    "q9_range_join" -> (q9RangeJoin _),
    "q13_union_all" -> (q13UnionAll _),
    "q14_cond_agg" -> (q14CondAgg _),
    "q15_string_agg" -> (q15StringAgg _),
    "q16_topk" -> (q16TopK _),
    "q27_corr_scalar" -> (q27CorrScalar _),
    "q28_basket_lift" -> (q28BasketLift _),
    "q18_scalar_string" -> (q18ScalarString _),
    "q19_date_funcs" -> (q19DateFuncs _),
    "q20_scripting" -> (q20Scripting _),
    "q_hash_split" -> (qHashSplit _),
    "q_hash_split_md5" -> (qHashSplitMd5 _))

  val oracle: Map[String, String] = Map(
    "q_hash_split" ->
      s"""SELECT CASE WHEN abs(f.fp) % 100 < 90
        |  THEN 'train' ELSE 'holdout' END AS split,
        |  CAST(COUNT(1) AS BIGINT) AS n
        |FROM customer c JOIN ${OracleAux.duckAux("farm_customer")} f
        |  ON f.c_name = c.c_name
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_hash_split_md5" ->
      """SELECT CASE WHEN CAST(CAST('0x' || substring(md5(c_name), 1, 8)
        |    AS UBIGINT) AS BIGINT) % 100 < 90
        |  THEN 'train' ELSE 'holdout' END AS split,
        |  CAST(COUNT(1) AS BIGINT) AS n
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "q30_small_qty_revenue" ->
      s"""WITH a AS (
         |  SELECT l_partkey,
         |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
         |      / COUNT(1) AS avg_qty
         |  FROM lineitem GROUP BY 1)
         |SELECT p_brand, CAST(COUNT(1) AS BIGINT) AS n_small_lines,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
         |    AS small_revenue
         |FROM lineitem l
         |JOIN a USING (l_partkey)
         |JOIN part p ON p.p_partkey = l.l_partkey
         |WHERE CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE)
         |  < $SmallQtyFrac * avg_qty
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q31_big_orders" ->
      s"""WITH big AS (
         |  SELECT l_orderkey,
         |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         |  FROM lineitem GROUP BY 1
         |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
         |    > $BigOrderQty)
         |SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
         |  CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
         |  big.sum_qty
         |FROM orders o
         |JOIN big ON o.o_orderkey = big.l_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |ORDER BY o_totalprice DESC, o.o_orderkey LIMIT $BigOrderTopK""".stripMargin,
    "q32_idle_balance" ->
      s"""WITH c AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |  WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) > 0.0),
        |a AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |    / COUNT(1) AS avg_bal
        |  FROM c)
        |SELECT c_nationkey, CAST(COUNT(1) AS BIGINT) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM c CROSS JOIN a
        |WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND CAST(o.o_orderdate AS DATE) >= DATE '$IdleSince')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q29_sole_late_supplier" ->
      s"""WITH ps AS (
         |  SELECT l.l_orderkey, l.l_suppkey,
         |    MAX(l.l_shipdate > o.o_orderdate + INTERVAL $LateDays DAY)
         |      AS supp_late
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  GROUP BY 1, 2),
         |po AS (
         |  SELECT l_orderkey, CAST(COUNT(1) AS BIGINT) AS n_supp,
         |    CAST(SUM(CASE WHEN supp_late THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_late,
         |    MAX(CASE WHEN supp_late THEN l_suppkey END) AS late_supp
         |  FROM ps GROUP BY 1),
         |r AS (
         |  SELECT late_supp AS s_suppkey, CAST(COUNT(1) AS BIGINT) AS n_orders
         |  FROM po WHERE n_supp >= 2 AND n_late = 1 GROUP BY 1)
         |SELECT r.s_suppkey, s.s_name, r.n_orders
         |FROM r JOIN supplier s USING (s_suppkey)
         |ORDER BY r.n_orders DESC, r.s_suppkey LIMIT $LateTopK""".stripMargin,
    "q_ship_lag_priority" ->
      """WITH fs AS (
        |  SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS first_ship
        |  FROM lineitem GROUP BY 1),
        |lags AS (
        |  SELECT o_orderpriority,
        |    CAST(date_diff('day', CAST(o_orderdate AS DATE), first_ship)
        |      AS BIGINT) AS lag_days,
        |    o_orderkey
        |  FROM orders JOIN fs ON o_orderkey = l_orderkey),
        |r AS (
        |  SELECT o_orderpriority, lag_days,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY lag_days, o_orderkey) AS rk,
        |    COUNT(1) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM lags),
        |qs AS (
        |  SELECT o_orderpriority,
        |    CAST(max(CASE WHEN rk = floor((n * 25 + 99) / 100) THEN lag_days END)
        |      AS BIGINT) AS p25_days,
        |    CAST(max(CASE WHEN rk = floor((n * 50 + 99) / 100) THEN lag_days END)
        |      AS BIGINT) AS p50_days,
        |    CAST(max(CASE WHEN rk = floor((n * 75 + 99) / 100) THEN lag_days END)
        |      AS BIGINT) AS p75_days
        |  FROM r GROUP BY 1)
        |SELECT l.o_orderpriority, CAST(COUNT(1) AS BIGINT) AS n_orders,
        |  round(CAST(SUM(lag_days) AS DOUBLE) / COUNT(1), 6) AS mean_days,
        |  p25_days, p50_days, p75_days
        |FROM lags l JOIN qs USING (o_orderpriority)
        |GROUP BY l.o_orderpriority, p25_days, p50_days, p75_days
        |ORDER BY l.o_orderpriority""".stripMargin,
    "q_merge_upsert" ->
      """WITH target AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(c_acctbal AS DECIMAL(12,2)) AS bal
        |  FROM customer),
        |u AS (SELECT o_custkey AS c_custkey, CAST(COUNT(1) AS BIGINT) AS n_orders
        |      FROM orders GROUP BY 1),
        |i AS (SELECT c_custkey + 10000000 AS c_custkey, 'NEW' AS new_segment
        |      FROM target WHERE c_custkey % 50 = 0),
        |src AS (
        |  SELECT coalesce(u.c_custkey, i.c_custkey) AS c_custkey,
        |    n_orders, new_segment
        |  FROM u FULL OUTER JOIN i ON u.c_custkey = i.c_custkey)
        |SELECT coalesce(t.c_custkey, s.c_custkey) AS c_custkey,
        |  coalesce(new_segment, t.c_mktsegment) AS c_mktsegment,
        |  CAST(CASE WHEN n_orders IS NOT NULL
        |      THEN bal + CAST(n_orders AS DECIMAL(12,2))
        |      ELSE coalesce(bal, CAST(0 AS DECIMAL(12,2))) END AS DOUBLE)
        |    AS c_acctbal,
        |  CASE WHEN bal IS NOT NULL AND n_orders IS NOT NULL THEN 'update'
        |       WHEN bal IS NOT NULL THEN 'keep'
        |       ELSE 'insert' END AS action
        |FROM target t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(1) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(1) AS avg_qty,
        |  COUNT(1) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_proj" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
        |  AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q3_distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,
    "q4_join_agg" ->
      """SELECT c_mktsegment, COUNT(1) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q5_join_multi" ->
      """SELECT r_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        |  COUNT(1) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q6_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
        |ORDER BY c_custkey""".stripMargin,
    "q7_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "q8_left_join_agg" ->
      """SELECT c_custkey,
        |  COALESCE(cnt, 0) AS n_orders,
        |  COALESCE(tot, 0.0) AS total_price
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, COUNT(1) AS cnt,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS tot
        |  FROM orders GROUP BY o_custkey) agg
        |ON c_custkey = agg.o_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q9_range_join" ->
      """WITH b AS (
        |  SELECT o_totalprice, CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS seg
        |  FROM orders),
        |segs AS (
        |  SELECT seg, min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |  FROM b GROUP BY seg)
        |SELECT s.seg, COUNT(1) AS n,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders o JOIN segs s
        |  ON o.o_totalprice >= s.lo AND o.o_totalprice <= s.hi
        |GROUP BY s.seg ORDER BY s.seg""".stripMargin,
    "q13_union_all" ->
      """SELECT event_type, COUNT(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT * FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT * FROM events WHERE event_type <> 'purchase' AND value > 100)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q14_cond_agg" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
        |  COUNT(1) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q15_string_agg" ->
      """SELECT n_name,
        |  string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
        |  COUNT(1) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q16_topk" ->
      """SELECT o_custkey, COUNT(1) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey
        |ORDER BY cnt DESC, o_custkey ASC LIMIT 10""".stripMargin,
    "q27_corr_scalar" ->
      """WITH per AS (
        |  SELECT l_partkey,
        |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
        |    CAST(COUNT(1) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT p.p_brand, CAST(COUNT(1) AS BIGINT) AS n_small,
        |  round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 2)
        |    AS avg_yearly
        |FROM lineitem l
        |JOIN per USING (l_partkey)
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE CAST(l.l_quantity AS DECIMAL(12,2)) * 5 * cnt < sq
        |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin,
    "q28_basket_lift" ->
      """WITH ob AS (
        |  SELECT DISTINCT l.l_orderkey, p.p_brand
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM ob),
        |m AS (SELECT p_brand, CAST(COUNT(1) AS BIGINT) AS n_m FROM ob GROUP BY p_brand),
        |pr AS (
        |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        |    CAST(COUNT(1) AS BIGINT) AS n_ab
        |  FROM ob a JOIN ob b
        |    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        |  GROUP BY 1, 2)
        |SELECT brand_a, brand_b, n_ab, ma.n_m AS n_a, mb.n_m AS n_b,
        |  round((CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE))
        |    / (CAST(ma.n_m AS DOUBLE) * CAST(mb.n_m AS DOUBLE)), 6) AS lift
        |FROM pr
        |JOIN m ma ON ma.p_brand = brand_a
        |JOIN m mb ON mb.p_brand = brand_b
        |CROSS JOIN n
        |ORDER BY brand_a, brand_b""".stripMargin,
    "q18_scalar_string" ->
      """SELECT p_partkey,
        |  lower(p_name) AS name_lower,
        |  length(p_name) AS name_len,
        |  substring(p_name, 1, 5) AS name_prefix,
        |  regexp_matches(p_name, 'steel') AS has_steel,
        |  string_split(p_type, ' ')[1] AS type_first
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q19_date_funcs" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(1) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY month ORDER BY month""".stripMargin,
    "q20_scripting" ->
      """SELECT o_orderstatus, COUNT(1) AS n
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >
        |  (SELECT max(CAST(o_orderdate AS DATE)) FROM orders) - INTERVAL 30 DAY
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
}
