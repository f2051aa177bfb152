package graft.ops

import graft.model.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Second batch of relational/temporal operators: sessionization, as-of
 * join, pivot, cube, outer joins, percentiles, string functions,
 * histograms, keyset pagination.
 *
 * The as-of join is deliberately built from a union + window-function
 * composition (one shuffle by key, sort within partitions) instead of a
 * custom Catalyst operator: at 100 TB the union-window form is exactly
 * the classic distributed as-of algorithm, Catalyst already plans it
 * well, and it stays oracle-checkable against DuckDB's native ASOF JOIN.
 */
object Relational2 {

  /** 30-minute-gap sessionization of the event stream per user —
    * lag → new-session flag → prefix-sum session id → per-session agg.
    * One shuffle (by user), everything else window math. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), Tables.epochMs(col("ts")).as("ts_ms"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val flagged = ev
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > 1800000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("start_ms"),
        max(col("ts_ms")).as("end_ms"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /**
   * As-of join: each event picks the user's most recent order at or
   * before the event time. Union the two sides, sort by (key, ts) within
   * one shuffle, carry the last non-null order key forward — the
   * scalable distributed as-of shape. Orders are pre-collapsed to one
   * row per (custkey, date) (max orderkey) so ties are deterministic on
   * both engines.
   */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val od = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("k"), Tables.epochMs(col("o_orderdate")).as("ts_ms"))
      .agg(max(col("o_orderkey")).as("ok"))
      .select(col("k"), col("ts_ms"), lit(null).cast("long").as("event_id"),
        col("ok"), lit(0).as("is_event"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id").as("k"), Tables.epochMs(col("ts")).as("ts_ms"),
        col("event_id"), lit(null).cast("long").as("ok"), lit(1).as("is_event"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("ts_ms"), col("is_event"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    od.unionByName(ev)
      .withColumn("last_orderkey", last(col("ok"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1 && col("last_orderkey").isNotNull)
      .select(col("event_id"), col("k").as("user_id"), col("ts_ms"), col("last_orderkey"))
      .orderBy(col("event_id"))
  }

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot: per-user event-type counts as wide columns. */
  def pivotCounts(spark: SparkSession, dir: String): DataFrame = {
    val pivoted = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    val renamed = EventTypes.foldLeft(pivoted) { (df, et) =>
      df.withColumn(s"n_$et", coalesce(col(et), lit(0L))).drop(et)
    }
    renamed.orderBy("user_id")
  }

  /** CUBE over two grouping dimensions (all four grouping sets). */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    // pre-aggregate to the (status, priority) grain BEFORE the cube:
    // cube's Expand multiplies its input by FOUR grouping sets, so
    // cubing the raw orders table quadruples the exchange rows —
    // cubing the pre-aggregated group table expands ~15 rows instead
    // (q18's rollup rationale, guide §2.3). Row-identical: subtotals
    // are sums of exact per-group decimal sums and counts.
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n0"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("s0"))
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        sum(col("n0")).as("n"),
        sum(col("s0")).cast("double").as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("sum_price"))
      .orderBy(col("status"), col("priority"))

  /** Left outer join with null-filling aggregates: every customer with
    * order count and spend (0 for order-less customers). */
  def outerJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .select(
        col("c_custkey"),
        col("c_mktsegment"),
        coalesce(col("cnt"), lit(0L)).as("n_orders"),
        coalesce(col("spend"), lit(0.0)).as("total_spend"))
      .orderBy("c_custkey")
  }

  /** Exact linear-interpolation percentiles per return flag — via
    * [[graft.ops.GlobalOrder.groupedQuantiles]], NOT `percentile()`:
    * the builtin is a TypedImperativeAggregate that ships EVERY group
    * value into key-cardinality reducers (3 here) and sorts there —
    * the few-key parallelism ceiling this repo bans. The grouped form
    * range-partitions (flag, price) so every core sorts a slice, then
    * only the ≤2 boundary rows per (group, quantile) reach the
    * driver. Interpolation is `v_lo·(1−frac) + v_hi·frac` — DuckDB's
    * quantile_cont IEEE shape exactly (the algebraically-equal
    * `v_lo + (v_hi−v_lo)·frac` differs in the last ulp on
    * non-representable inputs and breaks the hash-match; verified
    * against the oracle both ways). History: four scalar `percentile`
    * calls → one array-arg call (6.8 s → ~1.7 s at sf0.1) → grouped
    * ranks (removes the per-key buffer entirely) → one range sort and
    * a driver-side pick of the boundary rows. */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    graft.ops.GlobalOrder.groupedQuantiles(
      Tables.lineitem(spark, dir),
      keyCols = Seq("l_returnflag"),
      valueCol = "l_extendedprice",
      ps = Seq(("p25", 0.25), ("p50", 0.50), ("p75", 0.75), ("p95", 0.95)))
      .orderBy("l_returnflag")

  /** String-function sampler #2: edit distance, padding, search,
    * replace, reverse, LIKE. */
  def stringFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        levenshtein(col("p_brand"), lit("Brand#33")).cast("long").as("brand_dist"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
        instr(col("p_name"), "a").cast("long").as("first_a"),
        regexp_replace(col("p_type"), " ", "_").as("type_u"),
        reverse(col("p_brand")).as("brand_rev"),
        col("p_name").like("%gold%").as("has_gold"))
      // pin before the presentation sort: levenshtein + regex per row
      // would otherwise run twice (range-sampler pass, guide §2.4)
      .transform(d => graft.ops.GlobalOrder.pinnedSort(d, col("p_partkey")))

  /** Histogram: fixed-width price bins with counts (arithmetic binning;
    * identical IEEE ops on both engines). */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("bin", floor(col("l_extendedprice") / 5000.0).cast("long") * 5000L)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bin")

  /**
   * Skew-proof two-phase aggregation: salt the (5-value, heavily skewed
   * at 100 TB) entity key, partially aggregate per (key, salt), then
   * combine partials per key. Decimal-exact partial sums make the
   * result independent of the phase split — the oracle is the direct
   * single-phase GROUP BY. At scale phase 1 spreads each hot key over
   * 16 reducers; phase 2 touches 16 rows per key.
   */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame = {
    val partial = Tables.events(spark, dir)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(
        count(lit(1)).as("pn"),
        sum(col("value").cast("decimal(18,2)")).as("psum"))
    partial
      .groupBy(col("event_type"))
      .agg(
        sum(col("pn")).as("n_events"),
        sum(col("psum")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /**
   * Approximate sketches: HLL distinct counts + approximate quantiles.
   *
   * Raw sketch values are engine-specific by construction, so the
   * output carries the EXACT counterparts plus bounded-error booleans;
   * the DuckDB oracle emits the exact columns and literal TRUEs — a
   * sketch drifting out of its error envelope fails the hash gate:
   *  - `users_ok`: HLL at rsd 1% must land within ±5% (5σ) of the
   *    exact distinct count;
   *  - `median_ok`: approx_percentile at accuracy 1000 guarantees rank
   *    error ≤ n/1000, so the sketch median must lie inside the exact
   *    [p45, p55] envelope (a ~50× margin).
   */
  def approxSketches(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // exact distinct via the two-phase route (pre-deduplicated pairs,
    // counted — no countDistinct Expand doubling the fact rows through
    // the exchange); the exact quantile envelope comes from
    // GlobalOrder.groupedQuantiles (grouped global ranks), not the
    // builtin percentile() whose TypedImperativeAggregate would ship
    // every value into event_type-cardinality reducers even in this
    // audit arm; the sketch aggregates stay in a single pass over the
    // facts. The final joins move event_type-cardinality rows only.
    val exact = ev.select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("exact_users"))
    val envelope = graft.ops.GlobalOrder.groupedQuantiles(
      ev.select(col("event_type"), col("value")),
      keyCols = Seq("event_type"), valueCol = "value",
      ps = Seq(("p45", 0.45), ("exact_median", 0.5), ("p55", 0.55)))
    val sketches = ev.groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        expr("approx_percentile(value, 0.5, 1000)").as("approx_median"))
    exact.join(sketches, Seq("event_type")).join(envelope, Seq("event_type"))
      .select(
        col("event_type"), col("exact_users"), col("exact_median"),
        (abs(col("approx_users") - col("exact_users")).cast("double") <=
          col("exact_users").cast("double") * lit(0.05)).as("users_ok"),
        (col("approx_median") >= col("p45") &&
          col("approx_median") <= col("p55")).as("median_ok"))
      .orderBy("event_type")
  }

  /** S5 keyset pagination: resume-after-cursor page fetch (the
    * reference's `paging.next.after` as a batch predicate; scales as an
    * index-range scan, never OFFSET). */
  def keysetPage(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_id") > 200L)
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id")
      .limit(100)
}
