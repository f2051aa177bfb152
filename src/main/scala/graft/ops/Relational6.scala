package graft.ops

import graft.model.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Round-6 relational depth: equi-depth histograms, robust (MAD-based)
 * outlier detection, market-basket co-occurrence with apriori pruning,
 * and interval-concurrency sweep lines. Determinism discipline as
 * everywhere: total orders under every window, integer or
 * single-division arithmetic.
 */
object Relational6 {

  /** Equi-depth bucket count for [[equidepthHistogram]]. */
  val HistBuckets = 16

  /**
   * Equi-depth (equal-frequency) histogram of order totals under a
   * TOTAL order (price, orderkey tiebreak) — the optimizer-statistics
   * shape (equal-height histograms are what engines keep for
   * selectivity estimation). A literal `ntile() OVER (ORDER BY …)`
   * would move EVERY row into one window task; the bucket instead
   * comes from [[GlobalOrder.groupedRankAndPrefix]]'s distributed
   * global rank (`keys = Nil`: range-repartition + per-partition rank +
   * a driver-side offset fold) with [[GlobalOrder.ntileFromRank]]
   * reproducing ANSI ntile semantics exactly — the DuckDB oracle still runs the literal
   * window formulation, so matching hashes prove the plan-only swap.
   */
  def equidepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    GlobalOrder.groupedRankAndPrefix(o, keys = Nil,
        order = Seq(col("o_totalprice"), col("o_orderkey")))
      .withColumn("bucket", GlobalOrder.ntileFromRank(
        col("g_rank"), col("g_total_rows"), HistBuckets))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy(col("bucket"))
  }

  /** Robust-z multiplier for [[madOutliers]]: |x − median| > K·MAD. */
  val MadK = 5.0

  /**
   * Median-absolute-deviation outlier audit per event type: median and
   * MAD are the robust location/scale pair (one wild sensor value
   * shifts a mean/stddev audit, not this one). Two grouped exact
   * `percentile` passes (bit-identical to DuckDB `quantile_cont`, the
   * q45 discipline) joined back — the group table is
   * categorical-bounded, so AQE broadcasts it unhinted; arithmetic is
   * subtraction + one multiply, no division anywhere.
   */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    // both medians via grouped global ranks — `percentile()` would
    // sort each event_type's full value set inside ONE reducer task
    // (key-cardinality parallelism); the grouped form ranks on all
    // cores and only boundary rows reach the median aggregate
    val med = graft.ops.GlobalOrder.groupedQuantiles(
      ev, Seq("event_type"), "value", Seq(("med", 0.5)))
    // pinned: withDev feeds the MAD quantile (whose range sampler and
    // shuffle each re-execute their input's lineage) AND the final
    // outlier aggregate — unpinned, the events scan + median join
    // would run three times (guide §2.4: the sampling pass is an
    // invisible extra execution of everything upstream)
    val withDev = graft.ops.GlobalOrder.pin(ev.join(med, "event_type")
      .withColumn("adev", abs(col("value") - col("med"))))
    val mad = graft.ops.GlobalOrder.groupedQuantiles(
      withDev.select(col("event_type"), col("adev")),
      Seq("event_type"), "adev", Seq(("mad", 0.5)))
    withDev.join(mad, "event_type")
      .groupBy(col("event_type"))
      .agg(count(col("value")).as("n"),
        max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("adev") > lit(MadK) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** Minimum distinct-order support for a part to enter
    * [[basketPairs]] — the apriori prune. */
  val BasketMinSupport = 3L

  /**
   * Market-basket co-occurrence with apriori pruning: parts bought
   * together in the same order, scored by lift. The scale discipline
   * is the prune-then-pair order: infrequent parts are removed by a
   * semi-join BEFORE the in-order pair explode, so pair volume is
   * bounded by (basket size)² per order over frequent items only —
   * never a corpus-wide part×part matrix. Lift is the single double
   * division `(n_both · N) / (n_a · n_b)`; the top-50 cut is
   * `TakeOrderedAndProject` under a total order.
   */
  def basketPairs(spark: SparkSession, dir: String, topN: Int = 50): DataFrame = {
    // materialized once (GlobalOrder.pin — localCheckpoint by default,
    // reliable checkpoint under `graft.checkpoint.reliable`): the
    // distinct basket projection feeds the support count, the pruned
    // pair join (twice) and the order total — without it the lineitem
    // scan + distinct shuffle would run four times
    val li = GlobalOrder.pin(Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct())
    // The support table feeds THREE consumers (the semi-join prune and
    // the n_a/n_b lift joins) — unpinned, each embedded its own copy of
    // the groupBy(l_partkey) aggregate, so the pinned basket projection
    // was re-scanned and re-aggregated three times (r17 before-plan:
    // three identical Exchange+HashAggregate subtrees). Pinned, the
    // part-cardinality support rows materialize once; the pin carries
    // the aggregate's size estimate, so the downstream joins still plan
    // the same broadcast at test SF and keep AQE's shuffle fallback at
    // corpus scale. (An alternative single-exchange shape — groupBy +
    // collect_set first, support and totalOrders derived from the
    // pinned baskets — measured FLAT in a same-session A/B at sf0.1:
    // the object-hash collect_set aggregation costs what the saved
    // passes save. Kept the simpler plan.)
    val freq = GlobalOrder.pin(li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= BasketMinSupport))
    val pruned = li.join(freq.select(col("l_partkey")), Seq("l_partkey"), "left_semi")
    val totalOrders = li.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    // Pair generation is ROW-LOCAL over per-order sorted baskets: one
    // groupBy(l_orderkey) shuffle collects each (pruned) basket, then
    // an array comprehension emits the i<j pairs — replacing the
    // orderkey self-join, which shuffled the pruned projection twice
    // and evaluated |basket|² join rows per order before the a<b
    // filter. Basket size is bounded per order (the pair volume bound
    // is unchanged), and the sorted-distinct array makes part_a<part_b
    // hold by construction.
    val baskets = pruned.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_partkey"))).as("parts"))
    val pairs = baskets
      .select(explode(expr(
        "flatten(transform(parts, (a, i) -> " +
          "transform(slice(parts, i + 2, size(parts) - i - 1), " +
          "b -> struct(a AS part_a, b AS part_b))))")).as("p"))
      .select(col("p.part_a"), col("p.part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(freq.select(col("l_partkey").as("part_a"), col("supp").as("n_a")), "part_a")
      .join(freq.select(col("l_partkey").as("part_b"), col("supp").as("n_b")), "part_b")
      .crossJoin(broadcast(totalOrders)) // single-row scalar, q59 pattern
      .withColumn("lift",
        col("n_both").cast("double") * col("n_orders") / (col("n_a") * col("n_b")))
      .select(col("part_a"), col("part_b"), col("n_both"),
        col("n_a"), col("n_b"), col("lift"))
      .orderBy(col("n_both").desc, col("part_a"), col("part_b"))
      .limit(topN)
  }

  /**
   * Interval-concurrency sweep line: how many orders are "open"
   * (order date → last lineitem ship date) at once, per order
   * priority. The classic +1/−1 delta encoding under a TOTAL order
   * (ts, starts-before-ends, orderkey) with a running sum; no
   * interval×interval join anywhere (the O(N²) formulation this
   * replaces). Ends are placed at end+1ms so intervals are inclusive.
   *
   * The running sum routes through
   * [[GlobalOrder.groupedRankAndPrefix]] — a
   * `Window.partitionBy(o_orderpriority)` would shuffle every delta
   * row into FIVE reducer tasks (the priority cardinality) and sort
   * there, a hard parallelism ceiling at 100×; the grouped two-phase
   * form range-partitions on (priority, ts, …) so every core works.
   * Concurrency at a row = its exclusive per-key prefix + its own
   * delta.
   */
  def orderConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val span = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(Tables.epochMs(col("l_shipdate"))).as("end_ms"))
    // pinned once: the +1/−1 union reads `o` TWICE, and the grouped
    // operator's range partitioner adds a sampling pass over its input
    // — unpinned, the lineitem aggregate + join would execute 4×
    val o = GlobalOrder.pin(Tables.orders(spark, dir)
      .join(span, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"), col("o_orderkey"),
        Tables.epochMs(col("o_orderdate")).as("start_ms"), col("end_ms")))
    // (r18 examined: emitting both delta rows via ONE explode pass over
    // `o` instead of this two-read union measured FLAT same-session —
    // the union reads PINNED blocks, so the second read is already
    // cheap; q140's cost is the grouped operator's fixed job chain.)
    val deltas = o.select(col("o_orderpriority"), col("o_orderkey"),
        col("start_ms").as("ts"), lit(1L).as("delta"))
      .unionByName(o.select(col("o_orderpriority"), col("o_orderkey"),
        (col("end_ms") + 1L).as("ts"), lit(-1L).as("delta")))
    GlobalOrder.groupedRankAndPrefix(deltas,
        keys = Seq(col("o_orderpriority")),
        order = Seq(col("ts"), col("delta").desc, col("o_orderkey")),
        values = Seq((col("delta"), "prefix_delta")))
      .withColumn("conc", col("prefix_delta") + col("delta"))
      .groupBy(col("o_orderpriority"))
      .agg(max(col("conc")).as("max_concurrent"),
        (count(lit(1)) / 2).cast("long").as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }
}
