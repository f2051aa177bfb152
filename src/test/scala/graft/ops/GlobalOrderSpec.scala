package graft.ops

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class GlobalOrderSpec extends SparkSpec {

  private def li = Tables.lineitem(spark, sf)
    .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
      col("l_quantity").cast("long").as("q"))

  private def liK = Tables.lineitem(spark, sf)
    .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice"), col("l_quantity").cast("long").as("q"))

  test("distributed global rank equals the single-partition window rank") {
    val order = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val got = GlobalOrder.groupedRankAndPrefix(li, keys = Nil, order,
        values = Seq((col("q"), "g_prefix")))
      .select(col("l_orderkey"), col("l_linenumber"), col("g_rank"), col("g_prefix"))
      .orderBy(col("g_rank")).collect()
    val w = Window.orderBy(order: _*)
    val want = li
      .withColumn("g_rank", row_number().over(w).cast("long"))
      .withColumn("g_prefix", coalesce(
        sum(col("q")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("l_orderkey"), col("l_linenumber"), col("g_rank"), col("g_prefix"))
      .orderBy(col("g_rank")).collect()
    assert(got.length == want.length)
    assert(got.sameElements(want))
  }

  test("rank is invariant to input partitioning") {
    val order = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    def run(parts: Int) =
      GlobalOrder.groupedRankAndPrefix(li.repartition(parts), keys = Nil, order)
        .select(col("l_orderkey"), col("l_linenumber"), col("g_rank"))
        .orderBy(col("g_rank")).collect()
    assert(run(1).sameElements(run(13)))
  }

  test("ntileFromRank reproduces ANSI ntile semantics for awkward N/k") {
    // 6000 rows / 7 buckets: 6000 = 7*857 + 1 → first bucket one larger
    val order = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val got = GlobalOrder.groupedRankAndPrefix(li, keys = Nil, order)
      .withColumn("b", GlobalOrder.ntileFromRank(col("g_rank"), col("g_total_rows"), 7))
      .groupBy("b").count().orderBy("b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val w = Window.orderBy(order: _*)
    val want = li.withColumn("b", ntile(7).over(w).cast("long"))
      .groupBy("b").count().orderBy("b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("grouped rank/prefix equals the per-key window formulation") {
    val keys = Seq(col("l_returnflag"))
    val order = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val src = liK
    val got = GlobalOrder.groupedRankAndPrefix(src, keys, order,
        values = Seq((col("q"), "pfx")))
      .select(col("l_orderkey"), col("l_linenumber"), col("g_rank"),
        col("g_total_rows"), col("pfx"))
      .orderBy(col("l_orderkey"), col("l_linenumber")).collect()
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    val want = src
      .withColumn("g_rank", row_number().over(w).cast("long"))
      .withColumn("g_total_rows", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("pfx", coalesce(
        sum(col("q")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("l_orderkey"), col("l_linenumber"), col("g_rank"),
        col("g_total_rows"), col("pfx"))
      .orderBy(col("l_orderkey"), col("l_linenumber")).collect()
    assert(got.length == want.length && got.sameElements(want))
  }

  test("grouped decimal prefixes are exact and match the window sums") {
    val keys = Seq(col("l_returnflag"))
    val order = Seq(col("l_orderkey"), col("l_linenumber"))
    val src = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").cast("decimal(28,2)").as("p"))
    val got = GlobalOrder.groupedRankAndPrefix(src, keys, order,
        values = Seq((col("p"), "pfx")))
      .select(col("l_orderkey"), col("l_linenumber"), col("pfx"))
    assert(got.schema("pfx").dataType.sql == "DECIMAL(38,2)")
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    val want = src
      .withColumn("pfx", coalesce(
        sum(col("p")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0).cast("decimal(38,2)")))
      .select(col("l_orderkey"), col("l_linenumber"), col("pfx"))
    val sortCols = Seq(col("l_orderkey"), col("l_linenumber"))
    assert(got.orderBy(sortCols: _*).collect()
      .sameElements(want.orderBy(sortCols: _*).collect()))
  }

  test("grouped trailing decimal sums match the bounded window frame exactly") {
    val keys = Seq(col("l_returnflag"))
    val order = Seq(col("l_orderkey"), col("l_linenumber"))
    val src = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").cast("decimal(28,2)").as("p"))
    val got = GlobalOrder.groupedTrailingSums(src, keys, order,
        values = Seq((col("p"), "tsum")), frame = 17)
      .select(col("l_orderkey"), col("l_linenumber"), col("tsum"))
    assert(got.schema("tsum").dataType.sql == "DECIMAL(38,2)")
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    val want = src
      .withColumn("tsum", coalesce(
        sum(col("p")).over(w.rowsBetween(-17L, -1L)),
        lit(0).cast("decimal(38,2)")))
      .select(col("l_orderkey"), col("l_linenumber"), col("tsum"))
    val sortCols = Seq(col("l_orderkey"), col("l_linenumber"))
    assert(got.orderBy(sortCols: _*).collect()
      .sameElements(want.orderBy(sortCols: _*).collect()))
  }

  test("grouped: null keys form their own group (null-safe join back)") {
    import spark.implicits._
    val src = Seq(
      (Option("a"), 1L, 10L), (Option("a"), 2L, 20L),
      (None: Option[String], 3L, 5L), (None: Option[String], 4L, 7L))
      .toDF("k", "id", "v")
    val got = GlobalOrder.groupedRankAndPrefix(src,
        Seq(col("k")), Seq(col("id")), values = Seq((col("v"), "pfx")))
      .orderBy(col("id"))
      .select(col("id"), col("g_rank"), col("g_total_rows"), col("pfx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 1L, 2L, 0L), (2L, 2L, 2L, 10L),
      (3L, 1L, 2L, 0L), (4L, 2L, 2L, 5L)))
  }

  test("grouped quantiles: all-null groups keep their row with NULL quantiles") {
    // quantile_cont semantics: nulls are excluded from the multiset,
    // but a GROUP BY key whose values are ALL null still yields a row
    // (with NULL quantiles) — dropping it would break oracle row
    // counts on a fixture regeneration emitting such a group
    import spark.implicits._
    val src = Seq(
      ("a", Some(1.0)), ("a", Some(3.0)), ("a", None),
      ("b", None: Option[Double]), ("b", None))
      .toDF("k", "v")
    val got = GlobalOrder.groupedQuantiles(src, Seq("k"), "v",
        ps = Seq(("p50", 0.5)))
      .orderBy("k").collect()
    assert(got.length == 2, got.toSeq)
    assert(got(0).getString(0) == "a" && got(0).getDouble(1) == 2.0, got(0))
    assert(got(1).getString(0) == "b" && got(1).isNullAt(1), got(1))
  }

  test("grouped quantiles: a NULL key is a group with its own quantiles") {
    // GROUP BY puts NULL keys in one group and quantile_cont
    // interpolates over its values like any other group's
    import spark.implicits._
    val src = Seq(
      (Option("a"), 1.0), (Option("a"), 3.0),
      (None: Option[String], 10.0), (None: Option[String], 20.0))
      .toDF("k", "v")
    val got = GlobalOrder.groupedQuantiles(src, Seq("k"), "v",
        ps = Seq(("p50", 0.5)))
      .orderBy(col("k").asc_nulls_first).collect()
    assert(got.length == 2, got.toSeq)
    assert(got(0).isNullAt(0) && got(0).getDouble(1) == 15.0, got(0))
    assert(got(1).getString(0) == "a" && got(1).getDouble(1) == 2.0, got(1))
  }

  test("grouped Long sums fail on overflow instead of wrapping") {
    // o = 3 needs (Long.MaxValue − 1) + 5 in both operators: the ANSI
    // windows they replace raise ARITHMETIC_OVERFLOW there, so a wrapped
    // -9223372036854775805 would be a silently wrong answer
    import spark.implicits._
    val src = Seq((1, 1L, Long.MaxValue - 1), (1, 2L, 5L), (1, 3L, 7L)).toDF("k", "o", "v")
    def overflows(what: String)(build: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception](build.collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), s"$what: $e")
    }
    overflows("trailing sums") {
      GlobalOrder.groupedTrailingSums(src, Seq(col("k")), Seq(col("o")),
        values = Seq((col("v"), "t")), frame = 2)
    }
    overflows("prefix sums") {
      GlobalOrder.groupedRankAndPrefix(src, Seq(col("k")), Seq(col("o")),
        values = Seq((col("v"), "p")))
    }
  }

  test("grouped: double value columns are rejected (order-dependent sums)") {
    intercept[IllegalArgumentException] {
      GlobalOrder.groupedRankAndPrefix(li, Seq(col("l_orderkey")),
        Seq(col("l_linenumber")),
        values = Seq((col("l_extendedprice"), "bad")))
    }
  }

  // Every rank/prefix plan, keyed or global, rank-only or with sums, is
  // one GroupedOrderExec over one range exchange: no window, and no
  // broadcast of the operator's own (the inputs here join nothing).
  private def groupedPlan(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    val ops = plan.collect { case g: graft.plans.GroupedOrderExec => g }
    assert(ops.size == 1, s"expected one GroupedOrderExec:\n$plan")
    val ranges = ops.head.collect {
      case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => s
    }
    assert(ranges.size == 1, s"expected one range exchange under the operator:\n$plan")
    assert(plan.collect { case b: BroadcastExchangeExec => b }.isEmpty,
      s"the operator adds no broadcast:\n$plan")
    assert(!plan.toString.contains("Window ["), s"rank/prefix must plan NO window:\n$plan")
  }

  test("grouped plan: one GroupedOrderExec over one range exchange") {
    groupedPlan(GlobalOrder.groupedRankAndPrefix(liK,
      Seq(col("l_returnflag")),
      Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      values = Seq((col("q"), "pfx"))))
    groupedPlan(GlobalOrder.groupedTrailingSums(liK, Seq(col("l_returnflag")),
      Seq(col("l_orderkey"), col("l_linenumber")), values = Seq((col("q"), "tsum")), frame = 3))
  }

  test("pin honors the reliable-checkpoint escape hatch") {
    val dir = graft.TestDirs.dir("graft-ckpt").toString
    val sc = spark.sparkContext
    val hadDir = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    spark.conf.set("graft.checkpoint.reliable", "true")
    try {
      val pinned = GlobalOrder.pin(li)
      // reliable checkpoints read back from the checkpoint dir — the
      // RDD must be a ReliableCheckpointRDD, not executor-local blocks
      assert(pinned.rdd.toDebugString.contains("ReliableCheckpointRDD"),
        pinned.rdd.toDebugString)
      assert(pinned.count() == li.count())
      // and the grouped operator is correct in reliable mode too
      val r = GlobalOrder.groupedRankAndPrefix(li, Seq(col("l_orderkey")),
        Seq(col("l_linenumber")))
      assert(r.filter(col("g_rank") === 1L).count() ==
        li.select(col("l_orderkey")).distinct().count())
    } finally {
      spark.conf.set("graft.checkpoint.reliable", "false")
      sc.setCheckpointDir(hadDir.orNull)
    }
  }

  test("declared pin-family queries run end-to-end in reliable mode, row-identical") {
    // r17 verdict #4 → r18 directive #7: the reliable escape hatch was
    // unit-covered but no DECLARED query had run under it end to end.
    // One pinnedSort query (q08) and one grouped-quantile query (q45 —
    // pin + rank machinery + driver fold) run at sf0.001 in both modes;
    // rows must match exactly (the pin is a materialization boundary,
    // so the failure-story flag may never change results).
    val dir = graft.TestDirs.dir("graft-ckpt-e2e").toString
    val sc = spark.sparkContext
    val hadDir = sc.getCheckpointDir
    def rows(name: String): Seq[String] =
      graft.SparkEntry.queries(name)(spark, sf)
        .collect().map(_.toString).toSeq
    val names = Seq("q08_json_extract", "q45_percentiles")
    val local = names.map(n => n -> rows(n)).toMap
    sc.setCheckpointDir(dir)
    spark.conf.set("graft.checkpoint.reliable", "true")
    try {
      names.foreach { n =>
        val reliable = rows(n)
        assert(reliable == local(n), s"$n differs between reliable and local pin modes")
      }
    } finally {
      spark.conf.set("graft.checkpoint.reliable", "false")
      sc.setCheckpointDir(hadDir.orNull)
      graft.model.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("pin rejects reliable=true without a checkpoint dir (no silent downgrade)") {
    val sc = spark.sparkContext
    val hadDir = sc.getCheckpointDir
    // Spark's setCheckpointDir(null) clears the dir (Option(null) → None)
    sc.setCheckpointDir(null)
    spark.conf.set("graft.checkpoint.reliable", "true")
    try {
      val e = intercept[IllegalArgumentException] { GlobalOrder.pin(li) }
      assert(e.getMessage.contains("setCheckpointDir"), e.getMessage)
    } finally {
      spark.conf.set("graft.checkpoint.reliable", "false")
      sc.setCheckpointDir(hadDir.orNull)
    }
  }

  test("grouped segment guard binds before the driver collect") {
    // l_orderkey has ~1.5k distinct values at sf0.001 — far over a cap
    // of 1; the guard must reject with the friendly envelope message
    // (and via the LIMIT, without having materialized the segments)
    spark.conf.set("graft.groupedOrder.maxSegments", "1")
    try {
      val e = intercept[IllegalArgumentException] {
        GlobalOrder.groupedRankAndPrefix(li, Seq(col("l_orderkey")),
          Seq(col("l_linenumber"))).collect()
      }
      assert(e.getMessage.contains("maxSegments"), e.getMessage)
    } finally {
      spark.conf.unset("graft.groupedOrder.maxSegments")
    }
  }

  test("grouped quantiles: the segment guard binds before the driver collect") {
    // ~1.5k order keys at sf0.001 against a cap of 1: the walk stops
    // at the bound and the guard rejects with the envelope message
    spark.conf.set("graft.groupedOrder.maxSegments", "1")
    try {
      val e = intercept[IllegalArgumentException] {
        GlobalOrder.groupedQuantiles(li, Seq("l_orderkey"), "l_extendedprice",
          ps = Seq(("p50", 0.5)))
      }
      assert(e.getMessage.contains("maxSegments"), e.getMessage)
    } finally {
      spark.conf.unset("graft.groupedOrder.maxSegments")
    }
  }

  test("trailing sums: the segment guard binds before the driver collect") {
    // ~1.5k order keys at sf0.001 against a cap of 1: the census stops
    // at the bound, and the segment guard is checked before the
    // frame × segments product
    spark.conf.set("graft.groupedOrder.maxSegments", "1")
    try {
      val e = intercept[IllegalArgumentException] {
        GlobalOrder.groupedTrailingSums(li, Seq(col("l_orderkey")),
          Seq(col("l_linenumber")), values = Seq((col("q"), "tsum")), frame = 3).collect()
      }
      assert(e.getMessage.contains("maxSegments"), e.getMessage)
      assert(!e.getMessage.contains("maxTailContribs"), e.getMessage)
    } finally {
      spark.conf.unset("graft.groupedOrder.maxSegments")
    }
  }

  test("trailing sums enforce the frame × segments product bound") {
    // 3 return flags over ≤32 partitions → tens of segments; frame=17
    // makes the product overshoot a cap of 10 while the segment count
    // alone stays far under maxSegments — the product guard must trip
    spark.conf.set("graft.groupedOrder.maxTailContribs", "10")
    try {
      val e = intercept[IllegalArgumentException] {
        GlobalOrder.groupedTrailingSums(liK, Seq(col("l_returnflag")),
          Seq(col("l_orderkey"), col("l_linenumber")),
          values = Seq((col("q"), "tsum")), frame = 17).collect()
      }
      assert(e.getMessage.contains("maxTailContribs"), e.getMessage)
    } finally {
      spark.conf.unset("graft.groupedOrder.maxTailContribs")
    }
  }

  test("global rank-only and prefix calls take the same one-operator plan") {
    // the global (keys = Nil) form, with and without a running sum: the
    // offset fold runs on the driver over at most shuffle.partitions
    // segments, so no window and no one-task sort is planned
    val order = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    groupedPlan(GlobalOrder.groupedRankAndPrefix(li, keys = Nil, order))
    groupedPlan(GlobalOrder.groupedRankAndPrefix(li, keys = Nil, order,
      values = Seq((col("q"), "g_prefix"))))
  }

  test("computed keys and sort expressions are projected once, below the range exchange") {
    // an expression key or order (q110 sorts by md5) is evaluated once
    // per row: the operator's sorts compare plain columns, the hidden
    // column stays out of the output, and the rows are the window's
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val keys = Seq(lower(col("l_returnflag")))
    val order = Seq(md5(col("l_orderkey").cast("string")), col("l_linenumber"))
    val df = GlobalOrder.groupedRankAndPrefix(liK, keys, order, values = Seq((col("q"), "pfx")))
    assert(df.columns.toSeq == liK.columns.toSeq ++ Seq("g_rank", "g_total_rows", "pfx"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("l_orderkey"), col("l_linenumber"), col("g_rank"), col("pfx"))
        .orderBy(col("l_orderkey"), col("l_linenumber")).collect()
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    val want = liK.withColumn("g_rank", row_number().over(w).cast("long"))
      .withColumn("pfx", coalesce(
        sum(col("q")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    assert(rows(df).sameElements(rows(want)))
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    val sorts = plan.collect { case g: graft.plans.GroupedOrderExec => g.child }
    assert(sorts.size == 1 && sorts.head.isInstanceOf[SortExec], s"expected one sorted child:\n$plan")
    assert(sorts.head.asInstanceOf[SortExec].sortOrder.forall(_.child.isInstanceOf[Attribute]),
      s"the operator's sort must compare columns:\n$plan")
  }

  test("grouped rows are identical across AQE, partition counts and coalescing") {
    // the operator's census and output pass read one exchange, so any
    // partition count or AQE coalescing of it must give the same rows
    val order = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val dec = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").cast("decimal(28,2)").as("p"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("l_orderkey"), col("l_linenumber")).collect().toSeq
    def all = Seq(
      rows(GlobalOrder.groupedRankAndPrefix(liK, Seq(col("l_returnflag")), order,
        values = Seq((col("q"), "pfx")))),
      rows(GlobalOrder.groupedRankAndPrefix(li, keys = Nil, order)),
      rows(GlobalOrder.groupedTrailingSums(dec, Seq(col("l_returnflag")),
        Seq(col("l_orderkey"), col("l_linenumber")), values = Seq((col("p"), "tsum")), frame = 17)))
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val had = keys.map(k => k -> spark.conf.getOption(k))
    val want = all
    try {
      for (aqe <- Seq("true", "false"); parts <- Seq("1", "4", "13");
           coalesce <- Seq("true", "false")) {
        Seq(aqe, parts, coalesce).zip(keys).foreach { case (v, k) => spark.conf.set(k, v) }
        assert(all == want, s"aqe=$aqe partitions=$parts coalesce=$coalesce")
      }
    } finally had.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("GroupedOrderExec reports its segments and output rows as SQL metrics") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    val df = GlobalOrder.groupedRankAndPrefix(liK, Seq(col("l_returnflag")),
      Seq(col("l_orderkey"), col("l_linenumber")), values = Seq((col("q"), "pfx")))
    df.collect()
    val op = helper.collect(df.queryExecution.executedPlan) {
      case g: graft.plans.GroupedOrderExec => g
    }.head
    val keys = liK.select(col("l_returnflag")).distinct().count()
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val segs = op.metrics("numSegments").value
    assert(segs >= keys && segs <= keys + parts - 1, s"$segs segments for $keys keys")
    assert(op.metrics("numOutputRows").value == liK.count())
  }

  test("pinnedSliver: loud failure past the bound, complete set within it") {
    // the broadcast-sliver guard (q229 and friends): within the bound
    // the pin carries the COMPLETE set; past it the require fires
    // before anything downstream can broadcast an oversized table
    val sqlCtx = spark
    import sqlCtx.implicits._
    val df = (1 to 5).toDF("x")
    val ok = GlobalOrder.pinnedSliver(df, 10, "test sliver")
    assert(ok.collect().map(_.getInt(0)).sorted.toSeq == (1 to 5))
    val e = intercept[IllegalArgumentException] {
      GlobalOrder.pinnedSliver(df, 3, "test sliver")
    }
    assert(e.getMessage.contains("test sliver") &&
      e.getMessage.contains("sliver bound"))
  }

  test("a lazy pin read twice by its first job (the q140 union) equals the eager pin") {
    // q140's pinned (priority, order, start, end) table: a shuffle
    // join's output, so a recomputed partition may come back in another
    // row order
    def orders = {
      val span = Tables.lineitem(spark, sf).groupBy(col("l_orderkey"))
        .agg(max(Tables.epochMs(col("l_shipdate"))).as("end_ms"))
      Tables.orders(spark, sf)
        .join(span, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority"), col("o_orderkey"),
          Tables.epochMs(col("o_orderdate")).as("start_ms"), col("end_ms"))
    }
    // the +1/-1 union reads `o` twice, the grouped running sum over it
    def concurrency(o: org.apache.spark.sql.DataFrame) = {
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
        .agg(max(col("conc")).as("max_concurrent"), count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }
    // driver reference: the same sweep over the collected rows
    val rows = orders.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, os) =>
      val ev = os.toSeq.flatMap { case (_, k, s, e) => Seq((s, 1L, k), (e + 1L, -1L, k)) }
        .sortBy { case (ts, d, k) => (ts, -d, k) }
      (p, ev.scanLeft(0L)(_ + _._2).tail.max, ev.size.toLong)
    }
    val eager = concurrency(orders.localCheckpoint(eager = true))
    assert(eager == want)
    for (round <- 1 to 3) {
      val lazyPin = GlobalOrder.pin(orders)
      val stored = lazyPin.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.get
      def cached = spark.sparkContext.getRDDStorageInfo
        .find(_.id == stored).map(_.numCachedPartitions).getOrElse(0)
      assert(cached == 0, "the pin must still be lazy before its first job")
      assert(concurrency(lazyPin) == eager, s"round $round")
      assert(cached > 0, "the first job stored the pin's blocks")
    }
  }
}
