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
    val got = GlobalOrder.withRankAndPrefix(li, order, Some(col("q")))
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
      GlobalOrder.withRankAndPrefix(li.repartition(parts), order)
        .select(col("l_orderkey"), col("l_linenumber"), col("g_rank"))
        .orderBy(col("g_rank")).collect()
    assert(run(1).sameElements(run(13)))
  }

  test("ntileFromRank reproduces ANSI ntile semantics for awkward N/k") {
    // 6000 rows / 7 buckets: 6000 = 7*857 + 1 → first bucket one larger
    val order = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val got = GlobalOrder.withRankAndPrefix(li, order)
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

  test("grouped: double value columns are rejected (order-dependent sums)") {
    intercept[IllegalArgumentException] {
      GlobalOrder.groupedRankAndPrefix(li, Seq(col("l_orderkey")),
        Seq(col("l_linenumber")),
        values = Seq((col("l_extendedprice"), "bad")))
    }
  }

  test("grouped plan: no window anywhere; offsets return as a LocalRelation broadcast") {
    val df = GlobalOrder.groupedRankAndPrefix(liK,
      Seq(col("l_returnflag")),
      Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      values = Seq((col("q"), "pfx")))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("MapPartitions"), s"expected mapPartitions pass:\n$plan")
    assert(!plan.contains("Window ["), s"grouped form must plan NO window:\n$plan")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      s"offsets must come back as a broadcast:\n$plan")
    // the offsets side is a LocalRelation — provably bounded, so the
    // broadcast hint passes the forced-broadcast audit
    assert(graft.plans.PlanChecks.forcedBroadcastViolations(df).isEmpty)
  }

  test("pin honors the reliable-checkpoint escape hatch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
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
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-e2e").toString
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
          Seq(col("l_linenumber")))
      }
      assert(e.getMessage.contains("maxSegments"), e.getMessage)
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
          values = Seq((col("q"), "tsum")), frame = 17)
      }
      assert(e.getMessage.contains("maxTailContribs"), e.getMessage)
    } finally {
      spark.conf.unset("graft.groupedOrder.maxTailContribs")
    }
  }

  test("no global window touches the big input; one tiny offset fold remains") {
    val df = GlobalOrder.withRankAndPrefix(li,
      Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")))
    df.collect()
    // AQE's rendering repeats nodes under "== Initial Plan ==" — audit
    // the final plan section only
    val full = df.queryExecution.executedPlan.toString
    val plan = full.split("== Initial Plan ==").head
    // phase 1 of the RANK-ONLY path stays inside whole-stage codegen
    // (r17 optimization round): local rank and pid are bit-ops on
    // monotonically_increasing_id over the pinned blocks — no
    // Deserialize→MapPartitions→Serialize boundary, and no window
    assert(!plan.contains("MapPartitions"),
      s"rank-only phase 1 must not leave codegen:\n$plan")
    assert(plan.contains("shiftrightunsigned"),
      s"expected the mid-derived pid projection:\n$plan")
    // the running-sum path keeps the imperative per-partition pass (an
    // exclusive scan has no codegen equivalent) — pin that here too
    val withVal = GlobalOrder.withRankAndPrefix(li,
      Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      value = Some(col("q")))
    withVal.collect()
    val vPlan = withVal.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(vPlan.contains("MapPartitions"),
      s"prefix-sum phase 1 keeps the imperative pass:\n$vPlan")
    // exactly ONE window survives: the offset fold over the
    // partitions-bound table (≤ shuffle.partitions rows) — its input is
    // the per-partition aggregate, never the row data
    val windows = "Window \\[".r.findAllMatchIn(plan).length
    assert(windows == 1, s"expected exactly the tiny offset-fold window:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"offsets must come back as a broadcast:\n$plan")
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
}
