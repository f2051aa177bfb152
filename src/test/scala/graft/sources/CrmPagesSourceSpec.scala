package graft.sources

import graft.SparkSpec
import graft.model.Tables
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._

class CrmPagesSourceSpec extends SparkSpec {

  private lazy val fixtureRows = Tables.events(spark, sf)
    .select(col("event_id"), Tables.epochMs(col("ts")).as("ts_ms"),
      col("event_type"), col("value"), col("props"))
    .orderBy("event_id")
    .collect()

  /** Fabricate a page directory from the events fixture: 100 records per
    * page, envelope with cursor chain + page min/max stats (the shape of
    * the reference's search-API responses). */
  private lazy val pageDir: Path = writePages("crmpages", 100)
  /** The same records as 20 pages of 50. */
  private lazy val twentyPageDir: Path = writePages("crmpages20", 50)

  private def writePages(prefix: String, perPage: Int): Path = {
    val dir = graft.TestDirs.dir(prefix)
    val rows = fixtureRows
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val pages = rows.grouped(perPage).toSeq
    pages.zipWithIndex.foreach { case (page, idx) =>
      val root = mapper.createObjectNode()
      root.put("total", rows.length)
      root.put("min_ts_ms", page.map(_.getLong(1)).min)
      root.put("max_ts_ms", page.map(_.getLong(1)).max)
      val results = root.putArray("results")
      page.foreach { r =>
        val rec = results.addObject()
        rec.put("event_id", r.getLong(0))
        rec.put("ts_ms", r.getLong(1))
        rec.put("event_type", r.getString(2))
        rec.put("value", r.getDouble(3))
        if (r.getString(4) != null) rec.put("props", r.getString(4))
      }
      if (idx < pages.length - 1)
        root.putObject("paging").putObject("next")
          .put("after", f"page-${idx + 1}%05d")
      Files.writeString(dir.resolve(f"page-$idx%05d.json"), mapper.writeValueAsString(root))
    }
    dir
  }

  private def read = spark.read
    .format("graft.sources.CrmPagesSource").load(pageDir.toString)

  test("full scan returns every record of every page") {
    assert(read.count() == Tables.events(spark, sf).count())
  }

  test("values round-trip exactly vs the fixture") {
    val got = read.orderBy("event_id").collect()
    val want = Tables.events(spark, sf)
      .select(col("event_id"), Tables.epochMs(col("ts")).as("ts_ms"),
        col("event_type"), col("value"), col("props"))
      .orderBy("event_id").collect()
    assert(got.length == want.length)
    assert(got.zip(want).forall { case (a, b) => a == b })
  }

  test("range filter is pushed and prunes whole pages") {
    val lo = 1704671999000L
    val filtered = read.filter(col("ts_ms") >= lo)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("CrmPagesScan") && plan.contains("GreaterThanOrEqual(ts_ms"),
      s"ts filter not pushed:\n$plan")
    // page pruning: pages inside the planned partitions < total pages
    // (partitions pack several pages, so counting them would prove nothing)
    val scan = new CrmPagesScan(pageDir.toString, CrmPagesSource.Schema,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("ts_ms", lo)), Int.MaxValue)
    val all = CrmPagesSource.pageChain(pageDir.toString).size
    assert(plannedPages(scan.planInputPartitions()).size < all,
      s"no page pruned (of $all)")
    // and results match the equivalent parquet-side query
    val expected = Tables.events(spark, sf)
      .filter(Tables.epochMs(col("ts")) >= lo).count()
    assert(filtered.count() == expected)
  }

  test("column pruning parses only requested fields") {
    val projected = read.select("event_id", "event_type")
    val plan = projected.queryExecution.executedPlan.toString
    assert(plan.contains("schema=event_id,event_type"),
      s"pruned schema not visible:\n$plan")
    assert(projected.columns.toSeq == Seq("event_id", "event_type"))
    assert(projected.count() == Tables.events(spark, sf).count())
  }

  test("config-driven property list projects and prunes the scan") {
    // the reference's HS_<ENTITY>_PROPERTIES pipe-list (hs_contacts
    // .py:164-169) as a config map; the select it produces must reach
    // the DSv2 scan as the pruned ReadSchema
    val conf = Map("HS_CONTACTS_PROPERTIES" -> "event_id|event_type")
    assert(CrmPagesSource.configuredProperties("contacts", conf) ==
      Seq("event_id", "event_type"))
    val df = CrmPagesSource.scanWithConfiguredProperties(
      spark, pageDir.toString, "contacts", conf)
    assert(df.columns.toSeq == Seq("event_id", "event_type"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("schema=event_id,event_type"),
      s"configured projection not pushed:\n$plan")
    assert(df.count() == Tables.events(spark, sf).count())

    // reference guard semantics: absent and empty lists raise
    intercept[IllegalArgumentException] {
      CrmPagesSource.configuredProperties("contacts", Map.empty)
    }
    intercept[IllegalArgumentException] {
      CrmPagesSource.configuredProperties("contacts",
        Map("HS_CONTACTS_PROPERTIES" -> "| |"))
    }
    // unknown properties fail at plan time, not as NULL columns
    val err = intercept[IllegalArgumentException] {
      CrmPagesSource.configuredProperties("contacts",
        Map("HS_CONTACTS_PROPERTIES" -> "event_id|no_such_field"))
    }
    assert(err.getMessage.contains("no_such_field"))
  }

  test("limit pushdown stops readers early") {
    val limited = read.limit(7)
    assert(limited.count() == 7)
    val plan = limited.queryExecution.executedPlan.toString
    assert(plan.contains("limit=7"), s"limit not pushed:\n$plan")
  }

  test("isnotnull filter drops records missing the property") {
    val n = read.filter(col("props").isNotNull).count()
    val expected = Tables.events(spark, sf).filter(col("props").isNotNull).count()
    assert(n == expected)
  }

  test("scan reports row/byte statistics to Catalyst, respecting pruning") {
    // full scan: numRows == fixture rows, sizeInBytes == page bytes
    val total = Tables.events(spark, sf).count()
    val full = new CrmPagesScan(pageDir.toString, CrmPagesSource.Schema,
      Array.empty, Int.MaxValue).estimateStatistics()
    assert(full.numRows.getAsLong == total)
    val pageBytes = CrmPagesSource.pageChain(pageDir.toString)
      .map(p => pageDir.resolve(p).toFile.length()).sum
    assert(full.sizeInBytes.getAsLong == pageBytes)
    // a pruning range filter shrinks both estimates
    val lo = 1704671999000L
    val pruned = new CrmPagesScan(pageDir.toString, CrmPagesSource.Schema,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("ts_ms", lo)),
      Int.MaxValue).estimateStatistics()
    assert(pruned.numRows.getAsLong < total)
    assert(pruned.sizeInBytes.getAsLong < pageBytes)
    // and the estimate reaches the optimizer's cost model (plan stats)
    val leafStats = read.queryExecution.optimizedPlan.collectLeaves()
      .head.stats
    assert(leafStats.sizeInBytes.toLong == pageBytes,
      s"scan stats not surfaced: $leafStats")
  }

  // sparkPlan, not executedPlan: AQE wraps the latter and hides the scan
  private def batchScan(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head

  test("unfiltered count/min/max collapse to one header-derived row (complete pushdown)") {
    val agged = read.agg(count(lit(1)).as("n"),
      min("ts_ms").as("lo"), max("ts_ms").as("hi"))
    val plan = agged.queryExecution.executedPlan.toString
    assert(plan.contains("CrmPagesAggScan") && plan.contains("mode=complete"),
      s"aggregate not completely pushed:\n$plan")
    // ONE input partition: the final row comes from envelope stats alone,
    // no page's results array is parsed executor-side
    assert(batchScan(agged).inputPartitions.length == 1)
    val got = agged.collect()(0)
    val want = Tables.events(spark, sf)
      .agg(count(lit(1)), min(Tables.epochMs(col("ts"))), max(Tables.epochMs(col("ts"))))
      .collect()(0)
    assert((0 until 3).forall(i => got.getLong(i) == want.getLong(i)),
      s"got $got, want $want")
  }

  test("filtered aggregate folds per-page partials (partial pushdown)") {
    val lo = 1704671999000L // cuts inside pages: headers can't answer exactly
    val agged = read.filter(col("ts_ms") >= lo)
      .agg(count(lit(1)).as("n"), min("ts_ms").as("mn"), max("ts_ms").as("mx"))
    val plan = agged.queryExecution.executedPlan.toString
    assert(plan.contains("CrmPagesAggScan") && plan.contains("mode=partial"),
      s"aggregate not partially pushed:\n$plan")
    // one partial row per group of surviving pages, not one row per
    // record; the groups hold only the pages that survive pruning
    val parts = batchScan(agged).inputPartitions
    assert(parts.length > 1 &&
      plannedPages(parts.toArray).size < CrmPagesSource.pageChain(pageDir.toString).size)
    val got = agged.collect()(0)
    val twin = Tables.events(spark, sf)
      .select(Tables.epochMs(col("ts")).as("ts_ms")).filter(col("ts_ms") >= lo)
    val want = twin.agg(count(lit(1)), min("ts_ms"), max("ts_ms")).collect()(0)
    assert((0 until 3).forall(i => got.getLong(i) == want.getLong(i)),
      s"got $got, want $want")
  }

  test("isnotnull filter demotes count to partial pushdown, still exact") {
    val agged = read.filter(col("props").isNotNull).agg(count(lit(1)).as("n"))
    val plan = agged.queryExecution.executedPlan.toString
    assert(plan.contains("CrmPagesAggScan") && plan.contains("mode=partial"),
      s"expected partial pushdown:\n$plan")
    val expected = Tables.events(spark, sf).filter(col("props").isNotNull).count()
    assert(agged.collect()(0).getLong(0) == expected)
  }

  test("page-aligned ts filter keeps COUNT(*) complete (containment path)") {
    // dedicated fixture with DISJOINT page ts ranges so a boundary
    // filter can contain whole pages: page i covers [i*1000, i*1000+999]
    val dir = graft.TestDirs.dir("crmdisjoint")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    (0 until 4).foreach { p =>
      val root = mapper.createObjectNode()
      root.put("total", 40)
      root.put("min_ts_ms", p * 1000L)
      root.put("max_ts_ms", p * 1000L + 999L)
      val results = root.putArray("results")
      (0 until 10).foreach { i =>
        val rec = results.addObject()
        rec.put("event_id", (p * 10 + i).toLong)
        rec.put("ts_ms", p * 1000L + i * 100L)
        rec.put("event_type", "view")
        rec.put("value", 1.0)
      }
      Files.writeString(dir.resolve(f"page-$p%05d.json"), mapper.writeValueAsString(root))
    }
    val df = spark.read.format("graft.sources.CrmPagesSource").load(dir.toString)
      .filter(col("ts_ms") >= 1000L && col("ts_ms") <= 2999L)
      .agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("CrmPagesAggScan") && plan.contains("mode=complete"),
      s"page-aligned filter should stay complete:\n$plan")
    assert(batchScan(df).inputPartitions.length == 1)
    assert(df.collect()(0).getLong(0) == 20) // pages 1 and 2, 10 rows each
  }

  test("null ts_ms rows: excluded by range filters, included by bare COUNT(*)") {
    // one page, three records, one of them without ts_ms
    val dir = graft.TestDirs.dir("crmnullts")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("total", 3)
    root.put("min_ts_ms", 100L)
    root.put("max_ts_ms", 200L)
    val results = root.putArray("results")
    Seq(Some(100L), None, Some(200L)).zipWithIndex.foreach { case (ts, i) =>
      val rec = results.addObject()
      rec.put("event_id", i.toLong)
      ts.foreach(rec.put("ts_ms", _))
      rec.put("event_type", "view")
      rec.put("value", 1.0)
    }
    Files.writeString(dir.resolve("page-00000.json"), mapper.writeValueAsString(root))
    val df = spark.read.format("graft.sources.CrmPagesSource").load(dir.toString)
    // bare count sees every record (complete mode, header nRows)
    assert(df.count() == 3)
    // any ts comparison is SQL three-valued: the null row never passes,
    // in BOTH the row-reader path (collect) and the pushed-agg paths
    assert(df.filter(col("ts_ms") >= 0L).collect().length == 2)
    assert(df.filter(col("ts_ms") >= 150L).collect().length == 1)
    assert(df.filter(col("ts_ms") >= 150L).count() == 1) // partial mode
    val agged = df.filter(col("ts_ms") >= 0L).agg(count(lit(1))) // complete mode
    val plan = agged.queryExecution.executedPlan.toString
    assert(plan.contains("CrmPagesAggScan") && plan.contains("mode=complete"), plan)
    assert(agged.collect()(0).getLong(0) == 2)
  }

  test("residual filter or grouping vetoes aggregate pushdown") {
    // event_type filter is not pushable -> Spark keeps the row scan
    val residual = read.filter(col("event_type") === "purchase").agg(count(lit(1)).as("n"))
    assert(!residual.queryExecution.executedPlan.toString.contains("CrmPagesAggScan"))
    assert(residual.collect()(0).getLong(0) ==
      Tables.events(spark, sf).filter(col("event_type") === "purchase").count())
    // grouped aggregate is not header-answerable -> row scan feeds the agg
    val grouped = read.groupBy("event_type").count()
    assert(!grouped.queryExecution.executedPlan.toString.contains("CrmPagesAggScan"))
    assert(grouped.count() ==
      Tables.events(spark, sf).select("event_type").distinct().count())
  }

  test("rate-limited page fetches retry the same page with bounded backoff, " +
    "then read clean (reference RATE_LIMIT semantics)") {
    // COUNT(*) alone is answered from envelope HEADERS at planning time
    // (the aggregate pushdown) — no partition reader would ever run, so
    // drive the transport through a real row read
    val clean = read.select("event_id").collect().length
    // state lives in a JVM-singleton (FlakyFetch): the factory closure
    // is SERIALIZED to executor threads even in local mode, so captured
    // instances would mutate a deserialized copy the assertions never see
    FlakyFetch.reset(failTimes = 2)
    val saved = CrmPagesSource.pageTransport
    try {
      CrmPagesSource.pageTransport = (FlakyFetch.RateLimitedThenClean,
        CrmPagesSource.FetchPolicy(maxRetries = 3, backoffMs = 11L,
          sleep = FlakyFetch.recordSleep))
      // every page rate-limits twice, then succeeds — the scan reads
      // complete and identical to the clean transport
      assert(read.select("event_id").collect().length == clean)
      import scala.jdk.CollectionConverters._
      val attempts = FlakyFetch.attempts
      assert(attempts.size > 0, "the flaky transport must actually be hit")
      assert(attempts.values.asScala.forall(_ == 3),
        "each page must be fetched exactly 3 times (2 rate-limits + 1 ok)")
      val sleeps = FlakyFetch.sleeps
      assert(sleeps.asScala.forall(_ == 11L) &&
        sleeps.size == 2 * attempts.size,
        s"one backoff sleep per rate-limit: ${sleeps.size} vs ${attempts.size}")
    } finally CrmPagesSource.pageTransport = saved
  }

  test("rate-limit retries are bounded; non-rate-limit fetch errors fail fast") {
    val saved = CrmPagesSource.pageTransport
    try {
      // always-429: surfaces RateLimited after exactly maxRetries sleeps
      FlakyFetch.reset(failTimes = Int.MaxValue)
      CrmPagesSource.pageTransport = (FlakyFetch.RateLimitedThenClean,
        CrmPagesSource.FetchPolicy(maxRetries = 2, backoffMs = 1L,
          sleep = FlakyFetch.recordSleep))
      val e = intercept[org.apache.spark.SparkException] {
        read.select("event_id").collect()
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(_.isInstanceOf[CrmPagesSource.RateLimited]),
        s"expected RateLimited to surface, got: ${chain.map(_.getClass.getName)}")
      // one task's worth of attempts is bounded (2 sleeps); Spark may
      // retry tasks, so assert per-task boundedness, not a global total
      assert(FlakyFetch.sleeps.size >= 2, "the bounded backoff must have slept")
      // a non-rate-limit failure NEVER sleeps or retries — fail fast
      FlakyFetch.reset(failTimes = 0)
      CrmPagesSource.pageTransport = (FlakyFetch.AlwaysIoError,
        CrmPagesSource.FetchPolicy(maxRetries = 5, backoffMs = 1L,
          sleep = FlakyFetch.recordSleep))
      val e2 = intercept[org.apache.spark.SparkException] {
        read.select("event_id").collect()
      }
      val chain2 = Iterator.iterate[Throwable](e2)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain2.exists(_.isInstanceOf[java.io.IOException]))
      assert(FlakyFetch.sleeps.size == 0,
        "non-rate-limit errors must not enter the backoff loop")
    } finally CrmPagesSource.pageTransport = saved
  }

  test("a null-returning PageFetch fails the task loudly instead of spinning") {
    // Only RateLimited bounds the retry loop; a null fetch result used
    // to re-enter `while (out == null)` forever with attempt never
    // incremented — an unkillable spinning task. It must fail fast.
    val saved = CrmPagesSource.pageTransport
    try {
      FlakyFetch.reset(failTimes = 0)
      CrmPagesSource.pageTransport = (FlakyFetch.NullFetch,
        CrmPagesSource.FetchPolicy(maxRetries = 5, backoffMs = 1L,
          sleep = FlakyFetch.recordSleep))
      val e = intercept[org.apache.spark.SparkException] {
        read.select("event_id").collect()
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(chain.exists(_.contains("PageFetch returned null")),
        s"expected the null-fetch guard, got: $chain")
      assert(FlakyFetch.sleeps.size == 0,
        "a null fetch must never enter the backoff loop")
    } finally CrmPagesSource.pageTransport = saved
  }

  test("malformed page degrades to zero rows instead of failing the scan") {
    val dir = graft.TestDirs.dir("crmbad")
    val good = CrmPagesSource.pageChain(pageDir.toString).head
    Files.copy(pageDir.resolve(good), dir.resolve("page-00000.json"))
    Files.writeString(dir.resolve("page-00001.json"), "{\"results\": [{trunca")
    val df = spark.read.format("graft.sources.CrmPagesSource").load(dir.toString)
    assert(df.count() == 100) // the good page only; no task failure
  }

  test("filtered aggregate fetches through the transport: rate limits retry, stays exact") {
    val lo = 1704671999000L // partial pushdown: the readers fold rows
    def agged = read.filter(col("ts_ms") >= lo)
      .agg(count(lit(1)).as("n"), min("ts_ms").as("mn"), max("ts_ms").as("mx"))
    val want = agged.collect()(0)
    FlakyFetch.reset(failTimes = 2)
    val saved = CrmPagesSource.pageTransport
    try {
      CrmPagesSource.pageTransport = (FlakyFetch.RateLimitedThenClean,
        CrmPagesSource.FetchPolicy(maxRetries = 3, backoffMs = 7L,
          sleep = FlakyFetch.recordSleep))
      val df = agged
      assert(df.queryExecution.executedPlan.toString.contains("mode=partial"))
      val got = df.collect()(0)
      assert(got == want, s"got $got, want $want")
      import scala.jdk.CollectionConverters._
      val planned = plannedPages(batchScan(df).inputPartitions.toArray)
      assert(FlakyFetch.attempts.keySet.asScala == planned.toSet,
        "every surviving page must be fetched through the transport")
      assert(FlakyFetch.attempts.values.asScala.forall(_ == 3),
        "each page must be fetched exactly 3 times (2 rate-limits + 1 ok)")
      assert(FlakyFetch.sleeps.size == 2 * planned.size)
    } finally CrmPagesSource.pageTransport = saved
  }

  /** The pages inside planned partitions, in plan order. */
  private def plannedPages(parts: Array[org.apache.spark.sql.connector.read.InputPartition]) =
    parts.toSeq.flatMap { case CrmPages(files) => files }

  /** Run `body` with the session's `spark.sql.files.minPartitionNum`
    * set (None: Spark's default, the default parallelism). */
  private def withMinPartitionNum[T](n: Option[Int])(body: => T): T = {
    val key = "spark.sql.files.minPartitionNum"
    val saved = spark.conf.getOption(key)
    n match {
      case Some(v) => spark.conf.set(key, v.toLong)
      case None    => spark.conf.unset(key)
    }
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def fullScan(dir: Path, limit: Int = Int.MaxValue) =
    new CrmPagesScan(dir.toString, CrmPagesSource.Schema, Array.empty, limit)

  test("page packing: every page planned once, in contiguous cursor-ordered groups") {
    val chain = CrmPagesSource.pageChain(twentyPageDir.toString)
      .map(p => twentyPageDir.resolve(p).toString)
    assert(chain.size == 20)
    Seq(Some(1), Some(2), Some(3), Some(7), Some(20), Some(64), None).foreach { n =>
      val groups = withMinPartitionNum(n)(fullScan(twentyPageDir).planInputPartitions())
        .toSeq.map { case CrmPages(files) => files }
      assert(groups.forall(_.nonEmpty), s"minPartitionNum=$n: empty group")
      // concatenating the groups gives the cursor order back: each page
      // once, no page moved out of its run
      assert(groups.flatten == chain, s"minPartitionNum=$n: $groups")
      n.foreach(k => assert(groups.size <= math.min(k + 1, chain.size),
        s"minPartitionNum=$k: ${groups.size} groups"))
    }
    // a stream plans its offset range by the same rule
    val stream = new CrmPagesMicroBatchStream(twentyPageDir.toString,
      CrmPagesSource.Schema, Array.empty)
    val streamed = withMinPartitionNum(Some(3))(
      stream.planInputPartitions(PageOffset(4), PageOffset(16)))
    assert(plannedPages(streamed) == chain.slice(4, 16))
    assert(streamed.length == 3)
  }

  test("20 pages on local[4] plan 4 partitions; 20 cores would keep 20") {
    assert(spark.sparkContext.defaultParallelism == 4)
    val four = withMinPartitionNum(None)(fullScan(twentyPageDir).planInputPartitions())
    assert(four.length == 4, plannedPages(four))
    assert(four.forall { case CrmPages(files) => files.size == 5 })
    val twenty = withMinPartitionNum(Some(20))(fullScan(twentyPageDir).planInputPartitions())
    assert(twenty.length == 20)
    // and the packed scan still reads every record exactly once
    val ids = spark.read.format("graft.sources.CrmPagesSource")
      .load(twentyPageDir.toString).select("event_id").collect().map(_.getLong(0))
    assert(ids.length == fixtureRows.length && ids.distinct.length == ids.length)
  }

  test("limit holds across a page group, and later pages are never fetched") {
    // one group of all 20 pages (50 records each); a limit of 70 ends
    // inside the second page
    val parts = withMinPartitionNum(Some(1))(fullScan(twentyPageDir, limit = 70)
      .planInputPartitions())
    assert(parts.length == 1)
    FlakyFetch.reset(failTimes = 0)
    val saved = CrmPagesSource.pageTransport
    try {
      CrmPagesSource.pageTransport = (FlakyFetch.RateLimitedThenClean,
        CrmPagesSource.FetchPolicy(sleep = FlakyFetch.recordSleep))
      val reader = fullScan(twentyPageDir, limit = 70).createReaderFactory()
        .createReader(parts(0))
      var n = 0
      while (reader.next()) n += 1
      reader.close()
      assert(n == 70)
      assert(FlakyFetch.attempts.size == 2, s"fetched ${FlakyFetch.attempts}")
    } finally CrmPagesSource.pageTransport = saved
    val limited = withMinPartitionNum(Some(1))(
      spark.read.format("graft.sources.CrmPagesSource")
        .load(twentyPageDir.toString).limit(70).collect())
    assert(limited.length == 70)
  }

  test("a malformed page inside a batch page group reads as empty; its neighbours still read") {
    val dir = graft.TestDirs.dir("crmbadgroup")
    val good = CrmPagesSource.pageChain(pageDir.toString).take(2)
    Files.copy(pageDir.resolve(good(0)), dir.resolve("page-00000.json"))
    Files.writeString(dir.resolve("page-00001.json"), "{\"results\": [{trunca")
    Files.copy(pageDir.resolve(good(1)), dir.resolve("page-00002.json"))
    val rows = withMinPartitionNum(Some(1))(
      spark.read.format("graft.sources.CrmPagesSource").load(dir.toString)
        .select("event_id").collect())
    assert(rows.length == 200)
  }

  test("micro-batch stream: page cursor is the offset; new pages arrive incrementally") {
    // dedicated directory: seed with the first 2 pages, then append one
    val streamDir = graft.TestDirs.dir("crmstream")
    val all = CrmPagesSource.pageChain(pageDir.toString)
    assert(all.size >= 3, "fixture should produce >=3 pages")
    all.take(2).foreach(p => Files.copy(pageDir.resolve(p), streamDir.resolve(p)))
    val q = spark.readStream.format("graft.sources.CrmPagesSource")
      .load(streamDir.toString)
      .writeStream.format("memory").queryName("crm_stream")
      .option("checkpointLocation", graft.TestDirs.dir("ck").toString)
      .start()
    q.processAllAvailable()
    val after2 = spark.table("crm_stream").count()
    assert(after2 == 200, s"got $after2") // 2 pages x 100 records
    Files.copy(pageDir.resolve(all(2)), streamDir.resolve(all(2)))
    q.processAllAvailable()
    q.stop()
    val after3 = spark.table("crm_stream").count()
    assert(after3 > after2, s"third page not consumed ($after3)")
  }

  test("runtime filtering: a DPP join prunes pages by build-side ts values") {
    // disjoint page ts ranges (page p covers [p*1000, p*1000+999]) so a
    // selective build side can exclude whole pages at runtime
    val dir = graft.TestDirs.dir("crmruntime")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    (0 until 4).foreach { p =>
      val root = mapper.createObjectNode()
      root.put("total", 10)
      root.put("min_ts_ms", p * 1000L)
      root.put("max_ts_ms", p * 1000L + 999L)
      val results = root.putArray("results")
      (0 until 10).foreach { i =>
        val rec = results.addObject()
        rec.put("event_id", (p * 10 + i).toLong)
        rec.put("ts_ms", p * 1000L + i * 100L)
        rec.put("event_type", "view")
        rec.put("value", 1.0)
      }
      Files.writeString(dir.resolve(f"page-$p%05d.json"), mapper.writeValueAsString(root))
    }
    // build side: 2 surviving keys, both inside page 1 — pages 0/2/3
    // cannot match. Two traps the rule sets: the filter must be one
    // PartitionPruning considers LIKELY SELECTIVE (In qualifies,
    // IsNotNull does not), and the dim must be FILE-BACKED — over a
    // LocalRelation, ConvertToLocalRelation folds the filter away
    // before the pruning rule looks for it.
    import spark.implicits._
    val dimDir = graft.TestDirs.dir("crmdim").toString
    Seq((1000L, "a"), (1500L, "b"), (9999999L, "z"))
      .toDF("ts_ms", "tag").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("tag").isin("a", "b"))
    val scan = spark.read.format("graft.sources.CrmPagesSource").load(dir.toString)
    CrmPagesSource.lastRuntimePrune = None
    val joined = scan.join(org.apache.spark.sql.functions.broadcast(dim), Seq("ts_ms"))
      .select(col("ts_ms"), col("event_id"), col("tag"))
    val rows = joined.collect()
    assert(rows.map(_.getLong(0)).toSet == Set(1000L, 1500L))
    // the scan received the runtime In-filter and pruned to page 1 only
    assert(CrmPagesSource.lastRuntimePrune.contains((1, 4)),
      s"expected runtime pruning (1 of 4 pages), got ${CrmPagesSource.lastRuntimePrune}\n" +
        joined.queryExecution.executedPlan.toString)
  }

  test("runtime-filter value conversion fails OPEN: unconvertible values prune NOTHING") {
    import org.apache.spark.sql.sources.{EqualTo, In}
    // In-filter with one unconvertible value: the WHOLE filter must be
    // ignored (None), not pruned against the partial {1000} set
    val mixedIn: Array[org.apache.spark.sql.sources.Filter] =
      Array(In("ts_ms", Array[Any](1000L, new java.math.BigDecimal("1500"))))
    assert(CrmPagesSource.runtimeTsValues(mixedIn).isEmpty)
    // EqualTo with an unconvertible value: ignored, NOT an empty set
    // (an empty set would intersect everything away and prune ALL pages)
    val badEq: Array[org.apache.spark.sql.sources.Filter] =
      Array(EqualTo("ts_ms", "not-a-long"))
    assert(CrmPagesSource.runtimeTsValues(badEq).isEmpty)
    // a clean filter alongside a bad one: the clean set still applies
    val both: Array[org.apache.spark.sql.sources.Filter] =
      Array(In("ts_ms", Array[Any](1000L, 1500L)), EqualTo("ts_ms", "bad"))
    assert(CrmPagesSource.runtimeTsValues(both).contains(Set(1000L, 1500L)))

    // page level: the mixed In prunes no envelope
    val envs = Seq(
      CrmPagesSource.PageEnvelope("p0", pMin = 0L, pMax = 999L, nRows = 10L, nTsRows = 10L, bytes = 1L),
      CrmPagesSource.PageEnvelope("p1", pMin = 1000L, pMax = 1999L, nRows = 10L, nTsRows = 10L, bytes = 1L))
    assert(CrmPagesSource.pruneByTsValues(envs, mixedIn) == envs)

    // row level: a record matching only the unconvertible value passes
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rec = mapper.createObjectNode()
    rec.put("ts_ms", 1500L)
    assert(CrmPagesSource.passes(mixedIn, rec), "row matching the unconverted value was dropped")
    assert(CrmPagesSource.passes(badEq, rec))
    // and convertible filters still evaluate exactly
    val cleanIn: Array[org.apache.spark.sql.sources.Filter] =
      Array(In("ts_ms", Array[Any](1000L)))
    assert(!CrmPagesSource.passes(cleanIn, rec))
  }
}

/** JVM-singleton flaky-transport state: the reader factory serializes
  * its transport to executor threads even in local mode, so per-test
  * state must live in statics (the TestCounters pattern), never in
  * captured instances. */
object FlakyFetch {
  import java.util.concurrent.ConcurrentHashMap
  import java.util.concurrent.ConcurrentLinkedQueue
  val attempts = new ConcurrentHashMap[String, Integer]()
  val sleeps = new ConcurrentLinkedQueue[java.lang.Long]()
  @volatile var failTimes: Int = 0
  def reset(failTimes: Int): Unit = {
    attempts.clear(); sleeps.clear(); this.failTimes = failTimes
  }
  val recordSleep: Long => Unit = ms => { sleeps.add(ms); () }
  /** Rate-limits the first `failTimes` fetches of each page, then
    * delegates to the real file transport. */
  object RateLimitedThenClean extends CrmPagesSource.PageFetch {
    def fetch(file: String): Array[Byte] = {
      val n = attempts.merge(file, 1, _ + _)
      if (n <= failTimes)
        throw new CrmPagesSource.RateLimited(s"429 on $file try $n")
      CrmPagesSource.FilePageFetch.fetch(file)
    }
  }
  /** A non-transient transport failure (must fail fast, never retry). */
  object AlwaysIoError extends CrmPagesSource.PageFetch {
    def fetch(file: String): Array[Byte] =
      throw new java.io.IOException("503 from the origin")
  }
  /** A broken PageFetch that returns null (the trait can't forbid it);
    * the reader must fail loudly, not spin the retry loop forever. */
  object NullFetch extends CrmPagesSource.PageFetch {
    def fetch(file: String): Array[Byte] = null
  }
}
