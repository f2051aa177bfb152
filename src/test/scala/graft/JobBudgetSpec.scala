package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.model.Tables
import graft.ops.GlobalOrder
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD

/**
 * Job budgets: Spark jobs counted with a `SparkListener` over a drained
 * listener bus, so every count here is exact and host-independent (wall
 * time is not). The scheduling layer dominates at fixture scale, so a
 * change that adds jobs to a serve path fails here, not as bench noise.
 */
class JobBudgetSpec extends SparkSpec {

  /** `body`'s value and the number of Spark jobs it launched. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val v = body
      ListenerBusDrain(sc)
      (v, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val loaders = Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "documents" -> Tables.documents,
    "embeddings" -> Tables.embeddings, "events" -> Tables.events)

  test("every Tables loader launches 0 jobs") {
    loaders.foreach { case (name, load) =>
      val (df, jobs) = jobsOf { val df = load(spark, sf); df.schema; df }
      assert(jobs == 0, s"Tables.$name launched $jobs jobs to build its frame")
      assert(df.columns.nonEmpty)
    }
  }

  test("footer schema equals the inferred schema for every fixture table") {
    // Tables.events reads under nanosAsLong; compare under the same conf
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    loaders.map(_._1).foreach { name =>
      val p = s"$sf/$name.parquet"
      assert(Tables.footerSchema(spark, p) == spark.read.parquet(p).schema,
        s"$name: footer schema drifted from inference")
    }
  }

  test("footer schema equals the inferred schema for both events ts encodings") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // written by parquet-hadoop, not Spark: no stored Spark row schema,
    // so the footer's parquet types are converted exactly as inference
    // converts them (NANOS → Long under nanosAsLong, MICROS non-UTC → NTZ)
    Seq("NANOS" -> 1000L, "MICROS" -> 1L).foreach { case (unit, scale) =>
      val path = graft.TestDirs.dir(s"events-$unit")
        .resolve("events.parquet").toString
      val schema = MessageTypeParser.parseMessageType(
        s"""message events { optional int64 event_id;
           |  optional int64 ts (TIMESTAMP($unit,false));
           |  optional binary event_type (STRING); }""".stripMargin)
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
        .withType(schema).build()
      val g = new SimpleGroupFactory(schema)
      try (0 until 3).foreach { i =>
        w.write(g.newGroup().append("event_id", i.toLong)
          .append("ts", (1704067200000000L + i) * scale).append("event_type", s"e$i"))
      } finally w.close()
      val inferred = spark.read.parquet(path).schema
      assert(Tables.footerSchema(spark, path) == inferred, s"$unit: $inferred")
      val (ev, jobs) = jobsOf(Tables.events(spark, path.stripSuffix("/events.parquet")))
      assert(jobs == 0, s"$unit: Tables.events launched $jobs jobs")
      assert(ev.select("ts_ns").collect().map(_.getLong(0)).toSeq ==
        (0 until 3).map(i => (1704067200000000L + i) * 1000L))
    }
  }

  test("an lsh-pairs memo hit serves the pinned pair set: only LogicalRDD leaves") {
    graft.llm.ModelCache.invalidate()
    val built = graft.llm.Dedup.minhashLsh(spark, sf)
    val (hit, jobs) = jobsOf(graft.llm.Dedup.minhashLsh(spark, sf))
    assert(hit eq built, "a hit must return the memoized frame")
    assert(jobs == 0, s"a memo hit launched $jobs jobs")
    val leaves = hit.queryExecution.analyzed.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]),
      s"lsh-pairs hit re-plans its build:\n${hit.queryExecution.analyzed}")
    graft.llm.ModelCache.invalidate()
  }

  test("a warm q257_cc_stars launches at most 6 jobs") {
    // 6 = the count measured when this budget was set (sf0.001,
    // local[4], 4 shuffle partitions; 21 before it, 46 before that):
    // none while the frame is built — the labels and the pair set are
    // both memo hits, so no star round runs — and 6 to execute the
    // degree count and its join onto the labels
    graft.llm.ModelCache.invalidate()
    val q = SparkEntry.queries("q257_cc_stars")
    noop(q(spark, sf)) // memo-cold: builds lsh-bands, lsh-pairs and neardup-labels
    val (df, construct) = jobsOf(q(spark, sf))
    val (_, execute) = jobsOf(noop(df))
    assert(construct + execute <= 6,
      s"warm q257 launched $construct + $execute jobs (budget 6)")
    graft.llm.ModelCache.invalidate()
  }

  test("after q72 builds neardup-labels, building q257 launches 0 jobs and " +
    "its label leaf is a LogicalRDD") {
    graft.llm.ModelCache.invalidate()
    noop(SparkEntry.queries("q72_neardup_clusters")(spark, sf))
    val (df, jobs) = jobsOf(SparkEntry.queries("q257_cc_stars")(spark, sf))
    assert(jobs == 0, s"building q257 over built labels launched $jobs jobs")
    // the memoized label table is one pinned leaf, and q257 reads its rows
    def rdds(d: DataFrame) = d.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRDD => l.rdd }
    val labels = graft.llm.Pipeline.nearDupClusters(spark, sf)
    assert(labels.queryExecution.analyzed.collectLeaves().size == 1 &&
      rdds(labels).size == 1,
      s"the label artifact is not pinned:\n${labels.queryExecution.analyzed}")
    assert(rdds(df).exists(_ eq rdds(labels).head),
      s"q257 does not read the label artifact:\n${df.queryExecution.analyzed}")
    graft.llm.ModelCache.invalidate()
  }

  /** Construct plus execute jobs of `q`, built and run warm after one
    * memo-cold run. */
  private def warmJobs(q: String): (Int, Int) = {
    val build = SparkEntry.queries(q)
    noop(build(spark, sf))
    val (df, construct) = jobsOf(build(spark, sf))
    val (_, execute) = jobsOf(noop(df))
    (construct, execute)
  }

  test("a warm q135_mad_outliers launches at most 14 jobs") {
    // 14 = the count measured when this budget was set (sf0.001,
    // local[4], 4 shuffle partitions; 21 before it). Each of the two
    // groupedQuantiles tables costs its range exchange, one segment
    // walk and one boundary-row pick, and comes back as a LocalRelation
    val (construct, execute) = warmJobs("q135_mad_outliers")
    assert(construct + execute <= 14,
      s"warm q135 launched $construct + $execute jobs (budget 14)")
  }

  test("a warm q268_trim_bucket_shift launches at most 18 jobs") {
    // 18 = the count measured when this budget was set (sf0.001,
    // local[4], 4 shuffle partitions; 22 before it): the tercile
    // thresholds are a driver-built table, so the matrix plan no
    // longer carries the quantile aggregate and its join
    val (construct, execute) = warmJobs("q268_trim_bucket_shift")
    assert(construct + execute <= 18,
      s"warm q268 launched $construct + $execute jobs (budget 18)")
  }

  test("a warm q231_curation_report launches at most 15 jobs") {
    // 15 = the count measured when this budget was set (sf0.001,
    // local[4], 4 shuffle partitions; 16 before it): its keyless
    // rank/prefix census is one walk over the pinned rows instead of a
    // grouped aggregate and its collect
    val (construct, execute) = warmJobs("q231_curation_report")
    assert(construct + execute <= 15,
      s"warm q231 launched $construct + $execute jobs (budget 15)")
  }

  private def lineitem = Tables.lineitem(spark, sf)
    .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice"), col("l_quantity").cast("long").as("q"))

  test("building a groupedRankAndPrefix launches 0 jobs") {
    // 0 = the count measured when this budget was set (3 before it),
    // keyed or global, rank-only or with a running sum: the operator is
    // a planned exec, so its range exchange and segment census run when
    // the plan executes
    val order = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    for (keys <- Seq(Seq(col("l_returnflag")), Nil);
         values <- Seq(Nil, Seq((col("q"), "pfx")))) {
      val (_, jobs) = jobsOf(GlobalOrder.groupedRankAndPrefix(lineitem, keys, order, values))
      assert(jobs == 0, s"keys=$keys values=$values: $jobs jobs to build (budget 0)")
    }
  }

  test("building a groupedTrailingSums launches 0 jobs") {
    // 0 = the count measured when this budget was set (3 before it, 6
    // before that): the census carries the segment tails and runs with
    // the plan
    val (_, jobs) = jobsOf(GlobalOrder.groupedTrailingSums(lineitem,
      Seq(col("l_returnflag")), Seq(col("l_orderkey"), col("l_linenumber")),
      values = Seq((col("q"), "tsum")), frame = 5))
    assert(jobs == 0, s"groupedTrailingSums launched $jobs jobs to build (budget 0)")
  }

  test("building a groupedQuantiles launches at most 4 jobs") {
    // the range exchange's two jobs, one census, one boundary-row pick
    val (_, jobs) = jobsOf(GlobalOrder.groupedQuantiles(lineitem, Seq("l_returnflag"),
      "l_extendedprice", Seq(("p50", 0.5))))
    assert(jobs <= 4, s"groupedQuantiles launched $jobs jobs to build (budget 4)")
  }

  test("a groupedQuantiles result is a LocalRelation: consuming it launches 0 jobs") {
    val ev = Tables.events(spark, sf)
    val q = graft.ops.GlobalOrder.groupedQuantiles(ev, Seq("event_type"), "value",
      Seq(("p25", 0.25), ("p50", 0.5)))
    val (rows, jobs) = jobsOf(q.collect())
    assert(jobs == 0, s"consuming the quantile table launched $jobs jobs")
    assert(rows.nonEmpty)
    val leaves = q.queryExecution.analyzed.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LocalRelation]),
      s"quantile table re-plans its build:\n${q.queryExecution.analyzed}")
  }
}
