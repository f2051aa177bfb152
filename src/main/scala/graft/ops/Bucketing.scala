package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Bucketed-table co-location: the storage-level answer to the shuffle
 * that otherwise dominates every big fact⋈fact join.
 *
 * A 100 TB orders⋈lineitem join shuffles BOTH fact tables on the join
 * key every time it runs. Bucketing pays that shuffle ONCE at write
 * time: both tables hash-partitioned into the same number of buckets on
 * their join keys, each bucket sorted. Every subsequent join (and any
 * aggregation keyed on the same column) then reads co-located buckets
 * with NO exchange at all — the scan's `outputPartitioning` is already
 * the `HashPartitioning` the join requires, and with one file per
 * bucket the sort disappears too. [[graft.plans.PlanChecks]]-style spec
 * coverage asserts the exchange-free plan mechanically
 * (`BucketingSpec`).
 *
 * This is the engine's co-location contract for repeated pipelines
 * (the reference's nightly polling analogue: ingest once, query many):
 * land fact tables with [[writeBucketed]], point the recurring queries
 * at the tables, and the per-run shuffle cost drops to zero.
 */
object Bucketing {

  /**
   * Persist `df` as a managed parquet table bucketed AND sorted on
   * `key`. The pre-repartition on the bucket key with `buckets`
   * partitions makes each write task own exactly one bucket, so every
   * bucket lands as ONE file — the layout Spark needs to also elide
   * the sort-merge sort (many files per bucket keep the join
   * exchange-free but re-sort per bucket).
   */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, key: String): Unit =
    df.repartition(buckets, col(key))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /**
   * Per-order revenue over co-bucketed orders/lineitem tables: a
   * fact⋈fact equi-join plus a join-key aggregation, the shape whose
   * plan must contain ZERO exchanges when both tables are bucketed on
   * the join key — scan → (sorted) merge join → partial+final agg, all
   * inside the bucket partitioning.
   */
  def bucketedOrderRevenue(spark: SparkSession,
      ordersTable: String, lineitemTable: String): DataFrame = {
    val o = spark.table(ordersTable)
    val l = spark.table(lineitemTable)
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** The per-corpus q26 table names, suffixed with an md5 prefix of
    * the corpus dir so different corpora in one session never collide
    * — 32-bit String.hashCode has realistic collisions (two colliding
    * dirs would silently serve each other's fact tables); 64 bits of
    * md5 does not. */
  def snowflakeTableNames(dir: String): (String, String) = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
    val suf = md.take(8).map("%02x".format(_)).mkString
    (s"bkt26_orders_$suf", s"bkt26_lineitem_$suf")
  }

  /** Drop every landed bkt26 table. The bench calls this next to
    * `ModelCache.invalidate()` after its warmup pass: the lands live
    * in the session CATALOG, so invalidate() alone would let a bench
    * whose SF dir equals the warmup dir serve warmup-landed tables —
    * their land cost escaping that SF's build ledger. */
  def dropLandedTables(spark: SparkSession): Unit =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("bkt26_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  /**
   * Land q26's two fact tables co-bucketed+sorted on the join key,
   * once per (session catalog, corpus) — the stored-LAYOUT artifact,
   * served like the LSH band tables and PQ indexes by every query
   * that follows. The session catalog decides whether the tables are
   * already landed; the land itself runs under
   * [[graft.llm.ModelCache.meter]] (tag `bucketed-land`, so its cost
   * appears in the bench build ledger). Only the columns the snowflake
   * query reads are landed. Table names carry the corpus dir hash
   * ([[snowflakeTableNames]]) so different scales in one session never
   * collide.
   */
  def ensureSnowflakeTables(
      spark: SparkSession, dir: String, buckets: Int = 8): (String, String) = {
    val (oT, lT) = snowflakeTableNames(dir)
    // a memoized flag could outlive a DROP TABLE and serve a dangling
    // name, hence the catalog check
    if (!spark.catalog.tableExists(oT) || !spark.catalog.tableExists(lT))
      graft.llm.ModelCache.meter("bucketed-land") {
        writeBucketed(graft.model.Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey"), oT, buckets, "o_orderkey")
        writeBucketed(graft.model.Tables.lineitem(spark, dir)
          .select("l_orderkey", "l_extendedprice", "l_discount"),
          lT, buckets, "l_orderkey")
      }
    (oT, lT)
  }

  /**
   * q26 over the co-bucketed layout — the storage-level twin of
   * [[Relational.snowflakeRevenue]]. The unbucketed form shuffles BOTH
   * fact tables on l_orderkey/o_orderkey every run; here the
   * orders⋈lineitem edge reads co-located buckets with ZERO exchanges
   * (the scans' HashPartitioning feeds the merge join directly —
   * plan-asserted in BucketingSpec), leaving the custkey exchange
   * toward customer as the only fact-scale shuffle (unavoidable
   * without a second landed copy keyed by custkey). Identical result,
   * identical oracle; the general-path q26 stays in the bench as the
   * deliberate cold-layout benchmark (see SCALE.md).
   */
  def snowflakeRevenueBucketed(spark: SparkSession, dir: String): DataFrame = {
    val (oT, lT) = ensureSnowflakeTables(spark, dir)
    val l = spark.table(lT)
    val o = spark.table(oT)
    val c = graft.model.Tables.customer(spark, dir)
    val n = graft.model.Tables.nation(spark, dir)
    val r = graft.model.Tables.region(spark, dir)
    // same join tree and decimal-exact aggregate as snowflakeRevenue —
    // customer deliberately unhinted (AQE decides; see Relational)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount")).cast("decimal(18,2)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name")
  }
}
