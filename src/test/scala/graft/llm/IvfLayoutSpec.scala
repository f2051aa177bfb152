package graft.llm

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.functions._

/**
 * The similarity-workload layout investment (SCALE.md "Knobs"): writing
 * the embedding store partitioned by its IVF cell turns every probe
 * into a directory-pruned scan — an nprobe=2 query over a k-cell index
 * physically reads 2/k of the corpus, before any executor runs. The
 * spec proves the pruning happens in the plan (PartitionFilters on the
 * cell column) and that the pruned read returns exactly the rows the
 * unpartitioned filter would.
 */
class IvfLayoutSpec extends SparkSpec {

  test("cell-partitioned embedding layout prunes probe scans to probed cells") {
    val dir = graft.TestDirs.dir("graft-ivf-layout").toString
    val model = KMeans.fit(spark, sf, k = 4, iters = 2)
    val distArr = array(model.centroids.map { case (cid, c) =>
      struct(KMeans.sqDist(col("embedding"), c).as("d"), lit(cid).as("cid"))
    }: _*)
    val assigned = Tables.embeddings(spark, sf)
      // nearest centroid = lexicographic min of (distance, cid) structs
      .withColumn("cell", sort_array(distArr)(0)("cid"))
    assigned.write.mode("overwrite").partitionBy("cell").parquet(dir)

    val probed = spark.read.parquet(dir).filter(col("cell").isin(0, 1))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell#"),
      s"cell predicate did not become a partition filter:\n$plan")
    // the data filter list must NOT carry the cell predicate (it would
    // mean cell was read as a data column, i.e. no directory pruning)
    assert(!"PushedFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined, plan)

    val expectedIds = assigned.filter(col("cell").isin(0, 1))
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val gotIds = probed.select("vec_id").collect().map(_.getLong(0)).sorted
    assert(gotIds.sameElements(expectedIds))
    assert(gotIds.nonEmpty && gotIds.length < Tables.embeddings(spark, sf).count(),
      "probe should read a strict, non-empty subset of the corpus")
  }
}
