package graft.ops

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.functions._

/**
 * Schema evolution: a long-lived ingestion layout gains columns over
 * time (the reference's property list is config-driven and can grow —
 * app/hs_contacts.py:164-169). `mergeSchema` reads must surface the
 * union schema with nulls for pre-evolution files.
 */
class SchemaEvolutionSpec extends SparkSpec {

  test("mergeSchema read unions old and new file schemas, null-filling old rows") {
    val dir = graft.TestDirs.dir("evolve").toString
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    // epoch 1: three columns
    ev.filter(col("event_id") < 500).write.parquet(s"$dir/batch=1")
    // epoch 2: a new config adds a column
    ev.filter(col("event_id") >= 500)
      .withColumn("quality", lit(0.9))
      .write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.contains("quality"))
    assert(merged.count() == ev.count())
    val oldRows = merged.filter(col("batch") === 1)
    assert(oldRows.filter(col("quality").isNotNull).count() == 0)
    val newRows = merged.filter(col("batch") === 2)
    assert(newRows.filter(col("quality").isNull).count() == 0)
  }
}
