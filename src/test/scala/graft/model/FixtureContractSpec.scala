package graft.model

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/**
 * Regression-proofs the events fixture contract (FIXTURES.md): the
 * fixture's `ts` has shipped as parquet TIMESTAMP(NANOS) (round ≤7,
 * loads as Long under `nanosAsLong`) and as TIMESTAMP(µs,
 * isAdjustedToUTC=false) (round 8+, loads as TIMESTAMP_NTZ). A
 * regeneration flipping the encoding must never change what
 * [[Tables.events]] hands the 37 events-family queries — round 8
 * shipped exactly that breakage (DATATYPE_MISMATCH on CAST
 * TIMESTAMP_NTZ→BIGINT). This spec writes a tiny events.parquet in
 * BOTH encodings and asserts the loader normalizes them to identical
 * (ts: TimestampType µs, ts_ns: Long).
 */
class FixtureContractSpec extends SparkSpec {

  // 2024-01-01T00:00:00Z in epoch µs; offsets are µs-aligned so the two
  // encodings describe the same instants exactly.
  private val baseUs = 1704067200000000L
  private val offsetsUs = Seq(0L, 1L, 61000001L, 86399999999L)

  private def tmp(name: String): String =
    graft.TestDirs.dir(name).toString

  test("Tables.events normalizes ns-Long and µs-NTZ fixtures identically") {
    import spark.implicits._
    val nsDir = tmp("events-ns")
    val usDir = tmp("events-us")
    // ns variant: a plain int64 `ts` column — the shape Spark presents
    // for a TIMESTAMP(NANOS) file once nanosAsLong is set.
    offsetsUs.zipWithIndex
      .map { case (us, i) => (i.toLong, (baseUs + us) * 1000L) }
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$nsDir/events.parquet")
    // µs variant: TIMESTAMP_NTZ, exactly what Spark 4 reads back from
    // Timestamp(isAdjustedToUTC=false, µs) parquet.
    offsetsUs.zipWithIndex
      .map { case (us, i) => (i.toLong, baseUs + us) }
      .toDF("event_id", "us")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.mode("overwrite").parquet(s"$usDir/events.parquet")

    val fromNs = Tables.events(spark, nsDir)
    val fromUs = Tables.events(spark, usDir)
    for (df <- Seq(fromNs, fromUs)) {
      assert(df.schema("ts").dataType == TimestampType)
      assert(df.schema("ts_ns").dataType == LongType)
    }
    val a = fromNs.select("event_id", "ts", "ts_ns").orderBy("event_id").collect()
    val b = fromUs.select("event_id", "ts", "ts_ns").orderBy("event_id").collect()
    assert(a.toSeq == b.toSeq)
    assert(a.map(_.getLong(2)).toSeq ==
      offsetsUs.map(us => (baseUs + us) * 1000L))
  }

  test("sub-µs nanos floor to the µs DuckDB sees (ns fixture only)") {
    import spark.implicits._
    val dir = tmp("events-ns-subus")
    // 999 ns below / 1 ns above a µs boundary: both must FLOOR, matching
    // DuckDB's ns→µs coercion of the same parquet column.
    Seq((0L, baseUs * 1000L + 999L), (1L, baseUs * 1000L + 1001L))
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .orderBy("event_id").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(baseUs, baseUs + 1L))
  }

  test("the shipped fixture loads through the loader with both columns usable") {
    // Whatever encoding the CURRENT generation uses, the canonical
    // columns must be live: epoch arithmetic on ts_ns and event-time
    // grouping on ts, on the real fixture.
    val ev = Tables.events(spark, sf)
    val n = ev.filter(col("ts_ns") > 0L)
      .groupBy(date_trunc("day", col("ts"))).count().count()
    assert(n > 0)
  }
}
