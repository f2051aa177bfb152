package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/**
 * Structured-Streaming re-expression of the reference's ingestion loop
 * (SURVEY.md §2.3 W1–W6), with the defects engineered out:
 *
 *  - W1 tumbling processing-time windows (reference
 *    app/hs_contacts.py:40-48: `[now-lag, now]` advanced by
 *    `sleep(10)`) → `Trigger.ProcessingTime`, with the per-batch offset
 *    range tracked by the checkpoint offset log instead of wall-clock
 *    recursion;
 *  - W2 offset tracking via unbounded tail recursion (crashes at the
 *    Python recursion limit, app/hs_contacts.py:147) → durable
 *    checkpointing, restart-safe;
 *  - W3 at-least-once with cross-window duplicates →
 *    watermark + `dropDuplicatesWithinWatermark` on the record key;
 *  - W4/W5 retry/backoff → Spark task retries + query restart policy;
 *  - W6 one OS process per entity (app/hs_engagements.py:162-179) →
 *    N concurrent StreamingQuerys on one session, or a single query
 *    over a stream keyed by `event_type`.
 *
 * Sources/sinks are behind tiny traits so the zero-egress test build
 * plugs in file/memory implementations; a Kinesis connector
 * (`format("kinesis")`) would implement the same traits — the reference
 * itself never wired its Kinesis put (app/hs_contacts.py:118-123).
 */
object MicroBatch {

  /** A source of the reference's stream record shape. */
  trait EventSource {
    def load(spark: SparkSession): DataFrame // streaming DataFrame
  }

  /** File-based source replaying the `events` fixture schema. The
    * fixture's `ts` has shipped as both TIMESTAMP(NANOS) (loads as Long
    * under `nanosAsLong`) and TIMESTAMP(µs) NTZ; normalize either to a
    * plain TimestampType so `withWatermark` (which rejects NTZ) sees
    * event time regardless of fixture generation. */
  final class FileEventSource(path: String, schemaSource: String) extends EventSource {
    def load(spark: SparkSession): DataFrame = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = spark.read.parquet(schemaSource).schema
      val raw = spark.readStream.schema(schema).parquet(path)
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else
        // NTZ→LTZ cast is identity under the pinned-UTC session TZ;
        // no-op if the column is already TimestampType.
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** A sink abstraction; implementations must be idempotent per batchId
    * for exactly-once with the checkpoint commit log. */
  trait EventSink {
    def write(batch: DataFrame, batchId: Long): Unit
  }

  final class ParquetEventSink(path: String) extends EventSink {
    def write(batch: DataFrame, batchId: Long): Unit =
      batch.write.mode("append").parquet(path)
  }

  /**
   * The reference pipeline, streaming-native: filter the change feed
   * (S2/S3 predicates), project configured properties (S4), dedup
   * within the watermark (fixes W3), then hand batches to the sink.
   *
   * @param properties projected property columns — the reference's
   *        pipe-delimited `HS_*_PROPERTIES` env config
   *        (app/hs_contacts.py:164-169).
   */
  def incrementalPipeline(
      events: DataFrame,
      properties: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val projected = events
      .filter(col("props").isNotNull)
      .select((Seq("event_id", "ts", "event_type") ++ properties).map(col): _*)
    projected
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("event_id"))
  }

  /** Tumbling event-time aggregation — the W1 window as event-time
    * analytics with late-data handling (watermark). */
  def windowedCounts(
      events: DataFrame,
      windowLen: String = "10 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("win_start"),
        col("window.end").as("win_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** The writer every stream of the program starts from, so checkpoint
    * storage policy lives in one place ([[CheckpointFs.install]]). */
  def writeStream(df: DataFrame): DataStreamWriter[Row] = {
    CheckpointFs.install(df.sparkSession)
    df.writeStream
  }

  /** Start a pipeline into a sink with durable offsets (the W2 fix). */
  def start(
      pipeline: DataFrame,
      sink: EventSink,
      checkpointDir: String,
      queryName: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    writeStream(pipeline)
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        sink.write(batch.toDF(), batchId)
      }
      .start()

  /**
   * W6 fan-out: one concurrent StreamingQuery per entity type sharing
   * the SparkSession — Spark schedules them across cores/executors the
   * way the reference forked OS processes.
   */
  def fanout(
      source: EventSource,
      spark: SparkSession,
      entityTypes: Seq[String],
      sinkFor: String => EventSink,
      checkpointRoot: String,
      properties: Seq[String]): Seq[StreamingQuery] =
    entityTypes.map { et =>
      val filtered = source.load(spark).filter(col("event_type") === et)
      start(
        incrementalPipeline(filtered, properties),
        sinkFor(et),
        s"$checkpointRoot/$et",
        queryName = s"ingest_$et")
    }
}
