package graft.streaming

import graft.SparkSpec
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class TestEvent(event_id: Long, ts: Timestamp, event_type: String,
    value: Double, props: String)

class MicroBatchSpec extends SparkSpec {

  private def ts(s: Long): Timestamp = new Timestamp(1704067200000L + s * 1000)

  test("incremental pipeline dedups within the watermark and drops null props") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TestEvent]
    input.addData(
      TestEvent(1L, ts(0), "error", 1.0, "{}"),
      TestEvent(1L, ts(1), "error", 1.0, "{}"),   // dup id within watermark
      TestEvent(2L, ts(2), "signup", 2.0, "{}"),
      TestEvent(3L, ts(3), "view", 3.0, null))    // null props dropped
    val piped = MicroBatch.incrementalPipeline(
      input.toDF(), properties = Seq("value", "props"))
    val q = piped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").option("checkpointLocation",
        graft.TestDirs.dir("ck").toString)
      .start()
    q.processAllAvailable()
    // a late second batch far in the future closes all dedup state
    input.addData(TestEvent(99L, ts(100000), "view", 0.0, "{}"))
    q.processAllAvailable(); q.stop()
    val out = spark.table("dedup_out")
      .filter(col("event_id") < 99).collect()
    assert(out.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("windowed counts aggregate the stream like the batch equivalent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TestEvent]
    input.addData(
      TestEvent(1L, ts(5), "error", 1.0, "{}"),
      TestEvent(2L, ts(30), "error", 2.0, "{}"),
      TestEvent(3L, ts(70), "signup", 3.0, "{}"))
    val q = MicroBatch.windowedCounts(input.toDF(), windowLen = "1 minute")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").option("checkpointLocation",
        graft.TestDirs.dir("ck").toString)
      .start()
    q.processAllAvailable()
    // watermark-advancing event closes the earlier windows
    input.addData(TestEvent(4L, ts(2000), "view", 0.0, "{}"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("win_out")
      .select("win_start", "event_type", "n_events").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
    assert(rows.contains((ts(0).getTime, "error", 2L)), s"got $rows")
    assert(rows.contains((ts(60).getTime, "signup", 1L)), s"got $rows")
  }

  test("restart from checkpoint resumes offsets: no reprocessing, new data flows") {
    val tmp = graft.TestDirs.dir("restart")
    val srcDir = Files.createDirectory(tmp.resolve("in"))
    val ckpt = tmp.resolve("ck").toString
    val outDir = tmp.resolve("out").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("part1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val source = new MicroBatch.FileEventSource(srcDir.toString, s"$sf/events.parquet")
    def run(): Unit = {
      val q = MicroBatch.start(
        MicroBatch.incrementalPipeline(source.load(spark), Seq("value")),
        new MicroBatch.ParquetEventSink(outDir), ckpt, "restart_test")
      q.processAllAvailable(); q.stop()
    }
    run()
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst > 0)
    // restart with the same checkpoint and NO new data: nothing reprocessed
    run()
    assert(spark.read.parquet(outDir).count() == afterFirst,
      "restart reprocessed committed offsets")
    // drop a second file in (fresh ids, timestamps past the watermark):
    // only its rows are appended
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
      .withColumn("event_id", col("event_id") + 10000000L)
    // shift 40 days in whichever encoding this fixture generation uses
    // (ns-Long or µs-NTZ) so the staged file keeps the source schema
    val shifted =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("ts + cast(40 as bigint) * 86400 * 1000000000"))
      else
        raw.withColumn("ts", expr("ts + INTERVAL 40 DAYS"))
    val stage = graft.TestDirs.dir("stage")
    shifted.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage).filter(_.toString.endsWith(".parquet")).findFirst.get
    Files.copy(part, srcDir.resolve("part2.parquet"), StandardCopyOption.REPLACE_EXISTING)
    run()
    val afterThird = spark.read.parquet(outDir).count()
    assert(afterThird > afterFirst, "new file not consumed after restart")
  }

  test("file-source fan-out writes per-entity sinks with checkpointed offsets") {
    val tmp = graft.TestDirs.dir("fanout")
    // file stream sources consume directories: stage the fixture file
    val srcDir = Files.createDirectory(tmp.resolve("events"))
    Files.copy(Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val sinkRoot = tmp.resolve("sinks")
    val source = new MicroBatch.FileEventSource(
      srcDir.toString, s"$sf/events.parquet")
    val queries = MicroBatch.fanout(
      source, spark,
      entityTypes = Seq("error", "signup"),
      sinkFor = et => new MicroBatch.ParquetEventSink(s"$sinkRoot/$et"),
      checkpointRoot = tmp.resolve("ck").toString,
      properties = Seq("value"))
    queries.foreach(_.processAllAvailable())
    queries.foreach(_.stop())
    val errors = spark.read.parquet(s"$sinkRoot/error")
    val signups = spark.read.parquet(s"$sinkRoot/signup")
    val ev = graft.model.Tables.events(spark, sf).filter(col("props").isNotNull)
    assert(errors.count() == ev.filter(col("event_type") === "error").count())
    assert(signups.count() == ev.filter(col("event_type") === "signup").count())
  }
}
