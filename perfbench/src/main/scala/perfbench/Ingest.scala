package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{CrmPagesSource, KinesisSource, Kpl}
import graft.streaming.{ControlServer, ExactlyOnceSink, KinesisSink, MicroBatch}

/** One generated CRM record. `props` None is a row the pipeline must
  * filter out. */
final case class Rec(id: Long, tsMs: Long, eventType: String, value: Double,
    props: Option[String]) {
  def json: String = {
    val p = props.map(Json.str).getOrElse("null")
    s"""{"event_id":$id,"ts_ms":$tsMs,"event_type":"$eventType","value":$value,"props":$p}"""
  }
}

/** The streaming workloads: the paper's poll→put loop (`ingest-live`) and
  * a Kinesis catch-up drain (`kinesis-backfill`), both ending in the
  * program's exactly-once sink over an in-memory put transport. */
object Ingest {
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  /** The configured property projection of the reference's contacts
    * entity, resolved by the program. */
  val Properties: Seq[String] = CrmPagesSource.configuredProperties(
    "contacts", Map("HS_CONTACTS_PROPERTIES" -> "value|props"))
  /** Sink backoff: 5 ms instead of the reference's 10 s, so the seeded
    * put failures cost retries without dominating latency. */
  val BackoffMs = 5L
  val FailPerMille = 10

  def records(rng: scala.util.Random, from: Long, n: Int, baseTsMs: Long,
      stepMs: Double): IndexedSeq[Rec] =
    (0 until n).map { i =>
      val id = from + i
      Rec(id, baseTsMs + (i * stepMs).toLong + rng.nextInt(1000),
        EventTypes(rng.nextInt(EventTypes.length)),
        math.round(rng.nextDouble() * 50000) / 100.0,
        if (rng.nextInt(100) < 3) None else Some(s"""{"k": ${rng.nextInt(100)}}"""))
    }

  private def policy = KinesisSink.Policy(maxBatch = 500, maxRetries = 5,
    backoffMs = BackoffMs, sleep = MemoryPut.sleep)

  private def sink(cfg: Cfg, stream: String, ledger: String) =
    new ExactlyOnceSink.ExactlyOnceEventSink(
      new MemoryPut(FailPerMille, cfg.seed, dropOne = cfg.fault == "drop"),
      stream, policy, ledger, store = TimedStore)

  private val mapper = new ObjectMapper()
  private val tsFormat = java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME

  /** Counts the records of `expected` that were not delivered exactly
    * once with their projected fields, plus any delivery of a record that
    * should have been filtered out. */
  def verify(d: Delivery, expected: IndexedSeq[Rec], report: Report): Long = {
    var bad = 0L
    var shown = 0
    def fail(msg: String): Unit = {
      bad += 1
      if (shown < 5) { shown += 1; report.note(s"ingest check failed: $msg") }
    }
    expected.foreach { r =>
      val n = d.count.get(r.id.toInt)
      r.props match {
        case None => if (n != 0) fail(s"event ${r.id} has null props but was delivered $n times")
        case Some(p) =>
          if (n != 1) fail(s"event ${r.id} delivered $n times")
          else {
            val node = mapper.readTree(d.payload.get(r.id.toInt))
            val ts = java.time.OffsetDateTime.parse(node.get("ts").asText, tsFormat)
              .toInstant.toEpochMilli
            val fields = node.fieldNames().asScala.toSet
            if (ts != r.tsMs || node.get("event_type").asText != r.eventType ||
                node.get("value").asDouble != r.value || node.get("props").asText != p ||
                fields != Set("event_id", "ts", "event_type", "value", "props"))
              fail(s"event ${r.id} delivered as ${node.toString}, expected ${r.json}")
          }
      }
    }
    if (d.outOfRange.get > 0) fail(s"${d.outOfRange.get} deliveries of unknown events")
    bad
  }

  /** Open loop: a generator thread publishes CRM page envelopes (at most
    * 100 records each, written then renamed into place) at a fixed
    * offered rate, while the pipeline polls the page directory. */
  def live(cfg: Cfg, spark: SparkSession, layers: Layers, progress: Progress,
      report: Report): Unit = {
    val genT0 = System.nanoTime()
    val rng = new scala.util.Random(cfg.seed)
    val rate = cfg.rate
    // a warm-up block first (published at once: the cold start), then the
    // open loop at the offered rate; its first `rampS` seconds warm the
    // JIT and are not measured
    val warmN = if (cfg.smoke) 200 else 1000
    val rampS = if (cfg.smoke) 1 else 2
    val n = warmN + rate * (rampS + cfg.seconds)
    val t0Ts = 1_700_000_000_000L + rng.nextInt(1_000_000) * 1000L
    val recs = records(rng, 0, n, t0Ts, 1000.0 / rate)
    def dueMs(r: Rec): Double = (r.id - warmN) * 1000.0 / rate
    // Pages hold at most 100 records and close every 50 ms; one page in
    // fifty also resends up to 3 records of its predecessor (the
    // at-least-once polling overlap the pipeline must deduplicate).
    val perPage = math.max(1, math.min(100, rate * 50 / 1000))
    val groups = recs.take(warmN).grouped(100).toIndexedSeq ++
      recs.drop(warmN).grouped(perPage).toIndexedSeq
    val pages = groups.zipWithIndex.map { case (rs, i) =>
      val resend = if (i > 0 && rng.nextInt(50) == 0)
        groups(i - 1).take(1 + rng.nextInt(3)) else IndexedSeq.empty
      val all = rs ++ resend
      val body = s"""{"total":${all.size},"min_ts_ms":${all.map(_.tsMs).min},""" +
        s""""max_ts_ms":${all.map(_.tsMs).max},"results":[${all.map(_.json).mkString(",")}],""" +
        s""""paging":{"next":{"after":"page-${"%08d".format(i + 1)}"}}}"""
      // a page is due when its last record is
      (math.max(dueMs(rs.last), 0.0), body.getBytes(UTF_8))
    }
    val warmPages = groups.takeWhile(_.head.id < warmN).size
    val genSeconds = (System.nanoTime() - genT0) / 1e9
    val dir = cfg.path("pages")
    Files.createDirectories(Paths.get(dir))
    val stream = "crm-live"
    val delivery = Delivery.open(stream, n)
    val events = spark.readStream.format("graft.sources.CrmPagesSource").load(dir)
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val q = MicroBatch.start(MicroBatch.incrementalPipeline(events, Properties),
      sink(cfg, stream, cfg.path("ledger")), cfg.path("ck"), "ingest_live",
      // a fixed poll cycle, as the reference's 10 s loop: batches start on
      // a grid instead of back to back, so a slow batch does not make the
      // next one larger (workloads.json, trigger_choice)
      Trigger.ProcessingTime("1 second"))
    layers.streamPrefix.put(q.id.toString, "live")
    val control = ControlServer.start(spark, "perfbench-key", _ => false)
    val checkMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    @volatile var running = true
    val poller = new Thread(() => {
      while (running) {
        val t = System.nanoTime()
        check(control.port)
        checkMs.add((System.nanoTime() - t) / 1e6)
        Thread.sleep(1000)
      }
    }, "control-poller")
    poller.setDaemon(true)

    def publish(i: Int): Unit = {
      val name = "page-%08d.json".format(i)
      val tmp = Paths.get(dir, s".$name.tmp")
      Files.write(tmp, pages(i)._2)
      Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    }
    def acked(rs: IndexedSeq[Rec]): Boolean =
      rs.forall(r => r.props.isEmpty || delivery.count.get(r.id.toInt) > 0)
    val setup = Main.sinceStart - genSeconds
    report.note(f"inputs generated in $genSeconds%.2f s; query started ${Main.sinceStart}%.2f s after JVM start")
    // cold start: the warm-up block, from publish to its last ack
    val coldT0 = Clock.ms
    (0 until warmPages).foreach(publish)
    val warm = recs.take(warmN)
    val coldDeadline = System.currentTimeMillis() + 60000
    while (!acked(warm) && System.currentTimeMillis() < coldDeadline) Thread.sleep(5)
    val coldS = (Clock.ms - coldT0) / 1000
    poller.start()
    val genStartMs = System.currentTimeMillis() + 20
    val windowMs = genStartMs + rampS * 1000.0
    val firstTimed = warmN + rate * rampS
    val lateMs = new Array[Double](pages.size)
    val gen = new Thread(() => {
      (warmPages until pages.size).foreach { i =>
        val wait = genStartMs + pages(i)._1 - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait.toLong)
        publish(i)
        lateMs(i) = System.currentTimeMillis() - (genStartMs + pages(i)._1)
      }
    }, "page-generator")
    gen.start()
    while (System.currentTimeMillis() < windowMs) Thread.sleep(1)
    Meters.reset()
    val c0 = layers.counts
    gen.join()
    val expected = recs.count(_.props.isDefined)
    val deadline = System.currentTimeMillis() + 60000
    def delivered = recs.count(r => r.props.isDefined && delivery.count.get(r.id.toInt) > 0)
    while (delivered < expected && System.currentTimeMillis() < deadline) Thread.sleep(50)
    // every timed record is acked; the stream still holds its state
    Main.markLiveHeap()
    // one more trigger so any duplicate still in flight would show
    Thread.sleep(300)
    running = false
    poller.join()
    Trace.add("live", "workload", "window", windowMs, Clock.ms, "live")
    q.stop()
    control.stop()
    org.apache.spark.BusDrain(spark.sparkContext)

    val got = recs.drop(firstTimed).filter(r => r.props.isDefined && delivery.count.get(r.id.toInt) > 0)
    val ackMs = got.map(r => Clock.ofNanos(delivery.firstAckNs.get(r.id.toInt)))
    val latencies = got.zip(ackMs).map { case (r, a) => a - (genStartMs + dueMs(r)) }
    val window = if (ackMs.isEmpty) 1.0 else (ackMs.max - windowMs) / 1000
    report.metric("setup_s", setup, "s", 1)
    report.metric("latency_p50_ms", Stats.median(latencies), "ms", latencies.size)
    report.metric("latency_tail_ms", Stats.quantile(latencies, 0.99), "ms", latencies.size)
    report.metric("throughput_per_s", latencies.size / window, "1/s", latencies.size)
    report.layer("cold_s", coldS, "s")
    report.note(f"offered rate $rate records/s, ${pages.size} pages; generator late " +
      f"p50 ${Stats.median(lateMs.toSeq)}%.1f ms, p99 ${Stats.quantile(lateMs.toSeq, 0.99)}%.1f ms")
    report.attempted = n
    report.failed = verify(delivery, recs, report)
    // layers cover the timed window: batches that started after warm-up
    val ps = progress.of(q.id).filter(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli >= windowMs)
    streamingLayers(ps, layers, c0, report)
    report.layer("sources.CrmPagesSource.latest_offset_ms",
      Stats.median(ps.map(_.durationMs.getOrDefault("latestOffset", 0L).toDouble)), "ms")
    report.layer("sources.CrmPagesSource.get_batch_ms",
      Stats.median(ps.map(_.durationMs.getOrDefault("getBatch", 0L).toDouble)), "ms")
    report.layer("sources.CrmPagesSource.pages_per_batch",
      Stats.median(ps.map(p => p.sources.head.endOffset.trim.toDouble -
        Option(p.sources.head.startOffset).map(_.trim.toDouble).getOrElse(0.0))), "count")
    report.layer("streaming.ControlServer.check_ms_p50",
      Stats.median(checkMs.asScala.toSeq), "ms")
    report.note(f"/check polled ${checkMs.size()} times, p50 ${Stats.median(checkMs.asScala.toSeq)}%.2f ms")
    Delivery.close(stream)
  }

  /** GET-style status call against the control plane. */
  private def check(port: Int): Unit = {
    val c = new java.net.URL(s"http://127.0.0.1:$port/check").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("x-api-key", "perfbench-key")
    c.setRequestProperty("Content-Type", "application/json")
    c.getOutputStream.write("""{"job_name": "ingest_live"}""".getBytes(UTF_8))
    c.getOutputStream.close()
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    if (in != null) { in.readAllBytes(); in.close() }
    require(code == 200, s"/check answered $code")
    c.disconnect()
  }

  /** Layer figures every streaming workload reports, from the engine's
    * own progress events and the sink/source meters. */
  def streamingLayers(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      layers: Layers, c0: Counts, report: Report): Unit = {
    def d(k: String) = ps.map(_.durationMs.getOrDefault(k, 0L).toDouble)
    val rows = ps.map(_.numInputRows.toDouble)
    report.layer("streaming.MicroBatch.batches", ps.size.toDouble, "count")
    report.layer("streaming.MicroBatch.batch_ms_p50", Stats.median(d("triggerExecution")), "ms")
    report.layer("streaming.MicroBatch.batch_ms_p99", Stats.quantile(d("triggerExecution"), 0.99), "ms")
    report.layer("streaming.MicroBatch.query_planning_ms", Stats.median(d("queryPlanning")), "ms")
    report.layer("streaming.MicroBatch.wal_commit_ms", Stats.median(d("walCommit")), "ms")
    report.layer("streaming.MicroBatch.records_per_batch", Stats.median(rows), "count")
    report.layer("streaming.ExactlyOnceSink.add_batch_ms", Stats.median(d("addBatch")), "ms")
    val calls = Meters.putCalls.get.toDouble
    report.layer("streaming.ExactlyOnceSink.put_calls", calls, "count")
    report.layer("streaming.ExactlyOnceSink.records_per_put",
      if (calls > 0) Meters.putRecords.get / calls else 0.0, "count")
    report.layer("streaming.ExactlyOnceSink.put_s", Meters.putNs.get / 1e9, "s")
    report.layer("streaming.ExactlyOnceSink.put_retries", Meters.putRetries.get.toDouble, "count")
    report.layer("streaming.ExactlyOnceSink.backoff_s", Meters.backoffNs.get / 1e9, "s")
    report.layer("streaming.ExactlyOnceSink.ledger_puts", Meters.ledgerPuts.get.toDouble, "count")
    report.layer("streaming.ExactlyOnceSink.ledger_reads", Meters.ledgerReads.get.toDouble, "count")
    report.layer("streaming.ExactlyOnceSink.ledger_s", Meters.ledgerNs.get / 1e9, "s")
    // scheduler, executor and shuffle figures over the whole run; idle
    // time counts inside the batches' trigger windows
    val c = layers.counts - c0
    val windows = ps.map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      (s, s + p.durationMs.getOrDefault("triggerExecution", 0L))
    }
    val busy = windows.map(w => w._2 - w._1).sum / 1000
    val cores = Runtime.getRuntime.availableProcessors()
    report.layer("catalyst.analysis_s", c.analysisMs / 1000, "s")
    report.layer("catalyst.optimize_s", c.optimizeMs / 1000, "s")
    report.layer("catalyst.plan_s", c.planMs / 1000, "s")
    report.layer("scheduler.jobs", c.jobs.toDouble, "count")
    report.layer("scheduler.stages", c.stages.toDouble, "count")
    report.layer("scheduler.tasks", c.tasks.toDouble, "count")
    report.layer("scheduler.idle_s", layers.idleSeconds(windows), "s")
    report.layer("executor.run_s", c.runMs / 1000.0, "s")
    report.layer("executor.cpu_s", c.cpuNs / 1e9, "s")
    report.layer("executor.gc_s", c.gcMs / 1000.0, "s")
    report.layer("executor.occupancy", if (busy > 0) c.runMs / 1000.0 / (busy * cores) else 0.0, "ratio")
    report.layer("shuffle.write_bytes", c.shuffleWrite.toDouble, "bytes")
    report.layer("shuffle.read_bytes", c.shuffleRead.toDouble, "bytes")
    report.layer("shuffle.spill_bytes", c.spill.toDouble, "bytes")
    report.layer("shuffle.skew", layers.shuffleSkew, "ratio")
    // batch spans: the trigger, with the engine's phases laid end to end
    // in execution order (the engine reports their durations only)
    if (Trace.on) ps.foreach { p =>
      val prefix = layers.streamPrefix.getOrDefault(p.id.toString, p.id.toString)
      val key = s"$prefix.b${p.batchId}"
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      Trace.add(key, prefix, "batch", start,
        start + p.durationMs.getOrDefault("triggerExecution", 0L), key)
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets").foreach { ph =>
        val dur = p.durationMs.getOrDefault(ph, 0L).toDouble
        Trace.add(s"$key.$ph", key, ph, t, t + dur, key)
        t += dur
      }
    }
  }

  /** Closed loop: drain a seeded Kinesis backlog with
    * `Trigger.AvailableNow`, again and again until the time is up. */
  def backfill(cfg: Cfg, spark: SparkSession, layers: Layers, progress: Progress,
      report: Report): Unit = {
    val perDrain = if (cfg.smoke) 4000 else 20000
    val setup = Main.sinceStart
    // drain 0 is the cold one (cold_s), half a backlog in the same four
    // batches; drains 1 and 2 warm the JIT further, off the clock; the
    // window opens after them and measures at least three drains, so the
    // medians over drains do not switch between two and three samples
    var deadline = Long.MaxValue
    var k = 0
    val walls, rates = scala.collection.mutable.ArrayBuffer.empty[Double]
    // record delays of each measured drain
    val latencies = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    var inputRows = 0L
    var delivered = 0L
    var behindMax = 0.0
    var c0 = layers.counts
    val allProgress = scala.collection.mutable.ArrayBuffer.empty[
      org.apache.spark.sql.streaming.StreamingQueryProgress]
    while (k < 6 || System.currentTimeMillis() < deadline) {
      if (k == 3) {
        org.apache.spark.BusDrain(spark.sparkContext)
        Meters.reset()
        c0 = layers.counts
      }
      val rng = new scala.util.Random(cfg.seed * 1000 + k)
      val size = if (k == 0) perDrain / 2 else perDrain
      val (client, recs) = backlog(rng, size)
      val name = s"backlog-$k"
      KinesisSource.registerClient(name, client)
      val out = s"out-$k"
      val delivery = Delivery.open(out, size)
      val raw = spark.readStream.format("graft.sources.KinesisSource")
        .option("stream", name).option("client", name)
        .option("maxRecordsPerBatch", (size / 4).toString).load()
      val events = raw
        .select(from_json(col("data").cast("string"), CrmPagesSource.Schema).as("r"))
        .select("r.*")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
      val t0 = System.nanoTime()
      val q = MicroBatch.start(MicroBatch.incrementalPipeline(events, Properties),
        sink(cfg, out, cfg.path(s"ledger-$k")), cfg.path(s"ck-$k"), s"backfill_$k",
        Trigger.AvailableNow())
      layers.streamPrefix.put(q.id.toString, s"drain$k")
      // a failed drain shows as undelivered records in the check below
      try q.awaitTermination()
      catch { case e: Exception => report.note(s"drain $k failed: ${e.toString.take(300)}") }
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.BusDrain(spark.sparkContext)
      Main.markLiveHeap()
      val ps = progress.of(q.id)
      val good = recs.count(r => r.props.isDefined)
      // e2e and layer figures cover the measured drains; the whole backlog
      // is due when its drain starts
      if (k > 2) {
        latencies += recs.filter(r => r.props.isDefined && delivery.count.get(r.id.toInt) > 0)
          .map(r => (delivery.firstAckNs.get(r.id.toInt) - t0) / 1e6)
        allProgress ++= ps
        inputRows += ps.map(_.numInputRows).sum
        delivered += good
        ps.foreach(p => Option(p.sources.head.metrics.get("recordsBehindLatest"))
          .foreach(v => behindMax = math.max(behindMax, v.toDouble)))
      }
      walls += wall
      rates += good / wall
      report.attempted += size
      report.failed += verify(delivery, recs, report)
      if (Trace.on) Trace.add(s"drain$k", "workload", "drain", Clock.ofNanos(t0),
        Clock.ofNanos(t0) + wall * 1000, s"drain$k")
      Delivery.close(out)
      if (k == 2) deadline = System.currentTimeMillis() + cfg.seconds * 1000L
      k += 1
    }
    val rps = rates.drop(3).toSeq
    report.metric("setup_s", setup, "s", 1)
    // per drain, then the median over the measured drains, as for the rate
    val n = latencies.map(_.size).sum
    report.metric("latency_p50_ms", Stats.median(latencies.map(Stats.median).toSeq), "ms", n)
    report.metric("latency_tail_ms", Stats.median(latencies.map(Stats.quantile(_, 0.99)).toSeq), "ms", n)
    report.metric("throughput_per_s", Stats.median(rps), "1/s", rps.size)
    report.layer("cold_s", walls.head, "s")
    report.note(f"$k drains of $perDrain records (the cold one ${perDrain / 2}), maxRecordsPerBatch a quarter, " +
      f"drain walls ${walls.map(w => f"$w%.2f").mkString(" ")} s")
    streamingLayers(allProgress.toSeq, layers, c0, report)
    report.layer("sources.KinesisSource.latest_offset_ms",
      Stats.median(allProgress.map(_.durationMs.getOrDefault("latestOffset", 0L).toDouble).toSeq), "ms")
    report.layer("sources.KinesisSource.get_records_calls", Meters.getRecordsCalls.get.toDouble, "count")
    report.layer("sources.KinesisSource.get_records_s", Meters.getRecordsNs.get / 1e9, "s")
    report.layer("sources.KinesisSource.records_read", Meters.recordsRead.get.toDouble, "count")
    report.layer("sources.KinesisSource.records_behind_max", behindMax, "count")
    report.layer("streaming.ExactlyOnceSink.useful_ratio",
      if (inputRows > 0) delivered.toDouble / inputRows else 0.0, "ratio")
  }

  /** A backlog of `n` distinct records over four shards, one of which
    * splits half way; one record in ten travels inside a KPL aggregate,
    * 2% are put a second time (inside the watermark delay: the whole
    * backlog spans under ten minutes of event time) and 3% have null
    * props. */
  def backlog(rng: scala.util.Random, n: Int): (MemoryShards, IndexedSeq[Rec]) = {
    val recs = records(rng, 0, n, 1_700_000_000_000L, 300000.0 / n)
    val shards = scala.collection.mutable.LinkedHashMap(
      Seq("shard-0", "shard-1", "shard-2", "shard-3", "shard-1a", "shard-1b")
        .map(_ -> scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]): _*)
    var split = false
    val pendingAgg = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.ArrayBuffer[Kpl.UserRecord]]
    def flush(sh: String): Unit = pendingAgg.remove(sh).foreach { b =>
      shards(sh) += Kpl.aggregate(b.toSeq)
    }
    recs.zipWithIndex.foreach { case (r, i) =>
      if (i == n / 2) { split = true; flush("shard-1") }
      val base = s"shard-${rng.nextInt(4)}"
      val sh = if (base == "shard-1" && split) (if (rng.nextBoolean()) "shard-1a" else "shard-1b") else base
      val bytes = r.json.getBytes(UTF_8)
      val copies = if (rng.nextInt(100) < 2) 2 else 1
      (0 until copies).foreach { c =>
        val target = if (c == 0) sh else {
          val o = s"shard-${rng.nextInt(4)}"
          if (o == "shard-1" && split) "shard-1a" else o
        }
        if (rng.nextInt(10) == 0) {
          val b = pendingAgg.getOrElseUpdate(target, scala.collection.mutable.ArrayBuffer.empty)
          b += Kpl.UserRecord(s"pk${r.id}", bytes)
          if (b.size >= 10) flush(target)
        } else shards(target) += bytes
      }
    }
    pendingAgg.keys.toList.foreach(flush)
    val client = new MemoryShards(shards.map { case (k, v) => k -> v.toArray }.toMap,
      Map("shard-1a" -> Seq("shard-1"), "shard-1b" -> Seq("shard-1")))
    (client, recs)
  }
}
