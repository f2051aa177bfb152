package graft.sources

import graft.SparkSpec
import scala.collection.mutable

/**
 * End-to-end Kinesis source connector (round-7 verdict missing #1 /
 * next-round #3): fake shards drive the DSv2 MicroBatchStream through
 * real StreamingQuery runs — per-shard checkpointed offsets, restart
 * resume, resharding, exactly-once delivery.
 */
class KinesisSourceSpec extends SparkSpec {

  private def collectStream(clientName: String, ck: String,
      into: mutable.Buffer[(String, String, String)]) = {
    spark.readStream
      .format("graft.sources.KinesisSource")
      .option("stream", "events")
      .option("client", clientName)
      .load()
      .selectExpr("shard_id", "sequence", "cast(data as string) AS v")
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        into ++= df.collect().map(r =>
          (r.getString(0), r.getString(1), r.getString(2)))
        ()
      }
      .start()
  }

  test("shard reads resume from checkpointed sequences across restart, exactly once") {
    val fake = new FakeKinesis
    KinesisSource.registerClient("fake-restart", fake)
    val ck = graft.TestDirs.dir("kinesis-ck").toString
    fake.push("shard-0", "a", "b")
    fake.push("shard-1", "c")

    val got1 = mutable.Buffer.empty[(String, String, String)]
    val q1 = collectStream("fake-restart", ck, got1)
    q1.processAllAvailable()
    assert(got1.map(_._3).sorted == Seq("a", "b", "c"), got1)

    // more data while running: only the delta is read
    fake.push("shard-0", "d")
    q1.processAllAvailable()
    assert(got1.map(_._3).sorted == Seq("a", "b", "c", "d"), got1)
    q1.stop()

    // while down: new records on existing shards AND a resharding
    // child appearing between batches
    fake.push("shard-1", "e")
    fake.push("shard-2", "f", "g")

    val got2 = mutable.Buffer.empty[(String, String, String)]
    val q2 = collectStream("fake-restart", ck, got2)
    q2.processAllAvailable()
    q2.stop()
    // exactly-once: nothing replays from before the restart; the new
    // shard is read from its beginning
    assert(got2.map(_._3).sorted == Seq("e", "f", "g"), got2)
    assert(got2.collect { case ("shard-2", seq, _) => seq }.sorted ==
      Seq(f"${0L}%019d", f"${1L}%019d"), "resharding child must read from sequence 0")

    // no duplicates anywhere across the whole run
    val all = got1 ++ got2
    assert(all.map(t => (t._1, t._2)).distinct.size == all.size,
      s"duplicate (shard, sequence) delivered: $all")
  }

  test("a key's records ordered parent-then-child are DELIVERED in that order across a split") {
    // round-12 verdict #6: the spec that was missing — same partition
    // key spans the parent's tail and the child's head; delivery must
    // preserve that order across the split boundary (the KCL
    // guarantee), i.e. every parent record lands in an EARLIER
    // micro-batch than any child record.
    val fake = new FakeKinesis
    KinesisSource.registerClient("fake-split", fake)
    val ck = graft.TestDirs.dir("kinesis-split-ck").toString

    val batches = mutable.Buffer.empty[(Long, String, String)] // (batch, shard, value)
    val q = spark.readStream
      .format("graft.sources.KinesisSource")
      .option("stream", "events")
      .option("client", "fake-split")
      .load()
      .selectExpr("shard_id", "cast(data as string) AS v")
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches ++= df.collect().map(r => (id, r.getString(0), r.getString(1)))
        ()
      }
      .start()

    fake.push("shard-p", "k1", "k2")
    q.processAllAvailable()
    // the interesting window: the parent still has an UNDELIVERED tail
    // (k3) when the split lands and the child's head (k4, k5) appears
    fake.push("shard-p", "k3")
    fake.split("shard-p", "shard-c")
    fake.push("shard-c", "k4", "k5")
    q.processAllAvailable()
    q.stop()

    val byValue = batches.map(t => t._3 -> t._1).toMap
    assert(byValue.keySet == Set("k1", "k2", "k3", "k4", "k5"),
      s"records lost or duplicated: $batches")
    val lastParentBatch = Seq("k1", "k2", "k3").map(byValue).max
    val firstChildBatch = Seq("k4", "k5").map(byValue).min
    assert(lastParentBatch < firstChildBatch,
      s"parent tail (batch $lastParentBatch) must be delivered strictly " +
        s"before the child head (batch $firstChildBatch): $batches")
    // and within each shard, sequence order is per-shard arrival order
    assert(byValue("k4") == byValue("k5"), batches)

    // restart AFTER the split with more child data: the committed
    // child offset resumes exactly once, no parent replay
    fake.push("shard-c", "k6")
    val batches2 = mutable.Buffer.empty[(Long, String, String)]
    val q2 = spark.readStream
      .format("graft.sources.KinesisSource")
      .option("stream", "events")
      .option("client", "fake-split")
      .load()
      .selectExpr("shard_id", "cast(data as string) AS v")
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches2 ++= df.collect().map(r => (id, r.getString(0), r.getString(1)))
        ()
      }
      .start()
    q2.processAllAvailable()
    q2.stop()
    assert(batches2.map(_._3) == Seq("k6"),
      s"restart must deliver only the child delta: $batches2")
  }

  test("offsets serialize deterministically and round-trip") {
    val off = KinesisOffset(Map("shard-1" -> "7", "shard-0" -> "15"))
    assert(off.json() == """{"shard-0":"15","shard-1":"7"}""")
    val stream = new KinesisMicroBatchStream("s", "unused")
    assert(stream.deserializeOffset(off.json()) == off)
  }

  test("an empty stream plans no partitions and a flat offset plans nothing") {
    val stream = new KinesisMicroBatchStream("s", "unused")
    val a = KinesisOffset(Map("shard-0" -> "4"))
    assert(stream.planInputPartitions(a, a).isEmpty,
      "no sequence movement must plan no partitions")
  }

  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  /** Drive the admission-control loop the way the engine does — one
    * latestOffset per trigger — and return (triggers, delivered
    * (shard, sequence) pairs). Fails fast if a trigger stops moving
    * while data remains. */
  private def drainWith(fake: FakeKinesis, streamObj: KinesisMicroBatchStream,
      limit: ReadLimit, maxTriggers: Int)
      : (Int, Vector[(String, String)]) = {
    var cur = streamObj.initialOffset().asInstanceOf[KinesisOffset]
    var triggers = 0
    val got = Vector.newBuilder[(String, String)]
    var moved = true
    while (moved && triggers < maxTriggers) {
      val next = streamObj.latestOffset(cur, limit).asInstanceOf[KinesisOffset]
      moved = next != cur
      if (moved) {
        triggers += 1
        streamObj.planInputPartitions(cur, next).foreach { p =>
          val s = p.asInstanceOf[KinesisShardSlice]
          fake.getRecords(s.stream, s.shardId, s.after, s.upTo)
            .foreach { case (seq, _) => got += ((s.shardId, seq)) }
        }
        cur = next
      }
    }
    (triggers, got.result())
  }

  test("ReadMaxRows drains a 10k backlog in bounded batches, exactly once (round-13 #1)") {
    val fake = new FakeKinesis
    KinesisSource.registerClient("fake-backlog", fake)
    val perShard = 2500
    val shards = Seq("shard-0", "shard-1", "shard-2", "shard-3")
    shards.foreach(sh => fake.push(sh, (0 until perShard).map(i => s"$sh-$i"): _*))

    val stream = new KinesisMicroBatchStream("events", "fake-backlog")
    val (triggers, got) = drainWith(fake, stream, ReadLimit.maxRows(100), 500)
    // 10k backlog / 100 per batch = 100 triggers (25/shard/trigger)
    assert(triggers >= 100, s"backlog must drain across >=100 triggers, got $triggers")
    assert(got.size == 4 * perShard, s"lost records: ${got.size}")
    assert(got.distinct.size == got.size, "duplicate (shard, sequence) delivered")
    assert(got.toSet == shards.flatMap(sh =>
      (0 until perShard).map(i => (sh, f"$i%019d"))).toSet)
  }

  test("per-batch cap floors at 1 record/shard so progress is guaranteed") {
    val fake = new FakeKinesis
    KinesisSource.registerClient("fake-floor", fake)
    (0 until 8).foreach(i => fake.push(s"sh-$i", "x", "y"))
    val stream = new KinesisMicroBatchStream("events", "fake-floor")
    // maxRows=2 over 8 shards: budget/shard rounds to 0 → floor of 1
    val (triggers, got) = drainWith(fake, stream, ReadLimit.maxRows(2), 50)
    assert(got.size == 16 && got.distinct.size == 16, got)
    assert(triggers == 2, s"8 records/trigger at the 1/shard floor: $triggers")
  }

  test("reshard child stays gated until its capped parent fully drains") {
    val fake = new FakeKinesis
    KinesisSource.registerClient("fake-cap-split", fake)
    fake.push("parent", (0 until 10).map(i => s"p$i"): _*)
    fake.split("parent", "child")
    fake.push("child", "c0", "c1")

    val stream = new KinesisMicroBatchStream("events", "fake-cap-split")
    var cur = stream.initialOffset().asInstanceOf[KinesisOffset]
    val limit = ReadLimit.maxRows(3)
    val perBatchShards = Vector.newBuilder[Set[String]]
    var moved = true
    while (moved) {
      val next = stream.latestOffset(cur, limit).asInstanceOf[KinesisOffset]
      moved = next != cur
      if (moved) {
        perBatchShards +=
          stream.planInputPartitions(cur, next)
            .map(_.asInstanceOf[KinesisShardSlice].shardId).toSet
        cur = next
      }
    }
    val batches = perBatchShards.result()
    // 10 parent records at <=3/batch: >=4 parent-only batches, then child
    val firstChild = batches.indexWhere(_.contains("child"))
    val lastParent = batches.lastIndexWhere(_.contains("parent"))
    assert(firstChild >= 0 && lastParent >= 0, batches)
    assert(lastParent < firstChild,
      s"child admitted before the capped parent drained: $batches")
    assert(batches.count(_.contains("parent")) >= 4, batches)
  }

  test("ReadMinRows defers a sub-threshold batch until the delay ceiling lapses") {
    val fake = new FakeKinesis
    KinesisSource.registerClient("fake-minrows", fake)
    fake.push("shard-0", "a", "b", "c")
    val stream = new KinesisMicroBatchStream("events", "fake-minrows")
    var now = 0L
    stream.clock = () => now
    val limit = ReadLimit.compositeLimit(
      Array(ReadLimit.minRows(5, 1000L), ReadLimit.maxRows(100)))
    val start = stream.initialOffset().asInstanceOf[KinesisOffset]
    // 3 < 5 available and no delay lapsed: no batch
    assert(stream.latestOffset(start, limit) == KinesisOffset(Map.empty))
    // enough rows arrive: admitted immediately
    fake.push("shard-0", "d", "e")
    val adm = stream.latestOffset(start, limit).asInstanceOf[KinesisOffset]
    assert(adm.seqs == Map("shard-0" -> f"${4L}%019d"), adm)
    // back under threshold but the ceiling lapses: admitted anyway
    fake.push("shard-0", "f")
    assert(stream.latestOffset(adm, limit) == adm, "sub-threshold, no lapse")
    now = 5000L
    val late = stream.latestOffset(adm, limit).asInstanceOf[KinesisOffset]
    assert(late.seqs == Map("shard-0" -> f"${5L}%019d"), late)
  }

  test("maxRecordsPerBatch option bounds real StreamingQuery batches end-to-end") {
    val fake = new FakeKinesis
    KinesisSource.registerClient("fake-e2e-cap", fake)
    fake.push("shard-0", (0 until 300).map(i => s"v$i"): _*)
    val ck = graft.TestDirs.dir("kinesis-cap-ck").toString
    val batchSizes = mutable.Buffer.empty[Long]
    val seen = mutable.Buffer.empty[String]
    val q = spark.readStream
      .format("graft.sources.KinesisSource")
      .option("stream", "events")
      .option("client", "fake-e2e-cap")
      .option("maxRecordsPerBatch", "50")
      .load()
      .selectExpr("cast(data as string) AS v")
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = df.collect().map(_.getString(0))
        batchSizes += vs.length.toLong
        seen ++= vs
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(seen.sorted == (0 until 300).map(i => s"v$i").sorted, "exactly once")
    assert(batchSizes.forall(_ <= 50), s"a batch exceeded the cap: $batchSizes")
    assert(batchSizes.count(_ > 0) >= 6, s"300/50 needs >=6 batches: $batchSizes")
  }

  test("Trigger.AvailableNow drains a 10k backlog in bounded batches exactly " +
    "once, honors reshard order, ignores post-start records, and terminates") {
    val fake = new FakeKinesis
    // mid-backlog reshard, all BEFORE query start: 6000 undelivered
    // parent records, a split, then 4000 child records
    fake.push("shard-p", (0 until 6000).map(i => s"p$i"): _*)
    fake.split("shard-p", "shard-c")
    fake.push("shard-c", (0 until 4000).map(i => s"c$i"): _*)
    // post-start arrivals inject on the FIRST getRecords call — which
    // is necessarily after prepareForTriggerAvailableNow latched the
    // frontier (the latch only lists shards / reads head sequences)
    KinesisSource.registerClient("fake-avnow", new PostLatchArrivals(fake))
    val ck = graft.TestDirs.dir("kinesis-avnow-ck").toString
    def runAvailableNow(): mutable.Buffer[(Long, String, String, String)] = {
      val got = mutable.Buffer.empty[(Long, String, String, String)]
      val q = spark.readStream
        .format("graft.sources.KinesisSource")
        .option("stream", "events")
        .option("client", "fake-avnow")
        .option("maxRecordsPerBatch", "100")
        .load()
        .selectExpr("shard_id", "sequence", "cast(data as string) AS v")
        .writeStream
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          got ++= df.collect().map(r =>
            (id, r.getString(0), r.getString(1), r.getString(2)))
          ()
        }
        .start()
      // the trigger's defining property: the query STOPS BY ITSELF
      assert(q.awaitTermination(300000),
        "an AvailableNow query must terminate once the latch is drained")
      got
    }
    val got = runAvailableNow()
    // exactly the pre-start backlog, each record once
    assert(got.size == 10000, s"expected the 10k backlog, got ${got.size}")
    assert(got.map(t => (t._2, t._3)).distinct.size == got.size,
      "duplicate (shard, sequence) delivered")
    assert(got.map(_._4).toSet ==
      ((0 until 6000).map(i => s"p$i") ++ (0 until 4000).map(i => s"c$i")).toSet,
      "post-start records leaked into (or backlog records fell out of) " +
        "the latched run")
    // bounded batches under the source's OWN admission control:
    // 100 records/batch → 100 micro-batches, never over the cap
    val byBatch = got.groupBy(_._1)
    assert(byBatch.values.forall(_.size <= 100),
      s"a batch exceeded maxRecordsPerBatch: ${byBatch.view.mapValues(_.size).toMap}")
    assert(byBatch.size >= 100, s"10k/100 needs >=100 batches, got ${byBatch.size}")
    // the reshard gate survives the latch: every capped parent batch
    // lands strictly before any child batch
    val lastParent = got.collect { case (b, "shard-p", _, _) => b }.max
    val firstChild = got.collect { case (b, "shard-c", _, _) => b }.min
    assert(lastParent < firstChild,
      s"parent (≤$lastParent) must fully drain before the child ($firstChild)")
    // the deferred post-start records are NOT lost: a second
    // AvailableNow run against the same checkpoint picks up exactly
    // the late child records and the post-start shard, then stops
    val got2 = runAvailableNow()
    assert(got2.map(_._4).sorted ==
      ((0 until 50).map(i => s"late$i") ++ (0 until 10).map(i => s"new$i"))
        .sorted.toBuffer,
      s"second run must deliver exactly the post-start arrivals: " +
        s"${got2.size} records")
  }

  test("an AvailableNow backfill into the exactly-once sink survives a " +
    "mid-drain crash: restart re-latches, dedups the replayed batch, " +
    "drains and terminates — every record acked exactly once") {
    // the three round-16 seams COMPOSED: bounded backfill trigger +
    // SerializedOffset-tolerant restart replay + the chunk ledger
    import graft.streaming.{ExactlyOnceLedger, ExactlyOnceSink, KinesisSink, MicroBatch}
    import ExactlyOnceLedger._
    import scala.jdk.CollectionConverters._
    acks.clear(); calls.set(0)
    val fake = new FakeKinesis
    KinesisSource.registerClient("avnow-eo", fake)
    fake.push("shard-0", (0 until 500).map(i => s"r$i"): _*)
    val tmp = graft.TestDirs.dir("avnow-eo")
    val sink = new ExactlyOnceSink.ExactlyOnceEventSink(
      crashyClient, "s", KinesisSink.Policy(maxBatch = 40, sleep = _ => ()),
      tmp.resolve("ledger").toString)
    def src = spark.readStream
      .format("graft.sources.KinesisSource")
      .option("stream", "events")
      .option("client", "avnow-eo")
      .option("maxRecordsPerBatch", "100")
      .load()
      .selectExpr("cast(data as string) AS v")
    def runDrain(): org.apache.spark.sql.streaming.StreamingQuery =
      MicroBatch.start(src, sink, tmp.resolve("ck").toString,
        queryName = "avnow_eo",
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    // batches of 100 chunk at 40/40/20 = 3 puts each; batches 0-1
    // deliver (6 calls), batch 2's chunk 0 acks+marks (call 7), chunk 1
    // dies on call 8 — the query fails MID-backfill
    failOnCall.set(8)
    val q1 = runDrain()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    if (q1.isActive) q1.stop()
    assert(acks.size == 240,
      s"batches 0-1 (200) + batch 2's chunk 0 (40) acked pre-crash, " +
        s"got ${acks.size}")
    // 50 MORE records arrive while the backfill is down — the restart
    // re-latches the frontier, so they belong to run 2's drain
    fake.push("shard-0", (500 until 550).map(i => s"r$i"): _*)
    failOnCall.set(Int.MaxValue)
    val q2 = runDrain()
    assert(q2.awaitTermination(300000),
      "the restarted AvailableNow drain must terminate by itself")
    assert(acks.size == 550, s"all 550 records delivered: ${acks.size}")
    assert(acks.values.asScala.forall(_ == 1),
      "the replayed batch must dedup through the ledger — duplicated: " +
        acks.asScala.filter(_._2 > 1).keys.take(3))
    assert(acks.keys.asScala.toSet ==
      (0 until 550).map(i => s"""{"v":"r$i"}""").toSet)
  }

  test("backfill->live handoff: an AvailableNow drain self-terminates, then " +
    "a ProcessingTime query resumes from the SAME checkpoint and delivers " +
    "exactly the post-latch arrivals — no gap, no duplicate, reshard gate " +
    "honored across the switch (round-16 directive #3)") {
    // the standard bootstrap deployment: cron-style bounded backfill,
    // then the continuous tail query on the same checkpoint. The latch
    // is per-stream-INSTANCE state, so the live run must construct
    // cleanly without one and follow the MOVING head.
    import graft.streaming.{ExactlyOnceLedger, ExactlyOnceSink, KinesisSink, MicroBatch}
    import ExactlyOnceLedger._
    import scala.jdk.CollectionConverters._
    acks.clear(); calls.set(0); failOnCall.set(Int.MaxValue)
    val fake = new FakeKinesis
    KinesisSource.registerClient("handoff", fake)
    // 10k pre-start backlog with a reshard inside it
    fake.push("shard-p", (0 until 6000).map(i => s"p$i"): _*)
    fake.split("shard-p", "shard-c")
    fake.push("shard-c", (0 until 4000).map(i => s"c$i"): _*)
    val tmp = graft.TestDirs.dir("handoff")
    val sink = new ExactlyOnceSink.ExactlyOnceEventSink(
      crashyClient, "s", KinesisSink.Policy(maxBatch = 1000, sleep = _ => ()),
      tmp.resolve("ledger").toString)
    def src = spark.readStream
      .format("graft.sources.KinesisSource")
      .option("stream", "events")
      .option("client", "handoff")
      .option("maxRecordsPerBatch", "500")
      .load()
      .selectExpr("cast(data as string) AS v")
    val backfill = MicroBatch.start(src, sink, tmp.resolve("ck").toString,
      queryName = "handoff_job",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    assert(backfill.awaitTermination(300000),
      "the backfill must self-terminate at the latch")
    assert(acks.size == 10000, s"backfill must drain the backlog: ${acks.size}")
    // 60 post-latch arrivals while nothing runs — with ANOTHER reshard
    // straddling the handoff, so the gate has to hold across the switch
    fake.push("shard-c", (0 until 40).map(i => s"post-c$i"): _*)
    fake.split("shard-c", "shard-g")
    fake.push("shard-g", (0 until 20).map(i => s"post-g$i"): _*)
    val live = MicroBatch.start(src, sink, tmp.resolve("ck").toString,
      queryName = "handoff_job",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (acks.size < 10060 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(acks.size == 10060,
        s"the live run must pick up exactly the 60 post-latch records: " +
          s"${acks.size}")
      // the live instance carries NO latch: records arriving while it
      // runs are delivered too (the head is moving, not frozen)
      fake.push("shard-g", (0 until 5).map(i => s"tail$i"): _*)
      while (acks.size < 10065 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(acks.size == 10065,
        s"the live run must follow the moving head: ${acks.size}")
    } finally live.stop()
    // no duplicate anywhere across backfill, handoff, and live tail...
    assert(acks.values.asScala.forall(_ == 1),
      "handoff must not replay: duplicated " +
        acks.asScala.filter(_._2 > 1).keys.take(3))
    // ...and no gap: every record of every phase delivered exactly once
    val expected =
      ((0 until 6000).map(i => s"p$i") ++ (0 until 4000).map(i => s"c$i") ++
        (0 until 40).map(i => s"post-c$i") ++ (0 until 20).map(i => s"post-g$i") ++
        (0 until 5).map(i => s"tail$i")).map(v => s"""{"v":"$v"}""").toSet
    assert(acks.keys.asScala.toSet == expected,
      "records lost or leaked across the trigger handoff")
  }

  test("Trigger.AvailableNow on an EMPTY stream terminates cleanly with " +
    "zero batches") {
    val fake = new FakeKinesis
    KinesisSource.registerClient("avnow-empty", fake)
    val ck = graft.TestDirs.dir("avnow-empty-ck").toString
    val got = mutable.Buffer.empty[String]
    val q = spark.readStream
      .format("graft.sources.KinesisSource")
      .option("stream", "events")
      .option("client", "avnow-empty")
      .load()
      .selectExpr("cast(data as string) AS v")
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= df.collect().map(_.getString(0)); ()
      }
      .start()
    assert(q.awaitTermination(120000),
      "an empty latch must terminate, not hang waiting for data")
    assert(got.isEmpty, s"an empty stream delivered rows: $got")
  }

  test("Trigger.AvailableNow ignores the ReadMinRows gate: a backlog smaller " +
    "than minRecordsPerBatch still drains fully before the query stops") {
    // without the latch override, 95 < minRows=100 defers admission,
    // the engine reads the unchanged offset as 'no new data' and
    // terminates having processed NOTHING — violating the trigger's
    // process-everything-then-stop contract (the Kafka source ignores
    // minOffsetsPerTrigger under AvailableNow for the same reason)
    val fake = new FakeKinesis
    KinesisSource.registerClient("avnow-minrows", fake)
    fake.push("shard-0", (0 until 95).map(i => s"m$i"): _*)
    val ck = graft.TestDirs.dir("avnow-minrows-ck").toString
    val got = mutable.Buffer.empty[String]
    val q = spark.readStream
      .format("graft.sources.KinesisSource")
      .option("stream", "events")
      .option("client", "avnow-minrows")
      .option("minRecordsPerBatch", "100")
      .option("maxTriggerDelayMs", "600000000") // the ceiling can't rescue it
      .load()
      .selectExpr("cast(data as string) AS v")
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= df.collect().map(_.getString(0)); ()
      }
      .start()
    assert(q.awaitTermination(120000), "the drain must terminate")
    assert(got.sorted == (0 until 95).map(i => s"m$i").sorted.toBuffer,
      s"the sub-minRows backlog must still drain: ${got.size} of 95")
  }

  test("the AvailableNow latch caps latestOffset at the start frontier even " +
    "as the live head keeps moving") {
    val fake = new FakeKinesis
    KinesisSource.registerClient("fake-latch", fake)
    fake.push("shard-0", (0 until 10).map(i => s"v$i"): _*)
    val stream = new KinesisMicroBatchStream("events", "fake-latch")
    stream.prepareForTriggerAvailableNow()
    // the head moves AFTER the latch: 5 more records
    fake.push("shard-0", (10 until 15).map(i => s"v$i"): _*)
    val (triggers, got) = drainWith(fake, stream, ReadLimit.maxRows(4), 50)
    // 10 latched records at 4/batch = 3 triggers; the 5 live-head
    // records are beyond the latch and must not move the offset
    assert(triggers == 3, s"10 latched records at 4/batch: $triggers")
    assert(got.map(_._2).toSet == (0 until 10).map(i => f"$i%019d").toSet,
      s"drain must stop exactly at the latched frontier: $got")
    // a fresh CONTINUOUS stream object (no latch) reads the rest
    val live = new KinesisMicroBatchStream("events", "fake-latch")
    val lastLatched = KinesisOffset(Map("shard-0" -> f"${9L}%019d"))
    val next = live.latestOffset(lastLatched, ReadLimit.allAvailable())
      .asInstanceOf[KinesisOffset]
    assert(next.seqs == Map("shard-0" -> f"${14L}%019d"), next)
  }

  test("consumer-lag metrics: records behind latest, per committed offset") {
    val fake = new FakeKinesis
    KinesisSource.registerClient("fake-metrics", fake)
    fake.push("shard-0", (0 until 7).map(i => s"a$i"): _*)
    fake.push("shard-1", (0 until 3).map(i => s"b$i"): _*)
    val ms = new KinesisMicroBatchStream("events", "fake-metrics")
    def lag(off: Option[org.apache.spark.sql.connector.read.streaming.Offset])
        : Map[String, String] = {
      import scala.jdk.CollectionConverters._
      ms.metrics(off.map(java.util.Optional.of[
        org.apache.spark.sql.connector.read.streaming.Offset])
        .getOrElse(java.util.Optional.empty())).asScala.toMap
    }
    // nothing committed: the whole stream is backlog
    val fresh = lag(None)
    assert(fresh("numShards") == "2" && fresh("shardsBehindLatest") == "2")
    assert(fresh("recordsBehindLatest") == "10", fresh)
    assert(fresh("recordsBehindLatestExact") == "true")
    // committed mid-shard: only the tail counts
    val end = ms.latestOffset(KinesisOffset(Map.empty),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(4))
      .asInstanceOf[KinesisOffset]
    // maxRows(4) over 2 movable shards splits 2/shard: 4 consumed, 6 left
    val mid = lag(Some(end))
    assert(mid("recordsBehindLatest") == "6", mid)
    assert(mid("shardsBehindLatest") == "2", mid)
    // fully drained: zero behind, still exact
    val drained = ms.latestOffset(end,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    val done = lag(Some(drained))
    assert(done("recordsBehindLatest") == "0" &&
      done("shardsBehindLatest") == "0", done)
  }

  test("lag metrics surface in real StreamingQueryProgress reports") {
    val fake = new FakeKinesis
    KinesisSource.registerClient("fake-progress", fake)
    val ck = graft.TestDirs.dir("kinesis-ck-progress").toString
    fake.push("shard-0", "x1", "x2", "x3")
    val got = mutable.Buffer.empty[(String, String, String)]
    val q = collectStream("fake-progress", ck, got)
    q.processAllAvailable()
    val m = q.lastProgress.sources.head.metrics
    assert(m.get("recordsBehindLatest") == "0",
      s"drained stream must report zero lag, got $m")
    assert(m.get("numShards") == "1", m)
    q.stop()
  }
}

/** Delegates to the inner fake; on the FIRST getRecords call — always
  * after the AvailableNow latch, which only lists shards and reads
  * head sequences — injects post-start arrivals: late records on an
  * existing shard plus a brand-new shard. A latched run must read
  * neither; a later run picks them up. */
final class PostLatchArrivals(inner: FakeKinesis)
    extends KinesisSource.KinesisShardClient {
  private val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
  override def getRecords(stream: String, shardId: String,
      afterSequence: Option[String],
      upToSequence: String): Iterator[(String, Array[Byte])] = {
    if (injected.compareAndSet(false, true)) {
      inner.push("shard-c", (0 until 50).map(i => s"late$i"): _*)
      inner.push("shard-n", (0 until 10).map(i => s"new$i"): _*)
    }
    inner.getRecords(stream, shardId, afterSequence, upToSequence)
  }
  override def listShards(stream: String): Seq[String] =
    inner.listShards(stream)
  override def latestSequence(stream: String, shardId: String): Option[String] =
    inner.latestSequence(stream, shardId)
  override def parentShardIds(stream: String, shardId: String): Seq[String] =
    inner.parentShardIds(stream, shardId)
}

/** In-memory stream: shards of ordered records with Kinesis-style
  * zero-padded decimal sequence numbers (opaque to the connector). */
final class FakeKinesis extends KinesisSource.KinesisShardClient {
  private val shards =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Array[Byte]]]
  private val parents = mutable.Map.empty[String, Seq[String]]
  private val closed = mutable.Set.empty[String]
  def push(shard: String, values: String*): Unit = synchronized {
    require(!closed(shard), s"$shard is closed (split parent)")
    val buf = shards.getOrElseUpdate(shard, mutable.ArrayBuffer.empty)
    values.foreach(v => buf += v.getBytes("UTF-8"))
  }
  /** Raw-bytes push (KPL aggregate blobs and other binary payloads). */
  def pushRaw(shard: String, value: Array[Byte]): Unit = synchronized {
    require(!closed(shard), s"$shard is closed (split parent)")
    shards.getOrElseUpdate(shard, mutable.ArrayBuffer.empty) += value
  }
  /** Kinesis-record count of a shard (for aggregation-ratio asserts). */
  def shardSize(shard: String): Int =
    synchronized(shards.get(shard).map(_.size).getOrElse(0))
  /** Kinesis split: CLOSES the parent (no further writes) and opens
    * children carrying its lineage, exactly the ListShards shape. */
  def split(parent: String, children: String*): Unit = synchronized {
    closed += parent
    children.foreach { c =>
      shards.getOrElseUpdate(c, mutable.ArrayBuffer.empty)
      parents(c) = parents.getOrElse(c, Seq.empty) :+ parent
    }
  }
  override def parentShardIds(stream: String, shardId: String): Seq[String] =
    synchronized(parents.getOrElse(shardId, Seq.empty))
  private def seqOf(i: Long): String = f"$i%019d"
  override def listShards(stream: String): Seq[String] =
    synchronized(shards.keys.toSeq)
  override def latestSequence(stream: String, shardId: String): Option[String] =
    synchronized(shards.get(shardId).filter(_.nonEmpty).map(b => seqOf(b.size - 1L)))
  override def getRecords(stream: String, shardId: String,
      afterSequence: Option[String],
      upToSequence: String): Iterator[(String, Array[Byte])] = synchronized {
    val buf = shards.getOrElse(shardId, mutable.ArrayBuffer.empty)
    val from = afterSequence.map(_.toLong + 1).getOrElse(0L)
    val to = upToSequence.toLong
    (from to to).map(i => (seqOf(i), buf(i.toInt))).toVector.iterator
  }
}
