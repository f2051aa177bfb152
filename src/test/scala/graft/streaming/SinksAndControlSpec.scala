package graft.streaming

import graft.SparkSpec
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class SinksAndControlSpec extends SparkSpec {

  // --- KinesisSink batching/retry (K1, W4/W5) ---

  test("sendBatch retries only the failed subset with backoff, then succeeds") {
    val calls = scala.collection.mutable.ArrayBuffer[Int]()
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val client = new KinesisSink.KinesisClient {
      var n = 0
      def putRecords(s: String, recs: Seq[Array[Byte]]): Seq[Int] = {
        calls += recs.size; n += 1
        if (n == 1) Seq(1, 3) else Nil // first call: records 1 and 3 fail
      }
    }
    KinesisSink.sendBatch(client, "s",
      (0 until 5).map(i => Array(i.toByte)),
      KinesisSink.Policy(maxRetries = 3, backoffMs = 7L, sleep = sleeps += _))
    assert(calls.toSeq == Seq(5, 2)) // retry carries exactly the 2 failures
    assert(sleeps.toSeq == Seq(7L))
  }

  test("sendBatch surfaces RetriesExhausted after bounded attempts") {
    val client = new KinesisSink.KinesisClient {
      def putRecords(s: String, recs: Seq[Array[Byte]]): Seq[Int] = Seq(0)
    }
    intercept[KinesisSink.RetriesExhausted] {
      KinesisSink.sendBatch(client, "s", Seq(Array(1.toByte)),
        KinesisSink.Policy(maxRetries = 2, sleep = _ => ()))
    }
  }

  test("write partitions records into <=maxBatch JSON puts") {
    import TestCounters._
    counter.set(0); maxSeen.set(0)
    val client = new KinesisSink.KinesisClient {
      def putRecords(s: String, recs: Seq[Array[Byte]]): Seq[Int] = {
        TestCounters.counter.addAndGet(recs.size)
        TestCounters.maxSeen.updateAndGet(m => math.max(m, recs.size))
        Nil
      }
    }
    val df = graft.model.Tables.events(spark, sf).limit(250)
    KinesisSink.write(client, "stream", KinesisSink.Policy(maxBatch = 100))(df.toDF())
    assert(counter.get() == 250)
    assert(maxSeen.get() <= 100)
  }

  test("byte-aware chunking caps on whichever limit hits first") {
    def rec(n: Int): Array[Byte] = Array.fill[Byte](n)(1)
    // 3 × 3-byte records with a 7-byte cap: (3+3), (3)
    val byBytes = KinesisSink.chunks(
      Iterator(rec(3), rec(3), rec(3)), maxRecords = 100, maxBytes = 7L).toList
    assert(byBytes.map(_.size) == List(2, 1), byBytes.map(_.size))
    // record cap binds before the byte cap
    val byCount = KinesisSink.chunks(
      Iterator.fill(5)(rec(1)), maxRecords = 2, maxBytes = 1000L).toList
    assert(byCount.map(_.size) == List(2, 2, 1))
    // a single over-cap record still travels (alone) — the client's
    // record-size check is where it fails loudly
    val solo = KinesisSink.chunks(
      Iterator(rec(10), rec(1)), maxRecords = 100, maxBytes = 5L).toList
    assert(solo.map(_.size) == List(1, 1))
    // nothing lost, order kept
    assert(solo.flatten.map(_.length) == List(10, 1))
  }

  test("Firehose PutRecordBatch client rides the same retry machinery (round-13 #6)") {
    val calls = scala.collection.mutable.ArrayBuffer[Int]()
    val transport = new FirehoseSink.FirehoseTransport {
      var n = 0
      def putRecordBatch(ds: String, recs: Seq[Array[Byte]]): Seq[Int] = {
        calls += recs.size; n += 1
        if (n == 1) Seq(0, 2) else Nil // FailedPutCount=2 on first call
      }
    }
    val client = new FirehoseSink.FirehoseClient(transport)
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    KinesisSink.sendBatch(client, "delivery",
      (0 until 4).map(i => Array(i.toByte)),
      FirehoseSink.policy(backoffMs = 3L, sleep = sleeps += _))
    assert(calls.toSeq == Seq(4, 2), "retry must carry exactly the failed subset")
    assert(sleeps.toSeq == Seq(3L))
  }

  test("Firehose client enforces the PutRecordBatch envelope loudly") {
    val transport = new FirehoseSink.FirehoseTransport {
      def putRecordBatch(ds: String, recs: Seq[Array[Byte]]): Seq[Int] = Nil
    }
    val client = new FirehoseSink.FirehoseClient(transport)
    // over the record-count limit
    intercept[IllegalArgumentException] {
      client.putRecords("d", Seq.fill(501)(Array(1.toByte)))
    }
    // over the per-record size limit
    intercept[IllegalArgumentException] {
      client.putRecords("d",
        Seq(Array.fill[Byte]((FirehoseSink.MaxRecordBytes + 1).toInt)(0)))
    }
    // over the call byte limit (five 900-KiB records > 4 MiB)
    intercept[IllegalArgumentException] {
      client.putRecords("d",
        Seq.fill(5)(Array.fill[Byte](900 * 1024)(0)))
    }
    // within every limit: passes through
    assert(client.putRecords("d", Seq(Array(1.toByte))).isEmpty)
    // and the preset policy's chunking keeps real writes inside the
    // envelope: 900-KiB records chunk at 4 per call, never 5
    val sizes = KinesisSink.chunks(
      Iterator.fill(9)(Array.fill[Byte](900 * 1024)(0)),
      FirehoseSink.MaxRecordsPerCall, FirehoseSink.MaxBytesPerCall)
      .map(_.size).toList
    assert(sizes == List(4, 4, 1), sizes)
    sizes.foreach(s => assert(s * 900L * 1024 <= FirehoseSink.MaxBytesPerCall))
  }

  // --- JobControl (C2-C5) over a live streaming query ---

  test("metrics listener accumulates per-query batch and row counts") {
    val l = JobControl.attachMetrics(spark)
    try {
      val tmp = graft.TestDirs.dir("metrics")
      val srcDir = Files.createDirectory(tmp.resolve("in"))
      Files.copy(Paths.get(s"$sf/events.parquet"),
        srcDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val source = new MicroBatch.FileEventSource(srcDir.toString, s"$sf/events.parquet")
      val q = MicroBatch.start(
        MicroBatch.incrementalPipeline(source.load(spark), Seq("value")),
        new MicroBatch.ParquetEventSink(tmp.resolve("out").toString),
        tmp.resolve("ck").toString, queryName = "metrics_test")
      q.processAllAvailable(); q.stop()
      q.awaitTermination(10000)
      // listener events are async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      var snap = l.snapshot
      while (!snap.contains("metrics_test") && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); snap = l.snapshot
      }
      val (batches, rows) = snap("metrics_test")
      assert(batches >= 1 && rows > 0, s"got $snap")
    } finally spark.streams.removeListener(l)
  }

  test("job control reports, inspects and stops a named query") {
    val tmp = graft.TestDirs.dir("jobctl")
    val srcDir = Files.createDirectory(tmp.resolve("in"))
    Files.copy(Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val source = new MicroBatch.FileEventSource(srcDir.toString, s"$sf/events.parquet")
    val q = MicroBatch.start(
      MicroBatch.incrementalPipeline(source.load(spark), Seq("value")),
      new MicroBatch.ParquetEventSink(tmp.resolve("out").toString),
      tmp.resolve("ck").toString,
      queryName = "ctl_test")
    try {
      q.processAllAvailable()
      assert(JobControl.healthy(spark))
      assert(JobControl.isRunning(spark, "ctl_test"))
      val st = JobControl.status(spark, "ctl_test")
      assert(st.exists(s => s.isActive && s.batchesCompleted >= 1))
      assert(JobControl.stop(spark, "ctl_test"))
      assert(!JobControl.isRunning(spark, "ctl_test"))
      assert(JobControl.status(spark, "ctl_test").isEmpty)
      assert(!JobControl.stop(spark, "missing_job"))
    } finally if (q.isActive) q.stop()
  }

  test("auth filter guards control verbs with reference 401 semantics") {
    import Auth._
    val key = "sekrit-token"
    var ran = 0
    // no header -> 401, action untouched
    assert(authorize(Map("accept" -> "json"), key) { ran += 1; true } ==
      Rejected(MissingMsg))
    // wrong key -> 401, action untouched
    assert(authorize(Map("x-api-key" -> "nope"), key) { ran += 1; true } ==
      Rejected(InvalidMsg))
    assert(ran == 0, "rejected requests must not evaluate the action")
    // right key -> runs the wrapped JobControl verb
    val ok = authorize(Map("X-Api-Key" -> key), key) { // case-insensitive name
      JobControl.healthy(spark)
    }
    assert(ok == Authorized(true) && ok.status == 200)
    assert(Rejected(MissingMsg).status == 401)
  }
  // --- ExactlyOnceSink: ledgered chunk-idempotent delivery (r14 #4) ---

  test("exactly-once sink: crash mid-batch, restart, replay — every record " +
    "acked exactly once") {
    import ExactlyOnceLedger._
    acks.clear(); calls.set(0); failOnCall.set(2)
    val ledger = graft.TestDirs.dir("graft-eo-ledger").toString
    val df = spark.range(0, 10).selectExpr("id", "id * 2 AS v")
      .coalesce(1).toDF()
    val policy = KinesisSink.Policy(maxBatch = 4, sleep = _ => ())
    // first attempt: chunk 0 (4 recs) acks + commits its marker; the
    // transport dies ON the chunk-1 call BEFORE acking — the
    // partially-delivered batch the verdict describes
    intercept[org.apache.spark.SparkException] {
      ExactlyOnceSink.write(crashyClient, "s", policy, ledger)(df, 7L)
    }
    assert(acks.size == 4, s"only chunk 0 should be acked: ${acks.size}")
    // restart + replay of the SAME batchId: chunk 0 skips via its
    // marker, chunks 1..2 deliver — 10 distinct records, 1 ack each
    ExactlyOnceSink.write(crashyClient, "s", policy, ledger)(df, 7L)
    val counts = acks.values.asScala.toSeq
    assert(acks.size == 10 && counts.forall(_ == 1),
      s"every record exactly once, got ${acks.asScala.toMap}")
    // a THIRD replay (e.g. a post-commit crash) delivers nothing new
    ExactlyOnceSink.write(crashyClient, "s", policy, ledger)(df, 7L)
    assert(acks.values.asScala.forall(_ == 1), "full replay must be a no-op")
  }

  test("exactly-once sink refuses a replay that diverges from acked chunks") {
    import ExactlyOnceLedger._
    acks.clear(); calls.set(0); failOnCall.set(Int.MaxValue)
    val ledger = graft.TestDirs.dir("graft-eo-ledger2").toString
    val policy = KinesisSink.Policy(maxBatch = 4, sleep = _ => ())
    val df = spark.range(0, 4).coalesce(1).toDF()
    ExactlyOnceSink.write(crashyClient, "s", policy, ledger)(df, 1L)
    // same batchId, DIFFERENT rows: the marker's count+md5 pin trips —
    // loud, never a silent skip of unseen data
    val e = intercept[org.apache.spark.SparkException] {
      ExactlyOnceSink.write(crashyClient, "s", policy, ledger)(
        spark.range(4, 8).coalesce(1).toDF(), 1L)
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(chain.exists(_.contains("replay divergence")),
      s"expected the divergence guard, got: $chain")
  }

  test("exactly-once crash-window enumeration: a duplicate exists IFF the " +
    "crash lands between ack and marker, and then only that one chunk") {
    import ExactlyOnceLedger._
    val policy = KinesisSink.Policy(maxBatch = 4, sleep = _ => ())
    // 10 records in one partition → chunks of 4/4/2 with ids
    // 0-3 / 4-7 / 8-9 (range + coalesce(1) is order-deterministic)
    val df = spark.range(0, 10).coalesce(1).toDF()
    def rec(i: Long) = s"""{"id":$i}"""
    def chunkOf(i: Long): Int = (i / 4).toInt
    // discover every boundary by dry run (the ArtifactMaintenance
    // enumeration pattern — the spec cannot drift from the code's
    // actual crash surface)
    failOnCall.set(Int.MaxValue); acks.clear(); calls.set(0)
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val dry = graft.TestDirs.dir("eo-dry").toString
    try {
      ExactlyOnceSink.crashPoint = l => { labels.add(l); () }
      ExactlyOnceSink.write(crashyClient, "s", policy, dry)(df, 1L)
      ExactlyOnceSink.crashPoint = _ => ()
      assert(labels.asScala.toSet == Set(
        "chunk-acked:0", "marker-committed:0", "chunk-acked:1",
        "marker-committed:1", "chunk-acked:2", "marker-committed:2"),
        s"crash surface drifted: ${labels.asScala.toList}")
      labels.asScala.toList.foreach { boundary =>
        acks.clear(); calls.set(0)
        val ledger = graft.TestDirs.dir("eo-enum").toString
        ExactlyOnceSink.crashPoint =
          l => if (l == boundary) throw new RuntimeException(s"died at $l")
        intercept[org.apache.spark.SparkException] {
          ExactlyOnceSink.write(crashyClient, "s", policy, ledger)(df, 5L)
        }
        ExactlyOnceSink.crashPoint = _ => ()
        ExactlyOnceSink.write(crashyClient, "s", policy, ledger)(df, 5L)
        val counts = (0L until 10L).map(i => i -> acks.get(rec(i)).toInt).toMap
        if (boundary.startsWith("chunk-acked:")) {
          // the irreducible window: the acked-but-unmarked chunk (and
          // ONLY it) re-sends on replay — at-least-once one call wide
          val ci = boundary.split(':')(1).toInt
          counts.foreach { case (i, n) =>
            assert(n == (if (chunkOf(i) == ci) 2 else 1),
              s"$boundary: record $i acked $n times: $counts")
          }
        } else {
          // crash after the marker commit: replay skips everything
          // already delivered — exactly-once everywhere
          assert(counts.values.forall(_ == 1),
            s"$boundary must replay to exactly-once: $counts")
        }
      }
    } finally ExactlyOnceSink.crashPoint = _ => ()
  }

  test("exactly-once ledger prunes batches at or below the committed watermark") {
    import ExactlyOnceLedger._
    acks.clear(); calls.set(0); failOnCall.set(Int.MaxValue)
    val ledger = graft.TestDirs.dir("graft-eo-ledger3").toString
    val policy = KinesisSink.Policy(sleep = _ => ())
    val df = spark.range(0, 3).coalesce(1).toDF()
    Seq(0L, 1L, 2L).foreach(b =>
      ExactlyOnceSink.write(crashyClient, "s", policy, ledger)(df, b))
    ExactlyOnceSink.prune(ledger, upToBatchId = 1L)
    val left = Files.list(Paths.get(ledger))
    val names = try left.iterator().asScala.map(_.getFileName.toString).toSet
      finally left.close()
    assert(names == Set("b2"), s"only the uncommitted ledger survives: $names")
  }

  test("exactly-once survives a REAL streaming crash/restart: the replayed " +
    "checkpoint batch dedups through the ledger") {
    import ExactlyOnceLedger._
    acks.clear(); calls.set(0)
    val tmp = graft.TestDirs.dir("eo-e2e")
    val srcDir = Files.createDirectory(tmp.resolve("in"))
    Files.copy(Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val source = new MicroBatch.FileEventSource(srcDir.toString, s"$sf/events.parquet")
    val ledger = tmp.resolve("ledger").toString
    val sink = new ExactlyOnceSink.ExactlyOnceEventSink(
      crashyClient, "s",
      KinesisSink.Policy(maxBatch = 200, sleep = _ => ()), ledger)
    val total = graft.model.Tables.events(spark, sf).count()
    // the transport dies on its SECOND put call: chunk 0 is acked and
    // marked, chunk 1 dies before acking — batch 0 fails, the QUERY
    // fails, and Spark's checkpoint holds batch 0 uncommitted
    failOnCall.set(2)
    val q1 = MicroBatch.start(source.load(spark), sink,
      tmp.resolve("ck").toString, queryName = "eo_e2e",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    if (q1.isActive) q1.stop()
    assert(acks.size == 200, s"exactly chunk 0 acked pre-crash: ${acks.size}")
    // restart from the SAME checkpoint with a healthy transport:
    // Structured Streaming replays batch 0 in full; the ledger skips
    // the 200 already-acked records and delivers the rest once
    val q2 = MicroBatch.start(source.load(spark), sink,
      tmp.resolve("ck").toString, queryName = "eo_e2e",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      q2.processAllAvailable()
      assert(acks.size.toLong == total,
        s"all $total records delivered, got ${acks.size}")
      assert(acks.values.asScala.forall(_ == 1),
        "the checkpoint replay must dedup through the ledger — " +
          s"duplicated: ${acks.asScala.filter(_._2 > 1).keys.take(3)}")
    } finally if (q2.isActive) q2.stop()
  }

  test("writeAggregated keeps the emitted record inside the 1 MiB Kinesis " +
    "envelope: framing accounted, over-limit settings refused") {
    // the payload cap alone is NOT the record size: magic + MD5 +
    // protobuf framing + the key table ride on top. A cap at the 1 MiB
    // ceiling must be refused at the seam, before any send
    val client = new KinesisSink.KinesisClient {
      def putRecords(s: String, recs: Seq[Array[Byte]]): Seq[Int] = Nil
    }
    val df = spark.range(0, 1).toDF()
    intercept[IllegalArgumentException] {
      KinesisSink.writeAggregated(client, "s",
        KinesisSink.Policy(sleep = _ => ()), "pk",
        maxAggregateBytes = 1024L * 1024)(df)
    }
    // a HUGE cap must not slip through via Long overflow in the guard
    intercept[IllegalArgumentException] {
      KinesisSink.writeAggregated(client, "s",
        KinesisSink.Policy(sleep = _ => ()), "pk",
        maxAggregateBytes = Long.MaxValue)(df)
    }
    // DATA guard: config checks can't see an oversized ROW — a single
    // record above the payload cap would emit an over-limit aggregate
    // a real transport rejects on every retry (a permanent poison
    // pill); it must fail loudly instead
    val big = spark.range(0, 1).selectExpr("repeat('x', 300) AS s")
    val e = intercept[org.apache.spark.SparkException] {
      KinesisSink.writeAggregated(client, "s",
        KinesisSink.Policy(sleep = _ => ()), "pk",
        maxAggregateBytes = 100L)(big)
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(chain.exists(_.contains("cannot fit a Kinesis record")), chain)
    // and the claimed worst-case overhead really bounds the observed
    // framing: blob size − summed payload ≤ aggregateOverhead(n, key)
    val key = "partition-key-é"
    Seq(1, 7, 100).foreach { n =>
      val recs = (0 until n).map(i =>
        graft.sources.Kpl.UserRecord(key, Array.fill[Byte](i % 50 + 1)(3)))
      val blob = graft.sources.Kpl.aggregate(recs)
      val payload = recs.iterator.map(_.data.length.toLong).sum
      assert(blob.length - payload <= KinesisSink.aggregateOverhead(n, key),
        s"n=$n: framing ${blob.length - payload} exceeds the claimed bound " +
          s"${KinesisSink.aggregateOverhead(n, key)}")
    }
  }

  test("concurrent attempts of one partition never corrupt the ledger: the " +
    "losing attempt verifies the winner's identical marker (speculation race)") {
    import ExactlyOnceLedger._
    acks.clear(); calls.set(0); failOnCall.set(Int.MaxValue)
    val ledger = graft.TestDirs.dir("eo-race").toString
    val policy = KinesisSink.Policy(maxBatch = 10, sleep = _ => ())
    val rows = (0 until 4).map(i => s"""{"id":$i}""")
    // deterministic interleave at the widest race: attempt A passes the
    // read-miss and the send, then STALLS before its marker commit;
    // attempt B runs the whole chunk (read-miss → send → commit); A
    // resumes into putIfAbsent and LOSES to B's committed marker
    val aSent = new java.util.concurrent.CountDownLatch(1)
    val bDone = new java.util.concurrent.CountDownLatch(1)
    val firstThrough = new java.util.concurrent.atomic.AtomicBoolean(true)
    val aFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    try {
      ExactlyOnceSink.crashPoint = l =>
        if (l == "chunk-acked:0" && firstThrough.getAndSet(false)) {
          aSent.countDown()
          assert(bDone.await(30, java.util.concurrent.TimeUnit.SECONDS),
            "race spec deadlock")
        }
      val a = new Thread(() =>
        try ExactlyOnceSink.deliverPartition(crashyClient, "s", policy,
          ledger, graft.model.Fs.PosixMarkerStore, rows.iterator, 3L, 0)
        catch { case t: Throwable => aFailure.set(t) })
      a.start()
      assert(aSent.await(30, java.util.concurrent.TimeUnit.SECONDS))
      ExactlyOnceSink.deliverPartition(crashyClient, "s", policy,
        ledger, graft.model.Fs.PosixMarkerStore, rows.iterator, 3L, 0)
      bDone.countDown()
      a.join(30000)
      assert(!a.isAlive, "attempt A must complete")
    } finally ExactlyOnceSink.crashPoint = _ => ()
    // the loser must NOT throw spurious divergence — the winner's
    // marker pins the identical chunk
    assert(aFailure.get() == null, s"losing attempt failed: ${aFailure.get()}")
    // both attempts sent (the documented at-least-once window for
    // concurrent attempts): each record acked exactly twice, and the
    // committed marker is a complete, parseable signature
    assert(acks.values.asScala.forall(_ == 2), acks.asScala.toMap)
    // a later replay dedups through the intact marker: no new acks
    ExactlyOnceSink.deliverPartition(crashyClient, "s", policy,
      ledger, graft.model.Fs.PosixMarkerStore, rows.iterator, 3L, 0)
    assert(acks.values.asScala.forall(_ == 2),
      "post-commit replays must be exact no-ops")
  }

  test("the ledger holds on an object store WITHOUT atomic rename: a " +
    "conditional-put MarkerStore gives the same crash/restart exactly-once") {
    import ExactlyOnceLedger._
    acks.clear(); calls.set(0); failOnCall.set(2)
    val ledger = graft.TestDirs.dir("eo-s3").toString
    ConditionalPutStore.blobs.clear()
    val df = spark.range(0, 10).selectExpr("id", "id * 2 AS v")
      .coalesce(1).toDF()
    val policy = KinesisSink.Policy(maxBatch = 4, sleep = _ => ())
    // same crash scenario as the POSIX test, but every marker commit
    // goes through If-None-Match semantics — no rename anywhere
    intercept[org.apache.spark.SparkException] {
      ExactlyOnceSink.write(crashyClient, "s", policy, ledger,
        ConditionalPutStore)(df, 7L)
    }
    assert(acks.size == 4, s"only chunk 0 should be acked: ${acks.size}")
    ExactlyOnceSink.write(crashyClient, "s", policy, ledger,
      ConditionalPutStore)(df, 7L)
    assert(acks.size == 10 && acks.values.asScala.forall(_ == 1),
      s"every record exactly once, got ${acks.asScala.toMap}")
    ExactlyOnceSink.write(crashyClient, "s", policy, ledger,
      ConditionalPutStore)(df, 7L)
    assert(acks.values.asScala.forall(_ == 1), "full replay must be a no-op")
    // and the divergence guard still trips through this store
    val e = intercept[org.apache.spark.SparkException] {
      ExactlyOnceSink.write(crashyClient, "s", policy, ledger,
        ConditionalPutStore)(spark.range(90, 100).coalesce(1).toDF(), 7L)
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(chain.exists(_.contains("replay divergence")), chain)
    // retention retires markers IN THE STORE (key-prefix delete), not
    // via local directory sweeps that would never touch an object
    // store — batch 7's markers must be gone from the map itself
    val sink = new ExactlyOnceSink.ExactlyOnceEventSink(crashyClient, "s",
      policy, ledger, retainBatches = 1, store = ConditionalPutStore)
    val later = spark.range(0, 3).coalesce(1).toDF()
    sink.write(later, 8L); sink.write(later, 9L)
    val left = ConditionalPutStore.listBatches(Paths.get(ledger))
    assert(left.toSet == Set(9L),
      s"store-side retention must retire batches <= 8, left: $left")
  }

  test("the event-sink adapter retires old ledgers as batches commit") {
    import ExactlyOnceLedger._
    acks.clear(); calls.set(0); failOnCall.set(Int.MaxValue)
    val ledger = graft.TestDirs.dir("graft-eo-ledger4").toString
    val sink = new ExactlyOnceSink.ExactlyOnceEventSink(
      crashyClient, "s", KinesisSink.Policy(sleep = _ => ()), ledger,
      retainBatches = 2)
    val df = spark.range(0, 2).coalesce(1).toDF()
    (0L to 5L).foreach(b => sink.write(df, b))
    val left = Files.list(Paths.get(ledger))
    val names = try left.iterator().asScala.map(_.getFileName.toString).toSet
      finally left.close()
    // after batch 5 with retain=2: b≤3 retired, b4/b5 kept
    assert(names == Set("b4", "b5"), s"retention window drifted: $names")
    // replay INSIDE the window still dedups (the adapter must never
    // prune what a legal restart could replay)
    sink.write(df, 5L)
    assert(acks.values.asScala.forall(_ == 6),
      s"batch 5 replay must be a no-op: ${acks.asScala.toMap}")
  }
}

/** JVM-singleton counters visible from executor threads (local mode). */
object TestCounters {
  val counter = new AtomicInteger(0)
  val maxSeen = new AtomicInteger(0)
}

/** An S3-style MarkerStore fake: no rename exists; `putIfAbsent` is a
  * conditional put (`If-None-Match: *` — the real S3 primitive), backed
  * by a JVM-singleton map so executor threads and the spec see one
  * store. Proves the exactly-once analysis holds on object stores where
  * [[graft.model.Fs.PosixMarkerStore]]'s link/rename family is absent. */
object ConditionalPutStore extends graft.model.Fs.MarkerStore {
  import scala.jdk.CollectionConverters._
  val blobs = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
  override def putIfAbsent(path: java.nio.file.Path,
      bytes: Array[Byte]): Option[Array[Byte]] =
    Option(blobs.putIfAbsent(path.toString, bytes))
  override def read(path: java.nio.file.Path): Option[Array[Byte]] =
    Option(blobs.get(path.toString))
  // flat namespace: no directories exist (ensureDir keeps its no-op
  // default); batch listing and retention are key-prefix operations,
  // exactly as they are on a real object store
  override def listBatches(root: java.nio.file.Path): Seq[Long] = {
    val pre = root.toString + "/b"
    blobs.keySet.asScala.toSeq.filter(_.startsWith(pre))
      .flatMap(_.stripPrefix(pre).takeWhile(_ != '/').toLongOption).distinct
  }
  override def deletePrefix(prefix: java.nio.file.Path): Unit = {
    val p = prefix.toString + "/"
    blobs.keySet.asScala.toList
      .filter(k => k == prefix.toString || k.startsWith(p))
      .foreach(blobs.remove)
  }
}

/** Shared state for the exactly-once sink specs: per-record ack counts
  * and a crash trigger, visible from executor threads (local mode). */
object ExactlyOnceLedger {
  import java.util.concurrent.ConcurrentHashMap
  val acks = new ConcurrentHashMap[String, Integer]()
  val calls = new AtomicInteger(0)
  /** The 1-based putRecords call number that throws BEFORE acking. */
  val failOnCall = new AtomicInteger(Int.MaxValue)
  val crashyClient: KinesisSink.KinesisClient = new KinesisSink.KinesisClient {
    def putRecords(s: String, recs: Seq[Array[Byte]]): Seq[Int] = {
      if (calls.incrementAndGet() == failOnCall.get())
        throw new RuntimeException("transport died mid-batch (injected)")
      recs.foreach(r => acks.merge(new String(r, "UTF-8"), 1, _ + _))
      Nil
    }
  }
}
