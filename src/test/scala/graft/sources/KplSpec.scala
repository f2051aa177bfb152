package graft.sources

import graft.SparkSpec
import scala.collection.mutable

class KplSpec extends SparkSpec {

  private def ur(key: String, s: String) =
    Kpl.UserRecord(key, s.getBytes("UTF-8"))

  test("aggregate → deaggregate round-trips records, keys and order") {
    val recs = Seq(ur("alpha", "r1"), ur("beta", "r2"), ur("alpha", "r3"),
      ur("gamma", ""), ur("beta", "r5-é中"))
    val blob = Kpl.aggregate(recs)
    assert(blob.take(4).toSeq == Kpl.Magic.toSeq)
    val got = Kpl.deaggregate(blob)
    assert(got.isDefined, "a well-formed aggregate must be detected")
    assert(got.get.map(_.partitionKey) == recs.map(_.partitionKey))
    assert(got.get.map(r => new String(r.data, "UTF-8")) ==
      recs.map(r => new String(r.data, "UTF-8")))
    // the key table dedups: 5 records, 3 distinct keys in the blob
    assert(got.get.map(_.partitionKey).distinct.size == 3)
  }

  test("KCL detection contract: no magic, short, or bad digest pass through") {
    // ordinary producer bytes — not an aggregate
    assert(Kpl.deaggregate("just some bytes".getBytes("UTF-8")).isEmpty)
    // shorter than magic + trailer
    assert(Kpl.deaggregate(Kpl.Magic ++ Array[Byte](1, 2, 3)).isEmpty)
    // a record that STARTS with the magic by coincidence but carries
    // no valid MD5 trailer is user data, never an aggregate
    val fake = Kpl.Magic ++ Array.fill[Byte](24)(7)
    assert(Kpl.deaggregate(fake).isEmpty)
    // flipping one payload bit after aggregation breaks the digest —
    // passthrough (the transport corrupted it; surfacing the raw bytes
    // beats inventing records), matching the KCL
    val blob = Kpl.aggregate(Seq(ur("k", "payload")))
    val flipped = blob.clone()
    flipped(6) = (flipped(6) ^ 1).toByte
    assert(Kpl.deaggregate(flipped).isEmpty)
  }

  test("a verified digest with dangling key index fails loudly, never silently") {
    // hand-build a payload whose record points past the key table,
    // with a CORRECT md5 trailer: corruption beyond coincidence
    val body = new java.io.ByteArrayOutputStream()
    def vi(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
      var x = v
      while ((x & ~0x7FL) != 0) { out.write(((x & 0x7F) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
    }
    def field(out: java.io.ByteArrayOutputStream, f: Int, b: Array[Byte]): Unit = {
      vi(out, (f << 3) | 2L); vi(out, b.length.toLong); out.write(b, 0, b.length)
    }
    field(body, 1, "only-key".getBytes("UTF-8"))
    val rec = new java.io.ByteArrayOutputStream()
    vi(rec, (1 << 3) | 0L); vi(rec, 9L) // partition_key_index = 9: dangles
    field(rec, 3, "data".getBytes("UTF-8"))
    field(body, 3, rec.toByteArray)
    val payload = body.toByteArray
    val md = java.security.MessageDigest.getInstance("MD5")
    val blob = Kpl.Magic ++ payload ++ md.digest(payload)
    val e = intercept[IllegalArgumentException] { Kpl.deaggregate(blob) }
    assert(e.getMessage.contains("dangles"), e.getMessage)
  }

  test("adversarial varint lengths fail loudly: no Int overflow, no silent " +
    "truncation") {
    def vi(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
      var x = v
      while ((x & ~0x7FL) != 0) { out.write(((x & 0x7F) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
    }
    def framed(payload: Array[Byte]): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Kpl.Magic ++ payload ++ md.digest(payload)
    }
    // field 1, wire 2, declared length Int.MaxValue: with Int
    // arithmetic `pos + len` overflows negative and slips the bound
    // check (AIOOBE later); the Long-safe check must refuse it here
    val overflow = new java.io.ByteArrayOutputStream()
    vi(overflow, (1 << 3) | 2L); vi(overflow, Int.MaxValue.toLong)
    val e1 = intercept[IllegalArgumentException] {
      Kpl.deaggregate(framed(overflow.toByteArray))
    }
    assert(e1.getMessage.contains("overruns"), e1.getMessage)
    // declared length 2^33: truncating toInt yields 0 — the old parse
    // read it as an EMPTY field and carried on (silent mis-parse of a
    // verified-digest record); it must fail loudly instead
    val truncating = new java.io.ByteArrayOutputStream()
    vi(truncating, (1 << 3) | 2L); vi(truncating, 1L << 33)
    val e2 = intercept[IllegalArgumentException] {
      Kpl.deaggregate(framed(truncating.toByteArray))
    }
    assert(e2.getMessage.contains("overruns"), e2.getMessage)
  }

  test("unknown protobuf fields are skipped (forward compatibility)") {
    // splice an unknown field 7 (varint) ahead of a valid aggregate's
    // own fields, re-digest — future KPL versions must not break us
    val inner = Kpl.aggregate(Seq(ur("k1", "v1"), ur("k2", "v2")))
    val payload = java.util.Arrays.copyOfRange(inner, 4, inner.length - 16)
    val out = new java.io.ByteArrayOutputStream()
    out.write((7 << 3) | 0); out.write(42) // field 7, varint 42
    out.write(payload, 0, payload.length)
    val withUnknown = out.toByteArray
    val md = java.security.MessageDigest.getInstance("MD5")
    val blob = Kpl.Magic ++ withUnknown ++ md.digest(withUnknown)
    val got = Kpl.deaggregate(blob)
    assert(got.exists(_.map(r => new String(r.data, "UTF-8")) == Seq("v1", "v2")))
  }

  test("producer→consumer loop: writeAggregated packs, the source unpacks, " +
    "every record round-trips end to end") {
    val fake = new FakeKinesis
    KplLoop.fake = fake
    KinesisSource.registerClient("kpl-loop", fake)
    val df = spark.range(0, 250).selectExpr("id", "id * 3 AS v")
      .coalesce(2).toDF()
    val want = df.toJSON.collect().toSeq.sorted
    graft.streaming.KinesisSink.writeAggregated(
      KplLoop.client, "events",
      graft.streaming.KinesisSink.Policy(sleep = _ => ()),
      partitionKey = "pk", maxPerAggregate = 16)(df)
    // aggregation really happened: 250 user records travelled as at
    // most ceil(125/16)×2 = 16 Kinesis records
    val blobs = fake.shardSize("shard-0")
    assert(blobs <= 16 && blobs >= 2, s"got $blobs kinesis records")
    val ck = graft.TestDirs.dir("kpl-loop-ck").toString
    val got = mutable.Buffer.empty[String]
    val q = spark.readStream
      .format("graft.sources.KinesisSource")
      .option("stream", "events")
      .option("client", "kpl-loop")
      .load()
      .selectExpr("cast(data as string) AS v")
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.collect().map(_.getString(0)); ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(got.sorted == want,
      s"loop dropped/duplicated records: ${got.size} of ${want.size}")
  }

  test("KPL → exactly-once loop end to end: a crash whose window lands " +
    "INSIDE an aggregate's expansion replays to exactly-once per USER record") {
    import graft.streaming.{ExactlyOnceLedger, ExactlyOnceSink, KinesisSink, MicroBatch}
    import ExactlyOnceLedger._
    import scala.jdk.CollectionConverters._
    acks.clear(); calls.set(0)
    val fake = new FakeKinesis
    KinesisSource.registerClient("kpl-eo", fake)
    def rec(i: Int) = s"u$i"
    // 9 KPL aggregates × 23 user records + 43 plain = 250 user records
    // on one shard. The sink chunks USER rows at 60, so every chunk
    // boundary (60, 120, 180, 240) lands mid-expansion (60 % 23 ≠ 0):
    // the crash window splits an aggregate between a committed chunk
    // and an unacked one — the composition the two features must
    // survive together.
    val aggCount = 9; val perAgg = 23
    (0 until aggCount).foreach { a =>
      fake.pushRaw("shard-0", Kpl.aggregate((0 until perAgg).map(j =>
        Kpl.UserRecord(s"k$a", rec(a * perAgg + j).getBytes("UTF-8")))))
    }
    (aggCount * perAgg until 250).foreach(i => fake.push("shard-0", rec(i)))
    val tmp = graft.TestDirs.dir("kpl-eo")
    val sink = new ExactlyOnceSink.ExactlyOnceEventSink(
      crashyClient, "s", KinesisSink.Policy(maxBatch = 60, sleep = _ => ()),
      tmp.resolve("ledger").toString)
    def src = spark.readStream
      .format("graft.sources.KinesisSource")
      .option("stream", "events")
      .option("client", "kpl-eo")
      .load()
      .selectExpr("cast(data as string) AS v")
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    // transport dies on its SECOND put: chunk 0 (user records 0-59,
    // ending inside aggregate 2's expansion) is acked and marked;
    // chunk 1 dies before acking; the query fails with batch 0
    // uncommitted in the checkpoint
    failOnCall.set(2)
    val q1 = MicroBatch.start(src, sink, tmp.resolve("ck").toString,
      queryName = "kpl_eo", trigger = trig)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable(); q1.awaitTermination()
    }
    if (q1.isActive) q1.stop()
    assert(acks.size == 60,
      s"exactly chunk 0's 60 USER records acked pre-crash: ${acks.size}")
    // restart from the same checkpoint, healthy transport: the source
    // re-reads the slice, de-aggregates to the SAME user rows, the
    // ledger skips chunk 0 (split aggregate included) and delivers the
    // rest — every user record exactly once
    failOnCall.set(Int.MaxValue)
    val q2 = MicroBatch.start(src, sink, tmp.resolve("ck").toString,
      queryName = "kpl_eo", trigger = trig)
    try {
      q2.processAllAvailable()
      assert(acks.size == 250, s"all 250 user records, got ${acks.size}")
      assert(acks.values.asScala.forall(_ == 1),
        "crash + replay across an aggregate split must stay exactly-once " +
          s"per USER record; duplicated: ${acks.asScala.filter(_._2 > 1).keys.take(3)}")
      // the sink saw DE-AGGREGATED user payloads, never KPL blobs
      assert(acks.keys.asScala.toSet ==
        (0 until 250).map(i => s"""{"v":"${rec(i)}"}""").toSet)
    } finally if (q2.isActive) q2.stop()
  }

  test("the Kinesis source de-aggregates KPL records in a real streaming " +
    "query; plain records ride along untouched") {
    val fake = new FakeKinesis
    KinesisSource.registerClient("kpl", fake)
    val blob = Kpl.aggregate(Seq(ur("a", "u1"), ur("a", "u2"), ur("b", "u3")))
    fake.pushRaw("shard-0", "plain-before".getBytes("UTF-8"))
    fake.pushRaw("shard-0", blob)
    fake.pushRaw("shard-0", "plain-after".getBytes("UTF-8"))
    val ck = graft.TestDirs.dir("kpl-ck").toString
    val got = mutable.Buffer.empty[(String, String)]
    val q = spark.readStream
      .format("graft.sources.KinesisSource")
      .option("stream", "events")
      .option("client", "kpl")
      .load()
      .selectExpr("sequence", "cast(data as string) AS v")
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= df.collect().map(r => (r.getString(0), r.getString(1)))
        ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    // 3 Kinesis records become 5 user rows, in shard order; the three
    // sub-records share their aggregate's shard sequence number
    assert(got.map(_._2).toSeq ==
      Seq("plain-before", "u1", "u2", "u3", "plain-after"), got.toSeq)
    val subSeqs = got.filter(x => x._2.startsWith("u")).map(_._1).distinct
    assert(subSeqs.size == 1,
      s"sub-records must carry the aggregate's sequence: $got")
  }
}

/** JVM-singleton loop state: the sink's client closure serializes to
  * executor threads, so it must reach the fake stream through statics
  * (the TestCounters pattern), never a captured instance. */
object KplLoop {
  @volatile var fake: FakeKinesis = _
  val client: graft.streaming.KinesisSink.KinesisClient =
    new graft.streaming.KinesisSink.KinesisClient {
      def putRecords(stream: String, recs: Seq[Array[Byte]]): Seq[Int] = {
        recs.foreach(r => KplLoop.fake.pushRaw("shard-0", r))
        Nil
      }
    }
}
