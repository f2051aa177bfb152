package graft.streaming

import graft.SparkSpec
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/**
 * Durable-state FORMAT-COMPATIBILITY pin (round-16 directive #5):
 * every test here restarts or serves from the FROZEN bytes committed
 * at `src/test/resources/golden/state_v1/` — a checkpoint, an
 * exactly-once ledger, and a manifest artifact written by round-17
 * code via [[GoldenStateGen]]. A change to the offset JSON, the marker
 * path layout or signature format, or the manifest/snapshot schema
 * that cannot read state already in the field fails HERE instead of
 * on a production restart (the round-16 SerializedOffset crash, made
 * a permanent gate). Tests copy the fixture to a temp dir first —
 * the committed bytes are read-only history.
 */
class GoldenStateSpec extends SparkSpec {

  private val golden = Paths.get("src/test/resources/golden/state_v1")

  private def copyTo(sub: String): Path = {
    val src = golden.resolve(sub)
    assert(Files.exists(src), s"golden fixture missing: $src — run " +
      "sbt 'Test/runMain graft.streaming.GoldenStateGen' ONLY for a " +
      "deliberate format migration")
    val dst = graft.TestDirs.dir(s"golden-$sub-")
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    } finally walk.close()
    dst
  }

  test("a query restarted from the frozen v1 checkpoint resumes exactly " +
    "after the committed offsets (offset JSON + commit log compatibility)") {
    // the fixture consumed g0..g9; the replay stream carries g0..g14 —
    // only the delta may arrive
    val ck = copyTo("kinesis_ck")
    val fake = new graft.sources.FakeKinesis
    graft.sources.KinesisSource.registerClient("golden-replay", fake)
    fake.push("shard-0", (0 until 15).map(i => s"g$i"): _*)
    val got = mutable.Buffer.empty[String]
    val q = spark.readStream
      .format("graft.sources.KinesisSource")
      .option("stream", "events")
      .option("client", "golden-replay")
      .load()
      .selectExpr("cast(data as string) AS v")
      .writeStream
      .option("checkpointLocation", ck.toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= df.collect().map(_.getString(0)); ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(got.sorted == (10 until 15).map(i => s"g$i").sorted.toBuffer,
      s"the frozen checkpoint must resume at g10, got: $got")
  }

  test("the frozen v1 exactly-once ledger dedups a replay, detects " +
    "divergence, and admits new batches (marker layout + signature " +
    "compatibility)") {
    val ledger = copyTo("ledger").toString
    val acked = mutable.Buffer.empty[String]
    val client = new KinesisSink.KinesisClient {
      def putRecords(s: String, recs: Seq[Array[Byte]]): Seq[Int] = {
        acked.synchronized { acked ++= recs.map(new String(_, "UTF-8")) }
        Nil
      }
    }
    val policy = KinesisSink.Policy(maxBatch = 2, sleep = _ => ())
    def rows(r: Range): Iterator[String] =
      r.iterator.map(i => s"""{"v":"g$i"}""")
    // identical replay of batches 0 and 1: every chunk marker written
    // by round-17 code must be READ as already-delivered — zero sends
    ExactlyOnceSink.deliverPartition(client, "s", policy, ledger,
      graft.model.Fs.PosixMarkerStore, rows(0 until 3), batchId = 0L, pid = 0)
    ExactlyOnceSink.deliverPartition(client, "s", policy, ledger,
      graft.model.Fs.PosixMarkerStore, rows(3 until 6), batchId = 1L, pid = 0)
    assert(acked.isEmpty,
      s"frozen markers must dedup the identical replay, re-sent: $acked")
    // a DIVERGENT replay of a committed chunk must refuse loudly —
    // the signature format inside the frozen marker is load-bearing
    val e = intercept[IllegalStateException] {
      ExactlyOnceSink.deliverPartition(client, "s", policy, ledger,
        graft.model.Fs.PosixMarkerStore,
        Iterator("""{"v":"NOT-g0"}""", """{"v":"g1"}""", """{"v":"g2"}"""),
        batchId = 0L, pid = 0)
    }
    assert(e.getMessage.contains("replay divergence"), e.getMessage)
    assert(acked.isEmpty, "a divergence check must not send")
    // an unseen batch id delivers normally next to the frozen history
    ExactlyOnceSink.deliverPartition(client, "s", policy, ledger,
      graft.model.Fs.PosixMarkerStore, rows(6 until 8), batchId = 2L, pid = 0)
    assert(acked.sorted == (6 until 8).map(i => s"""{"v":"g$i"}""").sorted.toBuffer)
  }

  test("the frozen v1 manifest artifact serves, time-travels, and accepts " +
    "new batches (manifest + snapshot-history schema compatibility)") {
    import spark.implicits._
    val dir = copyTo("lm_artifact").toString
    val art = ArtifactMaintenance.lmArtifact(dir)
    // the fixture's three batches: (a b c), (b c d), (a b), (c d e)
    val expect = Map(
      ("a", "b") -> 2L, ("b", "c") -> 2L, ("c", "d") -> 2L, ("d", "e") -> 1L)
    val served = art.serve(spark).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(served == expect, s"frozen manifest served $served")
    // snapshot history written by round-17 code must still time-travel:
    // v2 is the post-compaction baseline-only state (batches 0-1)
    val v2 = art.serveAt(spark, 2L).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(v2 == Map(("a", "b") -> 2L, ("b", "c") -> 2L, ("c", "d") -> 1L),
      s"snapshot v2 served $v2")
    // idempotent replay of a covered batch id: no-op by manifest rules
    art.applyBatch(Seq((99L, "x y")).toDF("doc_id", "text"), 2L)
    assert(art.serve(spark).collect().length == expect.size,
      "a replayed covered batch id must be skipped")
    // and a genuinely new batch commits on top of the frozen history
    art.applyBatch(Seq((5L, "e f")).toDF("doc_id", "text"), 3L)
    val after = art.serve(spark).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(after == expect + (("e", "f") -> 1L), s"after new batch: $after")
  }
}
