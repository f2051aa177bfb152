package graft.streaming

import graft.SparkSpec
import graft.sources.KinesisSource
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The reference's E1 lifecycle (SURVEY §3), end-to-end in one spec:
 * client `POST /start {"job_name": ...}` over real HTTP → auth check →
 * per-entity fan-out of ALL FIVE entity streams — contacts
 * (hs_contacts.py:156-174) plus the four engagement types
 * (hs_engagements.py:162-179: tasks, calls, meetings, emails) — each a
 * named StreamingQuery reading the Kinesis test source and putting to
 * the Kinesis test sink (the put the reference left as a comment,
 * hs_contacts.py:118-123) → `/check` reports them running → `/stop` →
 * a restarted `/start` resumes from the checkpoints: only the delta
 * flows, nothing replays, nothing is lost.
 *
 * Every piece exists and is spec'd in isolation (ControlServerSpec,
 * MicroBatchSpec, KinesisSourceSpec, SinksAndControlSpec); this wires
 * them into the reference's actual path shape.
 */
class E1LifecycleSpec extends SparkSpec {

  private val key = "sekrit-token"
  private val http = HttpClient.newHttpClient()
  private def post(port: Int, path: String, body: String): HttpResponse[String] = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("x-api-key", key)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    http.send(req, HttpResponse.BodyHandlers.ofString())
  }

  /** In-memory Kinesis shards (KinesisSourceSpec's fake): zero-padded
    * decimal sequence numbers, opaque to the connector. */
  private final class FakeKinesis extends KinesisSource.KinesisShardClient {
    private val shards =
      mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Array[Byte]]]
    def push(shard: String, values: String*): Unit = synchronized {
      val buf = shards.getOrElseUpdate(shard, mutable.ArrayBuffer.empty)
      values.foreach(v => buf += v.getBytes("UTF-8"))
    }
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
      (from to upToSequence.toLong).map(i => (seqOf(i), buf(i.toInt))).toVector.iterator
    }
  }

  /** The CRM change feed as an [[MicroBatch.EventSource]]: the Kinesis
    * source connector carrying JSON envelopes, parsed to the event
    * shape the ingestion pipeline expects (one feed keyed by
    * `event_type` — the documented W6 mapping). */
  private final class KinesisEventSource(stream: String, clientName: String)
      extends MicroBatch.EventSource {
    def load(spark: SparkSession): DataFrame =
      spark.readStream
        .format("graft.sources.KinesisSource")
        .option("stream", stream).option("client", clientName).load()
        .select(from_json(col("data").cast("string"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "event_id LONG, ts STRING, event_type STRING, value DOUBLE, props STRING"))
          .as("r"))
        .select(col("r.event_id"), col("r.ts").cast("timestamp").as("ts"),
          col("r.event_type"), col("r.value"), col("r.props"))
  }

  private def rec(id: Long, et: String): String =
    s"""{"event_id":$id,"ts":"2026-01-01 00:00:00","event_type":"$et","value":1.0,"props":"{}"}"""

  private val Contacts = Seq("contacts")
  private val Engagements = Seq("tasks", "calls", "meetings", "emails")
  private val All = Contacts ++ Engagements

  test("E1: /start fans out five entity streams; /check runs; /stop; restart resumes") {
    val fake = new FakeKinesis
    KinesisSource.registerClient("e1-src", fake)
    E1Recorder.clear()
    val ckRoot = graft.TestDirs.dir("e1-ck").toString
    val source = new KinesisEventSource("crm_feed", "e1-src")
    val sinkClient = new RecordingKinesisClient

    // the change feed before the jobs start: 3 records per entity
    All.zipWithIndex.foreach { case (et, i) =>
      fake.push(s"shard-$et", (0 until 3).map(n => rec(i * 100L + n, et)): _*)
    }

    // the injected launcher IS the module boundary: "hs_contacts"
    // fans out one entity stream, "hs_engagements" four — exactly the
    // process fan-out of the two reference modules
    def fanout(ets: Seq[String]): Unit = {
      MicroBatch.fanout(source, spark, ets,
        et => new KinesisSink.KinesisEventSink(sinkClient, s"firehose_$et"),
        ckRoot, properties = Seq("value"))
      ()
    }
    val launcher: String => Boolean = {
      case "hs_contacts"    => fanout(Contacts); true
      case "hs_engagements" => fanout(Engagements); true
      case _                => false
    }
    val srv = ControlServer.start(spark, key, launcher)
    def entityQueries = spark.streams.active.filter(_.name.startsWith("ingest_"))
    try {
      // POST /start, one per reference module (app.py:62-83)
      assert(post(srv.port, "/start", """{"job_name": "hs_contacts"}""")
        .statusCode() == 200)
      assert(post(srv.port, "/start", """{"job_name": "hs_engagements"}""")
        .statusCode() == 200)
      assert(entityQueries.map(_.name).toSet == All.map("ingest_" + _).toSet,
        "all five entity streams must be live after the two starts")
      entityQueries.foreach(_.processAllAvailable())

      // /check over HTTP shows every entity stream running
      All.foreach { et =>
        val r = post(srv.port, "/check", s"""{"job_name": "ingest_$et"}""")
        assert(r.statusCode() == 200 && r.body().contains("\"isActive\": true"),
          s"$et: ${r.body()}")
      }

      // the data plane delivered: each entity's records reached ITS
      // firehose stream (fan-out isolation), nothing crossed over
      All.zipWithIndex.foreach { case (et, i) =>
        val got = E1Recorder.ids(s"firehose_$et")
        assert(got == (0 until 3).map(i * 100L + _).toSet,
          s"$et delivered $got")
      }

      // a second /start of a live module: idempotent echo, no
      // double-launch (the facade translates the duplicate-name
      // rejection), stream count unchanged
      assert(post(srv.port, "/start", """{"job_name": "hs_contacts"}""")
        .statusCode() == 200)
      assert(entityQueries.length == All.size)

      // /stop every entity stream over HTTP
      All.foreach { et =>
        val r = post(srv.port, "/stop", s"""{"job_name": "ingest_$et"}""")
        assert(r.statusCode() == 200 && r.body().contains("ended"), r.body())
      }
      assert(entityQueries.isEmpty)

      // while down: the feed moves on (2 new records per entity)
      All.zipWithIndex.foreach { case (et, i) =>
        fake.push(s"shard-$et", (3 until 5).map(n => rec(i * 100L + n, et)): _*)
      }

      // restart through the same control path: checkpointed offsets
      // resume — ONLY the delta flows, no replay, no loss (W2 fixed;
      // the reference would have re-read from its crash-time window)
      assert(post(srv.port, "/start", """{"job_name": "hs_contacts"}""")
        .statusCode() == 200)
      assert(post(srv.port, "/start", """{"job_name": "hs_engagements"}""")
        .statusCode() == 200)
      entityQueries.foreach(_.processAllAvailable())
      All.zipWithIndex.foreach { case (et, i) =>
        val got = E1Recorder.ids(s"firehose_$et")
        assert(got == (0 until 5).map(i * 100L + _).toSet,
          s"$et after restart delivered $got")
        assert(E1Recorder.count(s"firehose_$et") == 5,
          s"$et: a record replayed or was double-put across the restart")
      }
      All.foreach { et =>
        assert(post(srv.port, "/stop", s"""{"job_name": "ingest_$et"}""")
          .statusCode() == 200)
      }
    } finally {
      srv.stop()
      entityQueries.foreach(_.stop())
    }
  }
}

/** JVM-singleton record of Kinesis sink puts, visible from executor
  * threads (local mode) — same pattern as TestCounters. */
object E1Recorder {
  private val puts = new ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()
  def add(stream: String, v: String): Unit =
    puts.computeIfAbsent(stream, _ => new ConcurrentLinkedQueue[String]()).add(v)
  def count(stream: String): Int =
    Option(puts.get(stream)).map(_.size).getOrElse(0)
  def ids(stream: String): Set[Long] = {
    val q = puts.get(stream)
    if (q == null) Set.empty
    else {
      val b = Set.newBuilder[Long]
      q.forEach { s =>
        """"event_id":(\d+)""".r.findFirstMatchIn(s).foreach(m => b += m.group(1).toLong)
      }
      b.result()
    }
  }
  def clear(): Unit = puts.clear()
}

/** Serializable sink transport recording every put into [[E1Recorder]];
  * every record succeeds. */
final class RecordingKinesisClient extends KinesisSink.KinesisClient {
  def putRecords(stream: String, records: Seq[Array[Byte]]): Seq[Int] = {
    records.foreach(r => E1Recorder.add(stream, new String(r, "UTF-8")))
    Seq.empty
  }
}
