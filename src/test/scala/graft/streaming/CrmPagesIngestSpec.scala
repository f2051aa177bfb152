package graft.streaming

import graft.SparkSpec
import graft.sources.{CrmPages, CrmPagesMicroBatchStream, CrmPagesSource, PageOffset}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.jdk.CollectionConverters._

/** The ingest loop end to end — CRM pages → dedup pipeline → ledgered
  * exactly-once sink — across failures and restarts from the checkpoint. */
class CrmPagesIngestSpec extends SparkSpec {

  private val perPage = 10

  /** One page envelope of `perPage` records, ids from `page * perPage`. */
  private def pageJson(page: Int): String = {
    val recs = (0 until perPage).map { i =>
      val id = page * perPage + i
      s"""{"event_id":$id,"ts_ms":${1700000000000L + id},"event_type":"view",""" +
        s""""value":$i.5,"props":"p$id"}"""
    }
    s"""{"total":$perPage,"min_ts_ms":${1700000000000L + page * perPage},""" +
      s""""max_ts_ms":${1700000000000L + page * perPage + perPage - 1},""" +
      s""""results":[${recs.mkString(",")}]}"""
  }

  private def writePage(dir: Path, page: Int, body: String): Unit =
    Files.writeString(dir.resolve(f"page-$page%05d.json"), body)

  /** One run of the ingest pipeline over `dir` until the pages present
    * at start are consumed; fails as the query fails. */
  private def ingest(dir: Path, ck: Path, ledger: Path): Unit = {
    val events = spark.readStream.format("graft.sources.CrmPagesSource")
      .load(dir.toString)
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val sink = new ExactlyOnceSink.ExactlyOnceEventSink(CrmIngestAcks.client,
      "crm", KinesisSink.Policy(maxBatch = 8, sleep = _ => ()), ledger.toString)
    val q: StreamingQuery = MicroBatch.start(
      MicroBatch.incrementalPipeline(events, Seq("value", "props")),
      sink, ck.toString, "crm_ingest_spec", Trigger.AvailableNow())
    try q.awaitTermination()
    finally q.stop()
  }

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).toSeq

  private def assertExactlyOnce(ids: Range): Unit = {
    val counts = CrmIngestAcks.acks.asScala.map { case (k, v) => (k.longValue, v.intValue) }
    assert(counts.keySet == ids.map(_.toLong).toSet,
      s"lost: ${ids.map(_.toLong).filterNot(counts.contains)}, " +
        s"extra: ${counts.keySet.filterNot(k => ids.contains(k.toInt))}")
    assert(counts.values.forall(_ == 1),
      s"duplicated: ${counts.filter(_._2 != 1)}")
  }

  test("a truncated page fails its micro-batch naming the page; repaired, " +
    "the restart delivers every record exactly once") {
    CrmIngestAcks.acks.clear()
    val dir = graft.TestDirs.dir("crm-ingest-bad")
    val ck = graft.TestDirs.dir("crm-ingest-bad-ck")
    val ledger = graft.TestDirs.dir("crm-ingest-bad-ledger")
    (0 until 2).foreach(p => writePage(dir, p, pageJson(p)))
    ingest(dir, ck, ledger)
    assertExactlyOnce(0 until 2 * perPage)
    // page 2 caught half written, page 3 whole: the batch must fail, not
    // read page 2 as empty and move the page-count offset past it
    writePage(dir, 2, pageJson(2).take(pageJson(2).length / 2))
    writePage(dir, 3, pageJson(3))
    val e = intercept[Exception](ingest(dir, ck, ledger))
    assert(messages(e).exists(_.contains("page-00002.json")),
      s"the failure must name the page: ${messages(e)}")
    writePage(dir, 2, pageJson(2))
    ingest(dir, ck, ledger)
    assertExactlyOnce(0 until 4 * perPage)
  }

  test("exactly-once across regrouping: a batch crashed after an ack on one " +
    "read task replays on four without divergence or loss") {
    CrmIngestAcks.acks.clear()
    val dir = graft.TestDirs.dir("crm-ingest-regroup")
    val ck = graft.TestDirs.dir("crm-ingest-regroup-ck")
    val ledger = graft.TestDirs.dir("crm-ingest-regroup-ledger")
    val pages = 20
    (0 until pages).foreach(p => writePage(dir, p, pageJson(p)))
    val key = "spark.sql.files.minPartitionNum"
    def planned(n: Int): Seq[Seq[String]] = {
      spark.conf.set(key, n.toLong)
      new CrmPagesMicroBatchStream(dir.toString, CrmPagesSource.Schema, Array.empty)
        .planInputPartitions(PageOffset(0), PageOffset(pages))
        .toSeq.map { case CrmPages(files) => files }
    }
    val crashes = new java.util.concurrent.atomic.AtomicInteger()
    try {
      // the regrouping is real: four read tasks on replay, one first
      assert(planned(4).size == 4)
      assert(planned(1).size == 1)
      spark.conf.set(key, 1L)
      // every sink partition dies after its second chunk is acked and
      // marked, so the replay must match both markers of every partition
      ExactlyOnceSink.crashPoint = l =>
        if (l == "marker-committed:1") {
          crashes.incrementAndGet()
          throw new RuntimeException("crashed after an acked chunk (injected)")
        }
      val e = intercept[Exception](ingest(dir, ck, ledger))
      assert(messages(e).exists(_.contains("injected")), messages(e))
      assert(crashes.get() > 0)
      ExactlyOnceSink.crashPoint = _ => ()
      spark.conf.set(key, 4L)
      ingest(dir, ck, ledger) // a divergence would fail this run
    } finally {
      ExactlyOnceSink.crashPoint = _ => ()
      spark.conf.unset(key)
    }
    assertExactlyOnce(0 until pages * perPage)
  }
}

/** Acks per event id, in a JVM singleton: the sink's client is serialized
  * into tasks, so captured instance state would never be seen here. */
object CrmIngestAcks {
  val acks = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Integer]()
  private val Id = "\"event_id\":(\\d+)".r.unanchored
  val client: KinesisSink.KinesisClient = new KinesisSink.KinesisClient {
    def putRecords(s: String, recs: Seq[Array[Byte]]): Seq[Int] = {
      recs.foreach { r =>
        new String(r, "UTF-8") match {
          case Id(id) => acks.merge(id.toLong, 1, _ + _)
          case other  => throw new IllegalStateException(s"no event_id in $other")
        }
      }
      Nil
    }
  }
}
