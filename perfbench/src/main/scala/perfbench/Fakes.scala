package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray}

import graft.model.Fs
import graft.sources.KinesisSource
import graft.streaming.KinesisSink

/** Counters of the sink and source layers. Tasks run in this JVM, so the
  * fakes below (serialized into tasks, then deserialized) all report
  * here. */
object Meters {
  val putCalls, putRecords, putNs, putRetries, backoffNs = new AtomicLong()
  val ledgerPuts, ledgerReads, ledgerNs = new AtomicLong()
  val getRecordsCalls, getRecordsNs, recordsRead = new AtomicLong()
  /** Zeroes the meters where a workload's measured window opens. */
  def reset(): Unit = Seq(putCalls, putRecords, putNs, putRetries, backoffNs,
    ledgerPuts, ledgerReads, ledgerNs, getRecordsCalls, getRecordsNs,
    recordsRead).foreach(_.set(0))

  /** Key of the addBatch span of the batch the calling task belongs to. */
  def batchParent(layers: Layers): String = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc == null) ""
    else {
      val q = tc.getLocalProperty("sql.streaming.queryId")
      val b = tc.getLocalProperty("streaming.sql.batchId")
      if (q == null || b == null) ""
      else s"${layers.streamPrefix.getOrDefault(q, q)}.b$b.addBatch"
    }
  }
  @volatile var layers: Layers = new Layers
}

/** What the sink delivered to one output stream: per event id, how many
  * times it arrived, when first, and the first payload. */
final class Delivery(val size: Int) {
  val count = new AtomicIntegerArray(size)
  val firstAckNs = new AtomicLongArray(size)
  val payload = new java.util.concurrent.atomic.AtomicReferenceArray[Array[Byte]](size)
  val outOfRange = new AtomicLong()
  val acks = new AtomicLong()

  def ack(bytes: Array[Byte], nowNs: Long): Unit = {
    val id = Delivery.eventId(bytes)
    acks.incrementAndGet()
    if (id < 0 || id >= size) outOfRange.incrementAndGet()
    else if (count.getAndIncrement(id.toInt) == 0) {
      firstAckNs.set(id.toInt, nowNs)
      payload.set(id.toInt, bytes)
    }
  }
}

object Delivery {
  private val streams = new ConcurrentHashMap[String, Delivery]()
  def open(stream: String, size: Int): Delivery = {
    val d = new Delivery(size)
    streams.put(stream, d)
    d
  }
  def apply(stream: String): Delivery = streams.get(stream)
  def close(stream: String): Unit = streams.remove(stream)

  /** The `event_id` of a record as the sink serializes it: the row's
    * JSON starts with that column. -1 when absent. */
  def eventId(b: Array[Byte]): Long = {
    val prefix = "{\"event_id\":"
    if (b.length <= prefix.length || new String(b, 0, prefix.length, "UTF-8") != prefix) -1L
    else {
      var i = prefix.length
      var v = 0L
      while (i < b.length && b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1 }
      v
    }
  }
}

/** In-memory Kinesis put transport. A seeded share of records fails once
  * (the PutRecords per-record failure), and succeeds when resent. With
  * `dropOne` it silently loses the first record it is given: the planted
  * fault the smoke check must catch. */
final class MemoryPut(failPerMille: Int, seed: Long, dropOne: Boolean)
    extends KinesisSink.KinesisClient {
  override def putRecords(stream: String, records: Seq[Array[Byte]]): Seq[Int] = {
    val t0 = System.nanoTime()
    val parent = Meters.batchParent(Meters.layers)
    val start = Clock.ms
    val d = Delivery(stream)
    val failed = Seq.newBuilder[Int]
    var i = 0
    records.foreach { r =>
      val h = java.util.Arrays.hashCode(r) * 31 + seed.hashCode
      if (Math.floorMod(h, 1000) < failPerMille && MemoryPut.failedOnce.add(r.toSeq -> stream))
        failed += i
      else if (dropOne && MemoryPut.dropped.compareAndSet(false, true)) ()
      else d.ack(r, System.nanoTime())
      i += 1
    }
    val out = failed.result()
    Meters.putCalls.incrementAndGet()
    Meters.putRecords.addAndGet(records.size)
    Meters.putRetries.addAndGet(out.size)
    Meters.putNs.addAndGet(System.nanoTime() - t0)
    Trace.add(Trace.key("put"), parent, "sink.put", start, Clock.ms, parent)
    out
  }
}

object MemoryPut {
  val failedOnce: java.util.Set[(Seq[Byte], String)] = ConcurrentHashMap.newKeySet()
  val dropped = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** Backoff sleep that also sums the time slept. */
  def sleep(ms: Long): Unit = {
    val t0 = System.nanoTime()
    Thread.sleep(ms)
    Meters.backoffNs.addAndGet(System.nanoTime() - t0)
  }
}

/** The program's POSIX ledger store, timed and counted. */
object TimedStore extends Fs.MarkerStore {
  private val inner = Fs.PosixMarkerStore
  private def timed[T](name: String, counter: AtomicLong)(body: => T): T = {
    val t0 = System.nanoTime()
    val start = Clock.ms
    try body finally {
      counter.incrementAndGet()
      Meters.ledgerNs.addAndGet(System.nanoTime() - t0)
      val parent = Meters.batchParent(Meters.layers)
      Trace.add(Trace.key(name), parent, name, start, Clock.ms, parent)
    }
  }
  override def putIfAbsent(path: Path, bytes: Array[Byte]): Option[Array[Byte]] =
    timed("ledger.put", Meters.ledgerPuts)(inner.putIfAbsent(path, bytes))
  override def read(path: Path): Option[Array[Byte]] =
    timed("ledger.read", Meters.ledgerReads)(inner.read(path))
  override def ensureDir(dir: Path): Unit = inner.ensureDir(dir)
  override def listBatches(root: Path): Seq[Long] = inner.listBatches(root)
  override def deletePrefix(prefix: Path): Unit = inner.deletePrefix(prefix)
}

/** In-memory Kinesis stream: shards of ordered records with zero-padded
  * decimal sequence numbers, one split shard with its lineage. Reads are
  * counted and timed. `advanceTo` answers from the sequence arithmetic,
  * as a GetRecords(Limit) client would, so only the readers touch
  * `getRecords`. */
final class MemoryShards(shards: Map[String, Array[Array[Byte]]],
    parents: Map[String, Seq[String]]) extends KinesisSource.KinesisShardClient {
  private def seqOf(i: Long): String = f"$i%019d"
  override def listShards(stream: String): Seq[String] = shards.keys.toSeq.sorted
  override def parentShardIds(stream: String, shardId: String): Seq[String] =
    parents.getOrElse(shardId, Seq.empty)
  override def latestSequence(stream: String, shardId: String): Option[String] =
    shards.get(shardId).filter(_.nonEmpty).map(b => seqOf(b.length - 1L))
  override def advanceTo(stream: String, shardId: String,
      afterSequence: Option[String], upToSequence: String,
      maxRecords: Int): Option[(String, Int)] = {
    val from = afterSequence.map(_.toLong + 1).getOrElse(0L)
    val to = math.min(upToSequence.toLong, from + maxRecords - 1)
    if (to < from) None else Some((seqOf(to), (to - from + 1).toInt))
  }
  override def getRecords(stream: String, shardId: String,
      afterSequence: Option[String],
      upToSequence: String): Iterator[(String, Array[Byte])] = {
    val t0 = System.nanoTime()
    val start = Clock.ms
    val buf = shards(shardId)
    val from = afterSequence.map(_.toLong + 1).getOrElse(0L).toInt
    val to = upToSequence.toInt
    val out = (from to to).iterator.map(i => (seqOf(i.toLong), buf(i))).toVector
    Meters.getRecordsCalls.incrementAndGet()
    Meters.recordsRead.addAndGet(out.size)
    Meters.getRecordsNs.addAndGet(System.nanoTime() - t0)
    val parent = Meters.batchParent(Meters.layers)
    Trace.add(Trace.key("getRecords"), parent, "source.getRecords", start, Clock.ms, parent)
    out.iterator
  }
}
