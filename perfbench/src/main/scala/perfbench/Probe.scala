package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = ofNanos(System.nanoTime())
  def ofNanos(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
}

/** One timed interval of the traced run. Parents are named by key, so a
  * span can point at a parent that is only recorded later (a streaming
  * batch is known only when its progress event arrives). */
final case class Span(key: String, parent: String, name: String,
    start: Double, end: Double, req: String)

/** In-memory span store of the traced run; a no-op when tracing is off.
  * The time spent inside `add` is summed so the run can report what the
  * tracing itself cost. */
object Trace {
  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private val seq = new AtomicLong()
  val bookkeepingNs = new AtomicLong()

  def key(prefix: String): String = s"$prefix#${seq.incrementAndGet()}"

  def add(key: String, parent: String, name: String, start: Double,
      end: Double, req: String): Unit = if (on) {
    val t0 = System.nanoTime()
    spans.synchronized { spans += Span(key, parent, name, start, end, req) }
    bookkeepingNs.addAndGet(System.nanoTime() - t0)
  }

  /** Times `body` as a span; returns its value. */
  def timed[T](key: String, parent: String, name: String, req: String)(
      body: => T): T = {
    val t0 = Clock.ms
    try body finally add(key, parent, name, t0, Clock.ms, req)
  }

  /** Parent of a span whose parent is known only by time: the planning
    * phases, reported by an asynchronous listener after the fact. */
  val ByTime = "@time"

  /** Every span, with by-time parents resolved to the innermost
    * construct/execute span that contains the span's start. */
  def all: Seq[Span] = {
    val ss = spans.synchronized(spans.toList)
    val phases = ss.filter(s => s.name == "construct" || s.name == "execute")
    ss.map { s =>
      if (s.parent != ByTime) s
      else {
        val p = phases.filter(p => p.start <= s.start && s.start <= p.end).sortBy(-_.start)
          .headOption
        s.copy(parent = p.map(_.key).getOrElse(""), req = p.map(_.req).getOrElse(""))
      }
    }
  }

  /** Per span name: count, total seconds and self seconds (duration minus
    * the part of it that its direct children cover). */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    def covered(s: Span): Double = {
      var total, curS, curE = 0.0
      var open = false
      children.getOrElse(s.key, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (a, b) =>
          if (open && a <= curE) curE = math.max(curE, b)
          else { if (open) total += curE - curS; curS = a; curE = b; open = true }
        }
      if (open) total += curE - curS
      total
    }
    ss.groupBy(_.name).toSeq.map { case (n, g) =>
      val total = g.map(s => s.end - s.start).sum
      val self = g.map(s => (s.end - s.start) - covered(s)).sum
      (n, g.size, total / 1000, self / 1000)
    }.sortBy(-_._4)
  }

  def json: String = all.map { s =>
    f"""{"key":${Json.str(s.key)},"parent":${Json.str(s.parent)},"name":${Json.str(s.name)},""" +
      f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"req":${Json.str(s.req)}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Counters of the scheduler, executor and shuffle layers, read as
  * differences between two snapshots. */
final case class Counts(jobs: Long, stages: Long, tasks: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long, analysisMs: Double, optimizeMs: Double,
    planMs: Double) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, analysisMs - o.analysisMs, optimizeMs - o.optimizeMs,
    planMs - o.planMs)
}

/** Listens on Spark's public listener interfaces: the scheduler
  * (`SparkListener`), batch query planning (`QueryExecutionListener`)
  * and streaming progress (`StreamingQueryListener`). */
final class Layers extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks, runMs, cpuNs, gcMs = new AtomicLong()
  private val shWrite, shRead, spill = new AtomicLong()
  private val analysis, optimize, plan = new DoubleAdder()
  /** (launch ms, finish ms) of every ended task. */
  private val taskSpans = ArrayBuffer.empty[(Long, Long)]
  /** Shuffle bytes read by each task, per stage that read any. */
  private val stageReads = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobParent = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  /** Maps a streaming query id to the key prefix of its batch spans. */
  val streamPrefix = new ConcurrentHashMap[String, String]()

  def counts: Counts = Counts(jobs.get, stages.get, tasks.get, runMs.get,
    cpuNs.get, gcMs.get, shWrite.get, shRead.get, spill.get,
    analysis.sum, optimize.sum, plan.sum)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    val props = Option(e.properties)
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    val qid = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    val parent = (qid, batch) match {
      case (Some(q), Some(b)) => s"${streamPrefix.getOrDefault(q, q)}.b$b.addBatch"
      case _ => props.flatMap(p => Option(p.getProperty(Layers.SpanProp))).getOrElse("")
    }
    jobParent.put(e.jobId, parent)
    if (Trace.on) jobStart.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (Trace.on) {
    val t0 = Option(jobStart.remove(e.jobId)).map(_.toDouble).getOrElse(e.time.toDouble)
    Trace.add(s"job${e.jobId}", jobParent.getOrDefault(e.jobId, ""), "job",
      t0, e.time.toDouble, jobParent.getOrDefault(e.jobId, ""))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val si = e.stageInfo
    if (Trace.on) for (s <- si.submissionTime; c <- si.completionTime) {
      val job = stageJob.getOrDefault(si.stageId, -1)
      Trace.add(s"stage${si.stageId}.${si.attemptNumber()}", s"job$job",
        "stage", s.toDouble, c.toDouble, jobParent.getOrDefault(job, ""))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val info = e.taskInfo
    taskSpans.synchronized { taskSpans += ((info.launchTime, info.finishTime)) }
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      val read = m.shuffleReadMetrics.totalBytesRead
      shRead.addAndGet(read)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      if (m.shuffleReadMetrics.remoteBlocksFetched + m.shuffleReadMetrics.localBlocksFetched > 0)
        stageReads.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
          .synchronized { stageReads.get(e.stageId) += read }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def add(name: String, acc: DoubleAdder, spanName: String): Unit =
      ph.get(name).foreach { p =>
        acc.add((p.endTimeMs - p.startTimeMs).toDouble)
        Trace.add(Trace.key(spanName), Trace.ByTime, spanName,
          p.startTimeMs.toDouble, p.endTimeMs.toDouble, "")
      }
    add("analysis", analysis, "analysis")
    add("optimization", optimize, "optimize")
    add("planning", plan, "plan")
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Seconds inside `windows` (epoch-ms intervals) during which no task
    * was running. */
  def idleSeconds(windows: Seq[(Double, Double)]): Double = {
    val ts = taskSpans.synchronized(taskSpans.toList).sortBy(_._1)
    windows.map { case (w0, w1) =>
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      ts.foreach { case (s0, e0) =>
        val s = math.max(s0.toDouble, w0)
        val e = math.min(e0.toDouble, w1)
        if (e > s) {
          if (curS.isNaN || s > curE) {
            if (!curS.isNaN) covered += curE - curS
            curS = s; curE = e
          } else curE = math.max(curE, e)
        }
      }
      if (!curS.isNaN) covered += curE - curS
      (w1 - w0 - covered) / 1000
    }.sum
  }

  /** Median, over stages that read shuffle data, of the largest task
    * read over the mean task read (1 = perfectly even). */
  def shuffleSkew: Double = {
    val ratios = stageReads.values.asScala.toSeq.flatMap { rs =>
      val xs = rs.synchronized(rs.toList)
      val mean = xs.sum.toDouble / xs.size
      if (xs.size > 1 && mean > 0) Some(xs.max / mean) else None
    }
    Stats.median(ratios)
  }
  def resetSkew(): Unit = stageReads.clear()
}

object Layers {
  /** Local property naming the span that jobs launched by this thread
    * belong to. */
  val SpanProp = "perfbench.span"
}

/** Streaming progress of every query, as the engine reports it. */
final class Progress extends StreamingQueryListener {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(queryId: java.util.UUID): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    events.asScala.filter(_.id == queryId).toSeq
      .filter(_.durationMs.containsKey("addBatch")).sortBy(_.batchId)
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
