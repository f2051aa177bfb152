package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run measured. `metrics` are the end-to-end figures, `layers`
  * the per-layer ones of a traced run; `checks` name the query results
  * the launcher compares against DuckDB. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  val checks = mutable.ArrayBuffer.empty[(String, String, String)]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String, samples: Int): Unit =
    metrics(name) = (value, unit, samples)
  def layer(name: String, value: Double, unit: String): Unit =
    layers(name) = (value, unit)
  def note(s: String): Unit = { notes += s; println(s"[perfbench] $s") }

  def json: String = {
    val m = metrics.map { case (k, (v, u, n)) =>
      s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}, "samples": $n}"""
    }.mkString("{", ", ", "}")
    val l = layers.map { case (k, (v, u)) =>
      s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString("{", ", ", "}")
    val c = checks.map { case (q, dir, sql) =>
      s"""{"query": ${Json.str(q)}, "dir": ${Json.str(dir)}, "sql": ${Json.str(sql)}}"""
    }.mkString("[", ", ", "]")
    s"""{"attempted": $attempted, "failed": $failed, "metrics": $m, "layers": $l, """ +
      s""""checks": $c, "notes": ${notes.map(Json.str).mkString("[", ", ", "]")}}"""
  }
}

/** Options of one run, passed by the launcher (perfbench/run.py). */
final case class Cfg(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, fixture: String, smoke: Boolean, fault: String, rate: Int) {
  def path(rel: String): String = s"$work/$rel"
}

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Cfg(
      workload = kv("workload"), seed = kv("seed").toLong,
      seconds = kv("seconds").toInt, trace = kv.get("trace").contains("1"),
      work = kv("work"), fixture = kv.getOrElse("fixture", ""),
      smoke = kv.get("smoke").contains("1"), fault = kv.getOrElse("fault", "none"),
      rate = kv.getOrElse("rate", "1000").toInt)
    val report = new Report
    val spark = session(cfg)
    report.note(f"session ready ${sinceStart}%.2f s after JVM start")
    val layers = new Layers
    val progress = new Progress
    Meters.layers = layers
    // Counts come from the listeners; both modes register them, so the
    // listener cost is the same in measured and traced runs. Only span
    // recording depends on --trace.
    spark.sparkContext.addSparkListener(layers)
    spark.listenerManager.register(layers)
    spark.streams.addListener(progress)
    Trace.on = cfg.trace
    val t0 = Clock.ms
    try {
      cfg.workload match {
        case "ingest-live" => Ingest.live(cfg, spark, layers, progress, report)
        case "kinesis-backfill" => Ingest.backfill(cfg, spark, layers, progress, report)
        case "serve-small" => Serve.run(cfg, spark, layers, report)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      val offHeapMb = vmHwmMb - mem.getCommitted / MB
      report.metric("peak_mem_mb", offHeapMb + liveHeapMax / MB, "MB", 1)
      report.note(f"memory: VmHWM ${vmHwmMb}%.0f MB, committed heap ${mem.getCommitted / MB}%.0f MB, " +
        f"largest live heap ${liveHeapMax / MB}%.0f MB")
      Trace.add("workload", "", "workload", t0, Clock.ms, cfg.workload)
      if (cfg.trace) {
        val wall = (Clock.ms - startMs) / 1000
        report.layer("trace.spans", Trace.all.size.toDouble, "count")
        report.layer("trace.overhead", Trace.bookkeepingNs.get / 1e9 / wall, "ratio")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(cfg.path(s"trace-${cfg.workload}-${cfg.seed}.json")), Trace.json)
        Trace.selfTimes.take(12).foreach { case (n, c, total, self) =>
          report.note(f"span $n%-22s n=$c%6d total=$total%9.3f s self=$self%9.3f s")
        }
      }
    } finally {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(cfg.path("result.json")), report.json)
      spark.stop()
    }
  }

  val startMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** Seconds from JVM start until now. */
  def sinceStart: Double = (System.currentTimeMillis() - startMs) / 1000

  private val MB = 1024.0 * 1024

  /** Largest heap occupancy right after a full collection, in bytes. */
  @volatile private var liveHeapMax = 0L

  /** Collects fully and records the heap still in use: the memory the run
    * holds live at that point. Called at fixed points, off the clock. */
  def markLiveHeap(): Unit = {
    System.gc()
    liveHeapMax = math.max(liveHeapMax, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  /** Peak resident set of the process (VmHWM), in MB. */
  def vmHwmMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** The session `graft.Bench` builds: engine extensions, one task slot
    * and one shuffle partition per core, UTC, no periodic GC. Scratch
    * state stays inside the work directory. */
  def session(cfg: Cfg): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", cfg.path("warehouse"))
      .config("spark.local.dir", cfg.path("tmp"))
      .config("spark.cleaner.periodicGC.interval", "24h")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
