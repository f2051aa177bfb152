package graft

import org.apache.spark.sql.SparkSession

/**
 * The one session factory for every main in this project: Bench,
 * Verify, ABBench, ConcurrentServe, MakeScale, LayoutMeasure,
 * PlanShapes and Profile all run their body through [[run]], so a
 * plan a tool prints is a plan the engine runs.
 *
 * A created session is `local[cores]` (`SPARK_GRAFT_CPUS`, or every
 * core the JVM sees), UTC, UI off, log level WARN, with the engine's
 * extensions installed through `spark.sql.extensions` exactly as a
 * deployed session carries them. Its managed tables (the
 * bucketed-layout queries land two fact tables) go to a temp
 * warehouse that is deleted after the session stops, so no run leaves
 * a table copy behind in `java.io.tmpdir`.
 *
 * The periodic cleaner GC is off (24 h). A timer-driven full GC lands
 * inside timed regions (measured on Bench: a 2-minute interval
 * inflated the suite total 89 s -> 108 s, scattering multi-second
 * spikes onto whichever queries the timer hit), so the timed mains
 * release dead checkpoint pins by an explicit `System.gc()` between
 * queries, where no clock is running. Verify leaves them to the JVM's
 * own collections: at sf0.01 on 4 cores its run ends with the same 19
 * persisted RDDs either way, and a `System.gc()` per query made it
 * 35-45% slower.
 *
 * When a session is already active (a main called from a test JVM),
 * the body runs on that session unchanged and it keeps running
 * afterwards: only a session this factory created is stopped.
 *
 * The test suites build their own session (`graft.TestSpark`): it
 * installs the extensions through `experimental` instead, so that
 * `newSession()` baselines in the TopK specs stay vanilla.
 */
object Session {

  /** Local cores for a created session. */
  private val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /**
   * Loan a session to `body` and return its value.
   *
   * @param partitions `spark.sql.shuffle.partitions`; the plan tools
   *                   pin 32 because partition counts render into
   *                   plan fingerprints
   * @param fair       FAIR scheduler, for callers that give each
   *                   thread its own pool
   */
  def run[T](partitions: Int = cores, fair: Boolean = false)(
      body: SparkSession => T): T =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(adopted) => body(adopted)
      case None =>
        val warehouse = java.nio.file.Files.createTempDirectory("graft-warehouse")
        try {
          val spark = SparkSession.builder()
            .master(s"local[$cores]")
            .config("spark.sql.shuffle.partitions", partitions)
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.scheduler.mode", if (fair) "FAIR" else "FIFO")
            .config("spark.sql.warehouse.dir", warehouse.toString)
            .config("spark.cleaner.periodicGC.interval", "24h")
            .config("spark.sql.extensions", "graft.functions.GraftExtensions")
            .getOrCreate()
          try {
            spark.sparkContext.setLogLevel("WARN")
            body(spark)
          } finally spark.stop()
        } finally graft.model.Fs.deleteRecursively(warehouse)
    }
}
