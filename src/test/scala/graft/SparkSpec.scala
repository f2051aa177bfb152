package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        TestDirs.dir("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the shared suite session carries the full engine (strategy +
    // optimizer rule), matching the sessions graft.Session builds for
    // every main (`spark.sql.extensions`). Installed via
    // `experimental` rather than the extensions config so that
    // `newSession()` baselines in the TopK specs stay genuinely
    // vanilla — builder-config extensions would propagate to every
    // new session.
    graft.plans.TopK.ensureOptimizations(s)
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

/** Temp dirs and files for specs, made under `java.io.tmpdir` and
  * deleted, whole trees, when the test JVM exits — so a suite run
  * leaves no warehouses, checkpoints or fixtures behind. */
object TestDirs {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    made.forEach { p =>
      try graft.model.Fs.deleteRecursively(p)
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => }
    }))

  def dir(prefix: String): Path = track(Files.createTempDirectory(prefix))

  def file(prefix: String, suffix: String): Path =
    track(Files.createTempFile(prefix, suffix))

  private def track(p: Path): Path = { made.add(p); p }
}

/** The `.scala` files under `src/main/scala`, for specs that scan the
  * source (run from the repo root). */
object MainSources {
  val root: Path = java.nio.file.Paths.get("src/main/scala")

  def files: List[Path] = {
    val walk = Files.walk(root)
    try {
      val it = walk.iterator()
      val b = List.newBuilder[Path]
      while (it.hasNext) { val p = it.next(); if (p.toString.endsWith(".scala")) b += p }
      b.result()
    } finally walk.close()
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf
}
