package graft

/**
 * [[Session]] is the one session factory for every main: inside a JVM
 * that already runs a session (this suite's) it adopts that session
 * as-is and never stops it, and no other main builds its own.
 */
class SessionSpec extends SparkSpec {

  test("run adopts the live session, returns the body's value and leaves " +
    "the session running, even when the body throws") {
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    assert(Session.run(partitions = 32) { s => assert(s eq spark); 42 } == 42)
    val e = intercept[IllegalStateException] {
      Session.run() { _ => throw new IllegalStateException("body failed") }
    }
    assert(e.getMessage == "body failed")
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions,
      "an adopted session keeps its owner's settings")
  }

  test("SparkSession.builder() appears exactly once under src/main") {
    val files = MainSources.files
    assert(files.size > 50, s"source walk found only ${files.size} files")
    val builder = java.util.regex.Pattern.quote("SparkSession.builder()").r
    val hits = files.flatMap { p =>
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      Seq.fill(builder.findAllMatchIn(txt).size)(MainSources.root.relativize(p).toString)
    }
    assert(hits == Seq("graft/Session.scala"), s"builders: $hits")
  }
}
