package graft.llm


import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The cache-lifecycle disciplines ModelCache documents:
  * train-once/serve-many, the [[ModelCache.invalidate]]
  * corpus-retirement path (multi-tenant sessions cycle corpora and
  * must actually release + rebuild), single-flight concurrent builds,
  * and failed builds retiring instead of poisoning their key. */
class ModelCacheSpec extends SparkSpec {

  private def corpus = graft.model.Tables.documents(spark, sf)

  test("memoIndex: second call serves the cached pin; invalidate() rebuilds fresh") {
    ModelCache.invalidate()
    val builds = new AtomicInteger(0)
    def serve() = ModelCache.memoIndex(corpus, "spec-invalidate") {
      builds.incrementAndGet()
      graft.ops.GlobalOrder.pin(
        corpus.groupBy(col("source")).agg(count(lit(1)).as("n")))
    }
    val first = serve()
    assert(builds.get() == 1)
    val second = serve()
    assert(builds.get() == 1, "cache hit must not rebuild")
    assert(second eq first, "hit must return the SAME pinned frame")
    ModelCache.invalidate()
    val third = serve()
    assert(builds.get() == 2, "invalidate() must force a rebuild")
    assert(!(third eq first), "post-invalidate build must be a fresh pin")
    assert(third.collect().toSet == first.collect().toSet,
      "rebuild is bit-identical by construction")
    ModelCache.invalidate()
  }

  test("concurrent same-key builds are SINGLE-FLIGHT: one build runs, the " +
    "waiter shares its value, no orphaned checkpoint blocks") {
    // round-17 (concurrent-serve audit): a fair-scheduler warehouse
    // serving q260 and q267 together must not pay the doc-scores
    // build twice — the second consumer WAITS on the first's future
    ModelCache.invalidate()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val builds = new AtomicInteger(0)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    def serve() = ModelCache.memoIndex(corpus, "spec-singleflight") {
      builds.incrementAndGet()
      entered.countDown()
      // hold the build open until the spec has a second consumer
      // provably waiting — the single-flight window is forced, not
      // hoped for
      assert(release.await(60, java.util.concurrent.TimeUnit.SECONDS))
      graft.ops.GlobalOrder.pin(
        corpus.groupBy(col("lang")).agg(count(lit(1)).as("n")))
    }
    val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val t1 = new Thread(() => results.add(serve()))
    t1.start()
    assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
    val t2 = new Thread(() => results.add(serve()))
    t2.start()
    Thread.sleep(300) // t2 is now parked on the in-flight future
    release.countDown()
    t1.join(60000); t2.join(60000)
    assert(results.size == 2)
    assert(builds.get() == 1,
      s"single-flight must run the build ONCE, ran ${builds.get()}")
    val rs = results.toArray
    assert(rs(0) eq rs(1), "waiter must receive the builder's exact value")
    // exactly the winner's pin persists — nothing orphaned to leak
    val extra = sc.getPersistentRDDs.size - before
    assert(extra <= 1, s"leaked checkpoint blocks: $extra new persistent RDDs")
    ModelCache.invalidate()
  }

  test("releasePin unpersists a discarded pin's checkpoint blocks (the " +
    "putIfAbsent-loser path, pinned directly since single-flight makes " +
    "the race window non-deterministic to drive end-to-end)") {
    ModelCache.invalidate()
    val sc = spark.sparkContext
    // track the pin's OWN rdd ids, not counts — a prior test's async
    // unpersist can retire its blocks mid-test and skew any counting
    val before = sc.getPersistentRDDs.keySet
    val pin = graft.ops.GlobalOrder.pin(
      corpus.groupBy(col("source")).agg(count(lit(1)).as("n")))
    val mine = sc.getPersistentRDDs.keySet -- before
    assert(mine.nonEmpty,
      "a pin must hold checkpointed blocks for this test to mean anything")
    ModelCache.releasePin(pin)
    // unpersist is async — poll until every id the pin added is gone
    val deadline = System.nanoTime() + 10e9.toLong
    def remaining = sc.getPersistentRDDs.keySet intersect mine
    while (remaining.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(remaining.isEmpty, s"releasePin leaked rdd ids: $remaining")
    ModelCache.invalidate()
  }

  test("same-key build re-entrancy fails LOUD instead of deadlocking the " +
    "single-flight wait") {
    ModelCache.invalidate()
    def recurse(): org.apache.spark.sql.DataFrame =
      ModelCache.memoIndex(corpus, "spec-reentrant") {
        recurse() // a build that (transitively) demands its own key
      }
    val e = intercept[IllegalStateException] { recurse() }
    assert(e.getMessage.contains("recursive memo build"), e.getMessage)
    // the failed attempt must not poison the key (promise retired)
    val v = ModelCache.memoIndex(corpus, "spec-reentrant") {
      graft.ops.GlobalOrder.pin(
        corpus.groupBy(col("source")).agg(count(lit(1)).as("n")))
    }
    assert(v.collect().nonEmpty)
    ModelCache.invalidate()
  }

  test("memo rejects a Dataset result and names memoIndex, the frame path") {
    ModelCache.invalidate()
    val e = intercept[IllegalArgumentException] {
      ModelCache.memo(corpus, "spec-memo-frame") {
        corpus.groupBy(col("source")).agg(count(lit(1)).as("n"))
      }
    }
    assert(e.getMessage.contains("memoIndex"), e.getMessage)
    // the rejected build retired its key: a driver-side model still builds
    assert(ModelCache.memo(corpus, "spec-memo-frame")(Array(1, 2)).toSeq == Seq(1, 2))
    ModelCache.invalidate()
  }

  test("a FAILED build is not cached: the waiter and later callers retry") {
    ModelCache.invalidate()
    val builds = new AtomicInteger(0)
    def serve(failFirst: Boolean) =
      ModelCache.memoIndex(corpus, "spec-buildfail") {
        if (builds.incrementAndGet() == 1 && failFirst)
          sys.error("injected build failure")
        graft.ops.GlobalOrder.pin(
          corpus.groupBy(col("source")).agg(count(lit(1)).as("n")))
      }
    intercept[RuntimeException] { serve(failFirst = true) }
    assert(builds.get() == 1)
    val v = serve(failFirst = true) // retries: the failure was retired
    assert(builds.get() == 2, "the failed attempt must not poison the key")
    assert(v.collect().nonEmpty)
    ModelCache.invalidate()
  }

  test("memo key carries leaf-file versions: an in-place append or " +
    "overwrite of the corpus is a miss, never a stale hit") {
    import spark.implicits._
    ModelCache.invalidate()
    val path = graft.TestDirs.dir("memo-versions")
      .resolve("corpus.parquet").toString
    def write(ids: Range, mode: String): Unit =
      ids.map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
        .write.mode(mode).parquet(path)
    def serve(): (Long, Long) = {
      val corpus = spark.read.parquet(path)
      val r = ModelCache.memoIndex(corpus, "spec-versions") {
        graft.ops.GlobalOrder.pin(
          corpus.agg(count(lit(1)).as("n"), sum(col("doc_id")).as("s")))
      }.first()
      (r.getLong(0), r.getLong(1))
    }
    def builds = ModelCache.buildCounts.getOrElse("spec-versions", 0)
    val b0 = builds
    write(0 until 100, "overwrite")
    assert(serve() == ((100L, 4950L)))
    assert(builds == b0 + 1)
    assert(serve() == ((100L, 4950L)))
    assert(builds == b0 + 1, "an unchanged corpus must still hit")
    // in-place append: a new part file under the same root path
    write(100 until 250, "append")
    assert(serve() == ((250L, 31125L)), "append served a stale artifact")
    assert(builds == b0 + 2, "an append must miss")
    // overwrite with the same row count, different rows
    write(1000 until 1100, "overwrite")
    assert(serve() == ((100L, 104950L)), "overwrite served a stale artifact")
    assert(builds == b0 + 3, "an overwrite must miss")
    assert(serve() == ((100L, 104950L)))
    assert(builds == b0 + 3)
    ModelCache.invalidate()
  }
}
