package graft.llm

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/**
 * Train-once / serve-many memoization for the learned index models
 * (the IVF coarse quantizer, the PQ codebooks). In deployment an ANN
 * index is built OFFLINE and served by every query that follows; the
 * audit family (q52/q157/q158–q162) mirrors that by reusing one
 * trained model per corpus instead of re-running Lloyd's per query —
 * without this, four PQ-family queries each re-trained the identical
 * codebooks (~4.7 s of redundant training jobs per query at sf0.1).
 *
 * Correctness is unaffected BY CONSTRUCTION: both fits are fully
 * deterministic (stride-sampled lowest-id init, 2^48-scaled decimal
 * centroid sums, lowest-tie argmin — see [[KMeans]]), so a cache hit
 * returns bit-identically what the fresh fit would. The oracles
 * replay training from scratch every time and still hash-match.
 *
 * Key discipline: models are cached ONLY for file-backed corpora —
 * every leaf of the analyzed plan must be a file relation — keyed by
 * (hyperparameters, the relations' root paths and leaf-file versions,
 * the canonicalized plan). Plans over in-memory test relations train fresh:
 * `LocalRelation`'s canonical form does not include its data, so two
 * different planted fixtures with one schema would collide.
 *
 * Memory: a model is ≤ ~16 KB of doubles; the map holds one entry per
 * (corpus, hyperparameter) pair per JVM — bounded by the query
 * surface, not the data.
 *
 * Eviction (recorded decision, round-9): entries live for the JVM —
 * there is deliberately NO LRU/weak-ref scheme. Rationale: (a) the
 * entry count is bounded by (corpus × hyperparameter) pairs, i.e. the
 * deployed query surface, not data volume; (b) evicting a pinned-index
 * DataFrame from the map would NOT free its checkpoint blocks (they
 * are freed when the session ends), so eviction would only cause
 * re-builds that allocate MORE session-lifetime blocks — strictly
 * worse. A long-lived multi-tenant session that cycles through many
 * corpora should call [[invalidate]] at corpus-retirement points; the
 * next build then re-pins fresh. Build cost is metered in
 * [[buildSeconds]] so serve-vs-build time is separable in benchmarks.
 */
object ModelCache {

  private val cache = new ConcurrentHashMap[String, AnyRef]()

  /** Wall-clock seconds spent inside cache-MISS builds, per tag prefix
    * (e.g. "ivf", "pq", "lsh-bands"). Serve-path hits add nothing.
    * Lets a benchmark report one-time artifact build cost alongside
    * the per-query serve cost instead of silently discounting it. */
  private val buildNanos = new ConcurrentHashMap[String, java.lang.Long]()
  private val buildRuns = new ConcurrentHashMap[String, java.lang.Integer]()

  private def timed[T](tag: String)(build: => T): T = {
    val t0 = System.nanoTime()
    buildRuns.merge(tag.takeWhile(_ != '|'), 1, (a, b) => a + b)
    try build finally {
      val dt = System.nanoTime() - t0
      buildNanos.merge(tag.takeWhile(_ != '|'), dt, (a, b) => a + b)
    }
  }

  /** Per-tag build seconds accumulated so far in this JVM. */
  def buildSeconds: Map[String, Double] = {
    val it = buildNanos.entrySet().iterator()
    val b = Map.newBuilder[String, Double]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue / 1e9 }
    b.result()
  }

  /** Per-tag build INVOCATION counts — the single-flight audit signal:
    * seconds inflate under CPU contention even when a build ran once,
    * counts do not (graft.ConcurrentServe gates on these). */
  def buildCounts: Map[String, Int] = {
    val it = buildRuns.entrySet().iterator()
    val b = Map.newBuilder[String, Int]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.toInt }
    b.result()
  }

  /** Drop every cached model/pin (tests; corpus retirement). */
  def invalidate(): Unit = cache.clear()

  /** Meter a build that manages its OWN storage (e.g. the bucketed
    * table land, which lives in the session catalog, not this map):
    * the cost accrues in [[buildSeconds]] under `tag`, but existence
    * checks stay with the caller — caching a value here while the
    * real artifact can be dropped independently (DROP TABLE) would
    * let the two diverge. */
  def meter[T](tag: String)(build: => T): T = timed(tag)(build)

  /** In-flight builds, SINGLE-FLIGHT (round-17, the concurrent-serve
    * audit): when two queries want one uncached artifact at once (a
    * fair-scheduler warehouse serving q260 and q267 together — both
    * read `doc-scores`), exactly one thread runs the build and the
    * rest WAIT on its future instead of duplicating a corpus-scale
    * job. At 100 TB a duplicated build is the single most expensive
    * avoidable job in the system; waiting is strictly better. */
  private val inflight =
    new ConcurrentHashMap[String, java.util.concurrent.CompletableFuture[AnyRef]]()

  /** Keys whose build THIS thread currently owns. A build body that
    * (transitively) re-enters its own key would otherwise find its own
    * in-flight promise and join() a future only it can complete — a
    * silent permanent deadlock where the old non-blocking code failed
    * fast. Same-key re-entrancy is an infinite build loop regardless;
    * make it loud. (Cross-thread cycles would need two builds to
    * mutually consume each other's memo mid-build — no such pair
    * exists; the only nesting is pairs→bands, one direction.) */
  private val building = ThreadLocal.withInitial[java.util.HashSet[String]](
    () => new java.util.HashSet[String]())

  /** get-or-build WITHOUT holding the map's bin lock during the build:
    * builds nest (the lsh-pairs build calls the lsh-bands memo on this
    * same map), and a nested `computeIfAbsent` whose key collides with
    * the in-flight bin throws `IllegalStateException: Recursive
    * update` — so coordination runs on a separate promise map, never
    * inside a bin. The builder publishes to `cache` FIRST, then
    * completes its promise and retires it; a failed build completes
    * the promise exceptionally and retires it, so the next caller
    * retries fresh instead of caching the failure. Same-thread nested
    * builds hit DIFFERENT keys (the nesting is bands-within-pairs);
    * a same-key recursion would be an infinite build loop regardless.
    * The slot-winner re-checks the cache before building (a prior
    * builder can publish and retire its promise between our cache
    * miss and the putIfAbsent), so a key is built exactly once per
    * invalidation; `putIfAbsent` + `releasePin` remain as a belt for
    * the failed-builder retry path, where two retriers can race. */
  private def getOrBuild(key: String, tag: String)(build: => AnyRef): AnyRef = {
    val existing = cache.get(key)
    if (existing != null) return existing
    if (building.get().contains(key))
      throw new IllegalStateException(
        s"recursive memo build: this thread is already building '$tag' " +
          "(same-key re-entrancy would deadlock the single-flight wait)")
    val promise = new java.util.concurrent.CompletableFuture[AnyRef]()
    val race = inflight.putIfAbsent(key, promise)
    if (race != null) {
      // someone is building this key right now: wait, then re-read the
      // cache (the builder publishes there before completing)
      try race.join()
      catch { case _: java.util.concurrent.CompletionException => () }
      val after = cache.get(key)
      if (after != null) return after
      // builder failed (or retired between publish races): build here
      return getOrBuild(key, tag)(build)
    }
    // Won the build slot — but a prior builder may have published AND
    // retired its promise between our cache miss above and the
    // putIfAbsent (the "promise retired between a get miss and the
    // putIfAbsent" interleaving): re-check before paying the build.
    // Any waiter already joined on OUR promise re-reads the cache
    // after the join, so completing with the published value is safe.
    val published = cache.get(key)
    if (published != null) {
      promise.complete(published)
      inflight.remove(key)
      return published
    }
    building.get().add(key)
    try {
      val v = timed(tag)(build)
      val prev = cache.putIfAbsent(key, v)
      val out = if (prev != null) { releasePin(v); prev } else v
      promise.complete(out)
      out
    } catch {
      case e: Throwable => promise.completeExceptionally(e); throw e
    } finally {
      building.get().remove(key)
      inflight.remove(key)
    }
  }

  /** Best-effort release of a discarded pinned DataFrame's checkpoint
    * blocks: a pin's plan bottoms out in `LogicalRDD` leaves over the
    * checkpointed RDDs — unpersist them. The two racing builds never
    * share blocks (each checkpoints its own RDD), so this cannot
    * touch the winner's data. Non-DataFrame models (codebook arrays)
    * hold no executor state; nothing to free. */
  private[llm] def releasePin(v: AnyRef): Unit = v match {
    case ds: org.apache.spark.sql.Dataset[_] =>
      ds.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }.foreach(_.unpersist(blocking = false))
    case _ => ()
  }

  /** Memoizes a driver-side model built from `corpus`. A
    * Dataset-typed result is rejected: frames are memoized through
    * [[memoIndex]]. */
  def memo[T <: AnyRef](corpus: DataFrame, tag: String)(train: => T): T = {
    def model: T = train match {
      case _: org.apache.spark.sql.Dataset[_] =>
        throw new IllegalArgumentException(
          s"ModelCache.memo('$tag') built a Dataset; memoize frames with memoIndex")
      case m => m
    }
    corpusKey(corpus, tag) match {
      case None      => model
      case Some(key) => getOrBuild(key, tag)(model).asInstanceOf[T]
    }
  }

  /**
   * [[memo]] for the STORED INDEX itself (a pinned DataFrame): one
   * encode + checkpoint per (session, corpus, geometry), reused by
   * every query serving that index — q159's audit reads the index
   * q158 built, exactly as a deployed recall probe would. The key
   * additionally carries the session (checkpointed blocks are
   * session-lifetime state) and the reliable-checkpoint flag (the two
   * pin modes differ in failure semantics, never in rows — but a
   * caller opting into durability must not receive an ephemeral pin).
   */
  def memoIndex(corpus: DataFrame, tag: String)(build: => DataFrame): DataFrame =
    corpusKey(corpus, tag) match {
      case None => build
      case Some(key) =>
        val session = corpus.sparkSession
        val reliable = session.conf.get("graft.checkpoint.reliable", "false")
        val full = s"$key|session=${System.identityHashCode(session)}|reliable=$reliable"
        getOrBuild(full, tag) {
          val built = build
          // Force materialization INSIDE the timed build (one count over
          // the artifact): local pins are lazy, so a pinned build would
          // otherwise defer its compute into the FIRST SERVING QUERY's
          // timed rep — build cost must stay on the build ledger.
          built.count()
          built
        }.asInstanceOf[DataFrame]
    }

  /** Cache key for a file-backed corpus plan; None (do not cache) if
    * any leaf is not a file relation. The key carries every leaf file's
    * (path, length, mtime), taken from the relation's file index — the
    * listing the read already made, so keying costs no I/O and no job.
    * An in-place append (a new part file) or overwrite (new length or
    * mtime) is a different key, i.e. a rebuild, never a stale hit. */
  private def corpusKey(corpus: DataFrame, tag: String): Option[String] = {
    val plan = corpus.queryExecution.analyzed
    val leaves = plan.collectLeaves()
    val fileBacked = leaves.nonEmpty && leaves.forall {
      case lr: LogicalRelation => lr.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    }
    if (!fileBacked) None
    else {
      val paths = plan.collect {
        case lr: LogicalRelation => lr.relation match {
          case h: HadoopFsRelation =>
            val files = h.location.listFiles(Nil, Nil).flatMap(_.files)
              .map(f => s"${f.getPath}@${f.getLen}@${f.getModificationTime}")
              .sorted
            h.location.rootPaths.mkString(",") + files.mkString("[", ",", "]")
          case other => other.toString
        }
      }.mkString(";")
      Some(s"$tag|$paths|${plan.canonicalized.toString}")
    }
  }
}
