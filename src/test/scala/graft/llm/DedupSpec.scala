package graft.llm

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("exact dedup keeps every distinct text exactly once") {
    val docs = Tables.documents(spark, sf)
    val d = Dedup.exactDedup(spark, sf)
    assert(d.count() == docs.select("text").distinct().count())
    assert(d.agg(sum("n_copies")).head.getLong(0) == docs.count())
  }

  test("jaccard values are within (0, 1] and pairs are ordered") {
    val j = Dedup.ngramJaccardPairs(spark, sf).cache()
    assert(j.filter(col("jaccard") <= 0 || col("jaccard") > 1).count() == 0)
    assert(j.filter(col("id_a") >= col("id_b")).count() == 0)
  }

  test("minhash LSH finds the exact-jaccard near-dup pairs on the bounded window") {
    // ground truth on doc_id<200 from the exact query
    val exact = Dedup.ngramJaccardPairs(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, sf)
      .filter(col("id_a") < 200 && col("id_b") < 200)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH output ⊆ exact (verify step guarantees it); recall should be
    // high — require all J=1.0-ish pairs found (banding theory: ≥99.9%)
    assert(lsh.subsetOf(exact), s"LSH emitted non-near-dup pairs: ${lsh -- exact}")
    assert(lsh.nonEmpty, "LSH found no near-dups though exact query did")
  }

  test("simhash is deterministic and 32-bit") {
    val a = Dedup.simhash(spark, sf).collect()
    val b = Dedup.simhash(spark, sf).collect()
    assert(a.sameElements(b))
    assert(a.forall { r => val h = r.getLong(1); h >= 0 && h < (1L << 32) })
  }

  test("near-identical texts get near-identical simhashes") {
    import spark.implicits._
    // sanity check on the operator itself with controlled input
    val docs = Seq(
      (0L, "spark window join filter scan table value part hash"),
      (1L, "spark window join filter scan table value part hash extra"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("th", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
    val bits = toks.withColumn("bit", explode(expr("sequence(0, 31)")))
      .groupBy(col("doc_id"), col("bit"))
      .agg(sum(expr("2 * ((th div cast(pow(2, bit) as bigint)) % 2) - 1")).as("w"))
    val sh = bits.groupBy(col("doc_id"))
      .agg(sum(when(col("w") > 0, expr("cast(pow(2, bit) as bigint)")).otherwise(0L)).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    assert(hamming(sh(0L), sh(1L)) < hamming(sh(0L), sh(2L)),
      s"similar docs should be closer: ${sh.mkString(",")}")
  }

  test("hot buckets degrade to linear chain pairing (1k identical docs)") {
    // 1000 identical docs collapse every band into ONE bucket — the
    // uncapped self-join would emit ~500k pairs per band; the cap must
    // keep candidates O(width · depth) while still connecting the
    // whole duplicate group (what q72's clustering needs)
    import spark.implicits._
    val docs = (0L until 1000L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshFrom(docs).cache()
    val n = pairs.count()
    assert(n <= 1000L * Dedup.ChainDepth, s"quadratic bucket: $n pairs")
    assert(pairs.filter(col("jaccard") =!= 1.0).count() == 0)
    assert(pairs.filter(col("id_b") === col("id_a") + 1).count() == 999,
      "duplicate group must stay fully chained/connected")
    val sp = Dedup.simhashPairsFrom(
      docs.select(col("doc_id"), lit(123456789L).as("simhash"))).cache()
    assert(sp.count() <= 1000L * Dedup.ChainDepth * 4)
    assert(sp.filter(col("hamming") =!= 0).count() == 0)
    assert(sp.filter(col("id_b") === col("id_a") + 1).count() == 999)
  }

  test("semantic dedup: one row per vector, keep-lowest-id within cells") {
    val n = Tables.embeddings(spark, sf).count()
    val r = Dedup.semanticDedup(spark, sf).cache()
    assert(r.count() == n, "semantic dedup must emit one decision per vector")
    // the lowest vec_id can never be a duplicate (nothing below it)
    assert(r.orderBy("vec_id").head.getLong(2) == 0)
    // the threshold really acts on the fixture: some drops, never all
    val dropped = r.filter(col("n_close_lower") > 0).count()
    info(s"semantic dedup drops $dropped / $n")
    assert(dropped > 0 && dropped < n / 2)
  }

  test("planted near-duplicates are all dropped, anchors survive them") {
    // planted vectors sit at cosine ≈ 0.9994 to their anchors — far
    // above SemTau — and land in the anchor's cell by construction;
    // their ids are above every base id, so keep-lowest-id must drop
    // every planted vector while the anchors never lose to them
    val r = Dedup.semanticDedupOf(Similarity.plantedCorpus(spark, sf)).cache()
    val planted = r.filter(col("vec_id") >= Similarity.PlantedBase)
    assert(planted.count() > 0)
    assert(planted.filter(col("n_close_lower") === 0).count() == 0,
      "every planted near-duplicate must be marked a duplicate")
  }

  test("dedup actions leave no cached plans behind (no clearCache contract)") {
    // round-5 verdict #5: bucketPairs used cache() and relied on callers
    // running clearCache(); intermediates are now localCheckpoint'd, so
    // the SQL cache manager must be untouched after a full LSH action
    spark.catalog.clearCache()
    Dedup.minhashLsh(spark, sf).collect()
    Dedup.ngramJaccardPairs(spark, sf).collect()
    assert(org.apache.spark.sql.GraftShims.sqlCacheIsEmpty(spark),
      "a dedup operator left a cached plan registered in the session")
  }

  test("dup spectrum partitions the corpus and sums to the dedup savings") {
    val docs = Tables.documents(spark, sf)
    val spec = Dedup.dupSpectrum(spark, sf).cache()
    // every document lands in exactly one cluster-size bucket
    assert(spec.agg(sum("n_docs")).head.getLong(0) == docs.count())
    // removable = total − distinct texts (what exact dedup would delete)
    val distinctTexts = docs.select("text").distinct().count()
    assert(spec.agg(sum("n_removable")).head.getLong(0) == docs.count() - distinctTexts)
    // arithmetic consistency per row
    assert(spec.filter(col("n_docs") =!= col("n_copies") * col("n_clusters")).count() == 0)
    spec.unpersist()
  }

  test("cross-source exact matrix agrees with a distinct-pair self-join") {
    val hs = Tables.documents(spark, sf)
      .select(col("source"), md5(col("text")).as("h")).distinct()
    val expected = hs.as("a").join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = Dedup.crossSourceExact(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected)
    // ordered pairs only
    got.keys.foreach { case (a, b) => assert(a < b) }
  }

  test("source overlap: jaccard bounds, set arithmetic, unordered pairs") {
    val rows = Dedup.sourceOverlap(spark, sf).collect()
    val nSrc = graft.model.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("source")).distinct().count()
    assert(rows.length <= nSrc * (nSrc - 1) / 2)
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("src_a"), r.getAs[String]("src_b"))
      assert(a < b, s"pair ($a,$b) not canonically ordered")
      val (na, nb, inter) =
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("n_inter"))
      assert(inter >= 1L && inter <= math.min(na, nb))
      val j = r.getAs[Long]("jaccard_ppm")
      assert(j == 1000000L * inter / (na + nb - inter))
      assert(j >= 0L && j <= 1000000L)
    }
    // a source's gram-set size is consistent wherever it appears
    val sizes = rows.flatMap(r => Seq(
      r.getAs[String]("src_a") -> r.getAs[Long]("n_a"),
      r.getAs[String]("src_b") -> r.getAs[Long]("n_b")))
    sizes.groupBy(_._1).values.foreach(g => assert(g.map(_._2).distinct.length == 1))
  }

  test("dup trend bins every doc and recounts the pair list per id decile") {
    val ids = graft.model.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0))
    val mx = ids.max
    def binOf(id: Long): Long = id * 10L / (mx + 1L)
    val pairs = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    val expPairs = pairs.groupBy(p => binOf(p._2))
      .map { case (b, g) => b -> (g.length.toLong, g.map(_._2).distinct.length.toLong) }
    val expDocs = ids.groupBy(binOf).map { case (b, g) => b -> g.length.toLong }
    val rows = Dedup.dupTrend(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == ids.length.toLong)
    assert(rows.map(_.getAs[Long]("bin")).toSet == expDocs.keySet)
    rows.foreach { r =>
      val b = r.getAs[Long]("bin")
      val (nPairs, nFlagged) = expPairs.getOrElse(b, (0L, 0L))
      assert(r.getAs[Long]("n_docs") == expDocs(b))
      assert(r.getAs[Long]("n_pairs") == nPairs, s"bin=$b")
      assert(r.getAs[Long]("n_flagged") == nFlagged)
      assert(r.getAs[Long]("dup_ppm") == 1000000L * nFlagged / expDocs(b))
    }
  }

  test("KMV overlap: exhaustive sketches estimate exactly, estimates track exact") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.kmvOverlap(spark, sf).collect()
    assert(rows.nonEmpty)
    // every unordered source pair appears exactly once
    val srcs = graft.model.Tables.documents(spark, sf)
      .select("source").distinct().count()
    assert(rows.length.toLong == srcs * (srcs - 1) / 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("theta") > 0L &&
        r.getAs[Long]("theta") <= 4294967296L)
      assert(r.getAs[Long]("n_common") <= 256L)
      assert(r.getAs[Long]("est_inter") >= 0L)
    }
    // when BOTH sketches are exhaustive (theta = 2^32), the estimate
    // must equal the 32-bit-truncated intersection exactly; for the
    // small fixture gram sets that also matches the exact md5
    // intersection unless a 32-bit collision occurred (none expected
    // at fixture vocabulary sizes)
    rows.filter(_.getAs[Long]("theta") == 4294967296L).foreach { r =>
      assert(r.getAs[Long]("est_inter") == r.getAs[Long]("n_common"))
      assert(r.getAs[Long]("est_inter") == r.getAs[Long]("n_inter"),
        s"${r.getAs[String]("src_a")}-${r.getAs[String]("src_b")}")
      if (r.getAs[Long]("n_inter") > 0L)
        assert(r.getAs[Long]("err_ppm") == 0L)
    }
  }

  test("KMV distinct estimate: exact below k, KMV formula above, error bounded") {
    val rows = Dedup.kmvDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nSk, est, exact) = (r.getAs[Long]("n_sk"),
        r.getAs[Long]("est_distinct"), r.getAs[Long]("n_exact"))
      assert(nSk <= 256L && nSk <= exact)
      if (nSk < 256L) {
        // exhaustive sketch: exact modulo 32-bit collisions (none at
        // fixture vocabulary sizes)
        assert(est == exact && r.getAs[Long]("err_ppm") == 0L, r.toString)
      } else {
        // the KMV formula with k=256 has relative std error ~1/sqrt(k-2)
        // ≈ 6.3%; 5 sigma is a safe deterministic bound for fixed fixtures
        assert(r.getAs[Long]("err_ppm") <= 320000L, r.toString)
        assert(est == 255L * 4294967296L / r.getAs[Long]("theta"))
      }
    }
  }

  test("normalized dedup catches case/punct variants raw exact dedup misses") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", "Hello, World!"),
      (2L, "s1", "hello world"),        // norm-dup of 1, not exact-dup
      (3L, "s1", "hello world"),        // exact-dup of 2 (and norm-dup)
      (4L, "s2", "something else"),     // clean
      (5L, "s2", "SOMETHING... else")   // norm-dup of 4 across punctuation
    ).toDF("doc_id", "source", "text")
    val got = Dedup.normalizedDedupOf(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    // s1: 3 docs; exact dups = {2,3}; norm dups = {1,2,3}; newly = {1}
    assert(got("s1") == ((3L, 2L, 3L, 1L)), got("s1"))
    // s2: 2 docs; no exact dups; norm dups = both; newly = both
    assert(got("s2") == ((2L, 0L, 2L, 2L)), got("s2"))
  }

  test("star-contraction CC lands on min-label propagation's fixpoint") {
    val stars = Dedup.ccStarClusters(spark, sf)
      .select(col("doc_id"), col("cluster"))
    val prop = Pipeline.nearDupClusters(spark, sf)
      .select(col("doc_id"), col("cluster"))
    assert(stars.count() == prop.count())
    assert(stars.except(prop).count() == 0,
      "star contraction labeled some node differently from propagation")
    assert(prop.except(stars).count() == 0)
  }

  test("the lsh-pairs artifact holds each unordered pair once, id_a < id_b") {
    // q257's degree counts rows of the symmetric pair graph, which is
    // exact only while no pair repeats and none is stored reversed
    val pairs = Dedup.minhashLsh(spark, sf).select(col("id_a"), col("id_b"))
    val n = pairs.count()
    assert(n > 0, "the fixture plants near-dup pairs")
    assert(pairs.filter(col("id_a") >= col("id_b")).count() == 0,
      "a pair is stored with id_a >= id_b")
    assert(pairs.distinct().count() == n, "a pair is stored twice")
  }

  test("near-dup labels equal a driver-side union-find over the sf0.001 pair set") {
    val es = Dedup.minhashLsh(spark, sf).select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val truth = graft.UnionFind.minLabels(es)
    assert(truth.nonEmpty, "the fixture plants near-dup pairs")
    val rows = Pipeline.nearDupClusters(spark, sf).collect()
    val ids = rows.map(_.getLong(0))
    assert(ids.sameElements(ids.sorted), "labels are not ordered by doc_id")
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap == truth,
      "near-dup labels drifted from union-find")
  }

  test("recursive-CTE reachability enumerates a diamond's paths and min hops") {
    import spark.implicits._
    // a → b → d, a → c → d, a → d: reach(a,d) via 3 paths, min 1 hop
    val edges = Seq(("a", "b"), ("b", "d"), ("a", "c"), ("c", "d"), ("a", "d"))
      .toDF("src_a", "src_b")
    val got = Dedup.reachabilityOf(spark, edges, maxHops = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(("a", "d")) == ((1L, 3L)), got.mkString(","))
    assert(got(("a", "b")) == ((1L, 1L)))
    assert(got(("b", "d")) == ((1L, 1L)))
    // two-hop-only pairs surface with min_hops 2
    assert(!got.contains(("d", "a")), "DAG edges must not invert")
  }

  test("reachability surfaces hop-2 pairs the pairwise matrix misses") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src_a", "src_b")
    val got = Dedup.reachabilityOf(spark, edges, maxHops = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(("a", "c")) == ((2L, 1L)),
      s"a→c must be reachable in exactly 2 hops: ${got.mkString(",")}")
  }

  test("reachability leaves no temp view behind and its plan fingerprint " +
    "is call-order independent") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src_a", "src_b")
    def fp(): String = graft.PlanShapes.fingerprint(
      Dedup.reachabilityOf(spark, edges, maxHops = 3)
        .queryExecution.executedPlan.toString)
    // the per-call unique view name must not reach the physical plan:
    // the regression gate's stored fingerprint for q258 would otherwise
    // drift with how many reachability calls preceded it in the JVM
    assert(fp() == fp(), "view-name counter leaked into the physical plan")
    // and the catalog mutation is invisible after the call returns
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_reach_edges_")),
      "reachabilityOf left its temp view registered")
  }

  test("star contraction converges in O(log n) rounds on a chain whose " +
    "diameter exceeds propagation's backstop") {
    import spark.implicits._
    // a 1024-node path: min-label propagation moves the minimum ONE hop
    // per round (1023 rounds — far past its 64-round fail-loud), star
    // contraction halves chain length per round pair
    val n = 1024
    val path = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val sym = path.union(path.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
    val (labels, rounds) = Dedup.ccStarLabels(sym)
    assert(rounds <= 20, s"expected logarithmic rounds on the chain, took $rounds")
    val labs = labels.collect()
    assert(labs.length == n, s"expected $n labeled nodes, got ${labs.length}")
    assert(labs.forall(_.getLong(1) == 0L),
      "every chain node must label to the component minimum 0")
  }

  test("star contraction on an empty edge set returns no labels within two rounds") {
    import spark.implicits._
    // a corpus with no near-duplicate pairs hands q257 an empty graph:
    // the endpoint sum over no edges is 0, not NULL, and must converge
    val sym = Seq.empty[(Long, Long)].toDF("src", "dst")
    val (labels, rounds) = Dedup.ccStarLabels(sym)
    assert(rounds <= 2, s"empty graph took $rounds rounds")
    assert(labels.collect().isEmpty)
  }
}
