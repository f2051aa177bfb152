package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.jdk.CollectionConverters._

class ArtifactMaintenanceSpec extends SparkSpec {

  private def freshDir(tag: String): String =
    graft.TestDirs.dir(s"graft-$tag").toString

  private def counts(artifact: String): Map[(String, String), Long] =
    ArtifactMaintenance.lmCounts(spark, artifact)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  test("streamed partials fold to the same LM counts as a batch aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val artifact = freshDir("lm-artifact")
    val art = ArtifactMaintenance.lmArtifact(artifact)
    val q = ArtifactMaintenance
      .maintainLm(input.toDF().toDF("doc_id", "text"), artifact)
      .option("checkpointLocation", freshDir("lm-ckpt"))
      .start()
    try {
      input.addData((1L, "a b c"), (2L, "b c d"))
      q.processAllAvailable()
      input.addData((3L, "a b c"), (4L, "x"))
      q.processAllAvailable()
    } finally q.stop()

    val docs = Seq((1L, "a b c"), (2L, "b c d"), (3L, "a b c"), (4L, "x"))
      .toDF("doc_id", "text")
    val direct = ArtifactMaintenance.batchBigramCounts(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts(artifact) == direct)
    // ("b","c") seen in three docs across two batches
    assert(direct(("b", "c")) == 3L)

    // a REPLAYED committed batch (crash between manifest commit and
    // checkpoint offset commit) is skipped — counts must not change
    art.applyBatch(
      Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text"), 0L)
    assert(counts(artifact) == direct, "committed-batch replay double-counted")

    // compaction folds partials into one baseline with identical counts
    ArtifactMaintenance.compactLm(spark, artifact)
    assert(counts(artifact) == direct)
    val m = art.readManifest()
    assert(m.dirs == Seq("baseline-g1") && m.covered == 1L, m)

    // a batch replayed AFTER its partial was folded into the baseline
    // must be skipped via the covered watermark (the double-count bug
    // a partition-overwrite-only scheme has)
    art.applyBatch(
      Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text"), 1L)
    assert(counts(artifact) == direct, "post-compaction replay double-counted")

    // a NEW batch after compaction lands beside the baseline
    art.applyBatch(Seq((5L, "b c")).toDF("doc_id", "text"), 2L)
    assert(counts(artifact)(("b", "c")) == 4L)
  }

  test("q266's paragraph trim served from the STREAMED bigram-lm artifact " +
    "is row-equal to the batch build (serve equivalence)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the q266 spec fixture: background mass, a shuffled-vocab splice
    // in doc 0, an unscorable 1-word fragment in doc 4 — so the served
    // LM must reproduce not just counts but the trim's exact VERDICTS
    val bg = (5L to 14L).map(i =>
      (i, Seq.fill(4)("the cat sat on").mkString(" ")))
    val rows = (bg :+
      (0L, "the cat sat on on sat cat the the cat sat on") :+
      (4L, "the cat sat on the")).sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val artifact = freshDir("lm-serve-art")
    val q = ArtifactMaintenance
      .maintainLm(input.toDF().toDF("doc_id", "text"), artifact)
      .option("checkpointLocation", freshDir("lm-serve-ckpt"))
      .start()
    try {
      // three batches, with a compaction mid-stream so the serve reads
      // baseline + later partials, not just raw partials
      input.addData(rows.take(4): _*)
      q.processAllAvailable()
      input.addData(rows.slice(4, 8): _*)
      q.processAllAvailable()
      ArtifactMaintenance.compactLm(spark, artifact)
      input.addData(rows.drop(8): _*)
      q.processAllAvailable()
    } finally q.stop()
    val docs = rows.toDF("doc_id", "text")
    val servedModel = graft.llm.MixPlan.knModelFromCounts(
      ArtifactMaintenance.lmCounts(spark, artifact))
    val served = graft.llm.MixPlan.paragraphLmTrimUnder(docs, servedModel)
      .collect().toSeq
    val batch = graft.llm.MixPlan.paragraphLmTrimOf(docs).collect().toSeq
    assert(served == batch,
      s"streamed-LM trim diverged from the batch build:\n$served\nvs\n$batch")
    // and the verdicts are the interesting ones, not vacuous equality:
    // doc 0 keeps 2 of 3 paragraphs (the splice drops), doc 4 drops
    // its unscorable fragment
    val byDoc = served.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byDoc(0L) == ((3L, 2L)), s"doc 0 under the served LM: ${byDoc(0L)}")
    assert(byDoc(4L) == ((2L, 1L)), s"doc 4 under the served LM: ${byDoc(4L)}")
  }

  test("q267's buckets and q269's trim-aware mix served from the STREAMED " +
    "bigram-lm artifact are row-equal to the batch build (q266's serve " +
    "equivalence lifted to the KN memo consumers, round-16 directive #6)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // three sources with different fluency/trim profiles; the
    // background docs corrupt GRADUALLY (doc i carries i-5 inverted
    // windows) so the 14 per-doc means spread enough for all three
    // terciles to be inhabited — clustered means leave `middle` empty
    // (the bucket rule is >= t2 / > t1, and interpolated quantiles of
    // a two-cluster set land ON the cluster values)
    val bg = (5L to 14L).map { i =>
      val bad = (i - 5L).toInt
      (i, (Seq.fill(14 - bad)("the cat sat on") ++
        Seq.fill(bad)("on sat cat the")).mkString(" "),
        if (i % 2 == 0) "web" else "books")
    }
    val rows = (bg :+
      (0L, "the cat sat on on sat cat the the cat sat on", "forums") :+
      (1L, "the cat sat on sat the on cat the cat sat on", "forums") :+
      (2L, "on the cat sat the cat sat on", "web") :+
      (4L, "the cat sat on the", "books")).sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val artifact = freshDir("kn-serve-art")
    val q = ArtifactMaintenance
      .maintainLm(input.toDF().toDF("doc_id", "text"), artifact)
      .option("checkpointLocation", freshDir("kn-serve-ckpt"))
      .start()
    try {
      // three batches with a mid-stream compaction, as a live
      // maintainer would actually run
      input.addData(rows.take(5).map(r => (r._1, r._2)): _*)
      q.processAllAvailable()
      input.addData(rows.slice(5, 10).map(r => (r._1, r._2)): _*)
      q.processAllAvailable()
      ArtifactMaintenance.compactLm(spark, artifact)
      input.addData(rows.drop(10).map(r => (r._1, r._2)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val docs = rows.toDF("doc_id", "text", "source")
    val model = graft.llm.MixPlan.knModelFromCounts(
      ArtifactMaintenance.lmCounts(spark, artifact))
    // q267 under the served LM ≡ the batch build (memoized doc-scores)
    val served267 = graft.llm.MixPlan.knPerplexityBucketsUnder(docs, model)
      .collect().toSeq
    val batch267 = graft.llm.MixPlan.knPerplexityBucketsOf(docs)
      .collect().toSeq
    assert(served267 == batch267,
      s"streamed-LM buckets diverged:\n$served267\nvs\n$batch267")
    assert(served267.map(_.getString(0)).toSet == Set("head", "middle", "tail"),
      s"tercile fixture must populate all three buckets: $served267")
    // q269 under the served LM ≡ the batch build (pinned post-trim frame)
    val served269 = graft.llm.MixPlan.trimAwareMixUnder(docs, model)
      .collect().toSeq
    val batch269 = graft.llm.MixPlan.trimAwareMixOf(docs).collect().toSeq
    assert(served269 == batch269,
      s"streamed-LM mix plan diverged:\n$served269\nvs\n$batch269")
    assert(served269.map(_.getString(0)) == Seq("books", "forums", "web"))
    assert(served269.exists(r => r.getLong(2) < r.getLong(1)),
      s"the trim must bite at least one source's totals: $served269")
    // q270 under the served LM ≡ the batch build (the planner pair's
    // sampling-rate half serves from the same live model)
    val served270 = graft.llm.MixPlan.trimAwareTemperatureUnder(docs, model)
      .collect().toSeq
    val batch270 = graft.llm.MixPlan.trimAwareTemperatureOf(docs)
      .collect().toSeq
    assert(served270 == batch270,
      s"streamed-LM temperature plan diverged:\n$served270\nvs\n$batch270")
  }

  test("streamed prefix counts match the batch aggregate and surface new boilerplate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val artifact = freshDir("prefix-artifact")
    val art = ArtifactMaintenance.prefixArtifact(artifact)
    val q = art.maintain(input.toDF().toDF("source", "text"))
      .option("checkpointLocation", freshDir("prefix-ckpt"))
      .start()
    val b1 = Seq(("s1", "terms of service apply to all"), ("s1", "fresh unique words here"))
    // the repeat of s1's boilerplate prefix arrives in a LATER batch —
    // the threshold crossing must surface without any rebuild
    val b2 = Seq(("s1", "terms of service apply to all"), ("s2", "another doc entirely"))
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    def served: Map[(String, String), Long] =
      art.serve(spark).groupBy($"source", $"prefix")
        .agg(org.apache.spark.sql.functions.sum($"n_docs").as("n_docs"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val direct = graft.llm.Curation.prefixCounts((b1 ++ b2).toDF("source", "text"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(served == direct)
    // the cross-batch repeat is now a flagged (n_docs >= 2) boilerplate row
    assert(served(("s1", "terms of service apply to all")) == 2L)
    // compaction preserves the counts
    art.compact(spark)
    assert(served == direct)
  }

  test("EVERY crash point of one ingest+compact cycle leaves old-or-new state and recovers exactly (round-13 #5)") {
    import spark.implicits._
    final case class Injected(k: Int, label: String)
      extends RuntimeException(s"injected crash #$k at $label")
    val b0 = Seq((1L, "a b c"), (2L, "b c d"))
    val b1 = Seq((3L, "a b c"))
    val b2 = Seq((4L, "b c"), (5L, "c d e"))
    def dfOf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    def direct(rows: Seq[(Long, String)]): Map[(String, String), Long] =
      ArtifactMaintenance.batchBigramCounts(dfOf(rows))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val contentOld = direct(b0 ++ b1)       // before the crashing batch
    val contentNew = direct(b0 ++ b1 ++ b2) // after it
    // counts are mergeable (double-count SENSITIVE): any replay bug
    // shows as an inflated count, not just an extra row

    // dry run discovers how many boundary crossings the cycle has
    val dryDir = freshDir("lm-crash-dry")
    val dry = ArtifactMaintenance.lmArtifact(dryDir)
    dry.applyBatch(dfOf(b0), 0L); dry.applyBatch(dfOf(b1), 1L)
    val seen = scala.collection.mutable.ListBuffer.empty[String]
    dry.crashPoint = seen += _
    dry.applyBatch(dfOf(b2), 2L)
    dry.compact(spark)
    val boundaries = seen.toList
    assert(boundaries.size >= 9, s"expected the full boundary walk, got $boundaries")
    assert(boundaries.count(_.startsWith("sweep-delete:")) >= 3, boundaries)

    (1 to boundaries.size).foreach { k =>
      val dir = freshDir(s"lm-crash-k$k")
      val art = ArtifactMaintenance.lmArtifact(dir)
      art.applyBatch(dfOf(b0), 0L)
      art.applyBatch(dfOf(b1), 1L)
      var n = 0
      art.crashPoint = { label =>
        n += 1; if (n == k) throw Injected(k, label)
      }
      val crashed =
        try { art.applyBatch(dfOf(b2), 2L); art.compact(spark); false }
        catch { case _: Injected => true }
      assert(crashed, s"boundary #$k (${boundaries(k - 1)}) never fired")
      // INVARIANT: the served state is EXACTLY the old or the new
      // manifest's content — no half-applied state at any crash point
      val after = counts(dir)
      assert(after == contentOld || after == contentNew,
        s"boundary #$k (${boundaries(k - 1)}) left a half-applied state: $after")
      // ... and the manifest file itself still parses
      val m = art.readManifest()
      assert(m.covered >= -1L && m.dirs.forall(_.nonEmpty), m)

      // RECOVERY: disarm, replay the batch (what the engine does after
      // a crash), compact — the final state must be exact, once
      art.crashPoint = _ => ()
      art.applyBatch(dfOf(b2), 2L)
      art.compact(spark)
      assert(counts(dir) == contentNew,
        s"boundary #$k (${boundaries(k - 1)}) recovery drifted")
      // idempotence survives recovery: a second replay changes nothing
      art.applyBatch(dfOf(b2), 2L)
      assert(counts(dir) == contentNew,
        s"boundary #$k (${boundaries(k - 1)}) post-recovery replay double-counted")
      // fully compacted: one baseline, watermark at the last batch
      val fin = art.readManifest()
      assert(fin.dirs.size == 1 && fin.dirs.head.startsWith("baseline-g") &&
        fin.covered == 2L, s"boundary #$k final manifest: $fin")
      graft.model.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
    graft.model.Fs.deleteRecursively(java.nio.file.Paths.get(dryDir))
  }

  test("crash-stranded directories are invisible to readers and swept by compaction") {
    import spark.implicits._
    val artifact = freshDir("lm-crash")
    val art = ArtifactMaintenance.lmArtifact(artifact)
    art.applyBatch(Seq((1L, "a b")).toDF("doc_id", "text"), 0L)
    art.applyBatch(Seq((2L, "a b")).toDF("doc_id", "text"), 1L)
    val before = counts(artifact)
    // strand an UNCOMMITTED partial write (crash before manifest
    // commit): written bytes, no manifest line
    ArtifactMaintenance.batchBigramCounts(
        Seq((9L, "z z z")).toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(s"$artifact/part-b7")
    assert(counts(artifact) == before, "uncommitted partial was readable")
    // strand an orphan baseline (crash between fold write and commit)
    ArtifactMaintenance.batchBigramCounts(
        Seq((9L, "q q")).toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(s"$artifact/baseline-g99")
    assert(counts(artifact) == before, "orphan baseline was readable")

    art.compact(spark)
    assert(counts(artifact) == before)
    // swept: the orphan baseline; kept: part-b7 (above the covered
    // watermark — it may be an in-flight batch whose commit is coming)
    val names = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(artifact))
      try s.iterator().asScala.map(_.getFileName.toString).toList
      finally s.close()
    }
    assert(!names.contains("baseline-g99"), names)
    assert(names.contains("part-b7"), names)
    assert(names.count(_.startsWith("baseline-")) == 1, names)
  }

  test("streamed simhash signatures match the batch artifact and feed pair search") {
    import spark.implicits._
    val artifact = freshDir("sig-artifact")
    val art = ArtifactMaintenance.simhashArtifact(artifact)
    // two batches, including a pair of identical docs across batches
    val b0 = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "alpha beta gamma delta")).toDF("doc_id", "text")
    art.applyBatch(b0, 0L)
    art.applyBatch(b1, 1L)
    val served = art.serve(spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = graft.llm.Dedup.simhashAgg(b0.unionByName(b1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served == direct)
    // identical docs sign identically; pair search over the SERVED
    // table finds them, exactly as over the batch artifact
    assert(served(1L) == served(3L))
    val pairs = graft.llm.Dedup.simhashPairsFrom(art.serve(spark))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)), pairs)
    // compaction preserves the row-partitioned table bit-exactly
    art.compact(spark)
    val compacted = art.serve(spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(compacted == direct)
  }

  test("domain weights from the streamed LM artifact equal the batch weights") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a corpus whose sources have genuinely different rare-bigram rates:
    // s1 repeats one phrase (no rare bigrams at rareMax=1), s2/s3 carry
    // singleton bigrams
    val docs = Seq(
      (1L, "s1", "a b c a b c a b c"),
      (2L, "s1", "a b c a b c"),
      (3L, "s2", "x y z w v u"),
      (4L, "s2", "p q r s t"),
      (5L, "s3", "a b c x q"))
      .toDF("doc_id", "source", "text")
    val input = MemoryStream[(Long, String)]
    val artifact = freshDir("lm-reweight")
    val q = ArtifactMaintenance
      .maintainLm(input.toDF().toDF("doc_id", "text"), artifact)
      .option("checkpointLocation", freshDir("lm-reweight-ckpt"))
      .start()
    try {
      input.addData((1L, "a b c a b c a b c"), (2L, "a b c a b c"),
        (3L, "x y z w v u"))
      q.processAllAvailable()
      input.addData((4L, "p q r s t"), (5L, "a b c x q"))
      q.processAllAvailable()
    } finally q.stop()
    def weights(counts: org.apache.spark.sql.DataFrame) =
      graft.llm.MixPlan.domainReweightFrom(docs, counts, rareMax = 1L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    val fromStream = weights(ArtifactMaintenance.lmCounts(spark, artifact))
    val fromBatch = weights(ArtifactMaintenance.batchBigramCounts(docs))
    assert(fromStream == fromBatch,
      s"streamed artifact diverged from batch:\n$fromStream\n$fromBatch")
    // the mixture actually discriminates: the repeated-phrase source
    // gets zero weight, a singleton-heavy source gets positive weight
    val bySrc = fromStream.map(t => t._1 -> t._7).toMap
    assert(bySrc("s1") == 0L && bySrc("s2") > 0L, bySrc)
  }

  test("TV drift from the streamed unigram artifact equals the batch computation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val artifact = freshDir("unigram-artifact")
    val art = ArtifactMaintenance.sourceUnigramArtifact(artifact)
    val q = art.maintain(input.toDF().toDF("doc_id", "source", "text"))
      .option("checkpointLocation", freshDir("unigram-ckpt"))
      .start()
    try {
      input.addData((1L, "s1", "a b a b c"), (2L, "s2", "x x y"))
      q.processAllAvailable()
      input.addData((3L, "s1", "a c"), (4L, "s3", "a x z z"))
      q.processAllAvailable()
    } finally q.stop()
    val docs = Seq((1L, "s1", "a b a b c"), (2L, "s2", "x x y"),
      (3L, "s1", "a c"), (4L, "s3", "a x z z"))
      .toDF("doc_id", "source", "text")
    val batchSw = ArtifactMaintenance.batchSourceUnigrams(docs)
    def tv(sw: org.apache.spark.sql.DataFrame) =
      graft.llm.Curation.sourceDivergenceFrom(sw)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val fromStream = tv(art.serve(spark))
    val fromBatch = tv(batchSw)
    assert(fromStream == fromBatch,
      s"streamed unigram artifact diverged:\n$fromStream\n$fromBatch")
    // compaction preserves the served counts, and so the drift numbers
    ArtifactMaintenance.sourceUnigramArtifact(artifact).compact(spark)
    assert(tv(art.serve(spark)) == fromBatch)
  }

  test("streamed KMV sketches merge by min-k to the batch-built sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val k = 4
    val input = MemoryStream[(Long, String, String)]
    val artifact = freshDir("kmv-artifact")
    val art = ArtifactMaintenance.kmvArtifact(artifact, k)
    val q = art.maintain(input.toDF().toDF("doc_id", "source", "text"))
      .option("checkpointLocation", freshDir("kmv-ckpt"))
      .start()
    // enough distinct grams per source that each batch fills its own
    // k-heap and the merge must RE-SELECT, not concatenate; doc 5
    // repeats doc 1's text so the cross-batch duplicate must collapse
    val b1 = Seq(
      (1L, "s1", "a b c d e f g h"), (2L, "s1", "p q r s t u v w"),
      (3L, "s2", "a b c d e f g h"))
    val b2 = Seq(
      (4L, "s1", "m n o aa bb cc dd ee"), (5L, "s1", "a b c d e f g h"),
      (6L, "s2", "p q r s t u v w"))
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    def sketchOf(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      df.collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("x"))).toSet
    val allDocs = (b1 ++ b2).toDF("doc_id", "source", "text")
    val direct = sketchOf(graft.llm.Dedup.kmvSketchOf(
      graft.llm.Dedup.sourceGramProjection(allDocs), k))
    assert(sketchOf(art.serve(spark)) == direct)
    // the merge genuinely re-selected: s1 contributed two full heaps
    assert(direct.count(_._1 == "s1") == k)

    // replay of a committed batch cannot change the served sketch
    art.applyBatch(b1.toDF("doc_id", "source", "text"), 0L)
    assert(sketchOf(art.serve(spark)) == direct, "replay changed the sketch")

    // compaction folds to a baseline with the identical sketch, and the
    // theta estimates over the served table match the direct ones
    art.compact(spark)
    assert(sketchOf(art.serve(spark)) == direct)
    val est = graft.llm.Dedup.kmvEstimates(art.serve(spark), k).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        (r.getAs[Long]("theta"), r.getAs[Long]("n_common"), r.getAs[Long]("est_inter")))
      .toMap
    val directEst = graft.llm.Dedup.kmvEstimates(
      graft.llm.Dedup.kmvSketchOf(
        graft.llm.Dedup.sourceGramProjection(allDocs), k), k).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        (r.getAs[Long]("theta"), r.getAs[Long]("n_common"), r.getAs[Long]("est_inter")))
      .toMap
    assert(est == directEst && est.nonEmpty)
  }

  test("streamed gram bounds match the batch build; keepers flip as docs arrive") {
    import spark.implicits._
    val artifact = freshDir("grambounds-artifact")
    val art = ArtifactMaintenance.gramBoundsArtifact(artifact)
    // batch 0: doc 1 alone holds its 9-token span (no cross-doc grams);
    // batch 1: doc 5 repeats it — the grams become cross-document
    val span = "s1 s2 s3 s4 s5 s6 s7 s8 s9"
    val b0 = Seq((1L, span + " tail1 tail2"),
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8")).toDF("doc_id", "text")
    val b1 = Seq((5L, "head1 head2 " + span)).toDF("doc_id", "text")
    art.applyBatch(b0, 0L)
    // after one batch nothing is cross-document yet
    val keepers0 = graft.llm.TextAnalysis
      .keepersFromBounds(art.serve(spark)).count()
    assert(keepers0 == 0L, s"no cross-doc grams expected, got $keepers0")
    art.applyBatch(b1, 1L)
    // served bounds reduce to exactly the batch build over b0 ∪ b1
    val served = art.serve(spark)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = graft.llm.TextAnalysis.spanGramBounds(b0.unionByName(b1))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(served == direct, "streamed bounds diverged from the batch build")
    // the keeper set now carries the 3 shared grams, canonical = doc 1
    val keepers = graft.llm.TextAnalysis.keepersFromBounds(art.serve(spark))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(keepers.size == 3 && keepers.values.forall(_ == 1L), keepers)
    // compaction preserves the bounds bit-exactly
    art.compact(spark)
    val compacted = art.serve(spark)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(compacted == direct)
  }

  test("streamed word counts re-learn the batch BPE merges exactly") {
    import spark.implicits._
    val artifact = freshDir("wc-artifact")
    val art = ArtifactMaintenance.wordCountArtifact(artifact)
    // the same word arrives in both batches (counts must SUM) and the
    // second batch shifts the argmax: "abab" overtakes once repeated
    val b0 = Seq((1L, "abc abc abab"), (2L, "abc xy")).toDF("doc_id", "text")
    val b1 = Seq((3L, "abab abab abab xy")).toDF("doc_id", "text")
    art.applyBatch(b0, 0L)
    art.applyBatch(b1, 1L)
    val all = b0.unionByName(b1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(art.serve(spark)) == rows(graft.llm.Bpe.wordCounts(all)))
    // live tokenizer re-training: merges learned from the SERVED table
    // equal the batch learn over the same documents
    val fromStream = graft.llm.Bpe.learnMergesFromCounts(art.serve(spark), 3)
    val fromBatch = graft.llm.Bpe.learnMergesFromCounts(
      graft.llm.Bpe.wordCounts(all), 3)
    assert(fromStream == fromBatch && fromBatch.size == 3, fromStream)
    art.compact(spark)
    assert(rows(art.serve(spark)) == rows(graft.llm.Bpe.wordCounts(all)))
  }

  test("streamed source-token totals drive the mix planners equal to batch") {
    import spark.implicits._
    val artifact = freshDir("srctok-artifact")
    val art = ArtifactMaintenance.sourceTokensArtifact(artifact)
    val b0 = Seq((1L, "s1", "a b c"), (2L, "s2", "d e")).toDF("doc_id", "source", "text")
    val b1 = Seq((3L, "s1", "f g h i"), (4L, "s3", "j")).toDF("doc_id", "source", "text")
    art.applyBatch(b0, 0L)
    art.applyBatch(b1, 1L)
    val all = b0.unionByName(b1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(art.serve(spark)) ==
      rows(graft.llm.MixPlan.sourceTokenCounts(all)))
    // s1 must have accumulated across batches: 2 docs, 7 tokens
    val s1 = art.serve(spark)
      .filter(org.apache.spark.sql.functions.col("source") === "s1")
      .collect().map(r => (r.getLong(1), r.getLong(2))).head
    assert(s1 == ((2L, 7L)), s1)
    art.compact(spark)
    assert(rows(art.serve(spark)) ==
      rows(graft.llm.MixPlan.sourceTokenCounts(all)))
  }

  test("streamed DSIR counts derive the batch weight table exactly") {
    import spark.implicits._
    val artifact = freshDir("dsir-artifact")
    val art = ArtifactMaintenance.dsirCountsArtifact(artifact, "tgt", buckets = 64)
    // bigrams collide across batches (same text) so sums must merge;
    // the target slice arrives in the SECOND batch — the model shifts
    val b0 = Seq(
      (1L, "raw", "a b c d"), (2L, "raw", "x y z")).toDF("doc_id", "source", "text")
    val b1 = Seq(
      (3L, "tgt", "a b c"), (4L, "raw", "a b c d")).toDF("doc_id", "source", "text")
    art.applyBatch(b0, 0L)
    art.applyBatch(b1, 1L)
    val all = b0.unionByName(b1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(art.serve(spark)) ==
      rows(graft.llm.Selection.dsirBucketCounts(all, "tgt", 64)))
    val fromStream = rows(graft.llm.Selection.dsirWeightsFrom(
      art.serve(spark), 64, 1000000L))
    val fromBatch = rows(graft.llm.Selection.dsirWeightsFrom(
      graft.llm.Selection.dsirBucketCounts(all, "tgt", 64), 64, 1000000L))
    assert(fromStream == fromBatch && fromBatch.nonEmpty)
    // target-bucket weights exceed the smoothed floor (model learned)
    val w = graft.llm.Selection.dsirWeightsFrom(art.serve(spark), 64, 1000000L)
      .agg(org.apache.spark.sql.functions.max("w")).head.getLong(0)
    assert(w > 1000000L / 64, s"no bucket outweighs the smoothing floor: $w")
    art.compact(spark)
    assert(rows(art.serve(spark)) ==
      rows(graft.llm.Selection.dsirBucketCounts(all, "tgt", 64)))
  }

  test("streamed source-grams store serves the overlap matrix equal to batch") {
    import spark.implicits._
    val artifact = freshDir("srcgrams-artifact")
    val art = ArtifactMaintenance.sourceGramsArtifact(artifact)
    // shared trigram "a b c" arrives in BOTH batches (the distinct
    // merge must collapse it) and in both sources (the overlap pair)
    val b0 = Seq(
      (1L, "s1", "a b c d e"), (2L, "s2", "a b c x y")).toDF("doc_id", "source", "text")
    val b1 = Seq(
      (3L, "s1", "a b c d e"), (4L, "s2", "p q r s t")).toDF("doc_id", "source", "text")
    art.applyBatch(b0, 0L)
    art.applyBatch(b1, 1L)
    val all = b0.unionByName(b1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(art.serve(spark)) ==
      rows(graft.llm.Dedup.sourceGramProjection(all)),
      "streamed gram table diverged from the batch projection")
    val fromStream = rows(graft.llm.Dedup.sourceOverlapFrom(art.serve(spark)))
    val fromBatch = rows(graft.llm.Dedup.sourceOverlapFrom(
      graft.llm.Dedup.sourceGramProjection(all)))
    assert(fromStream == fromBatch && fromBatch.nonEmpty)
    art.compact(spark)
    assert(rows(graft.llm.Dedup.sourceOverlapFrom(art.serve(spark))) == fromBatch)
  }

  test("streamed per-score counts serve the q232/q233 curves equal to batch") {
    import spark.implicits._
    val artifact = freshDir("perscore-artifact")
    val art = ArtifactMaintenance.perScoreArtifact(artifact)
    // docs need (doc_id, text, lang); scores collide across batches so
    // the mergeable sum is genuinely exercised
    val b0 = Seq(
      (1L, "the a x y", "en"), (2L, "x y z w", "de"),
      (3L, "the a x y", "en")).toDF("doc_id", "text", "lang")
    val b1 = Seq(
      (4L, "the a x y", "de"), (5L, "u v", "en")).toDF("doc_id", "text", "lang")
    art.applyBatch(b0, 0L)
    art.applyBatch(b1, 1L)
    val all = b0.unionByName(b1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(art.serve(spark)) == rows(graft.llm.Eval.perScoreCounts(all)),
      "streamed per-score table diverged from the batch aggregate")
    // both curves served from the streamed table equal the batch path
    assert(rows(graft.llm.Eval.prCurveFrom(art.serve(spark))) ==
      rows(graft.llm.Eval.prCurveFrom(graft.llm.Eval.perScoreCounts(all))))
    assert(rows(graft.llm.Eval.thresholdYieldFrom(art.serve(spark))) ==
      rows(graft.llm.Eval.thresholdYieldFrom(graft.llm.Eval.perScoreCounts(all))))
    // compaction preserves the mergeable table
    val before = rows(art.serve(spark))
    art.compact(spark)
    assert(rows(art.serve(spark)) == before)
  }

  test("streamed winnow-fps store matches the batch index and serves the decon screen") {
    import spark.implicits._
    val artifact = freshDir("winnow-artifact")
    val art = ArtifactMaintenance.winnowFpArtifact(artifact)
    // k=4, w=4 → docs need ≥7 tokens to fingerprint. evalMod=2 in the
    // screen: EVEN doc_ids are the eval slice. Doc 3 (training) carries
    // doc 2's (eval) opening passage → contaminated; doc 5 is clean.
    val evalText = "alpha beta gamma delta epsilon zeta eta theta"
    val b0 = Seq(
      (2L, evalText),
      (3L, evalText + " iota kappa")).toDF("doc_id", "text")
    val b1 = Seq(
      (5L, "one two three four five six seven eight nine")).toDF("doc_id", "text")
    art.applyBatch(b0, 0L)
    art.applyBatch(b1, 1L)
    val all = b0.unionByName(b1)
    def fpSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // served union == the batch fingerprint projection, bit-exact
    val served = fpSet(art.serve(spark))
    val direct = fpSet(graft.llm.TextAnalysis.winnowFingerprints(all))
    assert(served == direct)
    // the decontamination screen over the STREAMED store equals the
    // batch path's answer — and actually flags the planted doc
    def screen(fps: org.apache.spark.sql.DataFrame) =
      graft.llm.TextAnalysis.decontaminateFromFps(fps, evalMod = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fromStream = screen(art.serve(spark))
    val fromBatch = screen(graft.llm.TextAnalysis.winnowFingerprints(all))
    assert(fromStream == fromBatch)
    assert(fromStream.map(_._1) == Seq(3L), s"expected only doc 3 flagged: $fromStream")
    // compaction preserves the row-partitioned table
    art.compact(spark)
    assert(fpSet(art.serve(spark)) == direct)
  }

  test("streamed fuzzy-sig elements re-derive the batch signatures and serve q118") {
    import spark.implicits._
    val artifact = freshDir("fuzzysig-artifact")
    val art = ArtifactMaintenance.fuzzySigArtifact(artifact)
    // two batches whose UNION changes the rarity order: batch 1 floods
    // gram "ch", so a correct serve-time re-selection must demote it —
    // a store that froze batch-0 signatures would diverge
    val b0 = Seq(
      (1L, "Brand#1", 1, "chocolate"),
      (2L, "Brand#1", 1, "chocolatt"),
      (3L, "Brand#1", 1, "mint")).toDF("p_partkey", "p_brand", "p_size", "p_name")
    val b1 = Seq(
      (4L, "Brand#1", 1, "chachacha"),
      (5L, "Brand#1", 1, "chchchch"),
      (6L, "Brand#1", 1, "minty")).toDF("p_partkey", "p_brand", "p_size", "p_name")
    art.applyBatch(b0, 0L)
    art.applyBatch(b1, 1L)
    val all = b0.unionByName(b1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    for (d <- 1 to 2) {
      // signatures derived from the streamed element store == the
      // batch-built signature table over the same names
      val fromStream = rows(
        ArtifactMaintenance.fuzzySignatures(spark, artifact, d))
      val fromBatch = rows(graft.ops.Relational4.signatureTable(all, d))
      assert(fromStream == fromBatch, s"maxDist=$d signatures diverged")
      // and the fuzzy join SERVED from the streamed signatures equals
      // the direct batch plan
      val joined = rows(graft.ops.Relational4.fuzzyJoinFromSignatures(
        all, ArtifactMaintenance.fuzzySignatures(spark, artifact, d), d))
      val directJoin = rows(graft.ops.Relational4.fuzzyJoinOf(all, d))
      assert(joined == directJoin, s"maxDist=$d join diverged")
    }
    // compaction preserves the element store
    val before = rows(art.serve(spark))
    art.compact(spark)
    assert(rows(art.serve(spark)) == before)
  }

  test("streamed CDC chunk store serves the q247 dup report equal to batch") {
    import spark.implicits._
    val artifact = freshDir("cdc-artifact")
    val art = ArtifactMaintenance.cdcChunkArtifact(artifact)
    // batch 2 repeats batch 1's passage inside a new document — the
    // cross-batch chunk collision must surface in the served dup ppm
    // with no re-chunking of batch 1
    // varied tokens so the rolling-window hash actually fires interior
    // boundaries (a short periodic vocabulary can yield zero, leaving
    // one whole-doc chunk and nothing to collide)
    val rnd = new scala.util.Random(11)
    val passage = Seq.fill(120)("w" + rnd.nextInt(999)).mkString(" ")
    val b0 = Seq(
      (1L, passage, "en", "sA", 0L),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "en", "sA", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b1 = Seq(
      (3L, "prefix words then " + passage, "en", "sA", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    art.applyBatch(b0, 0L)
    art.applyBatch(b1, 1L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val all = b0.unionByName(b1)
    assert(rows(art.serve(spark)) ==
      rows(graft.llm.TextAnalysis.cdcChunkTable(all)),
      "streamed chunk table diverged from the batch projection")
    val fromStream = graft.llm.TextAnalysis.cdcReportFrom(art.serve(spark))
    val report = fromStream.collect().map(r =>
      r.getAs[String]("source") -> r).toMap
    assert(rows(fromStream) == rows(
      graft.llm.TextAnalysis.cdcReportFrom(
        graft.llm.TextAnalysis.cdcChunkTable(all))))
    // the repeated passage produced at least one duplicated chunk
    assert(report("sA").getAs[Long]("dup_ppm") > 0L, report("sA"))
    art.compact(spark)
    assert(rows(graft.llm.TextAnalysis.cdcReportFrom(art.serve(spark))) ==
      rows(fromStream))
  }

  test("streamed zone-map statistics equal the batch zones and the pruning decision") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val artifact = freshDir("zonemap-artifact")
    val art = ArtifactMaintenance.zoneMapArtifact(artifact)
    // split the fixture keys into two batches that SHARE buckets, so
    // the min/max/sum merge is genuinely exercised (a bucket's box
    // must widen across batches, its count must add)
    val base = graft.ops.Layout.maskedKeys(spark, sf)
    val b0 = base.filter(col("x") % 2 === 0)
    val b1 = base.filter(col("x") % 2 =!= 0)
    art.applyBatch(b0, 0L)
    art.applyBatch(b1, 1L)
    // replay of a committed batch id is a no-op (crash-recovery story)
    art.applyBatch(b1, 1L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val batchZones = graft.ops.Layout.zoneStats(base)
    assert(rows(art.serve(spark)) == rows(batchZones),
      "streamed zone table diverged from the batch build")
    // the decision a planner actually reads: identical prune counts
    val preds = graft.ops.Layout.ZonePreds
      .toDF("pred_id", "px_lo", "px_hi", "py_lo", "py_hi")
    val fromStream = rows(graft.ops.Layout.pruneStats(art.serve(spark), preds))
    val fromBatch = rows(graft.ops.Layout.pruneStats(batchZones, preds))
    assert(fromStream == fromBatch && fromBatch.nonEmpty)
    // compaction folds partials into one baseline, serve unchanged
    art.compact(spark)
    assert(rows(art.serve(spark)) == rows(batchZones))
    // a third batch lands AFTER compaction and still merges
    val extra = Seq((1023L, 1023L), (0L, 1023L)).toDF("x", "y")
    art.applyBatch(extra, 2L)
    assert(rows(art.serve(spark)) ==
      rows(graft.ops.Layout.zoneStats(base.unionByName(extra))))
  }

  test("snapshot time travel: serveAt reads history; compaction expires it loudly") {
    import spark.implicits._
    val b0 = Seq((1L, "a b c"), (2L, "b c d"))
    val b1 = Seq((3L, "a b c"))
    def dfOf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    def direct(rows: Seq[(Long, String)]): Map[(String, String), Long] =
      ArtifactMaintenance.batchBigramCounts(dfOf(rows))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def at(art: ArtifactMaintenance.ManifestArtifact, v: Long) =
      art.serveAt(spark, v)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    val dir = freshDir("lm-tt")
    val art = ArtifactMaintenance.lmArtifact(dir)
    art.applyBatch(dfOf(b0), 0L)
    art.applyBatch(dfOf(b1), 1L)
    val vs = art.snapshots()
    assert(vs.size == 2, s"one snapshot per commit: $vs")
    // time travel: the older snapshot serves the state BEFORE batch 1
    assert(at(art, vs.head) == direct(b0))
    assert(at(art, vs.last) == direct(b0 ++ b1))
    // unknown version fails loud
    intercept[IllegalStateException](art.serveAt(spark, 999L))
    // compaction folds partials into a baseline and SWEEPS them: the
    // pre-compaction snapshots now reference swept dirs and must
    // expire loudly, never silently serve partial data
    art.compact(spark)
    intercept[IllegalStateException](art.serveAt(spark, vs.head))
    // the post-compaction snapshot is valid and equals the live serve
    val latest = art.snapshots().last
    assert(at(art, latest) == direct(b0 ++ b1))
  }
}
