package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.Row
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/**
 * Streaming maintenance for STORED per-corpus artifacts: the batch
 * engine serves dedup/selection/novelty from pinned artifacts (LSH
 * band tables, simhash signatures, the bigram LM — see `ModelCache`);
 * in a live corpus those artifacts must track document arrivals
 * without a full rebuild.
 *
 * Design — APPEND PARTIALS, COMPACT BEHIND A MANIFEST
 * ([[ManifestArtifact]]):
 *  - each micro-batch writes its partial transform to its own
 *    `part-b<batchId>` directory, then COMMITS it by atomically
 *    rewriting the `manifest` file (temp-write + atomic move). Readers
 *    load exactly the directories the manifest lists — an uncommitted
 *    or half-written directory is invisible. Maintenance cost scales
 *    with BATCH size, not corpus size; a full-artifact
 *    read-modify-write per batch would scale with the corpus.
 *  - replay idempotence: a batch replayed after a crash re-writes its
 *    own directory (overwrite) and re-commits the same manifest line;
 *    a batch replayed after its partial was already FOLDED into a
 *    baseline is skipped outright, because the manifest carries
 *    `covered=<max folded batch id>` and stream batch ids are
 *    monotonic — the two rules together make double-counting
 *    impossible at any crash point.
 *  - [[ManifestArtifact.compact]] folds the listed partials into one
 *    `baseline-g<covered>` directory and commits a one-line manifest.
 *    The fold is written BEFORE the commit and partials are deleted
 *    AFTER it, so a crash anywhere leaves either the old manifest
 *    (all partials intact) or the new one (baseline intact) — never a
 *    half-applied state. Orphan directories a crash strands are swept
 *    on the next compaction (they are unreadable either way: readers
 *    never touch unlisted directories).
 *
 * Two artifact shapes, one mechanism:
 *  - MERGEABLE AGGREGATES (the bigram LM): partials are per-batch
 *    count tables; serve re-aggregates the union (sum is associative).
 *  - ROW-PARTITIONED tables (simhash signatures): each doc's row is
 *    computed row-locally, so partials just concatenate; serve is the
 *    bare union.
 *
 * Single-writer contract (documented, not enforced): one stream
 * maintains one artifact dir, and compaction runs on the same driver
 * (e.g. between restarts or from a maintenance trigger) — the same
 * contract every checkpoint-based Structured Streaming sink has.
 */
object ArtifactMaintenance {

  /**
   * Memo-tag → live-twin catalog (round-13 verdict #4): the CI-enforced
   * form of "every memoized artifact has a streamed twin". Keys are the
   * BASE names of every `ModelCache.memo`/`memoIndex`/`meter` tag in
   * the codebase (parameters after `|` and trailing `-$param` stripped);
   * values name what keeps that artifact fresh in deployment:
   *
   *  - `"ArtifactMaintenance.<factory>"` / `"PQ.streamedIndexArtifact"`
   *    / `"ArtifactMaintenance.NearDupLabelStore"` — a streaming store
   *    (ArtifactCatalogSpec resolves the member via reflection);
   *  - `"frozen: ..."` — a model DELIBERATELY not retrained online
   *    (the quantizers the streamed indexes encode against; retraining
   *    them would orphan every stored code);
   *  - `"landed: ..."` — a catalog-managed bucketed table maintained by
   *    its own write path, not a ManifestArtifact.
   *
   * ArtifactCatalogSpec harvests the tags from source, so adding a new
   * memoized artifact without an entry here FAILS the build.
   */
  val liveTwins: Map[String, String] = Map(
    "bigram-lm" -> "ArtifactMaintenance.lmArtifact",
    "source-unigrams" -> "ArtifactMaintenance.sourceUnigramArtifact",
    "simhash-sigs" -> "ArtifactMaintenance.simhashArtifact",
    "source-tokens" -> "ArtifactMaintenance.sourceTokensArtifact",
    // merges re-learn from the streamed word-count table (vocab-scale)
    "bpe-merges" -> "ArtifactMaintenance.wordCountArtifact",
    "dsir-wtab" -> "ArtifactMaintenance.dsirCountsArtifact",
    "source-grams" -> "ArtifactMaintenance.sourceGramsArtifact",
    "winnow-fps" -> "ArtifactMaintenance.winnowFpArtifact",
    "fuzzy-sig" -> "ArtifactMaintenance.fuzzySigArtifact",
    // span-gram bounds merge (MIN lo, MAX hi); keepers re-derive at
    // serve via the same keepersFromBounds
    "dup-grams" -> "ArtifactMaintenance.gramBoundsArtifact",
    "dup-gram-keepers" -> "ArtifactMaintenance.gramBoundsArtifact",
    // rare-bigram stats re-derive from the streamed LM count table
    "src-rare-stats" -> "ArtifactMaintenance.lmArtifact",
    // per-paragraph KN scores: the slots are row-local explodes; the
    // scores re-derive at serve against the streamed LM counts (the
    // serve-equivalence spec pins paragraphLmTrimUnder(servedModel)
    // row-equal to the batch build)
    "para-scores" -> "ArtifactMaintenance.lmArtifact",
    // per-doc KN scores: same re-derivation argument at doc grain
    "doc-scores" -> "ArtifactMaintenance.lmArtifact",
    // the pair graph + resolved labels; bands re-sign per batch
    // row-locally against the same seeded hash family
    "lsh-pairs" -> "ArtifactMaintenance.NearDupLabelStore",
    "lsh-bands" -> "ArtifactMaintenance.NearDupLabelStore",
    "neardup-labels" -> "ArtifactMaintenance.NearDupLabelStore",
    // PQ/IVF indexes stream-encode against FROZEN quantizers
    "pqindex" -> "PQ.streamedIndexArtifact",
    "ivfpqindex" -> "PQ.streamedIndexArtifact",
    "ivfrpqindex" -> "PQ.streamedResidualIndexArtifact",
    "pq" -> ("frozen: PQ codebooks are the quantizer the streamed index " +
      "encodes against — retraining online would orphan every stored code"),
    "kmeans" -> ("frozen: IVF centroids, same contract as the PQ " +
      "codebooks (ArtifactMaintenance maintains indexes AGAINST them)"),
    "bucketed-land" -> ("landed: catalog-managed bucketed+sorted tables " +
      "(ops/Bucketing.scala) maintained by their write path"))

  private[streaming] case class Manifest(covered: Long, dirs: Seq[String])

  /**
   * One manifest-committed artifact directory.
   *
   * @param artifactDir root directory (manifest + partial/baseline dirs)
   * @param partialOf   per-batch transform: (doc_id, text) micro-batch
   *                    → this batch's partial rows
   * @param emptySchema served schema before any batch commits
   * @param reduceOf    fold applied over the UNION of partials at serve
   *                    time — identity for row-partitioned artifacts,
   *                    a re-aggregation for mergeable-count artifacts
   */
  final class ManifestArtifact(
      val artifactDir: String,
      partialOf: DataFrame => DataFrame,
      emptySchema: StructType,
      reduceOf: DataFrame => DataFrame = identity) {

    private def manifestPath: Path = Paths.get(artifactDir, "manifest")

    /** CRASH-POINT SEAM (round-13 verdict #5): invoked with a label at
      * every externally visible FS boundary — after the partial write,
      * between the manifest temp-write and its atomic move, after the
      * commit, after the baseline fold write, and before every orphan
      * delete. Production default is a no-op; the all-crash-points
      * spec (ArtifactMaintenanceSpec) swaps in a thrower to kill one
      * ingest+compact cycle at each boundary in turn and proves the
      * served state always equals the old or the new manifest's. */
    private[streaming] var crashPoint: String => Unit = _ => ()

    private[streaming] def readManifest(): Manifest = {
      val p = manifestPath
      if (!Files.exists(p)) Manifest(-1L, Nil)
      else {
        val lines = Files.readAllLines(p).asScala.toSeq
        val covered = lines.headOption
          .flatMap(l => l.stripPrefix("covered=").toLongOption).getOrElse(-1L)
        Manifest(covered, lines.drop(1).filter(_.nonEmpty))
      }
    }

    private def commitManifest(m: Manifest): Unit = {
      val tmp = Paths.get(artifactDir, "manifest.tmp")
      Files.createDirectories(Paths.get(artifactDir))
      Files.write(tmp, (s"covered=${m.covered}" +: m.dirs).asJava)
      crashPoint("manifest-tmp-written")
      Files.move(tmp, manifestPath,
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      crashPoint("manifest-committed")
      // SNAPSHOT HISTORY (time travel): every committed manifest is
      // also recorded as manifest-v<N>. Written AFTER the commit point
      // so the all-crash-points invariant is untouched — a crash here
      // leaves the commit fully applied with a gap in history (a
      // snapshot that was never recorded), never a half-applied state.
      // Snapshot files are tiny text; the DATA dirs they reference live
      // only until a compaction sweeps folded partials — the Iceberg
      // expire-snapshots contract, enforced loudly by [[serveAt]].
      val v = snapshots().lastOption.getOrElse(-1L) + 1
      val vtmp = Paths.get(artifactDir, s"manifest-v$v.tmp")
      Files.write(vtmp, (s"covered=${m.covered}" +: m.dirs).asJava)
      Files.move(vtmp, Paths.get(artifactDir, s"manifest-v$v"),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      crashPoint("snapshot-recorded")
    }

    /** Recorded snapshot versions, ascending (may have gaps — a crash
      * between the manifest commit and its snapshot record skips one,
      * and the retention sweep prunes the oldest past
      * [[snapshotRetention]]). The directory stream is closed in
      * `finally`, mirroring [[sweepOrphans]] — this runs on every
      * commit AND every time-travel read, so a leaked descriptor here
      * would accumulate for the life of a streaming driver. */
    def snapshots(): Seq[Long] = {
      val d = Paths.get(artifactDir)
      if (!Files.exists(d)) Nil
      else {
        val listing = Files.list(d)
        val vs = try {
          listing.iterator().asScala.flatMap { p =>
            val n = p.getFileName.toString
            if (n.startsWith("manifest-v") && !n.endsWith(".tmp"))
              n.stripPrefix("manifest-v").toLongOption
            else None
          }.toSeq
        } finally listing.close()
        vs.sorted
      }
    }

    /** Snapshot files kept by the retention sweep (the newest K).
      * Bounding history also bounds the per-commit `snapshots()`
      * listing to O(K) — without it one tiny manifest-v file per
      * commit accumulates forever and every commit re-lists all of
      * them, O(n²) over a stream's life. */
    private[streaming] var snapshotRetention: Int = 32

    /** Delete snapshot records older than the newest
      * [[snapshotRetention]] — the metadata half of the Iceberg
      * expire-snapshots contract ([[compact]] already sweeps the DATA
      * dirs expired snapshots reference; this retires the pointers
      * themselves). Runs inside [[sweepOrphans]], i.e. at compaction,
      * never on the commit hot path; a [[serveAt]] on a pruned version
      * fails loudly with the recorded range, same as a version that
      * never existed. Each delete is a crash point: a crash mid-sweep
      * leaves a prefix of the oldest snapshots deleted — history is
      * still contiguous at the new end, so every invariant holds. */
    private def sweepSnapshots(): Unit = {
      val vs = snapshots()
      vs.dropRight(snapshotRetention).foreach { v =>
        crashPoint(s"sweep-snapshot:v$v")
        Files.deleteIfExists(Paths.get(artifactDir, s"manifest-v$v"))
      }
    }

    /** Serve the artifact AS OF snapshot `v` — the time-travel read.
      * Loud on an unknown version and on an EXPIRED one (a compaction
      * swept partial dirs the snapshot references — the Iceberg
      * expire-snapshots contract: history is valid until data GC, and
      * an expired read must fail, never silently serve partial data). */
    def serveAt(spark: SparkSession, v: Long): DataFrame = {
      val p = Paths.get(artifactDir, s"manifest-v$v")
      if (!Files.exists(p))
        throw new IllegalStateException(
          s"no snapshot v$v at $artifactDir (recorded: ${snapshots()})")
      val lines = Files.readAllLines(p).asScala.toSeq
      val dirs = lines.drop(1).filter(_.nonEmpty)
      val missing = dirs.filterNot(d => Files.exists(Paths.get(artifactDir, d)))
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"snapshot v$v expired: compaction swept ${missing.mkString(", ")}")
      if (dirs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], emptySchema)
      else
        reduceOf(spark.read.parquet(dirs.map(d => s"$artifactDir/$d"): _*))
    }

    /** One micro-batch application — the foreachBatch body, directly
      * callable so specs can replay arbitrary (batch, id) sequences. */
    def applyBatch(batch: DataFrame, batchId: Long): Unit = {
      val m = readManifest()
      val dir = s"part-b$batchId"
      // replay after compaction (id already folded) or after a
      // completed commit: nothing to do — this is the idempotence
      if (batchId > m.covered && !m.dirs.contains(dir)) {
        partialOf(batch)
          .write.mode("overwrite").parquet(s"$artifactDir/$dir")
        crashPoint("partial-written")
        commitManifest(m.copy(dirs = m.dirs :+ dir))
      }
    }

    /** Wire a streaming document feed (doc_id, text) to maintain this
      * artifact. Caller starts/stops the returned writer and owns the
      * checkpoint location, as all MicroBatch jobs here do. */
    def maintain(docs: DataFrame): DataStreamWriter[Row] =
      MicroBatch.writeStream(docs)
        .outputMode("append")
        .trigger(Trigger.ProcessingTime(0L))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          applyBatch(batch, batchId)
        }

    /** The serve view over the manifest-listed directories — what
      * `ModelCache` would pin for the batch engine. */
    def serve(spark: SparkSession): DataFrame = {
      val m = readManifest()
      if (m.dirs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], emptySchema)
      else
        reduceOf(spark.read.parquet(m.dirs.map(d => s"$artifactDir/$d"): _*))
    }

    /** Compact the listed partials into a single baseline directory
      * and commit it. See class doc for the crash story; also sweeps
      * orphan directories no manifest references (strandings from
      * earlier crashes), EXCEPT `part-b<id>` dirs above the covered
      * watermark — those may be an in-flight uncommitted batch. */
    def compact(spark: SparkSession): Unit = {
      val m = readManifest()
      if (m.dirs.size > 1) {
        val covered = (m.covered +: m.dirs.flatMap(d =>
          "part-b(\\d+)".r.findFirstMatchIn(d).map(_.group(1).toLong))).max
        val baseline = s"baseline-g$covered"
        serve(spark)
          .write.mode("overwrite").parquet(s"$artifactDir/$baseline")
        crashPoint("baseline-written")
        commitManifest(Manifest(covered, Seq(baseline)))
      }
      sweepOrphans()
    }

    /** Commit a CALLER-PROVIDED baseline in place of the listed
      * directories — the primitive behind resolve-folding compactions
      * (NearDupLabelStore folds the remap chain into resolved assign
      * rows). Same crash story as [[compact]]: the fold is written
      * before the commit, partial deletion happens via the orphan
      * sweep after it. The covered watermark advances to the max
      * committed batch id, so replays keep skipping. */
    private[streaming] def rebase(df: DataFrame): Unit = {
      val m = readManifest()
      if (m.dirs.nonEmpty) {
        val covered = (m.covered +: m.dirs.flatMap(d =>
          "part-b(\\d+)".r.findFirstMatchIn(d).map(_.group(1).toLong))).max
        val baseline = s"baseline-g$covered"
        df.write.mode("overwrite").parquet(s"$artifactDir/$baseline")
        crashPoint("baseline-written")
        commitManifest(Manifest(covered, Seq(baseline)))
      }
      sweepOrphans()
    }

    private def sweepOrphans(): Unit = {
      val live = readManifest()
      val listing = Files.list(Paths.get(artifactDir))
      val entries = try listing.iterator().asScala.toList finally listing.close()
      entries
        .filter(p => Files.isDirectory(p))
        .filter { p =>
          val name = p.getFileName.toString
          !live.dirs.contains(name) && (name match {
            case s if s.startsWith("baseline-") => true
            case s => "part-b(\\d+)".r.findFirstMatchIn(s)
              .exists(_.group(1).toLong <= live.covered)
          })
        }
        .foreach { p =>
          crashPoint(s"sweep-delete:${p.getFileName}")
          graft.model.Fs.deleteRecursively(p)
        }
      sweepSnapshots()
    }
  }

  // ---- the bigram LM (mergeable counts) ---------------------------

  private val CountsSchema = StructType(Seq(
    StructField("w1", StringType), StructField("w2", StringType),
    StructField("n", LongType)))

  /** Per-batch bigram partial counts — the SAME (w1, w2) projection
    * the stored batch LM aggregates (MixPlan.docBigrams), so streamed
    * partials are bit-compatible with the `bigram-lm` artifact. */
  private[streaming] def batchBigramCounts(batch: DataFrame): DataFrame =
    graft.llm.MixPlan.docBigrams(batch)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))

  def lmArtifact(artifactDir: String): ManifestArtifact =
    new ManifestArtifact(artifactDir, batchBigramCounts, CountsSchema,
      reduceOf = _.groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("n")))

  def maintainLm(docs: DataFrame, artifactDir: String): DataStreamWriter[Row] =
    lmArtifact(artifactDir).maintain(docs)

  def lmCounts(spark: SparkSession, artifactDir: String): DataFrame =
    lmArtifact(artifactDir).serve(spark)

  def compactLm(spark: SparkSession, artifactDir: String): Unit =
    lmArtifact(artifactDir).compact(spark)

  // ---- source unigram counts (mergeable) --------------------------

  private val SrcUnigramSchema = StructType(Seq(
    StructField("source", StringType), StructField("w", StringType),
    StructField("n_sw", LongType)))

  /** Per-batch (source, word) partial counts — delegates to the ONE
    * shared projection (Curation.sourceUnigramCounts), so streamed
    * partials are structurally bit-compatible with the memoized
    * `source-unigrams` batch artifact. */
  private[streaming] def batchSourceUnigrams(batch: DataFrame): DataFrame =
    graft.llm.Curation.sourceUnigramCounts(batch)

  /** The (source, word) count store maintained from a document stream —
    * the live twin of the memoized `source-unigrams` artifact behind
    * the TV-drift query (q182): counts merge by summation, so serve
    * re-aggregates the committed partials. */
  def sourceUnigramArtifact(artifactDir: String): ManifestArtifact =
    new ManifestArtifact(artifactDir, batchSourceUnigrams, SrcUnigramSchema,
      reduceOf = _.groupBy(col("source"), col("w"))
        .agg(sum(col("n_sw")).as("n_sw")))

  // ---- boilerplate prefix counts (mergeable) ----------------------

  private val PrefixSchema = StructType(Seq(
    StructField("source", StringType), StructField("prefix", StringType),
    StructField("n_docs", LongType)))

  /** The (source, prefix) count store maintained from a document
    * stream — the live twin of the pinned aggregate behind the
    * boilerplate audit (q193). Counts merge by summation; the flagged
    * sliver (`n_docs >= minDocs`) is re-derived from the served table,
    * so a prefix crossing the threshold as documents arrive surfaces
    * on the next serve without any rebuild. Delegates to the ONE
    * shared projection (Curation.prefixCounts). */
  def prefixArtifact(artifactDir: String): ManifestArtifact =
    new ManifestArtifact(artifactDir,
      batch => graft.llm.Curation.prefixCounts(batch), PrefixSchema,
      reduceOf = _.groupBy(col("source"), col("prefix"))
        .agg(sum(col("n_docs")).as("n_docs")))

  // ---- simhash signatures (row-partitioned) -----------------------

  private val SigSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("simhash", LongType)))

  /** The (doc_id, simhash) signature store maintained from a stream —
    * the live twin of the memoized `simhash-sigs` artifact (q33/q62):
    * signing is row-local per doc, so partials concatenate and serve
    * is the bare union. Banding/pairing (`Dedup.simhashPairsFrom`)
    * runs over the served table exactly as over the batch artifact. */
  def simhashArtifact(artifactDir: String): ManifestArtifact =
    new ManifestArtifact(artifactDir,
      batch => graft.llm.Dedup.simhashAgg(batch), SigSchema)

  // ---- per-score eval counts (mergeable) ---------------------------

  private val PerScoreSchema = StructType(Seq(
    StructField("score", LongType), StructField("np", LongType),
    StructField("nn", LongType), StructField("nd", LongType),
    StructField("nt", LongType)))

  /** The per-score count store maintained from a document stream — the
    * live twin of the bounded table behind BOTH threshold curves
    * (q232 precision/recall, q233 token yield). Confusion and yield
    * counts all merge by summation, so per-batch partials commit and
    * serve re-aggregates; `Eval.prCurveFrom`/`thresholdYieldFrom` read
    * the served table exactly as the batch aggregate — a live corpus
    * keeps its threshold dashboards fresh at batch-sized cost, never
    * re-scoring the corpus. Domain stays bounded (integer-ppm scores
    * ≤ 10⁶ distinct) no matter how many batches commit. */
  def perScoreArtifact(artifactDir: String): ManifestArtifact =
    new ManifestArtifact(artifactDir,
      batch => graft.llm.Eval.perScoreCounts(batch), PerScoreSchema,
      reduceOf = _.groupBy(col("score")).agg(
        sum(col("np")).as("np"), sum(col("nn")).as("nn"),
        sum(col("nd")).as("nd"), sum(col("nt")).as("nt")))

  // ---- per-source token totals (mergeable) --------------------------

  private val SourceTokensSchema = StructType(Seq(
    StructField("source", StringType), StructField("n_docs", LongType),
    StructField("tokens", LongType)))

  /** The per-source (n_docs, tokens) store behind the mix planners —
    * the epoch allocator (q185), temperature mix (q192), water-filling
    * (q166) and the q241 materialized order all start from this
    * source-cardinality table, so a live corpus re-plans its mixture
    * from the served sums without a corpus scan. Trivially mergeable;
    * the smallest artifact in the fleet, and the one a scheduler reads
    * most often. */
  def sourceTokensArtifact(artifactDir: String): ManifestArtifact =
    new ManifestArtifact(artifactDir,
      batch => graft.llm.MixPlan.sourceTokenCounts(batch), SourceTokensSchema,
      reduceOf = _.groupBy(col("source")).agg(
        sum(col("n_docs")).as("n_docs"), sum(col("tokens")).as("tokens")))

  // ---- BPE word counts (mergeable) ----------------------------------

  private val WordCountSchema = StructType(Seq(
    StructField("word", StringType), StructField("wc", LongType)))

  /** The (word, wc) frequency store behind BPE merge learning (q214/
    * q218), maintained from a document stream — counts merge by
    * summation and the table is Heaps-sublinear in the corpus, so live
    * tokenizer RE-TRAINING (`Bpe.learnMergesFromCounts` over the
    * served table) is a vocab-scale job, never a corpus re-scan. The
    * merges themselves are deliberately NOT incrementally patched —
    * a single count crossing an argmax boundary legitimately changes
    * every later merge, so the honest maintenance unit is the input
    * table, and re-learning from it is exactly as cheap as the batch
    * learn minus the corpus scan. */
  def wordCountArtifact(artifactDir: String): ManifestArtifact =
    new ManifestArtifact(artifactDir,
      batch => graft.llm.Bpe.wordCounts(batch), WordCountSchema,
      reduceOf = _.groupBy(col("word")).agg(sum(col("wc")).as("wc")))

  // ---- DSIR bucket counts (mergeable) -------------------------------

  private val DsirCountsSchema = StructType(Seq(
    StructField("b", LongType), StructField("n_t", LongType),
    StructField("n_r", LongType)))

  /** The per-bucket target/raw count store behind the DSIR importance
    * model (q164), maintained from a (doc_id, source, text) stream —
    * counts merge by summation, the domain is the FIXED 4096-bucket
    * feature space, so the served table stays model-sized no matter
    * the corpus; `Selection.dsirWeightsFrom` derives the broadcastable
    * weight table from the served counts exactly as from the batch
    * aggregate. An arriving target-slice document shifts the model on
    * the next serve with no corpus re-fit. */
  def dsirCountsArtifact(artifactDir: String, targetSource: String,
      buckets: Int = 4096): ManifestArtifact =
    new ManifestArtifact(artifactDir,
      batch => graft.llm.Selection.dsirBucketCounts(batch, targetSource, buckets),
      DsirCountsSchema,
      reduceOf = _.groupBy(col("b")).agg(
        sum(col("n_t")).as("n_t"), sum(col("n_r")).as("n_r")))

  // ---- distinct source grams (mergeable by distinct) ---------------

  private val SourceGramsSchema = StructType(Seq(
    StructField("source", StringType), StructField("h", StringType)))

  /** The distinct (source, gram-digest) store maintained from a
    * document stream — the live twin of the memoized `source-grams`
    * artifact behind the overlap matrix (q183), duplication-graph
    * centrality (q187) and the KMV family's exact audit arm. A FIFTH
    * merge shape on the manifest mechanism: DISTINCT — the same gram
    * arriving in two batches collapses at serve, so
    * distinct(∪ per-batch distincts) = distinct(∪ inputs); partials
    * stay gram-vocabulary-bounded per batch. Consumers read the served
    * table through the same `sourceOverlapFrom`/`sourceOverlapPairsFrom`
    * the batch artifact feeds. */
  def sourceGramsArtifact(artifactDir: String): ManifestArtifact =
    new ManifestArtifact(artifactDir,
      batch => graft.llm.Dedup.sourceGramProjection(batch),
      SourceGramsSchema,
      reduceOf = _.distinct())

  // ---- winnowing fingerprints (row-partitioned) -------------------

  private val WinnowFpSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("fp", StringType)))

  /** The (doc_id, fp) winnowed-fingerprint store maintained from a
    * document stream — the live twin of the memoized `winnow-fps`
    * index behind the decontamination screens (q163/q229).
    * Fingerprinting is row-local per doc
    * ([[graft.llm.TextAnalysis.winnowFingerprints]] — the SAME
    * projection the batch index pins), so partials concatenate and
    * serve is the bare union; the screen
    * ([[graft.llm.TextAnalysis.decontaminateFromFps]]) runs over the
    * served table exactly as over the batch index. Without this, a
    * deployment ingesting documents would re-fingerprint the whole
    * corpus per batch — the serve-from-stored-index story requires
    * the index itself to be insert-maintained. */
  def winnowFpArtifact(artifactDir: String, k: Int = 4,
      w: Int = 4): ManifestArtifact =
    new ManifestArtifact(artifactDir,
      batch => graft.llm.TextAnalysis.winnowFingerprints(batch, k, w),
      WinnowFpSchema)

  // ---- fuzzy-join signature elements (row-partitioned) ------------

  private val FuzzyElemSchema = StructType(Seq(
    StructField("p_partkey", LongType), StructField("p_brand", StringType),
    StructField("p_size", IntegerType), StructField("p_name", StringType),
    StructField("len", IntegerType), StructField("gram", StringType),
    StructField("occ", IntegerType)))

  /** The positional q-gram ELEMENT store behind the q118 fuzzy-join
    * blocking index, maintained from a parts stream (p_partkey,
    * p_brand, p_size, p_name) — the live twin of the memoized
    * `fuzzy-sig` index. The stored rows are
    * [[graft.ops.Relational4.signatureElements]] — row-local per name
    * and maxDist-INDEPENDENT, so partials concatenate, one store
    * serves every distance, and maintenance costs batch-sized explode
    * work. What is NOT stored is the signature SELECTION: each name's
    * d·q+1 rarest grams depend on corpus-wide gram frequencies, which
    * legitimately shift as names arrive — so [[fuzzySignatures]]
    * re-derives the selection from the served elements (one mergeable
    * count + a bounded-heap top-k over the element store; never a
    * raw-text rescan). Streamed-equals-batch is spec-pinned including
    * the re-selection. */
  def fuzzySigArtifact(artifactDir: String): ManifestArtifact =
    new ManifestArtifact(artifactDir,
      batch => graft.ops.Relational4.signatureElements(batch),
      FuzzyElemSchema)

  /** The signature table derived from the streamed element store —
    * what [[graft.ops.Relational4.fuzzyJoinFromSignatures]] consumes
    * in place of the batch-built `fuzzy-sig` index. */
  def fuzzySignatures(spark: SparkSession, artifactDir: String,
      maxDist: Int): DataFrame =
    graft.ops.Relational4.signaturesFromElements(
      fuzzySigArtifact(artifactDir).serve(spark), maxDist)

  // ---- dup-gram doc-id bounds (mergeable min/max) -----------------

  private val GramBoundsSchema = StructType(Seq(
    StructField("g", StringType), StructField("lo", LongType),
    StructField("hi", LongType)))

  /** The per-gram document-id bounds store maintained from a document
    * stream — the live twin of the `dup-gram-keepers` batch artifact
    * behind the exact-substring trim (q213). A third merge shape on
    * the same manifest mechanism: bounds merge by (MIN lo, MAX hi) —
    * min/max are as mergeable as sums, so per-batch partials commit
    * and serve re-reduces. The keeper selection (cross-doc grams only,
    * keep the lowest holder) is re-derived from the served table via
    * the SAME `TextAnalysis.keepersFromBounds`, so a gram becoming
    * cross-document as new batches arrive flips into the trim set on
    * the next serve with no rebuild. */
  def gramBoundsArtifact(artifactDir: String, k: Int = 7): ManifestArtifact =
    new ManifestArtifact(artifactDir,
      batch => graft.llm.TextAnalysis.spanGramBounds(batch, k),
      GramBoundsSchema,
      reduceOf = _.groupBy(col("g"))
        .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi")))

  // ---- per-source KMV sketches (mergeable min-k) ------------------

  private val KmvSchema = StructType(Seq(
    StructField("source", StringType), StructField("x", LongType)))

  /** The per-source KMV sketch store maintained from a document
    * stream — the live twin of the sketch behind the theta-overlap
    * estimates (q226). A FOURTH merge shape on the manifest
    * mechanism: distinct-then-min-k. Each batch commits its own
    * k-smallest gram digests (bounded: ≤ k rows per source per batch,
    * whatever the batch size); serve deduplicates the union (the same
    * gram arriving in two batches collapses) and re-takes the k
    * smallest — min-k(∪ partial min-k's) = min-k(∪ inputs), so the
    * served sketch equals the batch-built one over the same documents.
    * Estimates (`Dedup.kmvEstimates`) run over the served table
    * exactly as over the batch artifact. */
  def kmvArtifact(artifactDir: String, k: Int = 256): ManifestArtifact =
    new ManifestArtifact(artifactDir,
      batch => graft.llm.Dedup.kmvSketchOf(
        graft.llm.Dedup.sourceGramProjection(batch), k),
      KmvSchema,
      reduceOf = partials => graft.llm.Dedup.kmvReduce(partials, k))

  // ---- CDC chunk table (row-partitioned) --------------------------

  private val CdcChunkSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("h", StringType), StructField("len", LongType)))

  /** The per-chunk (doc_id, source, hash, len) store maintained from a
    * document stream — the live twin of the q247 content-defined
    * chunking table. Chunking is row-local per document
    * ([[graft.llm.TextAnalysis.cdcChunkTable]] — the SAME projection
    * the batch query folds), so partials concatenate and serve is the
    * bare union; the per-source dup screen re-aggregates the served
    * table at serve time (counts and distincts are corpus-wide facts
    * that legitimately change as chunks collide across batches — the
    * fuzzy-sig stance: store the row-local projection, re-derive the
    * corpus-wide selection). A newly ingested document that duplicates
    * a stored chunk flips the dup ppm on the next serve with zero
    * re-chunking of the existing corpus. */
  def cdcChunkArtifact(artifactDir: String): ManifestArtifact =
    new ManifestArtifact(artifactDir,
      batch => graft.llm.TextAnalysis.cdcChunkTable(batch),
      CdcChunkSchema)

  // ---- zone-map statistics (mergeable min/max/sum) ----------------

  private val ZoneStatsSchema = StructType(Seq(
    StructField("layout", StringType), StructField("bucket", LongType),
    StructField("n", LongType),
    StructField("zx_lo", LongType), StructField("zx_hi", LongType),
    StructField("zy_lo", LongType), StructField("zy_hi", LongType)))

  /** The per-(layout, bucket) zone-map statistics store maintained
    * from a stream of masked (x, y) key rows — the live twin of the
    * q244 audit's zone table. This is the FILE-STATISTICS merge shape
    * (count by SUM, bounding box by MIN/MAX — what Iceberg/Delta
    * maintain per data file at commit time): per-batch partials are
    * <= 3*4096 rows regardless of batch size, and serve re-reduces to
    * exactly the full-corpus table, so the pruning decision
    * ([[graft.ops.Layout.pruneStats]]) stays fresh under ingest at
    * batch-sized cost — never a table re-scan. Zones only tighten
    * monotonically wrong-ways under inserts (a box can only GROW), so
    * a served decision is always conservative-correct: it may scan
    * more buckets than a fresh relayout would, never miss a match. */
  def zoneMapArtifact(artifactDir: String): ManifestArtifact =
    new ManifestArtifact(artifactDir,
      batch => graft.ops.Layout.zoneStats(batch),
      ZoneStatsSchema,
      reduceOf = _.groupBy(col("layout"), col("bucket")).agg(
        sum(col("n")).as("n"),
        min(col("zx_lo")).as("zx_lo"), max(col("zx_hi")).as("zx_hi"),
        min(col("zy_lo")).as("zy_lo"), max(col("zy_hi")).as("zy_hi")))

  // ---- near-dup cluster labels (union-find under inserts) ---------

  private val BandsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("sig", StringType)))
  private val DocsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val AssignSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lab", LongType)))
  private val RemapSchema = StructType(Seq(
    StructField("old_lab", LongType), StructField("new_lab", LongType)))
  private val PairsSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("jaccard", org.apache.spark.sql.types.DoubleType)))

  /**
   * Streamed maintenance of the near-dup CLUSTER LABEL artifact
   * (`neardup-labels` — what q69/q190/q223/q224/q229/q230/q231 serve
   * from): connected components of the MinHash-LSH pair graph,
   * maintained under document INSERTS without ever re-running the
   * global build — at 100 TB you cannot rebuild connected components
   * per ingest (round-10 verdict #3).
   *
   * The insight that makes increments cheap: new documents only ever
   * ADD edges, and added edges only ever MERGE components — so the
   * full edge set never needs revisiting, only the component ROOTS
   * touched by the batch's new pairs. Per micro-batch:
   *
   *  1. sign the batch row-locally (the SAME minhash/band expressions
   *     as the batch `lsh-bands` artifact) and append to the band
   *     store;
   *  2. candidates = batch bands ⋈ stored bands on (band, sig) — only
   *     pairs touching the batch can be new, so the join probes the
   *     store, never scans it against itself (in deployment the store
   *     is bucketed by sig; the probe prunes to matching buckets). A
   *     hot bucket fails the candidate-count guard LOUDLY rather than
   *     silently exploding — the production mitigation is the batch
   *     path's bounded-bucket discipline;
   *  3. verify candidates at exact shingle-Jaccard ≥ 0.5 (identical
   *     arithmetic to `Dedup.minhashLshImpl`), reading ONLY candidate
   *     docs' texts from the doc store (partition-prunable probe);
   *  4. UNION-FIND over the verified pairs' current labels — a
   *     batch-pair-sized sliver, resolved driver-side under the same
   *     guard — emitting two append-only partials: `assign` rows for
   *     docs entering the pair graph (doc_id → component min at
   *     insert) and `remap` rows for existing roots a merge re-roots
   *     (old_root → new min). Roots are always component MINIMUMS
   *     (min-union), so served labels equal the batch builder's
   *     component-minimum labels exactly.
   *
   * The verified pairs themselves persist too ([[servePairs]] — the
   * `lsh-pairs` artifact's live twin): a pair is an immutable fact
   * that forms exactly once, at its later member's batch, so the pair
   * store is pure append and q190/q199-class consumers can serve from
   * it without any batch re-verify.
   *
   * Serve resolves assign through the remap forest iteratively (the
   * label-sum invariant proves convergence — min-union only ever
   * decreases labels); chain depth is bounded by how many times a
   * root can be re-rooted between compactions, with a loud 64-round
   * backstop. Each sub-store is a
   * [[ManifestArtifact]], so crash/replay idempotence is inherited;
   * commit order (docs, bands, pairs, remap, assign) is chosen so a
   * replay after ANY prefix recomputes the identical remaining
   * partials — notably remap commits BEFORE assign, because once a
   * batch's assign rows land, its pair endpoints resolve to the
   * post-merge roots and the remap rows would recompute empty.
   *
   * Maintenance cost scales with batch size (signing, candidate
   * probe, sliver union-find); serve cost with corpus size exactly
   * once (the assign read) plus the remap sliver per chain round —
   * the same accounting as every artifact above.
   */
  final class NearDupLabelStore(
      artifactDir: String, maxBatchPairs: Int = 1 << 20) {
    import graft.llm.Dedup

    private val docsArt = new ManifestArtifact(s"$artifactDir/docs",
      _.select(col("doc_id").cast("long"), col("text")), DocsSchema)
    private val bandsArt = new ManifestArtifact(s"$artifactDir/bands",
      bandsOf, BandsSchema)
    private val pairsArt = new ManifestArtifact(s"$artifactDir/pairs",
      identity, PairsSchema)
    private val remapArt = new ManifestArtifact(s"$artifactDir/remap",
      identity, RemapSchema)
    private val assignArt = new ManifestArtifact(s"$artifactDir/assign",
      identity, AssignSchema)

    private def bandsOf(docs: DataFrame): DataFrame = {
      val bandCols = (0 until Dedup.NumBands).map(b =>
        concat_ws(",", col(s"h${2 * b}"), col(s"h${2 * b + 1}")))
      Dedup.withMinhashes(Dedup.withShingleArray(
          docs.select(col("doc_id").cast("long"), col("text"))))
        .select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "sig")))
    }

    /** One micro-batch of (doc_id, text) — the foreachBatch body,
      * directly callable so specs replay arbitrary sequences. */
    def applyBatch(batch: DataFrame, batchId: Long): Unit = {
      val spark = batch.sparkSession
      val b = batch.select(col("doc_id").cast("long"), col("text"))
        .localCheckpoint()
      docsArt.applyBatch(b, batchId)
      bandsArt.applyBatch(b, batchId)
      // candidates touching the batch (the stored side includes the
      // just-committed batch bands, so within-batch pairs form too;
      // least/greatest normalizes replay- and order-independently)
      val batchBands = bandsOf(b)
      val cand = graft.ops.GlobalOrder.pinnedSliver(
        batchBands.select(col("doc_id").as("id_x"), col("band"), col("sig"))
          .join(bandsArt.serve(spark)
            .select(col("doc_id").as("id_y"), col("band"), col("sig")),
            Seq("band", "sig"))
          .filter(col("id_x") =!= col("id_y"))
          .select(least(col("id_x"), col("id_y")).as("id_a"),
            greatest(col("id_x"), col("id_y")).as("id_b"))
          .distinct(),
        maxBatchPairs, "near-dup batch candidate set")
      // exact-Jaccard verify on candidate docs only — identical
      // arithmetic to the batch pipeline's verify
      val candIds = cand.select(col("id_a").as("doc_id"))
        .union(cand.select(col("id_b").as("doc_id"))).distinct()
      val sh = Dedup.withShingleArray(
          docsArt.serve(spark).join(broadcast(candIds), Seq("doc_id"), "left_semi"))
        .select(col("doc_id"), explode(col("sh")).as("s"))
        .localCheckpoint()
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val pairs = cand
        .join(sh.as("x"), col("x.doc_id") === col("id_a"))
        .join(sh.as("y"),
          col("y.doc_id") === col("id_b") && col("y.s") === col("x.s"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("common"))
        .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
        .withColumn("jaccard", col("common").cast("double") /
          (col("na") + col("nb") - col("common")))
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .localCheckpoint()
      // the verified-pair artifact (`lsh-pairs`' live twin): pairs are
      // immutable facts — a pair forms exactly once, when its later
      // member's batch arrives — so the store is pure append
      pairsArt.applyBatch(pairs, batchId)
      // endpoints' CURRENT labels (resolved); batch-pair-sized sliver
      val cur = serve(spark)
      val eps = pairs
        .join(cur.select(col("doc_id").as("id_a"), col("cluster").as("la")),
          Seq("id_a"), "left")
        .join(cur.select(col("doc_id").as("id_b"), col("cluster").as("lb")),
          Seq("id_b"), "left")
        .collect() // bounded by the candidate guard above
      // union-find by MIN over {existing roots} ∪ {unassigned doc ids}
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      def union(a: Long, b: Long): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val existingRoots = scala.collection.mutable.Set.empty[Long]
      val unassigned = scala.collection.mutable.Set.empty[Long]
      eps.foreach { r =>
        val (idA, idB) = (r.getLong(r.fieldIndex("id_a")), r.getLong(r.fieldIndex("id_b")))
        val la = if (r.isNullAt(r.fieldIndex("la"))) { unassigned += idA; idA }
                 else { val v = r.getLong(r.fieldIndex("la")); existingRoots += v; v }
        val lb = if (r.isNullAt(r.fieldIndex("lb"))) { unassigned += idB; idB }
                 else { val v = r.getLong(r.fieldIndex("lb")); existingRoots += v; v }
        union(la, lb)
      }
      val remapRows = existingRoots.toSeq.sorted
        .map(root => (root, find(root))).filter { case (r, nr) => nr != r }
      val assignRows = unassigned.toSeq.sorted.map(d => (d, find(d)))
      val sqlCtx = spark
      import sqlCtx.implicits._
      // remap BEFORE assign (see class doc for the replay argument)
      remapArt.applyBatch(remapRows.toDF("old_lab", "new_lab"), batchId)
      assignArt.applyBatch(assignRows.toDF("doc_id", "lab"), batchId)
    }

    /** The verified near-dup pair view (id_a, id_b, jaccard) — the
      * streamed twin of the `lsh-pairs` artifact. Pairs are immutable
      * facts (each forms exactly once, at its later member's batch),
      * so serve is the bare union of partials. */
    def servePairs(spark: SparkSession): DataFrame = pairsArt.serve(spark)

    /** Remap-chain resolution rounds of the LAST [[serve]] call —
      * driver-side observability for the serve-cost growth spec
      * (chain depth is what compaction cadence bounds). */
    @volatile private[graft] var lastResolveRounds: Int = 0

    /** The resolved label view: (doc_id, cluster) for every doc in the
      * pair graph — the streamed twin of `Pipeline.nearDupClusters`.
      *
      * SERVE-COST ACCOUNTING (what a deployment pays, per call):
      * store rows scale with the PAIR GRAPH, not the corpus — a doc
      * with no verified pair never enters assign. The resolution loop
      * runs one broadcast-remap join per chain HOP, and hops accrue
      * one per root-merging batch since the last compaction — so serve
      * cost is O(assign-sliver × chain-depth), and chain depth is
      * bounded by COMPACTION CADENCE, not corpus lifetime: [[compact]]
      * resolve-folds the chain (assign := resolved labels, remap :=
      * empty), resetting depth to zero. Measured by the ≥20-batch
      * growth spec (NearDupLabelStoreSpec). */
    def serve(spark: SparkSession): DataFrame = {
      val remap = remapArt.serve(spark).localCheckpoint()
      var labels = assignArt.serve(spark).localCheckpoint()
      // label-sum invariant: min-union remaps only ever DECREASE
      // labels, so an unchanged sum means
      // every chain is fully resolved
      var prevSum = Option.empty[Long]
      var converged = false
      var rounds = 0
      val maxRounds = 64
      while (!converged && rounds < maxRounds) {
        val next = labels
          .join(broadcast(remap), labels("lab") === remap("old_lab"), "left")
          .select(col("doc_id"), coalesce(col("new_lab"), col("lab")).as("lab"))
          .localCheckpoint()
        val s = Option(next.agg(sum(col("lab"))).first().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        converged = prevSum.contains(s)
        prevSum = Some(s)
        labels = next
        rounds += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"near-dup remap resolution did not converge within $maxRounds " +
            "rounds — compact the store or raise the backstop; serving " +
            "unresolved labels would break the split-leakage guarantee")
      lastResolveRounds = rounds
      labels.select(col("doc_id"), col("lab").as("cluster"))
    }

    /** Wire a streaming (doc_id, text) feed to maintain the store. */
    def maintain(docs: DataFrame): DataStreamWriter[Row] =
      MicroBatch.writeStream(docs)
        .outputMode("append")
        .trigger(Trigger.ProcessingTime(0L))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          applyBatch(batch, batchId)
        }

    /** Fold each sub-store's partials behind its manifest — and
      * RESOLVE the label chain: assign is rebased to the fully-resolved
      * labels and remap is cleared, so the next serve converges in the
      * loop's two confirmation rounds instead of one join per
      * accumulated root merge. Chain depth is thereby bounded by how
      * often a deployment compacts, not by how long it has been
      * ingesting.
      *
      * Crash order matters and is safe at every point: the resolved
      * assign baseline commits FIRST, so a crash before the remap
      * clear leaves stale remap rows whose old_lab values are exactly
      * the roots the fold just eliminated — they match no resolved
      * label and the next serve applies them as a no-op. Clearing
      * remap first would lose unresolved chains. */
    def compact(spark: SparkSession): Unit = {
      docsArt.compact(spark); bandsArt.compact(spark)
      pairsArt.compact(spark)
      val resolved = serve(spark)
        .select(col("doc_id"), col("cluster").as("lab")).localCheckpoint()
      assignArt.rebase(resolved)
      remapArt.rebase(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], RemapSchema))
    }
  }
}
