package graft.llm

import graft.model.Tables
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators over the `documents` table — the LLM-pipeline
 * surface mandated by BASELINE.json (exact, MinHash+LSH, SimHash,
 * n-gram Jaccard).
 *
 * Cross-engine determinism: every hash used here is `md5` over an
 * explicit UTF-8 string (lowercase hex in both Spark and DuckDB) and
 * "minimum hash" means lexicographic MIN over those hex strings — no
 * engine-private hash functions anywhere, so the DuckDB oracle can
 * replay the exact pipeline.
 *
 * Scale design: candidate generation never goes quadratic —
 *  - exact dedup is a single hash-shuffle on the content key;
 *  - MinHash/LSH shuffles by (band, band-signature) so only docs in the
 *    same LSH bucket ever meet; the verify join touches candidate pairs
 *    only (empirically ~25 pairs out of 125k at sf0.01);
 *  - the all-pairs exact-Jaccard query is explicitly windowed to a
 *    bounded doc prefix — it exists as the oracle-checkable ground
 *    truth, not as the scale path.
 *
 * Materialization contract: narrow intermediates the returned LAZY plan
 * reads more than once (band tables, candidate ids) are
 * `localCheckpoint()`ed, never `cache()`d — checkpoint blocks are
 * released by the ContextCleaner as soon as the plan is garbage
 * collected, so a library consumer issuing many queries in one session
 * accumulates nothing and owes no `clearCache()` call (round-5 verdict
 * item: the old `cache()` in bucketPairs relied on a documented caller
 * contract).
 */
object Dedup {

  /** 3-word shingles of the space-tokenized text, distinct per doc.
    * Output: (doc_id, shingle). Docs with <3 tokens have no shingle
    * and emit no row; the [[Grams]] window is total, so no guard is
    * needed, RDD-backed inputs (streaming micro-batches) included. */
  def shingles(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("s", explode(array_distinct(Grams.joined("w", 3, "_"))))
      .select(col("doc_id"), col("s"))

  /**
   * Exact dedup: group identical texts, keep the lowest doc_id.
   * One hash aggregation on the content — at 100 TB you'd group on
   * md5(text) first to shrink shuffle width; semantics are identical.
   */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("text"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), length(col("text")).cast("long").as("text_len"))
      .orderBy("keep_id")

  /**
   * Normalization-robust exact dedup audit — the case/punctuation
   * canonicalization step production pipelines run BEFORE exact
   * hashing (Gopher/RefinedWeb normalize, then hash): per source, how
   * many documents sit in raw exact-duplicate groups vs in groups of
   * the NORMALIZED text (lowercase, non-alphanumeric runs collapsed to
   * one space, trimmed), and the documents normalization newly
   * catches — re-crawls that differ only in casing/punctuation, which
   * raw exact dedup silently keeps twice.
   *
   * Scale shape: normalization is row-local; both duplicate tests are
   * md5-hash aggregates (32-hex keys shuffle, never text), the
   * dup-hash slivers join back on the hash, one source-cardinality
   * rollup. Deterministic, RNG-free.
   */
  def normalizedDedup(spark: SparkSession, dir: String): DataFrame =
    normalizedDedupOf(Tables.documents(spark, dir))

  private[llm] def normalizedDedupOf(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    val h = docs.select(col("source"), md5(col("text")).as("eh"),
      md5(norm).as("nh"))
    def dupSet(c: String) = h.groupBy(col(c)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1L).select(col(c))
    h.join(dupSet("eh").withColumn("e_dup", lit(1L)), Seq("eh"), "left")
      .join(dupSet("nh").withColumn("n_dup", lit(1L)), Seq("nh"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("e_dup"), lit(0L))).as("n_exact_dup_docs"),
        sum(coalesce(col("n_dup"), lit(0L))).as("n_norm_dup_docs"),
        sum(when(col("n_dup") === 1L && col("e_dup").isNull, 1L)
          .otherwise(0L)).as("n_newly_caught"))
      .withColumn("newly_caught_ppm",
        expr("(1000000 * n_newly_caught) div n_docs"))
      .orderBy(col("source"))
  }

  /**
   * Near-dup threshold sweep — the aggressiveness curve for the LSH
   * dedup cut (the q232 thought applied to duplication): for each
   * dyadic Jaccard threshold t ∈ {8/16 … 16/16}, how many verified
   * pairs survive "treat as duplicate at similarity ≥ t" and how many
   * documents the drop-higher-member policy (q199's convention) would
   * remove, in exact corpus ppm. Read next to q233's token-yield
   * curve, this is how a curator picks the dedup threshold instead of
   * inheriting 0.5.
   *
   * Scale: everything derives from the STORED `lsh-pairs` artifact —
   * the only corpus touch is one COUNT(*); the sweep itself is a
   * 9-way explode over the pair sliver. Thresholds are dyadic
   * sixteenths, exact in double in both engines.
   */
  def dedupThresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    val grid = (8 to 16).map(i => i / 16.0)
    val nDocs = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_docs"))
    minhashLsh(spark, dir)
      .select(col("id_b"), col("jaccard"))
      .withColumn("threshold", explode(array(grid.map(lit(_)): _*)))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_b")).as("n_dropped"))
      .crossJoin(broadcast(nDocs))
      .withColumn("dropped_ppm", expr("(1000000 * n_dropped) div n_docs"))
      .select(col("threshold"), col("n_pairs"), col("n_dropped"),
        col("dropped_ppm"))
      .orderBy(col("threshold"))
  }

  /**
   * Duplication SPECTRUM: for every exact-duplicate cluster size, how
   * many clusters exist, how many documents they hold, and how many
   * are removable (cluster size − 1 each) — the corpus-health summary
   * reported alongside dedup runs (cf. Lee et al.'s duplicate-cluster
   * histograms) that tells you, before deduping 100 TB, how much
   * you'll actually delete.
   *
   * Scale shape: the first aggregate groups on `md5(text)` — a fixed
   * 32-hex key — so the corpus-scale shuffle carries hashes, not
   * document bytes (unlike [[exactDedup]], which must keep the text to
   * report `text_len`). The second aggregate's key is cluster SIZE —
   * a handful of distinct values — and its input is one row per
   * cluster, already far smaller than the corpus; its few-key shuffle
   * moves cluster-count rows, not documents.
   */
  def dupSpectrum(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n_copies"))
      .groupBy(col("n_copies"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("n_copies") * col("n_clusters"))
      .withColumn("n_removable", (col("n_copies") - lit(1L)) * col("n_clusters"))
      .orderBy(col("n_copies"))

  /**
   * Cross-source exact-duplicate LEAKAGE matrix: for every unordered
   * source pair, the number of distinct texts present in both — the
   * exact-hash twin of the near-dup matrix (q133), and the first thing
   * a mix-planner checks before weighting sources (double-counted text
   * inflates a source's apparent token budget).
   *
   * Scale shape: q136's row-local pair idiom, not a self-join — one
   * corpus-scale aggregate groups `(md5(text))` and collects the
   * DISTINCT source set per hash (bounded by the source count, a small
   * constant, so `collect_set` is safe), then pairs are generated
   * row-locally from each sorted set and counted over a key space of
   * at most |sources|² rows. A self-join of (source, hash) on hash
   * would re-shuffle the corpus a second time for the same answer.
   */
  def crossSourceExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(expr(
        "flatten(transform(sequence(1, size(srcs) - 1), i -> " +
          "transform(sequence(i + 1, size(srcs)), j -> " +
          "struct(element_at(srcs, i) AS src_a, element_at(srcs, j) AS src_b))))")).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("src_a"), col("src_b"))

  /**
   * Exact n-gram (3-word shingle) Jaccard near-dup pairs, restricted to
   * doc_id < 200 so the all-pairs verify stays bounded (the ground-truth
   * query; the LSH variant below is the scale path).
   */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(Tables.documents(spark, dir).filter(col("doc_id") < 200))
      .localCheckpoint()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), col("common"), col("na"), col("nb"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Number of MinHash functions (md5 salts) and LSH band layout:
    * 8 hashes → 4 bands × 2 rows. P(candidate | J=0.9) ≈ 99.9%. */
  val NumHashes = 8
  val NumBands  = 4

  /** Hot-bucket guard: buckets up to this wide pair all-vs-all; wider
    * buckets switch to chain pairing. 512 is far above any organic
    * bucket the fixtures produce at ANY scale factor (simhash max 247
    * at sf0.1), so only true degenerate floods (identical-content
    * clusters) are capped — and a legit 512-wide bucket still costs
    * only ~2.6e5 in-bucket pairs, a bounded unit of work per bucket. */
  val BucketCap = 512

  /** Chain depth for over-cap buckets: each member pairs with its
    * next `ChainDepth` doc_id-ordered bucket neighbors. */
  val ChainDepth = 3

  /**
   * Candidate pairs within (band, sig) buckets, with a hot-bucket cap.
   *
   * A degenerate corpus (thousands of identical boilerplate docs)
   * collapses into ONE bucket, and the plain self-join is then
   * quadratic in that bucket's width — the classic LSH scale-killer.
   * Buckets at or under [[BucketCap]] keep the exact all-pairs join
   * (so real-data results are untouched — organic fixture buckets stay
   * far below the cap at every SF and the DuckDB oracles replay the
   * uncapped join);
   * wider buckets degrade to CHAIN pairing: member i meets members
   * i+1..i+[[ChainDepth]] in doc_id order via an equi-join on
   * (band, sig, rank+offset) — O(width · depth) rows, never width².
   * Chains keep every over-cap bucket fully CONNECTED, so duplicate
   * CLUSTERS (connected components, q72) lose nothing; only the
   * exhaustive pair listing inside a degenerate bucket is traded away,
   * which is exactly the listing no 100 TB pipeline can afford.
   */
  private[graft] def bucketPairs(banded: DataFrame, cap: Int = BucketCap): DataFrame = {
    val wSpec = Window.partitionBy(col("band"), col("sig"))
    // bucket widths need no sort; the widthed signature table is
    // localCheckpoint'd (narrow columns, ~bands × docs rows — spillable
    // signature scale, NOT corpus scale) because the self-join reads it
    // from both sides; its blocks free themselves when the plan is GC'd
    val widthed = banded.withColumn("w", count(lit(1)).over(wSpec)).localCheckpoint()
    val narrow = widthed.filter(col("w") <= cap)
    val candNarrow = narrow.as("a").join(narrow.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    // ranks (which need a per-bucket sort) are computed ONLY for the
    // over-cap rows, so the sort cost tracks the normally-empty wide
    // subset instead of the whole table
    val wide = widthed.filter(col("w") > cap)
      .withColumn("rn", row_number().over(wSpec.orderBy(col("doc_id"))))
    val wideA = wide
      .select(col("band").as("band_a"), col("sig").as("sig_a"),
        col("doc_id").as("id_a"), col("rn").as("rn_a"))
      .withColumn("off", explode(expr(s"sequence(1, $ChainDepth)")))
    val wideB = wide
      .select(col("band").as("band_b"), col("sig").as("sig_b"),
        col("doc_id").as("id_b"), col("rn").as("rn_b"))
    val candWide = wideA.join(wideB,
        col("band_a") === col("band_b") && col("sig_a") === col("sig_b") &&
          (col("rn_a") + col("off")) === col("rn_b"))
      .select(col("id_a"), col("id_b"))
    candNarrow.union(candWide).distinct()
  }

  /**
   * MinHash signatures h0..h7 added to a frame carrying a shingle-array
   * column `sh` — computed ROW-LOCALLY: a document's minimum hash is a
   * fold over its own shingle array (`array_min(transform(...))`), so
   * signing the corpus is a pure projection. The previous formulation
   * (explode shingles → groupBy(doc_id) with 8 min() aggregates) paid
   * a full hash-aggregation pass plus a (doc_id, h0..h7) shuffle for
   * the same values; row-local signing shuffles NOTHING — at 100 TB
   * the signature stage becomes scan-bound, and the only shuffle left
   * in LSH is the bucket join itself. (The streaming dedup uses the
   * same helper for the same reason: no streaming aggregation spent
   * on signing.)
   *
   * The 8 hash functions are the 4 disjoint 8-hex-char slices of
   * md5("a|"+s) and md5("b|"+s) — the two digests are materialized
   * once per shingle into array columns, then each slice-min is a
   * cheap substring pass (8 `array_min`s over `transform(sh, md5)`
   * directly would recompute every digest 4×). Lexicographic min over
   * fixed-width hex ≡ numeric min; the DuckDB oracle replays the
   * identical slicing via its grouped-min formulation — same set,
   * same minimum, bit-equal.
   */
  private[graft] def withMinhashes(df: DataFrame): DataFrame = {
    val digested = df
      .withColumn("da", expr("transform(sh, s -> md5(concat('a|', s)))"))
      .withColumn("db", expr("transform(sh, s -> md5(concat('b|', s)))"))
    (0 until NumHashes).foldLeft(digested) { (d, k) =>
      val src = if (k < 4) "da" else "db"
      d.withColumn(s"h$k",
        expr(s"array_min(transform($src, x -> substring(x, ${1 + 8 * (k % 4)}, 8)))"))
    }.drop("da", "db")
  }

  /** The distinct 3-word shingle ARRAY of each document, as a column —
    * the row-local twin of [[shingles]] (same windows, same `_` join).
    * Docs with <3 tokens are dropped rather than kept with an empty
    * array: the oracles have no row for them. */
  private[graft] def withShingleArray(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 3)
      .withColumn("sh", array_distinct(Grams.joined("w", 3, "_")))

  /**
   * MinHash + LSH near-dup detection, end to end:
   * shingle → 8 salted-md5 minhashes → 4 bands of 2 → bucket join on
   * (band, signature) → exact-Jaccard verify of candidates ≥ 0.5.
   */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshFrom(Tables.documents(spark, dir))

  /** The (doc_id, band, sig) LSH band table of a documents frame —
    * shingle → minhash → banded signatures, lineage-truncated.
    *
    * localCheckpoint (not cache): bands is tiny (docs × 4 rows), but
    * its LINEAGE is the whole shingle+minhash pipeline — downstream
    * stages (self-join, union, verify joins) would each re-embed that
    * multi-MiB plan in their task binaries. Checkpointing truncates
    * the lineage so every later stage ships a KiB-sized plan. */
  private[llm] def bandTable(docs: DataFrame): DataFrame =
    // memoized per corpus (ModelCache): the band table IS the stored
    // signature index — q101's incremental dedup joins against it, and
    // the `lsh-pairs` build reads it once; the pair consumers (q32, q69,
    // q72, q133, ...) serve from the pinned pair set, not from here
    ModelCache.memoIndex(docs, "lsh-bands") {
      // band i = salts (2i, 2i+1); posexplode keeps one narrow band table
      val bandCols = (0 until NumBands).map(b =>
        concat_ws(",", col(s"h${2 * b}"), col(s"h${2 * b + 1}")))
      withMinhashes(withShingleArray(docs))
        .select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "sig")))
        .localCheckpoint()
    }

  /** [[minhashLsh]] over an arbitrary documents frame (spec entry point
    * for degenerate-corpus behavior). Memoized per corpus as a PINNED
    * artifact: the verified pair set is consumed by q32 itself, the
    * cluster builders (q69/q72/q257), and the contamination matrix
    * (q133) — one bucket-join + verify + output sort, forced by
    * `memoIndex`'s count, and every hit serves the pinned rows (a plan
    * of `LogicalRDD` leaves) instead of re-running the candidate ⋈
    * shingle ⋈ shingle verify. The pin keeps the sort's row order. */
  private[llm] def minhashLshFrom(docs: DataFrame): DataFrame =
    ModelCache.memoIndex(docs, "lsh-pairs")(
      graft.ops.GlobalOrder.pin(minhashLshImpl(docs)))

  private def minhashLshImpl(docs: DataFrame): DataFrame = {
    // the shingle table is ~two orders of magnitude wider than the
    // corpus — at 100 TB it can never be cached; the signature pass
    // shingles everything once, and the verify pass re-shingles ONLY
    // candidate docs (the corpus is re-scanned, but the expensive
    // explode/dedup runs on the semi-joined sliver)
    val bands = bandTable(docs)
    val candidates = bucketPairs(bands).localCheckpoint()
    // exact-Jaccard verify restricted to candidate pairs: shrink the
    // shingle table to candidate docs (broadcast semi-join) first;
    // shingle sizes are only ever joined for candidate ids, so they
    // too come from the shrunken table
    val candIds = candidates.select(col("id_a").as("doc_id"))
      .union(candidates.select(col("id_b").as("doc_id"))).distinct()
    val shC = shingles(docs.join(broadcast(candIds), Seq("doc_id"), "left_semi"))
      .localCheckpoint()
    val sizes = shC.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = candidates
      .join(shC.as("x"), col("x.doc_id") === col("id_a"))
      .join(shC.as("y"),
        col("y.doc_id") === col("id_b") && col("y.s") === col("x.s"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /**
   * Incremental (cross-corpus) near-dup detection: which docs of an
   * incoming BATCH duplicate the EXISTING corpus — the shape a
   * continuously-growing 100 TB pipeline runs on every ingest, where
   * re-deduplicating the whole corpus per batch is unaffordable.
   *
   * The batch's band table joins the corpus's band table on
   * (band, sig) — never batch×corpus — and only candidates get the
   * exact-Jaccard verify, like [[minhashLshFrom]]. Band signatures are
   * per-doc and corpus-side immutable, so in production the corpus
   * band table is the STORED artifact (computed once at ingest,
   * appended per batch): each increment costs
   * O(batch signatures + candidate verifies), independent of corpus
   * size given bounded bucket widths. Fixture split: even doc_ids are
   * the corpus, odd are the batch.
   */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // one signature pass over the union ≡ loading stored corpus bands +
    // signing the batch (minhashes are per-doc)
    val bands = bandTable(docs)
    val batchBands = bands.filter(col("doc_id") % 2 === 1)
      .withColumnRenamed("doc_id", "batch_id")
    val corpusBands = bands.filter(col("doc_id") % 2 === 0)
      .withColumnRenamed("doc_id", "corpus_id")
    val candidates = batchBands.join(corpusBands, Seq("band", "sig"))
      .select(col("batch_id"), col("corpus_id")).distinct().localCheckpoint()
    val candIds = candidates.select(col("batch_id").as("doc_id"))
      .union(candidates.select(col("corpus_id"))).distinct()
    val shC = shingles(docs.join(broadcast(candIds), Seq("doc_id"), "left_semi"))
      .localCheckpoint()
    val sizes = shC.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = candidates
      .join(shC.as("x"), col("x.doc_id") === col("batch_id"))
      .join(shC.as("y"),
        col("y.doc_id") === col("corpus_id") && col("y.s") === col("x.s"))
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("batch_id"), col("n").as("nb")), "batch_id")
      .join(sizes.select(col("doc_id").as("corpus_id"), col("n").as("nc")), "corpus_id")
      .withColumn("jaccard",
        col("common").cast("double") / (col("nb") + col("nc") - col("common")))
      .filter(col("jaccard") >= 0.5)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** SimHash block layout for the pigeonhole banding: 32 bits split
    * into 6 blocks as (offset, length). */
  private val SimhashBlocks = Seq((0, 6), (6, 6), (12, 5), (17, 5), (22, 5), (27, 5))

  /**
   * SimHash near-duplicate pairs with block-combination pigeonhole
   * banding (the Manku/Jain/Das Sarma WWW'07 construction): the 32-bit
   * simhash splits into 6 blocks; a pair within Hamming distance 3
   * differs in ≤3 blocks, so at least one 3-block COMBINATION is
   * identical on both sides — banding on every C(6,3)=20 combination
   * (≈16-bit keys) gives COMPLETE recall at d≤3, exactly like the
   * naive one-band-per-byte scheme, but with a 2^16-per-band key space
   * instead of 2^8: organic bucket width stays ~64× narrower, which is
   * what keeps the bucket self-join linear as the corpus grows (the
   * 4×8-bit layout's fixed 1024 buckets made width — and ΣN_b² — grow
   * linearly with N). At larger corpora, more/smaller blocks widen the
   * key space further (key bits = 32·(m-3)/m grows with m).
   * Verification is one `bit_count(xor)` per candidate; identical-sig
   * floods (the degenerate case no key space can split) fall to
   * [[bucketPairs]]' chain cap.
   */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    simhashPairsFrom(simhashSigs(spark, dir), maxHamming)

  /** [[simhashPairs]] over a precomputed (doc_id, simhash) frame (spec
    * entry point for degenerate-corpus behavior). */
  private[graft] def simhashPairsFrom(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // one (doc_id, simhash) row per doc — narrow; pinned so the
    // 20-band explode and the three downstream joins don't each embed
    // the 32-bit-weight aggregation plan in their task binaries. The
    // production path arrives already pinned (the memoized signature
    // artifact) — don't re-materialize a second copy of its blocks.
    val alreadyPinned = sigs.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val sh = if (alreadyPinned) sigs else sigs.localCheckpoint()
    def blockVal(off: Int, len: Int): Column =
      expr(s"(simhash div cast(${1L << off} as bigint)) % cast(${1L << len} as bigint)")
    val sigCols = SimhashBlocks.indices.combinations(3).toSeq.map { c =>
      val (oi, li) = SimhashBlocks(c(0))
      val (oj, lj) = SimhashBlocks(c(1))
      val (ok, lk) = SimhashBlocks(c(2))
      blockVal(oi, li) * lit(1L << (lj + lk)) +
        blockVal(oj, lj) * lit(1L << lk) + blockVal(ok, lk)
    }
    val banded = sh
      .select(col("doc_id"), posexplode(array(sigCols: _*)).as(Seq("band", "sig")))
    bucketPairs(banded)
      .join(sh.select(col("doc_id").as("id_a"), col("simhash").as("h_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("simhash").as("h_b")), "id_b")
      .withColumn("hamming", expr("bit_count(h_a ^ h_b)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /**
   * 32-bit SimHash over word tokens (md5-derived bit weights), plus
   * Hamming-adjacent duplicate buckets: docs sharing the identical
   * simhash value. md5→int arithmetic is replayable in SQL, so this is
   * oracle-checkable: bits come from the first 8 hex chars of
   * md5(token).
   */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashSigs(spark, dir).orderBy("doc_id")

  /** The (doc_id, simhash) signature table as a STORED ARTIFACT —
    * one signing pass per corpus (ModelCache, tag `simhash-sigs`),
    * served by both the signature query (q33) and the pair search
    * (q62), exactly as a deployed simhash store would be. */
  private[llm] def simhashSigs(spark: SparkSession, dir: String): DataFrame =
    ModelCache.memoIndex(Tables.documents(spark, dir), "simhash-sigs") {
      graft.ops.GlobalOrder.pin(simhashAgg(Tables.documents(spark, dir)))
    }

  /** Row-local per-doc signing — also the per-batch partial transform
    * of the streaming signature artifact
    * ([[graft.streaming.ArtifactMaintenance.simhashArtifact]]): batch
    * and streamed signatures MUST come from this one function. */
  private[graft] def simhashAgg(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      // 32-bit token hash from the md5 hex prefix (exact in both engines)
      .withColumn("th", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
    // all 32 bit-weight sums in ONE grouped pass (no 32× row explode —
    // same values as the per-(doc,bit) formulation the oracle replays)
    val weightSums = (0 until 32).map(b =>
      sum(expr(s"2 * ((th div ${1L << b}) % 2) - 1")).as(s"w$b"))
    val packed = (0 until 32).map(b =>
      when(col(s"w$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
    toks.groupBy(col("doc_id"))
      .agg(weightSums.head, weightSums.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** Semantic-dedup cosine threshold — DYADIC (11/32 = 0.34375), so the
    * literal is the same double in both engines (the fixture's
    * background pairwise cosine tops out ≈ 0.51 with p99.9 ≈ 0.38, so
    * the threshold acts on real pairs without flooding). */
  val SemTau: Double = 0.34375

  /**
   * Embedding-cosine near-duplicate dedup (q162) — the SemDeDup shape
   * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
   * web-scale through semantic deduplication"): partition the corpus
   * by the learned coarse quantizer's cells (the q52 [[KMeans]]
   * centroids — deterministic, oracle-replayable), compare vectors
   * ONLY within their cell by exact cosine, and mark a vector a
   * duplicate when any lower-id vector in its cell sits at cosine ≥
   * [[SemTau]] — keep-lowest-id, the same deterministic-representative
   * rule as every other dedup family here. Output is one row per
   * vector: (vec_id, cell, n_close_lower), survivors being the
   * `n_close_lower = 0` rows, so the decision AND its degree are both
   * oracle-hashed.
   *
   * Scale: this is never all-pairs — pairing is an equi-join on the
   * cell id, O(N²/cells) work, and `cells` is the knob (SemDeDup uses
   * cells ≈ √N, making within-cell work linear-ish; the 8-cell default
   * is the fixture miniature of that). The few-distinct-key join the
   * small fixture produces is exactly the shape the `AqeSkewSpec` rule
   * covers: AQE's OptimizeSkewedJoin splits oversized join partitions
   * at runtime, so cell count bounds WORK, not parallelism. Cross-cell
   * near-duplicates are the accepted SemDeDup loss (quantization puts
   * true near-dups in the same cell — certified by the planted spec:
   * eps-planted vectors land in their anchor's cell by construction).
   */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedupOf(Tables.embeddings(spark, dir))

  /** [[semanticDedup]] over an explicit corpus DataFrame — the planted
    * certification dedups the augmented corpus and asserts every
    * planted vector is dropped (its anchor has the lower id). */
  private[llm] def semanticDedupOf(emb0: DataFrame, tau: Double = SemTau,
      cells: Int = Pipeline.IvfCells, iters: Int = Pipeline.IvfIters): DataFrame = {
    import graft.functions.VectorFunctions.dot_d
    val model = KMeans.fitOf(emb0, cells, iters)
    // nearest-cell assignment against the centroid literals — row-local
    // arithmetic, no shuffle (the q52/q157 discipline)
    val distArr = array(model.centroids.map { case (cid, c) =>
      struct(KMeans.sqDist(col("embedding"), c).as("d"), lit(cid).as("cid"))
    }: _*)
    val asg = emb0.select(col("vec_id"), col("embedding"))
      .withColumn("cell", sort_array(distArr)(0)("cid"))
      .withColumn("n2", dot_d(col("embedding"), col("embedding")))
    val hi = asg.select(col("cell"), col("vec_id"),
      col("embedding").as("h_emb"), col("n2").as("h_n2"))
    val lo = asg.select(col("cell"), col("vec_id").as("lo_id"),
      col("embedding").as("l_emb"), col("n2").as("l_n2"))
    val close = hi.join(lo, Seq("cell"))
      .filter(col("lo_id") < col("vec_id") &&
        dot_d(col("h_emb"), col("l_emb")) /
          (sqrt(col("h_n2")) * sqrt(col("l_n2"))) >= lit(tau))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_close_lower"))
    asg.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(close, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_close_lower"), lit(0L)).as("n_close_lower"))
      .orderBy(col("vec_id"))
  }

  /**
   * Source-pair overlap matrix: exact 3-gram Jaccard between every
   * pair of SOURCES (not documents) — the corpus-composition audit
   * that catches two feeds scraping the same upstream before their
   * near-identical documents pollute the mixture (source-level twin of
   * the doc-level q31/q133 checks). Output one row per unordered
   * source pair with set sizes, intersection, and fixed-point Jaccard.
   *
   * Scale shape: the corpus collapses FIRST to distinct
   * (source, md5(gram)) pairs — bounded by sources × gram-vocabulary,
   * orders of magnitude under corpus row count — and the pair join
   * keys on the 32-hex digest, never gram text (the q143/q144
   * discipline). Per-gram fanout in the self-join is capped at
   * C(sources, 2) — sources are a bounded dimension (dozens, not
   * corpus-scale), so no hot key can go quadratic in the corpus. The
   * distinct table is pinned: it feeds the size aggregate and both
   * sides of the pair join.
   */
  /** The memoized distinct (source, gram-digest) table behind the
    * overlap matrix and the duplication-graph centrality — same
    * train-once lifecycle as the LSH band tables. */
  private def sourceGrams(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(spark, dir)
    ModelCache.memoIndex(corpus, "source-grams") {
      graft.ops.GlobalOrder.pin(sourceGramProjection(corpus))
    }
  }

  /** The distinct (source, gram-digest) projection itself — the ONE
    * definition shared by the memoized batch artifact above and the
    * streamed KMV partials (ArtifactMaintenance.kmvArtifact), so the
    * two paths cannot drift. */
  private[graft] def sourceGramProjection(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .select(col("source"), explode(array_distinct(Grams.joined("w", 3, "_"))).as("s"))
      .select(col("source"), md5(col("s")).as("h"))
      .distinct()

  /** Intersection counts per unordered source pair — the overlap
    * matrix WITHOUT the size joins and the Jaccard projection, for
    * consumers (q187's centrality) that only need edge weights. */
  private[llm] def sourceOverlapPairs(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapPairsFrom(sourceGrams(spark, dir))

  /** Intersection counts over an ALREADY-BUILT (source, h) gram table
    * — the memoized `source-grams` artifact or its streamed twin
    * ([[graft.streaming.ArtifactMaintenance.sourceGramsArtifact]]). */
  private[graft] def sourceOverlapPairsFrom(sg: DataFrame): DataFrame = {
    val a = sg.select(col("source").as("src_a"), col("h"))
    val b = sg.select(col("source").as("src_b"), col("h"))
    a.join(b, Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_inter"))
  }

  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapFrom(sourceGrams(spark, dir))

  /** [[sourceOverlap]] over an explicit gram table. */
  private[graft] def sourceOverlapFrom(sg: DataFrame): DataFrame = {
    val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    sourceOverlapPairsFrom(sg)
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n_grams").as("n_a"))),
        Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n_grams").as("n_b"))),
        Seq("src_b"))
      .withColumn("jaccard_ppm",
        expr("(1000000 * n_inter) div (n_a + n_b - n_inter)"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_inter"), col("jaccard_ppm"))
      .orderBy("src_a", "src_b")
  }

  /**
   * Transitive contamination reachability over the source-overlap
   * graph (q258) — executed through Spark's NATIVE recursive CTE
   * (`WITH RECURSIVE` → `UnionLoopExec`, new in Spark 4): if source A
   * shares ≥ minShared distinct 3-grams with B and B with C, duplicated
   * text can flow A→C even when A and C share nothing directly — the
   * hop-2+ leakage a pairwise overlap matrix (q183) cannot see. Edges
   * are DAG-oriented (src < dst lexicographically, already canonical in
   * [[sourceOverlapPairs]]) so path enumeration terminates structurally;
   * the hop bound caps it besides. Output per reachable ordered pair:
   * the minimum hop count and the number of distinct ≤maxHops-hop
   * paths (path multiplicity = how entangled the two feeds are).
   *
   * Scale shape: the only corpus-scale work is the memoized
   * `source-grams` artifact behind [[sourceOverlapPairs]]; the
   * recursion itself runs over a catalog-bounded edge list (sources
   * are dozens — path rows ≤ |S|·|S−1|·…, bounded by the hop cap), so
   * the iterative UnionLoop materializes only source-cardinality
   * frames. The same shape at 100 TB: recursion over the bounded
   * dimension, never the fact table.
   */
  def sourceReachability(
      spark: SparkSession,
      dir: String,
      minShared: Long = 40L,
      maxHops: Int = 3): DataFrame =
    // the edge list is PINNED before the recursion: UnionLoop's
    // iteration re-evaluates the recursive term's relations per step,
    // and an un-materialized edge view would re-run the corpus-scale
    // overlap join every hop (measured 2.7 s → 0.6 s at sf0.1); the
    // pinned frame is catalog-sized (≤ C(sources,2) rows)
    reachabilityOf(spark,
      graft.ops.GlobalOrder.pin(
        sourceOverlapPairs(spark, dir)
          .filter(col("n_inter") >= minShared)
          .select(col("src_a"), col("src_b"))),
      maxHops)

  /** Monotone counter for [[reachabilityOf]] view names: a FIXED name
    * would silently clobber any same-named user view and race two
    * concurrent reachability calls on one session. */
  private val reachViewSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The recursive-CTE closure over an explicit DAG edge frame
    * (src_a, src_b) — spec entry point (hand-checkable diamonds).
    *
    * The SQL needs a named relation for the edge frame, so a
    * UNIQUE-per-call temp view is registered and dropped after the
    * recursive plan is BUILT (analysis resolves the view into the
    * returned plan, so the result stays executable after the drop —
    * the catalog mutation is invisible outside this call). The view
    * name never reaches the physical plan (the pinned edge frame scans
    * as an RDD), so plan fingerprints stay call-order independent —
    * pinned by DedupSpec's fingerprint-stability test. */
  private[graft] def reachabilityOf(spark: SparkSession, edges: DataFrame,
      maxHops: Int): DataFrame = {
    val view = s"graft_reach_edges_${reachViewSeq.incrementAndGet()}"
    edges.createOrReplaceTempView(view)
    try {
      spark.sql(
        s"""WITH RECURSIVE reach AS (
           |  SELECT src_a AS src, src_b AS dst, 1 AS hops FROM $view
           |  UNION ALL
           |  SELECT r.src, e.src_b AS dst, r.hops + 1 AS hops
           |  FROM reach r JOIN $view e ON e.src_a = r.dst
           |  WHERE r.hops < $maxHops
           |)
           |SELECT src, dst, CAST(MIN(hops) AS BIGINT) AS min_hops,
           |  CAST(COUNT(*) AS BIGINT) AS n_paths
           |FROM reach GROUP BY src, dst ORDER BY src, dst""".stripMargin)
    } finally spark.catalog.dropTempView(view)
  }

  /** The k smallest distinct 32-bit-truncated gram digests per source —
    * the KMV sketch itself, over any (source, h) gram table (the batch
    * artifact or a streamed micro-batch partial). x is distinct per
    * source, so (x asc) is a total order. */
  private[graft] def kmvSketchOf(grams: DataFrame, k: Int): DataFrame =
    graft.plans.TopK.perKey(
      grams.select(col("source"),
        expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)").as("x"))
        .distinct(),
      Seq("source"), Seq(("x", false)), k)

  /** Min-k re-reduction over a UNION of sketch partials: duplicates
    * (the same gram arriving in two batches) collapse under distinct
    * before the heap, so min-k(∪ partial min-k's) = min-k(∪ inputs) —
    * the property that makes the sketch a mergeable stored artifact. */
  private[graft] def kmvReduce(partials: DataFrame, k: Int): DataFrame =
    graft.plans.TopK.perKey(partials.distinct(),
      Seq("source"), Seq(("x", false)), k)

  /** Theta-intersection estimates over a served sketch table:
    * (src_a, src_b, theta, n_common, est_inter) for every unordered
    * source pair — shared by the batch query and the streamed twin. */
  private[graft] def kmvEstimates(sk: DataFrame, k: Int): DataFrame = {
    val meta = sk.groupBy(col("source"))
      .agg(max(col("x")).as("theta_raw"), count(lit(1)).as("n_sk"))
      .withColumn("theta",
        when(col("n_sk") < k, lit(4294967296L)).otherwise(col("theta_raw")))
    val pairs = meta.select(col("source").as("src_a"), col("theta").as("th_a"))
      .crossJoin(meta.select(col("source").as("src_b"), col("theta").as("th_b")))
      .filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        least(col("th_a"), col("th_b")).as("theta"))
    val commonCnt = sk.select(col("source").as("src_a"), col("x"))
      .join(sk.select(col("source").as("src_b"), col("x")), Seq("x"))
      .filter(col("src_a") < col("src_b"))
      .join(broadcast(pairs), Seq("src_a", "src_b"))
      .filter(col("x") < col("theta"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(commonCnt, Seq("src_a", "src_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("est_inter", expr("(n_common * 4294967296) div theta"))
  }

  /**
   * KMV (theta-sketch) OVERLAP ESTIMATION between sources — the sketch
   * path for the q183 exact overlap matrix. The exact matrix's pair
   * join fans every shared gram digest into up to C(sources,2) rows;
   * the KMV route caps each source's footprint at k values: the k
   * SMALLEST 32-bit-truncated gram digests form a uniform sample of
   * the source's gram set (the k-minimum-values / theta sketch,
   * Beyer et al. 2007), two sketches intersect under
   * θ = min(θ_a, θ_b), and est = n_common · 2³² / θ. Sources whose
   * whole gram set fits in the sketch (n < k) keep θ = 2³², making the
   * estimate exact — the sketch degrades to nothing gracefully.
   *
   * Output one row per source pair: θ, sketch-common count, estimated
   * vs EXACT intersection and the error in ppm — the same
   * sketch-vs-exact audit discipline as q53/q103/q129 (the estimate is
   * never shipped untested).
   *
   * Scale shape: the only corpus-scale work is the memoized
   * `source-grams` artifact (shared with q183/q187); the sketch is the
   * rank-emitting bounded-heap TopKPerKey (at most k rows per source
   * cross the exchange, never the gram table); everything after is
   * sketch-sized (S·k rows) or source-pair-sized. The exact-side
   * audit join reuses the artifact — at 100 TB one would sample or
   * drop it; the sketch path itself never touches corpus scale.
   */
  def kmvOverlap(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    val sk = graft.ops.GlobalOrder.pin(
      kmvSketchOf(sourceGrams(spark, dir), k))
    kmvEstimates(sk, k)
      .join(sourceOverlapPairs(spark, dir), Seq("src_a", "src_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("err_ppm", expr(
        "CASE WHEN n_inter > 0 THEN (1000000 * abs(est_inter - n_inter)) div n_inter END"))
      .select(col("src_a"), col("src_b"), col("theta"), col("n_common"),
        col("est_inter"), col("n_inter"), col("err_ppm"))
      .orderBy("src_a", "src_b")
  }

  /**
   * Per-source DISTINCT-GRAM CARDINALITY from the same KMV sketch as
   * q226 — the classic k-minimum-values estimator (Beyer et al. 2007):
   * with the k-th smallest of a uniform 32-bit hash at θ, the set size
   * is ≈ (k−1)·2³²/θ; a source whose whole gram set fits the sketch
   * (n < k) reports it exactly. Audited per source against the exact
   * distinct count (same artifact), error in ppm — this is the
   * distinct-counting twin of q129's HLL audit, but MERGEABLE ACROSS
   * SET OPERATIONS (the property HLL lacks for intersections, which
   * q226 exercises).
   *
   * Scale shape: one bounded-heap sketch pass over the memoized
   * `source-grams` artifact; the estimate is a per-source scalar fold
   * over ≤ k rows. The exact-count audit is one aggregate over the
   * same artifact — at 100 TB the audit runs on samples, the sketch
   * path is the production estimate.
   */
  def kmvDistinct(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    val sg = sourceGrams(spark, dir)
    val sk = graft.ops.GlobalOrder.pin(kmvSketchOf(sg, k))
    val meta = sk.groupBy(col("source"))
      .agg(max(col("x")).as("theta"), count(lit(1)).as("n_sk"))
    val exact = sg.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
    meta.join(exact, Seq("source"))
      .withColumn("est_distinct", expr(
        s"CASE WHEN n_sk < $k THEN n_sk ELSE (${k - 1} * 4294967296) div theta END"))
      .withColumn("err_ppm",
        expr("(1000000 * abs(est_distinct - n_exact)) div n_exact"))
      .select(col("source"), col("n_sk"), col("theta"),
        col("est_distinct"), col("n_exact"), col("err_ppm"))
      .orderBy("source")
  }

  /**
   * Duplication TREND over ingestion order: near-dup rate per doc_id
   * decile — is duplication getting worse as the corpus grows? Each
   * q32 pair flags its HIGHER-id member (the one keep-lowest dedup
   * removes), bucketed by id range; `dup_ppm` is the flagged share of
   * each decile's documents. A rising curve means the crawl is
   * re-fetching what it already has — the signal that triggers the
   * q101/q137 incremental-dedup ingestion path.
   *
   * Scale shape: the pair list is the memoized `lsh-pairs` artifact
   * (duplicate-volume-sized); the bin is a row-local value-range div
   * against the broadcast max id — no global ranking pass. The two
   * corpus touches are single-column count/max aggregates with
   * map-side partials (doc_id-only pruned scans).
   */
  def dupTrend(spark: SparkSession, dir: String, bins: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // pinned: the single-row max feeds BOTH crossJoins — unpinned, the
    // doc_id scan behind it would run twice
    val mx = graft.ops.GlobalOrder.pin(docs.agg(max(col("doc_id")).as("mx")))
    val flagged = minhashLsh(spark, dir)
      .crossJoin(broadcast(mx))
      .withColumn("bin", expr(s"(id_b * $bins) div (mx + 1)"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_b")).as("n_flagged"))
    docs.crossJoin(broadcast(mx))
      .withColumn("bin", expr(s"(doc_id * $bins) div (mx + 1)"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"))
      .join(flagged, Seq("bin"), "left")
      .select(col("bin"), col("n_docs"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"))
      .withColumn("dup_ppm", expr("(1000000 * n_flagged) div n_docs"))
      .orderBy(col("bin"))
  }

  /**
   * Near-dup connected components with each node's pair-graph degree
   * (q257; the degree is the hub-document signal a dedup triage reads).
   * The labels are the shared `neardup-labels` artifact
   * ([[graft.llm.Pipeline.nearDupClusters]], built by [[ccStarLabels]])
   * that q72 serves too, so a warm call runs no star round. The degree
   * is a plain row count: the pair artifact holds each unordered pair
   * once (`id_a < id_b`), so the symmetric graph has no repeated
   * (src, dst) row.
   */
  def ccStarClusters(spark: SparkSession, dir: String): DataFrame = {
    val deg = pairGraph(spark, dir).groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("degree"))
    Pipeline.nearDupClusters(spark, dir).join(deg, Seq("doc_id"))
      .select(col("doc_id"), col("cluster"), col("degree"))
      .orderBy("doc_id")
  }

  /** The SYMMETRIC (src, dst) pair graph: every verified pair of the
    * memoized `lsh-pairs` artifact in both directions. */
  private[llm] def pairGraph(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir).select(col("id_a"), col("id_b"))
    pairs
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .toDF("src", "dst")
  }

  /**
   * Connected components via alternating LARGE-STAR / SMALL-STAR
   * rounds over a SYMMETRIC edge frame (src, dst), no self-loops:
   * returns (labels (doc_id, cluster), rounds taken). This is the
   * round-bounded CC algorithm of Kiveris et al. ("Connected
   * Components in MapReduce and Beyond", SoCC 2014), and it builds the
   * `neardup-labels` artifact over [[pairGraph]]. Min-label
   * propagation would need one round per unit of component DIAMETER,
   * so a 100-doc duplication chain — boilerplate evolving one edit at a
   * time across a crawl — would need 100 rounds; star contraction
   * converges in O(log² n) rounds REGARDLESS of diameter, because every
   * round rewires whole neighborhoods onto their local minimum instead
   * of leaking labels one hop. Each component becomes a star centered
   * on its minimum doc_id, the fixpoint the q72 oracle replays; the
   * planted-path spec feeds a synthetic chain of diameter 1023 and
   * asserts the logarithmic round count.
   *
   * Per round, on the canonical (big > small) edge set E:
   *  - LARGE-STAR: for every directed (u,v) with v > u, emit
   *    (v, min(Γ(u) ∪ {u})) — strictly-larger neighbors re-attach to
   *    u's local minimum;
   *  - SMALL-STAR: for every u with smaller neighbors N(u), emit
   *    (w, min(N(u))) for w ∈ N(u) ∪ {u} minus the minimum itself —
   *    u and its smaller neighbors all re-attach to the smallest.
   * Each is one windowed `min` over the same rows (partitioned by the
   * star center: `src` for LARGE-STAR, `big` for SMALL-STAR) — one
   * edge-list-sized exchange each, the `lsh-pairs` artifact sliver,
   * never the corpus; the per-key skew is that of the equi-join back
   * it replaces. `distinct` collapses the multigraph between rounds.
   *
   * Convergence via the endpoint-sum invariant: both ops replace an
   * edge's partner with a value ≤ it and dedup only removes rows, so
   * the sum of all canonical endpoints (DECIMAL — Long endpoint sums
   * overflow at 100 TB edge counts; 0 for no edges) strictly decreases
   * on ANY change; an unchanged sum IS the fixpoint — no
   * next-vs-previous diff join, and no job of its own: the sum is an
   * unnamed `Observation` collected by the round's checkpoint job.
   * `localCheckpoint` truncates lineage at each round boundary, so a
   * round's plan never embeds the previous rounds' trees.
   */
  private[graft] def ccStarLabels(sym: DataFrame): (DataFrame, Int) = {
    // canonical storage: one row per undirected edge, big > small
    var edges = sym.filter(col("src") > col("dst"))
      .select(col("src").as("big"), col("dst").as("small"))
      .distinct().localCheckpoint()
    val maxRounds = 48 // ≥ log²(any real corpus); loud, not a silent exit
    var rounds = 0
    var prevSum = Option.empty[java.math.BigDecimal]
    var converged = false
    while (!converged && rounds < maxRounds) {
      // LARGE-STAR over the symmetric view: m(u) = min(Γ(u) ∪ {u})
      val symE = edges.select(col("big").as("src"), col("small").as("dst"))
        .union(edges.select(col("small").as("src"), col("big").as("dst")))
      val large = symE
        .withColumn("m", least(col("src"),
          min(col("dst")).over(Window.partitionBy(col("src")))))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("big"), col("m").as("small"))
        .filter(col("big") > col("small")).distinct().localCheckpoint()
      // SMALL-STAR over the canonical view: m(u) = min of smaller nbrs
      val joined = large
        .withColumn("m", min(col("small")).over(Window.partitionBy(col("big"))))
      val sumObs = Observation()
      val next = joined
        .filter(col("small") > col("m"))
        .select(col("small").as("big"), col("m").as("small"))
        .union(joined.select(col("big"), col("m").as("small")))
        .distinct()
        .observe(sumObs, coalesce(sum(col("big").cast("decimal(38,0)") +
          col("small").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("s"))
        .localCheckpoint()
      val s = sumObs.get("s").asInstanceOf[java.math.BigDecimal]
      edges = next
      converged = prevSum.exists(p => p.compareTo(s) == 0)
      prevSum = Some(s)
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"star contraction did not converge within $maxRounds rounds — " +
          "the endpoint-sum invariant never stabilized; labels would be " +
          "unsound and downstream split-leakage guarantees would not hold")
    // fixpoint is a union of stars: every node's component minimum is
    // min(partner ∪ self) in the final edge set
    val finalSym = edges.select(col("big").as("node"), col("small").as("nbr"))
      .union(edges.select(col("small").as("node"), col("big").as("nbr")))
    val labels = finalSym.groupBy(col("node"))
      .agg(min(col("nbr")).as("mn"))
      .select(col("node").as("doc_id"),
        least(col("node"), col("mn")).as("cluster"))
    (labels, rounds)
  }
}
