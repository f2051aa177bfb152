package graft.llm

import graft.functions.VectorFunctions.dot_d
import graft.model.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus-curation operators for the training-data pipeline: two-stage
 * retrieval, cross-source contamination accounting, ingest-horizon
 * dedup, cross-source score normalization, token-budget binning and
 * behavioral path mining. All follow the repo's determinism discipline
 * (total orders everywhere a window or top-k decides survival; integer
 * or single-division arithmetic so every value hash-matches DuckDB).
 */
object Curation {

  /** Fixed coarse-bucket bit count for [[rerank]] stage 1: wide buckets
    * on purpose — recall belongs to stage 1, precision to stage 2. */
  val RerankCoarseBits = 8

  /** Stage-1 candidate depth per query (how many survive the quantized
    * scorer into the exact rerank). */
  val RerankDepth = 20

  /**
   * Two-stage retrieve-then-rerank — the standard serving shape for
   * embedding search at corpus scale:
   *
   *  1. RETRIEVE: queries meet only their coarse LSH bucket
   *     ([[RerankCoarseBits]] md5-derived hyperplane sign bits, the
   *     same plane family as q36) and are scored with a CHEAP int8
   *     quantized dot product (integer arithmetic over the q93
   *     quantization grid — no doubles, ~4× less memory traffic);
   *     top-[[RerankDepth]] survive per query.
   *  2. RERANK: survivors only are re-scored with the exact
   *     double-precision cosine; top-k emitted with final ranks.
   *
   * Both stages rank through the rank-emitting bounded-heap operator
   * ([[graft.plans.TopK.perKeyWithRank]]) — no row_number window, no
   * per-key sort of the candidate sets.
   *
   * The per-dimension quantization grid (min/max per dim) is collected
   * driver-side: it is DIMENSION-bound (64 rows), not corpus-bound —
   * the same bounded-collect exemption as the k-means centroids — and
   * ships back as array literals so quantization is a row-local
   * projection.
   */
  def rerank(spark: SparkSession, dir: String, k: Int = 5,
      depth: Int = RerankDepth): DataFrame = {
    val base = Tables.embeddings(spark, dir)
    // dimension-bound quantization grid (index-build metadata)
    val grid = base
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))
      .groupBy(col("dim"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val mnLit = array(grid.map(g => lit(g._2)): _*)
    val mxLit = array(grid.map(g => lit(g._3)): _*)
    val emb = base
      .withColumn("mn_arr", mnLit)
      .withColumn("mx_arr", mxLit)
      // q93's exact grid: floor(ratio*255 + 0.5), 0 on degenerate dims
      .withColumn("qv", expr(
        """transform(sequence(0, size(embedding) - 1), i ->
          |  CAST(floor((CASE WHEN mx_arr[i] = mn_arr[i] THEN 0.0D
          |    ELSE (CAST(embedding[i] AS DOUBLE) - mn_arr[i])
          |         / (mx_arr[i] - mn_arr[i]) END) * 255.0D + 0.5D) AS BIGINT))"""
          .stripMargin))
      .withColumn("n2", dot_d(col("embedding"), col("embedding")))
      .withColumn("bucket", Similarity.lshKey(col("embedding"), RerankCoarseBits))
      .drop("mn_arr", "mx_arr")
    val queries = emb
      .filter(pmod(col("vec_id"), lit(20)) === 0 &&
        col("vec_id") < lit(20L * Similarity.MaxBruteQueries))
      .select(col("bucket"), col("vec_id").as("q_id"),
        col("embedding").as("q_emb"), col("qv").as("q_qv"), col("n2").as("q_n2"))
    val corpus = emb.select(col("bucket"), col("vec_id").as("neighbor_id"),
      col("embedding").as("n_emb"), col("qv").as("n_qv"), col("n2").as("n_n2"))
    val cand = queries.join(corpus, Seq("bucket"))
      .filter(col("q_id") =!= col("neighbor_id"))
      .withColumn("qdot", expr(
        "aggregate(zip_with(q_qv, n_qv, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"))
    val stage1 = graft.plans.TopK.perKeyWithRank(cand,
      Seq("q_id"), Seq(("qdot", true), ("neighbor_id", false)), depth, "crank")
    val stage2 = stage1
      .withColumn("sim",
        dot_d(col("q_emb"), col("n_emb")) / (sqrt(col("q_n2")) * sqrt(col("n_n2"))))
      .transform(s => graft.plans.TopK.perKeyWithRank(s,
        Seq("q_id"), Seq(("sim", true), ("neighbor_id", false)), k, "rnk"))
    stage2
      .select(col("q_id"), col("rnk"), col("neighbor_id"), col("sim"), col("qdot"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /**
   * Cross-source near-duplicate accounting: the verified MinHash-LSH
   * pairs (q32's scale path, bucket join + candidate-only verify)
   * rolled up into a source×source contamination matrix — the report a
   * curation team reads to find which crawls re-serve which. Pair
   * sources are emitted canonically ordered, so (srcA, srcB) and
   * (srcB, srcA) collapse into one cell.
   */
  def crossSourceNearDup(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashLsh(spark, dir)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(docs.select(col("doc_id").as("id_a"), col("source").as("src_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("source").as("src_b")), "id_b")
      .select(
        least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), min(col("jaccard")).as("min_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Dedup horizon in days for [[horizonDedup]]. */
  val HorizonDays = 1L

  /**
   * Ingest-horizon dedup: within each (user, event_type,
   * [[HorizonDays]]-day bucket) only the FIRST event survives — the
   * re-crawl / re-delivery suppression every ingest pipeline runs
   * before anything else touches the data. Written as the universal
   * `row_number = 1` idiom; [[graft.plans.InferTopKPerKey]] plans it
   * as the bounded-heap operator (k=1), so no per-key sort runs — at
   * 100 TB/day this is one shuffle on the dedup key and nothing else.
   */
  def horizonDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        Tables.epochMs(col("ts")).as("ts_ms"))
      .withColumn("day", expr(s"ts_ms div ${86400000L * HorizonDays}"))
    val w = Window.partitionBy(col("user_id"), col("event_type"), col("day"))
      .orderBy(col("ts_ms"), col("event_id"))
    val kept = e
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
    e.groupBy(col("event_type")).agg(count(lit(1)).as("n_total"))
      .join(kept.groupBy(col("event_type")).agg(count(lit(1)).as("n_kept")),
        "event_type")
      .withColumn("n_dropped", col("n_total") - col("n_kept"))
      .orderBy(col("event_type"))
  }

  /**
   * SOURCE-CHARACTERISTIC keywords (the c-TF-IDF / class-based lift
   * shape a BERTopic-style corpus inspection runs per slice): for each
   * source, the top-`k` tokens by lift — how over-represented the
   * token is in that source versus the whole corpus,
   * `(n_st · N) / (n_t · n_s)` as ONE double expression (the q105 PMI
   * discipline: a single ratio of exact integer products is
   * bit-reproducible cross-engine; no logs). The curation use: a
   * source whose top lifts are boilerplate tokens is template spam; a
   * mislabeled crawl surfaces immediately.
   *
   * Scale shape: ONE (source, token) aggregate over corpus tokens is
   * the only fact-scale shuffle; token totals and source totals derive
   * from it (vocab- and catalog-sized). The per-source top-k is the
   * `row_number = 1..k` idiom, planned by
   * [[graft.plans.InferTopKPerKey]] as the bounded-heap operator — no
   * per-source sort of the vocab table, the heap keeps ≤k rows per
   * source per partition before the exchange.
   */
  def sourceKeywords(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      minCount: Long = 10L): DataFrame = {
    // pinned: st feeds three consumers (byTok, bySrc, scored) — without
    // the pin the corpus-scale tokenize+explode+aggregate could execute
    // up to three times unless AQE exchange reuse happens to catch it
    // (same discipline as basketPairs' li pin)
    val st = graft.ops.GlobalOrder.pin(Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("n_st")))
    val byTok = st.groupBy(col("tok")).agg(sum(col("n_st")).as("n_t"))
    val bySrc = st.groupBy(col("source")).agg(sum(col("n_st")).as("n_s"))
    val total = byTok.agg(sum(col("n_t")).as("n")) // single-row scalar
    val scored = st.filter(col("n_st") >= minCount)
      .join(byTok, "tok")
      .join(bySrc, "source")
      .crossJoin(broadcast(total))
      .withColumn("lift",
        col("n_st").cast("double") * col("n") /
          (col("n_t").cast("double") * col("n_s")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("lift").desc, col("n_st").desc, col("tok"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("tok"), col("n_st"), col("lift"))
      .orderBy(col("source"), col("rk"))
  }

  /**
   * Cross-source quantile normalization: a document's raw size is
   * meaningless across heterogeneous sources (one crawl's median is
   * another's p99), so each doc gets its PERCENT RANK within its own
   * source — the distribution-free score that makes thresholds
   * comparable corpus-wide. Tiebreak on doc_id makes the rank (and so
   * the single division percent_rank performs) deterministic.
   *
   * The rank comes from
   * [[graft.ops.GlobalOrder.groupedRankAndPrefix]] — a
   * `Window.partitionBy(source)` would funnel the whole corpus into
   * source-cardinality reducer tasks; the grouped two-phase form
   * range-partitions on (source, n_chars, doc_id) so every core
   * works. The order is total, so
   * `percent_rank = (rank−1)/(N_k−1)` is the exact division the
   * window function performs.
   */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame =
    graft.ops.GlobalOrder.groupedRankAndPrefix(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), col("n_chars")),
        keys = Seq(col("source")),
        order = Seq(col("n_chars"), col("doc_id")))
      .withColumn("pr",
        when(col("g_total_rows") > 1L,
          (col("g_rank") - 1L).cast("double") /
            (col("g_total_rows") - 1L).cast("double")).otherwise(0.0))
      .withColumn("decile", least(floor(col("pr") * 10.0), lit(9.0)).cast("long"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("pr"), col("decile"))
      .orderBy(col("doc_id"))

  /** Token budget per curriculum bin for [[tokenBudgetBins]]. */
  val BinTokenBudget = 4000L

  /**
   * Token-budget curriculum binning: documents ordered by a curriculum
   * key (length-descending here, tiebreak doc_id) are packed greedily
   * into consecutive bins of ~[[BinTokenBudget]] whitespace tokens —
   * the sharding step that turns a scored corpus into fixed-budget
   * training chunks. The running token sum comes from
   * [[graft.ops.GlobalOrder.groupedRankAndPrefix]]'s distributed
   * global prefix sum (`keys = Nil`) — a literal `SUM() OVER (ORDER BY
   * …)` would funnel the corpus through ONE window task; the two-phase
   * form (range-repartition + per-partition sums + a driver-side
   * offset fold) keeps every partition working. Bin assignment is
   * integer division of the EXCLUSIVE prefix, so a document always
   * lands in the bin that was open when it arrived.
   */
  def tokenBudgetBins(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    graft.ops.GlobalOrder.groupedRankAndPrefix(docs, keys = Nil,
        order = Seq(col("n_chars").desc, col("doc_id")),
        values = Seq((col("n_tokens").cast("long"), "g_prefix")))
      .withColumn("bin", expr(s"g_prefix div ${BinTokenBudget}"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok_sum"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("bin"))
  }

  /**
   * Language-ID confusion matrix: the q37 marker classifier's
   * predictions against the labeled `lang` column — the model-eval
   * report every heuristic filter needs before it gates a corpus. One
   * count per (true, predicted) cell plus the within-language share
   * (a single double division). Two aggregates share the langId scan.
   */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.langIdScored(spark, dir)
      .select(col("lang"), col("pred"))
    val conf = scored.groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
    val totals = scored.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    conf.join(totals, "lang")
      .withColumn("share", col("n").cast("double") / col("n_lang"))
      .select(col("lang"), col("pred"), col("n"), col("n_lang"), col("share"))
      .orderBy(col("lang"), col("pred"))
  }

  /**
   * Chunk-level duplication profile: the q54 sliding-window chunks
   * hashed (md5) and checked for cross-document repetition — the
   * granularity between whole-document dedup (q30/q32) and 5-gram
   * passage dedup (q95), and the one that matters when documents embed
   * shared boilerplate blocks. Per source: chunk count, chunks whose
   * text also appears in ANOTHER document, and the duplicated share.
   * The shuffle key is the 16-byte chunk hash, never the chunk text.
   */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    // one chunking pass, pinned: the hashed slot table feeds both the
    // spread aggregate and the per-source rollup (un-pinned, the
    // explode + hash re-ran per branch), source attached at the scan so
    // no doc_id join-back exists; the earlier version also inherited
    // chunkDocuments' presentation orderBy — a full-table range sort —
    // in BOTH branches (9.5 s → ~1.5 s at sf0.1 all told)
    val chunks = graft.ops.GlobalOrder.pin(TextAnalysis.chunkedHashes(spark, dir))
    // two-phase distinct-doc count (the q95 discipline, no Expand)
    val spread = chunks.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
    chunks.join(spread, "h")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") > 1L, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_ratio",
        col("n_dup_chunks").cast("double") / col("n_chunks"))
      .orderBy(col("source"))
  }

  /**
   * Per-source shingle novelty: of each source's shingle SLOTS (a
   * doc's distinct 3-gram set contributes one slot per shingle), how
   * many are repeats of a shingle already seen elsewhere in the same
   * source — the corpus-level duplication-rate signal that says "this
   * crawl is 40% boilerplate" before any pairwise dedup runs. Distinct
   * counting is Expand-free: the (source, shingle) table is
   * pre-deduplicated and counted, never `countDistinct` over the raw
   * slots (the q95/q113 discipline). The shingle is md5'd BEFORE the
   * distinct — the shuffle key is the 16-byte digest, never 3-gram
   * text (the q143 chunk discipline, ~2-3× narrower shuffle; the
   * oracle hashes identically so any collision would be mirrored).
   */
  def shingleNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val j = Dedup.shingles(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), md5(col("s")).as("hs"))
    // ONE explode pass and two stacked aggregates instead of the former
    // two independent consumers (a plain count and a distinct+count,
    // each re-running the shingle explode + doc join): per-(source, hs)
    // counts collapse map-side, then n_slots = Σ counts and n_distinct
    // = row count of the pair table — identical numbers, half the
    // corpus passes and no separate distinct exchange (guide §2.3/§2.4;
    // r17 optimization round).
    j.groupBy(col("source"), col("hs")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_slots"), count(lit(1)).as("n_distinct"))
      .withColumn("dup_ratio",
        lit(1.0) - col("n_distinct").cast("double") / col("n_slots"))
      .orderBy(col("source"))
  }

  /**
   * Per-dimension embedding statistics (the feature-normalization
   * metadata a whitening/standardization step consumes): exact mean
   * via 2^48-scaled DECIMAL(38,0) sums (the q61 discipline — addends
   * are exact integers, so the sum is partition-order-independent) and
   * population variance from the exactly-summed second moment, with
   * doubles entering only in the final fixed-order expression. min/max
   * are picks, order-free by nature. Output is dimension-bound
   * (64 rows) no matter the corpus size.
   */
  def dimStats(spark: SparkSession, dir: String): DataFrame = {
    val scale = KMeans.Scale // 2^48 — fixture floats scale to exact integers
    val x = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))
    val q = (col("v") * lit(scale)).cast("decimal(38,0)")
    val meanOf = (s1: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =>
      s1.cast("double") / lit(scale) / n
    x.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"), max(col("v")).as("mx"),
        sum(q).as("s1"), sum(q * q).as("s2"))
      .select(col("dim").cast("long").as("dim"), col("n"), col("mn"), col("mx"),
        meanOf(col("s1"), col("n")).as("mean"),
        (col("s2").cast("double") / lit(scale) / lit(scale) / col("n") -
          meanOf(col("s1"), col("n")) * meanOf(col("s1"), col("n"))).as("variance"))
      .orderBy(col("dim"))
  }

  /**
   * Behavioral path mining: the top event-type TRIGRAMS across user
   * timelines (q115's transition matrix, one order deeper — order is
   * what separates a path from a bag of events). Per-user `lead`
   * windows share ONE (user_id) partitioning — a single shuffle — and
   * the global top-25 cut is `TakeOrderedAndProject`, never a sort of
   * the full path table.
   */
  /**
   * Exact interpolated per-source quantiles (p25/p50/p75 of document
   * length) — the curriculum/thresholding statistic computed EXACTLY,
   * not sketched, and without the per-key sort a
   * `percentile_cont OVER (PARTITION BY source)` would plan (all rows
   * of a source into one reducer). The per-key rank and total come
   * from [[graft.ops.GlobalOrder.groupedRankAndPrefix]]; each
   * quantile is the standard linear interpolation at
   * `pos = 1 + p·(N_k−1)` between the two neighboring order
   * statistics, picked by rank equality inside a single hash
   * aggregate. For quarter fractions over integer values every double
   * op here is exact, so the result matches DuckDB's `quantile_cont`
   * bit for bit regardless of either engine's internal op order.
   */
  def sourceQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val ranked = graft.ops.GlobalOrder.groupedRankAndPrefix(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars")),
      keys = Seq(col("source")),
      order = Seq(col("n_chars"), col("doc_id")))
    val ps = Seq(("p25", 0.25), ("p50", 0.50), ("p75", 0.75))
    def lo(p: Double) = floor(lit(1.0) +
      lit(p) * (col("g_total_rows") - 1L).cast("double")).cast("long")
    val aggs = count(lit(1)).as("__n") +: ps.flatMap { case (nm, p) =>
      Seq(
        max(when(col("g_rank") === lo(p), col("n_chars"))).as(s"__lo_$nm"),
        max(when(col("g_rank") === lo(p) + 1L, col("n_chars"))).as(s"__hi_$nm"))
    }
    ranked.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
      .select(col("source") +: ps.map { case (nm, p) =>
        val pos = lit(1.0) + lit(p) * (col("__n") - 1L).cast("double")
        val frac = pos - floor(pos)
        val vlo = col(s"__lo_$nm").cast("double")
        val vhi = coalesce(col(s"__hi_$nm"), col(s"__lo_$nm")).cast("double")
        (vlo + (vhi - vlo) * frac).as(nm)
      }: _*)
      .orderBy(col("source"))
  }

  /** Nucleus (top-p) cumulative-mass threshold for [[nucleusVocab]]. */
  val NucleusP = 0.9

  /**
   * Nucleus-style vocabulary cut per source: the smallest set of
   * highest-frequency tokens whose cumulative mass reaches
   * [[NucleusP]] of the source's token count — the top-p truncation a
   * tokenizer-vocabulary or sampling pipeline applies, profiled per
   * corpus slice. A token survives iff its EXCLUSIVE cumulative mass
   * (all strictly-more-frequent tokens, count-desc with token
   * tiebreak) is below p·total — the textbook minimal covering
   * prefix.
   *
   * The cumulative mass is
   * [[graft.ops.GlobalOrder.groupedRankAndPrefix]]'s per-key
   * exclusive prefix over the (source, token, count) table — vocab-
   * scale rows, source-cardinality keys, exactly the few-key regime
   * where a window would cap parallelism. The per-source totals join
   * back as a categorical-cardinality broadcast. Output is
   * aggregate-only (vocab size + covered mass), so count-tie
   * permutations at the boundary cannot change the answer — the kept
   * MULTISET of counts is tie-invariant even though the kept token
   * set is not.
   */
  def nucleusVocab(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col("source")).agg(sum(col("cnt")).as("total"))
    graft.ops.GlobalOrder.groupedRankAndPrefix(counts,
        keys = Seq(col("source")),
        order = Seq(col("cnt").desc, col("token")),
        values = Seq((col("cnt"), "cum_before")))
      .join(totals, "source")
      .filter(col("cum_before").cast("double") <
        lit(NucleusP) * col("total").cast("double"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_vocab"), sum(col("cnt")).as("n_covered"),
        max(col("total")).as("total"))
      .withColumn("coverage",
        col("n_covered").cast("double") / col("total").cast("double"))
      .orderBy(col("source"))
  }

  /**
   * Vocabulary growth curve (the Heaps'-law diagnostic): per source,
   * how many NEW distinct tokens each decile of the corpus (in doc_id
   * ingest order) introduces, and the cumulative vocabulary size — the
   * saturation signal that says "this crawl has stopped contributing
   * new language" (a flattening curve) or "still novel" (near-linear).
   *
   * Plan: the document decile comes from
   * [[graft.ops.GlobalOrder.groupedRankAndPrefix]] +
   * [[graft.ops.GlobalOrder.ntileFromRank]] (no per-source window over
   * the corpus); each token's FIRST document is one md5-keyed
   * aggregate; the cumulative sum runs over the (source × decile)
   * aggregate — ≤ 10 rows per source, the pre-aggregated-window
   * precedent (q62 mode, q51 region share), never fact-scale.
   */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the rank side's columns are RENAMED before the join: the grouped
    // rank passes its input's attributes through, so joining two frames
    // derived from the same `docs` scan on same-named columns now
    // trips Spark's ambiguous-self-join detection — unique names make
    // the resolution explicit instead of lineage-accidental
    val ranked = graft.ops.GlobalOrder.groupedRankAndPrefix(
        docs.select(col("doc_id"), col("source")),
        keys = Seq(col("source")), order = Seq(col("doc_id")))
      .withColumn("decile",
        graft.ops.GlobalOrder.ntileFromRank(col("g_rank"), col("g_total_rows"), 10))
      .select(col("doc_id").as("r_doc"), col("source").as("r_source"),
        col("decile"))
    val firstDoc = docs
      .select(col("source"), col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), md5(col("tok")).as("h"))
      .agg(min(col("doc_id")).as("first_doc"))
    val perDecile = firstDoc
      .join(ranked, col("source") === col("r_source") &&
        col("first_doc") === col("r_doc"))
      .groupBy(col("r_source").as("source"), col("decile"))
      .agg(count(lit(1)).as("new_tokens"))
    val w = Window.partitionBy(col("source")).orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDecile
      .withColumn("cum_vocab", sum(col("new_tokens")).over(w))
      .orderBy(col("source"), col("decile"))
  }

  /**
   * Token frequency-of-frequencies spectrum per source (how many
   * distinct tokens occur exactly f times) — the Good–Turing smoothing
   * input and the quickest Zipf-shape diagnostic that needs no
   * logarithms (ln is not portable across libm implementations, the
   * q105 lesson). Two exact hash aggregates, md5-keyed token shuffle,
   * no window, no ordering anywhere but the output presentation.
   */
  def freqSpectrum(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), md5(col("tok")).as("h"))
      .agg(count(lit(1)).as("freq"))
      .groupBy(col("source"), col("freq"))
      .agg(count(lit(1)).as("n_tokens"))
      .orderBy(col("source"), col("freq"))

  /**
   * Gini–Simpson token DIVERSITY per source, as an exact parts-per-
   * million integer: `1e6 · (1 − Σᵢ nᵢ(nᵢ−1) / (N(N−1)))` — the
   * probability two tokens drawn without replacement differ. The
   * log-free diversity index (Shannon entropy needs `ln`, which is
   * not bit-portable across libm implementations — the q105 lesson):
   * a source dominated by boilerplate scores low, a source of varied
   * prose scores near 1e6, and the mix planner reads it next to token
   * counts when weighting sources.
   *
   * Scale shape: one md5-keyed token aggregate (the [[freqSpectrum]]
   * shuffle), then a per-source aggregate over vocabulary-sized input.
   * All-integer arithmetic end to end, bit-exact in any engine — and
   * the wide intermediates (collision sum `Σ nᵢ(nᵢ−1)`, the ×1e6 ppm
   * numerator, the pair denominator) run in DECIMAL(38,0) because
   * BIGINT overflows them at ~3e6 fully-duplicated tokens per source
   * (coll2 ≈ T² for boilerplate, ×1e6 on top) — far inside 100 TB
   * territory. Only the final ppm (≤ 1e6 by construction) narrows
   * back to BIGINT.
   */
  def simpsonDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), md5(col("tok")).as("h"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(
        sum(col("n")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("n").cast("decimal(38,0)") * (col("n") - lit(1L)))
          .cast("decimal(38,0)").as("coll2"))
      .withColumn("simpson_ppm", expr(
        "CAST(1000000 - (CAST(1000000 AS DECIMAL(38,0)) * coll2) div " +
          "(CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1)) AS BIGINT)"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("simpson_ppm"))
      .orderBy(col("source"))

  def pathTrigrams(spark: SparkSession, dir: String, topN: Int = 25): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        Tables.epochMs(col("ts")).as("ts_ms"))
      .withColumn("t2", lead(col("event_type"), 1).over(byUser))
      .withColumn("t3", lead(col("event_type"), 2).over(byUser))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("t1"), col("t2"), col("t3"))
      .limit(topN)
  }

  /**
   * BM25 retrieval (Robertson & Walker 1994) with a RATIO idf — the
   * classic `ln((N-df+0.5)/(df+0.5)+1)` replaced by the bare odds ratio
   * `(N-df+0.5)/(df+0.5)`, because ln is a libm transcendental whose
   * last-ulp rounding differs across engines (the repo's log-free
   * discipline; ranking is order-isomorphic per term since ln is
   * monotone). Term frequencies are row-local array `filter` counts on
   * the doc's own token vector — NO posting-list explode, no shuffle on
   * the corpus — and the three per-term scores land in fixed columns
   * summed in one fixed-order expression, so the float result is a
   * deterministic composition of IEEE-exact +,*,/ that DuckDB
   * reproduces bit-for-bit.
   *
   * Scale shape: one corpus scan computes (tf_t, dl) per doc; the
   * (N, df_t, avgdl) statistics are ONE group-less aggregate broadcast
   * back as a single row; the final global top-k is Spark's
   * TakeOrderedAndProject (per-partition bounded heaps, k rows per
   * partition cross the exchange — never a full sort).
   */
  def bm25(
      spark: SparkSession,
      dir: String,
      terms: Seq[String] = Seq("spark", "window", "dup"),
      topN: Int = 50): DataFrame = {
    require(terms.size == 3, "fixed-arity score expression expects 3 terms")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(
        col("doc_id") +: size(col("ws")).cast("long").as("dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            // Column-API predicate, not an interpolated expr string: a
            // term containing a quote must stay a literal, never
            // splice into the plan text
            size(filter(col("ws"), w => w === lit(t))).cast("long").as(s"tf$i")
          }: _*)
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      sum(when(col("tf0") > 0L, 1L).otherwise(0L)).as("df0"),
      sum(when(col("tf1") > 0L, 1L).otherwise(0L)).as("df1"),
      sum(when(col("tf2") > 0L, 1L).otherwise(0L)).as("df2"))
    def termScore(i: Int) =
      // parenthesization mirrors the oracle SQL verbatim: every op is
      // IEEE-exact, so identical trees give identical bits
      expr(s"((cast(n_docs as double) - df$i + 0.5) / (df$i + 0.5)) * " +
        s"(tf$i * 2.2) / (tf$i + (1.2 * (0.25 + (0.75 * (dl / avgdl)))))")
    docs.crossJoin(broadcast(stats))
      .withColumn("score", termScore(0) + termScore(1) + termScore(2))
      .filter(col("score") > 0.0)
      .select(col("doc_id"), col("dl"), col("tf0"), col("tf1"), col("tf2"),
        col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topN)
  }

  /**
   * Per-source distribution drift: total-variation distance between
   * each source's unigram distribution and the corpus distribution —
   * the mixture-health check run before reweighting (a source whose
   * token distribution has drifted far from the pool is a candidate
   * for exclusion or its own mixture slot). TV is the log-free
   * divergence: `TV = ½ Σ_w |p_s(w) − p(w)|`, computed here entirely
   * in integers via the cross-multiplied form
   * `Σ|n_sw·N − n_w·N_s| / (2·N_s·N)`, emitted fixed-point ppm.
   *
   * Scale shape: one token explode feeds BOTH aggregates ((source,word)
   * and per-word corpus counts, the latter derived from the former —
   * word-cardinality input, never the corpus). Words a source never
   * uses are folded ANALYTICALLY: their contribution is
   * `N_s · (N − Σ_{w∈S} n_w)`, so no source×vocab grid is ever
   * materialized — the plan scales with observed (source,word) pairs,
   * not their cross product. Overflow headroom: `n_sw·N` at 100 TB
   * (N≈10^13) exceeds 2^63, so the cross-multiplied products run in
   * exact DECIMAL(38,0) lanes (DuckDB: HUGEINT) — the q174 pattern,
   * bit-portable to ~10^38.
   */
  /** The ONE (source, word) count projection — the batch memo below and
    * the stream-maintained artifact
    * ([[graft.streaming.ArtifactMaintenance.batchSourceUnigrams]]) both
    * call this, so their counts cannot drift apart. */
  private[graft] def sourceUnigramCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("n_sw"))

  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(spark, dir)
    // stored artifact: the (source, word) count table is a corpus
    // statistic with the same train-once lifecycle as the LM count
    // table — memoized, so a serve re-aggregates word-cardinality
    // rows instead of re-exploding the corpus
    val sw = ModelCache.memoIndex(corpus, "source-unigrams") {
      graft.ops.GlobalOrder.pin(sourceUnigramCounts(corpus))
    }
    sourceDivergenceFrom(sw)
  }

  /** [[sourceDivergence]] against an EXPLICIT (source, w, n_sw) count
    * table — the batch memo above and the stream-maintained artifact
    * ([[graft.streaming.ArtifactMaintenance.sourceUnigramArtifact]])
    * are interchangeable because both aggregate the same projection;
    * ArtifactMaintenanceSpec pins the equality. Callers pass something
    * cheap to rescan (a checkpoint pin or a committed parquet store) —
    * the plan reads it three ways. */
  private[graft] def sourceDivergenceFrom(sw: DataFrame): DataFrame = {
    val cw = sw.groupBy(col("w")).agg(sum(col("n_sw")).as("n_w"))
    val tot = sw.groupBy(col("source")).agg(sum(col("n_sw")).as("n_s"))
    val grand = cw.agg(sum(col("n_w")).as("n_tot"))
    sw.join(cw, Seq("w"))
      .join(tot, Seq("source"))
      .crossJoin(broadcast(grand))
      .groupBy(col("source"))
      .agg(
        max(col("n_s")).as("n_s"),
        max(col("n_tot")).as("n_tot"),
        sum(col("n_w")).as("cov"),
        // DECIMAL(38,0) lanes (the q174 discipline): n_sw·N at corpus
        // scale (N ≈ 1e13) overflows BIGINT; exact integer decimal
        // keeps the cross-multiplied TV form bit-portable (DuckDB
        // computes the same values in HUGEINT)
        sum(abs(col("n_sw").cast("decimal(38,0)") * col("n_tot") -
          col("n_w").cast("decimal(38,0)") * col("n_s")))
          .as("present_num"))
      .withColumn("tv_ppm", expr(
        "cast((1000000 * (present_num + cast(n_s as decimal(38,0)) * (n_tot - cov)))" +
          " div (2 * cast(n_s as decimal(38,0)) * n_tot) as bigint)"))
      .select(col("source"), col("n_s").as("n_tokens"), col("tv_ppm"))
      .orderBy("source")
  }

  /**
   * Duplication-graph centrality: PageRank over the SOURCE-overlap
   * graph (nodes = sources, edge weight = shared distinct 3-grams from
   * q183's stored artifact, plus a unit self-loop per node so every
   * node has out-weight ≥ 1) — the "which feeds sit at the center of
   * the duplication web" ranking a curation team reads before deciding
   * which source to cut first. ALL-INTEGER fixed-point ppb: each edge
   * first folds to a BOUNDED ppm weight share `(1e6·w) div W_v ≤ 1e6`,
   * then rank updates are `base + Σ (850·((r·wshare) div 1e6)) div
   * 1000` — the r·wshare product is capped at 1e9·1e6 = 1e15, so the
   * arithmetic can NEVER overflow BIGINT no matter how large the raw
   * gram-intersection weights grow (raw `r·w` would wrap past
   * w ≈ 9.2e9; headroom on the share fold itself holds to w < 9.2e12).
   * BIGINT div/mul only, so the iteration is order-independent and the
   * DuckDB oracle (a recursive CTE unrolling the same 8 steps)
   * hash-matches bit-for-bit. The usual float PageRank can't
   * cross-engine-match (sum order); truncation here loses ≤1 ppb per
   * edge per step — irrelevant for a ranking.
   *
   * Scale shape: sources are a BOUNDED dimension (dozens at any corpus
   * size), so the edge list (≤ S² rows, from the memoized
   * `source-grams` artifact via [[Dedup.sourceOverlap]]) is a k-row
   * model read — the same driver-side exemption as the k-means
   * centroid and PQ codebook reads. The corpus-scale work (distinct
   * gram sets) happened once at artifact build; the iteration itself
   * is S-row arithmetic.
   */
  def sourcePagerank(spark: SparkSession, dir: String, iters: Int = 8): DataFrame = {
    // node list from the memoized source-tokens artifact (every source
    // in the corpus, no re-scan) — shared with the epoch allocator
    val nodes = MixPlan.sourceTokens(spark, dir)
      .select(col("source"))
      .collect().map(_.getString(0)).sorted
    val s = nodes.length.toLong
    require(s > 0, "empty corpus")
    val pairs = Dedup.sourceOverlapPairs(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val edges = pairs.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) } ++
      nodes.map(n => (n, n, 1L))
    val wTot: Map[String, Long] =
      edges.groupBy(_._1).map { case (k, es) => k -> es.map(_._3).sum }
    // bounded ppm weight shares: folded ONCE, so the per-step products
    // stay under 1e15 regardless of raw intersection sizes
    val shared = edges.map { case (v, u, w) => (v, u, (1000000L * w) / wTot(v)) }
    val base = (150L * (1000000000L / s)) / 1000L
    var r: Map[String, Long] = nodes.map(n => n -> (1000000000L / s)).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.HashMap.empty[String, Long]
        .withDefaultValue(0L)
      shared.foreach { case (v, u, wsh) =>
        contrib(u) += (850L * ((r(v) * wsh) / 1000000L)) / 1000L
      }
      r = nodes.map(n => n -> (base + contrib(n))).toMap
    }
    import spark.implicits._
    nodes.toSeq.map(n => (n, wTot(n), r(n)))
      .toDF("source", "w_total", "pagerank_ppb")
      .orderBy("source")
  }

  /**
   * Per-cluster distinctive terms (the BERTopic/c-TF-IDF labeling
   * step): after the coarse quantizer assigns every document's
   * embedding to a semantic cell (the q52/q157/q162 k-means — same
   * deterministic Lloyd's replay), rank each cell's tokens by LIFT —
   * in-cell rate over corpus rate — and keep the top `k`. This is how
   * a pipeline names its semantic clusters ("what IS cell 3?") before
   * deciding per-cluster sampling rates.
   *
   * Scale shape: the cell label joins onto documents BEFORE the token
   * explode (doc-cardinality equi-join, then row-local explode), so
   * the exploded stream never shuffles twice; the (cell, token)
   * aggregate is pinned and feeds the three marginals exactly like
   * [[sourceKeywords]]'s `st`. The `row_number <= k` idiom rewrites
   * into the bounded-heap TopKPerKey operator (plan-asserted for
   * q171; same shape here). Lift is the one-division double of exact
   * integer products — bit-identical cross-engine.
   */
  def clusterTerms(
      spark: SparkSession,
      dir: String,
      k: Int = 5,
      minCount: Long = 10L,
      cells: Int = Pipeline.IvfCells,
      iters: Int = Pipeline.IvfIters): DataFrame = {
    val model = KMeans.fit(spark, dir, cells, iters)
    val distArr = array(model.centroids.map { case (cid, c) =>
      struct(KMeans.sqDist(col("embedding"), c).as("d"), lit(cid).as("cid"))
    }: _*)
    val asg = Tables.embeddings(spark, dir)
      .withColumn("cell", sort_array(distArr)(0)("cid"))
      .select(col("vec_id").as("doc_id"), col("cell").cast("long").as("cell"))
    val ct = graft.ops.GlobalOrder.pin(
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        .join(asg, Seq("doc_id"))
        .select(col("cell"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("cell"), col("tok"))
        .agg(count(lit(1)).as("n_ct")))
    val byTok = ct.groupBy(col("tok")).agg(sum(col("n_ct")).as("n_t"))
    val byCell = ct.groupBy(col("cell")).agg(sum(col("n_ct")).as("n_c"))
    val total = byTok.agg(sum(col("n_t")).as("n"))
    val scored = ct.filter(col("n_ct") >= minCount)
      .join(byTok, "tok")
      .join(byCell, "cell")
      .crossJoin(broadcast(total))
      .withColumn("lift",
        col("n_ct").cast("double") * col("n") /
          (col("n_t").cast("double") * col("n_c")))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("lift").desc, col("n_ct").desc, col("tok"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("cell"), col("rk"), col("tok"), col("n_ct"), col("lift"))
      .orderBy(col("cell"), col("rk"))
  }

  /**
   * Boilerplate-prefix detection (the CCNet/RefinedWeb cleanup step):
   * within each source, document PREFIXES (first `prefixTokens`
   * tokens) that repeat across `minDocs`+ documents are template
   * boilerplate — navigation headers, licence banners, scraper
   * artifacts — and their share of the source's documents
   * (`share_ppm`, exact integer ppm) is the removal budget a curation
   * pass would reclaim.
   *
   * Scale shape: the prefix is a row-local projection (slice of the
   * token split — no explode), so the only corpus-scale work is ONE
   * (source, prefix) aggregate with map-side partial counts; the
   * per-source doc totals aggregate over source-cardinality groups and
   * broadcast back. Flagged groups are a tiny sliver by construction
   * (boilerplate is repetition), so the join output never approaches
   * corpus size.
   */
  /**
   * Zipf-law deviation per source — the LOG-FREE corpus-health
   * diagnostic: Zipf predicts the r-th most frequent token satisfies
   * r·f(r) ≈ f(1), so `zipf_ppm = 1e6·r·f(r) / f(1)` sits near 1e6
   * for natural text and drifts far off for templated or synthetic
   * sources (boilerplate flattens the head; generated text thins the
   * tail). All integer arithmetic — rank×count products against the
   * rank-1 count — so no logarithm ever forms and both engines emit
   * identical BIGINTs.
   *
   * Serves from the memoized `source-unigrams` artifact (the q182
   * store); the per-source top-k ranks through the bounded-heap
   * operator, so nothing here rescans or re-shuffles the corpus.
   */
  def zipfDeviation(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val corpus = Tables.documents(spark, dir)
    val sw = ModelCache.memoIndex(corpus, "source-unigrams") {
      graft.ops.GlobalOrder.pin(sourceUnigramCounts(corpus))
    }
    val top = graft.plans.TopK.perKeyWithRank(
      sw, Seq("source"), Seq(("n_sw", true), ("w", false)), k, "rnk")
    val f1 = top.filter(col("rnk") === 1)
      .select(col("source"), col("n_sw").as("f1"))
    top.join(broadcast(f1), Seq("source"))
      .withColumn("rnk", col("rnk").cast("long"))
      .withColumn("rf", col("rnk") * col("n_sw"))
      .withColumn("zipf_ppm", expr("(1000000 * rf) div f1"))
      .select(col("source"), col("rnk"), col("w"), col("n_sw"),
        col("rf"), col("zipf_ppm"))
      .orderBy(col("source"), col("rnk"))
  }

  /** ONE (source, prefix) count projection — shared by the batch query
    * ([[boilerplatePrefixes]]) and the streamed prefix store
    * ([[graft.streaming.ArtifactMaintenance.prefixArtifact]]), so
    * streamed partials are structurally bit-compatible with the batch
    * aggregate (the sourceUnigramCounts discipline). */
  private[graft] def prefixCounts(docs: DataFrame,
      prefixTokens: Int = 8): DataFrame =
    docs.select(col("source"),
        concat_ws(" ", slice(split(col("text"), " "), 1, prefixTokens))
          .as("prefix"))
      .groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).as("n_docs"))

  def boilerplatePrefixes(
      spark: SparkSession,
      dir: String,
      prefixTokens: Int = 8,
      minDocs: Long = 2L): DataFrame = {
    // ONE corpus aggregate, pinned: both the flagged sliver and the
    // per-source totals read it (sum of prefix counts = doc count), so
    // the corpus scans once per serve
    val counts = graft.ops.GlobalOrder.pin(
      prefixCounts(Tables.documents(spark, dir), prefixTokens))
    val grouped = counts.filter(col("n_docs") >= minDocs)
    val totals = counts.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("src_docs"))
    grouped.join(broadcast(totals), Seq("source"))
      .withColumn("share_ppm", expr("(1000000 * n_docs) div src_docs"))
      .select(col("source"), col("prefix"), col("n_docs"),
        col("src_docs"), col("share_ppm"))
      .orderBy(col("source"), col("prefix"))
  }
}
