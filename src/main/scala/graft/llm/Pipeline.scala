package graft.llm

import graft.functions.VectorFunctions.dot_d
import graft.model.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Composite LLM-data-pipeline operators: the end-to-end training-corpus
 * filter chain, per-vector array statistics, and an IVF-style
 * coarse-quantized ANN.
 */
object Pipeline {

  /**
   * The full training-data preparation chain as ONE declarative plan —
   * exact dedup → token/length stats → stopword-based quality score →
   * thresholds. At 100 TB each stage is a narrow projection or one
   * hash-shuffle; Catalyst fuses the projections into the scan.
   */
  def trainingPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // exact dedup: canonical doc per text
    val dedup = docs
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("n_chars")).as("n_chars"))
    val stop = Seq("the", "a", "of", "and")
    val toks = split(col("text"), " ")
    dedup
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_stop",
        size(filter(toks, t => stop.map(w => t === lit(w)).reduce(_ || _))).cast("long"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("avg_word_len",
        (col("n_chars") - (col("n_tokens") - lit(1L))).cast("double") / col("n_tokens"))
      .filter(col("n_tokens") >= 20L && col("n_tokens") <= 500L)
      .filter(col("stop_ratio") >= 0.02)
      .filter(col("avg_word_len") >= 2.0 && col("avg_word_len") <= 12.0)
      .select(col("doc_id"), col("n_tokens"), col("n_stop"),
        col("stop_ratio"), col("avg_word_len"))
      .orderBy("doc_id")
  }

  /** Per-vector statistics over the embedding array: bounds, mean,
    * L2 norm — array kernels + the codegen'd dot product. */
  def arrayStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        array_min(col("embedding")).cast("double").as("v_min"),
        array_max(col("embedding")).cast("double").as("v_max"),
        (aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x.cast("double"))
          / size(col("embedding"))).as("v_mean"),
        sqrt(dot_d(col("embedding"), col("embedding"))).as("l2_norm"))
      // pin before the presentation sort: map-only array kernels would
      // otherwise run twice (range-sampler pass, guide §2.4)
      .transform(d => graft.ops.GlobalOrder.pinnedSort(d, col("vec_id")))

  /**
   * Near-duplicate CLUSTERS: connected components over the MinHash-LSH
   * pair graph (dedup must drop whole duplicate groups, not just pairs).
   * Built by star contraction ([[Dedup.ccStarLabels]]), whose round
   * count grows with the pair graph's size (O(log² n)), not with any
   * component's diameter — a duplication chain of any length converges.
   * Each component is labeled by its minimum doc_id; labels never leave
   * the cluster.
   */
  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    // memoized per corpus as a PINNED artifact: the label table is the
    // artifact a dedup stage persists — the survivor reports (q69,
    // q169), the leakage splits (q223/q224) and q257 read the labels
    // q72 computed, never re-run the rounds; memoIndex's count forces
    // the pin inside the timed build
    ModelCache.memoIndex(Tables.documents(spark, dir), "neardup-labels") {
      graft.ops.GlobalOrder.pin(
        Dedup.ccStarLabels(Dedup.pairGraph(spark, dir))._1.orderBy("doc_id"))
    }

  /**
   * The corpus that SURVIVES near-dup deduplication — the step a real
   * pipeline runs after [[nearDupClusters]]: star contraction labels
   * each cluster with the cluster's minimum doc_id, so the canonical
   * member is exactly the node whose label equals itself; every other
   * clustered node is dropped, and docs in no cluster pass through
   * untouched (left-anti join against the non-canonical set — the
   * cluster table is pair-count-sized, orders of magnitude under corpus
   * scale, so the anti join broadcasts under AQE and the corpus never
   * reshuffles). Output is the per-source survivor profile.
   */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val dropped = nearDupClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id"))
    Tables.documents(spark, dir)
      .join(dropped, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("chars"),
        min(col("doc_id")).as("first_id"),
        max(col("doc_id")).as("last_id"))
      .orderBy("source")
  }

  /**
   * QUALITY-AWARE dedup survivor selection: within each near-dup
   * cluster keep the best member by an exact integer quality key —
   * stopword-density ppm, then token count, then lowest doc_id — not
   * merely the lowest id (q69's policy). This is the survivor policy a
   * production dedup stage actually wants: near-dups often differ by
   * boilerplate/truncation, and the keep decision should prefer the
   * cleanest copy.
   *
   * Scale shape: reads the STORED cluster-label artifact
   * ([[nearDupClusters]], memoized — no rounds re-run) and joins it
   * with a row-local quality projection; the ranking window partitions
   * by cluster over the LABELED docs only — a near-dup-sized sliver of
   * the corpus, not the corpus itself (the few-key window ban targets
   * corpus-scale inputs; this input is bounded by duplicate volume).
   * Quality is log-free integer arithmetic so the oracle replays it
   * bit-exactly.
   */
  def qualitySurvivors(spark: SparkSession, dir: String): DataFrame = {
    val labels = nearDupClusters(spark, dir)
    val stop = Seq("the", "a", "of", "and")
    val quality = Tables.documents(spark, dir)
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("n_stop",
        size(filter(col("w"), t => stop.map(s => t === lit(s)).reduce(_ || _)))
          .cast("long"))
      .withColumn("q_ppm", expr("(1000000 * n_stop) div n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("q_ppm"))
    val ranked = labels.join(quality, "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster"))
          .orderBy(col("q_ppm").desc, col("n_tokens").desc, col("doc_id"))))
    ranked
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("doc_id"))).as("survivor_id"),
        max(when(col("rk") === 1, col("q_ppm"))).as("survivor_q_ppm"))
      .withColumn("n_displaced", col("n_members") - 1L)
      .select(col("cluster"), col("n_members"), col("survivor_id"),
        col("survivor_q_ppm"), col("n_displaced"))
      .orderBy(col("cluster"))
  }

  /**
   * Deterministic hash sampling: keep a document iff the hex prefix of
   * md5(doc_id) falls under a per-language threshold — reproducible
   * data mixing with no RNG, identical in any engine, stable under
   * re-partitioning (the property Bernoulli `sample()` lacks).
   */
  def deterministicSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 4))
      // en downsampled to ~25%, everything else kept at ~75%
      .filter(
        (col("lang") === "en" && col("h") < "4000") ||
          (col("lang") =!= "en" && col("h") < "c000"))
      .select(col("doc_id"), col("lang"), col("h"))
      .orderBy("doc_id")

  /** Doc-id block size after which the packing running sum resets —
    * bounds any single window task even under total source skew. */
  val PackShardDocs = 1000000L

  /**
   * Int8 scalar quantization of the embedding store (the standard 4×
   * storage/IO cut before ANN indexing): per-dimension global min/max
   * (a 64-row broadcast — min/max are PICKS, not folds, so they are
   * partition-order-independent), then `floor(ratio·255 + 0.5)` per
   * element. Output is integer-only per-vector stats so the whole
   * codec round (including the degenerate constant-dimension guard)
   * replays bit-exactly in the oracle.
   */
  def quantizeEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))
    val stats = x.groupBy(col("dim"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val ratio = when(col("mx") === col("mn"), lit(0.0))
      .otherwise((col("v") - col("mn")) / (col("mx") - col("mn")))
    x.join(broadcast(stats), "dim")
      .withColumn("qv", floor(ratio * lit(255.0) + lit(0.5)).cast("long"))
      .groupBy(col("vec_id"))
      .agg(sum(col("qv")).as("q_sum"), min(col("qv")).as("q_min"),
        max(col("qv")).as("q_max"))
      .orderBy(col("vec_id"))
  }

  /**
   * The curation FUNNEL (q200): documents and tokens surviving each
   * successive pipeline stage — raw → language allow-list → Gopher
   * quality rules → exact dedup → near-dup dedup — the headline
   * attrition table every training-data paper publishes (Gopher
   * table A1, RefinedWeb fig. 2, FineWeb's funnel). Each stage's
   * predicate is the SAME definition the standalone query uses:
   * Gopher flags from [[TextAnalysis.gopherRules]] (q178), near-dup
   * casualties from the memoized `lsh-pairs` artifact (q32),
   * exact-dup survivors by keep-lowest-id per text digest (q30's
   * rule), so the funnel can never drift from the stages it reports.
   *
   * Scale shape: three doc-cardinality equi-joins (flags onto the
   * base projection), then ONE group-less aggregate computing every
   * stage's conditional sums map-side — the output is five literal
   * rows exploded from that single aggregate row. No stage
   * re-filters and re-scans the corpus.
   */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("text")).as("th"))
    val gop = TextAnalysis.gopherRulesUnsorted(spark, dir)
      .select(col("doc_id"), col("pass").as("gopher_ok"))
    val nd = Dedup.minhashLsh(spark, dir)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("is_neardup", lit(true))
    // keep-lowest per digest as a window min — th is a
    // corpus-cardinality key (the q189 exemption), and the window
    // replaces a digest self-join that would scan the corpus twice
    val flags = base
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("th"))))
      .join(gop, Seq("doc_id"))
      .join(nd, Seq("doc_id"), "left")
      .withColumn("c1", col("lang").isin("en", "es", "fr"))
      .withColumn("c2", col("c1") && col("gopher_ok"))
      .withColumn("c3", col("c2") && col("doc_id") === col("keep_id"))
      .withColumn("c4", col("c3") && col("is_neardup").isNull)
    def d(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    def t(c: Column): Column = sum(when(c, col("n_tokens")).otherwise(0L))
    val a = flags.agg(
      count(lit(1)).as("d0"), sum(col("n_tokens")).as("t0"),
      d(col("c1")).as("d1"), t(col("c1")).as("t1"),
      d(col("c2")).as("d2"), t(col("c2")).as("t2"),
      d(col("c3")).as("d3"), t(col("c3")).as("t3"),
      d(col("c4")).as("d4"), t(col("c4")).as("t4"))
    def row(i: Int, name: String): Column = struct(
      lit(i.toLong).as("stage"), lit(name).as("stage_name"),
      col(s"d$i").as("n_docs"), col(s"t$i").as("n_tokens"))
    a.select(explode(array(
        row(0, "raw"), row(1, "lang_filter"), row(2, "gopher_rules"),
        row(3, "exact_dedup"), row(4, "neardup_dedup"))).as("s"), col("d0"))
      .select(col("s.stage").as("stage"), col("s.stage_name").as("stage_name"),
        col("s.n_docs").as("n_docs"), col("s.n_tokens").as("n_tokens"),
        expr("(1000000 * s.n_docs) div d0").as("kept_ppm"))
      .orderBy("stage")
  }

  /** The deterministic train/val/test assignment of a doc_id — ONE
    * definition shared by the split report, the shard writer and the
    * leakage audit, so the ratio can never drift between what is
    * reported and what is written (the val/train leak the md5
    * discipline exists to stop). */
  private[llm] def splitOf(id: Column): Column = {
    val h = substring(md5(id.cast("string")), 1, 4)
    when(h < "e666", "train")        // [0, 0.9) of the hex space
      .when(h < "f333", "val")       // [0.9, 0.95)
      .otherwise("test")             // [0.95, 1)
  }

  private[llm] def splitColumn: Column = splitOf(col("doc_id"))

  /**
   * Deterministic train/val/test split: the md5 hex prefix of the
   * doc_id buckets every document into train/val/test at ~90/5/5 —
   * the same RNG-free discipline as [[deterministicSample]], so the
   * assignment is stable under repartitioning, reruns and engine
   * changes (the property `rand()` splits lack, and the one that
   * matters for never leaking val docs into a later training run).
   */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split", splitColumn)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("split"))

  /**
   * Cross-split LEAKAGE audit: near-duplicate pairs (the q32 MinHash
   * candidates) whose two members land in DIFFERENT splits of the
   * deterministic train/val/test assignment — each such pair is a test
   * or validation document whose near-copy the model trains on, the
   * contamination a random-split pipeline ships silently (cf. Lee et
   * al. 2022 §5 on split leakage through duplicates). Run after
   * dedup-before-split this returns empty; the fixture corpus keeps
   * its duplicates, so the audit has material to flag.
   *
   * Scale shape: the pair list is the memoized `lsh-pairs` stored
   * artifact (duplicate-volume-sized, NOT corpus-sized), and the split
   * of each member is the PURE md5 function of its id ([[splitOf]]) —
   * computed row-locally on the pair rows, zero joins, so the audit
   * costs O(pairs) regardless of corpus size.
   */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(spark, dir)
      .withColumn("split_a", splitOf(col("id_a")))
      .withColumn("split_b", splitOf(col("id_b")))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("split_a"), col("split_b"))
      .orderBy("id_a", "id_b")

  /**
   * LEAKAGE-SAFE train/val/test split — the FIX for what
   * [[splitLeakage]] measures: the split is assigned at the
   * near-dup-CLUSTER level by hashing the cluster representative
   * (the min-label from [[nearDupClusters]]) instead of the member
   * doc_id, so every near-duplicate of a document lands in the same
   * split by construction (the dedup-aware-split discipline of Lee et
   * al. 2022 §5). Docs in no cluster hash their own id — identical to
   * [[splitOf]] for the non-duplicated bulk, so the ~90/5/5 ratio is
   * preserved.
   *
   * Output: per-split doc counts, how many are cluster members, and
   * the count of near-dup pairs still straddling splits under this
   * assignment — zero by construction, but re-measured from the raw
   * pair list rather than trusted, so the oracle independently proves
   * the closure of the q190 audit.
   *
   * Scale shape: the label table is the memoized duplicate-sliver
   * artifact (pair-volume-sized, NOT corpus-sized) — the corpus-side
   * assignment broadcasts it and the corpus never shuffles; the
   * re-audit joins the pair artifact against the label table twice,
   * zero corpus scans. All three joins read one broadcast: the label
   * side is the same subtree in each (its null-key filter written out,
   * where the inner joins would infer it and the left join would not;
   * columns renamed only after each join), so the exchange is reused.
   */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val labels = broadcast(nearDupClusters(spark, dir).filter(col("doc_id").isNotNull))
    val asg = Tables.documents(spark, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("split", splitOf(coalesce(col("cluster"), col("doc_id"))))
    // every pair member is a cluster node, so inner joins are total;
    // splits compare equal iff the reps do — counted, not assumed
    def rep(pairs: DataFrame, id: String, as: String): DataFrame =
      pairs.join(labels, col(id) === col("doc_id"))
        .drop("doc_id").withColumnRenamed("cluster", as)
    val leaked = rep(rep(Dedup.minhashLsh(spark, dir).select(col("id_a"), col("id_b")),
        "id_a", "rep_a"), "id_b", "rep_b")
      .filter(splitOf(col("rep_a")) =!= splitOf(col("rep_b")))
      .agg(count(lit(1)).as("leaked_pairs"))
    asg.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("cluster")).as("n_clustered"))
      .crossJoin(leaked)
      .orderBy(col("split"))
  }

  /**
   * Duplication-aware LOSS WEIGHTING — the SOFT alternative to hard
   * dedup: instead of dropping near-duplicates, every member of a
   * near-dup cluster of size n contributes 1/n of its tokens to the
   * training mix, so a passage's aggregate influence is independent of
   * how many times it was crawled while no data is discarded (the
   * repeated-data downweighting view of Lee et al. 2022 — hard dedup
   * is the n→keep-1 special case). Per source: raw vs effective
   * (weighted) token volume and the retained fraction in ppm.
   *
   * All-integer arithmetic for oracle-exact parity: per-doc weighted
   * tokens = `n_tokens div cluster_size` (exact in both engines), and
   * the ppm ratio cross-multiplies in DECIMAL(38,0) so it cannot
   * overflow even at single-source token counts past 9e12.
   *
   * Scale shape: cluster sizes aggregate on the pair-sliver label
   * artifact and broadcast back to the corpus scan — one corpus pass,
   * one source-cardinality aggregate, zero corpus shuffles.
   */
  def dupWeighting(spark: SparkSession, dir: String): DataFrame = {
    val labels = nearDupClusters(spark, dir)
    val sized = labels.join(
      broadcast(labels.groupBy(col("cluster"))
        .agg(count(lit(1)).as("csize"))),
      Seq("cluster"))
      .select(col("doc_id"), col("csize"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(broadcast(sized), Seq("doc_id"), "left")
      .withColumn("csize", coalesce(col("csize"), lit(1L)))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("csize") > 1L, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("n_tokens")).as("raw_tokens"),
        sum(expr("n_tokens div csize")).as("effective_tokens"))
      .withColumn("retained_ppm",
        expr("CAST(1000000 AS DECIMAL(38,0)) * effective_tokens div raw_tokens"))
      .orderBy(col("source"))
  }

  /**
   * Dedup PROVENANCE ledger — one row per document a near-dup dedup
   * drops, naming the keeper that replaced it: the audit trail a
   * compliance/debugging pass reads when a document is missing from
   * the training set ("why was doc X removed, and on what evidence?").
   * `direct` marks drops backed by a VERIFIED pair against the keeper
   * itself (with its exact Jaccard); transitive members — connected
   * through intermediate near-dups, no direct keeper pair — carry a
   * null, making the evidence strength visible per row.
   *
   * Scale: both inputs are stored artifacts (`neardup-labels`,
   * `lsh-pairs`) — pair-graph-sized slivers, broadcast under the same
   * guarded-sliver stance as the other label consumers; the only
   * corpus touch is one (doc_id, source) projection joined against
   * the broadcast dropped set.
   */
  def dedupLineage(spark: SparkSession, dir: String): DataFrame = {
    val maxSliver = 4 << 20
    val dropped = graft.ops.GlobalOrder.pinnedSliver(
      nearDupClusters(spark, dir)
        .filter(col("doc_id") =!= col("cluster"))
        .select(col("doc_id"), col("cluster").as("keeper_id")),
      maxSliver, "q242 dropped-doc set")
    val pairs = graft.ops.GlobalOrder.pinnedSliver(
      Dedup.minhashLsh(spark, dir)
        .select(col("id_a").as("keeper_id"), col("id_b").as("doc_id"),
          col("jaccard").as("jaccard_to_keeper")),
      maxSliver, "q242 verified-pair set")
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(broadcast(dropped), Seq("doc_id"))
      .join(broadcast(pairs), Seq("keeper_id", "doc_id"), "left")
      .select(col("doc_id"), col("keeper_id"), col("source"),
        col("jaccard_to_keeper").isNotNull.as("direct"),
        col("jaccard_to_keeper"))
      .orderBy(col("doc_id"))
  }

  /**
   * CLUSTER-AWARE decontamination — the q163 winnowing screen closed
   * under near-duplication: a training document sharing fingerprints
   * with the eval slice is contaminated, and so is every near-copy of
   * it, even those whose exact n-grams drifted past the fingerprint
   * screen (re-crawls, boilerplate edits). Directly-flagged docs
   * expand to their whole near-dup cluster ([[nearDupClusters]] —
   * the same transitive reasoning as dedup-drop-whole-groups), and
   * the per-source report separates direct hits from the
   * transitively-added members so the expansion's cost is visible.
   *
   * Scale shape: the direct set is contamination-sliver-sized and the
   * label table pair-sliver-sized — both broadcast; the only
   * corpus-scale work is q163's own fingerprint pass plus ONE
   * per-source rollup scan. Eval docs themselves are never flagged.
   *
   * The broadcast-sliver ASSUMPTION is guarded, not hoped
   * ([[graft.ops.GlobalOrder.pinnedSliver]], round-10 verdict #7): a
   * pathological corpus — the eval set leaked wholesale, so "direct"
   * is corpus-scale — fails loudly at the guard instead of blowing the
   * broadcast on an executor; the expansion sliver gets the same guard
   * since a single mega-cluster could inflate it even off a small
   * direct set. Pinning also materializes each sliver ONCE for its
   * two downstream uses.
   */
  def clusterDecontaminate(spark: SparkSession, dir: String,
      evalMod: Int = TextAnalysis.EvalHoldoutMod): DataFrame = {
    val maxSliver = 4 << 20 // ~4M ids ≈ 32 MB broadcast — loud past this
    val direct = graft.ops.GlobalOrder.pinnedSliver(
      TextAnalysis.decontaminate(spark, dir, evalMod = evalMod)
        .select(col("doc_id")),
      maxSliver, "q229 directly-contaminated doc set")
    val labels = nearDupClusters(spark, dir)
    val hit = labels.join(broadcast(direct), Seq("doc_id"))
      .select(col("cluster")).distinct()
    val transitive = graft.ops.GlobalOrder.pinnedSliver(
      labels.join(broadcast(hit), Seq("cluster"))
        .filter(pmod(col("doc_id"), lit(evalMod)) =!= 0)
        .select(col("doc_id")).withColumn("in_cluster", lit(1L)),
      maxSliver, "q229 cluster-expansion doc set")
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(broadcast(direct.withColumn("is_direct", lit(1L))),
        Seq("doc_id"), "left")
      .join(broadcast(transitive), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_direct"), lit(0L))).as("n_direct"),
        sum(when(col("in_cluster") === 1L && col("is_direct").isNull, 1L)
          .otherwise(0L)).as("n_transitive"),
        sum(when(col("in_cluster") === 1L || col("is_direct") === 1L, 1L)
          .otherwise(0L)).as("n_flagged"))
      .orderBy("source")
  }

  /**
   * QUALITY × DUPLICATION cross-tab — equal-count deciles of the q217
   * stopword quality score against near-dup cluster membership: do
   * duplicates concentrate in low-quality bands (template junk
   * re-crawled at scale) or are the highest-quality passages the most
   * duplicated? The answer decides whether dedup and quality filtering
   * are redundant or complementary on a given corpus — the report a
   * curation stack reads before ordering the two stages. Scoring is
   * the ONE shared [[Eval.scoredDocs]] definition; deciles are ANSI
   * ntile under the total order (score, doc_id) via the distributed
   * GlobalOrder rank (never a one-task window); the dup flag joins the
   * broadcast label sliver. One corpus pass beyond the stored labels.
   */
  def qualityDupMatrix(spark: SparkSession, dir: String,
      buckets: Int = 10): DataFrame = {
    // pinned: the scored projection is a full corpus scoring pass; the
    // rank operator's range sampler would re-run it (guide §2.4)
    val ranked = graft.ops.GlobalOrder.groupedRankAndPrefix(
      graft.ops.GlobalOrder.pin(Eval.scoredDocs(Tables.documents(spark, dir))),
      keys = Nil, order = Seq(col("score"), col("doc_id")))
    val dup = nearDupClusters(spark, dir)
      .select(col("doc_id")).withColumn("is_dup", lit(1L))
    ranked
      .withColumn("decile", graft.ops.GlobalOrder.ntileFromRank(
        col("g_rank"), col("g_total_rows"), buckets))
      .join(broadcast(dup), Seq("doc_id"), "left")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"),
        min(col("score")).as("score_lo"),
        max(col("score")).as("score_hi"))
      .withColumn("dup_ppm", expr("(1000000 * n_dup) div n_docs"))
      .select(col("decile"), col("n_docs"), col("n_dup"), col("dup_ppm"),
        col("score_lo"), col("score_hi"))
      .orderBy(col("decile"))
  }

  /**
   * The composed CURATION REPORT (q231): q200's funnel stages crossed
   * with q230's quality deciles — per (decile, stage), the documents
   * and tokens surviving raw → language → Gopher → exact dedup →
   * near-dup dedup, plus how many survivors still sit in a near-dup
   * CLUSTER (the labels artifact) — i.e. surviving representatives.
   * This is the one table a curation decision actually reads: whether
   * each pipeline stage spends its attrition on low- or high-quality
   * bands, and whether residual duplication concentrates anywhere
   * after the funnel.
   *
   * Definitions are SHARED, not re-derived: the quality score and
   * decile are q217/q230's ([[Eval.scoredDocs]]'s arithmetic, ANSI
   * ntile from the distributed GlobalOrder rank), the stage predicates
   * are q200's verbatim, near-dup casualties come from the memoized
   * `lsh-pairs` artifact and cluster membership from the memoized
   * `neardup-labels` artifact — two stored artifacts, zero rebuilt.
   *
   * Scale shape: ONE corpus scan computes every row-local measurement
   * (score, Gopher metrics, digest) in a single projection; the only
   * corpus-scale exchanges are the decile range partition and the
   * keep-lowest digest window (corpus-cardinality key); both artifact
   * joins broadcast slivers; the final aggregate is decile-cardinality
   * with all stage sums computed map-side in one pass.
   */
  def curationReport(spark: SparkSession, dir: String,
      buckets: Int = 10): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("th"),
        split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("lang"), col("th"),
        size(col("ws")).cast("long").as("n_tokens"),
        expr("aggregate(ws, 0L, (a, w) -> a + length(w))").as("sum_wlen"),
        expr("size(filter(ws, w -> w = 'the' OR w = 'a'))")
          .cast("long").as("n_stop"))
      .filter(col("n_tokens") > 0)
      .withColumn("score", expr("(1000000 * n_stop) div n_tokens"))
      .withColumn("gopher_ok",
        col("n_tokens") >= 30 && col("n_tokens") <= 1000 &&
          expr("(100 * sum_wlen) div n_tokens") >= 200L &&
          expr("(100 * sum_wlen) div n_tokens") <= 800L &&
          col("n_stop") >= 2L)
    // base is pinned before ranking: its projection (split + md5 + two
    // array folds per document) is the most expensive row-local work in
    // the query, and the rank operator's range sampler is a second full
    // execution of unpinned lineage (guide §2.4)
    val ranked = graft.ops.GlobalOrder.groupedRankAndPrefix(
        graft.ops.GlobalOrder.pin(base),
        keys = Nil, order = Seq(col("score"), col("doc_id")))
      .withColumn("decile", graft.ops.GlobalOrder.ntileFromRank(
        col("g_rank"), col("g_total_rows"), buckets))
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("th"))))
    // broadcast-sliver assumption GUARDED, same bound as
    // clusterDecontaminate: a dup-heavy corpus makes both sets
    // corpus-scale, and the guard fails loudly instead of blowing the
    // broadcast on an executor
    val maxSliver = 4 << 20
    val nd = graft.ops.GlobalOrder.pinnedSliver(
      Dedup.minhashLsh(spark, dir)
        .select(col("id_b").as("doc_id")).distinct()
        .withColumn("is_neardup", lit(true)),
      maxSliver, "q231 near-dup casualty set")
    val cl = graft.ops.GlobalOrder.pinnedSliver(
      nearDupClusters(spark, dir)
        .select(col("doc_id")).withColumn("in_cluster", lit(1L)),
      maxSliver, "q231 cluster-membership set")
    val flags = ranked
      .join(broadcast(nd), Seq("doc_id"), "left")
      .join(broadcast(cl), Seq("doc_id"), "left")
      .withColumn("c1", col("lang").isin("en", "es", "fr"))
      .withColumn("c2", col("c1") && col("gopher_ok"))
      .withColumn("c3", col("c2") && col("doc_id") === col("keep_id"))
      .withColumn("c4", col("c3") && col("is_neardup").isNull)
    def d(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    def t(c: Column): Column = sum(when(c, col("n_tokens")).otherwise(0L))
    def u(c: Column): Column =
      sum(when(c && col("in_cluster") === 1L, 1L).otherwise(0L))
    val agg = flags.groupBy(col("decile")).agg(
      count(lit(1)).as("d0"), sum(col("n_tokens")).as("t0"),
      u(lit(true)).as("u0"),
      d(col("c1")).as("d1"), t(col("c1")).as("t1"), u(col("c1")).as("u1"),
      d(col("c2")).as("d2"), t(col("c2")).as("t2"), u(col("c2")).as("u2"),
      d(col("c3")).as("d3"), t(col("c3")).as("t3"), u(col("c3")).as("u3"),
      d(col("c4")).as("d4"), t(col("c4")).as("t4"), u(col("c4")).as("u4"))
    def row(i: Int, name: String): Column = struct(
      lit(i.toLong).as("stage"), lit(name).as("stage_name"),
      col(s"d$i").as("n_docs"), col(s"t$i").as("n_tokens"),
      col(s"u$i").as("n_in_cluster"))
    agg.select(col("decile"), col("d0").as("draw"), explode(array(
        row(0, "raw"), row(1, "lang_filter"), row(2, "gopher_rules"),
        row(3, "exact_dedup"), row(4, "neardup_dedup"))).as("s"))
      .select(col("decile"), col("s.stage").as("stage"),
        col("s.stage_name").as("stage_name"),
        col("s.n_docs").as("n_docs"), col("s.n_tokens").as("n_tokens"),
        col("s.n_in_cluster").as("n_in_cluster"),
        expr("(1000000 * s.n_docs) div draw").as("kept_ppm"))
      .orderBy("decile", "stage")
  }

  /**
   * Materialize a corpus as training shards: parquet partitioned by the
   * deterministic md5 split (train/val/test directories a data loader
   * globs independently), every file capped at `shardRecords` rows.
   *
   * The cap is Spark's `maxRecordsPerFile` — enforced per write task,
   * no extra shuffle — so shard sizes stay loader-friendly (bounded
   * memory per shard, enough files for read parallelism) no matter how
   * large one task's input slice is. The pre-repartition on the split
   * column plus a stable in-partition sort keeps the layout
   * deterministic: reruns produce the same doc→shard assignment, the
   * same property the md5 split itself guarantees ([[datasetSplit]]).
   */
  def writeTrainingShards(docs: DataFrame, outDir: String,
      shardRecords: Int = 1000): Unit =
    docs
      .withColumn("split", splitColumn)
      .repartition(col("split"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", shardRecords.toLong)
      .partitionBy("split")
      .parquet(outDir)

  /** Source-mixing quota: at most 30 docs per source, preferring longer
    * documents (per-source top-k via window rank). */
  def sourceMixing(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 30)
      .select(col("source"), col("rnk"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("rnk"))
  }

  /**
   * Greedy sequence packing for pretraining batches: documents stream
   * in doc_id order WITHIN each (source, id-block) shard and land in
   * consecutive token-budget bins by cumulative token offset
   * (`start div budget`). Sharding the running sum keeps the window
   * parallel — a single global cumulative sum would serialize on one
   * task at 100 TB, and even a per-source sum serializes when one
   * source dominates, so the running sum additionally resets every
   * [[PackShardDocs]] doc ids (a no-op at fixture scale, a bounded
   * per-task unit at any scale). Integer window sums are exact, so the
   * bin layout is deterministic and bit-replayable.
   */
  /** The ONE pack layout (source, shard, doc_id, n_tokens, cum,
    * pack_id) — [[sequencePacking]] and [[packBoundaries]] are two
    * aggregations of the SAME layout; sharing the computation makes
    * their consistency structural, not spec-enforced. */
  /** The budget-INDEPENDENT part of the pack layout: per-(source,
    * shard) running token sums in doc_id order. [[packedDocs]] and
    * [[packEfficiency]] both derive pack ids from this one layout —
    * the cumulative sum is the only shuffle either needs. */
  private def cumLayout(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("shard", expr(s"doc_id div $PackShardDocs"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
  }

  private def packedDocs(spark: SparkSession, dir: String, budget: Long): DataFrame =
    cumLayout(spark, dir)
      .withColumn("pack_id", expr(s"(cum - n_tokens) div $budget"))

  /**
   * Context-length SWEEP of packing efficiency: for each candidate
   * training context length, how many packed sequences the corpus
   * yields and what fraction of their capacity is real tokens
   * (`fill_ppm`, exact integer ppm) — the number a pipeline owner
   * reads before choosing a context length, since tail waste grows
   * with the budget while per-sequence overhead shrinks.
   *
   * Scale shape: the running sum ([[cumLayout]]) is computed ONCE —
   * pack ids for every budget are row-local `div`s of the same `cum`,
   * so the sweep costs one shard-parallel window plus a 3×-row
   * explode that immediately collapses into per-(budget, shard)
   * partial aggregates. Adding a budget lane adds zero shuffles.
   */
  def packEfficiency(spark: SparkSession, dir: String,
      budgets: Seq[Long] = Seq(128L, 256L, 512L)): DataFrame =
    cumLayout(spark, dir)
      .withColumn("budget", explode(array(budgets.map(lit): _*)))
      .withColumn("pack_id", expr("(cum - n_tokens) div budget"))
      .groupBy(col("budget"), col("source"), col("shard"))
      .agg((max(col("pack_id")) + lit(1L)).as("packs"),
        sum(col("n_tokens")).as("toks"))
      .groupBy(col("budget"))
      .agg(sum(col("packs")).as("n_packs"), sum(col("toks")).as("total_tokens"))
      .withColumn("capacity", col("n_packs") * col("budget"))
      .withColumn("fill_ppm", expr("(1000000 * total_tokens) div capacity"))
      .select(col("budget"), col("n_packs"), col("total_tokens"),
        col("capacity"), col("fill_ppm"))
      .orderBy("budget")

  def sequencePacking(spark: SparkSession, dir: String, budget: Long = 256L): DataFrame =
    packedDocs(spark, dir, budget)
      .groupBy(col("source"), col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("shard"), col("pack_id"))

  /**
   * Per-pack DOCUMENT BOUNDARY offsets — the attention-mask input a
   * trainer needs beside [[sequencePacking]]'s pack summary: packed
   * sequences must not attend across document boundaries, so each pack
   * row carries the sorted intra-pack token offsets where its documents
   * start (offset 0 is always present; the trainer turns these into the
   * block-diagonal mask). Same shard-parallel cumulative sum as
   * [[sequencePacking]]; boundaries are emitted as a comma-joined
   * STRING, not an array — the repo's oracle surface avoids list
   * columns (engine renderings differ; a joined string is bit-stable).
   * Start offsets within a pack are distinct by construction (documents
   * are non-empty), so the sort is total without a tiebreak.
   */
  def packBoundaries(spark: SparkSession, dir: String, budget: Long = 256L): DataFrame =
    packedDocs(spark, dir, budget)
      .withColumn("off", expr(s"(cum - n_tokens) - pack_id * $budget"))
      .groupBy(col("source"), col("shard"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        array_join(array_sort(collect_list(col("off"))), ",").as("boundaries"))
      .orderBy(col("source"), col("shard"), col("pack_id"))

  /**
   * Fill-in-the-middle transform (Bavarian et al. 2022): the
   * pretraining-example generator that moves a pseudo-random middle
   * span to the end in PSM (prefix–suffix–middle) sentinel format, so
   * a causal LM learns infilling. Cut points derive from md5 over a
   * salted doc_id — the repo's cross-engine hash — so the "random"
   * spans are deterministic and the DuckDB oracle replays them
   * bit-for-bit. cut1 ∈ [1, n−2], cut2 ∈ [cut1+1, n−1]: prefix,
   * middle and suffix are all non-empty. Everything is row-local
   * array arithmetic (no shuffle but the presentation sort) — the
   * transform streams at input bandwidth at 100 TB.
   */
  def fimTransform(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .filter(col("n_words") >= 4L)
      .withColumn("h1", conv(substring(md5(
        concat(lit("fim1:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
        .cast("long"))
      .withColumn("h2", conv(substring(md5(
        concat(lit("fim2:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
        .cast("long"))
      .withColumn("cut1", expr("h1 % (n_words - 2) + 1"))
      .withColumn("cut2", expr("h2 % (n_words - 1 - cut1) + cut1 + 1"))
      .withColumn("fim_text", expr(
        "concat('<PRE> ', array_join(slice(ws, 1, cast(cut1 as int)), ' '), " +
          "' <SUF> ', array_join(slice(ws, cast(cut2 + 1 as int), " +
          "cast(n_words - cut2 as int)), ' '), " +
          "' <MID> ', array_join(slice(ws, cast(cut1 + 1 as int), " +
          "cast(cut2 - cut1 as int)), ' '))"))
      .select(col("doc_id"), col("n_words"), col("cut1"), col("cut2"),
        col("fim_text"))
      // pin before the presentation sort (map-only; guide §2.4)
      .transform(d => graft.ops.GlobalOrder.pinnedSort(d, col("doc_id")))

  /**
   * T5-style SPAN-CORRUPTION example generator (q221, Raffel et al.
   * 2020): mask two fixed-length spans per document with sentinel
   * tokens and emit the (input, target) pair the denoising objective
   * trains on — the encoder-decoder counterpart of q184's FIM
   * transform (one mechanism per objective family, both RNG-free).
   *
   * Span starts are salted-md5 draws (the q184/q73 "randomness" the
   * oracle replays bit-for-bit): span 1 inside the first half of the
   * document, span 2 inside the second half — non-overlap by range
   * construction, never by rejection sampling (a retry loop would not
   * be expressible as one oracle pass). Both texts assemble through
   * ONE array_join over a concatenated token array, so empty prefixes
   * or gaps cannot produce the double-space drift a string-concat
   * formulation invites. Pure row-local slicing; the presentation sort
   * is the only exchange.
   */
  def spanCorruption(spark: SparkSession, dir: String,
      spanLen: Int = 3): DataFrame = {
    val L = spanLen
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")).cast("long"))
      .filter(col("n") >= 2L * L) // each half must fit one span
      .withColumn("half", expr("n div 2"))
      .withColumn("h1", conv(substring(md5(
        concat(lit("span1:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
        .cast("long"))
      .withColumn("h2", conv(substring(md5(
        concat(lit("span2:"), col("doc_id").cast("string"))), 1, 6), 16, 10)
        .cast("long"))
      .withColumn("s1", expr(s"h1 % (half - $L + 1) + 1"))
      .withColumn("s2", expr(s"half + 1 + h2 % (n - half - $L + 1)"))
      .withColumn("input_text", expr(
        s"""array_join(concat(
           |  slice(ws, 1, cast(s1 - 1 as int)), array('<X>'),
           |  slice(ws, cast(s1 + $L as int), cast(s2 - s1 - $L as int)),
           |  array('<Y>'),
           |  slice(ws, cast(s2 + $L as int), cast(n - s2 - ${L - 1} as int))),
           |' ')""".stripMargin))
      .withColumn("target_text", expr(
        s"""array_join(concat(
           |  array('<X>'), slice(ws, cast(s1 as int), $L),
           |  array('<Y>'), slice(ws, cast(s2 as int), $L)),
           |' ')""".stripMargin))
      .select(col("doc_id"), col("n").as("n_tokens"), col("s1"), col("s2"),
        col("input_text"), col("target_text"))
      // pin before the presentation sort (map-only; guide §2.4)
      .transform(d => graft.ops.GlobalOrder.pinnedSort(d, col("doc_id")))
  }

  /**
   * Benchmark decontamination: corpus documents sharing ≥ `minOverlap`
   * 3-word shingles with a held-out evaluation set must be dropped
   * before training. The eval set (doc_id < 5 stands in for the real
   * benchmark suite) is tiny relative to the corpus, so its distinct
   * shingle set broadcasts and the detection is one semi-join-shaped
   * pass over corpus shingles — never a corpus×eval join. Overlap
   * counts are exact integers.
   */
  def decontaminate(spark: SparkSession, dir: String, minOverlap: Long = 3L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val evalShingles = Dedup.shingles(docs.filter(col("doc_id") < 5))
      .select(col("s")).distinct()
    Dedup.shingles(docs.filter(col("doc_id") >= 5))
      .join(broadcast(evalShingles), Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .orderBy(col("doc_id"))
  }

  /**
   * Benchmark CONTAINMENT scoring — the graded companion to
   * [[decontaminate]]'s binary drop: for each held-out eval document,
   * the fraction of its distinct 3-word shingles that appear anywhere
   * in the training corpus (Brown et al. 2020's n-gram containment).
   * A decontamination policy thresholds this score; emitting it per
   * eval doc is what lets the policy be tuned.
   *
   * Plan: the corpus side is ONE semi-join shuffle keyed on the
   * shingle (no distinct pre-pass — the semi-join dedups by
   * construction); counts are exact integers and the score is a
   * single integer division. The eval set is a fixed benchmark suite
   * in practice, so the probe side stays constant as the corpus
   * grows.
   */
  def benchmarkContainment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isEval = pmod(col("doc_id"), lit(100L)) < 2L  // fixture eval suite
    val evalSh = Dedup.shingles(docs.filter(isEval))
    val corpusSh = Dedup.shingles(docs.filter(!isEval)).select(col("s"))
    val total = evalSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val common = evalSh.join(corpusSh, Seq("s"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_common"))
    total.join(common, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("containment",
        col("n_common").cast("double") / col("n_shingles"))
      .orderBy(col("doc_id"))
  }

  /**
   * Exact-quota stratified sampling: from each source stratum, take
   * exactly ceil(n/`denom`) documents, chosen by md5 order — the
   * deterministic counterpart of per-stratum `sample()` whose quota
   * never drifts with partitioning (a `rand() < p` sample can't
   * guarantee the quota, and Spark's `sampleBy` is seed-layout
   * dependent). The md5 ranking is the same RNG-free discipline as
   * [[deterministicSample]], but with a HARD per-stratum count.
   *
   * Plan: the per-stratum rank comes from
   * [[graft.ops.GlobalOrder.groupedRankAndPrefix]] rather than a
   * `Window.partitionBy(source)` — the quota bound is NON-LITERAL
   * (`rk <= quota`), so neither `InferWindowGroupLimit` nor the
   * bounded-heap rewrite could cap the window's per-source sort, and
   * the full corpus would both sort AND funnel into
   * source-cardinality tasks. The grouped form range-partitions on
   * (source, md5, doc_id), keeping every core busy; the quota join
   * stays a categorical-cardinality broadcast.
   */
  def stratifiedSample(spark: SparkSession, dir: String,
      denom: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val quotas = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_src"))
      .withColumn("quota", expr(s"(n_src + ${denom - 1}) div $denom"))
    graft.ops.GlobalOrder.groupedRankAndPrefix(
        docs.select(col("doc_id"), col("source")),
        keys = Seq(col("source")),
        order = Seq(md5(col("doc_id").cast("string")), col("doc_id")),
        rankCol = "rk")
      .join(quotas, "source")
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("source"), col("rk"), col("quota"))
      .orderBy(col("doc_id"))
  }

  /** Dimensions the precomputed sign matrix covers; a vector longer
    * than this would read past the literal array (element_at → null ⇒
    * null projection, loud not wrong). */
  val ProjSignDim = 1024

  /**
   * Random-projection dimensionality reduction (Johnson–Lindenstrauss
   * via ±1 Achlioptas projections): each output dimension is a dot
   * product of the embedding with a ±1 hyperplane derived from md5
   * parity — the projection matrix is CODE, not data: nothing is
   * broadcast, and the oracle regenerates any entry from (i, j) alone
   * (the same determinism that makes [[Similarity.annLsh]]'s
   * hyperplanes work). The signs depend only on (i, j), so they are
   * precomputed ONCE at plan-build time into literal arrays — the
   * md5-per-row-per-element formulation would burn N·outDims·dim
   * digests for a matrix of constants. Each projection folds
   * left-to-right in doubles, the proven bit-exact discipline of the
   * dot-product family.
   */
  def randomProjection(spark: SparkSession, dir: String,
      outDims: Int = 8): DataFrame = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Double = {
      val hex = md.digest(s"proj$i:$j".getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString
      if ("02468ace".indexOf(hex.charAt(0)) >= 0) 1.0 else -1.0
    }
    val projCols = (0 until outDims).map { i =>
      val signs = typedLit((1 to ProjSignDim).map(j => sign(i, j)).toArray)
      aggregate(
        sequence(lit(1), size(col("embedding"))), lit(0.0),
        (acc, j) => acc + element_at(signs, j) *
          element_at(col("embedding"), j).cast("double"))
        .as(s"p$i")
    }
    Tables.embeddings(spark, dir)
      .select((col("vec_id") +: projCols): _*)
      // pin before the presentation sort: 8 sign-projection folds per
      // vector would otherwise run twice (range-sampler, guide §2.4)
      .transform(d => graft.ops.GlobalOrder.pinnedSort(d, col("vec_id")))
  }

  /** IVF coarse-quantizer parameters: a FIXED learned cell count (the
    * broadcast stays k × dim doubles no matter the corpus size, and the
    * assignment pass stays O(N · k), never O(N²/stride)), two Lloyd's
    * iterations, and a 2-cell probe width for recall. At 100 TB these
    * are config knobs (k ≈ √N is the classic choice); what must NOT
    * happen is k growing linearly with N — that was the round-2
    * stride-sampling defect this replaces. */
  val IvfCells  = 8
  val IvfIters  = 2
  val IvfProbe  = 2

  /**
   * IVF ANN with a LEARNED coarse quantizer: [[KMeans.fit]] centroids
   * (deterministic init + decimal-exact updates, so the whole index is
   * DuckDB-replayable) partition the corpus by nearest-centroid
   * assignment; each query probes its `nprobe` nearest cells and ranks
   * candidates by exact cosine. Assignment is centroid-literal
   * arithmetic — no join, no shuffle; the only exchange is the in-cell
   * candidate equi-join on the cell id.
   */
  /**
   * Cluster-balanced deterministic sample: assign every embedding to
   * its nearest learned centroid (the q52 coarse quantizer — same
   * deterministic KMeans, so the oracle replays the assignment), then
   * keep at most `cap` vectors per cluster in md5-hash order — the
   * topic-balancing subset constructor (SemDeDup/DoReMi-style
   * curation: dominant clusters downsample to the cap, rare clusters
   * survive whole, and the per-cluster totals ride along so the
   * consumer knows each cluster's sampling rate).
   *
   * Determinism: the kept set is a pure function of (vec_id, corpus) —
   * md5 order, never RNG — so retries, replays and the DuckDB oracle
   * all agree. Scale: assignment is centroid-literal arithmetic (no
   * join, no shuffle); the cap is the rank-emitting bounded-heap
   * operator (≤ cap rows per cluster per map partition cross the
   * wire, never a per-cluster sort); totals are a `cells`-row
   * broadcast. One fact-scale exchange total.
   */
  def clusterBalancedSample(spark: SparkSession, dir: String, cap: Int = 32,
      cells: Int = IvfCells, iters: Int = IvfIters): DataFrame = {
    val model = KMeans.fit(spark, dir, cells, iters)
    val emb = Tables.embeddings(spark, dir)
    val distArr = array(model.centroids.map { case (cid, c) =>
      struct(KMeans.sqDist(col("embedding"), c).as("d"), lit(cid).as("cid"))
    }: _*)
    val assigned = emb
      .withColumn("cell", sort_array(distArr)(0)("cid"))
      .select(col("vec_id"), col("cell"),
        md5(concat(lit("bal|"), col("vec_id"))).as("h"))
    val totals = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_cell"))
    graft.plans.TopK.perKeyWithRank(assigned,
        Seq("cell"), Seq(("h", false), ("vec_id", false)), cap, "rnk")
      .join(broadcast(totals), Seq("cell"))
      .select(col("cell").cast("long").as("cell"), col("rnk"), col("vec_id"),
        col("h"), col("n_cell"))
      .orderBy(col("cell"), col("rnk"))
  }

  /**
   * IVF cell-balance audit — the go/no-go check before making the cell
   * id a STORAGE PARTITION KEY (the q160 deployment shape): probe
   * pruning only pays if cells are near-even, and a hot cell turns
   * every probe that touches it into a scan of a constant fraction of
   * the corpus. Per cell: vector count, corpus share in exact ppm, and
   * the load relative to a perfectly even spread
   * (`n_vectors·n_cells/N`, ppm — 10⁶ = exactly even; the MAX of this
   * column is the skew factor a capacity plan multiplies by).
   *
   * Scale: assignment is the same row-local centroid-literal argmin as
   * every IVF path; ONE cell-cardinality aggregate; totals broadcast.
   */
  def ivfCellBalance(spark: SparkSession, dir: String,
      cells: Int = IvfCells, iters: Int = IvfIters): DataFrame = {
    val model = KMeans.fit(spark, dir, cells, iters)
    val emb = Tables.embeddings(spark, dir)
    val distArr = array(model.centroids.map { case (cid, c) =>
      struct(KMeans.sqDist(col("embedding"), c).as("d"), lit(cid).as("cid"))
    }: _*)
    val sz = emb
      .withColumn("cell", sort_array(distArr)(0)("cid").cast("long"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
    val tot = sz.agg(sum(col("n_vectors")).as("n"),
      count(lit(1)).as("n_cells"))
    sz.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vectors"),
        expr("(1000000 * n_vectors) div n").as("share_ppm"),
        expr("(1000000 * n_vectors * n_cells) div n").as("load_vs_even_ppm"))
      .orderBy(col("cell"))
  }

  def ivfAnn(spark: SparkSession, dir: String, k: Int = 5, cells: Int = IvfCells,
      iters: Int = IvfIters, nprobe: Int = IvfProbe): DataFrame = {
    val model = KMeans.fit(spark, dir, cells, iters)
    val emb = Tables.embeddings(spark, dir)
      .withColumn("n2", dot_d(col("embedding"), col("embedding")))
    // per-vector (distance, cid) structs against the centroid literals;
    // sort_array's lexicographic (d, cid) order IS the deterministic
    // nearest-centroid ranking with ties broken on cid
    val distArr = array(model.centroids.map { case (cid, c) =>
      struct(KMeans.sqDist(col("embedding"), c).as("d"), lit(cid).as("cid"))
    }: _*)
    val ranked = emb.withColumn("pr", slice(sort_array(distArr), 1, nprobe))
    val assigned = ranked
      .select(col("vec_id"), col("embedding"), col("n2"),
        col("pr")(0)("cid").as("cell"))
    // BOUNDED query panel (round-17, the sf10 second-decade fix): the
    // rest of the ANN family already caps its audit queries at
    // MaxBruteQueries; q52 alone let the panel scale WITH the corpus,
    // making its serve cost (#queries × nprobe × cell occupancy)
    // quadratic in N — measured 40× per 10× at sf1→sf10. An ANN
    // index serves a per-request workload; benching it with an
    // unbounded self-join panel measures a different (quadratic)
    // operator. With the cap, serve cost is linear in N through cell
    // occupancy alone.
    val probes = ranked
      .filter(pmod(col("vec_id"), lit(20)) === 0 &&
        col("vec_id") < lit(20L * Similarity.MaxBruteQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("n2").as("q_n2"),
        explode(expr("transform(pr, x -> x.cid)")).as("cell"))
    probes.join(assigned
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
          col("n2").as("n_n2"), col("cell")), Seq("cell"))
      .filter(col("q_id") =!= col("neighbor_id"))
      .withColumn("sim",
        dot_d(col("q_emb"), col("n_emb")) / (sqrt(col("q_n2")) * sqrt(col("n_n2"))))
      // rank-emitting bounded-heap top-k (see Similarity.cosineTopK):
      // in-cell candidates never make the trip to per-query reducers
      .transform(j => graft.plans.TopK.perKeyWithRank(j,
        Seq("q_id"), Seq(("sim", true), ("neighbor_id", false)), k, "rnk"))
      .select(col("q_id"), col("rnk"), col("neighbor_id"), col("sim"),
        col("cell").cast("long").as("cell"))
      .orderBy(col("q_id"), col("rnk"))
  }
}
