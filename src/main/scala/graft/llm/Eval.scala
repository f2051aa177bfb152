package graft.llm

import graft.model.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Classifier-evaluation harness (q217): exact ranking metrics for the
 * heuristic scores the curation stack produces — does a cheap signal
 * actually separate the classes it claims to?
 */
object Eval {

  /**
   * Exact AUC (Mann–Whitney U) of a per-document score as a binary
   * classifier, demonstrated on the stopword-rate score predicting
   * `lang = 'en'` (the q37/q200 stopword lexicon IS an English
   * detector; this measures how good). AUC handles ties by the
   * standard half-credit convention:
   * AUC = (#concordant + #tied/2) / (n_pos·n_neg), computed ENTIRELY
   * in integers — `auc_ppm = (10⁶·(2·conc + tied)) div (2·n_pos·n_neg)`
   * — because a per-pair float average cannot hash-match cross-engine,
   * one integer division can (the q164/q168 fixed-point discipline).
   *
   * Scale shape: never the O(N²) pair enumeration. Scores collapse to
   * a DISTINCT-SCORE table (one hash aggregate; integer-ppm scores
   * bound it at ≤ 10⁶ rows regardless of corpus size) carrying
   * (n_pos, n_neg) per score; concordant pairs are
   * Σ_s n_pos(s) · [negatives strictly below s], with the running
   * negative count from [[graft.ops.GlobalOrder.groupedRankAndPrefix]]
   * with `keys = Nil` — the two-phase distributed prefix sum, no
   * single-task window. One group-less aggregate folds the per-score
   * products into the final single-row report: (n_pos, n_neg,
   * n_concordant, n_tied, auc_ppm).
   */
  def qualityAuc(spark: SparkSession, dir: String): DataFrame =
    qualityAucOf(Tables.documents(spark, dir))

  /** The shared (doc_id, pos, score) projection all the eval metrics
    * grade: stopword-rate in integer ppm vs the `lang = 'en'` label.
    * `keep` carries extra grouping columns through (q228's `source`).
    * `private[llm]` so q230's quality×duplication cross-tab scores
    * documents with the ONE shared definition. */
  private[llm] def scoredDocs(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val kept = keep.map(col)
    docs.select(
        (col("doc_id") +: kept) ++ Seq(
          split(col("text"), " ").as("ws"),
          (col("lang") === "en").as("pos")): _*)
      .select(
        (col("doc_id") +: kept) ++ Seq(col("pos"),
          size(col("ws")).cast("long").as("n_tokens"),
          size(expr("filter(ws, w -> w = 'the' OR w = 'a')"))
            .cast("long").as("n_stop")): _*)
      .filter(col("n_tokens") > 0)
      .withColumn("score", expr("(1000000 * n_stop) div n_tokens"))
  }

  private[llm] def qualityAucOf(docs: DataFrame): DataFrame = {
    val scored = scoredDocs(docs)
    // pinned: the rank operator's range sampler is a second full
    // execution of its input's lineage (guide §2.4) — unpinned, the
    // corpus scan + scoring + aggregate would run twice
    val perScore = graft.ops.GlobalOrder.pin(scored.groupBy(col("score"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("nn")))
    val ranked = graft.ops.GlobalOrder.groupedRankAndPrefix(
      perScore, keys = Nil, order = Seq(col("score")),
      values = Seq((col("nn").cast("long"), "g_prefix")))
    ranked.agg(
        sum(col("np")).as("n_pos"),
        sum(col("nn")).as("n_neg"),
        // g_prefix is the EXCLUSIVE running nn: negatives strictly
        // below this score — exactly the concordant count per positive
        sum(col("np") * col("g_prefix")).as("n_concordant"),
        sum(col("np") * col("nn")).as("n_tied"))
      .withColumn("auc_ppm",
        when(col("n_pos") * col("n_neg") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            "(1000000 * (2 * n_concordant + n_tied)) div (2 * n_pos * n_neg)")))
      .select(col("n_pos"), col("n_neg"), col("n_concordant"),
        col("n_tied"), col("auc_ppm"))
  }

  /**
   * Per-source exact AUC (q228) — the GROUPED twin of [[qualityAuc]]:
   * does the stopword score separate English within EACH feed, or is
   * the global AUC carried by a few easy sources? The audit a mix
   * planner reads before applying one global quality threshold across
   * heterogeneous feeds (a source where the signal is near-random
   * needs its own threshold or a different signal).
   *
   * Same fixed-point Mann–Whitney discipline as q217, grouped: the
   * distinct-score table now keys on (source, score) — still bounded
   * at sources × 10⁶ rows — and the exclusive running negative count
   * comes from [[graft.ops.GlobalOrder.groupedRankAndPrefix]]'s
   * range-partitioned prefix (never a `PARTITION BY source` window,
   * whose parallelism caps at source cardinality). One
   * source-cardinality fold finishes; ties get half credit; every
   * division is a single integer op, so the oracle hash-matches.
   */
  def sourceAuc(spark: SparkSession, dir: String): DataFrame = {
    // pinned for the same reason as qualityAucOf: the grouped rank's
    // range sampler would re-run the corpus scoring pass
    val perScore = graft.ops.GlobalOrder.pin(
      scoredDocs(Tables.documents(spark, dir), keep = Seq("source"))
        .groupBy(col("source"), col("score"))
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
          sum(when(col("pos"), 0L).otherwise(1L)).as("nn")))
    val ranked = graft.ops.GlobalOrder.groupedRankAndPrefix(
      perScore, keys = Seq(col("source")), order = Seq(col("score")),
      values = Seq((col("nn"), "neg_prefix")))
    ranked.groupBy(col("source")).agg(
        sum(col("np")).as("n_pos"),
        sum(col("nn")).as("n_neg"),
        sum(col("np") * col("neg_prefix")).as("n_concordant"),
        sum(col("np") * col("nn")).as("n_tied"))
      .withColumn("auc_ppm",
        when(col("n_pos") * col("n_neg") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            "(1000000 * (2 * n_concordant + n_tied)) div (2 * n_pos * n_neg)")))
      .select(col("source"), col("n_pos"), col("n_neg"),
        col("n_concordant"), col("n_tied"), col("auc_ppm"))
      .orderBy("source")
  }

  /**
   * Calibration reliability table (q220) — the companion report to
   * [[qualityAuc]]: documents ranked by the score and cut into
   * equal-count deciles (ANSI-ntile semantics under the total order
   * (score, doc_id)), each reporting its exact positive rate and mean
   * score in integer ppm. AUC grades the RANKING; this table shows
   * WHERE the ranking is (mis)calibrated — a well-behaved score has
   * pos_ppm rising monotonically across deciles, and a threshold
   * picked from it is an exact operating point.
   *
   * Scale: the decile comes from
   * [[graft.ops.GlobalOrder.groupedRankAndPrefix]]'s distributed rank
   * (`keys = Nil`) +
   * [[graft.ops.GlobalOrder.ntileFromRank]] (bit-equal to `NTILE(n)
   * OVER (ORDER BY …)`, the q134/q188 discipline) — a literal ntile
   * window would move every row into ONE task. One 10-row aggregate
   * follows; all ppm values are single integer divisions.
   */
  def scoreCalibration(spark: SparkSession, dir: String,
      buckets: Int = 10): DataFrame = {
    // pinned: the scored projection (split + stopword filter over every
    // document) is expensive relative to its narrow output; unpinned,
    // the range sampler re-runs it wholesale (guide §2.4)
    val ranked = graft.ops.GlobalOrder.groupedRankAndPrefix(
      graft.ops.GlobalOrder.pin(scoredDocs(Tables.documents(spark, dir))),
      keys = Nil, order = Seq(col("score"), col("doc_id")))
    ranked
      .withColumn("decile", graft.ops.GlobalOrder.ntileFromRank(
        col("g_rank"), col("g_total_rows"), buckets))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("score")).as("score_sum"),
        min(col("score")).as("score_lo"),
        max(col("score")).as("score_hi"))
      .withColumn("pos_ppm", expr("(1000000 * n_pos) div n_docs"))
      .withColumn("mean_score", expr("score_sum div n_docs"))
      .select(col("decile"), col("n_docs"), col("n_pos"), col("pos_ppm"),
        col("score_lo"), col("score_hi"), col("mean_score"))
      .orderBy(col("decile"))
  }

  /**
   * Precision/recall THRESHOLD SWEEP (q232) over the shared quality
   * score: for every observed score s — the operating point "keep
   * documents scoring ≥ s" — the exact confusion counts and
   * precision/recall/F1 in integer ppm. The AUC (q217) summarizes the
   * ranking in one number; THIS is the curve a curation stack reads
   * to actually pick the threshold.
   *
   * Scale: one corpus scan folds to the per-score table (score is an
   * integer ppm, so ≤ 10^6+1 rows by construction — the bounded-domain
   * exemption the count-min/bloom sketches use); both cumulative sides
   * come from the two-phase distributed prefix
   * ([[graft.ops.GlobalOrder.groupedRankAndPrefix]] — never a one-task
   * window); class totals broadcast as the single-row scalar pattern.
   * All-integer ppm divisions, bit-replayable. tp+fp ≥ 1 always (the
   * threshold is an observed score, so at least its own docs are
   * kept); recall guards the no-positives corpus explicitly because
   * ANSI `div` would throw where DuckDB NULLIFs.
   */
  def prCurve(spark: SparkSession, dir: String): DataFrame =
    prCurveOf(Tables.documents(spark, dir))

  /** The UNIFIED per-score count table behind both threshold curves —
    * (score, np, nn, nd, nt): the confusion inputs (q232) and the
    * yield inputs (q233) per observed integer-ppm score. Bounded
    * domain (≤ 10⁶ rows). All four counts merge by SUMMATION, so this
    * is also the streamed artifact's partial shape
    * ([[graft.streaming.ArtifactMaintenance.perScoreArtifact]]): a
    * live corpus keeps its threshold dashboards fresh by folding
    * batch-sized partials, never re-scoring the corpus. */
  private[graft] def perScoreCounts(docs: DataFrame): DataFrame =
    scoredDocs(docs).groupBy(col("score"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("nn"),
        count(lit(1)).as("nd"), sum(col("n_tokens")).as("nt"))

  private[llm] def prCurveOf(docs: DataFrame): DataFrame =
    // pinned HERE, not in prCurveFrom: the batch path's per-score table
    // is a corpus aggregate consumed three times downstream (rank
    // sampler + rank shuffle + the totals aggregate); the streamed
    // serve path hands prCurveFrom an already-materialized artifact,
    // which must not pay a second pin
    prCurveFrom(graft.ops.GlobalOrder.pin(perScoreCounts(docs)))

  /** [[prCurve]] computed from an ALREADY-BUILT per-score table (the
    * batch aggregate or its streamed twin). */
  private[graft] def prCurveFrom(perScore: DataFrame): DataFrame = {
    // BOTH cumulative counts ride ONE rank pass: two single-value
    // passes would pay the range exchange + segment census + offset
    // pass twice for the same (score) order — the global
    // (keys = Nil) form takes any number of value columns (r18; guide
    // §2.4 "remove shuffles outright")
    val withBoth = graft.ops.GlobalOrder.groupedRankAndPrefix(
      perScore, keys = Nil, order = Seq(col("score")),
      values = Seq((col("nn"), "cum_nn_below"), (col("np"), "cum_np_below")))
    val totals = perScore.agg(
      sum(col("np")).as("t_pos"), sum(col("nn")).as("t_neg"))
    withBoth.crossJoin(broadcast(totals))
      .select(col("score"),
        (coalesce(col("t_pos"), lit(0L)) - col("cum_np_below")).as("tp"),
        (coalesce(col("t_neg"), lit(0L)) - col("cum_nn_below")).as("fp"),
        col("cum_np_below").as("fn"))
      .withColumn("precision_ppm", expr("(1000000 * tp) div (tp + fp)"))
      .withColumn("recall_ppm",
        when(col("tp") + col("fn") === 0L, lit(null).cast("long"))
          .otherwise(expr("(1000000 * tp) div (tp + fn)")))
      .withColumn("f1_ppm", expr("(2000000 * tp) div (2 * tp + fp + fn)"))
      .orderBy(col("score"))
  }

  /**
   * Token-YIELD curve vs quality threshold (q233) — [[prCurve]]'s
   * budget-side twin: for every observed score s, how many documents
   * and tokens survive "keep score ≥ s", in counts and corpus ppm.
   * Precision/recall says how CLEAN a threshold is; this says how
   * much TRAINING DATA it leaves — the two curves a data-budget
   * decision reads together.
   *
   * Same shape as [[prCurve]]: bounded per-score table, two
   * distributed prefixes, broadcast totals, integer ppm.
   */
  def thresholdYield(spark: SparkSession, dir: String): DataFrame =
    thresholdYieldOf(Tables.documents(spark, dir))

  private[llm] def thresholdYieldOf(docs: DataFrame): DataFrame =
    // pinned for prCurveOf's reason: three downstream consumers of a
    // corpus-scale aggregate; the streamed artifact path stays unpinned
    thresholdYieldFrom(graft.ops.GlobalOrder.pin(perScoreCounts(docs)))

  /** [[thresholdYield]] from an already-built per-score table. */
  private[graft] def thresholdYieldFrom(perScore: DataFrame): DataFrame = {
    // one rank pass for both cumulative counts (the q232 change)
    val d2 = graft.ops.GlobalOrder.groupedRankAndPrefix(
      perScore, keys = Nil, order = Seq(col("score")),
      values = Seq((col("nd"), "cum_nd_below"), (col("nt"), "cum_nt_below")))
    val totals = perScore.agg(
      sum(col("nd")).as("t_docs"), sum(col("nt")).as("t_tokens"))
    d2.crossJoin(broadcast(totals))
      .select(col("score"),
        (col("t_docs") - col("cum_nd_below")).as("kept_docs"),
        (col("t_tokens") - col("cum_nt_below")).as("kept_tokens"),
        col("t_docs"), col("t_tokens"))
      .withColumn("doc_ppm", expr("(1000000 * kept_docs) div t_docs"))
      .withColumn("token_ppm", expr("(1000000 * kept_tokens) div t_tokens"))
      .select(col("score"), col("kept_docs"), col("kept_tokens"),
        col("doc_ppm"), col("token_ppm"))
      .orderBy(col("score"))
  }
}
