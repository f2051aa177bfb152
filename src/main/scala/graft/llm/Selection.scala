package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables

/**
 * Importance-based data selection (DSIR-style): score each candidate
 * document by how much its hashed n-gram distribution resembles a
 * designated high-quality target slice versus the raw pool, then keep
 * the top-k. This is the published importance-resampling recipe (Xie
 * et al. 2023, "Data Selection for Language Models via Importance
 * Resampling"): both distributions are modelled over a FIXED hashed
 * feature space (word bigrams → B buckets), so the model size is
 * constant in corpus size and the per-document score is a sum of
 * per-bucket importance weights.
 *
 * Engine discipline:
 *
 *  - **Log-free fixed-point ratios.** The textbook weight is
 *    `log p_t(b) − log p_r(b)` summed over a document's grams.
 *    `Math.log` and other engines' `log` disagree in the final ulp
 *    (see [[TextAnalysis.tfIdf]]), so the oracle could never
 *    hash-match a logarithmic score. Instead each bucket carries the
 *    integer weight `w(b) = (SCALE·(n_t(b)+1)) div (n_r(b)+B)` — an
 *    add-one-smoothed likelihood ratio in fixed point — and the
 *    document score is the exact Long sum of its gram weights:
 *    order-independent, overflow-safe (SCALE·n_grams·max-ratio ≪
 *    2^63), and replayable verbatim in any SQL engine. Ranking by a
 *    summed monotone surrogate of the ratio preserves the selection
 *    *shape* (target-like docs rise); a deployment wanting the exact
 *    log-ratio estimator changes one expression.
 *  - **Hashing.** Bucket = first 8 md5 hex digits of the bigram,
 *    mod B — the repo's cross-engine hash (cf. `Dedup.simhash`).
 *    No RNG anywhere; reruns are bit-identical.
 *
 * Scale shape (100 TB): one scan of `documents` produces grams with a
 * row-local target flag; ONE hash aggregate of B≈4k buckets builds
 * both distributions in a single pass (conditional sums — the target
 * and raw counts never require separate scans); the resulting weight
 * table is constant-size and **broadcast**, so scoring is a map-side
 * join over the candidate grams followed by one doc_id aggregate.
 * The weight table is a STORED ARTIFACT ([[ModelCache.memoIndex]],
 * tag `dsir-wtab`): in deployment the target-vs-raw distribution fit
 * is trained offline once per corpus, so the serve path makes ONE
 * pass over the candidate grams — without the memo the corpus-scale
 * explode+md5+pmod pipeline ran twice per serve (it fed both the
 * weight aggregate and the scoring join). Build cost lands in the
 * bench build ledger like the LSH band tables and PQ codebooks.
 * Serve total: one shuffle over gram rows (doc agg; the weight join
 * is map-side against the ≤B-row pin). The final top-k is
 * `TakeOrderedAndProject` (never a global sort).
 *
 * Reference tie-in: the reference pipeline ships every record it
 * polls (hs_contacts.py:85-96 — no selection surface); this operator
 * is part of the curation tier the survey mandates on top.
 */
object Selection {

  /**
   * Top-`k` non-target documents by target-likeness, with their gram
   * count and fixed-point importance score.
   *
   * @param targetSource the `source` value treated as the target
   *                     distribution (the curated slice candidates
   *                     are scored against)
   * @param buckets      hashed feature-space size B
   * @param scale        fixed-point multiplier for the ratio weights
   */
  def dsirSelect(
      spark: SparkSession,
      dir: String,
      targetSource: String = "src0",
      buckets: Int = 4096,
      scale: Long = 1000000L,
      k: Int = 100): DataFrame = {
    val corpus = Tables.documents(spark, dir)
    val grams = dsirGrams(corpus, buckets)
    // the trained importance model — built once per corpus (offline in
    // deployment), pinned at ≤B rows, then broadcast into every serve
    val wtab = ModelCache.memoIndex(corpus,
      s"dsir-wtab|$targetSource|$buckets|$scale") {
      graft.ops.GlobalOrder.pin(
        dsirWeightsFrom(dsirBucketCounts(corpus, targetSource, buckets),
          buckets, scale))
    }
    grams
      .filter(col("source") =!= targetSource)
      .join(broadcast(wtab), Seq("b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"), sum(col("w")).as("w_sum"))
      .orderBy(col("w_sum").desc, col("doc_id"))
      .limit(k)
  }

  /** The row-local (doc_id, source, bucket) bigram-hash projection —
    * word bigrams hashed to the fixed feature space. ONE definition
    * shared by the weight-table build and the scoring pass. */
  private[graft] def dsirGrams(docs: DataFrame, buckets: Int): DataFrame =
    docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), explode(Grams.joined("w", 2)).as("g"))
      .select(col("doc_id"), col("source"),
        pmod(conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)).as("b"))

  /** The MERGEABLE half of the DSIR model: per-bucket target/raw
    * conditional counts — the target flag rides along so ONE aggregate
    * builds both distributions. Counts merge by summation, so this is
    * also the streamed artifact's partial shape
    * ([[graft.streaming.ArtifactMaintenance.dsirCountsArtifact]]): a
    * live corpus keeps its importance model fresh at batch-sized cost. */
  private[graft] def dsirBucketCounts(docs: DataFrame, targetSource: String,
      buckets: Int): DataFrame =
    dsirGrams(docs, buckets)
      .groupBy(col("b"))
      .agg(
        sum(when(col("source") === targetSource, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("source") =!= targetSource, 1L).otherwise(0L)).as("n_r"))

  /** The weight table derived from an ALREADY-BUILT count table (the
    * batch aggregate or its streamed twin): add-one-smoothed fixed-point
    * likelihood ratios — pure arithmetic over ≤`buckets` rows. */
  private[graft] def dsirWeightsFrom(counts: DataFrame, buckets: Int,
      scale: Long): DataFrame =
    counts.select(col("b"),
      expr(s"($scale * (n_t + 1)) div (n_r + $buckets)").as("w"))
}
