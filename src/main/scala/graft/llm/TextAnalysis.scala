package graft.llm

import graft.model.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators over `documents`: language ID, quality
 * scoring, token counting, fingerprinting (BASELINE.json north-star
 * surface).
 *
 * All expressions are engine-portable arithmetic/string ops (no
 * engine-private hashing, no float functions with unspecified rounding),
 * so each query here carries a DuckDB oracle. Everything is a single
 * narrow projection or one hash-agg — embarrassingly parallel at 100 TB.
 */
object TextAnalysis {

  /** The deterministic eval-holdout modulus: `doc_id % EvalHoldoutMod
    * == 0` is the fixture's stand-in eval slice. ONE definition —
    * [[decontaminate]]'s eval side and
    * [[graft.llm.Pipeline.clusterDecontaminate]]'s transitive-expansion
    * filter must agree on it, or the cluster exclusion silently drifts
    * from the direct-hit set (round-11 verdict #2). */
  val EvalHoldoutMod: Int = 50

  /** Tiny per-language marker lexicons for the n-gram/stopword
    * language-ID heuristic. */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "value", "fast"),
    "de" -> Seq("der", "die", "und", "nicht"),
    "es" -> Seq("el", "la", "que", "de"),
    "fr" -> Seq("le", "la", "et", "est"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5"))

  private def tokens: Column = split(col("text"), " ")

  private def markerHits(words: Seq[String]): Column =
    size(filter(tokens, t => words.map(w => t === lit(w)).reduce(_ || _)))
      .cast("long")

  /**
   * Language ID: score each candidate language by marker-token hits per
   * token; predict the argmax (ties broken by language code order).
   */
  def langId(spark: SparkSession, dir: String): DataFrame =
    // pinnedSort guards the presentation sort only — derived consumers
    // (q142's confusion matrix) read [[langIdScored]] and skip both the
    // pin and the sort (the chunkSlots/chunkDocuments split)
    graft.ops.GlobalOrder.pinnedSort(langIdScored(spark, dir), col("doc_id"))

  /** The unsorted per-document prediction table — q37 presents it
    * sorted; q142 aggregates it as-is. */
  private[graft] def langIdScored(spark: SparkSession, dir: String): DataFrame = {
    val scored = Markers.foldLeft(Tables.documents(spark, dir)) {
      case (df, (code, words)) => df.withColumn(s"hits_$code", markerHits(words))
    }
    // argmax as a fixed-precedence CASE chain (ties → earlier language
    // wins) — mirrors 1:1 into the oracle's CASE WHEN.
    val codes = Markers.map(_._1)
    val pred = codes.init.zipWithIndex.foldLeft(when(lit(false), lit(""))) {
      case (acc, (code, i)) =>
        val rest = codes.drop(i + 1)
        val isMax = rest.map(r => col(s"hits_$code") >= col(s"hits_$r")).reduce(_ && _)
        acc.when(isMax, lit(code))
    }.otherwise(lit(codes.last))
    val outCols = Seq(col("doc_id"), col("lang"), col("pred")) ++
      Markers.map { case (c, _) => col(s"hits_$c") }
    scored
      .withColumn("pred", pred)
      .select(outCols: _*)
  }

  /**
   * Quality scoring: token count, average word length, stopword ratio,
   * and a weighted quality score. Pure int→double divisions in a fixed
   * expression order (deterministic IEEE in any engine).
   */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and")
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(tokens).cast("long"))
      .withColumn("n_stop",
        size(filter(tokens, t => stop.map(w => t === lit(w)).reduce(_ || _)))
          .cast("long"))
      .withColumn("avg_word_len",
        (col("n_chars") - (col("n_tokens") - lit(1L))).cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("quality",
        col("stop_ratio") * lit(0.5) +
          (col("n_tokens").cast("double") / lit(200.0)) * lit(0.3) +
          (col("avg_word_len") / lit(10.0)) * lit(0.2))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"),
        col("avg_word_len"), col("stop_ratio"), col("quality"))
      // pin before the presentation sort (map-only; see langId)
      .transform(d => graft.ops.GlobalOrder.pinnedSort(d, col("doc_id")))
  }

  /**
   * Token counting: whitespace tokens plus a BPE-ish sub-token estimate
   * via regexp runs of letters / digits / other symbols.
   */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(tokens).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).cast("long").as("alpha_runs"),
        regexp_count(col("text"), lit("[0-9]+")).cast("long").as("digit_runs"),
        col("n_chars"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("ws_tokens"))
      // pin before the presentation sort (map-only; see langId)
      .transform(d => graft.ops.GlobalOrder.pinnedSort(d, col("doc_id")))

  /**
   * Document fingerprint: polynomial rolling hash of the character
   * stream, `h = (h*31 + code(c)) mod 1e9+7`, folded left-to-right —
   * the classic content fingerprint, replayable in any engine with a
   * sequential list fold.
   */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // split('') yields the char array in one O(n) pass; the earlier
      // per-index substring(text, i, 1) formulation was O(i) per char
      // (UTF8String seeks from the start), O(n²) per document —
      // measured 3.2 s → 0.4 s at sf0.1. Same codes, same fold, same
      // modulus: the oracle replays unchanged.
      .withColumn("fp", aggregate(
        expr("transform(split(text, ''), c -> cast(ascii(c) as bigint))"),
        lit(0L), (acc, c) => pmod(acc * 31L + c, lit(1000000007L))))
      .select(col("doc_id"), col("fp"), col("n_chars"))
      // pin before the presentation sort: the O(n) char fold would
      // otherwise run twice (range-sampler pass, guide §2.4)
      .transform(d => graft.ops.GlobalOrder.pinnedSort(d, col("doc_id")))

  /**
   * Document chunking for training pipelines: 32-token windows with
   * stride 24 (8-token overlap). Pure array arithmetic — explode over
   * the chunk index, slice the token array. One narrow shuffle-free
   * projection at any scale.
   */
  /** The unordered chunk slots — [[chunkDocuments]] presents them
    * sorted; derived consumers (the q143 dedup hashes, the q189
    * adjacent-pair generator) read this form and skip the range sort. */
  private[llm] def chunkSlots(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("w", tokens)
      .withColumn("ci", explode(expr("sequence(0, (size(w)-1) div 24)")))
      .withColumn("start", col("ci") * 24 + 1)
      .select(
        col("doc_id"),
        col("ci").cast("long").as("chunk_id"),
        concat_ws(" ", slice(col("w"), col("start"), lit(32))).as("chunk_text"),
        least(size(col("w")) - col("start") + 1, lit(32)).cast("long").as("chunk_tokens"))

  def chunkDocuments(spark: SparkSession, dir: String): DataFrame =
    // pin before the presentation sort: the chunk explode + slices
    // would otherwise run twice (range-sampler pass, guide §2.4)
    graft.ops.GlobalOrder.pinnedSort(chunkSlots(spark, dir),
      col("doc_id"), col("chunk_id"))

  /**
   * Adjacent-chunk pair generation: (chunk_i, chunk_{i+1}) positives
   * for next-segment-prediction / contrastive objectives (the BERT NSP
   * shape) — every consecutive chunk pair within a document, with both
   * texts and their token counts. The window partitions by doc_id — a
   * corpus-cardinality key, so parallelism scales with documents (the
   * few-key window ban does not apply); docs with one chunk emit
   * nothing.
   */
  def chunkPairs(spark: SparkSession, dir: String): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("chunk_id"))
    chunkSlots(spark, dir)
      .withColumn("text_b", lead(col("chunk_text"), 1).over(byDoc))
      .withColumn("tokens_b", lead(col("chunk_tokens"), 1).over(byDoc))
      .filter(col("text_b").isNotNull)
      .select(col("doc_id"), col("chunk_id").as("pair_id"),
        col("chunk_text").as("text_a"), col("chunk_tokens").as("tokens_a"),
        col("text_b"), col("tokens_b"))
      .orderBy("doc_id", "pair_id")
  }

  /** [[chunkDocuments]]'s chunk slots reduced to (doc_id, source,
    * md5(chunk_text)) — no presentation sort, no chunk text past the
    * hash: the derived-consumer form (q143's dedup) where the q54
    * orderBy would be a full-table range sort paid for nothing. */
  private[llm] def chunkedHashes(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("w", tokens)
      .withColumn("ci", explode(expr("sequence(0, (size(w)-1) div 24)")))
      .withColumn("start", col("ci") * 24 + 1)
      .select(
        col("doc_id"), col("source"),
        md5(concat_ws(" ", slice(col("w"), col("start"), lit(32)))).as("h"))

  /** Corpus vocabulary: term frequency + document frequency, top 50. */
  def vocabulary(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens).as("tok"))
      .groupBy(col("tok"))
      .agg(
        count(lit(1)).as("tf"),
        countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("tok"))
      .limit(50)

  /**
   * TF-IDF: top-3 scoring terms per document, with a RATIONAL idf —
   * `score = tf * (N / df)` — instead of the textbook `ln(N/df)`:
   * `java.lang.Math.log` and glibc's `log` disagree in the final ulp,
   * so a logarithmic score cannot be hash-compared across engines. The
   * rational form is exact IEEE arithmetic (bit-identical anywhere) and
   * induces the same "rare terms score higher" ordering; a production
   * deployment that wants the log curve changes one expression.
   */
  def tfIdf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"), explode(tokens).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = toks.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok"))
    // df is vocabulary-sized (grows with the corpus) — unhinted so AQE
    // falls back to a shuffle join once it outgrows broadcast range;
    // n is a single-row scalar, always broadcast
    tf.join(df, "tok")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * (col("n").cast("double") / col("df")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("tok"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /**
   * Bigram language-model statistics: corpus-wide bigram counts and the
   * conditional probability P(w2 | w1 starts a bigram) as the single
   * deterministic division of two exact integer counts (same rational
   * discipline as [[tfIdf]] — no logs). One explode to in-doc bigrams,
   * two grouped passes; at 100 TB both aggregations are plain hash
   * shuffles on narrow string keys with map-side partials.
   */
  def bigramStats(spark: SparkSession, dir: String, minCount: Long = 20L): DataFrame = {
    val pairs = Tables.documents(spark, dir)
      // materialize the token array ONCE — element_at over a repeated
      // split() re-tokenizes per lambda element (no subexpression
      // elimination inside higher-order functions)
      .select(split(col("text"), " ").as("ws"))
      .select(explode(Grams.pairs("ws", "w1", "w2")).as("b"))
      .select(col("b.w1"), col("b.w2"))
    val counts = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_bigram"))
    val firsts = counts.groupBy(col("w1")).agg(sum(col("n_bigram")).as("n_first"))
    counts.join(firsts, "w1")
      .filter(col("n_bigram") >= minCount)
      .select(col("w1"), col("w2"), col("n_bigram"), col("n_first"),
        (col("n_bigram").cast("double") / col("n_first")).as("p"))
      .orderBy(col("w1"), col("w2"))
  }

  /**
   * BPE-style pre-tokenization counts: tokens per document under the
   * GPT-2-ish pre-tokenizer regex — runs of letters, runs of digits,
   * runs of other non-space characters, each optionally absorbing one
   * leading space — next to the whitespace count. The ratio
   * chars/token is the sequence-length predictor a data-mixing
   * decision uses before any real BPE merge pass. The regex sticks to
   * a dialect-neutral subset (character classes + alternation only) so
   * Java regex and RE2 agree match for match; counts are exact
   * integers, the ratio a single division.
   */
  def bpeTokenStats(spark: SparkSession, dir: String): DataFrame = {
    val pat = " ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        size(expr(s"regexp_extract_all(text, '$pat', 0)")).cast("long")
          .as("n_bpe_tokens"))
      // NULLIF guard: Spark returns NULL for double/0 where DuckDB
      // returns inf — an empty/whitespace-only doc would split the
      // engines without it (both yield NULL through NULLIF)
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / nullif(col("n_bpe_tokens"), lit(0L)))
      // pin before the presentation sort: the BPE pre-tokenizer regex
      // would otherwise run twice (range-sampler pass, guide §2.4)
      .transform(d => graft.ops.GlobalOrder.pinnedSort(d, col("doc_id")))
  }

  /**
   * Tokenizer FERTILITY per language: BPE-style tokens per whitespace
   * word, as an exact parts-per-million integer — the metric that
   * tells you how much sequence budget each language burns under a
   * given tokenizer (high fertility = the tokenizer fragments that
   * language; the mix planner weighs it against the per-language token
   * budget). Uses the [[bpeTokenStats]] pre-tokenizer regex and the
   * corpus's own `lang` label.
   *
   * Scale shape: row-local regex counting, then ONE aggregate keyed on
   * `lang` (a handful of values — but the inputs are pre-reduced to
   * two integers per row, so the few-key shuffle carries counts, not
   * text, and map-side partial aggregation collapses it to one row
   * per partition per lang). All-integer: the ppm ratio is BIGINT
   * `div`, bit-exact in any engine.
   */
  /** The C4-style blocklist lexicon — a CODE-level constant (stands in
    * for the "dirty words" list; fixture tokens so the audit exercises
    * real hits). One definition, shared by the Spark side and mirrored
    * token-for-token by the oracle. */
  private[llm] val Blocklist: Seq[String] = Seq("slow", "small", "big")

  /**
   * Blocklist removal audit — the C4 "bad words" curation stage
   * (Raffel et al. 2020 drop any document containing a blocklisted
   * term) reported as the per-source DECISION TABLE: documents hit,
   * docs/tokens a drop policy would remove, and the removal budget in
   * exact integer ppm — what a curator reads before turning the rule
   * on (a source losing half its tokens to one list entry is a signal
   * about the list, not the source).
   *
   * Scale: hit counting is a row-local array `filter` over each doc's
   * own token vector (no explode, no join — the q165 ablation shape);
   * ONE hash aggregate to source cardinality. Embarrassingly parallel
   * at 100 TB.
   */
  def blocklistAudit(spark: SparkSession, dir: String): DataFrame = {
    val hits = size(filter(tokens,
      t => Blocklist.map(w => t === lit(w)).reduce(_ || _))).cast("long")
    Tables.documents(spark, dir)
      .select(col("source"), size(tokens).cast("long").as("n_tokens"),
        hits.as("n_hits"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("n_hits") > 0L, 1L).otherwise(0L)).as("n_blocked_docs"),
        sum(when(col("n_hits") > 0L, col("n_tokens")).otherwise(0L))
          .as("n_tokens_lost"),
        sum(col("n_hits")).as("n_hits"))
      .withColumn("blocked_doc_ppm",
        expr("(1000000 * n_blocked_docs) div n_docs"))
      .withColumn("token_loss_ppm",
        expr("(1000000 * n_tokens_lost) div n_tokens"))
      .orderBy(col("source"))
  }

  def tokenFertility(spark: SparkSession, dir: String): DataFrame = {
    val pat = " ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("nw"),
        size(expr(s"regexp_extract_all(text, '$pat', 0)")).cast("long").as("nb"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_words"),
        sum(col("nb")).as("n_bpe_tokens"))
      .withColumn("fertility_ppm",
        expr("(1000000 * n_bpe_tokens) div n_words"))
      .orderBy(col("lang"))
  }

  /**
   * Per-document repetition detection — the quality filter that drops
   * boilerplate/loop-generated text before training: the ratio of
   * DUPLICATE 5-gram slots within each document (1 − distinct/total)
   * plus the hottest single 5-gram's repeat count. High dup_ratio =
   * the document repeats itself; max_repeat pins the offender. The
   * 5-gram explode is row-local (a `transform` over the doc's own
   * token array); the only shuffle keys on (doc_id, md5(gram)) — the
   * 16-byte digest, never 5-gram text (the q143/q144 discipline).
   * Documents under 5 tokens carry no 5-gram, so they emit no row
   * (the oracle mirrors).
   */
  def repetitionScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(Grams.joined("w", 5)).as("g"))
      .groupBy(col("doc_id"), md5(col("g")).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"), count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("max_repeat"))
      .withColumn("dup_ratio",
        lit(1.0) - col("n_distinct").cast("double") / col("n_grams").cast("double"))
      .orderBy(col("doc_id"))

  /**
   * PMI collocation mining: bigrams whose observed frequency beats the
   * independence expectation of their unigrams — the classic
   * collocation score (Church & Hanks 1990), emitted as the RATIO
   * p(xy)/(p(x)p(y)) = n_xy·N1²/(N2·n_x·n_y) rather than its log: the
   * two engines' `ln` differ in the last ulp (the TF-IDF lesson), the
   * ratio is a fixed-order double chain both replay bit-exactly, and
   * the ranking is the same either way (log is monotone).
   *
   * Plan: two hash aggregations (unigrams, bigrams) + a join of
   * bigrams to the two unigram sides; the scalar corpus totals ride in
   * as single-row broadcast joins. Top-200 under a total order
   * (score desc, w1, w2) is a TakeOrderedAndProject.
   */
  def pmiCollocations(spark: SparkSession, dir: String,
      minCount: Long = 10L, limit: Int = 200): DataFrame = {
    val ws = Tables.documents(spark, dir).select(tokens.as("ws"))
    val toks = ws.select(explode(col("ws")).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val totalToks = uni.agg(sum(col("n_w")).as("n1"))
    val pairs = ws
      .select(explode(Grams.pairs("ws", "w1", "w2")).as("b"))
      .select(col("b.w1"), col("b.w2"))
    val bi = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_xy"))
    val totalBi = bi.agg(sum(col("n_xy")).as("n2"))
    bi.filter(col("n_xy") >= minCount)
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_y")), "w2")
      .crossJoin(broadcast(totalToks))   // single-row scalar
      .crossJoin(broadcast(totalBi))     // single-row scalar
      .withColumn("pmi_ratio",
        col("n_xy").cast("double") * col("n1") * col("n1")
          / (col("n2").cast("double") * col("n_x") * col("n_y")))
      .select(col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"),
        col("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
      .limit(limit)
  }

  /**
   * Within-document repetition ratio (the C4-style "most repeated
   * n-gram share" quality signal): per doc, the most frequent bigram's
   * share of all bigram slots — high values flag boilerplate/spam for
   * the training-data filter chain. Ratio of two exact integers; the
   * argmax bigram is tie-broken lexicographically so the output is
   * deterministic.
   */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(Grams.joined("ws", 2)).as("bg"))
    val counts = bigrams.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n"))
    // top bigram via ONE map-side-combinable aggregate instead of the
    // former exchange + sort + two windows: min(struct(-n, bg)) picks
    // the largest count with the lexicographically-smallest bigram on
    // ties — exactly what row_number over (n DESC, bg ASC) selected —
    // and the total rides the same pass (r17 optimization round;
    // guide §2.3 "aggregate before you shuffle": partials collapse
    // per partition, and the plan drops both Window operators)
    counts
      .groupBy(col("doc_id"))
      .agg(
        min(struct((-col("n")).as("neg_n"), col("bg"))).as("top"),
        sum(col("n")).as("total"))
      .select(col("doc_id"), col("top.bg").as("top_bigram"),
        (-col("top.neg_n")).as("top_count"),
        col("total").as("n_bigrams"),
        ((-col("top.neg_n")).cast("double") / col("total")).as("rep_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Corpus stats by language: document counts and length stats. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")

  /**
   * Cross-document repeated passages: every n-token passage occurring
   * in ≥2 distinct documents, with document and occurrence counts —
   * the passage-level dedup primitive (the n-gram-hash approximation
   * of suffix-array training-data dedup à la Lee et al. 2022,
   * "Deduplicating Training Data Makes Language Models Better").
   *
   * Scale: one shuffle keyed on the passage — the group-by is the
   * whole operator; no self-join, no pair explosion. The distinct-doc
   * count is computed as a two-phase aggregate — pre-aggregate by
   * (passage, doc_id), then count groups — rather than
   * `countDistinct`, whose Expand would double every exploded row
   * through the shuffle; the pre-aggregate instead collapses
   * within-document repeats map-side (a doc's passages all sit in one
   * scan partition), so the shuffle carries each (passage, doc) once.
   * The top-`limit` cut is a TakeOrderedAndProject under a TOTAL
   * ordering (n_docs desc, passage), so the kept set is deterministic.
   */
  def repeatedPassages(spark: SparkSession, dir: String,
      n: Int = 5, limit: Int = 100): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens.as("ws"))
      .select(col("doc_id"), explode(Grams.joined("ws", n)).as("passage"))
      .groupBy(col("passage"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col("passage"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("occ")).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("passage"))
      .limit(limit)
  }

  /**
   * Substring-level dedup via ROBUST WINNOWING (Schleimer, Wilkerson,
   * Aiken 2003, "Winnowing: Local Algorithms for Document
   * Fingerprinting" — the MOSS fingerprinting algorithm): per
   * document, hash every `k`-token gram, slide a window of `w`
   * consecutive gram hashes, and keep from each window its MINIMUM
   * hash (ties → the RIGHTMOST position, the "robust" rule that makes
   * the selected set depend only on context, not on window phase).
   * The selected (hash, position) pairs are the document's
   * fingerprints; matching fingerprints across documents detect any
   * exact repeat of ≥ `w + k − 1` tokens — the winnowing guarantee —
   * while storing only ~2/(w+1) of the grams. This is the real
   * training-data substring-dedup shape (q95's every-5-gram table is
   * the dense stand-in): fingerprint density is TUNABLE via `w`
   * at a guaranteed detection length, instead of paying one shuffle
   * row per gram.
   *
   * Scale: gram hashing and winnowing are ROW-LOCAL array folds
   * (whole-stage codegen'd higher-order functions — no UDF, no
   * shuffle); only selected fingerprints explode, and the shuffle
   * keys are 16-hex md5 prefixes, never passage text (the q144
   * discipline). The group-by is the whole cross-doc operator — no
   * self-join, no pair explosion — with the q95 two-phase
   * distinct-doc aggregate. The top-`limit` cut is a
   * TakeOrderedAndProject under a total ordering.
   *
   * The tie rule is hash-STRING lexicographic: both engines compare
   * lowercase-hex ASCII bytewise, so min-of-window and the rightmost
   * tiebreak replay identically in the DuckDB oracle.
   */
  def winnowedFingerprints(spark: SparkSession, dir: String,
      k: Int = 4, w: Int = 4, limit: Int = 100): DataFrame =
    winnowedFingerprintsOf(Tables.documents(spark, dir), k, w, limit)

  /** [[winnowedFingerprints]] over an explicit documents DataFrame
    * (`doc_id`, `text`) — the spec plants known repeated passages. */
  /** Array of 16-hex md5 hashes of every `k`-token gram of the token
    * array `ws` — the winnowing gram table, as one row-local HOF. */
  private def gramHashes(k: Int): String =
    Grams.windows("ws", k)(i => s"substring(md5(concat_ws(' ', slice(ws, $i, $k))), 1, 16)")

  /** Per-window rightmost-min (fp, pos) structs over the gram-hash
    * array `hs` as ONE left-to-right fold per window: replace on `<=`
    * so an equal (tied) hash later in the window wins — the
    * robust-winnowing tiebreak — in O(w) string compares per window
    * (the first formulation recomputed array_min per candidate, O(w²);
    * measured 2.2 s → 1.5 s at sf0.1). The '~' init sorts after every
    * lowercase-hex string, so position 1 always seeds the fold. */
  private def winnowFold(w: Int): String =
    Grams.windows("hs", w)(p =>
      s"""aggregate(sequence($p, $p + ${w - 1}),
         |    named_struct('fp', '~', 'pos', 0),
         |    (a, j) -> if(element_at(hs, j) <= a.fp,
         |                 named_struct('fp', element_at(hs, j), 'pos', j),
         |                 a))""".stripMargin)

  private[llm] def winnowedFingerprintsOf(docs: DataFrame,
      k: Int, w: Int, limit: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive, got k=$k w=$w")
    val winnow = winnowFold(w)
    docs
      .select(col("doc_id"), tokens.as("ws"))
      .select(col("doc_id"), expr(gramHashes(k)).as("hs"))
      // window overlap re-selects the same (hash, pos); every duplicate
      // comes from the SAME document row, so array_distinct dedups
      // row-locally before the explode — no distinct shuffle exists in
      // the plan at all
      .select(col("doc_id"), explode(array_distinct(expr(winnow))).as("f"))
      .select(col("doc_id"), col("f.fp").as("fp"), col("f.pos").as("pos"))
      .groupBy(col("fp"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col("fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("occ")).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("fp"))
      .limit(limit)
  }

  /**
   * Training-vs-eval DECONTAMINATION (q163): flag every training
   * document that shares a winnowing fingerprint with the held-out
   * eval slice — the standard n-gram-overlap decontamination step of
   * LLM data pipelines (a training doc is contaminated when any
   * ≥ `w + k − 1`-token passage of it also appears in an eval
   * document). Fingerprints are the q155 robust-winnowing selection,
   * so the detection-length guarantee and the ~2/(w+1) storage factor
   * carry over verbatim.
   *
   * The eval slice is the deterministic `doc_id % evalMod == 0` subset
   * (a fixture stand-in for a real benchmark table — the operator only
   * assumes SOME (fp, eval_doc) side exists). Output: one row per
   * contaminated training doc — (doc_id, n_shared_fps, n_eval_docs).
   *
   * Scale: the asymmetric-join case the broadcast discipline is made
   * for — eval sets are benchmark-sized (MBs) while training is the
   * 100 TB side, so the eval fingerprint table rides a broadcast and
   * the training side is ONE scan with row-local fingerprinting (the
   * per-doc fp set is array_distinct'ed before the explode, so no
   * distinct shuffle exists). Nothing but matched pairs — a
   * contamination-sized set — ever reaches the per-doc aggregate, and
   * the countDistincts there expand contamination-sized rows, never
   * the corpus.
   */
  /**
   * Cross-document DUPLICATED-SPAN coverage (the Lee et al. 2022
   * "Deduplicating Training Data Makes Language Models Better" exact-
   * substring measure): per document, how many of its K-token grams
   * also appear in ANOTHER document, and how many of its token
   * positions those shared grams cover — the fraction of the doc that
   * an exact-substring dedup pass would trim. Span-level (not
   * doc-level) duplication is what winnowing (q155) samples; this is
   * the exhaustive account at gram granularity.
   *
   * Scale shape: grams are md5-hashed ROW-LOCALLY (one explode, no
   * string shuffle wider than 32 hex chars per gram); the cross-doc
   * test is a single gram aggregate keeping only `min(doc) ≠
   * max(doc)` grams — the duplicated sliver. That sliver is a STORED
   * ARTIFACT ([[ModelCache.memoIndex]], tag `dup-grams`) like the LSH
   * band tables: built once per corpus, so a serve makes ONE pass
   * over the corpus grams (the sliver join-back) instead of two
   * (aggregate + join both re-running the explode). The join back
   * and the coverage fold run over the sliver only, never the corpus
   * gram table. Serve shuffles: sliver join-back + doc agg. All
   * outputs exact integers.
   */
  def dupSpanCoverage(spark: SparkSession, dir: String, k: Int = 7): DataFrame =
    dupSpanCoverageOf(Tables.documents(spark, dir), k)

  /** [[dupSpanCoverage]] over an explicit documents frame (the spec
    * plants a shared span across two docs and asserts exact gram and
    * coverage counts). */
  def dupSpanCoverageOf(docs: DataFrame, k: Int = 7): DataFrame = {
    val t = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    val grams = t.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
      explode(Grams.md5s("w", k, withPos = true)).as("p"))
      .select(col("doc_id"), col("n_tokens"), col("p.pos"), col("p.g"))
    // grams seen in more than one document — the duplicated sliver,
    // built once per corpus (planted in-memory test frames are not
    // file-backed and train fresh by ModelCache's key discipline)
    val crossDoc = ModelCache.memoIndex(docs, s"dup-grams|$k") {
      graft.ops.GlobalOrder.pin(grams.groupBy(col("g"))
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        .filter(col("lo") =!= col("hi"))
        .select(col("g")))
    }
    val dupPos = grams.join(crossDoc, "g")
    // Coverage via a row-local sorted-gap fold: spans at sorted start
    // positions p₁<p₂<… cover Σ min(K, pᵢ₊₁ − pᵢ) (+K for the first)
    // tokens — ONE aggregate over the dup sliver instead of exploding
    // K position rows per gram and paying a distinct shuffle on them.
    dupPos.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_grams"),
        max(col("n_tokens")).as("n_tokens"),
        sort_array(collect_list(col("pos"))).as("ps"))
      .withColumn("n_covered_tokens", expr(
        s"aggregate(ps, named_struct('last', -$k, 'tot', CAST(0 AS BIGINT)), " +
          s"(a, p) -> named_struct('last', p, 'tot', a.tot + least($k, p - a.last)), " +
          "a -> a.tot)"))
      .withColumn("covered_ppm", expr("(1000000 * n_covered_tokens) div n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_dup_grams"),
        col("n_covered_tokens"), col("covered_ppm"))
      .orderBy(col("doc_id"))
  }

  /**
   * Exact-substring dedup APPLIED (q213): where [[dupSpanCoverage]]
   * measures what a Lee et al. 2022 trim would remove, this emits the
   * trimmed corpus — per document the text with every token covered by
   * a cross-document duplicated K-gram removed, EXCEPT in the gram's
   * lowest-id holder (keep-one-copy: the canonical occurrence
   * survives, every echo is cut). Output: (doc_id, n_tokens,
   * n_removed, trimmed_text) — the transform stage a curation pipeline
   * actually ships, not just the report.
   *
   * Scale shape: gram keys are md5-hashed row-locally; the
   * (gram → lowest holder) table is the duplicated SLIVER ONLY
   * (min≠max filter inside the aggregate) and is a stored artifact
   * ([[ModelCache.memoIndex]] tag `dup-gram-keepers`) like the q170
   * sliver. Serve = one corpus gram pass joined against the pinned
   * sliver, a per-doc position aggregate over REMOVABLE occurrences
   * only (duplicate-volume-sized), and a row-local rebuild: covered
   * positions expand K-fold from that sliver in-row, and the kept-token
   * filter walks each doc's own array. Documents with no removable
   * grams ride the left join untouched — the common case at scale,
   * paying only the probe.
   */
  def dupSpanTrim(spark: SparkSession, dir: String, k: Int = 7): DataFrame =
    dupSpanTrimOf(Tables.documents(spark, dir), k)

  /** Per-gram document-id bounds — the ONE projection the batch
    * keeper store ([[dupSpanTrimOf]]'s memo) and the stream-maintained
    * gram-keeper artifact
    * ([[graft.streaming.ArtifactMaintenance.gramKeeperArtifact]]) both
    * aggregate; partials merge by (min lo, max hi), so streamed
    * bounds are bit-compatible with the batch build. */
  private[graft] def spanGramBounds(docs: DataFrame, k: Int = 7): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(Grams.md5s("w", k)).as("g"))
      .groupBy(col("g"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))

  /** [[dupSpanTrim]] over an explicit frame (the spec plants a shared
    * span and asserts the echo is cut while the canonical survives). */
  private[llm] def dupSpanTrimOf(docs: DataFrame, k: Int = 7): DataFrame = {
    val t = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    val grams = t
      .select(col("doc_id"), explode(Grams.md5s("w", k, withPos = true)).as("p"))
      .select(col("doc_id"), col("p.pos"), col("p.g"))
    // gram → its lowest-id (canonical) holder, duplicated grams only
    val keepers = ModelCache.memoIndex(docs, s"dup-gram-keepers|$k") {
      graft.ops.GlobalOrder.pin(
        keepersFromBounds(spanGramBounds(docs, k)))
    }
    val removable = grams.join(keepers, "g")
      .filter(col("doc_id") =!= col("lo"))
    trimFromRemovable(t, removable, k)
  }

  /** Cross-doc keeper selection over a (g, lo, hi) bounds table —
    * shared by the batch memo and any served streaming artifact. */
  private[graft] def keepersFromBounds(bounds: DataFrame): DataFrame =
    bounds.filter(col("lo") =!= col("hi")).select(col("g"), col("lo"))

  private def trimFromRemovable(t: DataFrame, removable0: DataFrame,
      k: Int): DataFrame = {
    val removable = removable0
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
    t.join(removable, Seq("doc_id"), "left")
      .withColumn("cov",
        when(col("ps").isNull, expr("CAST(array() AS array<int>)"))
          .otherwise(expr(
            s"array_distinct(flatten(transform(ps, p -> sequence(p, p + ${k - 1}))))")))
      .withColumn("kept",
        expr("filter(w, (tok, i) -> NOT array_contains(cov, i + 1))"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("trimmed_text"))
      // pin before the presentation sort: the trim rebuild (cov
      // expansion + kept-token filter + reassembly, plus the corpus
      // re-tokenize feeding the left join) sits ABOVE the last
      // exchange, so the sort sampler would run it all twice (§2.4)
      .transform(d => graft.ops.GlobalOrder.pinnedSort(d, col("doc_id")))
  }

  def decontaminate(spark: SparkSession, dir: String, k: Int = 4,
      w: Int = 4, evalMod: Int = EvalHoldoutMod): DataFrame =
    decontaminateOf(Tables.documents(spark, dir), k, w, evalMod)

  /** [[decontaminate]] over an explicit documents DataFrame — the spec
    * plants an eval passage inside training docs.
    *
    * The per-doc winnowed fingerprint table is a STORED artifact
    * (`winnow-fps`, ModelCache.memoIndex): a deployment fingerprints
    * the corpus once — the same index every new eval suite is screened
    * against — so serve is the broadcast eval probe + one aggregate
    * over the pinned table, no corpus re-hash. q163 and q229 (which
    * contains it) both serve from the one signing pass. */
  private[llm] def decontaminateOf(docs: DataFrame, k: Int, w: Int,
      evalMod: Int): DataFrame = {
    require(k >= 1 && w >= 1 && evalMod >= 2,
      s"bad decontamination params k=$k w=$w evalMod=$evalMod")
    val fps = ModelCache.memoIndex(docs, s"winnow-fps|$k|$w") {
      winnowFingerprints(docs, k, w).localCheckpoint()
    }
    decontaminateFromFps(fps, evalMod)
  }

  /** The per-doc winnowed fingerprint projection — the content of the
    * `winnow-fps` stored index, ROW-LOCAL per document, so the
    * streaming maintenance path
    * ([[graft.streaming.ArtifactMaintenance.winnowFpArtifact]]) commits
    * per-batch concatenations of this SAME projection and the served
    * union is bit-identical to the batch-built index. */
  private[graft] def winnowFingerprints(docs: DataFrame, k: Int = 4,
      w: Int = 4): DataFrame =
    docs
      .select(col("doc_id"), tokens.as("ws"))
      .select(col("doc_id"), expr(gramHashes(k)).as("hs"))
      .select(col("doc_id"), explode(array_distinct(
        expr(s"transform(${winnowFold(w)}, x -> x.fp)"))).as("fp"))

  /** The decontamination screen over an ALREADY-BUILT fingerprint
    * table (the `winnow-fps` memoized index or its streamed twin):
    * broadcast the eval slice's fingerprints, probe the training side,
    * count shared fingerprints per contaminated doc. No corpus re-hash
    * — the serve cost is one aggregate over the index. */
  private[graft] def decontaminateFromFps(fps: DataFrame,
      evalMod: Int = EvalHoldoutMod): DataFrame = {
    val evalFps = fps.filter(pmod(col("doc_id"), lit(evalMod)) === 0)
      .select(col("fp"), col("doc_id").as("eval_doc"))
    fps.filter(pmod(col("doc_id"), lit(evalMod)) =!= 0)
      .join(broadcast(evalFps), Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("fp")).as("n_shared_fps"),
        countDistinct(col("eval_doc")).as("n_eval_docs"))
      .orderBy(col("doc_id"))
  }

  /**
   * Per-source corpus quality profile: document counts plus exact
   * length quantiles and an exact-sum average. The per-source
   * stratification is what a data-mixing decision consumes.
   *
   * Quantiles via [[graft.ops.GlobalOrder.groupedQuantiles]], NOT the
   * builtin `percentile()`: the builtin is a TypedImperativeAggregate
   * that ships EVERY group value into key-cardinality reducers —
   * source cardinality here, over a corpus-scale column, exactly the
   * few-key parallelism ceiling this repo bans (Relational2.percentiles
   * scaladoc). Grouped global ranks keep every core ranking a slice;
   * counts/sums stay a separate one-pass hash-agg, and the final join
   * moves source-cardinality rows only.
   */
  def sourceQualityProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("source"), col("n_chars"))
    val counts = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    val qs = graft.ops.GlobalOrder.groupedQuantiles(
      docs, keyCols = Seq("source"), valueCol = "n_chars",
      ps = Seq(("p25_chars", 0.25), ("p50_chars", 0.5), ("p75_chars", 0.75)))
    counts.join(qs, Seq("source"))
      .withColumn("avg_chars", col("sum_chars").cast("double") / col("n_docs"))
      .orderBy("source")
  }

  /**
   * Out-of-vocabulary rate per document against the corpus' top-k
   * token vocabulary — the tokenizer-coverage signal (a doc whose
   * tokens fall outside the vocabulary head inflates sequence length
   * after BPE and flags junk/wrong-language content).
   *
   * Scale: the vocabulary is top-`vocabSize` by construction, so the
   * join side is a FIXED-size broadcast at any corpus size (the same
   * reasoning that allows nation/region broadcasts); the per-token
   * probe never shuffles the corpus. Vocabulary ordering is total
   * (count desc, token) so the kept head is deterministic.
   */
  def oovRate(spark: SparkSession, dir: String, vocabSize: Int = 20): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
      .orderBy("doc_id")
  }

  /**
   * Corpus-relative token-rarity profile — the quality dimension the
   * length/punctuation battery (q38) cannot see: a document whose
   * token instances are mostly corpus-RARE is OCR junk, misparsed
   * markup, or wrong-script text; one whose instances are mostly
   * corpus-COMMON head tokens is boilerplate. Gopher/C4-style corpus
   * filters use exactly this signal; it is LOG-FREE here (integer
   * frequency thresholds + an exact frequency-mass sum, not a
   * perplexity), so the oracle replays it bit for bit.
   *
   * Per document: token instance count, the fraction of instances
   * whose corpus frequency ≤ `rareMax` (hapax-ish), the fraction with
   * frequency ≥ `commonMin` (head mass), and the exact mean corpus
   * frequency (integer sum / count, one double division at the end).
   *
   * Scale: corpus token frequencies are vocabulary-cardinality — NOT
   * broadcastable (unlike q97's fixed top-k head) — so the probe is a
   * shuffled equi-join on md5 token keys (never raw text on the
   * wire), exactly the q56 tf-idf join shape: both sides partition on
   * the token hash, AQE handles stopword-key skew (the `AqeSkewSpec`
   * rule — joins lean on AQE, no salt needed). Two shuffles + the
   * doc-id aggregate, all hash aggregates with map-side partials.
   */
  def tokenRarity(spark: SparkSession, dir: String,
      rareMax: Long = 2L, commonMin: Long = 100L): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens).as("t"))
      .select(col("doc_id"), md5(col("t")).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
    toks.join(freq, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("n") <= rareMax, 1L).otherwise(0L)).as("n_rare"),
        sum(when(col("n") >= commonMin, 1L).otherwise(0L)).as("n_common"),
        sum(col("n")).as("freq_mass"))
      .withColumn("rare_frac", col("n_rare").cast("double") / col("n_tokens"))
      .withColumn("common_frac", col("n_common").cast("double") / col("n_tokens"))
      .withColumn("mean_freq", col("freq_mass").cast("double") / col("n_tokens"))
      .orderBy("doc_id")
  }

  /**
   * PII-redaction plumbing over the event property JSON: replace every
   * digit run with a mask and count the redactions. The `[0-9]+`
   * pattern is the stand-in for the production email/phone/ID
   * patterns — what the operator proves is the count-and-replace
   * pipeline (per-row, embarrassingly parallel, narrow projection);
   * swapping the regex does not change the plan. Counts derive from
   * length arithmetic (`n_runs` = masked minus stripped length), not
   * engine-specific match-count functions, so the oracle replays
   * exactly (DuckDB needs the 'g' flag for global replace).
   */
  /**
   * Inverted index over word tokens: token → document frequency +
   * doc-id-ordered postings list (the retrieval-side artifact a corpus
   * pipeline materializes next to the corpus itself).
   *
   * Each row stays scalar (engine-portable and driver-hashable): the
   * postings column carries the doc-id-ordered HEAD of the list
   * (`headLen` entries, the first chunk of a chunked posting layout) —
   * full lists for stopword-scale tokens would concentrate the entire
   * output size in the handful of tokens no consumer reads linearly
   * anyway. And the head is selected by the custom bounded-heap
   * [[graft.plans.TopK]] operator, NOT collect-then-slice: collecting a
   * stopword's full postings into one aggregation buffer before
   * truncating is unbounded memory per key at corpus scale, while the
   * heap keeps ≤ headLen ids per (token, input partition) map-side.
   * All three passes (df count, head pick, head collect) shuffle on the
   * token key.
   */
  def invertedIndex(spark: SparkSession, dir: String, headLen: Int = 20): DataFrame = {
    val postings = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .distinct()
    val df = postings.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val heads = graft.plans.TopK
      .perKey(postings, Seq("token"), Seq("doc_id" -> false), headLen)
      .groupBy(col("token"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(col("token"),
        array_join(transform(col("ids"), _.cast("string")), ",").as("postings_head"))
    df.join(heads, Seq("token"))
      .select(col("token"), col("df"), col("postings_head"))
      .orderBy("token")
  }

  /**
   * Heavy hitters via a distributed Misra–Gries sketch, gated the
   * q53 way (exact counterparts + an error-envelope boolean the oracle
   * pins to TRUE).
   *
   * Per input partition, a (k-1)-counter MG pass summarizes the token
   * stream in one scan and O(k) memory; summaries then merge in a
   * single tiny reduce (pointwise sum, subtract the k-th largest,
   * drop non-positives — the mergeable-summaries construction), so the
   * full token multiset is NEVER shuffled: at 100 TB the sketch moves
   * (partitions × k) rows where the exact group-by moves |vocabulary|.
   *
   * Determinism discipline: the sketch's surviving counter VALUES are
   * partition-layout-dependent, so they are not emitted. What IS
   * emitted is deterministic: the exact top-k tokens/counts (from a
   * plain group-by twin — this query is the sketch's verification
   * harness, not its scale pitch) plus `mg_covered`, which the MG
   * guarantee (any item with frequency > n/k survives, regardless of
   * partitioning or merge order) forces to TRUE for every row under
   * EVERY layout — the DuckDB oracle emits literal TRUE, so a sketch
   * regression fails the hash gate.
   */
  def heavyHitters(spark: SparkSession, dir: String, k: Int = 16): DataFrame =
    heavyHittersOf(Tables.documents(spark, dir), k)

  /** [[heavyHitters]] over an arbitrary documents frame (spec entry
    * point for adversarial partition layouts). */
  private[llm] def heavyHittersOf(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select(explode(split(col("text"), " ")).as("tok")).as[String]
    val partials = toks.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        if (m.contains(t)) m(t) += 1L
        else if (m.size < k - 1) m(t) = 1L
        else m.keys.toList.foreach { key =>
          val c = m(key) - 1L
          if (c == 0L) m.remove(key) else m(key) = c
        }
      }
      m.iterator
    }
    // single small reduce: (#partitions × k) rows, never the stream
    val candidates = partials.repartition(1).mapPartitions { it =>
      val summed = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { case (t, c) => summed(t) = summed.getOrElse(t, 0L) + c }
      if (summed.size < k) summed.keysIterator
      else {
        val kth = summed.values.toSeq.sorted(Ordering[Long].reverse)(k - 1)
        summed.iterator.collect { case (t, c) if c - kth > 0L => t }
      }
    }.toDF("cand_tok")
    val exact = toks.toDF().groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = exact.agg(sum(col("cnt")).as("n"))
    exact
      .crossJoin(broadcast(total))
      .join(broadcast(candidates), col("tok") === col("cand_tok"), "left")
      // exact integer cross-multiply, no division: freq > n/k ⇔ cnt*k > n
      .withColumn("mg_covered",
        !(col("cnt") * k > col("n")) || col("cand_tok").isNotNull)
      .select(col("tok"), col("cnt"), col("mg_covered"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(k)
  }

  def redactDigits(spark: SparkSession, dir: String): DataFrame = {
    // One regex pass (the scrub itself); the counts derive from cheap
    // char-map `translate`s instead of two more regex engines per row:
    //  - n_digits: digits removed by translate ≡ regexp [0-9] removal;
    //  - n_runs: each digit-run collapses to one '#', so the run count
    //    is the '#'-count delta between scrubbed and the original
    //    (robust even if props itself contains '#').
    def countChar(c: org.apache.spark.sql.Column, ch: String) =
      length(c) - length(translate(c, ch, ""))
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("props"))
      .withColumn("scrubbed", regexp_replace(col("props"), "[0-9]+", "#"))
      .withColumn("n_digits",
        (length(col("props")) - length(translate(col("props"), "0123456789", "")))
          .cast("long"))
      .withColumn("n_runs",
        (countChar(col("scrubbed"), "#") - countChar(col("props"), "#")).cast("long"))
      // pin before the presentation sort: the regex scrub would
      // otherwise run twice (range-sampler pass, guide §2.4)
      .transform(d => graft.ops.GlobalOrder.pinnedSort(d, col("event_id")))
  }

  /**
   * Gopher-style rule-based quality filter (Rae et al. 2021, §A1.1) —
   * the hand-tuned pre-filter every large corpus passes through before
   * the learned filters: per document, the rule measurements (word
   * count, mean word length, stopword hits) and the individual
   * pass/fail flags plus their conjunction. Emitting the per-rule
   * flags — not just the verdict — is what makes the filter auditable:
   * ablation (q165) consumes exactly this shape.
   *
   * Everything is row-local array arithmetic on the doc's own token
   * vector (no explode, no shuffle — embarrassingly parallel at
   * 100 TB), and all-integer: mean word length is fixed-point centi
   * (`(100*Σlen) div n`), the house log-free/float-free discipline, so
   * the DuckDB oracle hash-matches bit-for-bit.
   */
  def gopherRules(
      spark: SparkSession,
      dir: String,
      minWords: Int = 30,
      maxWords: Int = 1000,
      minWlenCenti: Long = 200L,
      maxWlenCenti: Long = 800L,
      minStop: Long = 2L): DataFrame =
    // pinnedSort below guards the presentation sort only — derived
    // consumers (q200's funnel) read [[gopherRulesUnsorted]] and skip
    // both the pin and the sort (the chunkSlots/chunkDocuments split)
    graft.ops.GlobalOrder.pinnedSort(
      gopherRulesUnsorted(spark, dir, minWords, maxWords,
        minWlenCenti, maxWlenCenti, minStop),
      col("doc_id"))

  /** The unsorted per-document rule table — q178 presents it sorted;
    * q200's funnel aggregates it as-is. */
  private[graft] def gopherRulesUnsorted(
      spark: SparkSession,
      dir: String,
      minWords: Int = 30,
      maxWords: Int = 1000,
      minWlenCenti: Long = 200L,
      maxWlenCenti: Long = 800L,
      minStop: Long = 2L): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens.as("ws"))
      .select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        expr("aggregate(ws, 0L, (a, w) -> a + length(w))").as("sum_wlen"),
        expr("size(filter(ws, w -> w = 'the' OR w = 'a'))")
          .cast("long").as("n_stop"))
      .withColumn("mean_wlen_centi", expr("(100 * sum_wlen) div n_words"))
      .withColumn("ok_nwords",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_wlen",
        col("mean_wlen_centi") >= minWlenCenti &&
          col("mean_wlen_centi") <= maxWlenCenti)
      .withColumn("ok_stop", col("n_stop") >= minStop)
      .withColumn("pass", col("ok_nwords") && col("ok_wlen") && col("ok_stop"))
      .select(col("doc_id"), col("n_words"), col("mean_wlen_centi"),
        col("n_stop"), col("ok_nwords"), col("ok_wlen"), col("ok_stop"),
        col("pass"))

  /**
   * Flesch-Kincaid readability per document, in the repo's exact
   * integer lanes: sentence count (terminal punctuation, floored at
   * 1), word count, and a syllable ESTIMATE (maximal vowel-group runs
   * — the standard punctuation-free proxy). The grade formula
   * `0.39·W/S + 11.8·Syl/W − 15.59` is emitted as an exact integer
   * fraction scaled ×100·S·W (`fk_num` / `fk_den`) so no float ever
   * forms — both engines compute the identical BIGINTs — plus the
   * coarse difficulty band a curation filter actually thresholds on
   * (grade <6 / <10 / <14 / else), decided by integer cross-multiply
   * against the same denominator.
   *
   * Scale shape: one whole-stage-codegen'd projection over the corpus
   * — zero joins, zero shuffles beyond the output sort. The three
   * regexp passes are row-local; at 100 TB this is a pure map stage
   * that scales linearly with input splits.
   */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    val low = lower(txt)
    val sentences = greatest(lit(1L),
      (length(txt) - length(regexp_replace(txt, "[.!?]", ""))).cast("long"))
    val words = size(tokens).cast("long")
    // vowel runs: collapse each maximal [aeiouy]+ run to one char,
    // then diff against the vowel-free length — #runs, exact
    val syllables = greatest(lit(1L),
      (length(regexp_replace(low, "[aeiouy]+", "V")) -
        length(regexp_replace(low, "[aeiouy]+", ""))).cast("long"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), sentences.as("sentences"),
        words.as("words"), syllables.as("syllables"))
      .withColumn("wps_ppm", expr("(1000000 * words) div sentences"))
      .withColumn("spw_ppm", expr("(1000000 * syllables) div words"))
      .withColumn("fk_num", expr(
        "39 * words * words + 1180 * syllables * sentences - 1559 * sentences * words"))
      .withColumn("fk_den", expr("100 * sentences * words"))
      .withColumn("band",
        when(col("fk_num") < lit(600L) * col("sentences") * col("words"), "easy")
          .when(col("fk_num") < lit(1000L) * col("sentences") * col("words"), "medium")
          .when(col("fk_num") < lit(1400L) * col("sentences") * col("words"), "hard")
          .otherwise("very_hard"))
      // pin before the presentation sort: four regex passes per doc
      // would otherwise run twice (range-sampler pass, guide §2.4)
      .transform(d => graft.ops.GlobalOrder.pinnedSort(d, col("doc_id")))
  }

  // ---- HTML/markup text extraction (q250) ---------------------------

  /**
   * Markup text extraction + link-density boilerplate filter (q250) —
   * the CCNet/RefinedWeb ingestion stage the quality family (q178,
   * q193) assumes has already run: real crawls arrive as HTML, and the
   * Gopher-style rules only make sense over EXTRACTED text. Since the
   * fixtures carry clean text, the markup payload is synthesized
   * deterministically per document (a nav header, an inline anchor
   * around every 5th word, a footer — PLUS the adversarial classes a
   * real crawl carries: script/style bodies, comments, quoted '>'
   * inside attributes; see [[htmlExtractRows]]) and then the
   * extraction pipeline runs for real: block removal, attribute-aware
   * tag strip, whitespace squash, anchor-text accounting. Per
   * document the audit reports tag
   * count, anchor/total character counts, the link-density ppm a
   * boilerplate filter thresholds on (RefinedWeb drops nav/ad-heavy
   * pages this way), the Gopher-ish word measurements over the
   * extracted text, and the keep verdict.
   *
   * Scale shape: ONE whole-stage-codegen'd projection — string
   * builtins and regexes, row-local, zero joins, zero aggregates; the
   * only exchange is the presentation sort. At 100 TB this is a pure
   * map stage over input splits, the cheapest possible shape for an
   * ingestion pass. All ratios are integer fixed-point with
   * nullif-guarded divisors (the audit discipline), so the DuckDB
   * oracle hash-matches bit-for-bit.
   */
  def htmlExtract(
      spark: SparkSession,
      dir: String,
      maxDensityPpm: Long = 400000L,
      minWords: Int = 30): DataFrame =
    htmlExtractOf(Tables.documents(spark, dir), maxDensityPpm, minWords)

  private[llm] def htmlExtractOf(
      docs: DataFrame,
      maxDensityPpm: Long = 400000L,
      minWords: Int = 30): DataFrame =
    // pinnedSort: the extraction is one pure-map projection, so the
    // presentation sort's range sampler would otherwise run every
    // regex pass TWICE (this was the single largest double-compute in
    // the bench — r17 optimization round)
    graft.ops.GlobalOrder.pinnedSort(
      htmlExtractRows(docs, maxDensityPpm, minWords)
        .select(col("doc_id"), col("n_tags"), col("anchor_chars"),
          col("text_chars"), col("link_density_ppm"), col("n_words"),
          col("mean_wlen_centi"), col("ok_density"), col("ok_nwords"),
          col("keep")),
      col("doc_id"))

  /** The per-document extraction table WITH source — q250 projects it;
    * the q253 funnel aggregates it. One shared pipeline, no drift.
    *
    * ADVERSARIAL SYNTHESIS (round-13 verdict #2): real crawls are not
    * well-formed, so the synthesized page plants the three classes a
    * naive `<[^>]*>` strip breaks on — a quoted `>` inside an anchor
    * attribute (every 10th word), a `<script>` body carrying a
    * SCRIPTLEAK sentinel + a `1 > 0` comparison, a `<style>` body with
    * a `body > p` child selector, and an HTML comment with an embedded
    * `>` and a COMMENTLEAK sentinel. Extraction is then two passes,
    * still pure built-ins: (1) script/style/comment BLOCKS drop with
    * their bodies (the content a tag strip would leak into "text");
    * (2) an attribute-aware tag regex — `<(?:[^>"]|"[^"]*")*>`, i.e. a
    * quoted `>` stays inside its tag — strips the remaining markup.
    * Single-quoted attributes would extend the alternation the same
    * way; the synthesis (like the fixtures) only emits double quotes.
    * TextAnalysisSpec pins that no sentinel and no `<`/`>` survives
    * into the extracted text. */
  private[llm] def htmlExtractRows(
      docs: DataFrame,
      maxDensityPpm: Long,
      minWords: Int): DataFrame =
    docs
      .select(col("doc_id"), col("source"), tokens.as("ws"))
      // every 5th word carries an inline anchor — every 10th one with
      // a quoted '>' in its attribute, the naive-tag-regex killer
      .withColumn("body", expr(
        "array_join(transform(sequence(1, size(ws)), i -> " +
          "CASE WHEN i % 10 = 0 " +
          "THEN concat('<a href=\"#\" data-note=\"x>y\">', element_at(ws, i), '</a>') " +
          "WHEN i % 5 = 0 " +
          "THEN concat('<a href=\"#\">', element_at(ws, i), '</a>') " +
          "ELSE element_at(ws, i) END), ' ')"))
      .withColumn("html", concat(
        lit("<html><head><title>doc</title>" +
          "<script type=\"text/javascript\">var t = 1 > 0; track(\"SCRIPTLEAK "),
        col("doc_id").cast("string"),
        lit("\");</script>" +
          "<style>body > p { margin: 0 } /* STYLELEAK */</style>" +
          "</head><body><nav><a href=\"/\">home</a> <a href=\"/s\">"),
        col("source"),
        lit("</a></nav><!-- nav state > collapsed COMMENTLEAK --><p>"),
        col("body"),
        lit("</p><footer><a href=\"/about\">about us</a></footer>" +
          "</body></html>")))
      // pass 1: drop script/style/comment blocks WITH their bodies
      .withColumn("cleaned", regexp_replace(col("html"),
        "(?s)(?:<script(?: (?:[^>\"]|\"[^\"]*\")*)?>.*?</script>" +
          "|<style>.*?</style>|<!--.*?-->)", " "))
      .withColumn("n_tags", size(expr(
        "regexp_extract_all(cleaned, '<(?:[^>\"]|\"[^\"]*\")*>', 0)"))
        .cast("long"))
      .withColumn("anchor_chars", expr(
        "aggregate(regexp_extract_all(cleaned, " +
          "'<a (?:[^>\"]|\"[^\"]*\")*>([^<]*)</a>', 1), " +
          "0L, (a, x) -> a + length(x))"))
      // pass 2: attribute-aware tag strip + whitespace squash
      .withColumn("extracted", trim(regexp_replace(
        regexp_replace(col("cleaned"), "<(?:[^>\"]|\"[^\"]*\")*>", " "),
        " +", " ")))
      .withColumn("text_chars", length(col("extracted")).cast("long"))
      .withColumn("link_density_ppm",
        expr("(1000000 * anchor_chars) div nullif(text_chars, 0)"))
      .withColumn("ews", split(col("extracted"), " "))
      .withColumn("n_words", size(col("ews")).cast("long"))
      .withColumn("mean_wlen_centi", expr(
        "(100 * aggregate(ews, 0L, (a, w) -> a + length(w))) " +
          "div nullif(n_words, 0)"))
      .withColumn("ok_density", col("link_density_ppm") <= maxDensityPpm)
      .withColumn("ok_nwords", col("n_words") >= minWords)
      .withColumn("keep", col("ok_density") && col("ok_nwords"))

  /**
   * Per-source extraction FUNNEL (q253): the q250 pipeline rolled up
   * to the numbers an ingestion operator actually watches — per
   * source: docs in, docs surviving the link-density + length gates,
   * the keep rate in ppm, the source's aggregate link density (total
   * anchor chars over total extracted chars — the boilerplate burden
   * of the whole slice, not the per-doc mean), and the extracted-word
   * volume the kept docs contribute to the training mix.
   *
   * Scale shape: the row-local q250 projection feeding ONE
   * source-cardinality hash aggregate — map-side combinable, zero
   * joins; nothing but the scan grows with the corpus.
   */
  def extractFunnel(
      spark: SparkSession,
      dir: String,
      maxDensityPpm: Long = 400000L,
      minWords: Int = 30): DataFrame =
    htmlExtractRows(Tables.documents(spark, dir), maxDensityPpm, minWords)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("anchor_chars")).as("anchor_chars"),
        sum(col("text_chars")).as("text_chars"),
        sum(when(col("keep"), col("n_words")).otherwise(0L))
          .as("words_kept"))
      .withColumn("kept_ppm",
        expr("(1000000 * cast(n_kept as decimal(38,0))) div nullif(n_docs, 0)"))
      .withColumn("density_ppm",
        expr("(1000000 * cast(anchor_chars as decimal(38,0))) div nullif(text_chars, 0)"))
      .select(col("source"), col("n_docs"), col("n_kept"), col("kept_ppm"),
        col("anchor_chars"), col("text_chars"), col("density_ppm"),
        col("words_kept"))
      .orderBy("source")

  // ---- content-defined chunking (q247) -----------------------------

  /**
   * The per-chunk table behind [[cdcChunks]]: one row per
   * content-defined chunk — (doc_id, source, 16-hex chunk hash, token
   * length). Boundary rule: after token i (i >= 4) when the first hex
   * nibble of md5 of the trailing 4-token window is '0' (P = 1/16 →
   * ~16-token expected chunks); the final token always closes the last
   * chunk. Everything up to the explode is a row-local HOF chain.
   */
  private[graft] def cdcChunkTable(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", expr("filter(split(text, ' '), x -> x <> '')"))
      .filter(size(col("ws")) > 0)
      // candidate ends: the last token of every 4-token window
      .withColumn("ends0", expr(
        s"""filter(${Grams.windows("ws", 4)(i => s"$i + 3")}, i ->
           |  substring(md5(array_join(slice(ws, i - 3, 4), ' ')), 1, 1) = '0')""".stripMargin))
      .withColumn("ends", expr(
        """if(size(ends0) > 0 AND element_at(ends0, -1) = size(ws),
          |  ends0, concat(ends0, array(size(ws))))""".stripMargin))
      .select(col("doc_id"), col("source"), col("ws"),
        explode(expr(
          """transform(sequence(1, size(ends)), j -> named_struct(
            |  'start', if(j = 1, 1, element_at(ends, j - 1) + 1),
            |  'end', element_at(ends, j)))""".stripMargin)).as("c"))
      .select(col("doc_id"), col("source"),
        expr("substring(md5(array_join(slice(ws, c.start, c.end - c.start + 1), ' ')), 1, 16)")
          .as("h"),
        (col("c.end") - col("c.start") + lit(1)).cast("long").as("len"))

  /**
   * Content-defined chunking (the LBFS/storage-dedup primitive, per
   * source): chunk boundaries are decided by the CONTENT of a rolling
   * 4-token window, not by position, so a duplicated passage chunks
   * identically no matter where it lands in its document — insertions
   * shift fixed windows (q54) out of alignment but leave CDC chunk
   * hashes intact away from the edit. Reports per source: docs,
   * chunks, distinct chunk hashes, duplicated-chunk ppm, mean chunk
   * length (centi-tokens) — the storage-style dedup screen beside the
   * passage family (q95/q143).
   *
   * Scale shape: boundary detection and chunk hashing are row-local
   * codegen'd array folds (no UDF, no shuffle until the explode);
   * shuffle keys are 16-hex digests, never chunk text; one few-key
   * per-source aggregate. The expected chunk length is tunable via
   * the nibble-match probability exactly like winnowing density.
   */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunksOf(Tables.documents(spark, dir))

  private[llm] def cdcChunksOf(docs: DataFrame): DataFrame =
    cdcReportFrom(cdcChunkTable(docs))

  /** The q247 per-source report over any chunk table — shared by the
    * batch query and the streamed chunk store's serve path. */
  private[graft] def cdcReportFrom(chunks: DataFrame): DataFrame =
    chunks
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        countDistinct(col("h")).as("n_distinct"),
        sum(col("len")).as("sum_len"))
      .withColumn("dup_ppm",
        expr("(1000000 * (n_chunks - n_distinct)) div n_chunks"))
      .withColumn("avg_len_centi", expr("(100 * sum_len) div n_chunks"))
      .drop("sum_len")
      .orderBy(col("source"))

  /** The confusable-fold table: (codepoint, ASCII replacement) pairs;
    * `None` = delete. ONE definition generates both the Spark
    * `translate` arguments and the oracle's `chr()` concatenations, so
    * the two folds cannot drift. Deleted characters come LAST
    * (translate's delete-when-unmapped semantics are positional). */
  private[graft] val ConfusablePairs: Seq[(Int, Option[Char])] =
    (Seq(
      0x00A0 -> Some(' '),  // no-break space
      0x201C -> Some('"'), 0x201D -> Some('"'),   // curly double quotes
      0x2018 -> Some('\''), 0x2019 -> Some('\''), // curly single quotes
      0x2014 -> Some('-')) ++                     // em dash
      (0 until 10).map(i => (0xFF41 + i, Some(('a' + i).toChar)))) :+ // ａ–ｊ
      (0x200B -> Option.empty[Char])              // zero-width space: DELETE

  private def foldFrom: String =
    ConfusablePairs.map { case (cp, _) => new String(Character.toChars(cp)) }
      .mkString
  private def foldTo: String = ConfusablePairs.flatMap(_._2).mkString

  /**
   * Unicode confusable-folding audit (q264) — the normalization stage
   * real multilingual crawls need BEFORE exact dedup: visually
   * near-identical byte sequences (no-break spaces, curly quotes,
   * zero-width joins, fullwidth letters) defeat hash dedup while being
   * the SAME text to a reader, the NFKC-ish confusable class. The
   * fixtures are ASCII-clean, so the query PLANTS a confusable class
   * per doc by `doc_id % 5` (all spaces → NBSP; ZWSP after every
   * space; a leading ZWSP; fullwidth a–j) — the q250 synthesis-as-
   * harness pattern, replayed identically by the oracle — and folds
   * with one codegen'd `translate` over [[ConfusablePairs]]. Folding
   * provably restores the pre-plant text, which the audit pins IN BAND
   * (`n_restored` must equal `n_docs`), and the dup accounting mirrors
   * q238: docs whose fold-hash collides while their raw hash does not
   * are exactly the duplicates confusables were hiding. The planted
   * dup group spans TWO plant classes (shared residues 7 and 11 sit in
   * `% 5` classes 2 and 1), so catching it requires the fold paths to
   * agree with each other, not merely each be invertible — the
   * cross-crawl reality where two mirrors mangle the same boilerplate
   * through different confusable families.
   *
   * Scale: plant + fold are one row-local projection; the audit
   * shuffles md5 keys only (q238's discipline); output is
   * source-cardinality.
   */
  def confusableFold(spark: SparkSession, dir: String): DataFrame =
    confusableFoldOf(Tables.documents(spark, dir))

  /** The synthesized cross-crawl boilerplate carried by two docs per
    * stride of 25 (residues 7 and 11, one in each of two plant
    * classes) \u2014 the duplicated text the confusable plants then HIDE
    * from raw hashing (the fixture itself has no exact-dup texts, so
    * the dup structure is planted too, q250's synthesis-as-harness
    * pattern). */
  private[graft] val SharedBoilerplate =
    "the shared boilerplate notice appended by every mirror of this feed"

  private[graft] def confusableFoldOf(docs: DataFrame): DataFrame = {
    val nbsp = "\u00A0"; val zwsp = "\u200B"
    // residues 7 and 11 land in DIFFERENT plant classes (7 % 5 = 2 \u2192
    // zwsp-after-space, 11 % 5 = 1 \u2192 nbsp), so the planted dup group
    // genuinely crosses fold paths \u2014 two mirrors of the same
    // boilerplate mangled by two different confusable families, the
    // cross-crawl reality the audit claims to exercise
    val isShared = pmod(col("doc_id"), lit(25)).isin(7, 11)
    val canonical = when(isShared, lit(SharedBoilerplate)).otherwise(col("text"))
    val classed =
      when(pmod(col("doc_id"), lit(5)) === 1,
        translate(canonical, " ", nbsp))
        .when(pmod(col("doc_id"), lit(5)) === 2,
          regexp_replace(canonical, " ", " " + zwsp))
        .when(pmod(col("doc_id"), lit(5)) === 3,
          concat(lit(zwsp), canonical))
        .when(pmod(col("doc_id"), lit(5)) === 4,
          translate(canonical, "abcdefghij",
            (0 until 10).map(i => new String(Character.toChars(0xFF41 + i)))
              .mkString))
        .otherwise(canonical)
    // shared docs additionally get a doc-varying zero-width prefix
    // (unique up to 101 docs \u2014 101 is prime and coprime to the stride
    // 25, so raw hashes of the shared text scatter), which is exactly
    // how tracking pixels/watermarks fragment real boilerplate
    val planted = when(isShared,
      concat(expr(s"repeat('$zwsp', 1 + pmod(doc_id, 101))"), classed))
      .otherwise(classed)
    val h = docs
      .withColumn("canonical", canonical)
      .withColumn("planted", planted)
      .withColumn("folded", translate(col("planted"), foldFrom, foldTo))
      .select(col("source"),
        (col("folded") === col("canonical")).as("restored"),
        md5(col("planted")).as("eh"), md5(col("folded")).as("nh"))
    def dupSet(c: String) = h.groupBy(col(c)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1L).select(col(c))
    h.join(dupSet("eh").withColumn("e_dup", lit(1L)), Seq("eh"), "left")
      .join(dupSet("nh").withColumn("n_dup", lit(1L)), Seq("nh"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("restored"), 1L).otherwise(0L)).as("n_restored"),
        sum(coalesce(col("e_dup"), lit(0L))).as("n_raw_dup_docs"),
        sum(coalesce(col("n_dup"), lit(0L))).as("n_fold_dup_docs"),
        sum(when(col("n_dup") === 1L && col("e_dup").isNull, 1L)
          .otherwise(0L)).as("n_newly_caught"))
      .withColumn("newly_caught_ppm",
        expr("(1000000 * n_newly_caught) div n_docs"))
      .orderBy(col("source"))
  }

  /**
   * Per-paragraph quality trim (q265) — the CCNet shape APPLIED: web
   * cleaning operates at PARAGRAPH granularity (drop the boilerplate
   * paragraphs, keep the document), not document granularity (q178
   * passes/fails whole docs) and not span granularity (q213 trims
   * duplicated substrings). Fixtures carry flat text, so the paragraph
   * structure is synthesized deterministically — width k = 4 +
   * doc_id % 4 words per paragraph, replayed by the oracle — and each
   * paragraph faces the Gopher-ish micro-gates (≥ 3 words AND ≥ 1
   * stopword hit, the q178 lexicon). Output per doc: paragraph counts,
   * kept token volume, and the md5 of the REASSEMBLED kept text in
   * original order — the trim applied, hash-pinned, so a wrong slice
   * bound or a dropped-paragraph off-by-one hash-fails.
   *
   * Scale: entirely row-local HOFs over each doc's own token array
   * (slice/filter/aggregate, all codegen'd) — the same pure-map shape
   * as q250; the presentation sort is the only exchange.
   */
  /** The shared q265/q266 paragraph synthesis — (doc_id, ws, k,
    * paras): width k = 4 + doc_id % 4 words, every slice row-local.
    * ONE definition so the gate-based trim (q265) and the LM-scored
    * trim (q266) segment documents identically and their oracles can
    * replay the same rule. */
  private[graft] def paragraphsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("k", (lit(4) + pmod(col("doc_id"), lit(4))).cast("int"))
      .withColumn("paras", expr(
        "transform(sequence(1, (size(ws) + k - 1) div k), " +
          "i -> slice(ws, (i - 1) * k + 1, k))"))

  def paragraphTrim(spark: SparkSession, dir: String): DataFrame =
    paragraphsOf(Tables.documents(spark, dir))
      .withColumn("kept", expr(
        "filter(paras, p -> size(p) >= 3 AND " +
          "size(filter(p, w -> w = 'the' OR w = 'a')) >= 1)"))
      .select(
        col("doc_id"),
        size(col("paras")).cast("long").as("n_paras"),
        size(col("kept")).cast("long").as("n_kept"),
        expr("aggregate(kept, 0L, (a, p) -> a + size(p))")
          .as("n_tokens_kept"),
        md5(expr(
          "array_join(transform(kept, p -> array_join(p, ' ')), ' ')"))
          .as("trimmed_md5"))
      // pin before the presentation sort: the paragraph slices + md5
      // reassembly would otherwise run twice (range-sampler, §2.4)
      .transform(d => graft.ops.GlobalOrder.pinnedSort(d, col("doc_id")))

  /** The q265 oracle: identical synthesis, gates, and reassembly. */
  private[graft] def paragraphTrimSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
      |    CAST(4 + doc_id % 4 AS BIGINT) AS k FROM documents),
      |p AS (SELECT doc_id, k, ws,
      |    list_transform(range(1, (len(ws) + k - 1) // k + 1),
      |      i -> ws[(i - 1) * k + 1 : i * k]) AS paras
      |  FROM t),
      |kp AS (SELECT doc_id, paras,
      |    list_filter(paras, q -> len(q) >= 3 AND
      |      len(list_filter(q, w -> w = 'the' OR w = 'a')) >= 1) AS kept
      |  FROM p)
      |SELECT doc_id, CAST(len(paras) AS BIGINT) AS n_paras,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  CAST(COALESCE(list_sum(list_transform(kept, q -> len(q))), 0)
      |    AS BIGINT) AS n_tokens_kept,
      |  md5(COALESCE(array_to_string(list_transform(kept,
      |    q -> array_to_string(q, ' ')), ' '), '')) AS trimmed_md5
      |FROM kp ORDER BY doc_id""".stripMargin

  /** The fold projection alone over a (doc_id, source, text) frame —
    * spec entry point for the idempotence property (folding an
    * already-folded text must be a no-op, so a pipeline can re-run
    * normalization safely). */
  private[graft] def foldedTextOf(docs: DataFrame): DataFrame =
    docs.withColumn("folded", translate(col("text"), foldFrom, foldTo))

  /** The q264 oracle: the identical plant, fold table (generated from
    * the SAME [[ConfusablePairs]]), and dup accounting in DuckDB. */
  private[graft] def confusableFoldSql: String = {
    def chrs(cps: Seq[Int]) = cps.map(c => s"chr($c)").mkString(" || ")
    val from = chrs(ConfusablePairs.map(_._1))
    val to = chrs(ConfusablePairs.flatMap(_._2).map(_.toInt))
    val fw = chrs((0 until 10).map(0xFF41 + _))
    s"""WITH c0 AS (SELECT doc_id, source,
       |    CASE WHEN doc_id % 25 IN (7, 11) THEN '$SharedBoilerplate'
       |         ELSE text END AS canonical
       |  FROM documents),
       |p AS (SELECT doc_id, source, canonical,
       |    CASE WHEN doc_id % 25 IN (7, 11)
       |      THEN repeat(chr(8203), CAST(1 + doc_id % 101 AS INT)) ELSE ''
       |    END ||
       |    CASE doc_id % 5
       |      WHEN 1 THEN translate(canonical, ' ', chr(160))
       |      WHEN 2 THEN replace(canonical, ' ', ' ' || chr(8203))
       |      WHEN 3 THEN chr(8203) || canonical
       |      WHEN 4 THEN translate(canonical, 'abcdefghij', $fw)
       |      ELSE canonical END AS planted
       |  FROM c0),
       |h AS (SELECT source,
       |    (translate(planted, $from, $to) = canonical) AS restored,
       |    md5(planted) AS eh,
       |    md5(translate(planted, $from, $to)) AS nh
       |  FROM p),
       |ed AS (SELECT eh FROM h GROUP BY eh HAVING COUNT(*) > 1),
       |nd AS (SELECT nh FROM h GROUP BY nh HAVING COUNT(*) > 1)
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN restored THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_restored,
       |  CAST(SUM(CASE WHEN ed.eh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_raw_dup_docs,
       |  CAST(SUM(CASE WHEN nd.nh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_fold_dup_docs,
       |  CAST(SUM(CASE WHEN nd.nh IS NOT NULL AND ed.eh IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_newly_caught,
       |  (1000000 * CAST(SUM(CASE WHEN nd.nh IS NOT NULL AND ed.eh IS NULL
       |    THEN 1 ELSE 0 END) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
       |    AS newly_caught_ppm
       |FROM h LEFT JOIN ed ON h.eh = ed.eh LEFT JOIN nd ON h.nh = nd.nh
       |GROUP BY source ORDER BY source""".stripMargin
  }
}
