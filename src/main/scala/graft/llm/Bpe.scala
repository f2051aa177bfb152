package graft.llm

import graft.model.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Byte-pair-encoding merge learning (Sennrich et al. 2016) — the first
 * `M` merges of the tokenizer-training loop, learned over the corpus
 * word-frequency table (q214), and their application back to the
 * corpus (q218).
 *
 * One deliberate restriction: SELF-PAIRS (x, x) are excluded from the
 * merge candidates. With distinct halves a merge can never overlap
 * itself, so greedy left-to-right application — inherently sequential
 * per symbol run in full BPE ("aaa" merges positions 1-2, not 2-3) —
 * degenerates to "replace EVERY occurrence", a pure per-position map:
 * position i survives unless its left neighbor started a merge, and its
 * value widens when it starts one. That order-freeness is what makes
 * the apply step embarrassingly parallel across a 100 TB corpus (and
 * bit-replayable by the DuckDB oracle, which has no list-fold to
 * express run-parity semantics with).
 *
 * Scale shape: learning runs over the DISTINCT-WORD table (Heaps-law
 * sublinear in corpus size), weighted by exact Long word counts — the
 * corpus is scanned ONCE for the frequency table, then every iteration
 * is one vocab-scale pair aggregate + a 1-row argmax (deterministic
 * tiebreak: count desc, then pair lexicographic) read driver-side — a
 * bounded model read, the k-means/PageRank exemption — and a row-local
 * rewrite. `M` is a small constant; the driver loop is unrolled
 * identically by the oracle's chained CTEs. The learned merge list is
 * a stored artifact ([[ModelCache.memo]], tag `bpe-merges`): the q218
 * apply pass serves from it without re-running the learning jobs.
 */
object Bpe {

  /** One learned merge: halves, selection-time weighted pair count,
    * and the exact count-weighted total symbol count after applying
    * it. */
  final case class Merge(pa: String, pb: String, n: Long, symbolsAfter: Long)

  /** The order-free merge-application projection for one learned pair
    * (see class doc), over a column literally named `s`: positions
    * whose LEFT neighbor starts a merge are dropped; positions that
    * start one widen to the merged symbol.
    *
    * Built with the typed Column API, NOT an interpolated `expr(...)`
    * string: learned symbols are corpus-derived data, and a symbol
    * containing a backslash or other SQL-literal metacharacter would
    * parse differently (or not at all) on the Spark side while the
    * DuckDB oracle references CTE columns — `lit()` carries the symbol
    * as a value, so no corpus content ever re-enters a SQL parser. */
  private def applyMerge(pa: String, pb: String): Column =
    applyMerges(Seq((pa, pb)))

  /** Simultaneous application of several SYMBOL-DISJOINT merges (no
    * symbol appears in two pairs, and halves are distinct within a
    * pair): disjointness means a position can start at most one merge
    * and can never both start one and be consumed by another, so the
    * union of the per-pair order-free rules stays a well-defined
    * per-position map. Caller guarantees disjointness
    * ([[learnMergesBatched]]'s greedy pick). */
  private def applyMerges(pairs: Seq[(String, String)]): Column = {
    val s = col("s")
    def at(i: Column) = element_at(s, i)
    def startsMerge(i: Column): Column =
      pairs.map { case (pa, pb) =>
        at(i) === lit(pa) && i < size(s) && at(i + lit(1)) === lit(pb)
      }.reduce(_ || _)
    val kept = filter(sequence(lit(1), size(s)), i =>
      !(i > lit(1) && startsMerge(i - lit(1))))
    transform(kept, i =>
      pairs.foldRight(at(i)) { case ((pa, pb), acc) =>
        when(at(i) === lit(pa) && i < size(s) && at(i + lit(1)) === lit(pb),
          lit(pa + pb)).otherwise(acc)
      })
  }

  /** The `limit` most frequent adjacent symbol pairs of a (wc, s)
    * table, as (pa, pb, n) under the total order (n desc, pa, pb) —
    * a vocab-scale aggregate; self-pairs excluded (class doc). */
  private def topPairs(syms: DataFrame, limit: Int): DataFrame =
    syms
      .select(col("wc"), explode(Grams.pairs("s", "pa", "pb")).as("p"))
      .filter(col("p.pa") =!= col("p.pb"))
      .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .agg(sum(col("wc")).as("n"))
      .orderBy(col("n").desc, col("pa"), col("pb"))
      .limit(limit)

  /** Count-weighted word-frequency table: (word, wc) — the
    * Heaps-sublinear table BPE learning actually consumes, and a
    * MERGEABLE aggregate (counts sum), so it is also the streamed
    * artifact behind live tokenizer re-training
    * ([[graft.streaming.ArtifactMaintenance.wordCountArtifact]]): a
    * deployment re-learns merges from the served vocab-scale table,
    * never re-scanning the corpus. */
  private[graft] def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))

  /** Learn the first `m` merges; memoized per file-backed corpus. */
  private[llm] def learnMerges(docs: DataFrame, m: Int): Seq[Merge] =
    ModelCache.memo(docs, s"bpe-merges|$m") {
      learnMergesFromCounts(wordCounts(docs), m)
    }

  /** [[learnMerges]] from an ALREADY-BUILT (word, wc) table — the
    * batch aggregate or its streamed twin; the whole learning loop is
    * vocab-scale either way. */
  private[graft] def learnMergesFromCounts(counts: DataFrame,
      m: Int): Seq[Merge] = {
      val spark = counts.sparkSession
      import spark.implicits._
      // pinned at every step: iteration k's plan would otherwise nest
      // k rewrite chains over the raw scan, and each of the two jobs
      // per iteration (argmax + symbol total) would recompute the
      // whole chain — measured 23.3 s → ~8 s for the 3-merge build at
      // sf0.1. The pins are vocabulary-sized (Heaps-sublinear).
      var syms = graft.ops.GlobalOrder.pin(
        counts.select(col("wc"), split(col("word"), "").as("s")))
      val out = Seq.newBuilder[Merge]
      for (_ <- 1 to m) {
        val best = topPairs(syms, 1)
          .as[(String, String, Long)]
          .collect() // 1-row model read — the bounded-argmax exemption
        best.foreach { case (pa, pb, n) =>
          syms = graft.ops.GlobalOrder.pin(
            syms.select(col("wc"), applyMerge(pa, pb).as("s")))
          val nSymbols = syms
            .agg(sum(col("wc") * size(col("s"))).as("t"))
            .as[Long].collect().head
          out += Merge(pa, pb, n, nSymbols)
        }
      }
      out.result()
    }

  /**
   * BATCHED merge learning — the production path past the sequential
   * loop's iteration-depth ceiling. [[learnMerges]] runs one Spark job
   * pair per merge; a real ~32k-merge vocabulary would mean ~32k
   * sequential driver round-trips even though each job is
   * vocabulary-scale. This variant selects up to `j` SYMBOL-DISJOINT
   * top pairs per iteration (count desc, then pair lexicographic —
   * the same total order) and applies them simultaneously
   * ([[applyMerges]]), cutting driver round-trips to ~vocab/j.
   *
   * Fidelity: with j=1 this IS the sequential algorithm (spec-pinned
   * equal). With j>1 it is the standard fast-BPE approximation — a
   * batch member selected at rank r>1 ignores the pairs the batch's
   * earlier merges CREATE (disjointness guarantees it destroys/creates
   * none of the batch's own pairs, so every selected pair's count is
   * still exact at application time; what batching skips is only the
   * chance for a newly-created pair to outrank batch members).
   *
   * Candidate read per iteration is `4j + 4` rows — bounded, the same
   * argmax-exemption as the sequential loop. Greedy may pick fewer
   * than `j` when the head of the candidate list shares symbols; it
   * always picks at least the global top pair, so progress is
   * guaranteed whenever any pair remains.
   *
   * @return per-iteration batches, each merge carrying its exact
   *         selection-time count and the post-BATCH total symbol count
   */
  private[llm] def learnMergesBatched(
      docs: DataFrame, iters: Int, j: Int): Seq[Seq[Merge]] = {
    require(iters >= 1 && j >= 1, s"need iters/j >= 1, got $iters/$j")
    val spark = docs.sparkSession
    import spark.implicits._
    var syms = graft.ops.GlobalOrder.pin(
      wordCounts(docs).select(col("wc"), split(col("word"), "").as("s")))
    val out = Seq.newBuilder[Seq[Merge]]
    for (_ <- 1 to iters) {
      val top = topPairs(syms, 4 * j + 4)
        .as[(String, String, Long)]
        .collect() // bounded candidate read (≤ 4j+4 rows)
      val picked = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      val used = scala.collection.mutable.Set.empty[String]
      top.foreach { case t @ (pa, pb, _) =>
        if (picked.size < j && !used(pa) && !used(pb)) {
          picked += t; used += pa; used += pb
        }
      }
      if (picked.nonEmpty) {
        syms = graft.ops.GlobalOrder.pin(
          syms.select(col("wc"),
            applyMerges(picked.toSeq.map(t => (t._1, t._2))).as("s")))
        val nSymbols = syms
          .agg(sum(col("wc") * size(col("s"))).as("t"))
          .as[Long].collect().head
        out += picked.toSeq.map { case (pa, pb, n) => Merge(pa, pb, n, nSymbols) }
      }
    }
    out.result()
  }

  /** Learned first-`m` merges with post-merge corpus size: one row per
    * merge — (merge_rank, pair_a, pair_b, merged, pair_count,
    * n_symbols_after) (q214). */
  def bpeMerges(spark: SparkSession, dir: String, m: Int = 3): DataFrame =
    bpeMergesOf(Tables.documents(spark, dir), m)

  private[llm] def bpeMergesOf(docs: DataFrame, m: Int): DataFrame = {
    require(m >= 1, s"need at least one merge, got $m")
    val spark = docs.sparkSession
    import spark.implicits._
    learnMerges(docs, m).zipWithIndex
      .map { case (mg, i) => (i + 1L, mg.pa, mg.pb, mg.n, mg.symbolsAfter) }
      .toDF("merge_rank", "pair_a", "pair_b", "pair_count", "n_symbols_after")
      .select(col("merge_rank"), col("pair_a"), col("pair_b"),
        concat(col("pair_a"), col("pair_b")).as("merged"),
        col("pair_count"), col("n_symbols_after"))
      .orderBy(col("merge_rank"))
  }

  /**
   * The learned tokenizer APPLIED (q218): per source, the exact
   * count-weighted symbol totals before and after the first-`m` merges
   * and the resulting compression in integer ppm — the per-slice
   * sequence-budget impact of the tokenizer (q177's fertility metric,
   * now under a LEARNED vocabulary instead of the fixed regex).
   *
   * Scale shape: merges serve from the stored `bpe-merges` artifact
   * (no learning jobs at serve); application is the order-free
   * row-local projection chained `m` times over the (source, word)
   * frequency table — vocabulary-sized per source, never the corpus —
   * and the output is one source-cardinality aggregate of exact Long
   * products.
   */
  def bpeApply(spark: SparkSession, dir: String, m: Int = 3): DataFrame =
    bpeApplyOf(Tables.documents(spark, dir), m)

  private[llm] def bpeApplyOf(docs: DataFrame, m: Int): DataFrame = {
    val merges = learnMerges(docs, m)
    val sw = docs
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("n"))
      .withColumn("s", split(col("word"), ""))
    val rewritten = merges.foldLeft(sw) { (df, mg) =>
      df.withColumn("s", applyMerge(mg.pa, mg.pb))
    }
    rewritten
      .groupBy(col("source"))
      .agg(
        sum(col("n")).as("n_words"),
        sum(col("n") * length(col("word"))).as("n_symbols_before"),
        sum(col("n") * size(col("s"))).as("n_symbols_after"))
      .withColumn("compression_ppm",
        expr("(1000000 * n_symbols_after) div n_symbols_before"))
      .orderBy(col("source"))
  }

  // ---- WordPiece-style greedy longest-match apply (q246) -----------

  /**
   * Code-level WordPiece-style vocabulary: multi-char pieces tried
   * longest-first; every lowercase letter and digit is a 1-char
   * fallback piece, and a character absent from even the 1-char tier
   * (uppercase, punctuation) is consumed as an UNK fallback. A fixed
   * inference vocabulary — the learning side of the tokenizer family
   * is q214/q215 (BPE merges / batched learning); this operator covers
   * the OTHER deployment half: applying a frozen vocab at corpus scale.
   */
  val WpVocab: Seq[String] = Seq(
    "tion", "ment", "ness", "able",
    "ing", "ion", "ent", "ate", "est", "the", "and", "her", "ere",
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "es", "or",
    "te", "of", "ed", "is", "it", "al", "ar", "st", "to", "nt") ++
    ('a' to 'z').map(_.toString) ++ ('0' to '9').map(_.toString)

  /** Longest piece length in [[WpVocab]] — the match ladder's top rung. */
  val WpMaxLen = 4

  /** [[WpVocab]] as a DuckDB list literal, generated from the same
    * Seq so the two engines cannot drift (all entries are code-level
    * ASCII identifiers — nothing to escape). */
  def wpVocabSql: String =
    WpVocab.map(s => s"'$s'").mkString("[", ", ", "]")

  /**
   * WordPiece-style greedy longest-match tokenization under the frozen
   * [[WpVocab]], reported per language: words, pieces, UNK fallbacks,
   * exact integer fertility ppm. The per-word tokenizer is ONE
   * `aggregate` fold over the word's character positions — each step
   * consumes >= 1 character (the longest matching piece, else a 1-char
   * UNK), surplus steps no-op — so the whole operator is row-local
   * builtins: no UDF, no join, no state. The oracle replays the
   * identical ladder as a recursive CTE.
   *
   * Scale shape: per-word work is O(len) with a constant-size
   * literal vocab, and the DP runs once per DISTINCT (lang, word) —
   * the q214 word-count pre-reduction (Heaps' law: vocabulary-scale,
   * not instance-scale; measured 8.6 s → 1.1 s at sf0.1) — behind one
   * word-keyed aggregate, then a few-key per-language sum of
   * count-weighted integers.
   */
  def wordpieceTokens(spark: SparkSession, dir: String): DataFrame =
    wordpieceTokensOf(Tables.documents(spark, dir))

  private[llm] def wordpieceTokensOf(docs: DataFrame,
      vocabList: Seq[String] = WpVocab, maxLen: Int = WpMaxLen): DataFrame = {
    val vocab = array(vocabList.map(lit): _*)
    val w = col("w")
    // the q214 word-count discipline: tokenize each DISTINCT
    // (lang, word) ONCE and weight by its count — Heaps' law makes the
    // distinct table far smaller than the instance stream, and the DP
    // fold is the expensive part (measured 8.6 s → instance-level at
    // sf0.1; the pre-reduction collapses it to vocabulary-scale work
    // behind one word-keyed aggregate)
    val words = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(w) > 0)
      .groupBy(col("lang"), w).agg(count(lit(1)).as("cnt"))
    val state = aggregate(
      sequence(lit(1), length(w)),
      struct(lit(0).as("pos"), lit(0).as("ntok"), lit(0).as("nunk")),
      (st, _) => {
        val pos = st.getField("pos")
        def cand(k: Int) = w.substr(pos + 1, lit(k))
        val matches = (maxLen to 1 by -1)
          .map(k => k -> array_contains(vocab, cand(k)))
        val piece = matches.foldRight(cand(1)) { case ((k, m), alt) =>
          when(m, cand(k)).otherwise(alt)
        }
        val matched = matches.map(_._2).reduce(_ || _)
        when(pos >= length(w), st).otherwise(struct(
          (pos + length(piece)).as("pos"),
          (st.getField("ntok") + 1).as("ntok"),
          (st.getField("nunk") + when(matched, 0).otherwise(1)).as("nunk")))
      })
    words
      .select(col("lang"), col("cnt"),
        state.getField("ntok").as("ntok"),
        state.getField("nunk").as("nunk"))
      .groupBy(col("lang"))
      .agg(
        sum(col("cnt")).as("n_words"),
        sum(col("ntok") * col("cnt")).as("n_pieces"),
        sum(col("nunk") * col("cnt")).as("n_unk"))
      .withColumn("fertility_ppm", expr("(1000000 * n_pieces) div n_words"))
      .orderBy(col("lang"))
  }

  // ---- unigram-LM Viterbi segmentation (q248) ----------------------

  /**
   * Frozen per-piece integer costs for [[viterbiTokens]] (smaller =
   * more probable — the integer stand-in for −log p(piece) that keeps
   * the DP bit-exact cross-engine): multi-char [[WpVocab]] pieces cost
   * less per character than spelling them out, 1-char vocab pieces 48,
   * and a non-vocab character falls back at [[VitUnkCost]].
   */
  val VitCosts: Map[String, Long] = WpVocab.map { p =>
    p -> (p.length match {
      case 4 => 12L
      case 3 => 24L
      case 2 => 36L
      case _ => 48L
    })
  }.toMap

  /** Fallback cost of consuming one non-vocab character. */
  val VitUnkCost = 300L

  /** Radix packing the (total_cost, n_pieces) pair into one Long
    * metric: m = cost · VitRadix + n_pieces. n_pieces ≤ word length,
    * so a radix of 10^7 keeps the fields disjoint up to 10M-piece
    * words (a 1000-radix corrupted both fields on any unbroken token
    * ≥ 1000 chars — base64/URL strings common in web corpora). Metric
    * headroom: cost ≤ 300·len, so m ≤ 3e9·len + len — under Long.Max
    * for words shorter than ~3e9 chars, i.e. unbounded in practice. */
  val VitRadix = 10000000L

  /** Order-pinned (piece, cost) pairs for literal-map construction and
    * the oracle's VALUES table — one source, no drift. */
  def vitCostSeq: Seq[(String, Long)] = WpVocab.map(p => p -> VitCosts(p))

  /** [[vitCostSeq]] as DuckDB VALUES rows. */
  def vitCostsSql: String =
    vitCostSeq.map { case (p, c) => s"('$p', $c)" }.mkString(", ")

  /**
   * EXACT minimum-cost segmentation (unigram-LM Viterbi, the
   * SentencePiece inference step) under the frozen [[VitCosts]] —
   * the optimal counterpart to [[wordpieceTokens]]'s greedy ladder,
   * which this provably beats when a long piece blocks two cheap
   * short ones. Per word the DP is ONE `aggregate` fold over
   * character positions whose state is the 4-slot window
   * (M[i−1..i−4]) of best-so-far values; each candidate piece length
   * k contributes M[i−k] + cost·[[VitRadix]] + 1, so the accumulated
   * metric is VitRadix·total_cost + n_pieces — cost-optimal first,
   * fewest pieces as the deterministic tiebreak, decodable by div/mod
   * (radix 10^7, so the fields stay disjoint to 10M-piece words). Row-local
   * codegen'd builtins (literal cost map, `least` over non-null
   * options); per-lang few-key sums. The oracle replays the identical
   * recurrence as a recursive CTE carrying the same 4-slot state.
   *
   * Scale: O(len · maxPieceLen) integer ops per DISTINCT (lang, word)
   * — the same count-weighted pre-reduction as q246 — zero joins,
   * zero state, which is exactly why exact Viterbi (not greedy
   * approximation) is affordable at 100 TB.
   */
  def viterbiTokens(spark: SparkSession, dir: String): DataFrame =
    viterbiTokensOf(Tables.documents(spark, dir), vitCostSeq, VitUnkCost)

  private[llm] def viterbiTokensOf(docs: DataFrame,
      costs: Seq[(String, Long)], unkCost: Long,
      maxK: Int = WpMaxLen): DataFrame = {
    val Inf = 1000000000000000000L // defensive: slots guarded by i >= k
    val costMap = map(costs.flatMap { case (p, c) =>
      Seq(lit(p), lit(c)) }: _*)
    val w = col("w")
    // distinct-word pre-reduction, exactly as in wordpieceTokensOf —
    // the DP runs once per (lang, word), weighted by count
    val words = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(w) > 0)
      .groupBy(col("lang"), w).agg(count(lit(1)).as("cnt"))
    val init = struct(
      lit(0L).as("m1") +: (2 to maxK).map(k => lit(Inf).as(s"m$k")): _*)
    // state BEFORE step i holds (M[i-1], ..., M[i-maxK])
    val state = aggregate(
      sequence(lit(1), length(w)),
      init,
      (st, i) => {
        val prev = (1 to maxK).map(k => st.getField(s"m$k"))
        val options = (1 to maxK).map { k =>
          val piece = w.substr(i - (k - 1), lit(k))
          val c = element_at(costMap, piece)
          // null when the piece is absent OR the window would cross the
          // word start (i < k) — least() skips nulls
          when(i >= k && length(piece) === k,
            prev(k - 1) + c * VitRadix + 1L)
        } :+ (prev.head + lit(unkCost * VitRadix + 1L)) // 1-char UNK fallback
        val mi = least(options: _*)
        struct(
          mi.as("m1") +: (2 to maxK).map(k => prev(k - 2).as(s"m$k")): _*)
      })
    words
      .select(col("lang"), col("cnt"), state.getField("m1").as("m"))
      .select(col("lang"), col("cnt"), expr(s"m div $VitRadix").as("cost"),
        pmod(col("m"), lit(VitRadix)).as("npieces"))
      .groupBy(col("lang"))
      .agg(
        sum(col("cnt")).as("n_words"),
        sum(col("cost") * col("cnt")).as("total_cost"),
        sum(col("npieces") * col("cnt")).as("n_pieces"))
      .withColumn("fertility_ppm", expr("(1000000 * n_pieces) div n_words"))
      .withColumn("cost_per_word_centi", expr("(100 * total_cost) div n_words"))
      .orderBy(col("lang"))
  }

  // ---- learned-artifact inference (q251/q252) -----------------------
  //
  // Closes the tokenizer learning→inference loop: q246/q248 apply
  // HAND-FROZEN literal tables; these variants derive the inference
  // vocabulary and piece costs from the STORED `bpe-merges` artifact
  // (q214's memoized learning output, whose word-count input is also
  // stream-maintained), so a deployment serves the learned tokenizer
  // with NO corpus re-scan and no hand-maintained table. The derivation
  // is all-integer (bit lengths, not float logs), so the DuckDB oracle
  // replays it exactly on top of the same learning CTEs.

  /** Fixed base alphabet of the learned tokenizer — like byte-level
    * BPE's 256-byte tier, the alphabet is NOT learned; only the merge
    * list is. Matches the fixture corpus's [a-z0-9] character set. */
  val BaseAlphabet: Seq[String] =
    ('a' to 'z').map(_.toString) ++ ('0' to '9').map(_.toString)

  /** [[BaseAlphabet]] as a DuckDB list literal — one source, no drift. */
  def baseAlphabetSql: String =
    BaseAlphabet.map(s => s"'$s'").mkString("[", ", ", "]")

  /** Per-character cost of the base tier (and of spelling a learned
    * piece out), matching [[VitCosts]]' 1-char rung. */
  val BaseCharCost = 48L

  /** The ORACLE's static recursion width for the learned-tokenizer
    * queries (m = 3). Self-pairs are excluded from merges, so learned
    * piece lengths grow Fibonacci-style (distinct halves:
    * L(k) ≤ L(k−1) + L(k−2), L(1) = 2): m = 3 tops out at 5 chars and
    * 6 leaves slack. The SCALA path does NOT rely on this constant —
    * [[wordpieceTokensLearned]]/[[viterbiTokensLearned]] derive their
    * ladder/window width from the ACTUAL learned vocab, so a caller
    * passing m = 4+ (8-char pieces and beyond) still reaches every
    * learned piece; extra rungs/slots beyond the true max never match,
    * so any width ≥ max piece length yields identical results (which
    * is why the m = 3 oracle at width 6 stays bit-equal). */
  val LearnedMaxLen = 6

  /** Ladder/DP width for a derived vocab: the longest piece, floored
    * at the oracle's static width so the registered m = 3 queries keep
    * the exact plan shape the fingerprint baseline records. */
  private def learnedWidth(vocab: Seq[String]): Int =
    math.max(LearnedMaxLen, vocab.map(_.length).max)

  /** Bit length of a positive count — floor(log2 n) + 1, exact integer
    * arithmetic in both engines (oracle: `len(bin(n))`). */
  private[llm] def bitLen(n: Long): Long =
    64L - java.lang.Long.numberOfLeadingZeros(n)

  /** Derived integer cost of a learned piece: spelling it out costs
    * [[BaseCharCost]] per char; the merge earns a frequency bonus of
    * 16 per BIT of its stored selection-time pair count — the integer
    * stand-in for −log p that keeps the DP bit-exact cross-engine.
    * Floored at 1 so a cost can never reach 0 (a free piece would make
    * the DP degenerate). */
  private[llm] def learnedCost(piece: String, n: Long): Long =
    math.max(1L, BaseCharCost * piece.length - 16L * bitLen(n))

  /** (piece, cost) table derived from the stored merge ledger: base
    * alphabet at [[BaseCharCost]] + each merge output at its
    * [[learnedCost]]. Distinct merges can in principle emit the same
    * string ("a"+"bc" vs "ab"+"c"); ties resolve to the MIN cost —
    * the same rule the oracle's `GROUP BY piece` replays. Serving
    * reads the memoized `bpe-merges` artifact — zero learning jobs,
    * zero corpus scans. */
  private[graft] def learnedCostSeq(docs: DataFrame, m: Int): Seq[(String, Long)] = {
    val merged = learnMerges(docs, m).map { mg =>
      (mg.pa + mg.pb) -> learnedCost(mg.pa + mg.pb, mg.n) }
    val all = BaseAlphabet.map(_ -> BaseCharCost) ++ merged
    all.groupBy(_._1).map { case (p, cs) => p -> cs.map(_._2).min }
      .toSeq.sortBy(_._1)
  }

  /** The learned inference vocabulary: base alphabet + merge outputs. */
  private[graft] def learnedVocab(docs: DataFrame, m: Int): Seq[String] =
    learnedCostSeq(docs, m).map(_._1)

  /** [[wordpieceTokens]] under the LEARNED vocabulary (q251): the
    * greedy longest-match ladder, with the vocab derived from the
    * stored `bpe-merges` artifact instead of the frozen [[WpVocab]].
    * Same scale shape as q246 — the ladder is row-local builtins over
    * the distinct-word table; the vocab is a driver-side literal read
    * from the artifact, never a join. */
  def wordpieceTokensLearned(spark: SparkSession, dir: String,
      m: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val vocab = learnedVocab(docs, m)
    wordpieceTokensOf(docs, vocab, learnedWidth(vocab))
  }

  /** [[viterbiTokens]] under the LEARNED cost table (q252): exact
    * minimum-cost segmentation where vocab AND costs come from the
    * stored merge ledger ([[learnedCostSeq]]). Same scale shape as
    * q248 with a 6-slot DP window. */
  def viterbiTokensLearned(spark: SparkSession, dir: String,
      m: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val costs = learnedCostSeq(docs, m)
    viterbiTokensOf(docs, costs, VitUnkCost, learnedWidth(costs.map(_._1)))
  }
}
