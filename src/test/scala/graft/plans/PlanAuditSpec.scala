package graft.plans

import graft.{SparkEntry, SparkSpec}

/**
 * Central plan-quality audit: for each representative query, assert the
 * physical plan has the scale-critical shape — not just that it
 * computes the right answer.
 */
class PlanAuditSpec extends SparkSpec {

  private def auditOf(name: String) = {
    // Audits pin the UNCACHED plan shape. Other suites sharing this JVM
    // .cache() intermediate results of the same queries; the shared
    // CacheManager would then substitute an InMemoryRelation into the
    // audited plan and shift exchange counts with suite ORDER (observed:
    // q95 2→4 exchanges when TextAnalysisSpec's cached repeatedPassages
    // survives into this suite). Clearing per audit keeps pins
    // deterministic regardless of which suites ran first. ModelCache is
    // invalidated too: a memoized index DataFrame another suite already
    // COLLECTED carries a finalized AQE plan whose query-stage wrapping
    // (ReusedExchange etc.) shifts the counts — a fresh unexecuted
    // build is the deterministic shape the pins describe.
    spark.catalog.clearCache()
    graft.llm.ModelCache.invalidate()
    PlanChecks.audit(SparkEntry.queries(name)(spark, sf))
  }

  test("q02 projection: filter pushed to parquet, scan reads only used columns") {
    val a = auditOf("q02_projection")
    assert(a.pushedFilters.exists(_.contains("GreaterThanOrEqual(l_quantity,30.0)")), a)
    assert(a.readSchemas.exists(s =>
      s.contains("l_orderkey") && !s.contains("l_extendedprice")), a)
  }

  test("q11/q26 dimension joins broadcast, never sort-merge") {
    Seq("q11_dimension_join", "q26_snowflake_revenue").foreach { q =>
      val a = auditOf(q)
      assert(a.broadcastHashJoins >= 2 && a.sortMergeJoins == 0, s"$q: $a")
    }
  }

  test("q04/q12 top-k plans use TakeOrderedAndProject, not a global sort") {
    Seq("q04_topk", "q12_revenue_topk").foreach { q =>
      assert(auditOf(q).hasTakeOrderedAndProject, q)
    }
  }

  test("q10 aggregation is two-phase (map-side partial before the exchange)") {
    val a = auditOf("q10_pricing_summary")
    assert(a.hashAggregates >= 2, a) // partial + final
    assert(a.shuffleExchanges <= 2, a) // agg + output sort, nothing more
  }

  test("q06 fan-out aggregation needs exactly one data shuffle (plus output sort)") {
    val a = auditOf("q06_entity_fanout")
    assert(a.shuffleExchanges <= 3, a)
  }

  test("no relational query degenerates into a nested-loop join") {
    // cross joins are legitimate only where a broadcast side is by
    // construction tiny (similarity queries vs the query/centroid set)
    val allowedNestedLoop = Set(
      "q34_cosine_topk", "q35_embedding_neardup", "q52_ivf_ann",
      "q59_top_supplier", "q56_tfidf", "q63_kmeans")
    Seq("q12_revenue_topk", "q13_semi_join", "q14_anti_join",
      "q25_above_avg", "q28_asof_join", "q57_big_orders", "q64_range_join",
      // the LSH/banding dedup family must stay equi-joins on bucket keys
      "q32_minhash_lsh", "q62_simhash_pairs", "q91_decontaminate")
      .foreach { q =>
        val a = auditOf(q)
        assert(a.nestedLoopJoins == 0, s"$q: $a")
      }
  }

  test("no forced broadcast hint on a scale-growing table") {
    // hints must survive only on fixed-size dims (region/nation) or
    // single-row aggregates; customer/supplier/part/vocabulary joins are
    // AQE's call (VERDICT r1: a forced hint defeats the SMJ fallback)
    Seq("q26_snowflake_revenue", "q56_tfidf", "q57_big_orders",
      "q58_promo_share", "q59_top_supplier", "q81_local_volume",
      "q11_dimension_join", "q12_revenue_topk", "q79_string_agg")
      .foreach { q =>
        val v = PlanChecks.forcedBroadcastViolations(
          SparkEntry.queries(q)(spark, sf))
        assert(v.isEmpty, s"$q: ${v.mkString("; ")}")
      }
  }

  test("correlated subqueries decorrelate into joins, never per-row re-scans") {
    // Q2/Q20/Q17-style correlated scalars must come out of Catalyst as
    // grouped aggregates joined back — a nested-loop join here would
    // mean a per-outer-row lineitem re-scan (fatal at 100 TB)
    Seq("q84_min_cost_supplier", "q85_dominant_supplier",
      "q86_small_qty_revenue", "q99_idle_customers").foreach { q =>
      val a = auditOf(q)
      assert(a.nestedLoopJoins == 0, s"$q: $a")
      assert(a.joins >= 1, s"$q should decorrelate into at least one join: $a")
    }
  }

  test("q87 salted join spreads each key over salt buckets with no hint") {
    val v = PlanChecks.forcedBroadcastViolations(
      SparkEntry.queries("q87_salted_join")(spark, sf))
    assert(v.isEmpty, v.mkString("; "))
    assert(auditOf("q87_salted_join").nestedLoopJoins == 0)
  }

  test("q01 flagship: events range filter prunes the scan") {
    val a = auditOf("q01_incremental_scan")
    assert(a.pushedFilters.exists(_.contains("IsNotNull(props)")), a)
  }

  test("q95 passage dedup is a pure group-by: no join anywhere in the plan") {
    val a = auditOf("q95_repeated_passages")
    assert(a.joins == 0 && a.nestedLoopJoins == 0, a)
    assert(a.hasTakeOrderedAndProject, s"top-100 cut should be TakeOrdered: $a")
  }

  test("q97 OOV probe joins against a broadcast vocabulary, never sort-merge") {
    val a = auditOf("q97_oov_rate")
    assert(a.broadcastHashJoins >= 1 && a.sortMergeJoins == 0, a)
    assert(a.nestedLoopJoins == 0, a)
  }

  test("round-4 queries keep equi-join shapes (no nested loops)") {
    Seq("q68_inverted_index", "q69_dedup_survivors", "q101_incremental_dedup")
      .foreach { q =>
        val a = auditOf(q)
        assert(a.nestedLoopJoins == 0, s"$q: $a")
      }
  }

  test("round-5 queries keep equi-join shapes (no nested loops)") {
    Seq("q103_countmin", "q104_bloom_join", "q109_containment",
      "q110_stratified_sample", "q111_kll_quantiles", "q112_funnel",
      "q113_retention", "q115_transitions").foreach { q =>
      val a = auditOf(q)
      assert(a.nestedLoopJoins == 0, s"$q: $a")
    }
    // q105's two cross joins are the single-row corpus totals (the
    // q59-style scalar pattern) — anything beyond those is a regression
    assert(auditOf("q105_pmi").nestedLoopJoins <= 2)
  }

  test("round-5 queries force no broadcast beyond single-row scalars") {
    // sketch/bit-set/estimate tables are bounded by construction but
    // unhinted — AQE broadcasts them from runtime sizes; the only
    // surviving hints are single-row totals (q105)
    Seq("q103_countmin", "q104_bloom_join", "q105_pmi", "q107_window_zscore",
      "q109_containment", "q110_stratified_sample", "q111_kll_quantiles",
      "q112_funnel", "q113_retention", "q114_unpivot", "q115_transitions")
      .foreach { q =>
        val v = PlanChecks.forcedBroadcastViolations(
          SparkEntry.queries(q)(spark, sf))
        assert(v.isEmpty, s"$q: ${v.mkString("; ")}")
      }
  }

  test("q114 unpivot plans a generator, not a shuffle per metric") {
    val a = auditOf("q114_unpivot")
    // one agg exchange + one output sort; the melt itself is free
    assert(a.shuffleExchanges <= 2, a)
  }

  test("similarity top-k family ranks via TopKPerKey — no window, no per-key sort") {
    // round-5 verdict: the emitted-rank row_number window shuffled the
    // full candidate set to per-query reducers and fully sorted each
    // partition — the last 100×-scale shuffle amplifier. The rank now
    // comes from the bounded-heap operator; the only surviving sort is
    // the k·queries-row output presentation.
    Seq("q34_cosine_topk", "q36_ann_lsh", "q52_ivf_ann", "q158_pq_ann",
        "q160_ivfpq_ann",
        // round 9: per-source keyword lift ranks through the same
        // bounded heap — the vocab table never sorts per source
        "q171_source_keywords").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      val plan = df.queryExecution.sparkPlan.toString
      assert(plan.contains("TopKPerKey"), s"$q plan lacks TopKPerKey:\n$plan")
      val a = PlanChecks.audit(df)
      assert(a.windows == 0, s"$q still plans a window: $a")
      assert(a.sorts <= 1, s"$q sorts beyond the output presentation: $a")
    }
  }

  test("PQ pair scoring reads the pinned index, never a live encode projection") {
    // the codegen-deferral guard: exchange/join counts do NOT change if
    // the index pin is dropped, but the per-pair join loop would then
    // re-run the argmin encode once per (candidate, query) pair —
    // measured 21 s vs 0.7 s at sf0.1. The pinned index surfaces as a
    // checkpoint RDD scan in the physical plan; assert it's there.
    Seq("q158_pq_ann", "q160_ivfpq_ann").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Scan ExistingRDD"),
        s"$q must score pairs from the pinned index (checkpoint scan):\n$plan")
    }
  }

  test("memoized serve paths read their stored artifact and scan the corpus at most once") {
    // round-9 verdict #1/#2 (plus the follow-up simhash/dup-gram
    // artifacts): the serve plan must read the per-corpus artifact as
    // a checkpoint scan and make at most ONE pass over documents —
    // a regression that drops the memo re-derives the artifact from a
    // second corpus scan, exactly the double-pass shape this closed
    val maxDocScans = Map(
      "q164_dsir_select"      -> 1, // scoring pass; weight table pinned
      "q168_bigram_novelty"   -> 1, // scoring pass; LM counts pinned
      "q33_simhash"           -> 0, // pure artifact read
      "q62_simhash_pairs"     -> 0, // banding over the pinned signatures
      "q170_dup_span_coverage" -> 1, // join-back pass; gram sliver pinned
      "q226_kmv_overlap"      -> 0, // sketch + audit over the gram artifact
      "q227_kmv_distinct"     -> 0, // sketch + exact count, same artifact
      // round 11: the winnowed fingerprint table became the stored
      // winnow-fps artifact — decontamination screens serve from the
      // one signing pass (q229's single scan is its source rollup)
      "q163_decontaminate"    -> 0,
      "q229_cluster_decontaminate" -> 1)
    maxDocScans.foreach { case (q, maxScans) =>
      spark.catalog.clearCache()
      graft.llm.ModelCache.invalidate()
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Scan ExistingRDD"),
        s"$q must serve from its pinned per-corpus artifact:\n$plan")
      val docScans = "documents\\.parquet".r.findAllIn(plan).size
      assert(docScans <= maxScans,
        s"$q scans documents $docScans times (max $maxScans) — artifact memo lost?")
    }
  }

  test("split/weighting serve plans broadcast the label sliver and scan the corpus once") {
    // q223/q224 join the corpus against the stored near-dup label
    // artifact: the labels must broadcast (never reshuffle the corpus)
    // and documents must be scanned exactly once per serve
    Seq("q223_leakage_safe_split", "q224_dup_weighting").foreach { q =>
      spark.catalog.clearCache()
      graft.llm.ModelCache.invalidate()
      val df = SparkEntry.queries(q)(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Scan ExistingRDD"),
        s"$q must serve from the pinned label artifact:\n$plan")
      val docScans = "documents\\.parquet".r.findAllIn(plan).size
      assert(docScans <= 1,
        s"$q scans documents $docScans times — label memo lost?")
      val a = auditOf(q)
      assert(a.sortMergeJoins == 0, s"$q: corpus-side join degraded to SMJ: $a")
    }
  }

  test("q118 fuzzy join serves from the stored signature index, equi-joins only") {
    // the blocking index (fuzzy-sig) is a stored artifact: serve must
    // read it as a checkpoint scan — a regression that re-signs the
    // catalog per query shows up as a missing ExistingRDD scan here —
    // and the candidate join must stay an equi-join on signature keys
    spark.catalog.clearCache()
    graft.llm.ModelCache.invalidate()
    val df = SparkEntry.queries("q118_fuzzy_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"),
      s"q118 must serve from the pinned signature index:\n$plan")
    val a = PlanChecks.audit(df)
    assert(a.nestedLoopJoins == 0, s"q118 degenerated to a nested loop: $a")
  }

  test("q231 curation report reads two stored artifacts and scans the corpus once") {
    // the composed report must SERVE from the lsh-pairs and
    // neardup-labels artifacts (checkpoint scans) and make exactly one
    // pass over documents — a regression that re-derives either
    // artifact shows up as a second documents scan here
    spark.catalog.clearCache()
    graft.llm.ModelCache.invalidate()
    val df = SparkEntry.queries("q231_curation_report")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"),
      s"q231 must serve from pinned artifacts:\n$plan")
    val docScans = "documents\\.parquet".r.findAllIn(plan).size
    assert(docScans <= 1,
      s"q231 scans documents $docScans times — artifact memo lost?")
    val a = PlanChecks.audit(df)
    assert(a.sortMergeJoins == 0, s"artifact joins degraded to SMJ: $a")
  }

  test("plan snapshots: exchange and join counts pinned for headline queries") {
    // golden counts (shuffle exchanges, broadcast exchanges, joins,
    // windows) so a code or Catalyst change that adds an exchange fails
    // here instead of surfacing as a bench eyeball (round-5 verdict #4)
    val pinned = Map(
      "q01_incremental_scan" -> (0, 0, 0, 0),
      "q02_projection"       -> (1, 0, 0, 0),
      "q06_entity_fanout"    -> (3, 0, 0, 0),
      "q10_pricing_summary"  -> (2, 0, 0, 0),
      "q12_revenue_topk"     -> (1, 1, 1, 0),
      // q32 serves the pinned lsh-pairs artifact as is: the bucket
      // join, the candidate verify and the output sort all ran once at
      // the memo build, so the served plan is one checkpoint scan
      "q32_minhash_lsh"      -> (0, 0, 0, 0),
      "q34_cosine_topk"      -> (2, 1, 0, 0),
      "q36_ann_lsh"          -> (2, 1, 1, 0),
      "q52_ivf_ann"          -> (2, 1, 1, 0),
      // q158 PQ (stored-index shape): the ADC stage scans the PINNED
      // compact index vs broadcast LUTs; the rerank joins the broadcast
      // shortlist back against the corpus for vectors. Three exchanges,
      // but only the stage-1 one ever carries more than shortlist-sized
      // rows (and it carries at most depth·queries·partitions rows)
      "q158_pq_ann"          -> (3, 3, 2, 0),
      // q160 IVF×PQ: q158's shape plus the cell-id broadcast hash join
      // in place of the cross join — cell pruning costs no exchange
      "q160_ivfpq_ann"       -> (3, 3, 3, 0),
      "q94_topk_per_key"     -> (2, 0, 0, 0),
      "q95_repeated_passages" -> (2, 0, 0, 0),
      "q100_rank_rewrite"    -> (2, 0, 0, 0),
      // grouped-GlobalOrder family (round 7): the range exchange is
      // the only fact-scale shuffle (the segment census runs as its own
      // tiny job at build time); offsets come back as LocalRelation
      // broadcasts; zero windows by construction
      "q67_distribution_ranks"  -> (1, 1, 1, 0),
      // q107's trailing sums are the seeded ring buffer — the
      // prefix-difference self-join (2 more exchanges) is gone
      "q107_window_zscore"      -> (1, 1, 1, 0),
      "q110_stratified_sample"  -> (2, 2, 2, 0),
      "q138_quantile_normalize" -> (1, 1, 1, 0),
      "q140_order_concurrency"  -> (2, 1, 1, 0),
      "q146_source_quantiles"   -> (2, 1, 1, 0),
      "q147_nucleus_vocab"      -> (4, 2, 2, 0),
      "q148_repetition"         -> (3, 0, 0, 0),
      // q155 winnowing: hashing + window-min selection are row-local
      // array folds; the only exchanges are the two-phase (fp, doc) →
      // fp aggregate, exactly q95's shape at ~2/(w+1) the shuffle rows
      "q155_winnow_dedup"       -> (2, 0, 0, 0),
      // q156 rarity: token agg + frequency probe + doc agg; the probe
      // joins broadcast at fixture scale (vocab under the threshold) —
      // at corpus scale AQE decides SMJ, and skew stays AQE's job
      "q156_token_rarity"       -> (3, 1, 1, 0),
      // q157 balanced sample: centroid assignment is literal arithmetic
      // (no shuffle); heap cap + totals agg + output sort, cells-row
      // totals broadcast back
      "q157_cluster_sample"     -> (3, 1, 1, 0),
      // round-10 additions — all pure aggregate pipelines: corpus-keyed
      // hash agg, then a tiny-key agg and/or the output sort; no joins,
      // no windows anywhere
      "q173_dup_spectrum"       -> (3, 0, 0, 0),
      "q174_simpson_diversity"  -> (3, 0, 0, 0),
      "q175_cross_source_exact" -> (3, 0, 0, 0),
      "q176_zorder_layout"      -> (2, 0, 0, 0),
      "q177_token_fertility"    -> (2, 0, 0, 0),
      // round-10 curation additions: q178 is pure row-local arithmetic
      // (the one exchange is the presentation sort); q180's only join
      // is the broadcast of the one-row corpus statistics; q181 is
      // exactly q34's scan-vs-broadcast shape with the label filter
      // folded before the heap
      "q178_gopher_rules"       -> (1, 0, 0, 0),
      // q179 audits the SERVE plan: the corpus bigram join runs at
      // pin-build (perSrc is a stored source-cardinality checkpoint);
      // what remains is the output sort plus three scalar broadcasts
      "q179_domain_reweight"    -> (1, 3, 0, 0),
      // q180: ZERO data shuffles — the one-row stats agg broadcasts
      // (BNLJ, not in `joins`), tf counts are row-local, and the global
      // top-k is TakeOrderedAndProject
      "q180_bm25"               -> (0, 1, 0, 0),
      "q181_hard_negatives"     -> (2, 1, 0, 0),
      // q182 serves from the pinned (source, word) aggregate: the five
      // exchanges are the word/source/grand re-aggregations of that
      // vocab-sized table plus the output sort — none corpus-scale
      "q182_source_divergence"  -> (5, 3, 2, 0),
      "q183_source_overlap"     -> (4, 3, 3, 0),
      // q184: the FIM cut/slice surgery is pure row-local array
      // arithmetic — only the presentation sort exchanges
      "q184_fim_transform"      -> (1, 0, 0, 0),
      // q185 serves from the pinned source-token table: one output
      // sort plus the broadcast scalar pair — the corpus scan ran once
      // at pin-build
      "q185_repeat_epochs"      -> (1, 1, 0, 0),
      // q186: the boundary aggregate reuses the packing window's
      // (source, shard) partitioning — no third exchange
      "q186_pack_boundaries"    -> (2, 0, 0, 1),
      // q188: two-phase GlobalOrder ranks — the exclusive offsets fold
      // on the driver over ≤ shuffle-partitions rows and come back as a
      // broadcast LocalRelation, so the plan has no window and no
      // offset-aggregate exchange; the only shuffle is the output sort
      // (the range partition sits below the pin)
      "q188_curriculum"         -> (1, 1, 1, 0),
      // q189: one per-doc window (corpus-cardinality key) + output sort
      "q189_chunk_pairs"        -> (2, 0, 0, 1),
      // q190: q32's serve shape (the pinned pair set) with the split
      // assignment as row-local md5 expressions on the pair rows: the
      // leakage audit adds ZERO joins over the pair list; the one
      // exchange is its output sort
      "q190_split_leakage"      -> (1, 0, 0, 0),
      // q191: pure row-local projection — the only exchange is the
      // output sort's range partitioning
      "q191_readability"        -> (1, 0, 0, 0),
      // q192: the corpus aggregate hides behind the pin (serve reads
      // the checkpointed source table); the single-row totals cross in
      // as a broadcast (nested-loop, so joins=0 here), plus the output
      // sort's range exchange
      "q192_temperature_mix"    -> (1, 1, 0, 0),
      // q193: serve reads the pinned (source, prefix) aggregate; one
      // re-aggregate to source totals, broadcast back, output sort
      "q193_boilerplate"        -> (2, 1, 1, 0),
      // q194: two bounded brute-force rankings (each the q34 shape:
      // broadcast query set + heap top-k exchange) + the recall joins
      "q194_matryoshka_recall"  -> (7, 3, 2, 0),
      // q195: ONE running-sum window over (source, shard); the budget
      // lanes are a row-local explode feeding two-phase aggregates
      "q195_pack_efficiency"    -> (3, 0, 0, 1),
      // q196: doc-cardinality label join before the explode; pinned
      // (cell, tok) aggregate feeds three marginals; TopKPerKey rank
      // (q171's shape over the learned cells)
      "q196_cluster_terms"      -> (6, 1, 2, 0),
      // q197: q194's two-ranking recall shape — the quantized side is
      // a row-local transform against the min/max literals
      "q197_quant_recall"       -> (7, 3, 2, 0),
      // q198: serve reads the pinned source-unigram artifact; heap
      // top-k + the rank-1 anchor broadcast join + output sort
      "q198_zipf_deviation"     -> (3, 1, 1, 0),
      // q199: the pinned pair set (see q32) plus the two decile
      // aggregates, the pinned max-id scalar broadcast into both, the
      // decile left join and the output sort
      "q199_dup_trend"          -> (4, 2, 1, 0),
      // q200: the pinned pair set (see q32) feeding the near-dup flag, the
      // keep-lowest window on the digest (corpus-cardinality key —
      // replaces a digest self-join that would scan the corpus twice),
      // the gopher flag join, and ONE group-less aggregate exploded
      // into the five stage rows; two corpus scans total (base + the
      // gopher rule projection)
      "q200_curation_funnel"    -> (3, 1, 2, 1),
      // q250: markup extraction is ONE row-local projection — the only
      // exchange is the presentation sort; zero joins/aggregates/windows
      "q250_html_extract"       -> (1, 0, 0, 0),
      // q251/q252: learned tokenizers — distinct-(lang,word) aggregate,
      // the few-key per-lang re-aggregate, the output sort; the learned
      // vocab/costs are driver-side literals read from the artifact,
      // NEVER a join
      "q251_wordpiece_learned"  -> (3, 0, 0, 0),
      "q252_viterbi_learned"    -> (3, 0, 0, 0),
      // q253: the q250 projection into one source-cardinality aggregate
      // (map-side combinable) + the output sort — zero joins
      "q253_extract_funnel"     -> (2, 0, 0, 0),
      // q254: row-local synth + box walk; only the presentation sort
      "q254_mp4_meta"           -> (1, 0, 0, 0),
      // q255: four group-less aggregates (one per format's read-back)
      // unioned — each is a map-side-complete partial + singleton merge
      "q255_format_roundtrip"   -> (4, 0, 0, 0),
      // q257: the labels are the pinned neardup-labels artifact (the
      // star-contraction rounds never appear) — the SERVED plan is just
      // the degree row count, its join onto the labels, and the output
      // sort; nothing corpus-scale survives into the serve plan
      "q257_cc_stars"           -> (3, 0, 1, 0),
      // q258: the recursion (UnionLoopExec) iterates over the PINNED
      // catalog-sized edge list — no join exec outside the loop, one
      // aggregate + the output sort
      "q258_source_reach"       -> (2, 0, 0, 0),
      // q259: one group-less map-side-complete aggregate over the XML
      // read-back — zero exchanges in the unexecuted plan
      "q259_xml_roundtrip"      -> (0, 0, 0, 0),
      // q260: the per-doc score sliver is MEMOIZED+PINNED (round 16's
      // `doc-scores` tag — the vocab-scale model assembly, the one
      // fact-scale slots⋈model join and the doc aggregate all live
      // inside the pin build, shared with q267), so the SERVED plan is
      // the presentation sort over the pinned sliver and nothing else
      "q260_kn_doc_score"       -> (1, 0, 0, 0),
      // q261: the residual route keeps q160's EXACT golden shape —
      // same index scan, same broadcast LUT join, same shortlist heap
      // and rerank join-backs; the residual terms ride as literals
      "q261_ivfrpq_ann"         -> (3, 3, 3, 0),
      // q262: q261's chain + the exact-baseline ranking + the
      // hit-intersection joins (the q161 recall-audit shape)
      "q262_ivfrpq_recall"      -> (8, 5, 5, 0),
      // q263: the corpus-scale bucket aggregate + the file grouping and
      // output sort; BOTH windows (running + total sums) run over the
      // ≤4096-row pre-aggregated bucket table — the q123 precedent,
      // deliberately outside the fact-scale-window ban
      "q263_compaction_plan"    -> (2, 0, 0, 2),
      // q264: row-local plant+fold projection, the two md5 dup-set
      // aggregates joined back (hash-sliver broadcasts), one source
      // rollup + output sort — q238's golden shape
      "q264_confusable_fold"    -> (4, 2, 2, 0),
      // q265: pure row-local paragraph HOFs — the q250 shape: the only
      // exchange is the presentation sort
      "q265_paragraph_trim"     -> (1, 0, 0, 0),
      // q266: the slots⋈model scoring subtree is PINNED (it feeds both
      // the threshold scalar and the keep join, and no ReusedExchange
      // fires across the two consumers), so the SERVED plan is one
      // paragraph scan, the score left-join-back, the broadcast
      // threshold scalar, the doc reassembly aggregate, output sort
      "q266_paragraph_lm_trim"  -> (4, 1, 1, 0),
      // q267: everything downstream of the PINNED q260 score sliver is
      // doc-cardinality — the broadcast total scalar, the 3-row bucket
      // rollup and its presentation sort; the tercile thresholds are a
      // driver-built LocalRelation (GlobalOrder.groupedQuantiles), so
      // no quantile exchange or join survives into the served plan
      "q267_perplexity_buckets" -> (2, 2, 0, 0),
      // q268: pre/post re-aggregations + the pre⋈post doc join and
      // matrix rollup, ALL over the pinned score sliver — the one
      // fact-scale join lives inside the pin build; the tercile
      // thresholds arrive as a LocalRelation, as in q267
      "q268_trim_bucket_shift"  -> (5, 3, 1, 0))
    pinned.foreach { case (q, (shuffles, bcasts, joins, windows)) =>
      val a = auditOf(q)
      assert((a.shuffleExchanges, a.broadcastExchanges, a.joins, a.windows) ==
        ((shuffles, bcasts, joins, windows)),
        s"$q plan drifted from its golden shape ($shuffles,$bcasts,$joins,$windows): $a")
    }
  }

  test("few-key ordered analytics plan NO window — grouped GlobalOrder everywhere") {
    // round-6 verdict #1: these five shuffled a fact-scale table into
    // key-cardinality reducer tasks (≤25 keys) and sorted there — a
    // hard parallelism ceiling at 100×. All now route through
    // GlobalOrder.groupedRankAndPrefix: range partition on
    // (key, order), per-(key, pid) segment pass, driver-folded
    // offsets as a LocalRelation broadcast. No Window exec of ANY
    // size may survive in these plans.
    Seq("q67_distribution_ranks", "q107_window_zscore",
      "q110_stratified_sample", "q138_quantile_normalize",
      "q140_order_concurrency",
      // built grouped-first (round 7): exact interpolated quantiles
      // and the nucleus vocabulary cut
      "q146_source_quantiles", "q147_nucleus_vocab",
      // round 9: exact percentiles/medians left the builtin
      // percentile() (a key-cardinality-reducer sort) for the same
      // grouped-rank form (GlobalOrder.groupedQuantiles)
      "q45_percentiles", "q135_mad_outliers").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      val a = PlanChecks.audit(df)
      assert(a.windows == 0, s"$q still plans a window: $a")
      val v = PlanChecks.forcedBroadcastViolations(df)
      assert(v.isEmpty, s"$q: ${v.mkString("; ")}")
    }
  }

  test("no builtin Percentile aggregate survives in ANY query plan (few-key ban)") {
    // Relational2.percentiles scaladoc states the ban: builtin
    // `percentile()` is a TypedImperativeAggregate that ships EVERY
    // group value into key-cardinality reducers and sorts there. Round
    // 9 converted q45/q135/q146 to GlobalOrder.groupedQuantiles; round
    // 11 converted the last four sites (q53/q96/q111/q117). This pins
    // the whole suite: a future query (or an audit arm) reintroducing
    // the builtin fails here, not in a verdict. approx_percentile
    // (ApproximatePercentile, mergeable sketch) is a different class
    // and stays legal.
    import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { q =>
      SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan.exists(
        _.expressions.exists(_.exists(_.isInstanceOf[Percentile])))
    }
    assert(offenders.isEmpty,
      s"builtin percentile() found in: ${offenders.mkString(", ")}")
  }

  test("q68/q100 plan the bounded-heap operator; q100 loses its window") {
    Seq("q68_inverted_index", "q100_rank_rewrite", "q157_cluster_sample")
      .foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan.toString
      assert(plan.contains("TopKPerKey"), s"$q plan lacks TopKPerKey:\n$plan")
    }
    val q100 = SparkEntry.queries("q100_rank_rewrite")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!q100.contains("Window"), s"q100 window not eliminated:\n$q100")
  }

  test("round-12 queries: eval broadcast in q235, zero joins in q236, heap in q239") {
    // q235 semantic decontamination: the eval suite must ride a
    // BROADCAST against the one corpus scan (the q163 stance), rank
    // through the bounded heap, and never sort-merge
    val a235 = auditOf("q235_semantic_decontaminate")
    assert(a235.broadcastExchanges >= 1 && a235.sortMergeJoins == 0, a235)
    val p235 = SparkEntry.queries("q235_semantic_decontaminate")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(p235.contains("TopKPerKey"), s"q235 lacks the bounded heap:\n$p235")
    // q236 blocklist audit: row-local counting — zero joins, one
    // source-cardinality aggregate exchange (plus the output sort)
    val a236 = auditOf("q236_blocklist_audit")
    assert(a236.joins == 0 && a236.nestedLoopJoins == 0, a236)
    assert(a236.shuffleExchanges <= 2, a236)
    // q239 skew audit: the hot set comes from the bounded heap, never
    // a global sort of the key-count table
    val p239 = SparkEntry.queries("q239_join_skew_audit")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(p239.contains("TopKPerKey"), s"q239 lacks the bounded heap:\n$p239")
    // q238 normalized dedup: hash-key aggregates and join-backs only —
    // no nested loops, no text-keyed sort-merge explosion
    val a238 = auditOf("q238_normalized_dedup")
    assert(a238.nestedLoopJoins == 0, a238)
  }

  test("layout family: hilbert is one projection; zone-map prune joins only broadcasts") {
    // q243: the Hilbert key collapses to ONE projection over the scan —
    // exactly one aggregate exchange (the 4096-bucket group) plus the
    // presentation sort; no joins anywhere
    val a243 = auditOf("q243_hilbert_layout")
    assert(a243.joins == 0, a243)
    assert(a243.shuffleExchanges <= 2, a243)
    // q244: the pruning arithmetic must ride broadcasts (preds and the
    // matching floor are literal-sized) — no sort-merge join may touch
    // the zone or row tables
    val a244 = auditOf("q244_zonemap_prune")
    assert(a244.sortMergeJoins == 0, a244)
    assert(a244.broadcastExchanges >= 1, a244)
    // q245: the q216 shape — zero joins, one QI-class aggregate
    // exchange (plus explode/sort)
    val a245 = auditOf("q245_l_diversity")
    assert(a245.joins == 0, a245)
    // q249: class-keyed joins only — the global event table and the
    // scalar total must ride broadcasts, never a nested loop over rows
    val a249 = auditOf("q249_t_closeness")
    assert(a249.broadcastExchanges >= 1, a249)
    assert(a249.nestedLoopJoins <= 2, // the two single-row scalar crosses
      a249)
  }

  test("tokenizer/chunking family: q246 and q247 are map-stage + few-key aggregate") {
    // q246 wordpiece: map stage + distinct-word pre-reduction into a
    // per-lang hash aggregate — no joins (vocab is a literal array,
    // not a table); exchanges = word-keyed agg + lang agg + sort
    val a246 = auditOf("q246_wordpiece_tokens")
    assert(a246.joins == 0, a246)
    assert(a246.shuffleExchanges <= 3, a246)
    // q247 cdc: row-local folds then one per-source aggregate; the only
    // shuffle keys are digests — no join in the stats plan
    val a247 = auditOf("q247_cdc_chunks")
    assert(a247.joins == 0, a247)
    // q248 viterbi: the exact DP runs on the distinct-word table — the
    // cost table is a literal map, never a joined dimension
    val a248 = auditOf("q248_viterbi_tokens")
    assert(a248.joins == 0, a248)
    assert(a248.shuffleExchanges <= 3, a248)
  }
}
