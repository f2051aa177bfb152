package graft

import graft.llm.{Bpe, Dedup, KMeans, Multimodal, Pipeline, Similarity, TextAnalysis}
import graft.ops.{ReferenceOps, Relational, Relational2, Relational3}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Driver contract (SURVEY.md §5/§7): one `queries` entry per implemented
 * operator, with a DuckDB-equivalent `oracleSql` wherever the operator
 * is SQL-expressible. Column names/aliases match 1:1 between the Spark
 * plan and the SQL — the driver's compare hashes values under sorted
 * column names.
 *
 * Determinism conventions shared by every query (and mirrored in each
 * oracle):
 *  - results end in ORDER BY a unique key;
 *  - money sums run over DECIMAL(18,2) then cast to double (exact,
 *    order-independent);
 *  - timestamps are emitted as epoch-millisecond BIGINTs
 *    (`epoch_ms(ts)` on the DuckDB side);
 *  - vector math widens floats to double element-wise and folds
 *    left-to-right (bit-identical to DuckDB `list_sum(list_transform)`);
 *  - all content hashing is md5-over-UTF-8 (lowercase hex in both
 *    engines) — never an engine-private hash.
 */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ReferenceOps.incrementalScan(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — reference surface (SURVEY.md §2) —
    "q01_incremental_scan" -> (ReferenceOps.incrementalScan _),
    "q02_projection"       -> (ReferenceOps.projectionPushdown _),
    "q03_existence_filter" -> (ReferenceOps.existenceFilter _),
    "q04_topk"             -> (ReferenceOps.topK _),
    "q05_tumbling_window"  -> (ReferenceOps.tumblingWindowAgg _),
    "q06_entity_fanout"    -> (ReferenceOps.entityFanout _),
    "q07_text_parse"       -> (ReferenceOps.textScanParse _),
    "q08_json_extract"     -> (ReferenceOps.jsonExtract _),
    "q09_json_stats"       -> (ReferenceOps.jsonPropertyStats _),
    "q82_sliding_window"   -> (ReferenceOps.slidingWindowAgg _),
    "q83_session_window"   -> (ReferenceOps.sessionWindowAgg _),
    // — relational layer —
    "q10_pricing_summary"  -> (Relational.pricingSummary _),
    "q11_dimension_join"   -> (Relational.dimensionJoin _),
    "q12_revenue_topk"     -> (Relational.revenueTopK _),
    "q13_semi_join"        -> (Relational.semiJoin _),
    "q14_anti_join"        -> (Relational.antiJoin _),
    "q15_window_rank"      -> (Relational.windowRank _),
    "q16_running_total"    -> (Relational.runningTotal _),
    "q17_lag_lead"         -> (Relational.lagLead _),
    "q18_rollup"           -> (Relational.rollupAgg _),
    "q19_setops"           -> (Relational.setOps _),
    "q20_distinct_agg"     -> (Relational.distinctAgg _),
    "q21_scalar_funcs"     -> (Relational.scalarFunctions _),
    "q22_date_funcs"       -> (Relational.dateFunctions _),
    "q23_case_when"        -> (Relational.caseWhenAgg _),
    "q24_having"           -> (Relational.havingFilter _),
    "q25_above_avg"        -> (Relational.aboveCustomerAvg _),
    "q26_snowflake_revenue" -> (Relational.snowflakeRevenue _),
    "q27_sessionize"       -> (Relational2.sessionize _),
    "q28_asof_join"        -> (Relational2.asofJoin _),
    "q29_pivot"            -> (Relational2.pivotCounts _),
    "q43_cube"             -> (Relational2.cubeAgg _),
    "q44_outer_join"       -> (Relational2.outerJoinAgg _),
    "q45_percentiles"      -> (Relational2.percentiles _),
    "q46_string_funcs"     -> (Relational2.stringFunctions _),
    "q47_histogram"        -> (Relational2.histogram _),
    "q48_keyset_page"      -> (Relational2.keysetPage _),
    "q49_salted_agg"       -> (Relational2.saltedAgg _),
    "q53_approx_sketches"  -> (Relational2.approxSketches _),
    "q54_chunking"         -> (TextAnalysis.chunkDocuments _),
    "q55_vocabulary"       -> (TextAnalysis.vocabulary _),
    "q56_tfidf"            -> (TextAnalysis.tfIdf _),
    "q57_big_orders"       -> (Relational3.bigOrders _),
    "q58_promo_share"      -> (Relational3.promoShare _),
    "q59_top_supplier"     -> (Relational3.topSupplier _),
    "q60_variance"         -> (Relational3.varianceStats _),
    "q64_range_join"       -> (Relational3.rangeJoin _),
    "q65_grouping_sets"    -> (Relational3.groupingSets _),
    "q66_value_windows"    -> (Relational3.valueWindows _),
    "q67_distribution_ranks" -> (Relational3.distributionRanks _),
    "q70_conditional"      -> (Relational3.conditionalExprs _),
    "q71_map_functions"    -> (Relational3.mapFunctions _),
    "q72_neardup_clusters" -> (Pipeline.nearDupClusters _),
    "q73_hash_sample"      -> (Pipeline.deterministicSample _),
    "q74_source_mixing"    -> (Pipeline.sourceMixing _),
    "q75_calendar_spine"   -> (Relational3.calendarSpine _),
    "q76_mode"             -> (Relational3.modeAgg _),
    "q77_correlation"      -> (Relational3.correlation _),
    "q78_range_frame"      -> (Relational3.rangeFrameWindow _),
    "q79_string_agg"       -> (Relational3.stringAgg _),
    "q80_intersect"        -> (Relational3.intersectOp _),
    "q81_local_volume"     -> (Relational3.localSupplierVolume _),
    "q84_min_cost_supplier" -> (Relational3.minCostSupplier _),
    "q85_dominant_supplier" -> (Relational3.dominantSupplier _),
    "q86_small_qty_revenue" -> (Relational3.smallQuantityRevenue _),
    "q87_salted_join"       -> ((s: SparkSession, d: String) => Relational3.saltedJoin(s, d)),
    "q88_bigram_stats"      -> ((s: SparkSession, d: String) => TextAnalysis.bigramStats(s, d)),
    "q89_sequence_packing"  -> ((s: SparkSession, d: String) => Pipeline.sequencePacking(s, d)),
    "q90_repetition_ratio"  -> (TextAnalysis.repetitionRatio _),
    "q91_decontaminate"     -> ((s: SparkSession, d: String) => Pipeline.decontaminate(s, d)),
    "q92_dataset_split"     -> (Pipeline.datasetSplit _),
    "q93_quantize_embeddings" -> (Pipeline.quantizeEmbeddings _),
    "q94_topk_per_key"      -> (graft.plans.TopK.supplierTopLineitems _),
    "q100_rank_rewrite"     -> (graft.plans.TopK.customerTopOrders _),
    "q101_incremental_dedup" -> (Dedup.incrementalDedup _),
    "q102_heavy_hitters"    -> ((s: SparkSession, d: String) => TextAnalysis.heavyHitters(s, d)),
    "q68_inverted_index"    -> ((s: SparkSession, d: String) => TextAnalysis.invertedIndex(s, d)),
    "q69_dedup_survivors"   -> (Pipeline.dedupSurvivors _),
    "q95_repeated_passages" -> ((s: SparkSession, d: String) => TextAnalysis.repeatedPassages(s, d)),
    "q96_source_profile"    -> (TextAnalysis.sourceQualityProfile _),
    "q97_oov_rate"          -> ((s: SparkSession, d: String) => TextAnalysis.oovRate(s, d)),
    "q98_redact"            -> (TextAnalysis.redactDigits _),
    "q99_idle_customers"    -> (Relational3.idleRichCustomers _),
    "q62_simhash_pairs"    -> ((s: SparkSession, d: String) => Dedup.simhashPairs(s, d)),
    "q63_kmeans"           -> ((s: SparkSession, d: String) => KMeans.clusterStats(s, d)),
    "q61_label_centroids"  -> ((s: SparkSession, d: String) => KMeans.labelCentroids(s, d)),
    "q103_countmin"        -> (graft.ops.Sketches.countMinFrequency _),
    "q104_bloom_join"      -> (graft.ops.Sketches.bloomSemiJoin _),
    "q105_pmi"             -> ((s: SparkSession, d: String) => TextAnalysis.pmiCollocations(s, d)),
    "q106_scd2"            -> (graft.ops.Relational4.scd2Intervals _),
    "q107_window_zscore"   -> (graft.ops.Relational4.windowZScore _),
    "q108_random_projection" -> ((s: SparkSession, d: String) => Pipeline.randomProjection(s, d)),
    "q109_containment"     -> (Pipeline.benchmarkContainment _),
    "q110_stratified_sample" -> ((s: SparkSession, d: String) => Pipeline.stratifiedSample(s, d)),
    "q111_kll_quantiles"   -> (graft.ops.Sketches.kllQuantiles _),
    "q112_funnel"          -> (graft.ops.Relational4.conversionFunnelBatch _),
    "q113_retention"       -> (graft.ops.Relational4.retentionCohorts _),
    "q114_unpivot"         -> (graft.ops.Relational4.unpivotMetrics _),
    "q115_transitions"     -> (graft.ops.Relational4.transitionMatrix _),
    "q116_incremental_agg" -> (graft.ops.Relational4.incrementalAgg _),
    "q117_winsorize"       -> (graft.ops.Relational4.winsorize _),
    "q118_fuzzy_join"      -> ((s: SparkSession, d: String) => graft.ops.Relational4.fuzzyJoin(s, d)),
    "q119_bpe_tokens"      -> (TextAnalysis.bpeTokenStats _),
    "q120_upsert"          -> (graft.ops.MergeOps.customerUpsert _),
    "q121_streaks"         -> (graft.ops.Relational5.activityStreaks _),
    "q122_rolling_actives" -> (graft.ops.Relational5.rollingActives _),
    "q123_region_share"    -> (graft.ops.Relational5.regionShare _),
    "q124_dq_audit"        -> (graft.ops.Relational5.dataQualityAudit _),
    "q125_media_manifest"  -> ((s: SparkSession, d: String) => Multimodal.mediaManifest(s, d)),
    "q126_gap_fill"        -> (graft.ops.Relational5.gapFill _),
    "q127_filtered_aggs"   -> (graft.ops.Relational5.filteredAggs _),
    "q128_point_in_interval" -> (graft.ops.Relational4.pointInInterval _),
    "q129_approx_distinct" -> (graft.ops.Relational5.approxDistinctPerKey _),
    "q130_weighted_sample" -> ((s: SparkSession, d: String) => graft.ops.Relational5.weightedSample(s, d)),
    "q131_regression"      -> (graft.ops.Relational5.regressionSlope _),
    // — round 6: curation + relational depth —
    "q132_rerank"          -> ((s: SparkSession, d: String) => graft.llm.Curation.rerank(s, d)),
    "q133_cross_source_neardup" -> (graft.llm.Curation.crossSourceNearDup _),
    "q134_equidepth_hist"  -> (graft.ops.Relational6.equidepthHistogram _),
    "q135_mad_outliers"    -> (graft.ops.Relational6.madOutliers _),
    "q136_basket_pairs"    -> ((s: SparkSession, d: String) => graft.ops.Relational6.basketPairs(s, d)),
    "q137_horizon_dedup"   -> (graft.llm.Curation.horizonDedup _),
    "q138_quantile_normalize" -> (graft.llm.Curation.quantileNormalize _),
    "q139_token_budget_bins" -> (graft.llm.Curation.tokenBudgetBins _),
    "q140_order_concurrency" -> (graft.ops.Relational6.orderConcurrency _),
    "q141_path_trigrams"   -> ((s: SparkSession, d: String) => graft.llm.Curation.pathTrigrams(s, d)),
    "q142_lang_confusion"  -> (graft.llm.Curation.langConfusion _),
    "q143_chunk_dedup"     -> (graft.llm.Curation.chunkDedup _),
    "q144_shingle_novelty" -> (graft.llm.Curation.shingleNovelty _),
    "q145_dim_stats"       -> (graft.llm.Curation.dimStats _),
    "q146_source_quantiles" -> (graft.llm.Curation.sourceQuantiles _),
    "q147_nucleus_vocab"   -> (graft.llm.Curation.nucleusVocab _),
    "q148_repetition"      -> (graft.llm.TextAnalysis.repetitionScore _),
    "q149_ann_recall"      -> ((s: SparkSession, d: String) => Similarity.annRecall(s, d)),
    "q150_multiprobe_recall" -> ((s: SparkSession, d: String) => Similarity.multiProbeRecall(s, d)),
    "q151_ivf_recall"      -> ((s: SparkSession, d: String) => Similarity.ivfRecall(s, d)),
    "q154_planted_recall"  -> ((s: SparkSession, d: String) => Similarity.plantedRecall(s, d)),
    "q155_winnow_dedup"    -> ((s: SparkSession, d: String) => TextAnalysis.winnowedFingerprints(s, d)),
    "q156_token_rarity"    -> ((s: SparkSession, d: String) => TextAnalysis.tokenRarity(s, d)),
    "q157_cluster_sample"  -> ((s: SparkSession, d: String) => graft.llm.Pipeline.clusterBalancedSample(s, d)),
    "q158_pq_ann"          -> ((s: SparkSession, d: String) => graft.llm.PQ.pqAnn(s, d)),
    "q159_pq_recall"       -> ((s: SparkSession, d: String) => Similarity.pqRecall(s, d)),
    "q160_ivfpq_ann"       -> ((s: SparkSession, d: String) => graft.llm.PQ.ivfPqAnn(s, d)),
    "q161_ivfpq_recall"    -> ((s: SparkSession, d: String) => Similarity.ivfPqRecall(s, d)),
    "q261_ivfrpq_ann"      -> ((s: SparkSession, d: String) => graft.llm.PQ.ivfRpqAnn(s, d)),
    "q262_ivfrpq_recall"   -> ((s: SparkSession, d: String) => Similarity.ivfRpqRecall(s, d)),
    "q162_semantic_dedup"  -> ((s: SparkSession, d: String) => Dedup.semanticDedup(s, d)),
    "q163_decontaminate"   -> ((s: SparkSession, d: String) => TextAnalysis.decontaminate(s, d)),
    "q164_dsir_select"     -> ((s: SparkSession, d: String) => graft.llm.Selection.dsirSelect(s, d)),
    "q165_filter_ablation" -> (graft.llm.MixPlan.filterAblation _),
    "q166_token_budget_mix" -> ((s: SparkSession, d: String) => graft.llm.MixPlan.tokenBudgetMix(s, d)),
    "q167_interleave"      -> ((s: SparkSession, d: String) => graft.llm.MixPlan.interleaveSchedule(s, d)),
    "q168_bigram_novelty"  -> ((s: SparkSession, d: String) => graft.llm.MixPlan.bigramNovelty(s, d)),
    "q169_quality_survivors" -> (Pipeline.qualitySurvivors _),
    "q170_dup_span_coverage" -> ((s: SparkSession, d: String) => TextAnalysis.dupSpanCoverage(s, d)),
    "q171_source_keywords"  -> ((s: SparkSession, d: String) => graft.llm.Curation.sourceKeywords(s, d)),
    "q172_snowflake_bucketed" -> (graft.ops.Bucketing.snowflakeRevenueBucketed _),
    "q173_dup_spectrum"    -> (Dedup.dupSpectrum _),
    "q174_simpson_diversity" -> (graft.llm.Curation.simpsonDiversity _),
    "q175_cross_source_exact" -> (Dedup.crossSourceExact _),
    "q176_zorder_layout"   -> (graft.ops.Layout.zorderLayout _),
    "q177_token_fertility" -> (TextAnalysis.tokenFertility _),
    "q178_gopher_rules"    -> ((s: SparkSession, d: String) => TextAnalysis.gopherRules(s, d)),
    "q179_domain_reweight" -> ((s: SparkSession, d: String) => graft.llm.MixPlan.domainReweight(s, d)),
    "q180_bm25"            -> ((s: SparkSession, d: String) => graft.llm.Curation.bm25(s, d)),
    "q181_hard_negatives"  -> ((s: SparkSession, d: String) => Similarity.hardNegatives(s, d)),
    "q182_source_divergence" -> (graft.llm.Curation.sourceDivergence _),
    "q183_source_overlap"  -> (Dedup.sourceOverlap _),
    "q184_fim_transform"   -> ((s: SparkSession, d: String) => Pipeline.fimTransform(s, d)),
    "q185_repeat_epochs"   -> ((s: SparkSession, d: String) => graft.llm.MixPlan.repeatEpochs(s, d)),
    "q186_pack_boundaries" -> ((s: SparkSession, d: String) => Pipeline.packBoundaries(s, d)),
    "q187_source_pagerank" -> ((s: SparkSession, d: String) => graft.llm.Curation.sourcePagerank(s, d)),
    "q188_curriculum"      -> ((s: SparkSession, d: String) => graft.llm.MixPlan.curriculumPhases(s, d)),
    "q189_chunk_pairs"     -> (TextAnalysis.chunkPairs _),
    "q190_split_leakage"   -> (Pipeline.splitLeakage _),
    "q191_readability"     -> (TextAnalysis.readability _),
    "q192_temperature_mix" -> ((s: SparkSession, d: String) => graft.llm.MixPlan.temperatureMix(s, d)),
    "q193_boilerplate"     -> ((s: SparkSession, d: String) => graft.llm.Curation.boilerplatePrefixes(s, d)),
    "q194_matryoshka_recall" -> ((s: SparkSession, d: String) => Similarity.matryoshkaRecall(s, d)),
    "q195_pack_efficiency" -> ((s: SparkSession, d: String) => Pipeline.packEfficiency(s, d)),
    "q196_cluster_terms"   -> ((s: SparkSession, d: String) => graft.llm.Curation.clusterTerms(s, d)),
    "q197_quant_recall"    -> ((s: SparkSession, d: String) => Similarity.quantRecall(s, d)),
    "q198_zipf_deviation"  -> ((s: SparkSession, d: String) => graft.llm.Curation.zipfDeviation(s, d)),
    "q199_dup_trend"       -> ((s: SparkSession, d: String) => Dedup.dupTrend(s, d)),
    "q200_curation_funnel" -> ((s: SparkSession, d: String) => Pipeline.curationFunnel(s, d)),
    // — TPC-H analog completion (Relational7) —
    "q201_shipping_priority"  -> (graft.ops.Relational7.shippingPriority _),
    "q202_order_priority"     -> (graft.ops.Relational7.orderPriorityCheck _),
    "q203_nation_volume"      -> (graft.ops.Relational7.nationVolume _),
    "q204_market_share"       -> (graft.ops.Relational7.marketShare _),
    "q205_product_profit"     -> (graft.ops.Relational7.productProfit _),
    "q206_returned_items"     -> (graft.ops.Relational7.returnedItems _),
    "q207_important_parts"    -> (graft.ops.Relational7.importantParts _),
    "q208_ship_delay_bands"   -> (graft.ops.Relational7.shipDelayBands _),
    "q209_customer_distribution" -> (graft.ops.Relational7.customerDistribution _),
    "q210_discounted_revenue" -> (graft.ops.Relational7.discountedRevenue _),
    "q211_waiting_suppliers"  -> (graft.ops.Relational7.waitingSuppliers _),
    "q212_part_supplier_counts" -> (graft.ops.Relational7.partSupplierCounts _),
    "q213_dup_span_trim"   -> ((s: SparkSession, d: String) => TextAnalysis.dupSpanTrim(s, d)),
    "q214_bpe_merges"      -> ((s: SparkSession, d: String) => graft.llm.Bpe.bpeMerges(s, d)),
    "q215_kn_continuation" -> ((s: SparkSession, d: String) => graft.llm.MixPlan.knContinuation(s, d)),
    "q216_k_anonymity"     -> (graft.ops.Audits.kAnonymity _),
    "q217_quality_auc"     -> ((s: SparkSession, d: String) => graft.llm.Eval.qualityAuc(s, d)),
    "q218_bpe_apply"       -> ((s: SparkSession, d: String) => graft.llm.Bpe.bpeApply(s, d)),
    "q219_ann_mrr"         -> ((s: SparkSession, d: String) => Similarity.annMrr(s, d)),
    "q220_score_calibration" -> ((s: SparkSession, d: String) => graft.llm.Eval.scoreCalibration(s, d)),
    "q221_span_corruption" -> ((s: SparkSession, d: String) => Pipeline.spanCorruption(s, d)),
    "q222_forecast_revenue" -> (graft.ops.Relational7.forecastRevenue _),
    "q223_leakage_safe_split" -> (Pipeline.leakageSafeSplit _),
    "q224_dup_weighting"   -> (Pipeline.dupWeighting _),
    "q225_ann_ndcg"        -> ((s: SparkSession, d: String) => Similarity.annNdcg(s, d)),
    "q226_kmv_overlap"     -> ((s: SparkSession, d: String) => Dedup.kmvOverlap(s, d)),
    "q227_kmv_distinct"    -> ((s: SparkSession, d: String) => Dedup.kmvDistinct(s, d)),
    "q228_source_auc"      -> ((s: SparkSession, d: String) => graft.llm.Eval.sourceAuc(s, d)),
    "q229_cluster_decontaminate" -> ((s: SparkSession, d: String) => Pipeline.clusterDecontaminate(s, d)),
    "q230_quality_dup_matrix" -> ((s: SparkSession, d: String) => Pipeline.qualityDupMatrix(s, d)),
    "q231_curation_report" -> ((s: SparkSession, d: String) => Pipeline.curationReport(s, d)),
    "q232_pr_curve"        -> ((s: SparkSession, d: String) => graft.llm.Eval.prCurve(s, d)),
    "q233_threshold_yield" -> ((s: SparkSession, d: String) => graft.llm.Eval.thresholdYield(s, d)),
    "q234_jpeg_meta"       -> ((s: SparkSession, d: String) => Multimodal.jpegManifest(s, d)),
    "q235_semantic_decontaminate" -> ((s: SparkSession, d: String) => graft.llm.Similarity.semanticDecontaminate(s, d)),
    "q236_blocklist_audit" -> ((s: SparkSession, d: String) => TextAnalysis.blocklistAudit(s, d)),
    "q237_ivf_cell_balance" -> ((s: SparkSession, d: String) => Pipeline.ivfCellBalance(s, d)),
    "q238_normalized_dedup" -> ((s: SparkSession, d: String) => Dedup.normalizedDedup(s, d)),
    "q239_join_skew_audit" -> ((s: SparkSession, d: String) => graft.ops.Relational7.joinSkewAudit(s, d)),
    "q240_dedup_threshold_curve" -> ((s: SparkSession, d: String) => Dedup.dedupThresholdCurve(s, d)),
    "q241_training_order" -> ((s: SparkSession, d: String) => graft.llm.MixPlan.trainingOrder(s, d)),
    "q242_dedup_lineage" -> ((s: SparkSession, d: String) => Pipeline.dedupLineage(s, d)),
    "q243_hilbert_layout" -> (graft.ops.Layout.hilbertLayout _),
    "q244_zonemap_prune" -> (graft.ops.Layout.zonemapPrune _),
    "q245_l_diversity" -> (graft.ops.Audits.lDiversity _),
    "q246_wordpiece_tokens" -> ((s: SparkSession, d: String) => Bpe.wordpieceTokens(s, d)),
    "q247_cdc_chunks" -> ((s: SparkSession, d: String) => TextAnalysis.cdcChunks(s, d)),
    "q248_viterbi_tokens" -> ((s: SparkSession, d: String) => Bpe.viterbiTokens(s, d)),
    "q249_t_closeness" -> (graft.ops.Audits.tCloseness _),
    "q250_html_extract" ->
      ((s: SparkSession, d: String) => graft.llm.TextAnalysis.htmlExtract(s, d)),
    "q251_wordpiece_learned" ->
      ((s: SparkSession, d: String) => Bpe.wordpieceTokensLearned(s, d)),
    "q252_viterbi_learned" ->
      ((s: SparkSession, d: String) => Bpe.viterbiTokensLearned(s, d)),
    "q253_extract_funnel" ->
      ((s: SparkSession, d: String) => graft.llm.TextAnalysis.extractFunnel(s, d)),
    "q254_mp4_meta" ->
      ((s: SparkSession, d: String) => Multimodal.mp4Manifest(s, d)),
    "q255_format_roundtrip" -> (graft.ops.Formats.formatRoundtrip _),
    "q256_string_roundtrip" -> (graft.ops.Formats.formatRoundtripStrings _),
    "q257_cc_stars" -> (Dedup.ccStarClusters _),
    "q259_xml_roundtrip" -> (graft.ops.Formats.formatRoundtripXml _),
    "q263_compaction_plan" ->
      ((s: SparkSession, d: String) => graft.ops.Layout.compactionPlan(s, d)),
    "q264_confusable_fold" ->
      ((s: SparkSession, d: String) => TextAnalysis.confusableFold(s, d)),
    "q265_paragraph_trim" ->
      ((s: SparkSession, d: String) => TextAnalysis.paragraphTrim(s, d)),
    "q258_source_reach" ->
      ((s: SparkSession, d: String) => Dedup.sourceReachability(s, d)),
    "q260_kn_doc_score" ->
      ((s: SparkSession, d: String) => graft.llm.MixPlan.knDocScore(s, d)),
    "q266_paragraph_lm_trim" ->
      ((s: SparkSession, d: String) => graft.llm.MixPlan.paragraphLmTrim(s, d)),
    "q267_perplexity_buckets" ->
      ((s: SparkSession, d: String) => graft.llm.MixPlan.knPerplexityBuckets(s, d)),
    "q268_trim_bucket_shift" ->
      ((s: SparkSession, d: String) => graft.llm.MixPlan.trimBucketShift(s, d)),
    "q269_trim_aware_mix" ->
      ((s: SparkSession, d: String) => graft.llm.MixPlan.trimAwareMix(s, d)),
    "q270_trim_aware_temperature" ->
      ((s: SparkSession, d: String) => graft.llm.MixPlan.trimAwareTemperature(s, d)),
    "q152_vocab_growth"    -> (graft.llm.Curation.vocabGrowth _),
    "q153_freq_spectrum"   -> (graft.llm.Curation.freqSpectrum _),
    // — LLM-pipeline surface (BASELINE.json north star) —
    "q30_exact_dedup"      -> (Dedup.exactDedup _),
    "q31_ngram_jaccard"    -> (Dedup.ngramJaccardPairs _),
    "q32_minhash_lsh"      -> (Dedup.minhashLsh _),
    "q33_simhash"          -> (Dedup.simhash _),
    "q34_cosine_topk"      -> ((s: SparkSession, d: String) => Similarity.cosineTopK(s, d)),
    "q35_embedding_neardup" -> ((s: SparkSession, d: String) => Similarity.embeddingNearDup(s, d)),
    "q36_ann_lsh"          -> ((s: SparkSession, d: String) => Similarity.annLsh(s, d)),
    "q37_lang_id"          -> (TextAnalysis.langId _),
    "q38_quality_score"    -> (TextAnalysis.qualityScore _),
    "q39_token_stats"      -> (TextAnalysis.tokenStats _),
    "q40_fingerprint"      -> (TextAnalysis.fingerprint _),
    "q41_corpus_stats"     -> (TextAnalysis.corpusStats _),
    "q42_binary_meta"      -> (Multimodal.binaryMeta _),
    "q50_training_pipeline" -> (Pipeline.trainingPipeline _),
    "q51_array_stats"      -> (Pipeline.arrayStats _),
    "q52_ivf_ann"          -> ((s: SparkSession, d: String) => Pipeline.ivfAnn(s, d)),
  )

  // DuckDB-runnable ANSI SQL twins. Keys absent here
  // (q53_approx_sketches) get the driver's rows-only check.
  def oracleSql: Map[String, String] = Map(
    "q01_incremental_scan" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value
        |FROM events
        |WHERE epoch_ms(ts) BETWEEN 1704412800000 AND 1705708799999
        |  AND props IS NOT NULL
        |ORDER BY event_id LIMIT 500""".stripMargin,
    "q02_projection" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity >= 30.0 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_existence_filter" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE props IS NOT NULL AND event_type = 'error' ORDER BY event_id""".stripMargin,
    "q04_topk" ->
      """SELECT event_id, event_type, value FROM events
        |ORDER BY value DESC, event_id LIMIT 50""".stripMargin,
    "q05_tumbling_window" ->
      """SELECT epoch_ms(ts) - epoch_ms(ts) % 600000 AS bucket_ms, event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q06_entity_fanout" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       COUNT(DISTINCT user_id) AS n_users,
        |       MIN(epoch_ms(ts)) AS first_ms, MAX(epoch_ms(ts)) AS last_ms
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q07_text_parse" ->
      """SELECT doc_id, split_part(text, ' ', 1) AS tok1,
        |       split_part(text, ' ', 2) AS tok2,
        |       len(string_split(text, ' ')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q08_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "q09_json_stats" ->
      """WITH e AS (SELECT event_type,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, COUNT(*) AS n, MIN(k) AS min_k, MAX(k) AS max_k,
        |       CAST(SUM(k) AS BIGINT) AS sum_k
        |FROM e WHERE k IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    // native window(ts, 10m, 5m): each event in exactly the two
    // grid-aligned windows covering it
    "q82_sliding_window" ->
      """WITH u AS (SELECT epoch_ms(ts) AS ms, event_type FROM events),
        |w AS (SELECT ms - ms % 300000 AS g, event_type FROM u
        |      UNION ALL
        |      SELECT ms - ms % 300000 - 300000 AS g, event_type FROM u)
        |SELECT g AS win_start_ms, event_type, COUNT(*) AS n_events
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // native session_window(ts, 30m); Spark starts a NEW session when
    // the gap is >= the 30-minute window (strict containment in
    // [start, last+gap)), hence >= below
    "q83_session_window" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
        |f AS (SELECT user_id, ts_ms,
        |    CASE WHEN lag(ts_ms) OVER w IS NULL
        |              OR ts_ms - lag(ts_ms) OVER w >= 1800000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |s AS (SELECT user_id, ts_ms,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms,
        |       COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, start_ms""".stripMargin,
    "q10_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q11_dimension_join" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q12_revenue_topk" ->
      """SELECT o_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin,
    "q13_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q14_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 250000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q15_window_rank" ->
      """SELECT c_nationkey, rnk, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk
        |  FROM customer) t
        |WHERE rnk <= 3 ORDER BY c_nationkey, rnk""".stripMargin,
    "q16_running_total" ->
      """SELECT o_custkey, o_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q17_lag_lead" ->
      """SELECT user_id, event_id, gap_ms FROM (
        |  SELECT user_id, event_id,
        |    epoch_ms(ts) - LAG(epoch_ms(ts), 1) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
        |  FROM events) t
        |WHERE gap_ms IS NOT NULL ORDER BY user_id, event_id""".stripMargin,
    "q18_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS linestatus,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin,
    "q19_setops" ->
      """SELECT custkey FROM (
        |  (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |   UNION
        |   SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000.0)
        |  EXCEPT
        |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE') t
        |ORDER BY custkey""".stripMargin,
    "q20_distinct_agg" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |       COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_scalar_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u,
        |       substr(p_name, 1, 8) AS name_prefix,
        |       CAST(length(p_name) AS BIGINT) AS name_len,
        |       CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
        |       CAST(abs(p_size - 25) AS BIGINT) AS size_dist,
        |       concat_ws('-', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q22_date_funcs" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q23_case_when" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        |  CAST(SUM(CASE WHEN o_totalprice > 100000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_big
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q24_having" ->
      """SELECT c_nationkey, COUNT(*) AS n_customers FROM customer
        |GROUP BY 1 HAVING COUNT(*) >= 5 ORDER BY 1""".stripMargin,
    "q25_above_avg" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o JOIN (
        |  SELECT o_custkey AS ck,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |  FROM orders GROUP BY 1) a ON o.o_custkey = a.ck
        |WHERE o.o_totalprice > a.avg_price ORDER BY o_orderkey""".stripMargin,
    "q26_snowflake_revenue" ->
      """SELECT r_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q27_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
        |f AS (SELECT user_id, event_id, ts_ms,
        |    CASE WHEN lag(ts_ms) OVER w IS NULL
        |              OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |s AS (SELECT user_id, event_id, ts_ms,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       COUNT(*) AS n_events, MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q28_asof_join" ->
      """WITH o1 AS (SELECT o_custkey AS k, epoch_ms(o_orderdate) AS ts_ms,
        |              MAX(o_orderkey) AS ok
        |            FROM orders GROUP BY 1, 2),
        |e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events)
        |SELECT e.event_id, e.user_id, e.ts_ms, o1.ok AS last_orderkey
        |FROM e ASOF JOIN o1 ON e.user_id = o1.k AND e.ts_ms >= o1.ts_ms
        |ORDER BY e.event_id""".stripMargin,
    "q29_pivot" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q43_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY 1, 2""".stripMargin,
    "q44_outer_join" ->
      """SELECT c_custkey, c_mktsegment,
        |  COALESCE(o.cnt, 0) AS n_orders,
        |  COALESCE(o.spend, 0.0) AS total_spend
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, COUNT(*) AS cnt,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY 1) o ON c_custkey = o.o_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q45_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.25) AS p25,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.75) AS p75,
        |  quantile_cont(l_extendedprice, 0.95) AS p95
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q46_string_funcs" ->
      """SELECT p_partkey,
        |  CAST(levenshtein(p_brand, 'Brand#33') AS BIGINT) AS brand_dist,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        |  CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
        |  regexp_replace(p_type, ' ', '_', 'g') AS type_u,
        |  reverse(p_brand) AS brand_rev,
        |  p_name LIKE '%gold%' AS has_gold
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q47_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) * 5000 AS bin,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q48_keyset_page" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id > 200 ORDER BY event_id LIMIT 100""".stripMargin,
    // two-phase salted plan ≡ direct group-by (decimal-exact partials)
    "q49_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q50_training_pipeline" ->
      """WITH dd AS (SELECT MIN(doc_id) AS doc_id, MIN(n_chars) AS n_chars, text
        |            FROM documents GROUP BY text),
        |st AS (SELECT doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) AS BIGINT) AS n_stop
        |  FROM dd),
        |q AS (SELECT doc_id, n_tokens, n_stop,
        |    CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
        |    CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_word_len
        |  FROM st)
        |SELECT doc_id, n_tokens, n_stop, stop_ratio, avg_word_len FROM q
        |WHERE n_tokens >= 20 AND n_tokens <= 500
        |  AND stop_ratio >= 0.02
        |  AND avg_word_len >= 2.0 AND avg_word_len <= 12.0
        |ORDER BY doc_id""".stripMargin,
    "q54_chunking" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, ci, ci * 24 + 1 AS start, w FROM t, LATERAL (
        |        SELECT unnest(range(0, (len(w) - 1) // 24 + 1)) AS ci) u)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
        |  array_to_string(list_slice(w, start, start + 31), ' ') AS chunk_text,
        |  CAST(least(len(w) - start + 1, 32) AS BIGINT) AS chunk_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q55_vocabulary" ->
      """SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |      FROM documents) t
        |GROUP BY 1 ORDER BY tf DESC, tok LIMIT 50""".stripMargin,
    "q56_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |s AS (SELECT doc_id, tok, tf.tf, df.df,
        |        tf.tf * (CAST(n.n AS DOUBLE) / df.df) AS tfidf
        |      FROM tf JOIN df USING (tok) CROSS JOIN n),
        |r AS (SELECT doc_id, tok, tf, df, tfidf,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |             ORDER BY tfidf DESC, tok) AS BIGINT) AS rnk FROM s)
        |SELECT doc_id, rnk, tok, tf, df, tfidf FROM r
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q57_big_orders" ->
      """WITH big AS (SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150.0)
        |SELECT o_orderkey, c_custkey, c_name, total_qty, o_totalprice
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q58_promo_share" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_rev,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_rev,
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q59_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_rev
        |  FROM lineitem GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q60_variance" ->
      """WITH s AS (SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_x,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_x2
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n, sum_x,
        |  (sum_x2 - sum_x * sum_x / n) / (n - 1) AS variance,
        |  sqrt((sum_x2 - sum_x * sum_x / n) / (n - 1)) AS stddev
        |FROM s ORDER BY 1""".stripMargin,
    "q64_range_join" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events)
        |SELECT a.event_id AS id_a, b.event_id AS id_b, b.ms - a.ms AS gap_ms
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.ms - a.ms BETWEEN 0 AND 60000
        |  AND (b.ms > a.ms OR (b.ms = a.ms AND b.event_id > a.event_id))
        |ORDER BY id_a, id_b""".stripMargin,
    "q65_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY 1, 2""".stripMargin,
    "q66_value_windows" ->
      """SELECT o_custkey, o_orderkey,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_order,
        |  LAST_VALUE(o_orderkey) OVER w AS last_order,
        |  NTH_VALUE(o_orderkey, 2) OVER w AS second_order
        |FROM orders WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q67_distribution_ranks" ->
      """SELECT c_nationkey, c_custkey,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile
        |FROM customer WINDOW w AS (PARTITION BY c_nationkey
        |  ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_nationkey, c_custkey""".stripMargin,
    "q70_conditional" ->
      """SELECT l_orderkey, l_linenumber,
        |  NULLIF(l_returnflag, 'N') AS flag_or_null,
        |  COALESCE(NULLIF(l_returnflag, 'N'), 'kept') AS flag_coalesced,
        |  GREATEST(l_discount, l_tax) AS max_rate,
        |  LEAST(l_quantity, 10.0) AS capped_qty
        |FROM lineitem ORDER BY 1, 2""".stripMargin,
    "q71_map_functions" ->
      """SELECT event_id,
        |  array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
        |  CAST(len(json_keys(props)) AS BIGINT) AS n_props,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
        |FROM events ORDER BY event_id""".stripMargin,
    "q75_calendar_spine" ->
      """WITH spine AS (
        |  SELECT strftime(CAST(d AS DATE), '%Y-%m-%d') AS day
        |  FROM (SELECT unnest(generate_series(DATE '1997-01-01',
        |        DATE '1997-12-31', INTERVAL 1 DAY)) AS d) g),
        |daily AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, COUNT(*) AS cnt,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM orders GROUP BY 1)
        |SELECT spine.day, COALESCE(cnt, 0) AS n_orders,
        |       COALESCE(sum_price, 0.0) AS sum_price
        |FROM spine LEFT JOIN daily ON spine.day = daily.day
        |ORDER BY spine.day""".stripMargin,
    "q76_mode" ->
      """SELECT o_orderstatus, mode_priority, n FROM (
        |  SELECT o_orderstatus, o_orderpriority AS mode_priority, COUNT(*) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
        |  FROM orders GROUP BY 1, 2) t
        |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,
    "q77_correlation" ->
      """WITH s AS (SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  (n * sxy - sx * sy) /
        |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_xy
        |FROM s ORDER BY 1""".stripMargin,
    "q78_range_frame" ->
      """SELECT user_id, event_id, ts_ms,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_ms
        |    RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS events_last_hour
        |FROM (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events) e
        |ORDER BY user_id, event_id""".stripMargin,
    "q79_string_agg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |       COUNT(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q80_intersect" ->
      """SELECT custkey FROM (
        |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000.0) t
        |ORDER BY custkey""".stripMargin,
    "q81_local_volume" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_nationkey = s_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q51_array_stats" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS v_min,
        |  CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS v_max,
        |  list_sum(list_transform(range(1, len(embedding) + 1),
        |    i -> embedding[i]::DOUBLE)) / len(embedding) AS v_mean,
        |  sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
        |    i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS l2_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q30_exact_dedup" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
        |       CAST(length(text) AS BIGINT) AS text_len
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "q31_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents WHERE doc_id < 200),
        |sh AS (SELECT DISTINCT doc_id, s FROM t, LATERAL (
        |         SELECT unnest(list_transform(range(1, len(w) - 1),
        |                i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s) u),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b, common, na, nb, jaccard FROM (
        |  SELECT id_a, id_b, common, sa.n AS na, sb.n AS nb,
        |         CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
        |  FROM p JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id) j
        |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    "q32_minhash_lsh" ->
      s"""WITH $minhashPairsCtes
        |SELECT id_a, id_b, jaccard FROM neardup
        |ORDER BY id_a, id_b""".stripMargin,
    "q33_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 9),
        |        i -> CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1 AS BIGINT))),
        |      (a, b) -> a * 16 + b) AS th
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) u),
        |bits AS (SELECT doc_id, bit,
        |           SUM(2 * ((th // CAST(pow(2, bit) AS BIGINT)) % 2) - 1) AS w
        |         FROM toks, (SELECT unnest(range(0, 32)) AS bit) b GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN w > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY 1 ORDER BY 1""".stripMargin,
    "q62_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 9),
        |        i -> CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1 AS BIGINT))),
        |      (a, b) -> a * 16 + b) AS th
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) u),
        |bits AS (SELECT doc_id, bit,
        |           SUM(2 * ((th // CAST(pow(2, bit) AS BIGINT)) % 2) - 1) AS w
        |         FROM toks, (SELECT unnest(range(0, 32)) AS bit) b GROUP BY 1, 2),
        |sh AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN w > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY 1),
        |banded AS (SELECT doc_id, simhash, band,
        |    (simhash // CAST(pow(256, band) AS BIGINT)) % 256 AS byte
        |  FROM sh, (SELECT unnest(range(0, 4)) AS band) bands),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.simhash AS h_a, b.simhash AS h_b
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(h_a, h_b)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q72_neardup_clusters" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
        |$clusterCtes
        |SELECT doc_id, cluster FROM cl ORDER BY doc_id""".stripMargin,
    // q257: the near-dup labels q72 serves (star contraction's
    // fixpoint: component minimum as the label, which the recursive
    // CTE's min-label propagation replays); degree = distinct
    // pair-graph neighbors
    "q257_cc_stars" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
        |$clusterCtes,
        |deg AS (SELECT src AS doc_id, CAST(COUNT(DISTINCT dst) AS BIGINT)
        |    AS degree FROM edges GROUP BY 1)
        |SELECT c.doc_id, c.cluster, d.degree
        |FROM cl c JOIN deg d USING (doc_id) ORDER BY c.doc_id""".stripMargin,
    // q242: dedup provenance — every dropped doc with its keeper;
    // direct = a verified pair against the keeper itself exists
    "q242_dedup_lineage" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
        |$clusterCtes
        |SELECT c.doc_id, c.cluster AS keeper_id, d.source,
        |  (n.jaccard IS NOT NULL) AS direct, n.jaccard AS jaccard_to_keeper
        |FROM cl c
        |JOIN documents d ON d.doc_id = c.doc_id
        |LEFT JOIN neardup n ON n.id_a = c.cluster AND n.id_b = c.doc_id
        |WHERE c.doc_id <> c.cluster
        |ORDER BY c.doc_id""".stripMargin,
    // q243: Hilbert layout audit — the xy2d walk is generated from the
    // same level loop as the Spark side (Layout.hilbertSqlCtes)
    "q243_hilbert_layout" ->
      s"""WITH base AS (SELECT l_partkey & ${graft.ops.Layout.HMask} AS x,
        |    l_suppkey & ${graft.ops.Layout.HMask} AS y FROM lineitem),
        |${graft.ops.Layout.hilbertSqlCtes("base")}
        |SELECT hd >> ${graft.ops.Layout.HBucketShift} AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  MIN(x) AS x_lo, MAX(x) AS x_hi, MIN(y) AS y_lo, MAX(y) AS y_hi
        |FROM h0 GROUP BY 1 ORDER BY 1""".stripMargin,
    // q263: sort-ordered compaction plan — the q243 bucket table cut
    // into CompactionFiles contiguous curve ranges by proportional
    // prefix (file = rows_before·files div total); window sums run on
    // the ≤4096-row bucket table in both engines
    "q263_compaction_plan" ->
      s"""WITH base AS (SELECT l_partkey & ${graft.ops.Layout.HMask} AS x,
        |    l_suppkey & ${graft.ops.Layout.HMask} AS y FROM lineitem),
        |${graft.ops.Layout.hilbertSqlCtes("base")},
        |b AS (SELECT hd >> ${graft.ops.Layout.HBucketShift} AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    MIN(x) AS x_lo, MAX(x) AS x_hi, MIN(y) AS y_lo, MAX(y) AS y_hi
        |  FROM h0 GROUP BY 1),
        |c AS (SELECT bucket, n_rows, x_lo, x_hi, y_lo, y_hi,
        |    SUM(n_rows) OVER (ORDER BY bucket) AS cum,
        |    SUM(n_rows) OVER () AS tot FROM b),
        |p AS (SELECT *, CAST(((cum - n_rows) * ${graft.ops.Layout.CompactionFiles})
        |    // tot AS BIGINT) AS file_id FROM c)
        |SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(SUM(n_rows) AS BIGINT) AS n_rows,
        |  MIN(bucket) AS bucket_lo, MAX(bucket) AS bucket_hi,
        |  MIN(x_lo) AS x_lo, MAX(x_hi) AS x_hi,
        |  MIN(y_lo) AS y_lo, MAX(y_hi) AS y_hi,
        |  CAST((1000000 * SUM(n_rows)) // MIN(tot) AS BIGINT) AS share_ppm
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // q244: zone-map pruning audit — hilbert vs zorder vs lex buckets
    // against the fixed predicate workload (Layout.ZonePreds)
    "q244_zonemap_prune" ->
      s"""WITH base AS (SELECT l_partkey & ${graft.ops.Layout.HMask} AS x,
        |    l_suppkey & ${graft.ops.Layout.HMask} AS y FROM lineitem),
        |${graft.ops.Layout.hilbertSqlCtes("base")},
        |keyed AS (SELECT x, y, hd,
        |    ${graft.ops.Layout.zorderSqlN("x", "y", graft.ops.Layout.HBits)} AS zd,
        |    (x << ${graft.ops.Layout.HBits}) + y AS lexd FROM h0),
        |tagged AS (
        |  SELECT x, y, 'hilbert' AS layout,
        |    hd >> ${graft.ops.Layout.HBucketShift} AS bucket FROM keyed
        |  UNION ALL SELECT x, y, 'lex',
        |    lexd >> ${graft.ops.Layout.HBucketShift} FROM keyed
        |  UNION ALL SELECT x, y, 'zorder',
        |    zd >> ${graft.ops.Layout.HBucketShift} FROM keyed),
        |zones AS (SELECT layout, bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |    MIN(x) AS zx_lo, MAX(x) AS zx_hi,
        |    MIN(y) AS zy_lo, MAX(y) AS zy_hi
        |  FROM tagged GROUP BY 1, 2),
        |preds AS (SELECT * FROM ${graft.ops.Layout.zonePredsSql}),
        |sc AS (SELECT layout, pred_id, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |    CAST(SUM(CASE WHEN zx_lo <= px_hi AND zx_hi >= px_lo
        |          AND zy_lo <= py_hi AND zy_hi >= py_lo
        |        THEN 1 ELSE 0 END) AS BIGINT) AS buckets_scanned,
        |    CAST(SUM(CASE WHEN zx_lo <= px_hi AND zx_hi >= px_lo
        |          AND zy_lo <= py_hi AND zy_hi >= py_lo
        |        THEN n ELSE 0 END) AS BIGINT) AS rows_scanned
        |  FROM zones CROSS JOIN preds GROUP BY 1, 2),
        |m AS (SELECT pred_id, CAST(COUNT(*) AS BIGINT) AS rows_matching
        |  FROM base CROSS JOIN preds
        |  WHERE x BETWEEN px_lo AND px_hi AND y BETWEEN py_lo AND py_hi
        |  GROUP BY 1)
        |SELECT layout, pred_id, n_buckets, buckets_scanned, rows_scanned,
        |  COALESCE(rows_matching, CAST(0 AS BIGINT)) AS rows_matching
        |FROM sc LEFT JOIN m USING (pred_id)
        |ORDER BY layout, pred_id""".stripMargin,
    // q245: l-diversity — QI = (day, value band); sensitive attribute
    // = event_type; classes with < l distinct sensitive values
    "q245_l_diversity" ->
      """WITH cls AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(floor(value / 100.0) AS BIGINT) AS band,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS ndv
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
        |    CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN ndv < 2 THEN 1 ELSE 0 END) AS BIGINT) AS g2,
        |    CAST(SUM(CASE WHEN ndv < 2 THEN n ELSE 0 END) AS BIGINT) AS r2,
        |    CAST(SUM(CASE WHEN ndv < 3 THEN 1 ELSE 0 END) AS BIGINT) AS g3,
        |    CAST(SUM(CASE WHEN ndv < 3 THEN n ELSE 0 END) AS BIGINT) AS r3,
        |    CAST(SUM(CASE WHEN ndv < 5 THEN 1 ELSE 0 END) AS BIGINT) AS g5,
        |    CAST(SUM(CASE WHEN ndv < 5 THEN n ELSE 0 END) AS BIGINT) AS r5
        |  FROM cls)
        |SELECT * FROM (
        |  SELECT CAST(2 AS BIGINT) AS l, n_classes, n_rows,
        |    g2 AS n_violating_classes, r2 AS n_violating_rows,
        |    CAST((1000000 * CAST(r2 AS HUGEINT)) // nullif(n_rows, 0)
        |      AS BIGINT) AS risk_ppm FROM s
        |  UNION ALL SELECT 3, n_classes, n_rows, g3, r3,
        |    CAST((1000000 * CAST(r3 AS HUGEINT)) // nullif(n_rows, 0)
        |      AS BIGINT) FROM s
        |  UNION ALL SELECT 5, n_classes, n_rows, g5, r5,
        |    CAST((1000000 * CAST(r5 AS HUGEINT)) // nullif(n_rows, 0)
        |      AS BIGINT) FROM s)
        |ORDER BY l""".stripMargin,
    // q249: t-closeness — exact total-variation distance per QI class
    // vs the corpus event_type distribution, common-denominator
    // integer arithmetic incl. the absent-event fold
    "q249_t_closeness" ->
      """WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |    CAST(floor(value / 100.0) AS BIGINT) AS band FROM events),
        |ce AS (SELECT day, band, event_type, CAST(COUNT(*) AS BIGINT) AS n_ce
        |  FROM ev GROUP BY 1, 2, 3),
        |g AS (SELECT event_type, CAST(SUM(n_ce) AS BIGINT) AS n_e
        |  FROM ce GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_e) AS BIGINT) AS n FROM g),
        |c AS (SELECT day, band, CAST(SUM(n_ce) AS BIGINT) AS n_c
        |  FROM ce GROUP BY 1, 2),
        |dev AS (SELECT ce.day, ce.band,
        |    SUM(abs(CAST(ce.n_ce AS HUGEINT) * tot.n
        |            - CAST(g.n_e AS HUGEINT) * c.n_c)) AS dev_present,
        |    CAST(SUM(g.n_e) AS BIGINT) AS ne_present
        |  FROM ce JOIN g USING (event_type)
        |  JOIN c ON c.day = ce.day AND c.band = ce.band
        |  CROSS JOIN tot GROUP BY 1, 2),
        |cls AS (SELECT c.day, c.band, c.n_c,
        |    CAST((1000000 * (d.dev_present
        |          + CAST(c.n_c AS HUGEINT) * (tot.n - d.ne_present)))
        |      // (2 * CAST(c.n_c AS HUGEINT) * tot.n) AS BIGINT) AS tv_ppm
        |  FROM c JOIN dev d ON d.day = c.day AND d.band = c.band
        |  CROSS JOIN tot),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
        |    CAST(SUM(n_c) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN tv_ppm > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS g0,
        |    CAST(SUM(CASE WHEN tv_ppm > 100000 THEN n_c ELSE 0 END) AS BIGINT) AS r0,
        |    CAST(SUM(CASE WHEN tv_ppm > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS g1,
        |    CAST(SUM(CASE WHEN tv_ppm > 200000 THEN n_c ELSE 0 END) AS BIGINT) AS r1,
        |    CAST(SUM(CASE WHEN tv_ppm > 300000 THEN 1 ELSE 0 END) AS BIGINT) AS g2,
        |    CAST(SUM(CASE WHEN tv_ppm > 300000 THEN n_c ELSE 0 END) AS BIGINT) AS r2
        |  FROM cls)
        |SELECT * FROM (
        |  SELECT CAST(100000 AS BIGINT) AS t, n_classes, n_rows,
        |    g0 AS n_violating_classes, r0 AS n_violating_rows,
        |    CAST((1000000 * CAST(r0 AS HUGEINT)) // nullif(n_rows, 0)
        |      AS BIGINT) AS risk_ppm FROM s
        |  UNION ALL SELECT 200000, n_classes, n_rows, g1, r1,
        |    CAST((1000000 * CAST(r1 AS HUGEINT)) // nullif(n_rows, 0)
        |      AS BIGINT) FROM s
        |  UNION ALL SELECT 300000, n_classes, n_rows, g2, r2,
        |    CAST((1000000 * CAST(r2 AS HUGEINT)) // nullif(n_rows, 0)
        |      AS BIGINT) FROM s)
        |ORDER BY t""".stripMargin,
    // q250: HTML extraction — the same deterministic ADVERSARIAL markup
    // synthesis (script/style bodies, a comment with embedded '>', a
    // quoted '>' inside every 10th anchor's attribute), then the
    // two-pass extraction: block removal, attribute-aware tag strip,
    // whitespace squash, anchor accounting; 'g' flags make DuckDB's
    // regexp_replace global like Spark's
    "q250_html_extract" ->
      """WITH ws AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    '<html><head><title>doc</title>'
        |    || '<script type="text/javascript">var t = 1 > 0; track("SCRIPTLEAK '
        |    || CAST(doc_id AS VARCHAR) || '");</script>'
        |    || '<style>body > p { margin: 0 } /* STYLELEAK */</style>'
        |    || '</head><body><nav><a href="/">home</a> <a href="/s">' || source
        |    || '</a></nav><!-- nav state > collapsed COMMENTLEAK --><p>'
        |    || array_to_string(list_transform(range(1, len(w) + 1),
        |         i -> CASE WHEN i % 10 = 0
        |                THEN '<a href="#" data-note="x>y">' || w[i] || '</a>'
        |                WHEN i % 5 = 0
        |                THEN '<a href="#">' || w[i] || '</a>'
        |                ELSE w[i] END), ' ')
        |    || '</p><footer><a href="/about">about us</a></footer>'
        |    || '</body></html>' AS html
        |  FROM ws),
        |c AS (SELECT doc_id, regexp_replace(html,
        |    '(?s)(?:<script(?: (?:[^>"]|"[^"]*")*)?>.*?</script>|<style>.*?</style>|<!--.*?-->)',
        |    ' ', 'g') AS cleaned
        |  FROM h),
        |m AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(cleaned, '<(?:[^>"]|"[^"]*")*>'))
        |      AS BIGINT) AS n_tags,
        |    CAST(COALESCE(list_sum(list_transform(
        |        regexp_extract_all(cleaned, '<a (?:[^>"]|"[^"]*")*>([^<]*)</a>', 1),
        |        x -> len(x))), 0) AS BIGINT) AS anchor_chars,
        |    trim(regexp_replace(regexp_replace(cleaned,
        |      '<(?:[^>"]|"[^"]*")*>', ' ', 'g'),
        |      ' +', ' ', 'g')) AS extracted
        |  FROM c),
        |e AS (SELECT doc_id, n_tags, anchor_chars,
        |    CAST(len(extracted) AS BIGINT) AS text_chars,
        |    string_split(extracted, ' ') AS ews
        |  FROM m)
        |SELECT doc_id, n_tags, anchor_chars, text_chars,
        |  (1000000 * anchor_chars) // nullif(text_chars, 0)
        |    AS link_density_ppm,
        |  CAST(len(ews) AS BIGINT) AS n_words,
        |  (100 * CAST(COALESCE(list_sum(list_transform(ews, x -> len(x))), 0)
        |    AS BIGINT)) // nullif(CAST(len(ews) AS BIGINT), 0)
        |    AS mean_wlen_centi,
        |  (1000000 * anchor_chars) // nullif(text_chars, 0) <= 400000
        |    AS ok_density,
        |  CAST(len(ews) AS BIGINT) >= 30 AS ok_nwords,
        |  ((1000000 * anchor_chars) // nullif(text_chars, 0) <= 400000
        |   AND CAST(len(ews) AS BIGINT) >= 30) AS keep
        |FROM e ORDER BY doc_id""".stripMargin,
    // q253: the q250 extraction pipeline rolled up per source — docs
    // in/kept, keep ppm, aggregate link density, kept word volume
    "q253_extract_funnel" ->
      """WITH ws AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |h AS (SELECT doc_id, source,
        |    '<html><head><title>doc</title>'
        |    || '<script type="text/javascript">var t = 1 > 0; track("SCRIPTLEAK '
        |    || CAST(doc_id AS VARCHAR) || '");</script>'
        |    || '<style>body > p { margin: 0 } /* STYLELEAK */</style>'
        |    || '</head><body><nav><a href="/">home</a> <a href="/s">' || source
        |    || '</a></nav><!-- nav state > collapsed COMMENTLEAK --><p>'
        |    || array_to_string(list_transform(range(1, len(w) + 1),
        |         i -> CASE WHEN i % 10 = 0
        |                THEN '<a href="#" data-note="x>y">' || w[i] || '</a>'
        |                WHEN i % 5 = 0
        |                THEN '<a href="#">' || w[i] || '</a>'
        |                ELSE w[i] END), ' ')
        |    || '</p><footer><a href="/about">about us</a></footer>'
        |    || '</body></html>' AS html
        |  FROM ws),
        |c AS (SELECT doc_id, source, regexp_replace(html,
        |    '(?s)(?:<script(?: (?:[^>"]|"[^"]*")*)?>.*?</script>|<style>.*?</style>|<!--.*?-->)',
        |    ' ', 'g') AS cleaned
        |  FROM h),
        |m AS (SELECT doc_id, source,
        |    CAST(COALESCE(list_sum(list_transform(
        |        regexp_extract_all(cleaned, '<a (?:[^>"]|"[^"]*")*>([^<]*)</a>', 1),
        |        x -> len(x))), 0) AS BIGINT) AS anchor_chars,
        |    trim(regexp_replace(regexp_replace(cleaned,
        |      '<(?:[^>"]|"[^"]*")*>', ' ', 'g'),
        |      ' +', ' ', 'g')) AS extracted
        |  FROM c),
        |e AS (SELECT doc_id, source, anchor_chars,
        |    CAST(len(extracted) AS BIGINT) AS text_chars,
        |    CAST(len(string_split(extracted, ' ')) AS BIGINT) AS n_words,
        |    ((1000000 * anchor_chars)
        |       // nullif(CAST(len(extracted) AS BIGINT), 0) <= 400000
        |     AND CAST(len(string_split(extracted, ' ')) AS BIGINT) >= 30)
        |      AS keep
        |  FROM m)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST((1000000 * CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END)
        |      AS HUGEINT)) // nullif(CAST(COUNT(*) AS BIGINT), 0) AS BIGINT)
        |    AS kept_ppm,
        |  CAST(SUM(anchor_chars) AS BIGINT) AS anchor_chars,
        |  CAST(SUM(text_chars) AS BIGINT) AS text_chars,
        |  CAST((1000000 * CAST(SUM(anchor_chars) AS HUGEINT))
        |      // nullif(CAST(SUM(text_chars) AS BIGINT), 0) AS BIGINT)
        |    AS density_ppm,
        |  CAST(SUM(CASE WHEN keep THEN n_words ELSE 0 END) AS BIGINT)
        |    AS words_kept
        |FROM e GROUP BY source ORDER BY source""".stripMargin,
    // exact top-16 + the Misra-Gries coverage boolean, which the MG
    // guarantee forces TRUE under every partitioning — literal TRUE here
    "q102_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |exact AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok)
        |SELECT tok, cnt, TRUE AS mg_covered FROM exact
        |ORDER BY cnt DESC, tok LIMIT 16""".stripMargin,
    // batch (odd ids) vs corpus (even ids) cross-LSH near-dups
    "q101_incremental_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM t, LATERAL (
        |         SELECT unnest(list_transform(range(1, len(w) - 1),
        |                i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s) u),
        |mh AS (SELECT doc_id, salt,
        |         MIN(substr(md5(CASE WHEN salt < 4 THEN 'a|' ELSE 'b|' END || s),
        |                    1 + 8 * (salt % 4), 8)) AS h
        |       FROM sh, (SELECT unnest(range(0, 8)) AS salt) salts
        |       GROUP BY 1, 2),
        |bands AS (SELECT doc_id, salt // 2 AS band,
        |            concat_ws(',', MIN(CASE WHEN salt % 2 = 0 THEN h END),
        |                           MIN(CASE WHEN salt % 2 = 1 THEN h END)) AS sig
        |          FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
        |         FROM bands b JOIN bands c ON b.band = c.band AND b.sig = c.sig
        |         WHERE b.doc_id % 2 = 1 AND c.doc_id % 2 = 0),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |cm AS (SELECT batch_id, corpus_id, COUNT(*) AS common
        |       FROM cand c JOIN sh x ON x.doc_id = c.batch_id
        |       JOIN sh y ON y.doc_id = c.corpus_id AND y.s = x.s
        |       GROUP BY 1, 2)
        |SELECT batch_id, corpus_id, jaccard FROM (
        |  SELECT batch_id, corpus_id,
        |         CAST(common AS DOUBLE) / (sb.n + sc.n - common) AS jaccard
        |  FROM cm JOIN sz sb ON batch_id = sb.doc_id
        |  JOIN sz sc ON corpus_id = sc.doc_id) j
        |WHERE jaccard >= 0.5 ORDER BY batch_id, corpus_id""".stripMargin,
    // the literal window formulation: the Spark side is rewritten to the
    // bounded-heap operator by InferTopKPerKey, the oracle is not —
    // matching hashes prove the rewrite is plan-only
    "q100_rank_rewrite" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 2
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    "q68_inverted_index" ->
      """SELECT token, df, postings_head FROM (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
        |    array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 20), ',')
        |      AS postings_head
        |  FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents) t
        |  GROUP BY token) x
        |ORDER BY token""".stripMargin,
    // q69 = q72's LSH + label-propagation chain, then keep only cluster
    // minima (canonical members) and profile the surviving corpus
    "q69_dedup_survivors" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM t, LATERAL (
        |         SELECT unnest(list_transform(range(1, len(w) - 1),
        |                i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s) u),
        |mh AS (SELECT doc_id, salt,
        |         MIN(substr(md5(CASE WHEN salt < 4 THEN 'a|' ELSE 'b|' END || s),
        |                    1 + 8 * (salt % 4), 8)) AS h
        |       FROM sh, (SELECT unnest(range(0, 8)) AS salt) salts
        |       GROUP BY 1, 2),
        |bands AS (SELECT doc_id, salt // 2 AS band,
        |            concat_ws(',', MIN(CASE WHEN salt % 2 = 0 THEN h END),
        |                           MIN(CASE WHEN salt % 2 = 1 THEN h END)) AS sig
        |          FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bands a JOIN bands b
        |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |cm AS (SELECT id_a, id_b, COUNT(*) AS common
        |       FROM cand c JOIN sh x ON x.doc_id = c.id_a
        |       JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
        |       GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM (
        |    SELECT id_a, id_b,
        |           CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
        |    FROM cm JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id) j
        |  WHERE jaccard >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (SELECT DISTINCT src AS node, src AS lab FROM edges
        |          UNION
        |          SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
        |dropped AS (SELECT node AS doc_id FROM reach
        |            GROUP BY 1 HAVING node <> MIN(lab))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
        |       MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
        |FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q73_hash_sample" ->
      """SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
        |FROM documents
        |WHERE (lang = 'en' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000')
        |   OR (lang <> 'en' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'c000')
        |ORDER BY doc_id""".stripMargin,
    "q74_source_mixing" ->
      """SELECT source, rnk, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |         ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rnk
        |  FROM documents) t
        |WHERE rnk <= 30 ORDER BY source, rnk""".stripMargin,
    "q52_ivf_ann" -> ivfOracleSql(
      cells = graft.llm.Pipeline.IvfCells, iters = graft.llm.Pipeline.IvfIters,
      nprobe = graft.llm.Pipeline.IvfProbe, k = 5),
    "q157_cluster_sample" -> clusterSampleOracleSql(
      cells = graft.llm.Pipeline.IvfCells, iters = graft.llm.Pipeline.IvfIters,
      cap = 32),
    "q196_cluster_terms" -> clusterTermsOracleSql(
      cells = graft.llm.Pipeline.IvfCells, iters = graft.llm.Pipeline.IvfIters,
      k = 5, minCount = 10L),
    "q36_ann_lsh" -> annLshOracleSql(k = 5),
    "q149_ann_recall" -> annRecallOracleSql(k = 5),
    "q150_multiprobe_recall" -> multiProbeRecallOracleSql(k = 5, probes = 3),
    "q219_ann_mrr" -> annMrrOracleSql(k = 5, probes = 3),
    "q154_planted_recall" -> plantedRecallOracleSql(k = 5, probes = 3),
    // q156: corpus-relative token rarity — integer thresholds + exact
    // frequency-mass sum; md5 token keys in both engines
    "q156_token_rarity" ->
      """WITH toks AS (SELECT doc_id, md5(t) AS tok FROM (
        |                SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |                FROM documents) raw),
        |freq AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |       CAST(SUM(CASE WHEN n <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |       CAST(SUM(CASE WHEN n >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
        |       CAST(SUM(n) AS BIGINT) AS freq_mass,
        |       CAST(SUM(CASE WHEN n <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        |         AS rare_frac,
        |       CAST(SUM(CASE WHEN n >= 100 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        |         AS common_frac,
        |       CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_freq
        |FROM toks JOIN freq USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q155: robust winnowing (SWA 2003) — k=4-token grams, w=4 windows,
    // rightmost-min fingerprints; detects any exact repeat >= 7 tokens
    "q155_winnow_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 7),
        |h AS (SELECT doc_id, list_transform(range(1, len(ws) - 2), i ->
        |        substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 16)) AS hs
        |      FROM t),
        |wins AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(hs) - 2), p ->
        |      list_min(hs[p:p+3]))) AS fp,
        |    unnest(list_transform(range(1, len(hs) - 2), p ->
        |      list_max(list_transform(range(p, p + 4), j ->
        |        CASE WHEN hs[j] = list_min(hs[p:p+3]) THEN j ELSE 0 END)))) AS pos
        |  FROM h),
        |f AS (SELECT DISTINCT doc_id, fp, pos FROM wins),
        |per AS (SELECT fp, doc_id, COUNT(*) AS occ FROM f GROUP BY 1, 2)
        |SELECT fp, COUNT(*) AS n_docs, CAST(SUM(occ) AS BIGINT) AS n_occurrences,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM per GROUP BY 1
        |HAVING COUNT(*) >= 2
        |ORDER BY n_docs DESC, fp LIMIT 100""".stripMargin,
    "q151_ivf_recall" -> ivfRecallOracleSql(
      cells = graft.llm.Pipeline.IvfCells, iters = graft.llm.Pipeline.IvfIters,
      nprobe = graft.llm.Pipeline.IvfProbe, k = 5),
    "q158_pq_ann" -> pqOracleSql(
      sd = graft.llm.PQ.SubDim, m = graft.llm.PQ.SubSpaces,
      kk = graft.llm.PQ.Codes, iters = graft.llm.PQ.Iters,
      depth = graft.llm.PQ.Shortlist, k = 5),
    "q159_pq_recall" -> pqRecallOracleSql(
      sd = graft.llm.PQ.SubDim, m = graft.llm.PQ.SubSpaces,
      kk = graft.llm.PQ.Codes, iters = graft.llm.PQ.Iters,
      depth = graft.llm.PQ.Shortlist, k = 5),
    "q160_ivfpq_ann" -> ivfPqOracleSql(
      sd = graft.llm.PQ.SubDim, m = graft.llm.PQ.SubSpaces,
      kk = graft.llm.PQ.Codes, pqIters = graft.llm.PQ.Iters,
      depth = graft.llm.PQ.Shortlist, k = 5,
      cells = graft.llm.Pipeline.IvfCells, iters = graft.llm.Pipeline.IvfIters,
      nprobe = graft.llm.Pipeline.IvfProbe),
    "q161_ivfpq_recall" -> ivfPqRecallOracleSql(
      sd = graft.llm.PQ.SubDim, m = graft.llm.PQ.SubSpaces,
      kk = graft.llm.PQ.Codes, pqIters = graft.llm.PQ.Iters,
      depth = graft.llm.PQ.Shortlist, k = 5,
      cells = graft.llm.Pipeline.IvfCells, iters = graft.llm.Pipeline.IvfIters,
      nprobe = graft.llm.Pipeline.IvfProbe),
    "q261_ivfrpq_ann" -> ivfRpqOracleSql(
      sd = graft.llm.PQ.SubDim, m = graft.llm.PQ.SubSpaces,
      kk = graft.llm.PQ.Codes, pqIters = graft.llm.PQ.Iters,
      depth = graft.llm.PQ.Shortlist, k = 5,
      cells = graft.llm.Pipeline.IvfCells, iters = graft.llm.Pipeline.IvfIters,
      nprobe = graft.llm.Pipeline.IvfProbe),
    "q262_ivfrpq_recall" -> ivfRpqRecallOracleSql(
      sd = graft.llm.PQ.SubDim, m = graft.llm.PQ.SubSpaces,
      kk = graft.llm.PQ.Codes, pqIters = graft.llm.PQ.Iters,
      depth = graft.llm.PQ.Shortlist, k = 5,
      cells = graft.llm.Pipeline.IvfCells, iters = graft.llm.Pipeline.IvfIters,
      nprobe = graft.llm.Pipeline.IvfProbe),
    "q162_semantic_dedup" -> semanticDedupOracleSql(
      cells = graft.llm.Pipeline.IvfCells, iters = graft.llm.Pipeline.IvfIters,
      tau = Dedup.SemTau),
    // q163: winnowing decontamination — the q155 fingerprint CTEs
    // (fp-only: the window MIN value is the fingerprint regardless of
    // the rightmost-tie position), eval slice doc_id % 50 = 0
    "q163_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 7),
        |h AS (SELECT doc_id, list_transform(range(1, len(ws) - 2), i ->
        |        substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 16)) AS hs
        |      FROM t),
        |wins AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(hs) - 2), p ->
        |      list_min(hs[p:p+3]))) AS fp
        |  FROM h),
        |f AS (SELECT DISTINCT doc_id, fp FROM wins),
        |ev AS (SELECT fp, doc_id AS eval_doc FROM f WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, fp FROM f WHERE doc_id % 50 <> 0)
        |SELECT tr.doc_id, COUNT(DISTINCT tr.fp) AS n_shared_fps,
        |       COUNT(DISTINCT ev.eval_doc) AS n_eval_docs
        |FROM tr JOIN ev ON ev.fp = tr.fp
        |GROUP BY 1 ORDER BY tr.doc_id""".stripMargin,
    // q164: DSIR importance selection — fixed-point add-one-smoothed
    // likelihood-ratio weights over md5-hashed bigram buckets (B=4096,
    // SCALE=1e6), target slice source='src0'; integer div replays
    // exactly (both engines truncate positive quotients)
    "q164_dsir_select" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |g AS (SELECT doc_id, source,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(range(1, 9),
        |            j -> CAST(strpos('0123456789abcdef',
        |                   substr(md5(w[i] || ' ' || w[i+1]), j, 1)) - 1
        |                 AS BIGINT))),
        |          (a, b) -> a * 16 + b) % 4096 AS b
        |      FROM (SELECT doc_id, source, w, unnest(range(1, len(w))) AS i
        |            FROM t) u),
        |wt AS (SELECT b,
        |         (1000000 * (CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0
        |            END) AS BIGINT) + 1))
        |           // (CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0
        |              END) AS BIGINT) + 4096) AS w
        |       FROM g GROUP BY 1)
        |SELECT g.doc_id, g.source, COUNT(*) AS n_grams,
        |       CAST(SUM(wt.w) AS BIGINT) AS w_sum
        |FROM g JOIN wt USING (b)
        |WHERE g.source <> 'src0'
        |GROUP BY 1, 2
        |ORDER BY w_sum DESC, doc_id
        |LIMIT 100""".stripMargin,
    // q165: filter-rule ablation — per rule: docs it fails, docs ONLY
    // it kills, and survivors if the rule were dropped; all exact
    // integer conditional sums over one row-local rule matrix
    "q165_filter_ablation" ->
      """WITH f AS (
        |  SELECT len(w) >= 5 AS p_min_len,
        |         10 * (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
        |           <= length(text) AS p_max_digits,
        |         list_has_any(w, ['the', 'a', 'of', 'and']) AS p_has_stopword,
        |         lang IN ('en', 'es', 'fr') AS p_lang_allowed,
        |         10 * len(list_distinct(w)) >= 3 * len(w) AS p_distinct_ratio
        |  FROM (SELECT lang, text, string_split(text, ' ') AS w FROM documents)),
        |a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN p_min_len AND p_max_digits AND p_has_stopword
        |      AND p_lang_allowed AND p_distinct_ratio THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all,
        |    CAST(SUM(CASE WHEN NOT p_min_len THEN 1 ELSE 0 END) AS BIGINT) AS f_min_len,
        |    CAST(SUM(CASE WHEN NOT p_min_len AND p_max_digits AND p_has_stopword
        |      AND p_lang_allowed AND p_distinct_ratio THEN 1 ELSE 0 END) AS BIGINT) AS u_min_len,
        |    CAST(SUM(CASE WHEN NOT p_max_digits THEN 1 ELSE 0 END) AS BIGINT) AS f_max_digits,
        |    CAST(SUM(CASE WHEN NOT p_max_digits AND p_min_len AND p_has_stopword
        |      AND p_lang_allowed AND p_distinct_ratio THEN 1 ELSE 0 END) AS BIGINT) AS u_max_digits,
        |    CAST(SUM(CASE WHEN NOT p_has_stopword THEN 1 ELSE 0 END) AS BIGINT) AS f_has_stopword,
        |    CAST(SUM(CASE WHEN NOT p_has_stopword AND p_min_len AND p_max_digits
        |      AND p_lang_allowed AND p_distinct_ratio THEN 1 ELSE 0 END) AS BIGINT) AS u_has_stopword,
        |    CAST(SUM(CASE WHEN NOT p_lang_allowed THEN 1 ELSE 0 END) AS BIGINT) AS f_lang_allowed,
        |    CAST(SUM(CASE WHEN NOT p_lang_allowed AND p_min_len AND p_max_digits
        |      AND p_has_stopword AND p_distinct_ratio THEN 1 ELSE 0 END) AS BIGINT) AS u_lang_allowed,
        |    CAST(SUM(CASE WHEN NOT p_distinct_ratio THEN 1 ELSE 0 END) AS BIGINT) AS f_distinct_ratio,
        |    CAST(SUM(CASE WHEN NOT p_distinct_ratio AND p_min_len AND p_max_digits
        |      AND p_has_stopword AND p_lang_allowed THEN 1 ELSE 0 END) AS BIGINT) AS u_distinct_ratio
        |  FROM f)
        |SELECT rule, n_fail, n_unique_kill, n_pass_all + n_unique_kill AS n_survivors_if_dropped
        |FROM (
        |  SELECT 'min_len' AS rule, f_min_len AS n_fail, u_min_len AS n_unique_kill, n_pass_all FROM a
        |  UNION ALL SELECT 'max_digits', f_max_digits, u_max_digits, n_pass_all FROM a
        |  UNION ALL SELECT 'has_stopword', f_has_stopword, u_has_stopword, n_pass_all FROM a
        |  UNION ALL SELECT 'lang_allowed', f_lang_allowed, u_lang_allowed, n_pass_all FROM a
        |  UNION ALL SELECT 'distinct_ratio', f_distinct_ratio, u_distinct_ratio, n_pass_all FROM a)
        |ORDER BY rule""".stripMargin,
    // q166: token-budget water-filling (budget = 3/5 of corpus
    // tokens) — integer waterline from prefix sums over the
    // per-source aggregate; both engines truncate positive int div
    "q166_token_budget_mix" ->
      """WITH s AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY 1),
        |r AS (SELECT source, n_tokens,
        |        CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS BIGINT) AS k,
        |        CAST(SUM(n_tokens) OVER (ORDER BY n_tokens, source) AS BIGINT) AS pk,
        |        CAST(COUNT(*) OVER () AS BIGINT) AS n_src,
        |        CAST(SUM(n_tokens) OVER () AS BIGINT) AS total
        |      FROM s),
        |b AS (SELECT *, (total * 3) // 5 AS budget FROM r),
        |l AS (SELECT MAX(CASE WHEN k < n_src AND pk + (n_src - k) * n_tokens <= budget
        |                      THEN (budget - pk) // (n_src - k)
        |                      ELSE budget // n_src END) AS lambda,
        |             BOOL_OR(k = n_src AND pk <= budget) AS all_funded
        |      FROM b)
        |SELECT source, n_tokens,
        |       CASE WHEN all_funded THEN n_tokens
        |            ELSE LEAST(n_tokens, lambda) END AS alloc
        |FROM b, l
        |ORDER BY source""".stripMargin,
    // q167: deterministic source-interleaved training order —
    // pos = (rank within source − 1) · n_sources + source index
    "q167_interleave" ->
      """WITH r AS (SELECT doc_id, source,
        |             CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS g_rank
        |           FROM documents),
        |i AS (SELECT source, CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT) AS src_idx
        |      FROM (SELECT DISTINCT source FROM documents)),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_src FROM i)
        |SELECT (r.g_rank - 1) * n.n_src + i.src_idx AS pos, r.doc_id, r.source
        |FROM r JOIN i USING (source) CROSS JOIN n
        |ORDER BY pos
        |LIMIT 200""".stripMargin,
    // q168: rare-bigram novelty — per doc: bigram slots, slots whose
    // corpus bigram count ≤ 2, min corpus count, fixed-point ppm rate
    "q168_bigram_novelty" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |b AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |      FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) u),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1, 2)
        |SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |       CAST(SUM(CASE WHEN c.n <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |       MIN(c.n) AS min_count,
        |       (1000000 * CAST(SUM(CASE WHEN c.n <= 2 THEN 1 ELSE 0 END) AS BIGINT))
        |         // COUNT(*) AS rare_ppm
        |FROM b JOIN c USING (w1, w2)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // q169: quality-aware dedup survivors — within each q72 near-dup
    // cluster keep the best member by (stopword ppm, token count,
    // lowest id); the cluster CTE replays q72's label propagation
    "q169_quality_survivors" ->
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM t, LATERAL (
        |         SELECT unnest(list_transform(range(1, len(w) - 1),
        |                i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s) u),
        |mh AS (SELECT doc_id, salt,
        |         MIN(substr(md5(CASE WHEN salt < 4 THEN 'a|' ELSE 'b|' END || s),
        |                    1 + 8 * (salt % 4), 8)) AS h
        |       FROM sh, (SELECT unnest(range(0, 8)) AS salt) salts
        |       GROUP BY 1, 2),
        |bands AS (SELECT doc_id, salt // 2 AS band,
        |            concat_ws(',', MIN(CASE WHEN salt % 2 = 0 THEN h END),
        |                           MIN(CASE WHEN salt % 2 = 1 THEN h END)) AS sig
        |          FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bands a JOIN bands b
        |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |cm AS (SELECT id_a, id_b, COUNT(*) AS common
        |       FROM cand c JOIN sh x ON x.doc_id = c.id_a
        |       JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
        |       GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM (
        |    SELECT id_a, id_b,
        |           CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
        |    FROM cm JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id) j
        |  WHERE jaccard >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (SELECT DISTINCT src AS node, src AS lab FROM edges
        |          UNION
        |          SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
        |labels AS (SELECT node AS doc_id, MIN(lab) AS cluster FROM reach GROUP BY 1),
        |q AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |        (1000000 * CAST(len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and')))
        |           AS BIGINT)) // CAST(len(w) AS BIGINT) AS q_ppm
        |      FROM t),
        |rk AS (SELECT cluster, doc_id, q_ppm,
        |         ROW_NUMBER() OVER (PARTITION BY cluster
        |           ORDER BY q_ppm DESC, n_tokens DESC, doc_id) AS rk
        |       FROM labels JOIN q USING (doc_id))
        |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
        |       MAX(CASE WHEN rk = 1 THEN doc_id END) AS survivor_id,
        |       MAX(CASE WHEN rk = 1 THEN q_ppm END) AS survivor_q_ppm,
        |       CAST(COUNT(*) AS BIGINT) - 1 AS n_displaced
        |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin,
    // q170: duplicated-span coverage — per doc: 7-gram slots shared
    // with another doc and the token positions they cover (the
    // exact-substring-dedup trim measure)
    "q170_dup_span_coverage" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 7),
        |g AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, i AS pos,
        |        md5(array_to_string(w[i:i+6], ' ')) AS g
        |      FROM t, LATERAL (SELECT unnest(range(1, len(w) - 5)) AS i) u),
        |d AS (SELECT g FROM g GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)),
        |dp AS (SELECT doc_id, n_tokens, pos FROM g JOIN d USING (g)),
        |nd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_grams,
        |         MAX(n_tokens) AS n_tokens
        |       FROM dp GROUP BY 1),
        |cov AS (SELECT doc_id, CAST(COUNT(DISTINCT p) AS BIGINT) AS n_covered_tokens
        |        FROM dp, LATERAL (SELECT unnest(range(pos, pos + 7)) AS p) u
        |        GROUP BY 1)
        |SELECT nd.doc_id, nd.n_tokens, nd.n_dup_grams, cov.n_covered_tokens,
        |       (1000000 * cov.n_covered_tokens) // nd.n_tokens AS covered_ppm
        |FROM nd JOIN cov USING (doc_id)
        |ORDER BY 1""".stripMargin,
    // q171: source-characteristic keywords — top-5 tokens per source
    // by lift (n_st·N)/(n_t·n_s), one double ratio of exact integer
    // products (q105's cross-engine discipline)
    "q171_source_keywords" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |st AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n_st FROM toks GROUP BY 1, 2),
        |t AS (SELECT tok, CAST(SUM(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1),
        |s AS (SELECT source, CAST(SUM(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
        |n AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n FROM t),
        |sc AS (SELECT st.source, st.tok, st.n_st,
        |         CAST(st.n_st AS DOUBLE) * n.n / (CAST(t.n_t AS DOUBLE) * s.n_s) AS lift
        |       FROM st JOIN t USING (tok) JOIN s USING (source) CROSS JOIN n
        |       WHERE st.n_st >= 10),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
        |         ORDER BY lift DESC, n_st DESC, tok) AS BIGINT) AS rk FROM sc)
        |SELECT source, rk, tok, n_st, lift FROM r WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin,
    // q172: the co-bucketed-layout twin of q26 — same rows, same
    // oracle; only the physical plan differs (exchange-free fact join)
    "q172_snowflake_bucketed" ->
      """SELECT r_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin,
    // q173: exact-duplicate cluster-size spectrum — md5-keyed cluster
    // sizes, then a histogram over cluster size
    "q173_dup_spectrum" ->
      """WITH c AS (SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS n_copies
        |           FROM documents GROUP BY 1)
        |SELECT n_copies, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |       n_copies * CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       (n_copies - 1) * CAST(COUNT(*) AS BIGINT) AS n_removable
        |FROM c GROUP BY n_copies ORDER BY n_copies""".stripMargin,
    // q174: Gini–Simpson token diversity per source, exact integer
    // ppm. coll2 and the ppm arithmetic stay HUGEINT (the Spark twin
    // runs DECIMAL(38,0)) — a BIGINT cast there overflows at ~3e6
    // fully-duplicated tokens per source; only the ≤1e6 ppm narrows.
    "q174_simpson_diversity" ->
      """WITH tf AS (SELECT source, md5(tok) AS h, CAST(COUNT(*) AS BIGINT) AS n
        |            FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |                  FROM documents) GROUP BY 1, 2),
        |s AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |        CAST(COUNT(*) AS BIGINT) AS vocab,
        |        SUM(n * (n - 1)) AS coll2
        |      FROM tf GROUP BY 1)
        |SELECT source, n_tokens, vocab,
        |       CAST(1000000 - (1000000 * coll2)
        |         // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT)
        |         AS simpson_ppm
        |FROM s ORDER BY source""".stripMargin,
    // q175: cross-source exact-duplicate leakage matrix — distinct
    // (source, hash) pairs sharing a hash, counted per source pair
    "q175_cross_source_exact" ->
      """WITH hs AS (SELECT DISTINCT source, md5(text) AS h FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q176: Z-order layout audit — the Morton key is generated from
    // the same bit loop as the Spark side (Layout.zorderSql)
    "q176_zorder_layout" ->
      s"""WITH z AS (SELECT l_partkey, l_suppkey,
        |    ${graft.ops.Layout.zorderSql("l_partkey", "l_suppkey")} AS z
        |  FROM lineitem)
        |SELECT z >> 20 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       MIN(l_partkey) AS part_lo, MAX(l_partkey) AS part_hi,
        |       MIN(l_suppkey) AS supp_lo, MAX(l_suppkey) AS supp_hi
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    // q177: tokenizer fertility per language — BPE-ish tokens per
    // whitespace word, exact integer ppm (q119's pre-tokenizer regex)
    "q177_token_fertility" ->
      """WITH t AS (SELECT lang,
        |    len(string_split(text, ' ')) AS nw,
        |    len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+')) AS nb
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(nw) AS BIGINT) AS n_words,
        |       CAST(SUM(nb) AS BIGINT) AS n_bpe_tokens,
        |       (1000000 * CAST(SUM(nb) AS BIGINT)) // CAST(SUM(nw) AS BIGINT)
        |         AS fertility_ppm
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "q178_gopher_rules" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT) AS sum_wlen,
        |    CAST(len(list_filter(ws, w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
        |  FROM t),
        |c AS (SELECT doc_id, n_words, (100 * sum_wlen) // n_words AS mean_wlen_centi,
        |    n_stop FROM m),
        |f AS (SELECT *,
        |    (n_words >= 30 AND n_words <= 1000) AS ok_nwords,
        |    (mean_wlen_centi >= 200 AND mean_wlen_centi <= 800) AS ok_wlen,
        |    (n_stop >= 2) AS ok_stop FROM c)
        |SELECT doc_id, n_words, mean_wlen_centi, n_stop,
        |       ok_nwords, ok_wlen, ok_stop,
        |       (ok_nwords AND ok_wlen AND ok_stop) AS pass
        |FROM f ORDER BY doc_id""".stripMargin,
    "q179_domain_reweight" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT source, ws[i] AS w1, ws[i + 1] AS w2
        |      FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) u),
        |cnt AS (SELECT w1, w2, COUNT(*) AS n FROM b GROUP BY 1, 2),
        |ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |         CAST(SUM(CASE WHEN n <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
        |       FROM b JOIN cnt USING (w1, w2) GROUP BY 1),
        |p2 AS (SELECT *, (1000000 * n_rare) // n_bigrams AS rare_ppm FROM ps),
        |cr AS (SELECT (1000000 * CAST(SUM(n_rare) AS BIGINT))
        |         // CAST(SUM(n_bigrams) AS BIGINT) AS corpus_ppm FROM p2),
        |ex AS (SELECT p2.*, corpus_ppm,
        |         GREATEST(CAST(0 AS BIGINT), rare_ppm - corpus_ppm) AS excess_ppm
        |       FROM p2, cr),
        |te AS (SELECT CAST(SUM(excess_ppm) AS BIGINT) AS tot_excess,
        |         CAST(COUNT(*) AS BIGINT) AS n_sources FROM ex)
        |SELECT source, n_bigrams, n_rare, rare_ppm, corpus_ppm, excess_ppm,
        |       CASE WHEN tot_excess > 0 THEN (1000000 * excess_ppm) // tot_excess
        |            ELSE 1000000 // n_sources END AS weight_ppm
        |FROM ex, te ORDER BY source""".stripMargin,
    "q180_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS dl,
        |    CAST(len(list_filter(ws, w -> w = 'spark')) AS BIGINT) AS tf0,
        |    CAST(len(list_filter(ws, w -> w = 'window')) AS BIGINT) AS tf1,
        |    CAST(len(list_filter(ws, w -> w = 'dup')) AS BIGINT) AS tf2
        |  FROM d),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
        |    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        |  FROM m),
        |s AS (SELECT doc_id, dl, tf0, tf1, tf2,
        |    ((CAST(n_docs AS DOUBLE) - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2)
        |      / (tf0 + (1.2 * (0.25 + (0.75 * (dl / avgdl)))))
        |    + ((CAST(n_docs AS DOUBLE) - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2)
        |      / (tf1 + (1.2 * (0.25 + (0.75 * (dl / avgdl)))))
        |    + ((CAST(n_docs AS DOUBLE) - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2)
        |      / (tf2 + (1.2 * (0.25 + (0.75 * (dl / avgdl))))) AS score
        |  FROM m, st)
        |SELECT doc_id, dl, tf0, tf1, tf2, score FROM s WHERE score > 0.0
        |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,
    "q181_hard_negatives" ->
      """WITH e AS (SELECT vec_id, embedding, label,
        |    list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb, n2 AS q_n2,
        |        label AS q_label
        |      FROM e WHERE vec_id % 20 = 0 AND vec_id < 5120),
        |s AS (SELECT q_id, q_label, vec_id AS neighbor_id,
        |    label AS neighbor_label,
        |    list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> q_emb[i]::DOUBLE * embedding[i]::DOUBLE))
        |      / (sqrt(q_n2) * sqrt(n2)) AS sim
        |  FROM q, e WHERE vec_id <> q_id AND label <> q_label),
        |r AS (SELECT q_id, q_label, neighbor_id, neighbor_label, sim,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |         ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s)
        |SELECT q_id, q_label, rnk, neighbor_id, neighbor_label, sim FROM r
        |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "q182_source_divergence" ->
      """WITH sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n_sw
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents) u GROUP BY 1, 2),
        |cw AS (SELECT w, CAST(SUM(n_sw) AS BIGINT) AS n_w FROM sw GROUP BY 1),
        |tot AS (SELECT source, CAST(SUM(n_sw) AS BIGINT) AS n_s FROM sw GROUP BY 1),
        |g AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_tot FROM cw),
        |agg AS (SELECT source, MAX(n_s) AS n_s, MAX(n_tot) AS n_tot,
        |    CAST(SUM(n_w) AS BIGINT) AS cov,
        |    SUM(ABS(CAST(n_sw AS HUGEINT) * n_tot
        |            - CAST(n_w AS HUGEINT) * n_s)) AS present_num
        |  FROM sw JOIN cw USING (w) JOIN tot USING (source), g GROUP BY source)
        |SELECT source, n_s AS n_tokens,
        |       CAST((1000000 * (present_num + CAST(n_s AS HUGEINT) * (n_tot - cov)))
        |         // (2 * CAST(n_s AS HUGEINT) * n_tot) AS BIGINT) AS tv_ppm
        |FROM agg ORDER BY source""".stripMargin,
    "q183_source_overlap" ->
      """WITH d AS (SELECT source, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT DISTINCT source,
        |         md5(concat_ws('_', w[i], w[i + 1], w[i + 2])) AS h
        |       FROM d, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) u),
        |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
        |       FROM sh GROUP BY 1),
        |px AS (SELECT a.source AS src_a, b.source AS src_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_inter
        |       FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        |       GROUP BY 1, 2)
        |SELECT src_a, src_b, sa.n_grams AS n_a, sb.n_grams AS n_b, n_inter,
        |       (1000000 * n_inter) // (sa.n_grams + sb.n_grams - n_inter)
        |         AS jaccard_ppm
        |FROM px JOIN sz sa ON px.src_a = sa.source
        |        JOIN sz sb ON px.src_b = sb.source
        |ORDER BY src_a, src_b""".stripMargin,
    // q258: ≤3-hop contamination reachability over the thresholded
    // DAG-oriented overlap edges — both engines run a REAL recursive
    // CTE (Spark: UnionLoopExec; DuckDB: WITH RECURSIVE)
    "q258_source_reach" ->
      """WITH RECURSIVE d AS (SELECT source, string_split(text, ' ') AS w
        |     FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT DISTINCT source,
        |         md5(concat_ws('_', w[i], w[i + 1], w[i + 2])) AS h
        |       FROM d, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) u),
        |e AS (SELECT a.source AS src_a, b.source AS src_b
        |      FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 40),
        |reach AS (SELECT src_a AS src, src_b AS dst, 1 AS hops FROM e
        |          UNION ALL
        |          SELECT r.src, e.src_b AS dst, r.hops + 1 AS hops
        |          FROM reach r JOIN e ON e.src_a = r.dst
        |          WHERE r.hops < 3)
        |SELECT src, dst, CAST(MIN(hops) AS BIGINT) AS min_hops,
        |  CAST(COUNT(*) AS BIGINT) AS n_paths
        |FROM reach GROUP BY src, dst ORDER BY src, dst""".stripMargin,
    // hex2int of the first 6 md5 chars via the list_reduce fold (the
    // q103 idiom — DuckDB has no conv()); salt prefixes fim1:/fim2:
    // match Pipeline.fimTransform exactly
    "q184_fim_transform" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |m AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n_words
        |      FROM t WHERE len(ws) >= 4),
        |h AS (SELECT doc_id, ws, n_words,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 7),
        |        i -> CAST(strpos('0123456789abcdef',
        |               substr(md5('fim1:' || doc_id), i, 1)) - 1 AS BIGINT))),
        |      (a, b) -> a * 16 + b) AS h1,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 7),
        |        i -> CAST(strpos('0123456789abcdef',
        |               substr(md5('fim2:' || doc_id), i, 1)) - 1 AS BIGINT))),
        |      (a, b) -> a * 16 + b) AS h2
        |  FROM m),
        |c1 AS (SELECT doc_id, ws, n_words, h2,
        |         h1 % (n_words - 2) + 1 AS cut1 FROM h),
        |c2 AS (SELECT doc_id, ws, n_words, cut1,
        |         h2 % (n_words - 1 - cut1) + cut1 + 1 AS cut2 FROM c1)
        |SELECT doc_id, n_words, cut1, cut2,
        |       '<PRE> ' || array_to_string(ws[1:cut1], ' ') ||
        |       ' <SUF> ' || array_to_string(ws[cut2 + 1:n_words], ' ') ||
        |       ' <MID> ' || array_to_string(ws[cut1 + 1:cut2], ' ') AS fim_text
        |FROM c2 ORDER BY doc_id""".stripMargin,
    "q185_repeat_epochs" ->
      s"""WITH $repeatEpochsCtes
        |SELECT source, n_docs, tokens, share, epochs_ppm,
        |       (tokens * epochs_ppm) // 1000000 AS allocated_tokens
        |FROM e ORDER BY source""".stripMargin,
    // q241: the materialized training order — q185's allocation
    // honored fractionally (whole epochs for all docs, the first
    // frac_docs by per-source rank once more) and positioned
    // round-robin across (source, epoch) lanes
    "q241_training_order" ->
      s"""WITH $repeatEpochsCtes,
        |ep AS (SELECT source, n_docs, epochs_ppm,
        |    epochs_ppm // 1000000 AS whole,
        |    (n_docs * (epochs_ppm % 1000000)) // 1000000 AS frac_docs
        |  FROM e),
        |ep2 AS (SELECT *, whole + (CASE WHEN frac_docs > 0 THEN 1 ELSE 0 END)
        |    AS n_epochs FROM ep),
        |lanes AS (SELECT source, epoch,
        |    CAST(ROW_NUMBER() OVER (ORDER BY source, epoch) AS BIGINT)
        |      AS lane_idx
        |  FROM (SELECT source, unnest(range(1, n_epochs + 1)) AS epoch
        |        FROM ep2 WHERE n_epochs > 0)),
        |nl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lanes FROM lanes),
        |rk AS (SELECT source, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
        |      AS BIGINT) AS rk
        |  FROM documents),
        |v AS (SELECT r.source, r.doc_id, r.rk, l.epoch, l.lane_idx
        |  FROM rk r JOIN ep2 p ON r.source = p.source
        |  JOIN lanes l ON l.source = r.source
        |  WHERE l.epoch <= p.whole
        |     OR (l.epoch = p.whole + 1 AND r.rk <= p.frac_docs))
        |SELECT (v.rk - 1) * nl.n_lanes + v.lane_idx AS pos, v.source,
        |  CAST(v.epoch AS BIGINT) AS epoch, v.doc_id
        |FROM v CROSS JOIN nl ORDER BY pos""".stripMargin,
    "q186_pack_boundaries" ->
      """WITH d AS (SELECT source, doc_id, doc_id // 1000000 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT source, shard, doc_id, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id) AS cum
        |  FROM d),
        |p AS (SELECT source, shard, n_tokens,
        |    CAST((cum - n_tokens) // 256 AS BIGINT) AS pack_id,
        |    CAST((cum - n_tokens) - ((cum - n_tokens) // 256) * 256 AS BIGINT) AS off
        |  FROM c)
        |SELECT source, shard, pack_id, COUNT(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
        |       array_to_string(list(off ORDER BY off), ',') AS boundaries
        |FROM p GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // the recursive CTE unrolls the same 8 all-integer PageRank steps
    // the driver-side loop computes; unit self-loops guarantee every
    // node carries through each iteration
    "q187_source_pagerank" ->
      """WITH RECURSIVE
        |d AS (SELECT source, string_split(text, ' ') AS w FROM documents
        |      WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT DISTINCT source,
        |         md5(concat_ws('_', w[i], w[i + 1], w[i + 2])) AS h
        |       FROM d, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) u),
        |px AS (SELECT a.source AS src_a, b.source AS src_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_inter
        |       FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        |       GROUP BY 1, 2),
        |nodes AS (SELECT DISTINCT source FROM documents),
        |e AS (SELECT src_a AS src, src_b AS dst, n_inter AS w FROM px
        |      UNION ALL SELECT src_b AS src, src_a AS dst, n_inter AS w FROM px
        |      UNION ALL SELECT source AS src, source AS dst,
        |                  CAST(1 AS BIGINT) AS w FROM nodes),
        |wv AS (SELECT src, CAST(SUM(w) AS BIGINT) AS w_total FROM e GROUP BY 1),
        |e2 AS (SELECT e.src, e.dst, (1000000 * e.w) // wv.w_total AS wsh
        |       FROM e JOIN wv ON wv.src = e.src),
        |sc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        |pr AS (
        |  SELECT 0 AS iter, source, 1000000000 // n AS r FROM nodes, sc
        |  UNION ALL
        |  SELECT p.iter + 1 AS iter, e2.dst AS source,
        |    (150 * (1000000000 // MAX(s2.n))) // 1000
        |      + CAST(SUM((850 * ((p.r * e2.wsh) // 1000000)) // 1000)
        |             AS BIGINT) AS r
        |  FROM pr p
        |  JOIN e2 ON e2.src = p.source
        |  CROSS JOIN sc s2
        |  WHERE p.iter < 8
        |  GROUP BY p.iter, e2.dst
        |)
        |SELECT pr.source, wv.w_total, pr.r AS pagerank_ppb
        |FROM pr JOIN wv ON wv.src = pr.source
        |WHERE iter = 8 ORDER BY pr.source""".stripMargin,
    "q188_curriculum" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |b AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |      FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) u),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1, 2),
        |nov AS (SELECT b.doc_id,
        |    (1000000 * CAST(SUM(CASE WHEN c.n <= 2 THEN 1 ELSE 0 END) AS BIGINT))
        |      // COUNT(*) AS rare_ppm
        |  FROM b JOIN c USING (w1, w2) GROUP BY 1)
        |SELECT doc_id, rare_ppm,
        |       CAST(ROW_NUMBER() OVER (ORDER BY rare_ppm, doc_id) AS BIGINT)
        |         AS rank,
        |       CAST(NTILE(4) OVER (ORDER BY rare_ppm, doc_id) AS BIGINT)
        |         AS phase
        |FROM nov ORDER BY doc_id""".stripMargin,
    "q189_chunk_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, ci, ci * 24 + 1 AS start, w FROM t, LATERAL (
        |        SELECT unnest(range(0, (len(w) - 1) // 24 + 1)) AS ci) u),
        |ch AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
        |    array_to_string(list_slice(w, start, start + 31), ' ') AS chunk_text,
        |    CAST(least(len(w) - start + 1, 32) AS BIGINT) AS chunk_tokens
        |  FROM c),
        |p AS (SELECT doc_id, chunk_id AS pair_id, chunk_text AS text_a,
        |    chunk_tokens AS tokens_a,
        |    LEAD(chunk_text) OVER (PARTITION BY doc_id ORDER BY chunk_id)
        |      AS text_b,
        |    LEAD(chunk_tokens) OVER (PARTITION BY doc_id ORDER BY chunk_id)
        |      AS tokens_b
        |  FROM ch)
        |SELECT doc_id, pair_id, text_a, tokens_a, text_b, tokens_b
        |FROM p WHERE text_b IS NOT NULL
        |ORDER BY doc_id, pair_id""".stripMargin,
    // composes the q32 near-dup CTEs with the q92 md5 split assignment:
    // pairs whose members land in different splits are leakage
    "q190_split_leakage" ->
      s"""WITH $minhashPairsCtes,
        |sp AS (SELECT id_a, id_b, jaccard,
        |    CASE WHEN substr(md5(CAST(id_a AS VARCHAR)), 1, 4) < 'e666'
        |         THEN 'train'
        |         WHEN substr(md5(CAST(id_a AS VARCHAR)), 1, 4) < 'f333'
        |         THEN 'val' ELSE 'test' END AS split_a,
        |    CASE WHEN substr(md5(CAST(id_b AS VARCHAR)), 1, 4) < 'e666'
        |         THEN 'train'
        |         WHEN substr(md5(CAST(id_b AS VARCHAR)), 1, 4) < 'f333'
        |         THEN 'val' ELSE 'test' END AS split_b
        |  FROM neardup)
        |SELECT id_a, id_b, jaccard, split_a, split_b FROM sp
        |WHERE split_a <> split_b ORDER BY id_a, id_b""".stripMargin,
    // Flesch-Kincaid as an exact integer fraction (x100·S·W) plus the
    // banded threshold a curation filter uses; syllables = vowel runs
    "q191_readability" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    greatest(1, CAST(length(text) AS BIGINT)
        |      - CAST(length(regexp_replace(text, '[.!?]', '', 'g')) AS BIGINT)) AS sentences,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
        |    greatest(1, CAST(length(regexp_replace(lower(text), '[aeiouy]+', 'V', 'g')) AS BIGINT)
        |      - CAST(length(regexp_replace(lower(text), '[aeiouy]+', '', 'g')) AS BIGINT)) AS syllables
        |  FROM documents)
        |SELECT doc_id, source, sentences, words, syllables,
        |  (1000000 * words) // sentences AS wps_ppm,
        |  (1000000 * syllables) // words AS spw_ppm,
        |  39 * words * words + 1180 * syllables * sentences - 1559 * sentences * words AS fk_num,
        |  100 * sentences * words AS fk_den,
        |  CASE WHEN 39 * words * words + 1180 * syllables * sentences - 1559 * sentences * words < 600 * sentences * words THEN 'easy'
        |       WHEN 39 * words * words + 1180 * syllables * sentences - 1559 * sentences * words < 1000 * sentences * words THEN 'medium'
        |       WHEN 39 * words * words + 1180 * syllables * sentences - 1559 * sentences * words < 1400 * sentences * words THEN 'hard'
        |       ELSE 'very_hard' END AS band
        |FROM d ORDER BY doc_id""".stripMargin,
    // α=0.5 temperature sampling: sqrt is the one IEEE-exact exponent;
    // integer ppm shares of exact BIGINT weight sums
    "q192_temperature_mix" ->
      """WITH s AS (
        |  SELECT source, CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |q AS (SELECT source, n_tokens,
        |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS sqrt_tokens FROM s),
        |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot,
        |    CAST(SUM(sqrt_tokens) AS BIGINT) AS rtot FROM q)
        |SELECT source, n_tokens, sqrt_tokens,
        |  CAST((1000000 * n_tokens) // tot AS BIGINT) AS raw_ppm,
        |  CAST((1000000 * sqrt_tokens) // rtot AS BIGINT) AS temp_ppm,
        |  CAST((1000000 * sqrt_tokens) // rtot - (1000000 * n_tokens) // tot AS BIGINT) AS boost_ppm
        |FROM q CROSS JOIN t ORDER BY source""".stripMargin,
    // CCNet-style boilerplate: 8-token prefixes repeated across >= 2
    // docs of one source; share_ppm = exact integer removal budget
    "q193_boilerplate" ->
      """WITH p AS (SELECT source,
        |    array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS prefix
        |  FROM documents),
        |c AS (SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM p GROUP BY source, prefix),
        |s AS (SELECT source AS src2, CAST(SUM(n_docs) AS BIGINT) AS src_docs
        |  FROM c GROUP BY source)
        |SELECT source, prefix, n_docs, src_docs,
        |  CAST((1000000 * n_docs) // src_docs AS BIGINT) AS share_ppm
        |FROM c JOIN s ON c.source = s.src2
        |WHERE n_docs >= 2 ORDER BY source, prefix""".stripMargin,
    // Matryoshka audit: exact top-5 on the first 32 dims vs the
    // full-dim exact baseline — both the q34 brute-force shape
    "q194_matryoshka_recall" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb, n2 AS q_n2 FROM e
        |      WHERE vec_id % 20 = 0 AND vec_id < 5120),
        |s_ex AS (SELECT q_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> q_emb[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |      / (sqrt(q_n2) * sqrt(e.n2)) AS sim
        |  FROM q, e WHERE e.vec_id <> q_id),
        |r_ex AS (SELECT q_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |         ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s_ex),
        |e2 AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
        |  FROM (SELECT vec_id, list_slice(embedding, 1, 32) AS embedding
        |        FROM embeddings) te),
        |q2 AS (SELECT vec_id AS q_id, embedding AS q_emb, n2 AS q_n2 FROM e2
        |      WHERE vec_id % 20 = 0 AND vec_id < 5120),
        |s_tr AS (SELECT q_id, e2.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(e2.embedding) + 1),
        |      i -> q_emb[i]::DOUBLE * e2.embedding[i]::DOUBLE))
        |      / (sqrt(q_n2) * sqrt(e2.n2)) AS sim
        |  FROM q2, e2 WHERE e2.vec_id <> q_id),
        |r_tr AS (SELECT q_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |         ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s_tr)
        |SELECT t.q_id, t.n_exact, COALESCE(h.n_hit, 0) AS n_hit,
        |       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(t.n_exact AS DOUBLE)
        |         AS recall
        |FROM (SELECT q_id, COUNT(*) AS n_exact FROM r_ex
        |      WHERE rnk <= 5 GROUP BY 1) t
        |LEFT JOIN (SELECT x.q_id, COUNT(*) AS n_hit
        |           FROM (SELECT q_id, neighbor_id FROM r_ex WHERE rnk <= 5) x
        |           JOIN (SELECT q_id, neighbor_id FROM r_tr WHERE rnk <= 5) a
        |             USING (q_id, neighbor_id)
        |           GROUP BY 1) h
        |  ON t.q_id = h.q_id
        |ORDER BY t.q_id""".stripMargin,
    // the curation funnel: raw -> lang -> gopher -> exact -> near-dup
    // survivors, each stage's predicate copied from its standalone query
    "q200_curation_funnel" ->
      s"""WITH $minhashPairsCtes,
        |gt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |gm AS (SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT) AS sum_wlen,
        |    CAST(len(list_filter(ws, w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
        |  FROM gt),
        |gf AS (SELECT doc_id,
        |    (n_words >= 30 AND n_words <= 1000
        |     AND (100 * sum_wlen) // n_words >= 200
        |     AND (100 * sum_wlen) // n_words <= 800
        |     AND n_stop >= 2) AS gopher_ok
        |  FROM gm),
        |bd AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5(text) AS th FROM documents),
        |kp AS (SELECT th, MIN(doc_id) AS keep_id FROM bd GROUP BY 1),
        |ndc AS (SELECT DISTINCT id_b AS doc_id FROM neardup),
        |fl AS (SELECT bd.doc_id, n_tokens,
        |    (lang IN ('en', 'es', 'fr')) AS lang_ok, gopher_ok,
        |    (bd.doc_id = kp.keep_id) AS not_exact,
        |    (ndc.doc_id IS NULL) AS not_near
        |  FROM bd JOIN kp ON bd.th = kp.th
        |  JOIN gf ON bd.doc_id = gf.doc_id
        |  LEFT JOIN ndc ON bd.doc_id = ndc.doc_id),
        |ss AS (SELECT
        |    CAST(COUNT(*) AS BIGINT) AS d0, CAST(SUM(n_tokens) AS BIGINT) AS t0,
        |    CAST(SUM(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN lang_ok THEN n_tokens ELSE 0 END) AS BIGINT) AS t1,
        |    CAST(SUM(CASE WHEN lang_ok AND gopher_ok THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |    CAST(SUM(CASE WHEN lang_ok AND gopher_ok THEN n_tokens ELSE 0 END) AS BIGINT) AS t2,
        |    CAST(SUM(CASE WHEN lang_ok AND gopher_ok AND not_exact THEN 1 ELSE 0 END) AS BIGINT) AS d3,
        |    CAST(SUM(CASE WHEN lang_ok AND gopher_ok AND not_exact THEN n_tokens ELSE 0 END) AS BIGINT) AS t3,
        |    CAST(SUM(CASE WHEN lang_ok AND gopher_ok AND not_exact AND not_near THEN 1 ELSE 0 END) AS BIGINT) AS d4,
        |    CAST(SUM(CASE WHEN lang_ok AND gopher_ok AND not_exact AND not_near THEN n_tokens ELSE 0 END) AS BIGINT) AS t4
        |  FROM fl)
        |SELECT stage, stage_name, n_docs, n_tokens,
        |  CAST((1000000 * n_docs) // (SELECT d0 FROM ss) AS BIGINT) AS kept_ppm
        |FROM (
        |  SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name, d0 AS n_docs, t0 AS n_tokens FROM ss
        |  UNION ALL SELECT 1, 'lang_filter', d1, t1 FROM ss
        |  UNION ALL SELECT 2, 'gopher_rules', d2, t2 FROM ss
        |  UNION ALL SELECT 3, 'exact_dedup', d3, t3 FROM ss
        |  UNION ALL SELECT 4, 'neardup_dedup', d4, t4 FROM ss) u
        |ORDER BY stage""".stripMargin,
    // — TPC-H analog completion (Relational7) —
    "q201_shipping_priority" ->
      """SELECT l.l_orderkey AS o_orderkey,
        |  epoch_ms(o.o_orderdate) AS o_orderdate_ms, o.o_orderpriority,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-06-30'
        |  AND l.l_shipdate > TIMESTAMP '1998-06-30'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q202_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND epoch_ms(l.l_shipdate) > epoch_ms(o.o_orderdate) + 5184000000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q203_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l.l_shipdate) AS l_year,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS volume
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q204_market_share" ->
      """WITH base AS (
        |  SELECT year(o.o_orderdate) AS o_year, n1.n_name AS supp_nation,
        |    CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |      CAST(1 - l.l_discount AS DECIMAL(18,2)) AS rev
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |  JOIN region r ON n2.n_regionkey = r.r_regionkey
        |  WHERE p.p_type = 'PROMO' AND r.r_name = 'ASIA')
        |SELECT o_year,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
        |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_rev,
        |  CAST(SUM(rev) AS DOUBLE) AS total_rev,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
        |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / CAST(SUM(rev) AS DOUBLE) AS mkt_share
        |FROM base GROUP BY 1 ORDER BY 1""".stripMargin,
    "q205_product_profit" ->
      """SELECT n.n_name AS supp_nation, year(o.o_orderdate) AS o_year,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(1 - l.l_discount AS DECIMAL(18,2)))
        |     - SUM(CAST(l.l_quantity * 0.5 AS DECIMAL(18,2)) *
        |           CAST(p.p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS profit
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q206_returned_items" ->
      """SELECT c.c_custkey, c.c_name, c.c_mktsegment,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |    AS lost_revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-10-01'
        |GROUP BY 1, 2, 3
        |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q207_important_parts" ->
      """WITH eu AS (SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'EUROPE'),
        |v AS (SELECT l_partkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val_dec
        |  FROM lineitem JOIN eu ON l_suppkey = s_suppkey GROUP BY 1),
        |t AS (SELECT SUM(val_dec) AS total_dec, COUNT(*) AS n_parts FROM v)
        |SELECT l_partkey, CAST(val_dec AS DOUBLE) AS stock_value
        |FROM v, t WHERE val_dec * n_parts > total_dec * 2
        |ORDER BY stock_value DESC, l_partkey""".stripMargin,
    "q208_ship_delay_bands" ->
      """SELECT CASE
        |    WHEN epoch_ms(l.l_shipdate) - epoch_ms(o.o_orderdate)
        |      <= 2592000000 THEN 'fast'
        |    WHEN epoch_ms(l.l_shipdate) - epoch_ms(o.o_orderdate)
        |      <= 7776000000 THEN 'normal'
        |    ELSE 'slow' END AS band,
        |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q209_customer_distribution" ->
      """WITH pc AS (
        |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        |  FROM customer c
        |  LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderstatus <> 'P'
        |  GROUP BY 1)
        |SELECT n_orders, COUNT(*) AS n_customers
        |FROM pc GROUP BY 1
        |ORDER BY n_customers DESC, n_orders DESC""".stripMargin,
    "q210_discounted_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 20)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
        |       AND l.l_quantity BETWEEN 10 AND 30)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 50
        |       AND l.l_quantity BETWEEN 20 AND 40)""".stripMargin,
    "q211_waiting_suppliers" ->
      """WITH base AS (
        |  SELECT l.l_orderkey, l.l_suppkey,
        |    epoch_ms(l.l_shipdate) > epoch_ms(o.o_orderdate) + 5184000000 AS late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'),
        |pos AS (SELECT l_orderkey, l_suppkey,
        |    MAX(CASE WHEN late THEN 1 ELSE 0 END) AS supp_late
        |  FROM base GROUP BY 1, 2),
        |po AS (SELECT l_orderkey FROM pos GROUP BY 1
        |  HAVING COUNT(*) > 1 AND SUM(supp_late) = 1)
        |SELECT s.s_name, COUNT(*) AS numwait
        |FROM pos JOIN po USING (l_orderkey)
        |JOIN supplier s ON pos.l_suppkey = s.s_suppkey
        |WHERE pos.supp_late = 1
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q212_part_supplier_counts" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p.p_brand, p.p_type, p.p_size,
        |  COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
        |FROM ps JOIN part p ON ps.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#5' AND p.p_type <> 'PROMO'
        |  AND ps.l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // q213: exact-substring trim APPLIED — tokens covered by cross-doc
    // duplicated 7-grams removed everywhere except the gram's
    // lowest-id holder; trimmed text reassembled in token order
    "q213_dup_span_trim" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, u.i AS pos,
        |        md5(array_to_string(list_slice(w, u.i, u.i + 6), ' ')) AS g
        |      FROM t, LATERAL (SELECT unnest(range(1, len(w) - 5)) AS i) u
        |      WHERE len(w) >= 7),
        |s AS (SELECT g, MIN(doc_id) AS lo FROM g GROUP BY 1
        |      HAVING MIN(doc_id) <> MAX(doc_id)),
        |rem AS (SELECT doc_id, pos FROM g JOIN s USING (g) WHERE doc_id <> lo),
        |cov AS (SELECT DISTINCT doc_id, pos + o.o AS cp
        |        FROM rem, LATERAL (SELECT unnest(range(0, 7)) AS o) o),
        |tok AS (SELECT t.doc_id, u.i, w[u.i] AS tk
        |        FROM t, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) u),
        |kept AS (SELECT tok.doc_id, tok.i, tok.tk
        |         FROM tok LEFT JOIN cov
        |           ON tok.doc_id = cov.doc_id AND tok.i = cov.cp
        |         WHERE cov.cp IS NULL),
        |ka AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nk,
        |         string_agg(tk, ' ' ORDER BY i) AS txt
        |       FROM kept GROUP BY 1)
        |SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(w) AS BIGINT) - COALESCE(nk, 0) AS n_removed,
        |  COALESCE(txt, '') AS trimmed_text
        |FROM t LEFT JOIN ka USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q214: first-3 BPE merges (self-pairs excluded → order-free
    // apply); each iteration = pair argmax (count desc, pair asc) +
    // per-position merge rewrite, unrolled as chained CTEs
    "q214_bpe_merges" -> bpeMergesOracleSql,
    // q251/q252: the learned-artifact tokenizers — the learning CTEs
    // feed the inference vocab/cost tables instead of literals
    "q251_wordpiece_learned" -> wordpieceLearnedOracleSql,
    "q252_viterbi_learned" -> viterbiLearnedOracleSql,
    // q218: the learned merges APPLIED per source — exact weighted
    // symbol totals before/after, compression in integer ppm
    "q218_bpe_apply" -> bpeApplyOracleSql,
    // q246: WordPiece-style greedy longest-match under the frozen
    // Bpe.WpVocab — the recursive CTE replays the identical ladder;
    // the vocab list literal is generated from the same Seq
    "q246_wordpiece_tokens" ->
      s"""WITH RECURSIVE t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
        |words AS (
        |  SELECT doc_id, lang, i, ws[i] AS w
        |  FROM t, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) u
        |  WHERE len(ws[i]) > 0),
        |rec AS (
        |  SELECT doc_id, i, lang, w, 0 AS pos, 0 AS ntok, 0 AS nunk
        |  FROM words
        |  UNION ALL
        |  SELECT doc_id, i, lang, w, pos + len(cand) AS pos,
        |    ntok + 1 AS ntok,
        |    nunk + CASE WHEN matched THEN 0 ELSE 1 END AS nunk
        |  FROM (
        |    SELECT doc_id, i, lang, w, pos, ntok, nunk,
        |      CASE
        |        WHEN list_contains(${Bpe.wpVocabSql}, substr(w, pos + 1, 4))
        |          THEN substr(w, pos + 1, 4)
        |        WHEN list_contains(${Bpe.wpVocabSql}, substr(w, pos + 1, 3))
        |          THEN substr(w, pos + 1, 3)
        |        WHEN list_contains(${Bpe.wpVocabSql}, substr(w, pos + 1, 2))
        |          THEN substr(w, pos + 1, 2)
        |        ELSE substr(w, pos + 1, 1) END AS cand,
        |      (list_contains(${Bpe.wpVocabSql}, substr(w, pos + 1, 4))
        |        OR list_contains(${Bpe.wpVocabSql}, substr(w, pos + 1, 3))
        |        OR list_contains(${Bpe.wpVocabSql}, substr(w, pos + 1, 2))
        |        OR list_contains(${Bpe.wpVocabSql}, substr(w, pos + 1, 1)))
        |        AS matched
        |    FROM rec WHERE pos < len(w))),
        |fin AS (SELECT lang, ntok, nunk FROM rec WHERE pos >= len(w))
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(ntok) AS BIGINT) AS n_pieces,
        |  CAST(SUM(nunk) AS BIGINT) AS n_unk,
        |  (1000000 * CAST(SUM(ntok) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
        |    AS fertility_ppm
        |FROM fin GROUP BY lang ORDER BY lang""".stripMargin,
    // q247: content-defined chunking — boundary after token i when the
    // first hex nibble of md5 of the trailing 4-token window is '0'
    "q247_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |nz AS (SELECT * FROM d WHERE len(ws) > 0),
        |e0 AS (SELECT doc_id, source, ws,
        |    list_filter(range(4, len(ws) + 1), i ->
        |      substr(md5(array_to_string(ws[i-3:i], ' ')), 1, 1) = '0') AS ends0
        |  FROM nz),
        |e AS (SELECT doc_id, source, ws,
        |    CASE WHEN len(ends0) > 0 AND ends0[-1] = len(ws) THEN ends0
        |         ELSE list_append(ends0, len(ws)) END AS ends FROM e0),
        |ch AS (SELECT doc_id, source,
        |    substr(md5(array_to_string(
        |      ws[(CASE WHEN j = 1 THEN 1 ELSE ends[j-1] + 1 END):(ends[j])],
        |      ' ')), 1, 16) AS h,
        |    ends[j] - (CASE WHEN j = 1 THEN 1 ELSE ends[j-1] + 1 END) + 1 AS len
        |  FROM e, LATERAL (SELECT unnest(range(1, len(ends) + 1)) AS j) u)
        |SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
        |  (1000000 * (CAST(COUNT(*) AS BIGINT) - CAST(COUNT(DISTINCT h) AS BIGINT)))
        |    // CAST(COUNT(*) AS BIGINT) AS dup_ppm,
        |  (100 * CAST(SUM(len) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
        |    AS avg_len_centi
        |FROM ch GROUP BY source ORDER BY source""".stripMargin,
    // q248: exact unigram-LM Viterbi segmentation — the recursive CTE
    // carries the same 4-slot DP window as the Spark fold; the cost
    // table VALUES are generated from the same Seq (Bpe.vitCostsSql)
    "q248_viterbi_tokens" ->
      s"""WITH RECURSIVE t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
        |words AS (
        |  SELECT doc_id, lang, i, ws[i] AS w
        |  FROM t, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) u
        |  WHERE len(ws[i]) > 0),
        |vc AS (SELECT piece, CAST(c AS BIGINT) AS c
        |  FROM (VALUES ${Bpe.vitCostsSql}) AS v(piece, c)),
        |exp AS (SELECT doc_id, i, w, p, k, substr(w, p - k + 1, k) AS piece
        |  FROM words, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS p) pp,
        |       LATERAL (SELECT unnest(range(1, 5)) AS k) kk
        |  WHERE p >= k),
        |pc AS (SELECT doc_id, i, p,
        |    MAX(CASE WHEN k = 1 THEN c END) AS c1,
        |    MAX(CASE WHEN k = 2 THEN c END) AS c2,
        |    MAX(CASE WHEN k = 3 THEN c END) AS c3,
        |    MAX(CASE WHEN k = 4 THEN c END) AS c4
        |  FROM exp LEFT JOIN vc ON vc.piece = exp.piece
        |  GROUP BY 1, 2, 3),
        |rec AS (
        |  SELECT doc_id, i, lang, w, 0 AS pos,
        |    CAST(0 AS BIGINT) AS m1, CAST(1000000000000000000 AS BIGINT) AS m2,
        |    CAST(1000000000000000000 AS BIGINT) AS m3,
        |    CAST(1000000000000000000 AS BIGINT) AS m4
        |  FROM words
        |  UNION ALL
        |  SELECT r.doc_id, r.i, r.lang, r.w, r.pos + 1 AS pos,
        |    least(
        |      CASE WHEN pc.c1 IS NOT NULL
        |        THEN r.m1 + pc.c1 * ${Bpe.VitRadix} + 1 END,
        |      CASE WHEN r.pos + 1 >= 2 AND pc.c2 IS NOT NULL
        |        THEN r.m2 + pc.c2 * ${Bpe.VitRadix} + 1 END,
        |      CASE WHEN r.pos + 1 >= 3 AND pc.c3 IS NOT NULL
        |        THEN r.m3 + pc.c3 * ${Bpe.VitRadix} + 1 END,
        |      CASE WHEN r.pos + 1 >= 4 AND pc.c4 IS NOT NULL
        |        THEN r.m4 + pc.c4 * ${Bpe.VitRadix} + 1 END,
        |      r.m1 + ${Bpe.VitUnkCost * Bpe.VitRadix + 1L}) AS m1,
        |    r.m1 AS m2, r.m2 AS m3, r.m3 AS m4
        |  FROM rec r JOIN pc ON pc.doc_id = r.doc_id AND pc.i = r.i
        |    AND pc.p = r.pos + 1
        |  WHERE r.pos < len(r.w)),
        |fin AS (SELECT lang, m1 FROM rec WHERE pos = len(w))
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(m1 // ${Bpe.VitRadix}) AS BIGINT) AS total_cost,
        |  CAST(SUM(m1 % ${Bpe.VitRadix}) AS BIGINT) AS n_pieces,
        |  (1000000 * CAST(SUM(m1 % ${Bpe.VitRadix}) AS BIGINT))
        |    // CAST(COUNT(*) AS BIGINT) AS fertility_ppm,
        |  (100 * CAST(SUM(m1 // ${Bpe.VitRadix}) AS BIGINT))
        |    // CAST(COUNT(*) AS BIGINT) AS cost_per_word_centi
        |FROM fin GROUP BY lang ORDER BY lang""".stripMargin,
    // q215: Kneser–Ney continuation statistics from the bigram type
    // table; cont_ppm = N1+(.w) / |types| in integer ppm
    "q215_kn_continuation" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |b AS (SELECT doc_id, ws[u.i] AS w1, ws[u.i + 1] AS w2
        |      FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) u),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1, 2),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM c),
        |lf AS (SELECT w2 AS word, CAST(COUNT(*) AS BIGINT) AS n_left_contexts,
        |         CAST(SUM(n) AS BIGINT) AS n_as_continuation
        |       FROM c GROUP BY 1),
        |rt AS (SELECT w1 AS word, CAST(COUNT(*) AS BIGINT) AS n_right_types
        |       FROM c GROUP BY 1)
        |SELECT lf.word, n_left_contexts,
        |  COALESCE(n_right_types, 0) AS n_right_types, n_as_continuation,
        |  (1000000 * n_left_contexts) // n_types AS cont_ppm
        |FROM lf LEFT JOIN rt USING (word) CROSS JOIN t
        |ORDER BY n_left_contexts DESC, word LIMIT 50""".stripMargin,
    // q260: per-doc interpolated-KN score — D = 3/4 carried exactly as
    // (4c−3)/(4c1); every // is non-negative so DuckDB floor division
    // equals Spark's truncating div
    "q260_kn_doc_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |b AS (SELECT doc_id, ws[u.i] AS w1, ws[u.i + 1] AS w2
        |      FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) u),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1, 2),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM c),
        |f AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS c1,
        |        CAST(COUNT(*) AS BIGINT) AS n1p_fwd FROM c GROUP BY 1),
        |bw AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_bwd FROM c GROUP BY 1),
        |m AS (SELECT w1, w2,
        |        (1000000 * (4 * n - 3)) // (4 * c1)
        |        + (((3000000 * n1p_fwd) // (4 * c1))
        |           * ((1000000 * n1p_bwd) // n_types)) // 1000000 AS score_ppm
        |      FROM c JOIN f USING (w1) JOIN bw USING (w2) CROSS JOIN t)
        |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_slots,
        |  CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS kn_mean_ppm,
        |  CAST(MIN(score_ppm) AS BIGINT) AS kn_min_ppm
        |FROM b JOIN m USING (w1, w2)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    // q216: k-anonymity audit — QI = (event_type, day, value band);
    // rows in classes smaller than k are the re-identifiable sliver
    "q216_k_anonymity" ->
      """WITH cls AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |    CAST(floor(value / 100.0) AS BIGINT) AS band,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
        |    CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN n < 2 THEN 1 ELSE 0 END) AS BIGINT) AS g2,
        |    CAST(SUM(CASE WHEN n < 2 THEN n ELSE 0 END) AS BIGINT) AS r2,
        |    CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS g5,
        |    CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS r5,
        |    CAST(SUM(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT) AS g10,
        |    CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT) AS r10
        |  FROM cls)
        |SELECT * FROM (
        |  SELECT CAST(2 AS BIGINT) AS k, n_classes, n_rows,
        |    g2 AS n_violating_classes, r2 AS n_violating_rows,
        |    CAST((1000000 * CAST(r2 AS HUGEINT)) // nullif(n_rows, 0)
        |      AS BIGINT) AS risk_ppm FROM s
        |  UNION ALL SELECT 5, n_classes, n_rows, g5, r5,
        |    CAST((1000000 * CAST(r5 AS HUGEINT)) // nullif(n_rows, 0)
        |      AS BIGINT) FROM s
        |  UNION ALL SELECT 10, n_classes, n_rows, g10, r10,
        |    CAST((1000000 * CAST(r10 AS HUGEINT)) // nullif(n_rows, 0)
        |      AS BIGINT) FROM s)
        |ORDER BY k""".stripMargin,
    // q217: exact Mann–Whitney AUC of the stopword-rate score as an
    // English detector; ties get half credit, all-integer arithmetic
    "q217_quality_auc" ->
      """WITH sc AS (SELECT (lang = 'en') AS pos,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |ps AS (SELECT (1000000 * n_stop) // n_tokens AS score,
        |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM sc GROUP BY 1),
        |pr AS (SELECT np, nn,
        |    CAST(COALESCE(SUM(nn) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS nn_below
        |  FROM ps)
        |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  CAST(SUM(np * nn_below) AS BIGINT) AS n_concordant,
        |  CAST(SUM(np * nn) AS BIGINT) AS n_tied,
        |  CASE WHEN SUM(np) * SUM(nn) = 0 THEN NULL
        |    ELSE (1000000 * (2 * CAST(SUM(np * nn_below) AS BIGINT)
        |                     + CAST(SUM(np * nn) AS BIGINT)))
        |      // (2 * CAST(SUM(np) AS BIGINT) * CAST(SUM(nn) AS BIGINT))
        |  END AS auc_ppm
        |FROM pr""".stripMargin,
    // q220: calibration reliability deciles of the same score — the
    // deciles are ANSI ntile under (score, doc_id); Spark plans them
    // via the distributed GlobalOrder rank, the oracle says NTILE
    "q220_score_calibration" ->
      """WITH sc AS (SELECT doc_id, (lang = 'en') AS pos,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |s2 AS (SELECT doc_id, pos,
        |    (1000000 * n_stop) // n_tokens AS score FROM sc),
        |d AS (SELECT pos, score,
        |    CAST(NTILE(10) OVER (ORDER BY score, doc_id) AS BIGINT) AS decile
        |  FROM s2)
        |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  (1000000 * CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT))
        |    // CAST(COUNT(*) AS BIGINT) AS pos_ppm,
        |  MIN(score) AS score_lo, MAX(score) AS score_hi,
        |  CAST(SUM(score) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean_score
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // q221: T5 span corruption — two md5-placed fixed-length spans
    // (one per document half, non-overlap by construction) masked with
    // sentinels; input/target assembled by one array_to_string each
    "q221_span_corruption" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |m AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n
        |      FROM t WHERE len(ws) >= 6),
        |h AS (SELECT doc_id, ws, n, n // 2 AS half,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 7),
        |        i -> CAST(strpos('0123456789abcdef',
        |               substr(md5('span1:' || doc_id), i, 1)) - 1 AS BIGINT))),
        |      (a, b) -> a * 16 + b) AS h1,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 7),
        |        i -> CAST(strpos('0123456789abcdef',
        |               substr(md5('span2:' || doc_id), i, 1)) - 1 AS BIGINT))),
        |      (a, b) -> a * 16 + b) AS h2
        |  FROM m),
        |c AS (SELECT doc_id, ws, n, half,
        |    h1 % (half - 2) + 1 AS s1,
        |    half + 1 + h2 % (n - half - 2) AS s2 FROM h)
        |SELECT doc_id, n AS n_tokens, s1, s2,
        |  array_to_string(ws[1:s1 - 1] || ['<X>'] || ws[s1 + 3:s2 - 1]
        |    || ['<Y>'] || ws[s2 + 3:n], ' ') AS input_text,
        |  array_to_string(['<X>'] || ws[s1:s1 + 2] || ['<Y>'] || ws[s2:s2 + 2],
        |    ' ') AS target_text
        |FROM c ORDER BY doc_id""".stripMargin,
    // q222: TPC-H Q6 analog — zero-join scan-filter-aggregate
    "q222_forecast_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24.0""".stripMargin,
    // q223: cluster-level split assignment (rep = min-label connected
    // component of the q32 pair graph; singletons hash their own id),
    // plus an independent re-count of pairs still straddling splits
    "q223_leakage_safe_split" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
        |$clusterCtes,
        |sp AS (SELECT d.doc_id, cl.cluster,
        |    CASE WHEN substr(md5(CAST(COALESCE(cl.cluster, d.doc_id) AS VARCHAR)), 1, 4) < 'e666'
        |         THEN 'train'
        |         WHEN substr(md5(CAST(COALESCE(cl.cluster, d.doc_id) AS VARCHAR)), 1, 4) < 'f333'
        |         THEN 'val' ELSE 'test' END AS split
        |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |leak AS (SELECT CAST(COUNT(*) AS BIGINT) AS leaked_pairs
        |         FROM neardup n
        |         JOIN sp a ON a.doc_id = n.id_a
        |         JOIN sp b ON b.doc_id = n.id_b
        |         WHERE a.split <> b.split)
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(cluster) AS BIGINT) AS n_clustered,
        |  (SELECT leaked_pairs FROM leak) AS leaked_pairs
        |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin,
    // q224: soft dedup — per-doc weight 1/cluster_size, integer
    // per-doc floor division, HUGEINT cross-multiplied ppm ratio
    "q224_dup_weighting" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
        |$clusterCtes,
        |cs AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS csize FROM cl GROUP BY 1),
        |w AS (SELECT cl.doc_id, cs.csize FROM cl JOIN cs USING (cluster)),
        |d AS (SELECT doc_id, source,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |      FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN COALESCE(csize, 1) > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS raw_tokens,
        |  CAST(SUM(n_tokens // COALESCE(csize, 1)) AS BIGINT) AS effective_tokens,
        |  CAST(CAST(1000000 AS HUGEINT) * SUM(n_tokens // COALESCE(csize, 1))
        |       // SUM(n_tokens) AS BIGINT) AS retained_ppm
        |FROM d LEFT JOIN w USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q225_ann_ndcg" -> annNdcgOracleSql(k = 5, probes = 3),
    // q226: KMV sketch — k smallest 32-bit gram digests per source
    // (hex2int via the q103 list_reduce fold), theta-intersection
    // estimate audited against the exact q183 intersection
    "q226_kmv_overlap" ->
      s"""WITH $kmvSketchCtes,
        |m2 AS (SELECT source,
        |         CASE WHEN n_sk < 256 THEN 4294967296 ELSE theta_raw END AS theta
        |       FROM meta),
        |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
        |            least(a.theta, b.theta) AS theta
        |          FROM m2 a JOIN m2 b ON a.source < b.source),
        |cm AS (SELECT a.source AS src_a, b.source AS src_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_common
        |       FROM sk a JOIN sk b ON a.x = b.x AND a.source < b.source
        |       JOIN pairs p ON p.src_a = a.source AND p.src_b = b.source
        |         AND a.x < p.theta
        |       GROUP BY 1, 2),
        |ex AS (SELECT a.source AS src_a, b.source AS src_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_inter
        |       FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        |       GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b, CAST(p.theta AS BIGINT) AS theta,
        |  COALESCE(n_common, 0) AS n_common,
        |  CAST((COALESCE(n_common, 0) * 4294967296) // p.theta AS BIGINT)
        |    AS est_inter,
        |  COALESCE(n_inter, 0) AS n_inter,
        |  CASE WHEN COALESCE(n_inter, 0) > 0
        |       THEN CAST((1000000 * abs((COALESCE(n_common, 0) * 4294967296)
        |                 // p.theta - n_inter)) // n_inter AS BIGINT)
        |  END AS err_ppm
        |FROM pairs p LEFT JOIN cm USING (src_a, src_b)
        |     LEFT JOIN ex USING (src_a, src_b)
        |ORDER BY src_a, src_b""".stripMargin,
    // q227: KMV distinct-cardinality estimate per source, audited
    // against the exact distinct gram count (same sketch as q226)
    "q227_kmv_distinct" ->
      s"""WITH $kmvSketchCtes,
        |ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
        |       FROM sh GROUP BY 1),
        |est AS (SELECT m.source, m.n_sk, m.theta_raw AS theta, e.n_exact,
        |    CASE WHEN m.n_sk < 256 THEN m.n_sk
        |         ELSE CAST((255 * 4294967296) // m.theta_raw AS BIGINT) END
        |      AS est_distinct
        |  FROM meta m JOIN ex e USING (source))
        |SELECT source, n_sk, theta, est_distinct, n_exact,
        |  CAST((1000000 * abs(est_distinct - n_exact)) // n_exact AS BIGINT)
        |    AS err_ppm
        |FROM est ORDER BY source""".stripMargin,
    // q228: per-source Mann–Whitney AUC — the grouped q217 (exclusive
    // negative prefix now PARTITION BY source; Spark plans it via the
    // grouped GlobalOrder prefix, never a few-key window)
    "q228_source_auc" ->
      """WITH sc AS (SELECT source, (lang = 'en') AS pos,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |ps AS (SELECT source, (1000000 * n_stop) // n_tokens AS score,
        |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM sc GROUP BY 1, 2),
        |pr AS (SELECT source, np, nn,
        |    CAST(COALESCE(SUM(nn) OVER (PARTITION BY source ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS nn_below
        |  FROM ps)
        |SELECT source, CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  CAST(SUM(np * nn_below) AS BIGINT) AS n_concordant,
        |  CAST(SUM(np * nn) AS BIGINT) AS n_tied,
        |  CASE WHEN SUM(np) * SUM(nn) = 0 THEN NULL
        |    ELSE (1000000 * (2 * CAST(SUM(np * nn_below) AS BIGINT)
        |                     + CAST(SUM(np * nn) AS BIGINT)))
        |      // (2 * CAST(SUM(np) AS BIGINT) * CAST(SUM(nn) AS BIGINT))
        |  END AS auc_ppm
        |FROM pr GROUP BY source ORDER BY source""".stripMargin,
    // q229: q163's winnowing screen (CTEs renamed d* to avoid the
    // shared `t`) closed under the q72 near-dup clusters — direct hits
    // expand to whole clusters, eval docs (id%50=0) never flagged
    "q229_cluster_decontaminate" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
        |$clusterCtes,
        |dt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 7),
        |dh AS (SELECT doc_id, list_transform(range(1, len(ws) - 2), i ->
        |        substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 16)) AS hs
        |      FROM dt),
        |dwins AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(hs) - 2), p ->
        |      list_min(hs[p:p+3]))) AS fp
        |  FROM dh),
        |df AS (SELECT DISTINCT doc_id, fp FROM dwins),
        |dev AS (SELECT DISTINCT fp FROM df WHERE doc_id % 50 = 0),
        |direct AS (SELECT DISTINCT df.doc_id FROM df JOIN dev USING (fp)
        |           WHERE df.doc_id % 50 <> 0),
        |hitcl AS (SELECT DISTINCT cl.cluster FROM cl JOIN direct USING (doc_id)),
        |trans AS (SELECT cl.doc_id FROM cl JOIN hitcl USING (cluster)
        |          WHERE cl.doc_id % 50 <> 0),
        |fl AS (SELECT d.doc_id, d.source,
        |         CASE WHEN dir.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_direct,
        |         CASE WHEN tr2.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_cluster
        |       FROM documents d LEFT JOIN direct dir ON d.doc_id = dir.doc_id
        |            LEFT JOIN trans tr2 ON d.doc_id = tr2.doc_id)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(is_direct) AS BIGINT) AS n_direct,
        |  CAST(SUM(CASE WHEN in_cluster = 1 AND is_direct = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_transitive,
        |  CAST(SUM(CASE WHEN is_direct = 1 OR in_cluster = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_flagged
        |FROM fl GROUP BY 1 ORDER BY 1""".stripMargin,
    // q230: quality deciles (ANSI ntile under (score, doc_id), the
    // q220 idiom) crossed with near-dup cluster membership
    "q230_quality_dup_matrix" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
        |$clusterCtes,
        |sc AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |s2 AS (SELECT doc_id, (1000000 * n_stop) // n_tokens AS score FROM sc),
        |dd AS (SELECT doc_id, score,
        |    CAST(NTILE(10) OVER (ORDER BY score, doc_id) AS BIGINT) AS decile
        |  FROM s2)
        |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup,
        |  (1000000 * CAST(SUM(CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS dup_ppm,
        |  MIN(dd.score) AS score_lo, MAX(dd.score) AS score_hi
        |FROM dd LEFT JOIN cl ON dd.doc_id = cl.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q231: q200's funnel stages crossed with q230's quality deciles,
    // plus residual cluster membership among each stage's survivors —
    // definitions shared verbatim with the component queries
    "q231_curation_report" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
        |$clusterCtes,
        |bd AS (SELECT doc_id, lang, md5(text) AS th,
        |    string_split(text, ' ') AS ws FROM documents),
        |bm AS (SELECT doc_id, lang, th,
        |    CAST(len(ws) AS BIGINT) AS n_tokens,
        |    CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT) AS sum_wlen,
        |    CAST(len(list_filter(ws, w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
        |  FROM bd WHERE len(ws) > 0),
        |sc AS (SELECT *, (1000000 * n_stop) // n_tokens AS score,
        |    (n_tokens >= 30 AND n_tokens <= 1000
        |     AND (100 * sum_wlen) // n_tokens >= 200
        |     AND (100 * sum_wlen) // n_tokens <= 800
        |     AND n_stop >= 2) AS gopher_ok
        |  FROM bm),
        |dd AS (SELECT doc_id,
        |    CAST(NTILE(10) OVER (ORDER BY score, doc_id) AS BIGINT) AS decile
        |  FROM sc),
        |kp AS (SELECT th, MIN(doc_id) AS keep_id FROM sc GROUP BY 1),
        |ndc AS (SELECT DISTINCT id_b AS doc_id FROM neardup),
        |fl AS (SELECT sc.doc_id, dd.decile, sc.n_tokens,
        |    (cl.doc_id IS NOT NULL) AS in_cl,
        |    (sc.lang IN ('en', 'es', 'fr')) AS c1,
        |    (sc.lang IN ('en', 'es', 'fr')) AND sc.gopher_ok AS c2,
        |    (sc.lang IN ('en', 'es', 'fr')) AND sc.gopher_ok
        |      AND sc.doc_id = kp.keep_id AS c3,
        |    (sc.lang IN ('en', 'es', 'fr')) AND sc.gopher_ok
        |      AND sc.doc_id = kp.keep_id AND ndc.doc_id IS NULL AS c4
        |  FROM sc JOIN dd ON sc.doc_id = dd.doc_id
        |  JOIN kp ON sc.th = kp.th
        |  LEFT JOIN ndc ON sc.doc_id = ndc.doc_id
        |  LEFT JOIN cl ON sc.doc_id = cl.doc_id),
        |ss AS (SELECT decile,
        |    CAST(COUNT(*) AS BIGINT) AS d0,
        |    CAST(SUM(n_tokens) AS BIGINT) AS t0,
        |    CAST(SUM(CASE WHEN in_cl THEN 1 ELSE 0 END) AS BIGINT) AS u0,
        |    CAST(SUM(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN c1 THEN n_tokens ELSE 0 END) AS BIGINT) AS t1,
        |    CAST(SUM(CASE WHEN c1 AND in_cl THEN 1 ELSE 0 END) AS BIGINT) AS u1,
        |    CAST(SUM(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |    CAST(SUM(CASE WHEN c2 THEN n_tokens ELSE 0 END) AS BIGINT) AS t2,
        |    CAST(SUM(CASE WHEN c2 AND in_cl THEN 1 ELSE 0 END) AS BIGINT) AS u2,
        |    CAST(SUM(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
        |    CAST(SUM(CASE WHEN c3 THEN n_tokens ELSE 0 END) AS BIGINT) AS t3,
        |    CAST(SUM(CASE WHEN c3 AND in_cl THEN 1 ELSE 0 END) AS BIGINT) AS u3,
        |    CAST(SUM(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
        |    CAST(SUM(CASE WHEN c4 THEN n_tokens ELSE 0 END) AS BIGINT) AS t4,
        |    CAST(SUM(CASE WHEN c4 AND in_cl THEN 1 ELSE 0 END) AS BIGINT) AS u4
        |  FROM fl GROUP BY 1)
        |SELECT decile, stage, stage_name, n_docs, n_tokens, n_in_cluster,
        |  CAST((1000000 * n_docs) // d0 AS BIGINT) AS kept_ppm
        |FROM (
        |  SELECT decile, CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
        |    d0 AS n_docs, t0 AS n_tokens, u0 AS n_in_cluster, d0 FROM ss
        |  UNION ALL SELECT decile, 1, 'lang_filter', d1, t1, u1, d0 FROM ss
        |  UNION ALL SELECT decile, 2, 'gopher_rules', d2, t2, u2, d0 FROM ss
        |  UNION ALL SELECT decile, 3, 'exact_dedup', d3, t3, u3, d0 FROM ss
        |  UNION ALL SELECT decile, 4, 'neardup_dedup', d4, t4, u4, d0 FROM ss) u
        |ORDER BY decile, stage""".stripMargin,
    // q232: precision/recall threshold sweep — exclusive prefix sums
    // over the bounded per-score table (the q217 prefix idiom); the
    // oracle replays the one-task window form, hash equality proves
    // the two-phase plan value-identical
    "q232_pr_curve" ->
      """WITH sc AS (SELECT (lang = 'en') AS pos,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |ps AS (SELECT (1000000 * n_stop) // n_tokens AS score,
        |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM sc GROUP BY 1),
        |cum AS (SELECT score, np, nn,
        |    CAST(COALESCE(SUM(np) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS fn,
        |    CAST(COALESCE(SUM(nn) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_nn
        |  FROM ps),
        |tot AS (SELECT CAST(SUM(np) AS BIGINT) AS t_pos,
        |    CAST(SUM(nn) AS BIGINT) AS t_neg FROM ps)
        |SELECT score, t_pos - fn AS tp, t_neg - cum_nn AS fp, fn,
        |  (1000000 * (t_pos - fn)) // ((t_pos - fn) + (t_neg - cum_nn))
        |    AS precision_ppm,
        |  (1000000 * (t_pos - fn)) // NULLIF(t_pos, 0) AS recall_ppm,
        |  (2000000 * (t_pos - fn))
        |    // (2 * (t_pos - fn) + (t_neg - cum_nn) + fn) AS f1_ppm
        |FROM cum CROSS JOIN tot ORDER BY score""".stripMargin,
    // q233: token-yield curve vs quality threshold — q232's
    // budget-side twin over the same bounded per-score table
    "q233_threshold_yield" ->
      """WITH sc AS (SELECT
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |ps AS (SELECT (1000000 * n_stop) // n_tokens AS score,
        |    CAST(COUNT(*) AS BIGINT) AS nd,
        |    CAST(SUM(n_tokens) AS BIGINT) AS nt
        |  FROM sc GROUP BY 1),
        |cum AS (SELECT score, nd, nt,
        |    CAST(COALESCE(SUM(nd) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_nd,
        |    CAST(COALESCE(SUM(nt) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_nt
        |  FROM ps),
        |tot AS (SELECT CAST(SUM(nd) AS BIGINT) AS t_docs,
        |    CAST(SUM(nt) AS BIGINT) AS t_tokens FROM ps)
        |SELECT score, t_docs - cum_nd AS kept_docs,
        |  t_tokens - cum_nt AS kept_tokens,
        |  (1000000 * (t_docs - cum_nd)) // t_docs AS doc_ppm,
        |  (1000000 * (t_tokens - cum_nt)) // t_tokens AS token_ppm
        |FROM cum CROSS JOIN tot ORDER BY score""".stripMargin,
    // q234: JPEG header round-trip — Spark synthesizes REAL JPEG bytes
    // (variable-length COM prefix) and parses them back with the
    // bounded marker walk; the oracle recomputes the planted
    // dimensions analytically from doc_id, so equality proves the
    // byte path end to end without DuckDB touching a byte
    "q234_jpeg_meta" ->
      """SELECT doc_id, TRUE AS is_jpeg,
        |  CAST((doc_id % 2) * 2 AS BIGINT) AS sof_type,
        |  CAST(8 AS BIGINT) AS bit_depth,
        |  CAST(64 + doc_id % 256 AS BIGINT) AS height,
        |  CAST(64 + doc_id % 512 AS BIGINT) AS width,
        |  CAST(3 AS BIGINT) AS n_components
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q254: MP4 header round-trip — same discipline as q234 on the
    // ISO-BMFF box walk; the doc-varying `free` box shifts moov's
    // offset (largesize-encoded for doc%3=1, +8 header bytes), so the
    // analytic moov_pos only matches if the walk really hopped the
    // boxes through BOTH size encodings; v1 mvhd docs (doc%4=2) pin
    // the 64-bit-field offsets the same way
    // q255: multi-format sink/source round-trip — the oracle computes
    // the same exact-integer checksums once from the parquet fixture;
    // equality per format proves each write->read loop lossless
    "q255_format_roundtrip" -> graft.ops.Formats.formatRoundtripSql,
    // q256: string-trap round-trip — planted delimiter/quote/newline/
    // empty-vs-NULL/unicode/padding/tab traps through every format's
    // real write->read loop; the oracle re-derives the traps from the
    // fixture, so a mis-quoted or trimmed or conflated value hash-fails
    "q256_string_roundtrip" -> graft.ops.Formats.formatRoundtripStringsSql,
    "q259_xml_roundtrip" -> graft.ops.Formats.formatRoundtripXmlSql,
    "q254_mp4_meta" ->
      """SELECT doc_id, TRUE AS is_mp4, 'isom' AS brand,
        |  CAST(33 + doc_id % 9
        |    + CASE WHEN doc_id % 3 = 1 THEN 8 ELSE 0 END AS BIGINT)
        |    AS moov_pos,
        |  CAST(600 + (doc_id % 5) * 100 AS BIGINT) AS timescale,
        |  CAST(doc_id % 100000 AS BIGINT) AS duration
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q235: semantic decontamination — nearest eval vector per training
    // vector, exact cosine, dyadic τ verdict; oracle mirrors q34's
    // list-fold dot and the rnk=1 window form of the bounded heap
    "q235_semantic_decontaminate" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
        |  FROM embeddings),
        |q AS (SELECT vec_id AS eval_id, embedding AS q_emb, n2 AS q_n2
        |      FROM e WHERE vec_id % 20 = 0 AND vec_id < 5120),
        |t AS (SELECT vec_id, embedding, n2 FROM e
        |      WHERE NOT (vec_id % 20 = 0 AND vec_id < 5120)),
        |s AS (SELECT t.vec_id, q.eval_id,
        |    list_sum(list_transform(range(1, len(t.embedding) + 1),
        |      i -> q.q_emb[i]::DOUBLE * t.embedding[i]::DOUBLE))
        |      / (sqrt(q.q_n2) * sqrt(t.n2)) AS sim
        |  FROM t, q),
        |r AS (SELECT vec_id, eval_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |         ORDER BY sim DESC, eval_id) AS rn FROM s)
        |SELECT vec_id, eval_id, sim AS max_sim, sim >= 0.3125 AS contaminated
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // q236: C4-style blocklist removal audit — per-source docs/tokens a
    // drop policy would remove, exact integer ppm budgets; the oracle
    // mirrors the blocklist lexicon token for token
    "q236_blocklist_audit" ->
      """WITH d AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> w = 'slow' OR w = 'small' OR w = 'big')) AS BIGINT) AS n_hits
        |  FROM documents)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_blocked_docs,
        |  CAST(SUM(CASE WHEN n_hits > 0 THEN n_tokens ELSE 0 END) AS BIGINT)
        |    AS n_tokens_lost,
        |  CAST(SUM(n_hits) AS BIGINT) AS n_hits,
        |  (1000000 * CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT))
        |    // CAST(COUNT(*) AS BIGINT) AS blocked_doc_ppm,
        |  (1000000 * CAST(SUM(CASE WHEN n_hits > 0 THEN n_tokens ELSE 0 END) AS BIGINT))
        |    // CAST(SUM(n_tokens) AS BIGINT) AS token_loss_ppm
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // q237: IVF cell-balance audit — the oracle replays the learned
    // quantizer (kmeansCtes) and the row_number argmin assignment,
    // then the same exact-ppm balance arithmetic
    "q237_ivf_cell_balance" ->
      s"""WITH ${kmeansCtes(8, 2)},
        |ranked AS (
        |  SELECT e.vec_id, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      $kmeansDist, c.cid) AS rn
        |  FROM embeddings e CROSS JOIN c2 c),
        |sz AS (SELECT CAST(cid AS BIGINT) AS cell,
        |    CAST(COUNT(*) AS BIGINT) AS n_vectors
        |  FROM ranked WHERE rn = 1 GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS n_cells FROM sz)
        |SELECT cell, n_vectors,
        |  (1000000 * n_vectors) // n AS share_ppm,
        |  (1000000 * n_vectors * n_cells) // n AS load_vs_even_ppm
        |FROM sz CROSS JOIN tot ORDER BY cell""".stripMargin,
    // q238: normalization-robust dedup audit — per-source raw vs
    // normalized exact-dup membership; DuckDB needs the 'g' flag where
    // Spark's regexp_replace is global by default
    "q238_normalized_dedup" ->
      """WITH h AS (SELECT source, md5(text) AS eh,
        |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |      AS nh
        |  FROM documents),
        |ed AS (SELECT eh FROM h GROUP BY eh HAVING COUNT(*) > 1),
        |nd AS (SELECT nh FROM h GROUP BY nh HAVING COUNT(*) > 1)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN ed.eh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact_dup_docs,
        |  CAST(SUM(CASE WHEN nd.nh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_norm_dup_docs,
        |  CAST(SUM(CASE WHEN nd.nh IS NOT NULL AND ed.eh IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_newly_caught,
        |  (1000000 * CAST(SUM(CASE WHEN nd.nh IS NOT NULL AND ed.eh IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
        |    AS newly_caught_ppm
        |FROM h LEFT JOIN ed ON h.eh = ed.eh LEFT JOIN nd ON h.nh = nd.nh
        |GROUP BY source ORDER BY source""".stripMargin,
    // q264: unicode confusable folding — plant, fold table, and dup
    // accounting all generated from TextAnalysis.ConfusablePairs
    "q264_confusable_fold" -> TextAnalysis.confusableFoldSql,
    // q265: CCNet-style per-paragraph trim — synthesis, micro-gates,
    // and reassembly replayed verbatim
    "q265_paragraph_trim" -> TextAnalysis.paragraphTrimSql,
    // q266: the LM-scored paragraph trim — q265's synthesis and
    // reassembly under q260's exact-integer KN model, self-calibrating
    // half-of-corpus-mean threshold
    "q266_paragraph_lm_trim" -> graft.llm.MixPlan.paragraphLmTrimSql,
    // q267: CCNet head/middle/tail perplexity partition — q260's
    // scores, quantile_cont terciles, pinned CASE tie precedence
    "q267_perplexity_buckets" -> graft.llm.MixPlan.knPerplexityBucketsSql,
    // q268: the trim measured against frozen strata — pre/post bucket
    // transition matrix under q266's keep rule and q267's terciles
    "q268_trim_bucket_shift" -> graft.llm.MixPlan.trimBucketShiftSql,
    // q269: the trim fed BACK into the planner — per-source post-trim
    // token totals (q266's keep rule) through q166's water-filling
    "q269_trim_aware_mix" -> graft.llm.MixPlan.trimAwareMixSql,
    // q270: q192's temperature flattening over the same post-trim
    // totals — the sampling-rate half of the trim-aware planner pair
    "q270_trim_aware_temperature" -> graft.llm.MixPlan.trimAwareTemperatureSql,
    // q239: join-skew pre-flight — top-10 hottest user_id values with
    // load-vs-even and share in exact ppm; the oracle's window form of
    // the bounded heap
    "q239_join_skew_audit" ->
      """WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM events GROUP BY user_id),
        |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys FROM c),
        |r AS (SELECT user_id, n_rows,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id)
        |      AS BIGINT) AS rnk FROM c)
        |SELECT rnk, user_id, n_rows, total_rows, n_keys,
        |  (1000000 * n_rows * n_keys) // total_rows AS load_vs_even_ppm,
        |  (1000000 * n_rows) // total_rows AS share_ppm
        |FROM r CROSS JOIN t WHERE rnk <= 10 ORDER BY rnk""".stripMargin,
    // q240: near-dup threshold sweep — pairs surviving and docs the
    // drop-higher-member policy removes per dyadic Jaccard threshold
    "q240_dedup_threshold_curve" ->
      s"""WITH $minhashPairsCtes,
        |g AS (SELECT unnest([0.5, 0.5625, 0.625, 0.6875, 0.75, 0.8125,
        |                     0.875, 0.9375, 1.0]) AS threshold),
        |f AS (SELECT g.threshold, n.id_b
        |      FROM neardup n JOIN g ON n.jaccard >= g.threshold)
        |SELECT threshold,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT id_b) AS BIGINT) AS n_dropped,
        |  (1000000 * CAST(COUNT(DISTINCT id_b) AS BIGINT))
        |    // (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS dropped_ppm
        |FROM f GROUP BY threshold ORDER BY threshold""".stripMargin,
    // duplication trend: q32 pairs' higher members bucketed by id-range
    // decile; dup_ppm = flagged share of each decile's docs
    "q199_dup_trend" ->
      s"""WITH $minhashPairsCtes,
        |mx AS (SELECT MAX(doc_id) AS mx FROM documents),
        |fl AS (SELECT (id_b * 10) // (mx + 1) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(COUNT(DISTINCT id_b) AS BIGINT) AS n_flagged
        |  FROM neardup CROSS JOIN mx GROUP BY 1),
        |tot AS (SELECT (doc_id * 10) // (mx + 1) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents CROSS JOIN mx GROUP BY 1)
        |SELECT CAST(tot.bin AS BIGINT) AS bin, n_docs,
        |  COALESCE(n_pairs, 0) AS n_pairs,
        |  COALESCE(n_flagged, 0) AS n_flagged,
        |  CAST((1000000 * COALESCE(n_flagged, 0)) // n_docs AS BIGINT) AS dup_ppm
        |FROM tot LEFT JOIN fl ON tot.bin = fl.bin
        |ORDER BY bin""".stripMargin,
    // log-free Zipf diagnostic: r·f(r)/f(1) in integer ppm over the
    // per-source top-10 tokens
    "q198_zipf_deviation" ->
      """WITH sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n_sw
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents) t
        |  GROUP BY 1, 2),
        |top AS (SELECT source, w, n_sw,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |         ORDER BY n_sw DESC, w) AS BIGINT) AS rnk
        |  FROM sw),
        |t10 AS (SELECT * FROM top WHERE rnk <= 10),
        |f1 AS (SELECT source AS s2, n_sw AS f1 FROM t10 WHERE rnk = 1)
        |SELECT source, rnk, w, n_sw, rnk * n_sw AS rf,
        |  CAST((1000000 * rnk * n_sw) // f1 AS BIGINT) AS zipf_ppm
        |FROM t10 JOIN f1 ON t10.source = f1.s2
        |ORDER BY source, rnk""".stripMargin,
    // uint8-codec recall: the q93 quantizer re-emitted as vectors,
    // then the q194 two-pipeline recall join
    "q197_quant_recall" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb, n2 AS q_n2 FROM e
        |      WHERE vec_id % 20 = 0 AND vec_id < 5120),
        |s_ex AS (SELECT q_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> q_emb[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |      / (sqrt(q_n2) * sqrt(e.n2)) AS sim
        |  FROM q, e WHERE e.vec_id <> q_id),
        |r_ex AS (SELECT q_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |         ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s_ex),
        |x AS (SELECT vec_id, i - 1 AS dim, embedding[i]::DOUBLE AS v
        |  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u),
        |st AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM x GROUP BY 1),
        |qvals AS (SELECT x.vec_id, x.dim,
        |    floor((CASE WHEN st.mx = st.mn THEN 0.0
        |                ELSE (x.v - st.mn) / (st.mx - st.mn) END)
        |          * 255.0 + 0.5) AS qv
        |  FROM x JOIN st USING (dim)),
        |e2 AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> embedding[i] * embedding[i])) AS n2
        |  FROM (SELECT vec_id, list(qv ORDER BY dim) AS embedding
        |        FROM qvals GROUP BY vec_id) qe),
        |q2 AS (SELECT vec_id AS q_id, embedding AS q_emb, n2 AS q_n2 FROM e2
        |      WHERE vec_id % 20 = 0 AND vec_id < 5120),
        |s_tr AS (SELECT q_id, e2.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(e2.embedding) + 1),
        |      i -> q_emb[i] * e2.embedding[i]))
        |      / (sqrt(q_n2) * sqrt(e2.n2)) AS sim
        |  FROM q2, e2 WHERE e2.vec_id <> q_id),
        |r_tr AS (SELECT q_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |         ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s_tr)
        |SELECT t.q_id, t.n_exact, COALESCE(h.n_hit, 0) AS n_hit,
        |       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(t.n_exact AS DOUBLE)
        |         AS recall
        |FROM (SELECT q_id, COUNT(*) AS n_exact FROM r_ex
        |      WHERE rnk <= 5 GROUP BY 1) t
        |LEFT JOIN (SELECT x.q_id, COUNT(*) AS n_hit
        |           FROM (SELECT q_id, neighbor_id FROM r_ex WHERE rnk <= 5) x
        |           JOIN (SELECT q_id, neighbor_id FROM r_tr WHERE rnk <= 5) a
        |             USING (q_id, neighbor_id)
        |           GROUP BY 1) h
        |  ON t.q_id = h.q_id
        |ORDER BY t.q_id""".stripMargin,
    // context-length sweep: ONE running sum, pack ids per budget are
    // row-local divs; fill_ppm = exact integer capacity utilization
    "q195_pack_efficiency" ->
      """WITH base AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    doc_id // 1000000 AS shard
        |  FROM documents),
        |c AS (SELECT source, shard, doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM base),
        |lanes AS (SELECT b.budget, source, shard, n_tokens,
        |    (cum - n_tokens) // b.budget AS pack_id
        |  FROM c CROSS JOIN (SELECT unnest([128, 256, 512]) AS budget) b),
        |per_shard AS (SELECT budget, source, shard,
        |    CAST(MAX(pack_id) + 1 AS BIGINT) AS packs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS toks
        |  FROM lanes GROUP BY budget, source, shard)
        |SELECT CAST(budget AS BIGINT) AS budget,
        |  CAST(SUM(packs) AS BIGINT) AS n_packs,
        |  CAST(SUM(toks) AS BIGINT) AS total_tokens,
        |  CAST(SUM(packs) * budget AS BIGINT) AS capacity,
        |  CAST((1000000 * SUM(toks)) // (SUM(packs) * budget) AS BIGINT) AS fill_ppm
        |FROM per_shard GROUP BY budget ORDER BY budget""".stripMargin,
    "q152_vocab_growth" ->
      """WITH r AS (SELECT doc_id, source,
        |    CAST(NTILE(10) OVER (PARTITION BY source ORDER BY doc_id)
        |      AS BIGINT) AS decile
        |  FROM documents),
        |tok AS (SELECT source, md5(tok) AS h, MIN(doc_id) AS first_doc
        |        FROM (SELECT source, doc_id,
        |                unnest(string_split(text, ' ')) AS tok
        |              FROM documents) u
        |        GROUP BY 1, 2),
        |fd AS (SELECT t.source, r.decile
        |       FROM tok t JOIN r ON r.doc_id = t.first_doc
        |         AND r.source = t.source),
        |d AS (SELECT source, decile, COUNT(*) AS new_tokens
        |      FROM fd GROUP BY 1, 2)
        |SELECT source, decile, new_tokens,
        |  CAST(SUM(new_tokens) OVER (PARTITION BY source ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_vocab
        |FROM d ORDER BY source, decile""".stripMargin,
    "q153_freq_spectrum" ->
      """WITH c AS (SELECT source, md5(tok) AS h, COUNT(*) AS freq
        |           FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |                 FROM documents) u
        |           GROUP BY 1, 2)
        |SELECT source, freq, COUNT(*) AS n_tokens
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q34_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb, n2 AS q_n2
        |      FROM e WHERE vec_id % 20 = 0 AND vec_id < 5120),
        |s AS (SELECT q_id, vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> q_emb[i]::DOUBLE * embedding[i]::DOUBLE))
        |      / (sqrt(q_n2) * sqrt(n2)) AS sim
        |  FROM q, e WHERE vec_id <> q_id),
        |r AS (SELECT q_id, neighbor_id, sim,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |         ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s)
        |SELECT q_id, rnk, neighbor_id, sim FROM r
        |WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,
    "q35_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_sum(list_transform(range(1, len(a.embedding) + 1),
        |    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |    / (sqrt(a.n2) * sqrt(b.n2)) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id AND a.vec_id < 1000
        |WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
        |    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |    / (sqrt(a.n2) * sqrt(b.n2)) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,
    "q37_lang_id" ->
      s"""WITH $langPredCtes
        |SELECT doc_id, lang, pred, hits_en, hits_de, hits_es, hits_fr, hits_zh
        |FROM p ORDER BY doc_id""".stripMargin,
    "q38_quality_score" ->
      """WITH b AS (SELECT doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) AS BIGINT) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_stop,
        |  CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_word_len,
        |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
        |  (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5
        |    + (CAST(n_tokens AS DOUBLE) / 200.0) * 0.3
        |    + ((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 10.0) * 0.2 AS quality
        |FROM b ORDER BY doc_id""".stripMargin,
    "q39_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS alpha_runs,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS digit_runs,
        |  n_chars,
        |  CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q40_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(text) + 1),
        |      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q41_corpus_stats" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        |       COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact scaled-integer sums (2^48): order-independent in both
    // engines — see KMeans.labelCentroids
    "q61_label_centroids" ->
      """WITH x AS (
        |  SELECT CAST(label AS BIGINT) AS label, i - 1 AS dim,
        |         CAST(embedding[i]::DOUBLE * 281474976710656.0 AS HUGEINT) AS sv
        |  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
        |)
        |SELECT label, CAST(dim AS BIGINT) AS dim,
        |       CAST(SUM(sv) AS DOUBLE) / 281474976710656.0 / COUNT(*) AS value,
        |       COUNT(*) AS n_vectors
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q42_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  substr(text, 1, 12) AS prefix
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q63_kmeans" -> kmeansOracleSql(k = 8, iters = 3),
    // the exact columns replay directly; the booleans are the sketch
    // error-envelope contract — the oracle asserts they hold by
    // emitting literal TRUE, so sketch drift fails the hash gate.
    // Triage note for that gate: the envelopes are deliberately
    // generous (5-sigma HLL, ~50x percentile-rank margin), so a q53
    // failure on an engine upgrade means the sketch IMPLEMENTATION
    // drifted outside its documented error, not that this query
    // regressed — re-derive the envelope before touching the query
    "q53_approx_sketches" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |       quantile_cont(value, 0.5) AS exact_median,
        |       TRUE AS users_ok, TRUE AS median_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q84_min_cost_supplier" ->
      """SELECT DISTINCT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
        |       n.n_name, l.l_extendedprice AS min_price
        |FROM part p, supplier s, nation n, lineitem l
        |WHERE l.l_partkey = p.p_partkey AND l.l_suppkey = s.s_suppkey
        |  AND s.s_nationkey = n.n_nationkey
        |  AND l.l_extendedprice = (SELECT MIN(l2.l_extendedprice)
        |                           FROM lineitem l2
        |                           WHERE l2.l_partkey = p.p_partkey)
        |ORDER BY p.p_partkey, s.s_suppkey""".stripMargin,
    "q85_dominant_supplier" ->
      """SELECT s.s_suppkey, s.s_name FROM supplier s
        |WHERE s.s_suppkey IN (
        |  SELECT ps.l_suppkey FROM (
        |    SELECT l_partkey, l_suppkey,
        |           SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |    FROM lineitem GROUP BY l_partkey, l_suppkey) ps
        |  WHERE 20 * ps.qty > 3 * (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
        |                      FROM lineitem l2
        |                      WHERE l2.l_partkey = ps.l_partkey))
        |ORDER BY s.s_suppkey""".stripMargin,
    "q86_small_qty_revenue" ->
      """SELECT l.l_returnflag,
        |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS small_qty_revenue,
        |       COUNT(*) AS n_lines
        |FROM lineitem l
        |WHERE 5 * CAST(l.l_quantity AS DECIMAL(18,2)) *
        |      (SELECT COUNT(*) FROM lineitem l2
        |       WHERE l2.l_partkey = l.l_partkey)
        |    < (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(18,2)))
        |       FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey)
        |GROUP BY l.l_returnflag
        |ORDER BY l.l_returnflag""".stripMargin,
    // the salted join is execution-strategy only: results are the plain
    // join's, which is exactly what the oracle replays
    "q87_salted_join" ->
      """SELECT c.c_mktsegment, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q88_bigram_stats" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
        |      FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) u),
        |c AS (SELECT w1, w2, COUNT(*) AS n_bigram FROM b GROUP BY 1, 2),
        |f AS (SELECT w1, CAST(SUM(n_bigram) AS BIGINT) AS n_first FROM c GROUP BY 1)
        |SELECT c.w1, c.w2, c.n_bigram, f.n_first,
        |       c.n_bigram::DOUBLE / f.n_first AS p
        |FROM c JOIN f USING (w1) WHERE c.n_bigram >= 20
        |ORDER BY c.w1, c.w2""".stripMargin,
    "q89_sequence_packing" ->
      """WITH d AS (SELECT source, doc_id, doc_id // 1000000 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT source, shard, doc_id, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id) AS cum
        |  FROM d)
        |SELECT source, shard, CAST((cum - n_tokens) // 256 AS BIGINT) AS pack_id,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q90_repetition_ratio" ->
      """WITH b AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) w,
        |  LATERAL (SELECT unnest(range(1, len(ws))) AS i) u),
        |c AS (SELECT doc_id, bg, COUNT(*) AS n FROM b GROUP BY 1, 2),
        |r AS (SELECT doc_id, bg, n,
        |    CAST(SUM(n) OVER (PARTITION BY doc_id) AS BIGINT) AS total,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, bg) AS rnk
        |  FROM c)
        |SELECT doc_id, bg AS top_bigram, n AS top_count, total AS n_bigrams,
        |       n::DOUBLE / total AS rep_ratio
        |FROM r WHERE rnk = 1 ORDER BY doc_id""".stripMargin,
    "q91_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM t, LATERAL (
        |  SELECT unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s) u),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5)
        |SELECT sh.doc_id, COUNT(*) AS n_overlap
        |FROM sh JOIN ev USING (s) WHERE sh.doc_id >= 5
        |GROUP BY 1 HAVING COUNT(*) >= 3 ORDER BY 1""".stripMargin,
    "q92_dataset_split" ->
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
        |            THEN 'train'
        |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333'
        |            THEN 'val' ELSE 'test' END AS split,
        |       COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q93_quantize_embeddings" ->
      """WITH x AS (SELECT vec_id, i - 1 AS dim, embedding[i]::DOUBLE AS v
        |  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u),
        |st AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM x GROUP BY 1),
        |q AS (SELECT x.vec_id,
        |    CAST(floor((CASE WHEN st.mx = st.mn THEN 0.0
        |                     ELSE (x.v - st.mn) / (st.mx - st.mn) END)
        |         * 255.0 + 0.5) AS BIGINT) AS qv
        |  FROM x JOIN st USING (dim))
        |SELECT vec_id, CAST(SUM(qv) AS BIGINT) AS q_sum,
        |       MIN(qv) AS q_min, MAX(qv) AS q_max
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,
    "q94_topk_per_key" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |         l_extendedprice,
        |         row_number() OVER (PARTITION BY l_suppkey
        |           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) t
        |WHERE rn <= 3
        |ORDER BY l_suppkey, l_extendedprice DESC, l_orderkey, l_linenumber""".stripMargin,
    "q95_repeated_passages" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |        w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
        |          AS passage
        |      FROM t, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) u
        |      WHERE len(w) >= 5)
        |SELECT passage, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM g GROUP BY 1
        |HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, passage LIMIT 100""".stripMargin,
    "q96_source_profile" ->
      """SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       quantile_cont(n_chars, 0.25) AS p25_chars,
        |       quantile_cont(n_chars, 0.5)  AS p50_chars,
        |       quantile_cont(n_chars, 0.75) AS p75_chars,
        |       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q97_oov_rate" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |v AS (SELECT tok, 1 AS in_vocab FROM (
        |        SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1
        |        ORDER BY n DESC, tok LIMIT 20) h)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |       CAST(SUM(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_oov,
        |       CAST(SUM(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |         / COUNT(*) AS oov_rate
        |FROM toks LEFT JOIN v USING (tok)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q98_redact" ->
      """SELECT event_id, event_type, props,
        |       regexp_replace(props, '[0-9]+', '#', 'g') AS scrubbed,
        |       length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))
        |         AS n_digits,
        |       length(regexp_replace(props, '[0-9]+', '#', 'g'))
        |         - length(regexp_replace(props, '[0-9]+', '', 'g')) AS n_runs
        |FROM events ORDER BY event_id""".stripMargin,
    "q99_idle_customers" ->
      """SELECT n.n_name, COUNT(*) AS n_cust,
        |       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2)))
        |                                AS DOUBLE) / COUNT(*)
        |                     FROM customer c2 WHERE c2.c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 400000.0)
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,
    // hex2int of the first 6 md5 chars (list_reduce fold — DuckDB has no
    // conv()); the salt:key concat matches Sketches.md5Bucket exactly.
    "q103_countmin" ->
      """WITH ev AS (SELECT user_id FROM events),
        |h AS (SELECT unnest(range(0, 4)) AS r),
        |ub AS (SELECT DISTINCT user_id, r,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 7),
        |        i -> CAST(strpos('0123456789abcdef',
        |               substr(md5(r || ':' || user_id), i, 1)) - 1 AS BIGINT))),
        |      (a, b) -> a * 16 + b) % 256 AS bucket
        |  FROM ev, h),
        |sketch AS (SELECT x.r, x.bucket, COUNT(*) AS c
        |  FROM (SELECT e.user_id, u.r, u.bucket
        |        FROM ev e JOIN ub u ON u.user_id = e.user_id) x
        |  GROUP BY 1, 2),
        |top AS (SELECT user_id, COUNT(*) AS exact_n FROM ev GROUP BY 1
        |        ORDER BY exact_n DESC, user_id LIMIT 16)
        |SELECT t.user_id, t.exact_n, MIN(s.c) AS cms_est,
        |       (MIN(s.c) >= t.exact_n) AS no_undercount
        |FROM top t JOIN ub u ON u.user_id = t.user_id
        |JOIN sketch s ON s.r = u.r AND s.bucket = u.bucket
        |GROUP BY t.user_id, t.exact_n
        |ORDER BY t.exact_n DESC, t.user_id""".stripMargin,
    "q104_bloom_join" ->
      """WITH bk AS (SELECT DISTINCT o_custkey AS key FROM orders
        |            WHERE o_totalprice > 200000.0),
        |h AS (SELECT unnest(range(0, 3)) AS h),
        |bits AS (SELECT DISTINCT
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 7),
        |        i -> CAST(strpos('0123456789abcdef',
        |               substr(md5(h || ':' || key), i, 1)) - 1 AS BIGINT))),
        |      (a, b) -> a * 16 + b) % 8192 AS pos
        |  FROM bk, h),
        |cust AS (SELECT c_custkey AS key, c_mktsegment FROM customer),
        |probe AS (SELECT key, c_mktsegment, h,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 7),
        |        i -> CAST(strpos('0123456789abcdef',
        |               substr(md5(h || ':' || key), i, 1)) - 1 AS BIGINT))),
        |      (a, b) -> a * 16 + b) % 8192 AS pos
        |  FROM cust, h),
        |cand AS (SELECT key, c_mktsegment FROM probe p
        |         WHERE EXISTS (SELECT 1 FROM bits b WHERE b.pos = p.pos)
        |         GROUP BY key, c_mktsegment HAVING COUNT(*) = 3),
        |ver AS (SELECT key, c_mktsegment FROM cand c
        |        WHERE EXISTS (SELECT 1 FROM bk WHERE bk.key = c.key)),
        |dct AS (SELECT key, c_mktsegment FROM cust c
        |        WHERE EXISTS (SELECT 1 FROM bk WHERE bk.key = c.key)),
        |sc AS (SELECT c_mktsegment, COUNT(*) AS n_customers FROM cust GROUP BY 1),
        |sa AS (SELECT c_mktsegment, COUNT(*) AS n FROM cand GROUP BY 1),
        |sv AS (SELECT c_mktsegment, COUNT(*) AS n FROM ver GROUP BY 1),
        |sd AS (SELECT c_mktsegment, COUNT(*) AS n FROM dct GROUP BY 1)
        |SELECT sc.c_mktsegment, sc.n_customers,
        |       COALESCE(sa.n, 0) AS n_candidates,
        |       COALESCE(sv.n, 0) AS n_members,
        |       COALESCE(sd.n, 0) AS n_direct,
        |       COALESCE(sa.n, 0) - COALESCE(sv.n, 0) AS n_false_pos,
        |       (COALESCE(sv.n, 0) = COALESCE(sd.n, 0)) AS no_false_negatives
        |FROM sc LEFT JOIN sa USING (c_mktsegment)
        |LEFT JOIN sv USING (c_mktsegment)
        |LEFT JOIN sd USING (c_mktsegment)
        |ORDER BY sc.c_mktsegment""".stripMargin,
    "q105_pmi" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |toks AS (SELECT unnest(ws) AS w FROM w),
        |uni AS (SELECT w, COUNT(*) AS n_w FROM toks GROUP BY 1),
        |tot1 AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n1 FROM uni),
        |b AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
        |      FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) u),
        |bi AS (SELECT w1, w2, COUNT(*) AS n_xy FROM b GROUP BY 1, 2),
        |tot2 AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n2 FROM bi)
        |SELECT w1, w2, n_xy, ux.n_w AS n_x, uy.n_w AS n_y,
        |       CAST(n_xy AS DOUBLE) * n1 * n1
        |         / (CAST(n2 AS DOUBLE) * ux.n_w * uy.n_w) AS pmi_ratio
        |FROM bi JOIN uni ux ON bi.w1 = ux.w
        |JOIN uni uy ON bi.w2 = uy.w, tot1, tot2
        |WHERE n_xy >= 10
        |ORDER BY pmi_ratio DESC, w1, w2 LIMIT 200""".stripMargin,
    "q106_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
        |           FROM events),
        |c AS (SELECT *, LAG(event_type) OVER (
        |        PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_type
        |      FROM e),
        |k AS (SELECT user_id, event_type, ts_ms, event_id FROM c
        |      WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id,
        |       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
        |       event_type, ts_ms AS valid_from_ms,
        |       LEAD(ts_ms) OVER w - 1 AS valid_to_ms
        |FROM k WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "q107_window_zscore" ->
      """WITH e AS (SELECT event_id, event_type, value, epoch_ms(ts) AS ts_ms,
        |             CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |w AS (SELECT event_id, event_type, ts_ms, value, v,
        |        COUNT(*) OVER f AS n,
        |        CAST(SUM(v) OVER f AS DECIMAL(38,2)) AS s1,
        |        CAST(SUM(v * v) OVER f AS DECIMAL(38,4)) AS s2
        |      FROM e WINDOW f AS (PARTITION BY event_type ORDER BY ts_ms, event_id
        |                          ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)),
        |m AS (SELECT *, CAST(s1 AS DOUBLE) / n AS mean,
        |        (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
        |          / (n - 1) AS variance
        |      FROM w WHERE n >= 30)
        |SELECT event_id, event_type, ts_ms, value,
        |       (CAST(v AS DOUBLE) - mean) / sqrt(variance) AS z
        |FROM m WHERE variance > 0.0
        |  AND abs((CAST(v AS DOUBLE) - mean) / sqrt(variance)) > 2.5
        |ORDER BY event_id""".stripMargin,
    "q108_random_projection" -> {
      val cols = (0 until 8).map { i =>
        s"""  list_sum(list_transform(range(1, len(embedding) + 1),
           |    j -> (CASE WHEN strpos('02468ace', substr(md5('proj$i:' || j), 1, 1)) > 0
           |          THEN 1.0 ELSE -1.0 END) * embedding[j]::DOUBLE)) AS p$i""".stripMargin
      }.mkString(",\n")
      s"""SELECT vec_id,
         |$cols
         |FROM embeddings ORDER BY vec_id""".stripMargin
    },
    "q109_containment" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM t, LATERAL (
        |  SELECT unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s) u),
        |es AS (SELECT doc_id, s FROM sh WHERE doc_id % 100 < 2),
        |cs AS (SELECT s FROM sh WHERE doc_id % 100 >= 2),
        |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM es GROUP BY 1),
        |com AS (SELECT doc_id, COUNT(*) AS n_common FROM es
        |        WHERE EXISTS (SELECT 1 FROM cs WHERE cs.s = es.s) GROUP BY 1)
        |SELECT tot.doc_id, tot.n_shingles,
        |       COALESCE(com.n_common, 0) AS n_common,
        |       CAST(COALESCE(com.n_common, 0) AS DOUBLE) / tot.n_shingles
        |         AS containment
        |FROM tot LEFT JOIN com USING (doc_id) ORDER BY tot.doc_id""".stripMargin,
    // the KLL booleans are theorems under any layout (see
    // Sketches.kllQuantiles); exact quantiles replay via quantile_cont
    "q111_kll_quantiles" ->
      """SELECT event_type, COUNT(value) AS n,
        |       quantile_cont(value, 0.25) AS p25,
        |       quantile_cont(value, 0.5)  AS p50,
        |       quantile_cont(value, 0.75) AS p75,
        |       TRUE AS sketch_n_ok, TRUE AS p25_ok,
        |       TRUE AS p50_ok, TRUE AS p75_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q112_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
        |v AS (SELECT user_id, MIN(ts_ms) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts_ms) AS t_click
        |      FROM e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts_ms > v.t_view GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.ts_ms) AS t_purchase
        |      FROM e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts_ms > c.t_click GROUP BY 1)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY v.user_id""".stripMargin,
    "q113_retention" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
        |ch AS (SELECT user_id, MIN(ts_ms) // 604800000 AS cohort_week
        |       FROM e GROUP BY 1),
        |cells AS (SELECT cohort_week, "offset", COUNT(*) AS n_active FROM (
        |    SELECT DISTINCT e.user_id, ch.cohort_week,
        |           e.ts_ms // 604800000 - ch.cohort_week AS "offset"
        |    FROM e JOIN ch USING (user_id)) d GROUP BY 1, 2),
        |sz AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM ch GROUP BY 1)
        |SELECT c.cohort_week, c."offset", c.n_active, sz.cohort_size,
        |       CAST(c.n_active AS DOUBLE) / sz.cohort_size AS retention
        |FROM cells c JOIN sz USING (cohort_week)
        |ORDER BY c.cohort_week, c."offset"""".stripMargin,
    "q114_unpivot" ->
      """WITH a AS (SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        |  FROM lineitem GROUP BY 1)
        |SELECT * FROM (
        |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM a
        |  UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM a
        |  UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM a) u
        |ORDER BY l_returnflag, metric""".stripMargin,
    "q115_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
        |           FROM events),
        |s AS (SELECT event_type, LEAD(event_type) OVER (
        |        PARTITION BY user_id ORDER BY ts_ms, event_id) AS next_type
        |      FROM e),
        |pr AS (SELECT event_type, next_type, COUNT(*) AS n FROM s
        |       WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |fr AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_from
        |       FROM pr GROUP BY 1)
        |SELECT pr.event_type, pr.next_type, pr.n, fr.n_from,
        |       CAST(pr.n AS DOUBLE) / fr.n_from AS p
        |FROM pr JOIN fr USING (event_type)
        |ORDER BY pr.event_type, pr.next_type""".stripMargin,
    // analytic twin of the byte-level encode→decode→frame-sample path:
    // n_bytes = text bytes + 9-byte header; frames = (n_bytes-1)//16 + 1
    "q125_media_manifest" ->
      """SELECT CASE CAST(doc_id % 3 AS INTEGER)
        |         WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |       COUNT(*) AS n_assets,
        |       CAST(SUM(octet_length(CAST(text AS BLOB)) + 9) AS BIGINT)
        |         AS total_bytes,
        |       CAST(MIN(64 + doc_id % 512) AS INTEGER) AS min_w,
        |       CAST(MAX(64 + doc_id % 256) AS INTEGER) AS max_h,
        |       COUNT(*) AS n_valid,
        |       CAST(SUM((octet_length(CAST(text AS BLOB)) + 9 - 1) // 16 + 1)
        |            AS BIGINT) AS total_frames
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q53-style gating: oracle emits the exact column + literal TRUE
    "q129_approx_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |       TRUE AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q130_weighted_sample" ->
      """WITH t AS (SELECT doc_id, n_chars,
        |             GREATEST(n_chars // 100, 1) AS tickets FROM documents),
        |x AS (SELECT doc_id, n_chars, tickets,
        |        MIN(md5(doc_id || ':' || tk)) AS draw
        |      FROM t, LATERAL (SELECT unnest(range(1, tickets + 1)) AS tk) u
        |      GROUP BY 1, 2, 3)
        |SELECT doc_id, n_chars, tickets, draw FROM x
        |ORDER BY draw, doc_id LIMIT 50""".stripMargin,
    // — round 6: curation + relational depth —
    "q132_rerank" -> rerankOracleSql(
      bits = graft.llm.Curation.RerankCoarseBits,
      depth = graft.llm.Curation.RerankDepth, k = 5),
    "q133_cross_source_neardup" ->
      s"""WITH $minhashPairsCtes
        |SELECT least(da.source, db.source) AS source_a,
        |       greatest(da.source, db.source) AS source_b,
        |       COUNT(*) AS n_pairs,
        |       MIN(jaccard) AS min_jaccard, MAX(jaccard) AS max_jaccard
        |FROM neardup p
        |JOIN documents da ON p.id_a = da.doc_id
        |JOIN documents db ON p.id_b = db.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q134_equidepth_hist" ->
      s"""SELECT bucket, COUNT(*) AS n_orders,
        |       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM (SELECT o_totalprice,
        |        CAST(ntile(${graft.ops.Relational6.HistBuckets}) OVER (
        |          ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bucket
        |      FROM orders) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q135_mad_outliers" ->
      s"""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |             FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, e.value, m.med,
        |        abs(e.value - m.med) AS adev
        |      FROM events e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |        FROM d GROUP BY 1)
        |SELECT d.event_type, COUNT(value) AS n,
        |       MAX(d.med) AS med, MAX(mad.mad) AS mad,
        |       CAST(SUM(CASE WHEN adev > ${graft.ops.Relational6.MadK} * mad.mad
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q136_basket_pairs" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |freq AS (SELECT l_partkey, COUNT(*) AS supp FROM li GROUP BY 1
        |         HAVING COUNT(*) >= ${graft.ops.Relational6.BasketMinSupport}),
        |pruned AS (SELECT * FROM li
        |           WHERE l_partkey IN (SELECT l_partkey FROM freq)),
        |tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
        |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |        COUNT(*) AS n_both
        |      FROM pruned a JOIN pruned b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2)
        |SELECT part_a, part_b, CAST(n_both AS BIGINT) AS n_both,
        |       fa.supp AS n_a, fb.supp AS n_b,
        |       CAST(n_both AS DOUBLE) * t.n_orders / (fa.supp * fb.supp) AS lift
        |FROM p JOIN freq fa ON part_a = fa.l_partkey
        |JOIN freq fb ON part_b = fb.l_partkey, tot t
        |ORDER BY n_both DESC, part_a, part_b LIMIT 50""".stripMargin,
    "q137_horizon_dedup" ->
      s"""WITH e AS (SELECT user_id, event_type, event_id,
        |             epoch_ms(ts) AS ts_ms FROM events),
        |k AS (SELECT *, ts_ms // ${86400000L * graft.llm.Curation.HorizonDays}
        |        AS day FROM e),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY user_id, event_type, day
        |        ORDER BY ts_ms, event_id) AS rn FROM k)
        |SELECT t.event_type, t.n_total, kept.n_kept,
        |       t.n_total - kept.n_kept AS n_dropped
        |FROM (SELECT event_type, COUNT(*) AS n_total FROM e GROUP BY 1) t
        |JOIN (SELECT event_type, COUNT(*) AS n_kept FROM r
        |      WHERE rn = 1 GROUP BY 1) kept USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q138_quantile_normalize" ->
      """SELECT doc_id, source, n_chars, pr,
        |       CAST(least(floor(pr * 10.0), 9.0) AS BIGINT) AS decile
        |FROM (SELECT doc_id, source, n_chars,
        |        percent_rank() OVER (PARTITION BY source
        |          ORDER BY n_chars, doc_id) AS pr
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "q139_token_budget_bins" ->
      s"""WITH d AS (SELECT doc_id, n_chars,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT *, COALESCE(SUM(n_tokens) OVER (
        |        ORDER BY n_chars DESC, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS cum_before FROM d)
        |SELECT CAST(cum_before // ${graft.llm.Curation.BinTokenBudget} AS BIGINT)
        |         AS bin,
        |       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q140_order_concurrency" ->
      """WITH span AS (SELECT l_orderkey, MAX(epoch_ms(l_shipdate)) AS end_ms
        |              FROM lineitem GROUP BY 1),
        |o AS (SELECT o_orderpriority, o_orderkey,
        |        epoch_ms(o_orderdate) AS start_ms, end_ms
        |      FROM orders JOIN span ON o_orderkey = l_orderkey),
        |d AS (SELECT o_orderpriority, o_orderkey, start_ms AS ts,
        |        CAST(1 AS BIGINT) AS delta FROM o
        |      UNION ALL
        |      SELECT o_orderpriority, o_orderkey, end_ms + 1,
        |        CAST(-1 AS BIGINT) FROM o),
        |c AS (SELECT *, SUM(delta) OVER (PARTITION BY o_orderpriority
        |        ORDER BY ts, delta DESC, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |      FROM d)
        |SELECT o_orderpriority, CAST(MAX(conc) AS BIGINT) AS max_concurrent,
        |       CAST(COUNT(*) / 2 AS BIGINT) AS n_orders
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q141_path_trigrams" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             epoch_ms(ts) AS ts_ms FROM events),
        |t AS (SELECT event_type AS t1,
        |        lead(event_type, 1) OVER (PARTITION BY user_id
        |          ORDER BY ts_ms, event_id) AS t2,
        |        lead(event_type, 2) OVER (PARTITION BY user_id
        |          ORDER BY ts_ms, event_id) AS t3
        |      FROM e)
        |SELECT t1, t2, t3, COUNT(*) AS n_paths FROM t
        |WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n_paths DESC, t1, t2, t3 LIMIT 25""".stripMargin,
    "q142_lang_confusion" ->
      s"""WITH $langPredCtes,
        |conf AS (SELECT lang, pred, COUNT(*) AS n FROM p GROUP BY 1, 2),
        |tot AS (SELECT lang, COUNT(*) AS n_lang FROM p GROUP BY 1)
        |SELECT conf.lang, pred, n, n_lang,
        |       CAST(n AS DOUBLE) / n_lang AS share
        |FROM conf JOIN tot USING (lang)
        |ORDER BY conf.lang, pred""".stripMargin,
    "q143_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, ci, ci * 24 + 1 AS start, w FROM t, LATERAL (
        |        SELECT unnest(range(0, (len(w) - 1) // 24 + 1)) AS ci) u),
        |ch AS (SELECT doc_id,
        |         md5(array_to_string(list_slice(w, start, start + 31), ' ')) AS h
        |       FROM c),
        |spread AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM ch GROUP BY 1)
        |SELECT source, COUNT(*) AS n_chunks,
        |       CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_chunks,
        |       CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / COUNT(*) AS dup_ratio
        |FROM ch JOIN spread USING (h) JOIN documents USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q144_shingle_novelty" ->
      s"""WITH $shingleCtes,
        |j AS (SELECT source, md5(s) AS hs FROM sh JOIN documents USING (doc_id)),
        |slots AS (SELECT source, COUNT(*) AS n_slots FROM j GROUP BY 1),
        |uniq AS (SELECT source, COUNT(*) AS n_distinct
        |         FROM (SELECT DISTINCT source, hs FROM j) d GROUP BY 1)
        |SELECT source, n_slots, n_distinct,
        |       1.0 - CAST(n_distinct AS DOUBLE) / n_slots AS dup_ratio
        |FROM slots JOIN uniq USING (source) ORDER BY source""".stripMargin,
    "q146_source_quantiles" ->
      """SELECT source,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.50) AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q147_nucleus_vocab" ->
      """WITH c AS (SELECT source, tok, COUNT(*) AS cnt
        |           FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |                 FROM documents) u
        |           GROUP BY 1, 2),
        |t AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS total FROM c GROUP BY 1),
        |r AS (SELECT c.source, cnt, total,
        |        CAST(COALESCE(SUM(cnt) OVER (PARTITION BY c.source
        |          ORDER BY cnt DESC, tok
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |          AS cum_before
        |      FROM c JOIN t USING (source))
        |SELECT source, COUNT(*) AS n_vocab, CAST(SUM(cnt) AS BIGINT) AS n_covered,
        |       MAX(total) AS total,
        |       CAST(SUM(cnt) AS DOUBLE) / CAST(MAX(total) AS DOUBLE) AS coverage
        |FROM r
        |WHERE CAST(cum_before AS DOUBLE) < 0.9 * CAST(total AS DOUBLE)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q148_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |f AS (SELECT doc_id, w FROM t WHERE len(w) >= 5),
        |g AS (SELECT doc_id,
        |        md5(array_to_string(list_slice(w, i, i + 4), ' ')) AS h
        |      FROM f, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) u),
        |c AS (SELECT doc_id, h, COUNT(*) AS cnt FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
        |       COUNT(*) AS n_distinct, CAST(MAX(cnt) AS BIGINT) AS max_repeat,
        |       1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
        |         AS dup_ratio
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q145_dim_stats" ->
      """WITH x AS (SELECT u.i - 1 AS dim,
        |    embedding[u.i]::DOUBLE AS v,
        |    CAST(embedding[u.i]::DOUBLE * 281474976710656.0 AS HUGEINT) AS q
        |  FROM embeddings, LATERAL (
        |    SELECT unnest(range(1, len(embedding) + 1)) AS i) u)
        |SELECT CAST(dim AS BIGINT) AS dim, COUNT(*) AS n,
        |       MIN(v) AS mn, MAX(v) AS mx,
        |       CAST(SUM(q) AS DOUBLE) / 281474976710656.0 / COUNT(*) AS mean,
        |       CAST(SUM(q * q) AS DOUBLE) / 281474976710656.0 / 281474976710656.0
        |           / COUNT(*)
        |         - (CAST(SUM(q) AS DOUBLE) / 281474976710656.0 / COUNT(*))
        |           * (CAST(SUM(q) AS DOUBLE) / 281474976710656.0 / COUNT(*))
        |         AS variance
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin,
    "q131_regression" ->
      """WITH e AS (SELECT event_type,
        |             (epoch_ms(ts) - 1704067200000) // 1000 AS x,
        |             CAST(value AS DECIMAL(18,2)) AS y FROM events),
        |m AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS sx,
        |        CAST(SUM(y) AS DOUBLE) AS sy_d,
        |        CAST(SUM(y * CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sxy_d,
        |        SUM(x * x) AS sxx
        |      FROM e GROUP BY 1),
        |s AS (SELECT event_type, n, sx, sy_d,
        |        (CAST(n AS DOUBLE) * sxy_d - CAST(sx AS DOUBLE) * sy_d)
        |          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
        |      FROM m)
        |SELECT event_type, n, slope,
        |       (sy_d - slope * CAST(sx AS DOUBLE)) / n AS intercept
        |FROM s ORDER BY event_type""".stripMargin,
    "q128_point_in_interval" ->
      """WITH e0 AS (SELECT user_id, event_id, event_type,
        |              epoch_ms(ts) AS ts_ms FROM events),
        |c AS (SELECT *, LAG(event_type) OVER (
        |        PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_type
        |      FROM e0),
        |k AS (SELECT user_id, event_type, ts_ms, event_id FROM c
        |      WHERE prev_type IS NULL OR prev_type <> event_type),
        |v AS (SELECT user_id,
        |        CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
        |        event_type, ts_ms AS valid_from_ms,
        |        LEAD(ts_ms) OVER w - 1 AS valid_to_ms
        |      FROM k WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |j AS (SELECT e.user_id, e.event_id, e.event_type AS e_type,
        |             v.event_type, v.version
        |      FROM e0 e JOIN v ON e.user_id = v.user_id
        |        AND e.ts_ms >= v.valid_from_ms
        |        AND e.ts_ms <= COALESCE(v.valid_to_ms, 9223372036854775807))
        |SELECT user_id, COUNT(*) AS n_matched,
        |       COUNT(DISTINCT event_id) AS n_events,
        |       CAST(SUM(CASE WHEN e_type = event_type THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_type_consistent,
        |       MAX(version) AS n_versions,
        |       (COUNT(*) = COUNT(DISTINCT event_id)
        |        AND CAST(SUM(CASE WHEN e_type = event_type THEN 1 ELSE 0 END)
        |                 AS BIGINT) = COUNT(*)) AS coverage_ok
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q126_gap_fill" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS observed
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, unnest(range(MIN(day), MAX(day) + 1)) AS day
        |  FROM daily GROUP BY user_id)
        |SELECT s.user_id, s.day, d.observed,
        |       LAST_VALUE(d.observed IGNORE NULLS) OVER (
        |         PARTITION BY s.user_id ORDER BY s.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM spine s LEFT JOIN daily d USING (user_id, day)
        |ORDER BY s.user_id, s.day""".stripMargin,
    "q127_filtered_aggs" ->
      """SELECT c.c_mktsegment,
        |  COUNT(*) AS n_orders,
        |  COUNT(*) FILTER (WHERE o.o_orderstatus = 'F') AS n_filled,
        |  COUNT(*) FILTER (WHERE o.o_totalprice > 200000.0) AS n_big,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
        |       FILTER (WHERE o.o_orderpriority = '1-URGENT') AS DOUBLE)
        |    AS urgent_revenue,
        |  COUNT(DISTINCT o.o_custkey) FILTER (WHERE o.o_totalprice > 200000.0)
        |    AS n_big_customers
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q121_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
        |           FROM events),
        |g AS (SELECT user_id, day,
        |        day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |      FROM d),
        |s AS (SELECT user_id, grp, COUNT(*) AS len, MIN(day) AS first_day
        |      FROM g GROUP BY 1, 2)
        |SELECT user_id, MAX(len) AS longest_streak, COUNT(*) AS n_streaks,
        |       MIN(first_day) AS first_day
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "q122_rolling_actives" ->
      """WITH d AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
        |           FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM d GROUP BY 1),
        |w AS (SELECT DISTINCT user_id, u.day FROM d, LATERAL (
        |        SELECT unnest(range(d.day, d.day + 7)) AS day) u),
        |r AS (SELECT day, COUNT(*) AS rolling7_users FROM w GROUP BY 1)
        |SELECT dau.day, dau.dau, r.rolling7_users
        |FROM dau JOIN r USING (day) ORDER BY dau.day""".stripMargin,
    "q123_region_share" ->
      """WITH n AS (SELECT r.r_name, na.n_name, COUNT(*) AS n_customers,
        |             SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS nation_bal
        |           FROM customer c
        |           JOIN nation na ON c.c_nationkey = na.n_nationkey
        |           JOIN region r ON na.n_regionkey = r.r_regionkey
        |           GROUP BY 1, 2)
        |SELECT r_name, n_name, n_customers,
        |       CAST(nation_bal AS DOUBLE) AS nation_bal,
        |       CAST(SUM(nation_bal) OVER (PARTITION BY r_name) AS DOUBLE)
        |         AS region_bal,
        |       CAST(nation_bal AS DOUBLE)
        |         / CAST(SUM(nation_bal) OVER (PARTITION BY r_name) AS DOUBLE)
        |         AS share
        |FROM n ORDER BY r_name, n_name""".stripMargin,
    "q124_dq_audit" ->
      """WITH o AS (SELECT 'orders' AS table_name, COUNT(*) AS n_rows,
        |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_keys,
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS null_fk,
        |    (SELECT COUNT(*) FROM orders ox
        |     WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                       WHERE c.c_custkey = ox.o_custkey)) AS orphan_fk,
        |    CAST(SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS range_viol
        |  FROM orders),
        |l AS (SELECT 'lineitem' AS table_name, COUNT(*) AS n_rows,
        |    COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS dup_keys,
        |    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS null_fk,
        |    (SELECT COUNT(*) FROM lineitem lx
        |     WHERE NOT EXISTS (SELECT 1 FROM orders ox
        |                       WHERE ox.o_orderkey = lx.l_orderkey)) AS orphan_fk,
        |    CAST(SUM(CASE WHEN l_quantity <= 0.0 OR l_discount < 0.0
        |                       OR l_discount > 1.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS range_viol
        |  FROM lineitem)
        |SELECT table_name, n_rows, dup_keys, null_fk, orphan_fk, range_viol,
        |       (dup_keys = 0 AND null_fk = 0 AND orphan_fk = 0
        |        AND range_viol = 0) AS passed
        |FROM (SELECT * FROM o UNION ALL SELECT * FROM l) u
        |ORDER BY table_name""".stripMargin,
    "q120_upsert" ->
      """SELECT c_custkey, c_name,
        |       CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
        |            ELSE c_acctbal END AS c_acctbal,
        |       c_mktsegment
        |FROM customer
        |WHERE NOT (c_custkey % 11 = 0 AND c_custkey % 7 <> 0)
        |ORDER BY c_custkey""".stripMargin,
    // oracle recomputes from scratch; the engine merges stored state +
    // delta partials — hash equality proves the merge is exact
    "q116_incremental_agg" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q117_winsorize" ->
      """WITH b AS (SELECT c_mktsegment,
        |             quantile_cont(c_acctbal, 0.05) AS p05,
        |             quantile_cont(c_acctbal, 0.95) AS p95
        |           FROM customer GROUP BY 1)
        |SELECT c.c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN c.c_acctbal < b.p05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_low,
        |  CAST(SUM(CASE WHEN c.c_acctbal > b.p95 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_high,
        |  MIN(b.p05) AS p05, MAX(b.p95) AS p95,
        |  CAST(SUM(CAST(LEAST(GREATEST(c.c_acctbal, b.p05), b.p95)
        |                AS DECIMAL(18,2))) AS DOUBLE) AS sum_winsorized
        |FROM customer c JOIN b USING (c_mktsegment)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q118_fuzzy_join" ->
      """SELECT a.p_brand, a.p_partkey AS key_a, b.p_partkey AS key_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |     AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY key_a, key_b""".stripMargin,
    "q119_bpe_tokens" ->
      """SELECT doc_id, n_chars,
        |       len(string_split(text, ' ')) AS n_ws_tokens,
        |       len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+'))
        |         AS n_bpe_tokens,
        |       CAST(n_chars AS DOUBLE)
        |         / NULLIF(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+')), 0)
        |         AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q110_stratified_sample" ->
      """WITH q AS (SELECT source, COUNT(*) AS n_src,
        |             (COUNT(*) + 9) // 10 AS quota
        |           FROM documents GROUP BY 1),
        |r AS (SELECT doc_id, source,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
        |      FROM documents)
        |SELECT r.doc_id, r.source, r.rk, q.quota
        |FROM r JOIN q USING (source)
        |WHERE r.rk <= q.quota ORDER BY r.doc_id""".stripMargin,
  )

  /**
   * DuckDB replay of [[graft.llm.KMeans.clusterStats]]: the identical
   * Lloyd's iterations as chained CTEs.
   *
   * Mirrors the Spark computation operation-for-operation so the final
   * integer cluster stats hash-match:
   *  - init `c0` = the k lowest stride-matching vec_ids, cid by
   *    ascending vec_id (the deterministic `orderBy.limit(k)` init);
   *  - each assignment `a{i}` ranks centroids per vector by
   *    `|v|² - 2 v·c + |c|²` with the same left-to-right double fold
   *    as [[graft.functions.DotProductD]]/[[graft.functions.DotProductFD]],
   *    ties broken on cid;
   *  - each update `c{i}` recomputes centroid means through the same
   *    2^48-scaled exact-integer sums (HUGEINT here ≡ Spark's
   *    DECIMAL(38,0) on exact addends — the q61 discipline), dividing
   *    `sum / 2^48 / n` in the same order;
   *  - the tail groups the final assignment into integer-only stats.
   */
  /**
   * DuckDB replay of [[graft.llm.Similarity.annLsh]]: the sign-bit
   * count is recomputed from COUNT(*) with the same pure-integer
   * comparison ladder as [[graft.llm.Similarity.lshBitsFor]] (no
   * floating log2 — `ln` differs across libm builds), the md5-derived
   * hyperplanes are regenerated in SQL, and only planes below the
   * corpus-dependent bit count contribute to the bucket key.
   */
  /** The q37 marker-lexicon language classifier as reusable CTEs ending
    * in `p` (doc_id, lang, pred, hits_*) — shared by q37 and q142's
    * confusion matrix. */
  private[graft] val langPredCtes: String =
    """h AS (SELECT doc_id, lang,
      |  CAST(len(list_filter(string_split(text, ' '),
      |    t -> t = 'the' OR t = 'a' OR t = 'value' OR t = 'fast')) AS BIGINT) AS hits_en,
      |  CAST(len(list_filter(string_split(text, ' '),
      |    t -> t = 'der' OR t = 'die' OR t = 'und' OR t = 'nicht')) AS BIGINT) AS hits_de,
      |  CAST(len(list_filter(string_split(text, ' '),
      |    t -> t = 'el' OR t = 'la' OR t = 'que' OR t = 'de')) AS BIGINT) AS hits_es,
      |  CAST(len(list_filter(string_split(text, ' '),
      |    t -> t = 'le' OR t = 'la' OR t = 'et' OR t = 'est')) AS BIGINT) AS hits_fr,
      |  CAST(len(list_filter(string_split(text, ' '),
      |    t -> t = 'de5' OR t = 'shi4' OR t = 'bu4' OR t = 'le5')) AS BIGINT) AS hits_zh
      |  FROM documents),
      |p AS (SELECT doc_id, lang,
      |  CASE
      |    WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
      |    WHEN hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
      |    WHEN hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
      |    WHEN hits_fr >= hits_zh THEN 'fr'
      |    ELSE 'zh' END AS pred,
      |  hits_en, hits_de, hits_es, hits_fr, hits_zh
      |FROM h)""".stripMargin

  /** The corpus shingle table (distinct 3-gram set per doc) as reusable
    * CTEs ending in `sh` (doc_id, s) — the head of the MinHash pipeline,
    * also consumed standalone by q144's novelty profile. */
  private[graft] val shingleCtes: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, s FROM t, LATERAL (
      |         SELECT unnest(list_transform(range(1, len(w) - 1),
      |                i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s) u)""".stripMargin

  /** The q32 MinHash-LSH pipeline as reusable CTEs ending in `neardup`
    * (id_a, id_b, jaccard ≥ 0.5) — shared by q32 itself and q133's
    * cross-source rollup. */
  /** The q185 allocation chain (toks → tot → s → e), shared by the
    * q185 oracle and the q241 materialized-order oracle so the two
    * cannot drift. */
  private[graft] val repeatEpochsCtes: String =
    """toks AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS corpus_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS n_sources FROM toks),
      |s AS (SELECT toks.*, (2 * corpus_tokens) // n_sources AS share
      |      FROM toks, tot),
      |e AS (SELECT *, LEAST(CAST(4000000 AS BIGINT),
      |        (1000000 * share) // tokens) AS epochs_ppm FROM s)""".stripMargin

  private[graft] val minhashPairsCtes: String =
    s"""$shingleCtes,
      |mh AS (SELECT doc_id, salt,
      |         MIN(substr(md5(CASE WHEN salt < 4 THEN 'a|' ELSE 'b|' END || s),
      |                    1 + 8 * (salt % 4), 8)) AS h
      |       FROM sh, (SELECT unnest(range(0, 8)) AS salt) salts
      |       GROUP BY 1, 2),
      |bands AS (SELECT doc_id, salt // 2 AS band,
      |            concat_ws(',', MIN(CASE WHEN salt % 2 = 0 THEN h END),
      |                           MIN(CASE WHEN salt % 2 = 1 THEN h END)) AS sig
      |          FROM mh GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |cm AS (SELECT id_a, id_b, COUNT(*) AS common
      |       FROM cand c JOIN sh x ON x.doc_id = c.id_a
      |       JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
      |       GROUP BY 1, 2),
      |neardup AS (SELECT id_a, id_b, jaccard FROM (
      |  SELECT id_a, id_b,
      |         CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
      |  FROM cm JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id) j
      |WHERE jaccard >= 0.5)""".stripMargin

  /** Connected components (min-label) over the `neardup` pair graph as
    * reusable CTEs ending in `cl` (doc_id, cluster) — the ONE labeling
    * statement shared by q72 and the split/weighting oracles
    * (q223/q224), which must agree bit-for-bit on cluster labels.
    * Requires `WITH RECURSIVE` and [[minhashPairsCtes]] upstream. */
  private[graft] val clusterCtes: String =
    """edges AS (SELECT id_a AS src, id_b AS dst FROM neardup
      |          UNION ALL SELECT id_b, id_a FROM neardup),
      |reach AS (SELECT DISTINCT src AS node, src AS lab FROM edges
      |          UNION
      |          SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
      |cl AS (SELECT node AS doc_id, MIN(lab) AS cluster FROM reach GROUP BY 1)""".stripMargin

  /** The per-source KMV sketch as reusable CTEs ending in `sh`
    * (source, h), `sk` (source, x) and `meta` (source, n_sk,
    * theta_raw) — the hex2int fold and min-k selection shared verbatim
    * by the q226/q227 sketch oracles. */
  private[graft] val kmvSketchCtes: String =
    """d AS (SELECT source, string_split(text, ' ') AS w FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT source,
      |         md5(concat_ws('_', w[i], w[i + 1], w[i + 2])) AS h
      |       FROM d, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) u),
      |kx AS (SELECT DISTINCT source,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, 9),
      |        i -> CAST(strpos('0123456789abcdef', substr(h, i, 1)) - 1 AS BIGINT))),
      |      (a, b) -> a * 16 + b) AS x
      |  FROM sh),
      |sk AS (SELECT source, x FROM (
      |         SELECT source, x,
      |           ROW_NUMBER() OVER (PARTITION BY source ORDER BY x) AS rn
      |         FROM kx) r WHERE rn <= 256),
      |meta AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sk,
      |           MAX(x) AS theta_raw FROM sk GROUP BY 1)""".stripMargin

  /**
   * DuckDB replay of [[graft.llm.Similarity.annRecall]]: the q36 CTE
   * family (adaptive bits, md5 planes, bucketed candidates) and the
   * q34 exact baseline in one statement, intersected per query.
   */
  private[graft] def annRecallOracleSql(k: Int): String = {
    val target = graft.llm.Similarity.TargetBucketWidth
    val maxBits = graft.llm.Similarity.MaxLshBits
    val qCap = 20L * graft.llm.Similarity.MaxBruteQueries
    val caseTerms = (8 until maxBits).map(j =>
      s"(CASE WHEN n > ${target.toLong << j} THEN 1 ELSE 0 END)")
      .mkString("\n        + ")
    s"""WITH nbits AS (SELECT 8
       |        + $caseTerms AS b
       |  FROM (SELECT COUNT(*) AS n FROM embeddings) t),
       |planes AS (SELECT p,
       |    list_transform(range(0, 64), d ->
       |      CAST((16 * (strpos('0123456789abcdef',
       |              substr(md5('plane' || p || '|' || d), 1, 1)) - 1)
       |        + strpos('0123456789abcdef',
       |              substr(md5('plane' || p || '|' || d), 2, 1)) - 1) - 128
       |        AS DOUBLE)) AS pl
       |  FROM (SELECT unnest(range(0, $maxBits)) AS p) t),
       |e AS (SELECT vec_id, embedding,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
       |  FROM embeddings),
       |bits AS (SELECT e.vec_id, p.p,
       |    CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
       |           i -> e.embedding[i]::DOUBLE * p.pl[i])) >= 0
       |         THEN CAST(pow(2, p.p) AS BIGINT) ELSE 0 END AS bit
       |  FROM e, planes p WHERE p.p < (SELECT b FROM nbits)),
       |keyed AS (SELECT e.vec_id, e.embedding, e.n2,
       |    (SELECT CAST(SUM(bit) AS BIGINT) FROM bits b
       |     WHERE b.vec_id = e.vec_id) AS bucket FROM e),
       |s_ann AS (SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, len(a.embedding) + 1),
       |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
       |      / (sqrt(a.n2) * sqrt(b.n2)) AS sim
       |  FROM keyed a JOIN keyed b
       |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id % 20 = 0 AND a.vec_id < $qCap),
       |r_ann AS (SELECT q_id, neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |         ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s_ann),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, n2 AS q_n2
       |      FROM e WHERE vec_id % 20 = 0 AND vec_id < $qCap),
       |s_ex AS (SELECT q_id, vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> q_emb[i]::DOUBLE * embedding[i]::DOUBLE))
       |      / (sqrt(q_n2) * sqrt(n2)) AS sim
       |  FROM q, e WHERE vec_id <> q_id),
       |r_ex AS (SELECT q_id, neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |         ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s_ex)
       |SELECT t.q_id, t.n_exact, COALESCE(h.n_hit, 0) AS n_hit,
       |       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(t.n_exact AS DOUBLE)
       |         AS recall
       |FROM (SELECT q_id, COUNT(*) AS n_exact FROM r_ex
       |      WHERE rnk <= $k GROUP BY 1) t
       |LEFT JOIN (SELECT x.q_id, COUNT(*) AS n_hit
       |           FROM (SELECT q_id, neighbor_id FROM r_ex WHERE rnk <= $k) x
       |           JOIN (SELECT q_id, neighbor_id FROM r_ann WHERE rnk <= $k) a
       |             USING (q_id, neighbor_id)
       |           GROUP BY 1) h
       |  ON t.q_id = h.q_id
       |ORDER BY t.q_id""".stripMargin
  }

  /**
   * DuckDB replay of [[graft.llm.Similarity.multiProbeRecall]]: the
   * plane family with raw per-plane dots, lowest-margin bit flips via
   * `xor`, the probe-bucket union, and the q34 exact baseline.
   */
  private[graft] def multiProbeRecallOracleSql(k: Int, probes: Int): String =
    multiProbeRecallSqlOver("", "embeddings", k, probes)

  /**
   * DuckDB replay of the planted-neighbor certification
   * ([[graft.llm.Similarity.plantedRecall]], q154): the q150
   * multi-probe statement run over the base corpus UNION the
   * md5-perturbed planted rows. The perturbation step is the dyadic
   * 2⁻¹⁴ — `(md5Byte − 128) / 16384` is exact in double in both
   * engines, so the planted float embeddings (and everything cosine
   * downstream) hash-match bit for bit. Index bits still size from
   * the BASE corpus count, matching the Spark side's footer read.
   */
  private[graft] def plantedRecallOracleSql(k: Int, probes: Int): String = {
    val qCap = 20L * graft.llm.Similarity.MaxBruteQueries
    val base = graft.llm.Similarity.PlantedBase
    val perAnchor = graft.llm.Similarity.PlantedPerAnchor
    def byte(key: String) =
      s"""(16 * (strpos('0123456789abcdef',
         |              substr(md5($key), 1, 1)) - 1)
         |        + strpos('0123456789abcdef',
         |              substr(md5($key), 2, 1)) - 1)""".stripMargin
    val k1 = byte("'plant|' || a.vec_id || '|' || j || '|' || (i - 1)")
    val corpusCtes =
      s"""anchors AS (SELECT vec_id, embedding FROM embeddings
         |            WHERE vec_id % 20 = 0 AND vec_id < $qCap),
         |planted AS (SELECT $base + a.vec_id * $perAnchor + j AS vec_id,
         |    list_transform(range(1, len(a.embedding) + 1), i ->
         |      CAST(a.embedding[i]::DOUBLE +
         |        CAST($k1 - 128 AS DOUBLE) / 16384 AS FLOAT)) AS embedding
         |  FROM anchors a, (SELECT unnest(range(0, $perAnchor)) AS j) js),
         |corpus AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL SELECT vec_id, embedding FROM planted),
         |""".stripMargin
    multiProbeRecallSqlOver(corpusCtes, "corpus", k, probes)
  }

  /** The q150 multi-probe recall statement, parameterized on the
    * corpus relation so q154 can run it over the planted union.
    * `nbits` always sizes from the BASE embeddings table — index
    * bits are build-time metadata derived from the base footer on the
    * Spark side in both callers. */
  private def multiProbeRecallSqlOver(corpusCtes: String, corpusRel: String,
      k: Int, probes: Int): String =
    multiProbeRankCtes(corpusCtes, corpusRel, probes) + s"""
       |SELECT t.q_id, t.n_exact, COALESCE(h.n_hit, 0) AS n_hit,
       |       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(t.n_exact AS DOUBLE)
       |         AS recall
       |FROM (SELECT q_id, COUNT(*) AS n_exact FROM r_ex
       |      WHERE rnk <= $k GROUP BY 1) t
       |LEFT JOIN (SELECT x.q_id, COUNT(*) AS n_hit
       |           FROM (SELECT q_id, neighbor_id FROM r_ex WHERE rnk <= $k) x
       |           JOIN (SELECT q_id, neighbor_id FROM r_ann WHERE rnk <= $k) a
       |             USING (q_id, neighbor_id)
       |           GROUP BY 1) h
       |  ON t.q_id = h.q_id
       |ORDER BY t.q_id""".stripMargin

  /** q219 — MRR of the multi-probe route: first-hit rank per query,
    * fixed-point micro reciprocal ranks, one integer-division mean. */
  private[graft] def annMrrOracleSql(k: Int, probes: Int): String =
    multiProbeRankCtes("", "embeddings", probes) + s""",
       |fh AS (SELECT a.q_id, MIN(a.rnk) AS first_hit_rank
       |  FROM (SELECT q_id, neighbor_id, rnk FROM r_ann WHERE rnk <= $k) a
       |  JOIN (SELECT q_id, neighbor_id FROM r_ex WHERE rnk <= $k) x
       |    USING (q_id, neighbor_id)
       |  GROUP BY 1),
       |qs AS (SELECT DISTINCT q_id FROM r_ex WHERE rnk <= $k)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       |  CAST(SUM(CASE WHEN first_hit_rank IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  CAST(SUM(CASE WHEN first_hit_rank = 1 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit_at_1,
       |  CAST(SUM(COALESCE(1000000 // first_hit_rank, 0)) AS BIGINT)
       |    // CAST(COUNT(*) AS BIGINT) AS mrr_micro
       |FROM qs LEFT JOIN fh USING (q_id)""".stripMargin

  /** q225 — NDCG@k of the multi-probe route: gain k+1−exact_rank,
    * position discounts as the SAME integer micro literals the Spark
    * side computes ([[graft.llm.Similarity.ndcgWeightsMicro]]) — no
    * floating-point log runs in either engine. */
  private[graft] def annNdcgOracleSql(k: Int, probes: Int): String = {
    val w = graft.llm.Similarity.ndcgWeightsMicro(k)
    def wCase(rnkCol: String): String =
      "CASE " + (1 to k).map(i => s"WHEN $rnkCol = $i THEN ${w(i - 1)}")
        .mkString(" ") + " ELSE 0 END"
    multiProbeRankCtes("", "embeddings", probes) + s""",
       |g AS (SELECT q_id, neighbor_id, ${k + 1} - rnk AS gain, rnk AS ex_rnk
       |      FROM r_ex WHERE rnk <= $k),
       |dcg AS (SELECT a.q_id,
       |    SUM(g.gain * ${wCase("a.rnk")}) AS dcg_micro
       |  FROM (SELECT q_id, neighbor_id, rnk FROM r_ann WHERE rnk <= $k) a
       |  JOIN g USING (q_id, neighbor_id) GROUP BY 1),
       |idcg AS (SELECT q_id, SUM(gain * ${wCase("ex_rnk")}) AS idcg_micro
       |  FROM g GROUP BY 1),
       |nd AS (SELECT i.q_id,
       |    (1000000 * COALESCE(d.dcg_micro, 0)) // i.idcg_micro AS ndcg_micro
       |  FROM idcg i LEFT JOIN dcg d USING (q_id))
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       |  CAST(SUM(CASE WHEN ndcg_micro = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_perfect,
       |  CAST(SUM(ndcg_micro) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
       |    AS mean_ndcg_micro
       |FROM nd""".stripMargin
  }

  /** The shared multi-probe ranking pipeline: ANN ranking `r_ann` and
    * exact ranking `r_ex` over the bounded query set — common prefix
    * of the recall (q150/q154) and MRR (q219) oracles. */
  private def multiProbeRankCtes(corpusCtes: String, corpusRel: String,
      probes: Int): String = {
    val target = graft.llm.Similarity.TargetBucketWidth
    val maxBits = graft.llm.Similarity.MaxLshBits
    val qCap = 20L * graft.llm.Similarity.MaxBruteQueries
    val caseTerms = (8 until maxBits).map(j =>
      s"(CASE WHEN n > ${target.toLong << j} THEN 1 ELSE 0 END)")
      .mkString("\n        + ")
    s"""WITH ${corpusCtes}nbits AS (SELECT 8
       |        + $caseTerms AS b
       |  FROM (SELECT COUNT(*) AS n FROM embeddings) t),
       |planes AS (SELECT p,
       |    list_transform(range(0, 64), d ->
       |      CAST((16 * (strpos('0123456789abcdef',
       |              substr(md5('plane' || p || '|' || d), 1, 1)) - 1)
       |        + strpos('0123456789abcdef',
       |              substr(md5('plane' || p || '|' || d), 2, 1)) - 1) - 128
       |        AS DOUBLE)) AS pl
       |  FROM (SELECT unnest(range(0, $maxBits)) AS p) t),
       |e AS (SELECT vec_id, embedding,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
       |  FROM $corpusRel),
       |pdots AS (SELECT e.vec_id, p.p,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> e.embedding[i]::DOUBLE * p.pl[i])) AS dt
       |  FROM e, planes p WHERE p.p < (SELECT b FROM nbits)),
       |keyed AS (SELECT e.vec_id, e.embedding, e.n2,
       |    (SELECT CAST(SUM(CASE WHEN dt >= 0
       |                   THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT)
       |     FROM pdots d WHERE d.vec_id = e.vec_id) AS bucket FROM e),
       |qk AS (SELECT * FROM keyed WHERE vec_id % 20 = 0 AND vec_id < $qCap),
       |flips AS (SELECT d.vec_id,
       |    xor(k.bucket, CAST(pow(2, d.p) AS BIGINT)) AS probe
       |  FROM (SELECT vec_id, p,
       |          ROW_NUMBER() OVER (PARTITION BY vec_id
       |            ORDER BY abs(dt), p) AS mr
       |        FROM pdots WHERE vec_id % 20 = 0 AND vec_id < $qCap) d
       |  JOIN qk k ON d.vec_id = k.vec_id
       |  WHERE d.mr <= ${probes - 1}),
       |pr AS (SELECT vec_id, bucket AS probe FROM qk
       |       UNION ALL SELECT vec_id, probe FROM flips),
       |s_ann AS (SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, len(a.embedding) + 1),
       |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
       |      / (sqrt(a.n2) * sqrt(b.n2)) AS sim
       |  FROM pr JOIN qk a ON pr.vec_id = a.vec_id
       |  JOIN keyed b ON b.bucket = pr.probe AND b.vec_id <> a.vec_id),
       |r_ann AS (SELECT q_id, neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |         ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s_ann),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, n2 AS q_n2
       |      FROM e WHERE vec_id % 20 = 0 AND vec_id < $qCap),
       |s_ex AS (SELECT q_id, vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> q_emb[i]::DOUBLE * embedding[i]::DOUBLE))
       |      / (sqrt(q_n2) * sqrt(n2)) AS sim
       |  FROM q, e WHERE vec_id <> q_id),
       |r_ex AS (SELECT q_id, neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |         ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s_ex)""".stripMargin
  }

  /** The order-free BPE merge rewrite of symbol list `s` under the
    * 0-or-1-row merge CTE `m` (q214's apply semantics — self-pairs are
    * excluded at selection, so every occurrence merges). The merge CTE
    * rides a `LEFT JOIN ... ON TRUE`, so on a degenerate corpus that
    * admits fewer merges than the chain has stages, an EMPTY merge CTE
    * passes the symbols through UNCHANGED (null pa/pb: the COALESCE
    * keeps every index, the CASE keeps every symbol) instead of
    * emptying the whole chain — mirroring the Spark side, which simply
    * stops learning when no pair remains. */
  private def bpeRewriteSql(m: String): String =
    s"""list_transform(
       |    list_filter(range(1, len(s) + 1), i ->
       |      NOT (i > 1 AND COALESCE(s[i - 1] = $m.pa AND s[i] = $m.pb,
       |                              FALSE))),
       |    i -> CASE WHEN COALESCE(s[i] = $m.pa AND i < len(s)
       |                            AND s[i + 1] = $m.pb, FALSE)
       |         THEN $m.pa || $m.pb ELSE s[i] END) AS s""".stripMargin

  /** The shared BPE learning chain: word counts w0, symbol tables
    * s0..s3, pair counts p1..p3, argmax merges m1..m3 — the common
    * prefix of the q214 (merge table) and q218 (application) oracles. */
  private def bpeLearnCtes: String = {
    def pair(p: String, from: String) =
      s"""$p AS (SELECT s[u.i] AS pa, s[u.i + 1] AS pb, SUM(wc) AS n
         |  FROM $from, LATERAL (SELECT unnest(range(1, len(s))) AS i) u
         |  WHERE s[u.i] <> s[u.i + 1] GROUP BY 1, 2)""".stripMargin
    def rewrite(sN: String, from: String, m: String) =
      s"""$sN AS (SELECT wc, ${bpeRewriteSql(m)}
         |  FROM $from LEFT JOIN $m ON TRUE)""".stripMargin
    s"""WITH w0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE len(word) > 0 GROUP BY 1),
       |s0 AS (SELECT wc, string_split(word, '') AS s FROM w0),
       |${pair("p1", "s0")},
       |m1 AS (SELECT pa, pb, n FROM p1 ORDER BY n DESC, pa, pb LIMIT 1),
       |${rewrite("s1", "s0", "m1")},
       |${pair("p2", "s1")},
       |m2 AS (SELECT pa, pb, n FROM p2 ORDER BY n DESC, pa, pb LIMIT 1),
       |${rewrite("s2", "s1", "m2")},
       |${pair("p3", "s2")},
       |m3 AS (SELECT pa, pb, n FROM p3 ORDER BY n DESC, pa, pb LIMIT 1),
       |${rewrite("s3", "s2", "m3")}""".stripMargin
  }

  private[graft] def bpeMergesOracleSql: String =
    bpeLearnCtes + """
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS merge_rank, pa AS pair_a, pb AS pair_b,
       |    pa || pb AS merged, CAST(n AS BIGINT) AS pair_count,
       |    (SELECT CAST(SUM(wc * len(s)) AS BIGINT) FROM s1)
       |      AS n_symbols_after FROM m1
       |  UNION ALL
       |  SELECT 2, pa, pb, pa || pb, CAST(n AS BIGINT),
       |    (SELECT CAST(SUM(wc * len(s)) AS BIGINT) FROM s2) FROM m2
       |  UNION ALL
       |  SELECT 3, pa, pb, pa || pb, CAST(n AS BIGINT),
       |    (SELECT CAST(SUM(wc * len(s)) AS BIGINT) FROM s3) FROM m3)
       |ORDER BY merge_rank""".stripMargin

  private[graft] def bpeApplyOracleSql: String =
    bpeLearnCtes + s""",
       |sw AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE len(word) > 0 GROUP BY 1, 2),
       |lex0 AS (SELECT word, string_split(word, '') AS s
       |         FROM (SELECT DISTINCT word FROM sw)),
       |lex1 AS (SELECT word, ${bpeRewriteSql("m1")}
       |  FROM lex0 LEFT JOIN m1 ON TRUE),
       |lex2 AS (SELECT word, ${bpeRewriteSql("m2")}
       |  FROM lex1 LEFT JOIN m2 ON TRUE),
       |lex3 AS (SELECT word, ${bpeRewriteSql("m3")}
       |  FROM lex2 LEFT JOIN m3 ON TRUE)
       |SELECT sw.source,
       |  CAST(SUM(sw.n) AS BIGINT) AS n_words,
       |  CAST(SUM(sw.n * len(sw.word)) AS BIGINT) AS n_symbols_before,
       |  CAST(SUM(sw.n * len(lex3.s)) AS BIGINT) AS n_symbols_after,
       |  (1000000 * CAST(SUM(sw.n * len(lex3.s)) AS BIGINT))
       |    // CAST(SUM(sw.n * len(sw.word)) AS BIGINT) AS compression_ppm
       |FROM sw JOIN lex3 USING (word)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q251: the learned-vocab greedy ladder — [[bpeLearnCtes]] replays
    * the 3-merge learning; vocab = base alphabet + merge outputs
    * (UNION dedupes); the recursive tokenizer is q246's ladder widened
    * to the learned 6-char ceiling, membership against the vocab CTE
    * instead of a literal list. */
  private[graft] def wordpieceLearnedOracleSql: String = {
    val ks = (graft.llm.Bpe.LearnedMaxLen to 2 by -1)
    def in(k: Int) =
      s"substr(w, pos + 1, $k) IN (SELECT piece FROM vocab)"
    bpeLearnCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") + s""",
       |vocab AS (
       |  SELECT pa || pb AS piece FROM m1
       |  UNION SELECT pa || pb FROM m2
       |  UNION SELECT pa || pb FROM m3
       |  UNION SELECT unnest(${graft.llm.Bpe.baseAlphabetSql}) AS piece),
       |t AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
       |words AS (
       |  SELECT doc_id, lang, i, ws[i] AS w
       |  FROM t, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) u
       |  WHERE len(ws[i]) > 0),
       |rec AS (
       |  SELECT doc_id, i, lang, w, 0 AS pos, 0 AS ntok, 0 AS nunk
       |  FROM words
       |  UNION ALL
       |  SELECT doc_id, i, lang, w, pos + len(cand) AS pos,
       |    ntok + 1 AS ntok,
       |    nunk + CASE WHEN matched THEN 0 ELSE 1 END AS nunk
       |  FROM (
       |    SELECT doc_id, i, lang, w, pos, ntok, nunk,
       |      CASE
       |        ${ks.map(k => s"WHEN ${in(k)} THEN substr(w, pos + 1, $k)")
                  .mkString("\n       |        ")}
       |        ELSE substr(w, pos + 1, 1) END AS cand,
       |      (${(ks.map(in) :+
                  "substr(w, pos + 1, 1) IN (SELECT piece FROM vocab)")
                  .mkString("\n       |        OR ")}) AS matched
       |    FROM rec WHERE pos < len(w))),
       |fin AS (SELECT lang, ntok, nunk FROM rec WHERE pos >= len(w))
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(ntok) AS BIGINT) AS n_pieces,
       |  CAST(SUM(nunk) AS BIGINT) AS n_unk,
       |  (1000000 * CAST(SUM(ntok) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
       |    AS fertility_ppm
       |FROM fin GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** q252: the learned-cost Viterbi — costs derived from the merge
    * ledger in exact integers (GREATEST(1, 48·len − 16·len(bin(n))),
    * ties to MIN; base alphabet at 48), DP replayed as q248's
    * recursive CTE widened to a 6-slot window. */
  private[graft] def viterbiLearnedOracleSql: String = {
    val radix = graft.llm.Bpe.VitRadix
    val maxK = graft.llm.Bpe.LearnedMaxLen
    val cc = graft.llm.Bpe.BaseCharCost
    bpeLearnCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") + s""",
       |vc AS (
       |  SELECT piece, CAST(MIN(c) AS BIGINT) AS c FROM (
       |    SELECT piece, GREATEST(1, $cc * len(piece) - 16 * len(bin(n))) AS c
       |    FROM (SELECT pa || pb AS piece, n FROM m1
       |          UNION ALL SELECT pa || pb, n FROM m2
       |          UNION ALL SELECT pa || pb, n FROM m3)
       |    UNION ALL
       |    SELECT unnest(${graft.llm.Bpe.baseAlphabetSql}) AS piece, $cc AS c)
       |  GROUP BY piece),
       |t AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
       |words AS (
       |  SELECT doc_id, lang, i, ws[i] AS w
       |  FROM t, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) u
       |  WHERE len(ws[i]) > 0),
       |exp AS (SELECT doc_id, i, w, p, k, substr(w, p - k + 1, k) AS piece
       |  FROM words, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS p) pp,
       |       LATERAL (SELECT unnest(range(1, ${maxK + 1})) AS k) kk
       |  WHERE p >= k),
       |pc AS (SELECT doc_id, i, p,
       |    ${(1 to maxK).map(k =>
                s"MAX(CASE WHEN k = $k THEN c END) AS c$k")
                .mkString(",\n       |    ")}
       |  FROM exp LEFT JOIN vc ON vc.piece = exp.piece
       |  GROUP BY 1, 2, 3),
       |rec AS (
       |  SELECT doc_id, i, lang, w, 0 AS pos,
       |    CAST(0 AS BIGINT) AS m1,
       |    ${(2 to maxK).map(k =>
                s"CAST(1000000000000000000 AS BIGINT) AS m$k")
                .mkString(",\n       |    ")}
       |  FROM words
       |  UNION ALL
       |  SELECT r.doc_id, r.i, r.lang, r.w, r.pos + 1 AS pos,
       |    least(
       |      ${(1 to maxK).map(k =>
                s"CASE WHEN r.pos + 1 >= $k AND pc.c$k IS NOT NULL " +
                  s"THEN r.m$k + pc.c$k * $radix + 1 END")
                .mkString(",\n       |      ")},
       |      r.m1 + ${graft.llm.Bpe.VitUnkCost * radix + 1L}) AS m1,
       |    ${(2 to maxK).map(k => s"r.m${k - 1} AS m$k")
                .mkString(", ")}
       |  FROM rec r JOIN pc ON pc.doc_id = r.doc_id AND pc.i = r.i
       |    AND pc.p = r.pos + 1
       |  WHERE r.pos < len(r.w)),
       |fin AS (SELECT lang, m1 FROM rec WHERE pos = len(w))
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(m1 // $radix) AS BIGINT) AS total_cost,
       |  CAST(SUM(m1 % $radix) AS BIGINT) AS n_pieces,
       |  (1000000 * CAST(SUM(m1 % $radix) AS BIGINT))
       |    // CAST(COUNT(*) AS BIGINT) AS fertility_ppm,
       |  (100 * CAST(SUM(m1 // $radix) AS BIGINT))
       |    // CAST(COUNT(*) AS BIGINT) AS cost_per_word_centi
       |FROM fin GROUP BY lang ORDER BY lang""".stripMargin
  }

  private[graft] def annLshOracleSql(k: Int): String = {
    val target = graft.llm.Similarity.TargetBucketWidth
    val maxBits = graft.llm.Similarity.MaxLshBits
    val caseTerms = (8 until maxBits).map(j =>
      s"(CASE WHEN n > ${target.toLong << j} THEN 1 ELSE 0 END)")
      .mkString("\n        + ")
    s"""WITH nbits AS (SELECT 8
       |        + $caseTerms AS b
       |  FROM (SELECT COUNT(*) AS n FROM embeddings) t),
       |planes AS (SELECT p,
       |    list_transform(range(0, 64), d ->
       |      CAST((16 * (strpos('0123456789abcdef',
       |              substr(md5('plane' || p || '|' || d), 1, 1)) - 1)
       |        + strpos('0123456789abcdef',
       |              substr(md5('plane' || p || '|' || d), 2, 1)) - 1) - 128
       |        AS DOUBLE)) AS pl
       |  FROM (SELECT unnest(range(0, $maxBits)) AS p) t),
       |e AS (SELECT vec_id, embedding,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
       |  FROM embeddings),
       |bits AS (SELECT e.vec_id, p.p,
       |    CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
       |           i -> e.embedding[i]::DOUBLE * p.pl[i])) >= 0
       |         THEN CAST(pow(2, p.p) AS BIGINT) ELSE 0 END AS bit
       |  FROM e, planes p WHERE p.p < (SELECT b FROM nbits)),
       |keyed AS (SELECT e.vec_id, e.embedding, e.n2,
       |    (SELECT CAST(SUM(bit) AS BIGINT) FROM bits b
       |     WHERE b.vec_id = e.vec_id) AS bucket FROM e),
       |s AS (SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id, a.bucket,
       |    list_sum(list_transform(range(1, len(a.embedding) + 1),
       |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
       |      / (sqrt(a.n2) * sqrt(b.n2)) AS sim
       |  FROM keyed a JOIN keyed b
       |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (SELECT q_id, neighbor_id, sim, bucket,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |         ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s)
       |SELECT q_id, rnk, neighbor_id, sim, bucket FROM r
       |WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin
  }

  /**
   * DuckDB replay of [[graft.llm.Curation.rerank]]: the q93
   * quantization grid, the q36 md5 plane family truncated to the fixed
   * coarse bit count, an integer quantized-dot stage-1 cut and the
   * exact-cosine stage-2 rerank — both ranked by the same
   * (score DESC, neighbor_id) total order the bounded-heap operator
   * uses.
   */
  private[graft] def rerankOracleSql(bits: Int, depth: Int, k: Int): String = {
    val qCap = 20L * graft.llm.Similarity.MaxBruteQueries
    s"""WITH g AS (SELECT u.i AS i,
       |    MIN(embedding[u.i]::DOUBLE) AS mn, MAX(embedding[u.i]::DOUBLE) AS mx
       |  FROM embeddings, LATERAL (
       |    SELECT unnest(range(1, len(embedding) + 1)) AS i) u GROUP BY 1),
       |gl AS (SELECT list(mn ORDER BY i) AS mn_l, list(mx ORDER BY i) AS mx_l FROM g),
       |qv AS (SELECT vec_id, list_transform(range(1, len(embedding) + 1), i ->
       |      CAST(floor((CASE WHEN mx_l[i] = mn_l[i] THEN 0.0
       |        ELSE (embedding[i]::DOUBLE - mn_l[i]) / (mx_l[i] - mn_l[i]) END)
       |        * 255.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings, gl),
       |planes AS (SELECT p,
       |    list_transform(range(0, 64), d ->
       |      CAST((16 * (strpos('0123456789abcdef',
       |              substr(md5('plane' || p || '|' || d), 1, 1)) - 1)
       |        + strpos('0123456789abcdef',
       |              substr(md5('plane' || p || '|' || d), 2, 1)) - 1) - 128
       |        AS DOUBLE)) AS pl
       |  FROM (SELECT unnest(range(0, $bits)) AS p) t),
       |e AS (SELECT vec_id, embedding,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
       |  FROM embeddings),
       |bits AS (SELECT e.vec_id, p.p,
       |    CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
       |           i -> e.embedding[i]::DOUBLE * p.pl[i])) >= 0
       |         THEN CAST(pow(2, p.p) AS BIGINT) ELSE 0 END AS bit
       |  FROM e, planes p),
       |keyed AS (SELECT e.vec_id, e.embedding, e.n2, qv.q,
       |    (SELECT CAST(SUM(bit) AS BIGINT) FROM bits b
       |     WHERE b.vec_id = e.vec_id) AS bucket
       |  FROM e JOIN qv ON e.vec_id = qv.vec_id),
       |cand AS (SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
       |    a.embedding AS qe, b.embedding AS ne, a.n2 AS qn2, b.n2 AS nn2,
       |    CAST(list_sum(list_transform(range(1, len(a.q) + 1),
       |      i -> a.q[i] * b.q[i])) AS BIGINT) AS qdot
       |  FROM keyed a JOIN keyed b
       |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id % 20 = 0 AND a.vec_id < $qCap),
       |s1 AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY qdot DESC, neighbor_id) AS crank FROM cand),
       |s2 AS (SELECT q_id, neighbor_id, qdot,
       |    list_sum(list_transform(range(1, len(qe) + 1),
       |      i -> qe[i]::DOUBLE * ne[i]::DOUBLE)) / (sqrt(qn2) * sqrt(nn2)) AS sim
       |  FROM s1 WHERE crank <= $depth),
       |r AS (SELECT q_id, neighbor_id, sim, qdot,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s2)
       |SELECT q_id, rnk, neighbor_id, sim, qdot FROM r
       |WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin
  }

  /** The Lloyd's distance expression shared by every replayed
    * assignment: `|v|² - 2 v·c + |c|²` with the same left-to-right
    * double fold as the codegen'd dot products. */
  private def kmeansDist: String =
    s"""list_sum(list_transform(range(1, len(e.embedding) + 1),
       |          i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
       |        - 2 * list_sum(list_transform(range(1, len(e.embedding) + 1),
       |          i -> e.embedding[i]::DOUBLE * c.c[i]))
       |        + list_sum(list_transform(c.c, x -> x * x))""".stripMargin

  private def kmeansAssignCte(name: String, cPrev: String): String =
    s"""$name AS (
       |  SELECT vec_id, embedding, cid AS cluster FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        $kmeansDist, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN $cPrev c) t
       |  WHERE rn = 1
       |)""".stripMargin

  /**
   * Chained CTEs replaying [[graft.llm.KMeans.fit]] in DuckDB: init
   * `c0` = the k lowest stride-matching vec_ids (the deterministic
   * `orderBy.limit(k)` init), then `iters` rounds of argmin assignment
   * (ties on cid) and 2^48-scaled exact-integer centroid means
   * (HUGEINT ≡ Spark's DECIMAL(38,0) on exact addends — the q61
   * discipline), dividing `sum / 2^48 / n` in the same order. Final
   * centroids land in `c{iters}`.
   */
  private def kmeansCtes(k: Int, iters: Int): String = {
    val scale = "281474976710656.0" // 2^48, exact in double
    def updateCte(name: String, aPrev: String): String =
      s"""$name AS (
         |  SELECT cid, list(v ORDER BY dim) AS c FROM (
         |    SELECT a.cluster AS cid, u.i - 1 AS dim,
         |      CAST(SUM(CAST(a.embedding[u.i]::DOUBLE * $scale AS HUGEINT)) AS DOUBLE)
         |        / $scale / COUNT(*) AS v
         |    FROM $aPrev a, LATERAL (SELECT unnest(range(1, len(a.embedding) + 1)) AS i) u
         |    GROUP BY 1, 2) t
         |  GROUP BY cid
         |)""".stripMargin
    val init =
      s"""c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         |         list_transform(embedding, x -> x::DOUBLE) AS c
         |  FROM embeddings
         |  WHERE vec_id % (SELECT greatest(1, COUNT(*) // $k) FROM embeddings) = 0
         |  ORDER BY vec_id LIMIT $k
         |)""".stripMargin
    val rounds = (1 to iters).flatMap(i =>
      Seq(kmeansAssignCte(s"a$i", s"c${i - 1}"), updateCte(s"c$i", s"a$i")))
    (init +: rounds).mkString(",\n")
  }

  /** DuckDB replay of [[graft.llm.KMeans.clusterStats]]: the k-means
    * CTEs, a final assignment, and integer-only per-cluster stats. */
  private[graft] def kmeansOracleSql(k: Int, iters: Int): String =
    s"""WITH ${kmeansCtes(k, iters)},
       |${kmeansAssignCte(s"a${iters + 1}", s"c$iters")}
       |SELECT CAST(cluster AS BIGINT) AS cluster, COUNT(*) AS n_vectors,
       |       MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id,
       |       CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id
       |FROM a${iters + 1} GROUP BY 1 ORDER BY 1""".stripMargin

  /**
   * DuckDB replay of [[graft.llm.Pipeline.ivfAnn]]: learned-centroid
   * IVF — the k-means CTEs produce the coarse quantizer, every vector
   * is assigned to its nearest cell (rank 1), queries probe their
   * `nprobe` nearest cells, and candidates rank by the same exact
   * cosine fold as the brute-force oracle.
   */
  /**
   * DuckDB replay of [[graft.llm.Similarity.ivfRecall]]: the q52 IVF
   * CTEs (learned k-means quantizer, nprobe cells) restricted to the
   * bounded audit query set, intersected with the q34 exact baseline.
   */
  private[graft] def ivfRecallOracleSql(
      cells: Int, iters: Int, nprobe: Int, k: Int): String = {
    val qCap = 20L * graft.llm.Similarity.MaxBruteQueries
    s"""WITH ${kmeansCtes(cells, iters)},
       |ranked AS (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      $kmeansDist, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN c$iters c
       |),
       |n2 AS (SELECT vec_id,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
       |  FROM embeddings),
       |asg AS (
       |  SELECT r.vec_id, r.embedding, n2.n2, r.cid AS cell
       |  FROM ranked r JOIN n2 ON n2.vec_id = r.vec_id WHERE r.rn = 1),
       |probe AS (
       |  SELECT r.vec_id AS q_id, r.embedding AS q_emb, n2.n2 AS q_n2, r.cid AS cell
       |  FROM ranked r JOIN n2 ON n2.vec_id = r.vec_id
       |  WHERE r.rn <= $nprobe AND r.vec_id % 20 = 0 AND r.vec_id < $qCap),
       |s_ann AS (
       |  SELECT q.q_id, n.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, len(n.embedding) + 1),
       |      i -> q.q_emb[i]::DOUBLE * n.embedding[i]::DOUBLE))
       |      / (sqrt(q.q_n2) * sqrt(n.n2)) AS sim
       |  FROM probe q JOIN asg n ON q.cell = n.cell AND n.vec_id <> q.q_id),
       |r_ann AS (SELECT q_id, neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |         ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s_ann),
       |eq AS (SELECT vec_id AS q_id, embedding AS q_emb, n2 AS q_n2
       |      FROM (SELECT e.vec_id, e.embedding, n2.n2
       |            FROM embeddings e JOIN n2 ON n2.vec_id = e.vec_id) t
       |      WHERE vec_id % 20 = 0 AND vec_id < $qCap),
       |s_ex AS (SELECT eq.q_id, e.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> eq.q_emb[i]::DOUBLE * e.embedding[i]::DOUBLE))
       |      / (sqrt(eq.q_n2) * sqrt(n2.n2)) AS sim
       |  FROM eq, embeddings e JOIN n2 ON n2.vec_id = e.vec_id
       |  WHERE e.vec_id <> eq.q_id),
       |r_ex AS (SELECT q_id, neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |         ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s_ex)
       |SELECT t.q_id, t.n_exact, COALESCE(h.n_hit, 0) AS n_hit,
       |       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(t.n_exact AS DOUBLE)
       |         AS recall
       |FROM (SELECT q_id, COUNT(*) AS n_exact FROM r_ex
       |      WHERE rnk <= $k GROUP BY 1) t
       |LEFT JOIN (SELECT x.q_id, COUNT(*) AS n_hit
       |           FROM (SELECT q_id, neighbor_id FROM r_ex WHERE rnk <= $k) x
       |           JOIN (SELECT q_id, neighbor_id FROM r_ann WHERE rnk <= $k) a
       |             USING (q_id, neighbor_id)
       |           GROUP BY 1) h
       |  ON t.q_id = h.q_id
       |ORDER BY t.q_id""".stripMargin
  }

  /** DuckDB replay of [[graft.llm.Pipeline.clusterBalancedSample]]:
    * the q52 KMeans assignment CTEs + a per-cell md5-ordered cap. */
  private[graft] def clusterSampleOracleSql(cells: Int, iters: Int, cap: Int): String =
    s"""WITH ${kmeansCtes(cells, iters)},
       |ranked AS (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      $kmeansDist, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN c$iters c
       |),
       |asg AS (SELECT vec_id, cid AS cell, md5('bal|' || vec_id) AS h
       |        FROM ranked WHERE rn = 1),
       |tot AS (SELECT cell, COUNT(*) AS n_cell FROM asg GROUP BY 1),
       |keep AS (SELECT cell, vec_id, h,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY cell
       |         ORDER BY h, vec_id) AS BIGINT) AS rnk
       |  FROM asg)
       |SELECT CAST(k.cell AS BIGINT) AS cell, k.rnk, k.vec_id, k.h, t.n_cell
       |FROM keep k JOIN tot t ON k.cell = t.cell
       |WHERE k.rnk <= $cap
       |ORDER BY cell, rnk""".stripMargin

  /** DuckDB replay of [[graft.llm.Curation.clusterTerms]] (q196): the
    * [[kmeansCtes]] Lloyd's chain assigns cells, then the c-TF-IDF
    * lift ranking — the one-division double of exact integer counts. */
  private[graft] def clusterTermsOracleSql(
      cells: Int, iters: Int, k: Int, minCount: Long): String =
    s"""WITH ${kmeansCtes(cells, iters)},
       |ranked AS (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      $kmeansDist, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN c$iters c
       |),
       |asg AS (SELECT vec_id AS doc_id, CAST(cid AS BIGINT) AS cell
       |        FROM ranked WHERE rn = 1),
       |toks AS (SELECT a.cell, unnest(string_split(d.text, ' ')) AS tok
       |  FROM documents d JOIN asg a ON d.doc_id = a.doc_id),
       |ct AS (SELECT cell, tok, CAST(COUNT(*) AS BIGINT) AS n_ct
       |  FROM toks GROUP BY 1, 2),
       |bt AS (SELECT tok, CAST(SUM(n_ct) AS BIGINT) AS n_t FROM ct GROUP BY 1),
       |bc AS (SELECT cell, CAST(SUM(n_ct) AS BIGINT) AS n_c FROM ct GROUP BY 1),
       |tt AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n FROM bt),
       |scored AS (SELECT ct.cell, ct.tok, n_ct,
       |    CAST(n_ct AS DOUBLE) * n / (CAST(n_t AS DOUBLE) * n_c) AS lift
       |  FROM ct JOIN bt ON ct.tok = bt.tok JOIN bc ON ct.cell = bc.cell
       |  CROSS JOIN tt WHERE n_ct >= $minCount),
       |topk AS (SELECT cell, tok, n_ct, lift,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY cell
       |         ORDER BY lift DESC, n_ct DESC, tok) AS BIGINT) AS rk
       |  FROM scored)
       |SELECT cell, rk, tok, n_ct, lift FROM topk
       |WHERE rk <= $k ORDER BY cell, rk""".stripMargin

  /** The per-subspace Lloyd's distance for the PQ replay — the
    * [[kmeansDist]] formula over the sliced sub-vector column `v`. */
  private def pqDist: String =
    s"""list_sum(list_transform(range(1, len(e.v) + 1),
       |          i -> e.v[i]::DOUBLE * e.v[i]::DOUBLE))
       |        - 2 * list_sum(list_transform(range(1, len(e.v) + 1),
       |          i -> e.v[i]::DOUBLE * c.c[i]))
       |        + list_sum(list_transform(c.c, x -> x * x))""".stripMargin

  /**
   * Chained CTEs replaying [[graft.llm.PQ.pqAnn]] in DuckDB through the
   * final reranked table `r`: `sub` slices every embedding into
   * [[graft.llm.PQ.SubSpaces]] sub-vectors (subspace as DATA, so one
   * init/assign/update chain serves all subspaces, partitioned by
   * `s`); the Lloyd's rounds are the [[kmeansCtes]] discipline per
   * (vec, s); `enc` is the final per-subspace code; `contrib`/`adc0`
   * compute the ADC score with explicit left-associated 4-term sums
   * (single-row `MAX(CASE WHEN s=…)` pivots — never an unordered SQL
   * SUM, whose merge order the engine doesn't fix); `s1`/`s2`/`r` are
   * the shortlist cut, exact-cosine rerank, and final rank.
   *
   * `p` prefixes every CTE name (the composed IVF×PQ replay shares a
   * WITH clause with [[kmeansCtes]], whose `c0`/`a1`… names would
   * otherwise collide); `candJoin` injects extra join lines into the
   * pairing CTE to restrict (query, candidate) pairs — the IVF cell
   * pruning hook.
   */
  private def pqCtes(sd: Int, m: Int, kk: Int, iters: Int, depth: Int,
      p: String = "", candJoin: String = ""): String = {
    val scale = "281474976710656.0" // 2^48, exact in double
    val qCap = 20L * graft.llm.Similarity.MaxBruteQueries
    def assignCte(name: String, cPrev: String, withV: Boolean): String = {
      val vSel = if (withV) ", e.v" else ""
      val vOut = if (withV) ", v" else ""
      s"""$name AS (
         |  SELECT vec_id, s$vOut, cid AS cluster FROM (
         |    SELECT e.vec_id, e.s$vSel, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id, e.s ORDER BY
         |        $pqDist, c.cid) AS rn
         |    FROM ${p}sub e JOIN $cPrev c ON c.s = e.s) t
         |  WHERE rn = 1)""".stripMargin
    }
    def updateCte(name: String, aPrev: String): String =
      s"""$name AS (
         |  SELECT s, cid, list(v ORDER BY dim) AS c FROM (
         |    SELECT a.s, a.cluster AS cid, u.i - 1 AS dim,
         |      CAST(SUM(CAST(a.v[u.i]::DOUBLE * $scale AS HUGEINT)) AS DOUBLE)
         |        / $scale / COUNT(*) AS v
         |    FROM $aPrev a, LATERAL (SELECT unnest(range(1, len(a.v) + 1)) AS i) u
         |    GROUP BY 1, 2, 3) t
         |  GROUP BY s, cid)""".stripMargin
    val cf = s"${p}c$iters"
    val adot = (0 until m).map(s => s"MAX(CASE WHEN s = $s THEN lv END)").mkString(" + ")
    val rn2 = (0 until m).map(s => s"MAX(CASE WHEN s = $s THEN cn2 END)").mkString(" + ")
    val head = Seq(
      s"""${p}sub AS (
         |  SELECT e.vec_id, sp.s, e.embedding[sp.s*$sd+1 : sp.s*$sd+$sd] AS v
         |  FROM embeddings e CROSS JOIN (SELECT unnest(range($m)) AS s) sp)""".stripMargin,
      s"""${p}c0 AS (
         |  SELECT s, CAST(rn - 1 AS BIGINT) AS cid,
         |         list_transform(v, x -> x::DOUBLE) AS c
         |  FROM (
         |    SELECT s, v, row_number() OVER (PARTITION BY s ORDER BY vec_id) AS rn
         |    FROM ${p}sub
         |    WHERE vec_id % (SELECT greatest(1, COUNT(*) // $kk) FROM embeddings) = 0) t
         |  WHERE rn <= $kk)""".stripMargin)
    val rounds = (1 to iters).flatMap(i =>
      Seq(assignCte(s"${p}a$i", s"${p}c${i - 1}", withV = true),
        updateCte(s"${p}c$i", s"${p}a$i")))
    val tail = Seq(
      assignCte(s"${p}enc", cf, withV = false),
      s"""${p}cn AS (SELECT s, cid,
         |  list_sum(list_transform(c, x -> x * x)) AS cn2 FROM $cf)""".stripMargin,
      s"""${p}n2 AS (SELECT vec_id, list_sum(list_transform(range(1, len(embedding) + 1),
         |  i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
         |  FROM embeddings)""".stripMargin,
      s"""${p}contrib AS (
         |  SELECT sq.vec_id AS q_id, en.vec_id AS neighbor_id, en.s,
         |    list_sum(list_transform(range(1, len(sq.v) + 1),
         |      i -> sq.v[i]::DOUBLE * c.c[i])) AS lv,
         |    cn.cn2 AS cn2
         |  FROM ${p}sub sq
         |  JOIN ${p}enc en ON en.s = sq.s AND en.vec_id <> sq.vec_id
         |  JOIN $cf c ON c.s = en.s AND c.cid = en.cluster
         |  JOIN ${p}cn cn ON cn.s = en.s AND cn.cid = en.cluster
         |  $candJoin
         |  WHERE sq.vec_id % 20 = 0 AND sq.vec_id < $qCap)""".stripMargin,
      s"""${p}adc0 AS (
         |  SELECT q_id, neighbor_id, $adot AS adot, $rn2 AS rn2
         |  FROM ${p}contrib GROUP BY 1, 2)""".stripMargin,
      s"""${p}s1 AS (
         |  SELECT a.q_id, a.neighbor_id,
         |    a.adot / (sqrt(qn.n2) * sqrt(a.rn2)) AS adc,
         |    CAST(row_number() OVER (PARTITION BY a.q_id
         |      ORDER BY a.adot / (sqrt(qn.n2) * sqrt(a.rn2)) DESC,
         |               a.neighbor_id) AS BIGINT) AS crank
         |  FROM ${p}adc0 a JOIN ${p}n2 qn ON qn.vec_id = a.q_id)""".stripMargin,
      s"""${p}s2 AS (
         |  SELECT s.q_id, s.neighbor_id, s.adc,
         |    list_sum(list_transform(range(1, len(eq.embedding) + 1),
         |      i -> eq.embedding[i]::DOUBLE * en.embedding[i]::DOUBLE))
         |      / (sqrt(qn.n2) * sqrt(nn.n2)) AS sim
         |  FROM ${p}s1 s
         |  JOIN embeddings eq ON eq.vec_id = s.q_id
         |  JOIN embeddings en ON en.vec_id = s.neighbor_id
         |  JOIN ${p}n2 qn ON qn.vec_id = s.q_id
         |  JOIN ${p}n2 nn ON nn.vec_id = s.neighbor_id
         |  WHERE s.crank <= $depth)""".stripMargin,
      s"""${p}r AS (
         |  SELECT q_id, neighbor_id, sim, adc,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM ${p}s2)""".stripMargin)
    (head ++ rounds ++ tail).mkString(",\n")
  }

  /** DuckDB replay of [[graft.llm.PQ.pqAnn]] (q158): the PQ CTE chain,
    * top-`k` of the reranked table. */
  private[graft] def pqOracleSql(sd: Int, m: Int, kk: Int, iters: Int,
      depth: Int, k: Int): String =
    s"""WITH ${pqCtes(sd, m, kk, iters, depth)}
       |SELECT q_id, rnk, neighbor_id, sim, adc
       |FROM r WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin

  /** Recall tail shared by the PQ-family audits: exact brute-force
    * top-`k` over the bounded query set, intersected with the
    * approximate chain's final table `${p}r`; `${p}n2` supplies the
    * exact norms already computed in the chain. */
  private def pqRecallTail(p: String, k: Int): String = {
    val qCap = 20L * graft.llm.Similarity.MaxBruteQueries
    s"""eq AS (SELECT e.vec_id AS q_id, e.embedding AS q_emb, n2.n2 AS q_n2
       |      FROM embeddings e JOIN ${p}n2 n2 ON n2.vec_id = e.vec_id
       |      WHERE e.vec_id % 20 = 0 AND e.vec_id < $qCap),
       |s_ex AS (SELECT eq.q_id, e.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> eq.q_emb[i]::DOUBLE * e.embedding[i]::DOUBLE))
       |      / (sqrt(eq.q_n2) * sqrt(n2.n2)) AS sim
       |  FROM eq, embeddings e JOIN ${p}n2 n2 ON n2.vec_id = e.vec_id
       |  WHERE e.vec_id <> eq.q_id),
       |r_ex AS (SELECT q_id, neighbor_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |         ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s_ex)
       |SELECT t.q_id, t.n_exact, COALESCE(h.n_hit, 0) AS n_hit,
       |       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(t.n_exact AS DOUBLE)
       |         AS recall
       |FROM (SELECT q_id, COUNT(*) AS n_exact FROM r_ex
       |      WHERE rnk <= $k GROUP BY 1) t
       |LEFT JOIN (SELECT x.q_id, COUNT(*) AS n_hit
       |           FROM (SELECT q_id, neighbor_id FROM r_ex WHERE rnk <= $k) x
       |           JOIN (SELECT q_id, neighbor_id FROM ${p}r WHERE rnk <= $k) a
       |             USING (q_id, neighbor_id)
       |           GROUP BY 1) h
       |  ON t.q_id = h.q_id
       |ORDER BY t.q_id""".stripMargin
  }

  /** DuckDB replay of [[graft.llm.Similarity.pqRecall]] (q159): the PQ
    * chain's final top-`k` intersected with the exact brute-force
    * baseline over the same bounded query set. */
  private[graft] def pqRecallOracleSql(sd: Int, m: Int, kk: Int, iters: Int,
      depth: Int, k: Int): String =
    s"""WITH ${pqCtes(sd, m, kk, iters, depth)},
       |${pqRecallTail("", k)}""".stripMargin

  /** The IVF-side CTEs of the composed replay: nearest-cell ranking of
    * every vector against the final coarse centroids (`c$iters` from
    * [[kmeansCtes]]), the rank-1 cell assignment, and each vector's
    * `nprobe` probe cells. */
  private def ivfCellCtes(iters: Int, nprobe: Int): String =
    s"""ivfr AS (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      $kmeansDist, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN c$iters c),
       |iasg AS (SELECT vec_id, cid AS cell FROM ivfr WHERE rn = 1),
       |iprobe AS (SELECT vec_id AS q_id, cid AS cell FROM ivfr
       |           WHERE rn <= $nprobe)""".stripMargin

  /** The cell-pruning join injected into the PQ pairing CTE: keep a
    * (query, candidate) pair only when the candidate's assigned cell is
    * among the query's probe cells. */
  private val ivfCandJoin: String =
    """JOIN iasg ia ON ia.vec_id = en.vec_id
      |  JOIN iprobe ip ON ip.q_id = sq.vec_id AND ip.cell = ia.cell""".stripMargin

  /** DuckDB replay of [[graft.llm.PQ.ivfPqAnn]] (q160): the coarse
    * k-means CTEs + cell assignment/probes, the `pq`-prefixed PQ chain
    * with the cell-pruning join, and the candidate's cell joined back
    * onto the final ranking. */
  private[graft] def ivfPqOracleSql(sd: Int, m: Int, kk: Int, pqIters: Int,
      depth: Int, k: Int, cells: Int, iters: Int, nprobe: Int): String =
    s"""WITH ${kmeansCtes(cells, iters)},
       |${ivfCellCtes(iters, nprobe)},
       |${pqCtes(sd, m, kk, pqIters, depth, p = "pq", candJoin = ivfCandJoin)}
       |SELECT r.q_id, r.rnk, r.neighbor_id, r.sim, r.adc, ia.cell
       |FROM pqr r JOIN iasg ia ON ia.vec_id = r.neighbor_id
       |WHERE r.rnk <= $k ORDER BY r.q_id, r.rnk""".stripMargin

  /** DuckDB replay of [[graft.llm.Dedup.semanticDedup]] (q162): the
    * coarse k-means CTEs + rank-1 cell assignment, then a within-cell
    * lower-id cosine-threshold count — the SemDeDup keep-lowest-id
    * rule with the dyadic threshold literal (0.34375 is exact in both
    * engines' doubles). */
  private[graft] def semanticDedupOracleSql(cells: Int, iters: Int,
      tau: Double): String =
    s"""WITH ${kmeansCtes(cells, iters)},
       |${ivfCellCtes(iters, 1)},
       |sn2 AS (SELECT vec_id, list_sum(list_transform(range(1, len(embedding) + 1),
       |    i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
       |  FROM embeddings),
       |sa AS (SELECT a.vec_id, a.cell, e.embedding, n.n2
       |       FROM iasg a JOIN embeddings e ON e.vec_id = a.vec_id
       |       JOIN sn2 n ON n.vec_id = a.vec_id),
       |sclose AS (
       |  SELECT hi.vec_id, COUNT(*) AS n_close_lower
       |  FROM sa hi JOIN sa lo ON lo.cell = hi.cell AND lo.vec_id < hi.vec_id
       |  WHERE list_sum(list_transform(range(1, len(hi.embedding) + 1),
       |      i -> hi.embedding[i]::DOUBLE * lo.embedding[i]::DOUBLE))
       |      / (sqrt(hi.n2) * sqrt(lo.n2)) >= $tau
       |  GROUP BY 1)
       |SELECT a.vec_id, a.cell, COALESCE(c.n_close_lower, 0) AS n_close_lower
       |FROM sa a LEFT JOIN sclose c ON c.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin

  /** DuckDB replay of [[graft.llm.Similarity.ivfPqRecall]] (q161): the
    * composed IVF × PQ chain intersected with the exact baseline. */
  private[graft] def ivfPqRecallOracleSql(sd: Int, m: Int, kk: Int, pqIters: Int,
      depth: Int, k: Int, cells: Int, iters: Int, nprobe: Int): String =
    s"""WITH ${kmeansCtes(cells, iters)},
       |${ivfCellCtes(iters, nprobe)},
       |${pqCtes(sd, m, kk, pqIters, depth, p = "pq", candJoin = ivfCandJoin)},
       |${pqRecallTail("pq", k)}""".stripMargin

  /**
   * The RESIDUAL-coded chain ([[graft.llm.PQ.ivfRpqAnnOf]], q261) —
   * [[pqCtes]]' structure with three residual-specific changes:
   * training/encoding run over residual sub-vectors (`rpsub`: raw
   * minus the assigned cell centroid, rounded through REAL — the
   * stored float dtype, IEEE-identical to Spark's `.cast("float")`),
   * the query side keeps RAW sub-vectors (`rqsub` — LUTs are raw query
   * subs against residual codewords), and the score adds the q·c_cell
   * term with the reconstruction norm ‖c‖² + 2·c·r̂ + ‖r̂‖² from the
   * cell-norm / cell×code cross-dot / codeword-norm tables. Requires
   * [[kmeansCtes]] + [[ivfCellCtes]] in the same WITH clause. Ends in
   * `rpr`; raw norms in `rpn2` (so [[pqRecallTail]]("rp", k) plugs in).
   */
  private def rpqCtes(sd: Int, m: Int, kk: Int, iters: Int, depth: Int,
      coarseIters: Int): String = {
    val scale = "281474976710656.0" // 2^48, exact in double
    val qCap = 20L * graft.llm.Similarity.MaxBruteQueries
    def assignCte(name: String, cPrev: String, withV: Boolean): String = {
      val vSel = if (withV) ", e.v" else ""
      val vOut = if (withV) ", v" else ""
      s"""$name AS (
         |  SELECT vec_id, s$vOut, cid AS cluster FROM (
         |    SELECT e.vec_id, e.s$vSel, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id, e.s ORDER BY
         |        $pqDist, c.cid) AS rn
         |    FROM rpsub e JOIN $cPrev c ON c.s = e.s) t
         |  WHERE rn = 1)""".stripMargin
    }
    def updateCte(name: String, aPrev: String): String =
      s"""$name AS (
         |  SELECT s, cid, list(v ORDER BY dim) AS c FROM (
         |    SELECT a.s, a.cluster AS cid, u.i - 1 AS dim,
         |      CAST(SUM(CAST(a.v[u.i]::DOUBLE * $scale AS HUGEINT)) AS DOUBLE)
         |        / $scale / COUNT(*) AS v
         |    FROM $aPrev a, LATERAL (SELECT unnest(range(1, len(a.v) + 1)) AS i) u
         |    GROUP BY 1, 2, 3) t
         |  GROUP BY s, cid)""".stripMargin
    val cf = s"rpc$iters"
    val adot = (0 until m).map(s => s"MAX(CASE WHEN s = $s THEN lv END)").mkString(" + ")
    val rn2 = (0 until m).map(s => s"MAX(CASE WHEN s = $s THEN cn2 END)").mkString(" + ")
    val crs = (0 until m).map(s => s"MAX(CASE WHEN s = $s THEN cx END)").mkString(" + ")
    val head = Seq(
      s"""rpsub AS (
         |  SELECT e.vec_id, sp.s,
         |    list_transform(range(1, $sd + 1),
         |      i -> CAST(e.embedding[sp.s*$sd + i]::DOUBLE
         |                - ct.c[sp.s*$sd + i] AS REAL)) AS v
         |  FROM embeddings e
         |  JOIN iasg ia0 ON ia0.vec_id = e.vec_id
         |  JOIN c$coarseIters ct ON ct.cid = ia0.cell
         |  CROSS JOIN (SELECT unnest(range($m)) AS s) sp)""".stripMargin,
      s"""rqsub AS (
         |  SELECT e.vec_id, sp.s, e.embedding[sp.s*$sd+1 : sp.s*$sd+$sd] AS v
         |  FROM embeddings e CROSS JOIN (SELECT unnest(range($m)) AS s) sp
         |  WHERE e.vec_id % 20 = 0 AND e.vec_id < $qCap)""".stripMargin,
      s"""rpc0 AS (
         |  SELECT s, CAST(rn - 1 AS BIGINT) AS cid,
         |         list_transform(v, x -> x::DOUBLE) AS c
         |  FROM (
         |    SELECT s, v, row_number() OVER (PARTITION BY s ORDER BY vec_id) AS rn
         |    FROM rpsub
         |    WHERE vec_id % (SELECT greatest(1, COUNT(*) // $kk) FROM embeddings) = 0) t
         |  WHERE rn <= $kk)""".stripMargin)
    val rounds = (1 to iters).flatMap(i =>
      Seq(assignCte(s"rpa$i", s"rpc${i - 1}", withV = true),
        updateCte(s"rpc$i", s"rpa$i")))
    val tail = Seq(
      assignCte("rpenc", cf, withV = false),
      s"""rpcn AS (SELECT s, cid,
         |  list_sum(list_transform(c, x -> x * x)) AS cn2 FROM $cf)""".stripMargin,
      s"""rpn2 AS (SELECT vec_id, list_sum(list_transform(range(1, len(embedding) + 1),
         |  i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
         |  FROM embeddings)""".stripMargin,
      s"""rpqc AS (
         |  SELECT ip.q_id, ip.cell,
         |    list_sum(list_transform(range(1, len(e.embedding) + 1),
         |      i -> e.embedding[i]::DOUBLE * ct.c[i])) AS qc
         |  FROM iprobe ip
         |  JOIN embeddings e ON e.vec_id = ip.q_id
         |  JOIN c$coarseIters ct ON ct.cid = ip.cell)""".stripMargin,
      s"""rpccx AS (
         |  SELECT ct.cid AS cell, b.s, b.cid AS code,
         |    list_sum(list_transform(range(1, $sd + 1),
         |      i -> ct.c[b.s*$sd + i] * b.c[i])) AS cx
         |  FROM c$coarseIters ct CROSS JOIN $cf b)""".stripMargin,
      s"""rpcn2c AS (SELECT cid AS cell,
         |  list_sum(list_transform(c, x -> x * x)) AS cn2c
         |  FROM c$coarseIters)""".stripMargin,
      s"""rpcontrib AS (
         |  SELECT sq.vec_id AS q_id, en.vec_id AS neighbor_id, ia.cell, en.s,
         |    list_sum(list_transform(range(1, len(sq.v) + 1),
         |      i -> sq.v[i]::DOUBLE * c.c[i])) AS lv,
         |    cn.cn2 AS cn2, x.cx AS cx
         |  FROM rqsub sq
         |  JOIN rpenc en ON en.s = sq.s AND en.vec_id <> sq.vec_id
         |  JOIN $cf c ON c.s = en.s AND c.cid = en.cluster
         |  JOIN rpcn cn ON cn.s = en.s AND cn.cid = en.cluster
         |  JOIN iasg ia ON ia.vec_id = en.vec_id
         |  JOIN iprobe ip ON ip.q_id = sq.vec_id AND ip.cell = ia.cell
         |  JOIN rpccx x ON x.cell = ia.cell AND x.s = en.s
         |    AND x.code = en.cluster)""".stripMargin,
      s"""rpadc0 AS (
         |  SELECT q_id, neighbor_id, MAX(cell) AS cell,
         |    $adot AS adot, $rn2 AS rn2, $crs AS crs
         |  FROM rpcontrib GROUP BY 1, 2)""".stripMargin,
      s"""rps1 AS (
         |  SELECT a.q_id, a.neighbor_id, a.cell,
         |    (qc.qc + a.adot)
         |      / (sqrt(qn.n2) * sqrt(z.cn2c + 2 * a.crs + a.rn2)) AS adc,
         |    CAST(row_number() OVER (PARTITION BY a.q_id
         |      ORDER BY (qc.qc + a.adot)
         |        / (sqrt(qn.n2) * sqrt(z.cn2c + 2 * a.crs + a.rn2)) DESC,
         |               a.neighbor_id) AS BIGINT) AS crank
         |  FROM rpadc0 a
         |  JOIN rpn2 qn ON qn.vec_id = a.q_id
         |  JOIN rpqc qc ON qc.q_id = a.q_id AND qc.cell = a.cell
         |  JOIN rpcn2c z ON z.cell = a.cell)""".stripMargin,
      s"""rps2 AS (
         |  SELECT s.q_id, s.neighbor_id, s.adc, s.cell,
         |    list_sum(list_transform(range(1, len(eq.embedding) + 1),
         |      i -> eq.embedding[i]::DOUBLE * en.embedding[i]::DOUBLE))
         |      / (sqrt(qn.n2) * sqrt(nn.n2)) AS sim
         |  FROM rps1 s
         |  JOIN embeddings eq ON eq.vec_id = s.q_id
         |  JOIN embeddings en ON en.vec_id = s.neighbor_id
         |  JOIN rpn2 qn ON qn.vec_id = s.q_id
         |  JOIN rpn2 nn ON nn.vec_id = s.neighbor_id
         |  WHERE s.crank <= $depth)""".stripMargin,
      s"""rpr AS (
         |  SELECT q_id, neighbor_id, sim, adc, cell,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM rps2)""".stripMargin)
    (head ++ rounds ++ tail).mkString(",\n")
  }

  /** DuckDB replay of [[graft.llm.PQ.ivfRpqAnn]] (q261). */
  private[graft] def ivfRpqOracleSql(sd: Int, m: Int, kk: Int, pqIters: Int,
      depth: Int, k: Int, cells: Int, iters: Int, nprobe: Int): String =
    s"""WITH ${kmeansCtes(cells, iters)},
       |${ivfCellCtes(iters, nprobe)},
       |${rpqCtes(sd, m, kk, pqIters, depth, iters)}
       |SELECT q_id, rnk, neighbor_id, sim, adc, cell
       |FROM rpr WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin

  /** DuckDB replay of [[graft.llm.Similarity.ivfRpqRecall]] (q262). */
  private[graft] def ivfRpqRecallOracleSql(sd: Int, m: Int, kk: Int, pqIters: Int,
      depth: Int, k: Int, cells: Int, iters: Int, nprobe: Int): String =
    s"""WITH ${kmeansCtes(cells, iters)},
       |${ivfCellCtes(iters, nprobe)},
       |${rpqCtes(sd, m, kk, pqIters, depth, iters)},
       |${pqRecallTail("rp", k)}""".stripMargin

  private[graft] def ivfOracleSql(cells: Int, iters: Int, nprobe: Int, k: Int): String =
    s"""WITH ${kmeansCtes(cells, iters)},
       |ranked AS (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      $kmeansDist, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN c$iters c
       |),
       |n2 AS (SELECT vec_id,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS n2
       |  FROM embeddings),
       |asg AS (
       |  SELECT r.vec_id, r.embedding, n2.n2, r.cid AS cell
       |  FROM ranked r JOIN n2 ON n2.vec_id = r.vec_id WHERE r.rn = 1),
       |probe AS (
       |  SELECT r.vec_id AS q_id, r.embedding AS q_emb, n2.n2 AS q_n2, r.cid AS cell
       |  FROM ranked r JOIN n2 ON n2.vec_id = r.vec_id
       |  WHERE r.rn <= $nprobe AND r.vec_id % 20 = 0
       |    AND r.vec_id < ${20L * graft.llm.Similarity.MaxBruteQueries}),
       |s AS (
       |  SELECT q.q_id, n.vec_id AS neighbor_id, n.cell,
       |    list_sum(list_transform(range(1, len(n.embedding) + 1),
       |      i -> q.q_emb[i]::DOUBLE * n.embedding[i]::DOUBLE))
       |      / (sqrt(q.q_n2) * sqrt(n.n2)) AS sim
       |  FROM probe q JOIN asg n ON q.cell = n.cell AND n.vec_id <> q.q_id),
       |r AS (SELECT q_id, neighbor_id, sim, cell,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |         ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk FROM s)
       |SELECT q_id, rnk, neighbor_id, sim, CAST(cell AS BIGINT) AS cell
       |FROM r WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin
}
