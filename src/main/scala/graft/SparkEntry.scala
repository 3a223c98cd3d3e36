package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._
import graft.streaming.StreamQueries

/** The query surface (SURVEY.md §7).
  *
  * [[table]] is the query registry: one row per operator from SURVEY.md
  * §2's inventory (engine ops E1-E9 via the MR queries; [EXT] relational /
  * LLM-pipeline ops via graft.operators), giving its name, the function
  * that builds its DataFrame and its oracle, the ANSI SQL DuckDB runs on
  * the same parquet tables. `queries` and `oracleSql` are derived from it;
  * each query is hash-compared against its oracle at sf0.01.
  */
object SparkEntry {
  private[graft] type QueryFn = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One registry row. Its oracle SQL is by name, so, as with the query
    * function, loading the table initializes no operator object. */
  private[graft] final class Query(val name: String, val build: QueryFn, sql: => String) {
    def oracle: String = sql
  }
  private def q(name: String, build: QueryFn, sql: => String) = new Query(name, build, sql)

  private[graft] val table: Seq[Query] = Seq(
    // -- reference apps through the faithful MR engine (A1/A2 on E1-E9)
    q("mr_wordcount", MrQueries.mrWordCount, MrQueries.mrWordCountSql),
    q("mr_inverted_index", MrQueries.mrInvertedIndex, MrQueries.mrInvertedIndexSql),
    q("mr_sorted_concat", MrQueries.mrSortedConcat, MrQueries.mrSortedConcatSql),
    // -- idiomatic DataFrame twins
    q("wc_native", MrQueries.wcNative, MrQueries.wcNativeSql),
    q("inverted_index_native", MrQueries.invertedIndexNative, MrQueries.invertedIndexNativeSql),
    // -- relational [EXT]
    q("q1_pricing_summary", Relational.q1PricingSummary, Relational.q1Sql),
    q("q3_shipping_priority", Relational.q3ShippingPriority, Relational.q3Sql),
    q("q5_local_supplier", Relational.q5LocalSupplier, Relational.q5Sql),
    q("q6_forecast_revenue", Relational.q6ForecastRevenue, Relational.q6Sql),
    q("q18_large_orders", Relational.q18LargeOrders, Relational.q18Sql),
    q("q21_waiting_orders", Relational.q21WaitingOrders, Relational.q21Sql),
    q("q13_custdist", Relational.q13CustDist, Relational.q13Sql),
    q("q4_order_priority", DecisionSupport.q4OrderPriority, DecisionSupport.q4Sql),
    q("q7_volume_shipping", DecisionSupport.q7VolumeShipping, DecisionSupport.q7Sql),
    q("q8_market_share", DecisionSupport.q8MarketShare, DecisionSupport.q8Sql),
    q("q10_returned_items", DecisionSupport.q10ReturnedItems, DecisionSupport.q10Sql),
    q("q14_promo_revenue", DecisionSupport.q14PromoRevenue, DecisionSupport.q14Sql),
    q("q15_top_supplier", DecisionSupport.q15TopSupplier, DecisionSupport.q15Sql),
    q("q17_small_quantity", DecisionSupport.q17SmallQuantity, DecisionSupport.q17Sql),
    q("q19_disjunctive", DecisionSupport.q19Disjunctive, DecisionSupport.q19Sql),
    q("q22_idle_customers", DecisionSupport.q22IdleCustomers, DecisionSupport.q22Sql),
    q("q2_min_cost_supplier", DecisionSupport.q2MinCostSupplier, DecisionSupport.q2Sql),
    q("q11_important_parts", DecisionSupport.q11ImportantParts, DecisionSupport.q11Sql),
    q("q16_parts_suppliers", DecisionSupport.q16PartsSuppliers, DecisionSupport.q16Sql),
    q("q20_excess_suppliers", DecisionSupport.q20ExcessSuppliers, DecisionSupport.q20Sql),
    q("q9_product_profit", DecisionSupport.q9ProductProfit, DecisionSupport.q9Sql),
    q("q12_priority_lines", DecisionSupport.q12PriorityLines, DecisionSupport.q12Sql),
    q("join_broadcast_part", Relational.joinBroadcastPart, Relational.joinBroadcastPartSql),
    q("join_semi", Relational.joinSemi, Relational.joinSemiSql),
    q("join_anti", Relational.joinAnti, Relational.joinAntiSql),
    q("join_full_outer", Relational.joinFullOuter, Relational.joinFullOuterSql),
    q("join_theta", Relational.joinTheta, Relational.joinThetaSql),
    q("join_salted", Skew.joinSalted, Skew.joinSaltedSql),
    q("window_topk", Relational.windowTopkPerCustomer, Relational.windowTopkSql),
    q("window_analytics", Relational.windowAnalytics, Relational.windowAnalyticsSql),
    q("agg_rollup", Relational.aggRollup, Relational.aggRollupSql),
    q("agg_histogram", Relational.aggHistogram, Relational.aggHistogramSql),
    q("agg_correlation", Relational.aggCorrelation, Relational.aggCorrelationSql),
    q("agg_cube", Relational.aggCube, Relational.aggCubeSql),
    q("agg_distinct", Relational.aggDistinct, Relational.aggDistinctSql),
    q("topk_orders", Relational.topkOrders, Relational.topkOrdersSql),
    q("orders_market_basket", Relational.ordersMarketBasket, Relational.ordersMarketBasketSql),
    q("set_ops", Relational.setOps, Relational.setOpsSql),
    q("scalar_functions", Relational.scalarFunctions, Relational.scalarFunctionsSql),
    q("json_extract", Relational.jsonExtract, Relational.jsonExtractSql),
    // -- Structured Streaming, oracle-gated [EXT]: real micro-batched
    //    streams drained to a sink, hash-compared against batch SQL
    q("stream_hourly_counts", StreamQueries.streamHourlyCounts, StreamQueries.streamHourlyCountsSql),
    q("stream_sessionize", StreamQueries.streamSessionize, StreamQueries.streamSessionizeSql),
    q("stream_dedup", StreamQueries.streamDedup, StreamQueries.streamDedupSql),
    q("stream_late_data", StreamQueries.streamLateData, StreamQueries.streamLateDataSql),
    q("stream_attribution", StreamQueries.streamAttribution, StreamQueries.streamAttributionSql),
    q("stream_minhash", StreamQueries.streamMinhash, StreamQueries.streamMinhashSql),
    // -- event-time windowing [EXT]
    q("events_hourly", Events.eventsHourly, Events.eventsHourlySql),
    q("events_sliding", Events.eventsSliding, Events.eventsSlidingSql),
    q("events_sessionize", Events.eventsSessionize, Events.eventsSessionizeSql),
    q("events_scd2", Events.eventsScd2, Events.eventsScd2Sql),
    q("events_bot_filter", Events.eventsBotFilter, Events.eventsBotFilterSql),
    q("events_stickiness", Events.eventsStickiness, Events.eventsStickinessSql),
    q("events_lifecycle", Events.eventsLifecycle, Events.eventsLifecycleSql),
    q("events_pareto", Events.eventsPareto, Events.eventsParetoSql),
    q("events_funnel", Events.eventsFunnel, Events.eventsFunnelSql),
    q("events_cohorts", Events.eventsCohorts, Events.eventsCohortsSql),
    q("events_outliers", Events.eventsOutliers, Events.eventsOutliersSql),
    q("events_gapfill", Events.eventsGapfill, Events.eventsGapfillSql),
    q("events_retention", Events.eventsRetention, Events.eventsRetentionSql),
    q("events_transitions", Events.eventsTransitions, Events.eventsTransitionsSql),
    q("events_mad_outliers", Events.eventsMadOutliers, Events.eventsMadOutliersSql),
    q("events_rfm", Events.eventsRfm, Events.eventsRfmSql),
    q("events_attribution", Events.eventsAttribution, Events.eventsAttributionSql),
    q("events_path_topk", Events.eventsPathTopk, Events.eventsPathTopkSql),
    q("events_cusum", Events.eventsCusum, Events.eventsCusumSql),
    q("events_ewma", Events.eventsEwma, Events.eventsEwmaSql),
    q("events_trend", Events.eventsTrend, Events.eventsTrendSql),
    q("events_kanon", Events.eventsKanon, Events.eventsKanonSql),
    q("events_ldiversity", Events.eventsLdiversity, Events.eventsLdiversitySql),
    q("events_hll_sliding", Sketches.hllSliding, Sketches.hllSlidingSql),
    q("window_distribution", Relational.windowDistribution, Relational.windowDistributionSql),
    // -- dedup [EXT]
    q("dedup_exact", Dedup.dedupExact, Dedup.dedupExactSql),
    q("dedup_url", Dedup.dedupUrl, Dedup.dedupUrlSql),
    q("dedup_best_quality", Dedup.dedupBestQuality, Dedup.dedupBestQualitySql),
    q("dedup_minhash_lsh", Dedup.dedupMinhashLsh, Dedup.dedupMinhashLshSql),
    q("minhash_signatures", Dedup.minhashSignatures, Dedup.minhashSignaturesSql),
    q("dedup_simhash", Dedup.dedupSimhash, Dedup.dedupSimhashSql),
    q("dedup_simhash_pairs", Dedup.dedupSimhashPairs, Dedup.dedupSimhashPairsSql),
    q("dedup_ngram_jaccard", Dedup.dedupNgramJaccard, Dedup.dedupNgramJaccardSql),
    q("dedup_containment", Dedup.dedupContainment, Dedup.dedupContainmentSql),
    q("dedup_components", Dedup.dedupComponents, Dedup.dedupComponentsSql),
    q("dedup_cluster_sizes", Dedup.dedupClusterSizes, Dedup.dedupClusterSizesSql),
    q("dedup_source_profile", Dedup.dedupSourceProfile, Dedup.dedupSourceProfileSql),
    q("dedup_apply", Dedup.dedupApply, Dedup.dedupApplySql),
    q("dedup_edit_distance", Dedup.dedupEditDistance, Dedup.dedupEditDistanceSql),
    q("eval_minhash", Dedup.evalMinhash, Dedup.evalMinhashSql),
    q("embed_quantize", Similarity.embedQuantize, Similarity.embedQuantizeSql),
    q("embed_centroid_outliers", Similarity.embedCentroidOutliers, Similarity.embedCentroidOutliersSql),
    q("embed_gram", Similarity.embedGram, Similarity.embedGramSql),
    q("embed_pca_project", Similarity.embedPcaProject, Similarity.embedPcaProjectSql),
    // -- text analysis [EXT]
    q("text_tokens", TextAnalysis.textTokens, TextAnalysis.textTokensSql),
    q("text_quality", TextAnalysis.textQuality, TextAnalysis.textQualitySql),
    q("text_langid", TextAnalysis.textLangid, TextAnalysis.textLangidSql),
    q("text_fingerprint", TextAnalysis.textFingerprint, TextAnalysis.textFingerprintSql),
    q("text_pii_redact", TextAnalysis.textPiiRedact, TextAnalysis.textPiiRedactSql),
    q("text_repetition", TextAnalysis.textRepetition, TextAnalysis.textRepetitionSql),
    q("text_ngram_vocab", TextAnalysis.textNgramVocab, TextAnalysis.textNgramVocabSql),
    q("text_boilerplate", TextAnalysis.textBoilerplate, TextAnalysis.textBoilerplateSql),
    q("text_unigram_lm", TextAnalysis.textUnigramLm, TextAnalysis.textUnigramLmSql),
    q("text_bigram_lm", TextAnalysis.textBigramLm, TextAnalysis.textBigramLmSql),
    q("text_collocations", TextAnalysis.textCollocations, TextAnalysis.textCollocationsSql),
    q("text_hashed_features", TextAnalysis.textHashedFeatures, TextAnalysis.textHashedFeaturesSql),
    q("text_chunks", TextAnalysis.textChunks, TextAnalysis.textChunksSql),
    q("text_bm25", TextAnalysis.textBm25, TextAnalysis.textBm25Sql),
    q("text_classifier", TextAnalysis.textClassifier, TextAnalysis.textClassifierSql),
    q("pack_sequences", TextAnalysis.packSequences, TextAnalysis.packSequencesSql),
    q("bpe_merges", TextAnalysis.bpeMerges, TextAnalysis.bpeMergesSql),
    q("bpe_encode", TextAnalysis.bpeEncode, TextAnalysis.bpeEncodeSql),
    q("quality_c4_rules", TextAnalysis.qualityC4Rules, TextAnalysis.qualityC4RulesSql),
    q("quality_gopher_rules", TextAnalysis.qualityGopherRules, TextAnalysis.qualityGopherRulesSql),
    q("quality_perplexity", TextAnalysis.qualityPerplexity, TextAnalysis.qualityPerplexitySql),
    q("text_zipf_fit", TextAnalysis.textZipfFit, TextAnalysis.textZipfFitSql),
    q("text_token_fertility", TextAnalysis.textTokenFertility, TextAnalysis.textTokenFertilitySql),
    q("text_span_dedup", TextAnalysis.textSpanDedup, TextAnalysis.textSpanDedupSql),
    q("text_winnowing", TextAnalysis.textWinnowing, TextAnalysis.textWinnowingSql),
    q("eval_langid", TextAnalysis.evalLangid, TextAnalysis.evalLangidSql),
    q("text_entropy", TextAnalysis.textEntropy, TextAnalysis.textEntropySql),
    q("text_vocab_growth", TextAnalysis.textVocabGrowth, TextAnalysis.textVocabGrowthSql),
    // -- deterministic sampling / dataset splitting [EXT]
    q("sample_split", Sampling.sampleSplit, Sampling.sampleSplitSql),
    q("sample_stratified", Sampling.sampleStratified, Sampling.sampleStratifiedSql),
    q("sample_weighted", Sampling.sampleWeighted, Sampling.sampleWeightedSql),
    q("sample_token_budget", Sampling.sampleTokenBudget, Sampling.sampleTokenBudgetSql),
    q("mix_domain_weights", Sampling.mixDomainWeights, Sampling.mixDomainWeightsSql),
    q("mix_upsample_epochs", Sampling.mixUpsampleEpochs, Sampling.mixUpsampleEpochsSql),
    q("corpus_ngram_coverage", Sampling.corpusNgramCoverage, Sampling.corpusNgramCoverageSql),
    q("mix_kl_divergence", Sampling.mixKlDivergence, Sampling.mixKlDivergenceSql),
    q("text_rake_keywords", TextAnalysis.textRakeKeywords, TextAnalysis.textRakeKeywordsSql),
    q("text_kneser_ney", TextAnalysis.textKneserNey, TextAnalysis.textKneserNeySql),
    q("text_burstiness", TextAnalysis.textBurstiness, TextAnalysis.textBurstinessSql),
    q("text_bigram_coverage", TextAnalysis.textBigramCoverage, TextAnalysis.textBigramCoverageSql),
    q("text_branching_entropy", TextAnalysis.textBranchingEntropy, TextAnalysis.textBranchingEntropySql),
    q("mix_js_divergence", Sampling.mixJsDivergence, Sampling.mixJsDivergenceSql),
    q("embed_pq_distortion", Similarity.embedPqDistortion, Similarity.embedPqDistortionSql),
    q("corpus_shuffle_shard", Sampling.corpusShuffleShard, Sampling.corpusShuffleShardSql),
    q("split_contamination", Sampling.splitContamination, Sampling.splitContaminationSql),
    q("split_ngram_decontam", Sampling.splitNgramDecontam, Sampling.splitNgramDecontamSql),
    q("split_semantic_decontam", Similarity.splitSemanticDecontam, Similarity.splitSemanticDecontamSql),
    q("mix_domains", Sampling.mixDomains, Sampling.mixDomainsSql),
    q("dsir_importance", Sampling.dsirImportance, Sampling.dsirImportanceSql),
    q("mix_temperature", Sampling.mixTemperature, Sampling.mixTemperatureSql),
    q("corpus_prep", Pipeline.corpusPrep, Pipeline.corpusPrepSql),
    q("corpus_attrition", Pipeline.corpusAttrition, Pipeline.corpusAttritionSql),
    q("dedup_substr", Dedup.dedupSubstr, Dedup.dedupSubstrSql),
    q("dedup_suffix_array", Dedup.dedupSuffixArray, Dedup.dedupSuffixArraySql),
    q("dedup_incr", Dedup.dedupIncremental, Dedup.dedupIncrementalSql),
    q("graph_pagerank", Graph.graphPagerank, Graph.graphPagerankSql),
    q("graph_triangles", Graph.graphTriangles, Graph.graphTrianglesSql),
    q("graph_bfs", Graph.graphBfs, Graph.graphBfsSql),
    q("graph_sssp", Graph.graphSssp, Graph.graphSsspSql),
    q("graph_label_propagation", Graph.graphLabelProp, Graph.graphLabelPropSql),
    q("graph_kcore", Graph.graphKcore, Graph.graphKcoreSql),
    q("graph_hits", Graph.graphHits, Graph.graphHitsSql),
    q("graph_common_neighbors", Graph.graphCommonNeighbors, Graph.graphCommonNeighborsSql),
    q("graph_jaccard_links", Graph.graphJaccardLinks, Graph.graphJaccardLinksSql),
    q("graph_clustering_coeff", Graph.graphClusteringCoeff, Graph.graphClusteringCoeffSql),
    q("graph_modularity", Graph.graphModularity, Graph.graphModularitySql),
    q("graph_assortativity", Graph.graphAssortativity, Graph.graphAssortativitySql),
    // -- similarity search [EXT]
    q("ann_bruteforce_topk", Similarity.annBruteforceTopk, Similarity.annBruteforceTopkSql),
    q("ann_ivf_topk", Similarity.annIvfTopk, Similarity.annIvfTopkSql),
    q("ann_filtered_topk", Similarity.annFilteredTopk, Similarity.annFilteredTopkSql),
    q("ann_range_search", Similarity.annRangeSearch, Similarity.annRangeSearchSql),
    q("ann_multiprobe_lsh", Similarity.annMultiprobeLsh, Similarity.annMultiprobeLshSql),
    q("eval_clustering", Similarity.evalClustering, Similarity.evalClusteringSql),
    q("eval_knn_label", Similarity.evalKnnLabel, Similarity.evalKnnLabelSql),
    q("ann_hard_negatives", Similarity.annHardNegatives, Similarity.annHardNegativesSql),
    q("ann_kmeans_topk", Similarity.annKmeansTopk, Similarity.annKmeansTopkSql),
    q("ann_lsh_buckets", Similarity.annLshBuckets, Similarity.annLshBucketsSql),
    q("ann_rerank", Similarity.annRerank, Similarity.annRerankSql),
    q("ann_pq_topk", Similarity.annPqTopk, Similarity.annPqTopkSql),
    q("ann_ivfpq_topk", Similarity.annIvfpqTopk, Similarity.annIvfpqTopkSql),
    q("embed_matryoshka", Similarity.embedMatryoshka, Similarity.embedMatryoshkaSql),
    q("ann_hybrid_rrf", Similarity.annHybridRrf, Similarity.annHybridRrfSql),
    q("dedup_embedding", Similarity.dedupEmbedding, Similarity.dedupEmbeddingSql),
    q("dedup_semantic", Similarity.dedupSemantic, Similarity.dedupSemanticSql),
    q("ann_nndescent", Similarity.annNndescent, Similarity.annNndescentSql),
    q("eval_retrieval", Similarity.evalRetrieval, Similarity.evalRetrievalSql),
    // -- multimodal binary columns [EXT]
    q("media_features", Multimodal.mediaFeatures, Multimodal.mediaFeaturesSql),
    q("media_frames", Multimodal.mediaFrames, Multimodal.mediaFramesSql),
    q("media_dedup", Multimodal.mediaDedup, Multimodal.mediaDedupSql),
    q("media_frame_dedup", Multimodal.mediaFrameDedup, Multimodal.mediaFrameDedupSql),
    q("media_phash", Multimodal.mediaPhash, Multimodal.mediaPhashSql),
    q("media_resize", Multimodal.mediaResize, Multimodal.mediaResizeSql),
    // -- extended joins (as-of, range) [EXT]
    q("join_asof_clicks", JoinsExt.joinAsofClicks, JoinsExt.joinAsofClicksSql),
    q("join_asof_native", JoinsExt.joinAsofNative, JoinsExt.joinAsofClicksSql), // native exec
    q("join_asof_nearest", JoinsExt.joinAsofNearest, JoinsExt.joinAsofNearestSql),
    q("join_range_price", JoinsExt.joinRangePrice, JoinsExt.joinRangePriceSql),
    q("join_interval_overlap", JoinsExt.joinIntervalOverlap, JoinsExt.joinIntervalOverlapSql),
    // -- grouping sets, tf-idf, sketches [EXT]
    q("agg_grouping_sets", Relational.aggGroupingSets, Relational.aggGroupingSetsSql),
    q("agg_percentiles", Relational.aggPercentiles, Relational.aggPercentilesSql),
    q("agg_pivot", Relational.aggPivot, Relational.aggPivotSql),
    q("agg_approx", Relational.aggApprox, Relational.aggApproxSql),
    q("agg_argmax", Relational.aggArgmax, Relational.aggArgmaxSql),
    q("window_range_frame", Relational.windowRangeFrame, Relational.windowRangeFrameSql),
    q("map_functions", Relational.mapFunctions, Relational.mapFunctionsSql),
    q("subquery_correlated", Relational.subqueryCorrelated, Relational.subqueryCorrelatedSql),
    q("text_tfidf", TextAnalysis.textTfidf, TextAnalysis.textTfidfSql),
    q("kmv_distinct", Sketches.kmvDistinct, Sketches.kmvDistinctSql),
    q("kmv_overlap", Sketches.kmvOverlap, Sketches.kmvOverlapSql),
    q("quantile_sketch", Sketches.quantileSketch, Sketches.quantileSketchSql),
    q("hll_distinct", Sketches.hllDistinct, Sketches.hllDistinctSql),
    q("hll_native", Sketches.hllNative, Sketches.hllDistinctSql), // same semantics, native UDAF
    q("cms_heavy_hitters", Sketches.cmsHeavyHitters, Sketches.cmsHeavyHittersSql),
    q("bloom_membership", Sketches.bloomMembership, Sketches.bloomMembershipSql),
    q("data_profile", Profiling.dataProfile, Profiling.dataProfileSql),
    q("stats_ks_drift", Profiling.statsKsDrift, Profiling.statsKsDriftSql),
    q("stats_psi_drift", Profiling.statsPsiDrift, Profiling.statsPsiDriftSql),
    q("stats_chi2_drift", Profiling.statsChi2Drift, Profiling.statsChi2DriftSql),
    q("layout_zorder", Layout.layoutZorder, Layout.layoutZorderSql),
    q("layout_binpack", Layout.layoutBinpack, Layout.layoutBinpackSql)
  )
  for ((name, rows) <- table.groupBy(_.name))
    require(rows.size == 1, s"query $name is declared ${rows.size} times")

  /** Every query's DataFrame function, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    table.map(e => e.name -> e.build).toMap

  /** Every query's DuckDB oracle SQL, by name: the same key set as `queries`. */
  lazy val oracleSql: Map[String, String] = table.map(e => e.name -> e.oracle).toMap
}
