package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Skew
import graft.operators.{AsOf, Corpus, Dedup, Events, Graph, Profiling, RangeJoin, Relational, Sampling, Similarity, TextOps}
import graft.multimodal.Multimodal
import graft.sources.Writers
import graft.streaming.EventStream

/** One registered query: its engine function and the DuckDB SQL that must
  * return the same rows, or no SQL for a rows-only query. The SQL is built
  * on first read, so listing the queries initializes no operator object. */
final class Query private (val name: String, val run: Query.Fn, sql: () => Option[String]) {
  lazy val oracle: Option[String] = sql()
}

object Query {
  type Fn = (SparkSession, String) => DataFrame
  def apply(name: String, run: Fn, oracle: => String): Query =
    new Query(name, run, () => Some(oracle))
  /** A query with no exact DuckDB twin; it is held against its exact twin
    * instead (HLL++ sketches: Verify's sketch bounds, SketchSpec). */
  def rowsOnly(name: String, run: Fn): Query = new Query(name, run, () => None)
}

/** Driver contract — see SURVEY.md §7.
  *
  * `registry` is the operator inventory made executable: one entry per
  * implemented operator (SURVEY.md §2 + the training-pipeline extensions),
  * with the DuckDB-equivalent SQL of every SQL-expressible one.
  * Probabilistic operators (MinHash LSH, sign-LSH ANN, SimHash, heuristic
  * language ID) are verified statistically in ScalaTest as well
  * (recall/precision against their exact counterparts).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q03RevenueByNation(spark, "/root/testdata/sf0.001")

  lazy val registry: Seq[Query] = Relational.registry ++ Seq(
    // reference applications, engine path + declarative path
    Query("wc_maple_juice", TextOps.wcMapleJuice _, TextOps.wcOracle),
    Query("wc_dataframe", TextOps.wcDataFrame _, TextOps.wcOracle),
    Query("wc_maple_juice_agg", TextOps.wcMapleJuiceAggregated _, TextOps.wcOracle),
    Query("rwlg_maple_juice", TextOps.rwlgMapleJuice _, TextOps.rwlgOracle),
    Query("rwlg_dataframe", TextOps.rwlgDataFrame _, TextOps.rwlgOracle),
    // text analysis
    Query("text_token_stats", TextOps.tokenStats _, TextOps.tokenStatsOracle),
    Query("text_chunks", TextOps.chunkDocuments _, TextOps.chunkDocumentsOracle),
    Query("text_bpe_tokens", TextOps.bpeTokens _, TextOps.bpeTokensOracle),
    Query("text_bpe_merges", TextOps.bpeMergeCandidates _, TextOps.bpeMergeCandidatesOracle),
    Query("text_bpe_train", TextOps.bpeTrain _, TextOps.bpeTrainOracle),
    Query("text_bpe_apply", TextOps.bpeApply _, TextOps.bpeApplyOracle),
    Query("text_vocab_coverage", TextOps.vocabCoverage _, TextOps.vocabCoverageOracle),
    Query("text_quality_score", TextOps.qualityScore _, TextOps.qualityScoreOracle),
    Query("text_quality_filter", TextOps.qualityQuantileFilter _,
      TextOps.qualityQuantileFilterOracle),
    Query("text_gopher_rules", TextOps.gopherRules _, TextOps.gopherRulesOracle),
    Query("text_fingerprint", TextOps.fingerprint _, TextOps.fingerprintOracle),
    Query("text_winnow_fingerprints", TextOps.winnowFingerprints _,
      TextOps.winnowFingerprintsOracle),
    Query("dedup_winnow_candidates", TextOps.winnowCandidates _, TextOps.winnowCandidatesOracle),
    Query("text_langid", TextOps.langId _, TextOps.langIdOracle),
    Query("text_redact_pii", (s, d) => TextOps.redactPii(s, d), TextOps.redactPiiOracle),
    Query("text_blocklist_filter", TextOps.blocklistFilter _, TextOps.blocklistFilterOracle),
    Query("text_c4_line_clean", TextOps.c4LineClean _, TextOps.c4LineCleanOracle),
    Query("text_inverted_index", TextOps.invertedIndex _, TextOps.invertedIndexOracle),
    Query("text_repetition", TextOps.repetitionSignals _, TextOps.repetitionSignalsOracle),
    Query("text_charclass_profile", TextOps.charclassProfile _, TextOps.charclassProfileOracle),
    // corpus provenance / mixture layer
    Query("text_source_stats", Corpus.sourceStats _, Corpus.sourceStatsOracle),
    Query("corpus_dataset_card", Corpus.datasetCard _, Corpus.datasetCardOracle),
    Query("train_mix_weights", Corpus.mixWeights _, Corpus.mixWeightsOracle),
    Query("text_tfidf_top_terms", Corpus.tfidfTopTerms _, Corpus.tfidfTopTermsOracle),
    Query("text_lm_bits", Corpus.lmBits _, Corpus.lmBitsOracle),
    Query("train_dsir_weights", Corpus.dsirWeights _, Corpus.dsirWeightsOracle),
    Query("text_nb_quality", Corpus.nbQuality _, Corpus.nbQualityOracle),
    Query("dedup_cross_source", Corpus.crossSourceOverlap _, Corpus.crossSourceOverlapOracle),
    Query("text_ccnet_buckets", Corpus.ccnetBuckets _, Corpus.ccnetBucketsOracle),
    Query("text_bm25_topk", Corpus.bm25TopK _, Corpus.bm25TopKOracle),
    Query("retrieval_hybrid_rrf", Corpus.hybridRrfTopK _, Corpus.hybridRrfTopKOracle),
    Query("retrieval_rm3_expand", Corpus.rm3Expand _, Corpus.rm3ExpandOracle),
    Query("retrieval_phrase_match", Corpus.phraseMatch _, Corpus.phraseMatchOracle),
    Query("retrieval_eval_report", Corpus.retrievalEvalReport _, Corpus.retrievalEvalReportOracle),
    Query("corpus_length_histogram", Corpus.lengthHistogram _, Corpus.lengthHistogramOracle),
    Query("corpus_ngram_diversity", Corpus.ngramDiversity _, Corpus.ngramDiversityOracle),
    Query("corpus_ngram_novelty", Corpus.ngramNovelty _, Corpus.ngramNoveltyOracle),
    Query("corpus_domain_js", Corpus.domainJs _, Corpus.domainJsOracle),
    Query("text_kn_bigram", Corpus.knBigram _, Corpus.knBigramOracle),
    Query("text_kn_score", Corpus.knScore _, Corpus.knScoreOracle),
    Query("train_contrastive_triplets", Similarity.contrastiveTriplets _,
      Similarity.contrastiveTripletsOracle),
    Query("train_token_budget", Corpus.tokenBudget _, Corpus.tokenBudgetOracle),
    Query("train_epoch_plan", Corpus.epochPlan _, Corpus.epochPlanOracle),
    Query("train_sampling_temperature", Corpus.samplingTemperature _,
      Corpus.samplingTemperatureOracle),
    // link-graph analytics
    Query("graph_pagerank", Graph.pageRank _, Graph.pageRankOracle),
    Query("graph_triangles", Graph.triangleCounts _, Graph.triangleCountsOracle),
    Query("graph_triangles_approx", Graph.triangleCountApprox _, Graph.triangleCountApproxOracle),
    Query("graph_components", Graph.components _, Graph.componentsOracle),
    Query("graph_kcore", Graph.kcore _, Graph.kcoreOracle),
    Query("graph_degree_histogram", Graph.degreeHistogram _, Graph.degreeHistogramOracle),
    Query("graph_label_prop", Graph.labelPropagation _, Graph.labelPropagationOracle),
    Query("graph_ppr", Graph.personalizedPageRank _, Graph.personalizedPageRankOracle),
    Query("graph_bfs_layers", Graph.bfsLayers _, Graph.bfsLayersOracle),
    Query("graph_hits", Graph.hits _, Graph.hitsOracle),
    Query("graph_random_walks", Graph.randomWalks _, Graph.randomWalksOracle),
    Query("graph_jaccard_neighbors", Graph.jaccardNeighbors _, Graph.jaccardNeighborsOracle),
    Query("graph_modularity", Graph.modularity _, Graph.modularityOracle),
    Query("graph_adamic_adar", Graph.adamicAdar _, Graph.adamicAdarOracle),
    Query("orders_basket_rules", Graph.basketRules _, Graph.basketRulesOracle),
    // batch event analytics
    Query("events_funnel", Events.eventFunnel _, Events.eventFunnelOracle),
    Query("events_retention", Events.retentionCohorts _, Events.retentionCohortsOracle),
    Query("events_anomaly", Events.anomalyWindows _, Events.anomalyWindowsOracle),
    Query("events_anomaly_mad", Events.madAnomalyWindows _, Events.madAnomalyWindowsOracle),
    Query("events_transitions", Events.typeTransitions _, Events.typeTransitionsOracle),
    Query("events_transitions_skewres", Events.typeTransitionsSkewResistant _,
      Events.typeTransitionsOracle),
    Query("events_attribution", Events.attribution _, Events.attributionOracle),
    Query("events_cohort_ltv", Events.cohortLtv _, Events.cohortLtvOracle),
    Query("stream_lateness_advisor", Events.latenessAdvisor _, Events.latenessAdvisorOracle),
    // deduplication
    Query("dedup_exact", Dedup.exactDedup _, Dedup.exactDedupOracle),
    Query("dedup_ngram_jaccard", Dedup.ngramJaccardPairs _, Dedup.ngramJaccardOracle),
    Query("dedup_clusters", Dedup.dedupClusters _, Dedup.dedupClustersOracle),
    Query("dedup_minhash_lsh", Dedup.minhashLshPairs _, Dedup.minhashLshOracle),
    Query("dedup_sketch_recall", Dedup.sketchRecallReport _, Dedup.sketchRecallReportOracle),
    Query("dedup_simhash", Dedup.simhashPairs _, Dedup.simhashPairsOracle),
    Query("dedup_embedding_cosine", Dedup.embeddingPairs _, Dedup.embeddingPairsOracle),
    Query("dedup_keep_list", Dedup.keepList _, Dedup.keepListOracle),
    Query("dedup_contamination", Dedup.contamination _, Dedup.contaminationOracle),
    Query("dedup_contamination_bloom", Dedup.bloomContamination _, Dedup.bloomContaminationOracle),
    Query("dedup_contamination_fuzzy", Dedup.fuzzyContamination _, Dedup.fuzzyContaminationOracle),
    Query("dedup_contamination_semantic", Dedup.semanticContamination _,
      Dedup.semanticContaminationOracle),
    Query("dedup_contamination_report", Dedup.contaminationReport _,
      Dedup.contaminationReportOracle),
    Query("dedup_ingest_batch", Dedup.ingestBatchDedup _, Dedup.ingestBatchDedupOracle),
    Query("dedup_duplicate_spans", Dedup.duplicateSpans _, Dedup.duplicateSpansOracle),
    Query("dedup_span_clean", Dedup.spanCleanedDocs _, Dedup.spanCleanedDocsOracle),
    Query("dedup_paragraphs", Dedup.paragraphDedup _, Dedup.paragraphDedupOracle),
    Query("dedup_soft_weights", Dedup.softDedupWeights _, Dedup.softDedupWeightsOracle),
    Query("dedup_keep_best", Dedup.keepBest _, Dedup.keepBestOracle),
    Query("er_blocked_matches", Dedup.erBlockedMatches _, Dedup.erBlockedMatchesOracle),
    // similarity search
    Query("ann_brute_topk", Similarity.annBruteTopK _, Similarity.annBruteTopKOracle),
    Query("ann_lsh_topk", Similarity.annLshTopK _, Similarity.annLshTopKOracle),
    Query("ann_ivf_topk", Similarity.annIvfTopK _, Similarity.annIvfTopKOracle),
    Query("ann_pq_topk", Similarity.annPqTopK _, Similarity.annPqTopKOracle),
    Query("ann_ivfpq_topk", Similarity.annIvfPqTopK _, Similarity.annIvfPqTopKOracle),
    Query("ann_filtered_topk", Similarity.annFilteredTopK _, Similarity.annFilteredTopKOracle),
    Query("ann_filtered_brute", Similarity.annFilteredBruteTopK _,
      Similarity.annFilteredBruteTopKOracle),
    Query("ann_hardneg_topk", Similarity.annHardNegatives _, Similarity.annHardNegativesOracle),
    Query("ann_hardneg_brute", Similarity.annHardNegBruteTopK _,
      Similarity.annHardNegBruteTopKOracle),
    Query("mine_bitext_margin", Similarity.bitextMarginPairs _, Similarity.bitextMarginPairsOracle),
    Query("embed_cluster_profile", Similarity.clusterProfile _, Similarity.clusterProfileOracle),
    Query("embed_cluster_terms", Similarity.clusterTerms _, Similarity.clusterTermsOracle),
    Query("embed_drift_report", Similarity.embedDriftReport _, Similarity.embedDriftReportOracle),
    Query("embed_power_iteration", Similarity.powerIteration _, Similarity.powerIterationOracle),
    Query("ann_recall_report", Similarity.annRecallReport _, Similarity.annRecallReportOracle),
    Query("dedup_semantic", Similarity.semanticDedup _, Similarity.semanticDedupOracle),
    Query("embed_quantize_int8", Similarity.quantizeStats _, Similarity.quantizeStatsOracle),
    Query("embed_reduce_rp", Similarity.reduceEmbeddings _, Similarity.reduceEmbeddingsOracle),
    Query("embed_pq_codes", Similarity.pqCodes _, Similarity.pqCodesOracle),
    Query("embed_matryoshka_report", Similarity.matryoshkaReport _,
      Similarity.matryoshkaReportOracle),
    // profiling + merge
    Query("profile_lineitem", Profiling.profileLineitem _, Profiling.profileLineitemOracle),
    Query.rowsOnly("profile_lineitem_approx", Profiling.profileLineitemApprox _),
    Query("merge_upsert", Profiling.mergeUpsert _, Profiling.mergeUpsertOracle),
    Query("profile_hot_keys", Profiling.hotKeys _, Profiling.hotKeysOracle),
    Query("profile_correlations", Profiling.correlations _, Profiling.correlationsOracle),
    Query("profile_entropy", Profiling.entropy _, Profiling.entropyOracle),
    Query("merge_incremental_agg", Profiling.incrementalAgg _, Profiling.incrementalAggOracle),
    Query("orders_rfm_segments", Profiling.rfmSegments _, Profiling.rfmSegmentsOracle),
    Query("orders_abc_pareto", Profiling.abcPareto _, Profiling.abcParetoOracle),
    Query("audit_integrity", Profiling.auditIntegrity _, Profiling.auditIntegrityOracle),
    Query("corpus_snapshot_diff", Profiling.snapshotDiff _, Profiling.snapshotDiffOracle),
    // dataset curation
    Query("sample_stratified", (s, d) => Sampling.stratifiedSample(s, d),
      Sampling.stratifiedSampleOracle),
    Query("train_shards", (s, d) => Sampling.trainShards(s, d), Sampling.trainShardsOracle),
    Query("train_test_split", Sampling.trainTestSplit _, Sampling.trainTestSplitOracle),
    Query("train_curriculum_order", Sampling.curriculumOrder _, Sampling.curriculumOrderOracle),
    Query("curation_pipeline", (s, d) => Sampling.curationPipeline(s, d),
      Sampling.curationPipelineOracle),
    Query("pack_sequences", Sampling.packSequences _, Sampling.packSequencesOracle),
    Query("pack_efficiency", Sampling.packEfficiency _, Sampling.packEfficiencyOracle),
    Query("scd2_history", Profiling.scd2History _, Profiling.scd2HistoryOracle),
    Query("scd2_history_skewres", Profiling.scd2HistorySkewResistant _,
      Profiling.scd2HistoryOracle),
    // source formats
    Query("source_jsonl_roundtrip", Writers.jsonlRoundtrip _, Writers.jsonlRoundtripOracle),
    Query("source_csv_roundtrip", Writers.csvRoundtrip _, Writers.csvRoundtripOracle),
    Query("orders_zorder_index", Writers.zorderIndex _, Writers.zorderIndexOracle),
    Query("files_compact_plan", Writers.compactionPlan _, Writers.compactionPlanOracle),
    Query("layout_skipping_report", Writers.layoutSkippingReport _,
      Writers.layoutSkippingReportOracle),
    // multimodal plumbing
    Query("multimodal_decode_meta", Multimodal.decodeMeta _, Multimodal.decodeMetaOracle),
    Query("multimodal_features", Multimodal.extractFeatures _, Multimodal.extractFeaturesOracle),
    Query("multimodal_resize", Multimodal.resizePayloads _, Multimodal.resizePayloadsOracle),
    Query("multimodal_frame_sample", Multimodal.frameSample _, Multimodal.frameSampleOracle),
    Query("multimodal_phash_pairs", Multimodal.phashPairs _, Multimodal.phashPairsOracle),
    Query("multimodal_exact_dedup", Multimodal.exactDedup _, Multimodal.exactDedupOracle),
    // as-of + range joins
    Query("asof_purchase_view", AsOf.purchaseToLastView _, AsOf.purchaseToLastViewOracle),
    Query("asof_next_view", AsOf.purchaseToNextView _, AsOf.purchaseToNextViewOracle),
    Query("range_join_events", RangeJoin.errorsNearClicks _, RangeJoin.errorsNearClicksOracle),
    // streaming
    Query("stream_event_windows", EventStream.runWindowedCountsBatch _,
      Relational.q20EventWindowsOracle),
    Query("stream_sessionize_batch", EventStream.sessionizeBatchEquivalent _,
      Relational.q21SessionizeOracle),
    Query("stream_sessionize_skewres", EventStream.sessionizeSkewResistant _,
      Relational.q21SessionizeOracle),
    Query("stream_dedup", EventStream.streamingDedupBatch _, EventStream.streamingDedupOracle),
    Query("stream_decontaminate", EventStream.streamingDecontaminateBatch _,
      Dedup.bloomContaminationOracle),
    Query("stream_topk_types", EventStream.runTopKTypesBatch _, EventStream.topKTypesOracle),
    Query("stream_funnel", EventStream.runFunnelUsersBatch _, EventStream.funnelUsersOracle),
    Query("stream_interval_join", EventStream.runIntervalJoinBatch _,
      EventStream.intervalJoinOracle),
    // skew mitigation
    Query("skew_salted_agg", Skew.saltedAggQuery _, Skew.saltedAggOracle),
    Query("skew_replicated_join", Skew.replicatedJoinQuery _, Skew.replicatedJoinOracle),
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
