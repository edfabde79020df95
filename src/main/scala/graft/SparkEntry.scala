package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Analytics, Clustering, CorpusStats, Curation, Dedup, Layout, ModelCuration, WebCuration, MultimodalQ, Pipeline, Profiling, Relational, RelationalExt, RelationalTpch, Retrieval, Similarity, Streaming, Temporal, TextOps, TrainingData, WindowsExt}

/** The engine's query contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 is exposed as a named query
  * over the testdata parquet tables, and every query has a DuckDB oracle
  * with identical column names and ORDER BY. [[registry]] declares each
  * one once; [[queries]] and [[oracleSql]] are derived from it.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** One registered query: its name, its plan over (session, sfDir) and
    * its DuckDB oracle SQL.
    */
  final case class Query(name: String, plan: (SparkSession, String) => DataFrame,
      oracleSql: String)

  val registry: Seq[Query] = Seq(
    Query("q01_pricing_summary", Relational.q01PricingSummary, Relational.q01Sql),
    Query("q02_revenue_by_nation", Relational.q02RevenueByNation, Relational.q02Sql),
    Query("q03_top_orders", Relational.q03TopOrders, Relational.q03Sql),
    Query("q04_rank_per_customer", Relational.q04TopOrdersPerCustomer, Relational.q04Sql),
    Query("q05_running_spend", Relational.q05RunningSpend, Relational.q05Sql),
    Query("q06_order_gaps", Relational.q06OrderGaps, Relational.q06Sql),
    Query("q07_set_ops", Relational.q07SetOps, Relational.q07Sql),
    Query("q08_semi_join", Relational.q08SemiJoin, Relational.q08Sql),
    Query("q09_anti_join", Relational.q09AntiJoin, Relational.q09Sql),
    Query("q10_customer_spend", Relational.q10CustomerSpend, Relational.q10Sql),
    Query("q11_rollup", Relational.q11Rollup, Relational.q11Sql),
    Query("q12_distinct_agg", Relational.q12DistinctCustomers, Relational.q12Sql),
    Query("q13_string_funcs", Relational.q13StringFuncs, Relational.q13Sql),
    Query("q14_date_funcs", Relational.q14DateFuncs, Relational.q14Sql),
    Query("q15_json_extract", Relational.q15JsonExtract, Relational.q15Sql),
    Query("q16_tumbling_window", Relational.q16TumblingWindow, Relational.q16Sql),
    Query("q17_lang_id", TextOps.q17LangId, TextOps.q17Sql),
    Query("q18_text_quality", TextOps.q18TextQuality, TextOps.q18Sql),
    Query("q19_token_count", TextOps.q19TokenCount, TextOps.q19Sql),
    Query("q20_fingerprint", TextOps.q20Fingerprint, TextOps.q20Sql),
    Query("q21_dedup_exact", Dedup.q21DedupExact, Dedup.q21Sql),
    Query("q22_ngram_jaccard", Dedup.q22NgramJaccard, Dedup.q22Sql),
    Query("q23_minhash_lsh", Dedup.q23MinHashLsh, Dedup.q23Sql),
    Query("q24_simhash", Dedup.q24SimHash, Dedup.q24Sql),
    Query("q25_cosine_topk", Similarity.q25CosineTopK, Similarity.q25Sql),
    Query("q26_ann_lsh", Similarity.q26AnnLsh, Similarity.q26Sql),
    Query("q27_session_window", Streaming.q27SessionWindow, Streaming.q27Sql),
    Query("q28_sliding_window", Streaming.q28SlidingWindow, Streaming.q28Sql),
    Query("q29_pipeline_roundtrip", Pipeline.q29PipelineRoundtrip, Pipeline.q29Sql),
    Query("q30_cube", RelationalExt.q30Cube, RelationalExt.q30Sql),
    Query("q31_pivot", RelationalExt.q31Pivot, RelationalExt.q31Sql),
    Query("q32_cross_join", RelationalExt.q32CrossJoin, RelationalExt.q32Sql),
    Query("q33_full_outer", RelationalExt.q33FullOuter, RelationalExt.q33Sql),
    Query("q34_udf_surface", RelationalExt.q34UdfSurface, RelationalExt.q34Sql),
    // q35's oracle is a BOUND CONTRACT (r13): the engine emits its own
    // within-envelope verdict next to the exact count, the oracle emits
    // TRUE from exact counts — the hash match proves the HLL error bound
    // held (sketch values themselves are engine-specific, cf. q67's
    // band-aware pattern).
    Query("q35_approx_distinct", RelationalExt.q35ApproxDistinct, RelationalExt.q35Sql),
    Query("q36_multimodal_meta", MultimodalQ.q36MultimodalMeta, MultimodalQ.q36Sql),
    Query("q37_asof_join", Temporal.q37AsofJoin, Temporal.q37Sql),
    Query("q38_percentiles", Temporal.q38Percentiles, Temporal.q38Sql),
    Query("q39_ann_ivf", Similarity.q39AnnIvf, Similarity.q39Sql),
    Query("q40_embedding_neardup", Similarity.q40EmbeddingNearDup, Similarity.q40Sql),
    Query("q41_array_funcs", RelationalExt.q41ArrayFuncs, RelationalExt.q41Sql),
    Query("q42_window_features", WindowsExt.q42WindowFeatures, WindowsExt.q42Sql),
    Query("q43_subqueries", WindowsExt.q43Subqueries, WindowsExt.q43Sql),
    Query("q44_grouping_sets", RelationalExt.q44GroupingSets, RelationalExt.q44Sql),
    Query("q45_dedup_components", Dedup.q45DedupComponents, Dedup.q45Sql),
    Query("q46_gap_fill", Temporal.q46GapFill, Temporal.q46Sql),
    Query("q47_stratified_sample", TrainingData.q47StratifiedSample, TrainingData.q47Sql),
    Query("q48_split_assign", TrainingData.q48SplitAssign, TrainingData.q48Sql),
    Query("q49_source_mixture", TrainingData.q49SourceMixture, TrainingData.q49Sql),
    Query("q50_id_densify", TrainingData.q50IdDensify, TrainingData.q50Sql),
    Query("q51_repetition_stats", TrainingData.q51RepetitionStats, TrainingData.q51Sql),
    Query("q52_heavy_hitters", TrainingData.q52HeavyHitters, TrainingData.q52Sql),
    Query("q53_tfidf", TrainingData.q53Tfidf, TrainingData.q53Sql),
    Query("q54_range_join", TrainingData.q54RangeJoin, TrainingData.q54Sql),
    // q55: bound contract like q35 — engine emits its own GK rank-error
    // verdict, oracle emits TRUE + the exact percentiles (6dp agreement
    // proven by q38).
    Query("q55_approx_quantiles", Temporal.q55ApproxQuantiles, Temporal.q55Sql),
    Query("q56_chunk_documents", TrainingData.q56ChunkDocuments, TrainingData.q56Sql),
    Query("q57_corpus_shuffle", TrainingData.q57CorpusShuffle, TrainingData.q57Sql),
    Query("q58_curation_funnel", TrainingData.q58CurationFunnel, TrainingData.q58Sql),
    Query("q59_sequence_packing", TrainingData.q59SequencePacking, TrainingData.q59Sql),
    Query("q60_decontamination", TrainingData.q60Decontamination, TrainingData.q60Sql),
    Query("q61_embedding_quantize", Similarity.q61EmbeddingQuantize, Similarity.q61Sql),
    Query("q62_shipping_priority", RelationalTpch.q62ShippingPriority, RelationalTpch.q62Sql),
    Query("q63_volume_shipping", RelationalTpch.q63VolumeShipping, RelationalTpch.q63Sql),
    Query("q64_large_orders", RelationalTpch.q64LargeOrders, RelationalTpch.q64Sql),
    Query("q65_fixed_sample", TrainingData.q65FixedSample, TrainingData.q65Sql),
    Query("q66_semantic_decontam", TrainingData.q66SemanticDecontam, TrainingData.q66Sql),
    // q67's oracle is BAND-AWARE (derives the same adaptive LSH rung and
    // band signatures from the corpus row count): engine ≡ oracle is
    // deterministic at every scale, while recall vs the exact q40 pair
    // set stays a MEASUREMENT (1.0 at fixture scales per the q67 ≡ q40
    // unit test; reported at scale by the sf1 sweep).
    Query("q67_neardup_lsh", Similarity.q67NearDupLsh, Similarity.q67Sql),
    Query("q68_anonymize_audit", Profiling.q68AnonymizeAudit, Profiling.q68Sql),
    Query("q69_boilerplate", Curation.q69BoilerplatePassages, Curation.q69Sql),
    Query("q70_bloom_decontam", Curation.q70BloomDecontam, Curation.q70Sql),
    Query("q71_numeric_profile", Profiling.q71NumericProfile, Profiling.q71Sql),
    Query("q72_typed_sessionize", Streaming.q72TypedSessionize, Streaming.q72Sql),
    Query("q73_price_histogram", Profiling.q73PriceHistogram, Profiling.q73Sql),
    Query("q74_temp_mixture", CorpusStats.q74TempMixture, CorpusStats.q74Sql),
    Query("q75_cluster_sizes", CorpusStats.q75ClusterSizes, CorpusStats.q75Sql),
    Query("q76_outlier_fences", CorpusStats.q76OutlierFences, CorpusStats.q76Sql),
    Query("q77_event_funnel", Analytics.q77EventFunnel, Analytics.q77Sql),
    Query("q78_retention_cohort", Analytics.q78RetentionCohort, Analytics.q78Sql),
    Query("q79_weighted_sample", CorpusStats.q79WeightedSample, CorpusStats.q79Sql),
    Query("q80_source_jaccard", CorpusStats.q80SourceJaccard, CorpusStats.q80Sql),
    Query("q81_equidepth_hist", Profiling.q81EquiDepthHistogram, Profiling.q81Sql),
    Query("q82_keeper_selection", Curation.q82KeeperSelection, Curation.q82Sql),
    Query("q83_passage_dedup", Curation.q83PassageDedup, Curation.q83Sql),
    Query("q84_unigram_surprisal", CorpusStats.q84UnigramSurprisal, CorpusStats.q84Sql),
    Query("q85_kmeans_iteration", Similarity.q85KmeansIteration, Similarity.q85Sql),
    Query("q86_pmi_collocations", CorpusStats.q86PmiCollocations, CorpusStats.q86Sql),
    Query("q87_source_novelty", CorpusStats.q87SourceNovelty, CorpusStats.q87Sql),
    Query("q88_quality_calibration", Curation.q88QualityCalibration, Curation.q88Sql),
    Query("q89_event_transitions", Analytics.q89EventTransitions, Analytics.q89Sql),
    Query("q90_volume_anomaly", Analytics.q90VolumeAnomaly, Analytics.q90Sql),
    Query("q91_source_concentration", CorpusStats.q91SourceConcentration, CorpusStats.q91Sql),
    Query("q92_quality_audit", Profiling.q92QualityAudit, Profiling.q92Sql),
    Query("q93_effective_corpus", Curation.q93EffectiveCorpus, Curation.q93Sql),
    Query("q94_dedup_audit", Curation.q94DedupAudit, Curation.q94Sql),
    Query("q95_session_durations", Analytics.q95SessionDurations, Analytics.q95Sql),
    Query("q96_last_touch", Analytics.q96LastTouchAttribution, Analytics.q96Sql),
    Query("q97_pagerank", Dedup.q97PageRank, Dedup.q97Sql),
    Query("q98_quality_exemplars", Curation.q98QualityExemplars, Curation.q98Sql),
    Query("q99_split_drift", Curation.q99SplitDrift, Curation.q99Sql),
    Query("q100_full_pipeline", TrainingData.q100FullPipeline, TrainingData.q100Sql),
    Query("q101_ivf_trained", Similarity.q101IvfTrained, Similarity.q101Sql),
    Query("q102_bucketed_join", Layout.q102BucketedJoin, Layout.q102Sql),
    Query("q103_partition_pruned", Layout.q103PartitionPruned, Layout.q103Sql),
    Query("q104_dynamic_pruning", Layout.q104DynamicPruning, Layout.q104Sql),
    Query("q105_leakage_safe_split", TrainingData.q105LeakageSafeSplit, TrainingData.q105Sql),
    Query("q106_state_history", Temporal.q106StateHistory, Temporal.q106Sql),
    Query("q107_bpe_merges", CorpusStats.q107BpeMerges, CorpusStats.q107Sql),
    Query("q108_incremental_dedup", Dedup.q108IncrementalDedup, Dedup.q108Sql),
    Query("q109_pq_adc", Similarity.q109PqAdc, Similarity.q109Sql),
    Query("q110_label_audit", Similarity.q110LabelAudit, Similarity.q110Sql),
    Query("q111_bpe_encode", CorpusStats.q111BpeEncode, CorpusStats.q111Sql),
    Query("q112_snapshot_diff", Temporal.q112SnapshotDiff, Temporal.q112Sql),
    Query("q113_zorder_box", Layout.q113ZorderBox, Layout.q113Sql),
    // q114: bound contract like q35/q55 — engine emits its own
    // merge-equals-direct and error-envelope verdicts, oracle emits TRUE
    // from exact counts; the hash match proves the sketch algebra held.
    Query("q114_sketch_rollup", Analytics.q114SketchRollup, Analytics.q114Sql),
    Query("q115_bigram_perplexity", CorpusStats.q115BigramPerplexity, CorpusStats.q115Sql),
    Query("q116_filter_sweep", Curation.q116FilterSweep, Curation.q116Sql),
    Query("q117_semantic_dedup", Similarity.q117SemanticDedup, Similarity.q117Sql),
    Query("q118_resample_locf", Temporal.q118ResampleLocf, Temporal.q118Sql),
    Query("q119_triangles", Dedup.q119Triangles, Dedup.q119Sql),
    Query("q120_incremental_agg", Analytics.q120IncrementalAgg, Analytics.q120Sql),
    Query("q121_state_fold", Dedup.q121StateFold, Dedup.q121Sql),
    Query("q122_scd1_merge", Temporal.q122Scd1Merge, Temporal.q122Sql),
    Query("q123_salted_skew_join", Analytics.q123SaltedSkewJoin, Analytics.q123Sql),
    Query("q124_bpe_increment", CorpusStats.q124BpeIncrement, CorpusStats.q124Sql),
    Query("q125_budget_select", Curation.q125BudgetSelect, Curation.q125Sql),
    Query("q126_retire", Dedup.q126Retire, Dedup.q126Sql),
    Query("q127_cluster_profile", Dedup.q127ClusterProfile, Dedup.q127Sql),
    Query("q128_fk_audit", Profiling.q128FkAudit, Profiling.q128Sql),
    Query("q129_trending", Analytics.q129Trending, Analytics.q129Sql),
    Query("q130_ivf_rebalance", Similarity.q130IvfRebalance, Similarity.q130Sql),
    Query("q131_dim_profile", Similarity.q131DimProfile, Similarity.q131Sql),
    Query("q132_interval_sweep", Temporal.q132IntervalSweep, Temporal.q132Sql),
    Query("q133_analyze_stats", Profiling.q133AnalyzeStats, Profiling.q133Sql),
    Query("q134_compaction_plan", Layout.q134CompactionPlan, Layout.q134Sql),
    Query("q135_gap_histogram", Streaming.q135GapHistogram, Streaming.q135Sql),
    Query("q136_pad_sweep", Curation.q136PadSweep, Curation.q136Sql),
    Query("q137_join_card", Profiling.q137JoinCard, Profiling.q137Sql),
    Query("q138_check_audit", Profiling.q138CheckAudit, Profiling.q138Sql),
    Query("q139_multi_touch", Analytics.q139MultiTouch, Analytics.q139Sql),
    Query("q140_rolling_actives", Analytics.q140RollingActives, Analytics.q140Sql),
    Query("q141_winsorize", Profiling.q141Winsorize, Profiling.q141Sql),
    Query("q142_temporal_split", TrainingData.q142TemporalSplit, TrainingData.q142Sql),
    Query("q143_feature_hash", CorpusStats.q143FeatureHash, CorpusStats.q143Sql),
    Query("q144_erasure_plan", Profiling.q144ErasurePlan, Profiling.q144Sql),
    Query("q145_funnel_latency", Analytics.q145FunnelLatency, Analytics.q145Sql),
    Query("q146_time_weighted", Temporal.q146TimeWeighted, Temporal.q146Sql),
    Query("q147_psi_drift", Curation.q147PsiDrift, Curation.q147Sql),
    Query("q148_centroid_increment", Similarity.q148CentroidIncrement, Similarity.q148Sql),
    Query("q149_session_lift", Analytics.q149SessionLift, Analytics.q149Sql),
    Query("q150_markov_backtest", Analytics.q150MarkovBacktest, Analytics.q150Sql),
    Query("q151_profile_drift", Profiling.q151ProfileDrift, Profiling.q151Sql),
    Query("q152_rfm_segments", Analytics.q152RfmSegments, Analytics.q152Sql),
    Query("q153_path_trigrams", Analytics.q153PathTrigrams, Analytics.q153Sql),
    Query("q154_containment", Dedup.q154Containment, Dedup.q154Sql),
    Query("q155_ann_recall", Similarity.q155AnnRecall, Similarity.q155Sql),
    Query("q156_wav_decode", MultimodalQ.q156WavDecode, MultimodalQ.q156Sql),
    Query("q157_bmp_decode", MultimodalQ.q157BmpDecode, MultimodalQ.q157Sql),
    Query("q158_jaccard_dfcap", Dedup.q158JaccardDfCap, Dedup.q158Sql),
    Query("q159_dup_spans", Dedup.q159DupSpans, Dedup.q159Sql),
    Query("q160_multiprobe_lsh", Similarity.q160MultiProbeLsh, Similarity.q160Sql),
    // q161: band-aware oracle over the dup-injected corpus (cf. q67) —
    // engine ≡ oracle deterministic at every scale.
    Query("q161_neardup_prod", Similarity.q161NearDupProd, Similarity.q161Sql),
    // q162: all facts predicted from the pixel formula — compressed
    // sizes never enter the compare (deflate output is
    // implementation-defined).
    Query("q162_png_decode", MultimodalQ.q162PngDecode, MultimodalQ.q162Sql),
    Query("q163_ivfpq", Similarity.q163IvfPq, Similarity.q163Sql),
    Query("q164_bm25", Retrieval.q164Bm25, Retrieval.q164Sql),
    // q165: the oracle REBUILDS the count-min sketch from the same md5
    // hashes — the compare covers the estimates, not just a bound verdict.
    Query("q165_cms_heavy", CorpusStats.q165CmsHeavyHitters, CorpusStats.q165Sql),
    Query("q166_fuzzy_join", Dedup.q166FuzzyJoin, Dedup.q166Sql),
    Query("q167_multi_block", Dedup.q167MultiBlock, Dedup.q167Sql),
    // q168: the oracle is q164's BATCH recompute — hash match proves the
    // incremental fold produces the identical index and rankings.
    Query("q168_bm25_increment", Retrieval.q168Bm25Increment, Retrieval.q168Sql),
    Query("q169_cms_merge", CorpusStats.q169CmsMerge, CorpusStats.q169Sql),
    Query("q170_hybrid_rrf", Retrieval.q170HybridRrf, Retrieval.q170Sql),
    Query("q171_hybrid_weighted", Retrieval.q171HybridWeighted, Retrieval.q171Sql),
    Query("q172_retrieval_metrics", Retrieval.q172RetrievalMetrics, Retrieval.q172Sql),
    Query("q173_dbscan", Clustering.q173Dbscan, Clustering.q173Sql),
    Query("q174_pca_power", Clustering.q174PcaPower, Clustering.q174Sql),
    Query("q175_mmr_diversify", Similarity.q175MmrDiversify, Similarity.q175Sql),
    Query("q176_pareto_frontier", Curation.q176ParetoFrontier, Curation.q176Sql),
    Query("q177_contrastive_negs", TrainingData.q177ContrastiveNegatives, TrainingData.q177Sql),
    Query("q178_dbscan_increment", Clustering.q178DbscanIncrement, Clustering.q178Sql),
    Query("q179_cluster_quality", Clustering.q179ClusterQuality, Clustering.q179Sql),
    Query("q180_pca_map", Clustering.q180PcaMap, Clustering.q180Sql),
    Query("q181_dup_depth", Dedup.q181DupDepth, Dedup.q181Sql),
    Query("q182_pca_increment", Clustering.q182PcaIncrement, Clustering.q182Sql),
    // q183: batch banded recompute at the frozen base geometry — the
    // hash compare IS the index fold ≡ batch theorem
    Query("q183_neardup_increment", Similarity.q183NearDupIncrement, Similarity.q183Sql),
    Query("q184_dbscan_sweep", Clustering.q184DbscanSweep, Clustering.q184Sql),
    // q185: the workload VALUES literal is spec-pinned equal to the
    // fixture parquet the engine reads
    Query("q185_external_fusion", Retrieval.q185ExternalFusion, Retrieval.q185Sql),
    Query("q186_vocab_growth", CorpusStats.q186VocabGrowth, CorpusStats.q186Sql),
    Query("q187_dup_growth", CorpusStats.q187DupGrowth, CorpusStats.q187Sql),
    Query("q188_tok_fertility", CorpusStats.q188TokenizerFertility, CorpusStats.q188Sql),
    Query("q189_shard_plan", TrainingData.q189ShardPlan, TrainingData.q189Sql),
    Query("q190_source_contam", CorpusStats.q190SourceContamination, CorpusStats.q190Sql),
    Query("q191_kneser_ney", CorpusStats.q191KneserNey, CorpusStats.q191Sql),
    // q192: q189's batch recompute — the hash compare IS the manifest
    // fold ≡ batch theorem
    Query("q192_shard_increment", TrainingData.q192ShardIncrement, TrainingData.q192Sql),
    Query("q193_thresh_calib", Clustering.q193ThresholdCalibration, Clustering.q193Sql),
    Query("q194_contam_cascade", TrainingData.q194ContamCascade, TrainingData.q194Sql),
    Query("q195_label_drift", Similarity.q195LabelDrift, Similarity.q195Sql),
    Query("q196_external_metrics", Retrieval.q196ExternalMetrics, Retrieval.q196Sql),
    // q197/q198: the oracle re-derives each 48-bit perceptual signature
    // from the media synthesis formula (pixels/samples the decoder must
    // read back), then band-joins at the fixed lossless geometry — the
    // hash compare proves the container round-trip AND the banding.
    Query("q197_image_neardup", MultimodalQ.q197ImageNearDup, MultimodalQ.q197Sql),
    Query("q198_audio_neardup", MultimodalQ.q198AudioNearDup, MultimodalQ.q198Sql),
    // q199: identical Java-regex/RE2-common-subset patterns both sides;
    // the oracle re-verifies the redacted text (residuals + exact length)
    Query("q199_pii_audit", Curation.q199PiiAudit, Curation.q199Sql),
    // q200: frame-aligned band join + >=k-frames vote, all re-derived by
    // the oracle from the per-frame synthesis formula
    Query("q200_video_neardup", MultimodalQ.q200VideoNearDup, MultimodalQ.q200Sql),
    // q201: the oracle RETRAINS the classifier — all ten GD rounds
    // unrolled as CTEs in the same integer-grid arithmetic — so the
    // margin compare is hash-exact, not a verdict check
    Query("q201_quality_classifier", ModelCuration.q201QualityClassifier, ModelCuration.q201Sql),
    // q202: ln is libm (q79/q84 precedent): reported doubles rounded to
    // 4dp; the Gumbel race-key boundary gap is continuous-hash-driven
    Query("q202_importance_resample", ModelCuration.q202ImportanceResample, ModelCuration.q202Sql),
    // q203/q204: planted-URL synthesis + generic canonicalizer rendered
    // from one constant set; string-exact, so the compares are hash-exact
    Query("q203_url_canonicalize", WebCuration.q203UrlCanonicalize, WebCuration.q203Sql),
    Query("q204_domain_caps", WebCuration.q204DomainCaps, WebCuration.q204Sql),
    // q205: component-labels recursive block (CTE-cache eligible) + the
    // three perceptual pair oracles embedded verbatim as drop sets
    Query("q205_multimodal_funnel", WebCuration.q205MultimodalFunnel, WebCuration.q205Sql),
    // q206: the q158-style exact replay of the capped containment
    // pipeline (cap + rarest-first order + prefix cut) — engine ≡ oracle
    // deterministic even where the declared approximation drops pairs
    Query("q206_containment_dfcap", Dedup.q206ContainmentDfCap, Dedup.q206Sql),
    // q207: the oracle RETRAINS the mixture — all eight multiplicative-
    // weights rounds unrolled as CTEs in pure BIGINT floor arithmetic
    Query("q207_doremi_mixture", ModelCuration.q207DoremiMixture, ModelCuration.q207Sql),
    // q208: q201's training chain shared verbatim + the components block
    // (CTE-cache eligible) + a 10-bar integer sweep
    Query("q208_calibration_sweep", ModelCuration.q208CalibrationSweep, ModelCuration.q208Sql),
    // q209: planted noise lanes + generic integer-arithmetic rule flags
    // rendered from one constant set; all counting exact, hash-exact
    Query("q209_gopher_rules", WebCuration.q209GopherRules, WebCuration.q209Sql),
    // q210: the same planted-lane + integer-arithmetic discipline over
    // the repetition sub-battery; n-gram stats via one tagged unnest
    Query("q210_repetition_rules", WebCuration.q210RepetitionRules, WebCuration.q210Sql),
    // q211: the line-cleaning transform over q209's noise lanes — one
    // synthesis, audit + removal; all counts exact integers
    Query("q211_line_clean", WebCuration.q211LineClean, WebCuration.q211Sql),
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.plan).toMap

  val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracleSql).toMap

  /** The rows named in `names`, or every row when `names` is empty, in
    * alphabetical order so per-query times and logs line up across runs.
    * Fails naming every unknown name: a typo must not silently shrink a
    * run to a subset that passes or looks fast.
    */
  def select(names: Iterable[String]): Seq[Query] = {
    val wanted = names.toSet
    val unknown = wanted -- queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(",")}")
    registry.filter(q => wanted.isEmpty || wanted(q.name)).sortBy(_.name)
  }
}
