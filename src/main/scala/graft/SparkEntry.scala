package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Dedup, EventTime, Extended, Formats, GraphOps, Modern, Multimodal, PipelineOps, Relational, Similarity, TextAnalysis, TpchMore}
import graft.streaming.StreamingQueries

/** Driver contract — the engine's public registry.
  *
  * Every operator from SURVEY.md §2 is exposed as a named
  * `(SparkSession, sfDir) => DataFrame` query; where the semantics are
  * ANSI-SQL-expressible, `oracleSql` carries the equivalent DuckDB SQL over the
  * same parquet tables (the driver hash-compares both at sf0.01).
  *
  * Determinism conventions (mirrored in every oracle):
  *  - deterministic total-order ORDER BY on every query;
  *  - `round(x, n)` on all floating-point aggregates;
  *  - identical output column names and types on both sides (explicit casts
  *    where DuckDB's natural result type differs, e.g. BIGINT `year()`);
  *  - integer-exact money sums and HALF_UP share/rate rounding: the Spark
  *    side takes them from `graft.Exact`, while the oracle SQL here spells
  *    the same rules out by hand, as the independent reference.
  */
object SparkEntry {

  /** Flagship query on sf0.001 — the reference's word count
    * (StreamSocket.scala:15) over documents.text; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.wordCount(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "word_count"        -> Relational.wordCount _,
    "q1_pricing_summary" -> Relational.q1PricingSummary _,
    "q3_shipping_priority" -> Relational.q3ShippingPriority _,
    "q5_local_supplier" -> Relational.q5LocalSupplier _,
    "join_left"         -> Relational.joinLeft _,
    "join_full_outer"   -> Relational.joinFullOuter _,
    "join_semi"         -> Relational.joinSemi _,
    "join_anti"         -> Relational.joinAnti _,
    "join_cross"        -> Relational.joinCross _,
    "join_range"        -> Relational.joinRange _,
    "agg_stats"         -> Relational.aggStats _,
    "distinct_counts"   -> Relational.distinctCounts _,
    "rollup_sales"      -> Relational.rollupSales _,
    "cube_sales"        -> Relational.cubeSales _,
    "grouping_sets"     -> Relational.groupingSets _,
    "window_funcs"      -> Relational.windowFuncs _,
    "topk_per_group"    -> Relational.topkPerGroup _,
    "order_limit"       -> Relational.orderLimit _,
    "set_union"         -> Relational.setUnion _,
    "set_intersect"     -> Relational.setIntersect _,
    "set_except"        -> Relational.setExcept _,
    "distinct_pairs"    -> Relational.distinctPairs _,
    "string_funcs"      -> Relational.stringFuncs _,
    "predicate_funcs"   -> Relational.predicateFuncs _,
    "date_funcs"        -> Relational.dateFuncs _,
    "math_funcs"        -> Relational.mathFuncs _,
    "json_funcs"        -> Relational.jsonFuncs _,
    "top_customers"     -> Relational.topCustomers _,
    "approx_distinct"   -> Relational.approxDistinct _,
    "q4_priority_exists" -> Relational.q4PriorityExists _,
    "q10_returned_items" -> Relational.q10ReturnedItems _,
    "lateral_join"      -> Relational.lateralJoin _,
    "grouping_id_funcs" -> Relational.groupingIdFuncs _,
    "higher_order_funcs" -> Extended.higherOrderFuncs _,
    "multimodal_frames" -> Multimodal.multimodalFrames _,
    // text analysis (LLM-pipeline extension surface)
    "text_stats"        -> TextAnalysis.textStats _,
    "token_count"       -> TextAnalysis.tokenCount _,
    "pii_scrub"         -> TextAnalysis.piiScrub _,
    "lang_id"           -> TextAnalysis.langId _,
    "quality_score"     -> TextAnalysis.qualityScore _,
    "quality_perplexity" -> TextAnalysis.qualityPerplexity _,
    "doc_fingerprint"   -> TextAnalysis.docFingerprint _,
    "doc_fingerprint_rolling" -> TextAnalysis.docFingerprintRolling _,
    "chunk_documents"   -> TextAnalysis.chunkDocuments _,
    "vector_quantize"   -> Similarity.vectorQuantize _,
    "zorder_layout"     -> Formats.zorderLayout _,
    "zorder_prune_readback" -> Formats.zorderPruneReadback _,
    "vocab_coverage"    -> TextAnalysis.vocabCoverage _,
    "split_leakage_free" -> PipelineOps.splitLeakageFree _,
    "split_assignments" -> PipelineOps.splitAssignments _,
    "tfidf_top_terms"   -> TextAnalysis.tfidfTopTerms _,
    "bm25_rank"         -> TextAnalysis.bm25Rank _,
    "pipeline_clean_corpus" -> TextAnalysis.pipelineCleanCorpus _,
    // dedup family
    "dedup_exact"       -> Dedup.dedupExact _,
    "dedup_near_exact"  -> Dedup.dedupNearExact _,
    "dedup_ngram_jaccard" -> Dedup.dedupNgramJaccard _,
    "dedup_containment" -> Dedup.dedupContainment _,
    "dedup_minhash"     -> Dedup.dedupMinhash _,
    "dedup_simhash"     -> Dedup.dedupSimhash _,
    "dedup_simhash_wide" -> Dedup.dedupSimhashWide _,
    "dedup_embedding"   -> Dedup.dedupEmbedding _,
    "dedup_embedding_keep" -> Dedup.dedupEmbeddingKeep _,
    "dedup_incremental" -> Dedup.dedupIncremental _,
    "dedup_index_foldin" -> Dedup.dedupIndexFoldin _,
    "dedup_substring"   -> Dedup.dedupSubstring _,
    "dedup_semantic"    -> Dedup.dedupSemantic _,
    "dedup_paragraphs"  -> Dedup.dedupParagraphs _,
    "dedup_span_rewrite" -> Dedup.dedupSpanRewrite _,
    "dedup_winnow"      -> Dedup.dedupWinnow _,
    "dedup_winnow_keep" -> Dedup.dedupWinnowKeep _,
    "quality_gopher"    -> TextAnalysis.qualityGopher _,
    "quality_classifier" -> TextAnalysis.qualityClassifier _,
    "dsir_select"       -> TextAnalysis.dsirSelect _,
    "textrank_keywords" -> GraphOps.textrankKeywords _,
    "graph_triangles"   -> GraphOps.graphTriangles _,
    "label_propagation" -> GraphOps.labelPropagation _,
    "pmi_cooccur"       -> TextAnalysis.pmiCooccur _,
    "doc_winnowing"     -> TextAnalysis.docWinnowing _,
    "source_report"     -> TextAnalysis.sourceReport _,
    "bpe_pair_counts"   -> TextAnalysis.bpePairCounts _,
    "bpe_merges"        -> TextAnalysis.bpeMerges _,
    "bpe_encode"        -> TextAnalysis.bpeEncode _,
    // similarity search
    "knn_bruteforce"    -> Similarity.knnBruteForce _,
    "knn_lsh"           -> Similarity.knnLsh _,
    "knn_ivf"           -> Similarity.knnIvf _,
    "knn_ivf_persisted" -> Similarity.knnIvfPersisted _,
    "knn_ivf_refresh"   -> Similarity.knnIvfRefresh _,
    "knn_pq"            -> Similarity.knnPq _,
    "knn_ivfpq"         -> Similarity.knnIvfPq _,
    "knn_pq_sampled"    -> Similarity.knnPqSampled _,
    "knn_refine"        -> Similarity.knnRefine _,
    "knn_mmr"           -> Similarity.knnMmr _,
    "hybrid_rrf"        -> Similarity.hybridRrf _,
    "embedding_pca"     -> Similarity.embeddingPca _,
    "embedding_outliers" -> Similarity.embeddingOutliers _,
    "hard_negatives"    -> Similarity.hardNegatives _,
    "ann_index_stats"   -> Similarity.annIndexStats _,
    "ann_recall"        -> Similarity.annRecall _,
    "ann_probe_sweep"   -> Similarity.annProbeSweep _,
    "vector_stats"      -> Similarity.vectorStats _,
    "array_funcs"       -> Relational.arrayFuncs _,
    "skew_safe_distinct" -> Relational.skewSafeDistinct _,
    "subquery_correlated" -> Relational.subqueryCorrelated _,
    "q6_forecast_revenue" -> Relational.q6ForecastRevenue _,
    "map_funcs"         -> Relational.mapFuncs _,
    "pivot_status"      -> Relational.pivotStatus _,
    "window_range"      -> Relational.windowRange _,
    "window_distribution" -> Relational.windowDistribution _,
    "array_setops"      -> Relational.arraySetOps _,
    "percentiles"       -> Relational.percentiles _,
    "stats_aggs"        -> Relational.statsAggs _,
    "grouped_arrays"    -> Relational.groupedArrays _,
    "date_arith"        -> Relational.dateArith _,
    // extended relational surface (round 2)
    "unpivot_metrics"   -> Extended.unpivotMetrics _,
    "generator_funcs"   -> Extended.generatorFuncs _,
    "sample_hash"       -> Extended.sampleHash _,
    "hash_funcs"        -> Extended.hashFuncs _,
    "regex_funcs"       -> Extended.regexFuncs _,
    "bitwise_funcs"     -> Extended.bitwiseFuncs _,
    "conditional_aggs"  -> Extended.conditionalAggs _,
    "argminmax"         -> Extended.argMinMax _,
    "histogram_buckets" -> Extended.histogramBuckets _,
    "time_funcs"        -> Extended.timeFuncs _,
    "inline_stack"      -> Extended.inlineStack _,
    "set_intersect_all" -> Extended.setIntersectAll _,
    "set_except_all"    -> Extended.setExceptAll _,
    "union_by_name"     -> Extended.unionByNameEvolved _,
    "window_ignore_nulls" -> Extended.windowIgnoreNulls _,
    "try_funcs"         -> Extended.tryFuncs _,
    "map_explode"       -> Extended.mapExplode _,
    "join_salted"       -> Extended.joinSalted _,
    "join_range_binned" -> Extended.joinRangeBinned _,
    "na_funcs"          -> Extended.naFuncs _,
    "regression_aggs"   -> Extended.regressionAggs _,
    "bit_aggs"          -> Extended.bitAggs _,
    "ngram_counts"      -> TextAnalysis.ngramCounts _,
    // time-series joins / spine
    "asof_join"         -> EventTime.asofJoin _,
    "gap_fill"          -> EventTime.gapFill _,
    // dedup (round 2)
    "dedup_levenshtein" -> Dedup.dedupLevenshtein _,
    // dedup_minhash_mllib (the MLlib MinHashLSH library path) is SUITE-ONLY
    // since r12 (Round12Spec pins it against the hand-rolled banded LSH):
    // MLlib's private hash family has no SQL twin, so as a registry row it
    // was the single rows-only entry — demoting it makes the registry 100%
    // oracled (VERDICT r11 task 4, option 2) and drops its 2.6 s (sf0.1) /
    // 68 s (sf1) fit+self-join cost from the official bench.
    // fused top-k aggregate
    "knn_topk_agg"      -> Similarity.knnTopkAgg _,
    // multimodal columns
    "multimodal_join"   -> Multimodal.multimodalJoin _,
    "multimodal_decode" -> Multimodal.multimodalDecode _,
    "image_dedup"       -> Multimodal.imageDedup _,
    // batch event-time windows + typed rolling state
    "tumbling_windows"  -> EventTime.tumblingWindows _,
    "sliding_windows"   -> EventTime.slidingWindows _,
    "session_windows"   -> EventTime.sessionWindows _,
    "pattern_detect"    -> EventTime.patternDetect _,
    "cumulate_windows"  -> EventTime.cumulateWindows _,
    "rolling_sum_typed" -> EventTime.rollingSumTyped _,
    // Structured Streaming (file source → micro-batch → memory sink)
    "stream_wordcount"  -> StreamingQueries.streamWordCount _,
    "stream_tumbling"   -> StreamingQueries.streamTumbling _,
    "stream_dedup"      -> StreamingQueries.streamDedup _,
    "stream_static_join" -> StreamingQueries.streamStaticJoin _,
    "stream_stream_join" -> StreamingQueries.streamStreamJoin _,
    "stream_stream_join_left" -> StreamingQueries.streamStreamJoinLeft _,
    "stream_rolling_sum" -> StreamingQueries.streamRollingSum _,
    "stream_rolling_sum_tws" -> StreamingQueries.streamRollingSumTws _,
    "stream_sliding"    -> StreamingQueries.streamSliding _,
    "stream_session"    -> StreamingQueries.streamSession _,
    "stream_kv_upsert"  -> StreamingQueries.streamKvUpsert _,
    "stream_dedup_wm"   -> StreamingQueries.streamDedupWatermark _,
    "stream_hll"        -> StreamingQueries.streamHllDistinct _,
    "stream_quality_filter" -> StreamingQueries.streamQualityFilter _,
    "stream_boilerplate" -> StreamingQueries.streamBoilerplateScrub _,
    "stream_apply_mixture" -> StreamingQueries.streamApplyMixture _,
    "curriculum_order"  -> PipelineOps.curriculumOrder _,
    "span_corruption"   -> TextAnalysis.spanCorruption _,
    "source_overlap"    -> PipelineOps.sourceOverlap _,
    "mixture_epochs"    -> PipelineOps.mixtureEpochs _,
    "schema_evolution"  -> Formats.schemaEvolution _,
    "shard_manifest"    -> PipelineOps.shardManifest _,
    "quality_agreement" -> TextAnalysis.qualityAgreement _,
    "dedup_cluster_stats" -> Dedup.dedupClusterStats _,
    "sample_quality_weighted" -> TextAnalysis.sampleQualityWeighted _,
    "quality_threshold_sweep" -> TextAnalysis.qualityThresholdSweep _,
    "mixture_doremi"    -> PipelineOps.mixtureDoremi _,
    "length_bucket_batches" -> PipelineOps.lengthBucketBatches _,
    "zipf_fit"          -> TextAnalysis.zipfFit _,
    "heaps_law"         -> TextAnalysis.heapsLaw _,
    "sketch_quantiles"  -> Relational.sketchQuantiles _,
    "centroid_classify" -> Similarity.centroidClassify _,
    // round-14 corpus-health / curation additions
    "script_mix"        -> TextAnalysis.scriptMix _,
    "readability"       -> TextAnalysis.readability _,
    "length_outliers"   -> TextAnalysis.lengthOutliers _,
    "diversity_distinct_n" -> TextAnalysis.diversityDistinctN _,
    "quality_ece"       -> TextAnalysis.qualityEce _,
    "ngram_drift"       -> PipelineOps.ngramDrift _,
    "chinchilla_plan"   -> PipelineOps.chinchillaPlan _,
    "seed_select"       -> Similarity.seedSelect _,
    "tokenizer_drift"   -> PipelineOps.tokenizerDrift _,
    "decontaminate_embedding" -> Similarity.decontaminateEmbedding _,
    "quality_length_joint" -> TextAnalysis.qualityLengthGrid _,
    "event_anomalies"   -> PipelineOps.eventAnomalies _,
    "quality_drift"     -> PipelineOps.qualityDrift _,
    "pii_report"        -> TextAnalysis.piiReport _,
    "token_entropy"     -> TextAnalysis.tokenEntropy _,
    "minhash_band_stats" -> Dedup.minhashBandStats _,
    "asof_join_nearest" -> EventTime.asofJoinNearest _,
    "lexicon_screen"    -> TextAnalysis.lexiconScreen _,
    "bootstrap_ci"      -> TextAnalysis.bootstrapCi _,
    "k_anonymity"       -> PipelineOps.kAnonymity _,
    "dp_noisy_counts"   -> PipelineOps.dpNoisyCounts _,
    "kcenter_coreset"   -> Similarity.kcenterCoreset _,
    "corpus_concentration" -> TextAnalysis.corpusConcentration _,
    "epoch_shuffle"     -> PipelineOps.epochShuffle _,
    "stream_lexicon_gate" -> StreamingQueries.streamLexiconGate _,
    "stream_anomaly_gate" -> StreamingQueries.streamAnomalyGate _,
    "rendezvous_shards" -> PipelineOps.rendezvousShards _,
    "weighted_reservoir" -> PipelineOps.weightedReservoir _,
    "packing_efficiency" -> PipelineOps.packingEfficiency _,
    "stream_weighted_reservoir" -> StreamingQueries.streamWeightedReservoir _,
    "ks_drift"          -> PipelineOps.ksDrift _,
    "negative_sampling_table" -> TextAnalysis.negativeSamplingTable _,
    "hll_intersect"     -> PipelineOps.hllIntersect _,
    "greedy_balance"    -> PipelineOps.greedyBalance _,
    "quality_isotonic"  -> TextAnalysis.qualityIsotonic _,
    "conformal_gate"    -> TextAnalysis.conformalGate _,
    "stream_conformal_gate" -> StreamingQueries.streamConformalGate _,
    "psi_drift"         -> PipelineOps.psiDrift _,
    "l_diversity"       -> PipelineOps.lDiversity _,
    "split_temporal_embargo" -> PipelineOps.splitTemporalEmbargo _,
    "uncertainty_sample" -> TextAnalysis.uncertaintySample _,
    "entity_resolution" -> PipelineOps.entityResolution _,
    "importance_weights" -> TextAnalysis.importanceWeights _,
    "bigram_entropy"    -> TextAnalysis.bigramEntropy _,
    "vocab_size_sweep"  -> TextAnalysis.vocabSizeSweep _,
    "t_closeness"       -> PipelineOps.tCloseness _,
    "stream_psi_gate"   -> StreamingQueries.streamPsiGate _,
    "graph_pagerank"    -> PipelineOps.graphPagerank _,
    "split_kfold"       -> PipelineOps.splitKfold _,
    "robust_scale"      -> PipelineOps.robustScale _,
    "activity_streaks"  -> PipelineOps.activityStreaks _,
    "rouge_overlap"     -> TextAnalysis.rougeOverlap _,
    "bleu_corpus"       -> TextAnalysis.bleuCorpus _,
    "chrf_score"        -> TextAnalysis.chrfScore _,
    "quality_auc"       -> TextAnalysis.qualityAuc _,
    "retrieval_eval"    -> Similarity.retrievalEval _,
    "cdc_apply"         -> PipelineOps.cdcApply _,
    "preference_stats"  -> PipelineOps.preferenceStats _,
    "dialog_stats"      -> PipelineOps.dialogStats _,
    "embedding_truncate" -> Similarity.embeddingTruncate _,
    "stream_cdc_apply"  -> StreamingQueries.streamCdcApply _,
    "label_noise_audit" -> Similarity.labelNoiseAudit _,
    "dataset_card"      -> PipelineOps.datasetCard _,
    "sql_scripting"     -> Modern.sqlScripting _,
    "stream_pack_sequences" -> StreamingQueries.streamPackSequences _,
    "signal_correlation" -> PipelineOps.signalCorrelation _,
    "mutual_information" -> PipelineOps.mutualInformation _,
    "skyline_select"    -> PipelineOps.skylineSelect _,
    "incremental_view"  -> PipelineOps.incrementalView _,
    "knn_graph"         -> Similarity.knnGraph _,
    "knn_graph_search"  -> Similarity.knnGraphSearch _,
    "stream_skyline"    -> StreamingQueries.streamSkyline _,
    "ab_test"           -> PipelineOps.abTest _,
    "ewma_monitor"      -> PipelineOps.ewmaMonitor _,
    "stream_ewma"       -> StreamingQueries.streamEwma _,
    "attribution_touch" -> PipelineOps.attributionTouch _,
    "forecast_baseline" -> PipelineOps.forecastBaseline _,
    "embedding_drift"   -> Similarity.embeddingDrift _,
    "asof_join_tolerance" -> EventTime.asofJoinTolerance _,
    "text_normalize"    -> TextAnalysis.textNormalize _,
    "winsorized_stats"  -> PipelineOps.winsorizedStats _,
    "stream_ab_test"    -> StreamingQueries.streamAbTest _,
    "stream_vocab_gate" -> StreamingQueries.streamVocabGate _,
    "stream_entity_resolution" -> StreamingQueries.streamEntityResolution _,
    "stream_funnel"     -> StreamingQueries.streamFunnel _,
    "stream_classify"   -> StreamingQueries.streamClassify _,
    "stream_dsir"       -> StreamingQueries.streamDsir _,
    "stream_knn"        -> StreamingQueries.streamKnn _,
    "stream_knn_ttl"    -> StreamingQueries.streamKnnTtl _,
    "stream_knn_ttl_evict" -> StreamingQueries.streamKnnTtlEvict _,
    "stream_knn_ivf"    -> StreamingQueries.streamKnnIvf _,
    "stream_decontaminate" -> StreamingQueries.streamDecontaminate _,
    "stream_online_dedup" -> StreamingQueries.streamOnlineDedup _,
    "stream_online_curate" -> StreamingQueries.streamOnlineCurate _,
    "stream_decontaminate_stateless" -> StreamingQueries.streamDecontaminateStateless _,
    // serde surface (D8)
    "json_roundtrip"    -> Formats.jsonRoundtrip _,
    "format_roundtrip"  -> Formats.formatRoundtrip _,
    "partitioned_write" -> Formats.partitionedWrite _,
    "csv_funcs"         -> Formats.csvFuncs _,
    "json_tuple_funcs"  -> Formats.jsonTupleFuncs _,
    // UDF/UDAF registration surface (D7)
    "udaf_geomean"      -> graft.functions.Udfs.udafGeomean _,
    "udf_clip"          -> graft.functions.Udfs.udfClip _,
    // modern-SQL surface (Spark 4.x)
    "variant_funcs"     -> Modern.variantFuncs _,
    "recursive_cte"     -> Modern.recursiveCte _,
    "pipe_syntax"       -> Modern.pipeSyntax _,
    "sql_udf"           -> Modern.sqlUdf _,
    "listagg_groups"    -> Modern.listaggGroups _,
    "mode_median"       -> Modern.modeMedian _,
    "xml_roundtrip"     -> Modern.xmlRoundtrip _,
    "xpath_funcs"       -> Modern.xpathFuncs _,
    "aes_roundtrip"     -> Modern.aesRoundtrip _,
    "collation_group"   -> Modern.collationGroup _,
    "map_transform_funcs" -> Modern.mapTransformFuncs _,
    "url_funcs"         -> Modern.urlFuncs _,
    "bitmap_distinct"   -> Modern.bitmapDistinct _,
    "hll_sketch"        -> Modern.hllSketch _,
    // the rest of the TPC-H decision-support shapes (round 3)
    "q2_min_cost_supp"  -> TpchMore.q2MinCostSupp _,
    "q7_volume_shipping" -> TpchMore.q7VolumeShipping _,
    "q8_market_share"   -> TpchMore.q8MarketShare _,
    "q9_product_profit" -> TpchMore.q9ProductProfit _,
    "q11_important_stock" -> TpchMore.q11ImportantStock _,
    "q12_late_priority" -> TpchMore.q12LatePriority _,
    "q13_cust_distribution" -> TpchMore.q13CustDistribution _,
    "q14_promo_revenue" -> TpchMore.q14PromoRevenue _,
    "q15_top_supplier"  -> TpchMore.q15TopSupplier _,
    "q16_supplier_cnt"  -> TpchMore.q16SupplierCnt _,
    "q17_small_qty_revenue" -> TpchMore.q17SmallQtyRevenue _,
    "q18_large_volume_cust" -> TpchMore.q18LargeVolumeCust _,
    "q19_disjunctive"   -> TpchMore.q19Disjunctive _,
    "q20_excess_supply" -> TpchMore.q20ExcessSupply _,
    "q21_waiting_supplier" -> TpchMore.q21WaitingSupplier _,
    "q22_global_sales_opp" -> TpchMore.q22GlobalSalesOpp _,

    "dedup_clusters"    -> PipelineOps.dedupClusters _,
    "dedup_keep_best"   -> PipelineOps.dedupKeepBest _,
    "sample_stratified" -> PipelineOps.sampleStratified _,
    "sketch_top_k"      -> PipelineOps.sketchTopK _,
    "sketch_count_min"  -> PipelineOps.sketchCountMin _,
    "hll_union"         -> PipelineOps.hllUnion _,
    "merge_upsert"      -> PipelineOps.mergeUpsert _,
    "scd2_history"      -> PipelineOps.scd2History _,
    "funnel_analysis"   -> PipelineOps.funnelAnalysis _,
    "retention_cohorts" -> PipelineOps.retentionCohorts _,
    "join_bucketed"     -> PipelineOps.joinBucketed _,
    "pack_sequences"    -> PipelineOps.packSequencesRollup _,
    "quality_repetition" -> PipelineOps.qualityRepetition _,
    "decontaminate_ngrams" -> PipelineOps.decontaminateNgrams _,
    "decontaminate_bloom" -> PipelineOps.decontaminateBloom _,
    "decontaminate_minhash" -> PipelineOps.decontaminateMinhash _,
    "mixture_weights"   -> PipelineOps.mixtureWeights _,
    "mixture_temperature" -> PipelineOps.mixtureTemperature _,
    "select_token_budget" -> PipelineOps.selectTokenBudget _,
    "pipeline_curate_corpus" -> PipelineOps.pipelineCurateCorpus _,
    "pipeline_curate_multimodal" -> PipelineOps.pipelineCurateMultimodal _,
    "pipeline_select_dsir" -> PipelineOps.pipelineSelectDsir _,
    "pipeline_end_to_end" -> PipelineOps.pipelineEndToEnd _,
    "pipeline_apply_mixture" -> PipelineOps.pipelineApplyMixture _,
    "source_divergence" -> TextAnalysis.sourceDivergence _,
    "doc_novelty"       -> TextAnalysis.docNovelty _,
    "mixture_waterfill" -> PipelineOps.mixtureWaterfillQuery _,
    "contamination_report" -> PipelineOps.contaminationReport _,
    "quality_ensemble"  -> TextAnalysis.qualityEnsemble _,
    "cluster_balanced_sample" -> PipelineOps.clusterBalancedSample _,
    "corpus_diff"       -> PipelineOps.corpusDiff _,
    "boilerplate_scrub" -> Dedup.boilerplateScrub _,
    "dedup_eval_pr"     -> Dedup.dedupEvalPr _,
    "dedup_eval_sweep"  -> Dedup.dedupEvalSweep _,
    "tokenizer_fertility" -> TextAnalysis.tokenizerFertility _,
  )

  /** DuckDB twin of PipelineOps.pipelineCurateMultimodal: the
    * pipeline_curate_corpus CTE chain with the embedding LSH pair CTEs
    * (embedCandidateCtes(8), as dedup_embedding_keep) spliced in; both
    * modalities' edges union into ONE transitive closure. Restricting
    * embedding pairs to quality survivors happens after candidate
    * generation here (equivalent: band candidacy is pairwise). */
  private def pipelineCurateMultimodalOracleSql: String =
    s"""WITH RECURSIVE
       |d0 AS (SELECT doc_id, text, lang, source, string_split(text, ' ') AS toks
       |       FROM documents WHERE doc_id % 97 <> 0),
       |m AS (SELECT doc_id, text, lang, source, toks,
       |        CAST((20000*(len(toks) - len(list_distinct(toks))) + len(toks)) // (2*len(toks)) AS DOUBLE)/10000.0 AS dup_ratio,
       |        CAST((20000*(length(text) - (len(toks) - 1)) + len(toks)) // (2*len(toks)) AS DOUBLE)/10000.0 AS mean_tok_len,
       |        CAST((20000*list_max(list_transform(list_distinct(toks),
       |              t -> len(list_filter(toks, x -> x = t)))) + len(toks)) // (2*len(toks)) AS DOUBLE)/10000.0 AS top_frac
       |      FROM d0),
       |k0 AS (SELECT doc_id, text, lang, source, toks FROM m
       |       WHERE dup_ratio <= 0.9 AND mean_tok_len BETWEEN 2.0 AND 12.0 AND top_frac <= 0.3),
       |k AS (SELECT doc_id,
       |        md5(array_to_string(list_slice(toks, 1, 8), ' ')) AS k_head,
       |        md5(array_to_string(list_slice(toks, greatest(1, len(toks) - 7), len(toks)), ' ')) AS k_tail
       |      FROM k0),
       |e0 AS (SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY k_head) AS b FROM k
       |       UNION ALL
       |       SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY k_tail) AS b FROM k),
       |${embedCandidateCtes(8)},
       |epairs AS (
       |  SELECT id_a, id_b FROM cand
       |  JOIN embeddings ea ON ea.vec_id = id_a
       |  JOIN embeddings eb ON eb.vec_id = id_b
       |  WHERE $embedCos >= 0.25
       |    AND id_a IN (SELECT doc_id FROM k0)
       |    AND id_b IN (SELECT doc_id FROM k0)),
       |edges AS (SELECT a, b FROM e0 WHERE a <> b
       |          UNION SELECT b, a FROM e0 WHERE a <> b
       |          UNION SELECT id_a AS a, id_b AS b FROM epairs
       |          UNION SELECT id_b AS a, id_a AS b FROM epairs),
       |reach(v, m2) AS (SELECT doc_id, doc_id FROM k0
       |                 UNION
       |                 SELECT e.a, r.m2 FROM edges e JOIN reach r ON e.b = r.v),
       |comp AS (SELECT v AS doc_id, min(m2) AS cluster_id FROM reach GROUP BY v),
       |reps AS (SELECT k0.* FROM k0 JOIN comp ON k0.doc_id = comp.doc_id
       |         WHERE k0.doc_id = comp.cluster_id),
       |eg AS (SELECT DISTINCT array_to_string(list_slice(toks, i, i + 5), ' ') AS gram
       |       FROM (SELECT string_split(text, ' ') AS toks FROM documents
       |             WHERE doc_id % 97 = 0) t,
       |            UNNEST(range(1, greatest(1, len(toks) - 4))) AS u(i)),
       |tg AS (SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 5), ' ') AS gram
       |       FROM reps, UNNEST(range(1, greatest(1, len(toks) - 4))) AS u(i)),
       |bad AS (SELECT DISTINCT doc_id FROM tg JOIN eg USING (gram))
       |SELECT doc_id, lang, source FROM reps
       |WHERE doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY doc_id""".stripMargin

  /** DuckDB twin of Dedup.dedupEmbedding, generated from the SAME plane
    * constants (Dedup.embedPlanes, values k/1024 → exact finite decimals):
    * 32 sign bits via list_dot_product over DOUBLE[] (bit-identical to the
    * codegen'd VecDot — both accumulate left-to-right in double), 8 bands of
    * 4 bits, DISTINCT candidate pairs sharing any band, exact cosine ≥ 0.25
    * residual. The Spark side runs the residual filter on the duplicated
    * candidate stream and dedups only the SURVIVORS with a distinct
    * (residual-before-distinct — see cosineDedupLsh); the oracle applies
    * DISTINCT before the residual — same final pair set either way, because
    * duplicated survivors carry identical rounded cosine. */
  /** Shared exact-cosine expression over two embeddings-table aliases. */
  private val embedCos =
    """list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
      |    (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) *
      |     sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])))""".stripMargin

  /** Shared CTE chain (bits → sig → ex → cand) of the embedding-dedup
    * oracles, generated from the Dedup.embedPlanes constants; bands group
    * the 32 sign bits MSB-first, `bitsPerBand` at a time (mirroring
    * Graft.cosineDedupLsh's aggregate(acc*2+x) packing). */
  private def embedCandidateCtes(bitsPerBand: Int): String = {
    val planes = graft.queries.Dedup.embedPlanes
    val nBands = planes.length / bitsPerBand
    def planeLit(p: Array[Double]): String =
      p.map(v => new java.math.BigDecimal(v).toPlainString).mkString("[", ", ", "]")
    val bits = planes.indices.map { i =>
      s"CASE WHEN list_dot_product(embedding::DOUBLE[], ${planeLit(planes(i))}::DOUBLE[]) > 0 THEN 1 ELSE 0 END AS b$i"
    }.mkString(",\n      ")
    val bands = (0 until nBands).map { k =>
      (0 until bitsPerBand)
        .map(j => s"b${bitsPerBand * k + j} * ${1 << (bitsPerBand - 1 - j)}")
        .mkString(" + ")
    }.mkString("[", ", ", "]")
    s"""bits AS (
       |  SELECT vec_id,
       |      $bits
       |  FROM embeddings),
       |sig AS (SELECT vec_id, $bands AS bands FROM bits),
       |ex AS (SELECT vec_id, i, bands[i + 1] AS bucket FROM sig, range($nBands) t(i)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM ex a JOIN ex b
       |    ON a.i = b.i AND a.bucket = b.bucket AND a.vec_id < b.vec_id)""".stripMargin
  }

  private def dedupEmbeddingOracleSql: String =
    s"""WITH ${embedCandidateCtes(4)}
       |SELECT id_a, id_b, round($embedCos, 4) AS cos_sim
       |FROM cand
       |JOIN embeddings ea ON ea.vec_id = id_a
       |JOIN embeddings eb ON eb.vec_id = id_b
       |WHERE $embedCos >= 0.25
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB twin of Dedup.dedupEmbeddingKeep: the same LSH candidate + exact
    * cosine pair SQL, then a recursive CTE computes min-reachable-id
    * connected components (the declarative twin of the distributed
    * label-propagation loop, as in dedup_clusters) and one representative
    * survives per cluster. The keep variant groups the planes 4 bands × 8
    * bits (the scale configuration — see Dedup.dedupEmbeddingKeep). */
  private def dedupEmbeddingKeepOracleSql: String =
    s"""WITH RECURSIVE ${embedCandidateCtes(8)},
       |pairs AS (
       |  SELECT id_a, id_b
       |  FROM cand
       |  JOIN embeddings ea ON ea.vec_id = id_a
       |  JOIN embeddings eb ON eb.vec_id = id_b
       |  WHERE $embedCos >= 0.25),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION
       |  SELECT id_b AS a, id_a AS b FROM pairs),
       |reach(v, m) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.v),
       |comp AS (SELECT v AS vec_id, min(m) AS cluster_id FROM reach GROUP BY v)
       |SELECT cluster_id AS keep_id, count(1) AS n_members
       |FROM comp GROUP BY cluster_id ORDER BY keep_id""".stripMargin

  /** Shared by ab_test and stream_ab_test (the drained per-user state
    * feeds the same readout — pinned identical). */
  private val abTestOracleSql: String =
    """WITH pu AS (SELECT user_id, CAST(min(user_id % 2) AS BIGINT) AS v,
      |    max(CASE WHEN event_type = 'purchase' AND value > 180 THEN 1 ELSE 0 END) AS c
      |  FROM events GROUP BY user_id),
      |wide AS (SELECT
      |    CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN v = 0 THEN c ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN v = 1 THEN c ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM pu)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a6,
      |  round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b6,
      |  round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
      |    - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS lift6,
      |  round((CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
      |      - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
      |    / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
      |        * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)))
      |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6) AS z6,
      |  abs((CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
      |      - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
      |    / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
      |        * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)))
      |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))) > 1.96
      |    AS significant
      |FROM wide""".stripMargin

  /** Shared by ewma_monitor and stream_ewma (the stream folds the same
    * grid forward from a carried state — final state pinned identical). */
  private val ewmaMonitorOracleSql: String =
    """WITH RECURSIVE obs AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour,
      |    CAST(count(1) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |bounds AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1
      |  FROM obs GROUP BY 1),
      |spine AS (SELECT event_type,
      |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      |  FROM bounds),
      |filled AS (SELECT s.event_type, s.hour, coalesce(o.c, 0) AS c,
      |    row_number() OVER (PARTITION BY s.event_type ORDER BY s.hour) - 1 AS i
      |  FROM spine s LEFT JOIN obs o
      |    ON o.event_type = s.event_type AND o.hour = s.hour),
      |r(event_type, i, s, hi, lo) AS (
      |  SELECT event_type, i, c, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |  FROM filled WHERE i = 0
      |  UNION ALL
      |  SELECT f.event_type, f.i, (3 * r.s + f.c) // 4,
      |    r.hi + CASE WHEN f.i >= 6 AND 8 * f.c > 13 * r.s THEN 1 ELSE 0 END,
      |    r.lo + CASE WHEN f.i >= 6 AND 8 * f.c < 3 * r.s THEN 1 ELSE 0 END
      |  FROM r JOIN filled f
      |    ON f.event_type = r.event_type AND f.i = r.i + 1)
      |SELECT event_type, CAST(max(i) + 1 AS BIGINT) AS n_hours,
      |  CAST(arg_max(s, i) AS BIGINT) AS final_ewma,
      |  CAST(arg_max(hi, i) AS BIGINT) AS n_high,
      |  CAST(arg_max(lo, i) AS BIGINT) AS n_low
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  /** DuckDB twin of Similarity.embeddingDrift: the per-(label, generation)
    * quantized fixed-point centroids (the centroid_classify rule) and one
    * cosine per label between them. */
  private def embeddingDriftOracleSql: String = {
    val dims = 64
    def meanExprs = (1 to dims).map(d =>
      s"CAST(CAST(sum(CAST(floor(CAST(e.embedding[$d] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 1048576.0 AS FLOAT)")
      .mkString("[\n      ", ",\n      ", "]")
    s"""WITH ca AS (
       |  SELECT label, $meanExprs AS c, CAST(count(1) AS BIGINT) AS n_a
       |  FROM embeddings e WHERE vec_id % 2 = 0 GROUP BY label),
       |cb AS (
       |  SELECT label, $meanExprs AS c, CAST(count(1) AS BIGINT) AS n_b
       |  FROM embeddings e WHERE vec_id % 2 = 1 GROUP BY label)
       |SELECT label, n_a, n_b,
       |  round(list_dot_product(ca.c::DOUBLE[], cb.c::DOUBLE[])
       |    / (sqrt(list_dot_product(ca.c::DOUBLE[], ca.c::DOUBLE[]))
       |     * sqrt(list_dot_product(cb.c::DOUBLE[], cb.c::DOUBLE[]))), 6) AS cos6
       |FROM ca JOIN cb USING (label) ORDER BY label""".stripMargin
  }

  /** Shared by skyline_select and stream_skyline (the drained streaming
    * grid feeds the same front computation — pinned identical). */
  private val skylineOracleSql: String =
    """WITH base AS (SELECT doc_id, source AS s,
      |    (1000000 * len(list_distinct(l))) // len(l) AS x,
      |    CAST(n_chars AS BIGINT) AS y
      |  FROM (SELECT doc_id, source, n_chars,
      |      list_filter(string_split(text, ' '), q -> len(q) > 0) AS l FROM documents)),
      |grid AS (SELECT s, x, max(y) AS maxy FROM base GROUP BY 1, 2),
      |pref AS (SELECT s, x, maxy, max(maxy) OVER (PARTITION BY s ORDER BY x DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS gt FROM grid),
      |front AS (SELECT s, x, maxy FROM pref WHERE gt IS NULL OR gt < maxy)
      |SELECT base.s AS source, base.x AS score, base.y AS n_chars,
      |  CAST(count(1) AS BIGINT) AS n_docs, min(doc_id) AS min_id
      |FROM base JOIN front ON base.s = front.s AND base.x = front.x AND base.y = front.maxy
      |GROUP BY 1, 2, 3 ORDER BY source, score""".stripMargin

  /** DuckDB twin of Similarity.knnGraph: the SAME 4×8-bit banded candidate
    * machinery as dedup_embedding_keep (shared plane constants), cosine ≥ 0
    * pairs in both directions, per-node top-3 by (4dp cosine DESC, id ASC),
    * reciprocity via the reverse-edge self-join. */
  private def knnGraphOracleSql: String =
    s"""WITH ${embedCandidateCtes(8)},
       |p0 AS (
       |  SELECT id_a, id_b, round($embedCos, 4) AS c
       |  FROM cand
       |  JOIN embeddings ea ON ea.vec_id = id_a
       |  JOIN embeddings eb ON eb.vec_id = id_b
       |  WHERE $embedCos >= 0.0),
       |dir AS (SELECT id_a AS s, id_b AS t, c FROM p0
       |  UNION ALL SELECT id_b AS s, id_a AS t, c FROM p0),
       |top AS (SELECT s, t FROM (SELECT s, t,
       |    row_number() OVER (PARTITION BY s ORDER BY c DESC, t) AS rn FROM dir)
       |  WHERE rn <= 3),
       |lab AS (SELECT vec_id, label FROM embeddings)
       |SELECT e.label, CAST(count(DISTINCT a.s) AS BIGINT) AS n_nodes,
       |  CAST(count(1) AS BIGINT) AS n_edges,
       |  round(CAST(count(b.s) AS DOUBLE) / CAST(count(1) AS DOUBLE), 4) AS recip4
       |FROM top a
       |LEFT JOIN top b ON a.s = b.t AND a.t = b.s
       |JOIN lab e ON e.vec_id = a.s
       |GROUP BY e.label ORDER BY e.label""".stripMargin

  /** DuckDB twin of Similarity.knnGraphSearch — the greedy graph descent
    * unrolled: the SAME edge CTEs as knn_graph (banded candidates, per-
    * source top-3 by 4dp-cosine DESC / id ASC), a `step` CTE holding every
    * (query, source)'s best non-self neighbor by (6dp cosine DESC, id
    * ASC), the fixed entry node (lowest id ≥ the probe cutoff), and three
    * chained hop CTEs each moving iff the step strictly improves the
    * current 6dp score (NULL step — a node with no non-self edges — keeps
    * the current node, matching Spark's null-false `when`). */
  private def knnGraphSearchOracleSql: String = {
    val qCos =
      """round(list_dot_product(q.qv::DOUBLE[], e2.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) *
        |     sqrt(list_dot_product(e2.embedding::DOUBLE[], e2.embedding::DOUBLE[]))), 6)"""
        .stripMargin
    def hop(h: Int): String =
      s"""h$h AS (
         |  SELECT p.q_id,
         |    CASE WHEN st.nxt_s6 > p.s6 THEN st.nxt ELSE p.node END AS node,
         |    CASE WHEN st.nxt_s6 > p.s6 THEN st.nxt_s6 ELSE p.s6 END AS s6
         |  FROM h${h - 1} p
         |  LEFT JOIN step st ON st.q_id = p.q_id AND st.node = p.node)"""
        .stripMargin
    s"""WITH ${embedCandidateCtes(8)},
       |p0 AS (
       |  SELECT id_a, id_b, round($embedCos, 4) AS c
       |  FROM cand
       |  JOIN embeddings ea ON ea.vec_id = id_a
       |  JOIN embeddings eb ON eb.vec_id = id_b
       |  WHERE $embedCos >= 0.0),
       |dir AS (SELECT id_a AS s, id_b AS t, c FROM p0
       |  UNION ALL SELECT id_b AS s, id_a AS t, c FROM p0),
       |top AS (SELECT s, t FROM (SELECT s, t,
       |    row_number() OVER (PARTITION BY s ORDER BY c DESC, t) AS rn FROM dir)
       |  WHERE rn <= 3),
       |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
       |  WHERE vec_id < 10),
       |stepc AS (
       |  SELECT q.q_id, top.s, top.t, $qCos AS s6
       |  FROM top CROSS JOIN q JOIN embeddings e2 ON e2.vec_id = top.t
       |  WHERE top.t <> q.q_id),
       |step AS (
       |  SELECT q_id, s AS node, t AS nxt, s6 AS nxt_s6 FROM (
       |    SELECT q_id, s, t, s6, row_number() OVER (
       |      PARTITION BY q_id, s ORDER BY s6 DESC, t ASC) AS rn
       |    FROM stepc)
       |  WHERE rn = 1),
       |ent AS (SELECT min(vec_id) AS e FROM embeddings WHERE vec_id >= 10),
       |h0 AS (
       |  SELECT q.q_id, ent.e AS node, $qCos AS s6
       |  FROM q CROSS JOIN ent JOIN embeddings e2 ON e2.vec_id = ent.e),
       |${hop(1)},
       |${hop(2)},
       |${hop(3)}
       |SELECT q_id, CAST(hop AS INTEGER) AS hop, node AS node_id,
       |  round(s6, 4) AS cos4
       |FROM (
       |  SELECT q_id, 0 AS hop, node, s6 FROM h0
       |  UNION ALL SELECT q_id, 1, node, s6 FROM h1
       |  UNION ALL SELECT q_id, 2, node, s6 FROM h2
       |  UNION ALL SELECT q_id, 3, node, s6 FROM h3)
       |ORDER BY q_id, hop""".stripMargin
  }

  /** DuckDB twin of Similarity.knnLsh, generated from the SAME discretized
    * plane constants (Similarity.knnPlanes — the machinery
    * dedupEmbeddingOracleSql proved): 16 sign bits, 4 bands × 4 bits,
    * DISTINCT directional candidates (query side vec_id < 10) sharing any
    * band, exact-cosine rerank to top-5 per query. */
  private def knnLshOracleSql: String = {
    val planes = graft.queries.Similarity.knnPlanes
    def planeLit(p: Array[Double]): String =
      p.map(v => new java.math.BigDecimal(v).toPlainString).mkString("[", ", ", "]")
    val bits = planes.indices.map { i =>
      s"CASE WHEN list_dot_product(embedding::DOUBLE[], ${planeLit(planes(i))}::DOUBLE[]) > 0 THEN 1 ELSE 0 END AS b$i"
    }.mkString(",\n      ")
    val bands = (0 until 4).map { k =>
      s"b${4 * k} * 8 + b${4 * k + 1} * 4 + b${4 * k + 2} * 2 + b${4 * k + 3}"
    }.mkString("[", ", ", "]")
    s"""WITH bits AS (
       |  SELECT vec_id,
       |      $bits
       |  FROM embeddings),
       |sig AS (SELECT vec_id, $bands AS bands FROM bits),
       |ex AS (SELECT vec_id, i, bands[i + 1] AS bucket FROM sig, range(4) t(i)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS c_id
       |  FROM ex a JOIN ex b
       |    ON a.i = b.i AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id < 10),
       |sc AS (
       |  SELECT q_id, c_id, eb.label,
       |    round(list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
       |      (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) *
       |       sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))), 6) AS score6
       |  FROM cand
       |  JOIN embeddings ea ON ea.vec_id = q_id
       |  JOIN embeddings eb ON eb.vec_id = c_id),
       |r AS (
       |  SELECT q_id, c_id, label, score6,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY score6 DESC, c_id ASC) AS INTEGER) AS rn
       |  FROM sc)
       |SELECT q_id, rn, c_id, label, round(score6, 4) AS cos_sim
       |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
  }

  /** DuckDB twin of TextAnalysis.docFingerprintRolling. The polynomial
    * rolling hash (h ← h·31 + byte, WRAPPING 64-bit) looks inexpressible in
    * DuckDB (BIGINT overflow raises there), but wrapping arithmetic is just
    * arithmetic mod 2^64 — so the oracle reduces in HUGEINT (128-bit: h·31+b
    * never overflows for h < 2^64), takes `% 2^64` each step, and maps the
    * result back to signed BIGINT at the end. Bytes come from `ord()` per
    * char, which equals the UTF-8 byte for this all-ASCII corpus (the
    * generator would need a real byte explode for multi-byte text). */
  private def docFingerprintRollingOracleSql: String = {
    def rh(s: String): String =
      s"""CAST(CASE WHEN __u >= 9223372036854775808::HUGEINT
         |       THEN __u - 18446744073709551616::HUGEINT ELSE __u END AS BIGINT)
         |FROM (SELECT list_reduce(
         |  [1125899906842597::HUGEINT] ||
         |    list_transform(range(1, length($s) + 1), i -> CAST(ord($s[i]) AS HUGEINT)),
         |  (h, b) -> (h * 31 + b) % 18446744073709551616::HUGEINT) AS __u)""".stripMargin
    s"""SELECT doc_id,
       |  (SELECT ${rh("text")}) AS fp_full,
       |  CAST(greatest(CAST(ceil(len(string_split(text, ' ')) / 16.0) AS BIGINT) - 1, 0) + 1 AS INTEGER) AS n_chunks,
       |  (SELECT ${rh("array_to_string(string_split(text, ' ')[1:16], ' ')")}) AS first_chunk_hash
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twin of the cross-engine base hash Graft.md5Hash60. */
  private def md5h60(c: String): String =
    s"('0x' || substring(md5($c), 1, 15))::BIGINT"

  /** Shared CTE prefix for the MinHash oracles (dedup_minhash and
    * dedup_incremental): shingles → md5Hash60 base hash mod P → the 32
    * (a_i·h + b_i) mod P permutation mins → signature list → 8×4 band
    * explode. Ends at the `ex` CTE; callers append their candidate join. */
  private val minhashP = 2147483647L
  private val minhashN = 32
  private def minhashSigCtePrefix: String = minhashSigCtePrefixWhere("")

  /** The signature prefix with a WHERE on the documents scan — the two
    * eval rows run on the 1-in-4 md5-digit audit slice (`evalSliceWhere`);
    * "" reproduces the shared prefix byte-identically. */
  private def minhashSigCtePrefixWhere(where: String): String = {
    val P = minhashP
    val n = minhashN
    val mins = (0 until n).map { i =>
      val a = 2L * i * i + 3L * i + 1L
      val b = 7L * i * i + 5L * i + 3L
      s"min(($a::BIGINT * h + $b::BIGINT) % $P::BIGINT) AS m$i"
    }.mkString(",\n    ")
    val sigList = (0 until n).map(i => s"m$i").mkString("[", ", ", "]")
    val bands = (0 until 8).map(k => s"sig[${4 * k + 1}:${4 * k + 4}]")
      .mkString("([", ", ", "])")
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(shingles) AS shingle FROM (
       |    SELECT doc_id,
       |      list_distinct(list_transform(
       |        range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
       |        i -> string_split(text, ' ')[i] || ' ' ||
       |             string_split(text, ' ')[i + 1] || ' ' ||
       |             string_split(text, ' ')[i + 2])) AS shingles
       |    FROM documents$where)),
       |h AS (SELECT doc_id, ${md5h60("shingle")} % $P::BIGINT AS h FROM sh),
       |m AS (SELECT doc_id,
       |    $mins
       |  FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigList AS sig FROM m),
       |ex AS (SELECT doc_id, i, $bands[i + 1] AS band FROM sig, range(8) t(i))""".stripMargin
  }

  /** Shared matching-position Jaccard estimate over a `cand(idA, idB)` CTE. */
  private def minhashEstExpr: String =
    s"""round(list_sum(list_transform(range($minhashN),
       |      i -> CASE WHEN sa.sig[i + 1] = sb.sig[i + 1] THEN 1 ELSE 0 END)) / $minhashN.0, 4)""".stripMargin

  /** DuckDB twin of Dedup.dedupMinhash: identical shingles, the md5Hash60
    * base hash mod P, the same 32 (a_i·h + b_i) mod P permutation mins,
    * 8 bands × 4 rows banding, and the matching-position Jaccard estimate. */
  private def dedupMinhashOracleSql: String =
    s"""$minhashSigCtePrefix,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ex a JOIN ex b
       |    ON a.i = b.i AND a.band = b.band AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT id_a, id_b,
       |    $minhashEstExpr
       |      AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = id_a
       |  JOIN sig sb ON sb.doc_id = id_b)
       |SELECT id_a, id_b, est_jaccard FROM est
       |WHERE est_jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin

  /** DuckDB twin of Dedup.dedupIncremental (Graft.minhashCandidatesAgainst):
    * the same signature machinery as dedup_minhash — a document's signature
    * is row-local, so computing it on the full corpus vs the filtered batch
    * is identical — with the candidate join restricted to NEW (doc_id ≡ 9
    * mod 10) × INDEX (the rest). */
  private def dedupIncrementalOracleSql: String =
    s"""$minhashSigCtePrefix,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id
       |  FROM ex a JOIN ex b
       |    ON a.i = b.i AND a.band = b.band
       |   AND a.doc_id % 10 = 9 AND b.doc_id % 10 <> 9),
       |est AS (
       |  SELECT new_id, index_id,
       |    $minhashEstExpr
       |      AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = new_id
       |  JOIN sig sb ON sb.doc_id = index_id)
       |SELECT new_id, index_id, est_jaccard FROM est
       |WHERE est_jaccard >= 0.2 ORDER BY new_id, index_id""".stripMargin

  /** DuckDB twin of StreamingQueries.streamOnlineDedup — the whole online
    * ingest loop is closed-form because batch membership is doc_id % 2 and
    * the fold makes "screened against" = "every earlier batch": a pair is
    * flagged iff the two docs share a band and the new doc's batch is
    * strictly later. Signatures are row-local, so computing them over the
    * full corpus ≡ per-batch computation. */
  private def streamOnlineDedupOracleSql: String =
    s"""$minhashSigCtePrefix,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id
       |  FROM ex a JOIN ex b
       |    ON a.i = b.i AND a.band = b.band
       |   AND a.doc_id % 2 > b.doc_id % 2),
       |est AS (
       |  SELECT new_id, index_id,
       |    $minhashEstExpr
       |      AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = new_id
       |  JOIN sig sb ON sb.doc_id = index_id)
       |SELECT new_id AS doc_id, index_id AS dup_of, est_jaccard FROM est
       |WHERE est_jaccard >= 0.2 ORDER BY doc_id, dup_of""".stripMargin

  /** DuckDB twin of StreamingQueries.streamOnlineCurate — the online
    * curation loop unrolled: arrival order is the doc_id%2 order,
    * so the closed form is (1) the Gopher gate over the %17<>0 stream,
    * (2) keep-first exact dedup = row_number ordered by (doc_id%2, doc_id)
    * per text hash over GATED docs, (3) the banded eval screen restricted
    * to the kept set, (4) the fixed-point DSIR model fit on the FULL
    * static corpus scoring the clean survivors. Every fragment reuses an
    * exactness argument proven by its standalone oracle (quality_gopher,
    * dedup_exact, decontaminate_minhash, stream_dsir). */
  private def streamOnlineCurateOracleSql: String =
    s"""$minhashSigCtePrefix,
       |tok0 AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
       |  FROM documents WHERE doc_id % 17 <> 0),
       |gp AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_words,
       |      CAST(list_sum(list_transform(ts, x -> len(x))) AS BIGINT) AS sumlen,
       |      CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha,
       |      CAST(len(list_filter(['the','a','of','and','is'],
       |        s2 -> list_contains(ts, s2))) AS BIGINT) AS n_stop
       |    FROM tok0 WHERE len(ts) >= 1)
       |  WHERE n_words BETWEEN 20 AND 100000 AND 3 * n_words <= sumlen
       |    AND sumlen <= 10 * n_words AND 5 * alpha >= 4 * n_words
       |    AND n_stop >= 2),
       |kp AS (
       |  SELECT doc_id FROM (
       |    SELECT d.doc_id, row_number() OVER (
       |        PARTITION BY md5(lower(trim(d.text)))
       |        ORDER BY d.doc_id % 2, d.doc_id) AS rn
       |    FROM documents d JOIN gp USING (doc_id))
       |  WHERE rn = 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id
       |  FROM ex a JOIN ex b
       |    ON a.i = b.i AND a.band = b.band
       |   AND a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0
       |  JOIN kp k ON k.doc_id = a.doc_id),
       |est AS (
       |  SELECT new_id, index_id,
       |    $minhashEstExpr
       |      AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = new_id
       |  JOIN sig sb ON sb.doc_id = index_id),
       |clean AS (
       |  SELECT doc_id FROM kp WHERE doc_id NOT IN (
       |    SELECT new_id FROM est WHERE est_jaccard >= 0.2)),
       |mtok AS (
       |  SELECT CAST(lang = 'en' AS BIGINT) AS t,
       |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % 256 AS b
       |  FROM (SELECT lang,
       |          unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
       |        FROM documents)),
       |obs AS (SELECT b, sum(t) AS ct, count(1) AS cs FROM mtok GROUP BY b),
       |counts AS (
       |  SELECT ab.b, coalesce(o.ct, 0) AS ct, coalesce(o.cs, 0) AS cs
       |  FROM (SELECT unnest(range(0, 256)) AS b) ab LEFT JOIN obs o USING (b)),
       |totals AS (SELECT sum(ct) AS tt, sum(cs) AS ts FROM counts),
       |model AS (
       |  SELECT b,
       |    CAST(floor(ln((ct + 1)::DOUBLE / (tt + 256)::DOUBLE) * 1048576.0) AS BIGINT)
       |    - CAST(floor(ln((cs + 1)::DOUBLE / (ts + 256)::DOUBLE) * 1048576.0) AS BIGINT) AS lrq
       |  FROM counts CROSS JOIN totals),
       |stok AS (
       |  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT % 256 AS b
       |  FROM (SELECT d.doc_id,
       |          unnest(list_filter(string_split(d.text, ' '), x -> len(x) > 0)) AS tok
       |        FROM documents d JOIN clean c ON c.doc_id = d.doc_id))
       |SELECT doc_id, count(1) AS n_tokens,
       |  round(sum(lrq)::DOUBLE / 1048576.0, 4) AS llr
       |FROM stok JOIN model USING (b)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB twin of PipelineOps.decontaminateMinhash — the
    * dedup_incremental banded new×index machinery with the eval side
    * (doc_id % 17 = 0 — a split whose eval set carries real leaks at
    * gate scale) as the index. */
  private def decontaminateMinhashOracleSql: String =
    s"""$minhashSigCtePrefix,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id
       |  FROM ex a JOIN ex b
       |    ON a.i = b.i AND a.band = b.band
       |   AND a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0),
       |est AS (
       |  SELECT new_id, index_id,
       |    $minhashEstExpr
       |      AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = new_id
       |  JOIN sig sb ON sb.doc_id = index_id)
       |SELECT new_id AS doc_id, index_id AS eval_id, est_jaccard FROM est
       |WHERE est_jaccard >= 0.2 ORDER BY doc_id, eval_id""".stripMargin

  /** DuckDB twin of PipelineOps.contaminationReport: the decontaminate_
    * minhash signature CTEs (verbatim prefix) plus the exact-md5 and
    * 6-gram screens over the same % 17 split, each collapsed to its
    * (flagged train docs, eval docs hit) counts; the flag rate is the
    * integer ratio4 over the training-doc count. */
  private def contaminationReportOracleSql: String =
    s"""$minhashSigCtePrefix,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id
       |  FROM ex a JOIN ex b
       |    ON a.i = b.i AND a.band = b.band
       |   AND a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0),
       |est AS (
       |  SELECT new_id, index_id,
       |    $minhashEstExpr
       |      AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = new_id
       |  JOIN sig sb ON sb.doc_id = index_id),
       |mh_r AS (
       |  SELECT 'minhash' AS signal, count(DISTINCT new_id) AS n_flagged_train,
       |    count(DISTINCT index_id) AS n_eval_hit
       |  FROM est WHERE est_jaccard >= 0.2),
       |fpx AS (SELECT doc_id, md5(lower(trim(text))) AS f FROM documents),
       |ex_r AS (
       |  SELECT 'exact' AS signal, count(DISTINCT t.doc_id) AS n_flagged_train,
       |    count(DISTINCT e.doc_id) AS n_eval_hit
       |  FROM fpx t JOIN fpx e ON t.f = e.f
       |   AND t.doc_id % 17 <> 0 AND e.doc_id % 17 = 0),
       |g6 AS (
       |  SELECT doc_id, array_to_string(list_slice(toks, i, i + 5), ' ') AS gram
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |    UNNEST(range(1, greatest(1, len(toks) - 4))) AS u(i)),
       |ng_r AS (
       |  SELECT 'ngram6' AS signal, count(DISTINCT a.doc_id) AS n_flagged_train,
       |    count(DISTINCT b.doc_id) AS n_eval_hit
       |  FROM g6 a JOIN g6 b ON a.gram = b.gram
       |   AND a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0),
       |nt AS (SELECT count(1) AS n FROM documents WHERE doc_id % 17 <> 0)
       |SELECT signal, n_flagged_train, n_eval_hit,
       |  CAST((20000 * n_flagged_train + n) // (2 * n) AS DOUBLE) / 10000.0
       |    AS flag_rate4
       |FROM (SELECT * FROM ex_r UNION ALL SELECT * FROM mh_r
       |      UNION ALL SELECT * FROM ng_r) CROSS JOIN nt
       |ORDER BY signal""".stripMargin

  /** The water-filling solver's integer CTE chain (Graft.mixtureWaterfill's
    * DuckDB twin), PARAMETERIZED over the key column and any carried
    * columns — one implementation for the three consumers
    * (mixture_waterfill, mixture_epochs, cluster_balanced_sample), so a
    * fix to the saturation guard or the Hamilton tie-break cannot silently
    * apply to only one. Expects upstream CTEs `inv($key[, carry...], avail,
    * weight)` and `b(budget)`; emits r..s6 with s6 = ($key[, carry...],
    * avail, weight, saturated, alloc). The float ratio only ORDERS rows —
    * every decision is integer arithmetic, bit-identical cross-engine. */
  private def waterfillChainSql(key: String, carry: Seq[String] = Nil): String = {
    val c = carry.map(x => s"$x, ").mkString
    s"""r AS (
       |  SELECT $key, ${c}avail, weight, budget,
       |    sum(avail) OVER (ORDER BY CAST(avail AS DOUBLE) / CAST(weight AS DOUBLE) ASC, $key ASC) AS cum,
       |    sum(weight) OVER (ORDER BY CAST(avail AS DOUBLE) / CAST(weight AS DOUBLE) ASC, $key ASC) AS cumw,
       |    sum(weight) OVER () AS totw
       |  FROM inv CROSS JOIN b),
       |s1 AS (
       |  SELECT *, CASE WHEN avail * (totw - cumw + weight)
       |      <= (budget - cum + avail) * weight THEN 1 ELSE 0 END AS satraw
       |  FROM r),
       |s2 AS (
       |  SELECT *, min(satraw) OVER (ORDER BY CAST(avail AS DOUBLE) / CAST(weight AS DOUBLE) ASC, $key ASC) = 1 AS saturated
       |  FROM s1),
       |s3 AS (
       |  SELECT *, budget - sum(CASE WHEN saturated THEN avail ELSE 0 END) OVER () AS pool,
       |    greatest(totw - sum(CASE WHEN saturated THEN weight ELSE 0 END) OVER (), 1) AS remw
       |  FROM s2),
       |s4 AS (
       |  SELECT *, CASE WHEN saturated THEN avail ELSE (pool * weight) // remw END AS base,
       |    CASE WHEN saturated THEN 0 ELSE (pool * weight) % remw END AS fracrem
       |  FROM s3),
       |s5 AS (
       |  SELECT *, (sum(fracrem) OVER ()) // remw AS leftn,
       |    row_number() OVER (ORDER BY CASE WHEN saturated THEN 1 ELSE 0 END ASC,
       |      fracrem DESC, $key ASC) AS fr
       |  FROM s4),
       |s6 AS (
       |  SELECT $key, ${c}avail, weight, saturated,
       |    CASE WHEN saturated THEN avail
       |      ELSE base + CASE WHEN fr <= leftn THEN 1 ELSE 0 END END AS alloc
       |  FROM s5)""".stripMargin
  }

  /** DuckDB twin of Graft.mixtureWaterfill over the per-lang token
    * inventory (weights = doc counts, budget = 2/3 of corpus tokens). */
  private def mixtureWaterfillOracleSql: String =
    s"""WITH inv AS (
       |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail,
       |    count(1) AS weight
       |  FROM documents GROUP BY lang),
       |b AS (SELECT CAST(sum(avail) * 2 // 3 AS BIGINT) AS budget FROM inv),
       |${waterfillChainSql("lang")}
       |SELECT lang, avail AS avail_tokens, weight AS n_docs, saturated,
       |  CAST(alloc AS BIGINT) AS alloc,
       |  CAST((20000 * alloc + avail) // (2 * avail) AS DOUBLE) / 10000.0 AS fill_share4
       |FROM s6 ORDER BY lang""".stripMargin

  /** DuckDB twin of PipelineOps.mixtureEpochs — the mixture_waterfill
    * integer chain with avail' = 4·avail (the Muennighoff 4-epoch cap) and
    * budget = 1.5× the corpus, plus the epochs readback on the real
    * inventory. */
  private def mixtureEpochsOracleSql: String =
    s"""WITH inv AS (
       |  SELECT lang, realav, realav * 4 AS avail, weight FROM (
       |    SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS realav,
       |      count(1) AS weight
       |    FROM documents GROUP BY lang)),
       |b AS (SELECT CAST(sum(realav) * 3 // 2 AS BIGINT) AS budget FROM inv),
       |${waterfillChainSql("lang", carry = Seq("realav"))}
       |SELECT lang, realav AS avail_tokens, weight AS n_docs,
       |  saturated AS capped, CAST(alloc AS BIGINT) AS alloc,
       |  CAST((20000 * alloc + realav) // (2 * realav) AS DOUBLE) / 10000.0 AS epochs4
       |FROM s6 ORDER BY lang""".stripMargin

  /** DuckDB twin of PipelineOps.clusterBalancedSample: the knn_ivf kmeans
    * CTE prefix VERBATIM (fixed-point Lloyd — cross-engine exact), the
    * mixture_waterfill integer chain over the k-row cluster inventory with
    * equal weights and budget = ⌊N/2⌋, and md5-ranked picks per cluster
    * (identical 32-hex string compares in both engines). */
  private def clusterBalancedSampleOracleSql: String =
    s"""${kmeansAssignedCtesSql("")},
       |inv AS (
       |  SELECT list_id, count(1) AS avail, 1::BIGINT AS weight
       |  FROM assigned GROUP BY list_id),
       |b AS (SELECT count(1) // 2 AS budget FROM embeddings),
       |${waterfillChainSql("list_id")},
       |alloc AS (
       |  SELECT list_id, CAST(avail AS BIGINT) AS cluster_size,
       |    CAST(alloc AS BIGINT) AS alloc
       |  FROM s6),
       |ranked AS (
       |  SELECT vec_id, list_id,
       |    CAST(row_number() OVER (PARTITION BY list_id
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS BIGINT) AS pick_rank
       |  FROM assigned)
       |SELECT r.vec_id, r.list_id, r.pick_rank, a.cluster_size, a.alloc
       |FROM ranked r JOIN alloc a USING (list_id)
       |WHERE r.pick_rank <= a.alloc
       |ORDER BY r.list_id, r.pick_rank""".stripMargin

  /** DuckDB twin of Dedup.dedupEvalPr (Graft.minhashScreenEval): the
    * decontaminate_minhash signature CTEs (verbatim prefix — md5Hash60 base
    * hash, 32 permutations, 8×4 bands), the dedup_ngram_jaccard capped
    * inverted index, the 1024-member band-bucket cap (exo/exf — the
    * sweep's excf rule, ADVICE r12), the two-method pair universe, exact
    * Jaccard from the full shingle sets, and the integer confusion
    * rollup. */
  /** The CONSTANT-SIZE md5 audit slice both eval rows run on (VERDICT r12
    * task 1 — Graft.auditSliceThresholdHex): the slice fraction is derived
    * from the corpus count so the slice SIZE stays ~evalSliceTargetDocs at
    * any scale. Integer-exact mirror of the Scala side: threshold =
    * (target·2^32) // N as an 8-hex string (equal-length hex compares
    * lexicographically as numbers; DuckDB hex() is uppercase, md5() is
    * lowercase — hence lower()); N ≤ target means no slicing at all. At
    * sf0.1 (N = 5000) the threshold is '40000000' — byte-identical to
    * r12's 1-in-4 first-digit slice. */
  private val evalSliceWhere: String = {
    val target = graft.queries.Dedup.evalSliceTargetDocs
    s"""
       | WHERE (SELECT count(*) FROM documents) <= $target
       |    OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
       |       (SELECT lpad(lower(hex(${target * 4294967296L} // count(*))), 8, '0')
       |        FROM documents)""".stripMargin
  }

  private def dedupEvalPrOracleSql: String =
    s"""${minhashSigCtePrefixWhere(evalSliceWhere)},
       |sizes AS (SELECT doc_id, count(1) AS n_sh FROM sh GROUP BY doc_id),
       |postings AS (SELECT shingle, count(1) AS df FROM sh GROUP BY shingle),
       |idx AS (
       |  SELECT sh.doc_id, sh.shingle
       |  FROM sh JOIN postings USING (shingle) WHERE df <= 128),
       |cand_sh AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM idx a JOIN idx b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       |exo AS (SELECT i, band, count(1) AS occ FROM ex GROUP BY i, band),
       |exf AS (
       |  SELECT e.doc_id, e.i, e.band
       |  FROM ex e JOIN exo USING (i, band) WHERE occ <= 1024),
       |cand_mh AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM exf a JOIN exf b
       |    ON a.i = b.i AND a.band = b.band AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT id_a, id_b,
       |    $minhashEstExpr
       |      AS est_jaccard
       |  FROM cand_mh
       |  JOIN sig sa ON sa.doc_id = id_a
       |  JOIN sig sb ON sb.doc_id = id_b),
       |uni AS (SELECT id_a, id_b FROM cand_sh
       |        UNION SELECT id_a, id_b FROM cand_mh),
       |inter AS (
       |  SELECT u.id_a, u.id_b, count(1) AS nc
       |  FROM uni u
       |  JOIN sh a ON a.doc_id = u.id_a
       |  JOIN sh b ON b.doc_id = u.id_b AND b.shingle = a.shingle
       |  GROUP BY u.id_a, u.id_b),
       |scored AS (
       |  SELECT
       |    round(CAST(coalesce(i.nc, 0) AS DOUBLE)
       |      / (sa.n_sh + sb.n_sh - coalesce(i.nc, 0)), 4) AS j,
       |    coalesce(e.est_jaccard, 0.0) AS est
       |  FROM uni u
       |  LEFT JOIN inter i ON i.id_a = u.id_a AND i.id_b = u.id_b
       |  JOIN sizes sa ON sa.doc_id = u.id_a
       |  JOIN sizes sb ON sb.doc_id = u.id_b
       |  LEFT JOIN est e ON e.id_a = u.id_a AND e.id_b = u.id_b),
       |agg AS (
       |  SELECT count(1) AS n_pairs,
       |    CAST(count_if(j >= 0.2) AS BIGINT) AS n_true,
       |    CAST(count_if(est >= 0.2) AS BIGINT) AS n_pred,
       |    CAST(count_if(j >= 0.2 AND est >= 0.2) AS BIGINT) AS n_tp,
       |    CAST(count_if(est >= 0.2 AND j < 0.2) AS BIGINT) AS n_fp,
       |    CAST(count_if(j >= 0.2 AND est < 0.2) AS BIGINT) AS n_fn
       |  FROM scored)
       |SELECT n_pairs, n_true, n_pred, n_tp, n_fp, n_fn,
       |  CAST((20000 * n_tp + greatest(n_pred, 1))
       |    // (2 * greatest(n_pred, 1)) AS DOUBLE) / 10000.0 AS precision4,
       |  CAST((20000 * n_tp + greatest(n_true, 1))
       |    // (2 * greatest(n_true, 1)) AS DOUBLE) / 10000.0 AS recall4
       |FROM agg""".stripMargin

  /** DuckDB twin of Dedup.dedupEvalSweep (Graft.minhashScreenSweep): the
    * dedup_eval_pr CTEs generalized — one signature table, a generated
    * banding CTE per (bands × rowsPerBand) layout, shared union-universe
    * ground truth, per-layout confusion rollup. */
  private def dedupEvalSweepOracleSql: String = {
    val configs = Seq((4, 8), (8, 4), (16, 2))
    val bandCtes = configs.map { case (bands, rpb) =>
      val slices = (0 until bands).map(k =>
        s"sig[${rpb * k + 1}:${rpb * (k + 1)}]").mkString("([", ", ", "])")
      s"""exc_$bands AS (
         |  SELECT doc_id, i, $slices[i + 1] AS band FROM sig, range($bands) t(i)),
         |excf_$bands AS (
         |  SELECT e.doc_id, e.i, e.band
         |  FROM exc_$bands e JOIN (
         |    SELECT i, band, count(1) AS occ FROM exc_$bands GROUP BY i, band) o
         |    ON o.i = e.i AND o.band = e.band
         |  WHERE occ <= 1024),
         |cand_$bands AS (
         |  SELECT DISTINCT $bands AS bands, $rpb AS rows_per_band,
         |    a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM excf_$bands a JOIN excf_$bands b
         |    ON a.i = b.i AND a.band = b.band AND a.doc_id < b.doc_id)""".stripMargin
    }.mkString(",\n")
    val bandedUnion = configs.map { case (b, _) => s"SELECT * FROM cand_$b" }
      .mkString("\n        UNION ALL ")
    s"""${minhashSigCtePrefixWhere(evalSliceWhere)},
       |sizes AS (SELECT doc_id, count(1) AS n_sh FROM sh GROUP BY doc_id),
       |postings AS (SELECT shingle, count(1) AS df FROM sh GROUP BY shingle),
       |idx AS (
       |  SELECT sh.doc_id, sh.shingle
       |  FROM sh JOIN postings USING (shingle) WHERE df <= 128),
       |cand_sh AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM idx a JOIN idx b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       |$bandCtes,
       |banded AS ($bandedUnion),
       |est AS (
       |  SELECT bands, rows_per_band, id_a, id_b,
       |    $minhashEstExpr
       |      AS est_jaccard
       |  FROM banded
       |  JOIN sig sa ON sa.doc_id = id_a
       |  JOIN sig sb ON sb.doc_id = id_b),
       |uni AS (SELECT id_a, id_b FROM cand_sh
       |        UNION SELECT id_a, id_b FROM banded),
       |inter AS (
       |  SELECT u.id_a, u.id_b, count(1) AS nc
       |  FROM uni u
       |  JOIN sh a ON a.doc_id = u.id_a
       |  JOIN sh b ON b.doc_id = u.id_b AND b.shingle = a.shingle
       |  GROUP BY u.id_a, u.id_b),
       |truth AS (
       |  SELECT u.id_a, u.id_b,
       |    round(CAST(coalesce(i.nc, 0) AS DOUBLE)
       |      / (sa.n_sh + sb.n_sh - coalesce(i.nc, 0)), 4) >= 0.2 AS t
       |  FROM uni u
       |  LEFT JOIN inter i ON i.id_a = u.id_a AND i.id_b = u.id_b
       |  JOIN sizes sa ON sa.doc_id = u.id_a
       |  JOIN sizes sb ON sb.doc_id = u.id_b),
       |gl AS (
       |  SELECT count(1) AS n_pairs, CAST(count_if(t) AS BIGINT) AS n_true
       |  FROM truth),
       |per AS (
       |  SELECT bands, rows_per_band,
       |    CAST(count_if(est_jaccard >= 0.2) AS BIGINT) AS n_pred,
       |    CAST(count_if(est_jaccard >= 0.2 AND t) AS BIGINT) AS n_tp,
       |    CAST(count_if(est_jaccard >= 0.2 AND NOT t) AS BIGINT) AS n_fp
       |  FROM est JOIN truth USING (id_a, id_b)
       |  GROUP BY bands, rows_per_band)
       |SELECT bands, rows_per_band, n_pairs, n_true, n_pred, n_tp, n_fp,
       |  n_true - n_tp AS n_fn,
       |  CAST((20000 * n_tp + greatest(n_pred, 1))
       |    // (2 * greatest(n_pred, 1)) AS DOUBLE) / 10000.0 AS precision4,
       |  CAST((20000 * n_tp + greatest(n_true, 1))
       |    // (2 * greatest(n_true, 1)) AS DOUBLE) / 10000.0 AS recall4
       |FROM per CROSS JOIN gl ORDER BY bands""".stripMargin
  }

  /** DuckDB twin of TextAnalysis.tokenizerFertility (Graft.bpeFertility):
    * the bpe_merges/bpe_encode unrolled training CTEs (bpeCtesSql — 10
    * merges over the corpus word-type histogram), per-word symbol widths
    * from the final symbolization, per-language word counts, integer-ratio4
    * fertility and chars-per-token. */
  private def tokenizerFertilityOracleSql: String =
    s"""${bpeCtesSql(10)},
       |pw AS (
       |  SELECT replace(ws, chr(31), '') AS w,
       |    CAST(len(string_split(trim(ws, chr(31)), chr(31) || chr(31))) AS BIGINT) AS wt
       |  FROM s10),
       |lw AS (
       |  SELECT lang, word AS w, count(1) AS c
       |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents) t
       |  WHERE length(word) > 0 GROUP BY lang, word),
       |agg AS (
       |  SELECT lang, CAST(sum(c) AS BIGINT) AS n_words,
       |    CAST(sum(c * wt) AS BIGINT) AS n_bpe_tokens,
       |    CAST(sum(c * length(w)) AS BIGINT) AS n_chars
       |  FROM lw JOIN pw USING (w) GROUP BY lang)
       |SELECT lang, n_words, n_bpe_tokens, n_chars,
       |  CAST((20000 * n_bpe_tokens + n_words)
       |    // (2 * n_words) AS DOUBLE) / 10000.0 AS fertility4,
       |  CAST((20000 * n_chars + n_bpe_tokens)
       |    // (2 * n_bpe_tokens) AS DOUBLE) / 10000.0 AS chars_per_token4
       |FROM agg ORDER BY lang""".stripMargin

  /** DuckDB twin of Dedup.boilerplateScrub — the dedup_paragraphs CTEs with
    * the per-fingerprint stat switched from keep-first occurrence to
    * COUNT(DISTINCT host doc), and the rollup to the ≥ 3-doc boilerplate
    * rule. */
  private def boilerplateScrubOracleSql: String =
    """WITH pars AS (
      |  SELECT doc_id,
      |    ('0x' || substring(md5(array_to_string(ts[(w*16+1):(w*16+16)], ' ')), 1, 15))::BIGINT AS fp
      |  FROM (
      |    SELECT doc_id, ts, unnest(range(0, CAST(ceil(len(ts) / 16.0) AS INT))) AS w
      |    FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
      |    WHERE len(ts) >= 1)),
      |stats AS (SELECT fp, count(DISTINCT doc_id) AS docs FROM pars GROUP BY fp)
      |SELECT p.doc_id, count(1) AS n_pars,
      |  CAST(count_if(docs >= 3) AS BIGINT) AS n_boiler,
      |  CAST(count(1) - count_if(docs >= 3) AS BIGINT) AS n_kept,
      |  CAST((20000 * count_if(docs >= 3) + count(1))
      |    // (2 * count(1)) AS DOUBLE) / 10000.0 AS boiler4
      |FROM pars p JOIN stats USING (fp)
      |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin

  /** DuckDB twin of PipelineOps.corpusDiff: both snapshot derivations, md5
    * text fingerprints, the full-outer status classification, per-source
    * rollup. */
  private def corpusDiffOracleSql: String =
    """WITH v0 AS (
      |  SELECT doc_id, md5(text) AS f FROM documents WHERE doc_id % 13 <> 5),
      |v1 AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 13 = 2 THEN upper(text) ELSE text END) AS f
      |  FROM documents WHERE doc_id % 13 <> 7),
      |d AS (
      |  SELECT coalesce(v0.doc_id, v1.doc_id) AS doc_id,
      |    CASE WHEN v0.f IS NULL THEN 'added'
      |         WHEN v1.f IS NULL THEN 'removed'
      |         WHEN v0.f = v1.f THEN 'unchanged'
      |         ELSE 'changed' END AS status
      |  FROM v0 FULL OUTER JOIN v1 ON v0.doc_id = v1.doc_id)
      |SELECT s.source, d.status, count(1) AS n_docs
      |FROM d JOIN documents s USING (doc_id)
      |GROUP BY s.source, d.status
      |ORDER BY s.source, d.status""".stripMargin

  /** DuckDB twin of TextAnalysis.qualityEnsemble: the quality_gopher,
    * quality_classifier, and quality_perplexity oracle CTEs verbatim,
    * joined per document, then per-source percentile-disc thresholds on
    * the ratio4 grids (cumulative counts over the grid — integer compares)
    * and the three-way keep rollup. */
  /** Shared CTE prefix of the three quality signals (Gopher rule bundle →
    * gp, hashed linear classifier → cs, bigram-LM perplexity → pp) —
    * quality_ensemble and quality_agreement consume the same signal
    * definitions by construction. */
  private val qualitySignalsCtes: String =
    """WITH tk AS (
      |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
      |  FROM documents),
      |gm AS (
      |  SELECT doc_id,
      |    CAST(len(ts) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(ts, x -> len(x))) AS BIGINT) AS sumlen,
      |    CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha,
      |    CAST(len(list_filter(['the','a','of','and','is'], w -> list_contains(ts, w))) AS BIGINT) AS n_stop
      |  FROM tk WHERE len(ts) >= 1),
      |gp AS (
      |  SELECT doc_id, (n_words BETWEEN 20 AND 100000) AND (3 * n_words <= sumlen)
      |    AND (sumlen <= 10 * n_words) AND (5 * alpha >= 4 * n_words)
      |    AND (n_stop >= 2) AS passes
      |  FROM gm),
      |cw AS (
      |  SELECT b AS bucket,
      |    ('0x' || substring(md5(CAST(b AS VARCHAR)), 1, 15))::BIGINT % 2001 - 1000 AS weight
      |  FROM (SELECT unnest(range(0, 1024)) AS b)),
      |cb AS (
      |  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT % 1024 AS bucket
      |  FROM (SELECT doc_id, unnest(ts) AS tok FROM tk)),
      |ca AS (
      |  SELECT doc_id, count(1) AS n_tokens, CAST(sum(weight) AS BIGINT) AS sw
      |  FROM cb JOIN cw USING (bucket) GROUP BY doc_id),
      |cs AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN sw >= 0 THEN (20000 * sw + n_tokens) // (2 * n_tokens)
      |      ELSE -((20000 * -sw + n_tokens) // (2 * n_tokens)) END AS DOUBLE) / 10000.0 AS score
      |  FROM ca),
      |bg AS (
      |  SELECT doc_id, i AS pos, ts[i - 1] AS prev, ts[i] AS cur
      |  FROM tk, UNNEST(range(2, len(ts) + 1)) AS r(i)),
      |cbg AS (SELECT prev, cur, count(1) AS c FROM bg GROUP BY prev, cur),
      |cctx AS (SELECT prev, CAST(sum(c) AS BIGINT) AS cc FROM cbg GROUP BY prev),
      |vo AS (SELECT count(DISTINCT t) AS vs FROM (SELECT unnest(ts) AS t FROM tk)),
      |nl AS (
      |  SELECT doc_id, pos,
      |    -(floor(ln((CAST(c AS DOUBLE) + 1.0)
      |      / (CAST(cc AS DOUBLE) + 1.0 * CAST(vs AS DOUBLE))) * 1048576.0) / 1048576.0) AS nll
      |  FROM bg JOIN cbg USING (prev, cur) JOIN cctx USING (prev) CROSS JOIN vo),
      |pp AS (
      |  SELECT doc_id, round(list_reduce(list(nll ORDER BY pos), (a, b) -> a + b) / count(1), 4) AS nll
      |  FROM nl GROUP BY doc_id)""".stripMargin

  private def qualityEnsembleOracleSql: String =
    s"""$qualitySignalsCtes,
      |j AS (
      |  SELECT tk.source, gp.doc_id, gp.passes, cs.score, pp.nll
      |  FROM gp JOIN cs USING (doc_id) JOIN pp USING (doc_id)
      |  JOIN tk ON tk.doc_id = gp.doc_id),
      |tsg AS (
      |  SELECT source, score, sum(c) OVER (PARTITION BY source ORDER BY score ASC) AS cum,
      |    sum(c) OVER (PARTITION BY source) AS n
      |  FROM (SELECT source, score, count(1) AS c FROM j GROUP BY source, score)),
      |thr_s AS (SELECT source, min(score) AS thr_score FROM tsg WHERE cum * 10 >= n * 3 GROUP BY source),
      |tng AS (
      |  SELECT source, nll, sum(c) OVER (PARTITION BY source ORDER BY nll ASC) AS cum,
      |    sum(c) OVER (PARTITION BY source) AS n
      |  FROM (SELECT source, nll, count(1) AS c FROM j GROUP BY source, nll)),
      |thr_n AS (SELECT source, min(nll) AS thr_nll FROM tng WHERE cum * 10 >= n * 7 GROUP BY source)
      |SELECT j.source, count(1) AS n_scored,
      |  CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass,
      |  min(thr_score) AS thr_score, min(thr_nll) AS thr_nll,
      |  CAST(sum(CASE WHEN passes AND score >= thr_score AND nll <= thr_nll THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      |  CAST((20000 * sum(CASE WHEN passes AND score >= thr_score AND nll <= thr_nll THEN 1 ELSE 0 END)
      |    + count(1)) // (2 * count(1)) AS DOUBLE) / 10000.0 AS keep_share4
      |FROM j JOIN thr_s USING (source) JOIN thr_n USING (source)
      |GROUP BY j.source ORDER BY j.source""".stripMargin

  /** DuckDB twin of TextAnalysis.qualityAgreement: the shared quality-signal
    * CTEs, GLOBAL median grid thresholds (cumulative counts over the
    * distinct-value grids), the three filter booleans, and the per-pair 2×2
    * confusion with observed and chance agreement on the ratio4 grid. */
  private def qualityAgreementOracleSql: String =
    s"""$qualitySignalsCtes,
      |j2 AS (
      |  SELECT gp.doc_id, gp.passes AS g, cs.score, pp.nll
      |  FROM gp JOIN cs USING (doc_id) JOIN pp USING (doc_id)),
      |tsg2 AS (
      |  SELECT score, sum(c) OVER (ORDER BY score ASC) AS cum, sum(c) OVER () AS n
      |  FROM (SELECT score, count(1) AS c FROM j2 GROUP BY score)),
      |thr_s2 AS (SELECT min(score) AS ts FROM tsg2 WHERE cum * 2 >= n),
      |tng2 AS (
      |  SELECT nll, sum(c) OVER (ORDER BY nll ASC) AS cum, sum(c) OVER () AS n
      |  FROM (SELECT nll, count(1) AS c FROM j2 GROUP BY nll)),
      |thr_n2 AS (SELECT min(nll) AS tn FROM tng2 WHERE cum * 2 >= n),
      |f AS (
      |  SELECT g, score >= (SELECT ts FROM thr_s2) AS c,
      |    nll <= (SELECT tn FROM thr_n2) AS p
      |  FROM j2),
      |pr AS (
      |  SELECT 'gopher|classifier' AS pair, g AS a, c AS b FROM f
      |  UNION ALL SELECT 'gopher|perplexity' AS pair, g AS a, p AS b FROM f
      |  UNION ALL SELECT 'classifier|perplexity' AS pair, c AS a, p AS b FROM f),
      |cf AS (
      |  SELECT pair, count(1) AS n_docs,
      |    CAST(count_if(a AND b) AS BIGINT) AS n11,
      |    CAST(count_if((NOT a) AND (NOT b)) AS BIGINT) AS n00,
      |    CAST(count_if(a AND (NOT b)) AS BIGINT) AS n10,
      |    CAST(count_if((NOT a) AND b) AS BIGINT) AS n01
      |  FROM pr GROUP BY pair)
      |SELECT pair, n_docs, n11, n00, n10, n01,
      |  CAST((20000 * (n11 + n00) + n_docs) // (2 * n_docs) AS DOUBLE) / 10000.0 AS agree4,
      |  CAST((20000 * ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10))
      |    + n_docs * n_docs) // (2 * n_docs * n_docs) AS DOUBLE) / 10000.0 AS expected_agree4
      |FROM cf ORDER BY pair""".stripMargin

  /** DuckDB twin of PipelineOps.shardManifest: one global window computes
    * the md5-ordered exclusive token prefix sum (the Spark side's two-phase
    * bucketed rank collapses to this on one node — Round13Spec pins the
    * equality), raw shard = prefix DIV tokensPerShard, per-shard counts and
    * the order-invariant bit_xor fingerprint of the member md5h60 ids; ids
    * densified with dense_rank − 1 (mirrors the Spark side's grid window —
    * a doc longer than tokensPerShard skips raw ids, ADVICE r13). */
  private def shardManifestOracleSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hk,
      |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS nt,
      |    ${md5h60("CAST(doc_id AS VARCHAR)")} AS h
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, h, nt,
      |    coalesce(sum(nt) OVER (ORDER BY hk, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
      |  FROM t),
      |g AS (
      |  SELECT CAST(pre // 4096 AS BIGINT) AS raw, count(1) AS n_docs,
      |    CAST(sum(nt) AS BIGINT) AS n_tokens,
      |    CAST(bit_xor(h) AS BIGINT) AS content_xor,
      |    CAST((20000 * sum(nt) + 4096) // (2 * 4096) AS DOUBLE) / 10000.0 AS fill_share4
      |  FROM c GROUP BY 1)
      |SELECT CAST(dense_rank() OVER (ORDER BY raw) - 1 AS BIGINT) AS shard_id,
      |  n_docs, n_tokens, content_xor, fill_share4
      |FROM g ORDER BY 1""".stripMargin

  /** DuckDB twin of Dedup.dedupSimhash: per-token-occurrence md5Hash60,
    * 60 positional bit-count sums, majority-sign signature, top-bit prefix
    * blocking, bit_count(xor) Hamming residual. */
  private def dedupSimhashOracleSql: String = {
    val bitSums = (0 until 60).map(b => s"sum((h >> $b) & 1) AS c$b")
      .mkString(",\n    ")
    val sig = (0 until 60).map(b =>
      s"CASE WHEN 2 * c$b > n THEN (1::BIGINT << $b) ELSE 0::BIGINT END")
      .mkString("\n      + ")
    // The Spark side's 13-block pigeonhole GUARANTEES recall at Hamming
    // ≤ 12 (PropertySpec pins candidates ≡ exact join), so the operator's
    // semantics ARE the exact all-pairs Hamming join — which is the twin:
    // simpler than mirroring the blocks, and O(docs²) only at oracle scale.
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |h AS (SELECT doc_id, ${md5h60("tok")} AS h FROM toks WHERE length(tok) > 0),
       |agg AS (SELECT doc_id, count(1) AS n,
       |    $bitSums
       |  FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sig AS simhash FROM agg)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS sig_a,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB twin of Dedup.dedupSimhashWide: the same per-token md5 digest
    * yields BOTH 60-bit halves (hex chars 1-15 and 16-30), 120 positional
    * bit-count sums, two majority-sign signature longs, exact two-long
    * Hamming all-pairs join (the Spark side's pigeonhole blocks are recall-
    * exact per PropertySpec, so the exact join IS the semantics). */
  private def dedupSimhashWideOracleSql: String = {
    val bitSums =
      ((0 until 60).map(b => s"sum((hl >> $b) & 1) AS l$b") ++
       (0 until 60).map(b => s"sum((hh >> $b) & 1) AS u$b")).mkString(",\n    ")
    def sig(pre: String) = (0 until 60).map(b =>
      s"CASE WHEN 2 * $pre$b > n THEN (1::BIGINT << $b) ELSE 0::BIGINT END")
      .mkString("\n      + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |h AS (SELECT doc_id, ${md5h60("tok")} AS hl,
       |    ('0x' || substring(md5(tok), 16, 15))::BIGINT AS hh
       |  FROM toks WHERE length(tok) > 0),
       |agg AS (SELECT doc_id, count(1) AS n,
       |    $bitSums
       |  FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, ${sig("l")} AS sim_lo, ${sig("u")} AS sim_hi FROM agg)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sim_lo, b.sim_lo)) +
       |       bit_count(xor(a.sim_hi, b.sim_hi)) AS INTEGER) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim_lo, b.sim_lo)) +
       |      bit_count(xor(a.sim_hi, b.sim_hi)) <= 12
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB twin of Similarity.knnIvf — the 3 Lloyd iterations of
    * Graft.kmeans UNROLLED as generated CTE pairs (assignN → centroidsN).
    * Possible because every training step is cross-engine exact: distances
    * are left-to-right double dot products over float inputs (VecDot ≡
    * list_dot_product), assignment ties break on c_id, and the per-dim mean
    * is fixed-point — sum(floor(v·2^20)) is integer-exact, the single
    * divide is correctly-rounded IEEE, /2^20 is an exponent shift, and the
    * final FLOAT cast is round-to-nearest-even in both engines. Init = the
    * k lowest-id vectors; empty clusters keep the previous centroid (the
    * same left-join + coalesce as the Scala). */
  private def knnIvfOracleSql: String = knnIvfOracleSqlImpl(trainWhere = "")

  /** knn_ivf_refresh twin: training CTEs (seed, every Lloyd assign) see only
    * the BASE subset (vec_id % 10 <> 9), while the final `assigned` CTE
    * covers all vectors — exactly the semantics of assigning the new batch
    * against the frozen persisted centroids, which is what makes the
    * incremental fold-in provably equal to a from-scratch assignment. */
  private def knnIvfRefreshOracleSql: String =
    knnIvfOracleSqlImpl(trainWhere = "WHERE e.vec_id % 10 <> 9")

  /** Centroid distance fragment shared by the kmeans CTE prefix and the
    * probe CTEs that extend it. */
  /** Shared by cdc_apply and stream_cdc_apply (the stream's final snapshot
    * is pinned identical to the batch application). */
  private val cdcApplyOracleSql: String =
    """WITH o AS (SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    o_orderpriority AS pri FROM orders),
      |log AS (
      |  SELECT k, 1 AS seq, 'I' AS op, cents, pri FROM o
      |  UNION ALL SELECT k, 2, 'U', cents + 10000, pri FROM o WHERE k % 3 = 0
      |  UNION ALL SELECT k, 3, 'D', cents, pri FROM o WHERE k % 5 = 0),
      |live AS (SELECT k, arg_max(op, seq) AS op, arg_max(cents, seq) AS cents,
      |    arg_max(pri, seq) AS pri FROM log GROUP BY k)
      |SELECT pri, CAST(count(1) AS BIGINT) AS n_live,
      |  round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS total2
      |FROM live WHERE op <> 'D' GROUP BY pri ORDER BY pri""".stripMargin

  /** Confident-learning noise audit: the centroid_classify model rule
    * (quantized per-dim means), distances on the 2^-20 grid, per-class
    * self-distance mean thresholds. */
  private def labelNoiseAuditOracleSql: String = {
    val dims = 64
    val meanExprs = (1 to dims).map(d =>
      s"CAST(CAST(sum(CAST(floor(CAST(e.embedding[$d] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 1048576.0 AS FLOAT)")
      .mkString("[\n      ", ",\n      ", "]")
    s"""WITH cent AS (
       |  SELECT label AS c_id, $meanExprs AS centroid
       |  FROM embeddings e GROUP BY label),
       |d AS (
       |  SELECT e.vec_id, e.label AS given, c.c_id,
       |    floor(${ivfDistSql("c")} * 1048576.0) / 1048576.0 AS dq
       |  FROM embeddings e CROSS JOIN cent c),
       |th AS (SELECT c_id, sum(dq) / count(1) AS t, CAST(count(1) AS BIGINT) AS class_n
       |  FROM d WHERE given = c_id GROUP BY c_id),
       |sus AS (SELECT given, d.c_id AS suggested
       |  FROM d JOIN th USING (c_id)
       |  WHERE d.c_id <> given AND dq <= t),
       |cm AS (SELECT given AS given_label, suggested AS suggested_label,
       |    CAST(count(1) AS BIGINT) AS n_suspect
       |  FROM sus GROUP BY 1, 2)
       |SELECT given_label, suggested_label, n_suspect,
       |  round(CAST(n_suspect AS DOUBLE) / CAST(class_n AS DOUBLE), 4) AS rate4
       |FROM cm JOIN (SELECT c_id AS given_label, class_n FROM th) USING (given_label)
       |ORDER BY given_label, suggested_label""".stripMargin
  }

  /** 6-step bisection unroll over the grid-derived [min−1, max+1] bounds —
    * the DuckDB twin of the SQL-scripting WHILE loop (same histogram grid,
    * same integer predicate each step). */
  private def sqlScriptingOracleSql: String = {
    val steps = (0 until 6).map(i =>
      s"""s${i + 1} AS (SELECT
         |    CASE WHEN (SELECT coalesce(sum(tokens), 0) FROM hist WHERE score >= (lo + hi) // 2) * 5
         |              >= (SELECT total FROM tot) * 2
         |         THEN (lo + hi) // 2 ELSE lo END AS lo,
         |    CASE WHEN (SELECT coalesce(sum(tokens), 0) FROM hist WHERE score >= (lo + hi) // 2) * 5
         |              >= (SELECT total FROM tot) * 2
         |         THEN hi ELSE (lo + hi) // 2 END AS hi
         |  FROM s$i),""".stripMargin).mkString("\n")
    s"""WITH h AS (SELECT
       |    (1000000 * len(list_distinct(l))) // len(l) AS score,
       |    CAST(len(l) AS BIGINT) AS ntok
       |  FROM (SELECT list_filter(string_split(text, ' '), x -> len(x) > 0) AS l FROM documents)),
       |hist AS (SELECT score, CAST(sum(ntok) AS BIGINT) AS tokens FROM h GROUP BY score),
       |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM hist),
       |s0 AS (SELECT CAST(min(score) - 1 AS BIGINT) AS lo,
       |    CAST(max(score) + 1 AS BIGINT) AS hi FROM hist),
       |$steps
       |fin AS (SELECT lo FROM s6)
       |SELECT lo AS threshold,
       |  CAST((SELECT coalesce(sum(tokens), 0) FROM hist WHERE score >= fin.lo) AS BIGINT) AS kept_tokens,
       |  (SELECT total FROM tot) AS total_tokens
       |FROM fin""".stripMargin
  }

  private def ivfDistSql(c: String): String =
    s"""(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
       |          - 2 * list_dot_product(e.embedding::DOUBLE[], $c.centroid::DOUBLE[])
       |          + list_dot_product($c.centroid::DOUBLE[], $c.centroid::DOUBLE[]))""".stripMargin

  /** The kmeans-training unroll (c0 seed, 3 assign/means iterations, final
    * corpus-wide `assigned` CTE) — the knn_ivf prefix, shared verbatim by
    * the IVF oracles and cluster_balanced_sample. Returns the text from
    * `WITH` through `assigned`, no trailing comma. */
  private def kmeansAssignedCtesSql(trainWhere: String): String = {
    val k = 10
    val dims = 64
    // c0 has no `e` alias; reuse the same predicate textually
    val seedWhere = trainWhere.replace("e.vec_id", "vec_id")
    val dist = (c: String) => ivfDistSql(c)
    def assignCte(n: Int): String =
      s"""a$n AS (
         |  SELECT vec_id, c_id FROM (
         |    SELECT e.vec_id, c.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${dist("c")} ASC, c.c_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN c${n - 1} c $trainWhere)
         |  WHERE rn = 1)""".stripMargin
    def meansCte(n: Int): String = {
      val meanExprs = (1 to dims).map(d =>
        s"CAST(CAST(sum(CAST(floor(CAST(e.embedding[$d] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 1048576.0 AS FLOAT)")
        .mkString("[\n      ", ",\n      ", "]")
      s"""m$n AS (
         |  SELECT c_id, $meanExprs AS centroid
         |  FROM a$n JOIN embeddings e USING (vec_id) GROUP BY c_id),
         |c$n AS (
         |  SELECT p.c_id, coalesce(m.centroid, p.centroid) AS centroid
         |  FROM c${n - 1} p LEFT JOIN m$n m USING (c_id))""".stripMargin
    }
    val iterations = (1 to 3).map(n => s"${assignCte(n)},\n${meansCte(n)}").mkString(",\n")
    s"""WITH c0 AS (
       |  SELECT vec_id AS c_id, embedding AS centroid
       |  FROM embeddings $seedWhere ORDER BY vec_id LIMIT $k),
       |$iterations,
       |assigned AS (
       |  SELECT vec_id, c_id AS list_id FROM (
       |    SELECT e.vec_id, c.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${dist("c")} ASC, c.c_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN c3 c)
       |  WHERE rn = 1)""".stripMargin
  }

  /** DuckDB twin of Similarity.centroidClassify: per-label fixed-point
    * centroids (the kmeans mean rule, single pass, no iterations), nearest-
    * centroid assignment with the (dist, c_id) tie-break, confusion matrix
    * with ratio4 row shares. */
  private def centroidClassifyOracleSql: String = {
    val dims = 64
    val meanExprs = (1 to dims).map(d =>
      s"CAST(CAST(sum(CAST(floor(CAST(e.embedding[$d] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 1048576.0 AS FLOAT)")
      .mkString("[\n      ", ",\n      ", "]")
    s"""WITH cent AS (
       |  SELECT label AS c_id, $meanExprs AS centroid
       |  FROM embeddings e GROUP BY label),
       |asg AS (
       |  SELECT true_label, c_id AS pred_label FROM (
       |    SELECT e.vec_id, e.label AS true_label, c.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${ivfDistSql("c")} ASC, c.c_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN cent c)
       |  WHERE rn = 1),
       |cm AS (SELECT true_label, pred_label, count(1) AS n FROM asg GROUP BY 1, 2),
       |rt AS (SELECT true_label, CAST(sum(n) AS BIGINT) AS rt FROM cm GROUP BY 1)
       |SELECT true_label, pred_label, n,
       |  CAST((20000 * n + rt) // (2 * rt) AS DOUBLE) / 10000.0 AS row_share
       |FROM cm JOIN rt USING (true_label)
       |ORDER BY true_label, pred_label""".stripMargin
  }

  /** DuckDB twin of Similarity.seedSelect: the quantized per-dim centroid
    * mean over the seed slice (vec_id % 17 = 3) cast to FLOAT — the same
    * model rule centroid_classify pins — then one cosine scan against the
    * centroid (::DOUBLE[] dot products, the knn parity convention) and
    * the (cos DESC, vec_id ASC) top-100. */
  private def seedSelectOracleSql: String = {
    val dims = 64
    val meanExprs = (1 to dims).map(d =>
      s"CAST(CAST(sum(CAST(floor(CAST(embedding[$d] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 1048576.0 AS FLOAT)")
      .mkString("[\n      ", ",\n      ", "]")
    s"""WITH cent AS (
       |  SELECT $meanExprs AS c FROM embeddings WHERE vec_id % 17 = 3),
       |sc AS (
       |  SELECT e.vec_id,
       |    list_dot_product(e.embedding::DOUBLE[], cent.c::DOUBLE[])
       |      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
       |         * sqrt(list_dot_product(cent.c::DOUBLE[], cent.c::DOUBLE[]))) AS cos
       |  FROM embeddings e CROSS JOIN cent),
       |r AS (
       |  SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS "rank",
       |    vec_id, round(cos, 4) AS cos4
       |  FROM sc)
       |SELECT "rank", vec_id, cos4 FROM r WHERE "rank" <= 100
       |ORDER BY "rank"""".stripMargin
  }

  private def knnIvfOracleSqlImpl(trainWhere: String): String = {
    val dist = (c: String) => ivfDistSql(c)
    val cos =
      """list_dot_product(eq.embedding::DOUBLE[], ec.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(eq.embedding::DOUBLE[], eq.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(ec.embedding::DOUBLE[], ec.embedding::DOUBLE[])))""".stripMargin
    s"""${kmeansAssignedCtesSql(trainWhere)},
       |probes AS (
       |  SELECT q_id, list_id FROM (
       |    SELECT e.vec_id AS q_id, c.c_id AS list_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${dist("c")} ASC, c.c_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN c3 c
       |    WHERE e.vec_id < 10)
       |  WHERE rn <= 3),
       |cand AS (
       |  SELECT DISTINCT p.q_id, a.vec_id AS c_id
       |  FROM probes p JOIN assigned a ON a.list_id = p.list_id
       |  WHERE p.q_id <> a.vec_id),
       |sc AS (
       |  SELECT q_id, c_id, ec.label, round($cos, 6) AS score6
       |  FROM cand
       |  JOIN embeddings eq ON eq.vec_id = q_id
       |  JOIN embeddings ec ON ec.vec_id = c_id),
       |r AS (
       |  SELECT q_id, c_id, label, score6,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY score6 DESC, c_id ASC) AS INTEGER) AS rn
       |  FROM sc)
       |SELECT q_id, rn, c_id, label, round(score6, 4) AS cos_sim
       |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
  }

  /** DuckDB twin of Similarity.knnPq — Graft.productQuantize's 4 per-subspace
    * Lloyd loops (2 iterations each, 16 centroids over 16-dim slices)
    * unrolled as generated CTEs, plus the per-query distance lookup tables
    * and the ADC fold. Cross-engine exact for the same reasons as knn_ivf
    * (fixed-point means; left-to-right double dot products ≡
    * list_dot_product) plus one more: the per-document ADC sum folds the 4
    * subspace contributions in SUBSPACE ORDER on both sides (Spark's
    * sorted-struct aggregate ≡ DuckDB's list_reduce over list(d ORDER BY
    * sub); the 0.0 seed is exact — IEEE 0.0 + x = x). */
  private def knnPqOracleSql: String = knnPqOracleSqlImpl(None, refine = false)

  /** Sampled-codebook variant: the SAME md5-digit filter Graft.kmeans
    * applies (`trainHexDigits = 0,1`) mirrored into every TRAINING CTE
    * (init, Lloyd assignment); encode + search stay corpus-wide. */
  private def knnPqSampledOracleSql: String = knnPqOracleSqlImpl(
    Some("substring(md5(CAST(e.vec_id AS VARCHAR)), 1, 1) IN ('0', '1')"),
    refine = false)

  /** Shortlist+rerank variant: ADC-orders a 20-candidate shortlist per
    * query, then exact cosine reranks only those pairs to the top-5. */
  private def knnRefineOracleSql: String =
    knnPqOracleSqlImpl(None, refine = true)

  private def knnPqOracleSqlImpl(trainFilter: Option[String],
      refine: Boolean): String = {
    val m = 4; val k = 16; val subDim = 16; val iters = 2
    val tf = trainFilter.map(f => s"\n  WHERE $f").getOrElse("")
    def subCtes(sub: Int): String = {
      val off = sub * subDim
      val sl = (t: String) => s"$t.embedding[${off + 1}:${off + subDim}]"
      val dist = (c: String) =>
        s"""(list_dot_product(${sl("e")}::DOUBLE[], ${sl("e")}::DOUBLE[])
           |          - 2 * list_dot_product(${sl("e")}::DOUBLE[], $c.centroid::DOUBLE[])
           |          + list_dot_product($c.centroid::DOUBLE[], $c.centroid::DOUBLE[]))""".stripMargin
      val c0 =
        s"""c0_$sub AS (
           |  SELECT vec_id AS c_id, embedding[${off + 1}:${off + subDim}] AS centroid
           |  FROM embeddings e$tf
           |  ORDER BY vec_id LIMIT $k)""".stripMargin
      val iterCtes = (1 to iters).map { n =>
        val meanExprs = (1 to subDim).map(dd =>
          s"CAST(CAST(sum(CAST(floor(CAST(e.embedding[${off + dd}] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 1048576.0 AS FLOAT)")
          .mkString("[\n      ", ",\n      ", "]")
        s"""a${n}_$sub AS (
           |  SELECT vec_id, c_id FROM (
           |    SELECT e.vec_id, c.c_id,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${dist("c")} ASC, c.c_id ASC) AS rn
           |    FROM embeddings e CROSS JOIN c${n - 1}_$sub c$tf)
           |  WHERE rn = 1),
           |m${n}_$sub AS (
           |  SELECT c_id, $meanExprs AS centroid
           |  FROM a${n}_$sub JOIN embeddings e USING (vec_id) GROUP BY c_id),
           |c${n}_$sub AS (
           |  SELECT p.c_id, coalesce(mm.centroid, p.centroid) AS centroid
           |  FROM c${n - 1}_$sub p LEFT JOIN m${n}_$sub mm USING (c_id))""".stripMargin
      }.mkString(",\n")
      val codes =
        s"""codes_$sub AS (
           |  SELECT vec_id, c_id AS code FROM (
           |    SELECT e.vec_id, c.c_id,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${dist("c")} ASC, c.c_id ASC) AS rn
           |    FROM embeddings e CROSS JOIN c${iters}_$sub c)
           |  WHERE rn = 1),
           |dtab_$sub AS (
           |  SELECT e.vec_id AS q_id, c.c_id AS code,
           |    ${dist("c")} AS d
           |  FROM embeddings e CROSS JOIN c${iters}_$sub c
           |  WHERE e.vec_id < 10)""".stripMargin
      s"$c0,\n$iterCtes,\n$codes"
    }
    val codesUnion = (0 until m).map(s =>
      s"SELECT $s AS sub, vec_id, code FROM codes_$s").mkString("\n  UNION ALL ")
    val dtabUnion = (0 until m).map(s =>
      s"SELECT $s AS sub, q_id, code, d FROM dtab_$s").mkString("\n  UNION ALL ")
    val cos =
      """list_dot_product(eq.embedding::DOUBLE[], ec.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(eq.embedding::DOUBLE[], eq.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(ec.embedding::DOUBLE[], ec.embedding::DOUBLE[])))""".stripMargin
    val tail =
      if (!refine)
        s"""r AS (
           |  SELECT q_id, c_id, adc,
           |    CAST(row_number() OVER (PARTITION BY q_id
           |      ORDER BY adc ASC, c_id ASC) AS INTEGER) AS rn
           |  FROM adc)
           |SELECT q_id, rn, r.c_id, ec.label, round(adc, 6) AS adc_dist
           |FROM r JOIN embeddings ec ON ec.vec_id = r.c_id
           |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
      else
        s"""short AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id,
           |      row_number() OVER (PARTITION BY q_id
           |        ORDER BY adc ASC, c_id ASC) AS srn
           |    FROM adc)
           |  WHERE srn <= 20),
           |sc AS (
           |  SELECT q_id, c_id, ec.label, round($cos, 6) AS score6
           |  FROM short
           |  JOIN embeddings eq ON eq.vec_id = q_id
           |  JOIN embeddings ec ON ec.vec_id = c_id),
           |r AS (
           |  SELECT q_id, c_id, label, score6,
           |    CAST(row_number() OVER (PARTITION BY q_id
           |      ORDER BY score6 DESC, c_id ASC) AS INTEGER) AS rn
           |  FROM sc)
           |SELECT q_id, rn, c_id, label, round(score6, 4) AS cos_sim
           |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
    s"""WITH ${(0 until m).map(subCtes).mkString(",\n")},
       |codes AS (
       |  $codesUnion),
       |dtab AS (
       |  $dtabUnion),
       |adc AS (
       |  SELECT q_id, vec_id AS c_id,
       |    list_reduce(list(d ORDER BY sub), (a, b) -> a + b) AS adc
       |  FROM codes JOIN dtab USING (sub, code)
       |  WHERE q_id <> vec_id
       |  GROUP BY q_id, vec_id),
       |$tail""".stripMargin
  }

  /** DuckDB twin of Similarity.knnIvfPq — the COMPOSED two-level index
    * unrolled end to end: the coarse k-means CTEs (identical to knn_ivf's),
    * a residual CTE (float→double subtract + float round-back — exact, so
    * both engines hold bit-identical residual arrays), the 4 per-subspace
    * PQ Lloyd loops over residual slices (same fixed-point machinery as
    * knn_pq, just over `res.r`), per-(query, probed-list) ADC tables, and
    * the subspace-ordered ADC fold. Nothing new has to be trusted: every
    * piece reuses an exactness argument already proven by the knn_ivf or
    * knn_pq oracle. */
  private def knnIvfPqOracleSql: String = {
    val kCoarse = 10; val dims = 64
    val m = 4; val kSub = 16; val subDim = 16; val pqIters = 2
    val dist = (c: String) =>
      s"""(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
         |          - 2 * list_dot_product(e.embedding::DOUBLE[], $c.centroid::DOUBLE[])
         |          + list_dot_product($c.centroid::DOUBLE[], $c.centroid::DOUBLE[]))""".stripMargin
    def assignCte(n: Int): String =
      s"""a$n AS (
         |  SELECT vec_id, c_id FROM (
         |    SELECT e.vec_id, c.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${dist("c")} ASC, c.c_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN c${n - 1} c)
         |  WHERE rn = 1)""".stripMargin
    def meansCte(n: Int): String = {
      val meanExprs = (1 to dims).map(dd =>
        s"CAST(CAST(sum(CAST(floor(CAST(e.embedding[$dd] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 1048576.0 AS FLOAT)")
        .mkString("[\n      ", ",\n      ", "]")
      s"""m$n AS (
         |  SELECT c_id, $meanExprs AS centroid
         |  FROM a$n JOIN embeddings e USING (vec_id) GROUP BY c_id),
         |c$n AS (
         |  SELECT p.c_id, coalesce(mm.centroid, p.centroid) AS centroid
         |  FROM c${n - 1} p LEFT JOIN m$n mm USING (c_id))""".stripMargin
    }
    val coarse = (1 to 3).map(n => s"${assignCte(n)},\n${meansCte(n)}").mkString(",\n")
    val resElems =
      s"list_transform(range(1, ${dims + 1}), i -> CAST(CAST(e.embedding[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE) AS FLOAT))"
    // per-subspace PQ CTEs over residual slices (pc/pa/pm prefixes keep them
    // disjoint from the coarse CTE names)
    def pqCtes(sub: Int): String = {
      val off = sub * subDim
      val sl = s"r.r[${off + 1}:${off + subDim}]"
      val pdist = (c: String) =>
        s"""(list_dot_product($sl::DOUBLE[], $sl::DOUBLE[])
           |          - 2 * list_dot_product($sl::DOUBLE[], $c.centroid::DOUBLE[])
           |          + list_dot_product($c.centroid::DOUBLE[], $c.centroid::DOUBLE[]))""".stripMargin
      val c0 =
        s"""pc0_$sub AS (
           |  SELECT vec_id AS c_id, r[${off + 1}:${off + subDim}] AS centroid
           |  FROM res ORDER BY vec_id LIMIT $kSub)""".stripMargin
      val iterCtes = (1 to pqIters).map { n =>
        val meanExprs = (1 to subDim).map(dd =>
          s"CAST(CAST(sum(CAST(floor(CAST(r.r[${off + dd}] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 1048576.0 AS FLOAT)")
          .mkString("[\n      ", ",\n      ", "]")
        s"""pa${n}_$sub AS (
           |  SELECT vec_id, c_id FROM (
           |    SELECT r.vec_id, c.c_id,
           |      row_number() OVER (PARTITION BY r.vec_id ORDER BY
           |        ${pdist("c")} ASC, c.c_id ASC) AS rn
           |    FROM res r CROSS JOIN pc${n - 1}_$sub c)
           |  WHERE rn = 1),
           |pm${n}_$sub AS (
           |  SELECT c_id, $meanExprs AS centroid
           |  FROM pa${n}_$sub JOIN res r USING (vec_id) GROUP BY c_id),
           |pc${n}_$sub AS (
           |  SELECT p.c_id, coalesce(mm.centroid, p.centroid) AS centroid
           |  FROM pc${n - 1}_$sub p LEFT JOIN pm${n}_$sub mm USING (c_id))""".stripMargin
      }.mkString(",\n")
      val codes =
        s"""pcodes_$sub AS (
           |  SELECT vec_id, c_id AS code FROM (
           |    SELECT r.vec_id, c.c_id,
           |      row_number() OVER (PARTITION BY r.vec_id ORDER BY
           |        ${pdist("c")} ASC, c.c_id ASC) AS rn
           |    FROM res r CROSS JOIN pc${pqIters}_$sub c)
           |  WHERE rn = 1),
           |dtab_$sub AS (
           |  SELECT p.q_id, p.list_id, c.c_id AS code,
           |    (list_dot_product(p.qres[${off + 1}:${off + subDim}]::DOUBLE[], p.qres[${off + 1}:${off + subDim}]::DOUBLE[])
           |     - 2 * list_dot_product(p.qres[${off + 1}:${off + subDim}]::DOUBLE[], c.centroid::DOUBLE[])
           |     + list_dot_product(c.centroid::DOUBLE[], c.centroid::DOUBLE[])) AS d
           |  FROM probes p CROSS JOIN pc${pqIters}_$sub c)""".stripMargin
      s"$c0,\n$iterCtes,\n$codes"
    }
    val codesUnion = (0 until m).map(s =>
      s"SELECT $s AS sub, vec_id, code FROM pcodes_$s").mkString("\n  UNION ALL ")
    val dtabUnion = (0 until m).map(s =>
      s"SELECT $s AS sub, q_id, list_id, code, d FROM dtab_$s").mkString("\n  UNION ALL ")
    s"""WITH c0 AS (
       |  SELECT vec_id AS c_id, embedding AS centroid
       |  FROM embeddings ORDER BY vec_id LIMIT $kCoarse),
       |$coarse,
       |assigned AS (
       |  SELECT vec_id, c_id AS list_id FROM (
       |    SELECT e.vec_id, c.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${dist("c")} ASC, c.c_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN c3 c)
       |  WHERE rn = 1),
       |res AS (
       |  SELECT e.vec_id, a.list_id, $resElems AS r
       |  FROM embeddings e JOIN assigned a USING (vec_id)
       |  JOIN c3 c ON c.c_id = a.list_id),
       |probes AS (
       |  SELECT q_id, list_id, qres FROM (
       |    SELECT e.vec_id AS q_id, c.c_id AS list_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${dist("c")} ASC, c.c_id ASC) AS rn,
       |      $resElems AS qres
       |    FROM embeddings e CROSS JOIN c3 c
       |    WHERE e.vec_id < 10)
       |  WHERE rn <= 3),
       |${(0 until m).map(pqCtes).mkString(",\n")},
       |codes AS (
       |  $codesUnion),
       |dtab AS (
       |  $dtabUnion),
       |adc AS (
       |  SELECT dt.q_id, cd.vec_id AS c_id,
       |    list_reduce(list(d ORDER BY dt.sub), (a, b) -> a + b) AS adc
       |  FROM codes cd
       |  JOIN assigned aa USING (vec_id)
       |  JOIN dtab dt ON dt.list_id = aa.list_id AND dt.sub = cd.sub
       |    AND dt.code = cd.code
       |  WHERE dt.q_id <> cd.vec_id
       |  GROUP BY dt.q_id, cd.vec_id),
       |rr AS (
       |  SELECT q_id, c_id, adc,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc ASC, c_id ASC) AS INTEGER) AS rn
       |  FROM adc)
       |SELECT q_id, rn, rr.c_id, ec.label, round(adc, 6) AS adc_dist
       |FROM rr JOIN embeddings ec ON ec.vec_id = rr.c_id
       |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
  }

  /** DuckDB twin of Dedup.dedupParagraphs — 16-token paragraph chunks,
    * md5-60-bit fingerprints, global occurrence stats keyed on the packed
    * (doc·2^20 + index) first-occurrence order, per-doc integer rollup on
    * the ratio4 grid. Slicing: DuckDB ts[a:b] is 1-based inclusive and
    * truncates past the end, exactly Spark's slice(arr, a, len). */
  private def dedupParagraphsOracleSql: String =
    """WITH pars AS (
      |  SELECT doc_id, w,
      |    ('0x' || substring(md5(array_to_string(ts[(w*16+1):(w*16+16)], ' ')), 1, 15))::BIGINT AS fp,
      |    doc_id * 1048576 + w AS k
      |  FROM (
      |    SELECT doc_id, ts, unnest(range(0, CAST(ceil(len(ts) / 16.0) AS INT))) AS w
      |    FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
      |    WHERE len(ts) >= 1)),
      |stats AS (SELECT fp, min(k) AS keep, count(1) AS occ FROM pars GROUP BY fp)
      |SELECT p.doc_id, count(1) AS n_pars,
      |  CAST(count_if(occ > 1) AS BIGINT) AS n_dup_pars,
      |  CAST(count_if(k = keep) AS BIGINT) AS n_kept,
      |  CAST((20000 * count_if(k = keep) + count(1))
      |    // (2 * count(1)) AS DOUBLE) / 10000.0 AS kept4
      |FROM pars p JOIN stats USING (fp)
      |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin

  /** DuckDB twin of Dedup.dedupSpanRewrite — 0-based token positions,
    * md5-60-bit position-gram fingerprints (per position, NOT distinct:
    * within-doc repeats count), duplicated-fingerprint starts, covered
    * indexes exploded from starts (never a range join), anti-join
    * survivors, ordered string_agg rebuild, md5 of the rewrite. */
  private def dedupSpanRewriteOracleSql: String =
    """WITH base AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, i - 1 AS i, ts[i] AS tok
      |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM base)),
      |grams AS (
      |  SELECT doc_id, s - 1 AS p,
      |    ('0x' || substring(md5(array_to_string(ts[s : s + 7], ' ')), 1, 15))::BIGINT AS fp
      |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS s FROM base
      |        WHERE len(ts) >= 8)),
      |dup AS (SELECT fp FROM grams GROUP BY fp HAVING count(1) > 1),
      |starts AS (SELECT DISTINCT doc_id, p FROM grams JOIN dup USING (fp)),
      |covered AS (
      |  SELECT DISTINCT doc_id, i FROM (
      |    SELECT doc_id, unnest(range(p, p + 8)) AS i FROM starts)),
      |kept AS (
      |  SELECT t.doc_id, t.i, t.tok
      |  FROM toks t ANTI JOIN covered c ON c.doc_id = t.doc_id AND c.i = t.i),
      |reb AS (
      |  SELECT doc_id, count(1) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY i) AS clean
      |  FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id, count(1) AS n_tokens FROM toks GROUP BY doc_id),
      |sp AS (SELECT doc_id, count(1) AS n_spans_flagged FROM starts GROUP BY doc_id)
      |SELECT t.doc_id, t.n_tokens,
      |  coalesce(r.n_kept, 0) AS n_kept,
      |  coalesce(s.n_spans_flagged, 0) AS n_spans_flagged,
      |  md5(coalesce(r.clean, '')) AS clean_fp
      |FROM tot t LEFT JOIN reb r USING (doc_id) LEFT JOIN sp s USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** DuckDB twin of Similarity.hybridRrf — the dense leg is the proven
    * knn_bruteforce cosine ranking over the id-overlap candidate set, the
    * lexical leg ranks one IEEE Jaccard divide of integer token-set
    * counts, and the fusion sums floor(2^20/(60+r)) integers — every rank
    * and the fused order are hash-exact. */
  private def hybridRrfOracleSql: String =
    """WITH cand AS (
      |  SELECT e.vec_id AS id, e.embedding, d.text
      |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
      |dense AS (
      |  SELECT q_id, c_id,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY score6 DESC, c_id ASC) AS INTEGER) AS r_dense
      |  FROM (
      |    SELECT q.id AS q_id, c.id AS c_id,
      |      round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
      |        (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
      |         sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS score6
      |    FROM cand q JOIN cand c ON q.id < 10 AND q.id <> c.id)),
      |toks AS (
      |  SELECT DISTINCT id, tok FROM (
      |    SELECT id, unnest(string_split(text, ' ')) AS tok FROM cand)
      |  WHERE length(tok) > 0),
      |tsize AS (SELECT id, count(1) AS n_toks FROM toks GROUP BY id),
      |overlap AS (
      |  SELECT a.id AS q_id, b.id AS c_id, count(1) AS n_common
      |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < 10 AND a.id <> b.id
      |  GROUP BY 1, 2),
      |lex AS (
      |  SELECT q_id, c_id,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY jac DESC, c_id ASC) AS INTEGER) AS r_lex
      |  FROM (
      |    SELECT o.q_id, o.c_id,
      |      CAST(o.n_common AS DOUBLE) / (tq.n_toks + tc.n_toks - o.n_common) AS jac
      |    FROM overlap o
      |    JOIN tsize tq ON tq.id = o.q_id
      |    JOIN tsize tc ON tc.id = o.c_id)),
      |fused AS (
      |  SELECT d.q_id, d.c_id,
      |    CAST(floor(1048576.0 / (60 + d.r_dense)) AS BIGINT)
      |      + CASE WHEN l.r_lex IS NULL THEN 0
      |             ELSE CAST(floor(1048576.0 / (60 + l.r_lex)) AS BIGINT) END AS rrf_q,
      |    d.r_dense, coalesce(l.r_lex, 0) AS r_lex
      |  FROM dense d LEFT JOIN lex l ON l.q_id = d.q_id AND l.c_id = d.c_id)
      |SELECT q_id, CAST(rn AS INTEGER) AS rn, c_id, rrf_q, r_dense, r_lex
      |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
      |        ORDER BY rrf_q DESC, c_id ASC) AS rn FROM fused)
      |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin

  /** Brute-force cosine top-5 — reused verbatim by the ann_recall oracle. */
  private val knnBruteForceOracleSql: String =
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS c_id, embedding AS cv, label FROM embeddings),
      |p AS (
      |  SELECT q_id, c_id, label,
      |    round(list_dot_product(qv::DOUBLE[], cv::DOUBLE[]) /
      |      (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) *
      |       sqrt(list_dot_product(cv::DOUBLE[], cv::DOUBLE[]))), 6) AS score6
      |  FROM q JOIN c ON q_id <> c_id),
      |r AS (
      |  SELECT q_id, c_id, label, score6,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY score6 DESC, c_id ASC) AS INTEGER) AS rn
      |  FROM p)
      |SELECT q_id, rn, c_id, label, round(score6, 4) AS cos_sim
      |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin

  /** DuckDB twin of TextAnalysis.lexiconScreen — shared verbatim by
    * stream_lexicon_gate (the drained stream state rolls up through the
    * same Graft.lexiconRollup). The [NULL] unnest mirrors explode_outer:
    * an empty document keeps its row with zero hits. */
  private val lexiconScreenOracleSql: String =
    """WITH lex(term, w) AS (VALUES ('slow', 3), ('big', 2), ('dup', 5)),
      |t AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS nt,
      |    unnest(CASE WHEN len(ts) = 0 THEN [NULL]::VARCHAR[] ELSE ts END) AS tok
      |  FROM t),
      |j AS (
      |  SELECT e.doc_id, e.source, e.nt, lex.term, lex.w
      |  FROM e LEFT JOIN lex ON e.tok = lex.term),
      |d AS (
      |  SELECT doc_id, source, nt,
      |    CAST(coalesce(sum(w), 0) AS BIGINT) AS wsum,
      |    CAST(count(term) AS BIGINT) AS hits
      |  FROM j GROUP BY doc_id, source, nt),
      |u AS (
      |  SELECT *, CASE WHEN nt > 0 THEN (20000 * wsum + nt) // (2 * nt)
      |            ELSE 0 END AS ru
      |  FROM d)
      |SELECT source, count(1) AS n_docs,
      |  CAST(sum(hits) AS BIGINT) AS n_hits,
      |  CAST(sum(wsum) AS BIGINT) AS weighted_hits,
      |  CAST(count_if(ru > 2000) AS BIGINT) AS n_flagged,
      |  CAST((20000 * count_if(ru > 2000) + count(1)) // (2 * count(1)) AS DOUBLE) / 10000.0 AS flagged_share4,
      |  round(CAST(sum(ru) AS DOUBLE) / (CAST(count(1) AS DOUBLE) * 10000.0), 6) AS mean_rate6
      |FROM u GROUP BY source ORDER BY source""".stripMargin

  /** DuckDB twin of PipelineOps.psiDrift AND streaming.streamPsiGate
    * (the stream accumulates the same gen1 bin counts as its only state
    * and reads out through the same grid math, so one oracle pins both):
    * Laplace(+1) smoothed shares over the constant 10-cell grid,
    * floor(ln·2^20) log grid, per-bin rounding before the total. */
  private val psiDriftOracleSql: String =
    """WITH g0 AS (
      |  SELECT text FROM documents WHERE doc_id % 13 <> 5 AND length(text) > 0),
      |g1 AS (
      |  SELECT CASE WHEN doc_id % 13 = 2 THEN upper(text) ELSE text END AS text
      |  FROM documents WHERE doc_id % 13 <> 7),
      |g1f AS (SELECT text FROM g1 WHERE length(text) > 0),
      |b0 AS (SELECT least(CAST(floor((
      |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.5
      |    + (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
      |        / CAST(length(text) AS DOUBLE)) * 0.3
      |    + least(CAST(len(list_filter(string_split(text, ' '),
      |          t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
      |        / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10.0, 1.0) * 0.2
      |    ) * 10) AS BIGINT), 9) AS bin,
      |    CAST(count(1) AS BIGINT) AS c0 FROM g0 GROUP BY 1),
      |b1 AS (SELECT least(CAST(floor((
      |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.5
      |    + (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
      |        / CAST(length(text) AS DOUBLE)) * 0.3
      |    + least(CAST(len(list_filter(string_split(text, ' '),
      |          t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
      |        / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10.0, 1.0) * 0.2
      |    ) * 10) AS BIGINT), 9) AS bin,
      |    CAST(count(1) AS BIGINT) AS c1 FROM g1f GROUP BY 1),
      |grid AS (SELECT CAST(range AS BIGINT) AS bin FROM range(10)),
      |j AS (SELECT grid.bin, coalesce(c0, 0) AS c0, coalesce(c1, 0) AS c1
      |  FROM grid LEFT JOIN b0 USING (bin) LEFT JOIN b1 USING (bin)),
      |t AS (SELECT CAST(sum(c0) AS BIGINT) AS n0, CAST(sum(c1) AS BIGINT) AS n1 FROM j),
      |p AS (SELECT bin, c0, c1,
      |    CAST(c0 + 1 AS DOUBLE) / CAST(n0 + 10 AS DOUBLE) AS p0,
      |    CAST(c1 + 1 AS DOUBLE) / CAST(n1 + 10 AS DOUBLE) AS p1
      |  FROM j, t),
      |q AS (SELECT bin, c0, c1,
      |    round((p1 - p0)
      |      * CAST(CAST(floor(ln(p1 / p0) * 1048576.0) AS BIGINT) AS DOUBLE)
      |      / 1048576.0, 6) AS psi6
      |  FROM p)
      |SELECT bin, c0, c1, psi6,
      |  round((SELECT sum(psi6) FROM q), 6) AS psi_total6
      |FROM q ORDER BY bin""".stripMargin

  /** DuckDB twin of PipelineOps.graphPagerank: the 5 damped power
    * iterations unrolled to chained CTE stages (the kcenter_coreset
    * convention — aggregation inside a recursive term is engine-lottery),
    * every rank on the 2^-20 integer grid, contributions pru // deg,
    * update (3·2^20)//(20·N) + (17·S)//20 — bit-identical to the Spark
    * loop by construction. */
  private def pagerankOracleSql: String = {
    val head =
      """WITH e AS (
        |  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,
        |    't' || event_type AS dst FROM events
        |  UNION
        |  SELECT DISTINCT 't' || event_type AS src,
        |    'u' || CAST(user_id AS VARCHAR) AS dst FROM events),
        |deg AS (SELECT src, CAST(count(1) AS BIGINT) AS deg FROM e GROUP BY 1),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT CAST(count(1) AS BIGINT) AS n FROM nodes),
        |pr0 AS (SELECT node, 1048576 // n AS pru FROM nodes, nn)""".stripMargin
    val iters = (1 to 5).map { i =>
      s"""pr$i AS (
         |  SELECT nodes.node,
         |    (3 * 1048576) // (20 * nn.n) + (17 * coalesce(s.S, 0)) // 20 AS pru
         |  FROM nodes CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(p.pru // d.deg) AS BIGINT) AS S
         |    FROM e JOIN pr${i - 1} p ON e.src = p.node
         |    JOIN deg d ON e.src = d.src
         |    GROUP BY e.dst) s ON nodes.node = s.node)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    head + iters +
      """SELECT CAST(row_number() OVER (ORDER BY pru DESC, node ASC) AS INTEGER) AS rank,
        |  node, round(CAST(pru AS DOUBLE) / 1048576.0, 6) AS pr6
        |FROM pr5 ORDER BY pru DESC, node ASC LIMIT 20""".stripMargin
  }

  /** DuckDB twin of PipelineOps.ksDrift: the quality-score expression is
    * the quality_length_joint formula verbatim, applied to the
    * quality_drift generation split; binned CDFs on the 4096 grid; D
    * compared as exact integers before the one final divide. */
  private def ksDriftOracleSql: String = {
    val score =
      """least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.5
        |    + (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |        / CAST(length(text) AS DOUBLE)) * 0.3
        |    + least(CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |        / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10.0, 1.0) * 0.2""".stripMargin
    s"""WITH g0 AS (
       |  SELECT text FROM documents WHERE doc_id % 13 <> 5 AND length(text) > 0),
       |g1 AS (
       |  SELECT CASE WHEN doc_id % 13 = 2 THEN upper(text) ELSE text END AS text
       |  FROM documents WHERE doc_id % 13 <> 7),
       |g1f AS (SELECT text FROM g1 WHERE length(text) > 0),
       |b0 AS (SELECT least(CAST(floor(($score) * 4096) AS BIGINT), 4095) AS bin,
       |    CAST(count(1) AS BIGINT) AS c0 FROM g0 GROUP BY 1),
       |b1 AS (SELECT least(CAST(floor(($score) * 4096) AS BIGINT), 4095) AS bin,
       |    CAST(count(1) AS BIGINT) AS c1 FROM g1f GROUP BY 1),
       |j AS (SELECT bin, coalesce(c0, 0) AS c0, coalesce(c1, 0) AS c1
       |  FROM b0 FULL JOIN b1 USING (bin)),
       |cd AS (SELECT bin,
       |    sum(c0) OVER (ORDER BY bin) AS f0, sum(c1) OVER (ORDER BY bin) AS f1,
       |    sum(c0) OVER () AS n0, sum(c1) OVER () AS n1
       |  FROM j),
       |dd AS (SELECT *, abs(f0 * n1 - f1 * n0) AS dnum FROM cd),
       |m AS (SELECT * FROM dd ORDER BY dnum DESC, bin ASC LIMIT 1),
       |o AS (SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       |    bin AS ks_bin,
       |    round(CAST(dnum AS DOUBLE) / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)), 6) AS ks6,
       |    round(1.358 * sqrt((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))
       |      / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))), 6) AS crit6
       |  FROM m)
       |SELECT n0, n1, ks_bin, ks6, crit6, ks6 > crit6 AS reject FROM o""".stripMargin
  }

  /** DuckDB twin of PipelineOps.weightedReservoir — shared verbatim by
    * stream_weighted_reservoir (deterministic A-ES keys: the drained
    * stream state equals the batch draw). */
  private val weightedReservoirOracleSql: String =
    """WITH w AS (SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) + 1 AS w
      |  FROM documents),
      |u AS (SELECT doc_id, w,
      |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
      |      / 1152921504606846976.0 AS u
      |  FROM w),
      |d AS (SELECT doc_id, w, -ln(u) / CAST(w AS DOUBLE) AS d FROM u),
      |r AS (SELECT doc_id, w, d,
      |    CAST(row_number() OVER (ORDER BY d ASC, doc_id ASC) AS INTEGER) AS rank
      |  FROM d)
      |SELECT rank, doc_id, w AS weight, round(-d, 6) AS key6
      |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin

  /** DuckDB twin of Similarity.kcenterCoreset: the greedy farthest-point
    * recursion unrolled to k CTE stages — stage i computes every point's
    * min squared-L2 to the i−1 chosen centers (the same
    * list_dot_product identity as the knn oracles) and picks the argmax
    * with the (md DESC, id ASC) tie-break; the final stage's max is the
    * cover radius. */
  private def kcenterOracleSql(k: Int): String = {
    def dist(a: String, b: String) =
      s"list_dot_product($a, $a) - 2 * list_dot_product($a, $b) + list_dot_product($b, $b)"
    val sb = new StringBuilder
    sb ++= "WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),\n"
    sb ++= "c1 AS (SELECT id, v FROM e ORDER BY id ASC LIMIT 1),\n"
    sb ++= "cen1 AS (SELECT id, v FROM c1),\n"
    for (i <- 2 to k) {
      sb ++= s"d${i - 1} AS (SELECT e.id, min(${dist("e.v", "c.v")}) AS md\n"
      sb ++= s"  FROM e CROSS JOIN cen${i - 1} c WHERE e.id NOT IN (SELECT id FROM cen${i - 1}) GROUP BY e.id),\n"
      sb ++= s"c$i AS (SELECT e.id, e.v, d.md FROM e JOIN d${i - 1} d USING (id) ORDER BY d.md DESC, e.id ASC LIMIT 1),\n"
      sb ++= s"cen$i AS (SELECT id, v FROM cen${i - 1} UNION ALL SELECT id, v FROM c$i),\n"
    }
    sb ++= s"dc AS (SELECT e.id, min(${dist("e.v", "c.v")}) AS md\n"
    sb ++= s"  FROM e CROSS JOIN cen$k c WHERE e.id NOT IN (SELECT id FROM cen$k) GROUP BY e.id),\n"
    sb ++= "cov AS (SELECT max(md) AS cv FROM dc),\n"
    val picks = (Seq("SELECT 1 AS sel_order, id AS vec_id, CAST(0.0 AS DOUBLE) AS md FROM c1") ++
      (2 to k).map(i => s"SELECT $i AS sel_order, id AS vec_id, md FROM c$i"))
      .mkString(" UNION ALL ")
    sb ++= s"p AS ($picks)\n"
    sb ++= "SELECT CAST(sel_order AS INTEGER) AS sel_order, vec_id, round(md, 6) AS radius6, round(cv, 6) AS cover6\n"
    sb ++= "FROM p CROSS JOIN cov ORDER BY sel_order"
    sb.toString
  }

  /** DuckDB twin of Similarity.annRecall — the recall@5 eval composed from
    * the already-exact tier oracles: knn_lsh and knn_bruteforce nest
    * verbatim as CTEs (a CTE body may carry its own WITH), knn_pq's stack
    * nests the same way, and the exact-L2 reference is the proven
    * list_dot_product distance with the (dist asc, c_id asc) tie-break.
    * n_hits/5 is one IEEE divide of small integers — identical cross-engine. */
  private def annRecallOracleSql: String =
    s"""WITH lshq AS (
       |${knnLshOracleSql}
       |),
       |bfq AS (
       |${knnBruteForceOracleSql}
       |),
       |pqq AS (
       |${knnPqOracleSqlImpl(None, refine = false)}
       |),
       |el AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        (list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
       |         - 2 * list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
       |         + list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) ASC,
       |        c.vec_id ASC) AS rn
       |    FROM embeddings q CROSS JOIN embeddings c
       |    WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
       |  WHERE rn <= 5),
       |lh AS (
       |  SELECT l.q_id, count(1) AS n FROM lshq l
       |  JOIN bfq USING (q_id, c_id) GROUP BY l.q_id),
       |ph AS (
       |  SELECT p.q_id, count(1) AS n FROM pqq p
       |  JOIN el USING (q_id, c_id) GROUP BY p.q_id)
       |SELECT qq.q_id,
       |  coalesce(lh.n, CAST(0 AS BIGINT)) AS n_hits_lsh,
       |  CAST(coalesce(lh.n, 0) AS DOUBLE) / 5.0 AS recall_lsh,
       |  coalesce(ph.n, CAST(0 AS BIGINT)) AS n_hits_pq,
       |  CAST(coalesce(ph.n, 0) AS DOUBLE) / 5.0 AS recall_pq
       |FROM (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < 10) qq
       |LEFT JOIN lh USING (q_id)
       |LEFT JOIN ph USING (q_id)
       |ORDER BY q_id""".stripMargin

  /** Shared classifier CTEs (deterministic md5 model → hashed-token join →
    * per-doc integer weight sums): quality_classifier reads the per-doc
    * scores, stream_classify reads the per-label rollup of the SAME model. */
  private val classifierCtesSql: String =
    """WITH w AS (
      |  SELECT b AS bucket,
      |    ('0x' || substring(md5(CAST(b AS VARCHAR)), 1, 15))::BIGINT % 2001 - 1000 AS weight
      |  FROM (SELECT unnest(range(0, 1024)) AS b)),
      |t AS (
      |  SELECT doc_id,
      |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % 1024 AS bucket
      |  FROM (SELECT doc_id,
      |          unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
      |        FROM documents)),
      |agg AS (
      |  SELECT doc_id, count(1) AS n_tokens, CAST(sum(weight) AS BIGINT) AS s
      |  FROM t JOIN w USING (bucket) GROUP BY doc_id)""".stripMargin

  /** DuckDB twin of PipelineOps.curriculumOrder: the classifier CTEs, the
    * ratio4-grid tercile thresholds (cumulative counts over the grid), and
    * ONE global row_number per stage — semantically identical to the Scala
    * side's two-phase bucketed rank (the md5 hex prefix orders buckets
    * consistently with the full (hk, doc_id) key, so offset+local ≡
    * global). floor(score·10⁴) is exact: score is intval/10⁴ correctly
    * rounded, and its re-scaling rounds back to intval in both engines. */
  private def curriculumOrderOracleSql: String =
    s"""$classifierCtesSql,
       |sc AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN s >= 0 THEN (20000 * s + n_tokens) // (2 * n_tokens)
       |         ELSE -((20000 * -s + n_tokens) // (2 * n_tokens)) END AS DOUBLE) / 10000.0 AS score
       |  FROM agg),
       |qv AS (
       |  SELECT doc_id, score,
       |    CAST(floor(score * 10000.0) AS BIGINT) AS qi
       |  FROM sc),
       |nn AS (SELECT count(1) AS n FROM qv),
       |grid AS (SELECT qi, count(1) AS c FROM qv GROUP BY qi),
       |cg AS (SELECT qi, sum(c) OVER (ORDER BY qi) AS cum FROM grid),
       |th AS (
       |  SELECT min(CASE WHEN cum >= (n + 2) // 3 THEN qi END) AS t_lo,
       |         min(CASE WHEN cum >= (2 * n + 2) // 3 THEN qi END) AS t_hi
       |  FROM cg CROSS JOIN nn),
       |st AS (
       |  SELECT doc_id, score,
       |    CASE WHEN qi > t_hi THEN 1 WHEN qi > t_lo THEN 2 ELSE 3 END AS stage
       |  FROM qv CROSS JOIN th)
       |SELECT doc_id, stage,
       |  CAST(row_number() OVER (PARTITION BY stage
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos,
       |  score
       |FROM st ORDER BY stage, pos""".stripMargin

  /** DuckDB twin of Graft.linearClassify over the deterministic md5 model:
    * the weight table, the hashed-token join, and the signed ratio4 mean
    * are all integer-exact, so full model INFERENCE hash-matches. */
  private def qualityClassifierOracleSql: String =
    s"""$classifierCtesSql
       |SELECT doc_id, n_tokens,
       |  CAST(CASE WHEN s >= 0 THEN (20000 * s + n_tokens) // (2 * n_tokens)
       |       ELSE -((20000 * -s + n_tokens) // (2 * n_tokens)) END AS DOUBLE) / 10000.0 AS score,
       |  CASE WHEN s > 0 THEN 'keep' ELSE 'drop' END AS label
       |FROM agg ORDER BY doc_id""".stripMargin

  /** DuckDB twin of TextAnalysis.sampleQualityWeighted: the classifier CTEs,
    * the ratio4 score, and the integer md5-coin gate (top 20 hash bits vs
    * p_int = clamp(floor(score·10⁴)+3·10⁶, 0, 6·10⁶) over 6·10⁶) — BIGINT
    * end-to-end, so the sampled doc SET hash-matches, not just its size. */
  private def sampleQualityWeightedOracleSql: String =
    s"""$classifierCtesSql,
       |sc AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(CASE WHEN s >= 0 THEN (20000 * s + n_tokens) // (2 * n_tokens)
       |         ELSE -((20000 * -s + n_tokens) // (2 * n_tokens)) END AS DOUBLE) / 10000.0 AS score
       |  FROM agg),
       |g AS (
       |  SELECT doc_id, n_tokens, score,
       |    greatest(least(CAST(floor(score * 10000.0) AS BIGINT) + 3000000,
       |      6000000), 0) AS p,
       |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |      // 1099511627776 AS u
       |  FROM sc)
       |SELECT doc_id, n_tokens, score, CAST(p AS DOUBLE) / 6000000.0 AS keep_prob
       |FROM g WHERE u * 6000000 < p * 1048576 ORDER BY doc_id""".stripMargin

  /** DuckDB twin of TextAnalysis.qualityThresholdSweep: classifier pass to
    * the floor(score·10⁴) grid, 9 thresholds theta-join the GRID, ratio4
    * shares against grid totals. */
  private def qualityThresholdSweepOracleSql: String =
    s"""$classifierCtesSql,
       |sc AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(CASE WHEN s >= 0 THEN (20000 * s + n_tokens) // (2 * n_tokens)
       |         ELSE -((20000 * -s + n_tokens) // (2 * n_tokens)) END AS DOUBLE) / 10000.0 AS score
       |  FROM agg),
       |grid AS (
       |  SELECT CAST(floor(score * 10000.0) AS BIGINT) AS qi,
       |    count(1) AS d, CAST(sum(n_tokens) AS BIGINT) AS t
       |  FROM sc GROUP BY qi),
       |taus AS (SELECT unnest(range(-4, 5)) * 500000 AS tau_i),
       |tot AS (SELECT CAST(sum(d) AS BIGINT) AS td, CAST(sum(t) AS BIGINT) AS tt FROM grid),
       |sw AS (
       |  SELECT tau_i, CAST(coalesce(sum(d), 0) AS BIGINT) AS n_docs_kept,
       |    CAST(coalesce(sum(t), 0) AS BIGINT) AS tok_kept
       |  FROM taus LEFT JOIN grid ON qi >= tau_i GROUP BY tau_i)
       |SELECT CAST(tau_i AS DOUBLE) / 10000.0 AS tau, n_docs_kept, tok_kept,
       |  CAST((20000 * n_docs_kept + td) // (2 * td) AS DOUBLE) / 10000.0 AS doc_share,
       |  CAST((20000 * tok_kept + tt) // (2 * tt) AS DOUBLE) / 10000.0 AS tok_share
       |FROM sw CROSS JOIN tot ORDER BY tau""".stripMargin

  /** DuckDB twin of PipelineOps.mixtureDoremi: the md5 model weights, one
    * token pass aggregated per language, the signed ratio4 domain/global
    * scores, and the linearized MW update — integer until the final ratio4
    * rounds. */
  private def mixtureDoremiOracleSql: String =
    """WITH w AS (
      |  SELECT b AS bucket,
      |    ('0x' || substring(md5(CAST(b AS VARCHAR)), 1, 15))::BIGINT % 2001 - 1000 AS weight
      |  FROM (SELECT unnest(range(0, 1024)) AS b)),
      |t AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % 1024 AS bucket
      |  FROM (SELECT doc_id, lang,
      |          unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
      |        FROM documents)),
      |dom AS (
      |  SELECT lang, count(1) AS n_tokens, CAST(sum(weight) AS BIGINT) AS s,
      |    count(DISTINCT doc_id) AS n_docs
      |  FROM t JOIN w USING (bucket) GROUP BY lang),
      |g AS (
      |  SELECT lang, n_docs, n_tokens,
      |    CASE WHEN s >= 0 THEN (20000 * s + n_tokens) // (2 * n_tokens)
      |         ELSE -((20000 * -s + n_tokens) // (2 * n_tokens)) END AS qd
      |  FROM dom),
      |gg AS (SELECT CAST(sum(s) AS BIGINT) AS sg, CAST(sum(n_tokens) AS BIGINT) AS ng FROM dom),
      |q AS (
      |  SELECT g.*,
      |    CASE WHEN sg >= 0 THEN (20000 * sg + ng) // (2 * ng)
      |         ELSE -((20000 * -sg + ng) // (2 * ng)) END AS qg
      |  FROM g CROSS JOIN gg),
      |r AS (
      |  SELECT lang, n_docs, n_tokens, qd, qg - qd AS ex,
      |    n_docs * greatest(1000000 + (qg - qd), 0) AS raw
      |  FROM q),
      |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS d0, CAST(sum(raw) AS BIGINT) AS r0 FROM r)
      |SELECT lang, n_docs, n_tokens,
      |  CAST(qd AS DOUBLE) / 10000.0 AS domain_score,
      |  ex AS excess,
      |  CAST((20000 * n_docs + d0) // (2 * d0) AS DOUBLE) / 10000.0 AS w_before,
      |  CAST((20000 * raw + r0) // (2 * r0) AS DOUBLE) / 10000.0 AS w_after
      |FROM r CROSS JOIN tt ORDER BY lang""".stripMargin

  /** DuckDB twin of PipelineOps.qualityDrift: the classifier chain run over
    * BOTH corpus_diff generations (same %13 filters and %13=2 uppercase),
    * per-source integer-exact score means, and the delta. The floor(score·
    * 10⁴) round-trip is exact per the curriculumOrder argument. */
  private def qualityDriftOracleSql: String = {
    def gen(tag: String, where: String, textExpr: String): String =
      s"""d$tag AS (SELECT doc_id, source, $textExpr AS text
         |  FROM documents WHERE $where),
         |t$tag AS (
         |  SELECT doc_id,
         |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % 1024 AS bucket
         |  FROM (SELECT doc_id,
         |          unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
         |        FROM d$tag)),
         |a$tag AS (
         |  SELECT doc_id, count(1) AS n, CAST(sum(weight) AS BIGINT) AS s
         |  FROM t$tag JOIN w USING (bucket) GROUP BY doc_id),
         |q$tag AS (
         |  SELECT doc_id, CAST(floor(
         |    CAST(CASE WHEN s >= 0 THEN (20000 * s + n) // (2 * n)
         |         ELSE -((20000 * -s + n) // (2 * n)) END AS DOUBLE) / 10000.0
         |    * 10000.0) AS BIGINT) AS qi
         |  FROM a$tag),
         |m$tag AS (
         |  SELECT source, nn AS n_v$tag,
         |    CAST(CASE WHEN qs >= 0 THEN (2 * qs + nn) // (2 * nn)
         |         ELSE -((2 * -qs + nn) // (2 * nn)) END AS DOUBLE) / 10000.0
         |      AS mean_q_v$tag
         |  FROM (SELECT source, count(1) AS nn, CAST(sum(qi) AS BIGINT) AS qs
         |        FROM q$tag JOIN d$tag USING (doc_id) GROUP BY source))""".stripMargin
    s"""WITH w AS (
       |  SELECT b AS bucket,
       |    ('0x' || substring(md5(CAST(b AS VARCHAR)), 1, 15))::BIGINT % 2001 - 1000 AS weight
       |  FROM (SELECT unnest(range(0, 1024)) AS b)),
       |${gen("0", "doc_id % 13 <> 5", "text")},
       |${gen("1", "doc_id % 13 <> 7",
              "CASE WHEN doc_id % 13 = 2 THEN upper(text) ELSE text END")}
       |SELECT source, n_v0, mean_q_v0, n_v1, mean_q_v1,
       |  round(mean_q_v1 - mean_q_v0, 4) AS drift
       |FROM m0 JOIN m1 USING (source) ORDER BY source""".stripMargin
  }

  /** DuckDB twin of StreamingQueries.streamClassify — the complete-mode
    * final state IS the batch rollup of the same classifier. */
  private def streamClassifyOracleSql: String =
    s"""$classifierCtesSql
       |SELECT CASE WHEN s > 0 THEN 'keep' ELSE 'drop' END AS label,
       |  count(1) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tok_volume
       |FROM agg GROUP BY 1 ORDER BY label""".stripMargin

  /** DuckDB twin of Graft.winnowFingerprints (k=4, w=5): row-local list
    * arithmetic end-to-end — gram hashes via the cross-engine md5Hash60,
    * per-window minima, distinct selected values, integer ratio4 density. */
  private def docWinnowingOracleSql: String =
    """WITH ts AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
      |  FROM documents),
      |hs AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(ts) - 2),
      |      i -> ('0x' || substring(md5(array_to_string(ts[i : i + 3], ' ')), 1, 15))::BIGINT) AS hs
      |  FROM ts WHERE len(ts) >= 4),
      |sel AS (
      |  SELECT doc_id, len(hs) AS n_kgrams,
      |    len(list_distinct(list_transform(range(1, greatest(len(hs) - 4, 1) + 1),
      |      j -> list_aggregate(hs[j : j + 4], 'min')))) AS n_fp
      |  FROM hs)
      |SELECT doc_id, CAST(n_kgrams AS BIGINT) AS n_kgrams,
      |  CAST(n_fp AS BIGINT) AS n_fingerprints,
      |  CAST((20000 * n_fp + n_kgrams) // (2 * n_kgrams) AS DOUBLE) / 10000.0 AS density
      |FROM sel ORDER BY doc_id""".stripMargin

  /** DuckDB twin of TextAnalysis.sourceReport: the ONE qualityScore formula
    * (same operation order as the green quality_score oracle), mean folded
    * in fixed point (sum of floor(q·2^20) as exact integers, one divide),
    * keep-share via integer ratio4 on the unrounded threshold compare. */
  private def sourceReportOracleSql: String =
    """WITH sc AS (
      |  SELECT source, lang, CAST(nt AS BIGINT) AS ntl,
      |    least(nt / 100.0, 1.0) * 0.5 + (1.0 - p / cl) * 0.3
      |      + least(stop / nt * 10.0, 1.0) * 0.2 AS q
      |  FROM (
      |    SELECT source, lang,
      |      CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
      |      CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS p,
      |      CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','is'))) AS DOUBLE) AS stop,
      |      CAST(length(text) AS DOUBLE) AS cl
      |    FROM documents))
      |SELECT source, lang, count(1) AS n_docs,
      |  CAST(sum(ntl) AS BIGINT) AS tok_volume,
      |  round(CAST(sum(CAST(floor(q * 1048576.0) AS BIGINT)) AS DOUBLE)
      |    / CAST(count(1) AS DOUBLE) / 1048576.0, 4) AS mean_quality,
      |  CAST((20000 * count(1) FILTER (WHERE q >= 0.5) + count(1))
      |    // (2 * count(1)) AS DOUBLE) / 10000.0 AS keep_share
      |FROM sc GROUP BY source, lang ORDER BY source, lang""".stripMargin

  /** DuckDB twin of Graft.pmiBigrams: same quantized-ln grid the
    * quality_perplexity oracle proved (floor(ln(q)·2^20) of an IEEE
    * quotient), integer counts everywhere else. */
  private def pmiCooccurOracleSql: String =
    """WITH toks AS (
      |  SELECT list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
      |  FROM documents),
      |uni AS (
      |  SELECT t, count(1) AS c
      |  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
      |bg AS (
      |  SELECT ts[i - 1] AS a, ts[i] AS b FROM (
      |    SELECT ts, unnest(range(2, len(ts) + 1)) AS i
      |    FROM toks WHERE len(ts) >= 2)),
      |bgc AS (
      |  SELECT a, b, count(1) AS n_pair FROM bg GROUP BY a, b
      |  HAVING count(1) >= 5)
      |SELECT bgc.a, bgc.b, n_pair,
      |  floor(ln(CAST(n_pair AS DOUBLE) * CAST(n AS DOUBLE)
      |    / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))) * 1048576.0) / 1048576.0 AS pmi
      |FROM bgc
      |JOIN uni ca ON ca.t = bgc.a
      |JOIN uni cb ON cb.t = bgc.b
      |CROSS JOIN tot
      |ORDER BY pmi DESC, a ASC, b ASC LIMIT 20""".stripMargin

  /** The winnowed-index CTEs (selection → capped postings → idx) shared by
    * dedup_winnow and dedup_winnow_keep. */
  private val winnowIdxCtesSql: String =
    """ts AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
      |  FROM documents),
      |hs AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(ts) - 2),
      |      i -> ('0x' || substring(md5(array_to_string(ts[i : i + 3], ' ')), 1, 15))::BIGINT) AS hs
      |  FROM ts WHERE len(ts) >= 4),
      |sel AS (
      |  SELECT DISTINCT doc_id, fp FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, greatest(len(hs) - 4, 1) + 1),
      |        j -> list_aggregate(hs[j : j + 4], 'min'))) AS fp
      |    FROM hs)),
      |postings AS (SELECT fp, count(1) AS df FROM sel GROUP BY fp),
      |idx AS (SELECT sel.doc_id, sel.fp FROM sel JOIN postings USING (fp)
      |        WHERE df <= 128)""".stripMargin

  /** DuckDB twin of Graft.winnowOverlapCandidates: the doc_winnowing
    * selection CTEs exploded to (doc_id, fp) rows, then the SAME
    * postings-capped pair join as dedup_substring. */
  private def dedupWinnowOracleSql: String =
    s"""WITH $winnowIdxCtesSql
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(1) AS n_shared
       |FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(1) >= 2
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB twin of Dedup.dedupWinnowKeep: the winnowed pair edges closed
    * by the same recursive-CTE reachability the dedup_clusters oracle
    * proved, min-label component ids, one keep row per cluster. */
  private def dedupWinnowKeepOracleSql: String =
    s"""WITH RECURSIVE
       |$winnowIdxCtesSql,
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(1) >= 2),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p),
       |reach(v, m) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.v),
       |comp AS (SELECT v AS doc_id, min(m) AS cluster_id FROM reach GROUP BY v)
       |SELECT cluster_id AS keep_id, count(1) AS n_members
       |FROM comp GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** DuckDB twin of Graft.gopherRules: every signal is integer or ratio4
    * arithmetic, and every threshold compares denominator-scaled INTEGERS —
    * no float boundary anywhere in the boolean. */
  private def qualityGopherOracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(ts) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(ts, x -> len(x))) AS BIGINT) AS sumlen,
      |    CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha,
      |    CAST(len(list_filter(['the','a','of','and','is'], s -> list_contains(ts, s))) AS BIGINT) AS n_stopwords
      |  FROM t WHERE len(ts) >= 1)
      |SELECT doc_id, n_words,
      |  CAST((20000 * sumlen + n_words) // (2 * n_words) AS DOUBLE) / 10000.0 AS mean_word_len,
      |  CAST((20000 * alpha + n_words) // (2 * n_words) AS DOUBLE) / 10000.0 AS alpha_share,
      |  n_stopwords,
      |  (n_words BETWEEN 20 AND 100000) AND (3 * n_words <= sumlen)
      |    AND (sumlen <= 10 * n_words) AND (5 * alpha >= 4 * n_words)
      |    AND (n_stopwords >= 2) AS passes
      |FROM m ORDER BY doc_id""".stripMargin

  /** DuckDB twin of Graft.substringOverlapCandidates: per-doc DISTINCT
    * 8-token position-grams fingerprinted with the cross-engine md5Hash60,
    * postings capped at 128, pair counts are plain counts (per-doc
    * distinctness makes each (pair, fp) row unique). */
  private def dedupSubstringOracleSql: String =
    """WITH g AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substring(md5(gram), 1, 15))::BIGINT AS fp
      |  FROM (
      |    SELECT doc_id, array_to_string(ts[i : i + 7], ' ') AS gram
      |    FROM (
      |      SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS i
      |      FROM (SELECT doc_id,
      |              list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
      |            FROM documents)
      |      WHERE len(ts) >= 8))),
      |postings AS (SELECT fp, count(1) AS df FROM g GROUP BY fp),
      |idx AS (SELECT g.doc_id, g.fp FROM g JOIN postings USING (fp)
      |        WHERE df <= 128)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(1) AS n_spans
      |FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2
      |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB twin of Similarity.annIndexStats — the knn_ivf coarse k-means
    * CTEs plus the exact residual computation (proven by knn_ivfpq) and a
    * fixed-point mean of the residual norms: floor(norm·2^20) sums as
    * integers (< 2^53, so the double sum is exact in any order), one
    * correctly-rounded divide at the end. */
  /** The coarse k-means + final assignment CTEs (c0..c3, assigned) shared
    * by annIndexStats and annProbeSweep — extracted verbatim from the
    * green annIndexStats oracle so both read the SAME trained lists. */
  private def coarseKmeansDistSql(c: String): String =
    s"""(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
       |          - 2 * list_dot_product(e.embedding::DOUBLE[], $c.centroid::DOUBLE[])
       |          + list_dot_product($c.centroid::DOUBLE[], $c.centroid::DOUBLE[]))""".stripMargin

  private def coarseKmeansCtesSql(k: Int, dims: Int): String = {
    val dist = coarseKmeansDistSql _
    def assignCte(n: Int): String =
      s"""a$n AS (
         |  SELECT vec_id, c_id FROM (
         |    SELECT e.vec_id, c.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${dist("c")} ASC, c.c_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN c${n - 1} c)
         |  WHERE rn = 1)""".stripMargin
    def meansCte(n: Int): String = {
      val meanExprs = (1 to dims).map(dd =>
        s"CAST(CAST(sum(CAST(floor(CAST(e.embedding[$dd] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 1048576.0 AS FLOAT)")
        .mkString("[\n      ", ",\n      ", "]")
      s"""m$n AS (
         |  SELECT c_id, $meanExprs AS centroid
         |  FROM a$n JOIN embeddings e USING (vec_id) GROUP BY c_id),
         |c$n AS (
         |  SELECT p.c_id, coalesce(mm.centroid, p.centroid) AS centroid
         |  FROM c${n - 1} p LEFT JOIN m$n mm USING (c_id))""".stripMargin
    }
    val iterations = (1 to 3).map(n => s"${assignCte(n)},\n${meansCte(n)}").mkString(",\n")
    s"""c0 AS (
       |  SELECT vec_id AS c_id, embedding AS centroid
       |  FROM embeddings ORDER BY vec_id LIMIT $k),
       |$iterations,
       |assigned AS (
       |  SELECT vec_id, c_id AS list_id FROM (
       |    SELECT e.vec_id, c.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${dist("c")} ASC, c.c_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN c3 c)
       |  WHERE rn = 1)""".stripMargin
  }

  /** DuckDB twin of TextAnalysis.dsirSelect — hashed-unigram importance
    * weights on the quantized-ln grid: per-bucket floor(ln(p)·2^20) values
    * subtract as integers, per-doc weights sum as integers (order-free),
    * so rank and cut line are hash-exact. Same md5-60-bit % 256 bucketing
    * as the Spark side (md5Hash60 ≡ ('0x'||substring(md5,1,15))::BIGINT). */
  private def dsirSelectOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS t,
      |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % 256 AS b
      |  FROM (SELECT doc_id, lang,
      |          unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
      |        FROM documents)),
      |obs AS (SELECT b, sum(t) AS ct, count(1) AS cs FROM toks GROUP BY b),
      |counts AS (
      |  SELECT ab.b, coalesce(o.ct, 0) AS ct, coalesce(o.cs, 0) AS cs
      |  FROM (SELECT unnest(range(0, 256)) AS b) ab LEFT JOIN obs o USING (b)),
      |totals AS (SELECT sum(ct) AS tt, sum(cs) AS ts FROM counts),
      |model AS (
      |  SELECT b,
      |    CAST(floor(ln((ct + 1)::DOUBLE / (tt + 256)::DOUBLE) * 1048576.0) AS BIGINT)
      |    - CAST(floor(ln((cs + 1)::DOUBLE / (ts + 256)::DOUBLE) * 1048576.0) AS BIGINT) AS lrq
      |  FROM counts CROSS JOIN totals),
      |w AS (
      |  SELECT doc_id, count(1) AS n_tokens, sum(lrq) AS wq
      |  FROM toks JOIN model USING (b) GROUP BY doc_id)
      |SELECT w.doc_id, w.n_tokens, round(wq::DOUBLE / 1048576.0, 4) AS llr,
      |  d.lang, d.source
      |FROM w JOIN documents d USING (doc_id)
      |ORDER BY llr DESC, w.doc_id LIMIT 50""".stripMargin

  /** DuckDB twin of PipelineOps.pipelineApplyMixture — the
    * mixture_temperature rate CTEs (IEEE sqrt + sorted fold, round-6
    * rates), the 16-bit md5 sampling gate (u < floor(rate·65536) — one
    * floor of an exact product on identical round-6 rates), and the
    * ratio4 achieved-rate readback. */
  private def pipelineApplyMixtureOracleSql: String =
    """WITH counts AS (
      |  SELECT lang, count(1) AS n_docs FROM documents GROUP BY lang),
      |w AS (SELECT lang, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS w FROM counts),
      |tot AS (SELECT list_reduce(list(w ORDER BY lang), (a, b) -> a + b) AS tot FROM w),
      |rates AS (SELECT lang, round(w / tot, 6) AS rate FROM w CROSS JOIN tot),
      |mix AS (
      |  SELECT d.lang,
      |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt
      |  FROM documents d JOIN rates r USING (lang)
      |  WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
      |        < CAST(floor(r.rate * 65536.0) AS BIGINT)),
      |ms AS (
      |  SELECT lang, count(1) AS n_sampled,
      |    CAST(sum(nt) AS BIGINT) AS tok_volume
      |  FROM mix GROUP BY lang)
      |SELECT c.lang, c.n_docs,
      |  coalesce(m.n_sampled, 0) AS n_sampled,
      |  coalesce(m.tok_volume, 0) AS tok_volume,
      |  CAST((20000 * coalesce(m.n_sampled, 0) + c.n_docs)
      |    // (2 * c.n_docs) AS DOUBLE) / 10000.0 AS achieved4
      |FROM counts c LEFT JOIN ms m USING (lang)
      |ORDER BY c.lang""".stripMargin

  /** DuckDB twin of StreamingQueries.streamDsir — the dsir_select model
    * CTEs, then a per-language rollup of the final streaming state on
    * exact integer sums (mean = Σwq / n / 2^20, two correctly-rounded
    * divides). Streaming semantics reduce to batch because complete-mode
    * final state over a bounded source IS the batch aggregate. */
  private def streamDsirOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS t,
      |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % 256 AS b
      |  FROM (SELECT doc_id, lang,
      |          unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
      |        FROM documents)),
      |obs AS (SELECT b, sum(t) AS ct, count(1) AS cs FROM toks GROUP BY b),
      |counts AS (
      |  SELECT ab.b, coalesce(o.ct, 0) AS ct, coalesce(o.cs, 0) AS cs
      |  FROM (SELECT unnest(range(0, 256)) AS b) ab LEFT JOIN obs o USING (b)),
      |totals AS (SELECT sum(ct) AS tt, sum(cs) AS ts FROM counts),
      |model AS (
      |  SELECT b,
      |    CAST(floor(ln((ct + 1)::DOUBLE / (tt + 256)::DOUBLE) * 1048576.0) AS BIGINT)
      |    - CAST(floor(ln((cs + 1)::DOUBLE / (ts + 256)::DOUBLE) * 1048576.0) AS BIGINT) AS lrq
      |  FROM counts CROSS JOIN totals),
      |w AS (
      |  SELECT doc_id, count(1) AS n_tokens, sum(lrq) AS wq
      |  FROM toks JOIN model USING (b) GROUP BY doc_id)
      |SELECT d.lang, count(1) AS n_docs,
      |  CAST(sum(w.n_tokens) AS BIGINT) AS tok_volume,
      |  round(CAST(sum(w.wq) AS DOUBLE) / CAST(count(1) AS DOUBLE)
      |    / 1048576.0, 4) AS avg_llr
      |FROM w JOIN documents d USING (doc_id)
      |GROUP BY d.lang ORDER BY lang""".stripMargin

  /** DuckDB twin of TextAnalysis.docNovelty — the dedup_substring gram
    * CTEs (8-token position grams, per-doc distinct, md5-60-bit), a df
    * count, and the integer ratio4 share of df=1 grams per document. */
  private def docNoveltyOracleSql: String =
    """WITH g AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substring(md5(gram), 1, 15))::BIGINT AS fp
      |  FROM (
      |    SELECT doc_id, array_to_string(ts[i : i + 7], ' ') AS gram
      |    FROM (
      |      SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS i
      |      FROM (SELECT doc_id,
      |              list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
      |            FROM documents)
      |      WHERE len(ts) >= 8))),
      |postings AS (SELECT fp, count(1) AS df FROM g GROUP BY fp)
      |SELECT g.doc_id, count(1) AS n_grams,
      |  CAST((20000 * count_if(df = 1) + count(1))
      |    // (2 * count(1)) AS DOUBLE) / 10000.0 AS novelty4
      |FROM g JOIN postings USING (fp)
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  /** DuckDB twin of TextAnalysis.sourceDivergence — per-stratum KL and
    * entropy as INTEGER sums of c·L(p) products on the quantized-ln grid
    * (order-free), two correctly-rounded closing divides. */
  private def sourceDivergenceOracleSql: String =
    """WITH toks AS (
      |  SELECT source AS g,
      |    unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
      |  FROM documents),
      |cgw AS (SELECT g, tok, count(1) AS c FROM toks GROUP BY g, tok),
      |cg AS (SELECT g, CAST(sum(c) AS BIGINT) AS cg FROM cgw GROUP BY g),
      |cw AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cw FROM cgw GROUP BY tok),
      |ct AS (SELECT CAST(sum(cw) AS BIGINT) AS ct FROM cw),
      |sc AS (
      |  SELECT cgw.g, cgw.c,
      |    CAST(floor(ln(c::DOUBLE / cg::DOUBLE) * 1048576.0) AS BIGINT) AS ls,
      |    CAST(floor(ln(cw::DOUBLE / ct::DOUBLE) * 1048576.0) AS BIGINT) AS lc
      |  FROM cgw JOIN cg USING (g) JOIN cw USING (tok) CROSS JOIN ct)
      |SELECT g AS source, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  count(1) AS n_types,
      |  round(CAST(sum(c * (ls - lc)) AS DOUBLE)
      |    / CAST(sum(c) AS DOUBLE) / 1048576.0, 6) AS kl_vs_corpus,
      |  round(CAST(sum(-c * ls) AS DOUBLE)
      |    / CAST(sum(c) AS DOUBLE) / 1048576.0, 6) AS entropy
      |FROM sc GROUP BY g ORDER BY source""".stripMargin

  /** DuckDB twin of PipelineOps.pipelineSelectDsir — the composed flow:
    * the quality_gopher pass predicate, the dedup_exact min-id keep rule,
    * the dsir_select model CTEs refit on the clean survivors, and a
    * running-total cutoff at 8000 tokens (the oracle may use the global
    * window the Spark side's distributed prefix sum deliberately avoids —
    * both compute the same integer running totals over the same total
    * order). */
  private def pipelineSelectDsirOracleSql: String =
    """WITH tok0 AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
      |  FROM documents),
      |gp AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_words,
      |      CAST(list_sum(list_transform(ts, x -> len(x))) AS BIGINT) AS sumlen,
      |      CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha,
      |      CAST(len(list_filter(['the','a','of','and','is'],
      |        s -> list_contains(ts, s))) AS BIGINT) AS n_stop
      |    FROM tok0 WHERE len(ts) >= 1)
      |  WHERE n_words BETWEEN 20 AND 100000 AND 3 * n_words <= sumlen
      |    AND sumlen <= 10 * n_words AND 5 * alpha >= 4 * n_words
      |    AND n_stop >= 2),
      |kp AS (
      |  SELECT min(doc_id) AS doc_id FROM documents
      |  GROUP BY md5(lower(trim(text)))),
      |clean AS (
      |  SELECT d.doc_id, d.text, d.lang FROM documents d
      |  JOIN gp USING (doc_id) JOIN kp USING (doc_id)),
      |toks AS (
      |  SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS t,
      |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % 256 AS b
      |  FROM (SELECT doc_id, lang,
      |          unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
      |        FROM clean)),
      |obs AS (SELECT b, sum(t) AS ct, count(1) AS cs FROM toks GROUP BY b),
      |counts AS (
      |  SELECT ab.b, coalesce(o.ct, 0) AS ct, coalesce(o.cs, 0) AS cs
      |  FROM (SELECT unnest(range(0, 256)) AS b) ab LEFT JOIN obs o USING (b)),
      |totals AS (SELECT sum(ct) AS tt, sum(cs) AS ts FROM counts),
      |model AS (
      |  SELECT b,
      |    CAST(floor(ln((ct + 1)::DOUBLE / (tt + 256)::DOUBLE) * 1048576.0) AS BIGINT)
      |    - CAST(floor(ln((cs + 1)::DOUBLE / (ts + 256)::DOUBLE) * 1048576.0) AS BIGINT) AS lrq
      |  FROM counts CROSS JOIN totals),
      |w AS (
      |  SELECT doc_id, count(1) AS n_tokens,
      |    round(sum(lrq)::DOUBLE / 1048576.0, 4) AS llr
      |  FROM toks JOIN model USING (b) GROUP BY doc_id),
      |sel AS (
      |  SELECT doc_id, n_tokens, llr,
      |    sum(n_tokens) OVER (ORDER BY llr DESC, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |  FROM w)
      |SELECT s.doc_id, s.n_tokens, s.llr,
      |  CAST(s.cum_tokens AS BIGINT) AS cum_tokens, d.lang, d.source
      |FROM sel s JOIN documents d USING (doc_id)
      |WHERE s.cum_tokens <= 8000
      |ORDER BY s.doc_id""".stripMargin

  /** DuckDB twin of PipelineOps.pipelineEndToEnd — the whole flagship
    * curation chain unrolled into one WITH RECURSIVE: the shared minhash
    * signature CTEs (over ALL documents — signatures are row-local, so one
    * table serves the self-join candidates, restricted to the kept set, AND
    * the eval-split decontamination screen), the Gopher gate, exact-dedup
    * keep list, banded pairs → recursive-CTE connected components →
    * representatives, the banded reps×eval screen, the DSIR fixed-point
    * model on the clean set, the global-window budget cut (≡ the
    * distributed two-phase prefix sum), and the packing cumsum. Every
    * fragment reuses an exactness argument proven by its standalone oracle
    * (dedup_minhash, decontaminate_minhash, pipeline_select_dsir,
    * pack_sequences, pipeline_curate_corpus's CC). */
  private def pipelineEndToEndOracleSql: String =
    s"""${minhashSigCtePrefix.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |tok0 AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
       |  FROM documents WHERE doc_id % 97 <> 0),
       |gp AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_words,
       |      CAST(list_sum(list_transform(ts, x -> len(x))) AS BIGINT) AS sumlen,
       |      CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha,
       |      CAST(len(list_filter(['the','a','of','and','is'],
       |        s -> list_contains(ts, s))) AS BIGINT) AS n_stop
       |    FROM tok0 WHERE len(ts) >= 1)
       |  WHERE n_words BETWEEN 20 AND 100000 AND 3 * n_words <= sumlen
       |    AND sumlen <= 10 * n_words AND 5 * alpha >= 4 * n_words
       |    AND n_stop >= 2),
       |kp AS (
       |  SELECT min(doc_id) AS doc_id FROM documents JOIN gp USING (doc_id)
       |  GROUP BY md5(lower(trim(text)))),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ex a JOIN ex b
       |    ON a.i = b.i AND a.band = b.band AND a.doc_id < b.doc_id
       |  JOIN kp ka ON ka.doc_id = a.doc_id
       |  JOIN kp kb ON kb.doc_id = b.doc_id),
       |prs AS (
       |  SELECT id_a, id_b FROM cand
       |  JOIN sig sa ON sa.doc_id = id_a
       |  JOIN sig sb ON sb.doc_id = id_b
       |  WHERE $minhashEstExpr >= 0.2),
       |edges AS (SELECT id_a AS a, id_b AS b FROM prs
       |          UNION SELECT id_b, id_a FROM prs),
       |reach(v, m2) AS (SELECT doc_id, doc_id FROM kp
       |                 UNION
       |                 SELECT e.a, r.m2 FROM edges e JOIN reach r ON e.b = r.v),
       |comp AS (SELECT v AS doc_id, min(m2) AS cluster_id FROM reach GROUP BY v),
       |reps AS (SELECT doc_id FROM comp WHERE doc_id = cluster_id),
       |dcand AS (
       |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS eval_id
       |  FROM ex a JOIN ex b ON a.i = b.i AND a.band = b.band
       |  JOIN reps r ON r.doc_id = a.doc_id
       |  WHERE b.doc_id % 97 = 0),
       |dbad AS (
       |  SELECT DISTINCT new_id AS doc_id FROM dcand
       |  JOIN sig sa ON sa.doc_id = new_id
       |  JOIN sig sb ON sb.doc_id = eval_id
       |  WHERE $minhashEstExpr >= 0.2),
       |clean AS (
       |  SELECT doc_id FROM reps WHERE doc_id NOT IN (SELECT doc_id FROM dbad)),
       |toks AS (
       |  SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS t,
       |    ('0x' || substring(md5(tok), 1, 15))::BIGINT % 256 AS b
       |  FROM (SELECT d.doc_id, d.lang,
       |          unnest(list_filter(string_split(d.text, ' '), x -> len(x) > 0)) AS tok
       |        FROM documents d JOIN clean USING (doc_id))),
       |obs AS (SELECT b, sum(t) AS ct, count(1) AS cs FROM toks GROUP BY b),
       |counts AS (
       |  SELECT ab.b, coalesce(o.ct, 0) AS ct, coalesce(o.cs, 0) AS cs
       |  FROM (SELECT unnest(range(0, 256)) AS b) ab LEFT JOIN obs o USING (b)),
       |totals AS (SELECT sum(ct) AS tt, sum(cs) AS ts FROM counts),
       |model AS (
       |  SELECT b,
       |    CAST(floor(ln((ct + 1)::DOUBLE / (tt + 256)::DOUBLE) * 1048576.0) AS BIGINT)
       |    - CAST(floor(ln((cs + 1)::DOUBLE / (ts + 256)::DOUBLE) * 1048576.0) AS BIGINT) AS lrq
       |  FROM counts CROSS JOIN totals),
       |w AS (
       |  SELECT doc_id, count(1) AS n_tokens,
       |    round(sum(lrq)::DOUBLE / 1048576.0, 4) AS llr
       |  FROM toks JOIN model USING (b) GROUP BY doc_id),
       |sel AS (
       |  SELECT doc_id, n_tokens, llr,
       |    sum(n_tokens) OVER (ORDER BY llr DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
       |  FROM w),
       |keep2 AS (SELECT * FROM sel WHERE cum_tokens <= 8000),
       |pk AS (
       |  SELECT k.doc_id,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS pn
       |  FROM keep2 k JOIN documents d USING (doc_id)),
       |pos AS (
       |  SELECT doc_id,
       |    sum(pn) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - pn AS strt
       |  FROM pk)
       |SELECT k.doc_id, k.n_tokens, k.llr,
       |  CAST(k.cum_tokens AS BIGINT) AS cum_tokens,
       |  CAST(p.strt // 512 AS BIGINT) AS seq_id,
       |  CAST(p.strt % 512 AS BIGINT) AS seq_offset
       |FROM keep2 k JOIN pos p USING (doc_id)
       |ORDER BY k.doc_id""".stripMargin

  /** DuckDB twin of Similarity.embeddingOutliers — the knn_ivf coarse
    * k-means CTEs, each vector's squared L2 to its own centroid (the
    * cross-engine-exact VecDot arithmetic), top-50 by (dist desc, id). */
  private def embeddingOutliersOracleSql: String =
    s"""WITH ${coarseKmeansCtesSql(10, 64)}
       |SELECT e.vec_id, a.list_id,
       |  round(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
       |    - 2 * list_dot_product(e.embedding::DOUBLE[], c.centroid::DOUBLE[])
       |    + list_dot_product(c.centroid::DOUBLE[], c.centroid::DOUBLE[]), 6) AS dist6
       |FROM embeddings e
       |JOIN assigned a USING (vec_id)
       |JOIN c3 c ON c.c_id = a.list_id
       |ORDER BY dist6 DESC, e.vec_id LIMIT 50""".stripMargin

  /** DuckDB twin of Similarity.hardNegatives — different-label filter at
    * the scan, round-6 cosines, top-3 per anchor by (score desc, id). */
  private def hardNegativesOracleSql: String = {
    val qCos =
      """list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) *
        |       sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))""".stripMargin
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, embedding AS qv, label AS q_label
       |  FROM embeddings WHERE vec_id < 20),
       |sc AS (
       |  SELECT q.q_id, q.q_label, e.vec_id AS c_id, e.label,
       |    round($qCos, 6) AS score6
       |  FROM q JOIN embeddings e ON e.label <> q.q_label)
       |SELECT q_id, q_label, CAST(rn AS INTEGER) AS rn, c_id AS neg_id,
       |  label AS neg_label, round(score6, 4) AS cos_sim
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY score6 DESC, c_id) AS rn FROM sc)
       |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin
  }

  /** DuckDB twin of Similarity.embeddingPca — Graft.pcaPowerIteration's
    * covariance pass and 5 power iterations unrolled. Cross-engine exact:
    * centered products, matrix-vector contributions, and squared norms all
    * quantize to floor(·2^20) integers BEFORE their sums; the remaining
    * ops per value are one correctly-rounded divide, sqrt, or subtract on
    * identical bits. */
  private def embeddingPcaOracleSql: String = {
    def iter(k: Int): String =
      s"""w$k AS (
         |  SELECT cov.i,
         |    CAST(sum(CAST(floor(c * v * 1048576.0) AS BIGINT)) AS DOUBLE)
         |      / 1048576.0 AS w
         |  FROM cov JOIN v${k - 1} ON v${k - 1}.j = cov.j GROUP BY cov.i),
         |n$k AS (
         |  SELECT sqrt(CAST(sum(CAST(floor(w * w * 1048576.0) AS BIGINT)) AS DOUBLE)
         |    / 1048576.0) AS nrm FROM w$k),
         |v$k AS (SELECT i AS j, w / nrm AS v, nrm FROM w$k CROSS JOIN n$k)""".stripMargin
    s"""WITH e2 AS (
       |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
       |  FROM (SELECT vec_id, unnest(range(1, 65)) AS i, embedding FROM embeddings)),
       |nn AS (SELECT CAST(count(1) AS DOUBLE) AS n FROM embeddings),
       |mean AS (
       |  SELECT i,
       |    CAST(sum(CAST(floor(x * 1048576.0) AS BIGINT)) AS DOUBLE) / n / 1048576.0 AS m
       |  FROM e2 CROSS JOIN nn GROUP BY i, n),
       |cen AS (SELECT vec_id, i, x - m AS d FROM e2 JOIN mean USING (i)),
       |cov AS (
       |  SELECT a.i, b.i AS j,
       |    CAST(sum(CAST(floor(a.d * b.d * 1048576.0) AS BIGINT)) AS DOUBLE)
       |      / n / 1048576.0 AS c
       |  FROM cen a JOIN cen b ON a.vec_id = b.vec_id CROSS JOIN nn
       |  GROUP BY a.i, b.i, n),
       |v0 AS (SELECT unnest(range(1, 65)) AS j, 0.125::DOUBLE AS v),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT CAST(j AS INTEGER) AS dim, round(v, 6) AS loading,
       |  round(nrm, 6) AS lambda
       |FROM v5 ORDER BY dim""".stripMargin
  }

  /** DuckDB twin of Similarity.knnMmr — Graft.mmrSelect's 5 greedy MMR
    * steps unrolled as CTE triples (ms → pk → sel). Cross-engine exact:
    * rel6/sim6 are round-6 quantized cosines (identical bits both sides),
    * the greedy objective 0.5·rel − 0.5·ms is two correctly-rounded
    * double ops on those bits (constants written as ::DOUBLE arithmetic),
    * and each argmax breaks ties on candidate id. */
  private def knnMmrOracleSql: String = {
    val relCos =
      """list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) *
        |       sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))""".stripMargin
    def step(n: Int): String =
      s"""ms$n AS (
         |  SELECT c.q_id, c.c_id, c.rel6, max(m.sim6) AS ms
         |  FROM cand c
         |  JOIN sel${n - 1} s ON s.q_id = c.q_id
         |  JOIN sim m ON m.q_id = c.q_id AND m.a = c.c_id AND m.b = s.c_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${n - 1} t
         |                    WHERE t.q_id = c.q_id AND t.c_id = c.c_id)
         |  GROUP BY 1, 2, 3),
         |pk$n AS (
         |  SELECT q_id, c_id, rel6, CAST($n AS INTEGER) AS step,
         |    0.5::DOUBLE * rel6 - 0.5::DOUBLE * ms AS score
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
         |          ORDER BY (0.5::DOUBLE * rel6 - 0.5::DOUBLE * ms) DESC, c_id) AS rn
         |        FROM ms$n) WHERE rn = 1),
         |sel$n AS (SELECT * FROM sel${n - 1} UNION ALL SELECT * FROM pk$n)""".stripMargin
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
       |sc AS (
       |  SELECT q.q_id, e.vec_id AS c_id, round($relCos, 6) AS rel6
       |  FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
       |cand AS (
       |  SELECT q_id, c_id, rel6 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY rel6 DESC, c_id) AS rn FROM sc)
       |  WHERE rn <= 20),
       |sim AS (
       |  SELECT x.q_id, x.c_id AS a, y.c_id AS b, round($embedCos, 6) AS sim6
       |  FROM cand x JOIN cand y ON y.q_id = x.q_id AND y.c_id <> x.c_id
       |  JOIN embeddings ea ON ea.vec_id = x.c_id
       |  JOIN embeddings eb ON eb.vec_id = y.c_id),
       |sel1 AS (
       |  SELECT q_id, c_id, rel6, CAST(1 AS INTEGER) AS step,
       |    0.5::DOUBLE * rel6 - 0.5::DOUBLE * 0.0::DOUBLE AS score
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |          ORDER BY (0.5::DOUBLE * rel6 - 0.5::DOUBLE * 0.0::DOUBLE) DESC, c_id) AS rn
       |        FROM cand) WHERE rn = 1),
       |${(2 to 5).map(step).mkString(",\n")}
       |SELECT q_id, step, c_id, round(rel6, 4) AS rel_cos, round(score, 6) AS mmr
       |FROM sel5 ORDER BY q_id, step""".stripMargin
  }

  /** DuckDB twin of GraphOps.labelPropagation — the dedup_embedding_keep
    * pair CTEs (8-bit bands, cosine ≥ 0.25), then Graft.labelPropagate's
    * 3 synchronous majority-vote rounds unrolled. Integer-exact: votes
    * are counts, ties break (count desc, label asc), seeds clamp via the
    * same coalesce. */
  private def labelPropagationOracleSql: String = {
    def round(k: Int): String =
      s"""v$k AS (
         |  SELECT s.dst, c.l, count(1) AS v
         |  FROM sym s JOIN l${k - 1} c ON c.n = s.src AND c.l IS NOT NULL
         |  GROUP BY s.dst, c.l),
         |b$k AS (
         |  SELECT dst AS n, l AS maj FROM (
         |    SELECT dst, l, row_number() OVER (PARTITION BY dst
         |      ORDER BY v DESC, l ASC) AS rn FROM v$k) WHERE rn = 1),
         |l$k AS (
         |  SELECT base.n, coalesce(base.seedl, b.maj) AS l
         |  FROM base LEFT JOIN b$k b ON b.n = base.n)""".stripMargin
    s"""WITH ${embedCandidateCtes(8)},
       |pairs AS (
       |  SELECT id_a, id_b
       |  FROM cand
       |  JOIN embeddings ea ON ea.vec_id = id_a
       |  JOIN embeddings eb ON eb.vec_id = id_b
       |  WHERE $embedCos >= 0.25),
       |sym AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |base AS (
       |  SELECT vec_id AS n,
       |    CASE WHEN vec_id % 5 = 0 THEN CAST(label AS BIGINT) END AS seedl
       |  FROM embeddings),
       |l0 AS (SELECT n, seedl AS l FROM base),
       |${(1 to 3).map(round).mkString(",\n")}
       |SELECT l3.n AS vec_id,
       |  CAST(CASE WHEN base.seedl IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS is_seed,
       |  l3.l AS label
       |FROM l3 JOIN base USING (n) ORDER BY vec_id""".stripMargin
  }

  /** Shared word-adjacency edge CTEs of the graph oracles (toks → pr →
    * edges): undirected (least, greatest) adjacent-token pairs over the
    * English slice, weight = occurrence count. */
  private val wordAdjacencyCtes: String =
    """toks AS (
      |  SELECT list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
      |  FROM documents WHERE lang = 'en'),
      |pr AS (
      |  SELECT least(ts[i - 1], ts[i]) AS a, greatest(ts[i - 1], ts[i]) AS b
      |  FROM (SELECT ts, unnest(range(2, len(ts) + 1)) AS i
      |        FROM toks WHERE len(ts) >= 2)
      |  WHERE ts[i - 1] <> ts[i]),
      |edges AS (SELECT a, b, count(1) AS w FROM pr GROUP BY a, b)""".stripMargin

  /** DuckDB twin of GraphOps.textrankKeywords — Graft.textRank's 5 damped
    * PageRank iterations unrolled as CTEs. Cross-engine exact because every
    * iteration is order-free: each edge contribution quantizes to
    * floor((w/wdeg)·r·2^20) BEFORE the sum (integer addition), and the
    * damping constants are written as DOUBLE-typed arithmetic
    * (1.0::DOUBLE - 0.85::DOUBLE) so both engines compute the identical
    * correctly-rounded constant — a bare decimal 0.15 would be DuckDB
    * DECIMAL, one ulp away from the Scala double. */
  private def textrankOracleSql: String = {
    def iter(n: Int): String =
      s"""r$n AS (
         |  SELECT dst AS node,
         |    (1.0::DOUBLE - 0.85::DOUBLE) + 0.85::DOUBLE *
         |      (sum(CAST(floor(w::DOUBLE / wdeg::DOUBLE * r * 1048576.0) AS BIGINT))::DOUBLE
         |        / 1048576.0) AS r
         |  FROM dirw JOIN r${n - 1} ON r${n - 1}.node = dirw.src
         |  GROUP BY dst)""".stripMargin
    s"""WITH $wordAdjacencyCtes,
       |dir AS (SELECT a AS src, b AS dst, w FROM edges
       |        UNION ALL SELECT b AS src, a AS dst, w FROM edges),
       |wdeg AS (SELECT src, sum(w) AS wdeg FROM dir GROUP BY src),
       |dirw AS (SELECT d.src, d.dst, d.w, g.wdeg FROM dir d JOIN wdeg g USING (src)),
       |r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS r FROM wdeg),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT node AS word, round(r, 6) AS score
       |FROM r5 ORDER BY score DESC, word LIMIT 20""".stripMargin
  }

  /** DuckDB twin of GraphOps.graphTriangles — the same degree-ordered
    * orientation, canonical wedge generation, and one-equi-join closure as
    * Graft.triangleCensus; all counts integer, clustering on the ratio4
    * grid — nothing floating-point accumulates. */
  private def graphTrianglesOracleSql: String =
    s"""WITH $wordAdjacencyCtes,
       |e AS (SELECT a, b FROM edges,
       |        (SELECT sum(w) AS sw, count(1) AS ne FROM edges) s
       |      WHERE w * ne >= sw),
       |deg AS (SELECT v, count(1) AS deg FROM (
       |          SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
       |        GROUP BY v),
       |o AS (
       |  SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS src,
       |         CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS dst,
       |         CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dd
       |  FROM (SELECT e.a, e.b, x.deg AS da, y.deg AS db
       |        FROM e JOIN deg x ON x.v = e.a JOIN deg y ON y.v = e.b)),
       |wedges AS (
       |  SELECT o1.dst AS lo, o2.dst AS hi
       |  FROM o o1 JOIN o o2 ON o1.src = o2.src
       |  WHERE o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst)),
       |tri AS (SELECT count(1) AS n_triangles
       |        FROM wedges JOIN o ON o.src = wedges.lo AND o.dst = wedges.hi)
       |SELECT n.n_nodes, ne.n_edges, ow.n_wedges, t.n_triangles,
       |  CASE WHEN ow.n_wedges = 0 THEN 0.0 ELSE
       |    CAST((20000 * 3 * t.n_triangles + ow.n_wedges)
       |      // (2 * ow.n_wedges) AS DOUBLE) / 10000.0 END AS clustering4
       |FROM (SELECT count(1) AS n_nodes FROM deg) n,
       |     (SELECT count(1) AS n_edges FROM e) ne,
       |     (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg) ow,
       |     tri t""".stripMargin

  /** DuckDB twin of Dedup.dedupSemantic — the SAME coarse k-means CTEs as
    * knn_ivf/ann_index_stats (k=10, 3 fixed-point Lloyd iterations, first-k
    * init), then within-cluster pairs gated on the UNROUNDED cosine
    * (cross-engine exact: VecDot ≡ list_dot_product, both left-to-right
    * double folds — the dedup_embedding argument), min lower-id partner as
    * dup_of, keep = dup_of IS NULL as INT. */
  private def dedupSemanticOracleSql: String =
    s"""WITH ${coarseKmeansCtesSql(10, 64)},
       |pr AS (
       |  SELECT wb.vec_id, min(wa.vec_id) AS dup_of
       |  FROM assigned wa
       |  JOIN assigned wb ON wa.list_id = wb.list_id AND wa.vec_id < wb.vec_id
       |  JOIN embeddings ea ON ea.vec_id = wa.vec_id
       |  JOIN embeddings eb ON eb.vec_id = wb.vec_id
       |  WHERE $embedCos >= 0.25
       |  GROUP BY 1)
       |SELECT a.vec_id, a.list_id AS c_id, pr.dup_of,
       |  CAST(CASE WHEN pr.dup_of IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep
       |FROM assigned a LEFT JOIN pr USING (vec_id)
       |ORDER BY vec_id""".stripMargin

  private def annIndexStatsOracleSql: String = {
    val dims = 64
    s"""WITH ${coarseKmeansCtesSql(10, dims)},
       |res AS (
       |  SELECT a.list_id,
       |    list_transform(range(1, ${dims + 1}), i -> CAST(CAST(e.embedding[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE) AS FLOAT)) AS r
       |  FROM embeddings e JOIN assigned a USING (vec_id)
       |  JOIN c3 c ON c.c_id = a.list_id),
       |nrm AS (
       |  SELECT list_id, sqrt(list_dot_product(r::DOUBLE[], r::DOUBLE[])) AS rn
       |  FROM res)
       |SELECT list_id, count(1) AS n_vectors,
       |  round(CAST(sum(CAST(floor(rn * 1048576.0) AS BIGINT)) AS DOUBLE)
       |    / CAST(count(1) AS DOUBLE) / 1048576.0, 4) AS avg_res_norm
       |FROM nrm GROUP BY list_id ORDER BY list_id""".stripMargin
  }

  /** DuckDB twin of Similarity.annProbeSweep — the nprobe tuning curve:
    * the SAME coarse k-means lists as ann_index_stats, probe ranks per
    * query, one widest-setting candidate materialization filtered per
    * nprobe cutoff, exact-L2 top-5 per (nprobe, q), recall vs the global
    * exact reference. n_hits/50 is one IEEE divide of small integers. */
  private def annProbeSweepOracleSql: String = {
    val l2 = (a: String, b: String) =>
      s"""(list_dot_product($a::DOUBLE[], $a::DOUBLE[])
         |     - 2 * list_dot_product($a::DOUBLE[], $b::DOUBLE[])
         |     + list_dot_product($b::DOUBLE[], $b::DOUBLE[]))""".stripMargin
    s"""WITH ${coarseKmeansCtesSql(10, 64)},
       |pr AS (
       |  SELECT q_id, list_id, probe_rank FROM (
       |    SELECT e.vec_id AS q_id, c.c_id AS list_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${coarseKmeansDistSql("c")} ASC, c.c_id ASC) AS probe_rank
       |    FROM embeddings e CROSS JOIN c3 c
       |    WHERE e.vec_id < 10)
       |  WHERE probe_rank <= 3),
       |cand AS (
       |  SELECT pr.q_id, a.vec_id AS c_id, pr.probe_rank,
       |    ${l2("q.embedding", "e.embedding")} AS d
       |  FROM pr
       |  JOIN assigned a ON a.list_id = pr.list_id
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN embeddings q ON q.vec_id = pr.q_id
       |  WHERE a.vec_id <> pr.q_id),
       |sweep AS (
       |  SELECT n.nprobe, c.q_id, c.c_id, c.d
       |  FROM cand c CROSS JOIN (SELECT unnest([1, 2, 3]) AS nprobe) n
       |  WHERE c.probe_rank <= n.nprobe),
       |top5 AS (
       |  SELECT nprobe, q_id, c_id FROM (
       |    SELECT nprobe, q_id, c_id,
       |      row_number() OVER (PARTITION BY nprobe, q_id
       |        ORDER BY d ASC, c_id ASC) AS rn
       |    FROM sweep)
       |  WHERE rn <= 5),
       |el AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${l2("q.embedding", "e.embedding")} ASC, e.vec_id ASC) AS rn
       |    FROM embeddings q CROSS JOIN embeddings e
       |    WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id)
       |  WHERE rn <= 5),
       |h AS (
       |  SELECT t.nprobe, count(1) AS n_hits
       |  FROM top5 t JOIN el USING (q_id, c_id) GROUP BY t.nprobe),
       |nc AS (
       |  SELECT nprobe, count(1) AS n_candidates FROM sweep GROUP BY nprobe)
       |SELECT CAST(nc.nprobe AS INTEGER) AS nprobe, n_candidates,
       |  coalesce(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
       |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 50.0 AS recall
       |FROM nc LEFT JOIN h USING (nprobe)
       |ORDER BY nprobe""".stripMargin
  }

  /** DuckDB twin of Graft.scd2History over the events feed: identical
    * two-window shape — consecutive-duplicate compression by lag, validity
    * interval by lead over the survivors, (ts, event_id) tie-broken. */
  private def scd2HistoryOracleSql: String =
    """WITH f AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS rn
      |  FROM events),
      |c AS (
      |  SELECT user_id, event_type, ts AS valid_from,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      |  FROM f WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
      |SELECT user_id, event_type, valid_from, valid_to,
      |  valid_to IS NULL AS is_current
      |FROM c ORDER BY user_id, valid_from""".stripMargin

  /** DuckDB twin of Graft.bpeMerges — the 10 training rounds unrolled as
    * CTE triples (p/b/s = pair counts, argmax, merged symbolization). The
    * merge application is the SAME literal `replace` over the chr(31)-
    * wrapped symbol string in both engines (left-to-right non-overlapping
    * scan ≡ BPE's greedy merge), and counts are integers, so the whole loop
    * is cross-engine exact. The evolving symbolization CTEs are
    * MATERIALIZED: each is referenced twice (next round's counts + next
    * round's merge), and inlining doubles the expression tree per round —
    * measured 17 s → 0.5 s at sf0.01. */
  private def bpeMergesOracleSql: String = {
    val rounds = 10
    val union = (1 to rounds).map(i =>
      s"SELECT $i AS merge_rank, a AS left_sym, b AS right_sym, a || b AS merged, c AS n_occurrences FROM b$i")
      .mkString("\n  UNION ALL ")
    s"""${bpeCtesSql(rounds)}
       |SELECT * FROM (
       |  $union) u ORDER BY merge_rank""".stripMargin
  }

  /** DuckDB twin of Graft.bpeEncode: the same unrolled training CTEs, final
    * SELECT = the finished symbolization's token histogram (top-20 by
    * occurrence count desc, token asc — integer counts). */
  private def bpeEncodeOracleSql: String = {
    val rounds = 10
    s"""${bpeCtesSql(rounds)}
       |SELECT token, CAST(sum(n) AS BIGINT) AS n_occurrences,
       |  count(1) AS n_word_types
       |FROM (SELECT unnest(string_split(trim(ws, chr(31)), chr(31) || chr(31))) AS token, n
       |      FROM s$rounds) t
       |GROUP BY token
       |ORDER BY n_occurrences DESC, token ASC LIMIT 20""".stripMargin
  }

  /** The shared WITH-body: word histogram, chr(31)-wrapped symbolization,
    * and `rounds` unrolled count/argmax/merge triples (see
    * bpeMergesOracleSql's header comment for the exactness argument). */
  private def bpeCtesSql(rounds: Int): String =
    "WITH " + bpeCtesListSql(rounds, "", "SELECT text FROM documents")

  /** The same unrolled-training CTE list, parameterized for r14's
    * tokenizer_drift: `p` prefixes every CTE name (two trainings coexist
    * in one WITH) and `docsSql` supplies the (possibly generation-
    * filtered/rewritten) corpus. No leading WITH — callers compose. */
  private def bpeCtesListSql(rounds: Int, p: String, docsSql: String): String = {
    def pairs(i: Int): String =
      s"""${p}p$i AS (
         |  SELECT ss[u.i] AS a, ss[u.i + 1] AS b, t.n AS n
         |  FROM (SELECT string_split(trim(ws, chr(31)), chr(31) || chr(31)) AS ss, n
         |        FROM ${p}s${i - 1}) t,
         |       UNNEST(range(1, len(ss))) AS u(i)
         |  WHERE len(ss) >= 2),
         |${p}b$i AS (
         |  SELECT a, b, CAST(sum(n) AS BIGINT) AS c FROM ${p}p$i GROUP BY a, b
         |  ORDER BY c DESC, a ASC, b ASC LIMIT 1),
         |${p}s$i AS MATERIALIZED (
         |  SELECT replace(ws, chr(31) || bb.a || chr(31) || chr(31) || bb.b || chr(31),
         |                 chr(31) || bb.a || bb.b || chr(31)) AS ws, n
         |  FROM ${p}s${i - 1}, ${p}b$i bb)""".stripMargin
    s"""${p}w AS (
       |  SELECT word, count(1) AS n FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM ($docsSql)) t
       |  WHERE length(word) > 0 GROUP BY word),
       |${p}s0 AS MATERIALIZED (
       |  SELECT regexp_replace(word, '(.)', chr(31) || '\\1' || chr(31), 'g') AS ws, n
       |  FROM ${p}w),
       |${(1 to rounds).map(pairs).mkString(",\n")}""".stripMargin
  }

  /** DuckDB twin of Graft.tokenizerDrift: two unrolled 10-merge trainings
    * over the quality_drift generations (prefixed CTE chains), per-rank
    * merge diff, set overlap + ratio4 Jaccard as constants. */
  private def tokenizerDriftOracleSql: String = {
    val rounds = 10
    def union(p: String) = (1 to rounds).map(i =>
      s"SELECT $i AS merge_rank, a || b AS merged, c FROM ${p}b$i")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeCtesListSql(rounds, "g0_",
         "SELECT text FROM documents WHERE doc_id % 13 <> 5")},
       |${bpeCtesListSql(rounds, "g1_",
         "SELECT CASE WHEN doc_id % 13 = 2 THEN upper(text) ELSE text END AS text FROM documents WHERE doc_id % 13 <> 7")},
       |u0 AS (${union("g0_")}),
       |u1 AS (${union("g1_")}),
       |cm AS (
       |  SELECT CAST(count(1) AS BIGINT) AS n_common
       |  FROM (SELECT merged FROM u0) x JOIN (SELECT merged FROM u1) y USING (merged))
       |SELECT u0.merge_rank, u0.merged AS merged_v0, u0.c AS n_occ_v0,
       |  u1.merged AS merged_v1, u1.c AS n_occ_v1,
       |  u0.merged = u1.merged AS rank_agree, n_common,
       |  CAST((20000 * n_common + (${2 * rounds} - n_common))
       |    // (2 * (${2 * rounds} - n_common)) AS DOUBLE) / 10000.0 AS jaccard4
       |FROM u0 JOIN u1 USING (merge_rank) CROSS JOIN cm
       |ORDER BY merge_rank""".stripMargin
  }

  /** DuckDB twin of Graft.bpePairCounts: the word-type histogram, the same
    * adjacent-pair explode (DuckDB range(1, len) ≡ Spark sequence(1, len-1):
    * i = 1..len-1, 2-char substrings), integer counts. sum(BIGINT) returns
    * HUGEINT in DuckDB → cast back to BIGINT (house rule). */
  private def bpePairCountsOracleSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      |w AS (
      |  SELECT word, count(1) AS n FROM toks WHERE length(word) > 0 GROUP BY word),
      |pr AS (
      |  SELECT n, unnest(list_transform(range(1, length(word)),
      |    i -> word[i:i+1])) AS pair
      |  FROM w WHERE length(word) >= 2),
      |agg AS (
      |  SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences,
      |    count(1) AS n_word_types
      |  FROM pr GROUP BY pair)
      |SELECT pair, n_occurrences, n_word_types FROM agg
      |ORDER BY n_occurrences DESC, pair ASC LIMIT 20""".stripMargin

  /** DuckDB twin of Formats.zorderLayout (Graft.zorderKey, bits=16):
    * identical min/max grid normalization (exact IEEE arithmetic), the same
    * 16-level Morton bit interleave, identical top-4-bit bucketing. */
  private def zorderLayoutOracleSql: String = {
    val bits = 16
    val scale = (1L << bits) - 1
    val interleave = (0 until bits).map(b =>
      s"(((na >> $b) & 1) << ${2 * b + 1}) + (((nb >> $b) & 1) << ${2 * b})")
      .mkString("\n      + ")
    s"""WITH b AS (
       |  SELECT min(CAST(user_id AS DOUBLE)) AS amin, max(CAST(user_id AS DOUBLE)) AS amax,
       |         min(value) AS bmin, max(value) AS bmax
       |  FROM events),
       |n AS (
       |  SELECT user_id, value,
       |    CAST(floor(CASE WHEN amax = amin THEN 0.0
       |      ELSE (CAST(user_id AS DOUBLE) - amin) / (amax - amin) * $scale.0 END) AS BIGINT) AS na,
       |    CAST(floor(CASE WHEN bmax = bmin THEN 0.0
       |      ELSE (value - bmin) / (bmax - bmin) * $scale.0 END) AS BIGINT) AS nb
       |  FROM events, b),
       |z AS (
       |  SELECT user_id, value,
       |      $interleave AS zkey
       |  FROM n)
       |SELECT CAST(zkey >> 28 AS INTEGER) AS bucket, count(1) AS n,
       |  min(user_id) AS min_u, max(user_id) AS max_u,
       |  round(min(value), 2) AS min_v, round(max(value), 2) AS max_v
       |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** Mirrors Formats.zorderPruneReadback: the same zkey model as
    * zorderLayoutOracleSql, the same corner-box predicate, and the
    * bucket-touch counts for the z-order vs hash_mod16 layouts. The write +
    * readback on the Spark side is a parquet identity, so the oracle models
    * it directly on the base table. */
  private def zorderPruneReadbackOracleSql: String = {
    val bits = 16
    val scale = (1L << bits) - 1
    val interleave = (0 until bits).map(b =>
      s"(((na >> $b) & 1) << ${2 * b + 1}) + (((nb >> $b) & 1) << ${2 * b})")
      .mkString("\n      + ")
    s"""WITH b AS (
       |  SELECT min(CAST(user_id AS DOUBLE)) AS amin, max(CAST(user_id AS DOUBLE)) AS amax,
       |         min(value) AS bmin, max(value) AS bmax
       |  FROM events),
       |n AS (
       |  SELECT user_id, value,
       |    CAST(floor(CASE WHEN amax = amin THEN 0.0
       |      ELSE (CAST(user_id AS DOUBLE) - amin) / (amax - amin) * $scale.0 END) AS BIGINT) AS na,
       |    CAST(floor(CASE WHEN bmax = bmin THEN 0.0
       |      ELSE (value - bmin) / (bmax - bmin) * $scale.0 END) AS BIGINT) AS nb
       |  FROM events, b),
       |z AS (
       |  SELECT user_id, value,
       |      $interleave AS zkey
       |  FROM n),
       |m AS (
       |  SELECT user_id, CAST(zkey >> 28 AS INTEGER) AS zbucket
       |  FROM z WHERE user_id <= 30 AND value <= 100.0)
       |SELECT 'hash_mod16' AS layout, count(1) AS n_rows_matched,
       |       count(DISTINCT user_id % 16) AS n_buckets_touched FROM m
       |UNION ALL
       |SELECT 'zorder' AS layout, count(1) AS n_rows_matched,
       |       count(DISTINCT zbucket) AS n_buckets_touched FROM m
       |ORDER BY layout""".stripMargin
  }

  /** Rewrite every CTE header (`name AS (`) to `name AS MATERIALIZED (`.
    *
    * The driver's gate runs each oracle in DuckDB 1.0, which INLINES a CTE
    * at every reference site — a chained model unroll (k-means assign →
    * means → next-iteration centroids, PQ subspace loops) re-evaluates its
    * whole upstream chain per reference, exponentially. Measured at sf0.01:
    * `knn_ivfpq` alone ground >10 min inlined vs 1.4 s materialized; the
    * full 213-oracle gate drops from ~25 min to ~13 s. Pure evaluation
    * hint — result sets are identical.
    *
    * Structural, not line-anchored: the rewriter walks the WITH list itself —
    * after `WITH [RECURSIVE]` it expects `name AS (`, inserts MATERIALIZED,
    * skips the parenthesis-balanced body (quote-aware, so a `)` inside a
    * string literal doesn't close it), and continues only across the `,`
    * that separates CTE definitions. Consequences the old regex got wrong:
    * a second name in a multi-window clause (`WINDOW w1 AS (...), w2 AS
    * (...)`) is never touched (it's outside any WITH list), and a CTE header
    * that doesn't start a line (`), cand AS (`) IS rewritten. Nested WITHs
    * inside a CTE body are handled by the same scan (the walk continues
    * through body text). Idempotent: `AS MATERIALIZED (` already in place is
    * left alone. */
  private[graft] def materializeCtes(sql: String): String = {
    val n = sql.length
    def isWord(c: Char) = c.isLetterOrDigit || c == '_'
    /** If i sits at the start of a string literal or a comment, returns the
      * index just past it; otherwise -1. Keeps the two scan loops below in
      * sync on everything that can hide quotes/parens: '...' strings, "..."
      * identifiers, -- line comments (an apostrophe in a comment must not
      * open a string), and block comments. */
    def skipOpaque(i: Int): Int = sql(i) match {
      case '\'' =>
        var j = i + 1; while (j < n && sql(j) != '\'') j += 1
        math.min(j + 1, n)
      case '"' =>
        var j = i + 1; while (j < n && sql(j) != '"') j += 1
        math.min(j + 1, n)
      case '-' if i + 1 < n && sql(i + 1) == '-' =>
        var j = i + 2; while (j < n && sql(j) != '\n') j += 1
        j
      case '/' if i + 1 < n && sql(i + 1) == '*' =>
        var j = i + 2
        while (j + 1 < n && !(sql(j) == '*' && sql(j + 1) == '/')) j += 1
        math.min(j + 2, n)
      case _ => -1
    }
    /** Skips whitespace AND comments — a `--` or block comment between WITH
      * list elements must not stop the CTE walk. */
    def skipWs(from: Int): Int = {
      var i = from; var moved = true
      while (moved && i < n) {
        moved = false
        while (i < n && sql(i).isWhitespace) { i += 1; moved = true }
        if (i < n && (sql(i) == '-' || sql(i) == '/')) {
          val o = skipOpaque(i)
          if (o >= 0) { i = o; moved = true }
        }
      }
      i
    }
    /** i points AT an opening '('; returns index just past its match
      * (never past n, even on malformed/unterminated input). */
    def skipBalanced(from: Int): Int = {
      var i = from; var depth = 0
      while (i < n) {
        val opaque = skipOpaque(i)
        if (opaque >= 0) i = opaque
        else {
          sql(i) match {
            case '('  => depth += 1
            case ')'  => depth -= 1; if (depth == 0) return i + 1
            case _    =>
          }
          i += 1
        }
      }
      n
    }
    def wordAt(i: Int, w: String): Boolean =
      sql.regionMatches(true, i, w, 0, w.length) &&
        (i == 0 || !isWord(sql(i - 1))) &&
        (i + w.length >= n || !isWord(sql(i + w.length)))
    // java.lang.StringBuilder: its (CharSequence, start, end) append overload
    // is what the range appends below rely on (Scala's StringBuilder would
    // swallow the three args as one tuple via append(Any))
    val sb = new java.lang.StringBuilder
    var i = 0
    var last = 0 // everything before `last` is already appended
    while (i < n) {
      val opaque = skipOpaque(i)
      if (opaque >= 0) i = opaque
      else sql(i) match {
        case _ if wordAt(i, "WITH") =>
          var p = skipWs(i + 4)
          if (wordAt(p, "RECURSIVE")) p = skipWs(p + 9)
          // walk the CTE list: name AS ( body ) [, name AS ( body )]*
          var inList = true
          while (inList) {
            val nameStart = p
            while (p < n && isWord(sql(p))) p += 1
            val name = sql.substring(nameStart, p)
            // optional column list: `name(col, ...) AS (` — DuckDB accepts
            // MATERIALIZED after the list, so skip it and continue to AS
            var afterName = skipWs(p)
            if (name.nonEmpty && afterName < n && sql(afterName) == '(')
              afterName = skipWs(skipBalanced(afterName))
            if (name.nonEmpty && wordAt(afterName, "AS")) {
              val afterAs = skipWs(afterName + 2)
              if (afterAs < n && sql(afterAs) == '(') {
                val bodyEnd = skipBalanced(afterAs) // just past the ')'
                sb.append(sql, last, afterAs).append("MATERIALIZED (")
                  .append(materializeCtes(sql.substring(afterAs + 1, bodyEnd - 1)))
                  .append(')')
                last = bodyEnd
                p = bodyEnd
              } else if (wordAt(afterAs, "MATERIALIZED")) {
                val afterMat = skipWs(afterAs + 12)
                p = if (afterMat < n && sql(afterMat) == '(') skipBalanced(afterMat)
                    else afterMat
              } else inList = false
            } else inList = false
            if (inList) {
              val afterBody = skipWs(p)
              if (afterBody < n && sql(afterBody) == ',') p = skipWs(afterBody + 1)
              else inList = false
            }
          }
          i = math.max(p, i + 4)
        case _ => i += 1
      }
    }
    sb.append(sql, last, n)
    sb.toString
  }

  def oracleSql: Map[String, String] =
    oracleSqlRaw.map { case (k, v) => k -> materializeCtes(v) }

  private[graft] def oracleSqlRaw: Map[String, String] = Map(
    "word_count" ->
      """SELECT word, count(1) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE length(word) > 0
        |GROUP BY word ORDER BY cnt DESC, word ASC""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |                 * CAST((1 - l_discount) * (1 + l_tax) AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(1), 4) AS avg_price,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(1), 4) AS avg_disc,
        |  count(1) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin,

    "join_left" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "join_full_outer" ->
      """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey, n_customers, n_suppliers
        |FROM (SELECT c_nationkey AS nationkey, count(1) AS n_customers FROM customer GROUP BY 1) c
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS nationkey, count(1) AS n_suppliers FROM supplier GROUP BY 1) s
        |USING (nationkey)
        |ORDER BY nationkey NULLS FIRST""".stripMargin,

    "join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "join_anti" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,

    "join_cross" ->
      """SELECT r_regionkey, r_name, n_nationkey, n_name
        |FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin,

    "join_range" ->
      """SELECT s_suppkey, s_name, count(1) AS n_richer_customers,
        |  round(avg(c_acctbal - s_acctbal), 4) AS avg_gap
        |FROM customer JOIN supplier
        |  ON c_nationkey = s_nationkey AND c_acctbal > s_acctbal
        |GROUP BY s_suppkey, s_name
        |ORDER BY s_suppkey""".stripMargin,

    "agg_stats" ->
      """SELECT o_orderstatus, count(1) AS n_orders,
        |  count(DISTINCT o_custkey) AS n_customers,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / count(1), 4) AS avg_price,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Bounded-error check: the HLL estimate itself has no DuckDB twin, so
    // the Spark side folds it into a boolean (20·|est−exact| ≤ exact) and
    // the oracle asserts the exact side plus TRUE — see
    // Relational.approxDistinct.
    "approx_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  count(1) AS n, TRUE AS within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "centroid_classify" -> centroidClassifyOracleSql,
    "quality_drift" -> qualityDriftOracleSql,

    // same injection as pii_scrub; per-(source, rule) rollup
    "pii_report" ->
      """WITH d AS (
        |  SELECT source,
        |    text || ' user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.com or call 555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || CASE WHEN doc_id % 2 = 0 THEN ' alt 555-0199' ELSE '' END AS body
        |  FROM documents),
        |e AS (SELECT source,
        |        CAST(len(regexp_extract_all(body, '[a-z0-9._]+@[a-z0-9.-]+')) AS BIGINT) AS m
        |      FROM d),
        |p AS (SELECT source,
        |        CAST(len(regexp_extract_all(body, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS m
        |      FROM d),
        |r AS (
        |  SELECT source, 'email' AS rule,
        |    CAST(count_if(m > 0) AS BIGINT) AS n_docs_hit,
        |    CAST(sum(m) AS BIGINT) AS n_matches,
        |    CAST((20000 * count_if(m > 0) + count(1)) // (2 * count(1)) AS DOUBLE) / 10000.0 AS hit_rate
        |  FROM e GROUP BY source
        |  UNION ALL
        |  SELECT source, 'phone',
        |    CAST(count_if(m > 0) AS BIGINT),
        |    CAST(sum(m) AS BIGINT),
        |    CAST((20000 * count_if(m > 0) + count(1)) // (2 * count(1)) AS DOUBLE) / 10000.0
        |  FROM p GROUP BY source)
        |SELECT * FROM r ORDER BY source, rule""".stripMargin,

    // row-local histogram entropy on the 2^20 ln grid; the flag compares
    // the ROUNDED entropy, both engines
    "token_entropy" ->
      """WITH ts AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
        |  FROM documents),
        |b AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n FROM ts WHERE len(ts) > 0),
        |h AS (
        |  SELECT doc_id, n,
        |    CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
        |    CAST(list_aggregate(list_transform(list_distinct(ts),
        |      t -> len(list_filter(ts, x -> x = t)) *
        |           CAST(floor(ln(CAST(n AS DOUBLE)
        |             / CAST(len(list_filter(ts, x -> x = t)) AS DOUBLE))
        |             * 1048576.0) AS BIGINT)), 'sum') AS BIGINT) AS hq
        |  FROM b),
        |z AS (
        |  SELECT doc_id, n AS n_tokens, n_distinct,
        |    round(CAST(hq AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0, 6) AS entropy
        |  FROM h)
        |SELECT doc_id, n_tokens, n_distinct, entropy, entropy < 2.0 AS low_entropy
        |FROM z ORDER BY doc_id""".stripMargin,

    // round-14 corpus-health oracles
    // character classes counted with the same length-difference trick as
    // the Spark side — no per-char explode either engine
    "script_mix" ->
      """WITH c AS (
        |  SELECT source,
        |    CAST(length(text) AS BIGINT) AS cl,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS lets,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digs,
        |    CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS sps
        |  FROM documents)
        |SELECT source, count(1) AS n_docs,
        |  CAST(sum(cl) AS BIGINT) AS n_chars,
        |  CAST(sum(lets) AS BIGINT) AS n_letters,
        |  CAST(sum(digs) AS BIGINT) AS n_digits,
        |  CAST(sum(sps) AS BIGINT) AS n_spaces,
        |  CAST(sum(cl) - sum(lets) - sum(digs) - sum(sps) AS BIGINT) AS n_other,
        |  CASE WHEN sum(cl) > 0 THEN CAST((20000 * sum(lets) + sum(cl)) // (2 * sum(cl)) AS DOUBLE) / 10000.0 ELSE 0.0 END AS letter_share4,
        |  CASE WHEN sum(cl) > 0 THEN CAST((20000 * sum(digs) + sum(cl)) // (2 * sum(cl)) AS DOUBLE) / 10000.0 ELSE 0.0 END AS digit_share4,
        |  CASE WHEN sum(cl) > 0 THEN CAST((20000 * (sum(cl) - sum(lets) - sum(digs) - sum(sps)) + sum(cl)) // (2 * sum(cl)) AS DOUBLE) / 10000.0 ELSE 0.0 END AS other_share4
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // per-doc flesch from exact integer (w, s, v) — bit-identical doubles —
    // then the quantized-integer mean (the mean_quality pattern)
    "readability" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS w,
        |    greatest(1, CAST(length(text) - length(regexp_replace(text, '[.!?]', '', 'g')) AS BIGINT)) AS s,
        |    CAST(length(regexp_replace(lower(text), '[aeiou]+', '#', 'g'))
        |      - length(regexp_replace(lower(text), '[aeiou]+', '', 'g')) AS BIGINT) AS v
        |  FROM documents),
        |f AS (
        |  SELECT source, w, s, v,
        |    206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |      - 84.6 * (CAST(v AS DOUBLE) / CAST(w AS DOUBLE)) AS fl
        |  FROM t WHERE w > 0)
        |SELECT source, count(1) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS n_words,
        |  CAST(sum(s) AS BIGINT) AS n_sentences,
        |  CAST(sum(v) AS BIGINT) AS n_vowel_groups,
        |  round(CAST(sum(CAST(floor(fl * 1048576.0) AS BIGINT)) AS DOUBLE)
        |    / CAST(count(1) AS DOUBLE) / 1048576.0, 4) AS mean_flesch
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    // exact type-7 medians both engines (quantile_cont ≡ Spark percentile);
    // integer lengths → half-grid medians → exact MAD compare
    "length_outliers" ->
      """WITH l AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents),
        |m AS (SELECT source, quantile_cont(n, 0.5) AS med FROM l GROUP BY source),
        |a AS (SELECT l.source, abs(CAST(n AS DOUBLE) - med) AS ad, med
        |      FROM l JOIN m USING (source)),
        |d AS (SELECT source, med, quantile_cont(ad, 0.5) AS mad
        |      FROM a GROUP BY source, med)
        |SELECT d.source, count(1) AS n_docs, d.med, d.mad,
        |  CAST(count_if(ad > 3.0 * mad) AS BIGINT) AS n_outliers,
        |  CAST((20000 * count_if(ad > 3.0 * mad) + count(1)) // (2 * count(1)) AS DOUBLE) / 10000.0 AS outlier_share4
        |FROM a JOIN d USING (source)
        |GROUP BY d.source, d.med, d.mad ORDER BY d.source""".stripMargin,

    "diversity_distinct_n" ->
      """WITH t AS (
        |  SELECT source, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
        |  FROM documents),
        |u AS (
        |  SELECT source, 1 AS n, unnest(ts) AS g FROM t
        |  UNION ALL
        |  SELECT source, 2 AS n,
        |    unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS g
        |  FROM t
        |  UNION ALL
        |  SELECT source, 3 AS n,
        |    unnest(list_transform(range(1, len(ts) - 1),
        |      i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS g
        |  FROM t)
        |SELECT source, n, CAST(count(1) AS BIGINT) AS n_total,
        |  CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
        |  CAST((20000 * count(DISTINCT g) + count(1)) // (2 * count(1)) AS DOUBLE) / 10000.0 AS distinct_share4
        |FROM u GROUP BY source, n ORDER BY source, n""".stripMargin,

    // predictor = the quality_score formula (verbatim), gold = the
    // quality_gopher passes rule (verbatim, incl. its n_words >= 1 domain);
    // conf/acc/gap in exact 1e-4 integer units, ECE via the same chain
    "quality_ece" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.5
        |    + (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |        / CAST(length(text) AS DOUBLE)) * 0.3
        |    + least(CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |        / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10.0, 1.0) * 0.2 AS qv
        |  FROM documents),
        |gt AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
        |  FROM documents),
        |gm AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(ts, x -> len(x))) AS BIGINT) AS sumlen,
        |    CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha,
        |    CAST(len(list_filter(['the','a','of','and','is'], s -> list_contains(ts, s))) AS BIGINT) AS n_stopwords
        |  FROM gt WHERE len(ts) >= 1),
        |g AS (
        |  SELECT doc_id,
        |    (n_words BETWEEN 20 AND 100000) AND (3 * n_words <= sumlen)
        |      AND (sumlen <= 10 * n_words) AND (5 * alpha >= 4 * n_words)
        |      AND (n_stopwords >= 2) AS passes
        |  FROM gm),
        |b AS (
        |  SELECT least(CAST(floor(qv * 10) AS BIGINT), 9) AS bin, qv, passes
        |  FROM q JOIN g USING (doc_id)),
        |p AS (
        |  SELECT bin, CAST(count(1) AS BIGINT) AS n_docs,
        |    CAST(sum(CAST(floor(qv * 10000.0) AS BIGINT)) AS BIGINT) AS qs,
        |    CAST(count_if(passes) AS BIGINT) AS np
        |  FROM b GROUP BY bin),
        |c AS (
        |  SELECT bin, n_docs,
        |    (2 * qs + n_docs) // (2 * n_docs) AS conf_i,
        |    (20000 * np + n_docs) // (2 * n_docs) AS acc_i
        |  FROM p),
        |e AS (
        |  SELECT CAST((2 * sum(n_docs * abs(conf_i - acc_i)) + sum(n_docs))
        |    // (2 * sum(n_docs)) AS DOUBLE) / 10000.0 AS ece4 FROM c)
        |SELECT bin, n_docs,
        |  CAST(conf_i AS DOUBLE) / 10000.0 AS conf4,
        |  CAST(acc_i AS DOUBLE) / 10000.0 AS acc4,
        |  CAST(abs(conf_i - acc_i) AS DOUBLE) / 10000.0 AS gap4,
        |  ece4
        |FROM c CROSS JOIN e ORDER BY bin""".stripMargin,

    // the quality_drift generations; fingerprint = wrapping 64-bit
    // polynomial (base 31) over per-token md5h60 hashes — the Spark side's
    // native ngram_fps ∘ md5h60_array, emulated here with the HUGEINT
    // mod-2^64 fold + signed remap (the rolling_hash convention); DISTINCT
    // per side before the anti-join (vocabulary-sized, like the Spark plan)
    "ngram_drift" ->
      s"""WITH d0 AS (
        |  SELECT text FROM documents WHERE doc_id % 13 <> 5),
        |d1 AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 13 = 2 THEN upper(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 7),
        |f0 AS (
        |  SELECT DISTINCT CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
        |      THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS fp
        |  FROM (
        |    SELECT list_reduce(
        |      [0::HUGEINT] || list_transform(hs[i : i + 7], x -> x::HUGEINT),
        |      (h, x) -> (h * 31 + x) % 18446744073709551616::HUGEINT) AS u
        |    FROM (
        |      SELECT hs, unnest(range(1, len(hs) - 6)) AS i FROM (
        |        SELECT list_transform(list_filter(string_split(text, ' '),
        |          x -> len(x) > 0), t -> ${md5h60("t")}) AS hs
        |        FROM d0)
        |      WHERE len(hs) >= 8))),
        |f1 AS (
        |  SELECT DISTINCT source, CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
        |      THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS fp
        |  FROM (
        |    SELECT source, list_reduce(
        |      [0::HUGEINT] || list_transform(hs[i : i + 7], x -> x::HUGEINT),
        |      (h, x) -> (h * 31 + x) % 18446744073709551616::HUGEINT) AS u
        |    FROM (
        |      SELECT source, hs, unnest(range(1, len(hs) - 6)) AS i FROM (
        |        SELECT source, list_transform(list_filter(string_split(text, ' '),
        |          x -> len(x) > 0), t -> ${md5h60("t")}) AS hs
        |        FROM d1)
        |      WHERE len(hs) >= 8))),
        |nv AS (
        |  SELECT source, CAST(count(1) AS BIGINT) AS n_novel FROM f1
        |  WHERE NOT EXISTS (SELECT 1 FROM f0 WHERE f0.fp = f1.fp)
        |  GROUP BY source),
        |tot AS (
        |  SELECT source, CAST(count(1) AS BIGINT) AS n_distinct FROM f1 GROUP BY source)
        |SELECT tot.source, n_distinct,
        |  CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
        |  CAST((20000 * coalesce(n_novel, 0) + n_distinct) // (2 * n_distinct) AS DOUBLE) / 10000.0 AS novelty_share4
        |FROM tot LEFT JOIN nv USING (source) ORDER BY tot.source""".stripMargin,

    // powers of ten through 1e22 are exact doubles; IEEE sqrt is correctly
    // rounded, and no budget's sqrt lands near an integer, so the floors
    // agree across engines with margin
    "chinchilla_plan" ->
      """WITH grid AS (SELECT unnest([18, 19, 20, 21, 22]) AS budget_exp),
        |sup AS (
        |  SELECT CAST(sum(len(list_filter(string_split(text, ' '), x -> len(x) > 0))) AS BIGINT) AS corpus_tokens
        |  FROM documents),
        |p AS (
        |  SELECT budget_exp,
        |    CAST(floor(sqrt(power(10.0, budget_exp) / 120.0)) AS BIGINT) AS n_params,
        |    corpus_tokens
        |  FROM grid CROSS JOIN sup)
        |SELECT budget_exp, n_params,
        |  CAST(20 * n_params AS BIGINT) AS n_tokens, corpus_tokens,
        |  CAST((20000 * (20 * n_params) + corpus_tokens) // (2 * corpus_tokens) AS DOUBLE) / 10000.0 AS epochs_needed4,
        |  (20 * n_params) > 4 * corpus_tokens AS data_constrained
        |FROM p ORDER BY budget_exp""".stripMargin,

    "seed_select" -> seedSelectOracleSql,

    "tokenizer_drift" -> tokenizerDriftOracleSql,

    // FIXED-SIZE eval side (vec_id % 17 = 5 within the first 4096 ids —
    // benchmarks don't grow with the crawl) broadcast against the train
    // scan; cosine via the ::DOUBLE[] dot convention; flags per vector
    "decontaminate_embedding" ->
      """WITH ev AS (
        |  SELECT embedding FROM embeddings WHERE vec_id % 17 = 5 AND vec_id < 4096),
        |tr AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 17 <> 5),
        |sc AS (
        |  SELECT t.vec_id,
        |    list_dot_product(t.embedding::DOUBLE[], e.embedding::DOUBLE[])
        |      / (sqrt(list_dot_product(t.embedding::DOUBLE[], t.embedding::DOUBLE[]))
        |         * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cos
        |  FROM tr t CROSS JOIN ev e)
        |SELECT vec_id, CAST(count(1) AS BIGINT) AS n_eval_hits,
        |  round(max(cos), 4) AS max_cos4
        |FROM sc WHERE cos >= 0.25 GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // the quality_score formula + nonempty token count, (decile, 64-token
    // bucket) cells, broadcast total for the ratio4 share
    "quality_length_joint" ->
      """WITH q AS (
        |  SELECT
        |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.5
        |    + (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |        / CAST(length(text) AS DOUBLE)) * 0.3
        |    + least(CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |        / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10.0, 1.0) * 0.2 AS qv,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS nt
        |  FROM documents),
        |c AS (
        |  SELECT least(CAST(floor(qv * 10) AS BIGINT), 9) AS q_bin,
        |    (nt // 64) * 64 AS len_bucket
        |  FROM q),
        |g AS (
        |  SELECT q_bin, len_bucket, CAST(count(1) AS BIGINT) AS n_docs
        |  FROM c GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tt FROM g)
        |SELECT q_bin, len_bucket, n_docs,
        |  CAST((20000 * n_docs + tt) // (2 * tt) AS DOUBLE) / 10000.0 AS share4
        |FROM g CROSS JOIN t ORDER BY q_bin, len_bucket""".stripMargin,

    // broadcast-lexicon screen: the [NULL] unnest mirrors explode_outer
    // (an empty doc keeps its row with zero hits); per-doc ratio4 units,
    // flag at tauBp=2000. Shared verbatim by stream_lexicon_gate, whose
    // final drained state rolls up through the same Graft.lexiconRollup.
    "lexicon_screen" -> lexiconScreenOracleSql,
    "stream_lexicon_gate" -> lexiconScreenOracleSql,

    // 32 deterministic half-sample replicates (md5(id:rep) even), 2^-17
    // quantized replicate means, integer cross-replicate moments, ±1.96σ
    "bootstrap_ci" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS w
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, w, unnest(range(0, 32)) AS r FROM w),
        |f AS (
        |  SELECT * FROM r
        |  WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 15))::BIGINT % 2 = 0),
        |m AS (
        |  SELECT source, r,
        |    CAST(floor(CAST(sum(w) AS DOUBLE) / CAST(count(1) AS DOUBLE) * 131072.0) AS BIGINT) AS mq
        |  FROM f GROUP BY source, r),
        |b AS (SELECT source, count(1) AS n_docs FROM w GROUP BY source),
        |g AS (
        |  SELECT source, CAST(count(1) AS BIGINT) AS n_reps,
        |    CAST(sum(mq) AS BIGINT) AS s1, CAST(sum(mq * mq) AS BIGINT) AS s2
        |  FROM m GROUP BY source),
        |z AS (
        |  SELECT g.source, b.n_docs, g.n_reps,
        |    round(CAST(s1 AS DOUBLE) / (CAST(n_reps AS DOUBLE) * 131072.0), 6) AS mean6,
        |    round(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_reps AS DOUBLE)) / (CAST(n_reps AS DOUBLE) - 1.0)) / 131072.0, 6) AS sd6
        |  FROM g JOIN b USING (source))
        |SELECT source, n_docs, n_reps, mean6, sd6,
        |  round(mean6 - 1.96 * sd6, 6) AS lo6,
        |  round(mean6 + 1.96 * sd6, 6) AS hi6
        |FROM z ORDER BY source""".stripMargin,

    // ONE groupBy on the QI tuple; 5-bucket class-size histogram
    "k_anonymity" ->
      """WITH cl AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
        |    count(1) AS k
        |  FROM customer GROUP BY 1, 2, 3),
        |bu AS (
        |  SELECT CASE WHEN k = 1 THEN '1 (unique)'
        |              WHEN k <= 4 THEN '2-4'
        |              WHEN k <= 9 THEN '5-9'
        |              WHEN k <= 99 THEN '10-99'
        |              ELSE '100+' END AS k_bucket,
        |    k FROM cl),
        |g AS (
        |  SELECT k_bucket, count(1) AS n_classes,
        |    CAST(sum(k) AS BIGINT) AS n_rows, CAST(min(k) AS BIGINT) AS k_min
        |  FROM bu GROUP BY k_bucket),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tt FROM g)
        |SELECT k_bucket, n_classes, n_rows, k_min,
        |  CAST((20000 * n_rows + tt) // (2 * tt) AS DOUBLE) / 10000.0 AS rows_share4
        |FROM g CROSS JOIN t ORDER BY k_bucket""".stripMargin,

    // Laplace(1/ε) from the md5-derived uniform, 1e-4 floor, clamp at 0;
    // only the noisy value is released
    "dp_noisy_counts" ->
      """WITH c AS (
        |  SELECT source, lang, count(1) AS n FROM documents GROUP BY 1, 2),
        |u AS (
        |  SELECT source, lang, n,
        |    CAST(('0x' || substring(md5(source || '|' || lang), 1, 15))::BIGINT AS DOUBLE)
        |      / 1152921504606846976.0 AS u
        |  FROM c),
        |l AS (
        |  SELECT source, lang, n,
        |    CASE WHEN u > 0.5 THEN -2.0 * ln(1.0 - 2.0 * (u - 0.5))
        |         WHEN u < 0.5 THEN  2.0 * ln(1.0 - 2.0 * (0.5 - u))
        |         ELSE 0.0 END AS lap
        |  FROM u),
        |z AS (SELECT source, lang, n,
        |        CAST(floor(lap * 10000.0) AS BIGINT) AS noise4 FROM l)
        |SELECT source, lang,
        |  round(greatest(0.0, CAST(n AS DOUBLE) + CAST(noise4 AS DOUBLE) / 10000.0), 4) AS noisy_count4,
        |  CAST(0.5 AS DOUBLE) AS epsilon
        |FROM z ORDER BY source, lang""".stripMargin,

    "kcenter_coreset" -> kcenterOracleSql(5),

    // one token scan to the source grid; HHI/effective exact from integer
    // sums, entropy on the quantized-ln grid, Gini in pure integers
    "corpus_concentration" ->
      """WITH w AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS w
        |  FROM documents),
        |p AS (SELECT source, CAST(sum(w) AS BIGINT) AS t, count(1) AS d
        |      FROM w GROUP BY source),
        |r AS (SELECT source, t, d,
        |    CAST(row_number() OVER (ORDER BY t ASC, source ASC) AS BIGINT) AS rk
        |  FROM p),
        |tt AS (SELECT CAST(sum(t) AS BIGINT) AS tot FROM p),
        |e AS (SELECT r.*,
        |    CASE WHEN t = 0 THEN 0 ELSE CAST(floor(1048576.0
        |      * (CAST(t AS DOUBLE) / CAST(tot AS DOUBLE))
        |      * ln(CAST(t AS DOUBLE) / CAST(tot AS DOUBLE))) AS BIGINT) END AS ei
        |  FROM r CROSS JOIN tt),
        |g AS (SELECT CAST(count(1) AS BIGINT) AS ns, CAST(sum(d) AS BIGINT) AS nd,
        |    CAST(sum(t) AS BIGINT) AS nt, CAST(sum(t * t) AS BIGINT) AS s2,
        |    CAST(sum(rk * t) AS BIGINT) AS rs, CAST(sum(ei) AS BIGINT) AS ee
        |  FROM e)
        |SELECT ns AS n_sources, nd AS n_docs, nt AS n_tokens,
        |  round(CAST(s2 AS DOUBLE) / CAST(nt AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS hhi6,
        |  round(CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE) / CAST(s2 AS DOUBLE), 6) AS effective6,
        |  round(-CAST(ee AS DOUBLE) / 1048576.0, 6) AS entropy6,
        |  round(CAST(2 * rs - (ns + 1) * nt AS DOUBLE) / CAST(ns * nt AS DOUBLE), 6) AS gini6
        |FROM g""".stripMargin,

    // the min-k aggregate's (order_key, doc_id) total order is the window
    // row_number order — the oracle states it directly
    "epoch_shuffle" ->
      """WITH ep AS (SELECT unnest(range(0, 4)) AS epoch),
        |g AS (SELECT ep.epoch, d.doc_id,
        |    ('0x' || substring(md5(CAST(ep.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT // 128 AS ok
        |  FROM ep CROSS JOIN documents d),
        |r AS (SELECT epoch, doc_id, ok,
        |    row_number() OVER (PARTITION BY epoch ORDER BY ok ASC, doc_id ASC) AS pos
        |  FROM g)
        |SELECT epoch, CAST(pos AS INTEGER) AS pos, doc_id, ok AS order_key
        |FROM r WHERE pos <= 8 ORDER BY epoch, pos""".stripMargin,

    // HRW argmax mirrored as (h DESC, s DESC) rank over the shard grid;
    // movement matrix + ratio4 shares
    "rendezvous_shards" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |gb AS (SELECT unnest(range(0, 8)) AS s),
        |ga AS (SELECT unnest(range(0, 9)) AS s),
        |hb AS (SELECT doc_id, s,
        |    ('0x' || substring(md5(CAST(s AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM ids CROSS JOIN gb),
        |ab AS (SELECT doc_id, s AS shard_before FROM (
        |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn
        |    FROM hb) WHERE rn = 1),
        |ha AS (SELECT doc_id, s,
        |    ('0x' || substring(md5(CAST(s AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM ids CROSS JOIN ga),
        |aa AS (SELECT doc_id, s AS shard_after FROM (
        |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn
        |    FROM ha) WHERE rn = 1),
        |g AS (SELECT shard_before, shard_after, CAST(count(1) AS BIGINT) AS n_docs
        |  FROM ab JOIN aa USING (doc_id) GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot FROM g)
        |SELECT shard_before, shard_after, n_docs,
        |  shard_before <> shard_after AS moved,
        |  CAST((20000 * n_docs + tot) // (2 * tot) AS DOUBLE) / 10000.0 AS share4
        |FROM g CROSS JOIN t ORDER BY shard_before, shard_after""".stripMargin,

    // A-ES exponential-race keys; top-50 by (−ln u / w DESC) ≡ the min-k
    // aggregate's (dist ASC, id ASC) order. Shared verbatim by
    // stream_weighted_reservoir — deterministic keys make the drained
    // stream state equal the batch draw exactly.
    "weighted_reservoir" -> weightedReservoirOracleSql,
    "stream_weighted_reservoir" -> weightedReservoirOracleSql,

    // binned-CDF KS on the fixed 4096-cell grid: the quality-score CTE is
    // the proven quality_length_joint formula; |F0−F1| compared as exact
    // integers f0·n1 − f1·n0
    "ks_drift" -> ksDriftOracleSql,

    // exact minimax isotonic fit max_{j<=i} min_{k>=i} mean(y[j..k]) on
    // the observed-decile grid; the score/gold CTEs are quality_ece's
    "quality_isotonic" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.5
        |    + (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |        / CAST(length(text) AS DOUBLE)) * 0.3
        |    + least(CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |        / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10.0, 1.0) * 0.2 AS qv
        |  FROM documents),
        |gt AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
        |  FROM documents),
        |gm AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(ts, x -> len(x))) AS BIGINT) AS sumlen,
        |    CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha,
        |    CAST(len(list_filter(['the','a','of','and','is'], s -> list_contains(ts, s))) AS BIGINT) AS n_stopwords
        |  FROM gt WHERE len(ts) >= 1),
        |g AS (
        |  SELECT doc_id,
        |    (n_words BETWEEN 20 AND 100000) AND (3 * n_words <= sumlen)
        |      AND (sumlen <= 10 * n_words) AND (5 * alpha >= 4 * n_words)
        |      AND (n_stopwords >= 2) AS passes
        |  FROM gm),
        |b AS (
        |  SELECT least(CAST(floor(qv * 10) AS BIGINT), 9) AS bin, passes
        |  FROM q JOIN g USING (doc_id)),
        |p AS (
        |  SELECT bin, CAST(count(1) AS BIGINT) AS n,
        |    CAST(count_if(passes) AS BIGINT) AS pp
        |  FROM b GROUP BY bin),
        |c AS (
        |  SELECT bin, n, pp,
        |    sum(n) OVER (ORDER BY bin) AS cn, sum(pp) OVER (ORDER BY bin) AS cp
        |  FROM p),
        |jk AS (
        |  SELECT j.bin AS jb, k.bin AS kb,
        |    CAST(k.cp - (j.cp - j.pp) AS DOUBLE)
        |      / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS r
        |  FROM c j JOIN c k ON j.bin <= k.bin),
        |mm AS (
        |  SELECT i.bin AS bin, jk.jb, min(jk.r) AS mn
        |  FROM p i JOIN jk ON jk.jb <= i.bin AND jk.kb >= i.bin
        |  GROUP BY i.bin, jk.jb),
        |iso AS (SELECT bin, max(mn) AS iso FROM mm GROUP BY bin)
        |SELECT p.bin, p.n AS n_docs,
        |  round(CAST(p.pp AS DOUBLE) / CAST(p.n AS DOUBLE), 6) AS rate6,
        |  round(iso.iso, 6) AS iso6
        |FROM p JOIN iso USING (bin) ORDER BY bin""".stripMargin,

    // conformal order statistic from a cumulative count over the fixed
    // 4096 grid; k = ceil((n_cal+1)·α) in exact 1e-4 integer units
    "conformal_gate" ->
      """WITH sc AS (
        |  SELECT doc_id,
        |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.5
        |    + (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |        / CAST(length(text) AS DOUBLE)) * 0.3
        |    + least(CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |        / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10.0, 1.0) * 0.2 AS qv
        |  FROM documents WHERE length(text) > 0),
        |cb AS (
        |  SELECT least(CAST(floor(qv * 4096) AS BIGINT), 4095) AS bin,
        |    CAST(count(1) AS BIGINT) AS c
        |  FROM sc WHERE doc_id % 10 = 0 GROUP BY 1),
        |nc AS (SELECT CAST(sum(c) AS BIGINT) AS n_cal FROM cb),
        |cc AS (SELECT bin, c, sum(c) OVER (ORDER BY bin) AS cum FROM cb),
        |kk AS (SELECT n_cal, ((n_cal + 1) * 1000 + 9999) // 10000 AS k FROM nc),
        |th AS (
        |  SELECT n_cal, k, bin AS thr_bin FROM cc CROSS JOIN kk
        |  WHERE cum >= k ORDER BY bin ASC LIMIT 1),
        |ck AS (
        |  SELECT t.n_cal, t.k, t.thr_bin,
        |    CAST((20000 * (SELECT sum(c) FROM cb WHERE bin >= t.thr_bin) + t.n_cal)
        |      // (2 * t.n_cal) AS DOUBLE) / 10000.0 AS cal_keep_share4
        |  FROM th t),
        |tb AS (
        |  SELECT least(CAST(floor(qv * 4096) AS BIGINT), 4095) AS bin,
        |    CAST(count(1) AS BIGINT) AS c
        |  FROM sc WHERE doc_id % 10 <> 0 GROUP BY 1)
        |SELECT ck.n_cal, ck.k, ck.thr_bin, ck.cal_keep_share4,
        |  CAST((SELECT sum(c) FROM tb) AS BIGINT) AS n_test,
        |  CAST((20000 * (SELECT sum(c) FROM tb WHERE bin >= ck.thr_bin)
        |    + (SELECT sum(c) FROM tb)) // (2 * (SELECT sum(c) FROM tb)) AS DOUBLE) / 10000.0 AS test_keep_share4
        |FROM ck""".stripMargin,

    // the stream gate replays the whole documents table through the
    // batch-calibrated threshold: per-source kept counters
    "stream_conformal_gate" ->
      """WITH sc AS (
        |  SELECT doc_id, source,
        |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.5
        |    + (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |        / CAST(length(text) AS DOUBLE)) * 0.3
        |    + least(CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |        / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10.0, 1.0) * 0.2 AS qv
        |  FROM documents WHERE length(text) > 0),
        |cb AS (
        |  SELECT least(CAST(floor(qv * 4096) AS BIGINT), 4095) AS bin,
        |    CAST(count(1) AS BIGINT) AS c
        |  FROM sc WHERE doc_id % 10 = 0 GROUP BY 1),
        |nc AS (SELECT CAST(sum(c) AS BIGINT) AS n_cal FROM cb),
        |cc AS (SELECT bin, c, sum(c) OVER (ORDER BY bin) AS cum FROM cb),
        |kk AS (SELECT n_cal, ((n_cal + 1) * 1000 + 9999) // 10000 AS k FROM nc),
        |th AS (
        |  SELECT bin AS thr_bin FROM cc CROSS JOIN kk
        |  WHERE cum >= k ORDER BY bin ASC LIMIT 1),
        |b AS (
        |  SELECT source, least(CAST(floor(qv * 4096) AS BIGINT), 4095) AS bin
        |  FROM sc)
        |SELECT source, t.thr_bin, count(1) AS n_docs,
        |  CAST(count_if(bin >= t.thr_bin) AS BIGINT) AS n_kept,
        |  CAST((20000 * count_if(bin >= t.thr_bin) + count(1))
        |    // (2 * count(1)) AS DOUBLE) / 10000.0 AS kept_share4
        |FROM b CROSS JOIN th t GROUP BY source, t.thr_bin ORDER BY source""".stripMargin,

    // PSI on the ks_drift generation split: Laplace(+1) smoothed bin
    // shares over the constant 10-cell grid, floor(ln·2^20) log grid,
    // per-bin rounding before the grid-sized total
    "psi_drift" -> psiDriftOracleSql,

    // the stream gate accumulates the SAME gen1 bin counts as streaming
    // state and reads out through the same grid math — one oracle, two paths
    "stream_psi_gate" -> psiDriftOracleSql,

    // coverage on the count-of-counts grid is tie-invariant at the
    // boundary frequency, so the sweep is integer-exact end to end
    "vocab_size_sweep" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |ty AS (SELECT tok, CAST(count(1) AS BIGINT) AS c FROM toks GROUP BY tok),
        |cc AS (SELECT c, CAST(count(1) AS BIGINT) AS n FROM ty GROUP BY c),
        |cum AS (SELECT c, n,
        |    sum(n) OVER (ORDER BY c DESC) AS cumt,
        |    sum(c * n) OVER (ORDER BY c DESC) AS cumtok
        |  FROM cc),
        |tot AS (SELECT CAST(sum(c * n) AS BIGINT) AS N, CAST(sum(n) AS BIGINT) AS T FROM cc),
        |grid AS (SELECT CAST(v AS BIGINT) AS vocab_size
        |  FROM (VALUES (1024), (4096), (16384), (65536)) s(v)),
        |j AS (SELECT g.vocab_size, t.N, t.T,
        |    CASE WHEN cum.cumt <= g.vocab_size THEN cum.cumtok
        |         ELSE cum.cumtok - (cum.cumt - g.vocab_size) * cum.c END AS cov
        |  FROM grid g, tot t, cum WHERE cum.cumt - cum.n < g.vocab_size)
        |SELECT vocab_size, CAST(max(T) AS BIGINT) AS n_types,
        |  CAST(max(cov) AS BIGINT) AS covered_tokens,
        |  CAST(max(N) AS BIGINT) AS total_tokens,
        |  CAST((20000 * (max(N) - max(cov)) + max(N)) // (2 * max(N)) AS DOUBLE) / 10000.0
        |    AS oov_share4
        |FROM j GROUP BY vocab_size ORDER BY vocab_size""".stripMargin,

    // ordered-domain EMD as exact integer rationals on the common
    // denominator n_class·N; single closing divide
    "t_closeness" ->
      """WITH base AS (SELECT event_type AS cls, CAST(hour(ts) AS BIGINT) AS b FROM events),
        |cl AS (SELECT DISTINCT cls FROM base),
        |grid AS (SELECT cls, CAST(range AS BIGINT) AS b FROM cl, range(24)),
        |cb AS (SELECT cls, b, CAST(count(1) AS BIGINT) AS cb FROM base GROUP BY 1, 2),
        |gb AS (SELECT b, CAST(count(1) AS BIGINT) AS gb FROM base GROUP BY 1),
        |tot AS (SELECT CAST(count(1) AS BIGINT) AS gt FROM base),
        |ct AS (SELECT cls, CAST(count(1) AS BIGINT) AS n FROM base GROUP BY 1),
        |f AS (SELECT grid.cls, grid.b,
        |    coalesce(cb.cb, 0) AS cb, coalesce(gb.gb, 0) AS gb
        |  FROM grid LEFT JOIN cb ON grid.cls = cb.cls AND grid.b = cb.b
        |  LEFT JOIN gb ON grid.b = gb.b),
        |cum AS (SELECT cls, b,
        |    sum(cb) OVER (PARTITION BY cls ORDER BY b) AS cumc,
        |    sum(gb) OVER (PARTITION BY cls ORDER BY b) AS cumg
        |  FROM f),
        |e AS (SELECT cum.cls, ct.n,
        |    CAST(sum(abs(cumc * gt - cumg * n)) AS BIGINT) AS emdnum,
        |    CAST(max(n * gt) AS BIGINT) AS den
        |  FROM cum JOIN ct ON cum.cls = ct.cls, tot GROUP BY cum.cls, ct.n)
        |SELECT cls, n AS n_rows,
        |  round(CAST(emdnum AS DOUBLE) / (CAST(den AS DOUBLE) * 23.0), 6) AS t6,
        |  round(CAST(emdnum AS DOUBLE) / (CAST(den AS DOUBLE) * 23.0), 6) <= 0.2 AS ok
        |FROM e ORDER BY cls""".stripMargin,

    // l-diversity: distinct sensitive users per (event_type, hour) cell
    // l-diversity: distinct sensitive users per (event_type, hour) cell
    "l_diversity" ->
      """SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
        |  CAST(count(1) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS l,
        |  count(DISTINCT user_id) >= 5 AS ok
        |FROM events GROUP BY 1, 2 ORDER BY event_type, hr""".stripMargin,

    // temporal split off max(ts) day: 7-day test window, 1-day embargo,
    // train/test distinct-user overlap as the group-leakage share
    "split_temporal_embargo" ->
      """WITH mx AS (SELECT date_trunc('day', max(ts)) AS m FROM events),
        |tagged AS (
        |  SELECT e.user_id,
        |    CASE WHEN e.ts >= m - INTERVAL 7 DAY THEN 'test'
        |         WHEN e.ts >= m - INTERVAL 8 DAY THEN 'embargo'
        |         ELSE 'train' END AS split
        |  FROM events e, mx),
        |per AS (SELECT split, CAST(count(1) AS BIGINT) AS n_events,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM tagged GROUP BY 1),
        |ov AS (SELECT CAST(count(1) AS BIGINT) AS ov FROM
        |    (SELECT DISTINCT user_id FROM tagged WHERE split = 'train') a
        |    JOIN (SELECT DISTINCT user_id FROM tagged WHERE split = 'test') b
        |    USING (user_id))
        |SELECT split, n_events, n_users, ov AS users_in_both,
        |  CASE WHEN split = 'test'
        |    THEN CAST((20000 * ov + n_users) // (2 * n_users) AS DOUBLE) / 10000.0
        |    END AS leak_share4
        |FROM per, ov ORDER BY split""".stripMargin,

    // margin = |quality − 0.5|; per-source top-10 via row_number mirrors
    // the fused min-k's (margin ASC, doc_id ASC) tie-break
    "uncertainty_sample" ->
      """WITH sc AS (
        |  SELECT doc_id, source,
        |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.5
        |    + (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |        / CAST(length(text) AS DOUBLE)) * 0.3
        |    + least(CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |        / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10.0, 1.0) * 0.2 AS qv
        |  FROM documents WHERE length(text) > 0),
        |m AS (SELECT doc_id, source, abs(qv - 0.5) AS mg FROM sc),
        |r AS (SELECT source, doc_id, mg,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY mg ASC, doc_id ASC)
        |      AS INTEGER) AS rank
        |  FROM m)
        |SELECT source, rank, doc_id, round(mg, 6) AS margin6
        |FROM r WHERE rank <= 10 ORDER BY source, rank""".stripMargin,

    // DuckDB's own true-DL kernel independently pins the custom
    // damerau_levenshtein expression over the (brand, size) blocks
    "entity_resolution" ->
      """WITH b AS (SELECT p_partkey, p_name, p_brand, p_size FROM part),
        |p AS (
        |  SELECT a.p_brand,
        |    CAST(damerau_levenshtein(a.p_name, c.p_name) AS INTEGER) AS dl
        |  FROM b a JOIN b c
        |    ON a.p_brand = c.p_brand AND a.p_size = c.p_size
        |    AND a.p_partkey < c.p_partkey)
        |SELECT p_brand, CAST(count(1) AS BIGINT) AS n_pairs,
        |  CAST(count_if(dl <= 4) AS BIGINT) AS n_matches,
        |  CAST(min(dl) AS INTEGER) AS min_dl
        |FROM p GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // w = p/(1−p) on the floor(w·2^20) integer grid; ESS from the two
    // exact integer sums, ratio4 share of n_docs
    "importance_weights" ->
      """WITH sc AS (
        |  SELECT source,
        |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.5
        |    + (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |        / CAST(length(text) AS DOUBLE)) * 0.3
        |    + least(CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |        / CAST(len(string_split(text, ' ')) AS DOUBLE) * 10.0, 1.0) * 0.2 AS qv
        |  FROM documents WHERE length(text) > 0),
        |w AS (SELECT source,
        |    CAST(floor(least(greatest(qv, 0.05), 0.95)
        |      / (1.0 - least(greatest(qv, 0.05), 0.95)) * 1048576.0) AS BIGINT) AS wq
        |  FROM sc),
        |g AS (SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
        |    CAST(sum(wq) AS BIGINT) AS sw, sum(wq * wq) AS sw2
        |  FROM w GROUP BY source)
        |SELECT source, n_docs,
        |  round(CAST(sw AS DOUBLE) / 1048576.0, 6) AS w_sum6,
        |  round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sw2 AS DOUBLE), 6) AS ess6,
        |  CAST((20000 * CAST(round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
        |      / CAST(sw2 AS DOUBLE)) AS BIGINT) + n_docs)
        |    // (2 * n_docs) AS DOUBLE) / 10000.0 AS ess_share4
        |FROM g ORDER BY source""".stripMargin,

    // adjacent-pair counts on the (lang, w1, w2) type frame; conditional
    // log on the floor(ln·2^20) grid, exact integer −Σ c12·L
    "bigram_entropy" ->
      """WITH t AS (
        |  SELECT lang, list_filter(string_split(text, ' '), x -> len(x) > 0) AS l
        |  FROM documents),
        |tf AS (SELECT lang, l FROM t WHERE len(l) >= 2),
        |pr AS (SELECT lang, z[1] AS w1, z[2] AS w2 FROM (
        |    SELECT lang, unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS z
        |    FROM tf)),
        |c12 AS (SELECT lang, w1, w2, CAST(count(1) AS BIGINT) AS c12
        |  FROM pr GROUP BY 1, 2, 3),
        |c1 AS (SELECT lang, w1, CAST(sum(c12) AS BIGINT) AS c1
        |  FROM c12 GROUP BY 1, 2),
        |j AS (SELECT c12.lang, c12.c12,
        |    CAST(floor(ln(CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
        |      * 1048576.0) AS BIGINT) AS ls
        |  FROM c12 JOIN c1 ON c12.lang = c1.lang AND c12.w1 = c1.w1)
        |SELECT lang, CAST(sum(c12) AS BIGINT) AS n_bigrams,
        |  CAST(count(1) AS BIGINT) AS n_pair_types,
        |  round(CAST(sum(-c12 * ls) AS DOUBLE) / CAST(sum(c12) AS DOUBLE)
        |    / 1048576.0, 6) AS h6
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin,

    // integer-grid PageRank: 5 unrolled damped iterations, see
    // pagerankOracleSql
    "graph_pagerank" -> pagerankOracleSql,

    // salted-hash stratified folds; within-stratum ratio4 share
    "split_kfold" ->
      """WITH f AS (SELECT source,
        |    ('0x' || substring(md5('kfold:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 AS fold
        |  FROM documents),
        |per AS (SELECT fold, source, CAST(count(1) AS BIGINT) AS n_docs
        |  FROM f GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(count(1) AS BIGINT) AS n FROM f GROUP BY 1)
        |SELECT per.fold, per.source, per.n_docs,
        |  CAST((20000 * per.n_docs + tot.n) // (2 * tot.n) AS DOUBLE) / 10000.0 AS share4
        |FROM per JOIN tot ON per.source = tot.source
        |ORDER BY per.fold, per.source""".stripMargin,

    // Tukey fences off 4dp-rounded quantile_cont (≡ Spark percentile)
    "robust_scale" ->
      """WITH q AS (SELECT event_type, CAST(count(1) AS BIGINT) AS n_rows,
        |    round(quantile_cont(value, 0.5), 4) AS med4,
        |    round(quantile_cont(value, 0.25), 4) AS q1,
        |    round(quantile_cont(value, 0.75), 4) AS q3
        |  FROM events GROUP BY 1),
        |f AS (SELECT e.event_type, q.n_rows, q.med4, q.q3 - q.q1 AS iqr,
        |    CASE WHEN e.value > q.q3 + 1.5 * (q.q3 - q.q1)
        |          OR e.value < q.q1 - 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END AS o
        |  FROM events e JOIN q USING (event_type))
        |SELECT event_type, n_rows, med4, round(iqr, 4) AS iqr4,
        |  CAST(sum(o) AS BIGINT) AS n_outliers,
        |  CAST((20000 * sum(o) + n_rows) // (2 * n_rows) AS DOUBLE) / 10000.0
        |    AS outlier_share4
        |FROM f GROUP BY 1, 2, 3, 4 ORDER BY event_type""".stripMargin,

    // gaps-and-islands: island key = epoch-day − per-user day rank
    "activity_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id AS u,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d
        |  FROM events),
        |isl AS (SELECT u,
        |    d - CAST(row_number() OVER (PARTITION BY u ORDER BY d) AS BIGINT) AS k
        |  FROM days),
        |runs AS (SELECT u, k, CAST(count(1) AS BIGINT) AS streak_len
        |  FROM isl GROUP BY 1, 2)
        |SELECT streak_len, CAST(count(1) AS BIGINT) AS n_islands,
        |  CAST(count(DISTINCT u) AS BIGINT) AS n_users
        |FROM runs GROUP BY 1 ORDER BY streak_len""".stripMargin,

    // the stream gate replays the corpus against the at-rest top-4096
    // vocab; >20% OOV is the exact integer test n_oov·5 > n_tokens
    "stream_vocab_gate" ->
      """WITH toks AS (SELECT doc_id, source,
        |    unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |ty AS (SELECT tok, count(1) AS c FROM toks GROUP BY 1),
        |vocab AS (SELECT tok FROM ty ORDER BY c DESC, tok ASC LIMIT 4096),
        |pd AS (SELECT t.doc_id, t.source, CAST(count(1) AS BIGINT) AS n_tokens,
        |    CAST(count_if(v.tok IS NULL) AS BIGINT) AS n_oov
        |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok GROUP BY 1, 2)
        |SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
        |  CAST(count_if(n_oov * 5 > n_tokens) AS BIGINT) AS n_flagged,
        |  CAST((20000 * count_if(n_oov * 5 > n_tokens) + count(1))
        |    // (2 * count(1)) AS DOUBLE) / 10000.0 AS flagged_share4
        |FROM pd GROUP BY source ORDER BY source""".stripMargin,

    // serving-path entity resolution: ordered probe→reference pairs
    // (self-pair excluded), same blocks and kernel as the batch row
    "stream_entity_resolution" ->
      """WITH b AS (SELECT p_partkey, p_name, p_brand, p_size FROM part),
        |p AS (SELECT a.p_brand,
        |    CAST(damerau_levenshtein(a.p_name, c.p_name) AS INTEGER) AS dl
        |  FROM b a JOIN b c ON a.p_brand = c.p_brand AND a.p_size = c.p_size
        |    AND a.p_partkey <> c.p_partkey)
        |SELECT p_brand, CAST(count(1) AS BIGINT) AS n_pairs,
        |  CAST(count_if(dl <= 4) AS BIGINT) AS n_matches,
        |  CAST(min(dl) AS INTEGER) AS min_dl
        |FROM p GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // clipped n-gram overlap on (pair, gram) inner joins; micro-averaged
    // per source so every readout is one divide of exact integer sums
    "rouge_overlap" ->
      """WITH p AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 2 THEN upper(text) ELSE text END AS cand,
        |    text AS ref
        |  FROM documents WHERE doc_id % 13 <> 5 AND doc_id % 13 <> 7),
        |lc AS (SELECT doc_id, list_filter(string_split(cand, ' '), x -> len(x) > 0) AS l FROM p),
        |lr AS (SELECT doc_id, list_filter(string_split(ref, ' '), x -> len(x) > 0) AS l FROM p),
        |tc1 AS (SELECT doc_id, g, CAST(count(1) AS BIGINT) AS cc FROM (
        |    SELECT doc_id, unnest(l) AS g FROM lc) GROUP BY 1, 2),
        |tr1 AS (SELECT doc_id, g, CAST(count(1) AS BIGINT) AS cr FROM (
        |    SELECT doc_id, unnest(l) AS g FROM lr) GROUP BY 1, 2),
        |ov1 AS (SELECT doc_id, CAST(sum(least(cc, cr)) AS BIGINT) AS o
        |  FROM tc1 JOIN tr1 USING (doc_id, g) GROUP BY 1),
        |tc2 AS (SELECT doc_id, g, CAST(count(1) AS BIGINT) AS cc FROM (
        |    SELECT doc_id, z[1] || ' ' || z[2] AS g FROM (
        |      SELECT doc_id, unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS z
        |      FROM lc WHERE len(l) >= 2)) GROUP BY 1, 2),
        |tr2 AS (SELECT doc_id, g, CAST(count(1) AS BIGINT) AS cr FROM (
        |    SELECT doc_id, z[1] || ' ' || z[2] AS g FROM (
        |      SELECT doc_id, unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS z
        |      FROM lr WHERE len(l) >= 2)) GROUP BY 1, 2),
        |ov2 AS (SELECT doc_id, CAST(sum(least(cc, cr)) AS BIGINT) AS o
        |  FROM tc2 JOIN tr2 USING (doc_id, g) GROUP BY 1),
        |lens AS (SELECT p.doc_id, p.source,
        |    CAST(len(list_filter(string_split(p.cand, ' '), x -> len(x) > 0)) AS BIGINT) AS lc1,
        |    CAST(len(list_filter(string_split(p.ref, ' '), x -> len(x) > 0)) AS BIGINT) AS lr1
        |  FROM p),
        |j AS (SELECT lens.source,
        |    coalesce(ov1.o, 0) AS o1, coalesce(ov2.o, 0) AS o2,
        |    lens.lc1, lens.lr1,
        |    greatest(lens.lc1 - 1, 0) AS lc2, greatest(lens.lr1 - 1, 0) AS lr2
        |  FROM lens LEFT JOIN ov1 ON lens.doc_id = ov1.doc_id
        |  LEFT JOIN ov2 ON lens.doc_id = ov2.doc_id)
        |SELECT source, CAST(count(1) AS BIGINT) AS n_pairs,
        |  round(CAST(sum(o1) AS DOUBLE) / CAST(sum(lc1) AS DOUBLE), 6) AS r1_p6,
        |  round(CAST(sum(o1) AS DOUBLE) / CAST(sum(lr1) AS DOUBLE), 6) AS r1_r6,
        |  round(2.0 * CAST(sum(o1) AS DOUBLE) / CAST(sum(lc1) + sum(lr1) AS DOUBLE), 6) AS r1_f6,
        |  round(CAST(sum(o2) AS DOUBLE) / CAST(sum(lc2) AS DOUBLE), 6) AS r2_p6,
        |  round(CAST(sum(o2) AS DOUBLE) / CAST(sum(lr2) AS DOUBLE), 6) AS r2_r6,
        |  round(2.0 * CAST(sum(o2) AS DOUBLE) / CAST(sum(lc2) + sum(lr2) AS DOUBLE), 6) AS r2_f6
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // corpus BLEU: clipped n-gram precisions as integer-sum ratios; the only
    // transcendentals (ln/exp on the stratum frame) are 2^-20 grid-quantized
    "bleu_corpus" ->
      """WITH p0 AS (SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS l
        |  FROM documents WHERE doc_id % 17 <> 3),
        |p1 AS (SELECT doc_id, source, l, greatest((len(l) * 4) // 5, 1) AS k FROM p0),
        |p AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 3 = 0 THEN list_reverse(l[1:k]) ELSE l[1:k] END AS lc,
        |    l AS lr FROM p1),
        |gc1 AS (SELECT doc_id, unnest(lc) AS g FROM p),
        |gr1 AS (SELECT doc_id, unnest(lr) AS g FROM p),
        |gc2 AS (SELECT doc_id, array_to_string(lc[i:i+1], ' ') AS g FROM (SELECT doc_id, lc, unnest(range(1, len(lc))) AS i FROM p WHERE len(lc) >= 2)),
        |gr2 AS (SELECT doc_id, array_to_string(lr[i:i+1], ' ') AS g FROM (SELECT doc_id, lr, unnest(range(1, len(lr))) AS i FROM p WHERE len(lr) >= 2)),
        |gc3 AS (SELECT doc_id, array_to_string(lc[i:i+2], ' ') AS g FROM (SELECT doc_id, lc, unnest(range(1, len(lc) - 1)) AS i FROM p WHERE len(lc) >= 3)),
        |gr3 AS (SELECT doc_id, array_to_string(lr[i:i+2], ' ') AS g FROM (SELECT doc_id, lr, unnest(range(1, len(lr) - 1)) AS i FROM p WHERE len(lr) >= 3)),
        |gc4 AS (SELECT doc_id, array_to_string(lc[i:i+3], ' ') AS g FROM (SELECT doc_id, lc, unnest(range(1, len(lc) - 2)) AS i FROM p WHERE len(lc) >= 4)),
        |gr4 AS (SELECT doc_id, array_to_string(lr[i:i+3], ' ') AS g FROM (SELECT doc_id, lr, unnest(range(1, len(lr) - 2)) AS i FROM p WHERE len(lr) >= 4)),
        |tc1 AS (SELECT doc_id, g, count(1) AS cc FROM gc1 GROUP BY 1, 2),
        |tr1 AS (SELECT doc_id, g, count(1) AS cr FROM gr1 GROUP BY 1, 2),
        |tc2 AS (SELECT doc_id, g, count(1) AS cc FROM gc2 GROUP BY 1, 2),
        |tr2 AS (SELECT doc_id, g, count(1) AS cr FROM gr2 GROUP BY 1, 2),
        |tc3 AS (SELECT doc_id, g, count(1) AS cc FROM gc3 GROUP BY 1, 2),
        |tr3 AS (SELECT doc_id, g, count(1) AS cr FROM gr3 GROUP BY 1, 2),
        |tc4 AS (SELECT doc_id, g, count(1) AS cc FROM gc4 GROUP BY 1, 2),
        |tr4 AS (SELECT doc_id, g, count(1) AS cr FROM gr4 GROUP BY 1, 2),
        |ov1 AS (SELECT doc_id, CAST(sum(least(cc, cr)) AS BIGINT) AS o FROM tc1 JOIN tr1 USING (doc_id, g) GROUP BY 1),
        |ov2 AS (SELECT doc_id, CAST(sum(least(cc, cr)) AS BIGINT) AS o FROM tc2 JOIN tr2 USING (doc_id, g) GROUP BY 1),
        |ov3 AS (SELECT doc_id, CAST(sum(least(cc, cr)) AS BIGINT) AS o FROM tc3 JOIN tr3 USING (doc_id, g) GROUP BY 1),
        |ov4 AS (SELECT doc_id, CAST(sum(least(cc, cr)) AS BIGINT) AS o FROM tc4 JOIN tr4 USING (doc_id, g) GROUP BY 1),
        |base AS (SELECT p.doc_id, p.source,
        |    CAST(len(lc) AS BIGINT) AS lenc, CAST(len(lr) AS BIGINT) AS lenr,
        |    CAST(greatest(len(lc), 0) AS BIGINT) AS c1,
        |    CAST(greatest(len(lc) - 1, 0) AS BIGINT) AS c2,
        |    CAST(greatest(len(lc) - 2, 0) AS BIGINT) AS c3,
        |    CAST(greatest(len(lc) - 3, 0) AS BIGINT) AS c4,
        |    coalesce(ov1.o, 0) AS o1, coalesce(ov2.o, 0) AS o2,
        |    coalesce(ov3.o, 0) AS o3, coalesce(ov4.o, 0) AS o4
        |  FROM p LEFT JOIN ov1 ON p.doc_id = ov1.doc_id
        |  LEFT JOIN ov2 ON p.doc_id = ov2.doc_id
        |  LEFT JOIN ov3 ON p.doc_id = ov3.doc_id
        |  LEFT JOIN ov4 ON p.doc_id = ov4.doc_id),
        |g AS (SELECT source, CAST(count(1) AS BIGINT) AS n_pairs,
        |    CAST(sum(lenc) AS BIGINT) AS tc, CAST(sum(lenr) AS BIGINT) AS tr,
        |    CAST(sum(o1) AS BIGINT) AS O1, CAST(sum(c1) AS BIGINT) AS C1,
        |    CAST(sum(o2) AS BIGINT) AS O2, CAST(sum(c2) AS BIGINT) AS C2,
        |    CAST(sum(o3) AS BIGINT) AS O3, CAST(sum(c3) AS BIGINT) AS C3,
        |    CAST(sum(o4) AS BIGINT) AS O4, CAST(sum(c4) AS BIGINT) AS C4
        |  FROM base GROUP BY source),
        |m AS (SELECT source, n_pairs,
        |    CAST(O1 AS DOUBLE) / CAST(C1 AS DOUBLE) AS p1,
        |    CAST(O2 + 1 AS DOUBLE) / CAST(C2 + 1 AS DOUBLE) AS p2,
        |    CAST(O3 + 1 AS DOUBLE) / CAST(C3 + 1 AS DOUBLE) AS p3,
        |    CAST(O4 + 1 AS DOUBLE) / CAST(C4 + 1 AS DOUBLE) AS p4,
        |    CASE WHEN tc >= tr THEN 1.0
        |      ELSE floor(exp(1.0 - CAST(tr AS DOUBLE) / CAST(tc AS DOUBLE)) * 1048576.0) / 1048576.0
        |    END AS bp
        |  FROM g)
        |SELECT source, n_pairs,
        |  round(p1, 6) AS p1_6, round(p2, 6) AS p2_6,
        |  round(p3, 6) AS p3_6, round(p4, 6) AS p4_6,
        |  round(bp, 6) AS bp6,
        |  round(CASE WHEN p1 = 0.0 THEN 0.0
        |    ELSE bp * (floor(exp((floor(ln(p1) * 1048576.0) / 1048576.0
        |      + floor(ln(p2) * 1048576.0) / 1048576.0
        |      + floor(ln(p3) * 1048576.0) / 1048576.0
        |      + floor(ln(p4) * 1048576.0) / 1048576.0) / 4.0) * 1048576.0) / 1048576.0)
        |  END, 6) AS bleu6
        |FROM m ORDER BY source""".stripMargin,

    // chrF: character n-gram P/R as integer-sum ratios combined in a fixed
    // left-to-right order — no transcendentals, bit-exact without the grid
    "chrf_score" ->
      """WITH p AS (SELECT doc_id, source,
        |    replace(CASE WHEN doc_id % 7 = 0
        |      THEN left(text, greatest((length(text) * 7) // 10, 1))
        |      ELSE replace(text, 'a', '') END, ' ', '') AS sc,
        |    replace(text, ' ', '') AS sr
        |  FROM documents WHERE doc_id % 19 <> 1),
        |gc1 AS (SELECT doc_id, substr(sc, i, 1) AS g FROM (SELECT doc_id, sc, unnest(range(1, length(sc) + 1)) AS i FROM p WHERE length(sc) >= 1)),
        |gr1 AS (SELECT doc_id, substr(sr, i, 1) AS g FROM (SELECT doc_id, sr, unnest(range(1, length(sr) + 1)) AS i FROM p WHERE length(sr) >= 1)),
        |gc2 AS (SELECT doc_id, substr(sc, i, 2) AS g FROM (SELECT doc_id, sc, unnest(range(1, length(sc))) AS i FROM p WHERE length(sc) >= 2)),
        |gr2 AS (SELECT doc_id, substr(sr, i, 2) AS g FROM (SELECT doc_id, sr, unnest(range(1, length(sr))) AS i FROM p WHERE length(sr) >= 2)),
        |gc3 AS (SELECT doc_id, substr(sc, i, 3) AS g FROM (SELECT doc_id, sc, unnest(range(1, length(sc) - 1)) AS i FROM p WHERE length(sc) >= 3)),
        |gr3 AS (SELECT doc_id, substr(sr, i, 3) AS g FROM (SELECT doc_id, sr, unnest(range(1, length(sr) - 1)) AS i FROM p WHERE length(sr) >= 3)),
        |tc1 AS (SELECT doc_id, g, count(1) AS cc FROM gc1 GROUP BY 1, 2),
        |tr1 AS (SELECT doc_id, g, count(1) AS cr FROM gr1 GROUP BY 1, 2),
        |tc2 AS (SELECT doc_id, g, count(1) AS cc FROM gc2 GROUP BY 1, 2),
        |tr2 AS (SELECT doc_id, g, count(1) AS cr FROM gr2 GROUP BY 1, 2),
        |tc3 AS (SELECT doc_id, g, count(1) AS cc FROM gc3 GROUP BY 1, 2),
        |tr3 AS (SELECT doc_id, g, count(1) AS cr FROM gr3 GROUP BY 1, 2),
        |ov1 AS (SELECT doc_id, CAST(sum(least(cc, cr)) AS BIGINT) AS o FROM tc1 JOIN tr1 USING (doc_id, g) GROUP BY 1),
        |ov2 AS (SELECT doc_id, CAST(sum(least(cc, cr)) AS BIGINT) AS o FROM tc2 JOIN tr2 USING (doc_id, g) GROUP BY 1),
        |ov3 AS (SELECT doc_id, CAST(sum(least(cc, cr)) AS BIGINT) AS o FROM tc3 JOIN tr3 USING (doc_id, g) GROUP BY 1),
        |base AS (SELECT p.doc_id, p.source,
        |    CAST(greatest(length(sc), 0) AS BIGINT) AS c1,
        |    CAST(greatest(length(sc) - 1, 0) AS BIGINT) AS c2,
        |    CAST(greatest(length(sc) - 2, 0) AS BIGINT) AS c3,
        |    CAST(greatest(length(sr), 0) AS BIGINT) AS r1,
        |    CAST(greatest(length(sr) - 1, 0) AS BIGINT) AS r2,
        |    CAST(greatest(length(sr) - 2, 0) AS BIGINT) AS r3,
        |    coalesce(ov1.o, 0) AS o1, coalesce(ov2.o, 0) AS o2, coalesce(ov3.o, 0) AS o3
        |  FROM p LEFT JOIN ov1 ON p.doc_id = ov1.doc_id
        |  LEFT JOIN ov2 ON p.doc_id = ov2.doc_id
        |  LEFT JOIN ov3 ON p.doc_id = ov3.doc_id),
        |g AS (SELECT source, CAST(count(1) AS BIGINT) AS n_pairs,
        |    CAST(sum(o1) AS BIGINT) AS O1, CAST(sum(c1) AS BIGINT) AS C1, CAST(sum(r1) AS BIGINT) AS R1,
        |    CAST(sum(o2) AS BIGINT) AS O2, CAST(sum(c2) AS BIGINT) AS C2, CAST(sum(r2) AS BIGINT) AS R2,
        |    CAST(sum(o3) AS BIGINT) AS O3, CAST(sum(c3) AS BIGINT) AS C3, CAST(sum(r3) AS BIGINT) AS R3
        |  FROM base GROUP BY source),
        |m AS (SELECT source, n_pairs,
        |    ((CASE WHEN C1 = 0 THEN 0.0 ELSE CAST(O1 AS DOUBLE) / CAST(C1 AS DOUBLE) END
        |      + CASE WHEN C2 = 0 THEN 0.0 ELSE CAST(O2 AS DOUBLE) / CAST(C2 AS DOUBLE) END)
        |      + CASE WHEN C3 = 0 THEN 0.0 ELSE CAST(O3 AS DOUBLE) / CAST(C3 AS DOUBLE) END) / 3.0 AS pa,
        |    ((CASE WHEN R1 = 0 THEN 0.0 ELSE CAST(O1 AS DOUBLE) / CAST(R1 AS DOUBLE) END
        |      + CASE WHEN R2 = 0 THEN 0.0 ELSE CAST(O2 AS DOUBLE) / CAST(R2 AS DOUBLE) END)
        |      + CASE WHEN R3 = 0 THEN 0.0 ELSE CAST(O3 AS DOUBLE) / CAST(R3 AS DOUBLE) END) / 3.0 AS ra
        |  FROM g)
        |SELECT source, n_pairs, round(pa, 6) AS prec6, round(ra, 6) AS rec6,
        |  round(CASE WHEN 4.0 * pa + ra = 0.0 THEN 0.0
        |    ELSE 5.0 * pa * ra / (4.0 * pa + ra) END, 6) AS chrf6
        |FROM m ORDER BY source""".stripMargin,

    // tie-corrected Mann-Whitney AUC on the (lang, score) GRID — the window
    // runs over distinct integer scores, never documents; 2*numerator stays
    // an exact integer and AUC is one divide
    "quality_auc" ->
      """WITH tok AS (SELECT doc_id, lang,
        |    unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS w
        |  FROM documents),
        |per AS (SELECT doc_id, lang, w, count(1) AS c FROM tok GROUP BY 1, 2, 3),
        |ds AS (SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS tot,
        |    CAST(count(1) AS BIGINT) AS dist, max(c) AS mx FROM per GROUP BY 1, 2),
        |sc AS (SELECT lang, (1000000 * dist) // tot AS v,
        |    CASE WHEN mx < 4 THEN 1 ELSE 0 END AS lab FROM ds),
        |g AS (SELECT lang, v, CAST(sum(lab) AS BIGINT) AS p,
        |    CAST(sum(1 - lab) AS BIGINT) AS n FROM sc GROUP BY 1, 2),
        |r AS (SELECT lang, v, p, n,
        |    coalesce(sum(n) OVER (PARTITION BY lang ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumn
        |  FROM g)
        |SELECT lang, CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(n) AS BIGINT) AS n_neg,
        |  round(CAST(sum(p * (2 * cumn + n)) AS DOUBLE)
        |    / (2.0 * CAST(sum(p) AS DOUBLE) * CAST(sum(n) AS DOUBLE)), 6) AS auc6
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    // MRR/NDCG@10 over a deterministic hash-ranked run; per-query windows
    // only (bounded candidate lists); DCG weights and per-query NDCG/RR are
    // 2^-20 grid-quantized so cross-query sums are exact
    "retrieval_eval" ->
      """WITH q AS (SELECT doc_id AS qid FROM documents WHERE doc_id % 101 = 0),
        |run AS (SELECT qid, d.doc_id AS did,
        |    md5(CAST(qid AS VARCHAR) || '_' || CAST(d.doc_id AS VARCHAR)) AS score,
        |    CASE (d.doc_id * 7 + qid) % 10 WHEN 0 THEN 3 WHEN 1 THEN 2
        |      WHEN 2 THEN 1 WHEN 3 THEN 1 ELSE 0 END AS rel,
        |    qid % 4 AS bucket
        |  FROM q JOIN documents d ON d.doc_id > qid AND d.doc_id <= qid + 50),
        |ranked AS (SELECT *,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, rel) AS rnk,
        |    row_number() OVER (PARTITION BY qid ORDER BY rel DESC, score DESC) AS irnk,
        |    CASE WHEN rel <= 0 THEN 0.0 WHEN rel = 1 THEN 1.0
        |      WHEN rel = 2 THEN 3.0 ELSE 7.0 END AS gain
        |  FROM run),
        |perq AS (SELECT qid, bucket,
        |    sum(CASE WHEN rnk <= 10
        |      THEN gain * (floor((1.0 / log2(CAST(rnk AS DOUBLE) + 1.0)) * 1048576.0) / 1048576.0)
        |      ELSE 0.0 END) AS dcg,
        |    sum(CASE WHEN irnk <= 10
        |      THEN gain * (floor((1.0 / log2(CAST(irnk AS DOUBLE) + 1.0)) * 1048576.0) / 1048576.0)
        |      ELSE 0.0 END) AS idcg,
        |    min(CASE WHEN rel >= 2 THEN rnk END) AS first
        |  FROM ranked GROUP BY 1, 2),
        |scored AS (SELECT bucket,
        |    floor((CASE WHEN idcg > 0.0 THEN dcg / idcg ELSE 0.0 END) * 1048576.0) / 1048576.0 AS ndcg,
        |    coalesce(floor((1.0 / CAST(first AS DOUBLE)) * 1048576.0) / 1048576.0, 0.0) AS rr
        |  FROM perq)
        |SELECT bucket, CAST(count(1) AS BIGINT) AS n_queries,
        |  CAST(count(CASE WHEN rr > 0.0 THEN 1 END) AS BIGINT) AS n_hit,
        |  round(sum(rr) / CAST(count(1) AS DOUBLE), 6) AS mrr6,
        |  round(sum(ndcg) / CAST(count(1) AS DOUBLE), 6) AS ndcg6
        |FROM scored GROUP BY bucket ORDER BY bucket""".stripMargin,

    // CDC latest-wins via arg_max over the version struct; prices ride as
    // integer cents so the whole application path is exact
    "cdc_apply" -> cdcApplyOracleSql,

    // the streaming consumer's final snapshot == the batch application —
    // the oracle is cdc_apply's verbatim
    "stream_cdc_apply" -> cdcApplyOracleSql,

    // IVM: base view + one grouped delta frame == the full recompute —
    // cdc_apply's oracle again, the strongest pin available
    "incremental_view" -> cdcApplyOracleSql,

    "knn_graph" -> knnGraphOracleSql,
    "knn_graph_search" -> knnGraphSearchOracleSql,

    // 2-D skyline on the (source, x) grid: max-y columns, strictly-greater
    // prefix max over the GRID, survivors rejoin for multiplicity
    "skyline_select" -> skylineOracleSql,

    // the streaming twin's drained grid feeds the SAME skylineFromGrid —
    // final front pinned identical to the batch row, oracle verbatim
    "stream_skyline" -> skylineOracleSql,

    // one fixed IEEE expression over four exact BIGINT user/converter
    // counts; variant and conversion are row-local rules
    "ab_test" -> abTestOracleSql,

    // the drained per-user conversion state feeds the SAME Graft.abTest
    // readout — final line pinned identical to the batch row
    "stream_ab_test" -> abTestOracleSql,

    // winsorize: exact 4dp-rounded percentile clamps, DECIMAL-exact sums
    "winsorized_stats" ->
      """WITH q AS (SELECT event_type, CAST(count(1) AS BIGINT) AS n_rows,
        |    round(quantile_cont(value, 0.05), 4) AS lo,
        |    round(quantile_cont(value, 0.95), 4) AS hi
        |  FROM events GROUP BY 1),
        |f AS (SELECT e.event_type, q.n_rows,
        |    least(greatest(e.value, q.lo), q.hi) AS w, e.value AS v
        |  FROM events e JOIN q USING (event_type))
        |SELECT event_type, n_rows,
        |  CAST(sum(CASE WHEN w <> v THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
        |  round(CAST(sum(CAST(w AS DECIMAL(18,4))) AS DOUBLE)
        |    / CAST(n_rows AS DOUBLE), 2) AS wmean2,
        |  round(CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE)
        |    / CAST(n_rows AS DOUBLE), 2) AS raw_mean2
        |FROM f GROUP BY 1, 2 ORDER BY event_type""".stripMargin,

    // the integer EWMA recursion replayed as a recursive CTE over the
    // gap-filled hour spine — grid-sized, bit-identical DIV arithmetic
    "ewma_monitor" -> ewmaMonitorOracleSql,

    // the stream folds the SAME grid forward from a 4-integer carry;
    // final state == the batch monitor — oracle verbatim
    "stream_ewma" -> ewmaMonitorOracleSql,

    "embedding_drift" -> embeddingDriftOracleSql,

    // first/last touch via min_by/max_by on the (ts, event_id) total
    // order; oracle replays with per-user row_number windows
    "attribution_touch" ->
      """WITH conv AS (SELECT user_id, ts AS cts, event_id AS cid FROM (
        |    SELECT user_id, ts, event_id,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events WHERE event_type = 'purchase' AND value > 180)
        |  WHERE rn = 1),
        |touches AS (SELECT e.user_id, e.event_type AS ch, e.ts, e.event_id
        |  FROM events e JOIN conv c ON e.user_id = c.user_id
        |  WHERE NOT (e.event_type = 'purchase' AND e.value > 180)
        |    AND (e.ts < c.cts OR (e.ts = c.cts AND e.event_id < c.cid))),
        |pf AS (SELECT user_id, ch AS first_ch FROM (
        |    SELECT user_id, ch,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM touches) WHERE rn = 1),
        |pl AS (SELECT user_id, ch AS last_ch FROM (
        |    SELECT user_id, ch,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM touches) WHERE rn = 1),
        |per AS (SELECT pf.user_id, first_ch, last_ch
        |  FROM pf JOIN pl ON pf.user_id = pl.user_id),
        |tot AS (SELECT CAST(count(1) AS BIGINT) AS n FROM per),
        |f AS (SELECT first_ch AS channel, CAST(count(1) AS BIGINT) AS n_first
        |  FROM per GROUP BY 1),
        |l AS (SELECT last_ch AS channel, CAST(count(1) AS BIGINT) AS n_last
        |  FROM per GROUP BY 1)
        |SELECT channel, coalesce(n_first, 0) AS n_first,
        |  coalesce(n_last, 0) AS n_last,
        |  round(CAST(coalesce(n_first, 0) AS DOUBLE) / CAST(n AS DOUBLE), 4) AS first_share4,
        |  round(CAST(coalesce(n_last, 0) AS DOUBLE) / CAST(n AS DOUBLE), 4) AS last_share4
        |FROM f FULL JOIN l USING (channel) CROSS JOIN tot
        |ORDER BY channel""".stripMargin,

    // seasonal-naive backtest: train on the first half of the hour span,
    // floor-mean per (type, hour-of-day), exact integer MAE/bias
    "forecast_baseline" ->
      """WITH obs AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |    CAST(count(1) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |bounds0 AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1
        |  FROM obs GROUP BY 1),
        |spine AS (SELECT event_type,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM bounds0),
        |filled AS (SELECT s.event_type, s.hour, coalesce(o.c, 0) AS c,
        |    hour(s.hour) AS hod
        |  FROM spine s LEFT JOIN obs o
        |    ON o.event_type = s.event_type AND o.hour = s.hour),
        |b AS (SELECT CAST(epoch(min(hour)) AS BIGINT) AS mn,
        |    CAST(epoch(max(hour)) AS BIGINT) AS mx FROM filled),
        |f2 AS (SELECT filled.*,
        |    CAST(epoch(hour) AS BIGINT) >= (mn + mx) // 2 AS is_test
        |  FROM filled CROSS JOIN b),
        |train AS (SELECT event_type, hod,
        |    CAST(sum(c) // count(1) AS BIGINT) AS pred
        |  FROM f2 WHERE NOT is_test GROUP BY 1, 2)
        |SELECT f2.event_type, CAST(count(1) AS BIGINT) AS n_test_hours,
        |  round(CAST(sum(abs(c - coalesce(pred, 0))) AS DOUBLE)
        |    / CAST(count(1) AS DOUBLE), 2) AS mae2,
        |  CAST(sum(c - coalesce(pred, 0)) AS BIGINT) AS bias_sum
        |FROM f2 LEFT JOIN train
        |  ON train.event_type = f2.event_type AND train.hod = f2.hod
        |WHERE is_test GROUP BY f2.event_type ORDER BY f2.event_type""".stripMargin,

    "label_noise_audit" -> labelNoiseAuditOracleSql,

    "sql_scripting" -> sqlScriptingOracleSql,

    // the backward ASOF match bounded by a 1-hour staleness window —
    // truncated-epoch arithmetic both engines
    "asof_join_tolerance" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, max(event_id) AS click_id FROM events
        |  WHERE event_type = 'click' GROUP BY user_id, ts),
        |purchases AS (
        |  SELECT event_id AS purchase_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, c.click_id, c.ts AS click_ts
        |FROM purchases p ASOF JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |WHERE CAST(epoch(p.ts) AS BIGINT) - CAST(epoch(c.ts) AS BIGINT) <= 3600
        |ORDER BY purchase_id""".stripMargin,

    // NFC via DuckDB's utf8proc twin of the native NfcNormalize expression;
    // decomposed sequences injected so the normalizer provably fires
    "text_normalize" ->
      """WITH aug AS (SELECT source,
        |    CASE WHEN doc_id % 13 = 4 THEN text || ' cafe' || chr(769)
        |         ELSE text END AS raw
        |  FROM documents),
        |n AS (SELECT source, raw, nfc_normalize(raw) AS norm FROM aug)
        |SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN length(norm) <> length(raw) THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(length(raw)) AS BIGINT) AS chars_before,
        |  CAST(sum(length(norm)) AS BIGINT) AS chars_after
        |FROM n GROUP BY source ORDER BY source""".stripMargin,

    // the stream's packing == the batch cumsum under the ARRIVAL order
    // (mod-2 staging → (doc_id % 2, doc_id) — the streamOnlineDedup
    // closed-form-arrival convention)
    "stream_pack_sequences" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        sum(n_tokens) OVER (ORDER BY doc_id % 2, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS strt
        |      FROM t)
        |SELECT CAST(strt // 2048 AS BIGINT) AS seq_id, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens, min(doc_id) AS first_doc
        |FROM c GROUP BY 1 ORDER BY seq_id""".stripMargin,

    // Pearson on exact BIGINT moments; Spearman average ranks from the
    // (source, value) GRID — one fixed IEEE expression both engines
    "signal_correlation" ->
      """WITH base AS (SELECT source AS s,
        |    (1000000 * len(list_distinct(l))) // len(l) AS x,
        |    CAST(n_chars AS BIGINT) AS y
        |  FROM (SELECT source, n_chars,
        |      list_filter(string_split(text, ' '), x -> len(x) > 0) AS l FROM documents)),
        |rx AS (SELECT s, v AS x, CAST(below AS DOUBLE) + CAST(c + 1 AS DOUBLE) / 2.0 AS r
        |  FROM (SELECT s, v, c, coalesce(sum(c) OVER (PARTITION BY s ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |    FROM (SELECT s, x AS v, CAST(count(1) AS BIGINT) AS c FROM base GROUP BY 1, 2))),
        |ry AS (SELECT s, v AS y, CAST(below AS DOUBLE) + CAST(c + 1 AS DOUBLE) / 2.0 AS r
        |  FROM (SELECT s, v, c, coalesce(sum(c) OVER (PARTITION BY s ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |    FROM (SELECT s, y AS v, CAST(count(1) AS BIGINT) AS c FROM base GROUP BY 1, 2))),
        |j AS (SELECT base.s, base.x, base.y, rx.r AS rrx, ry.r AS rry
        |  FROM base JOIN rx ON base.s = rx.s AND base.x = rx.x
        |  JOIN ry ON base.s = ry.s AND base.y = ry.y),
        |m AS (SELECT s, CAST(count(1) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    sum(rrx) AS srx, sum(rry) AS sry, sum(rrx * rry) AS srxy,
        |    sum(rrx * rrx) AS srxx, sum(rry * rry) AS sryy
        |  FROM j GROUP BY s)
        |SELECT s AS source, n,
        |  round(CASE WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |           * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) = 0.0
        |    THEN 0.0
        |    ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    END, 6) AS pearson6,
        |  round(CASE WHEN sqrt(CAST(n AS DOUBLE) * srxx - srx * srx)
        |           * sqrt(CAST(n AS DOUBLE) * sryy - sry * sry) = 0.0
        |    THEN 0.0
        |    ELSE (CAST(n AS DOUBLE) * srxy - srx * sry)
        |      / (sqrt(CAST(n AS DOUBLE) * srxx - srx * srx)
        |       * sqrt(CAST(n AS DOUBLE) * sryy - sry * sry))
        |    END, 6) AS spearman6
        |FROM m ORDER BY source""".stripMargin,

    // MI on the (lang, bucket, source) grid with every ln on the 2^-20 grid
    "mutual_information" ->
      """WITH base AS (SELECT lang AS s,
        |    least(((1000000 * len(list_distinct(l))) // len(l)) // 100000, 9) AS a,
        |    source AS b
        |  FROM (SELECT lang, source,
        |      list_filter(string_split(text, ' '), x -> len(x) > 0) AS l FROM documents)),
        |ab AS (SELECT s, a, b, CAST(count(1) AS BIGINT) AS c FROM base GROUP BY 1, 2, 3),
        |ca AS (SELECT s, a, CAST(sum(c) AS BIGINT) AS ca FROM ab GROUP BY 1, 2),
        |cb AS (SELECT s, b, CAST(sum(c) AS BIGINT) AS cb FROM ab GROUP BY 1, 2),
        |nn AS (SELECT s, CAST(sum(c) AS BIGINT) AS n FROM ab GROUP BY 1),
        |terms AS (SELECT ab.s, nn.n,
        |    CAST(c AS DOUBLE) * ((floor(ln(CAST(c AS DOUBLE)) * 1048576.0) / 1048576.0)
        |      + (floor(ln(CAST(n AS DOUBLE)) * 1048576.0) / 1048576.0)
        |      - (floor(ln(CAST(ca AS DOUBLE)) * 1048576.0) / 1048576.0)
        |      - (floor(ln(CAST(cb AS DOUBLE)) * 1048576.0) / 1048576.0)) AS term
        |  FROM ab JOIN ca USING (s, a) JOIN cb USING (s, b) JOIN nn USING (s)),
        |mi AS (SELECT s, max(n) AS n, sum(term) AS mi_sum FROM terms GROUP BY s),
        |ha AS (SELECT ca.s,
        |    (floor(ln(CAST(max(nn.n) AS DOUBLE)) * 1048576.0) / 1048576.0)
        |      - sum(CAST(ca AS DOUBLE) * (floor(ln(CAST(ca AS DOUBLE)) * 1048576.0) / 1048576.0))
        |        / CAST(max(nn.n) AS DOUBLE) AS h
        |  FROM ca JOIN nn USING (s) GROUP BY ca.s)
        |SELECT mi.s AS lang, CAST(mi.n AS BIGINT) AS n,
        |  round(mi_sum / CAST(mi.n AS DOUBLE), 6) AS mi6,
        |  round(h, 6) AS h_a6
        |FROM mi JOIN ha ON mi.s = ha.s ORDER BY lang""".stripMargin,

    // per-source datasheet: three grouped aggregates joined on the source
    // frame; entropy on the 2^-20 ln grid, everything else integer-exact
    "dataset_card" ->
      """WITH base AS (SELECT source AS s, lang AS l, md5(text) AS fp,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS ntok,
        |    CAST(length(text) AS BIGINT) AS nchar,
        |    (1000000 * len(list_distinct(list_filter(string_split(text, ' '), x -> len(x) > 0))))
        |      // len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS uniq
        |  FROM documents),
        |vol AS (SELECT s, CAST(count(1) AS BIGINT) AS n_docs,
        |    CAST(sum(ntok) AS BIGINT) AS n_tokens, CAST(sum(nchar) AS BIGINT) AS n_chars,
        |    CAST(sum(uniq) AS BIGINT) AS uniq_sum
        |  FROM base GROUP BY s),
        |dup AS (SELECT s, CAST(coalesce(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0) AS BIGINT) AS dup_docs
        |  FROM (SELECT s, fp, count(1) AS c FROM base GROUP BY 1, 2) GROUP BY s),
        |langs AS (SELECT s, l, CAST(count(1) AS BIGINT) AS c FROM base GROUP BY 1, 2),
        |mix AS (SELECT s, CAST(count(DISTINCT l) AS BIGINT) AS n_langs,
        |    CAST(sum(c) AS BIGINT) AS n,
        |    sum(CAST(c AS DOUBLE) * (floor(ln(CAST(c AS DOUBLE)) * 1048576.0) / 1048576.0)) AS clnc
        |  FROM langs GROUP BY s)
        |SELECT s AS source, n_docs, n_tokens, n_chars,
        |  round(CAST(dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 4) AS dup_rate4,
        |  n_langs,
        |  round(floor(ln(CAST(n AS DOUBLE)) * 1048576.0) / 1048576.0
        |    - clnc / CAST(n AS DOUBLE), 6) AS lang_entropy6,
        |  round(CAST(uniq_sum AS DOUBLE) / CAST(n_docs AS DOUBLE), 2) AS mean_uniq_ppm2
        |FROM vol JOIN dup USING (s) JOIN mix USING (s)
        |ORDER BY source""".stripMargin,

    // verbosity-bias audit: id-adjacent disjoint pairs via an equi join on
    // doc_id+1; chosen = higher integer uniqueness score, all-exact sums
    "preference_stats" ->
      """WITH sc AS (SELECT doc_id, source, n_chars,
        |    (1000000 * len(list_distinct(l))) // len(l) AS score
        |  FROM (SELECT doc_id, source, n_chars,
        |      list_filter(string_split(text, ' '), x -> len(x) > 0) AS l
        |    FROM documents)),
        |a AS (SELECT doc_id AS a_id, source, n_chars AS a_len, score AS a_score
        |  FROM sc WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id - 1 AS a_id, n_chars AS b_len, score AS b_score FROM sc),
        |p AS (SELECT source,
        |    CASE WHEN a_score >= b_score THEN a_len ELSE b_len END AS cl,
        |    CASE WHEN a_score >= b_score THEN b_len ELSE a_len END AS rl,
        |    greatest(a_score, b_score) AS cs, least(a_score, b_score) AS rs
        |  FROM a JOIN b USING (a_id))
        |SELECT source, CAST(count(1) AS BIGINT) AS n_pairs,
        |  round(CAST(count(CASE WHEN cl > rl THEN 1 END) AS DOUBLE) / count(1), 4) AS longer_win_rate4,
        |  round(CAST(count(CASE WHEN cl = rl THEN 1 END) AS DOUBLE) / count(1), 4) AS len_tie_rate4,
        |  round(CAST(sum(cl - rl) AS DOUBLE) / count(1), 2) AS mean_len_delta2,
        |  round(CAST(sum(cs - rs) AS DOUBLE) / count(1), 2) AS mean_score_gap2
        |FROM p GROUP BY source ORDER BY source""".stripMargin,

    // the Spark side parses the serialized JSON transcripts with from_json;
    // the oracle pins the same stats in closed form over the token counts
    // (turn i covers tokens (i-1)*8+1..i*8, assistant = even i)
    "dialog_stats" ->
      """WITH t AS (SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS ntok
        |  FROM documents),
        |d AS (SELECT source, ntok, (ntok + 7) // 8 AS turns,
        |    (ntok // 16) * 8 + greatest(ntok % 16 - 8, 0) AS atok
        |  FROM t)
        |SELECT source, CAST(count(1) AS BIGINT) AS n_dialogs,
        |  CAST(sum(turns) AS BIGINT) AS n_turns,
        |  round(CAST(sum(turns) AS DOUBLE) / count(1), 4) AS avg_turns4,
        |  round(CASE WHEN sum(ntok) = 0 THEN 0.0
        |    ELSE CAST(sum(atok) AS DOUBLE) / CAST(sum(ntok) AS DOUBLE) END, 4) AS asst_token_share4,
        |  round(CAST(count(CASE WHEN turns % 2 = 0 AND turns > 0 THEN 1 END) AS DOUBLE) / count(1), 4) AS ends_asst_rate4
        |FROM d GROUP BY source ORDER BY source""".stripMargin,

    // Matryoshka truncation recall: per-dim prefix-cosine top-5 vs the
    // full-dim top-5; scores round to 6dp before ranking (id tiebreak),
    // recall is one divide of exact integer overlap counts
    "embedding_truncate" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        |q AS (SELECT vec_id AS qid, ev AS qv FROM v WHERE vec_id % 37 = 0 AND vec_id < 500),
        |pf AS (SELECT qid, c.vec_id AS cid,
        |    round(list_dot_product(qv, c.ev)
        |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.ev, c.ev))), 6) AS s
        |  FROM q JOIN v c ON qid <> c.vec_id),
        |rf AS (SELECT qid, cid FROM (SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY s DESC, cid) AS rn FROM pf)
        |  WHERE rn <= 5),
        |nq AS (SELECT CAST(count(DISTINCT qid) AS BIGINT) AS n FROM rf),
        |pd8 AS (SELECT qid, c.vec_id AS cid,
        |    round(list_dot_product(qv[1:8], c.ev[1:8])
        |      / (sqrt(list_dot_product(qv[1:8], qv[1:8]))
        |       * sqrt(list_dot_product(c.ev[1:8], c.ev[1:8]))), 6) AS s
        |  FROM q JOIN v c ON qid <> c.vec_id),
        |rd8 AS (SELECT qid, cid FROM (SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY s DESC, cid) AS rn FROM pd8)
        |  WHERE rn <= 5),
        |ov8 AS (SELECT CAST(count(1) AS BIGINT) AS o FROM rd8 JOIN rf USING (qid, cid)),
        |pd16 AS (SELECT qid, c.vec_id AS cid,
        |    round(list_dot_product(qv[1:16], c.ev[1:16])
        |      / (sqrt(list_dot_product(qv[1:16], qv[1:16]))
        |       * sqrt(list_dot_product(c.ev[1:16], c.ev[1:16]))), 6) AS s
        |  FROM q JOIN v c ON qid <> c.vec_id),
        |rd16 AS (SELECT qid, cid FROM (SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY s DESC, cid) AS rn FROM pd16)
        |  WHERE rn <= 5),
        |ov16 AS (SELECT CAST(count(1) AS BIGINT) AS o FROM rd16 JOIN rf USING (qid, cid)),
        |pd32 AS (SELECT qid, c.vec_id AS cid,
        |    round(list_dot_product(qv[1:32], c.ev[1:32])
        |      / (sqrt(list_dot_product(qv[1:32], qv[1:32]))
        |       * sqrt(list_dot_product(c.ev[1:32], c.ev[1:32]))), 6) AS s
        |  FROM q JOIN v c ON qid <> c.vec_id),
        |rd32 AS (SELECT qid, cid FROM (SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY s DESC, cid) AS rn FROM pd32)
        |  WHERE rn <= 5),
        |ov32 AS (SELECT CAST(count(1) AS BIGINT) AS o FROM rd32 JOIN rf USING (qid, cid))
        |SELECT dim, n AS n_queries, o AS overlap,
        |  round(CAST(o AS DOUBLE) / CAST(n * 5 AS DOUBLE), 6) AS recall6
        |FROM (
        |  SELECT 8 AS dim, n, o FROM nq CROSS JOIN ov8
        |  UNION ALL SELECT 16, n, o FROM nq CROSS JOIN ov16
        |  UNION ALL SELECT 32, n, o FROM nq CROSS JOIN ov32)
        |ORDER BY dim""".stripMargin,

    // LPT as a recursive CTE over the ranked source grid: argmin load via
    // list_position(loads, min) — first occurrence = lowest worker id,
    // the same tie-break as the Scala fold's indexOf
    "greedy_balance" ->
      """WITH RECURSIVE g AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(string_split(text, ' '), x -> len(x) > 0))) AS BIGINT) AS t
        |  FROM documents GROUP BY source),
        |ranked AS (
        |  SELECT source, t,
        |    CAST(row_number() OVER (ORDER BY t DESC, source ASC) AS BIGINT) AS i
        |  FROM g),
        |step(i, loads, src, tt, w) AS (
        |  SELECT CAST(0 AS BIGINT), [0, 0, 0, 0]::BIGINT[],
        |    CAST(NULL AS VARCHAR), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT r.i,
        |    list_transform(range(1, len(s.loads) + 1),
        |      j -> CASE WHEN j = list_position(s.loads, list_aggregate(s.loads, 'min'))
        |                THEN s.loads[CAST(j AS INTEGER)] + r.t
        |                ELSE s.loads[CAST(j AS INTEGER)] END),
        |    r.source, r.t,
        |    CAST(list_position(s.loads, list_aggregate(s.loads, 'min')) AS BIGINT)
        |  FROM step s JOIN ranked r ON r.i = s.i + 1),
        |fin AS (SELECT loads FROM step ORDER BY i DESC LIMIT 1),
        |tot AS (SELECT CAST(sum(t) AS BIGINT) AS tot, CAST(max(t) AS BIGINT) AS mx FROM ranked),
        |o AS (
        |  SELECT s.i AS rank, s.src AS source, s.tt AS tokens, s.w AS worker,
        |    s.loads[CAST(s.w AS INTEGER)] AS worker_load,
        |    (SELECT list_aggregate(loads, 'max') FROM fin) AS makespan,
        |    greatest((tot + 3) // 4, mx) AS lb
        |  FROM step s CROSS JOIN tot WHERE s.i > 0)
        |SELECT rank, source, tokens, worker, worker_load, makespan, lb,
        |  round(CAST(makespan AS DOUBLE) / CAST(lb AS DOUBLE), 6) AS balance6
        |FROM o ORDER BY rank""".stripMargin,

    // unigram^0.75 as sqrt(sqrt(c³)) — IEEE sqrt is correctly rounded in
    // both engines, unlike a libm pow; 2^-20 quantized mass sums
    "negative_sampling_table" ->
      """WITH t AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS token
        |  FROM documents),
        |v AS (SELECT token, CAST(count(1) AS BIGINT) AS c FROM t GROUP BY token),
        |w AS (SELECT token, c,
        |    CAST(floor(1048576.0 * sqrt(sqrt(
        |      CAST(c AS DOUBLE) * CAST(c AS DOUBLE) * CAST(c AS DOUBLE)))) AS BIGINT) AS wq
        |  FROM v),
        |tm AS (SELECT CAST(sum(wq) AS BIGINT) AS tm, count(1) AS vocab_size FROM w),
        |h AS (SELECT token, c, wq,
        |    CAST(row_number() OVER (ORDER BY c DESC, token ASC) AS INTEGER) AS rank
        |  FROM w QUALIFY rank <= 64)
        |SELECT rank, token, c AS n_occurrences, vocab_size,
        |  round(CAST(wq AS DOUBLE) / CAST(tm AS DOUBLE), 6) AS prob6,
        |  round(CAST(sum(wq) OVER (ORDER BY rank) AS DOUBLE) / CAST(tm AS DOUBLE), 6) AS cum6
        |FROM h CROSS JOIN tm ORDER BY rank""".stripMargin,

    // exact distinct counts stand in for the coupon-regime HLL estimates;
    // inclusion-exclusion + ratio4 Jaccard on the type-pair grid
    "hll_intersect" ->
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
        |c AS (SELECT event_type, CAST(count(1) AS BIGINT) AS n FROM u GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.n AS n_a, b.n AS n_b
        |  FROM c a JOIN c b ON a.event_type < b.event_type),
        |i AS (SELECT ua.event_type AS type_a, ub.event_type AS type_b,
        |    CAST(count(1) AS BIGINT) AS ni
        |  FROM u ua JOIN u ub ON ua.user_id = ub.user_id
        |    AND ua.event_type < ub.event_type
        |  GROUP BY 1, 2),
        |z AS (SELECT p.type_a, p.type_b, p.n_a, p.n_b,
        |    p.n_a + p.n_b - coalesce(i.ni, 0) AS n_union,
        |    coalesce(i.ni, 0) AS n_intersect
        |  FROM p LEFT JOIN i ON p.type_a = i.type_a AND p.type_b = i.type_b)
        |SELECT type_a, type_b, n_a, n_b, n_union, n_intersect,
        |  CAST((20000 * n_intersect + n_union) // (2 * n_union) AS DOUBLE) / 10000.0 AS jaccard4
        |FROM z ORDER BY type_a, type_b""".stripMargin,

    // row-local ⌈w/L⌉ arithmetic over the fixed L grid; integer waste
    "packing_efficiency" ->
      """WITH w AS (SELECT
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS w
        |  FROM documents),
        |g AS (SELECT w, unnest([64, 128, 256, 512]) AS ml FROM w),
        |s AS (SELECT w, CAST(ml AS BIGINT) AS max_len,
        |    greatest(1, (w + CAST(ml AS BIGINT) - 1) // CAST(ml AS BIGINT)) AS seqs
        |  FROM g)
        |SELECT max_len, count(1) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS n_tokens,
        |  CAST(sum(seqs) AS BIGINT) AS n_seqs,
        |  CAST(sum(seqs * max_len - w) AS BIGINT) AS pad_tokens,
        |  CAST((20000 * sum(seqs * max_len - w) + sum(seqs) * max_len)
        |    // (2 * sum(seqs) * max_len) AS DOUBLE) / 10000.0 AS waste_share4,
        |  CAST((20000 * count_if(w > max_len) + count(1))
        |    // (2 * count(1)) AS DOUBLE) / 10000.0 AS chunked_share4
        |FROM s GROUP BY max_len ORDER BY max_len""".stripMargin,

    // hourly (type, hour) counters z-scored against the type's own
    // profile; σ floored at 0.5, flag on the rounded z
    "stream_anomaly_gate" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    CAST(count(1) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, CAST(count(1) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
        |  FROM h GROUP BY 1),
        |z AS (SELECT h.event_type, h.hour, h.c,
        |    round((CAST(h.c AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      / greatest(sqrt((CAST(s2 AS DOUBLE)
        |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        / CAST(n AS DOUBLE)), 0.5), 4) AS z4
        |  FROM h JOIN p USING (event_type))
        |SELECT event_type, hour, c, z4, abs(z4) >= 3.0 AS anomaly
        |FROM z ORDER BY event_type, hour""".stripMargin,

    // hourly counts GAP-FILLED onto a dense per-type hour spine (ADVICE
    // r13: the trailing frame is 24 wall-clock hours, and a zero-event
    // hour is a row that can flag), trailing-24 exact integer sums, one
    // fixed IEEE sequence for mean/z both engines; flag compares on the
    // ROUNDED z
    "event_anomalies" ->
      """WITH o AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, count(1) AS c
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, min(hour) AS h0, max(hour) AS h1 FROM o GROUP BY 1),
        |sp AS (
        |  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM b),
        |h AS (
        |  SELECT sp.event_type, sp.hour, CAST(coalesce(o.c, 0) AS BIGINT) AS c
        |  FROM sp LEFT JOIN o ON sp.event_type = o.event_type AND sp.hour = o.hour),
        |w AS (
        |  SELECT event_type, hour, c,
        |    count(1) OVER tw AS n,
        |    CAST(sum(c) OVER tw AS BIGINT) AS s,
        |    CAST(sum(c * c) OVER tw AS BIGINT) AS sq
        |  FROM h
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |zc AS (
        |  SELECT event_type, hour, c,
        |    round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 4) AS trailing_mean,
        |    round((CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      / sqrt(greatest((CAST(sq AS DOUBLE)
        |          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |        / CAST(n AS DOUBLE), 1e-12)), 4) AS z
        |  FROM w WHERE n = 24)
        |SELECT event_type, hour, c, trailing_mean, z,
        |  abs(z) >= 2.0 AS anomaly
        |FROM zc ORDER BY event_type, hour""".stripMargin,

    // bounded-error oracle (the approx_distinct convention): exact side
    // recomputed, the sketch's 2%-band flag expected TRUE
    "sketch_quantiles" ->
      """SELECT l_returnflag, count(1) AS n,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS q25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS q50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS q75,
        |  TRUE AS within_2pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "distinct_counts" ->
      """SELECT count(DISTINCT l_suppkey) AS n_suppliers,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,

    "rollup_sales" ->
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "cube_sales" ->
      """SELECT l_returnflag, l_linestatus, count(1) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "window_funcs" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  CAST(row_number() OVER w AS INTEGER) AS rn,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |  lag(c_acctbal, 1) OVER w AS prev_bal,
        |  lead(c_acctbal, 1) OVER w AS next_bal,
        |  round(sum(c_acctbal) OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC, c_custkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_bal
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
        |ORDER BY c_mktsegment, rn""".stripMargin,

    "topk_per_group" ->
      """SELECT p_brand, rn, p_partkey, p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    CAST(row_number() OVER (PARTITION BY p_brand
        |      ORDER BY p_retailprice DESC, p_partkey ASC) AS INTEGER) AS rn
        |  FROM part) WHERE rn <= 3
        |ORDER BY p_brand, rn""".stripMargin,

    "order_limit" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "set_union" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey""".stripMargin,

    "set_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey""".stripMargin,

    "set_except" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey""".stripMargin,

    "distinct_pairs" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "string_funcs" ->
      """SELECT doc_id,
        |  lower(substring(text, 1, 20)) AS head_lower,
        |  upper(lang) AS lang_upper,
        |  CAST(length(text) AS INTEGER) AS text_len,
        |  source || '/' || lang AS src_lang,
        |  replace(substring(text, 1, 40), ' ', '_') AS head_snake,
        |  split_part(text, ' ', 1) AS first_word,
        |  substring(text, 1, 1) AS first_char
        |FROM documents ORDER BY doc_id""".stripMargin,

    "predicate_funcs" ->
      """SELECT p_partkey, p_brand, p_type, p_size,
        |  CASE WHEN p_size < 20 THEN 'small'
        |       WHEN p_size < 35 THEN 'medium'
        |       ELSE 'large' END AS size_class,
        |  NULLIF(p_size, 25) AS size_or_null,
        |  (NULLIF(p_size, 25) IS NOT DISTINCT FROM CAST(NULL AS INTEGER)) AS is_25
        |FROM part
        |WHERE p_size BETWEEN 10 AND 40
        |  AND (p_type IN ('ECONOMY', 'PROMO', 'STANDARD') OR p_type LIKE '%AR%')
        |ORDER BY p_partkey""".stripMargin,

    "date_funcs" ->
      """SELECT date_trunc('month', o_orderdate) AS order_month,
        |  CAST(year(o_orderdate) AS INTEGER) AS order_year,
        |  count(1) AS n, CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY order_month""".stripMargin,

    "math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_quantity - 25) AS abs_dev,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  round(sqrt(l_quantity), 6) AS qty_sqrt,
        |  round(ln(l_extendedprice), 6) AS price_ln,
        |  round(pow(l_discount + 1, 2), 6) AS disc_pow,
        |  l_orderkey % 7 AS key_mod
        |FROM lineitem WHERE l_orderkey <= 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "json_funcs" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  count(1) AS n
        |FROM events GROUP BY k ORDER BY k NULLS FIRST""".stripMargin,

    "top_customers" ->
      """SELECT c_custkey, c_name, n_orders, revenue FROM (
        |  SELECT o_custkey, count(1) AS n_orders,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY o_custkey) o
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,

    "text_stats" ->
      """SELECT lang, source, count(1) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(avg(n_chars), 4) AS avg_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INTEGER) AS n_re_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // redaction byte-for-byte: same patterns, same rule order, 'g' flag =
    // Spark regexp_replace's replace-all semantics
    "pii_scrub" ->
      """WITH b AS (
        |  SELECT doc_id, text || ' user' || CAST(doc_id AS VARCHAR)
        |    || '@mail.example.com or call 555-'
        |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS body
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(body, '[a-z0-9._]+@[a-z0-9.-]+')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(body, '[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones,
        |  regexp_replace(
        |    regexp_replace(body, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean
        |FROM b ORDER BY doc_id""".stripMargin,

    "lang_id" ->
      """SELECT doc_id, labeled_lang, score_en, score_de, score_fr, score_es,
        |  CASE WHEN score_en >= greatest(score_de, score_fr, score_es) THEN 'en'
        |       WHEN score_de >= greatest(score_fr, score_es) THEN 'de'
        |       WHEN score_fr >= score_es THEN 'fr'
        |       ELSE 'es' END AS predicted_lang
        |FROM (
        |  SELECT doc_id, lang AS labeled_lang,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','is'))) AS INTEGER) AS score_en,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('der','die','das','und','ist'))) AS INTEGER) AS score_de,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('le','la','et','les','est'))) AS INTEGER) AS score_fr,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('el','los','las','es','y'))) AS INTEGER) AS score_es
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "quality_score" ->
      """SELECT doc_id, CAST(nt AS INTEGER) AS n_tokens,
        |  round(p / cl, 4) AS punct_ratio,
        |  round(stop / nt, 4) AS stopword_ratio,
        |  round(least(nt / 100.0, 1.0) * 0.5 + (1.0 - p / cl) * 0.3
        |        + least(stop / nt * 10.0, 1.0) * 0.2, 4) AS quality
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
        |    CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS p,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','is'))) AS DOUBLE) AS stop,
        |    CAST(length(text) AS DOUBLE) AS cl
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // Mirrors Graft.lmPerplexity(addK=1): identical token filter, bigram
    // positions via UNNEST of the range LIST function (the lateral range()
    // TABLE function is rejected by the driver's DuckDB), add-1 bigram model
    // (context totals cast back from HUGEINT), the same 2^-20-quantized ln,
    // and a position-ordered list_reduce fold (0.0 seed is exact Spark-side).
    "quality_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, i AS pos, ts[i - 1] AS prev, ts[i] AS cur
        |  FROM toks, UNNEST(range(2, len(ts) + 1)) AS r(i)),
        |cbg AS (SELECT prev, cur, count(1) AS c FROM bg GROUP BY prev, cur),
        |cctx AS (SELECT prev, CAST(sum(c) AS BIGINT) AS cc FROM cbg GROUP BY prev),
        |vo AS (SELECT count(DISTINCT t) AS vs FROM (SELECT unnest(ts) AS t FROM toks)),
        |sc AS (
        |  SELECT doc_id, pos,
        |    -(floor(ln((CAST(c AS DOUBLE) + 1.0)
        |      / (CAST(cc AS DOUBLE) + 1.0 * CAST(vs AS DOUBLE))) * 1048576.0) / 1048576.0) AS nll
        |  FROM bg JOIN cbg USING (prev, cur) JOIN cctx USING (prev) CROSS JOIN vo)
        |SELECT doc_id, count(1) AS n_bigrams,
        |  round(list_reduce(list(nll ORDER BY pos), (a, b) -> a + b) / count(1), 4) AS nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(text))) AS fp_md5,
        |  substring(md5(lower(trim(text))), 1, 8) AS fp_short
        |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_fingerprint_rolling" -> docFingerprintRollingOracleSql,

    "zorder_layout" -> zorderLayoutOracleSql,
    "zorder_prune_readback" -> zorderPruneReadbackOracleSql,

    // Mirrors Graft.vocabCoverage(20): frequency-ranked vocab with the
    // lexicographic tie-break, left-join OOV counting, integer-exact ratio4.
    "vocab_coverage" ->
      """WITH t AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE length(tok) > 0),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(1) AS cnt FROM t GROUP BY tok
        |    ORDER BY cnt DESC, tok ASC LIMIT 20)),
        |j AS (
        |  SELECT doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM t LEFT JOIN vocab v USING (tok))
        |SELECT doc_id, count(1) AS n_tokens,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  CAST((20000*sum(oov) + count(1)) // (2*count(1)) AS DOUBLE)/10000.0 AS oov_ratio
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Mirrors Graft.chunkDocuments(32, 8): stride 24, window w covers
    // tokens [w*24+1, w*24+32], final window clamped by the list slice.
    "chunk_documents" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    unnest(list_transform(
        |      range(0, CAST(greatest(ceil((len(toks) - 32) / 24.0), 0) AS BIGINT) + 1),
        |      w -> struct_pack(
        |        chunk_id := CAST(w AS INTEGER),
        |        tok_start := CAST(w * 24 + 1 AS INTEGER),
        |        chunk_text := array_to_string(
        |          toks[(CAST(w AS INTEGER) * 24 + 1):(CAST(w AS INTEGER) * 24 + 32)], ' ')))) AS ch
        |  FROM t)
        |SELECT doc_id, ch['chunk_id'] AS chunk_id, ch['tok_start'] AS tok_start,
        |  ch['chunk_text'] AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // Mirrors Graft.quantizeVectors: every step is cross-engine exact
    // (max, one IEEE divide, floor, clamp, dequant multiply), so the
    // comparison runs on UNROUNDED doubles.
    "vector_quantize" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |    greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-12) / 127.0 AS qvec_scale
        |  FROM embeddings)
        |SELECT vec_id, qvec_scale,
        |  array_to_string(list_transform(embedding,
        |    x -> CAST(least(greatest(floor(CAST(x AS DOUBLE) / qvec_scale + 0.5), -127), 127) AS INTEGER)), ',') AS qvec_csv,
        |  list_max(list_transform(embedding,
        |    x -> abs(CAST(x AS DOUBLE)
        |             - least(greatest(floor(CAST(x AS DOUBLE) / qvec_scale + 0.5), -127), 127) * qvec_scale))) AS qvec_max_err
        |FROM q ORDER BY vec_id""".stripMargin,

    "tfidf_top_terms" ->
      """WITH t AS (
        |  SELECT doc_id, term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE length(term) > 0),
        |tf AS (SELECT doc_id, term, count(1) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, count(1) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term,
        |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term ASC) AS INTEGER) AS rn
        |  FROM scored)
        |SELECT doc_id, rn, term, score FROM ranked WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin,

    "pipeline_clean_corpus" ->
      """WITH scored AS (
        |  SELECT doc_id, lang, n_chars, text,
        |    least(nt / 100.0, 1.0) * 0.5 + (1.0 - p / cl) * 0.3
        |      + least(stop / nt * 10.0, 1.0) * 0.2 AS q
        |  FROM (
        |    SELECT doc_id, lang, n_chars, text,
        |      CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
        |      CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS p,
        |      CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','is'))) AS DOUBLE) AS stop,
        |      CAST(length(text) AS DOUBLE) AS cl
        |    FROM documents)),
        |kept AS (SELECT * FROM scored WHERE q >= 0.5),
        |keep_ids AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM kept GROUP BY md5(lower(trim(text))))
        |SELECT doc_id, lang, n_chars, round(q, 4) AS quality
        |FROM kept WHERE doc_id IN (SELECT doc_id FROM keep_ids)
        |ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keep_id,
        |  count(1) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "dedup_near_exact" ->
      """SELECT array_to_string((string_split(text, ' '))[1:10], ' ') AS prefix_key,
        |  min(doc_id) AS keep_id, count(1) AS n_members,
        |  round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    // Mirrors Graft.ngramJaccardCandidates' capped inverted index: shingles
    // whose postings list exceeds maxPostings=128 are dropped from CANDIDATE
    // GENERATION only; exact Jaccard recomputes over the full shingle sets.
    "dedup_ngram_jaccard" ->
      """WITH docs AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
        |sh AS (
        |  SELECT doc_id, lang, source, unnest(shingles) AS shingle FROM (
        |    SELECT doc_id, lang, source,
        |      list_distinct(list_transform(
        |        range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
        |        i -> string_split(text, ' ')[i] || ' ' ||
        |             string_split(text, ' ')[i + 1] || ' ' ||
        |             string_split(text, ' ')[i + 2])) AS shingles
        |    FROM docs)),
        |sizes AS (SELECT doc_id, count(1) AS n_shingles FROM sh GROUP BY 1),
        |postings AS (
        |  SELECT lang, source, shingle, count(1) AS df
        |  FROM sh GROUP BY 1, 2, 3),
        |idx AS (
        |  SELECT sh.doc_id, sh.lang, sh.source, sh.shingle
        |  FROM sh JOIN postings USING (lang, source, shingle)
        |  WHERE df <= 128),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM idx a JOIN idx b
        |    ON a.lang = b.lang AND a.source = b.source
        |   AND a.shingle = b.shingle AND a.doc_id < b.doc_id),
        |inter AS (
        |  SELECT id_a, id_b, count(1) AS n_common
        |  FROM cand
        |  JOIN sh a ON a.doc_id = id_a
        |  JOIN sh b ON b.doc_id = id_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_common,
        |  round(CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE round(CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common), 4) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_embedding" -> dedupEmbeddingOracleSql,

    "dedup_embedding_keep" -> dedupEmbeddingKeepOracleSql,

    "dedup_minhash" -> dedupMinhashOracleSql,

    // the shared signature/banding CTEs aggregated to occupancy instead of
    // joined to pairs; `i` is the band index, `band` the band signature
    "minhash_band_stats" ->
      s"""$minhashSigCtePrefix,
         |occ AS (
         |  SELECT CAST(i AS INTEGER) AS band, band AS bandsig, count(1) AS occ
         |  FROM ex GROUP BY 1, 2),
         |g AS (
         |  SELECT band, count(1) AS n_buckets,
         |    CAST(max(occ) AS BIGINT) AS max_occ,
         |    CAST(sum((occ * (occ - 1)) // 2) AS BIGINT) AS pair_mass
         |  FROM occ GROUP BY band)
         |SELECT band, n_buckets, max_occ, pair_mass,
         |  CASE WHEN pair_mass > 0
         |    THEN CAST((20000 * ((max_occ * (max_occ - 1)) // 2) + pair_mass)
         |      // (2 * pair_mass) AS DOUBLE) / 10000.0
         |    ELSE 0.0 END AS top_share
         |FROM g ORDER BY band""".stripMargin,

    "dedup_incremental" -> dedupIncrementalOracleSql,
    // the fold-in row's contract IS dedup_incremental's oracle: a screen
    // over the folded two-generation index must equal the from-scratch build
    "dedup_index_foldin" -> dedupIncrementalOracleSql,
    "decontaminate_minhash" -> decontaminateMinhashOracleSql,
    // streaming final state == the batch screen — the oracle verbatim
    "stream_decontaminate" -> decontaminateMinhashOracleSql,
    "stream_online_dedup" -> streamOnlineDedupOracleSql,
    // the whole ingest-time curation loop is closed-form under tercile
    // arrival order — gate → ordered keep-first → eval screen → DSIR
    "stream_online_curate" -> streamOnlineCurateOracleSql,
    // the stateless ingest shape must flag the identical set
    "stream_decontaminate_stateless" -> decontaminateMinhashOracleSql,

    "dedup_simhash" -> dedupSimhashOracleSql,
    "dedup_simhash_wide" -> dedupSimhashWideOracleSql,

    "dedup_semantic" -> dedupSemanticOracleSql,
    "dedup_paragraphs" -> dedupParagraphsOracleSql,
    "dedup_span_rewrite" -> dedupSpanRewriteOracleSql,

    "dsir_select" -> dsirSelectOracleSql,

    "textrank_keywords" -> textrankOracleSql,

    "graph_triangles" -> graphTrianglesOracleSql,

    "label_propagation" -> labelPropagationOracleSql,

    "bpe_pair_counts" -> bpePairCountsOracleSql,

    "bpe_merges" -> bpeMergesOracleSql,

    "bpe_encode" -> bpeEncodeOracleSql,

    "knn_lsh" -> knnLshOracleSql,

    "knn_ivf" -> knnIvfOracleSql,
    // the at-rest model answers bit-identically to the in-memory one
    // (float parquet round-trip is exact) — knn_ivf's oracle, verbatim
    "knn_ivf_persisted" -> knnIvfOracleSql,
    "knn_ivf_refresh" -> knnIvfRefreshOracleSql,

    "knn_pq" -> knnPqOracleSql,

    "knn_ivfpq" -> knnIvfPqOracleSql,

    "knn_pq_sampled" -> knnPqSampledOracleSql,

    "knn_refine" -> knnRefineOracleSql,

    "knn_mmr" -> knnMmrOracleSql,
    "hybrid_rrf" -> hybridRrfOracleSql,

    "embedding_pca" -> embeddingPcaOracleSql,

    "embedding_outliers" -> embeddingOutliersOracleSql,

    "hard_negatives" -> hardNegativesOracleSql,

    "ann_index_stats" -> annIndexStatsOracleSql,

    "ann_recall" -> annRecallOracleSql,

    "ann_probe_sweep" -> annProbeSweepOracleSql,

    "scd2_history" -> scd2HistoryOracleSql,

    "quality_classifier" -> qualityClassifierOracleSql,

    "stream_classify" -> streamClassifyOracleSql,

    "stream_dsir" -> streamDsirOracleSql,
    // streaming final state == the batch brute-force answer — the oracle
    // is knn_bruteforce's, verbatim
    "stream_knn" -> knnBruteForceOracleSql,
    // TTL-evicting serving state, TTL beyond the bounded stream: final
    // state must still equal the batch brute-force answer
    "stream_knn_ttl" -> knnBruteForceOracleSql,
    // eviction witness: each key's final state is the brute-force top-5 of
    // its LAST probe vector — keys 0..4 revisit with vectors 20..24 AFTER
    // their 1-hour idle TTL fired, so a hash match proves the pre-eviction
    // state did NOT merge into the revisit answer (a no-evict run would
    // produce per-candidate best-of-both-vectors scores instead)
    "stream_knn_ttl_evict" ->
      """WITH probes AS (
        |  SELECT i AS q_id, CASE WHEN i < 5 THEN i + 20 ELSE i END AS src_id
        |  FROM range(0, 10) t(i)),
        |q AS (
        |  SELECT p.q_id, e.embedding AS qv
        |  FROM probes p JOIN embeddings e ON e.vec_id = p.src_id),
        |c AS (SELECT vec_id AS c_id, embedding AS cv, label FROM embeddings),
        |p AS (
        |  SELECT q_id, c_id, label,
        |    round(list_dot_product(qv::DOUBLE[], cv::DOUBLE[]) /
        |      (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) *
        |       sqrt(list_dot_product(cv::DOUBLE[], cv::DOUBLE[]))), 6) AS score6
        |  FROM q JOIN c ON q_id <> c_id),
        |r AS (
        |  SELECT q_id, c_id, label, score6,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY score6 DESC, c_id ASC) AS INTEGER) AS rn
        |  FROM p)
        |SELECT q_id, rn, c_id, label, round(score6, 4) AS cos_sim
        |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    // per-batch probes of the persisted IVF index; the union of per-batch
    // answers must equal the batch IVF answer — knn_ivf's closed-form
    // unroll, verbatim (the at-rest index is bit-identical to the model)
    "stream_knn_ivf" -> knnIvfOracleSql,

    "pmi_cooccur" -> pmiCooccurOracleSql,

    "doc_winnowing" -> docWinnowingOracleSql,

    "source_report" -> sourceReportOracleSql,

    "source_divergence" -> sourceDivergenceOracleSql,

    "doc_novelty" -> docNoveltyOracleSql,

    "pipeline_select_dsir" -> pipelineSelectDsirOracleSql,
    "pipeline_end_to_end" -> pipelineEndToEndOracleSql,

    "pipeline_apply_mixture" -> pipelineApplyMixtureOracleSql,

    "dedup_substring" -> dedupSubstringOracleSql,

    "dedup_winnow" -> dedupWinnowOracleSql,

    "dedup_winnow_keep" -> dedupWinnowKeepOracleSql,

    "quality_gopher" -> qualityGopherOracleSql,

    "knn_bruteforce" -> knnBruteForceOracleSql,

    "vector_stats" ->
      """SELECT label, count(1) AS n_vectors,
        |  round(avg(norm), 4) AS avg_norm,
        |  round(min(norm), 4) AS min_norm,
        |  round(max(norm), 4) AS max_norm,
        |  round(avg(dim1), 6) AS avg_dim1
        |FROM (
        |  SELECT label,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
        |    CAST(embedding[1] AS DOUBLE) AS dim1
        |  FROM embeddings)
        |GROUP BY label ORDER BY label""".stripMargin,

    "multimodal_join" ->
      """SELECT doc_id, lang, n_chars,
        |  CAST(octet_length(unhex(md5(text))) AS INTEGER) AS image_bytes,
        |  CAST(n_chars % 640 + 32 AS INTEGER) AS meta_width,
        |  CAST((n_chars * 7) % 480 + 32 AS INTEGER) AS meta_height,
        |  'fake/rgb8' AS meta_format, label,
        |  round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS emb_norm
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin,

    // Rebuilds the GI01 pixel buffer from the same 5-chunk md5 formula the
    // fixture uses (Multimodal.gi01Assets), then aggregates the hex pairs as
    // integers — DuckDB never sees the container, only the closed-form pixel
    // bytes, which is all the stats depend on.
    // dHash fingerprints rebuilt from the same md5 pixel formula as
    // multimodal_decode; the pigeonhole blocks' recall guarantee makes the
    // semantics the exact all-pairs Hamming <= 3 join, run directly here
    "image_dedup" ->
      """WITH b0 AS (
        |  SELECT doc_id, n_chars % 8 + 4 AS w,
        |    md5(text || '-0') || md5(text || '-1') || md5(text || '-2') ||
        |      md5(text || '-3') || md5(text || '-4') AS hp
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w,
        |    list_transform(range(0, w * 6),
        |      j -> ('0x' || substring(hp, CAST(2 * j + 1 AS INTEGER), 2))::BIGINT) AS p
        |  FROM b0),
        |assets AS (
        |  SELECT doc_id * 2 AS img_id, w, p FROM px
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, w, [(p[1] + 96) % 256] || p[2:] FROM px
        |  WHERE doc_id % 13 = 4),
        |sig AS (
        |  SELECT img_id,
        |    CAST(CASE WHEN p[0 * w + ((1 * w) // 9) + 1] > p[0 * w + ((0 * w) // 9) + 1] THEN 1 ELSE 0 END +
        |      CASE WHEN p[0 * w + ((2 * w) // 9) + 1] > p[0 * w + ((1 * w) // 9) + 1] THEN 2 ELSE 0 END +
        |      CASE WHEN p[0 * w + ((3 * w) // 9) + 1] > p[0 * w + ((2 * w) // 9) + 1] THEN 4 ELSE 0 END +
        |      CASE WHEN p[0 * w + ((4 * w) // 9) + 1] > p[0 * w + ((3 * w) // 9) + 1] THEN 8 ELSE 0 END +
        |      CASE WHEN p[0 * w + ((5 * w) // 9) + 1] > p[0 * w + ((4 * w) // 9) + 1] THEN 16 ELSE 0 END +
        |      CASE WHEN p[0 * w + ((6 * w) // 9) + 1] > p[0 * w + ((5 * w) // 9) + 1] THEN 32 ELSE 0 END +
        |      CASE WHEN p[0 * w + ((7 * w) // 9) + 1] > p[0 * w + ((6 * w) // 9) + 1] THEN 64 ELSE 0 END +
        |      CASE WHEN p[0 * w + ((8 * w) // 9) + 1] > p[0 * w + ((7 * w) // 9) + 1] THEN 128 ELSE 0 END +
        |      CASE WHEN p[1 * w + ((1 * w) // 9) + 1] > p[1 * w + ((0 * w) // 9) + 1] THEN 256 ELSE 0 END +
        |      CASE WHEN p[1 * w + ((2 * w) // 9) + 1] > p[1 * w + ((1 * w) // 9) + 1] THEN 512 ELSE 0 END +
        |      CASE WHEN p[1 * w + ((3 * w) // 9) + 1] > p[1 * w + ((2 * w) // 9) + 1] THEN 1024 ELSE 0 END +
        |      CASE WHEN p[1 * w + ((4 * w) // 9) + 1] > p[1 * w + ((3 * w) // 9) + 1] THEN 2048 ELSE 0 END +
        |      CASE WHEN p[1 * w + ((5 * w) // 9) + 1] > p[1 * w + ((4 * w) // 9) + 1] THEN 4096 ELSE 0 END +
        |      CASE WHEN p[1 * w + ((6 * w) // 9) + 1] > p[1 * w + ((5 * w) // 9) + 1] THEN 8192 ELSE 0 END +
        |      CASE WHEN p[1 * w + ((7 * w) // 9) + 1] > p[1 * w + ((6 * w) // 9) + 1] THEN 16384 ELSE 0 END +
        |      CASE WHEN p[1 * w + ((8 * w) // 9) + 1] > p[1 * w + ((7 * w) // 9) + 1] THEN 32768 ELSE 0 END +
        |      CASE WHEN p[2 * w + ((1 * w) // 9) + 1] > p[2 * w + ((0 * w) // 9) + 1] THEN 65536 ELSE 0 END +
        |      CASE WHEN p[2 * w + ((2 * w) // 9) + 1] > p[2 * w + ((1 * w) // 9) + 1] THEN 131072 ELSE 0 END +
        |      CASE WHEN p[2 * w + ((3 * w) // 9) + 1] > p[2 * w + ((2 * w) // 9) + 1] THEN 262144 ELSE 0 END +
        |      CASE WHEN p[2 * w + ((4 * w) // 9) + 1] > p[2 * w + ((3 * w) // 9) + 1] THEN 524288 ELSE 0 END +
        |      CASE WHEN p[2 * w + ((5 * w) // 9) + 1] > p[2 * w + ((4 * w) // 9) + 1] THEN 1048576 ELSE 0 END +
        |      CASE WHEN p[2 * w + ((6 * w) // 9) + 1] > p[2 * w + ((5 * w) // 9) + 1] THEN 2097152 ELSE 0 END +
        |      CASE WHEN p[2 * w + ((7 * w) // 9) + 1] > p[2 * w + ((6 * w) // 9) + 1] THEN 4194304 ELSE 0 END +
        |      CASE WHEN p[2 * w + ((8 * w) // 9) + 1] > p[2 * w + ((7 * w) // 9) + 1] THEN 8388608 ELSE 0 END +
        |      CASE WHEN p[3 * w + ((1 * w) // 9) + 1] > p[3 * w + ((0 * w) // 9) + 1] THEN 16777216 ELSE 0 END +
        |      CASE WHEN p[3 * w + ((2 * w) // 9) + 1] > p[3 * w + ((1 * w) // 9) + 1] THEN 33554432 ELSE 0 END +
        |      CASE WHEN p[3 * w + ((3 * w) // 9) + 1] > p[3 * w + ((2 * w) // 9) + 1] THEN 67108864 ELSE 0 END +
        |      CASE WHEN p[3 * w + ((4 * w) // 9) + 1] > p[3 * w + ((3 * w) // 9) + 1] THEN 134217728 ELSE 0 END +
        |      CASE WHEN p[3 * w + ((5 * w) // 9) + 1] > p[3 * w + ((4 * w) // 9) + 1] THEN 268435456 ELSE 0 END +
        |      CASE WHEN p[3 * w + ((6 * w) // 9) + 1] > p[3 * w + ((5 * w) // 9) + 1] THEN 536870912 ELSE 0 END +
        |      CASE WHEN p[3 * w + ((7 * w) // 9) + 1] > p[3 * w + ((6 * w) // 9) + 1] THEN 1073741824 ELSE 0 END +
        |      CASE WHEN p[3 * w + ((8 * w) // 9) + 1] > p[3 * w + ((7 * w) // 9) + 1] THEN 2147483648 ELSE 0 END +
        |      CASE WHEN p[4 * w + ((1 * w) // 9) + 1] > p[4 * w + ((0 * w) // 9) + 1] THEN 4294967296 ELSE 0 END +
        |      CASE WHEN p[4 * w + ((2 * w) // 9) + 1] > p[4 * w + ((1 * w) // 9) + 1] THEN 8589934592 ELSE 0 END +
        |      CASE WHEN p[4 * w + ((3 * w) // 9) + 1] > p[4 * w + ((2 * w) // 9) + 1] THEN 17179869184 ELSE 0 END +
        |      CASE WHEN p[4 * w + ((4 * w) // 9) + 1] > p[4 * w + ((3 * w) // 9) + 1] THEN 34359738368 ELSE 0 END +
        |      CASE WHEN p[4 * w + ((5 * w) // 9) + 1] > p[4 * w + ((4 * w) // 9) + 1] THEN 68719476736 ELSE 0 END +
        |      CASE WHEN p[4 * w + ((6 * w) // 9) + 1] > p[4 * w + ((5 * w) // 9) + 1] THEN 137438953472 ELSE 0 END +
        |      CASE WHEN p[4 * w + ((7 * w) // 9) + 1] > p[4 * w + ((6 * w) // 9) + 1] THEN 274877906944 ELSE 0 END +
        |      CASE WHEN p[4 * w + ((8 * w) // 9) + 1] > p[4 * w + ((7 * w) // 9) + 1] THEN 549755813888 ELSE 0 END +
        |      CASE WHEN p[5 * w + ((1 * w) // 9) + 1] > p[5 * w + ((0 * w) // 9) + 1] THEN 1099511627776 ELSE 0 END +
        |      CASE WHEN p[5 * w + ((2 * w) // 9) + 1] > p[5 * w + ((1 * w) // 9) + 1] THEN 2199023255552 ELSE 0 END +
        |      CASE WHEN p[5 * w + ((3 * w) // 9) + 1] > p[5 * w + ((2 * w) // 9) + 1] THEN 4398046511104 ELSE 0 END +
        |      CASE WHEN p[5 * w + ((4 * w) // 9) + 1] > p[5 * w + ((3 * w) // 9) + 1] THEN 8796093022208 ELSE 0 END +
        |      CASE WHEN p[5 * w + ((5 * w) // 9) + 1] > p[5 * w + ((4 * w) // 9) + 1] THEN 17592186044416 ELSE 0 END +
        |      CASE WHEN p[5 * w + ((6 * w) // 9) + 1] > p[5 * w + ((5 * w) // 9) + 1] THEN 35184372088832 ELSE 0 END +
        |      CASE WHEN p[5 * w + ((7 * w) // 9) + 1] > p[5 * w + ((6 * w) // 9) + 1] THEN 70368744177664 ELSE 0 END +
        |      CASE WHEN p[5 * w + ((8 * w) // 9) + 1] > p[5 * w + ((7 * w) // 9) + 1] THEN 140737488355328 ELSE 0 END AS BIGINT) AS dhash
        |  FROM assets)
        |SELECT a.img_id AS id_a, z.img_id AS id_b,
        |  CAST(bit_count(xor(a.dhash, z.dhash)) AS INTEGER) AS hamming
        |FROM sig a JOIN sig z ON a.img_id < z.img_id
        |WHERE bit_count(xor(a.dhash, z.dhash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    "multimodal_decode" ->
      """WITH px AS (
        |  SELECT doc_id, n_chars % 8 + 4 AS w, 6 AS h,
        |    md5(text || '-0') || md5(text || '-1') || md5(text || '-2') ||
        |      md5(text || '-3') || md5(text || '-4') AS hp
        |  FROM documents),
        |b AS (
        |  -- constant range (max w*h = 11*6 = 66) + filter: DuckDB 1.0's
        |  -- range() rejects lateral column parameters
        |  SELECT doc_id, w, h,
        |    ('0x' || substr(hp, CAST(2 * i + 1 AS INTEGER), 2))::BIGINT AS v
        |  FROM px, range(66) t(i) WHERE i < w * h)
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(w * h AS INTEGER) AS n_pixels,
        |  round(avg(v), 4) AS mean_px,
        |  CAST(max(v) AS INTEGER) AS max_px, CAST(min(v) AS INTEGER) AS min_px,
        |  round(CAST(count(1) FILTER (WHERE v >= 128) AS DOUBLE) / (w * h), 4)
        |    AS frac_bright
        |FROM b GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    "tumbling_windows" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(1) AS n,
        |  round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    "sliding_windows" ->
      """WITH x AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
        |  UNION ALL
        |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS ws, event_type, value FROM events)
        |SELECT ws, event_type, count(1) AS n, round(sum(value), 2) AS total
        |FROM x GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    "session_windows" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(1) AS n, round(sum(value), 2) AS total
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "rolling_sum_typed" ->
      """SELECT user_id, count(1) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "stream_wordcount" ->
      """SELECT word, count(1) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE length(word) > 0
        |GROUP BY word ORDER BY cnt DESC, word ASC""".stripMargin,

    "stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(1) AS n,
        |  round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    "stream_dedup" ->
      """SELECT event_type, count(1) AS n
        |FROM (SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stream_static_join" ->
      """SELECT c_mktsegment, count(1) AS n, round(sum(value), 2) AS total
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "stream_rolling_sum" ->
      """SELECT user_id, count(1) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "stream_stream_join" ->
      """SELECT c.event_id AS click_id, b.event_id AS purchase_id,
        |  c.user_id AS user_id
        |FROM events c JOIN events b
        |  ON c.user_id = b.user_id
        | AND c.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts BETWEEN c.ts AND c.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin,

    // Left-outer online semantics, mirrored exactly: matched pairs emit
    // eagerly; an unmatched click emits with NULL purchase only once the
    // FINAL watermark (min over both sides of max event time - 2 h delay)
    // strictly passes its 1-hour match window — clicks in the last 3 hours
    // of the bounded input are still in state when the stream ends and do
    // not emit (verified batch-for-batch against the engine at sf0.001).
    "stream_stream_join_left" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS cts
        |           FROM events WHERE event_type = 'click'),
        |b AS (SELECT event_id AS purchase_id, user_id, ts AS bts
        |      FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(cts) FROM c), (SELECT max(bts) FROM b))
        |              - INTERVAL 2 HOUR AS w),
        |matched AS (
        |  SELECT c.click_id, b.purchase_id, c.user_id
        |  FROM c JOIN b ON c.user_id = b.user_id
        |   AND b.bts BETWEEN c.cts AND c.cts + INTERVAL 1 HOUR),
        |unmatched AS (
        |  SELECT c.click_id, NULL AS purchase_id, c.user_id FROM c, wm
        |  WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.click_id)
        |    AND c.cts + INTERVAL 1 HOUR < wm.w)
        |SELECT click_id, purchase_id, user_id FROM matched
        |UNION ALL SELECT click_id, purchase_id, user_id FROM unmatched
        |ORDER BY click_id, purchase_id""".stripMargin,

    "stream_rolling_sum_tws" ->
      """SELECT user_id, count(1) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "json_roundtrip" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  to_json(struct_pack(user_id := user_id, event_type := event_type)) AS packed
        |FROM events ORDER BY event_id""".stripMargin,

    "window_distribution" ->
      """SELECT p_brand, p_partkey, p_retailprice,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume,
        |  first_value(p_partkey) OVER w AS cheapest_key,
        |  nth_value(p_partkey, 2) OVER w AS second_key
        |FROM part
        |WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice ASC, p_partkey ASC)
        |ORDER BY p_brand, p_partkey""".stripMargin,

    "array_setops" ->
      """SELECT doc_id,
        |  CAST(len(head_set) AS INTEGER) AS n_head,
        |  CAST(len(next_set) AS INTEGER) AS n_next,
        |  CAST(len(list_intersect(head_set, next_set)) AS INTEGER) AS n_common,
        |  CAST(len(list_distinct(list_concat(head_set, next_set))) AS INTEGER) AS n_union,
        |  CAST(len(list_filter(head_set, x -> NOT list_contains(next_set, x))) AS INTEGER) AS n_only_head
        |FROM (
        |  SELECT doc_id,
        |    list_distinct(string_split(text, ' ')[1:10]) AS head_set,
        |    list_distinct(string_split(text, ' ')[11:20]) AS next_set
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "percentiles" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |  round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "stats_aggs" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS qty_stddev,
        |  round(var_samp(l_quantity), 4) AS qty_var,
        |  round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
        |  round(covar_samp(l_quantity, l_discount), 4) AS qty_disc_covar
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "grouped_arrays" ->
      """SELECT c_mktsegment, count(1) AS n,
        |  array_to_string(list_sort(list(c_custkey)), ',') AS custkeys
        |FROM customer WHERE c_acctbal > 9000
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "date_arith" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "pivot_status" ->
      """SELECT o_orderpriority,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "window_range" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  count(1) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal
        |    RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING) AS peers_within_500
        |FROM customer ORDER BY c_mktsegment, c_custkey""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |  count(1) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "map_funcs" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
        |  CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
        |  array_to_string(json_keys(props), ',') AS key_list
        |FROM events ORDER BY event_id""".stripMargin,

    "skew_safe_distinct" ->
      """SELECT event_type, count(1) AS n_users
        |FROM (SELECT DISTINCT event_type, user_id FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "subquery_correlated" ->
      """SELECT o_custkey, count(1) AS n_above,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM orders o1
        |WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5
        |                      FROM orders o2
        |                      WHERE o2.o_custkey = o1.o_custkey)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS n_dims,
        |  round(list_sum(list_transform(embedding[1:3], x -> CAST(x AS DOUBLE))), 6) AS head3_sum,
        |  len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.2)) > 0 AS has_big,
        |  round(CAST(list_max(embedding) AS DOUBLE), 4) AS max_v,
        |  round(CAST(embedding[64] AS DOUBLE), 4) AS last_v
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "udaf_geomean" ->
      """SELECT o_orderstatus, count(1) AS n,
        |  round(exp(avg(ln(o_totalprice))), 4) AS geo_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "udf_clip" ->
      """SELECT event_type, count(1) AS n,
        |  round(sum(least(greatest(value, 50), 150)), 2) AS clipped_total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "unpivot_metrics" ->
      """SELECT metric, count(1) AS n, CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(1), 6) AS avg_v
        |FROM (
        |  SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |GROUP BY metric ORDER BY metric""".stripMargin,

    "generator_funcs" ->
      """SELECT doc_id, CAST(unnest(range(len(toks))) AS INTEGER) AS pos,
        |  unnest(toks) AS token
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |      FROM documents WHERE doc_id < 50)
        |ORDER BY doc_id, pos""".stripMargin,

    "sample_hash" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
        |ORDER BY o_orderkey""".stripMargin,

    "hash_funcs" ->
      """SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex,
        |  CAST(length(md5(text)) AS INTEGER) AS md5_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "regex_funcs" ->
      """SELECT doc_id,
        |  regexp_extract(text, '([0-9]+)', 1) AS first_num,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_nums,
        |  substring(regexp_replace(text, '[aeiou]', '_', 'g'), 1, 40) AS head_devowel,
        |  regexp_matches(text, 'the .* key') AS has_pattern
        |FROM documents ORDER BY doc_id""".stripMargin,

    "bitwise_funcs" ->
      """SELECT o_orderkey,
        |  o_orderkey & 255 AS k_and,
        |  o_orderkey | 15 AS k_or,
        |  xor(o_orderkey, 255) AS k_xor,
        |  o_orderkey << 2 AS k_shl,
        |  o_orderkey >> 2 AS k_shr,
        |  CAST(bit_count(o_orderkey) AS INTEGER) AS k_bits
        |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin,

    "conditional_aggs" ->
      """SELECT o_orderstatus,
        |  CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
        |  bool_and(o_totalprice > 0) AS all_positive,
        |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
        |  CAST(round(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |                 THEN CAST(o_totalprice AS DECIMAL(18,4))
        |                 ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS urgent_total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "argminmax" ->
      """SELECT o_orderstatus,
        |  max_by(o_orderkey, o_totalprice + o_orderkey * 1e-9) AS priciest_order,
        |  min_by(o_orderkey, o_totalprice + o_orderkey * 1e-9) AS cheapest_order,
        |  round(max(o_totalprice), 2) AS max_price,
        |  round(min(o_totalprice), 2) AS min_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "histogram_buckets" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS INTEGER) AS bucket,
        |  count(1) AS n,
        |  round(min(o_totalprice), 2) AS lo,
        |  round(max(o_totalprice), 2) AS hi
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,

    "time_funcs" ->
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |  CAST(extract(hour FROM ts) AS INTEGER) AS hr,
        |  CAST(extract(minute FROM ts) AS INTEGER) AS minu,
        |  CAST(extract(day FROM ts) AS INTEGER) AS dom,
        |  CAST(extract(month FROM ts) AS INTEGER) AS mon,
        |  CAST(quarter(ts) AS INTEGER) AS qtr
        |FROM events ORDER BY event_id""".stripMargin,

    "format_roundtrip" ->
      """SELECT fmt, lang, count(1) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents CROSS JOIN (SELECT unnest(['csv', 'json', 'orc']) AS fmt)
        |GROUP BY fmt, lang ORDER BY fmt, lang""".stripMargin,

    "set_intersect_all" ->
      """SELECT c_mktsegment FROM customer WHERE c_acctbal > 5000
        |INTERSECT ALL
        |SELECT c_mktsegment FROM customer WHERE c_acctbal > 8000
        |ORDER BY c_mktsegment""".stripMargin,

    "set_except_all" ->
      """SELECT c_mktsegment FROM customer WHERE c_acctbal > 5000
        |EXCEPT ALL
        |SELECT c_mktsegment FROM customer WHERE c_acctbal > 8000
        |ORDER BY c_mktsegment""".stripMargin,

    "union_by_name" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_name, NULL AS extra
        |  FROM customer WHERE c_custkey < 100
        |  UNION ALL BY NAME
        |  SELECT c_custkey, c_acctbal AS extra, c_name
        |  FROM customer WHERE c_custkey < 100)
        |ORDER BY c_custkey, extra NULLS FIRST""".stripMargin,

    "window_ignore_nulls" ->
      """SELECT event_id, user_id,
        |  last_value(CASE WHEN event_type = 'purchase' THEN event_id END
        |    IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_purchase
        |FROM events ORDER BY event_id""".stripMargin,

    "stream_dedup_wm" ->
      """SELECT event_type, count(1) AS n
        |FROM (SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "lateral_join" ->
      """SELECT c_custkey, o.o_orderkey, o.o_totalprice
        |FROM (SELECT * FROM customer WHERE c_custkey < 50) c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) o
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    "grouping_id_funcs" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
        |  count(1) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "stream_kv_upsert" ->
      """SELECT user_id, count(1) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(1) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,

    "higher_order_funcs" ->
      """SELECT vec_id,
        |  round(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * 2),
        |    (a, b) -> a + b), 6) AS sum_scaled,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
        |  round(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |    (a, b) -> a + b), 6) AS reduced_sum,
        |  round(list_reduce(list_transform(list_zip(embedding, list_reverse(embedding)),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b), 6) AS dot_rev,
        |  list_contains(list_transform(embedding, x -> CAST(x AS DOUBLE) > 0.4), true) AS any_big,
        |  (len(list_filter(embedding, x -> x IS NOT NULL)) = len(embedding)) AS all_nonnull
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "multimodal_frames" ->
      """SELECT doc_id, n_frames, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  md5(payload_hex || '-' || frame_idx) AS frame_hash
        |FROM (
        |  SELECT doc_id, CAST(n_chars % 8 + 2 AS INTEGER) AS n_frames,
        |    unnest(range(n_chars % 8 + 2)) AS frame_idx,
        |    md5(text) AS payload_hex
        |  FROM documents)
        |WHERE frame_idx % 2 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "inline_stack" ->
      """SELECT o_orderkey, u.kind AS kind, u.amt AS amt FROM (
        |  SELECT o_orderkey, unnest([
        |    {'kind': 'gross', 'amt': o_totalprice},
        |    {'kind': 'twice', 'amt': o_totalprice * 2}]) AS u
        |  FROM orders WHERE o_orderkey <= 100)
        |ORDER BY o_orderkey, kind""".stripMargin,

    "try_funcs" ->
      """SELECT event_id,
        |  TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
        |  CASE
        |    WHEN COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER), 0) = 0
        |    THEN NULL
        |    ELSE value / TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)
        |  END AS v_per_k
        |FROM events ORDER BY event_id""".stripMargin,

    "map_explode" ->
      """SELECT event_id, k, json_extract_string(props, '$.' || k) AS v
        |FROM (SELECT event_id, props, unnest(json_keys(props)) AS k FROM events)
        |ORDER BY event_id, k""".stripMargin,

    "join_salted" ->
      """SELECT o_orderpriority, count(1) AS n,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "ngram_counts" ->
      """WITH toks AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT lang, unnest(list_transform(range(1, len(t)),
        |         i -> t[i] || ' ' || t[i + 1])) AS bigram FROM toks),
        |counts AS (SELECT lang, bigram, count(1) AS n FROM bg GROUP BY 1, 2),
        |ranked AS (
        |  SELECT lang, bigram, n,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY n DESC, bigram ASC) AS INTEGER) AS rn
        |  FROM counts)
        |SELECT lang, rn, bigram, n FROM ranked WHERE rn <= 5
        |ORDER BY lang, rn""".stripMargin,

    "asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, max(event_id) AS click_id FROM events
        |  WHERE event_type = 'click' GROUP BY user_id, ts),
        |purchases AS (
        |  SELECT event_id AS purchase_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, c.click_id, c.ts AS click_ts
        |FROM purchases p ASOF JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin,

    // both ASOF directions + a micros-distance CASE; ties toward the
    // earlier click exactly as the Spark side's <= comparison
    "asof_join_nearest" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, max(event_id) AS click_id FROM events
        |  WHERE event_type = 'click' GROUP BY user_id, ts),
        |purchases AS (
        |  SELECT event_id AS purchase_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT p.purchase_id, p.user_id, p.ts,
        |    c.click_id AS b_id, c.ts AS b_ts
        |  FROM purchases p ASOF LEFT JOIN clicks c
        |    ON p.user_id = c.user_id AND p.ts >= c.ts),
        |f AS (
        |  SELECT p.purchase_id, c.click_id AS f_id, c.ts AS f_ts
        |  FROM purchases p ASOF LEFT JOIN clicks c
        |    ON p.user_id = c.user_id AND p.ts <= c.ts)
        |SELECT purchase_id, user_id,
        |  CASE WHEN b_ts IS NULL THEN f_id
        |       WHEN f_ts IS NULL THEN b_id
        |       WHEN date_diff('microseconds', b_ts, ts)
        |            <= date_diff('microseconds', ts, f_ts) THEN b_id
        |       ELSE f_id END AS click_id,
        |  CASE WHEN b_ts IS NULL THEN f_ts
        |       WHEN f_ts IS NULL THEN b_ts
        |       WHEN date_diff('microseconds', b_ts, ts)
        |            <= date_diff('microseconds', ts, f_ts) THEN b_ts
        |       ELSE f_ts END AS click_ts
        |FROM b JOIN f USING (purchase_id)
        |ORDER BY purchase_id""".stripMargin,

    "gap_fill" ->
      """WITH ev AS (SELECT date_trunc('hour', ts) AS h, event_type, value FROM events),
        |hourly AS (SELECT h, event_type, count(1) AS n0, sum(value) AS total0
        |           FROM ev GROUP BY h, event_type),
        |b AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
        |hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
        |types AS (SELECT DISTINCT event_type FROM ev)
        |SELECT h, event_type, COALESCE(n0, 0) AS n,
        |  round(COALESCE(total0, 0), 2) AS total
        |FROM hours CROSS JOIN types
        |LEFT JOIN hourly USING (h, event_type)
        |ORDER BY h, event_type""".stripMargin,

    "dedup_levenshtein" ->
      """WITH d AS (SELECT doc_id, lang, source, substring(text, 1, 20) AS blk,
        |                  substring(text, 1, 60) AS head FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.head, b.head) AS INTEGER) AS dist
        |FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
        |  AND a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 20
        |ORDER BY id_a, id_b""".stripMargin,

    "knn_topk_agg" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, embedding AS cv, label FROM embeddings),
        |p AS (
        |  SELECT q_id, c_id, label,
        |    round(list_dot_product(qv::DOUBLE[], cv::DOUBLE[]) /
        |      (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) *
        |       sqrt(list_dot_product(cv::DOUBLE[], cv::DOUBLE[]))), 6) AS score6
        |  FROM q JOIN c ON q_id <> c_id),
        |r AS (
        |  SELECT q_id, c_id, label, score6,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY score6 DESC, c_id ASC) AS INTEGER) AS rn
        |  FROM p)
        |SELECT q_id, rn, c_id, label, round(score6, 4) AS cos_sim
        |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    "stream_sliding" ->
      """WITH x AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
        |  UNION ALL
        |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS ws, event_type, value FROM events)
        |SELECT ws, event_type, count(1) AS n, round(sum(value), 2) AS total
        |FROM x GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    "stream_session" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(1) AS n, round(sum(value), 2) AS total
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "json_tuple_funcs" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS kv_tuple,
        |  json_extract_string(props, '$.k') AS kv_path
        |FROM events ORDER BY event_id""".stripMargin,

    "csv_funcs" ->
      """SELECT event_id,
        |  event_type || ',' || user_id AS packed,
        |  user_id AS unpacked_u
        |FROM events ORDER BY event_id""".stripMargin,

    "partitioned_write" ->
      """SELECT l_returnflag, l_linestatus, count(1) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_linestatus = 'F'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "join_range_binned" ->
      """SELECT o_orderkey, count(1) AS n_shipments,
        |  round(sum(l_quantity), 2) AS qty
        |FROM orders JOIN lineitem
        |  ON l_shipdate >= o_orderdate
        | AND l_shipdate < o_orderdate + INTERVAL 7 DAY
        |WHERE o_orderkey % 97 = 0
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,

    "regression_aggs" ->
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "bit_aggs" ->
      """SELECT o_orderstatus,
        |  bit_and(o_orderkey) AS k_and,
        |  bit_or(o_orderkey) AS k_or,
        |  bit_xor(o_orderkey) AS k_xor,
        |  count(1) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "pattern_detect" ->
      """SELECT user_id, event_id, round(value, 2) AS value,
        |  v_shape, error_to_purchase
        |FROM (
        |  SELECT user_id, event_id, value,
        |    lag(value) OVER w > value AND lead(value) OVER w > value AS v_shape,
        |    event_type = 'error' AND
        |      (lead(event_type, 1) OVER w = 'purchase'
        |       OR lead(event_type, 2) OVER w = 'purchase') AS error_to_purchase
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |WHERE v_shape OR error_to_purchase
        |ORDER BY user_id, event_id""".stripMargin,

    "cumulate_windows" ->
      """WITH x AS (
        |  SELECT TIMESTAMP '1970-01-01 00:00:00'
        |      + ((CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600) * INTERVAL 1 SECOND AS b,
        |    ts, event_type, value
        |  FROM events),
        |e AS (
        |  SELECT b, b + k * INTERVAL 1 HOUR AS window_end, event_type, value
        |  FROM x, (SELECT unnest(range(1, 7)) AS k)
        |  WHERE ts < b + k * INTERVAL 1 HOUR)
        |SELECT b, window_end, event_type, count(1) AS n,
        |  round(sum(value), 2) AS total
        |FROM e GROUP BY b, window_end, event_type
        |ORDER BY b, window_end, event_type""".stripMargin,

    "na_funcs" ->
      """SELECT event_id,
        |  CASE WHEN event_type = 'click' THEN 'tap' ELSE event_type END AS etype,
        |  round(CASE WHEN value < 50 THEN 0.0 ELSE value END, 2) AS v_filled
        |FROM events WHERE event_type <> 'view'
        |ORDER BY event_id""".stripMargin,

    "variant_funcs" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS INTEGER) AS k_val,
        |  'OBJECT<k: BIGINT>' AS v_schema,
        |  replace(props, ' ', '') AS v_json
        |FROM events ORDER BY event_id""".stripMargin,

    "recursive_cte" ->
      """WITH RECURSIVE walk(depth, nk) AS (
        |  SELECT 0, 0
        |  UNION ALL
        |  SELECT depth + 1, (nk + 7) % 25 FROM walk WHERE depth < 24
        |)
        |SELECT w.depth, w.nk, n.n_name
        |FROM walk w JOIN nation n ON n.n_nationkey = w.nk
        |ORDER BY w.depth""".stripMargin,

    // the pipe form must answer exactly what its clause form answers — the
    // oracle IS the clause form
    "pipe_syntax" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |                 * CAST(1 - l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |HAVING count(*) > 10
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // SQL UDFs inline to expressions — the oracle is the inlined form
    "sql_udf" ->
      """SELECT l_returnflag,
        |  CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid'
        |       ELSE 'high' END AS band,
        |  count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |                 * CAST(1 - l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |GROUP BY l_returnflag, band
        |ORDER BY l_returnflag, band""".stripMargin,

    "listagg_groups" ->
      """SELECT r.r_name, count(1) AS n_nations,
        |  string_agg(n.n_name, ',' ORDER BY n.n_name) AS names
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin,

    "mode_median" ->
      """SELECT l_linestatus,
        |  mode(CASE WHEN l_quantity < 20 THEN 'low' ELSE 'high' END) AS common_band,
        |  round(median(l_quantity), 2) AS med_qty,
        |  round(median(l_extendedprice), 2) AS med_price,
        |  count(1) AS n
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "xml_roundtrip" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "xpath_funcs" ->
      """SELECT n_nationkey, n_name AS xname,
        |  n_regionkey AS xrk, 2 AS n_nodes
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "aes_roundtrip" ->
      """SELECT o_orderkey, o_orderpriority AS dec_priority,
        |  CAST((length(o_orderpriority) // 16 + 1) * 16 AS INTEGER) AS cipher_len
        |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin,

    "collation_group" ->
      """SELECT lower(p_brand) AS brand_ci, count(1) AS n,
        |  round(avg(p_retailprice), 2) AS avg_price
        |FROM part GROUP BY lower(p_brand) ORDER BY brand_ci""".stripMargin,

    "map_transform_funcs" ->
      """SELECT event_id,
        |  concat_ws(',',
        |    CASE WHEN 2 * length(event_type) >= 10
        |         THEN 'T=' || (2 * length(event_type)) END,
        |    CASE WHEN 2 * user_id >= 10 THEN 'U=' || (2 * user_id) END,
        |    CASE WHEN 2 * CAST(floor(value) AS BIGINT) >= 10
        |         THEN 'V=' || (2 * CAST(floor(value) AS BIGINT)) END) AS kept,
        |  CAST((CASE WHEN 2 * length(event_type) >= 10 THEN 1 ELSE 0 END
        |      + CASE WHEN 2 * user_id >= 10 THEN 1 ELSE 0 END
        |      + CASE WHEN 2 * CAST(floor(value) AS BIGINT) >= 10 THEN 1 ELSE 0 END)
        |    AS INTEGER) AS n_kept,
        |  CAST(11 * user_id AS INTEGER) AS zip_u,
        |  CAST(user_id AS VARCHAR) AS stm_u
        |FROM events ORDER BY event_id""".stripMargin,

    "url_funcs" ->
      """SELECT n_nationkey,
        |  replace(lower(n_name), '_', '-') || '.example.com' AS host,
        |  '/' || replace(lower(r_name), ' ', '-') || '/item' AS path,
        |  'id=' || n_nationkey || '&tag=x' AS query,
        |  CAST(n_nationkey AS VARCHAR) AS qid,
        |  n_name || '+%26+' || replace(r_name, ' ', '+') AS enc,
        |  n_name AS dec
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY n_nationkey""".stripMargin,

    "bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Scale bound: the exact count(DISTINCT) oracle matches only while the
    // lgK=14 HLL sketch stays in its coupon-exact regime (≈ a few thousand
    // distinct custkeys per priority — holds at the sf0.01 gate, ~1000 peak).
    // At larger sf the sketch estimates (~1% error) and this pin would fail
    // SPURIOUSLY — swap to a tolerance-band check, not exact equality, there.
    "hll_sketch" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // ---- TPC-H decision-support shapes (round 3; see TpchMore.scala for the
    // schema adaptations — derived partsupp, substituted filter columns) ----

    "q2_min_cost_supp" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem),
        |j AS (
        |  SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey
        |  FROM ps
        |  JOIN part p ON ps.ps_partkey = p.p_partkey
        |    AND p.p_type = 'STANDARD' AND p.p_size BETWEEN 10 AND 20
        |  JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA')
        |SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey
        |FROM (SELECT *, max(s_acctbal) OVER (PARTITION BY p_partkey) AS mb FROM j)
        |WHERE s_acctbal = mb
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year, CAST(round(sum(volume), 2) AS DOUBLE) AS revenue FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         year(l_shipdate) AS l_year,
        |         CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4)) AS volume
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q8_market_share" ->
      """SELECT o_year,
        |  round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END) / sum(volume), 4) AS mkt_share
        |FROM (
        |  SELECT year(o_orderdate) AS o_year,
        |         l_extendedprice * (1 - l_discount) AS volume,
        |         n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
        |GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q9_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |                 * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY n_name, year(o_orderdate) ORDER BY nation, o_year DESC""".stripMargin,

    "q11_important_stock" ->
      """WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |              sum(l_quantity) AS ps_availqty FROM lineitem GROUP BY 1, 2),
        |es AS (SELECT s_suppkey FROM supplier
        |       JOIN nation ON s_nationkey = n_nationkey
        |       JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        |v AS (SELECT ps_partkey, sum(ps_availqty * p_retailprice) AS value
        |      FROM ps JOIN es ON ps_suppkey = s_suppkey
        |      JOIN part ON ps_partkey = p_partkey GROUP BY 1)
        |SELECT ps_partkey, round(value, 2) AS stock_value FROM v
        |WHERE value > 4 * (SELECT avg(value) FROM v)
        |ORDER BY stock_value DESC, ps_partkey""".stripMargin,

    "q12_late_priority" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q13_cust_distribution" ->
      """WITH cc AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist FROM cc
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT round(
        |  sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |    * 100.0 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'""".stripMargin,

    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM revenue JOIN supplier ON supplier_no = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,

    "q16_supplier_cnt" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON ps_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q17_small_qty_revenue" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 2) AS avg_yearly
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND l_quantity < 0.5 * (SELECT avg(l2.l_quantity) FROM lineitem l2
        |                          WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin,

    "q18_large_volume_cust" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  round(o_totalprice, 2) AS o_totalprice, round(sum_qty, 2) AS sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q19_disjunctive" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25 AND l_quantity BETWEEN 10 AND 25)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40 AND l_quantity BETWEEN 25 AND 40)""".stripMargin,

    "q20_excess_supply" ->
      """WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |              sum(l_quantity) AS ps_availqty FROM lineitem GROUP BY 1, 2),
        |demand AS (
        |  SELECT l_partkey AS dm_partkey, sum(l_quantity) AS dm_qty FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1),
        |excess AS (
        |  SELECT DISTINCT ps_suppkey FROM ps
        |  JOIN demand ON ps_partkey = dm_partkey
        |  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
        |    AND ps_availqty > 0.5 * dm_qty)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (SELECT ps_suppkey FROM excess)
        |ORDER BY s_suppkey""".stripMargin,

    "q21_waiting_supplier" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |         l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |l1 AS (SELECT DISTINCT l_orderkey AS o1, l_suppkey AS s1 FROM li WHERE late)
        |SELECT s_name, count(*) AS numwait
        |FROM l1 JOIN supplier ON s1 = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM li WHERE li.l_orderkey = o1 AND li.l_suppkey <> s1)
        |  AND NOT EXISTS (SELECT 1 FROM li WHERE li.late AND li.l_orderkey = o1 AND li.l_suppkey <> s1)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin,

    "q22_global_sales_opp" ->
      """WITH c AS (SELECT * FROM customer
        |           WHERE c_mktsegment IN ('MACHINERY', 'FURNITURE', 'BUILDING'))
        |SELECT c_mktsegment, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
        |FROM c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM c WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // ---- round-4 pipeline operators (PipelineOps.scala) ----

    // Transitive closure over the same star-edge graph (head-8 / tail-8 token
    // keys); DuckDB's recursive CTE computes min-reachable-id per node — the
    // declarative twin of the distributed label-propagation loop.
    "dedup_clusters" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |k AS (SELECT doc_id,
        |        md5(array_to_string(list_slice(toks, 1, 8), ' ')) AS k_head,
        |        md5(array_to_string(list_slice(toks, greatest(1, len(toks) - 7), len(toks)), ' ')) AS k_tail
        |      FROM t),
        |e0 AS (
        |  SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY k_head) AS b FROM k
        |  UNION ALL
        |  SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY k_tail) AS b FROM k),
        |edges AS (
        |  SELECT a, b FROM e0 WHERE a <> b
        |  UNION
        |  SELECT b, a FROM e0 WHERE a <> b),
        |reach(v, m) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.v),
        |comp AS (SELECT v AS doc_id, min(m) AS cluster_id FROM reach GROUP BY v)
        |SELECT doc_id, cluster_id,
        |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM comp ORDER BY doc_id""".stripMargin,

    // same transitive clusters, quality-aware keep rule: the representative
    // is the integer-exact argmax (longest text, then min doc_id) — the
    // row_number form is the deterministic cross-engine mirror of the
    // Spark side's lexicographic struct-max aggregate
    "dedup_keep_best" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |k AS (SELECT doc_id,
        |        md5(array_to_string(list_slice(toks, 1, 8), ' ')) AS k_head,
        |        md5(array_to_string(list_slice(toks, greatest(1, len(toks) - 7), len(toks)), ' ')) AS k_tail
        |      FROM t),
        |e0 AS (
        |  SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY k_head) AS b FROM k
        |  UNION ALL
        |  SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY k_tail) AS b FROM k),
        |edges AS (
        |  SELECT a, b FROM e0 WHERE a <> b
        |  UNION
        |  SELECT b, a FROM e0 WHERE a <> b),
        |reach(v, m) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.v),
        |comp AS (SELECT v AS doc_id, min(m) AS cluster_id FROM reach GROUP BY v),
        |ranked AS (
        |  SELECT c.cluster_id, c.doc_id, length(d.text) AS len,
        |    row_number() OVER (PARTITION BY c.cluster_id
        |      ORDER BY length(d.text) DESC, c.doc_id) AS rn,
        |    count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
        |  FROM comp c JOIN documents d USING (doc_id))
        |SELECT cluster_id, doc_id AS rep_id, CAST(len AS BIGINT) AS rep_len,
        |       cluster_size
        |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    // The same recursive-CTE transitive closure as dedup_clusters, then the
    // per-CLUSTER md5 split rule — near-dups cannot straddle by construction.
    "split_leakage_free" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |k AS (SELECT doc_id,
        |        md5(array_to_string(list_slice(toks, 1, 8), ' ')) AS k_head,
        |        md5(array_to_string(list_slice(toks, greatest(1, len(toks) - 7), len(toks)), ' ')) AS k_tail
        |      FROM t),
        |e0 AS (
        |  SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY k_head) AS b FROM k
        |  UNION ALL
        |  SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY k_tail) AS b FROM k),
        |edges AS (
        |  SELECT a, b FROM e0 WHERE a <> b
        |  UNION
        |  SELECT b, a FROM e0 WHERE a <> b),
        |reach(v, m) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.v),
        |comp AS (SELECT v AS doc_id, min(m) AS cluster_id FROM reach GROUP BY v)
        |SELECT CASE WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 1) = '0'
        |            THEN 'eval' ELSE 'train' END AS split,
        |  count(1) AS n_docs, count(DISTINCT cluster_id) AS n_clusters
        |FROM comp GROUP BY 1 ORDER BY split""".stripMargin,

    // Per-document view of the same construction (VERDICT r6 #2): the
    // assignment a training run consumes, one row per doc.
    "split_assignments" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |k AS (SELECT doc_id,
        |        md5(array_to_string(list_slice(toks, 1, 8), ' ')) AS k_head,
        |        md5(array_to_string(list_slice(toks, greatest(1, len(toks) - 7), len(toks)), ' ')) AS k_tail
        |      FROM t),
        |e0 AS (
        |  SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY k_head) AS b FROM k
        |  UNION ALL
        |  SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY k_tail) AS b FROM k),
        |edges AS (
        |  SELECT a, b FROM e0 WHERE a <> b
        |  UNION
        |  SELECT b, a FROM e0 WHERE a <> b),
        |reach(v, m) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.v),
        |comp AS (SELECT v AS doc_id, min(m) AS cluster_id FROM reach GROUP BY v)
        |SELECT doc_id, cluster_id,
        |       CASE WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 1) = '0'
        |            THEN 'eval' ELSE 'train' END AS split
        |FROM comp ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE CASE WHEN lang = 'en'
        |       THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')
        |       ELSE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' END
        |ORDER BY doc_id""".stripMargin,

    // Exact while distinct event_types ≤ sketch capacity (5 ≤ 10000 at any sf
    // of this data); ties at the k boundary could order differently, but
    // event counts here are far apart.
    "sketch_top_k" ->
      """SELECT event_type AS item, count(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY cnt DESC, item LIMIT 3""".stripMargin,

    // Collision-free (hence exact) while the key domain ≪ the 2/eps sketch
    // width; deterministic via the fixed seed either way.
    // probe keys are the query's explicit argument (0..9), not data-derived:
    // the oracle mirrors that with a VALUES spine (0 for an absent key)
    "sketch_count_min" ->
      """SELECT CAST(p.u AS BIGINT) AS user_id, count(e.user_id) AS est_n
        |FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9)) p(u)
        |LEFT JOIN events e ON e.user_id = p.u
        |GROUP BY p.u ORDER BY user_id""".stripMargin,

    // Scale bound: exact only while each per-type sketch and their union stay
    // in the lgK=14 coupon regime (same caveat as hll_sketch).
    "hll_union" ->
      """SELECT count(DISTINCT user_id) AS n_users FROM events""".stripMargin,

    "merge_upsert" ->
      """WITH base AS (SELECT o_orderkey, round(o_totalprice, 2) AS price, 'base' AS src
        |              FROM orders WHERE o_orderkey % 4 <> 3),
        |chg AS (SELECT o_orderkey, round(o_totalprice + 100.0, 2) AS price, 'update' AS src
        |        FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT * FROM chg
        |UNION ALL
        |SELECT b.* FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM chg c WHERE c.o_orderkey = b.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "funnel_analysis" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t2,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t3,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t4
        |  FROM events GROUP BY user_id),
        |s AS (SELECT CASE WHEN t1 IS NULL THEN 0
        |        WHEN t2 IS NULL OR t2 < t1 THEN 1
        |        WHEN t3 IS NULL OR t3 < t2 THEN 2
        |        WHEN t4 IS NULL OR t4 < t3 THEN 3
        |        ELSE 4 END AS stage FROM f)
        |SELECT CAST(stage AS INTEGER) AS stage, count(*) AS n_users
        |FROM s GROUP BY stage ORDER BY stage""".stripMargin,

    "retention_cohorts" ->
      """WITH weekly AS (SELECT DISTINCT user_id,
        |                  CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM weekly GROUP BY user_id)
        |SELECT cohort_week,
        |       CAST(date_diff('day', cohort_week, week) / 7 AS INTEGER) AS week_offset,
        |       count(DISTINCT w.user_id) AS n_users
        |FROM weekly w JOIN c USING (user_id)
        |GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // The distributed two-phase prefix sum must equal the oracle's single
    // global window cumsum — partition-boundary invariance is the claim.
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          - n_tokens AS strt
        |      FROM t)
        |SELECT CAST(strt // 2048 AS BIGINT) AS seq_id, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens, min(doc_id) AS first_doc
        |FROM c GROUP BY 1 ORDER BY seq_id""".stripMargin,

    // The oracle sees only the RESULT parity (same rows as a plain join); the
    // no-shuffle property of the bucketed plan is pinned by AdvancedStateSpec.
    "join_bucketed" ->
      """SELECT o_orderpriority, count(*) AS n_lines, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // ratios via exact integer HALF_UP rounding — (20000p+q)//(2q)/10000 —
    // mirroring Graft.repetitionMetrics (no round(double) boundary flakes)
    "quality_repetition" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct,
        |  CAST((20000*(len(toks) - len(list_distinct(toks))) + len(toks)) // (2*len(toks)) AS DOUBLE)/10000.0 AS dup_ratio,
        |  CAST((20000*(length(text) - (len(toks) - 1)) + len(toks)) // (2*len(toks)) AS DOUBLE)/10000.0 AS mean_tok_len,
        |  CAST((20000*list_max(list_transform(list_distinct(toks),
        |        t -> len(list_filter(toks, x -> x = t)))) + len(toks)) // (2*len(toks)) AS DOUBLE)/10000.0 AS top_token_frac
        |FROM t)
        |SELECT doc_id, n_tokens, n_distinct, dup_ratio, mean_tok_len, top_token_frac,
        |  (dup_ratio <= 0.9 AND mean_tok_len BETWEEN 2.0 AND 12.0
        |   AND top_token_frac <= 0.3) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    "decontaminate_ngrams" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, array_to_string(list_slice(toks, i, i + 5), ' ') AS gram
        |      FROM t, UNNEST(range(1, greatest(1, len(toks) - 4))) AS u(i)),
        |ev AS (SELECT DISTINCT gram, doc_id AS eval_id FROM g WHERE doc_id % 97 = 0),
        |tr AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
        |SELECT tr.doc_id, count(DISTINCT tr.gram) AS n_hits,
        |       count(DISTINCT ev.eval_id) AS n_eval_docs
        |FROM tr JOIN ev ON tr.gram = ev.gram
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,

    // The Bloom prescreen is semantics-free (prune + exact confirm), so the
    // oracle is decontaminate_ngrams' verbatim — the hash match PROVES the
    // sketch path changes nothing but the plan.
    "decontaminate_bloom" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, array_to_string(list_slice(toks, i, i + 5), ' ') AS gram
        |      FROM t, UNNEST(range(1, greatest(1, len(toks) - 4))) AS u(i)),
        |ev AS (SELECT DISTINCT gram, doc_id AS eval_id FROM g WHERE doc_id % 97 = 0),
        |tr AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
        |SELECT tr.doc_id, count(DISTINCT tr.gram) AS n_hits,
        |       count(DISTINCT ev.eval_id) AS n_eval_docs
        |FROM tr JOIN ev ON tr.gram = ev.gram
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,

    // The streaming quality gate's final tally == the batch rule applied to
    // the full table (row-local filter ⇒ stateless incrementalization).
    "stream_quality_filter" ->
      """WITH t AS (SELECT doc_id, text, lang, string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT lang, len(toks) AS n_tokens,
        |        CAST((20000*(len(toks) - len(list_distinct(toks))) + len(toks)) // (2*len(toks)) AS DOUBLE)/10000.0 AS dup_ratio,
        |        CAST((20000*(length(text) - (len(toks) - 1)) + len(toks)) // (2*len(toks)) AS DOUBLE)/10000.0 AS mean_tok_len,
        |        CAST((20000*list_max(list_transform(list_distinct(toks),
        |              t2 -> len(list_filter(toks, x -> x = t2)))) + len(toks)) // (2*len(toks)) AS DOUBLE)/10000.0 AS top_frac
        |      FROM t)
        |SELECT lang, count(*) AS n_pass, CAST(sum(n_tokens) AS BIGINT) AS tok_volume
        |FROM m
        |WHERE dup_ratio <= 0.9 AND mean_tok_len BETWEEN 2.0 AND 12.0 AND top_frac <= 0.3
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // Streaming funnel: final per-user stage == the batch funnel rule (the
    // same Graft.funnel plan, incrementalized).
    "stream_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t2,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t3,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t4
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |  CAST(CASE WHEN t1 IS NULL THEN 0
        |    WHEN t2 IS NULL OR t2 < t1 THEN 1
        |    WHEN t3 IS NULL OR t3 < t2 THEN 2
        |    WHEN t4 IS NULL OR t4 < t3 THEN 3
        |    ELSE 4 END AS INTEGER) AS stage
        |FROM f ORDER BY user_id""".stripMargin,

    // Streaming HLL: final streaming state == batch exact distinct while the
    // lgK=14 sketch is coupon-exact (same scale caveat as hll_sketch).
    "stream_hll" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "mixture_waterfill" -> mixtureWaterfillOracleSql,
    "contamination_report" -> contaminationReportOracleSql,
    "quality_ensemble" -> qualityEnsembleOracleSql,
    "cluster_balanced_sample" -> clusterBalancedSampleOracleSql,
    "corpus_diff" -> corpusDiffOracleSql,
    "boilerplate_scrub" -> boilerplateScrubOracleSql,
    "dedup_eval_pr" -> dedupEvalPrOracleSql,
    "dedup_eval_sweep" -> dedupEvalSweepOracleSql,
    "tokenizer_fertility" -> tokenizerFertilityOracleSql,
    // the streaming twin's contract IS the batch scrub's oracle: same
    // fingerprints, same >= 3-distinct-doc rule, per-doc counters
    "stream_boilerplate" -> boilerplateScrubOracleSql,
    // same contract: the md5 gate admits the identical doc set at ingest
    "stream_apply_mixture" -> pipelineApplyMixtureOracleSql,
    "curriculum_order" -> curriculumOrderOracleSql,
    "mixture_epochs" -> mixtureEpochsOracleSql,
    "shard_manifest" -> shardManifestOracleSql,
    "quality_agreement" -> qualityAgreementOracleSql,
    "sample_quality_weighted" -> sampleQualityWeightedOracleSql,
    "quality_threshold_sweep" -> qualityThresholdSweepOracleSql,
    "mixture_doremi" -> mixtureDoremiOracleSql,

    // the source_overlap paragraph construction, aggregated to the
    // duplication-depth grid instead of the source-pair matrix
    "dedup_cluster_stats" ->
      """WITH pars AS (
        |  SELECT ('0x' || substring(md5(array_to_string(ts[(w*16+1):(w*16+16)], ' ')), 1, 15))::BIGINT AS fp
        |  FROM (
        |    SELECT ts, unnest(range(0, CAST(ceil(len(ts) / 16.0) AS INT))) AS w
        |    FROM (SELECT string_split(text, ' ') AS ts FROM documents)
        |    WHERE len(ts) >= 1)),
        |pf AS (SELECT fp, count(1) AS depth FROM pars GROUP BY fp),
        |grid AS (
        |  SELECT depth, count(1) AS n_fingerprints,
        |    depth * count(1) AS n_paragraphs
        |  FROM pf GROUP BY depth),
        |tot AS (SELECT CAST(sum(n_paragraphs) AS BIGINT) AS t FROM grid)
        |SELECT depth, n_fingerprints, n_paragraphs,
        |  CAST((20000 * n_paragraphs + t) // (2 * t) AS DOUBLE) / 10000.0 AS corpus_share
        |FROM grid CROSS JOIN tot ORDER BY depth""".stripMargin,

    // vocabulary aggregate → count spectrum → BIGINT least squares on the
    // 2^10 ln grid; slope rounds before feeding the exponent, both sides
    "zipf_fit" ->
      """WITH toks AS (
        |  SELECT array_to_string(ts[i : i + 1], ' ') AS t
        |  FROM (
        |    SELECT ts, unnest(range(1, len(ts))) AS i
        |    FROM (SELECT string_split(text, ' ') AS ts FROM documents)
        |    WHERE len(ts) >= 2)),
        |voc AS (SELECT t, count(1) AS c FROM toks GROUP BY t),
        |spec AS (SELECT c, count(1) AS m FROM voc GROUP BY c),
        |ag AS (
        |  SELECT CAST(sum(m) AS BIGINT) AS n_types,
        |    CAST(sum(c * m) AS BIGINT) AS n_tokens,
        |    CAST(count(CASE WHEN c <= 16384 THEN 1 END) AS BIGINT) AS n_spectrum,
        |    CAST(sum(CASE WHEN c <= 16384 THEN CAST(floor(ln(CAST(c AS DOUBLE)) * 1024.0) AS BIGINT) END) AS BIGINT) AS sx,
        |    CAST(sum(CASE WHEN c <= 16384 THEN CAST(floor(ln(CAST(m AS DOUBLE)) * 1024.0) AS BIGINT) END) AS BIGINT) AS sy,
        |    CAST(sum(CASE WHEN c <= 16384 THEN CAST(floor(ln(CAST(c AS DOUBLE)) * 1024.0) AS BIGINT)
        |      * CAST(floor(ln(CAST(m AS DOUBLE)) * 1024.0) AS BIGINT) END) AS BIGINT) AS sxy,
        |    CAST(sum(CASE WHEN c <= 16384 THEN CAST(floor(ln(CAST(c AS DOUBLE)) * 1024.0) AS BIGINT)
        |      * CAST(floor(ln(CAST(c AS DOUBLE)) * 1024.0) AS BIGINT) END) AS BIGINT) AS sxx
        |  FROM spec),
        |sl AS (
        |  SELECT n_types, n_tokens, n_spectrum,
        |    round(CAST(n_spectrum * sxy - sx * sy AS DOUBLE)
        |      / CAST(n_spectrum * sxx - sx * sx AS DOUBLE), 4) AS slope
        |  FROM ag)
        |SELECT n_types, n_tokens, n_spectrum, slope,
        |  round(-1.0 / (1.0 + slope), 4) AS zipf_s
        |FROM sl""".stripMargin,

    // one token pass: per-bucket counts + first-seen bucket per type,
    // cumulative windows over the 16-row grid
    "heaps_law" ->
      """WITH toks AS (
        |  SELECT b, array_to_string(ts[i : i + 2], ' ') AS t
        |  FROM (
        |    SELECT substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS b, ts,
        |      unnest(range(1, len(ts) - 1)) AS i
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
        |    WHERE len(ts) >= 3)),
        |pb AS (SELECT b, count(1) AS bucket_tokens FROM toks GROUP BY b),
        |fs AS (
        |  SELECT b, count(1) AS new_types
        |  FROM (SELECT t, min(b) AS b FROM toks GROUP BY t) GROUP BY b),
        |j AS (
        |  SELECT pb.b, bucket_tokens, coalesce(new_types, 0) AS new_types
        |  FROM pb LEFT JOIN fs USING (b))
        |SELECT b AS bucket, bucket_tokens,
        |  CAST(sum(bucket_tokens) OVER (ORDER BY b) AS BIGINT) AS cum_tokens,
        |  new_types,
        |  CAST(sum(new_types) OVER (ORDER BY b) AS BIGINT) AS cum_types
        |FROM j ORDER BY bucket""".stripMargin,

    // all-integer bucket arithmetic (// mirrors Spark DIV exactly)
    "length_bucket_batches" ->
      """WITH nt AS (
        |  SELECT CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents),
        |b AS (SELECT ((n - 1) // 16) * 16 + 16 AS cap, n FROM nt WHERE n > 0),
        |g AS (
        |  SELECT cap, count(1) AS n_docs, CAST(sum(n) AS BIGINT) AS real_tokens
        |  FROM b GROUP BY cap),
        |p AS (
        |  SELECT cap, n_docs, real_tokens, n_docs * cap AS padded_tokens,
        |    greatest(16384 // cap, 1) AS rpb
        |  FROM g)
        |SELECT cap, n_docs, real_tokens, padded_tokens,
        |  CAST((20000 * (padded_tokens - real_tokens) + padded_tokens)
        |    // (2 * padded_tokens) AS DOUBLE) / 10000.0 AS waste,
        |  (n_docs + rpb - 1) // rpb AS n_batches
        |FROM p ORDER BY cap""".stripMargin,

    // generation-1 rows (doc_id % 3 = 0) never carried the evolved column
    "schema_evolution" ->
      """SELECT lang, count(1) AS n_docs,
        |  CAST(count_if(doc_id % 3 <> 0) AS BIGINT) AS n_evolved,
        |  CAST(coalesce(sum(CASE WHEN doc_id % 3 <> 0 THEN n_chars END), 0) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // the dedup_paragraphs fingerprint construction on the (source,
    // fingerprint)-distinct frame, self-joined across sources
    "source_overlap" ->
      """WITH pars AS (
        |  SELECT DISTINCT source,
        |    ('0x' || substring(md5(array_to_string(ts[(w*16+1):(w*16+16)], ' ')), 1, 15))::BIGINT AS fp
        |  FROM (
        |    SELECT source, ts, unnest(range(0, CAST(ceil(len(ts) / 16.0) AS INT))) AS w
        |    FROM (SELECT source, string_split(text, ' ') AS ts FROM documents)
        |    WHERE len(ts) >= 1))
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(1) AS n_shared_fps
        |FROM pars a JOIN pars b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY a.source, b.source
        |ORDER BY source_a, source_b""".stripMargin,

    // row-local T5 masking plan: (id, position)-hash start decisions,
    // covered-index union of clipped spans — all list arithmetic
    "span_corruption" ->
      """WITH ts AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
        |  FROM documents),
        |base AS (SELECT doc_id, len(ts) AS n FROM ts WHERE len(ts) >= 1),
        |st AS (
        |  SELECT doc_id, n,
        |    list_filter(range(0, n),
        |      i -> ('0x' || substring(md5(doc_id || '_' || i), 1, 15))::BIGINT % 20 = 0) AS starts
        |  FROM base),
        |cov AS (
        |  SELECT doc_id, n, len(starts) AS n_spans,
        |    len(list_distinct(flatten(list_transform(starts,
        |      p -> range(p, least(p + 3, n)))))) AS n_masked
        |  FROM st)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(n_spans AS BIGINT) AS n_spans,
        |  CAST(n_masked AS BIGINT) AS n_masked,
        |  CAST((20000 * n_masked + n) // (2 * n) AS DOUBLE) / 10000.0 AS mask4
        |FROM cov ORDER BY doc_id""".stripMargin,

    "mixture_weights" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
        |SELECT lang, n_docs,
        |  round(n_docs / sum(n_docs) OVER (), 6) AS frac,
        |  round((1.0 / count(*) OVER ()) / (n_docs / sum(n_docs) OVER ()), 6) AS weight
        |FROM c ORDER BY lang""".stripMargin,

    // The composed curation flow, mirrored stage by stage: eval holdout →
    // repetition-quality gate → recursive-CTE cluster closure keeping the
    // min-id representative → 6-gram decontamination → keep list.
    "pipeline_curate_corpus" ->
      """WITH RECURSIVE
        |d0 AS (SELECT doc_id, text, lang, source, string_split(text, ' ') AS toks
        |       FROM documents WHERE doc_id % 97 <> 0),
        |m AS (SELECT doc_id, text, lang, source, toks,
        |        CAST((20000*(len(toks) - len(list_distinct(toks))) + len(toks)) // (2*len(toks)) AS DOUBLE)/10000.0 AS dup_ratio,
        |        CAST((20000*(length(text) - (len(toks) - 1)) + len(toks)) // (2*len(toks)) AS DOUBLE)/10000.0 AS mean_tok_len,
        |        CAST((20000*list_max(list_transform(list_distinct(toks),
        |              t -> len(list_filter(toks, x -> x = t)))) + len(toks)) // (2*len(toks)) AS DOUBLE)/10000.0 AS top_frac
        |      FROM d0),
        |k0 AS (SELECT doc_id, text, lang, source, toks FROM m
        |       WHERE dup_ratio <= 0.9 AND mean_tok_len BETWEEN 2.0 AND 12.0 AND top_frac <= 0.3),
        |k AS (SELECT doc_id,
        |        md5(array_to_string(list_slice(toks, 1, 8), ' ')) AS k_head,
        |        md5(array_to_string(list_slice(toks, greatest(1, len(toks) - 7), len(toks)), ' ')) AS k_tail
        |      FROM k0),
        |e0 AS (SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY k_head) AS b FROM k
        |       UNION ALL
        |       SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY k_tail) AS b FROM k),
        |edges AS (SELECT a, b FROM e0 WHERE a <> b UNION SELECT b, a FROM e0 WHERE a <> b),
        |reach(v, m2) AS (SELECT doc_id, doc_id FROM k0
        |                 UNION
        |                 SELECT e.a, r.m2 FROM edges e JOIN reach r ON e.b = r.v),
        |comp AS (SELECT v AS doc_id, min(m2) AS cluster_id FROM reach GROUP BY v),
        |reps AS (SELECT k0.* FROM k0 JOIN comp ON k0.doc_id = comp.doc_id
        |         WHERE k0.doc_id = comp.cluster_id),
        |eg AS (SELECT DISTINCT array_to_string(list_slice(toks, i, i + 5), ' ') AS gram
        |       FROM (SELECT string_split(text, ' ') AS toks FROM documents
        |             WHERE doc_id % 97 = 0) t,
        |            UNNEST(range(1, greatest(1, len(toks) - 4))) AS u(i)),
        |tg AS (SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 5), ' ') AS gram
        |       FROM reps, UNNEST(range(1, greatest(1, len(toks) - 4))) AS u(i)),
        |bad AS (SELECT DISTINCT doc_id FROM tg JOIN eg USING (gram))
        |SELECT doc_id, lang, source FROM reps
        |WHERE doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY doc_id""".stripMargin,

    "pipeline_curate_multimodal" -> pipelineCurateMultimodalOracleSql,

    // Mirrors Graft.bm25Rank("stream","window","shuffle", k1=1.2, b=0.75):
    // idf quantized fixed-point (floor·2^20 — libm ln is last-ulp unstable
    // across engines, everything after the floor is IEEE basic ops), score
    // folded in sorted term order (list_reduce over ORDER BY term ≡ Spark
    // aggregate over array_sort; 0.0-init vs no-init fold agree because
    // x + 0.0 = x exactly), ranked by the UNROUNDED score.
    "bm25_rank" ->
      """WITH toks AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE length(tok) > 0),
        |dl AS (SELECT doc_id, count(1) AS dl FROM toks GROUP BY doc_id),
        |stats AS (SELECT count(1) AS n, sum(dl) AS tot FROM dl),
        |tf AS (SELECT doc_id, tok AS term, count(1) AS tf FROM toks
        |       WHERE tok IN ('stream', 'window', 'shuffle') GROUP BY doc_id, tok),
        |dfc AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
        |contrib AS (
        |  SELECT tf.doc_id, tf.term,
        |    (floor(ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) * 1048576.0) / 1048576.0)
        |      * (tf * (1.2 + 1.0))
        |      / (tf + (1.2 * ((1.0 - 0.75) + ((0.75 * dl) / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))))) AS c
        |  FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id), stats),
        |s AS (SELECT doc_id, count(1) AS n_terms,
        |        list_reduce(list(c ORDER BY term), (a, b) -> a + b) AS score
        |      FROM contrib GROUP BY doc_id)
        |SELECT doc_id, n_terms, round(score, 4) AS bm25
        |FROM s ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // Mirrors Dedup.dedupContainment: the dedup_ngram_jaccard candidate SQL
    // with the integer-exact ratio4 containment score over min(|A|,|B|).
    "dedup_containment" ->
      """WITH sh AS (
        |  SELECT doc_id, lang, source, unnest(shingles) AS shingle FROM (
        |    SELECT doc_id, lang, source,
        |      list_distinct(list_transform(
        |        range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
        |        i -> string_split(text, ' ')[i] || ' ' ||
        |             string_split(text, ' ')[i + 1] || ' ' ||
        |             string_split(text, ' ')[i + 2])) AS shingles
        |    FROM documents)),
        |sizes AS (SELECT doc_id, count(1) AS n_shingles FROM sh GROUP BY 1),
        |postings AS (
        |  SELECT lang, source, shingle, count(1) AS df
        |  FROM sh GROUP BY 1, 2, 3),
        |idx AS (
        |  SELECT sh.doc_id, sh.lang, sh.source, sh.shingle
        |  FROM sh JOIN postings USING (lang, source, shingle)
        |  WHERE df <= 128),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM idx a JOIN idx b
        |    ON a.lang = b.lang AND a.source = b.source
        |   AND a.shingle = b.shingle AND a.doc_id < b.doc_id),
        |inter AS (
        |  SELECT id_a, id_b, count(1) AS n_common
        |  FROM cand
        |  JOIN sh a ON a.doc_id = id_a
        |  JOIN sh b ON b.doc_id = id_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT id_a, id_b, n_common,
        |    CAST((20000 * n_common + least(sa.n_shingles, sb.n_shingles))
        |         // (2 * least(sa.n_shingles, sb.n_shingles)) AS DOUBLE) / 10000.0 AS containment,
        |    CASE WHEN sa.n_shingles <= sb.n_shingles THEN id_a ELSE id_b END AS contained_id
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b, n_common, containment, contained_id
        |FROM scored WHERE containment >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    // Mirrors Graft.selectByTokenBudget(10000): integer-exact dup_ratio rank,
    // running token total as a window cumsum (the distributed two-phase
    // prefix sum is invariant to partition boundaries, so one window is its
    // declarative twin), kept while ≤ budget. HUGEINT window sum → BIGINT.
    "select_token_budget" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT doc_id, len(toks) AS n_tokens,
        |        CAST((20000*(len(toks) - len(list_distinct(toks))) + len(toks))
        |             // (2*len(toks)) AS DOUBLE)/10000.0 AS dup_ratio
        |      FROM t),
        |c AS (SELECT doc_id, n_tokens,
        |        CAST(sum(n_tokens) OVER (ORDER BY dup_ratio, doc_id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |      FROM m)
        |SELECT doc_id, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 10000 ORDER BY doc_id""".stripMargin,

    // Mirrors Graft.temperatureMixture(T=2): √n weights (correctly-rounded
    // IEEE sqrt), normalizer folded in sorted stratum order.
    "mixture_temperature" ->
      """WITH counts AS (SELECT lang, count(1) AS n_docs FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS w FROM counts),
        |tot AS (SELECT list_reduce(list(w ORDER BY lang), (a, b) -> a + b) AS tot FROM w)
        |SELECT lang, n_docs, round(w / tot, 6) AS rate
        |FROM w, tot ORDER BY lang""".stripMargin,
  )
}
