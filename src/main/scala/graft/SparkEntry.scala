package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the query↔operator map. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Partitioned time-bucket load — the reference's signature capability
    * (`EmbulkPartitioningMapReduce.java:39` + `TimestampPartitioning.java`).
    */
  def entry(spark: SparkSession): DataFrame = {
    // The driver may hand us a session without graft's reader contract;
    // these are all dynamic SQL confs, so set them defensively.
    Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    ).foreach { case (k, v) =>
      try spark.conf.set(k, v) catch { case _: Throwable => () }
    }
    Queries.partitionHourTs(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // R1 map-only ETL
    "etl_map_only" -> (Queries.etlMapOnly _),
    "etl_cast_rename" -> (Queries.etlCastRename _),
    "profile_table" -> (Queries.profileTable _),
    "zorder_key" -> (Queries.zorderKey _),
    // R2/R3 timestamp partitioning
    "partition_hour_ts" -> (Queries.partitionHourTs _),
    "partition_day_ts" -> (Queries.partitionDayTs _),
    "partition_day_orders" -> (Queries.partitionDayOrders _),
    // R4 long-column unix units
    "partition_unix_sec" -> (Queries.partitionUnixSec _),
    "partition_unix_milli" -> (Queries.partitionUnixMilli _),
    "partition_unix_micro" -> (Queries.partitionUnixMicro _),
    "partition_unix_nano" -> (Queries.partitionUnixNano _),
    // R5 skew split
    "partition_skew_split" -> (Queries.partitionSkewSplit _),
    // R9 task report (rows-only)
    "task_report" -> (Queries.taskReport _),
    "task_report_retry" -> (Queries.taskReportRetry _),
    // R11 invalid-record policy
    "invalid_record_drop" -> (Queries.invalidRecordDrop _),
    "invalid_record_permissive" -> (Queries.invalidRecordPermissive _),
    // R14 config-driven pipeline
    "pipeline_config_run" -> (Queries.pipelineConfigRun _),
    "pipeline_config_out" -> (Queries.pipelineConfigOut _),
    "pipeline_config_composite" -> (Queries.pipelineConfigComposite _),
    "pipeline_config_curation" -> (Queries.pipelineConfigCuration _),
    "pipeline_config_quota_bands" -> (Queries.pipelineConfigQuotaBands _),
    "pipeline_config_decontaminate" -> (Queries.pipelineConfigDecontaminate _),
    // R10 cross-job partial-done recovery (retry_tasks resume)
    "pipeline_resume_partial" -> (Queries.pipelineResumePartial _),
    // E1/E2 core joins + aggs
    "q1_pricing" -> (Queries.q1Pricing _),
    "q3_top_orders" -> (Queries.q3TopOrders _),
    "q5_region_revenue" -> (Queries.q5RegionRevenue _),
    "join_broadcast_part" -> (Queries.joinBroadcastPart _),
    // as-of temporal join (+ the build-once/probe-many bucketed form)
    "asof_join" -> (Queries.asofJoin _),
    "asof_packed" -> (Queries.asofPackedQ _),
    // E3-E6 windows / sessions / rollup / distinct
    "window_top_events" -> (Queries.windowTopEvents _),
    "topk_per_key" -> (Queries.topkPerKey _),
    "sessionize" -> (Queries.sessionize _),
    "streaming_sessionize" -> (Queries.streamingSessionize _),
    "streaming_late_drop" -> (Queries.streamingLateDrop _),
    "dedup_stream_exact" -> (Queries.dedupStreamExact _),
    "stream_stream_join" -> (Queries.streamStreamJoin _),
    "rollup_orders" -> (Queries.rollupOrders _),
    "cube_orders" -> (Queries.cubeOrders _),
    "pivot_event_values" -> (Queries.pivotEventValues _),
    "json_extract_agg" -> (Queries.jsonExtractAgg _),
    "semi_anti_customers" -> (Queries.semiAntiCustomers _),
    "value_percentiles" -> (Queries.valuePercentiles _),
    "moving_avg" -> (Queries.movingAvg _),
    "except_intersect" -> (Queries.exceptIntersect _),
    "join_full_outer" -> (Queries.joinFullOuter _),
    "join_bucketed" -> (Queries.joinBucketed _),
    "gapfill_daily" -> (Queries.gapfillDaily _),
    "approx_percentiles" -> (Queries.approxPercentiles _),
    "sliding_hour_counts" -> (Queries.slidingHourCounts _),
    "streaming_hourly_counts" -> (Queries.streamingHourlyCounts _),
    "distinct_users_daily" -> (Queries.distinctUsersDaily _),
    "approx_distinct_users" -> (Queries.approxDistinctUsers _),
    // L1 exact dedup
    "dedup_exact" -> (Queries.dedupExact _),
    "dedup_exact_normalized" -> (Queries.dedupExactNormalized _),
    // L2-L5 near-dup
    "dedup_minhash" -> (Queries.dedupMinhash _),
    "dedup_clusters" -> (Queries.dedupClusters _),
    "dedup_simhash" -> (Queries.dedupSimhash _),
    "dedup_jaccard_exact" -> (Queries.dedupJaccardExact _),
    "dedup_levenshtein" -> (Queries.dedupLevenshtein _),
    "dedup_levenshtein_clusters" -> (Queries.dedupLevenshteinClusters _),
    "dedup_embedding" -> (Queries.dedupEmbedding _),
    "dedup_embedding_lsh" -> (Queries.dedupEmbeddingLsh _),
    "dedup_embedding_clusters" -> (Queries.dedupEmbeddingClusters _),
    // L6 similarity search
    "ann_topk" -> (Queries.annTopk _),
    "ann_topk_lsh" -> (Queries.annTopkLsh _),
    "ann_topk_q8" -> (Queries.annTopkQ8 _),
    "ann_ivf" -> (Queries.annIvf _),
    "ann_ivf_refined" -> (Queries.annIvfRefined _),
    "knn_label" -> (Queries.knnLabel _),
    "knn_label_ivf" -> (Queries.knnLabelIvf _),
    // corpus curation (incremental dedup, compaction, sampling, chunking)
    "dedup_incremental" -> (Queries.dedupIncremental _),
    "dedup_incremental_stream" -> (Queries.dedupIncrementalStream _),
    "dedup_incremental_bucketed" -> (Queries.dedupIncrementalBucketed _),
    "dedup_incremental_bloom" -> (Queries.dedupIncrementalBloom _),
    "latest_by_key" -> (Queries.latestByKey _),
    "scd2_history" -> (Queries.scd2History _),
    "sample_stratified" -> (Queries.sampleStratified _),
    "shuffle_shard" -> (Queries.shuffleShard _),
    "sample_exact_n" -> (Queries.sampleExactN _),
    "mixture_sample" -> (Queries.mixtureSample _),
    "doc_chunking" -> (Queries.docChunking _),
    "doc_packing" -> (Queries.docPacking _),
    "doc_packing_bpe" -> (Queries.docPackingBpe _),
    "doc_blocks" -> (Queries.docBlocks _),
    "quality_bands" -> (Queries.qualityBands _),
    "tfidf_topterms" -> (Queries.tfidfTopterms _),
    "decontaminate" -> (Queries.decontaminate _),
    "decontaminate_fuzzy" -> (Queries.decontaminateFuzzy _),
    "range_join_counts" -> (Queries.rangeJoinCounts _),
    // L7 multimodal
    "multimodal_meta" -> (Queries.multimodalMeta _),
    "multimodal_decode" -> (Queries.multimodalDecode _),
    "multimodal_audio" -> (Queries.multimodalAudio _),
    "multimodal_video" -> (Queries.multimodalVideo _),
    "source_quota" -> (Queries.sourceQuota _),
    // L8-L11 text analysis
    "text_stats" -> (Queries.textStats _),
    // L47 sqrt-temperature source-mixture weights
    "domain_mixture" -> (Queries.domainMixture _),
    "text_tokens" -> (Queries.textTokens _),
    "text_bpe_tokens" -> (Queries.textBpeTokens _),
    "text_bpe_names" -> (Queries.textBpeNames _),
    "text_bpe_encode" -> (Queries.textBpeEncode _),
    "lang_id" -> (Queries.langId _),
    "quality_score" -> (Queries.qualityScore _),
    "corpus_freq_score" -> (Queries.corpusFreqScore _),
    // L49 bigram-LM fluency score
    "lm_score" -> (Queries.lmScore _),
    "text_repetition" -> (Queries.textRepetition _),
    "fingerprint" -> (Queries.fingerprintQ _),
    // L21 PII redaction
    "pii_redact" -> (Queries.piiRedact _),
    // L22 line-level dedup
    "line_dedup" -> (Queries.lineDedup _),
    "span_dedup" -> (Queries.spanDedup _),
    // L46 duplicated-span census (the span-family strip-list consumer)
    "span_census" -> (Queries.spanCensusQ _),
    // L48 cross-source span-overlap matrix
    "source_overlap" -> (Queries.sourceOverlapQ _),
    // L25 NFC canonicalization
    "text_nfc_clean" -> (Queries.textNfcClean _),
    // E23-E27 CDC merge, inverted index, histogram, winsorize, cohort
    "merge_upsert" -> (Queries.mergeUpsert _),
    "inverted_index" -> (Queries.invertedIndexQ _),
    "histogram_values" -> (Queries.histogramValues _),
    "winsorize_clip" -> (Queries.winsorizeClip _),
    "cohort_retention" -> (Queries.cohortRetention _),
    // E28-E31 unpivot, exact corr, funnel, integer pagerank
    "unpivot_values" -> (Queries.unpivotValues _),
    "corr_exact" -> (Queries.corrExactQ _),
    "funnel_steps" -> (Queries.funnelSteps _),
    "pagerank_iter" -> (Queries.pagerankIter _),
    // E32-E35 rolling distinct, TWAP, snapshot diff, streaming CDC merge
    "rolling_distinct_users" -> (Queries.rollingDistinctUsers _),
    "twap_value" -> (Queries.twapValue _),
    "snapshot_diff" -> (Queries.snapshotDiff _),
    "snapshot_diff_bucketed" -> (Queries.snapshotDiffBucketed _),
    "merge_upsert_stream" -> (Queries.mergeUpsertStream _),
    // E3b/E5b/E17b window + grouping surface completion
    "window_rank_stats" -> (Queries.windowRankStats _),
    "range_frame_sum" -> (Queries.rangeFrameSum _),
    "grouping_sets_orders" -> (Queries.groupingSetsOrders _),
    // E36 stream-static join
    "stream_static_join" -> (Queries.streamStaticJoin _),
    // E37-E39 checksum, heavy hitters, OLS; L26 collocations
    "table_checksum" -> (Queries.tableChecksumQ _),
    "heavy_words" -> (Queries.heavyWords _),
    "ols_exact" -> (Queries.olsExactQ _),
    "bigram_pmi" -> (Queries.bigramPmi _),
    // E40-E42 hierarchy, equi-depth histogram, MAD outliers
    "hierarchy_flatten" -> (Queries.hierarchyFlatten _),
    "equidepth_hist" -> (Queries.equidepthHist _),
    "mad_outliers" -> (Queries.madOutliers _),
    // E43 chi-square, L27 golden record, E6d mergeable HLL rollup
    "chi_square" -> (Queries.chiSquareQ _),
    "golden_record" -> (Queries.goldenRecord _),
    "hll_rollup" -> (Queries.hllRollup _),
    // E9b graft_* SQL function surface
    "sql_kernel_surface" -> (Queries.sqlKernelSurface _),
    // L7b perceptual image dedup
    "multimodal_phash" -> (Queries.multimodalPhash _),
    // E40b hierarchy rollup, E2c interpolated gapfill
    "hierarchy_rollup" -> (Queries.hierarchyRollup _),
    "gapfill_interp" -> (Queries.gapfillInterp _),
    // E38b streaming incremental heavy hitters
    "stream_heavy_hitters" -> (Queries.streamHeavyHitters _),
    // L28 leakage-free train/eval split
    "leakage_free_split" -> (Queries.leakageFreeSplit _),
    // L29 corpus drift
    "corpus_drift" -> (Queries.corpusDrift _),
    // E44 data-quality audit, E45 last-touch attribution
    "dq_audit" -> (Queries.dqAudit _),
    "attribution_last_touch" -> (Queries.attributionLastTouch _),
    // E46 sweep-line concurrency, E47 largest-remainder allocation,
    // E48 transition matrix, E49 basket rules, E53 incremental MV
    "max_concurrency" -> (Queries.maxConcurrency _),
    "allocate_rebate" -> (Queries.allocateRebate _),
    "event_transitions" -> (Queries.eventTransitions _),
    "basket_rules" -> (Queries.basketBrandRules _),
    "mv_incremental" -> (Queries.mvIncremental _),
    // E51 pseudonymization, L30 OOV rate, E52 compaction,
    // E7c session_window, E8f dedup-within-watermark
    "pseudonymize_join" -> (Queries.pseudonymizeJoin _),
    "oov_rate" -> (Queries.oovRate _),
    "compact_files" -> (Queries.compactFiles _),
    "streaming_session_window" -> (Queries.streamingSessionWindow _),
    "dedup_within_watermark" -> (Queries.dedupWithinWatermarkQ _),
    // E54 Gini, E55 Kaplan-Meier, E56 seasonal residuals,
    // E57 transactional publish, E58 rolling correlation
    "gini_concentration" -> (Queries.giniConcentration _),
    "survival_km" -> (Queries.survivalKm _),
    "seasonal_residuals" -> (Queries.seasonalResidualsQ _),
    "tx_publish" -> (Queries.txPublishQ _),
    "rolling_corr" -> (Queries.rollingCorrQ _),
    // L6b persisted ANN index, E59 Mahalanobis, E13b nearest as-of,
    // E60 2-D skyline
    "ann_index_persist" -> (Queries.annIndexPersist _),
    "mahalanobis_outliers" -> (Queries.mahalanobisOutliers _),
    "asof_nearest" -> (Queries.asofNearestQ _),
    "skyline_parts" -> (Queries.skylineParts _),
    // L33 weighted systematic sampling, E36b streaming temporal
    // enrichment, E6e HLL overlap
    "sample_weighted" -> (Queries.sampleWeighted _),
    "stream_asof_enrich" -> (Queries.streamAsofEnrich _),
    "hll_overlap" -> (Queries.hllOverlap _),
    // L34 BM25-style ranked retrieval
    "bm25_retrieval" -> (Queries.bm25Retrieval _),
    // E61 trending rank movement
    "trending_brands" -> (Queries.trendingBrands _),
    // E54b two-level-rank Gini (the wide-group escape, same oracle)
    "gini_ranked" -> (Queries.giniRanked _),
    // E62 bitemporal reconstruction, E44b config-driven DQ rules
    "bitemporal_asof" -> (Queries.bitemporalAsof _),
    "dq_rules" -> (Queries.dqRules _),
    // L35 cluster-dedup-aware sampling
    "sample_cluster_dedup" -> (Queries.sampleClusterDedup _),
    // E63 power-iteration PCA
    "pca_top_component" -> (Queries.pcaTopComponentQ _),
    // E6f windowed mergeable distinct
    "sliding_distinct_hll" -> (Queries.slidingDistinctHll _),
    // E64 exact weighted median
    "weighted_median" -> (Queries.weightedMedian _),
    // L36 hybrid retrieval (RRF), E65 Count-Min sketch,
    // L37 vocabulary growth, E6g sliding exact percentiles
    "retrieval_rrf" -> (Queries.retrievalRrf _),
    "cms_counts" -> (Queries.cmsCounts _),
    "vocab_growth" -> (Queries.vocabGrowth _),
    "sliding_percentile" -> (Queries.slidingPercentile _),
    // E66 triangle census, E67 CUSUM change-point, E65b streaming CMS
    "triangle_parts" -> (Queries.triangleParts _),
    "cusum_daily" -> (Queries.cusumDaily _),
    "stream_cms" -> (Queries.streamCms _),
    // E45b position-based multi-touch attribution, L38 n-gram novelty
    "attribution_position" -> (Queries.attributionPosition _),
    "novelty_ngrams" -> (Queries.noveltyNgrams _),
    // E24b positional phrase search, E68 time-to-convert percentiles,
    // L39 cross-source calibrated quality
    "phrase_search" -> (Queries.phraseSearch _),
    "time_to_convert" -> (Queries.timeToConvert _),
    "quality_calibrated" -> (Queries.qualityCalibrated _),
    // E69 sequence-pattern extraction, E67b streaming CUSUM,
    // L40 tokenizer fertility by language
    "seq_pattern" -> (Queries.seqPattern _),
    "stream_cusum" -> (Queries.streamCusum _),
    "bpe_fertility" -> (Queries.bpeFertility _),
    // E70 session path census, L41 dedup telemetry,
    // E64b exact weighted percentiles
    "session_paths" -> (Queries.sessionPaths _),
    "dedup_stats" -> (Queries.dedupStats _),
    "weighted_percentiles" -> (Queries.weightedPercentiles _),
    // L42 cross-split n-gram coverage, E71 mergeable binned quantiles
    "ngram_coverage" -> (Queries.ngramCoverage _),
    "quantile_mergeable" -> (Queries.quantileMergeable _),
    // E72 user lifecycle, E73 activity streaks, L43 prefix boilerplate
    "user_lifecycle" -> (Queries.userLifecycle _),
    "activity_streaks" -> (Queries.activityStreaks _),
    "prefix_dup" -> (Queries.prefixDup _),
    // L44 containment pairs, E74 KS drift, E75 A/B report
    "containment_pairs" -> (Queries.containmentPairsQ _),
    "containment_stats" -> (Queries.containmentStats _),
    "ks_drift" -> (Queries.ksDrift _),
    "ab_test_report" -> (Queries.abTestReport _),
    // L45 embedding health census, E76 RFM segmentation
    "embedding_health" -> (Queries.embeddingHealth _),
    "rfm_segments" -> (Queries.rfmSegments _),
  )

  /** Bench class per registered query — `pure` (compute only),
    * `write_demo` (the write IS the demonstration: bucketed tables,
    * partitioned layouts, resumable sinks), or `stream_harness` (stages a
    * landing dir and runs checkpointed drains). Bench sequences pure
    * queries first and reports per-class subtotals so write/harness I/O
    * can't masquerade as engine regression — the r8 cold column showed
    * four pure queries regress 2.7–4.2× with unchanged code from sharing
    * a run with three new write-heavy neighbours.
    */
  def queryClass: Map[String, String] =
    queries.keys.map { n =>
      n -> (if (writeDemo(n)) "write_demo"
            else if (streamHarness(n)) "stream_harness"
            else "pure")
    }.toMap

  private[graft] val writeDemo = Set(
    "pipeline_config_out", "pipeline_config_composite", "join_bucketed",
    "pipeline_resume_partial", "snapshot_diff_bucketed", "compact_files",
    "mv_incremental", "tx_publish", "ann_index_persist", "asof_packed")
  private[graft] val streamHarness = Set(
    "streaming_hourly_counts", "streaming_sessionize", "streaming_late_drop",
    "dedup_stream_exact", "dedup_incremental_stream",
    "dedup_incremental_bucketed", "stream_stream_join",
    "merge_upsert_stream", "stream_static_join", "stream_heavy_hitters",
    "streaming_session_window", "dedup_within_watermark",
    "stream_asof_enrich", "stream_cms", "stream_cusum")

  /** DuckDB oracle SQL per query — every registered query has one.
    * Non-replayable internals are oracled through their *contract*:
    * `task_report` via observed row counts recomputed from the data,
    * `approx_distinct_users` via the sketch's error bound,
    * `dedup_simhash`/`dedup_minhash` via the exact-threshold truth their
    * LSH candidates provably cover, `ann_ivf` via a full SQL replay of the
    * deterministic index build.
    */
  def oracleSql: Map[String, String] = Map(
    "task_report" -> Queries.taskReportSql,
    "task_report_retry" -> Queries.taskReportRetrySql,
    "approx_distinct_users" -> Queries.approxDistinctUsersSql,
    "dedup_simhash" -> Queries.dedupSimhashSql,
    "ann_ivf" -> Queries.annIvfSql,
    "ann_ivf_refined" -> Queries.annIvfRefinedSql,
    "knn_label" -> Queries.knnLabelSql,
    "knn_label_ivf" -> Queries.knnLabelIvfSql,
    "etl_map_only" -> Queries.etlMapOnlySql,
    "etl_cast_rename" -> Queries.etlCastRenameSql,
    "profile_table" -> Queries.profileTableSql,
    "zorder_key" -> Queries.zorderKeySql,
    "partition_hour_ts" -> Queries.partitionHourTsSql,
    "partition_day_ts" -> Queries.partitionDayTsSql,
    "partition_day_orders" -> Queries.partitionDayOrdersSql,
    "partition_unix_sec" -> Queries.partitionUnixSecSql,
    "partition_unix_milli" -> Queries.partitionUnixMilliSql,
    "partition_unix_micro" -> Queries.partitionUnixMicroSql,
    "partition_unix_nano" -> Queries.partitionUnixNanoSql,
    "partition_skew_split" -> Queries.partitionSkewSplitSql,
    "invalid_record_drop" -> Queries.invalidRecordDropSql,
    "invalid_record_permissive" -> Queries.invalidRecordPermissiveSql,
    "pipeline_config_run" -> Queries.pipelineConfigRunSql,
    "pipeline_config_out" -> Queries.pipelineConfigOutSql,
    "pipeline_config_composite" -> Queries.pipelineConfigCompositeSql,
    "pipeline_config_curation" -> Queries.pipelineConfigCurationSql,
    "pipeline_config_quota_bands" -> Queries.pipelineConfigQuotaBandsSql,
    "pipeline_config_decontaminate" -> Queries.pipelineConfigDecontaminateSql,
    "pipeline_resume_partial" -> Queries.pipelineResumePartialSql,
    "q1_pricing" -> Queries.q1PricingSql,
    "q3_top_orders" -> Queries.q3TopOrdersSql,
    "q5_region_revenue" -> Queries.q5RegionRevenueSql,
    "join_broadcast_part" -> Queries.joinBroadcastPartSql,
    "asof_join" -> Queries.asofJoinSql,
    "asof_packed" -> Queries.asofPackedSql,
    "window_top_events" -> Queries.windowTopEventsSql,
    "topk_per_key" -> Queries.topkPerKeySql,
    "sessionize" -> Queries.sessionizeSql,
    "streaming_sessionize" -> Queries.streamingSessionizeSql,
    "streaming_late_drop" -> Queries.streamingLateDropSql,
    "dedup_stream_exact" -> Queries.dedupStreamExactSql,
    "stream_stream_join" -> Queries.streamStreamJoinSql,
    "rollup_orders" -> Queries.rollupOrdersSql,
    "cube_orders" -> Queries.cubeOrdersSql,
    "pivot_event_values" -> Queries.pivotEventValuesSql,
    "json_extract_agg" -> Queries.jsonExtractAggSql,
    "semi_anti_customers" -> Queries.semiAntiCustomersSql,
    "value_percentiles" -> Queries.valuePercentilesSql,
    "moving_avg" -> Queries.movingAvgSql,
    "except_intersect" -> Queries.exceptIntersectSql,
    "join_full_outer" -> Queries.joinFullOuterSql,
    "join_bucketed" -> Queries.joinBucketedSql,
    "gapfill_daily" -> Queries.gapfillDailySql,
    "approx_percentiles" -> Queries.approxPercentilesSql,
    "sliding_hour_counts" -> Queries.slidingHourCountsSql,
    "distinct_users_daily" -> Queries.distinctUsersDailySql,
    "dedup_exact" -> Queries.dedupExactSql,
    "dedup_exact_normalized" -> Queries.dedupExactNormalizedSql,
    "dedup_minhash" -> Queries.dedupMinhashSql,
    "dedup_clusters" -> Queries.dedupClustersSql,
    "dedup_jaccard_exact" -> Queries.dedupJaccardExactSql,
    "dedup_levenshtein" -> Queries.dedupLevenshteinSql,
    "dedup_levenshtein_clusters" -> Queries.dedupLevenshteinClustersSql,
    "dedup_embedding" -> Queries.dedupEmbeddingSql,
    "dedup_embedding_lsh" -> Queries.dedupEmbeddingLshSql,
    "dedup_embedding_clusters" -> Queries.dedupEmbeddingClustersSql,
    "ann_topk" -> Queries.annTopkSql,
    "dedup_incremental" -> Queries.dedupIncrementalSql,
    "dedup_incremental_stream" -> Queries.dedupIncrementalStreamSql,
    "dedup_incremental_bucketed" -> Queries.dedupIncrementalBucketedSql,
    "dedup_incremental_bloom" -> Queries.dedupIncrementalBloomSql,
    "ann_topk_lsh" -> Queries.annTopkLshSql,
    "ann_topk_q8" -> Queries.annTopkQ8Sql,
    "streaming_hourly_counts" -> Queries.streamingHourlyCountsSql,
    "latest_by_key" -> Queries.latestByKeySql,
    "scd2_history" -> Queries.scd2HistorySql,
    "sample_stratified" -> Queries.sampleStratifiedSql,
    "shuffle_shard" -> Queries.shuffleShardSql,
    "sample_exact_n" -> Queries.sampleExactNSql,
    "mixture_sample" -> Queries.mixtureSampleSql,
    "doc_chunking" -> Queries.docChunkingSql,
    "doc_packing" -> Queries.docPackingSql,
    "doc_packing_bpe" -> Queries.docPackingBpeSql,
    "doc_blocks" -> Queries.docBlocksSql,
    "quality_bands" -> Queries.qualityBandsSql,
    "tfidf_topterms" -> Queries.tfidfToptermsSql,
    "decontaminate" -> Queries.decontaminateSql,
    "decontaminate_fuzzy" -> Queries.decontaminateFuzzySql,
    "range_join_counts" -> Queries.rangeJoinCountsSql,
    "multimodal_meta" -> Queries.multimodalMetaSql,
    "multimodal_decode" -> Queries.multimodalDecodeSql,
    "multimodal_audio" -> Queries.multimodalAudioSql,
    "multimodal_video" -> Queries.multimodalVideoSql,
    "source_quota" -> Queries.sourceQuotaSql,
    "text_stats" -> Queries.textStatsSql,
    "domain_mixture" -> Queries.domainMixtureSql,
    "text_tokens" -> Queries.textTokensSql,
    "text_bpe_tokens" -> Queries.textBpeTokensSql,
    "text_bpe_names" -> Queries.textBpeNamesSql,
    "text_bpe_encode" -> Queries.textBpeEncodeSql,
    "lang_id" -> Queries.langIdSql,
    "quality_score" -> Queries.qualityScoreSql,
    "corpus_freq_score" -> Queries.corpusFreqScoreSql,
    "lm_score" -> Queries.lmScoreSql,
    "text_repetition" -> Queries.textRepetitionSql,
    "fingerprint" -> Queries.fingerprintSql,
    "pii_redact" -> Queries.piiRedactSql,
    "line_dedup" -> Queries.lineDedupSql,
    "span_dedup" -> Queries.spanDedupSql,
    "span_census" -> Queries.spanCensusSql,
    "source_overlap" -> Queries.sourceOverlapSql,
    "text_nfc_clean" -> Queries.textNfcCleanSql,
    "merge_upsert" -> Queries.mergeUpsertSql,
    "inverted_index" -> Queries.invertedIndexSql,
    "histogram_values" -> Queries.histogramValuesSql,
    "winsorize_clip" -> Queries.winsorizeClipSql,
    "cohort_retention" -> Queries.cohortRetentionSql,
    "unpivot_values" -> Queries.unpivotValuesSql,
    "corr_exact" -> Queries.corrExactSql,
    "funnel_steps" -> Queries.funnelStepsSql,
    "pagerank_iter" -> Queries.pagerankIterSql,
    "rolling_distinct_users" -> Queries.rollingDistinctUsersSql,
    "twap_value" -> Queries.twapValueSql,
    "snapshot_diff" -> Queries.snapshotDiffSql,
    "snapshot_diff_bucketed" -> Queries.snapshotDiffBucketedSql,
    "merge_upsert_stream" -> Queries.mergeUpsertStreamSql,
    "window_rank_stats" -> Queries.windowRankStatsSql,
    "range_frame_sum" -> Queries.rangeFrameSumSql,
    "grouping_sets_orders" -> Queries.groupingSetsOrdersSql,
    "stream_static_join" -> Queries.streamStaticJoinSql,
    "table_checksum" -> Queries.tableChecksumSql,
    "heavy_words" -> Queries.heavyWordsSql,
    "ols_exact" -> Queries.olsExactSql,
    "bigram_pmi" -> Queries.bigramPmiSql,
    "hierarchy_flatten" -> Queries.hierarchyFlattenSql,
    "equidepth_hist" -> Queries.equidepthHistSql,
    "mad_outliers" -> Queries.madOutliersSql,
    "chi_square" -> Queries.chiSquareSql,
    "golden_record" -> Queries.goldenRecordSql,
    "hll_rollup" -> Queries.hllRollupSql,
    "sql_kernel_surface" -> Queries.sqlKernelSurfaceSql,
    "multimodal_phash" -> Queries.multimodalPhashSql,
    "hierarchy_rollup" -> Queries.hierarchyRollupSql,
    "gapfill_interp" -> Queries.gapfillInterpSql,
    "stream_heavy_hitters" -> Queries.streamHeavyHittersSql,
    "leakage_free_split" -> Queries.leakageFreeSplitSql,
    "corpus_drift" -> Queries.corpusDriftSql,
    "dq_audit" -> Queries.dqAuditSql,
    "attribution_last_touch" -> Queries.attributionLastTouchSql,
    "max_concurrency" -> Queries.maxConcurrencySql,
    "allocate_rebate" -> Queries.allocateRebateSql,
    "event_transitions" -> Queries.eventTransitionsSql,
    "basket_rules" -> Queries.basketBrandRulesSql,
    "mv_incremental" -> Queries.mvIncrementalSql,
    "pseudonymize_join" -> Queries.pseudonymizeJoinSql,
    "oov_rate" -> Queries.oovRateSql,
    "compact_files" -> Queries.compactFilesSql,
    "streaming_session_window" -> Queries.streamingSessionWindowSql,
    "dedup_within_watermark" -> Queries.dedupWithinWatermarkSql,
    "gini_concentration" -> Queries.giniConcentrationSql,
    "survival_km" -> Queries.survivalKmSql,
    "seasonal_residuals" -> Queries.seasonalResidualsSql,
    "tx_publish" -> Queries.txPublishSql,
    "rolling_corr" -> Queries.rollingCorrSql,
    "ann_index_persist" -> Queries.annIvfRefinedSql,
    "mahalanobis_outliers" -> Queries.mahalanobisOutliersSql,
    "asof_nearest" -> Queries.asofNearestSql,
    "skyline_parts" -> Queries.skylinePartsSql,
    "sample_weighted" -> Queries.sampleWeightedSql,
    "stream_asof_enrich" -> Queries.streamAsofEnrichSql,
    "hll_overlap" -> Queries.hllOverlapSql,
    "bm25_retrieval" -> Queries.bm25RetrievalSql,
    "trending_brands" -> Queries.trendingBrandsSql,
    "gini_ranked" -> Queries.giniConcentrationSql,
    "bitemporal_asof" -> Queries.bitemporalAsofSql,
    "dq_rules" -> Queries.dqRulesSql,
    "sample_cluster_dedup" -> Queries.sampleClusterDedupSql,
    "pca_top_component" -> Queries.pcaTopComponentSql,
    "sliding_distinct_hll" -> Queries.slidingDistinctHllSql,
    "weighted_median" -> Queries.weightedMedianSql,
    "retrieval_rrf" -> Queries.retrievalRrfSql,
    "cms_counts" -> Queries.cmsCountsSql,
    "vocab_growth" -> Queries.vocabGrowthSql,
    "sliding_percentile" -> Queries.slidingPercentileSql,
    "triangle_parts" -> Queries.trianglePartsSql,
    "cusum_daily" -> Queries.cusumDailySql,
    "stream_cms" -> Queries.streamCmsSql,
    "attribution_position" -> Queries.attributionPositionSql,
    "novelty_ngrams" -> Queries.noveltyNgramsSql,
    "phrase_search" -> Queries.phraseSearchSql,
    "time_to_convert" -> Queries.timeToConvertSql,
    "quality_calibrated" -> Queries.qualityCalibratedSql,
    "seq_pattern" -> Queries.seqPatternSql,
    "stream_cusum" -> Queries.streamCusumSql,
    "bpe_fertility" -> Queries.bpeFertilitySql,
    "session_paths" -> Queries.sessionPathsSql,
    "dedup_stats" -> Queries.dedupStatsSql,
    "weighted_percentiles" -> Queries.weightedPercentilesSql,
    "ngram_coverage" -> Queries.ngramCoverageSql,
    "quantile_mergeable" -> Queries.quantileMergeableSql,
    "user_lifecycle" -> Queries.userLifecycleSql,
    "activity_streaks" -> Queries.activityStreaksSql,
    "prefix_dup" -> Queries.prefixDupSql,
    "containment_pairs" -> Queries.containmentPairsSql,
    "containment_stats" -> Queries.containmentStatsSql,
    "ks_drift" -> Queries.ksDriftSql,
    "ab_test_report" -> Queries.abTestReportSql,
    "embedding_health" -> Queries.embeddingHealthSql,
    "rfm_segments" -> Queries.rfmSegmentsSql,
  )
}
