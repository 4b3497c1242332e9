package graft

/** Writes PLANS.md: the formatted physical plan of each flagship query with
  * the scale properties called out — the artifact for plan audits.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val flagships = Seq(
      "etl_map_only" -> "filters + projection pushed to the parquet scan",
      "partition_hour_ts" -> "single hash exchange, map-side partial agg (combiner)",
      "partition_skew_split" -> "two-stage salted agg: (bucket,salt) partial -> bucket final",
      "q5_region_revenue" -> "eager-agg pushdown: revenue partial-sums below both fact-fact joins; dims broadcast; exact LONG 1e-4-unit sums at every level (r16); fourth-decade curve adjudicated fabric-bound — the 150M-group agg itself is sub-linear (BASELINE r17)",
      "dedup_minhash" -> "LSH band shuffle + bucket-local pairs; no cartesian product",
      "dedup_embedding" -> "exact cosine baseline; identical-vector collapse when dups exist (scale path = lshCosinePairs)",
      "ann_topk" -> "corpus streams, query frame broadcast, codegen'd CosineSim kernel, TopKPerKey partial pre-prune below the exchange",
      "sessionize" -> "one shuffle on user_id shared by lag + cumulative-sum windows",
      "asof_join" -> "tagged union + keyed window carry-forward, single shuffle",
      "topk_per_key" -> "custom TopKPerKeyExec: map-side bounded-heap prune (budget-flushed) below the exchange; spill-safe sorted streaming take-k above it",
      "dedup_simhash" -> "native SimHash64 map + shuffled-hash band join, canonical-band single emission",
      "dedup_incremental" -> "anti-join on 16-byte content hashes — both sides pre-projected",
      "latest_by_key" -> "max_by hash-agg compaction: one shuffle, no per-key sort",
      "range_join_counts" -> "range predicate folded into (key,bin) equi-join; 3x probe explode",
      "doc_chunking" -> "narrow sequence/posexplode/slice — zero exchanges before the output sort",
      "dedup_embedding_lsh" -> "native LshBuckets signature map + (tbl,bucket) slim-pair self-join + exact-cosine verify; never all-pairs",
      "dedup_levenshtein" -> "length-banded candidates (structural recall) + bit-parallel Myers DP verify; no all-pairs, no cap",
      "moving_avg" -> "two-level ROWS-frame: parallel per-chunk windows + broadcast chunk offsets + rn-7 self-join; no global sort",
      "pii_redact" -> "pure narrow map — regex masking inside one WholeStageCodegen span, zero exchanges before the output sort",
      "line_dedup" -> "narrow line explode + per-line md5 ONCE (checkpointed; the census and the anti-join both read it — r18) -> df hash agg (map-side partial) -> broadcast anti-join vs tiny common set -> one doc_id shuffle for in-order reassembly",
      "ann_topk_lsh" -> "native LshBuckets signature map both sides; bucket equi-join candidates, exact re-rank — never all-pairs",
      "dedup_incremental_bloom" -> "driver-held bloom splits incoming: definitely-new rows SKIP the anti-join shuffle; maybe-seen remainder anti-joins 16-byte hashes",
      "quality_bands" -> "two-level exact ntile: range partition + per-partition rank (checkpointed) + broadcast offset join — NO per-language single-task WindowExec",
      "source_quota" -> "partial/final TopKPerKey: budget-flushed bounded heap prunes BELOW the exchange; spill-safe sorted streaming take-k above it",
      "tfidf_topterms" -> "one agg pass over exploded tokens; per-lang final cut through the bounded-heap TopKPerKeyExec, not a vocabulary sort",
      "decontaminate_fuzzy" -> "cross-corpus LSH: eval band table BROADCAST against the corpus band scan, candidates broadcast back over the corpus shingle scan — no corpus self-join, no corpus shuffle",
      "pipeline_config_quota_bands" -> "JSON config -> TopKPerKey quota cut feeding the two-level exact-ntile band cut — no window, no corpus sort, all from the declarative filter chain",
      "knn_label" -> "label propagation: the FIXED query side broadcasts against the streaming labeled-corpus scan; per-query argmax through TopKPerKey — corpus never shuffles",
      "knn_label_ivf" -> "label propagation at query-set scale: native IvfNearestCell/IvfProbeCells kernels (centroid matrix as a reference object, one kernel call per row) -> cell equi-join candidates -> TopKPerKey argmax; no nested-loop join anywhere",
      "corpus_freq_score" -> "narrow bigram explode ONCE (the (doc,bg) frame checkpoints; df counts and mass join both read it — r18) -> one groupBy(bigram) pass -> join back on the bigram key -> groupBy(doc) — all linear, count table stays distributed",
      "ann_ivf_refined" -> "Lloyd refinement stays an aggregate over the cell equi-join assignment — 2 rounds = 2 small agg jobs on the collected centroid matrix, the corpus scans stay candidate-pruned",
      "text_bpe_tokens" -> "real-vocab BPE counting is ONE narrow codegen map (BpeTokenCount kernel, ranks + memo as reference objects) — zero exchanges before the output sort",
      "doc_packing_bpe" -> "same two-level prefix-sum packing as doc_packing, billed by the BPE kernel in the same narrow map — token cost adds no shuffle",
      "text_bpe_names" -> "BPE over the customer-name digit-run surface: the deep merge tree runs entirely inside the narrow kernel map",
      "pipeline_resume_partial" -> "cross-job resume read-back: the oracle-gated output scan after a faulted+resumed wave write — partition-pruned leaves, counts never rescan the input",
      "scd2_history" -> "SCD2: ONE hash exchange + ONE sort serve both windows — the narrow change-point filter preserves partitioning and order between lag and lead/row_number",
      "shuffle_shard" -> "seeded corpus shuffle: range exchange on the hash key + per-partition row_number + broadcast offset join — global rank with NO global sort",
      "mixture_sample" -> "temperature mixture: windows touch only the dimension-sized quota frame; the corpus cut heap-prunes through TopKPerKeyExec at the max quota",
      "doc_blocks" -> "GPT block packing: two-level prefix sum (range exchange + local window + broadcast offsets) -> narrow per-doc block explode; BPE billing inside the same codegen map",
      "text_bpe_encode" -> "tokenizer output: the id-array BpeEncode kernel and its posexplode stay one narrow codegen span — zero exchanges before the output sort",
      "span_dedup" -> "rolling-window span dedup: narrow window explode (16-byte xxhash64-pair keys, text never shuffles) -> ONE h-exchange feeding (h,doc) agg + per-hash window count with zero further shuffles (single consumer: the build stage exists once by construction) -> one slim doc groupBy; all linear",
      "span_census" -> "span strip-list: same single window-build pass as span_dedup, min(ws) riding the ONE h-exchange (a recovery re-explode would double the dominant build CPU); both agg levels + the >=3-docs threshold on HashPartitioning(h), zero further shuffles; top-k via TakeOrderedAndProject (per-partition heads, no global sort)",
      "domain_mixture" -> "sqrt-temperature mix table: one map-side-combining agg to |sources| rows; normalizing totals as broadcast one-row cross joins; no data-sized shuffle at any corpus size",
      "source_overlap" -> "provenance matrix: verbatim (src, text) dups collapse to one representative BEFORE the window build (adaptive raw-pair dispatch — r18; this dup-free corpus shows the raw branch), then one window build + one h-exchange; per-hash source set DIMENSION-bounded, self-pair explode folds per-source totals into the |S|^2 matrix diagonal (single consumer of the build); checkpointed matrix feeds both outputs, broadcast total joins",
      "lm_score" -> "bigram-LM fluency: ONE ordered-bigram explode (the per-(x,y,id) count table checkpoints; both count chains and the score join read it — r18); verbatim-dup corpora (factor >= 2) collapse to distinct texts first with gsize-weighted counts (this distinct corpus shows the raw branch); pair + first-position counts are aggregates of the vocabulary-sized count frame (distributed, never collected); quantized per-TYPE probability joined back on the bigram key; per-doc sums ride the counts — all linear",
      "containment_pairs" -> "overlap-coefficient pairs: SLIM (blk,id) candidate self-join (shuffled-hash; arrays never ride it) -> hashed sorted arrays re-joined BY ID -> codegen'd merge-walk overlap kernel; strategy-roulette-proof",
      "ann_topk_q8" -> "quantized ANN: int8 codes in a narrow map, broadcast query side, integer-dot scoring, bounded-heap TopKPerKey argmax — corpus never shuffles",
      "profile_table" -> "one-pass profile: single scan -> Expand (multi-distinct) -> one aggregation -> stack unpivot; no per-column re-scan",
      "zorder_key" -> "z-order key: pure bit-arithmetic projection inside one WholeStageCodegen span; only the output ORDER BY exchanges",
      "text_nfc_clean" -> "NFC canonicalize: the NfcClean kernel is one narrow codegen map — zero exchanges before the output sort",
      "merge_upsert" -> "CDC merge: union + max_by = ONE shuffle with map-side partial collapse (string payload -> SortAggregate, documented trade); no join, no window sort",
      "inverted_index" -> "inverted index: per-doc array_distinct BEFORE the explode, one groupBy(term) folds df + capped sorted postings together",
      "cohort_retention" -> "cohort retention: ONE fact shuffle (repartition by user) reused by the min agg, the (u,p) distinct, AND the join — ReusedExchange in-plan; final rollup is dimension-sized",
      "histogram_values" -> "histogram: extents agg broadcast back; the fact is scanned twice but never shuffled for the join; bin math is single-row IEEE arithmetic",
      "corr_exact" -> "exact corr: ONE HashAggregate (five decimal sums + count, fixed-width buffer) then a scalar projection — no second pass, no double-moment merge",
      "funnel_steps" -> "funnel: one repartition(u) of the fact; every per-step agg and users-sized join-back reuses the stage (AQE stage dedup)",
      "pagerank_iter" -> "integer pagerank: printed plan is the LAST round only — static frames and prior rounds are localCheckpointed (50 -> 10 exchanges at k=3)",
      "rolling_distinct_users" -> "rolling distinct: distinct (user,day) agg FIRST, then the x7 explode on the reduced frame + broadcast max-day cut; the fact shuffles once",
      "snapshot_diff" -> "snapshot diff: both sides projected to key+struct, ONE full-outer shuffled join, ONE agg of case-counters — no per-column re-scan",
      "twap_value" -> "twap: lead window and per-user agg share one user_id exchange; decimal-exact weighted sums",
      "table_checksum" -> "anti-entropy checksum: md5 digest is one narrow codegen map; ONE 64-key HashAggregate with map-side partials (count + bit_xor + the sum signature carried as two exact BIGINT halves, sum_lo/sum_hi) — nothing else moves",
      "heavy_words" -> "heavy hitters: the recount pass — InSet candidate filter BEFORE the aggregation, so the shuffle carries <= k-1 keys; the MG sketch pass is a separate O(k)-memory mapPartitions job whose summary rows also carry n_total (no third pass — r18)",
      "bigram_pmi" -> "collocations: slice+arrays_zip pair build (codegen'd, NOT a HOF lambda) -> vocab-sized count aggs -> joins only on aggregated frames",
      "hierarchy_flatten" -> "pointer doubling: printed plan is the final projection — each round is one shuffled self-join on the pointer key, lineage truncated per round",
      "chi_square" -> "chi-square: cells/marginals branches reuse the one count-agg exchange; the statistic folds inside a single sorted row — no double-sum exchange",
      "golden_record" -> "golden record: ONE max_by hash agg, per-column conditional packed-decimal orderings — no per-column windows",
      "hll_rollup" -> "HLL rollup: daily sketch agg -> sketch-union agg on the tiny daily frame; exact side pays the only full distinct",
      "gapfill_interp" -> "interp gapfill: one fact agg; spine explode + IGNORE-NULLS prev/next windows share a single (type, day) sort on the |types x days| frame",
      "hierarchy_rollup" -> "hierarchy rollup: ancestor explode of the materialized path (narrow) -> one hash agg; no recursion, no per-level joins at query time",
      "leakage_free_split" -> "leakage-free split: eval bands broadcast against the corpus band scan (L20 kernel), lang filter on the contamination-sized pair list; corpus never self-joins",
      "max_concurrency" -> "sweep line: endpoint deltas collapse per timestamp in a hash agg; running sum is per-day windows + a |days| carry frame — the ONLY SinglePartition sort is dimension-sized",
      "allocate_rebate" -> "largest remainder: one orderkey exchange serves the total/base-sum/rank windows; the sample predicate pushes to both scans",
      "basket_rules" -> "association rules: bit_or bitmap fold is ONE codegen HashAggregate over the fact (behind the localCheckpoint scan); pair counting runs on the |mask patterns| frame, supports join back broadcast",
      "mv_incremental" -> "incremental MV: the delta pass scan carries the pushed day filter (history pruned at the source); the merge shuffles only the |days| partial frame",
      "compact_files" -> "compaction: repartition(day) puts each leaf in one task; the read-back agg proves content exactness — per-leaf file count is the thing being fixed, not the plan",
      "pseudonymize_join" -> "pseudonymization: the md5 surrogate is a narrow codegen projection on both sides; the join/distinct shapes are unchanged from the raw-key plan",
      "oov_rate" -> "OOV rate: ONE tokenization pass — per-(doc,token) counts localCheckpointed, vocab agg and per-doc census both run weighted over that compact frame; vocab joins back BROADCAST",
      "weighted_median" -> "weighted median: cumulative weight via two-level range cumsum (local windows per range slice + broadcast offset frame) — no per-segment single-task sort; totals reuse the layout (max cum per group)",
      "gini_concentration" -> "Gini: per-segment window rank over the |customers| per-entity frame, then ONE decimal agg; two-level range-rank documented as the wide-group escape",
      "survival_km" -> "Kaplan-Meier: one user shuffle (session build); at-risk/factor/fold all run on the |distinct durations| frame — the HOF fold is one row",
      "tx_publish" -> "transactional publish: two full-fact aggs land as versioned parquet; readers resolve the manifest then scan — the plan is the ordinary agg, atomicity lives in the commit protocol",
      "ann_index_persist" -> "persisted ANN: probe + candidate scoring against the RELOADED assignment scan — no re-assign, no corpus re-index; bit-identical to the in-memory path",
      "mahalanobis_outliers" -> "Mahalanobis: ONE stats HashAggregate broadcast back onto the fact (never shuffled for the join); d-squared is a fixed scalar chain in the projection",
      "asof_nearest" -> "nearest as-of: ONE key shuffle + ONE (t, side) sort serve BOTH direction windows (carry-forward and carry-backward frames over the same order)",
      "skyline_parts" -> "skyline: strict-predecessor RANGE running-min + per-(group,x) tie-min share one sort — no quadratic dominance join",
      "event_transitions" -> "transition matrix: lead window keys the one fact shuffle; the (from,to) agg collapses map-side to the |types|^2 grid",
      "seasonal_residuals" -> "seasonal residuals: one fact agg; both lookback windows run on the |days| frame partitioned by weekday",
      "rolling_corr" -> "rolling corr: five integer window sums share one |days|-frame sort; closed form in the final projection only",
      "bm25_retrieval" -> "BM25: one tokenization pass feeds dl + term-filtered tf aggs; df/stats broadcast back; top-20 through TopKPerKeyExec — never a corpus sort",
      "sample_weighted" -> "PPS sampling: the cumulative line is the two-level prefix sum (range exchange + local windows + broadcast offsets); selection is per-row integer arithmetic",
      "gini_ranked" -> "two-level rank: range partition on (group, x, tie), local per-slice rank, broadcast slice offsets — no one-task-per-group sort; decimal rank sums after",
      "trending_brands" -> "trending: broadcast part dim; ONE (day,brand) agg; day-rank and brand-series lag windows on the |days×brands| frame",
      "bitemporal_asof" -> "bitemporal: per tx view one max_by hash agg over the filtered union fact; both time predicates at the scan",
      "dq_rules" -> "dq rules: scalar rules are one-row aggregates; the fk rule is a key-projected anti-join — the corpus never carries payload through the checks",
      "cms_counts" -> "Count-Min: ONE tokenization pass -> vocab-sized exact frame; the d-way explode collapses map-side to the fixed d×w grid; estimate joins the BROADCAST grid",
      "retrieval_rrf" -> "RRF: lexical arm = the BM25 plan; semantic arm broadcasts ONE query vector over the corpus scan (codegen cosine + TopKPerKey); fusion joins two ≤20-row frames",
      "vocab_growth" -> "vocab growth: one tokenization pass -> per-(doc,token) frame; two vocab-sized aggs; cumulative windows only on the |docs|/100 checkpoint frame",
      "sliding_percentile" -> "sliding percentiles: narrow ≤3× window explode, per-window sort-agg bounded by the window span; no self-join",
      "triangle_parts" -> "triangles: basket groupBy + narrow pair explode (no fact self-join); degree/adjacency broadcast SIZE-GATED on the measured distinct-edge count (edge-sized payload would OOM at graph scale; above the bound every probe is a plain co-partitioned equi-join); per-edge codegen merge-walk intersection (SortedIntersect — no boxed per-edge HashSet) — the wedge stream never materializes",
      "cusum_daily" -> "CUSUM: one fact agg to the |days| frame; prefix sum + two running extrema share ONE sorted window",
      "attribution_position" -> "multi-touch: one user-keyed equi-join; per-purchase rank/count windows and the largest-remainder pass all share the purchase partitioning",
      "novelty_ngrams" -> "novelty: narrow window explode -> ONE h-exchange feeding (h,doc) agg + per-hash window min(doc) with zero further shuffles (single consumer); the text never rides a shuffle",
      "phrase_search" -> "phrase: postings term-filtered AT THE SCAN; (doc,pos) equi-joins co-partitioned on doc — the corpus never shuffles",
      "quality_calibrated" -> "calibrated quality: two-level range rank (no one-task-per-source sort) + broadcast per-source counts; one decile agg",
      "seq_pattern" -> "pattern chains: two as-of joins + both census aggs reuse ONE user-hash exchange; step windows are post-filters on the attached link times",
      "session_paths" -> "path census: gap windows + per-session struct-sort fold share one user exchange; census collapses map-side to the path vocabulary; top-20 via TopKPerKeyExec",
      "quantile_mergeable" -> "mergeable quantiles: integer binning collapses map-side to per-day partial grids; the merged ≤1024-row grid carries the prefix/threshold windows (dimension-sized)",
      "ks_drift" -> "KS drift: length census collapses map-side; arm selection + prefix sums on dimension frames; the D statistic is ONE BIGINT max — no per-point division",
      "ngram_coverage" -> "bigram coverage: slice+zip codegen bigrams; train DISTINCT vocabulary and eval probe co-partitioned on the bigram hash — corpus-sized, no broadcast premise",
      "rfm_segments" -> "RFM: three two-level range ranks over the one |customers| layout; integer quintile math; census on the ≤125-cell frame",
      "embedding_health" -> "embedding census: posexplode + ONE map-side-collapsing agg to d rows; vectors never shuffle")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of flagship queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` on `$sf`. Audit notes per plan;\n")
    sb.append("see SURVEY.md §5 for the scale rules these demonstrate.\n")
    flagships.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // finalize AQE so the printed plan is the executed one
      sb.append(s"\n## $name\n\n*$note*\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(7000))
      sb.append("\n```\n")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${flagships.size} plans)")
    spark.stop()
  }
}
