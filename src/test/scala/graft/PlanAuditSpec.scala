package graft

import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan audit: checks the plan properties the 100 TB posture
  * depends on — filters/projection reaching the parquet scan, dimension
  * joins broadcast, top-N planned as TakeOrderedAndProject, no accidental
  * cartesian products. One test per (query, property) pin. */
class PlanAuditSpec extends SparkSpec {
  private val checks: Seq[(String, String => Boolean, String)] = Seq(
    ("q1_pricing_summary", p => p.contains("PushedFilters: [IsNotNull(l_shipdate)")
      && p.contains("LessThanOrEqual(l_shipdate"),
      "shipdate filter pushed to parquet scan"),
    ("q1_pricing_summary", p => !p.contains("l_comment") && p.contains("ReadSchema"),
      "column pruning (ReadSchema subset)"),
    ("q3_shipping_priority", p => p.contains("BroadcastHashJoin"),
      "customer dimension broadcast"),
    ("q5_local_supplier", p => p.contains("BroadcastHashJoin"),
      "dimension joins broadcast"),
    ("order_limit", p => p.contains("TakeOrderedAndProject"),
      "global top-N avoids full sort"),
    ("top_customers", p => p.contains("TakeOrderedAndProject") && p.contains("BroadcastHashJoin"),
      "top-k + broadcast join"),
    ("join_range", p => p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
      "theta join stays a hash join with post-filter"),
    ("word_count", p => p.contains("HashAggregate") && p.contains("partial_count"),
      "map-side partial aggregation"),
    ("knn_bruteforce", p => p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side broadcast (no shuffle of candidates)"),
    ("dedup_embedding", p => !p.contains("CartesianProduct"),
      "blocked pair join, not cartesian"),
    ("asof_join", p => !p.contains("CartesianProduct") && p.contains("Window"),
      "as-of join is union + window, no range self-join"),
    ("join_salted", p => !p.contains("CartesianProduct") && p.contains("Join"),
      "salted join stays an equi-join on (key, salt)"),
    ("knn_topk_agg", p => p.contains("ObjectHashAggregate"),
      "fused top-k runs as a typed aggregate (O(k) state, partial+final)"),
    ("gap_fill", p => !p.contains("CartesianProduct"),
      "time-spine cross join is broadcast, not cartesian"),
    ("q10_returned_items", p => p.contains("TakeOrderedAndProject")
      && p.contains("BroadcastHashJoin"),
      "top-k + dimension broadcast"),
    ("q4_priority_exists", p => p.contains("LeftSemi"),
      "EXISTS decorrelated to a semi join"),
    ("unpivot_metrics", p => p.contains("Expand") || p.contains("Generate"),
      "melt expands row-locally before the shuffle"),
    ("join_range_binned", p => !p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      "keyless interval join runs as an equi-join on the time bin"),
    ("listagg_groups", p => p.contains("BroadcastHashJoin"),
      "region dimension broadcast under listagg"),
    ("url_funcs", p => p.contains("BroadcastHashJoin"),
      "dimension join broadcast under parse_url"),
    ("bitmap_distinct", p => p.contains("ObjectHashAggregate")
      || p.contains("HashAggregate"),
      "bitmap OR-aggregation is partial+final (fixed-width shuffle)"),
    ("hll_sketch", p => p.contains("ObjectHashAggregate"),
      "HLL sketch aggregates partial+final (mergeable state)"),
    ("recursive_cte", p => !p.contains("CartesianProduct")
      && p.contains("BroadcastHashJoin"),
      "recursion payload joins nation via broadcast"),
    ("partitioned_write", p => p.contains("PartitionFilters")
      && (p.contains("l_returnflag#") || p.contains("(l_returnflag")),
      "readback filter prunes to one partition directory"),
    ("topk_per_group", p => p.contains("WindowGroupLimit"),
      "rank<=k pushes a per-group limit below the window sort"),
    ("decontaminate_ngrams", p => p.contains("BroadcastHashJoin"),
      "eval-set gram index broadcast (training side never shuffles on gram)"),
    ("decontaminate_bloom", p => p.contains("might_contain")
      && p.contains("BroadcastHashJoin") && p.contains("Subquery"),
      "bloom gate filters the gram stream via a scalar-subquery sketch " +
        "BEFORE the broadcast exact-confirm join"),
    ("quality_repetition", p => !p.contains("Join") && !p.contains("HashAggregate"),
      "repetition metrics are pure row-local compute (no join, no agg)"),
    ("sample_stratified", p => !p.contains("Join") && !p.contains("HashAggregate")
      && !p.contains("Sample"),
      "stratified sampling is a deterministic scan-side filter, no RNG node"),
    ("merge_upsert", p => p.contains("LeftAnti") && !p.contains("CartesianProduct"),
      "snapshot merge plans as anti-join + union"),
    ("sketch_top_k", p => p.contains("ObjectHashAggregate"),
      "approx_top_k aggregates mergeable sketch state partial+final"),
    ("hll_union", p => p.contains("ObjectHashAggregate"),
      "two-level sketch rollup stays a mergeable aggregate"),
    // round-5 pins
    ("dedup_embedding", p => p.contains("BroadcastHashJoin"),
      "vectors re-attach to slim candidate pairs via broadcast (residual before dedup)"),
    ("pack_sequences", p =>
      "hashpartitioning\\(__pid".r.findFirstIn(p).isDefined &&
      !p.contains("CartesianProduct"),
      "prefix sum windows partition by physical pid (the only global window is the #partitions-sized offset table)"),
    ("knn_lsh", p => p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
      "LSH candidates slim through the band join; vectors re-attach broadcast"),
    // round-6 pins
    // assert_true desugars to `if(cond) ... else raise_error(...)` at
    // optimization time — the raise_error + message is what must survive
    ("dedup_levenshtein", p => p.contains("raise_error")
      && p.contains("maxBlockOccupancy") && !p.contains("CartesianProduct"),
      "block-occupancy guard survives optimization (fail-fast is in the plan)"),
    ("dedup_ngram_jaccard", p => !p.contains("CartesianProduct")
      && p.contains("HashAggregate"),
      "capped inverted index: postings counted+filtered, pairs never doc×doc"),
    ("dedup_embedding_keep", p => !p.contains("CartesianProduct"),
      "keep-list clusters from blocked pairs, never all-pairs"),
    ("chunk_documents", p => p.contains("Generate") && !p.contains("Join")
      && !p.contains("HashAggregate"),
      "chunking is a row-local generate — no join, no aggregation"),
    ("vector_quantize", p => !p.contains("Join") && !p.contains("HashAggregate"),
      "quantization is row-local transform inside the scan"),
    ("vocab_coverage", p => p.contains("TakeOrderedAndProject")
      && p.contains("BroadcastHashJoin"),
      "vocab top-K is TakeOrdered (never a global window); vocab broadcast back"),
    ("zorder_layout", p => !p.contains("CartesianProduct")
      && p.contains("BroadcastNestedLoopJoin"),
      "min/max bounds broadcast to the scan; interleave is row-local"),
    // round-7 pins
    ("zorder_prune_readback", p => {
      // Each predicate matched individually (ADVICE r7): robust to Spark
      // reordering filters or changing number formatting in toString.
      def pushed(f: String) = ("PushedFilters: \\[[^\\]]*" + f + "[^\\]]*\\]").r
      Seq("IsNotNull\\(user_id\\)", "IsNotNull\\(value\\)",
        "LessThanOrEqual\\(user_id,\\s*30(\\.0)?\\)",
        "LessThanOrEqual\\(value,\\s*100(\\.0)?\\)")
        .forall(f => pushed(f).findFirstIn(p).isDefined)
    },
      "2-D box predicate reaches the written z-ordered parquet as pushed filters"),
    ("split_assignments", p => !p.contains("CartesianProduct")
      && !p.contains("Window"),
      "per-doc split: star edges via groupBy+join + CC — no cartesian, no window at all"),
    ("pipeline_curate_multimodal", p => !p.contains("CartesianProduct")
      && p.contains("BroadcastHashJoin"),
      "multimodal curation: blocked edges both modalities, broadcast decontamination"),
    ("bm25_rank", p => p.contains("TakeOrderedAndProject")
      && p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
      "BM25: df/stats broadcast, top-K is TakeOrdered (never a global sort)"),
    ("dedup_containment", p => !p.contains("CartesianProduct")
      && p.contains("HashAggregate"),
      "containment: capped inverted index, pairs never doc×doc"),
    ("select_token_budget", p =>
      "hashpartitioning\\(__pid".r.findFirstIn(p).isDefined
      && !p.contains("CartesianProduct"),
      "budget cut: two-phase prefix sum partitioned by pid, no data-sized global window"),
    ("mixture_temperature", p => !p.contains("CartesianProduct")
      && p.contains("HashAggregate"),
      "temperature mixture: tiny per-stratum aggregate; normalizer broadcast"),
    ("knn_pq", p => p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct") && p.contains("ObjectHashAggregate")
      && !p.contains("Window"),
      "PQ search scans codes only: distance tables broadcast onto the codes join; " +
        "final top-k is the fused min-k aggregate, never a window buffer"),
    ("dedup_incremental", p => !p.contains("CartesianProduct")
      && p.contains("BroadcastHashJoin"),
      "incremental dedup: the small NEW batch broadcasts onto the index's band buckets, never cartesian"),
    // round-8 pins
    ("knn_ivfpq", p => p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct") && p.contains("ObjectHashAggregate"),
      "IVF-PQ: ADC tables broadcast onto probed lists' codes; fused min-k top-k"),
    ("bpe_pair_counts", p => p.contains("TakeOrderedAndProject")
      && p.contains("HashAggregate") && !p.contains("Join"),
      "BPE counts: corpus-sized work is one word groupBy; top-k is TakeOrdered; no join"),
    ("quality_classifier", p => p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "classifier inference: the model rides a broadcast join; never a shuffle join or cartesian"),
    ("pmi_cooccur", p => p.contains("TakeOrderedAndProject")
      && !p.contains("CartesianProduct"),
      "PMI: top-k is TakeOrdered, unigram joins are vocabulary-sized equi-joins, no cartesian"),
    ("dedup_substring", p => !p.contains("CartesianProduct")
      && p.contains("HashAggregate"),
      "substring overlap: capped-postings self-join on fingerprints, never doc x doc"),
    ("ann_recall", p => !p.contains("CartesianProduct")
      && p.contains("ObjectHashAggregate"),
      "recall eval: exact references use the fused min-k aggregate; no cartesian anywhere"),
    ("doc_winnowing", p => !p.contains("Join") && !p.contains("Window")
      && !p.contains("CartesianProduct"),
      "winnowing is row-local array arithmetic: one scan, no join, no window"),
    ("source_report", p => p.contains("HashAggregate") && !p.contains("Join"),
      "corpus report card: one hash aggregate over a single scan, no join"),
    ("ann_probe_sweep", p => !p.contains("CartesianProduct")
      && p.contains("ObjectHashAggregate"),
      "probe sweep: one candidate materialization filtered per cutoff; fused min-k top-5"),
    ("scd2_history", p => p.contains("Window")
      && p.contains("hashpartitioning(user_id"),
      "SCD2: both windows hash-partition on the key - state is one key's history, never global"),
    ("dedup_winnow", p => !p.contains("CartesianProduct")
      && p.contains("HashAggregate"),
      "winnowed MOSS pairs: capped postings on the 2/(w+1)-reduced index, never doc x doc"),
    ("quality_gopher", p => !p.contains("Join") && !p.contains("Window"),
      "gopher rules are one row-local scan: no join, no window"),
    ("dedup_winnow_keep", p => !p.contains("CartesianProduct"),
      "winnow keep-list: capped pairs -> CC -> representatives; never doc x doc"),
    // round-9 pins
    ("dedup_semantic", p => !p.contains("CartesianProduct"),
      "SemDeDup: pairs form only inside a cluster (equi-join on the cluster id); " +
        "centroids ride broadcast joins; never vector x vector"),
    ("dsir_select", p => p.contains("TakeOrderedAndProject")
      && p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
      "DSIR: the 256-bucket model broadcasts onto the token stream; top-50 is TakeOrdered"),
    ("textrank_keywords", p => p.contains("TakeOrderedAndProject")
      && !p.contains("CartesianProduct"),
      "TextRank: per-iteration work is a vocabulary-sized equi-join; top-k is TakeOrdered"),
    ("graph_triangles", p => !p.contains("CartesianProduct")
      && !p.contains("Window"),
      "triangle census: wedge closure is one equi-join on oriented edges; no window, no cartesian"),
    // knn_mmr's iterative stages sit behind localCheckpoint barriers, so
    // only the final assembly is visible here; the retrieval stage's fused
    // top-k is the same plan knn_topk_agg pins
    ("knn_mmr", p => !p.contains("CartesianProduct") && !p.contains("Window"),
      "MMR: greedy steps are k equi-joins against the O(k) selected set; no window buffer"),
    ("source_divergence", p => !p.contains("CartesianProduct")
      && p.contains("HashAggregate") && p.contains("BroadcastHashJoin"),
      "divergence report: corpus word table broadcasts; integer KL sums aggregate map-side"),
    ("pipeline_select_dsir", p =>
      "hashpartitioning\\(__pid".r.findFirstIn(p).isDefined
      && !p.contains("CartesianProduct"),
      "DSIR pipeline: budget cut rides the two-phase prefix sum, never a global window"),
    ("embedding_pca", p => !p.contains("CartesianProduct"),
      "PCA: covariance is an equi-join on the row id + integer aggregate; " +
        "iteration vectors ride broadcasts"),
    ("label_propagation", p => !p.contains("CartesianProduct")
      && !p.contains("Window"),
      "label propagation: each round is an edge-list equi-join + vote count; " +
        "argmax is a min-struct aggregate, not a window"),
    ("embedding_outliers", p => p.contains("TakeOrderedAndProject")
      && !p.contains("CartesianProduct"),
      "outlier report: centroids broadcast onto assignments; top-50 is TakeOrdered"),
    ("hard_negatives", p => p.contains("ObjectHashAggregate")
      && !p.contains("CartesianProduct") && !p.contains("Window"),
      "hard negatives: anchors broadcast, label filter at the scan, fused top-k aggregate"),
    ("pipeline_apply_mixture", p => p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct") && !p.contains("Window"),
      "mixture application: rates broadcast onto one scan; the gate is a row-local hash compare"),
    ("doc_novelty", p => !p.contains("CartesianProduct") && !p.contains("Window")
      && p.contains("HashAggregate"),
      "novelty: gram df + per-doc rollup, two hash aggregates; no pairing, no window"),
    // round-10 pins
    ("knn_ivf_persisted", p => p.contains("dynamicpruning")
      && p.contains("PartitionFilters") && !p.contains("CartesianProduct"),
      "at-rest IVF: postings scan carries DYNAMIC PARTITION PRUNING on list_id — " +
        "only probed lists are read from storage"),
    ("dedup_paragraphs", p => !p.contains("CartesianProduct")
      && !p.contains("Window") && p.contains("HashAggregate"),
      "paragraph dedup: fingerprint stats + per-doc rollup, two hash aggregates; no pairing"),
    ("hybrid_rrf", p => p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct"),
      "hybrid RRF: query tokens and query vectors both broadcast; fusion joins are Q·N-sized"),
    ("dedup_simhash", p => !p.contains("CartesianProduct"),
      "simhash: block-key equi-join over distinct signatures; expansion joins are output-bound"),
    // round-11 pins
    ("knn_ivf_refresh", p => p.contains("dynamicpruning")
      && p.contains("PartitionFilters") && !p.contains("CartesianProduct"),
      "refreshed IVF: the folded postings scan keeps dynamic partition pruning " +
        "on list_id — appending a batch must not cost the pruned layout"),
    ("dedup_simhash_wide", p => !p.contains("CartesianProduct"),
      "wide simhash: two-long block-key equi-join; 9.2-bit blocks, expansion output-bound"),
    ("pipeline_end_to_end", p => !p.contains("CartesianProduct"),
      "end-to-end curation: every stage equi-joins or broadcasts; no all-pairs anywhere"),
    // round-12 pins
    ("mixture_waterfill", p => !p.contains("CartesianProduct")
      && !p.contains("SortMergeJoin"),
      "water-filling: one corpus aggregate; the solver's windows hold the " +
        "source-count frame only — no data-sized join anywhere"),
    ("contamination_report", p => p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct") && !p.contains("Window"),
      "contamination report: every screen joins training against a BROADCAST " +
        "eval side; no train-by-train pairing, no window"),
    ("quality_ensemble", p => p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct"),
      "quality ensemble: classifier model and per-source thresholds ride " +
        "broadcasts; threshold windows run over the grid frame, never documents"),
    ("cluster_balanced_sample", p => p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct"),
      "cluster-balanced picks: the k-row allocation table broadcasts back " +
        "onto the ranked assignments; no data-sized join"),
    ("corpus_diff", p => !p.contains("CartesianProduct")
      && !p.contains("Window"),
      "snapshot diff: fingerprint equi-joins on the id, statuses roll up " +
        "with map-side combine; no window, no pairing"),
    ("dedup_eval_pr", p => !p.contains("CartesianProduct"),
      "screen evaluation: banded + capped-index candidate joins only; " +
        "exact scores ride the pair explode, never doc-by-doc"),
    ("boilerplate_scrub", p => !p.contains("CartesianProduct")
      && p.contains("HashAggregate"),
      "boilerplate scrub: one fingerprint aggregate + join back; linear"),
    ("dedup_eval_sweep", p => !p.contains("CartesianProduct"),
      "band sweep: all three layouts ride ONE fused band self-join with " +
        "viral-bucket cap; exact scores ride the pair explode"),
    ("curriculum_order", p => !p.contains("CartesianProduct")
      && p.contains("Broadcast"),
      "curriculum: thresholds and bucket offsets broadcast; the rank is " +
        "the two-phase bucketed window, never a single global partition"),
    ("span_corruption", p => !p.contains("Join") && !p.contains("Window"),
      "span plan: entirely row-local list arithmetic — no join, no window"),
    ("shard_manifest", p => !p.contains("CartesianProduct")
      && p.contains("Broadcast"),
      "shard manifest: two-phase bucketed prefix sum with a broadcast " +
        "16-row offset table — never one global data-sized window"),
    ("quality_agreement", p => !p.contains("CartesianProduct")
      && p.contains("Broadcast"),
      "filter agreement: thresholds are broadcast grid aggregates; the " +
        "pair explode is row-local — no document-pair join anywhere"),
    ("sample_quality_weighted", p => p.contains("BroadcastHashJoin")
      && !p.contains("SortMergeJoin"),
      "quality sampling: model weights broadcast to the token explode; " +
        "the md5 coin gate is row-local after the per-doc aggregate"),
    ("dedup_cluster_stats", p => !p.contains("Join")
      && p.contains("partial_count"),
      "dup-depth profile: one fingerprint aggregate with map-side " +
        "partials; the share window runs on the depth grid only"),
    ("mixture_doremi", p => p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct"),
      "doremi step: ONE token pass to the domain frame (broadcast " +
        "model); solver arithmetic is k-row windows"),
    ("length_bucket_batches", p => !p.contains("Join")
      && p.contains("partial_count"),
      "length buckets: row-local bucket assignment + one grid-sized " +
        "aggregate with map-side partials — no join, no data-sized window"),
    ("zipf_fit", p => !p.contains("Join") && !p.contains("Window")
      && p.contains("partial_count"),
      "zipf spectrum: vocabulary aggregate with map-side partials; the " +
        "regression is a second aggregate — no rank window over types"),
    ("heaps_law", p => !p.contains("CartesianProduct")
      && p.contains("partial_count"),
      "heaps curve: one n-gram aggregate (map-side partials); cumulative " +
        "windows run on the 16-row bucket grid only"),
    ("sketch_quantiles", p => p.contains("ObjectHashAggregate")
      && p.contains("partial_"),
      "quantile sketch: mergeable partial+final aggregation (fixed " +
        "O(accuracy) state per group, no full-multiset sort anywhere)"),
    ("centroid_classify", p => p.contains("BroadcastNestedLoopJoin")
      && p.contains("partial_min") && !p.contains("SortMergeJoin"),
      "centroid probe: label-count centroids broadcast; assignment is " +
        "an argmin AGGREGATE with map-side partials, one row per vector " +
        "in the shuffle — never the N·k candidate set through a sort"),
    ("event_anomalies", p => !p.contains("CartesianProduct")
      && p.contains("partial_count"),
      "rate anomalies: ONE data-sized count aggregate; the gap-fill " +
        "spine join and trailing window run on the (type, hour) grid " +
        "(both sides aggregates of the hourly counts, never events)"),
    ("quality_drift", p => p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct"),
      "quality drift: both generations score through the broadcast " +
        "model; everything after the per-source aggregate is " +
        "source-count-sized"),
    ("token_entropy", p => !p.contains("Join") && !p.contains("Window")
      && !p.contains("HashAggregate"),
      "token entropy: row-local histogram arithmetic inside the scan — " +
        "no join, no window, no aggregate (the only exchange is the " +
        "presentation sort)"),
    ("pii_report", p => !p.contains("Join")
      && p.contains("partial_count"),
      "pii report: row-local regex counts; the rollup is one " +
        "(source x rule)-grid aggregate with map-side partials"),
    ("asof_join_nearest", p => !p.contains("CartesianProduct")
      && !p.contains("SortMergeJoin") && p.contains("Window"),
      "nearest as-of: union + two keyed windows off ONE key shuffle — " +
        "no range self-join in either direction"),
    ("minhash_band_stats", p => !p.contains("SortMergeJoin")
      && !p.contains("CartesianProduct") && p.contains("partial_count"),
      "band occupancy: signature pass + (band, bandsig) aggregate with " +
        "map-side partials — the pair mass is COMPUTED from occupancy, " +
        "never materialized as a pair join (the only join is " +
        "minhashSignatures' broadcast keep-empty attach)"),
    // round-14 pins
    ("script_mix", p => !p.contains("Join") && p.contains("partial_count"),
      "script mix: length-difference char classes inside the scan — " +
        "no per-char explode, one source-grid aggregate"),
    ("readability", p => !p.contains("Join") && p.contains("partial_count"),
      "readability: per-doc integer (w,s,v) inside the scan, one " +
        "source-grid aggregate"),
    ("diversity_distinct_n", p => !p.contains("Join")
      && p.contains("partial_count"),
      "distinct-n: (group, gram)-keyed aggregate with map-side " +
        "partials — reduce state is the vocabulary, never the corpus"),
    ("ngram_drift", p => !p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      "n-gram drift: per-side DISTINCT fingerprints, fp-keyed anti " +
        "join — vocabulary-sized both sides, never occurrence-sized"),
    ("seed_select", p => p.contains("TakeOrderedAndProject")
      && !p.contains("SortMergeJoin"),
      "seed select: centroid broadcast onto one linear scan; global " +
        "top-k is TakeOrdered, never a full sort"),
    ("quality_ece", p => p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"),
      "quality ECE: the only cross join attaches the broadcast 1-row " +
        "ECE rollup to the 10-row bin grid"),
    ("chinchilla_plan", p => !p.contains("SortMergeJoin"),
      "chinchilla plan: one corpus token aggregate broadcast onto the " +
        "5-row budget grid — the solver frame is the grid"),
    ("decontaminate_embedding", p => p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "embedding decontamination: FIXED-SIZE eval side broadcast onto " +
        "one linear train scan — never a train x train or corpus-" +
        "fraction pairing"),
    ("tokenizer_drift", p => !p.contains("CartesianProduct")
      && !p.contains("SortMergeJoin"),
      "tokenizer drift: two vocabulary-sized trainings; every join " +
        "after them is on the 10-row merge grid (broadcast)"),
    ("quality_length_joint", p => p.contains("partial_count")
      && !p.contains("SortMergeJoin"),
      "quality x length grid: row-local cell assignment, cell-grid " +
        "aggregate with map-side partials, broadcast 1-row total"),
    ("lexicon_screen", p => p.contains("BroadcastHashJoin")
      && !p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "lexicon screen: the wordlist rides a BROADCAST join onto the " +
        "token explode — the corpus never shuffles on a token key"),
    ("k_anonymity", p => p.contains("partial_count")
      && !p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "k-anonymity: ONE data-sized groupBy on the QI tuple (map-side " +
        "partials); buckets and total are grid-sized, total broadcast"),
    ("dp_noisy_counts", p => !p.contains("Join")
      && p.contains("partial_count"),
      "DP release: one count aggregate with map-side partials; the " +
        "Laplace draw is key-grid row-local arithmetic, no join"),
    ("bootstrap_ci", p => !p.contains("CartesianProduct")
      && p.contains("partial_count") && !p.contains("Window"),
      "bootstrap CI: fixed x32 rep grid explode, (group, rep) then " +
        "group-grid aggregates with map-side partials — never a " +
        "resample shuffle of the corpus"),
    ("corpus_concentration", p => !p.contains("CartesianProduct")
      && !p.contains("SortMergeJoin") && p.contains("partial_sum"),
      "concentration: ONE token scan to the source grid (map-side " +
        "partials); the rank window and total cross join run on the " +
        "grid, total broadcast"),
    ("epoch_shuffle", p => p.contains("ObjectHashAggregate")
      && !p.contains("Window") && !p.contains("CartesianProduct"),
      "epoch shuffle: fused min-k typed aggregate per epoch — O(k) " +
        "state, map-side combine, never a per-epoch global sort window"),
    ("rendezvous_shards", p => !p.contains("Generate")
      && !p.contains("SortMergeJoin") && p.contains("partial_count"),
      "HRW shards: the argmax is greatest(struct…) INSIDE the scan — " +
        "no shard-grid explode, no data-sized window; movement grid " +
        "aggregates with map-side partials"),
    ("weighted_reservoir", p => p.contains("ObjectHashAggregate")
      && !p.contains("Window") && !p.contains("SortMergeJoin"),
      "weighted reservoir: exponential-race keys row-local, top-k via " +
        "the fused min-k aggregate — never a global sort; winner " +
        "weights re-attach via the k-row broadcast"),
    ("packing_efficiency", p => !p.contains("Join")
      && p.contains("partial_count") && p.contains("Generate"),
      "packing sweep: row-local ceil arithmetic over the fixed L-grid " +
        "explode, one grid-sized aggregate with map-side partials"),
    ("ks_drift", p => !p.contains("CartesianProduct")
      && p.contains("partial_count"),
      "KS drift: two row-local scoring scans to the FIXED 4096-bin " +
        "grid; the full join and cumulative windows run on the grid"),
    ("negative_sampling_table", p => p.contains("TakeOrderedAndProject")
      && !p.contains("SortMergeJoin"),
      "negative sampling: vocab aggregate, head via TakeOrdered (never " +
        "a rank window over the vocabulary); total mass broadcast"),
    ("hll_intersect", p => p.contains("ObjectHashAggregate")
      && !p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "HLL intersect: ONE data-sized mergeable sketch aggregate; pair " +
        "joins/unions/Jaccard on the group grid"),
    ("quality_isotonic", p => !p.contains("CartesianProduct")
      && p.contains("partial_count"),
      "isotonic fit: two scoring scans + one id equi-join (the " +
        "quality_ece shape); the minimax j/k joins run on the " +
        "observed-decile grid"),
    ("conformal_gate", p => !p.contains("SortMergeJoin")
      && p.contains("partial_count") && !p.contains("CartesianProduct"),
      "conformal gate: scoring scans to the FIXED 4096 grid; the order " +
        "statistic is a cumulative count over the grid, never a sort " +
        "of the corpus; threshold broadcasts back"),
    // ---- round-14 continuation pins ----
    ("entity_resolution", p => !p.contains("CartesianProduct")
      && p.contains("damerau_levenshtein"),
      "entity resolution: candidate pairs from an EQUI-join on the " +
        "block keys (never cartesian); the native DL kernel sits " +
        "inside the joined projection"),
    ("graph_pagerank", p => !p.contains("CartesianProduct")
      && p.contains("ExistingRDD"),
      "pagerank: iterations run eagerly behind localCheckpoint barriers " +
        "(r15 — one edge-list scan total), so the final plan is the " +
        "top-k over the LAST checkpointed rank frame; no cartesian"),
    ("uncertainty_sample", p => p.contains("ObjectHashAggregate")
      && !p.contains("Window"),
      "uncertainty sampling: fused min-k typed aggregate (O(k) state " +
        "per stratum), never a rank window over documents"),
    ("importance_weights", p => !p.contains("Join")
      && p.contains("HashAggregate"),
      "importance weights/ESS: ONE scan + ONE grouped aggregate — " +
        "zero joins in the whole plan"),
    ("vocab_size_sweep", p => !p.contains("CartesianProduct")
      && p.contains("partial_count"),
      "vocab sweep: corpus collapses to types (partial agg), types to " +
        "the count-of-counts grid; sweep joins run broadcast on grids"),
    ("psi_drift", p => !p.contains("CartesianProduct")
      && p.contains("partial_count"),
      "PSI: two row-local scoring scans to the constant 10-cell grid; " +
        "all joins grid-sized, totals broadcast"),
    ("robust_scale", p => p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct"),
      "robust scale: per-group quantile frame broadcasts back onto " +
        "the flag pass"),
    ("activity_streaks", p => p.contains("Window")
      && !p.contains("CartesianProduct"),
      "activity streaks: the island window partitions BY USER (bounded " +
        "frames), histogram is grouped counts"),
    ("bleu_corpus", p => !p.contains("CartesianProduct")
      && p.contains("partial_count"),
      "BLEU: per-order (pair, gram) frames partial-aggregate before the " +
        "overlap joins; nothing window-sized"),
    ("chrf_score", p => !p.contains("CartesianProduct")
      && p.contains("partial_count"),
      "chrF: char-gram frames partial-aggregate; overlap joins on " +
        "(pair, gram) only"),
    ("quality_auc", p => p.contains("Window")
      && !p.contains("CartesianProduct"),
      "AUC: the cumulative-negative window runs over the (lang, score) " +
        "GRID, never documents"),
    ("retrieval_eval", p => !p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin") && p.contains("Window"),
      "retrieval eval: candidate attach is an EQUI join on the did-bin " +
        "(no nested loop); rank windows partition per query"),
    ("cdc_apply", p => !p.contains("Window") && !p.contains("CartesianProduct"),
      "CDC latest-wins is a max_by AGGREGATE (partial+final), never a " +
        "per-key rank window"),
    ("preference_stats", p => !p.contains("Window")
      && !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "preference pairing is an equi join on doc_id+1 — no window over " +
        "documents, no nested loop"),
    ("dialog_stats", p => !p.contains("Join") && p.contains("partial_count"),
      "dialog parse + turn stats are ROW-LOCAL; the only exchange is the " +
        "stratum rollup"),
    ("embedding_truncate", p => !p.contains("CartesianProduct")
      && p.contains("Broadcast"),
      "Matryoshka eval broadcasts the fixed query panel (knn_bruteforce " +
        "shape) per dim variant"),
    ("label_noise_audit", p => p.contains("Broadcast")
      && !p.contains("CartesianProduct"),
      "noise audit broadcasts centroids AND thresholds; scan is one " +
        "pass, readout frame class²-sized"),
    ("dataset_card", p => !p.contains("Window")
      && !p.contains("CartesianProduct") && p.contains("partial_count"),
      "dataset card: three partial-agg'd rollups joined on the SOURCE " +
        "frame, no window anywhere"),
    ("signal_correlation", p => p.contains("Window")
      && !p.contains("CartesianProduct"),
      "correlation: rank windows run over the (stratum, value) GRID; " +
        "per-doc rank attach is an equi join"),
    ("mutual_information", p => !p.contains("Window")
      && !p.contains("CartesianProduct") && p.contains("partial_count"),
      "MI: all joins on grid-sized marginal frames, no window, no " +
        "cartesian"),
    ("skyline_select", p => p.contains("Window")
      && !p.contains("CartesianProduct"),
      "skyline: prefix-max window over the (stratum, x) GRID, survivors " +
        "rejoin by equi join"),
    ("incremental_view", p => !p.contains("Window")
      && !p.contains("CartesianProduct") && p.contains("partial_count"),
      "IVM: base + delta both pre-aggregated, one shuffle on the group " +
        "key"),
    ("knn_graph", p => !p.contains("CartesianProduct"),
      "kNN graph: slim band join for candidates, fused O(k) top-k " +
        "aggregate, reciprocity as a semi join"),
    ("knn_graph_search", p => !p.contains("CartesianProduct")
      && p.contains("BroadcastHashJoin")
      && p.contains("LeftSemi BuildRight"),
      "graph search: the corpus-linear move table is LEFT-SEMI pruned to " +
        "the |Q|-row frontier (build side = cur, never step) before any " +
        "broadcast; hops stay broadcast lookup joins, no cartesian"),
    ("ab_test", p => !p.contains("Window") && !p.contains("CartesianProduct")
      && p.contains("partial_max"),
      "A/B: one partial-agg'd shuffle on user, then two-row frames"),
    ("ewma_monitor", p => !p.contains("Window")
      && !p.contains("CartesianProduct"),
      "EWMA: count aggregate is the only data-sized pass; the recursion " +
        "folds row-locally over per-type hour ARRAYS (grid-sized)"),
    ("attribution_touch", p => !p.contains("Window")
      && !p.contains("CartesianProduct"),
      "attribution: min_by/max_by aggregates on the (ts, id) total " +
        "order — no per-user rank window"),
    ("forecast_baseline", p => !p.contains("Window")
      && !p.contains("CartesianProduct") && p.contains("partial_count"),
      "backtest: count aggregate is the only data-sized pass; " +
        "train/test frames are (type x 24)-sized"),
    ("embedding_drift", p => !p.contains("CartesianProduct")
      && p.contains("partial_fixedpointvecsum")
      && !p.contains("Generate"),
      "drift: two one-aggregation quantized centroids (map-side partial " +
        "vector sums, no posexplode) joined on the LABEL frame; one " +
        "cosine per label"),
    ("asof_join_tolerance", p => !p.contains("CartesianProduct")
      && p.contains("Window"),
      "tolerance as-of: same union+window machinery, staleness bound " +
        "row-local — no range self-join"),
    ("text_normalize", p => !p.contains("Join") && p.contains("partial_count"),
      "NFC normalize: native codegen expression inside the scan; one " +
        "rollup shuffle"),
    ("winsorized_stats", p => p.contains("BroadcastHashJoin")
      && !p.contains("Window"),
      "winsorize: one percentile aggregate per group broadcast onto " +
        "one clamp pass — no window, no second scan of raw values"),
    // round-15 pins
    ("image_dedup", p => !p.contains("CartesianProduct")
      && !p.contains("Window"),
      "perceptual image dedup: codegen'd scalar pixel samples, block-key " +
        "equi-joins only — no all-pairs, no rank window"),
  )

  checks.foreach { case (name, pred, what) =>
    test(s"$name: $what") {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution
        .explainString(FormattedMode)
      assert(pred(plan), s"plan of $name:\n$plan")
    }
  }
}
