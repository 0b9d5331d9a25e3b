"""Engine benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the noop sink (full computation, no write
cost). A tiny warmup action runs first so the JVM/codegen warmup isn't
attributed to the first query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_consumer_spark.plans import QUERIES  # noqa: E402
from etl_consumer_spark.plans.queries import STREAM_PHASES  # noqa: E402
from etl_consumer_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "f1_decimal_roundtrip",       # scalar decode pipeline (expression fold)
    "cdc_apply_orders",           # the engine's core: full CDC apply
    "cdc_full_row_apply",         # full-row-predicate variant
    "event_counts",               # hash agg
    "olap_q1_pricing_summary",    # scan-heavy agg (600k lineitem)
    "olap_revenue_by_nation",     # two-hop join
    "olap_topk_orders_per_customer",  # ranking window
    "dedup_exact",                # content-hash dedup
    "dedup_minhash_signatures",   # shingle explode + 8-way min agg
    "sim_knn_bruteforce",         # cross-join cosine top-k
    "sim_ivf_clusters",           # IVF assignment
    "text_token_stats",           # tokenize + fingerprints
    "text_quality_langid",        # quality + langid heuristics
    "mm_image_features",          # Arrow mapInPandas kernel
    "olap_q5_local_suppliers",    # 6-way join with broadcast dims
    "analytic_asof_join",         # union+carry-forward as-of join
    "cdc_apply_sequential",       # sorted-partition linear Python fold
    "stream_cdc_full_stack",      # Debezium JSON -> Structured Streaming -> state
    # round-2 additions (VERDICT r1 ask #9): join/grouping-set/window OLAP
    # breadth plus the bounded-join dedup scale path
    "olap_q3_shipping_priority",  # 3-way join + agg + top-n
    "olap_cube",                  # CUBE grouping sets
    "olap_lag_lead",              # offset windows
    "dedup_ngram_jaccard_capped", # stop-shingle-capped Jaccard (scale path)
    # round-3 additions (VERDICT r2 ask #8): cover the round-2 surface in the
    # regression grade, plus the round-3 operators
    "stream_cdc_partitioned",     # range-bucketed store, staged-manifest commit
    "dedup_lsh_candidates_capped",# bounded LSH banding (scale path)
    "sketch_hll_registers",       # register-exact HLL sketch
    "mm_metadata",                # header-only multimodal parse
    "sim_ivf_rerank",             # two-stage ANN probe + exact rerank
    "mm_png_features",            # zlib PNG decode kernel
    # round-4 additions (VERDICT r3 asks #6-#7 + coverage growth): codecs,
    # TPC-H completion, retrieval/decontamination, PQ, PageRank, sketches
    "mm_jpeg_features",           # T.81 baseline JPEG decode kernel
    "mm_audio_features",          # RIFF/WAVE PCM decode kernel
    "olap_q9_product_type_profit",  # 5-way join profit rollup
    "olap_q21_waiting_suppliers",   # decorrelated EXISTS/NOT-EXISTS
    "text_decontaminate",         # benchmark 5-gram leakage guard
    "text_bm25_topk",             # BM25 sparse retrieval
    "graph_pagerank",             # fixed-point integer PageRank
    "sim_pq_adc_topk",            # product-quantization ADC search
    "sketch_count_min",           # mergeable heavy-hitter counters
    "analytic_gap_fill",          # time-series densification + fill
    # round-5 additions: Hamming-block LSH, containment scoring, RANGE
    # frames, and the outer stream-stream interval join
    "dedup_simhash_hamming",      # bit-block LSH + popcount filter
    "dedup_minhash_containment",  # asymmetric subset-dup scores
    "olap_range_frame_window",    # RANGE-frame trailing-30d window
    "stream_outer_interval_join", # watermark-flushed left-outer stream join
    "mm_gif_features",            # GIF87a LZW decode kernel
    "text_chunk_split",           # sliding context-window splitter
    "sample_upsample_mix",        # deterministic domain-reweighting mix
    # round-5 session-2 additions: web-corpus filter stack + storage layers
    "text_line_dedup",            # corpus-level boilerplate-line removal
    "text_bigram_lm",             # broadcast bigram-LM quality scoring
    "text_subword_tokenize",      # memoized greedy subword inference (Arrow)
    "layout_bucketed_join",       # bucketed write + exchange-free join
    # round-5 session-3 additions: clustering, graph structure, fingerprints
    "sim_kmeans_lloyd",           # quantized Lloyd k-means (iterative, oracle-exact)
    "graph_triangle_count",       # degree-ordered oriented wedge join
    "text_winnow_fingerprint",    # MOSS winnowing window-min fingerprints
    "cdc_scd2_history",           # Type-2 validity intervals via lead()
    "sample_pack_contexts",       # two-level prefix-sum sequence packing
    "text_dsir_importance",       # DSIR hashed-ngram importance weights
    "graph_bom_explosion",        # level-wise weighted transitive closure
    "mm_tiff_features",           # TIFF 6.0 multi-strip decode kernel
    "sim_ivf_kmeans_rerank",      # trained-IVF: kmeans coarse quantizer
    "analytic_concurrency_sweep", # sweep-line interval overlap maximum
    # round-5 session-4 additions: lattice aggregation, mergeable moments,
    # image-level perceptual dedup, file-layout maintenance, RAKE keywords
    "olap_cube_grouping_id",      # CUBE + GROUPING-id bitmask
    "sketch_moments",             # mergeable power-sum moments
    "mm_image_ahash",             # perceptual-hash image dedup (Arrow kernel)
    "layout_compaction",          # small-file rewrite + XOR fingerprint
    "text_rake_keywords",         # stopword-island phrases, integer scores
    "olap_percentiles_exact",     # exact p50/p90/p99 per group
    "olap_percentiles",           # r12: grouped distributed-histogram rewrite
    "analytic_entropy_mi",        # contingency counts + broadcast marginals
    "analytic_markov_transitions",  # per-user lag window + pair counts
    "text_zipf_fit",              # ordered-fold OLS over top-100 ranks
    "text_entropy_per_doc",       # vocabulary-diversity quality signal
    "mm_ahash_robustness",        # perceptual-hash invariance audit
    "source_csv_corrupt_records", # PERMISSIVE quarantine ingestion
    "olap_window_distinct_count", # non-subtractable RANGE-frame distinct
    # round-6 additions: full IVF-PQ stack, value-checked error routing,
    # tokenizer training, link prediction, watermark late-drop accounting,
    # codec roundtrip, scene cuts, epoch shuffle, Welch t-test
    "sim_ivfpq_search",           # coarse probe -> PQ-ADC shortlist -> rerank
    "e4_e5_error_routing",        # parse-error drop + empty-DDL dead-letter
    "text_bpe_learn",             # distributed BPE merge learning (4 rounds)
    "graph_jaccard_linkpred",     # degree-capped wedge common-neighbor scores
    "stream_late_data_metrics",   # append-mode watermark late-drop contract
    "source_compression_codecs",  # snappy/gzip/zstd/lz4 roundtrip fingerprints
    "mm_video_scene_cuts",        # RIFF/MJPEG decode + lag-window shot bounds
    "sample_epoch_shuffle",       # zero-RNG per-epoch training permutations
    "analytic_welch_ttest",       # one-pass A/B significance (shared exprs)
    "mm_audio_vad",               # WAV decode + energy gate + islands
    "stream_cdc_snapshot_bootstrap",  # op='r' snapshot seeds an EMPTY store
    "analytic_ewma_smoothing",    # ordered-fold sequential smoothing
    "analytic_cusum_changepoint", # integer CUSUM drift alarms (struct fold)
    "dedup_lsh_band_sweep",       # b/r tuning: one signature build, 3 bandings
    "text_sentence_split",        # RE2-safe sentence segmentation stats
    "mm_image_hist_equalize",     # exact integer CDF remap through PPM decode
    "sample_weighted_reservoir",  # A-Res zero-RNG weighted sampling
    "graph_kcore_peel",           # bounded k-core density filter
    "cdc_log_compaction",         # compacted-topic view, tombstones kept
    "sim_binary_hamming_topk",    # 8-byte sign codes, XOR+popcount scan
    "text_langid_confusion",      # classifier eval vs corpus labels
    "sample_split_leakage_check", # cross-split near-dup QA gate
    "analytic_autocorrelation",   # exact integer lag-k cross sums
    "text_bpe_vocab",             # tokenizer vocab export (chars + merges)
    "text_pmi_collocations",      # exact-count bigram PMI top-20
    "analytic_benford_digits",    # first-digit audit + chi-square terms
    "sample_balanced_classes",    # minority-capped deterministic rebalance
    "text_js_divergence_domains", # ordered-fold JSD domain-shift matrix
    "analytic_pareto_abc",        # integer-cents cumulative ABC classes
    # round-7 additions: full F8 char-map parity, the MODIFY-COLUMN DDL
    # e2e completing the mid-stream DDL matrix, mixture feasibility solver,
    # Holt trend smoothing, streaming top-k heavy hitters
    "f8_clean_text_charmap_full", # full 54-entry char map through clean_text
    "stream_cdc_type_change",     # mid-stream MODIFY COLUMN type change e2e
    "sample_mixture_solver",      # exact-proportion mixture feasibility LP
    "analytic_holt_winters",      # level+trend ordered struct fold
    "stream_topk_heavy_hitters",  # streamed counts + ranked heavy hitters
    "analytic_kaplan_meier",      # right-censored survival, ordered fold
    "graph_modularity",           # Newman-Girvan Q of a given labeling
    "analytic_seasonal_decompose",  # dow seasonal means + residuals
    "mm_image_sobel_edges",       # integer Sobel |Gx|+|Gy| through real decode
    "source_jsonl_corrupt_records",  # PERMISSIVE JSONL quarantine ingest
    "graph_assortativity",        # degree-mixing Pearson r, integer sums
    "mm_audio_downsample",        # integer 2-tap decimation through WAV decode
    "sample_dsir_resample",       # DSIR selection: A-Res over exp(score/T)
    "sample_interleave_datasets", # closed-form weighted round-robin mix order
    "text_ngram_novelty",         # first-occurrence 3-gram novelty per doc
    "analytic_ols_regression",    # integer normal equations + Cramer solve
    "layout_hilbert_key",         # Hilbert xy2d fold clustering key
    "graph_hits",                 # integer fixed-point hubs/authorities
    "text_hash_features",         # signed feature hashing, 64 buckets
    "analytic_bootstrap_ci",      # deterministic Poisson bootstrap CI
    "dedup_bloom_prefilter",      # broadcast-Bloom incremental dedup probe
    "analytic_srm_chi2",          # sample-ratio-mismatch chi-square guard
    "layout_file_skipping_stats", # zone-map prune/scan accounting
    "mm_image_phash",             # fixed-point DCT perceptual hash dedup
    "graph_label_propagation",    # 2-round deterministic LPA communities
    "analytic_did",               # difference-in-differences readout
    "sketch_hll_union",           # mergeable HLL set algebra + overlap
    "sample_group_kfold",         # group-integrity CV fold assignment
    # round-7 session-2 additions: experimentation suite, CCNet buckets,
    # b-bit MinHash, blur QA, SemDeDup, attribution, walks, RFM, baskets,
    # hard negatives, patchify, fertility, sketch self-audit
    "analytic_cuped",             # CUPED variance-reduced readout
    "text_ccnet_buckets",         # bigram-LM head/middle/tail terciles
    "dedup_minhash_b_bit",        # 2-bit MinHash vs exact Jaccard audit
    "mm_image_blur_laplacian",    # variance-of-Laplacian blur QA (Arrow)
    "dedup_semdedup",             # capped SemDeDup over Lloyd clusters
    "analytic_gini_lorenz",       # two-level-rank Gini concentration
    "sample_length_bucketing",    # padding-waste accounting (two ranks)
    "analytic_attribution",       # last-touch + linear credit interval join
    "graph_random_walk",          # deterministic 3-step md5-argmin walks
    "analytic_rfm_segmentation",  # exact-percentile R/F/M quintiles
    "analytic_market_basket",     # order-bounded pair support/conf/lift
    "sim_hard_negatives",         # different-label cosine top-3 per anchor
    "mm_image_tiles",             # ViT-style 2x2 patch sums (Arrow)
    "text_tokenizer_fertility",   # composed subwords/word per language
    "sketch_quantile_accuracy_eval",  # sketch vs exact percentile audit
    # round-7 session-3 additions: model-eval readouts (rank-device AUC,
    # drift gates), integer-bucket quantile sketch, MIPS reduction
    "analytic_auc_roc",           # tie-corrected Mann-Whitney AUC, two-level ranks
    "analytic_ks_test",           # 256-bin KS via triangular broadcast CDF
    "sketch_loglinear_quantiles", # integer log-linear histogram quantiles
    "sim_mips_topk",              # norm-augmented MIPS through cosine knn
    "graph_clustering_coefficient",  # composed triangles + exact degrees
    # round-7 session-3b additions: uplift eval, KN smoothing, SSIM,
    # skyline, streaming tx atomicity
    "analytic_qini_uplift",       # rank-decile causal uplift readout
    "text_bigram_kneser_ney",     # continuation-probability LM smoothing
    "mm_image_ssim_blur",         # exact-integer SSIM through real decode
    "olap_skyline_2d",            # Pareto frontier, strict-prefix-max device
    "stream_cdc_transactional",   # cross-batch tx hold-and-release
    # round-9 additions: HyperBall centrality, bitmap/AMS scale devices,
    # experimentation stats wave, pipeline ops
    "graph_harmonic_hll",         # HLL-256 neighborhood balls, |E|-bounded rounds
    "olap_bitmap_distinct",       # 64-bit-word exact distinct (8 B/group shuffle)
    "sketch_ams_f2",              # tug-of-war F2: 16 longs vs per-key groupBy
    "analytic_mann_whitney_u",    # rank-sum via per-value counts, no rank window
    "analytic_benjamini_hochberg", # BH-FDR step-up on exact chi2 p-values
    "analytic_theil_sen",         # median pairwise slope, pre-aggregated series
    "analytic_page_hinkley",      # sequential drift fold, flat accumulator
    "analytic_two_proportion_ztest", # pooled z from one aggregation
    "analytic_price_elasticity",  # per-brand exact OLS demand slope
    "sample_poisson_bootstrap",   # one-pass per-row replicate weights
    "cdc_snapshot_chunking",      # DBLog PK-range chunk watermarks
    "cdc_outbox_relay",           # outbox dedup + per-aggregate sequencing
    "text_ttr_mattr",             # sliding-window lexical diversity
    "sim_rank_fusion_rrf",        # two-retriever reciprocal rank fusion
    "layout_zone_overlap_depth",  # zone-map clustering-quality metric
    # round-9 wave-2 additions: sequential tests, attribution, shrinkage,
    # truss cores, bloom skipping, PPR, raking
    "analytic_sprt",              # Wald sequential test, ordered fold
    "analytic_shapley_channels",  # exact 3-channel Shapley from 16 longs
    "analytic_empirical_bayes",   # beta-binomial MoM shrinkage per brand
    "analytic_tukey_hsd",         # studentized-range post-hoc pairs
    "text_simpson_diversity",     # exact integer diversity ppm per source
    "graph_k_truss",              # 2-iteration bitmap-support truss filter
    "layout_bloom_file_skipping", # per-file Bloom vs zone-map pruning audit
    "graph_personalized_pagerank",# seed-teleport integer fixed point
    "cdc_watermark_alignment",    # multi-topic min-watermark frontier
    "sample_raking_ipf",          # 3-round IPF marginal calibration
    # round-9 wave 3: eval/causal/survival stats, curation filters,
    # CDC chunking, arena ranking, NB baseline, multimodal QA gates
    "graph_adamic_adar",          # 1/ln(deg) link prediction, micro-int
    "analytic_mcnemar",           # paired classifier comparison cells
    "analytic_hhi_concentration", # exact int128 HHI ppm per nation
    "analytic_tost_equivalence",  # two one-sided equivalence z-tests
    "analytic_pinball_loss",      # quantile-forecast proper scoring
    "analytic_logrank_test",      # censoring-aware survival A/B
    "text_gopher_quality_full",   # full Gopher rule card, integer flags
    "dedup_cdc_chunks",           # content-defined chunking dedup ppm
    "analytic_chi2_feature_select",  # one-vs-rest chi2 top terms
    "analytic_krippendorff_alpha",   # 3-rater panel agreement
    "analytic_iptw_att",          # stratified propensity reweighting
    "sketch_countsketch_topk",    # signed-register median estimates
    "analytic_bradley_terry",     # MM-solved arena strengths (runtime fold)
    "analytic_naive_bayes_langid",   # in-engine NB train+confusion
    "analytic_ar2_yule_walker",   # AR(2) fit + forecast per series
    "mm_audio_clipping_detect",   # clip/DC audio QA via real WAV decode
    "mm_image_letterbox_detect",  # uniform-bar detection via real decode
    # round-9 wave 4
    "analytic_elo_per_day",       # runtime Elo fold per day partition
    "cdc_change_data_feed",       # Delta-CDF pre/postimage row feed
    "analytic_item_item_cf",      # also-bought cosine neighbor lists
    "text_burstiness",            # Fano-factor topicality top-20
    "sim_gram_power_iteration",   # exact-Gram dominant eigenvector
    # round-9 wave 5
    "analytic_gtest_collocations",  # Dunning LLR 2x2, TakeOrdered top-20
    "analytic_mann_kendall",      # nonparametric trend + Sen slope
    "mm_image_entropy",           # pixel-entropy QA via real decode
    # round-10 additions
    "analytic_kalman_local_level",  # sequential filter fold per series
    "analytic_haar_energy",       # integer wavelet pyramid
    "analytic_isotonic_calibration",  # PAV minimax over deciles
    "analytic_permutation_test",  # 64 map-side relabelings
    "analytic_jackknife_ratio",   # delete-one-group replicates
    "analytic_rdd_sharp",         # two-sided local OLS
    "text_ocr_gibberish",         # consonant-run / vowel-density gate
    "text_repeated_chunks",       # intra-doc boilerplate ppm
    "sketch_bloom_cardinality",   # fill-ratio distinct estimate
    "sample_systematic",          # every-10th on two-level order
    "graph_bipartite_projection", # user x type one-mode projection
    "mm_image_quadrant_energy",   # quadrant sums via real decode
    "layout_partition_advisor",   # split/merge decision table
    "cdc_exactly_once_audit",     # replay-detection invariant
    "analytic_tail_index_hill",   # top-k Hill estimator
    "analytic_hmm_forward",       # scaled-forward HMM fold
    "analytic_shewhart_xbar",     # X-bar/R control chart
    "analytic_nelson_aalen",      # cumulative hazard fold
    "sample_importance_truncation",  # clipped IS weights + ESS
    "layout_bitmap_index",        # popcount invariants audit
    "text_heaps_law",             # vocab growth log-log fit
    "sim_mmr_rerank",             # 3-step greedy diversity rerank
    "analytic_median_polish",     # robust two-way decomposition
    "olap_semijoin_bloom_reduction",  # literal-Bloom fact-scan pruning
    "cdc_view_maintenance",       # delta-only aggregate refresh
    "mm_image_palette_mediancut", # histogram median-cut QA
    "analytic_runs_test",         # Wald-Wolfowitz randomness check
    "stream_cdc_scd2",            # deployable streaming-SCD2 path (phase-split)
    # round 11
    "analytic_theil_index",       # inequality decomposition (order-free micro terms)
    "analytic_kendall_tau_daily", # tau-b over the bounded day-pair join
    "analytic_kruskal_wallis",    # k-sample rank test on the two-level rank device
    "analytic_friedman_test",     # blocked rank test, zero-filled grid
    "analytic_hurst_rs",          # rescaled-range persistence diagnostic
    "analytic_weibull_fit",       # median-rank survival fit (no exp across engines)
    "analytic_dtw_daily",         # nested-runtime-fold DTW, exact integer cost
    "olap_dq_audit",              # dbt/Deequ-style rule suite in two scans
    "layout_sort_order_advisor",  # zone-width table behind OPTIMIZE/ZORDER choices
    "dedup_minhash_band_tuning",  # LSH S-curve cost table, no pair join
    "mm_image_rle_runs",          # RLE compressibility through the real decode
    "cdc_scd_type6",              # Kimball 1+2+3 hybrid dimension
    "layout_analyze_stats",       # ANALYZE-style exact column stats
    "analytic_cochran_armitage",  # ordered-dose trend test
    "analytic_levene_bf",         # Brown-Forsythe equal-spread check
    "analytic_negbin_moments",    # overdispersion / NB moment fit
    "analytic_vif",               # multicollinearity gate (closed-form 3-var)
    "sim_ivf_balance",            # IVF list-imbalance diagnostic
    "analytic_bland_altman",      # limits-of-agreement readout
    "analytic_mahalanobis_outliers",  # multivariate outlier gate
    "analytic_hodges_lehmann",    # Walsh-average pseudo-median
    "analytic_cpk_capability",    # Cp/Cpk process capability
    "analytic_youden_threshold",  # ROC operating point (exact argmax)
    "analytic_survival_rmst",     # area under the KM curve to tau=30d
    # round 12
    "analytic_wasserstein_1d",    # exact earth-mover distance, one terminal divide
    "analytic_mood_median",       # k-sample median test, micro-quantized chi2
    "analytic_dunn_test",         # KW post-hoc pairwise z on shared rank device
    "analytic_ljung_box",         # white-noise portmanteau, exact integer rhos
    "analytic_jarque_bera",       # normality from wide-integer power sums
    "analytic_durbin_watson",     # serial correlation, integer-scaled residuals
    "analytic_ndcg_at10",         # ranking quality, nano-quantized gains
    "analytic_mrr_at10",          # reciprocal rank as exact floor(1e9/rank)
    "analytic_jsd_weekday_weekend",  # bounded symmetric drift divergence
    "sample_halton_qmc",          # hash-exact radical-inverse stratification
    "analytic_brier_online",      # proper-scoring forecast health check
    "text_collocations_pmi",      # top-20 PMI collocations, quantized cut
    "analytic_cochran_q",         # k-treatment McNemar over user-day blocks
    "analytic_kendall_w",         # concordance of daily type rankings
    "analytic_jonckheere",        # ordered-alternative k-sample trend
    "analytic_page_trend",        # Page's L over week-blocked weekday doses
    "analytic_mase_daily",        # scale-free forecast accuracy (integer sums)
    "analytic_sign_test",         # exact binomial paired test, integer C(m,i) fold
    "analytic_wilcoxon_signed_rank",  # magnitude-aware paired rank test
    "text_vocab_hapax",           # corpus frequency-spectrum profile
]

# VERDICT r7 #7: a FROZEN cross-round comparison subset. The full HEADLINE
# list grows every round, so its total is never like-for-like round over
# round; this is the end-of-round-5 headline set (commit 4ffb831), emitted
# as headline_core_total alongside the growing full total. Do not add names
# here — its value is that it never changes.
HEADLINE_CORE = (
    "f1_decimal_roundtrip", "cdc_apply_orders", "cdc_full_row_apply",
    "event_counts", "olap_q1_pricing_summary", "olap_revenue_by_nation",
    "olap_topk_orders_per_customer", "dedup_exact",
    "dedup_minhash_signatures", "sim_knn_bruteforce", "sim_ivf_clusters",
    "text_token_stats", "text_quality_langid", "mm_image_features",
    "olap_q5_local_suppliers", "analytic_asof_join", "cdc_apply_sequential",
    "stream_cdc_full_stack", "olap_q3_shipping_priority", "olap_cube",
    "olap_lag_lead", "dedup_ngram_jaccard_capped", "stream_cdc_partitioned",
    "dedup_lsh_candidates_capped", "sketch_hll_registers", "mm_metadata",
    "sim_ivf_rerank", "mm_png_features", "mm_jpeg_features",
    "mm_audio_features", "olap_q9_product_type_profit",
    "olap_q21_waiting_suppliers", "text_decontaminate", "text_bm25_topk",
    "graph_pagerank", "sim_pq_adc_topk", "sketch_count_min",
    "analytic_gap_fill", "dedup_simhash_hamming",
    "dedup_minhash_containment", "olap_range_frame_window",
    "stream_outer_interval_join", "mm_gif_features", "text_chunk_split",
    "sample_upsample_mix", "text_line_dedup", "text_bigram_lm",
    "text_subword_tokenize", "layout_bucketed_join", "sim_kmeans_lloyd",
    "graph_triangle_count", "text_winnow_fingerprint", "cdc_scd2_history",
    "sample_pack_contexts", "text_dsir_importance", "graph_bom_explosion",
    "mm_tiff_features", "sim_ivf_kmeans_rerank", "analytic_concurrency_sweep",
    "olap_cube_grouping_id", "sketch_moments", "mm_image_ahash",
    "layout_compaction", "text_rake_keywords", "olap_percentiles_exact",
    "analytic_entropy_mi", "analytic_markov_transitions", "text_zipf_fit",
    "text_entropy_per_doc", "mm_ahash_robustness",
    "source_csv_corrupt_records", "olap_window_distinct_count",
)


def _calib_work(_: int) -> int:
    import hashlib

    x = 0
    for i in range(1_000_000):
        x ^= i * i
    h = b"calibration" * 64
    for _ in range(50_000):
        h = hashlib.md5(h[:512]).digest() + h[:512]
    return x


def _cpu_calibration_parallel(n: int = 16) -> float:
    """Wall seconds for n processes running the single-thread workload
    concurrently. On a healthy 32-core box this is ~= the single-thread
    time (all workers truly parallel); on an oversubscribed host it
    degrades toward n * single-thread. The PAIR (serial, parallel) is the
    box-health fingerprint: the 2026-08-14 incident showed serial 0.15 s
    with every 32-thread Spark job 1.5-3x slow — invisible to a serial
    probe, obvious from this one."""
    from multiprocessing import get_context

    t0 = time.time()
    with get_context("fork").Pool(n) as pool:
        pool.map(_calib_work, range(n))
    return round(time.time() - t0, 3)


def _cpu_calibration() -> float:
    """Seconds for a fixed single-thread CPU workload (integer loop + md5
    chain). The box this bench runs on is a shared VM whose effective CPU
    can vary >10x minute-to-minute (measured 2026-08-14: an identical
    single-thread matmul took 0.6 s and 30 s twenty seconds apart). The
    calibration number makes a contended run distinguishable from a code
    regression when comparing BENCH_r{N}.json across rounds: on a healthy
    box this workload takes ~0.5 s; ratios of calib values, not absolute
    query times, are the first thing to check when a round looks slow."""
    import hashlib

    t0 = time.time()
    x = 0
    for i in range(1_000_000):
        x ^= i * i
    h = b"calibration" * 64
    for _ in range(50_000):
        h = hashlib.md5(h[:512]).digest() + h[:512]
    return round(time.time() - t0, 3)


def _measure(spark, sf_dir, names=None):
    """One full measurement pass: each query 3x, steady-state (min) time,
    calibration + loadavg bracketing the pass. Returns the result dict and
    whether the box degraded mid-run (parallel16 calibration drift >1.5x).
    ``names`` defaults to the full HEADLINE list; the --sf1 scale-point
    mode passes HEADLINE_CORE."""
    calib_before = _cpu_calibration()
    mp_calib_before = _cpu_calibration_parallel()
    load_before = os.getloadavg()
    per_query: dict[str, float] = {}
    stream_phases: dict[str, dict[str, float]] = {}
    total = 0.0
    total_scale_safe = 0.0
    total_baseline = 0.0
    for name in (HEADLINE if names is None else names):
        q = QUERIES[name]
        times = []
        phases = []
        for _ in range(3):
            STREAM_PHASES.clear()
            t0 = time.time()
            df = q.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
            phases.append(dict(STREAM_PHASES))
        best = min(range(len(times)), key=times.__getitem__)
        dt = round(times[best], 3)
        per_query[name] = dt
        # every CDC stream harness sets STREAM_PHASES: envelope synthesis +
        # transport write and store seeding are test-DATA GENERATION, not
        # pipeline cost, so the split is reported beside the wall time
        if phases[best]:
            stream_phases[name] = phases[best]
        total += dt
        # scale_safe=False marks retained correctness baselines (uncapped
        # quadratic-under-skew plans, e.g. dedup_ngram_jaccard) — kept out of
        # the regression-graded subtotal so rounds compare like with like.
        if q.scale_safe:
            total_scale_safe += dt
        else:
            total_baseline += dt
    load_after = os.getloadavg()
    calib_after = _cpu_calibration()
    mp_calib_after = _cpu_calibration_parallel()
    drift = max(
        mp_calib_after / mp_calib_before, mp_calib_before / mp_calib_after
    )
    missing_core = [n for n in HEADLINE_CORE if n not in per_query]
    assert not missing_core, (
        f"HEADLINE_CORE names missing from the run: {missing_core} — the "
        "frozen cross-round subset must never silently shrink; if a core "
        "query was renamed, fix the rename, don't edit HEADLINE_CORE"
    )
    core_total = sum(per_query[n] for n in HEADLINE_CORE)
    result = {
        "metric": "headline_total",
        "value": round(total, 3),
        "unit": "sec",
        "headline_core_total": round(core_total, 3),
        "headline_core_n": sum(1 for n in HEADLINE_CORE if n in per_query),
        "queries": per_query,
        "stream_phases": stream_phases,
        "scale_safe_total": round(total_scale_safe, 3),
        "baseline_only_total": round(total_baseline, 3),
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "cpu_calib_before_sec": calib_before,
        "cpu_calib_after_sec": calib_after,
        "cpu_calib_parallel16_before_sec": mp_calib_before,
        "cpu_calib_parallel16_after_sec": mp_calib_after,
        "calib_drift": round(drift, 3),
    }
    return result, drift > 1.5


def _wait_for_quiet(
    threshold: float = 2.0, max_wait_sec: float = 300.0, poll_sec: float = 5.0
) -> float:
    """Block until 1-min loadavg drops below ``threshold`` or ``max_wait_sec``
    elapses; return seconds waited. BENCH_r06 started at loadavg 5.8 and
    published degraded (calib_drift 2.66) — starting a 32-thread Spark pass
    on an already-loaded box guarantees a contended measurement, so the
    cheap fix is to not start. Bounded so a permanently-noisy neighbor can
    only delay the bench, never hang the driver."""
    t0 = time.time()
    while time.time() - t0 < max_wait_sec:
        if os.getloadavg()[0] < threshold:
            break
        time.sleep(poll_sec)
    return round(time.time() - t0, 1)


def main_sf1() -> None:
    """--sf1: the VERDICT r8 #6 scale point — the FROZEN core set at
    sf1.0 (10x the driver bench's data, engine-generated via
    tools/gen_testdata.py since the driver's parquet stops at sf0.1).
    Prints one JSON line; compare headline_core_total against the sf0.1
    run's — a query whose sf1.0/sf0.1 ratio exceeds 12x (data grows 10x)
    is flagged in-line."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/root/repo/testdata_sf1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    quiet_wait = _wait_for_quiet()
    spark = get_spark(
        app_name="etl_consumer_spark_bench_sf1",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    result, degraded = _measure(spark, sf_dir, names=HEADLINE_CORE)
    result["metric"] = "headline_core_total_sf1"
    result["value"] = result.pop("headline_core_total")
    result["sf"] = 1.0
    result["quiet_wait_sec"] = quiet_wait
    result["degraded"] = degraded
    from etl_consumer_spark.sources.tables import load_table

    n_events = load_table(spark, sf_dir, "orders").count() * 3 // 4 * 2
    result["cdc_events_per_sec"] = round(
        n_events / result["queries"]["cdc_apply_orders"], 1
    )
    print(json.dumps(result))


def main() -> None:
    if "--sf1" in sys.argv:
        return main_sf1()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    quiet_wait = _wait_for_quiet(
        threshold=float(os.environ.get("BENCH_QUIET_LOADAVG", "2.0")),
        max_wait_sec=float(os.environ.get("BENCH_QUIET_MAX_WAIT", "300")),
    )
    spark = get_spark(
        app_name="etl_consumer_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    # warmup: JVM + parquet footer caches
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Contention protocol (VERDICT r5 #5, hardened per r6 #5): if the
    # 16-process CPU probe drifts >1.5x across the pass (the box changed
    # UNDER the run — the BENCH_r03/r05 phantom-regression mode), retry the
    # whole pass up to BENCH_MAX_RETRIES more times, waiting for quiet
    # between attempts; keep the best clean pass, else the fastest
    # contended one, published with degraded=true so the number is never
    # silently trusted.
    max_retries = int(os.environ.get("BENCH_MAX_RETRIES", "3"))
    result, degraded = _measure(spark, sf_dir)
    attempts = 1
    while degraded and attempts <= max_retries:
        quiet_wait += _wait_for_quiet(
            threshold=float(os.environ.get("BENCH_QUIET_LOADAVG", "2.0")),
            max_wait_sec=float(os.environ.get("BENCH_QUIET_MAX_WAIT", "300")),
        )
        retry, still_degraded = _measure(spark, sf_dir)
        attempts += 1
        if not still_degraded or retry["value"] < result["value"]:
            result, degraded = retry, still_degraded
    result["bench_attempts"] = attempts
    result["quiet_wait_sec"] = quiet_wait

    # derived throughput: CDC events applied per second in the batch apply
    # (3/4 of orders become events, replayed 2x in the query).
    # VERDICT r9 #2: dividing by ONE sub-second query time made the
    # driver-recorded number swing ~2x with box state (r8 483k vs r9 252k,
    # plan unchanged). Noise-proofed: replay the warm apply in a single
    # timed loop until the measured section is >= BENCH_THROUGHPUT_MIN_SEC
    # (default 5 s) wall-clock, then divide total events by total time —
    # amortizing scheduler/GC jitter over >= ~6 replays at sf0.1.
    from etl_consumer_spark.sources.tables import load_table

    n_events = load_table(spark, sf_dir, "orders").count() * 3 // 4 * 2
    min_sec = float(os.environ.get("BENCH_THROUGHPUT_MIN_SEC", "5.0"))
    apply_q = QUERIES["cdc_apply_orders"]
    # adaptive warmup: C2 keeps compiling codegen units for ~15-20 replays
    # even after the _measure pass, so replay until the rolling-min replay
    # time stops improving (3% threshold, patience 4, cap 20)
    best_warm, since, warmups = None, 0, 0
    for _ in range(20):
        t0 = time.time()
        apply_q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        warmups += 1
        if best_warm is None or dt < best_warm * 0.97:
            best_warm, since = dt, 0
        else:
            since += 1
            if since >= 4:
                break
    # fixed replay count (not a time budget — a loop that exits on elapsed
    # time quantizes to +-1 replay, ~10% noise on its own)
    replays = max(1, int(min_sec / best_warm + 0.999))
    t0 = time.time()
    for _ in range(replays):
        apply_q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    elapsed = time.time() - t0
    result["sf"] = sf
    result["cdc_apply_warmups"] = warmups
    result["cdc_apply_replays"] = replays
    result["cdc_apply_replay_sec"] = round(elapsed, 3)
    result["cdc_events_per_sec"] = round(n_events * replays / elapsed, 1)
    result["degraded"] = degraded

    # VERDICT r11 #4: the driver retains only the last 2000 chars of
    # stdout and parses the final JSON line — the full per-query map
    # (400+ registry names' worth of headline entries) outgrew that
    # capture in round 9, silently degrading cross-round comparison to
    # whatever fit the tail (BENCH_r11.json: "parsed": null). The FULL
    # result now lands in BENCH_FULL.json (committed each round, so git
    # history keeps every round's complete per-query map) and stdout's
    # one JSON line carries the frozen HEADLINE_CORE per-query times plus
    # every total — small enough to parse, stable enough to diff.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json"), "w") as f:
        json.dump(result, f)
    compact = {
        k: result[k]
        for k in (
            "metric", "value", "unit", "sf", "headline_core_total",
            "headline_core_n", "scale_safe_total", "baseline_only_total",
            "cdc_events_per_sec", "cdc_apply_replays", "cdc_apply_replay_sec",
            "bench_attempts", "quiet_wait_sec", "calib_drift", "degraded",
        )
        if k in result
    }
    compact["n_queries_full"] = len(result["queries"])
    compact["full"] = "BENCH_FULL.json"
    # VERDICT r13 #2: the compact prefix is PINNED to exactly the first 50
    # HEADLINE_CORE names (2dp, frozen order) — the old greedy byte-budget
    # fit let a few bytes of metadata width silently shrink the prefix
    # (PERF_r13 reported sim_kmeans_lloyd as a phantom drop). Space-free
    # JSON separators buy the headroom; the COMPLETE map is in
    # BENCH_FULL.json either way.
    compact["queries"] = {
        n: round(result["queries"][n], 2)
        for n in HEADLINE_CORE[:50]
        # a names-subset run may omit a core name — skip it rather than
        # KeyError (ADVICE r12); a FULL run is asserted complete below
        if n in result["queries"]
    }
    if all(n in result["queries"] for n in HEADLINE_CORE):
        assert len(compact["queries"]) == 50, (
            f"compact prefix holds {len(compact['queries'])} of the pinned "
            "50 HEADLINE_CORE names — the frozen prefix must never shrink"
        )
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) < 1900, (
        f"compact bench line is {len(line)} chars — the driver captures "
        "2000; trim HEADLINE_CORE metadata, never let this silently regrow"
    )
    print(line)


if __name__ == "__main__":
    main()
