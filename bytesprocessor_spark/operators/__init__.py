from bytesprocessor_spark.operators.labeling import (
    AttackSpec,
    attacks_to_df,
    extract_ranges,
    label_attacks,
    label_attacks_join,
    label_batch,
)
from bytesprocessor_spark.operators.joins import asof_join, range_join, range_join_bucketed
from bytesprocessor_spark.operators.topk import top_k, top_k_per_group
from bytesprocessor_spark.operators.quality import batch_null_counts
from bytesprocessor_spark.operators.dedup import (
    exact_dedup,
    exact_jaccard_pairs,
    minhash_lsh_pairs,
    simhash_near_dup_pairs,
)
from bytesprocessor_spark.operators.similarity import (
    brute_force_topk,
    build_ivf_index,
    ivf_index_topk,
    ivf_topk,
    lsh_topk,
)
from bytesprocessor_spark.operators.flows import biflow_stats, flow_stats
from bytesprocessor_spark.operators.skew import salted_aggregate, salted_join
from bytesprocessor_spark.operators.graph import cluster_keep, connected_components
from bytesprocessor_spark.operators.merge import merge_upsert
from bytesprocessor_spark.operators.quality import assert_expectations, expectation_report

__all__ = [
    "AttackSpec",
    "attacks_to_df",
    "extract_ranges",
    "label_attacks",
    "label_attacks_join",
    "label_batch",
    "asof_join",
    "range_join",
    "range_join_bucketed",
    "top_k",
    "top_k_per_group",
    "batch_null_counts",
    "exact_dedup",
    "exact_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_near_dup_pairs",
    "brute_force_topk",
    "build_ivf_index",
    "ivf_index_topk",
    "ivf_topk",
    "lsh_topk",
    "biflow_stats",
    "flow_stats",
    "salted_aggregate",
    "salted_join",
    "cluster_keep",
    "connected_components",
    "merge_upsert",
    "assert_expectations",
    "expectation_report",
]
