"""DataFrame-level operators (each a pure DataFrame -> DataFrame function)."""

from covid_data_pipeline_spark.operators.asof import asof_join
from covid_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash,
    simhash_candidate_pairs,
)
from covid_data_pipeline_spark.operators.quality import check, dq_report
from covid_data_pipeline_spark.operators.rangejoin import time_range_join
from covid_data_pipeline_spark.operators.relational import (
    anti_join,
    dim_join,
    distinct_rows,
    is_empty,
    map_values_join,
    null_safe_sum_rollup,
    semi_join,
)
from covid_data_pipeline_spark.operators.sampling import (
    hash_split,
    knuth_hash,
    pack_greedy_bins,
    stratified_hash_sample,
)
from covid_data_pipeline_spark.operators.scale import (
    salted_join,
    salted_sum,
)
from covid_data_pipeline_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_bruteforce_np,
    cosine_topk_ivf,
    cosine_topk_lsh,
    embedding_neardup_pairs,
)
from covid_data_pipeline_spark.operators.windows import (
    top_k_per_group,
    with_deltas,
)

__all__ = [
    "asof_join",
    "exact_dedup",
    "minhash_dedup",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_candidate_pairs",
    "check",
    "dq_report",
    "time_range_join",
    "hash_split",
    "knuth_hash",
    "pack_greedy_bins",
    "stratified_hash_sample",
    "anti_join",
    "dim_join",
    "distinct_rows",
    "is_empty",
    "map_values_join",
    "null_safe_sum_rollup",
    "semi_join",
    "salted_join",
    "salted_sum",
    "cosine_topk_bruteforce",
    "cosine_topk_bruteforce_np",
    "cosine_topk_ivf",
    "cosine_topk_lsh",
    "embedding_neardup_pairs",
    "top_k_per_group",
    "with_deltas",
]
