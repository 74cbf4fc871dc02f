from machine_learning_algorithm_sparkml__spark.operators.relational import (
    alias_cast,
    drop_columns,
    dropna_rows,
    filter_and_not,
    filter_eq,
    select_columns,
)
from machine_learning_algorithm_sparkml__spark.operators.joins import inner_equi_join
from machine_learning_algorithm_sparkml__spark.operators.windows import (
    rank_per_group,
    sort_limit,
    top_k_per_group,
)
from machine_learning_algorithm_sparkml__spark.operators.setops import (
    global_count,
    sample_fraction,
    seeded_random_split,
    union_all,
)
from machine_learning_algorithm_sparkml__spark.operators.asof import asof_join_backward
from machine_learning_algorithm_sparkml__spark.operators.dedup import (
    exact_dedup,
    exact_dedup_representatives,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from machine_learning_algorithm_sparkml__spark.operators.graph import connected_components
from machine_learning_algorithm_sparkml__spark.operators.merge import merge_upsert
from machine_learning_algorithm_sparkml__spark.operators.rangejoin import (
    bucketized_range_join,
)
from machine_learning_algorithm_sparkml__spark.operators.sessions import sessionize
from machine_learning_algorithm_sparkml__spark.operators.simsearch import brute_force_topk
from machine_learning_algorithm_sparkml__spark.operators.skew import (
    salted_aggregate_count,
    salted_join,
)

__all__ = [
    "alias_cast",
    "drop_columns",
    "dropna_rows",
    "filter_and_not",
    "filter_eq",
    "select_columns",
    "inner_equi_join",
    "rank_per_group",
    "sort_limit",
    "top_k_per_group",
    "global_count",
    "sample_fraction",
    "seeded_random_split",
    "union_all",
    "asof_join_backward",
    "exact_dedup",
    "exact_dedup_representatives",
    "ngram_jaccard_pairs",
    "minhash_near_dup_pairs",
    "simhash_near_dup_pairs",
    "connected_components",
    "merge_upsert",
    "bucketized_range_join",
    "sessionize",
    "brute_force_topk",
    "salted_join",
    "salted_aggregate_count",
]
