from uber_data_pipeline_spark.operators.sessions import sessionize
from uber_data_pipeline_spark.operators.joins import salted_join
from uber_data_pipeline_spark.operators.dedup import (
    connected_components,
    exact_duplicates,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from uber_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    cosine_pairs,
    lsh_topk,
)

__all__ = [
    "sessionize",
    "salted_join",
    "connected_components",
    "exact_duplicates",
    "lsh_candidate_pairs",
    "ngram_jaccard_pairs",
    "simhash_pairs",
    "brute_force_topk",
    "cosine_pairs",
    "lsh_topk",
]
