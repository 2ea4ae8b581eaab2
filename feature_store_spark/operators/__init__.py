"""Operator library public surface."""

from feature_store_spark.operators.asof import asof_join, duration_to_us
from feature_store_spark.operators.dedup import (
    exact_fingerprints,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard,
    simhash,
)
from feature_store_spark.operators.grouped import exact_quantiles, grouped_apply
from feature_store_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
)
from feature_store_spark.operators.windows import (
    dedup_latest,
    rank_bucket,
    sessionize,
    with_lag_lead,
    with_rolling,
)

__all__ = [
    "asof_join", "duration_to_us",
    "exact_fingerprints", "minhash_signatures", "lsh_candidate_pairs",
    "simhash", "ngram_jaccard",
    "grouped_apply", "exact_quantiles",
    "cosine_topk", "ann_lsh_topk",
    "dedup_latest", "rank_bucket", "sessionize", "with_lag_lead",
    "with_rolling",
]
