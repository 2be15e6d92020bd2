from mapreduceimpl_spark.functions.exprs import (
    cosine_similarity,
    dec_avg,
    dec_sum,
    dot,
    l2_norm,
    revenue,
    tokens,
)

__all__ = [
    "cosine_similarity",
    "dec_avg",
    "dec_sum",
    "dot",
    "l2_norm",
    "revenue",
    "tokens",
]
