from .vector import (
    METRICS,
    cosine_expr,
    dot_expr,
    euclidean_sq_expr,
    inv_norm_expr,
    inv_norm_of,
    score_expr,
)

__all__ = [
    "METRICS",
    "cosine_expr",
    "dot_expr",
    "euclidean_sq_expr",
    "inv_norm_expr",
    "inv_norm_of",
    "score_expr",
]
