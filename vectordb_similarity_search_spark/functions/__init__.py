from .vector import (
    cosine_similarity,
    dot,
    l2_distance,
    l2_norm,
    to_double_array,
)

__all__ = [
    "cosine_similarity",
    "dot",
    "l2_distance",
    "l2_norm",
    "to_double_array",
]
