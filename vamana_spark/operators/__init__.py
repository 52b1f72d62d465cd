from vamana_spark.operators import (
    dedup,
    quantization,
    sampling,
    similarity,
    text,
)

__all__ = [
    "dedup",
    "quantization",
    "sampling",
    "similarity",
    "text",
]
