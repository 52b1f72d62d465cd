from vamana_spark.operators import (
    dedup,
    quantization,
    relational,
    sampling,
    similarity,
    text,
)

__all__ = [
    "dedup",
    "quantization",
    "relational",
    "sampling",
    "similarity",
    "text",
]
