"""Scalar vector quantization (SQ8) and exact kNN over its codes.

An 8-bit code per component makes a float32 corpus 4x smaller. The
reference engine stores raw float32 only (vamana.h:26); this module
answers "what does 4x compression cost in ranking" with an exact kNN
over dequantized vectors, not with a second index. Product
quantization (PQ/OPQ) lives in the index itself:
``PartitionedVamanaIndex.search_pq``.

Scale shape: SQ8 is pure Catalyst. One aggregate pass computes the
per-dimension bounds (map-side partial min/max, no shuffle of vectors),
then a zip_with projection encodes. The whole path is DuckDB-oracle-able,
including kNN over dequantized vectors (IEEE double ops in identical
order on both engines).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ------------------------------------------------------------ scalar (SQ8)

def dimension_bounds(
    df: DataFrame, dim: int, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) as Python doubles — ONE aggregate pass,
    map-side partials, no explode (the naive posexplode form shuffles
    dim x |rows|)."""
    aggs = []
    for d in range(dim):
        x = F.col(vec_col)[d].cast("double")
        aggs += [F.min(x).alias(f"_mn{d}"), F.max(x).alias(f"_mx{d}")]
    row = df.agg(*aggs).collect()[0]
    return (
        [row[f"_mn{d}"] for d in range(dim)],
        [row[f"_mx{d}"] for d in range(dim)],
    )


def _ranges(mns: list[float], mxs: list[float]) -> list[float]:
    return [mx - mn if mx > mn else 1.0 for mn, mx in zip(mns, mxs)]


def scalar_quantize(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bounds: Optional[tuple[list[float], list[float]]] = None,
) -> tuple[DataFrame, tuple[list[float], list[float]]]:
    """(codes_df, bounds): 8-bit codes per component,
    code = floor((x - mn) / range * 255 + 0.5).

    Pure projection (zip_with against literal bound arrays) — no UDF, no
    shuffle; deterministic IEEE double arithmetic so a SQL oracle can
    reproduce codes bit-for-bit.
    """
    if bounds is None:
        bounds = dimension_bounds(df, dim, vec_col)
    mns, mxs = bounds
    mn_arr = F.array(*[F.lit(float(v)) for v in mns])
    rng_arr = F.array(*[F.lit(float(v)) for v in _ranges(mns, mxs)])
    emb_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    centered = F.zip_with(emb_d, mn_arr, lambda x, m: x - m)
    codes = F.zip_with(
        centered, rng_arr, lambda d, r: F.floor(d / r * 255 + 0.5).cast("long")
    )
    return df.select(F.col(id_col), codes.alias("codes")), bounds


def scalar_dequantize(
    codes_df: DataFrame,
    bounds: tuple[list[float], list[float]],
    codes_col: str = "codes",
    out_col: str = "embedding",
) -> DataFrame:
    """Reconstruct doubles: x_hat = mn + code / 255 * range."""
    mns, mxs = bounds
    mn_arr = F.array(*[F.lit(float(v)) for v in mns])
    rng_arr = F.array(*[F.lit(float(v)) for v in _ranges(mns, mxs)])
    scaled = F.zip_with(
        F.col(codes_col), rng_arr, lambda c, r: c.cast("double") / 255 * r
    )
    emb = F.zip_with(scaled, mn_arr, lambda s, m: s + m)
    return codes_df.withColumn(out_col, emb).drop(codes_col)


def sq_knn(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: Optional[int] = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact kNN over SQ8-dequantized vectors (both sides quantized) —
    the measurable answer to "what does 4x compression cost in ranking".
    Declarative end-to-end; oracle-able."""
    from vamana_spark import exact

    codes, bounds = scalar_quantize(points, dim, vec_col, id_col)
    deq = scalar_dequantize(codes, bounds)
    q_codes, _ = scalar_quantize(
        queries.select(
            F.col("query_id").alias(id_col), F.col("query_vec").alias(vec_col)
        ),
        dim,
        vec_col,
        id_col,
        bounds=bounds,
    )
    q_deq = scalar_dequantize(q_codes, bounds).select(
        F.col(id_col).alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return exact.exact_knn(
        deq, q_deq, k, round_digits=round_digits, exclude_self=exclude_self
    )
