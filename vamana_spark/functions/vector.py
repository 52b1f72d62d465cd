"""Vector distance/similarity column expressions — the JVM-side fast path.

The reference's only scalar function is squared L2 (``ComputeDistance``,
vamana.h:694-702, sqrt intentionally omitted) with inner-product declared
as a TODO (vamana.h:695, readme.md:76). Here every metric is a pure
Catalyst expression built from ``zip_with``/``aggregate`` — whole-stage
codegen'd, no Python in the loop. NumPy equivalents for the UDF kernels
live in ``vamana_spark.index.kernels``.

Determinism convention (FIXTURES.md §C): all arithmetic in float64 —
components are cast to double *before* any subtraction/multiplication so
Spark and the DuckDB oracle run bit-identical IEEE-754 double math.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def as_double_array(c: ColumnOrName) -> Column:
    """array<float> -> array<double>, element-wise exact widening."""
    return F.transform(_col(c), lambda x: x.cast("double"))


def _unrolled_fold(a: ColumnOrName, b, term, dim: int) -> Column:
    """Left-to-right unrolled  ((t0 + t1) + t2) + ...  over fixed dim.

    Bit-identical to the ``aggregate`` fold (same accumulation order,
    same double ops) but ~2x faster PER ROW at dim 64: no per-row array
    allocation, no higher-order-function lambda dispatch — just a flat
    codegen'd expression tree. Only sound when every array is exactly
    ``dim`` long (the engine's R1 dim filter guarantees it on index
    paths); a shorter array yields NULL via getItem instead of a
    silent partial sum.

    Cost model (measured r6): the big tree costs ~0.5 s of whole-stage
    codegen per FRESH plan, won back at ~0.4 µs/row. Use it on serving
    paths where the plan (and its broadcasts) is stable across batches
    so codegen caches — the partitioned tier's exact re-rank; keep the
    fold on one-shot pipelines that rebuild the plan per call over small
    candidate sets (``similarity.centroid_outliers``' per-call centroid
    join).
    """
    acc = None
    for i in range(dim):
        x = _col(a).getItem(i).cast("double")
        t = term(x, _col(b).getItem(i).cast("double")) if b is not None else term(x)
        acc = t if acc is None else acc + t
    return acc


def squared_l2(a: ColumnOrName, b: ColumnOrName, dim: int = None) -> Column:
    """Squared L2 distance  Σ (a_i - b_i)^2  as a double.

    Canonical distance of the engine (reference omits the sqrt;
    vamana.h:694-702). Left-to-right accumulation matches the scalar
    loop semantics, so results are deterministic for a given input.
    Pass ``dim`` on fixed-dimension paths for the unrolled fast form
    (bit-identical; see :func:`_unrolled_fold`).
    """
    if dim:
        return _unrolled_fold(a, b, lambda x, y: (x - y) * (x - y), int(dim))
    return F.aggregate(
        F.zip_with(
            _col(a),
            _col(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_distance(a: ColumnOrName, b: ColumnOrName, dim: int = None) -> Column:
    """sqrt-L2, presentation-edge variant (rank-equivalent to squared_l2)."""
    return F.sqrt(squared_l2(a, b, dim))


def dot_product(a: ColumnOrName, b: ColumnOrName, dim: int = None) -> Column:
    """Inner product Σ a_i * b_i as a double."""
    if dim:
        return _unrolled_fold(a, b, lambda x, y: x * y, int(dim))
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: ColumnOrName, dim: int = None) -> Column:
    """Euclidean norm of a vector column."""
    if dim:
        return F.sqrt(_unrolled_fold(a, None, lambda x: x * x, int(dim)))
    return F.sqrt(
        F.aggregate(
            F.transform(_col(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_distance(a: ColumnOrName, b: ColumnOrName, dim: int = None) -> Column:
    """1 - cos(a, b). Zero-norm inputs yield NULL (guarded division)."""
    num = dot_product(a, b, dim)
    den = l2_norm(a, dim) * l2_norm(b, dim)
    return F.when(den != 0.0, F.lit(1.0) - num / den)


def canonical_zero(c: ColumnOrName) -> Column:
    """Collapse IEEE -0.0 to +0.0 (NULL/NaN untouched).

    Different engines' summation trees can land on opposite sides of
    zero before rounding (e.g. DuckDB's cosine self-distance rounds to
    -0.0 while Spark's rounds to +0.0 — the r1 q_knn_cosine hash
    mismatch). ``==`` treats them as equal but byte-level hashes don't,
    so every presentation-edge rounding goes through this. Written as a
    CASE rather than ``+ 0.0`` so no optimizer can fold it away.
    """
    col = _col(c)
    return F.when(col == 0.0, F.lit(0.0)).otherwise(col)


_METRICS = {
    "l2sq": squared_l2,
    "l2": l2_distance,
    "cosine": cosine_distance,
    # negated: smaller = closer, like others
    "ip": lambda a, b, dim=None: -dot_product(a, b, dim),
}


def pairwise_distance(
    a: ColumnOrName, b: ColumnOrName, metric: str = "l2sq", dim: int = None
) -> Column:
    """Metric-dispatched distance where smaller is always closer.

    ``dim`` (optional) switches every metric to its unrolled
    fixed-dimension form — bit-identical, ~2x less expression cost on
    paths where the dimension is known and enforced."""
    try:
        fn = _METRICS[metric]
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")
    return fn(a, b, dim)
