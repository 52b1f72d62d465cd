"""Cell rules shared by the partitioned index and semantic dedup.

Both cut the corpus into k-means cells, put each point in its ℓ nearest
cells (DiskANN's ℓ-closest-center recipe) and bound cells that outgrow
their share — one partitioning with local structures per cell and
global routing, as in REPOSE. Center de-dup, the split layout, the
sub-shard hash, the split-count fixed point, the ℓ-nearest-cell assign
and semantic dedup's distributed Lloyd trainer each live here once.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vamana_spark import exact
from vamana_spark.index.vamana import _metric_transform

# Fibonacci-hash multiplier for the deterministic vec_id -> sub-shard
# map. One definition so build-time assignment, add_points routing, and
# diagnostics agree bit-for-bit on which sub-shard a vector lands in.
_SPLIT_HASH_MULT = np.uint64(0x9E3779B97F4A7C15)


def _split_hash(vec_ids: np.ndarray) -> np.ndarray:
    """The vec_id hash behind ``_subshard_of``, before the modulus:
    non-negative int64 below 2**31."""
    h = (vec_ids.astype(np.uint64) * _SPLIT_HASH_MULT) >> np.uint64(33)
    return h.astype(np.int64)


def _subshard_of(vec_ids: np.ndarray, nsplit: np.ndarray) -> np.ndarray:
    """Deterministic sub-shard level for each vec_id within its cell's
    split count (elementwise; ``nsplit`` broadcast-compatible with
    ``vec_ids``). 1-split cells always map to level 0."""
    return _split_hash(vec_ids) % nsplit


def _dedupe_centers(C: np.ndarray) -> np.ndarray:
    """Make cell centers pairwise-distinct BEFORE the split repeat:
    ``kernels._kmeans`` can legitimately emit identical rows for
    DISTINCT cells (two empty clusters re-seeded at the same
    worst-served point in one Lloyd iteration) —
    ``_cell_layout`` infers the split layout from adjacent duplicate
    runs, so distinct-cell duplicates would be misread as one split
    cell by add_points/resplit/diagnostics. Later duplicates get a
    deterministic epsilon bump on component 0 (stacked until unique):
    routing distances shift O(1e-5) — far below any cell separation
    that matters — and the layout inference becomes unambiguous.
    Intentional split-cell duplicates are introduced AFTER this, by
    ``np.repeat``, and stay bit-identical. The bump is ULP-sized
    (``np.nextafter``) so it registers at ANY magnitude; _cell_layout
    compares row bytes, as this de-dup does, so one ULP fully
    disambiguates. Rows are visited in order and only a row equal to an
    EARLIER row moves, so a pairwise-distinct prefix comes back
    unchanged."""
    C = np.asarray(C, dtype=np.float32).copy()
    seen = set()
    for i in range(C.shape[0]):
        guard = 0
        while C[i].tobytes() in seen and guard < 4096:
            C[i, 0] = np.nextafter(C[i, 0], np.float32(np.inf), dtype=np.float32)
            guard += 1
        seen.add(C[i].tobytes())
    return C


def _cell_layout(centers: np.ndarray):
    """Recover the (base, nsplit, cell_of_shard) split layout from the
    center matrix itself: oversized-cell splitting repeats a parent
    cell's center once per sub-shard, so runs of consecutive duplicate
    rows ARE the layout — no extra persisted state, and a pre-split
    index (all rows distinct) degrades to the identity layout. Rows
    compare by bytes, the rule ``_dedupe_centers`` makes distinct by:
    a ``np.repeat`` run is byte-identical, while ``0.0`` and ``-0.0``
    stay two cells and a repeated NaN row stays one split. Returns
    int64 arrays: ``base[cell]`` = first shard row of the cell,
    ``nsplit[cell]`` = its sub-shard count, ``cell_of_shard[shard]`` =
    owning cell."""
    C = np.asarray(centers)
    if C.shape[0] == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    B = np.ascontiguousarray(C).view(np.uint8)
    new = np.ones(C.shape[0], dtype=bool)
    new[1:] = np.any(B[1:] != B[:-1], axis=1)
    cell_of_shard = (np.cumsum(new) - 1).astype(np.int64)
    base = np.flatnonzero(new).astype(np.int64)
    nsplit = np.diff(np.append(base, C.shape[0])).astype(np.int64)
    return base, nsplit, cell_of_shard


def _check_shard_factor(factor: float) -> None:
    """The split fixed point converges only for ``factor`` > 1: at or
    below it the cap shrinks every round and the counts grow without
    bound (int64 overflow in ceil(pop/cap) and an enormous center
    matrix). Callers check before any Spark job runs."""
    if not float(factor) > 1.0:
        raise ValueError(
            f"max_shard_factor must be > 1 (got {factor}); the "
            "split fixed point diverges at or below the fair share"
        )


def _split_counts(
    sizes: np.ndarray, start: np.ndarray, total: int, factor: float, fixed: int = 0
) -> np.ndarray:
    """Split counts, per cell, that keep every sub-shard within
    ``factor`` × the fair share of the RESULTING layout (``total`` rows
    over ``fixed`` + sum(counts) shards), iterated to the fixed point.
    Normalizing by the pre-split shard count alone is not a fixed point
    of itself: populations [940, 20, 20, 20] at factor 2 would split
    1→2 on one maintenance call and 2→3 on the next with no data change.
    Counts start at ``start`` and never shrink; the iteration is
    monotone and converges for any factor > 1 (``_check_shard_factor``),
    so a second call on unchanged populations lands on the same counts."""
    want = start.copy()
    for _ in range(100):
        cap = float(factor) * total / max(fixed + int(want.sum()), 1)
        nxt = np.maximum(want, np.ceil(sizes / cap).astype(np.int64))
        if np.array_equal(nxt, want):
            break
        want = nxt
    return want


def nearest_cells(
    pts: DataFrame, C: np.ndarray, overlap: int, metric: str, mips_m
) -> DataFrame:
    """``pts`` (vec_id, embedding) -> (vec_id, embedding, cell, _h,
    _nearest): one row per point and each of its ``overlap`` nearest
    rows of ``C`` (``cell`` = row index), in the metric-transformed
    space. ``_nearest`` marks exactly one row per point, its nearest
    cell. ``_h`` is the point's ``_split_hash``, so a split layout
    chosen after this pass places the rows (``place_in_layout``)
    without a second pass over the vectors."""
    bc = pts.sparkSession.sparkContext.broadcast(np.asarray(C).astype(np.float64))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cc = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = _metric_transform(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float32),
                metric,
                mips_m,
            ).astype(np.float64)
            d = exact._dist_matrix(X, Cc, "l2sq")
            if overlap == 1:
                sh = d.argmin(axis=1)[:, None]
            elif overlap >= d.shape[1]:
                sh = np.broadcast_to(np.arange(d.shape[1]), d.shape)
            else:
                sh = np.argpartition(d, overlap - 1, axis=1)[:, :overlap]
            sh = np.asarray(sh)
            rep = np.repeat(np.arange(len(pdf)), sh.shape[1])
            first = np.take_along_axis(d, sh, axis=1).argmin(axis=1)
            out = pdf[["vec_id", "embedding"]].iloc[rep].copy()
            out["cell"] = sh.ravel().astype(np.int32)
            out["_h"] = _split_hash(pdf["vec_id"].to_numpy(dtype=np.int64))[rep]
            out["_nearest"] = (np.arange(sh.shape[1]) == first[:, None]).ravel()
            yield out

    return pts.mapInPandas(
        assign,
        schema="vec_id long, embedding array<float>, cell int, _h long, _nearest boolean",
    )


def place_in_layout(
    near: DataFrame, base: np.ndarray, nsplit: np.ndarray
) -> DataFrame:
    """``nearest_cells`` rows -> (vec_id, embedding, shard): ``shard`` =
    ``base[cell]`` + ``_h % nsplit[cell]``, the ``_subshard_of`` rule
    (``_h`` is non-negative, so SQL's ``%`` equals numpy's). The layout
    rides a tiny broadcast-joined table, one row per cell, not literal
    arrays in the plan."""
    layout = near.sparkSession.createDataFrame(
        pd.DataFrame(
            {
                "cell": np.arange(len(base), dtype=np.int32),
                "_base": np.asarray(base, dtype=np.int64),
                "_nsplit": np.asarray(nsplit, dtype=np.int64),
            }
        ),
        "cell int, _base long, _nsplit long",
    )
    return near.join(F.broadcast(layout), "cell").select(
        "vec_id",
        "embedding",
        (F.col("_base") + F.col("_h") % F.col("_nsplit")).cast("int").alias("shard"),
    )


def assign_cells(
    pts: DataFrame, C: np.ndarray, overlap: int, metric: str, mips_m
) -> DataFrame:
    """``pts`` (vec_id, embedding) -> (vec_id, embedding, shard): one row
    per point and cell for the point's ``overlap`` nearest cells.

    Routing runs on ONE center row per cell (``_cell_layout``), in the
    metric-transformed space: overlap must insure across distinct
    cells, not across a split cell's sub-shards, and routing on the
    repeated rows would tie every point to a split cell's first
    sub-shard. Inside a split cell the sub-shard is the deterministic
    vec_id hash ``_subshard_of``."""
    base, nsplit, _ = _cell_layout(C)
    near = nearest_cells(pts, np.asarray(C)[base], overlap, metric, mips_m)
    return place_in_layout(near, base, nsplit)


def lloyd_centers(
    df: DataFrame, k: int, id_col: str, vec_col: str, seed: int, iters: int = 5
) -> np.ndarray:
    """Lloyd's k-means over a distributed vector column: ``min(k, rows)``
    float64 centers, seeded from the ``k`` rows with the smallest
    ``xxhash64(id + seed)``. An empty frame gives a (0, 0) matrix.

    Each pass fuses assign + per-cell (sum-vector, count) partials
    INSIDE one mapInPandas over the data: what reaches the driver is at
    most k rows per partition (a few KB), reduced in numpy — no
    join-back and no shuffle per pass. A cell that draws no rows in a
    pass keeps its old center. Each pass's centers broadcast is
    destroyed once its partials are on the driver."""
    spark = df.sparkSession
    sample = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(id_col) + F.lit(seed)))
        .limit(k)
        .toPandas()
    )
    if sample.empty:
        return np.zeros((0, 0))
    C = np.stack(sample[vec_col].to_numpy()).astype(np.float64)

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(C)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            Cv = bc.value
            k_, d_ = Cv.shape
            S = np.zeros((k_, d_))
            cnt = np.zeros(k_, dtype=np.int64)
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                a = exact._dist_matrix(X, Cv, "l2sq").argmin(axis=1)
                for j in np.unique(a):
                    S[j] += X[a == j].sum(axis=0)
                cnt += np.bincount(a, minlength=k_)
            nz = np.flatnonzero(cnt)
            if nz.size:
                yield pd.DataFrame({"list_id": nz.astype(np.int32), "cnt": cnt[nz], "vsum": list(S[nz])})

        try:
            upd = (
                df.select(vec_col)
                .mapInPandas(partials, schema="list_id int, cnt long, vsum array<double>")
                .toPandas()
            )
        finally:
            bc.destroy()
        S = np.zeros_like(C)
        cnt = np.zeros(C.shape[0], dtype=np.int64)
        for lid, c_, vs in zip(upd["list_id"], upd["cnt"], upd["vsum"]):
            S[int(lid)] += np.asarray(vs, dtype=np.float64)
            cnt[int(lid)] += int(c_)
        nz = cnt > 0
        C[nz] = S[nz] / cnt[nz, None]
    return C
