"""PartitionedVamanaIndex — the beyond-broadcast scale path (SURVEY.md §7).

``VamanaIndex`` broadcasts (points matrix, graph) to every executor: ideal
up to ~10^6 x 128 f32 (~512 MB). Past that, this index keeps the data
partitioned: S shards, each with its OWN Vamana subgraph, co-located in
one DataFrame. Search never moves the index — queries (small) are
broadcast, each shard's task beam-searches its local subindex inside
``applyInPandas``, and a final window merge picks the global top-k from
S*k candidate rows per query.

Routing: shards are center-based (seeded sample centers, nearest-center
assignment), so a query can probe only its ``nprobe`` nearest shards —
the IVF trade: nprobe=S is exhaustive-across-shards (recall ≈ single
index), nprobe<S trades recall for a 1/nprobe scan cost.

This is the DiskANN sharded-serving recipe re-expressed as a Spark
dataflow: no driver-side index state, no lock, no cross-task mutation.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vamana_spark import exact
from vamana_spark.index import kernels
from vamana_spark.index.cells import (
    _cell_layout, _check_shard_factor, _dedupe_centers, _split_counts,
    _subshard_of, assign_cells, nearest_cells, place_in_layout,
)
from vamana_spark.params import VamanaParams


_PACK_SCHEMA = "shard int, n long, medoid int, blob binary"


def _pad_cols(X: np.ndarray, m: int) -> np.ndarray:
    """Zero-pad columns to a multiple of ``m`` (no-op when aligned).

    The MIPS->L2 augmentation makes ip-metric vectors dim+1 wide, which
    no useful ``m`` divides; padding realigns the PQ subspace split.
    Zero columns are exactly representable by k-means centroids (every
    centroid carries 0 there), so the padding contributes zero
    quantization error — only the augmented component itself is
    quantized, like any other dimension (r10; reference TODO
    vamana.h:695 / readme.md:76)."""
    pad = (-X.shape[1]) % int(m)
    if pad == 0:
        return X
    return np.hstack([X, np.zeros((X.shape[0], pad), dtype=X.dtype)])


_SHARDS_SCHEMA = (
    "shard int, vec_id long, local_ord int, "
    "embedding array<float>, neighbors array<int>"
)

# search_pq re-rank: FORCE-broadcast the ADC shortlist side of the
# vectors-at-rest join only in the window where the hint changes the
# plan for the better (tuned on a measured sf0.1 drift):
#
# - BELOW spark.sql.autoBroadcastJoinThreshold, AQE's local-shuffle-
#   reader broadcast conversion already picks the broadcast join — and
#   measurably beats the explicit hint at small scale (the hint's
#   driver-collect broadcast exchange serializes the ADC pipeline:
#   2.9-3.5 s vs 2.0-2.4 s per bench rep at sf0.1).
# - ABOVE the threshold, AQE falls back to sort-merge and re-shuffles
#   the full corpus per call (the scale-killer at the 10M rung) —
#   this is where the explicit hint is mandatory.
# - ABOVE the hard row cap, fall back to the shuffle join: a forced
#   HashedRelation costs several times the raw 16 B/row in driver and
#   executor memory, so the cap matches the largest
#   shortlist actually measured to work well (the 10M rung's 1M rows),
#   not a theoretical 4M.
#
# _RERANK_FORCE_BYTES_PER_ROW is deliberately ~2x the raw 16 B/row of
# (query_id, vec_id): AQE decides on its MEASURED shuffle size, which
# carries per-row overhead — underestimating it would re-open the
# sort-merge gap in the band between our estimate and AQE's measure.
# Module-level so scale experiments and plan tests can pin them.
_RERANK_BCAST_ROWS = 1_000_000
_RERANK_FORCE_BYTES_PER_ROW = 32


# the shared size-conf parser lives in functions.util; the private
# name stays bound for this module's call sites
from vamana_spark.functions.util import bytes_conf as _bytes_conf  # noqa: E402


def _make_rebuild_kernel(params: VamanaParams, graph: Optional[bool]):
    """Per-shard (re)build kernel shared by ``build``, ``add_points``,
    ``delete_points`` and ``resplit_oversized``, emitting
    ``_SHARDS_SCHEMA`` rows. With ``graph=None`` a shard gets a Vamana
    graph (``kernels.build_graph``) only when its row count exceeds the
    4·ef·R flat crossover: below it the searchers take the exact brute
    kernel and a graph is dead weight, and an append to a graph-free
    IVF-flat index must not silently pay the O(n²) dense kernel the
    original build skipped."""
    R, L, alpha, seed = params.R, params.L, params.alpha, params.seed
    ef_search = params.ef_search
    metric, mips_m = params.metric, params.mips_m

    def build_shard(key, pdf):
        from vamana_spark.index import kernels as _k
        from vamana_spark.index.vamana import _metric_transform as _mt

        # grouped on the collision-free salt key (see build()); the true
        # shard id rides on the rows
        shard = int(pdf["shard"].iloc[0])
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        P = _mt(
            np.stack(pdf["embedding"].to_numpy()).astype(np.float32),
            metric,
            mips_m,
        )
        want_graph = (
            graph if graph is not None else len(pdf) > 4 * ef_search * R
        )
        if want_graph:
            g, _ = _k.build_graph(P, R, L, alpha, seed + shard)
            adj = [[int(x) for x in row] for row in g]
        else:
            adj = [[]] * len(pdf)  # IVF-flat: no per-shard graph
        return pd.DataFrame(
            {
                "shard": shard,
                "vec_id": pdf["vec_id"].astype("int64"),
                "local_ord": np.arange(len(pdf), dtype=np.int32),
                "embedding": pdf["embedding"],
                "neighbors": adj,
            }
        )

    return build_shard


def _make_shard_packer(
    mode: str,
    pq_m: int,
    pq_ksub: int,
    seed: int,
    metric: str = "l2sq",
    mips_m=None,
    global_cents=None,
    centers=None,
    rot=None,
):
    """applyInPandas fn: one search-ready packed row per shard.

    ``flat`` packs (P float32, ids, padded adjacency); ``pq`` packs
    (uint8 PQ codes + codebooks, ids, padded adjacency) — the
    beyond-RAM form (~dim*4/m× smaller; full vectors stay at rest
    in the shard parquet and are only read back for exact re-rank).

    ``global_cents`` (the default, trained once on a driver-side
    sample of CENTER RESIDUALS — see ``_packed_df``): every shard
    encodes ``x - center[shard]`` against the same residual codebook
    (the IVF-PQ recipe: coarse cells, PQ on the residuals) and the
    per-shard k-means disappears — at 10M/2560 shards the 2560×m
    per-shard fits were 842 s, 3.5× the entire flat build. A single
    NON-residual global codebook is NOT an adequate replacement: each
    shard is a Voronoi cell whose 4-dim marginals are much narrower
    than the corpus-wide distribution, and per-shard codebooks were
    implicitly exploiting that (measured at the 10M rung: plain global
    0.922 recall vs per-shard 0.9776); residuals re-center every cell
    onto one shared distribution, recovering the adaptivity at zero
    per-shard training cost. ``global_cents=None`` falls back to
    per-shard fits. The blob self-describes: residual packs carry the
    shard ``center`` (searchers subtract it from the query before the
    LUT walk); per-shard packs don't.

    ``centers`` must be the index's center matrix (transformed space)
    when ``global_cents`` is given.

    ``rot`` (OPQ — Ge et al. 2013): an orthogonal rotation in the
    PADDED residual space, trained once driver-side on the shared
    ``_pq_sample`` (``_opq_rotation``). Residuals are rotated before
    the subspace split and ``global_cents`` is trained in the rotated
    space; the blob self-describes by carrying ``rot`` so the searcher
    rotates queries identically before the LUT walk. Rotation
    preserves L2, so the exact re-rank (original space) and all search
    semantics are unchanged — only ADC shortlist quality improves on
    correlated/clustered data. Requires ``global_cents``.

    Packing runs ONCE per index (persisted by the caller): the
    stack/CSR/pad/medoid work that used to replay inside every search
    call is hoisted here. Vectors are packed in the METRIC-TRANSFORMED
    space (cosine: normalized; ip: MIPS->L2 augmented) so the one L2
    kernel serves every metric, mirroring the broadcast tier.
    """

    def pack(key, pdf):
        import io

        from vamana_spark.index.vamana import _metric_transform

        # grouped on the collision-free salt key; the true shard id
        # rides on the rows
        shard = int(pdf["shard"].iloc[0])
        pdf = pdf.sort_values("local_ord").reset_index(drop=True)
        P = np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
        P = _metric_transform(P, metric, mips_m)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        graph = [np.asarray(g, dtype=np.int64) for g in pdf["neighbors"]]
        indptr, nbrs = kernels._to_csr(graph, len(graph))
        nbr = kernels.pad_adjacency(indptr, nbrs, len(graph))
        if nbrs.size == 0:
            # IVF-flat shard (graph=False build): zero-width adjacency
            # marks it so searchers force the brute kernel
            nbr = nbr[:, :0]
        med = kernels.medoid_of(P)
        buf = io.BytesIO()
        if mode == "pq":
            n = P.shape[0]
            center = None
            if global_cents is not None:
                cents = np.asarray(global_cents, dtype=np.float32)
                center = np.asarray(centers[shard], dtype=np.float64)
                X = _pad_cols(P.astype(np.float64) - center[None, :], pq_m)
                if rot is not None:
                    X = X @ np.asarray(rot, dtype=np.float64)
            else:
                X = _pad_cols(P.astype(np.float64), pq_m)
                cents = kernels._pq_codebooks(
                    X, pq_m, min(pq_ksub, n), seed + 31 * shard, 10
                ).astype(np.float32)
            dsub = X.shape[1] // pq_m
            codes = np.empty((n, pq_m), dtype=np.uint8)
            for j in range(pq_m):
                sub = X[:, j * dsub : (j + 1) * dsub]
                Cj = cents[j].astype(np.float64)
                d = (
                    (sub * sub).sum(1)[:, None]
                    + (Cj * Cj).sum(1)[None, :]
                    - 2.0 * (sub @ Cj.T)
                )
                codes[:, j] = d.argmin(axis=1)
            if center is not None:
                extra_arrays = (
                    {"rot": np.asarray(rot, dtype=np.float32)}
                    if rot is not None
                    else {}
                )
                np.savez(
                    buf, codes=codes, cents=cents, ids=ids, nbr=nbr,
                    center=center.astype(np.float32), **extra_arrays,
                )
            else:
                np.savez(buf, codes=codes, cents=cents, ids=ids, nbr=nbr)
        else:
            np.savez(buf, P=P, ids=ids, nbr=nbr)
        return pd.DataFrame(
            {
                "shard": [shard],
                "n": [len(pdf)],
                "medoid": [int(med)],
                "blob": [buf.getvalue()],
            }
        )

    return pack


def _collision_free_group_keys(spark, n_keys: int, n_buckets: int) -> list:
    """Pick ``n_keys`` ints whose shuffle buckets
    (``pmod(murmur3(x), n_buckets)`` — exactly what HashPartitioning
    computes for an int group key) are pairwise distinct, so each
    applyInPandas group gets its own task. Asking Spark itself for the
    hashes (one tiny local-range job) guarantees bit-agreement with the
    partitioner. Falls back to identity when n_buckets < n_keys
    (collisions are then unavoidable and also harmless — with more
    groups than buckets every task has work)."""
    if n_buckets < n_keys:
        return list(range(n_keys))
    pool = max(64 * n_keys, 256)
    rows = (
        spark.range(pool)
        .select(
            F.col("id").cast("int").alias("k"),
            F.pmod(F.hash(F.col("id").cast("int")), F.lit(n_buckets)).alias("b"),
        )
        .collect()
    )
    seen: set = set()
    keys: list = []
    for r in rows:
        if r["b"] not in seen:
            seen.add(r["b"])
            keys.append(int(r["k"]))
            if len(keys) == n_keys:
                return keys
    return list(range(n_keys))


def _salted_by_shard(spark, df: DataFrame, num_shards: int) -> DataFrame:
    """``df`` + a ``_gkey`` column mapping each 0..num_shards-1 shard id
    to a collision-free group key for the session's shuffle-partition
    count, so ``groupBy("_gkey").applyInPandas`` runs one CPU-heavy
    shard kernel per task (see ``_collision_free_group_keys``).

    The mapping rides a tiny broadcast-joined TABLE, not an S-literal
    array expression (r9): at production shard counts (10^5+ at the
    1B-vector extrapolation of the ladder) a literal array evaluated
    per row bloats the plan and codegen; the broadcast join is O(1)
    plan size at any S. When num_shards exceeds the shuffle-partition
    count, ``_collision_free_group_keys`` short-circuits to identity
    (collisions are unavoidable and harmless there), so the driver
    never pays a big collect either."""
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    salt = _collision_free_group_keys(spark, num_shards, n_buckets)
    mapping = spark.createDataFrame(
        pd.DataFrame(
            {
                "shard": np.arange(num_shards, dtype=np.int32),
                "_gkey": np.asarray(salt, dtype=np.int32),
            }
        ),
        "shard int, _gkey int",
    )
    return df.join(F.broadcast(mapping), "shard")


def _ef_for_shard(ef: int, k: int, n: int) -> int:
    """Cap the per-shard beam at what the subgraph can use.

    The global ``ef_search`` budget assumes ONE graph of the full n;
    paying it once per probed shard multiplies kernel work by nprobe
    for no recall: on a small subgraph the beam saturates (visited ≈ n)
    long before ef. min(ef, max(2k, n/5)) keeps per-shard recall ~1.0
    (measured: ef=50 on a 250-pt shard loses <1e-3 recall@10 vs
    ef=100) and cuts per-shard kernel time ~2x. At production shard
    sizes (n >> 5*ef) this is a no-op — the user's ef applies.
    """
    return max(k, min(ef, max(2 * k, n // 5)))


_EMPTY_PARTIAL = pd.DataFrame(
    {
        "query_id": pd.Series(dtype="int64"),
        "vec_id": pd.Series(dtype="int64"),
        "dist": pd.Series(dtype="float64"),
    }
)


class PartitionedVamanaIndex:
    """S per-shard Vamana subindexes in one co-located DataFrame.

    ``shards_df`` schema: shard int, vec_id long, local_ord int,
    embedding array<float>, neighbors array<int> (local ordinals).
    """

    def __init__(
        self,
        spark: SparkSession,
        params: VamanaParams,
        shards_df: DataFrame,
        centers: np.ndarray,
    ):
        self.spark = spark
        self.params = params
        self.shards_df = shards_df
        self.centers = centers
        self._packed: dict = {}
        # (mode, pq_m, pq_ksub, per_shard_codebooks) -> parquet path of
        # a persisted pack (written by save(), discovered by load()) —
        # serving restarts read the pack instead of re-stacking /
        # re-training per shard. The codebook strategy is part of the
        # key (and of the on-disk subdir name): a saved global-residual
        # pack must never silently serve a per-shard request (ADVICE r8)
        self._packed_paths: dict = {}
        # r9 calibration state (memoized; persisted by save/load)
        self._pq_sample_cache = None
        self._pq_profile: Optional[dict] = None
        self.recommended_nprobe: Optional[int] = None
        # r11: the calibration OPERATING POINT persists alongside the
        # recommendation so maintenance re-measures at the operator's
        # chosen target, not the default
        self.calibration_target: Optional[float] = None
        self.calibration_safety: Optional[float] = None

    # ------------------------------------------------------------------ build

    @staticmethod
    def build(
        spark: SparkSession,
        df: DataFrame,
        params: VamanaParams,
        num_shards: int = 8,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        overlap: int = 1,
        graph: Optional[bool] = None,
        max_shard_factor: Optional[float] = 2.0,
    ) -> "PartitionedVamanaIndex":
        """``overlap``: assign each point to its ``overlap`` nearest
        centers (DiskANN's ell-closest-center recipe). overlap=1 is
        plain partitioning; overlap=2 doubles index storage but puts
        each true neighbor in 2 shards, which is what makes nprobe<S
        serving recall viable on weakly-clustered data. Search dedupes
        (query_id, vec_id) before ranking, so results are unaffected
        semantically.

        ``graph``: per-shard Vamana graphs. Both searchers auto-switch
        to the exact brute kernel below their crossover caps (4·ef·R
        flat / 16·ef·R ADC), so for shards under the cap the graph is
        dead weight — yet it dominated the build wall (measured at
        10M/2560×2 on one 32-core box: the kernel stage saturates
        memory bandwidth, ~2.5 h projected; the graph-free build takes
        331 s at identical serving results). Default ``None`` decides
        PER SHARD: a shard builds its graph only if its row count
        exceeds the 4·ef_search·R flat crossover — don't build what
        serving won't walk. ``False`` forces the pure IVF-flat form,
        ``True`` forces graphs everywhere. Graph-free shards pack a
        zero-width adjacency and always take the brute path, even under
        ``brute_threshold=0`` — results stay exact within probed
        shards (equivalence-tested).

        ``max_shard_factor``: oversized-cell splitting (the skew guard
        a clustered corpus needs). Voronoi cells of k-means
        centers track CLUSTERS, not populations — on blobby data one
        cell can swallow several blobs (measured at the 1M k-blob rung:
        straggler cells crossed the graph crossover and their dense
        kernels ran 10× longer than the rest of the build combined).
        Cells whose population (points whose nearest cell it is)
        exceeds ``max_shard_factor ×`` the fair share of the built
        layout (n over the shard count after the split) are
        hash-split into evenly sized sub-shards (deterministic vec_id
        hash); the split counts are ``cells._split_counts``' fixed
        point, the rule ``resplit_oversized`` applies. Overlap copies
        are not counted: at a few cells they spread a hot cell's
        points over every cell and the split would never fire. Each
        sub-shard repeats its parent's center, so routing degrades
        gracefully — probing a big cell just probes its sub-shards as
        near-ties. The counts are exact: the one cell-assignment pass
        is cached and counted (one small aggregate job), then placed
        into the split layout without another pass over the vectors;
        the ~32-row-per-cell training sample misreads a cell's share
        by a few percent, enough to leave a shard past the bound. The
        cache holds ``overlap`` copies of every embedding until the
        shard kernels have run. Uniform corpora split nothing. The
        factor must be > 1 (the split fixed point diverges at or below
        it; ``ValueError`` before any job runs). ``None`` disables the
        split, its cache and its counting job."""
        import dataclasses

        if max_shard_factor is not None:
            _check_shard_factor(max_shard_factor)

        # never mutate the caller's params (same as VamanaIndex.build):
        # the copy carries n/num_shards on the index
        params = dataclasses.replace(params)
        params.validate()
        overlap = max(1, min(int(overlap), num_shards))
        pts = df.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).alias("embedding"),
        ).where(F.size(vec_col) == params.dim)

        # metric handling mirrors the broadcast tier: everything below
        # (centers, routing, subgraphs, packs) lives in the transformed
        # space; raw embeddings stay at rest in shards_df
        from vamana_spark.functions.vector import l2_norm
        from vamana_spark.index.vamana import _metric_transform

        metric = params.metric
        if metric == "ip" and params.mips_m is None:
            params.mips_m = float(
                pts.agg(F.max(l2_norm("embedding"))).first()[0] or 0.0
            )
        mips_m = params.mips_m

        # shard centers: k-means on a seeded sample (the IVF coarse
        # quantizer) — random-point Voronoi cells scatter a query's true
        # neighbors across shards, which wrecks nprobe<S recall; trained
        # centers co-locate them. Driver-side on a tiny sample
        # (~32 pts/shard), deterministic, single small collect.
        sample_n = max(num_shards * 32, 256)
        centers_pdf = (
            pts.orderBy(F.xxhash64(F.col("vec_id") + F.lit(params.seed)))
            .limit(sample_n)
            .toPandas()
        )
        Xs = _metric_transform(
            np.stack(centers_pdf["embedding"].to_numpy()).astype(np.float32),
            metric,
            mips_m,
        ).astype(np.float64)
        C = _dedupe_centers(
            kernels._kmeans(Xs, min(num_shards, Xs.shape[0]), params.seed, 10)
        )

        # oversized-cell splitting (see docstring): one assignment pass
        # on the unsplit cells, cached and counted, split any cell past
        # the factor into hash-addressed sub-shards, and repeat the
        # parent center per sub-shard so routing is unchanged
        n_cells = C.shape[0]
        near = nearest_cells(pts, C, overlap, metric, mips_m)
        nsplit = np.ones(n_cells, dtype=np.int64)
        if max_shard_factor is not None and n_cells > 1:
            near = near.cache()
            pop = dict(near.where("_nearest").groupBy("cell").count().collect())
            counts = np.array([pop.get(c, 0) for c in range(n_cells)], dtype=np.int64)
            nsplit = _split_counts(counts, nsplit, int(counts.sum()), max_shard_factor)
        assigned = place_in_layout(near, np.cumsum(nsplit) - nsplit, nsplit)
        C = np.repeat(C, nsplit, axis=0)
        num_shards = int(nsplit.sum())

        # Collision-free task spread: applyInPandas hash-partitions the
        # group key, and Murmur3 over a handful of small shard ids
        # routinely lands two shards in one shuffle bucket — which runs
        # their CPU-heavy kernels SERIALLY in one task. The shard id is
        # internal, so group on a salt key chosen (per the session's
        # shuffle-partition count) to give every shard its own bucket.
        shards_df = (
            _salted_by_shard(spark, assigned, num_shards)
            .groupBy("_gkey")
            .applyInPandas(
                _make_rebuild_kernel(params, graph), schema=_SHARDS_SCHEMA
            )
        )
        # Materialize the shard kernels NOW with AQE partition
        # coalescing off: each group is CPU-BOUND (a dense Vamana build)
        # but only ~MBs of shuffle bytes, so AQE's size-based coalescing
        # fuses several shard kernels into one task and serializes them
        # (measured 17.4s -> 8.5s at 25k/8 shards). The conf toggle is
        # scoped to this materialization; the cached result keeps plain
        # lineage, so recomputation after block loss stays correct
        # (merely re-planned with coalescing back on).
        prev = spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )
        try:
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled", "false"
            )
            shards_df = shards_df.cache()
            shards_df.count()
        finally:
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled", prev
            )
            near.unpersist()
        params.n = pts.count()
        params.num_shards = num_shards
        params.shard_overlap = overlap
        return PartitionedVamanaIndex(spark, params, shards_df, C)

    # ----------------------------------------------------------------- search

    def _pq_sample(self, cap: int = 50000) -> "np.ndarray":
        """Bounded driver-side RESIDUAL sample shared by codebook
        training and PQ calibration: metric-transformed vectors minus
        their shard center, one row per (point, shard) copy.

        r9 sampling contract: a deterministic HASH-THRESHOLD filter
        (``xxhash64(vec_id, seed) pmod M < p·M``) replaces the r8
        ``orderBy(vec_id).limit(50k)`` — ascending vec_ids correlate
        with source/time in real corpora, so the old sample trained the
        codebook on a biased corner of the data, and the TakeOrdered
        paid a per-partition top-50k sort over the full shard table at
        every pack. The filter is map-only (one projected scan),
        source-order independent, and unbiased; a final
        ``orderBy(hash).limit(cap)`` trims only the ~1.3×cap pre-filtered
        rows, keeping the result exactly reproducible regardless of the
        realized filter count. Memoized per index (one scan serves
        every (m, ksub) pack AND the calibration pass)."""
        if getattr(self, "_pq_sample_cache", None) is not None:
            return self._pq_sample_cache
        from vamana_spark.index.vamana import _metric_transform

        n_copies = int(self.params.n or 0) * self._overlap()
        h = F.pmod(
            F.xxhash64(F.col("vec_id") + F.lit(int(self.params.seed))),
            F.lit(1 << 30),
        )
        sel = self.shards_df.select("vec_id", "shard", "embedding", h.alias("_h"))
        if n_copies > cap:
            # 1.3x margin so the trim below virtually never undershoots
            p = min(1.0, 1.3 * cap / n_copies)
            sel = sel.where(F.col("_h") < int(p * (1 << 30)))
        rows = sel.orderBy("_h", "vec_id", "shard").limit(cap).toPandas()
        X = np.stack(rows["embedding"].to_numpy()).astype(np.float32)
        X = _metric_transform(X, self.params.metric, self.params.mips_m).astype(
            np.float64
        )
        X = X - self.centers.astype(np.float64)[rows["shard"].to_numpy()]
        self._pq_sample_cache = X
        return X

    def _pq_global_cents(self, pq_m: int, pq_ksub: int) -> "np.ndarray":
        """ONE sample-trained RESIDUAL codebook shared by every shard,
        trained on ``x - center[shard]`` in the
        METRIC-TRANSFORMED space the packer stores — the IVF-PQ recipe.
        Residuals matter: each shard is a Voronoi cell whose marginals
        are far narrower than the corpus-wide spread, and a
        non-residual global codebook measurably loses recall (10M rung:
        0.922 vs 0.9776 per-shard; residuals recover it). Replaces 2560
        per-shard × m k-means fits that cost 842 s at the 10M rung with
        m driver fits that cost seconds, once per (m, ksub) pack.
        Encode stays distributed per shard. Sample contract:
        ``_pq_sample`` (hash-threshold, unbiased, map-only)."""
        X = _pad_cols(self._pq_sample(), pq_m)  # ip: dim+1 -> multiple of m
        return kernels._pq_codebooks(
            X, pq_m, min(pq_ksub, X.shape[0]), int(self.params.seed), 15
        ).astype(np.float32)

    def _opq_rotation(self, pq_m: int, pq_ksub: int) -> tuple:
        """OPQ for the partitioned tier: ONE learned orthogonal rotation
        + rotated-residual codebook shared by every shard, trained
        driver-side on the same memoized ``_pq_sample`` the plain
        codebook uses (Ge et al. 2013, non-parametric alternating
        minimization — ``kernels._opq_fit``). The rotation decorrelates
        and variance-balances the residual subspaces before the split,
        buying back ADC shortlist recall on clustered/anisotropic
        corpora at IDENTICAL serving memory (same m, same uint8 codes;
        the dim² float32 rotation rides in each shard blob — 16 KB at
        dim=64). Returns ``(R float32, cents float32)`` in the PADDED
        residual space; memoized per (m, ksub) so the profile's
        evaluation and the pack encode against the same fit."""
        key = (int(pq_m), int(pq_ksub))
        cache = getattr(self, "_opq_cache", None)
        if cache is None:
            cache = self._opq_cache = {}
        if key in cache:
            return cache[key]
        X = _pad_cols(self._pq_sample(), pq_m)
        # the rotation has only dim² parameters — fit the alternating
        # minimization on a bounded sub-sample (measured: the full-50k
        # fit costs ~190 s driver-side, the 8k fit ~15 s at the same
        # agreement), then train the FINAL codebook on the full sample
        # in the rotated space (one plain-candidate-priced k-means
        # ladder) so codebook quality matches the plain packs'
        cap = 8192
        if X.shape[0] > cap:
            rng = np.random.default_rng(int(self.params.seed) + 7)
            Xf = X[rng.choice(X.shape[0], size=cap, replace=False)]
        else:
            Xf = X
        R, _ = kernels._opq_fit(
            Xf, int(pq_m), min(int(pq_ksub), Xf.shape[0]),
            int(self.params.seed), iters=10, opq_iters=4,
        )
        cents = kernels._pq_codebooks(
            X @ R, int(pq_m), min(int(pq_ksub), X.shape[0]),
            int(self.params.seed), 15,
        )
        out = (R.astype(np.float32), cents.astype(np.float32))
        cache[key] = out
        return out

    def pq_profile(
        self,
        pq_ksub: int = 256,
        target: float = 0.95,
        rerank: int = 100,
        k: int = 10,
        n_probe_queries: int = 128,
        consider_opq: bool = True,
    ) -> dict:
        """Pack-time PQ safety calibration (r9 — VERDICT r8 "What's
        wrong #1"; extension surface: the reference serves from fixed
        build-time knobs, vamana.h:19-25, and has no quantized tier —
        this is the measured-defaults analogue its DiskANN lineage,
        readme.md:3, implies). The right ``m`` is a property of the
        CORPUS, not the dimension. On uniform data 4-dim subspaces (m=16 at dim=64)
        rank well; on clustered/blobby corpora — the shape an LLM
        pipeline actually sees — intra-blob neighbors are
        near-equidistant and the same m collapses to 0.60 recall@10
        (measured, SCALE.md clustered 1M rung) while m=32 serves
        0.9908. A data-blind default silently serves garbage ordering.

        This measures, driver-side on the SAME residual sample the
        codebook trains on, the quantity serving actually depends on:
        **ADC shortlist agreement** — the fraction of exact top-``k``
        neighbors (within the sample) that survive into the ADC
        top-``rerank`` shortlist; the exact re-rank recovers exactly
        the survivors, so sample agreement ≈ serving recall ceiling.
        Candidate ``m`` values (dim-divisible, ascending code size) are
        trained and evaluated until one clears ``target``; if none
        does, the largest is kept and ``per_shard_codebooks=True`` is
        recommended as the adaptive fallback. Cost: a few driver-side
        k-means fits + one (n_probe_queries × sample) ADC pass — no
        cluster jobs beyond the memoized sample scan.

        ``target`` is 0.95, deliberately ABOVE the serving bar: the
        bounded sample is sparser than the full corpus, so its
        neighbor margins are wider and agreement overestimates serving
        recall at large n (measured at the clustered 1M rung: m=16
        sample agreement 0.9008 but end-to-end serving 0.70 — while
        uniform corpora hold ≥0.95 agreement AND ≥0.95 serving with
        m=16, and the m=32 switch restores clustered serving to 0.99).
        0.95 is the measured separator across the 1M clustered /
        1M uniform / 24k-blob / 4k-blob fixtures.

        r11: when a plain candidate misses the bar, the SAME m is
        retried with a learned OPQ rotation (``_opq_rotation``) before
        the ladder moves to the next (2×-memory) m — on
        clustered+anisotropic corpora (real embedding matrices) the
        rotation clears the bar at half the code bytes (measured:
        plain m=16 0.9047 vs opq m=16 0.9516 on the anisotropic blob
        fixture). ``consider_opq=False`` skips those fits.

        Returns (and memoizes; ``save``/``load`` persist) the profile:
        ``{"pq_m", "pq_ksub", "per_shard_codebooks", "opq",
        "adc_agreement", "candidates": {m: agreement, "m-opq": ...}}``.
        ``search_pq`` reads it when ``pq_m`` is not given."""
        # memo validity keys on EVERY setting the measurement depends on
        # (ADVICE r9: pq_ksub alone silently returned a profile computed
        # under different target/rerank/k/query-count settings); the
        # settings persist inside the profile so save/load roundtrips
        # carry the same validity check.
        settings = {
            "pq_ksub": int(pq_ksub),
            "target": float(target),
            "rerank": int(rerank),
            "k": int(k),
            "n_probe_queries": int(n_probe_queries),
            # r11: OPQ joined the candidate ladder — the flag keys the
            # memo so pre-r11 persisted profiles recompute. False skips
            # the rotation fit (~1 min driver-side at the 50k sample)
            # when the caller only needs the plain ladder.
            "consider_opq": bool(consider_opq),
        }
        cached = getattr(self, "_pq_profile", None)
        if cached is not None and all(
            cached.get(key) == val for key, val in settings.items()
        ):
            return cached
        dim = int(self.params.dim)
        cands = [m for m in (8, 16, 32) if dim % m == 0 and m < dim]
        if not cands:
            cands = [max(m for m in range(1, dim + 1) if dim % m == 0)]
        # dim=64 default remains m=16 unless the data says otherwise:
        # m=8's 8-dim subspaces measurably underperform at dim=64 even
        # on uniform data (0.60 recall with the old defaults), so start
        # the ladder at 16 when available
        if 16 in cands:
            cands = [m for m in cands if m >= 16]
        X = self._pq_sample()
        n = X.shape[0]
        rng = np.random.default_rng(int(self.params.seed))
        qsel = rng.choice(n, size=min(n_probe_queries, n), replace=False)
        Q = X[qsel]
        # exact top-k within the sample (residual space preserves L2:
        # the sample carries per-row center shifts, so exact-vs-ADC
        # agreement is computed in the SAME shifted space the shard
        # kernels walk). exclude self-matches.
        d_exact = (
            (Q * Q).sum(1)[:, None] + (X * X).sum(1)[None, :] - 2.0 * (Q @ X.T)
        )
        d_exact[np.arange(len(qsel)), qsel] = np.inf
        kk = min(k, n - 1)
        true_ids = np.argpartition(d_exact, kk - 1, axis=1)[:, :kk]
        ksub = min(int(pq_ksub), n)
        seed = int(self.params.seed)
        shortlist = min(int(rerank), n - 1)

        def _agreement(Xm: np.ndarray, cents: np.ndarray, m: int) -> float:
            """ADC-shortlist agreement of one candidate codebook over
            the (already padded / rotated) sample."""
            Qm = Xm[qsel]
            dsub = Xm.shape[1] // m
            adc = np.zeros((len(qsel), n))
            for j in range(m):
                sub = Xm[:, j * dsub : (j + 1) * dsub]
                Cj = np.asarray(cents[j], dtype=np.float64)
                d = (
                    (sub * sub).sum(1)[:, None]
                    + (Cj * Cj).sum(1)[None, :]
                    - 2.0 * (sub @ Cj.T)
                )
                codes_j = d.argmin(axis=1)
                qsub = Qm[:, j * dsub : (j + 1) * dsub]
                lut = (
                    (qsub * qsub).sum(1)[:, None]
                    + (Cj * Cj).sum(1)[None, :]
                    - 2.0 * (qsub @ Cj.T)
                )
                adc += lut[:, codes_j]
            adc[np.arange(len(qsel)), qsel] = np.inf
            short = np.argpartition(adc, shortlist - 1, axis=1)[:, :shortlist]
            hits = 0
            for r in range(len(qsel)):
                hits += np.intersect1d(true_ids[r], short[r]).size
            return hits / float(true_ids.size)

        results: dict = {}
        chosen, chosen_agree, chosen_opq = cands[-1], 0.0, False
        for m in cands:
            # ip: the sample is dim+1 wide (MIPS augmentation) — pad to
            # the candidate's alignment, exactly as the packer will
            Xm = _pad_cols(X, m)
            cents = kernels._pq_codebooks(Xm, m, ksub, seed, 15)
            agree = _agreement(Xm, cents, m)
            # string keys: the profile roundtrips through _meta.json
            results[str(m)] = round(agree, 4)
            chosen, chosen_agree, chosen_opq = m, agree, False
            if agree >= target:
                break
            if not consider_opq:
                continue
            # plain PQ at this m misses the bar — try the SAME m with a
            # learned rotation before moving to the next (bigger) m:
            # OPQ costs zero extra serving memory while m=2m doubles the
            # code bytes, so it is the cheaper rung of the ladder. The
            # fit is memoized, and the pack encodes against this exact
            # (R, cents) via the same _opq_rotation memo.
            Ro, cents_o = self._opq_rotation(m, pq_ksub)
            agree_o = _agreement(
                Xm @ Ro.astype(np.float64), cents_o, m
            )
            results[f"{m}-opq"] = round(agree_o, 4)
            if agree_o > chosen_agree:
                chosen, chosen_agree, chosen_opq = m, agree_o, True
            if agree_o >= target:
                break
        prof = {
            "pq_m": int(chosen),
            **settings,
            # none of the candidates (plain or rotated) clears the bar
            # → recommend the shard-adaptive quantizers (per-shard
            # k-means exploits narrow cell marginals the shared
            # codebook can't)
            "per_shard_codebooks": bool(chosen_agree < target),
            "opq": bool(chosen_opq and chosen_agree >= target),
            "adc_agreement": round(float(chosen_agree), 4),
            "candidates": results,
        }
        # r13 (VERDICT r12 #8): surface the OPQ-regime decision variable.
        # The r12 1M sweep found rows-per-cell DENSITY — not anisotropy —
        # pins plain-ADC agreement: at >= ~4k rows/cell intra-cell
        # neighbors are near-equidistant, plain ADC sits at 0.82-0.87,
        # no rotation (max +3.6pt measured) rescues it, and m-escalation
        # is the correct lever; in the sparse regime OPQ can clear the
        # bar at half the code bytes. The per-cell row counts of THIS
        # index's k-means cells are knowable right here (one S-row
        # aggregate over the shard table), so an operator reading the
        # memo sees which regime the corpus is in next to the
        # plain-vs-rotated agreements in ``candidates``.
        try:
            sizes = np.sort(np.array([
                r["c"]
                for r in self.shards_df.groupBy("shard")
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            ], dtype=np.int64))
            prof["rows_per_cell_p50"] = int(np.median(sizes))
            prof["rows_per_cell_p90"] = int(np.percentile(sizes, 90))
        except Exception:  # diagnostic only — never fail the profile
            pass
        self._pq_profile = prof
        return prof

    def _packed_df(
        self,
        mode: str = "flat",
        pq_m: int = 8,
        pq_ksub: int = 256,
        per_shard_codebooks: bool = False,
    ) -> DataFrame:
        """Search-ready packed form, one row per shard, built ONCE and
        persisted: the per-call matrix-stack/CSR/pad/medoid rebuild the
        r4 verdict flagged is hoisted here. PQ packs encode against one
        sample-trained global codebook by default (see
        ``_pq_global_cents``); ``per_shard_codebooks=True`` restores
        shard-local k-means (adaptive quantizers for heavily clustered
        shards, at a per-shard training cost)."""
        key = (mode, pq_m, pq_ksub, per_shard_codebooks)
        if key not in self._packed:
            if key in self._packed_paths:
                # saved pack on disk: skip the per-shard stack/CSR/PQ-train
                packed = self.spark.read.parquet(self._packed_paths[key])
            else:
                rot = None
                if mode == "opq":
                    # learned rotation + rotated-residual codebook (one
                    # driver fit, shared by every shard; r11)
                    if per_shard_codebooks:
                        raise ValueError(
                            "opq packs use the global-residual codebook; "
                            "per_shard_codebooks is the separate adaptive "
                            "fallback"
                        )
                    rot, gc = self._opq_rotation(pq_m, pq_ksub)
                else:
                    gc = (
                        self._pq_global_cents(pq_m, pq_ksub)
                        if mode == "pq" and not per_shard_codebooks
                        else None
                    )
                # same one-kernel-per-task treatment as the build: the
                # pack kernels are CPU-heavy over ~MB groups, so spread
                # via salt keys and materialize with AQE coalescing off
                packed = (
                    _salted_by_shard(
                        self.spark, self.shards_df, self.params.num_shards
                    )
                    .groupBy("_gkey")
                    .applyInPandas(
                        _make_shard_packer(
                            # opq is the pq pack shape with a rotation
                            "pq" if mode == "opq" else mode,
                            pq_m,
                            pq_ksub,
                            int(self.params.seed),
                            self.params.metric,
                            self.params.mips_m,
                            global_cents=gc,
                            centers=(
                                self.centers.astype(np.float64)
                                if gc is not None
                                else None
                            ),
                            rot=rot,
                        ),
                        schema=_PACK_SCHEMA,
                    )
                )
            packed = packed.persist()
            prev = self.spark.conf.get(
                "spark.sql.adaptive.coalescePartitions.enabled", "true"
            )
            try:
                self.spark.conf.set(
                    "spark.sql.adaptive.coalescePartitions.enabled", "false"
                )
                packed.count()  # materialize so every search reuses the blocks
            finally:
                self.spark.conf.set(
                    "spark.sql.adaptive.coalescePartitions.enabled", prev
                )
            self._packed[key] = packed
        return self._packed[key]

    def unpersist_packed(self) -> None:
        """Free the packed shard blocks (callers own cache cleanup)."""
        for df in self._packed.values():
            df.unpersist()
        self._packed.clear()

    def _overlap(self) -> int:
        return max(1, int(getattr(self.params, "shard_overlap", 1) or 1))

    def _dedupe_overlap(self, partial: DataFrame) -> DataFrame:
        """overlap>1 puts a point in several shards; keep one candidate
        row per (query, point) before ranking (copies tie on dist).

        Pre-partitioning on query_id alone satisfies BOTH this window's
        (query_id, vec_id) clustering and the downstream merge window's
        (query_id) clustering — one exchange instead of two
        (plan-asserted in test_plans.py)."""
        if self._overlap() <= 1:
            return partial
        partial = partial.repartition("query_id")
        wdd = Window.partitionBy("query_id", "vec_id").orderBy(
            F.col("dist").asc()
        )
        return (
            partial.withColumn("_dd", F.row_number().over(wdd))
            .where(F.col("_dd") == 1)
            .drop("_dd")
        )

    def _route(
        self, queries: DataFrame, nprobe: int, query_id_col: str, query_vec_col: str
    ) -> DataFrame:
        """Executor-side probe assignment: (query_id, qv, shard) rows,
        one per (query, probed shard) — a ``mapInPandas`` against the
        broadcast center matrix, mirroring the build-side ``assign``.
        No driver collect: query volume scales out with input splits.
        """
        bc = self.spark.sparkContext.broadcast(self.centers.astype(np.float64))
        take = int(min(nprobe, self.centers.shape[0]))
        metric, mips_m = self.params.metric, self.params.mips_m
        # split-cell sub-shards duplicate their parent center, so their
        # distances tie EXACTLY for every query; calibrate_nprobe ranks
        # probes with a stable argsort, and if serving cut the tie run
        # with argpartition's arbitrary subset, the served probe set
        # could differ from the measured prefix and undershoot the
        # calibrated recall (ADVICE r9). When duplicates exist, order
        # ties identically to calibration (stable argsort — cost only
        # where correctness demands it); duplicate-free centers keep
        # the cheaper argpartition.
        has_dup_centers = bool(
            np.unique(self.centers, axis=0).shape[0] < self.centers.shape[0]
        )

        def route(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from vamana_spark.index.vamana import _metric_transform as _mt

            C = bc.value
            S = C.shape[0]
            for pdf in batches:
                if pdf.empty:
                    continue
                # transform ONCE here; the routed qv column carries the
                # transformed vector so shard kernels use it directly
                Qt = _mt(
                    np.stack(pdf["qv"].to_numpy()).astype(np.float32),
                    metric,
                    mips_m,
                    query=True,
                )
                pdf = pdf.assign(qv=list(Qt))
                Q = Qt.astype(np.float64)
                d = exact._dist_matrix(Q, C, "l2sq")
                if take >= S:
                    probe = np.broadcast_to(
                        np.arange(S, dtype=np.int64), d.shape
                    )
                elif has_dup_centers:
                    probe = np.argsort(d, axis=1, kind="stable")[:, :take]
                else:
                    probe = np.argpartition(d, take - 1, axis=1)[:, :take]
                rep = np.repeat(np.arange(len(pdf)), take)
                yield pd.DataFrame(
                    {
                        "query_id": pdf["query_id"].to_numpy(dtype=np.int64)[rep],
                        "qv": pdf["qv"].to_numpy()[rep],
                        "shard": np.asarray(probe).ravel().astype(np.int32),
                    }
                )

        from vamana_spark.functions.util import ensure_parallelism

        # a single-split query file must not serialize routing (and the
        # per-split transform work) onto one core — same guard as the
        # broadcast tier's search
        qsel = ensure_parallelism(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_vec_col).alias("qv"),
            )
        )
        return qsel.mapInPandas(
            route, schema="query_id long, qv array<float>, shard int"
        )

    def _bytes_per_point(self, mode: str, pq_m: int) -> int:
        """Per-point bytes of a packed blob row: vectors-or-codes plus
        the padded int64 adjacency (R entries) and the int64 id — the
        adjacency often DOMINATES the PQ form, so the replication cap
        must count it."""
        adj = int(self.params.R) * 8 + 8
        if mode in ("pq", "opq"):
            return int(pq_m) + adj
        dim = int(self.params.dim) + (1 if self.params.metric == "ip" else 0)
        return dim * 4 + adj

    def _nsplits(self, bytes_per_point: int = 0) -> int:
        """Sub-splits per shard for the search cogroup.

        Grouping by shard alone caps parallelism at S tasks and, worse,
        hashes only S keys into the shuffle — balls-in-bins puts 3-4
        groups on one reduce partition while others sit idle (measured
        2.9x wall at 25k/8 shards). So routed queries hash-split into
        sub-groups per shard, targeting ~8 groups per core so the
        scheduler can level the load; the packed blob replicates across
        a shard's sub-groups, so the split count is capped where
        duplication would push more than ~64 MB per shard through the
        cogroup shuffle. At production shard sizes (GBs per blob) the
        cap forces 1: zero duplication, one task per shard — kernel
        work dominates there and needs no sub-splitting.
        """
        S = max(int(self.params.num_shards), 1)
        cores = self.spark.sparkContext.defaultParallelism
        want = max(1, (8 * cores) // S)
        n_total = int(self.params.n or 0) * self._overlap()
        shard_bytes = (n_total // S) * max(int(bytes_per_point), 1)
        if shard_bytes > 0:
            want = min(want, max(1, (64 << 20) // shard_bytes))
        return want

    def _cogrouped_partial(
        self, packed: DataFrame, routed: DataFrame, search_shard,
        bytes_per_point: int = 0,
    ) -> DataFrame:
        """(packed ⋈ routed) by shard [+ qsplit] → per-shard top-k rows."""
        nsplits = self._nsplits(bytes_per_point)
        if nsplits > 1:
            packed = packed.withColumn(
                "qsplit",
                F.explode(F.array(*[F.lit(i) for i in range(nsplits)])),
            )
            routed = routed.withColumn(
                "qsplit",
                F.pmod(F.xxhash64("query_id"), F.lit(nsplits)).cast("int"),
            )
            keys = ["shard", "qsplit"]
        else:
            keys = ["shard"]
        return (
            packed.groupBy(*keys)
            .cogroup(routed.groupBy(*keys))
            .applyInPandas(
                search_shard, schema="query_id long, vec_id long, dist double"
            )
        )

    @property
    def default_nprobe(self) -> int:
        """The serving operating point, in sub-shard units.

        When :meth:`calibrate_nprobe` has run (or a calibrated value
        was loaded from ``_meta.json``), that measured value wins — the
        right nprobe is a property of the corpus, not of S:
        ``routing_concentration`` reads 8.64 primary shards per true
        10-NN set on uniform 1M/256 data but 1.12 on a 256-blob
        clustered corpus, so a fixed S/4 fraction over-probes clustered
        data 4-8× and leaves qps on the table (measured: 1,240 qps at
        nprobe=8 vs the S/4 default of 64 at identical 1.0 recall).

        Uncalibrated fallback: ``max(3, ceil(S/4))``, capped at S —
        derived from the uniform recall-vs-nprobe curve
        (tools/sweep_operating_points.py, 25k uniform 64-d, 8 shards x
        overlap 2: nprobe=2 -> 0.803, 3 -> 0.914, 4 -> 0.969; scale
        rungs at the same S/4 fraction: 100k S=32 nprobe=8 -> 0.88, 1M
        S=256 nprobe=64 -> 0.968). ``search(nprobe=None)`` remains
        EXHAUSTIVE (the recall ceiling / exact-mode contract); pass
        ``nprobe=idx.default_nprobe`` for the production serving shape.
        """
        S = int(self.params.num_shards)
        if self.recommended_nprobe is not None:
            return min(S, max(1, int(self.recommended_nprobe)))
        return min(S, max(3, -(-S // 4)))

    def calibrate_nprobe(
        self,
        n_queries: int = 64,
        k: int = 10,
        target_recall: float = 0.95,
        safety: float = 1.25,
    ) -> int:
        """Measure the serving nprobe from the data (r9 — VERDICT r8
        next-round #2) instead of assuming the uniform S/4 floor. The
        reference's single-graph search has one serving knob, efSearch
        (vamana.h:24, vamana.h:492-546); the partitioned tier's probe
        count is the analogous recall/cost dial, calibrated here the
        way the reference's own test drivers calibrate ef — against
        exact ground truth (main.cpp:104-145) — but persisted with the
        index instead of left to the operator.

        Method: sample ``n_queries`` corpus vectors deterministically
        (hash-ordered), compute their exact k-NN ground truth (ONE
        two-stage map-side pass over the corpus —
        ``exact.exact_knn_batch``), then replay the index's own probe
        ORDER per query against the center matrix and record, for every
        true neighbor, the best probe rank of any shard holding it
        (overlap copies take the min — membership comes from a
        broadcast semi-join against the shard table; the corpus never
        shuffles). The per-rank reachability curve is then exact
        arithmetic on ≤ n_queries·k rows collected to the driver:
        recall@p = fraction of true neighbors whose holding shard is
        within the first p probes — the ceiling any within-shard search
        can achieve at that nprobe. The recommendation is the smallest
        p clearing ``target_recall``, stretched by ``safety`` for
        sample noise and capped at S; it is memoized on the index and
        persisted by ``save``.

        Measured separation (SCALE.md clustered 1M rung): a 256-blob
        corpus calibrates to single digits while uniform data keeps
        ≈S/4 — the 8× probe-cost gap ``routing_concentration`` predicts
        structurally.

        r11 (VERDICT r10 next-round #6): the operating point
        (``target_recall``, ``safety``) is REMEMBERED on the index and
        persisted — maintenance re-calibration
        (``_carry_calibration``) re-measures at the SAME target the
        operator chose, instead of silently resetting to the default
        (the 11M lifecycle rung served 0.899 because the maintained
        index inherited the default target, with no way to say
        otherwise)."""
        self.calibration_target = float(target_recall)
        self.calibration_safety = float(safety)
        S = int(self.params.num_shards)
        if S <= 1:
            self.recommended_nprobe = 1
            return 1
        pts = self.shards_df.select("vec_id", "embedding").dropDuplicates(
            ["vec_id"]
        )
        q = (
            pts.orderBy(
                F.xxhash64(F.col("vec_id") + F.lit(int(self.params.seed) + 1))
            )
            .limit(int(n_queries))
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            )
        )
        metric = "cosine" if self.params.metric == "cosine" else (
            "ip" if self.params.metric == "ip" else "l2sq"
        )
        truth = exact.exact_knn_batch(
            pts, q, k=int(k), metric=metric, exclude_self=True
        ).select("query_id", "vec_id")
        # membership: which shard(s) hold each true neighbor
        member = self.shards_df.select("vec_id", "shard").join(
            F.broadcast(truth.select("vec_id").distinct()), "vec_id"
        )
        # probe ranks: queries are few — rank every (query, shard) pair
        # driver-side against the center matrix (n_queries × S ints)
        from vamana_spark.index.vamana import _metric_transform

        qpdf = q.toPandas()
        Qt = _metric_transform(
            np.stack(qpdf["query_vec"].to_numpy()).astype(np.float32),
            self.params.metric,
            self.params.mips_m,
            query=True,
        ).astype(np.float64)
        d = exact._dist_matrix(Qt, self.centers.astype(np.float64), "l2sq")
        order = np.argsort(d, axis=1, kind="stable")
        rank = np.empty_like(order)
        np.put_along_axis(rank, order, np.arange(S)[None, :].repeat(len(order), 0), 1)
        qids = qpdf["query_id"].to_numpy(dtype=np.int64)
        rank_rows = self.spark.createDataFrame(
            pd.DataFrame(
                {
                    "query_id": np.repeat(qids, S),
                    "shard": np.tile(np.arange(S, dtype=np.int32), len(qids)),
                    "probe_rank": rank.ravel().astype(np.int32),
                }
            )
        )
        best = (
            truth.join(member, "vec_id")
            .join(F.broadcast(rank_rows), ["query_id", "shard"])
            .groupBy("query_id", "vec_id")
            .agg(F.min("probe_rank").alias("best_rank"))
            .select("best_rank")
            .toPandas()["best_rank"]
            .to_numpy()
        )
        if best.size == 0:
            self.recommended_nprobe = self.default_nprobe
            return self.recommended_nprobe
        counts = np.bincount(best, minlength=S)
        reach = np.cumsum(counts) / float(best.size)
        p = int(np.searchsorted(reach, float(target_recall)) + 1)
        rec = int(min(S, max(1, int(np.ceil(p * float(safety))))))
        self.recommended_nprobe = rec
        return rec

    def search(
        self,
        queries: DataFrame,
        k: int,
        ef_search: Optional[int] = None,
        nprobe: Optional[int] = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        brute_threshold: Optional[int] = None,
    ) -> DataFrame:
        """Fan-out top-k: probe ``nprobe`` nearest shards per query
        (default: all), merge per-query winners globally.

        Dataflow (reference analogue: Search, vamana.h:492-546, batched
        over queries): executor-side probe assignment (``_route``) →
        cogroup with the packed shards on the ``shard`` key (Spark's
        equi-join of grouped data — no broadcast dict, no driver
        collect, no cross product) → per-shard kernel over ALL queries
        routed to the shard → global window merge. Shuffles: routed
        query rows keyed by shard (small) and S*k candidate rows per
        query into the merge — the index never moves.

        Per-shard kernel auto-switch: beam search costs ~ef·R distance
        comps per query; an exhaustive scan costs n_shard vectorized
        comps and is exact. The default threshold is **4·ef·R**, not
        the ef·R comp-count equivalence point: a BLAS comp is ~4-5×
        cheaper than a gather-driven graph comp (measured at dim=64,
        256-query batches: brute wins to n≈8k at ef·R=2048, graph wins
        from n≈16k). Below the cap the shard task takes the BLAS scan
        (``kernels.brute_topk_batch`` — IVF-flat behavior, and exact);
        past it, the lockstep batched beam kernel
        (``kernels.search_topk_batch``, the broadcast tier's kernel)
        walks the shard subgraph. Pass ``brute_threshold=0`` to force
        the graph path.
        """
        S = int(self.params.num_shards)
        nprobe = S if nprobe is None else min(nprobe, S)
        ef = int(ef_search or self.params.ef_search)
        metric_k = int(k)
        metric, mips_m = self.params.metric, self.params.mips_m
        brute_cap = (
            4 * int(ef * self.params.R)
            if brute_threshold is None
            else int(brute_threshold)
        )

        packed = self._packed_df("flat")
        routed = self._route(queries, nprobe, query_id_col, query_vec_col)

        def search_shard(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            import io

            if left.empty or right.empty:
                return _EMPTY_PARTIAL
            z = np.load(io.BytesIO(left["blob"].iloc[0]))
            P, ids, nbr = z["P"], z["ids"], z["nbr"]
            medoid = int(left["medoid"].iloc[0])
            # qv is already metric-transformed by _route
            Q = np.stack(right["qv"].to_numpy()).astype(np.float32)
            qids = right["query_id"].to_numpy(dtype=np.int64)
            # zero-width adjacency = IVF-flat shard: brute is the only path
            if P.shape[0] <= brute_cap or nbr.shape[1] == 0:
                rq, rid, rd = kernels.brute_topk_batch(P, Q, metric_k)
            else:
                rq, rid, rd, _, _ = kernels.search_topk_batch(
                    P, nbr, medoid, Q, metric_k,
                    _ef_for_shard(ef, metric_k, P.shape[0]),
                )
            rd = rd.astype(np.float64)
            if metric == "ip":
                # augmented-L2 back to -<q,x> (query aug component is 0,
                # so ||q'||^2 == ||q||^2) — same mapping as the broadcast
                # tier; merge ranking is unchanged (monotone)
                qn2 = np.einsum(
                    "ij,ij->i", Q.astype(np.float64), Q.astype(np.float64)
                )
                rd = (rd - qn2[rq] - float(mips_m) ** 2) / 2.0
            elif metric == "cosine":
                # normalized-space L2^2 = 2(1-cos) -> true cosine distance,
                # the same scale search_pq's exact re-rank reports
                rd = rd / 2.0
            elif metric == "l2":
                rd = np.sqrt(rd)
            return pd.DataFrame(
                {
                    "query_id": qids[rq],
                    "vec_id": ids[rid],
                    "dist": rd,
                }
            )

        partial = self._dedupe_overlap(
            self._cogrouped_partial(
                packed, routed, search_shard,
                self._bytes_per_point("flat", 0),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("dist").asc(), F.col("vec_id").asc()
        )
        return (
            partial.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "vec_id", "dist", "rank")
        )

    def range_search(
        self,
        queries: DataFrame,
        radius: float,
        ef_search: Optional[int] = None,
        nprobe: Optional[int] = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
    ) -> DataFrame:
        """Approximate radius query across the probed shards — same
        semantics as ``VamanaIndex.range_search``: each shard's beam
        explores ``ef_search`` candidates, the merge keeps in-radius
        hits. Size ef_search ≳ the expected ball cardinality, or use
        ``exact.range_search`` when the ball is a large fraction of the
        dataset anyway. Radius units follow the metric's reported
        distance (l2sq; 1-cos for cosine; -<q,x> for ip)."""
        ef = int(ef_search or self.params.ef_search)
        out = self.search(
            queries,
            k=ef,
            ef_search=ef,
            nprobe=nprobe,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )
        return out.where(F.col("dist") <= float(radius)).select(
            "query_id", "vec_id", "dist"
        )

    def search_filtered(
        self,
        queries: DataFrame,
        k: int,
        labels: DataFrame,
        ef_search: Optional[int] = None,
        nprobe: Optional[int] = None,
        overfetch: int = 8,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        label_col: str = "label",
        want_col: str = "want_label",
    ) -> DataFrame:
        """Filtered (predicate + vector) ANN on the partitioned tier —
        same post-filter-with-over-retrieval semantics as
        ``VamanaIndex.search_filtered``: retrieve ``k * overfetch``
        candidates per query across the probed shards, then keep each
        query's k nearest label-matching hits. Sound for predicates
        with selectivity ≳ 1/overfetch of the beam; needle-in-haystack
        labels belong on :func:`exact.exact_knn_filtered`.
        """
        ef = max(int(ef_search or self.params.ef_search), k * int(overfetch))
        hits = self.search(
            queries.select(query_id_col, query_vec_col),
            k=ef,
            ef_search=ef,
            nprobe=nprobe,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )
        from vamana_spark.index.vamana import _label_post_filter

        return _label_post_filter(
            hits, queries, labels, k, query_id_col, label_col, want_col
        )

    def search_pq(
        self,
        queries: DataFrame,
        k: int,
        ef_search: Optional[int] = None,
        nprobe: Optional[int] = None,
        pq_m: Optional[int] = None,
        pq_ksub: int = 256,
        rerank: Optional[int] = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        brute_threshold: Optional[int] = None,
        per_shard_codebooks: Optional[bool] = None,
        opq: Optional[bool] = None,
    ) -> DataFrame:
        """Beyond-RAM serving: beam search over PQ codes (ADC) inside
        each shard, exact re-rank of the merged shortlist — the DiskANN
        recipe the reference's paper cites (readme.md:3).

        ``opq`` (r11): serve from an OPQ pack — same uint8 codes and
        serving memory, but residuals are rotated by a learned
        orthogonal matrix before the subspace split, recovering ADC
        shortlist recall on clustered corpora (see ``_opq_rotation``).
        ``None`` follows the measured ``pq_profile`` recommendation
        (like ``pq_m``); explicit ``pq_m`` keeps opq off unless asked.

        Small shards take the exhaustive ADC scan instead of the graph
        walk (``kernels.brute_topk_batch_adc``), which returns the
        best-possible shortlist for the shard. The default switch is
        **16·max(ef,k′)·R** — higher than the flat path's 4× because an
        ADC "comp" is m uint8 LUT lookups, ~16-22× cheaper than a
        gather-driven graph comp (measured: ADC brute wins to n≈32k at
        ef·R=2048, graph wins from n≈64k). ``brute_threshold=0``
        forces the graph path.

        Memory shape: a shard task holds codes (n*m bytes) + codebooks
        + padded adjacency — ~``dim*4/m``× (16× at dim=64, m=8, counting
        codes vs float32) less than the flat pack; the full vectors stay
        at rest in the shard parquet and are touched ONLY for shortlist
        rows via an equi-join on vec_id (no cross product). Everything
        else (routing, cogroup, merge) matches ``search``.
        """
        from vamana_spark.functions.vector import pairwise_distance

        # ip (r10; the reference's declared TODO, vamana.h:695 /
        # readme.md:76): codes quantize the residuals in the same
        # MIPS-augmented space the flat pack stores, zero-padded to the
        # subspace alignment (see _pad_cols) — ADC ordering in that
        # space IS descending inner product, and the exact re-rank
        # scores raw vectors with the ip metric directly.
        if pq_m is None:
            # default m is DATA-aware (r9): a dimension-only default
            # (16 at dim=64) measurably collapses to 0.60 recall@10 on
            # clustered corpora — the shape LLM-pipeline data actually
            # has — while m=32 serves 0.99 (SCALE.md clustered 1M
            # rung). pq_profile() measures ADC shortlist agreement on
            # the codebook sample at pack time and picks the smallest
            # safe m (falling back to per-shard codebooks when no
            # global-residual candidate clears the bar); the profile is
            # memoized and persists with save(). Explicit pq_m skips
            # calibration entirely.
            prof = self.pq_profile(pq_ksub=pq_ksub)
            pq_m = int(prof["pq_m"])
            if per_shard_codebooks is None:
                per_shard_codebooks = bool(prof["per_shard_codebooks"])
            if opq is None:
                opq = bool(prof.get("opq", False))
        per_shard_codebooks = bool(per_shard_codebooks)
        opq = bool(opq)
        if opq and per_shard_codebooks:
            raise ValueError(
                "opq packs use the global-residual codebook; "
                "per_shard_codebooks is the separate adaptive fallback"
            )
        if self.params.dim % pq_m:
            raise ValueError(f"dim {self.params.dim} not divisible by pq_m {pq_m}")
        S = int(self.params.num_shards)
        nprobe = S if nprobe is None else min(nprobe, S)
        ef = int(ef_search or self.params.ef_search)
        # Defaults sit on the measured frontier, not the gate's edge
        # (tools/sweep_operating_points.py, 25k uniform 64-d, nprobe=3):
        # m=16/rerank=100 -> recall 0.910 at 4.2k qps, vs the old
        # m=8/rerank=4k default's 0.60 — at dim=64 the 8-dim subspaces
        # of m=8 quantize too coarsely for the ADC shortlist to retain
        # the true neighbors, and no rerank depth fully buys it back
        # (m=8/rerank=500: 0.891 at 2.4k qps). The exact re-rank makes
        # rerank depth a pure recall/qps trade, never a correctness one.
        kprime = int(rerank or max(10 * k, 100))
        # per-shard ADC emission: 2x the fair share of the global
        # shortlist (floor k). Emitting the full kprime per shard made
        # the merge shuffle nprobe*kprime rows per query (5M rows at the
        # bench load) for candidates the global cut discards anyway;
        # recall is gated (>=0.8 ok-col + tests), not inferred.
        pk = max(k, min(kprime, 2 * -(-kprime // max(nprobe, 1))))
        brute_cap = (
            16 * int(max(ef, kprime) * self.params.R)
            if brute_threshold is None
            else int(brute_threshold)
        )

        packed = self._packed_df(
            "opq" if opq else "pq", pq_m, pq_ksub, per_shard_codebooks
        )
        routed = self._route(queries, nprobe, query_id_col, query_vec_col)

        def search_shard(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            import io

            if left.empty or right.empty:
                return _EMPTY_PARTIAL
            z = np.load(io.BytesIO(left["blob"].iloc[0]))
            codes, cents, ids, nbr = z["codes"], z["cents"], z["ids"], z["nbr"]
            medoid = int(left["medoid"].iloc[0])
            Q = np.stack(right["qv"].to_numpy()).astype(np.float64)
            if "center" in z.files:
                # residual pack (r8 global codebook): the LUT walk runs
                # in the center-shifted space; ||q-x|| == ||(q-c)-(x-c)||
                Q = Q - z["center"].astype(np.float64)[None, :]
            # ip packs are padded to the subspace alignment (the MIPS
            # augmentation is dim+1 wide); pad the routed queries to the
            # codebook's width — a no-op for l2/cosine
            need = cents.shape[0] * cents.shape[2]
            if Q.shape[1] < need:
                Q = np.hstack(
                    [Q, np.zeros((Q.shape[0], need - Q.shape[1]), dtype=Q.dtype)]
                )
            if "rot" in z.files:
                # OPQ pack: codes live in the rotated residual space —
                # rotate the (center-shifted, padded) queries the same
                # way. Orthogonal, so ADC ordering is L2 in the
                # original residual space; exact re-rank unchanged.
                Q = Q @ z["rot"].astype(np.float64)
            qids = right["query_id"].to_numpy(dtype=np.int64)
            n_sh = codes.shape[0]
            # zero-width adjacency = IVF-flat shard: brute is the only path
            if n_sh <= brute_cap or nbr.shape[1] == 0:
                rq, rid, rd = kernels.brute_topk_batch_adc(codes, cents, Q, pk)
            else:
                rq, rid, rd = kernels.search_topk_batch_adc(
                    codes, cents, nbr, medoid, Q, pk,
                    _ef_for_shard(max(ef, kprime), kprime, n_sh),
                )
            return pd.DataFrame(
                {"query_id": qids[rq], "vec_id": ids[rid], "dist": rd}
            )

        partial = self._dedupe_overlap(
            self._cogrouped_partial(
                packed, routed, search_shard,
                self._bytes_per_point("pq", pq_m),
            )
        )
        # cut the nprobe*kprime candidate rows per query down to the
        # global ADC top-kprime BEFORE touching full vectors — the
        # re-rank join then moves kprime rows per query, not
        # nprobe*kprime (the DiskANN shortlist)
        wadc = Window.partitionBy("query_id").orderBy(
            F.col("dist").asc(), F.col("vec_id").asc()
        )
        shortlist = (
            partial.withColumn("_r", F.row_number().over(wadc))
            .where(F.col("_r") <= kprime)
            .drop("_r")
        )
        # exact re-rank: equi-joins only; vectors read back for the
        # shortlist rows alone. The shortlist joins the UN-deduplicated
        # shard rows — overlap copies are dropped AFTER the join, on
        # |Q|*kprime*overlap rows, because dropDuplicates on shards_df
        # itself would shuffle the ENTIRE corpus per search call (the
        # base table must stay at rest; only shortlist-matched rows
        # move). r10 (VERDICT r9 #6): the shortlist side is EXPLICITLY
        # broadcast when bounded — its exact size is nq*kprime rows of
        # (query_id, vec_id), known before execution, but past ~10 MB
        # AQE stopped broadcasting it and the join fell back to
        # sort-merge, shuffling the full corpus per call (measured at
        # the clustered 10M rung: 20M shard rows ≈ 5 GB re-sorted per
        # batch — the whole flat-vs-PQ serving gap). The corpus scan
        # stays map-side; one count() against the caller's (typically
        # cached) query batch prices the decision.
        p = self.shards_df.select("vec_id", F.col("embedding").alias("_pv"))
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("_qv"),
        )
        # one count() against the caller's (typically cached) query
        # batch prices the decision — measured 0.06 s/call at bench
        # scale, noise next to the join
        nq = queries.count()
        rows = nq * kprime
        # force the hint ONLY where AQE won't broadcast by itself and
        # the HashedRelation stays affordable (see _RERANK_BCAST_ROWS
        # comment); thresh < 0 means the user disabled broadcast joins
        # entirely — respect that
        thresh = _bytes_conf(
            self.spark, "spark.sql.autoBroadcastJoinThreshold", 10 << 20
        )
        bcast = (
            0 <= thresh < rows * _RERANK_FORCE_BYTES_PER_ROW
            and rows <= _RERANK_BCAST_ROWS
        )
        if bcast:
            cand = p.join(F.broadcast(shortlist.drop("dist")), "vec_id")
        else:
            # r14: below the forced band, steer the broadcast side when
            # the corpus projection itself fits one (Catalyst's free
            # plan estimate — no job). Left to AQE, the SHORTLIST side
            # gets broadcast (smaller estimate), which makes the corpus
            # scan the streamed side and throws away the shortlist's
            # query_id window partitioning — the rank window then pays
            # its own Exchange. Hinting p keeps the shortlist streamed,
            # its partitioning flows through the joins, and the rank
            # (and overlap-dedup) windows run exchange-free (guide
            # §2.4). Corpus-scale shards_df blows the threshold and the
            # hint is withheld — behavior unchanged where it matters
            # for safety.
            try:
                p_est = int(
                    p._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
            except Exception:
                p_est = None
            p_side = (
                F.broadcast(p)
                if p_est is not None and 0 < p_est <= max(thresh, 0)
                else p
            )
            cand = shortlist.drop("dist").join(p_side, "vec_id")
        exactd = cand.join(F.broadcast(q) if bcast else q, "query_id").select(
            "query_id",
            "vec_id",
            pairwise_distance(
                "_qv", "_pv", self.params.metric, dim=self.params.dim
            ).alias("dist"),
        )
        if self._overlap() > 1:  # one row per (query, point)
            # r14: the overlap dedup used to be a dropDuplicates BEFORE
            # the distance projection — its own exchange, keyed
            # (query_id, vec_id), carrying the full _pv vector. Dedup
            # now rides AFTER the projection as a window that shares
            # the rank window's query_id clustering: one exchange
            # instead of two, and the bytes that cross it are
            # (query_id, vec_id, dist) — the vectors never leave their
            # map side (guide §2.3 project-before-exchange, §2.4
            # shared exchange; plan: 2 candidate-stream Exchanges ->
            # 1). Overlap copies tie exactly on dist, so which copy
            # row_number keeps is indifferent — output identical
            # (checked row-for-row against the old tail at sf0.1).
            if bcast:
                # broadcast joins preserve no useful partitioning —
                # establish query_id clustering once, both windows
                # reuse it
                exactd = exactd.repartition("query_id")
            # non-bcast: the q equi-join just shuffled on query_id;
            # both windows reuse that exchange as-is
            wdd = Window.partitionBy("query_id", "vec_id").orderBy(
                F.col("dist").asc()
            )
            exactd = (
                exactd.withColumn("_dd", F.row_number().over(wdd))
                .where(F.col("_dd") == 1)
                .drop("_dd")
            )
        w = Window.partitionBy("query_id").orderBy(
            F.col("dist").asc(), F.col("vec_id").asc()
        )
        return (
            exactd.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "vec_id", "dist", "rank")
        )

    # ------------------------------------------------------------- persist

    def save(self, path: str, packs: tuple = ()) -> None:
        """Persist the index; ``packs`` optionally also writes search-ready
        packed forms so a serving restart skips the per-shard
        stack/CSR/pad (flat) or PQ codebook re-training (pq).

        Each entry is ``"flat"``, ``("pq", m, ksub)`` (global-residual
        codebook), ``("pq", m, ksub, True)`` for per-shard codebooks,
        or ``("opq", m, ksub)`` (r11: learned-rotation global-residual
        codebook); pq pack rows land under
        ``packed/pq_<m>_<ksub>_<global|pershard>`` — the codebook
        strategy is part of the directory name AND the meta entry, so a
        ``load``ed index can never serve a global pack to a
        ``per_shard_codebooks=True`` request (ADVICE r8). Calibration
        state (``pq_profile``, ``recommended_nprobe``) persists too
        when it has been computed, so serving restarts skip the
        calibration passes."""
        self.shards_df.write.mode("overwrite").partitionBy("shard").parquet(
            os.path.join(path, "shards")
        )
        packed_meta = []
        for p in packs:
            mode, pq_m, pq_ksub, per_shard = (
                (p, 8, 256, False) if isinstance(p, str) else (tuple(p) + (False,))[:4]
            )
            sub = self._pack_subdir(mode, int(pq_m), int(pq_ksub), bool(per_shard))
            self._packed_df(
                mode, int(pq_m), int(pq_ksub), bool(per_shard)
            ).write.mode("overwrite").parquet(os.path.join(path, "packed", sub))
            packed_meta.append([mode, int(pq_m), int(pq_ksub), bool(per_shard)])
        meta = json.loads(self.params.to_json())
        meta["centers"] = [[float(x) for x in c] for c in self.centers]
        if packed_meta:
            meta["packs"] = packed_meta
        if self._pq_profile is not None:
            meta["pq_profile"] = self._pq_profile
        if self.recommended_nprobe is not None:
            meta["recommended_nprobe"] = int(self.recommended_nprobe)
        if self.calibration_target is not None:
            meta["calibration_target"] = float(self.calibration_target)
            meta["calibration_safety"] = float(self.calibration_safety)
        with open(os.path.join(path, "_meta.json"), "w") as f:
            json.dump(meta, f)

    @staticmethod
    def _pack_subdir(mode: str, pq_m: int, pq_ksub: int, per_shard: bool) -> str:
        if mode == "pq":
            return f"pq_{pq_m}_{pq_ksub}_{'pershard' if per_shard else 'global'}"
        if mode == "opq":
            return f"opq_{pq_m}_{pq_ksub}_global"
        return f"{mode}_{pq_m}_{pq_ksub}"

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "PartitionedVamanaIndex":
        with open(os.path.join(path, "_meta.json")) as f:
            meta = json.load(f)
        centers = np.asarray(meta.pop("centers"), dtype=np.float32)
        packs = meta.pop("packs", [])
        pq_profile = meta.pop("pq_profile", None)
        rec_nprobe = meta.pop("recommended_nprobe", None)
        params = VamanaParams(
            **{k: v for k, v in meta.items() if k in VamanaParams.__dataclass_fields__}
        )
        shards_df = spark.read.parquet(os.path.join(path, "shards"))
        idx = cls(spark, params, shards_df, centers)
        idx._pq_profile = pq_profile
        idx.recommended_nprobe = (
            int(rec_nprobe) if rec_nprobe is not None else None
        )
        cal_t = meta.pop("calibration_target", None)
        idx.calibration_target = float(cal_t) if cal_t is not None else None
        cal_s = meta.pop("calibration_safety", None)
        idx.calibration_safety = float(cal_s) if cal_s is not None else None
        for entry in packs:
            # legacy (pre-r9) 3-item entries are global-residual packs
            # written without the strategy suffix
            mode, pq_m, pq_ksub = entry[:3]
            per_shard = bool(entry[3]) if len(entry) > 3 else False
            sub = (
                cls._pack_subdir(mode, int(pq_m), int(pq_ksub), per_shard)
                if len(entry) > 3
                else f"{mode}_{int(pq_m)}_{int(pq_ksub)}"
            )
            idx._packed_paths[(mode, int(pq_m), int(pq_ksub), per_shard)] = (
                os.path.join(path, "packed", sub)
            )
        return idx

    def get_point(self, vec_id: int) -> DataFrame:
        """Point lookup by user id (reference GetPoint, vamana.h:549-555,
        keyed by vec_id per SURVEY §1.4). overlap>1 stores copies;
        exactly one row comes back."""
        return (
            self.shards_df.where(F.col("vec_id") == int(vec_id))
            .select("vec_id", "embedding")
            .dropDuplicates(["vec_id"])
        )

    @property
    def data_size(self) -> int:
        """Point count (reference GetDataSize; copies don't count)."""
        n = self.params.n
        return int(n) if n else int(
            self.shards_df.select("vec_id").distinct().count()
        )

    def describe(self) -> dict:
        """Param surface (reference PrintParams / getters, R19)."""
        d = json.loads(self.params.to_json())
        d["num_centers"] = int(self.centers.shape[0])
        return d

    def degree_stats(self) -> DataFrame:
        return self.shards_df.select(
            "shard", F.size("neighbors").alias("out_degree")
        )

    def health_check(self) -> dict:
        row = (
            self.degree_stats()
            .agg(F.max("out_degree").alias("mx"), F.count("*").alias("n"))
            .first()
        )
        return {
            "ok": row["mx"] is None or row["mx"] <= self.params.R,
            "max_degree": row["mx"],
            "n": row["n"],
            "R": self.params.R,
        }


def _carry_calibration(
    old: PartitionedVamanaIndex,
    new: PartitionedVamanaIndex,
    recalibrate: Optional[bool],
    target_recall: Optional[float] = None,
) -> PartitionedVamanaIndex:
    """Maintenance returns a NEW index whose corpus (and possibly shard
    count) differs from what the input's calibration measured; silently
    returning ``recommended_nprobe=None`` drops serving to the S/4
    floor — a 4-8× probe-cost regression on clustered corpora until
    someone remembers to re-run ``calibrate_nprobe`` (VERDICT r9
    missing #2). Policy: ``recalibrate=None`` (auto) re-measures iff
    the INPUT index was calibrated — calibration is a property the
    operator opted into, and re-measuring costs ~6 s at 1M, trivial
    next to any maintenance kernel pass; ``True``/``False`` force.
    The maintained shards are cached first so the calibration pass
    doesn't re-execute the rebuild kernels per job.

    r11 (VERDICT r10 next-round #6): re-measurement runs at the
    OPERATOR'S operating point — ``target_recall`` explicitly given to
    the maintenance call, else the target/safety the input index was
    calibrated with (persisted by save/load), else the defaults. The
    11M lifecycle rung served 0.899 purely because the maintained
    index silently fell back to the default target; an operator who
    calibrated at 0.98 must stay at 0.98 through add/delete/resplit."""
    want = (
        (old.recommended_nprobe is not None)
        if recalibrate is None
        else bool(recalibrate)
    )
    if want and new is not old:
        new.shards_df = new.shards_df.cache()
        kw = {}
        tgt = (
            float(target_recall)
            if target_recall is not None
            else getattr(old, "calibration_target", None)
        )
        if tgt is not None:
            kw["target_recall"] = float(tgt)
        saf = getattr(old, "calibration_safety", None)
        if saf is not None:
            kw["safety"] = float(saf)
        new.calibrate_nprobe(**kw)
    return new


def add_points(
    index: PartitionedVamanaIndex,
    new_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    graph: Optional[bool] = None,
    recalibrate: Optional[bool] = None,
    target_recall: Optional[float] = None,
) -> PartitionedVamanaIndex:
    """Incremental maintenance: append new vectors by rebuilding ONLY the
    shards they route to.

    The reference's AddPoint after BuildIndex leaves new nodes unwired
    (SURVEY.md §1.4 — capacity check is the only guard); here the
    center-routed layout localizes the damage: untouched shards keep
    their subgraphs byte-for-byte, touched shards re-run the build
    kernel over old+new points. At 100 TB this is the difference
    between re-indexing a petabyte and re-indexing the few shards a
    daily delta lands in.

    ``graph`` follows ``build``'s per-shard auto rule: ``None``
    rebuilds a touched shard's graph only when its new row count
    exceeds the 4·ef·R flat crossover — below it the searchers take the
    exact brute kernel and a graph is dead weight, so a 5% append to a
    graph-free IVF-flat index must not silently pay the O(n²) dense
    kernel the original build deliberately skipped (measured at the 1M
    maintenance rung: the dense rebuild costs more than the whole
    graph-free build). ``True``/``False`` force, as in ``build``.

    Known maintenance limits, by design: (a) a cell that keeps
    receiving appends can outgrow its split count — run
    :func:`resplit_oversized` periodically to re-fire the skew guard
    on measured populations; (b) routing GEOMETRY is fixed at build
    (centers never retrain), so appends from a distribution far from
    every center degrade nprobe<S recall — detect with
    ``diagnostics.routing_concentration`` / re-run
    ``calibrate_nprobe`` after large appends, and rebuild when the
    calibrated nprobe drifts toward S (routing has stopped earning
    its cost).
    """
    spark = index.spark
    params = index.params
    C = index.centers
    pts = new_df.select(
        F.col(id_col).cast("long").alias("vec_id"), F.col(vec_col).alias("embedding")
    ).where(F.size(vec_col) == params.dim)

    overlap = index._overlap()  # appended points honor the index layout
    metric, mips_m = params.metric, params.mips_m
    if metric == "ip":
        # the MIPS->L2 augmentation of EVERY point depends on the
        # build-time max norm; an over-norm insert silently corrupts the
        # geometry (sqrt clamps to 0) — same guard as the broadcast tier
        from vamana_spark.functions.vector import l2_norm as _l2n

        mx = pts.agg(F.max(_l2n("embedding"))).first()[0]
        if mx is not None and float(mx) > float(mips_m) * (1 + 1e-6):
            raise ValueError(
                "add_points: new point norm exceeds the build-time "
                "mips_m — rebuild the index"
            )

    # appended points route exactly as build() routed the corpus
    assigned = assign_cells(pts, C, overlap, metric, mips_m)
    # touched-shard set as a broadcast semi/anti join, not a collected
    # literal list: at production shard counts a wide delta
    # touches 10^5+ shards and an isin() literal list bloats the plan;
    # the distinct-shard table is at most S rows either way
    touched_df = assigned.select("shard").distinct().cache()
    if touched_df.limit(1).count() == 0:
        touched_df.unpersist()
        return index

    old_touched = index.shards_df.join(
        F.broadcast(touched_df), "shard"
    ).select("shard", "vec_id", "embedding")
    rebuild_input = old_touched.unionByName(assigned.select("shard", "vec_id", "embedding"))

    rebuilt = (
        _salted_by_shard(spark, rebuild_input, params.num_shards)
        .groupBy("_gkey")
        .applyInPandas(
            _make_rebuild_kernel(params, graph), schema=_SHARDS_SCHEMA
        )
    )
    untouched = index.shards_df.join(
        F.broadcast(touched_df), "shard", "left_anti"
    )
    new_shards = untouched.unionByName(rebuilt)

    import dataclasses

    new_params = dataclasses.replace(params)
    new_params.n = params.n + pts.count()
    return _carry_calibration(
        index,
        PartitionedVamanaIndex(spark, new_params, new_shards, C),
        recalibrate,
        target_recall=target_recall,
    )


def resplit_oversized(
    index: PartitionedVamanaIndex,
    max_shard_factor: float = 2.0,
    graph: Optional[bool] = None,
    recalibrate: Optional[bool] = None,
    target_recall: Optional[float] = None,
) -> PartitionedVamanaIndex:
    """Maintenance-time skew consolidation: re-fire the build's
    oversized-cell split on MEASURED shard populations — the
    FreshDiskANN-style consolidate step the reference's AddPoint
    lacks entirely (vamana.h:101-111 appends without rewiring,
    SURVEY §1.4; the DiskANN lineage, readme.md:3, defines the
    split-when-full recipe this implements shard-locally).

    The build-time skew guard (``build``'s ``max_shard_factor``) fixes
    the split layout once, from the populations at build time;
    ``add_points`` preserves that layout, so a cell that keeps
    receiving appends — the normal shape of a growing clustered corpus
    — outgrows its split count and its sub-shard kernels/scan tasks
    become exactly the stragglers the guard exists to bound. This
    operator measures actual shard sizes (one tiny groupBy-count), grows
    the split count of any cell whose population exceeds
    ``max_shard_factor ×`` the fair share, and rebuilds ONLY the
    re-split cells' rows: every other shard keeps its subgraph
    byte-for-byte and is merely renumbered to its new positional id
    (a metadata projection — no kernel, no vector movement). Split
    counts only grow (never shrink) so repeated calls converge and
    undersized cells aren't churned.

    Routing geometry: re-split cells get DISTINCT k-means sub-centers
    trained on their own members (the full membership is on hand here,
    unlike at build where only a thin sample exists). Repeating the
    parent center per sub-shard instead collapsed at a 10M hot-append
    run: a 1M-point cell split ~270 ways left a blob query with no
    geometry inside the former cell (every sub-shard ties exactly),
    forcing calibration to nprobe=29 for 0.89 recall. With trained
    sub-centers the hot region routes like any other part of the
    index. An even vec_id-hash split remains as the OVER-CAP backstop
    on the measured sub-cell populations, so the straggler bound stays
    exact and unchanged data stays a no-op.

    Returns a new index (packs invalidated; when the input index was
    calibrated the result auto-recalibrates — see
    ``_carry_calibration``). No-op (same object) when nothing is
    oversized.
    """
    _check_shard_factor(max_shard_factor)
    spark = index.spark
    params = index.params
    C = index.centers
    base, nsplit, cell_of_shard = _cell_layout(C)
    n_cells = int(base.shape[0])
    if n_cells == 0:
        return index

    sizes = {
        int(r["shard"]): int(r["count"])
        for r in index.shards_df.groupBy("shard").count().collect()
    }
    S_old = int(C.shape[0])
    pop = np.zeros(n_cells, dtype=np.int64)
    for s, c in enumerate(cell_of_shard):
        pop[c] += sizes.get(int(s), 0)
    total = int(pop.sum())
    if total == 0:
        return index
    want = _split_counts(pop, nsplit, total, max_shard_factor)
    if np.array_equal(want, nsplit):
        return index

    changed = np.flatnonzero(want != nsplit)
    changed_set = set(int(c) for c in changed)

    from vamana_spark.index.vamana import _metric_transform

    metric, mips_m = params.metric, params.mips_m
    seed = int(params.seed)

    # ---- geometric sub-centers for the re-split cells (see docstring):
    # want[c] DISTINCT k-means sub-centers per changed cell, trained on
    # a sample of its members
    changed_shards = np.array(
        [s for s in range(S_old) if int(cell_of_shard[s]) in changed_set],
        dtype=np.int32,
    )
    chs_df = spark.createDataFrame(
        pd.DataFrame({"shard": changed_shards}), "shard int"
    )
    members = index.shards_df.join(F.broadcast(chs_df), "shard").select(
        "shard", "vec_id", "embedding"
    )

    # deterministic hash-ordered member sample, ~64 rows per sub-center
    # (mass-proportional across cells; bounded driver collect)
    k_by_cell = {int(c): int(want[c]) for c in changed}
    k_total = int(sum(k_by_cell.values()))
    cap_rows = min(500_000, max(64 * k_total, 4096))
    n_changed_rows = int(sum(sizes.get(int(s), 0) for s in changed_shards))
    h = F.pmod(F.xxhash64(F.col("vec_id") + F.lit(seed)), F.lit(1 << 30))
    smp = members.select("shard", "vec_id", "embedding", h.alias("_h"))
    if n_changed_rows > cap_rows:
        smp = smp.where(F.col("_h") < int(min(1.0, 1.3 * cap_rows / n_changed_rows) * (1 << 30)))
    rows = smp.orderBy("_h", "vec_id", "shard").limit(cap_rows).toPandas()
    Xs = _metric_transform(
        np.stack(rows["embedding"].to_numpy()).astype(np.float32),
        metric, mips_m,
    ).astype(np.float64)
    smp_cells = cell_of_shard[rows["shard"].to_numpy(dtype=np.int64)]
    sub_centers: dict = {}
    sub_offset: dict = {}
    off = 0
    for c in sorted(changed_set):
        Xc = Xs[smp_cells == c]
        if Xc.shape[0] == 0:
            # under extreme skew at very large shard counts
            # a changed cell can draw zero rows from the hash-ordered,
            # capped sample; _kmeans on an empty matrix raises and would
            # abort the whole resplit. Fall back to the parent center as
            # the single sub-center — the hash backstop below still
            # splits the cell by measured population.
            k_by_cell[c] = 1
            sub_centers[c] = C[base[c]].reshape(1, -1).astype(np.float32)
            sub_offset[c] = off
            off += 1
            continue
        kc = max(1, min(k_by_cell[c], Xc.shape[0]))
        k_by_cell[c] = kc  # degenerate tiny cells can't exceed sample
        sub_centers[c] = kernels._kmeans(Xc, kc, seed + 7 * c + 1, 10).astype(
            np.float32
        )
        sub_offset[c] = off
        off += kc
    k_total = off

    # pass 1: nearest-sub-center assignment (cached — it feeds the
    # measured-population backstop AND the final shard map)
    b_geo = spark.sparkContext.broadcast(
        (cell_of_shard.astype(np.int64), sub_centers, sub_offset)
    )

    def assign_geo(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from vamana_spark.index.vamana import _metric_transform as _mt

        cell_v, subC, offs = b_geo.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = _mt(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float32),
                metric, mips_m,
            ).astype(np.float64)
            cells = cell_v[pdf["shard"].to_numpy(dtype=np.int64)]
            sub = np.empty(len(pdf), dtype=np.int64)
            for c in np.unique(cells):
                m = cells == c
                d = exact._dist_matrix(X[m], subC[int(c)].astype(np.float64), "l2sq")
                sub[m] = offs[int(c)] + d.argmin(axis=1)
            out = pdf[["vec_id", "embedding"]].copy()
            out["subcell"] = sub.astype(np.int32)
            yield out

    assigned = members.mapInPandas(
        assign_geo, schema="vec_id long, embedding array<float>, subcell int"
    ).persist()
    sub_sizes = np.zeros(k_total, dtype=np.int64)
    for r in assigned.groupBy("subcell").count().collect():
        sub_sizes[int(r["subcell"])] = int(r["count"])

    # over-cap hash backstop: the same fixed point over the sub-cells,
    # next to the unchanged cells' shards
    S_unchanged = S_old - int(changed_shards.shape[0])
    nsplit_sub = _split_counts(
        sub_sizes, np.ones(k_total, dtype=np.int64), total, max_shard_factor,
        fixed=S_unchanged,
    )

    # ---- final layout: cells in original order ------------------------
    # unchanged cells keep their rows byte-for-byte; changed cell c
    # contributes its kc sub-centers, each repeated nsplit_sub times
    # (the backstop's duplicated-center runs, same as the build guard).
    # Sub-centers must not collide byte-wise with any OTHER cell's
    # center (the _cell_layout contract): de-dup them after the
    # unchanged cells' centers, which are pairwise distinct already and
    # so come back unchanged
    unchanged = [c for c in range(n_cells) if c not in changed_set]
    fresh = _dedupe_centers(
        np.vstack([C[base[unchanged]]] + [sub_centers[c] for c in sorted(changed_set)])
    )[len(unchanged):]
    dimT = C.shape[1]
    cell_rows: list = []
    final_count = np.zeros(n_cells, dtype=np.int64)
    for c in range(n_cells):
        if c in changed_set:
            o = sub_offset[c]
            kc = k_by_cell[c]
            reps = nsplit_sub[o : o + kc]
            cell_rows.append(np.repeat(fresh[o : o + kc], reps, axis=0))
            final_count[c] = int(reps.sum())
        else:
            cell_rows.append(C[base[c] : base[c] + nsplit[c]])
            final_count[c] = int(nsplit[c])
    C_new = np.vstack(cell_rows).astype(np.float32).reshape(-1, dimT)
    new_base = np.concatenate(([0], np.cumsum(final_count)[:-1])).astype(
        np.int64
    )

    # old shard id -> new positional id for unchanged cells (levels kept)
    remap = {}
    for s in range(S_old):
        c = int(cell_of_shard[s])
        if c not in changed_set:
            remap[s] = int(new_base[c] + (s - base[c]))
    # renumber via a broadcast-joined mapping TABLE, not a literal map
    # expression — at production shard counts (10^5+) an S-literal
    # expression bloats the plan; a tiny broadcast join is O(1) plan
    # size and the join doubles as the keep-filter
    remap_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "shard": np.fromiter(remap.keys(), dtype=np.int32),
                "_new_shard": np.fromiter(remap.values(), dtype=np.int32),
            }
        ),
        "shard int, _new_shard int",
    )
    kept = (
        index.shards_df.join(F.broadcast(remap_df), "shard")
        .select(
            F.col("_new_shard").alias("shard"),
            "vec_id", "local_ord", "embedding", "neighbors",
        )
    )

    # pass 2: subcell -> final shard id (+ the backstop's vec_id hash
    # level inside over-cap sub-cells)
    sub_first = np.zeros(k_total, dtype=np.int64)
    for c in sorted(changed_set):
        o, kc = sub_offset[c], k_by_cell[c]
        run = new_base[c] + np.concatenate(
            ([0], np.cumsum(nsplit_sub[o : o + kc])[:-1])
        )
        sub_first[o : o + kc] = run
    b_fin = spark.sparkContext.broadcast((sub_first, nsplit_sub))

    def finalize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        first_v, nsp_v = b_fin.value
        for pdf in batches:
            if pdf.empty:
                continue
            sc = pdf["subcell"].to_numpy(dtype=np.int64)
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            lvl = _subshard_of(vid, nsp_v[sc])
            out = pdf[["vec_id", "embedding"]].copy()
            out["shard"] = (first_v[sc] + lvl).astype(np.int32)
            yield out

    reassigned = assigned.mapInPandas(
        finalize, schema="vec_id long, embedding array<float>, shard int"
    )
    import dataclasses

    new_params = dataclasses.replace(params)
    new_params.num_shards = int(S_unchanged + int(nsplit_sub.sum()))
    rebuilt = (
        _salted_by_shard(spark, reassigned, new_params.num_shards)
        .groupBy("_gkey")
        .applyInPandas(
            _make_rebuild_kernel(new_params, graph), schema=_SHARDS_SCHEMA
        )
    )
    out = _carry_calibration(
        index,
        PartitionedVamanaIndex(spark, new_params, kept.unionByName(rebuilt), C_new),
        recalibrate,
        target_recall=target_recall,
    )
    # `assigned` fed the population backstop and finalize(); leaving
    # it persisted leaks cached embedding partitions across
    # repeated maintenance cycles. When _carry_calibration ran it cached
    # AND materialized the rebuilt shards, so the release is free; when
    # it didn't, a later first action recomputes one deterministic
    # mapInPandas pass over the changed cells' rows only.
    assigned.unpersist()
    return out


def delete_points(
    index: PartitionedVamanaIndex,
    ids: DataFrame,
    id_col: str = "vec_id",
    graph: Optional[bool] = None,
    recalibrate: Optional[bool] = None,
    target_recall: Optional[float] = None,
) -> PartitionedVamanaIndex:
    """Incremental maintenance, delete side: drop vectors by rebuilding
    ONLY the shards that held them (the partitioned-tier counterpart of
    ``VamanaIndex.delete_points``'s consolidate).

    Each point routes to exactly one shard, so the damage is local by
    construction: untouched shards keep their subgraphs byte-for-byte;
    a touched shard re-runs the build kernel over its survivors.
    A shard deleted down to zero points simply disappears from the
    layout. Centers are unchanged — routing geometry does not depend on
    membership. ``graph`` follows ``build``'s per-shard auto rule (see
    ``add_points``).
    """
    spark = index.spark
    params = index.params
    doomed = ids.select(F.col(id_col).cast("long").alias("vec_id")).distinct()
    present = index.shards_df.join(F.broadcast(doomed), "vec_id").select(
        "shard", "vec_id"
    )
    # overlap layouts hold several copies of a point — n counts POINTS
    n_gone = present.select("vec_id").distinct().count()
    if n_gone == 0:
        return index
    # touched-shard set as a broadcast semi/anti join — same plan-size
    # rationale as add_points (no isin literal list, no driver collect)
    touched_df = present.select("shard").distinct()

    survivors = (
        index.shards_df.join(F.broadcast(touched_df), "shard")
        .join(F.broadcast(doomed), "vec_id", "left_anti")
        .select("shard", "vec_id", "embedding")
    )

    rebuilt = (
        _salted_by_shard(spark, survivors, params.num_shards)
        .groupBy("_gkey")
        .applyInPandas(
            _make_rebuild_kernel(params, graph), schema=_SHARDS_SCHEMA
        )
    )
    untouched = index.shards_df.join(
        F.broadcast(touched_df), "shard", "left_anti"
    )
    new_shards = untouched.unionByName(rebuilt)

    import dataclasses

    new_params = dataclasses.replace(params)
    new_params.n = (params.n or index.shards_df.count()) - n_gone
    return _carry_calibration(
        index,
        PartitionedVamanaIndex(spark, new_params, new_shards, index.centers),
        recalibrate,
        target_recall=target_recall,
    )
