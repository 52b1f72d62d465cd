"""VamanaIndex — Spark-native Vamana (DiskANN-style) ANN index.

Public method surface mirrors the reference C API 1:1 (SURVEY.md §2 R21,
c_api/vamana_c_api.h:14-47): build / search / search_with_start /
get_point / save / load / describe / data_size — re-expressed for batch
DataFrames instead of per-row FFI calls.

Physical design
---------------
* **Index layout**: directory-of-Parquet (SURVEY.md §1.3) —
  ``points/`` (vec_id, ordinal, embedding), ``graph/`` (ordinal,
  neighbors array<long>), ``_meta.json`` (params + medoid + n). Columnar,
  splittable, schema-evolvable — vs the reference's opaque binary blob
  (vamana.h:390-424).
* **Build**: ``num_shards=1`` → single NumPy kernel run (fits to ~1e6
  x 128 f32 ≈ 512 MB on the driver). ``num_shards>1`` → sharded DiskANN
  recipe: k-means-style centers, each point assigned to its
  ``shard_overlap`` nearest centers, per-shard Vamana builds run in
  parallel via ``applyInPandas`` (one Arrow group per shard), edge union,
  then a distributed degree-capped re-prune. No stage ever materializes
  an O(n^2) structure.
* **Search**: broadcast (points matrix, padded graph, entry seeds) to
  executors once; ``mapInPandas`` over the *queries* DataFrame starts
  each query's beam walk at its nearest entry seed (``kernels.entry_seeds``:
  k-means centers snapped to points, derived per index instance, not
  saved) instead of the medoid — the global routing step of REPOSE
  (ICDE 2021) before the local walk. Queries scale out, the index is
  read-only shared state. Per-query hop/distance counters are emitted as
  columns (the reference's Go API left these as TODO stubs,
  go_api/vamana_go_api.go:163-171).
"""

from __future__ import annotations

import dataclasses
import json
import os
import time
from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vamana_spark import exact
from vamana_spark.functions.util import assign_ordinals
from vamana_spark.index import kernels
from vamana_spark.params import VamanaParams

SEARCH_SCHEMA = (
    "query_id long, vec_id long, dist double, rank int, hops int, dist_comps int"
)
POINTS_SCHEMA = "vec_id long, ordinal long, embedding array<float>"

# fewest queries a search task gets when the batch's row count is known.
# Each Python task pays ~0.07 s of fixed worker CPU (see
# ensure_parallelism). Routed entry seeds cut the kernel time of a
# 5k-point index at ef=32 to ~0.08 ms per query (one BLAS thread), so
# 256 queries no longer cost what the fixed share does; the constant is
# kept on purpose, since a larger one trades wall time for CPU.
MIN_QUERIES_PER_TASK = 256

# most indexed points health_check searches for its self-recall
HEALTH_SAMPLE = 256


class VamanaIndex:
    """A built Vamana graph index over a DataFrame of (vec_id, embedding)."""

    def __init__(
        self,
        spark: SparkSession,
        params: VamanaParams,
        points_df: DataFrame,
        graph_df: DataFrame,
    ):
        self.spark = spark
        self.params = params
        self._points_df = points_df  # vec_id long, ordinal long, embedding array<float>
        self._graph_df = graph_df    # ordinal long, neighbors array<long>
        # deferred distributed view: the driver-local build tiers and the
        # maintenance calls hand the finished graph to the driver cache
        # (_local), and the DataFrame view exists only for consumers that
        # ask for it (save, get_point, diagnostics) — a thunk forced on
        # first access instead of a cost every call pays up front
        self._rel_thunk = None
        self._local: Optional[Tuple[np.ndarray, ...]] = None
        # broadcast (P, ids, padded adjacency, entry seeds), reused across
        # searches; the seeds are derived once per instance, never saved
        self._bcast = None
        self._seeds: Optional[np.ndarray] = None

    def _force_rel(self) -> None:
        thunk = self._rel_thunk
        if thunk is None:
            return
        points_df, graph_df = thunk()  # clear AFTER success — a
        # transient failure must stay retryable, not degrade to None
        self._rel_thunk = None
        # fill only fields still unset: a caller may have assigned one
        # relation through the setter while the thunk was pending
        if self._points_df is None:
            self._points_df = points_df
        if self._graph_df is None:
            self._graph_df = graph_df

    def _points_source(self):
        """A callable returning this index's points relation without
        forcing it now. It holds no reference to the index, so an index
        derived from this one does not pin its driver arrays or its
        search broadcast."""
        if self._points_df is not None or self._rel_thunk is None:
            df = self._points_df
            return lambda: df
        thunk = self._rel_thunk
        return lambda: thunk()[0]

    @property
    def points_df(self) -> DataFrame:
        if self._points_df is None and self._rel_thunk is not None:
            self._force_rel()
        return self._points_df

    @points_df.setter
    def points_df(self, v: DataFrame) -> None:
        self._points_df = v

    @property
    def graph_df(self) -> DataFrame:
        if self._graph_df is None and self._rel_thunk is not None:
            self._force_rel()
        return self._graph_df

    @graph_df.setter
    def graph_df(self, v: DataFrame) -> None:
        self._graph_df = v

    def release(self) -> None:
        """Free executor-side state this index pinned: the search-form
        broadcast and the driver-side matrix cache. Long-lived sessions
        (benchmarks, services) that build many indexes should call this
        when done with one — Spark's ContextCleaner only reclaims
        broadcast blocks on driver GC, which is too lazy to keep repeated
        build/search cycles from accumulating executor memory."""
        if self._bcast is not None:
            try:
                self._bcast.destroy()
            except Exception:
                pass
            self._bcast = None
        self._local = None
        self._seeds = None

    # ------------------------------------------------------------------ build

    @staticmethod
    def build(
        spark: SparkSession,
        df: DataFrame,
        params: VamanaParams,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        phase_timings: Optional[dict] = None,
    ) -> "VamanaIndex":
        """Build the index (reference: BuildIndex, vamana.h:221-332).

        Ordinals are assigned deterministically by ascending vec_id; all
        randomness flows from ``params.seed``.

        ``phase_timings``: optional dict the sharded builder fills with
        per-phase wall seconds (diagnostic; forces an extra edge
        materialization, so don't pass it on the timed path).

        With ``num_shards <= 1`` the whole point set comes to the
        driver. A point set past ``BROADCAST_TIER_MAX_BYTES`` raises
        ``MemoryError``, as search on such an index would: build a
        ``PartitionedVamanaIndex`` instead.

        The caller's ``params`` is never mutated, so one params object
        can serve several builds: build fills n/medoid/mips_m on a copy,
        and the copy rides on the returned index (``index.params``).
        """
        params = dataclasses.replace(params)
        params.validate()
        pts = df.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).alias("embedding"),
        ).where(F.size(vec_col) == params.dim)  # dimension validation (§1.2)
        if params.max_points:
            # deterministic capacity cap: plain limit() can pick different
            # rows on re-evaluation, and pts is evaluated more than once
            # (kernel pull + lazy points_df)
            pts = pts.orderBy("vec_id").limit(params.max_points)
        if params.metric == "ip" and params.mips_m is None:
            from vamana_spark.functions.vector import l2_norm

            params.mips_m = float(
                pts.agg(F.max(l2_norm("embedding"))).first()[0] or 0.0
            )

        if params.num_shards <= 1:
            # tier guard: _build_single pulls the whole point set to the
            # driver, and past the broadcast-tier ceiling that is a
            # driver OOM — and an index search could not load anyway.
            # Catalyst's plan-size estimate is free (no job). Float
            # embedding columns barely compress, so the estimate tracks
            # in-memory size closely; trust it only with a 4x margin.
            # _build_single's pull is also CAPPED at the ceiling's row
            # budget, so a pathological underestimate cannot OOM the
            # driver either.
            est = VamanaIndex._plan_size_bytes(pts)
            if est is None or est * 4 > VamanaIndex.BROADCAST_TIER_MAX_BYTES:
                VamanaIndex._check_tier(pts.count() * params.dim * 4)
            return VamanaIndex._build_single(spark, pts, params)
        # sharded tier: ordinals assigned distributedly (partition-offset
        # scheme — no single-task global window)
        pts = assign_ordinals(pts, "vec_id", "ordinal")
        return VamanaIndex._build_sharded(spark, pts, params, phase_timings)

    @staticmethod
    def _build_single(spark, pts: DataFrame, params: VamanaParams) -> "VamanaIndex":
        """Single-kernel tier. The whole point set comes to the driver
        anyway (guarded upstream), so ordinals are assigned HERE — a
        pandas sort + arange — instead of paying assign_ordinals' three
        distributed jobs (range shuffle, count, offset pass) for data
        that fits in one process. The (vec_id, ordinal) map rides back
        out as a broadcast-joined mapping, so points_df keeps the exact
        schema and semantics of the sharded tier."""
        # BOUNDED pull: cap the collect at the ceiling's row budget +1.
        # When the input fits, limit() returns every row (no selection
        # happens); when the plan-size estimate undershot
        # (pathologically compressible embeddings), the pull stops at
        # cap+1 rows instead of OOMing the driver, and the tier check
        # below raises.
        cap_rows = VamanaIndex.BROADCAST_TIER_MAX_BYTES // (params.dim * 4)
        pdf = pts.limit(cap_rows + 1).toPandas()
        if pdf.empty:
            raise ValueError(
                "VamanaIndex.build: no input rows (after dimension filter "
                f"size(embedding) == {params.dim})"
            )
        VamanaIndex._check_tier(len(pdf) * params.dim * 4)
        return VamanaIndex._build_from_pandas(spark, pdf, params, pts=pts)

    @classmethod
    def build_local(cls, spark, ids, vectors, params: VamanaParams) -> "VamanaIndex":
        """In-memory ingest tier: build over points ALREADY staged on
        the driver — the reference's AddPoint-then-BuildIndex shape
        (vamana.h:221-332; its bench stages points untimed and times
        only graph construction, tools/ref_bench.cpp:58-66). Semantics
        are identical to :meth:`build` on a DataFrame of the same rows
        (same vec_id-sorted ordinals, same kernel, same deferred
        distributed relation — pinned by
        ``test_index.py::test_build_local_matches_dataframe_build``);
        the only difference is that the Spark scan + Arrow transfer a
        DataFrame input pays happens before the call, mirroring where
        the reference pays its own file read + AddPoint loop.

        ``ids``: int array-like (n,); ``vectors``: float array-like
        (n, dim). Rows whose width differs from ``params.dim`` are
        rejected (ValueError — a local caller constructed them, so a
        silent filter would hide a bug, unlike the DataFrame tier's
        declarative dimension filter over arbitrary tables). Past
        ``BROADCAST_TIER_MAX_BYTES`` (judged after the ``max_points``
        cap) it raises the ``MemoryError`` that :meth:`build` raises."""
        params = dataclasses.replace(params)
        params.validate()
        V = np.asarray(vectors, dtype=np.float32)
        if V.ndim != 2 or V.shape[1] != params.dim:
            raise ValueError(
                f"build_local: vectors shape {V.shape} != (n, {params.dim})"
            )
        iv = np.asarray(ids, dtype=np.int64)
        if iv.shape[0] != V.shape[0]:
            raise ValueError(
                f"build_local: {iv.shape[0]} ids for {V.shape[0]} vectors"
            )
        if params.max_points and iv.shape[0] > params.max_points:
            # cap BEFORE the tier-ceiling check — build() applies its
            # orderBy/limit before the pull, so the ceiling judges the
            # capped row set on both tiers
            order = np.argsort(iv, kind="stable")[: params.max_points]
            order.sort()
            iv, V = iv[order], V[order]
        cls._check_tier(V.shape[0] * params.dim * 4)
        if params.metric == "ip" and params.mips_m is None:
            params.mips_m = float(
                np.sqrt((V.astype(np.float64) ** 2).sum(axis=1)).max()
                if V.size
                else 0.0
            )
        pdf = pd.DataFrame({"vec_id": iv, "embedding": list(V)})
        if pdf.empty:
            raise ValueError("build_local: no input rows")
        return cls._build_from_pandas(spark, pdf, params)

    @staticmethod
    def _build_from_pandas(
        spark, pdf: "pd.DataFrame", params: VamanaParams, pts: Optional[DataFrame] = None
    ) -> "VamanaIndex":
        """Shared tail of the driver-local build tiers: kernel over a
        staged (vec_id, embedding) pandas frame. ``pts`` (when the
        caller holds the source DataFrame) lets the deferred relation
        reuse the original scan for points_df; without it the relation
        is reconstructed from the staged frame."""
        pdf = pdf.sort_values("vec_id", kind="mergesort")
        P = np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
        Pt = _metric_transform(P, params.metric, params.mips_m)
        graph, medoid = kernels.build_graph(
            Pt, params.R, params.L, params.alpha, params.seed
        )
        params.n = int(Pt.shape[0])
        params.medoid = int(medoid)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        indptr, nbrs = kernels._to_csr(
            [np.asarray(g, dtype=np.int64) for g in graph], len(graph)
        )
        if pts is not None:
            def points(ord_map):
                return pts.join(F.broadcast(ord_map), "vec_id").select(
                    "vec_id", "ordinal", "embedding"
                )
        else:
            # build_local: no source DataFrame exists — the staged
            # vectors ARE the point set
            def points(ord_map):
                return _rows_df(
                    spark,
                    POINTS_SCHEMA,
                    vec_id=ids,
                    ordinal=np.arange(len(ids)),
                    embedding=P.tolist(),
                )
        return _local_index(spark, params, (Pt, ids, indptr, nbrs), points)

    @staticmethod
    def _build_sharded(
        spark,
        pts: DataFrame,
        params: VamanaParams,
        phase_timings: Optional[dict] = None,
    ) -> "VamanaIndex":
        """Sharded build (DiskANN §4 recipe, SURVEY.md §7 M3 scale path).

        1. Pick ``num_shards`` centers from a seeded sample.
        2. Assign every point to its 2 nearest centers (overlap stitches
           the shards into one navigable graph).
        3. ``applyInPandas`` per shard: local Vamana build over the
           shard's points, emitting GLOBAL-ordinal adjacency.
        4. Union shard edges; degree-cap re-prune per node with the
           paper's RobustPrune inside one more ``applyInPandas``.

        ``phase_timings``: when a dict is passed, per-phase wall seconds
        land in it (checkpoint / centers / assign+shard kernels / prune).
        Diagnostic only — it forces the shard-edge stage to materialize
        separately, which the fused production plan doesn't.
        """
        S = params.num_shards
        _t0 = time.perf_counter()
        # materialize once: the shard pipeline traverses pts five times
        # (center sample, assign, edge joins, count, medoid) — without this
        # every traversal replays the scan + ordinal assignment
        pts = pts.localCheckpoint(eager=True)
        if phase_timings is not None:
            phase_timings["checkpoint_pts_sec"] = round(time.perf_counter() - _t0, 3)
            _t0 = time.perf_counter()
        # balanced centers: a few Lloyd iterations over a seeded sample.
        # Random picks leave Voronoi cells skewed 10x, and the per-shard
        # build is superlinear in shard size — one fat shard straggles the
        # whole stage. Sample + refine costs one small driver job.
        sample_pdf = (
            pts.select("ordinal", "embedding")
            .orderBy(F.xxhash64(F.col("ordinal") + F.lit(params.seed)))
            .limit(max(64 * S, 4096))
            .toPandas()
        )
        X = np.stack(sample_pdf["embedding"].to_numpy()).astype(np.float32)
        X = _metric_transform(X, params.metric, params.mips_m)
        C = X[:S].copy()
        for _ in range(8):
            d = exact._dist_matrix(X, C, "l2sq")
            a = d.argmin(axis=1)
            for j in range(S):
                mask = a == j
                if mask.any():
                    C[j] = X[mask].mean(axis=0)
        bc = spark.sparkContext.broadcast(C)
        if phase_timings is not None:
            phase_timings["centers_sec"] = round(time.perf_counter() - _t0, 3)
            _t0 = time.perf_counter()

        # carry the embedding THROUGH assignment instead of joining it
        # back afterwards: build_shard needs only (ordinal, embedding), so
        # emitting both here turns [mapInPandas → shuffle-join pts →
        # shuffle groupBy(shard)] into [mapInPandas → shuffle
        # groupBy(shard)] — one full shuffle of the point set saved
        assign_schema = "ordinal long, shard int, embedding array<float>"
        ell = min(params.shard_overlap, S)

        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            Cv = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
                X = _metric_transform(X, params.metric, params.mips_m)
                d = exact._dist_matrix(X, Cv, "l2sq")
                near = np.argsort(d, axis=1)[:, :ell]
                out = pd.DataFrame(
                    {
                        "ordinal": np.repeat(pdf["ordinal"].to_numpy(), ell),
                        "shard": near.ravel().astype(np.int32),
                        "embedding": pdf["embedding"].to_numpy().repeat(ell),
                    }
                )
                yield out

        sharded = pts.select("ordinal", "embedding").mapInPandas(
            assign, schema=assign_schema
        )

        # per-node adjacency ARRAYS, not exploded (src, dst) pairs: the
        # merge shuffle then moves n*overlap array rows instead of
        # n*overlap*R scalar rows (~16x fewer rows for R=32), and the
        # downstream merge is a cheap flatten instead of a million-row
        # collect_set
        edge_schema = "src long, dsts array<long>"
        R, L, alpha, seed, metric = params.R, params.L, params.alpha, params.seed, params.metric
        mips_m = params.mips_m

        def build_shard(key, pdf):
            pdf = pdf.sort_values("ordinal").reset_index(drop=True)
            P = np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
            P = _metric_transform(P, metric, mips_m)
            ords = pdf["ordinal"].to_numpy(dtype=np.int64)
            graph, _ = kernels.build_graph(P, R, L, alpha, seed + int(key[0]))
            return pd.DataFrame(
                {
                    "src": ords,
                    "dsts": [ords[np.asarray(g, dtype=np.int64)] for g in graph],
                }
            )

        edges = sharded.groupBy("shard").applyInPandas(build_shard, schema=edge_schema)
        if phase_timings is not None:
            # force the assign + per-shard-kernel stage on its own so its
            # cost is separable from the prune/fix-up that follows
            edges = edges.localCheckpoint(eager=True)
            phase_timings["assign_shard_kernels_sec"] = round(
                time.perf_counter() - _t0, 3
            )
            _t0 = time.perf_counter()

        # Degree-cap re-prune: nodes over R (union of 2 shard builds) get the
        # paper prune over their merged candidate set.
        prune_schema = "ordinal long, neighbors array<long>"
        alpha_f = float(params.alpha)
        # ONE narrow shuffle of per-node arrays; flatten+distinct merges
        # the overlap-shard duplicates without a row-per-edge explosion.
        # Explicit hash repartition: left to AQE, the small edge
        # bytes coalesce the post-shuffle stage to ~1 partition,
        # serializing the CPU-bound Python re-prune that follows — bytes
        # are the wrong proxy for Python CPU (guide §2.5/§4). The
        # explicit count is core-derived, not a constant, so cluster
        # runs scale with their parallelism; groupBy on the same key and
        # count reuses the exchange (guide §2.4). Measured interleaved
        # A/B at sf0.1: prune tail 3.7 s -> 1.5 s.
        agg = (
            edges.repartition(
                spark.sparkContext.defaultParallelism, "src"
            )
            .groupBy("src")
            .agg(
                F.array_distinct(F.flatten(F.collect_list("dsts"))).alias(
                    "dsts"
                )
            )
        )

        n_total = pts.count()
        if n_total * params.dim * 4 <= VamanaIndex.BROADCAST_TIER_MAX_BYTES:
            # broadcast tier: vectors come from a broadcast matrix, the
            # prune runs lockstep over whole Arrow batches — no embedding
            # joins, no per-node Python calls
            # no Spark-side orderBy (a full sort shuffle of the point set);
            # collect unordered and argsort the ordinals driver-side
            ppdf = pts.select("ordinal", "embedding").toPandas()
            _ord = np.argsort(ppdf["ordinal"].to_numpy(dtype=np.int64), kind="stable")
            ppdf = ppdf.iloc[_ord].reset_index(drop=True)
            Pmat = np.stack(ppdf["embedding"].to_numpy()).astype(np.float32)
            Pmat = _metric_transform(Pmat, metric, mips_m)
            bP = spark.sparkContext.broadcast(Pmat)
            # medoid for free off the in-hand matrix (l2sq: transform is
            # identity) — same centroid-nearest definition as medoid_approx
            if params.metric == "l2sq":
                cdiff = Pmat.astype(np.float64) - Pmat.mean(
                    axis=0, dtype=np.float64
                )
                medoid_ordinal = int(np.einsum("ij,ij->i", cdiff, cdiff).argmin())
            else:
                medoid_ordinal = 0

            def prune_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                Pv = bP.value
                for pdf in batches:
                    if pdf.empty:
                        continue
                    srcs = pdf["ordinal"].to_numpy(dtype=np.int64)
                    yield pd.DataFrame(
                        {
                            "ordinal": srcs,
                            "neighbors": _pad_prune_rows(
                                Pv, srcs, pdf["dsts"].to_list(), alpha_f, R
                            ),
                        }
                    )

            graph_df = agg.select(
                F.col("src").alias("ordinal"), "dsts"
            ).mapInPandas(prune_batches, schema=prune_schema)
        else:
            # beyond-broadcast tier: co-locate candidate vectors via joins
            # (heavier but unbounded), then batch-prune per partition
            dstv = pts.select(
                F.col("ordinal").alias("dst"), F.col("embedding").alias("dst_vec")
            )
            srcv = pts.select(
                F.col("ordinal").alias("src"), F.col("embedding").alias("src_vec")
            )
            cand_df = (
                agg.select("src", F.explode("dsts").alias("dst"))
                .join(dstv, "dst")
                .join(srcv, "src")
            )

            def prune_group(key, pdf):
                src = int(key[0])
                dsts = pdf["dst"].to_numpy(dtype=np.int64)
                if dsts.size <= R:
                    return pd.DataFrame({"ordinal": [src], "neighbors": [dsts]})
                V = np.stack(pdf["dst_vec"].to_numpy()).astype(np.float32)
                V = _metric_transform(V, metric, mips_m)
                sv = np.asarray(pdf["src_vec"].iloc[0], dtype=np.float32)
                sv = _metric_transform(sv[None, :], metric, mips_m)[0]
                diff = V - sv
                d = np.einsum("ij,ij->i", diff, diff)
                Psub = np.vstack([V, sv[None, :]])
                local = kernels.robust_prune(
                    Psub, Psub.shape[0] - 1, np.arange(V.shape[0]), d, alpha_f, R
                )
                return pd.DataFrame({"ordinal": [src], "neighbors": [dsts[local]]})

            graph_df = cand_df.groupBy("src").applyInPandas(
                prune_group, schema=prune_schema
            )
            medoid_ordinal = int(
                pts.where(F.col("vec_id") == exact.medoid_approx(pts)).first()[
                    "ordinal"
                ]
            ) if params.metric == "l2sq" else 0

        # materialize the graph: searches call _load_local (twice: points +
        # graph) and would otherwise replay the entire shard build per call
        graph_df = graph_df.localCheckpoint(eager=True)
        # defensive only: assignment puts every point in >=1 shard and the
        # shard kernels emit a row per input node (possibly empty-adjacency),
        # so the anti-join repair runs ONLY when the cheap post-checkpoint
        # count disagrees — not as an unconditional shuffle on every build
        if graph_df.count() != n_total:
            missing = pts.select("ordinal").join(
                graph_df.select("ordinal"), "ordinal", "left_anti"
            ).withColumn("neighbors", F.array().cast("array<long>"))
            graph_df = graph_df.unionByName(missing).localCheckpoint(eager=True)
        if phase_timings is not None:
            phase_timings["prune_fixup_sec"] = round(time.perf_counter() - _t0, 3)
        # the eager checkpoint above materialized every plan that read
        # these broadcasts — free the executor blocks now rather than
        # waiting on driver GC (repeated builds otherwise accumulate)
        bc.destroy()
        if "bP" in locals():
            bP.destroy()

        params.n = n_total
        params.medoid = medoid_ordinal
        points_df = pts.select("vec_id", "ordinal", "embedding")
        return VamanaIndex(spark, params, points_df, graph_df)

    # ----------------------------------------------------------------- search

    # soft ceiling for the broadcast tier: past this, loading the matrix on
    # the driver / broadcasting per-executor stops being the right design
    BROADCAST_TIER_MAX_BYTES = 2 * 1024**3

    @staticmethod
    def _plan_size_bytes(df: DataFrame):
        """Catalyst's size estimate for the plan — free (no Spark job).
        None when the JVM call fails (exotic plan nodes)."""
        try:
            return int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            return None

    @classmethod
    def _check_tier(cls, est: int) -> None:
        """MemoryError when ``est`` bytes of float32 points pass the
        broadcast-tier ceiling — past it the index does not fit the
        driver, and PartitionedVamanaIndex is the index to use."""
        if est > cls.BROADCAST_TIER_MAX_BYTES:
            raise MemoryError(
                f"index ~{est/1e9:.1f} GB exceeds the broadcast tier "
                f"ceiling ({cls.BROADCAST_TIER_MAX_BYTES/1e9:.0f} GB); "
                "build a PartitionedVamanaIndex instead "
                "(vamana_spark.index.partitioned)"
            )

    def _load_local(self) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """(P, ids, indptr, nbrs) — the broadcastable in-memory form."""
        if self._local is None:
            self._check_tier((self.params.n or 0) * self.params.dim * 4)
            pdf = self.points_df.select("ordinal", "vec_id", "embedding").orderBy(
                "ordinal"
            ).toPandas()
            P = np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
            P = _metric_transform(P, self.params.metric, self.params.mips_m)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            gpdf = self.graph_df.orderBy("ordinal").toPandas()
            graph = [np.asarray(g, dtype=np.int64) for g in gpdf["neighbors"]]
            indptr, nbrs = kernels._to_csr(graph, len(graph))
            self._local = (P, ids, indptr, nbrs)
        return self._local

    def _entry_seeds(self) -> np.ndarray:
        """The ordinals each search routes its queries to
        (``kernels.entry_seeds`` over the metric-transformed points)."""
        if self._seeds is None:
            self._seeds = kernels.entry_seeds(self._load_local()[0], self.params.seed)
        return self._seeds

    def search(
        self,
        queries: DataFrame,
        k: int,
        ef_search: Optional[int] = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        starts: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Batch top-k ANN search (reference: Search, vamana.h:492-546).

        Returns (query_id, vec_id, dist, rank, hops, dist_comps). The
        index is broadcast once; queries are partition-parallel.

        Entry: each query's walk starts at its nearest entry seed
        (``kernels.route_to_seeds``, one (nq × S) product per Arrow
        batch), and its ``dist_comps`` counts those S seed distances. A
        row of ``starts`` (``query_id``, ``start_ordinal``) overrides
        that start; a null ``start_ordinal`` is routed like a row with no
        start. On the perfbench 5k blob corpus at ef=32 routing cuts the
        distance computations per query from ~760 to ~430 at equal
        recall.

        Query fan-out: when Catalyst knows the batch's row count (as for
        ``createDataFrame(pandas)``), the queries run in
        ``min(defaultParallelism, ceil(rows / MIN_QUERIES_PER_TASK))``
        tasks, merged by ``coalesce`` (no shuffle). Every Python task
        pays a fixed worker CPU cost (~0.07 s; see
        :func:`~vamana_spark.functions.util.ensure_parallelism`), so a
        500-query batch on 4 cores costs less CPU in 2 tasks than in 4.
        With the row count unknown (file scans) the queries keep their
        partitions unless there are too few for the cores. On
        the kernel's bitmap path (every Arrow batch with rows x n <=
        ``kernels.BITMAP_MAX_CELLS``) each query row is searched alone,
        so the fan-out does not change results.
        """
        ef = int(ef_search or self.params.ef_search)
        metric = self.params.metric
        mips_m = self.params.mips_m
        # pad ONCE driver-side and broadcast the search-ready form, cached
        # on the instance — re-broadcasting per call re-ships the index
        if self._bcast is None:
            P, ids, indptr, nbrs = self._load_local()
            self._bcast = self.spark.sparkContext.broadcast(
                (
                    P,
                    ids,
                    kernels.pad_adjacency(indptr, nbrs, P.shape[0]),
                    self._entry_seeds(),
                )
            )
        bidx = self._bcast

        from vamana_spark.functions.util import ensure_parallelism

        # queries scale out across cores/executors — a single-split query
        # file must not serialize the whole batch onto one task — but a
        # small batch of known size runs in few tasks
        qsel = ensure_parallelism(
            queries.select(
                F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
            ),
            min_rows_per_task=MIN_QUERIES_PER_TASK,
        )
        if starts is not None:
            qsel = qsel.join(starts, "query_id", "left")
            has_start = True
        else:
            has_start = False

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            P, ids, nbr_mat, seeds = bidx.value
            for pdf in batches:
                if pdf.empty:
                    continue
                Q = np.stack(pdf["qv"].to_numpy()).astype(np.float32)
                if metric == "ip":
                    Qd = Q.astype(np.float64)
                    qn2 = np.einsum("ij,ij->i", Qd, Qd)
                Q = _metric_transform(Q, metric, mips_m, query=True)
                qids = pdf["query_id"].to_numpy(dtype=np.int64)
                routed = np.ones(len(qids), dtype=bool)
                starts = np.zeros(len(qids), dtype=np.int64)
                if has_start and "start_ordinal" in pdf.columns:
                    so = pdf["start_ordinal"].to_numpy()
                    routed = pd.isna(so)
                    starts[~routed] = so[~routed].astype(np.int64)
                starts[routed] = kernels.route_to_seeds(P, seeds, Q[routed])
                # every row has a start, so the kernel's medoid default is unused
                rq, rid, rd, hops, comps = kernels.search_topk_batch(
                    P, nbr_mat, None, Q, k, ef, starts=starts
                )
                comps[routed] += seeds.size
                if metric == "ip":
                    # augmented-L2 back to -<q,x>: rd = ||q||^2 + M^2 - 2<q,x>
                    rd = (rd - qn2[rq] - float(mips_m) ** 2) / 2.0
                elif metric == "cosine":
                    # normalized-space L2^2 = 2(1-cos) -> report true
                    # cosine distance, matching the exact oracle's scale
                    rd = rd / 2.0
                elif metric == "l2":
                    rd = np.sqrt(rd)
                # ranks ascend within each query's contiguous result block
                rank = np.ones(rq.size, dtype=np.int32)
                if rq.size:
                    new_block = np.concatenate([[True], rq[1:] != rq[:-1]])
                    rank = (
                        np.arange(rq.size) -
                        np.maximum.accumulate(np.where(new_block, np.arange(rq.size), 0))
                        + 1
                    ).astype(np.int32)
                yield pd.DataFrame(
                    {
                        "query_id": qids[rq],
                        "vec_id": ids[rid],
                        "dist": rd,
                        "rank": rank,
                        "hops": hops[rq],
                        "dist_comps": comps[rq],
                    }
                )

        return qsel.mapInPandas(run, schema=SEARCH_SCHEMA)

    def search_with_start(
        self,
        queries: DataFrame,
        starts: DataFrame,
        k: int,
        ef_search: Optional[int] = None,
        query_id_col: str = "query_id",
        start_vec_col: str = "start_vec",
    ) -> DataFrame:
        """Reference: SearchWithStartPoint (vamana.h:426-489) — resolve each
        start vector to the nearest dataset point (exact 1-NN scan,
        vamana.h:441-449), then beam-search from there."""
        resolved = exact.nearest_point(
            self.points_df,
            starts.select(query_id_col, F.col(start_vec_col).alias("query_vec")),
            metric=self.params.metric,
            exclude_self=False,
        ).select("query_id", F.col("vec_id").alias("_start_vec_id"))
        with_ord = resolved.join(
            self.points_df.select(
                F.col("vec_id").alias("_start_vec_id"),
                F.col("ordinal").alias("start_ordinal"),
            ),
            "_start_vec_id",
        ).select("query_id", "start_ordinal")
        return self.search(
            queries, k, ef_search, query_id_col=query_id_col, starts=with_ord
        )

    def range_search(
        self,
        queries: DataFrame,
        radius: float,
        ef_search: Optional[int] = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
    ) -> DataFrame:
        """Approximate radius query: beam-search each query, keep visited
        points with dist <= radius. Returns (query_id, vec_id, dist).

        The beam explores ``ef_search`` candidates, so recall degrades
        when a radius ball holds far more than ``ef_search`` points —
        size ef_search ≳ expected ball cardinality, or use
        ``exact.range_search`` (zero-shuffle scan) when the ball is a
        large fraction of the dataset anyway.
        """
        ef = int(ef_search or self.params.ef_search)
        out = self.search(
            queries,
            k=ef,
            ef_search=ef,
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
        overfetch: int = 8,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        label_col: str = "label",
        want_col: str = "want_label",
    ) -> DataFrame:
        """Filtered ANN (predicate + vector): top-k among base points
        whose ``label_col`` matches the query's ``want_col``.

        Post-filter with over-retrieval: the beam retrieves
        ``k * overfetch`` candidates (ef widened to match), then each
        query keeps its k nearest label-matching hits
        (:func:`_label_post_filter`, a declarative join + window, so
        Catalyst broadcasts small label tables and shuffle-joins
        dataset-sized ones on vec_id, never a cross product).
        Sound for moderately selective predicates (selectivity ≳
        1/overfetch of the beam); for needle-in-haystack labels use
        :func:`exact.exact_knn_filtered`, whose scan cost is unchanged
        by selectivity.
        """
        ef = max(int(ef_search or self.params.ef_search), k * int(overfetch))
        hits = self.search(
            queries.select(query_id_col, query_vec_col),
            k=ef,
            ef_search=ef,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )
        return _label_post_filter(
            hits, queries, labels, k, query_id_col, label_col, want_col
        )

    # ------------------------------------------------------------ maintenance

    def add_points(
        self, new_df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> "VamanaIndex":
        """Incremental insert with graph repair (FreshDiskANN insert;
        the SAFE version of the reference's AddPoint-after-build,
        vamana.h:98-111, which leaves new nodes unwired — SURVEY §1.4).
        Returns a NEW index; complements ``delete_points``.

        The new points are wired in one ``kernels._wire_round``, the
        insert rule the build runs: per new point p, beam-search the
        existing graph from the medoid, RobustPrune the L nearest
        visited nodes plus seeded random candidates to wire N(p), then
        append p to each admitted neighbor u, re-pruning u only if it
        went over the degree cap (vamana.h:270-287).

        Driver-local shape: the index's (points, graph) arrays from
        :meth:`_load_local` — so the broadcast-tier ceiling applies
        (``MemoryError`` past ``BROADCAST_TIER_MAX_BYTES``; a larger
        index is a ``PartitionedVamanaIndex``) — plus one Spark job that
        collects ``new_df``. The wiring and the fix-up run as numpy on
        the driver; the new index keeps its arrays cached for search and
        builds its DataFrame view only when a consumer first touches it.
        New points get ordinals ``n..n+m-1`` in ascending vec_id.

        Ids already in the index are dropped, and of several rows with
        the same new vec_id only the first in ``new_df``'s row order is
        kept (vec_id is the identity, §1.4). ``max_points`` is enforced
        like the reference's capacity check (vamana.h:102-104).
        """
        params = self.params
        P, ids, indptr, nbrs = self._load_local()  # transformed space
        pdf = (
            new_df.select(
                F.col(id_col).cast("long").alias("vec_id"),
                F.col(vec_col).alias("embedding"),
            )
            .where(F.size(vec_col) == params.dim)
            .toPandas()
        )
        pdf = pdf.drop_duplicates("vec_id", keep="first")
        pdf = pdf[~np.isin(pdf["vec_id"].to_numpy(dtype=np.int64), ids)]
        m = len(pdf)
        if m == 0:
            return self
        n_old = P.shape[0]
        if params.max_points and n_old + m > params.max_points:
            raise ValueError(
                f"add_points: capacity exceeded ({n_old}+{m} > "
                f"max_points={params.max_points})"
            )
        pdf = pdf.sort_values("vec_id", kind="mergesort")
        new_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        V = np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
        if params.metric == "ip":
            norms = np.linalg.norm(V.astype(np.float64), axis=1)
            if norms.max() > float(params.mips_m) * (1 + 1e-6):
                raise ValueError(
                    "add_points: new point norm exceeds the build-time "
                    "mips_m — the MIPS->L2 augmentation of EVERY point "
                    "depends on the max norm, so rebuild the index"
                )
        Tnew = _metric_transform(V, params.metric, params.mips_m)
        P_all = np.vstack([P, Tnew])
        R = int(params.R)

        # one wiring round over the new ordinals; their rows start empty,
        # so the round's search walks only the old graph
        M = kernels.pad_adjacency(indptr, nbrs, n_old)
        adj = np.pad(M, ((0, m), (0, max(R - M.shape[1], 0))), constant_values=-1)
        kernels._wire_round(
            P_all, adj, np.arange(n_old, n_old + m),
            int(params.medoid if params.medoid is not None else 0),
            int(params.L), float(params.alpha), R,
            np.random.default_rng(params.seed),
        )
        has = adj >= 0
        indptr2 = np.concatenate([[0], np.cumsum(has.sum(axis=1))])
        nbrs2 = adj[has]

        new_params = dataclasses.replace(params)
        new_params.n = n_old + m

        old_points = self._points_source()

        def points(ord_map):
            return old_points().unionByName(
                _rows_df(
                    self.spark,
                    POINTS_SCHEMA,
                    vec_id=new_ids,
                    ordinal=np.arange(n_old, n_old + m),
                    embedding=V.tolist(),
                )
            )

        return _local_index(
            self.spark,
            new_params,
            (P_all, np.concatenate([ids, new_ids]), indptr2, nbrs2),
            points,
        )

    def delete_points(self, ids: DataFrame, id_col: str = "vec_id") -> "VamanaIndex":
        """Delete points and repair the graph (FreshDiskANN-style
        consolidate; complements ``add_points`` for full incremental
        maintenance). Returns a NEW index.

        For every surviving node u that pointed at a deleted node d, the
        candidate set becomes (N(u) \\ D) ∪ (∪_{d∈N(u)∩D} N(d) \\ D)
        without u — deleted nodes are bridged through, then RobustPrune
        re-caps the degree; a node left with no candidate keeps an empty
        row. Nodes with no deleted neighbor keep their adjacency.
        Survivors keep their relative ordinal order, renumbered densely
        (ascending vec_id for an index from :meth:`build`). The medoid
        stays if it survives, else the survivors' centroid-nearest point
        becomes the entry.

        Driver-local shape: the index's arrays from :meth:`_load_local`
        (the broadcast-tier ceiling applies, as for ``add_points``) plus
        one Spark job that collects ``ids``; the repair is numpy on the
        driver, and the new index's DataFrame view is built only when a
        consumer first touches it.
        """
        P, vids, indptr, nbrs = self._load_local()
        gone = (
            ids.select(F.col(id_col).cast("long").alias("vec_id"))
            .toPandas()["vec_id"]
            .dropna()
            .to_numpy(dtype=np.int64)
        )
        dead = np.isin(vids, gone)
        live = ~dead
        if not live.any():
            raise ValueError("delete_points: all points deleted")
        n = P.shape[0]
        rows = np.split(nbrs, indptr[1:-1])
        src = np.repeat(np.arange(n), np.diff(indptr))
        affected = np.unique(src[dead[nbrs] & live[src]])
        cands = []
        for u in affected:
            c = np.concatenate([rows[u]] + [rows[d] for d in rows[u][dead[rows[u]]]])
            cands.append(np.unique(c[live[c] & (c != u)]))
        pruned = _pad_prune_rows(
            P, affected, cands, float(self.params.alpha), int(self.params.R)
        )
        for u, row in zip(affected, pruned):
            rows[u] = row

        remap = np.cumsum(live) - 1
        n_new = int(live.sum())
        indptr2, nbrs2 = kernels._to_csr(
            [remap[rows[u]] for u in np.flatnonzero(live)], n_new
        )
        P2 = P[live]
        new_params = dataclasses.replace(self.params)
        new_params.n = n_new
        old_medoid = int(self.params.medoid or 0)
        new_params.medoid = (
            int(remap[old_medoid])
            if old_medoid < n and live[old_medoid]
            else kernels.medoid_of(P2)
        )

        old_points = self._points_source()

        def points(ord_map):
            return (
                old_points().select("vec_id", "embedding")
                .join(F.broadcast(ord_map), "vec_id")
                .select("vec_id", "ordinal", "embedding")
            )

        return _local_index(
            self.spark, new_params, (P2, vids[live], indptr2, nbrs2), points
        )

    # ------------------------------------------------------------ point/meta

    def get_point(self, vec_id: int) -> DataFrame:
        """Reference: GetPoint (vamana.h:549-555) — keyed by vec_id (§1.4)."""
        return self.points_df.where(F.col("vec_id") == vec_id).select(
            "vec_id", "embedding"
        )

    @property
    def data_size(self) -> int:
        return self.params.n or self.points_df.count()

    def describe(self) -> dict:
        """Reference: PrintParams / getters (vamana.h:41-53)."""
        return json.loads(self.params.to_json())

    def degree_stats(self) -> DataFrame:
        """Reference: healthCheck (vamana.h:705-720), as a real operator:
        per-node out-degree plus global max/avg."""
        return self.graph_df.select(
            F.col("ordinal"), F.size("neighbors").alias("out_degree")
        )

    def health_check(self) -> dict:
        """Graph health: ``ok`` when every out-degree is at most R, the
        degree figures, ``entry_points`` (the number of entry seeds
        searches route to) and ``self_recall_at_10``: recall@10 of a
        seeded sample of at most ``HEALTH_SAMPLE`` indexed points,
        searched from their routed seeds at ``params.ef_search``,
        against ``kernels.brute_topk_batch`` over the driver-local
        arrays. Degree checks alone miss a graph whose entry strands
        queries in one cluster; the self-recall does not. Like search,
        it needs the driver-local arrays (``MemoryError`` past
        ``BROADCAST_TIER_MAX_BYTES``)."""
        row = (
            self.degree_stats()
            .agg(
                F.max("out_degree").alias("max_deg"),
                F.avg("out_degree").alias("avg_deg"),
                F.count("*").alias("n"),
            )
            .first()
        )
        ok = row["max_deg"] is None or row["max_deg"] <= self.params.R
        P, _, indptr, nbrs = self._load_local()
        seeds = self._entry_seeds()
        n = P.shape[0]
        rng = np.random.default_rng(self.params.seed)
        Q = P[np.sort(rng.choice(n, min(n, HEALTH_SAMPLE), replace=False))]
        rq, rid, *_ = kernels.search_topk_batch(
            P, kernels.pad_adjacency(indptr, nbrs, n), None, Q, 10,
            int(self.params.ef_search), starts=kernels.route_to_seeds(P, seeds, Q),
        )
        tq, tid, _ = kernels.brute_topk_batch(P, Q, 10)
        return {
            "ok": bool(ok),
            "max_degree": row["max_deg"],
            "avg_degree": row["avg_deg"],
            "n": row["n"],
            "R": self.params.R,
            "entry_points": int(seeds.size),
            "self_recall_at_10": np.intersect1d(rq * n + rid, tq * n + tid).size / tq.size,
        }

    # ------------------------------------------------------------- persist

    def save(self, path: str) -> None:
        """Directory-of-Parquet index format (SURVEY.md §1.3): points/,
        graph/, _meta.json. Replaces the reference's binary blob
        (SaveIndex, vamana.h:390-424) with a splittable layout."""
        self.points_df.write.mode("overwrite").parquet(os.path.join(path, "points"))
        self.graph_df.write.mode("overwrite").parquet(os.path.join(path, "graph"))
        with open(os.path.join(path, "_meta.json"), "w") as f:
            f.write(self.params.to_json())

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "VamanaIndex":
        """Reference: file constructor (vamana.h:55-96)."""
        with open(os.path.join(path, "_meta.json")) as f:
            params = VamanaParams.from_json(f.read())
        points_df = spark.read.parquet(os.path.join(path, "points"))
        graph_df = spark.read.parquet(os.path.join(path, "graph"))
        return cls(spark, params, points_df, graph_df)


def _pad_prune_rows(Pv, srcs, lists, alpha: float, R: int):
    """Shared pad-candidates-and-RobustPrune step used by the sharded
    build's degree-cap re-prune and delete_points' consolidate:
    ragged candidate lists -> (-1)-padded matrix -> robust_prune_gather
    -> stripped adjacency rows (a row with no candidates stays empty)."""
    C = max((len(x) for x in lists), default=0)
    cand = np.full((len(lists), C), -1, dtype=np.int64)
    for i, x in enumerate(lists):
        cand[i, : len(x)] = x
    pruned = kernels.robust_prune_gather(Pv, srcs, cand, alpha, R)
    return [row[row >= 0] for row in pruned]


def _label_post_filter(
    hits: DataFrame,
    queries: DataFrame,
    labels: DataFrame,
    k: int,
    query_id_col: str,
    label_col: str,
    want_col: str,
) -> DataFrame:
    """The post-filter of both tiers' ``search_filtered``: each query's
    k nearest ``hits`` whose label (``labels.label_col`` by vec_id)
    equals the query's ``want_col``, ranked by (dist, vec_id). The
    per-query wants are broadcast; the labels carry no hint, because
    they can be as large as the indexed set — Catalyst broadcasts a
    small label table on its own and shuffle-joins a large one."""
    wants = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(want_col).alias("_want")
    )
    lab = labels.select("vec_id", F.col(label_col).alias("_lbl"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        hits.join(F.broadcast(wants), "query_id")
        .join(lab, "vec_id")
        .where(F.col("_lbl") == F.col("_want"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "dist", "rank")
    )


def _rows_df(spark: SparkSession, schema: str, **cols) -> DataFrame:
    """A local relation from equal-length driver columns, named as in
    ``schema``. Array cells must be plain Python lists: with Arrow
    conversion on, the frame goes over as one columnar write, and the
    no-Arrow path, which walks the rows and rejects numpy elements inside
    arrays, takes them as well."""
    return spark.createDataFrame(pd.DataFrame(cols), schema)


def _local_index(spark, params: VamanaParams, local, points) -> VamanaIndex:
    """A VamanaIndex over driver arrays ``local`` = (P, ids, indptr, nbrs)
    in ordinal order: searches run off ``_local`` directly, and the
    DataFrame view waits behind ``_rel_thunk`` until a consumer (save,
    get_point, diagnostics) first touches it. ``points(ord_map)`` returns
    the points relation, given the (vec_id, ordinal) map of this index."""
    _, ids, indptr, nbrs = local

    def make_rel():
        # ONE local relation carries both the adjacency and the
        # (vec_id, ordinal) map
        flat, ptr = nbrs.tolist(), indptr.tolist()
        combined = _rows_df(
            spark,
            "ordinal long, vec_id long, neighbors array<long>",
            ordinal=np.arange(len(ids)),
            vec_id=ids,
            neighbors=[flat[a:b] for a, b in zip(ptr[:-1], ptr[1:])],
        )
        return (
            points(combined.select("vec_id", "ordinal")),
            combined.select("ordinal", "neighbors"),
        )

    idx = VamanaIndex(spark, params, None, None)
    idx._rel_thunk = make_rel
    idx._local = local
    return idx


def _metric_transform(
    X: np.ndarray,
    metric: str,
    mips_m: "float | None" = None,
    query: bool = False,
) -> np.ndarray:
    """Reduce every metric to L2 geometry so one kernel serves all.

    - cosine: normalize rows (symmetric).
    - ip: the exact MIPS->L2 reduction (Bachrach et al., RecSys'14 /
      the XBOX transform): data rows gain a component
      sqrt(M^2 - ||x||^2) with M = max data norm; query rows gain 0.
      Then ||q' - x'||^2 = ||q||^2 + M^2 - 2<q,x>, so ascending L2 in
      the augmented space IS descending inner product — graph build and
      beam search need no metric-specific logic. The search path maps
      distances back to -<q,x> for output.
    """
    if metric == "cosine":
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return (X / norms).astype(np.float32)
    if metric == "ip":
        if mips_m is None:
            raise ValueError("metric='ip' requires mips_m (set at build)")
        if query:
            aug = np.zeros((X.shape[0], 1), dtype=np.float32)
        else:
            n2 = np.einsum("ij,ij->i", X.astype(np.float64), X.astype(np.float64))
            aug = np.sqrt(np.maximum(float(mips_m) ** 2 - n2, 0.0))[:, None].astype(
                np.float32
            )
        return np.hstack([X.astype(np.float32), aug])
    return X
