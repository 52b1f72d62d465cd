"""Vamana index build/search/persist — the reference's E2E pattern:
build → search → recall vs brute force ≥ 0.8 (main.go:125-130), plus the
invariant suite (degree ≤ R, k results, ascending dists, round-trip)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vamana_spark import VamanaIndex, VamanaParams, exact, quality


@pytest.fixture(scope="module")
def built(spark, embeddings):
    params = VamanaParams(dim=64, alpha=1.2, R=32, L=64, ef_search=64, seed=42)
    return VamanaIndex.build(spark, embeddings, params)


@pytest.fixture(scope="module")
def queries(embeddings):
    return embeddings.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_degree_bound(built):
    hc = built.health_check()
    assert hc["ok"], hc
    assert hc["n"] == built.data_size


def test_search_invariants(built, queries):
    res = built.search(queries, k=10).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    nq = queries.count()
    assert len(by_q) == nq
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert len(rows) == 10
        ds = [r.dist for r in rows]
        assert ds == sorted(ds)
        assert rows[0].hops > 0 and rows[0].dist_comps > 0


def test_recall_vs_exact(built, queries, embeddings):
    approx = built.search(queries, k=10)
    truth = exact.exact_knn(embeddings, queries, k=10)
    r = quality.avg_recall(approx, truth, k=10)
    assert r >= 0.8, f"avg recall@10 = {r}"


def test_query_point_found_first(built, embeddings):
    # searching for a dataset point should surface it at rank 1 (dist 0)
    q = embeddings.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = built.search(q, k=3).where(F.col("rank") == 1).collect()
    hit = sum(1 for r in res if r.vec_id == r.query_id)
    assert hit >= 4  # allow duplicates-at-zero ties


def test_save_load_roundtrip(tmp_path, spark, built, queries):
    path = str(tmp_path / "idx")
    built.save(path)
    loaded = VamanaIndex.load(spark, path)
    assert loaded.describe() == built.describe()
    a = built.search(queries, k=5).collect()
    b = loaded.search(queries, k=5).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted((r.query_id, r.rank, r.vec_id) for r in a) == sorted(
        (r.query_id, r.rank, r.vec_id) for r in b
    )


def test_search_with_start(built, embeddings, spark):
    q = embeddings.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    starts = embeddings.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("start_vec")
    )
    res = built.search_with_start(q, starts, k=5).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        assert len(rows) == 5
        # start == query point → rank-1 hit is the point itself
        top = min(rows, key=lambda r: r.rank)
        assert top.dist == 0.0


def test_sharded_build_recall(spark, embeddings, queries):
    params = VamanaParams(
        dim=64, alpha=1.2, R=32, L=64, ef_search=96, seed=42, num_shards=4
    )
    idx = VamanaIndex.build(spark, embeddings, params)
    hc = idx.health_check()
    assert hc["ok"], hc
    truth = exact.exact_knn(embeddings, queries, k=10)
    r = quality.avg_recall(idx.search(queries, k=10), truth, k=10)
    assert r >= 0.8, f"sharded avg recall@10 = {r}"


def test_get_point(built):
    row = built.get_point(7).first()
    assert row is not None and row.vec_id == 7 and len(row.embedding) == 64


def test_bin_format_roundtrip(tmp_path, spark, built, queries):
    """Reference .bin layout (SURVEY §1.3) survives a save→load cycle with
    identical params, points, graph, and search results."""
    from vamana_spark.sources import vamana_bin

    path = str(tmp_path / "index.bin")
    vamana_bin.save_bin(built, path)
    loaded = vamana_bin.load_bin(spark, path)
    assert loaded.params.R == built.params.R
    assert loaded.params.medoid == built.params.medoid
    assert loaded.data_size == built.data_size
    a = built.search(queries, k=5).collect()
    b = loaded.search(queries, k=5).collect()
    assert sorted((r.query_id, r.rank, r.vec_id) for r in a) == sorted(
        (r.query_id, r.rank, r.vec_id) for r in b
    )


def test_cosine_metric_index_recall(spark, embeddings, queries):
    """Cosine-metric build + search: recall vs exact cosine kNN."""
    from vamana_spark import quality

    params = VamanaParams(
        dim=64, alpha=1.2, R=32, L=64, ef_search=96, seed=42, metric="cosine"
    )
    idx = VamanaIndex.build(spark, embeddings, params)
    truth = exact.exact_knn(embeddings, queries, k=10, metric="cosine")
    r = quality.avg_recall(idx.search(queries, k=10), truth, k=10)
    assert r >= 0.8, f"cosine recall@10 = {r}"


def test_bsp_build_recall(spark, embeddings, queries):
    """Bulk-synchronous distributed build (SURVEY §7 M3): recall parity
    with the single-kernel build."""
    from vamana_spark import quality
    from vamana_spark.index.bsp import build_bsp

    params = VamanaParams(dim=64, alpha=1.2, R=32, L=64, ef_search=96, seed=42)
    idx = build_bsp(spark, embeddings, params)
    hc = idx.health_check()
    assert hc["ok"], hc
    truth = exact.exact_knn(embeddings, queries, k=10)
    r = quality.avg_recall(idx.search(queries, k=10), truth, k=10)
    assert r >= 0.8, f"BSP build recall@10 = {r}"


def test_graph_fully_reachable_from_medoid(spark, built):
    """Navigability invariant: every node reachable from the entry point
    (distributed BFS over the adjacency DataFrame)."""
    from vamana_spark.index.diagnostics import degree_histogram, reachability

    rep = reachability(built.graph_df, built.params.medoid)
    assert rep["reachable_fraction"] == 1.0, rep
    hist = degree_histogram(built.graph_df).collect()
    assert sum(r.n_nodes for r in hist) == built.data_size
    assert max(r.out_degree for r in hist) <= built.params.R


def test_build_is_deterministic(spark, embeddings):
    """Same seed, same input → byte-identical graph (the reference is
    unseeded, vamana.h:121; determinism is a port guarantee)."""
    params = lambda: VamanaParams(dim=64, alpha=1.2, R=16, L=32, ef_search=32, seed=42)
    a = VamanaIndex.build(spark, embeddings, params())
    b = VamanaIndex.build(spark, embeddings, params())
    ga = {r.ordinal: tuple(r.neighbors) for r in a.graph_df.collect()}
    gb = {r.ordinal: tuple(r.neighbors) for r in b.graph_df.collect()}
    assert ga == gb
    assert a.params.medoid == b.params.medoid


def test_dense_build_without_arrow(spark, embeddings):
    """r13 regression: the dense tier's local-relation fast path builds
    from a pandas frame, which under a NO-Arrow session row-walks
    lazily and rejects numpy int64 neighbor elements at first ACTION
    (caught driving __spark_entry__ from a session that never enabled
    Arrow — the driver contract makes no Arrow promise). The conf-gated
    fallback must produce a graph byte-identical to the Arrow path."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    params = lambda: VamanaParams(
        dim=64, alpha=1.2, R=16, L=32, ef_search=32, seed=42
    )
    a = VamanaIndex.build(spark, embeddings, params())
    ga = {r.ordinal: tuple(r.neighbors) for r in a.graph_df.collect()}
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        b = VamanaIndex.build(spark, embeddings, params())
        gb = {r.ordinal: tuple(r.neighbors) for r in b.graph_df.collect()}
    finally:
        spark.conf.set(key, old)
    assert ga == gb


def test_build_tier_overflow_reroutes_to_sharded(spark, embeddings, monkeypatch):
    """When Catalyst's free plan-size estimate undershoots, the
    broadcast-tier guard's post-pull check (_TierOverflow) must still
    route the build to the sharded tier instead of building past the
    ceiling."""
    from vamana_spark.index import vamana as V

    monkeypatch.setattr(
        V.VamanaIndex, "_plan_size_bytes", staticmethod(lambda df: 1)
    )
    # ceiling below the actual point-set pull -> overflow fires
    monkeypatch.setattr(V.VamanaIndex, "BROADCAST_TIER_MAX_BYTES", 64 * 4 * 100)
    params = VamanaParams(dim=64, alpha=1.2, R=16, L=32, ef_search=32, seed=42)
    idx = VamanaIndex.build(spark, embeddings, params)
    assert idx.params.num_shards >= 2  # really took the sharded tier
    assert idx.graph_df.count() == embeddings.count()


def test_ip_metric_index_recall(spark, embeddings, queries):
    """Inner-product graph search via the exact MIPS->L2 reduction
    (augmented data component sqrt(M^2-||x||^2), query component 0):
    recall vs exact -dot top-k, and reported dist == -<q,x>."""
    from vamana_spark import quality

    params = VamanaParams(
        dim=64, alpha=1.2, R=32, L=64, ef_search=96, seed=42, metric="ip"
    )
    idx = VamanaIndex.build(spark, embeddings, params)
    # build never mutates the caller's params (ADVICE r4); the filled
    # copy rides on the index
    assert params.mips_m is None
    assert idx.params.mips_m is not None and idx.params.mips_m > 0
    truth = exact.exact_knn(embeddings, queries, k=10, metric="ip")
    got = idx.search(queries, k=10)
    r = quality.avg_recall(got, truth, k=10)
    assert r >= 0.8, f"ip graph recall@10 = {r}"
    # reported distances are true -<q,x>: join against exact on matches
    j = (
        got.select("query_id", "vec_id", F.col("dist").alias("g"))
        .join(truth.select("query_id", "vec_id", F.col("dist").alias("t")),
              ["query_id", "vec_id"])
        .select(F.max(F.abs(F.col("g") - F.col("t"))).alias("err"))
        .first()
    )
    assert j["err"] < 1e-6, f"ip dist mismatch: {j['err']}"


def test_range_search_exact_and_graph_agree(built, queries, embeddings):
    # exact radius query is ground truth; graph variant must recover
    # nearly all of each ball at a generous ef
    truth = exact.range_search(embeddings, queries, radius=1.5)
    t = {(r.query_id, r.vec_id) for r in truth.collect()}
    assert t, "radius 1.5 should match something at sf0.001"
    approx = built.range_search(queries, radius=1.5, ef_search=200)
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert a <= t or all(
        d.dist <= 1.5 for d in approx.collect()
    )  # no false positives beyond the radius
    recall = len(a & t) / len(t)
    assert recall >= 0.9, f"range recall {recall}"


def test_filtered_search_matches_exact_oracle(built, embeddings):
    q = embeddings.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        (F.col("vec_id") % 7).alias("want_label"),
    )
    truth = exact.exact_knn_filtered(embeddings, q, k=5)
    approx = built.search_filtered(
        q, k=5, labels=embeddings.select("vec_id", "label"), overfetch=16
    )
    tr = {}
    for r in truth.collect():
        tr.setdefault(r.query_id, set()).add(r.vec_id)
    ap = {}
    for r in approx.collect():
        ap.setdefault(r.query_id, set()).add(r.vec_id)
    # labels returned must honor the predicate
    lbl = {r.vec_id: r.label for r in embeddings.select("vec_id", "label").collect()}
    for r in approx.collect():
        assert lbl[r.vec_id] == r.query_id % 7
    hits = sum(len(ap.get(k, set()) & v) for k, v in tr.items())
    total = sum(len(v) for v in tr.items() and tr.values())
    assert hits / total >= 0.85, f"filtered recall {hits/total}"


def test_delete_points_consolidates(spark, embeddings, queries):
    p = VamanaParams(dim=64, alpha=1.2, R=24, L=48, ef_search=80, seed=11)
    idx = VamanaIndex.build(spark, embeddings, p)
    doomed = embeddings.where(F.col("vec_id") % 10 == 3).select("vec_id")
    doomed_ids = {r.vec_id for r in doomed.collect()}
    assert doomed_ids
    idx2 = idx.delete_points(doomed)
    # size bookkeeping
    assert idx2.data_size == idx.data_size - len(doomed_ids)
    # deleted ids are gone from search results entirely
    res = idx2.search(queries, k=10).collect()
    assert not ({r.vec_id for r in res} & doomed_ids)
    # graph stays healthy: dense ordinals, degree bound, live medoid
    hc = idx2.health_check()
    assert hc["max_degree"] <= p.R
    # recall against exact kNN over the survivors
    remaining = embeddings.join(doomed, "vec_id", "left_anti")
    truth = exact.exact_knn(remaining, queries, k=10)
    r = quality.avg_recall(idx2.search(queries, k=10), truth, k=10)
    assert r >= 0.8, f"post-delete recall {r}"


def test_delete_points_orphan_survivor_keeps_dense_graph(spark):
    # plant a survivor whose entire 2-hop neighborhood is deleted: with
    # n=3 where points 1,2 are deleted, point 0's whole graph vanishes —
    # it must remain as an isolated node, not disappear from the CSR
    import pyspark.sql.functions as SF

    rows = [(i, [float(i)] * 8) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    p = VamanaParams(dim=8, alpha=1.2, R=4, L=8, ef_search=8, seed=1)
    idx = VamanaIndex.build(spark, df, p)
    idx2 = idx.delete_points(
        spark.createDataFrame([(1,), (2,)], "vec_id long")
    )
    assert idx2.data_size == 1
    g = idx2.graph_df.collect()
    assert len(g) == 1 and g[0].ordinal == 0 and list(g[0].neighbors) == []
    # search still runs against the single-node index
    q = df.where(SF.col("vec_id") == 0).select(
        SF.col("vec_id").alias("query_id"), SF.col("embedding").alias("query_vec")
    )
    res = idx2.search(q, k=1).collect()
    assert len(res) == 1 and res[0].vec_id == 0


def test_build_auto_shards_over_broadcast_ceiling(spark, embeddings, monkeypatch):
    # over-threshold single-tier build must auto-route to the sharded
    # tier instead of pulling the whole point set to the driver
    # (VamanaIndex.build guard, mirrors the search-side _load_local one)
    monkeypatch.setattr(VamanaIndex, "BROADCAST_TIER_MAX_BYTES", 0)
    p = VamanaParams(dim=64, alpha=1.2, R=16, L=32, ef_search=48, seed=42)
    assert p.num_shards == 1
    idx = VamanaIndex.build(spark, embeddings, p)
    assert p.num_shards == 1  # caller's params untouched (ADVICE r4)
    assert idx.params.num_shards > 1  # guard rewrote the tier on the copy
    hc = idx.health_check()
    assert hc["ok"], hc
    idx.release()


def test_build_phase_timings_diagnostic(spark, embeddings):
    timings = {}
    p = VamanaParams(
        dim=64, alpha=1.2, R=16, L=32, ef_search=48, seed=42, num_shards=4
    )
    idx = VamanaIndex.build(spark, embeddings, p, phase_timings=timings)
    for k in (
        "checkpoint_pts_sec",
        "centers_sec",
        "assign_shard_kernels_sec",
        "prune_fixup_sec",
    ):
        assert k in timings and timings[k] >= 0.0, timings
    assert idx.health_check()["ok"]
    idx.release()


def test_add_points_wires_new_points(spark, embeddings, queries):
    p = VamanaParams(dim=64, alpha=1.2, R=24, L=48, ef_search=80, seed=11)
    base = embeddings.where(F.col("vec_id") % 5 != 0)
    delta = embeddings.where(F.col("vec_id") % 5 == 0)
    n_delta = delta.count()
    idx = VamanaIndex.build(spark, base, p)
    idx2 = idx.add_points(delta)
    assert idx2.data_size == idx.data_size + n_delta
    # appended points must be findable, not just stored
    res = idx2.search(queries, k=10)
    assert res.where(F.col("vec_id") % 5 == 0).count() > 0
    # degree cap survives the reverse fix-up
    hc = idx2.health_check()
    assert hc["ok"] and hc["max_degree"] <= p.R
    # recall over the FULL set matches a from-scratch quality bar
    truth = exact.exact_knn(embeddings, queries, k=10)
    r = quality.avg_recall(res, truth, k=10)
    assert r >= 0.8, f"post-append recall {r}"
    # idempotence on duplicate ids: vec_id is the identity (SURVEY §1.4)
    idx3 = idx2.add_points(delta)
    assert idx3 is idx2
    idx.release(); idx2.release()


def test_add_points_capacity_check(spark, embeddings):
    n = embeddings.count()
    p = VamanaParams(
        dim=64, alpha=1.2, R=16, L=32, ef_search=32, seed=3, max_points=n - 50
    )
    idx = VamanaIndex.build(spark, embeddings.limit(0).unionByName(
        embeddings.where(F.col("vec_id") < 100)), p)
    too_many = embeddings.where(F.col("vec_id") >= 100)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="capacity"):
        idx.add_points(too_many)
    idx.release()


def test_committed_index_fixtures_present_and_loadable(spark):
    """The driver's fixture-backed oracle queries (q_degree_stats,
    q_graph_reachability, q_index_append/delete, q_partitioned_*) read
    committed fixtures; a missing or unreadable fixture would silently
    fall back to a live build and break their hash oracles."""
    import json
    import os

    from vamana_spark.index.vamana import VamanaIndex
    from vamana_spark.plans.declared import _FIXTURE_ROOT

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        for variant in ("base", "appended", "deleted", "partitioned"):
            meta = os.path.join(_FIXTURE_ROOT, sf, variant, "_meta.json")
            assert os.path.exists(meta), f"missing fixture {sf}/{variant}"
    idx = VamanaIndex.load(spark, os.path.join(_FIXTURE_ROOT, "sf0.01", "base"))
    meta = json.load(open(os.path.join(_FIXTURE_ROOT, "sf0.01", "base", "_meta.json")))
    assert idx.graph_df.count() == meta["n"] == 500
    assert idx.params.medoid == meta["medoid"]


def test_build_local_matches_dataframe_build(spark, embeddings):
    """r14 (VERDICT r13 #1c): build_local is the reference-parity
    ingest tier — points staged on the driver before the call, the
    same region the reference's bench times (AddPoint untimed,
    ref_bench.cpp). It must be SEMANTICALLY IDENTICAL to build() on a
    DataFrame of the same rows: same graph relation, same medoid, same
    search results, same persisted form."""
    params = VamanaParams(dim=64, alpha=1.2, R=16, L=32, ef_search=32, seed=42)
    pdf = embeddings.toPandas()
    ids = pdf["vec_id"].to_numpy()
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float32)

    a = VamanaIndex.build(spark, embeddings, params)
    b = VamanaIndex.build_local(spark, ids, V, params)
    assert a.params.medoid == b.params.medoid
    assert a.params.n == b.params.n

    ga = {r.ordinal: list(r.neighbors) for r in a.graph_df.collect()}
    gb = {r.ordinal: list(r.neighbors) for r in b.graph_df.collect()}
    assert ga == gb
    pa = sorted((r.vec_id, r.ordinal) for r in a.points_df.collect())
    pb = sorted((r.vec_id, r.ordinal) for r in b.points_df.collect())
    assert pa == pb

    q = embeddings.limit(20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ra = sorted((r.query_id, r.rank, r.vec_id) for r in a.search(q, k=5).collect())
    rb = sorted((r.query_id, r.rank, r.vec_id) for r in b.search(q, k=5).collect())
    assert ra == rb


def test_build_local_validations(spark):
    params = VamanaParams(dim=4, alpha=1.2, R=8, L=16, ef_search=16, seed=1)
    rng = np.random.default_rng(0)
    V = rng.standard_normal((10, 4)).astype(np.float32)
    with pytest.raises(ValueError, match="shape"):
        VamanaIndex.build_local(spark, np.arange(10), V[:, :3], params)
    with pytest.raises(ValueError, match="ids for"):
        VamanaIndex.build_local(spark, np.arange(9), V, params)
    # max_points keeps the LOWEST vec_ids (the DataFrame tier's
    # deterministic orderBy-limit semantics)
    p2 = VamanaParams(
        dim=4, alpha=1.2, R=8, L=16, ef_search=16, seed=1, max_points=6
    )
    idx = VamanaIndex.build_local(spark, np.arange(10)[::-1].copy(), V, p2)
    kept = sorted(r.vec_id for r in idx.points_df.collect())
    assert kept == [0, 1, 2, 3, 4, 5]


def test_build_local_caps_before_tier_ceiling(spark, monkeypatch):
    """Code-review r14: the max_points cap must apply BEFORE the
    broadcast-tier ceiling check (build() orderBy/limits before its
    pull, so the ceiling judges the capped row set on both tiers)."""
    params = VamanaParams(
        dim=4, alpha=1.2, R=8, L=16, ef_search=16, seed=1, max_points=6
    )
    rng = np.random.default_rng(0)
    V = rng.standard_normal((10, 4)).astype(np.float32)
    monkeypatch.setattr(VamanaIndex, "BROADCAST_TIER_MAX_BYTES", 6 * 4 * 4)
    # 10 rows exceed the ceiling, the capped 6 rows fit exactly
    idx = VamanaIndex.build_local(spark, np.arange(10), V, params)
    assert sorted(r.vec_id for r in idx.points_df.collect()) == [0, 1, 2, 3, 4, 5]
    with pytest.raises(ValueError, match="ceiling"):
        VamanaIndex.build_local(
            spark, np.arange(10), V,
            VamanaParams(dim=4, alpha=1.2, R=8, L=16, ef_search=16, seed=1),
        )


def test_deferred_rel_respects_setter_assignment(spark, embeddings):
    """Code-review r14: forcing the deferred relation must not clobber
    a relation a caller assigned through the setter while the thunk
    was pending (maintenance code patches graph_df in place)."""
    params = VamanaParams(dim=64, alpha=1.2, R=16, L=32, ef_search=32, seed=42)
    idx = VamanaIndex.build(spark, embeddings.limit(50), params)
    assert idx._rel_thunk is not None  # dense tier defers
    marker = spark.createDataFrame(
        [(0, [1])], "ordinal long, neighbors array<long>"
    )
    idx.graph_df = marker
    _ = idx.points_df  # forces the thunk for the OTHER relation
    assert idx.graph_df is marker
    assert idx.points_df is not None


def _search_tasks(spark, idx, queries, group):
    """Run one search under job group ``group``; return (rows, tasks it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "search fan-out")
    try:
        rows = idx.search(queries, k=10, ef_search=32).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker lags task-end events until the listener bus drains
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tr = sc.statusTracker()
    stages = [s for j in tr.getJobIdsForGroup(group) for s in tr.getJobInfo(j).stageIds]
    return rows, sum(tr.getStageInfo(s).numCompletedTasks for s in stages)


def test_search_fanout_sized_to_batch(spark, tmp_path):
    """A batch whose row count Catalyst knows runs in
    ceil(rows / MIN_QUERIES_PER_TASK) tasks (at most one per core) with
    the kernel's exact rows; a parquet-read batch keeps its partitions."""
    import math

    import pandas as pd

    from vamana_spark.index import kernels
    from vamana_spark.index.vamana import MIN_QUERIES_PER_TASK

    rng = np.random.default_rng(5)
    V = rng.standard_normal((2000, 16)).astype(np.float32)
    Q = rng.standard_normal((300, 16)).astype(np.float32)
    params = VamanaParams(dim=16, alpha=1.2, R=16, L=32, ef_search=32, seed=42)
    idx = VamanaIndex.build_local(spark, np.arange(2000), V, params)
    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(300, dtype=np.int64), "query_vec": list(Q)}),
        "query_id long, query_vec array<float>",
    )
    sc = spark.sparkContext
    got, tasks = _search_tasks(spark, idx, qdf, "fanout-pandas")
    assert tasks == min(sc.defaultParallelism, math.ceil(300 / MIN_QUERIES_PER_TASK))

    P, ids, indptr, nbrs = idx._load_local()
    rq, rid, rd, hops, comps = kernels.search_topk_batch(
        P, kernels.pad_adjacency(indptr, nbrs, len(P)), idx.params.medoid, Q, 10, 32
    )
    got = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert got["query_id"].tolist() == rq.tolist()
    assert got["vec_id"].tolist() == ids[rid].tolist()
    np.testing.assert_allclose(got["dist"].to_numpy(), rd, rtol=1e-6)
    assert got["hops"].tolist() == hops[rq].tolist()
    assert got["dist_comps"].tolist() == comps[rq].tolist()

    path = str(tmp_path / "queries")
    qdf.repartition(max(2, sc.defaultParallelism)).write.parquet(path)
    fdf = spark.read.parquet(path)
    _, tasks = _search_tasks(spark, idx, fdf, "fanout-parquet")
    assert tasks == fdf.rdd.getNumPartitions()
