"""Property-based invariants for the NumPy kernels (no Spark session —
these run in milliseconds and fuzz the pure-algorithm layer)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from vamana_spark.index import kernels


def _points(draw, n_min=2, n_max=60, dim_min=2, dim_max=8):
    n = draw(st.integers(n_min, n_max))
    dim = draw(st.integers(dim_min, dim_max))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n, dim)).astype(np.float32)


points_strategy = st.builds(
    lambda args: args,
    st.tuples(
        st.integers(2, 60), st.integers(2, 8), st.integers(0, 2**31 - 1)
    ).map(
        lambda t: np.random.default_rng(t[2]).standard_normal((t[0], t[1])).astype(
            np.float32
        )
    ),
)


@settings(max_examples=30, deadline=None)
@given(P=points_strategy, R=st.integers(2, 12), alpha=st.floats(1.0, 2.0))
def test_dense_build_invariants(P, R, alpha):
    graph, medoid = kernels.build_vamana_dense(P, R, alpha)
    n = P.shape[0]
    assert len(graph) == n
    assert 0 <= medoid < n
    for i, g in enumerate(graph):
        assert len(g) <= R                      # degree bound
        assert i not in g                       # no self loops
        assert len(set(g.tolist())) == len(g)   # no duplicate edges
        assert all(0 <= j < n for j in g)       # in range
        assert len(g) >= 1 or n == 1            # connected-ish: ≥1 out-edge


@settings(max_examples=30, deadline=None)
@given(P=points_strategy, R=st.integers(2, 12), alpha=st.floats(1.0, 1.6))
def test_robust_prune_nearest_always_admitted(P, R, alpha):
    n = P.shape[0]
    p = 0
    cand = np.arange(n)
    out = kernels.robust_prune(P, p, cand, None, alpha, R)
    if n > 1:
        d = ((P - P[p]).astype(np.float64) ** 2).sum(axis=1)
        d[p] = np.inf
        nearest = int(np.lexsort((np.arange(n), d))[0])
        assert out.size >= 1
        assert out[0] == nearest  # the nearest candidate always survives


@settings(max_examples=20, deadline=None)
@given(P=points_strategy, k=st.integers(1, 8), ef=st.integers(8, 64))
def test_batched_search_invariants(P, k, ef):
    n = P.shape[0]
    graph, medoid = kernels.build_vamana_dense(P, 8, 1.2)
    indptr, nbrs = kernels._to_csr(graph, n)
    nbr_mat = kernels.pad_adjacency(indptr, nbrs, n)
    Q = P[: min(5, n)]
    rq, rid, rd, hops, comps = kernels.search_topk_batch(
        P, nbr_mat, medoid, Q, k, ef
    )
    kk = min(k, n)
    for r in range(Q.shape[0]):
        ds = rd[rq == r]
        ids = rid[rq == r]
        assert len(ds) == kk                      # exactly k results
        assert (np.diff(ds) >= 0).all()           # ascending distances
        assert len(set(ids.tolist())) == kk       # distinct
        # the query point itself is rank 1 (distance 0, it's in the set)
        assert ids[0] == r and ds[0] == 0.0


@settings(max_examples=20, deadline=None)
@given(P=points_strategy)
def test_batched_matches_scalar_topk(P):
    """Batched and scalar kernels agree on the result SET for ef >= n
    (both degenerate to exact search when the beam covers everything)."""
    n = P.shape[0]
    graph, medoid = kernels.build_vamana_dense(P, 8, 1.2)
    indptr, nbrs = kernels._to_csr(graph, n)
    nbr_mat = kernels.pad_adjacency(indptr, nbrs, n)
    k = min(3, n)
    Q = P[:2]
    rq, rid, rd, _, _ = kernels.search_topk_batch(P, nbr_mat, medoid, Q, k, n + 8)
    for r in range(Q.shape[0]):
        sid, sd, _, _ = kernels.search_topk(P, indptr, nbrs, medoid, Q[r], k, n + 8)
        assert rid[rq == r].tolist() == sid.tolist()


@settings(max_examples=15, deadline=None)
@given(P=points_strategy)
def test_medoid_of_is_near_optimal(P):
    """medoid_of picks a centroid-nearest point up to fp32 summation-order
    ties (hypothesis found two points equidistant to within 2e-7)."""
    m = kernels.medoid_of(P)
    c = P.mean(axis=0)
    d = ((P.astype(np.float64) - c.astype(np.float64)) ** 2).sum(axis=1)
    assert d[m] <= d.min() * (1 + 1e-5) + 1e-9


@settings(max_examples=10, deadline=None)
@given(P=points_strategy, R=st.integers(3, 8))
def test_beam_build_invariants(P, R):
    """The beam-search build kernel (used above the dense ceiling) obeys
    the same structural invariants as the dense build."""
    n = P.shape[0]
    graph, medoid = kernels.build_vamana(P, R, L=16, alpha=1.2, seed=7)
    assert len(graph) == n and 0 <= medoid < n
    for i, g in enumerate(graph):
        assert len(g) <= R and i not in g
        assert len(set(g.tolist())) == len(g)


def test_beam_build_recall_small():
    """Beam build achieves the reference's recall bar on random data."""
    rng = np.random.default_rng(3)
    P = rng.uniform(-1, 1, (400, 16)).astype(np.float32)
    graph, medoid = kernels.build_vamana(P, R=16, L=32, alpha=1.2, seed=3)
    indptr, nbrs = kernels._to_csr(graph, len(graph))
    nbr_mat = kernels.pad_adjacency(indptr, nbrs, len(graph))
    Q = P[::20]
    rq, rid, _, _, _ = kernels.search_topk_batch(P, nbr_mat, medoid, Q, 10, 48)
    hits = 0
    for r, qi in enumerate(range(0, len(P), 20)):
        d = ((P.astype(np.float64) - P[qi]) ** 2).sum(axis=1)
        truth = set(np.lexsort((np.arange(len(P)), d))[:10].tolist())
        hits += len(set(rid[rq == r].tolist()) & truth)
    recall = hits / (len(Q) * 10)
    assert recall >= 0.8, recall


def test_dense_build_recall_on_clustered_data():
    """The dense build keeps long-range edges on clustered data. 5k
    points in 8 Gaussian blobs whose centres have the same spread as the
    points: with only exact nearest candidates every pruned edge stays
    inside its blob and recall@10 at ef=32 was 0.74."""
    rng = np.random.default_rng(20_000)
    centers = rng.standard_normal((8, 64))
    P = (centers[rng.integers(0, 8, 5000)] + rng.standard_normal((5000, 64))).astype(np.float32)
    Q = (centers[rng.integers(0, 8, 200)] + rng.standard_normal((200, 64))).astype(np.float32)
    graph, medoid = kernels.build_vamana_dense(P, 32, 1.2)
    nbr_mat = kernels.pad_adjacency(*kernels._to_csr(graph, len(graph)), len(graph))
    rq, rid, _, _, _ = kernels.search_topk_batch(P, nbr_mat, medoid, Q, 10, 32)
    Pd, Qd = P.astype(np.float64), Q.astype(np.float64)
    d = (Qd**2).sum(1)[:, None] - 2.0 * Qd @ Pd.T + (Pd**2).sum(1)[None, :]
    truth = np.argpartition(d, 9, axis=1)[:, :10]
    hits = sum(len(set(rid[rq == r].tolist()) & set(truth[r].tolist())) for r in range(len(Q)))
    recall = hits / (len(Q) * 10)
    assert recall >= 0.95, recall


def _toy_pq(P, m, seed=0):
    """Shard-local PQ artifacts for a point matrix (ksub=min(16, n))."""
    from vamana_spark.operators.quantization import _kmeans

    n, dim = P.shape
    dsub = dim // m
    ksub = min(16, n)
    X = P.astype(np.float64)
    cents = np.stack(
        [_kmeans(X[:, j * dsub : (j + 1) * dsub], ksub, seed + j, 5) for j in range(m)]
    ).astype(np.float32)
    codes = np.empty((n, m), dtype=np.uint8)
    for j in range(m):
        sub = X[:, j * dsub : (j + 1) * dsub]
        Cj = cents[j].astype(np.float64)
        d = (
            (sub * sub).sum(1)[:, None]
            + (Cj * Cj).sum(1)[None, :]
            - 2.0 * (sub @ Cj.T)
        )
        codes[:, j] = d.argmin(axis=1)
    return codes, cents


def _adc_brute(codes, cents, Q):
    """dist[q, p] = sum_j ||Q[q, sub_j] - cents[j, codes[p, j]]||^2."""
    m, ksub, dsub = cents.shape
    nq, n = Q.shape[0], codes.shape[0]
    out = np.zeros((nq, n))
    Cd = cents.astype(np.float64)
    Qd = Q.astype(np.float64)
    for j in range(m):
        diff = Qd[:, j * dsub : (j + 1) * dsub][:, None, :] - Cd[j][codes[:, j]][None, :, :]
        out += (diff * diff).sum(axis=2)
    return out


adc_points_strategy = st.tuples(
    st.integers(4, 50), st.sampled_from([4, 8]), st.integers(0, 2**31 - 1)
).map(
    lambda t: np.random.default_rng(t[2])
    .standard_normal((t[0], t[1] * 2))
    .astype(np.float32)
)


@settings(max_examples=20, deadline=None)
@given(P=adc_points_strategy, k=st.integers(1, 6))
def test_adc_search_matches_brute_adc(P, k):
    """search_topk_batch_adc with ef >= n returns exactly the top-k of
    the brute-force ADC distance matrix (ties broken by node id), and
    the reported distances equal the LUT sums."""
    n, dim = P.shape
    m = dim // 2
    graph, medoid = kernels.build_vamana_dense(P, 8, 1.2)
    indptr, nbrs = kernels._to_csr(graph, n)
    nbr_mat = kernels.pad_adjacency(indptr, nbrs, n)
    codes, cents = _toy_pq(P, m)
    Q = P[: min(4, n)]
    rq, rid, rd = kernels.search_topk_batch_adc(
        codes, cents, nbr_mat, medoid, Q, k, n + 8
    )
    truth = _adc_brute(codes, cents, Q)
    kk = min(k, n)
    for r in range(Q.shape[0]):
        ids = rid[rq == r]
        ds = rd[rq == r]
        assert len(ids) == kk
        assert (np.diff(ds) >= -1e-9).all()
        want = np.lexsort((np.arange(n), truth[r]))[:kk]
        assert ids.tolist() == want.tolist()
        np.testing.assert_allclose(ds, truth[r][want], rtol=1e-6, atol=1e-8)


def test_adc_search_chunks_large_query_batches():
    """The query-chunking path (bitmap budget) returns identical results
    to an unchunked call."""
    rng = np.random.default_rng(7)
    n, dim, m = 40, 8, 4
    P = rng.standard_normal((n, dim)).astype(np.float32)
    graph, medoid = kernels.build_vamana_dense(P, 8, 1.2)
    indptr, nbrs = kernels._to_csr(graph, n)
    nbr_mat = kernels.pad_adjacency(indptr, nbrs, n)
    codes, cents = _toy_pq(P, m)
    Q = rng.standard_normal((30, dim)).astype(np.float32)
    a = kernels.search_topk_batch_adc(codes, cents, nbr_mat, medoid, Q, 3, n + 8)
    # chunking recursion == slicing by hand: per-query independence
    lo = kernels.search_topk_batch_adc(codes, cents, nbr_mat, medoid, Q[:11], 3, n + 8)
    hi = kernels.search_topk_batch_adc(codes, cents, nbr_mat, medoid, Q[11:], 3, n + 8)
    merged = (
        np.concatenate([lo[0], hi[0] + 11]),
        np.concatenate([lo[1], hi[1]]),
        np.concatenate([lo[2], hi[2]]),
    )
    assert merged[0].tolist() == a[0].tolist()
    assert merged[1].tolist() == a[1].tolist()
    np.testing.assert_allclose(merged[2], a[2], rtol=1e-12)


def test_bloom_positions_no_false_negatives_property():
    """Pure-NumPy Bloom invariant on arbitrary unicode content: any set
    of inserted strings is always reported present (no false negatives,
    the property the exactness of incremental_dedup's lossy mode rests
    on), across filter geometries including saturated ones."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vamana_spark.operators.dedup import _bloom_geometry, _bloom_positions

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(st.text(max_size=40), min_size=1, max_size=60),
        st.integers(min_value=1, max_value=1000),
        st.sampled_from([0.5, 0.1, 0.01, 0.001]),
    )
    def run(values, expected, fpp):
        m_bits, k = _bloom_geometry(expected, fpp)
        n_words = m_bits // 64
        bits = np.zeros(n_words, dtype=np.uint64)
        pos = _bloom_positions(values, m_bits, k).ravel()
        np.bitwise_or.at(bits, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64))
        probe = _bloom_positions(values, m_bits, k)
        hit = (
            (bits[probe >> 6] >> (probe & 63).astype(np.uint64)) & np.uint64(1)
        ).astype(bool).all(axis=1)
        assert hit.all()

    run()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=7), min_size=1, max_size=40),
    st.integers(min_value=0, max_value=2**31),
)
def test_cell_layout_and_subshard_properties(nsplit_list, seed):
    """r9 split-layout invariants: _cell_layout recovers exactly the
    (base, nsplit, cell_of_shard) that np.repeat over distinct cell
    centers produces, and _subshard_of always lands inside the cell's
    split range for any vec_id (including negatives after casts)."""
    from vamana_spark.index.partitioned import _cell_layout, _subshard_of

    rng = np.random.default_rng(seed % (2**32))
    nsplit = np.asarray(nsplit_list, dtype=np.int64)
    C0 = rng.standard_normal((len(nsplit), 4)).astype(np.float32)
    # distinct rows required (duplicate-run encoding): perturb collisions
    C = np.repeat(C0, nsplit, axis=0)
    base, ns, cell = _cell_layout(C)
    if len(np.unique(C0, axis=0)) == len(C0):  # no accidental dup cells
        assert list(ns) == list(nsplit)
        assert list(base) == list(
            np.concatenate(([0], np.cumsum(nsplit)[:-1]))
        )
        assert list(cell) == list(np.repeat(np.arange(len(nsplit)), nsplit))
    # sub-shard hash: in range, deterministic, and 1-split cells -> 0
    vids = rng.integers(-(2**62), 2**62, size=200, dtype=np.int64)
    sub = _subshard_of(vids, ns[cell[0] if len(cell) else 0])
    assert np.all((0 <= sub) & (sub < ns[cell[0]]))
    per_cell = _subshard_of(vids[:, None], ns[None, :])
    assert np.all(per_cell < ns[None, :]) and np.all(per_cell >= 0)
    assert np.array_equal(per_cell, _subshard_of(vids[:, None], ns[None, :]))
    assert np.all(_subshard_of(vids, np.ones(200, dtype=np.int64)) == 0)
