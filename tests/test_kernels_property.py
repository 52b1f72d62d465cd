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
    # deterministic: the same seed gives the same graph and medoid
    again, medoid2 = kernels.build_vamana(P, R, L=16, alpha=1.2, seed=7)
    assert medoid2 == medoid
    assert [g.tolist() for g in again] == [g.tolist() for g in graph]


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


@pytest.mark.parametrize(
    "build",
    [
        lambda P: kernels.build_vamana_dense(P, 32, 1.2),
        lambda P: kernels.build_vamana(P, 32, 64, 1.2, 42),
    ],
    ids=["build_vamana_dense", "build_vamana"],
)
def test_dense_build_recall_on_clustered_data(build):
    """Both build kernels keep long-range edges on clustered data. 5k
    points in 8 Gaussian blobs whose centres have the same spread as the
    points: with only exact nearest candidates every pruned edge of the
    dense build stayed inside its blob and recall@10 at ef=32 was 0.74."""
    rng = np.random.default_rng(20_000)
    centers = rng.standard_normal((8, 64))
    P = (centers[rng.integers(0, 8, 5000)] + rng.standard_normal((5000, 64))).astype(np.float32)
    Q = (centers[rng.integers(0, 8, 200)] + rng.standard_normal((200, 64))).astype(np.float32)
    graph, medoid = build(P)
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
    n, dim = P.shape
    dsub = dim // m
    X = P.astype(np.float64)
    cents = kernels._pq_codebooks(X, m, min(16, n), seed, 5).astype(np.float32)
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


def test_opq_rotation_orthogonal_and_reconstruction_beats_pq():
    """The OPQ fit behind ``search_pq(opq=True)``: on strongly
    anisotropic vectors (a decaying spectrum under a random rotation,
    the real-embedding shape) the learned rotation stays orthogonal and
    its codebooks reconstruct the rotated data with clearly less error
    than plain per-subspace PQ codebooks of the same size."""
    rng = np.random.default_rng(7)
    scales = np.exp(-np.arange(64) / 8.0)
    Q, _ = np.linalg.qr(rng.standard_normal((64, 64)))
    X = ((rng.standard_normal((600, 64)) * scales) @ Q).astype(np.float32)
    X = X.astype(np.float64)  # stored as float32, trained in float64
    R, opq_cents = kernels._opq_fit(X, 8, 16, 42, iters=6, opq_iters=4)
    assert np.allclose(R @ R.T, np.eye(64), atol=1e-8)
    pq_cents = kernels._pq_codebooks(X, 8, 16, 42, 6)

    def mse(Xs, cents):
        err = 0.0
        for j in range(8):
            sub = Xs[:, j * 8 : (j + 1) * 8]
            d = ((sub * sub).sum(1)[:, None] + (cents[j] ** 2).sum(1)[None, :]
                 - 2.0 * sub @ cents[j].T)
            err += d.min(axis=1).sum()
        return err / len(Xs)

    mse_pq = mse(X, pq_cents)
    mse_opq = mse(X @ R, opq_cents)
    assert mse_opq < mse_pq * 0.9, (mse_opq, mse_pq)


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


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=7), min_size=1, max_size=40),
    st.integers(min_value=0, max_value=2**31),
)
def test_cell_layout_and_subshard_properties(nsplit_list, seed):
    """Split-layout invariants: _cell_layout recovers exactly the
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



def test_dedupe_centers_keeps_a_distinct_prefix():
    """``_dedupe_centers(vstack(P, N))`` returns a pairwise-distinct
    prefix ``P`` byte-identical and bumps only the ``N`` rows that
    collide with an earlier row, by one ULP on component 0 — so de-duping
    new sub-centers after the centers they must not collide with leaves
    those centers where they are."""
    from vamana_spark.index.cells import _dedupe_centers

    rng = np.random.default_rng(11)
    P = rng.standard_normal((5, 4)).astype(np.float32)
    N = np.vstack([P[2], rng.standard_normal(4), P[2]]).astype(np.float32)
    D = _dedupe_centers(np.vstack([P, N]))
    assert D.dtype == np.float32
    assert D[:5].tobytes() == P.tobytes()
    up = np.nextafter(P[2, 0], np.float32(np.inf), dtype=np.float32)
    assert D[5, 0] == up and D[5, 1:].tobytes() == P[2, 1:].tobytes()
    assert D[6].tobytes() == N[1].tobytes()
    # the third row collides with P[2] and then with the bumped N[0]
    assert D[7, 0] == np.nextafter(up, np.float32(np.inf), dtype=np.float32)
    assert len({r.tobytes() for r in D}) == len(D)


def test_cell_layout_reads_rows_by_bytes():
    """Centers that ``_dedupe_centers`` keeps distinct only by the sign
    of a zero are distinct cells to ``_cell_layout`` too; a split run
    from ``np.repeat`` still reads as one cell split in two."""
    from vamana_spark.index.cells import _cell_layout, _dedupe_centers

    C = _dedupe_centers(np.array([[0.0, 1], [-0.0, 1], [2, 2]]))
    assert C.tobytes() == np.array([[0.0, 1], [-0.0, 1], [2, 2]], np.float32).tobytes()
    base, nsplit, cell = _cell_layout(C)
    assert base.tolist() == [0, 1, 2]
    assert nsplit.tolist() == [1, 1, 1]
    assert cell.tolist() == [0, 1, 2]
    base, nsplit, cell = _cell_layout(np.repeat(C, [1, 2, 1], axis=0))
    assert base.tolist() == [0, 1, 3]
    assert nsplit.tolist() == [1, 2, 1]
    assert cell.tolist() == [0, 1, 1, 2]


def test_adc_search_takes_the_float_walk():
    """With an exact codebook (one subspace, one centroid per point) a
    node's ADC distance equals its float distance, so below exhaustive
    ef the PQ search must walk, and return, exactly what the float
    search does. Small integer coordinates make both distance forms
    exact, so the comparison does not hinge on rounding at ties."""
    rng = np.random.default_rng(11)
    n = 200
    P = rng.integers(-8, 9, size=(n, 8)).astype(np.float32)
    Q = rng.integers(-8, 9, size=(40, 8)).astype(np.float32)
    graph, medoid = kernels.build_vamana_dense(P, 8, 1.2)
    nbr_mat = kernels.pad_adjacency(*kernels._to_csr(graph, n), n)
    cents = P[None]                                # m=1, ksub=n
    codes = np.arange(n, dtype=np.uint8)[:, None]
    for ef in (1, 4, 16, 48):
        rq, rid, rd, _, _ = kernels.search_topk_batch(P, nbr_mat, medoid, Q, 5, ef)
        aq, aid, ad = kernels.search_topk_batch_adc(
            codes, cents, nbr_mat, medoid, Q, 5, ef
        )
        assert aq.tolist() == rq.tolist(), ef
        assert aid.tolist() == rid.tolist(), ef
        assert ad.tolist() == rd.tolist(), ef


def _blob_graph(n=2000, dim=16, seed=3):
    """A clustered corpus with its dense Vamana graph: (P, nbr_mat, medoid)."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((8, dim)) * 4.0
    P = (centers[rng.integers(0, 8, n)] + rng.standard_normal((n, dim))).astype(np.float32)
    graph, medoid = kernels.build_vamana_dense(P, 16, 1.2, seed)
    return P, kernels.pad_adjacency(*kernels._to_csr(graph, n), n), medoid


@pytest.mark.parametrize("with_starts", [False, True])
def test_batched_search_rows_are_searched_alone(with_starts):
    """Each row of a 250-query bitmap-path walk returns exactly what
    that query returns searched on its own: ids, distances, hops and
    dist_comps. The batch shares work buffers and one seen bitmap, so
    any leak between rows shows here."""
    P, nbr_mat, medoid = _blob_graph()
    rng = np.random.default_rng(4)
    Q = (P[rng.integers(0, len(P), 250)] + 0.5 * rng.standard_normal((250, P.shape[1]))).astype(np.float32)
    starts = rng.integers(0, len(P), 250) if with_starts else None
    assert len(Q) * len(P) <= kernels.BITMAP_MAX_CELLS
    rq, rid, rd, hops, comps = kernels.search_topk_batch(
        P, nbr_mat, medoid, Q, 10, 32, starts=starts
    )
    assert rd.dtype == np.float64
    for r in range(len(Q)):
        one = kernels.search_topk_batch(
            P, nbr_mat, medoid, Q[r : r + 1], 10, 32,
            starts=None if starts is None else starts[r : r + 1],
        )
        assert one[0].tolist() == [0] * int((rq == r).sum()), r
        assert one[1].tolist() == rid[rq == r].tolist(), r
        assert one[2].tolist() == rd[rq == r].tolist(), r
        assert (one[3][0], one[4][0]) == (hops[r], comps[r]), r


def test_adc_search_keeps_float64_distances():
    """With a non-integer codebook the ADC walk's distances stay float64
    from the LUT to the output: each equals the float64 LUT sum for its
    id, recomputed in plain numpy and summed over the m subspaces in
    order. A float32 beam would round them and fail the equality."""
    P, nbr_mat, medoid = _blob_graph(n=600, dim=8, seed=5)
    m, dsub = 4, 2
    rng = np.random.default_rng(6)
    cents = (rng.standard_normal((m, 16, dsub)) / 3.0).astype(np.float32)
    codes = rng.integers(0, 16, size=(len(P), m)).astype(np.uint8)
    Q = (rng.standard_normal((40, 8)) / 7.0).astype(np.float32)
    rq, rid, rd = kernels.search_topk_batch_adc(codes, cents, nbr_mat, medoid, Q, 5, 24)
    assert rd.dtype == np.float64 and rd.size == 40 * 5
    Qd, Cd = Q.astype(np.float64), cents.astype(np.float64)
    lut = np.empty((len(Q), m, 16))
    for j in range(m):
        sub = Qd[:, j * dsub : (j + 1) * dsub]
        lut[:, j, :] = (
            np.einsum("ij,ij->i", sub, sub)[:, None]
            + np.einsum("ij,ij->i", Cd[j], Cd[j])[None, :]
            - 2.0 * (sub @ Cd[j].T)
        )
    for r, i, d in zip(rq, rid, rd):
        want = 0.0
        for j in range(m):
            want += lut[r, j, codes[i, j]]
        assert d == want, (r, i, d, want)
    assert not np.array_equal(rd, rd.astype(np.float32).astype(np.float64))


def test_adc_search_budget_below_one_query(monkeypatch):
    """A bitmap budget smaller than one query's row still searches: the
    chunking stops at one query per chunk, and the results equal the
    unchunked call's."""
    P, nbr_mat, medoid = _blob_graph(n=300, dim=8, seed=7)
    codes, cents = _toy_pq(P, 4)
    Q = P[:5] + 0.1
    want = kernels.search_topk_batch_adc(codes, cents, nbr_mat, medoid, Q, 3, 16)
    monkeypatch.setattr(kernels, "BITMAP_MAX_CELLS", 100)
    got = kernels.search_topk_batch_adc(codes, cents, nbr_mat, medoid, Q, 3, 16)
    for a, b in zip(want, got):
        assert a.dtype == b.dtype and a.tolist() == b.tolist()


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    nq=st.integers(1, 12),
    ef=st.integers(1, 20),
    k=st.integers(0, 24),
    dtype=st.sampled_from([np.float32, np.float64]),
)
def test_topk_rows_matches_per_row_lexsort(seed, nq, ef, k, dtype):
    """``_topk_rows`` equals the per-row loop it replaced: ascending
    (dist, id), pads (-1 ids) and non-finite dists dropped, at most k
    per row, float64 out — on beams with tied distances."""
    rng = np.random.default_rng(seed)
    ids = rng.integers(0, 50, size=(nq, ef))
    d = rng.integers(0, 6, size=(nq, ef)).astype(dtype) / 3
    pad = rng.random((nq, ef)) < 0.3
    ids[pad] = -1
    d[pad] = np.inf
    rows, out_ids, out_d = kernels._topk_rows(ids, d, k)
    want_r, want_i, want_d = [], [], []
    order_d = np.where(ids < 0, np.inf, d)
    for r in range(nq):
        o = np.lexsort((ids[r], order_d[r]))
        o = o[np.isfinite(order_d[r][o])][:k]
        want_r += [r] * o.size
        want_i += ids[r][o].tolist()
        want_d += d[r][o].astype(np.float64).tolist()
    assert rows.dtype == out_ids.dtype == np.int64 and out_d.dtype == np.float64
    assert rows.tolist() == want_r
    assert out_ids.tolist() == want_i
    assert out_d.tolist() == want_d


@pytest.mark.parametrize(
    "n, dim", [(1, 4), (2, 4), (17, 8), (500, 16), (5000, 8), (1_100_000, 2)]
)
def test_entry_seeds_rule(n, dim, monkeypatch):
    """The seed rule: the same P and seed give the same seeds; the seeds
    are distinct, sorted, in range and at most min(256, ceil(sqrt(n) / 4));
    k-means trains on at most 64 sample points per seed (1.1M points
    passes the 256 cap)."""
    P = np.random.default_rng(n).standard_normal((n, dim)).astype(np.float32)
    cap = min(256, int(np.ceil(np.sqrt(n) / 4)))
    trained = []
    kmeans = kernels._kmeans

    def spy(X, k, seed, iters=15):
        trained.append((X.shape[0], k))
        return kmeans(X, k, seed, iters)

    monkeypatch.setattr(kernels, "_kmeans", spy)
    seeds = kernels.entry_seeds(P, 7)
    assert trained == [(min(n, 64 * cap), cap)]
    assert seeds.dtype == np.int64
    assert 1 <= seeds.size <= cap
    assert (np.diff(seeds) > 0).all()
    assert 0 <= seeds[0] and seeds[-1] < n
    assert np.array_equal(kernels.entry_seeds(P, 7), seeds)


def test_route_to_seeds_picks_the_nearest_seed():
    """Each query row starts at its nearest seed by exact squared L2."""
    rng = np.random.default_rng(3)
    P = rng.standard_normal((300, 8)).astype(np.float32)
    Q = rng.standard_normal((40, 8)).astype(np.float32)
    seeds = kernels.entry_seeds(P, 1)
    got = kernels.route_to_seeds(P, seeds, Q)
    d = ((Q[:, None, :].astype(np.float64) - P[seeds][None].astype(np.float64)) ** 2).sum(-1)
    assert got.tolist() == seeds[d.argmin(axis=1)].tolist()
