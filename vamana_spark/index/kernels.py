"""NumPy kernels for Vamana graph build and beam search.

These are the only imperative, per-partition pieces of the engine (they
run inside Arrow-batched pandas UDFs — SURVEY.md §4.2). Everything here
is an original implementation of the published DiskANN/Vamana algorithm
(Subramanya et al., NeurIPS'19), written against the paper:

- ``greedy_search``  — beam search for one query over any per-node
  sequence of neighbour arrays (reference analogue: greedySearch,
  vamana.h:559-629) with hop / distance-computation counters (the
  reference Go API stubs these, go_api/vamana_go_api.go:163-171).
  ``search_topk`` runs it as the scalar reference the batched search is
  tested against.
- ``entry_seeds`` / ``route_to_seeds`` — the one entry rule of
  ``VamanaIndex.search``: S k-means centers of a seeded sample, each
  snapped to its nearest sampled point, and each query's nearest seed
  by one (nq × S) matrix product. A walk from the query's own cluster
  skips the hops a medoid start spends crossing to it (REPOSE's global
  routing before the local search): ~40% fewer distance computations
  at equal recall on 8-blob corpora, about the same on uniform data.
- ``search_topk_batch`` / ``search_topk_batch_adc`` — the serving
  searches. Both run one lockstep batched walk, ``_beam_walk``, and
  differ only in the distance function they hand it: float32 vectors,
  or a PQ lookup table over codes. The walk keeps a flat per-query
  "seen" bitmap of n + 1 columns whose column 0 is an always-set sink
  for the adjacency's -1 pads, holds its beams in the dtype of the
  distances (float32 for vectors, float64 for ADC; results are float64),
  and merges each hop's candidates in one id / dist work buffer
  allocated per call. ``_topk_rows`` cuts every beam to its top-k in
  one lexsort.
- ``robust_prune``   — the *paper-correct iterative* RobustPrune (the
  reference ships a simplified non-iterative variant, vamana.h:722-760;
  SURVEY.md §2 R7 records the deliberate semantics decision).
- ``build_graph``    — the one build rule: the dense build up to
  ``DENSE_BUILD_MAX`` points, else ``build_vamana``, the two-pass build
  (pass 1 α=1.0, pass 2 α=α) of BuildIndex (vamana.h:221-332), run as
  batched rounds of ``_wire_round`` within a shard; cross-shard
  parallelism happens at the Spark layer.
- ``_wire_round``    — the one insert rule over a batch of nodes, run by
  ``build_vamana`` and ``VamanaIndex.add_points``.
- ``_kmeans`` / ``_pq_codebooks`` / ``_opq_fit`` — seeded Lloyd, the one
  per-subspace PQ codebook trainer and the OPQ rotation fit behind the
  partitioned tier's cell centers and ``search_pq``.

Vectors are float32 at rest; all distance math is float32 matrix ops
(BLAS) — recall tolerances dwarf fp error here, unlike the exact-oracle
path which uses float64 (exact.py).
"""

from __future__ import annotations

from typing import Callable, List, Optional, Sequence, Tuple

import numpy as np

# random candidates per node that build_vamana_dense adds to each node's
# exact nearest set, so the pruned graph keeps long edges on clustered data
LONG_RANGE_CANDIDATES = 16

# largest nq * n for which the batched searches keep a per-query "seen"
# bitmap (n + 1 bools per query, 256 MB at the ceiling); past it
# search_topk_batch falls back to the single-expansion history path and
# the ADC search chunks queries
BITMAP_MAX_CELLS = 256_000_000

# beam entries each hop of the batched walk expands per query: the beam
# converges in ~ef/EXPAND Python iterations instead of ~ef, cutting
# interpreter + argpartition overhead ~EXPAND x for the same total
# distance work. Expanding several entries changes the beam's eviction
# order, so the visited set is not a strict superset of single
# expansion; recall is empirically equal-or-better at the tested
# operating points (the recall gate tests are the actual guarantee).
# The result is still the top-k of the ef best visited nodes.
EXPAND = 8

# up to this point count build_graph runs the dense build kernel (one
# n^2 gemm): at 20k points (8 blobs, 64-d, R=32, one BLAS thread) it took
# 20 s of CPU against 66 s for the batched build_vamana, at recall@10
# 0.78 / 0.94 against 0.81 / 0.96 (ef 32 / 64). Its n^2 f32 matrix is
# ~1.6 GB at the ceiling; sharded builds keep per-shard n under it.
DENSE_BUILD_MAX = 20_000

# rounds per pass of build_vamana: each wires 1/BUILD_ROUNDS of the nodes
# against the graph the earlier rounds left
BUILD_ROUNDS = 16

# most entry seeds entry_seeds picks (the cap binds past ~1M points), and
# the sample points its k-means trains on per seed. A routed query pays
# one distance per seed: 256 is small next to a walk's ~400-1,200
# distance computations, and on uniform data, where routing saves few
# hops, those distances are the whole cost of the seeds.
MAX_ENTRY_SEEDS = 256
SEED_SAMPLE_PER_CENTER = 64


def dists_to(P: np.ndarray, ids: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Squared L2 from query q to P[ids] — one vectorized BLAS-ish op."""
    diff = P[ids] - q
    return np.einsum("ij,ij->i", diff, diff)


def medoid_of(P: np.ndarray) -> int:
    """Nearest point to the centroid — O(n), the DiskANN-style entry point."""
    c = P.mean(axis=0)
    diff = P - c
    return int(np.argmin(np.einsum("ij,ij->i", diff, diff)))


def entry_seeds(P: np.ndarray, seed: int) -> np.ndarray:
    """The entry seeds of a searched graph over P: sorted distinct
    ordinals, each the sampled point nearest one k-means center.

    S = min(MAX_ENTRY_SEEDS, ceil(sqrt(n) / 4)) centers (18 at 5k, 250
    at 1M) come from ``_kmeans(sample, S, seed, 10)`` over a seeded
    sample of min(n, 64·S) points, so the cost does not grow with n.
    Snapping can map two centers to one point, so fewer than S seeds
    may come back."""
    n = P.shape[0]
    S = min(MAX_ENTRY_SEEDS, int(np.ceil(np.sqrt(n) / 4)))
    rng = np.random.default_rng(seed)
    m = min(n, SEED_SAMPLE_PER_CENTER * S)
    sample = np.arange(n) if m == n else np.sort(rng.choice(n, m, replace=False))
    X = P[sample].astype(np.float64)
    C = _kmeans(X, S, seed, 10)
    d = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T)     # + ||c||^2, per column
    return np.unique(sample[d.argmin(axis=0)])


def route_to_seeds(P: np.ndarray, seeds: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """Each query row's nearest seed (``entry_seeds``) in one (nq × S)
    matrix product: the walk's start node per query."""
    Ps = P[seeds].astype(np.float64)
    d = (Ps * Ps).sum(1)[None, :] - 2.0 * (Q.astype(np.float64) @ Ps.T)
    return seeds[d.argmin(axis=1)]


def greedy_search(
    P: np.ndarray,
    adj: Sequence[np.ndarray],
    start: int,
    q: np.ndarray,
    beam_width: int,
) -> Tuple[np.ndarray, np.ndarray, int, int]:
    """Beam search from ``start`` toward ``q``. ``adj[i]`` is node i's
    int64 neighbour array (``search_topk`` passes CSR slices).

    Returns (visited_ids, visited_dists, hops, dist_comps). The beam
    holds the ``beam_width`` best candidates seen; each round expands the
    nearest unvisited beam member. Terminates when the beam is fully
    visited — same fixpoint as the reference loop (vamana.h:580-600).
    """
    n = P.shape[0]
    visited = np.zeros(n, dtype=bool)
    in_beam = np.zeros(n, dtype=bool)

    beam_ids = np.array([start], dtype=np.int64)
    beam_d = dists_to(P, beam_ids, q)
    in_beam[start] = True
    visited_ids: List[int] = []
    visited_d: List[float] = []
    hops = 0
    dist_comps = 1

    while True:
        unv = ~visited[beam_ids]
        if not unv.any():
            break
        sub = np.flatnonzero(unv)
        cur_pos = sub[np.argmin(beam_d[sub])]
        cur = int(beam_ids[cur_pos])
        visited[cur] = True
        visited_ids.append(cur)
        visited_d.append(float(beam_d[cur_pos]))
        hops += 1

        neigh = adj[cur]
        fresh = neigh[~in_beam[neigh]] if len(neigh) else neigh
        if len(fresh):
            fresh = np.unique(fresh)
            fd = dists_to(P, fresh, q)
            dist_comps += fresh.size
            beam_ids = np.concatenate([beam_ids, fresh])
            beam_d = np.concatenate([beam_d, fd])
            in_beam[fresh] = True
            if beam_ids.size > beam_width:
                # keep the best beam_width; evicted nodes may re-enter later
                keep = np.argpartition(beam_d, beam_width - 1)[:beam_width]
                drop_mask = np.ones(beam_ids.size, dtype=bool)
                drop_mask[keep] = False
                in_beam[beam_ids[drop_mask]] = False
                beam_ids = beam_ids[keep]
                beam_d = beam_d[keep]

    return (
        np.asarray(visited_ids, dtype=np.int64),
        np.asarray(visited_d, dtype=np.float64),
        hops,
        dist_comps,
    )


def robust_prune(
    P: np.ndarray,
    p: int,
    cand: np.ndarray,
    cand_d: Optional[np.ndarray],
    alpha: float,
    R: int,
) -> np.ndarray:
    """Paper-correct iterative RobustPrune.

    Repeatedly admit the nearest surviving candidate p*, then discard every
    candidate c with alpha * d(p*, c) <= d(p, c) — each admitted neighbor
    dominates a cone of directions, yielding a sparse navigable graph.
    """
    cand = np.unique(cand)
    cand = cand[cand != p]
    if cand.size == 0:
        return cand
    d_p = dists_to(P, cand, P[p]) if cand_d is None else cand_d
    order = np.argsort(d_p, kind="stable")
    cand = cand[order]
    d_p = d_p[order]

    alive = np.ones(cand.size, dtype=bool)
    out: List[int] = []
    while alive.any() and len(out) < R:
        i = int(np.flatnonzero(alive)[0])  # nearest survivor (cand sorted)
        star = cand[i]
        out.append(int(star))
        alive[i] = False
        live = np.flatnonzero(alive)
        if live.size:
            d_star = dists_to(P, cand[live], P[star])
            alive[live[alpha * d_star <= d_p[live]]] = False
    return np.asarray(out, dtype=np.int64)


def _to_csr(graph: List[np.ndarray], n: int) -> Tuple[np.ndarray, np.ndarray]:
    indptr = np.zeros(n + 1, dtype=np.int64)
    for i in range(n):
        indptr[i + 1] = indptr[i] + len(graph[i])
    nbrs = np.empty(indptr[-1], dtype=np.int64)
    for i in range(n):
        nbrs[indptr[i] : indptr[i + 1]] = graph[i]
    return indptr, nbrs


def _unique_rows(cand: np.ndarray, nodes: np.ndarray, n: int) -> np.ndarray:
    """Each row's distinct ids other than its node ``nodes[t]``,
    ascending, packed left and padded with -1 (trailing all-pad columns
    dropped)."""
    c = np.where((cand < 0) | (cand == nodes[:, None]), n, cand)
    c.sort(axis=1)
    c[:, 1:][c[:, 1:] == c[:, :-1]] = n
    c.sort(axis=1)
    c = c[:, : max(int((c < n).sum(axis=1).max()), 1)]
    c[c == n] = -1
    return c


def _wire_round(
    P: np.ndarray,
    adj: np.ndarray,
    nodes: np.ndarray,
    medoid: int,
    L: int,
    alpha: float,
    R: int,
    rng: np.random.Generator,
) -> None:
    """Wire ``nodes`` into the (n, >= R) adjacency ``adj`` (-1 padded,
    rows packed left), in place: the insert rule of the build and of
    ``add_points`` (vamana.h:221-332; FreshDiskANN insert), run as one
    batched round against the graph as the previous round left it.

    Each node's candidates are the L nearest nodes visited by a search
    from the medoid, its current row, and ``LONG_RANGE_CANDIDATES``
    seeded random ids (without them the build loses long edges on
    clustered data: recall@10 0.71 / 0.91 at ef 32 / 64 against 0.81 /
    0.96, 20k points in 8 blobs). One RobustPrune over all rows installs
    the new rows; then every admitted edge i -> j is reversed: appended
    to j's row, or, where that pushes j past R, j is re-pruned over its
    row plus all the nodes that chose it this round.
    """
    m = nodes.size
    if m == 0:
        return
    n = adj.shape[0]
    k = min(L, n)
    # the visited sets, in query chunks that keep the search on its
    # (chunk, n) bitmap path
    vis = np.full((m, k), -1, dtype=np.int64)
    step = max(1, BITMAP_MAX_CELLS // n)
    for lo in range(0, m, step):
        rq, rid, _, _, _ = search_topk_batch(
            P, adj, medoid, P[nodes[lo : lo + step]], k, L
        )
        cnt = np.bincount(rq)
        col = np.arange(rq.size) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        vis[lo + rq, col] = rid
    rnd = rng.integers(0, n - 1, size=(m, min(LONG_RANGE_CANDIDATES, n - 1)))
    rnd += rnd >= nodes[:, None]  # skip self
    cand = _unique_rows(np.concatenate([vis, adj[nodes], rnd], axis=1), nodes, n)
    rows = robust_prune_gather(P, nodes, cand, alpha, R)
    adj[nodes] = -1
    adj[nodes, : rows.shape[1]] = rows

    # reverse fix-up over the edges i -> j the prune admitted and j lacks
    fwd = rows >= 0
    src = np.repeat(nodes, fwd.sum(axis=1))
    dst = rows[fwd]
    new = ~(adj[dst] == src[:, None]).any(axis=1)
    order = np.argsort(dst[new], kind="stable")
    src, dst = src[new][order], dst[new][order]
    if dst.size == 0:
        return
    targets, first, cnt = np.unique(dst, return_index=True, return_counts=True)
    deg = (adj[targets] >= 0).sum(axis=1)
    over = deg + cnt > R
    rank = np.arange(dst.size) - np.repeat(first, cnt)
    app = np.repeat(~over, cnt)
    adj[dst[app], np.repeat(deg, cnt)[app] + rank[app]] = src[app]
    if over.any():
        t = targets[over]
        extra = np.full((t.size, int(cnt[over].max())), -1, dtype=np.int64)
        grp = np.repeat(np.cumsum(over) - 1, cnt)[~app]
        extra[grp, rank[~app]] = src[~app]
        pruned = robust_prune_gather(
            P, t, np.concatenate([adj[t], extra], axis=1), alpha, R
        )
        adj[t] = -1
        adj[t, : pruned.shape[1]] = pruned


def build_vamana(
    P: np.ndarray,
    R: int,
    L: int,
    alpha: float,
    seed: int = 42,
) -> Tuple[List[np.ndarray], int]:
    """Two-pass Vamana build over an (n, dim) float32 matrix, in batched
    rounds.

    Follows BuildIndex (vamana.h:221-332): a seeded random graph of
    degree R (InitializeGraph without its O(n^2) connectivity bitmap),
    the medoid, then two passes (α=1.0, then α=alpha) over a seeded
    node permutation. Where the reference wires one node at a time,
    each pass here runs ``BUILD_ROUNDS`` rounds of ``_wire_round`` over
    consecutive slices of the permutation, so a node's search sees the
    edges of earlier rounds but not of its own.
    """
    n = P.shape[0]
    if n == 0:
        return [], -1
    if n == 1:
        return [np.array([], dtype=np.int64)], 0
    rng = np.random.default_rng(seed)
    nodes = np.arange(n)
    init = rng.integers(0, n - 1, size=(n, min(R, n - 1)))
    init += init >= nodes[:, None]  # skip self
    init = _unique_rows(init, nodes, n)
    adj = np.full((n, max(R, 1)), -1, dtype=np.int64)
    adj[:, : init.shape[1]] = init
    medoid = medoid_of(P)
    for a in (1.0, float(alpha)):
        for batch in np.array_split(rng.permutation(n), BUILD_ROUNDS):
            _wire_round(P, adj, batch, medoid, L, a, R, rng)
    return [row[row >= 0] for row in adj], medoid


def search_topk(
    P: np.ndarray,
    indptr: np.ndarray,
    nbrs: np.ndarray,
    medoid: int,
    q: np.ndarray,
    k: int,
    ef_search: int,
    start: Optional[int] = None,
) -> Tuple[np.ndarray, np.ndarray, int, int]:
    """Top-k ANN for one query (reference: Search, vamana.h:492-546).

    ef = max(ef_search, k); beam-search from the entry point, then take
    the k nearest *visited* nodes. Returns (ids, dists, hops, comps),
    ascending by distance with index tie-break.
    """
    n = P.shape[0]
    k = min(k, n)
    ef = max(ef_search, k)
    entry = medoid if start is None else start
    adj = np.split(nbrs, indptr[1:-1])  # per-node CSR slices
    visited_ids, visited_d, hops, comps = greedy_search(P, adj, entry, q, ef)
    if visited_ids.size == 0:
        return visited_ids, visited_d, hops, comps
    order = np.lexsort((visited_ids, visited_d))[:k]
    return visited_ids[order], visited_d[order], hops, comps


def robust_prune_batch(
    D: np.ndarray,
    cand: np.ndarray,
    alpha: float,
    R: int,
    nodes: Optional[np.ndarray] = None,
) -> np.ndarray:
    """Lockstep RobustPrune over MANY nodes at once.

    ``cand`` is (n_rows, C) candidate ids per row, ascending by distance
    to that row's node, padded with -1; ``D`` the full distance matrix.
    Per-row prunes are independent, so all rows advance one admission per
    Python iteration — ~R iterations of flat (n_rows, C) ops instead of
    n_rows sequential prune loops. Each row follows ``robust_prune``'s
    iterative rule over its presorted candidates, with distances read
    from ``D``.

    Returns (n_rows, R) admitted ids padded with -1.
    """
    n_rows, Cw = cand.shape
    D = np.ascontiguousarray(D)  # no-op for the in-module callers
    w = D.shape[1]
    # nodes[t] = the graph node row t prunes for (defaults to t itself)
    node_idx = np.arange(n_rows) if nodes is None else np.asarray(nodes)
    alive = cand >= 0
    # flat-index take: same gather as D[rows, cols] tuple fancy indexing
    # but ~2x faster on these shapes (single flat address computation)
    safe = np.clip(cand, 0, D.shape[0] - 1)
    d_p = np.where(alive, D.take(node_idx[:, None] * w + safe), np.inf)
    out = np.full((n_rows, R), -1, dtype=np.int64)
    counts = np.zeros(n_rows, dtype=np.int64)
    for _ in range(R):
        has = alive.any(axis=1)
        active = np.flatnonzero(has & (counts < R))
        if active.size == 0:
            break
        first = alive[active].argmax(axis=1)  # first alive (cand sorted)
        star = cand[active, first]
        out[active, counts[active]] = star
        counts[active] += 1
        alive[active, first] = False
        # kill dominated: alpha * d(star, c) <= d(p, c)
        d_star = D.take(star[:, None] * w + safe[active])
        kill = (alpha * d_star <= d_p[active]) & alive[active]
        alive[active] &= ~kill
    return out


def robust_prune_gather(
    P: np.ndarray,
    node_ids: np.ndarray,
    cand: np.ndarray,
    alpha: float,
    R: int,
) -> np.ndarray:
    """Lockstep RobustPrune over many nodes WITHOUT a full distance
    matrix: distances are gathered from the point matrix on the fly.

    ``cand`` is (m, C) candidate ids per node, padded with -1, in any
    order. Rows whose candidate count is already <= R are passed through
    unpruned (degree-cap semantics: pruning only applies to overfull
    nodes). Cost: one (m, C, dim) distance pass + R admission rounds of
    (active, C, dim) einsums — no (n, n) materialization, so it scales
    to arbitrary n.

    Returns (m, R_max) admitted ids padded with -1.
    """
    m, C = cand.shape
    n = P.shape[0]
    Rw = max(R, 1)
    out = np.full((m, Rw), -1, dtype=np.int64)
    # Chunk rows so the gathered candidate-vector block V is built ONCE
    # per chunk and every admission round is a small (b, C) einsum over
    # it — the naive form materializes a fresh (m, C, dim) difference
    # tensor per round, hundreds of MB of pure temp traffic.
    CHUNK = max(1, 8_388_608 // (max(C, 1) * P.shape[1]))  # ~32 MB f32 V
    for s in range(0, m, CHUNK):
        e = min(s + CHUNK, m)
        cc = cand[s:e]
        b = e - s
        valid = cc >= 0
        counts0 = valid.sum(axis=1)
        safe = np.clip(cc, 0, n - 1)
        V = P[safe]                                        # (b, C, dim)
        Vsq = np.einsum("ijk,ijk->ij", V, V).astype(np.float64)
        pvec = P[node_ids[s:e]]                            # (b, dim)
        psq = np.einsum("ij,ij->i", pvec, pvec).astype(np.float64)
        # batched gemv via matmul (BLAS) — measurably faster than the
        # equivalent einsum for this (b, C, dim) x (b, dim) contraction
        d_p = psq[:, None] + Vsq - 2.0 * np.matmul(
            V, pvec[:, :, None]
        )[:, :, 0]
        d_p[~valid] = np.inf
        order = np.argsort(d_p, axis=1, kind="stable")
        cc = np.take_along_axis(cc, order, axis=1)
        d_p = np.take_along_axis(d_p, order, axis=1)
        V = np.take_along_axis(V, order[:, :, None], axis=1)
        Vsq = np.take_along_axis(Vsq, order, axis=1)

        ob = np.full((b, Rw), -1, dtype=np.int64)
        keep = counts0 <= R                                # pass-through rows
        if keep.any():
            kr = np.flatnonzero(keep)
            W = min(C, Rw)
            col = np.arange(W)[None, :]
            ob[kr[:, None], col] = np.where(
                col < counts0[kr][:, None], cc[kr, :W], -1
            )
        alive = (cc >= 0) & ~keep[:, None]
        counts = np.zeros(b, dtype=np.int64)
        br = np.arange(b)
        for _ in range(R):
            active = np.flatnonzero(alive.any(axis=1) & (counts < R))
            if active.size == 0:
                break
            first = alive[active].argmax(axis=1)
            star = cc[active, first]
            ob[active, counts[active]] = star
            counts[active] += 1
            alive[active, first] = False
            # d(star, c) from the in-chunk gather: no new (a, C, dim) temp
            sv = V[active, first]                          # (a, dim)
            d_star = (
                Vsq[active, first][:, None]
                + Vsq[active]
                - 2.0 * np.matmul(V[active], sv[:, :, None])[:, :, 0]
            )
            kill = (alpha * d_star <= d_p[active]) & alive[active]
            alive[active] &= ~kill
        out[s:e] = ob
    return out


def build_vamana_dense(
    P: np.ndarray,
    R: int,
    alpha: float,
    seed: int = 42,
    L: int = 0,
) -> Tuple[List[np.ndarray], int]:
    """Dense Vamana build: candidate sets from the full pairwise distance
    matrix (one BLAS gemm), then per-node RobustPrune + reverse fix-up.
    For n where the n^2 matrix fits, the hot loop is pure vectorized
    NumPy: 1.2 s of CPU at 5k points where the batched ``build_vamana``
    takes 10 s (see ``DENSE_BUILD_MAX``).

    Each node's candidates are its C exact nearest points plus
    ``LONG_RANGE_CANDIDATES`` seeded uniform-random points. The exact
    set alone is NOT as good as the two-pass build: on clustered data
    every exact candidate sits in the node's own cluster, the pruned
    graph has no long edges, and beam search stalls in the medoid's
    cluster (recall@10 0.73 at ef=32 on 5k points in 8 Gaussian blobs).
    The random candidates stand in for the far nodes that the paper's
    second pass picks up from the greedy-search visited set from the
    medoid (DiskANN §2.3); RobustPrune keeps those that no nearer
    neighbour dominates (recall@10 0.99 on the same corpus).

    Memory: O(n^2) f32 — ``build_graph`` uses it up to
    ``DENSE_BUILD_MAX`` points.
    """
    n = P.shape[0]
    if n == 0:
        return [], -1
    if n == 1:
        return [np.array([], dtype=np.int64)], 0
    Pd = P.astype(np.float32, copy=False)
    sq = np.einsum("ij,ij->i", Pd, Pd)
    D = sq[:, None] + sq[None, :] - 2.0 * (Pd @ Pd.T)
    np.maximum(D, 0.0, out=D)

    # candidate list per node: the C nearest (C = max(L, 2R), the paper's
    # working-set size) — argpartition + local sort beats a full n^2 argsort
    C = min(n - 1, max(int(L) or 0, 2 * R, 64))
    part = np.argpartition(D, C, axis=1)[:, : C + 1]  # includes self
    part_d = np.take_along_axis(D, part, axis=1)
    loc = np.argsort(part_d, axis=1, kind="stable")
    order = np.take_along_axis(part, loc, axis=1)

    # drop self from each row, keep C candidates, lockstep-prune all nodes.
    # Each argpartition row holds C+1 distinct ids including self exactly
    # once, so a stable compaction of the non-self entries yields exactly
    # C candidates per row — no ragged loop needed.
    rows = np.arange(n)[:, None]
    cand_rows = np.where(order == rows, -1, order)
    compact = np.argsort(cand_rows < 0, axis=1, kind="stable")
    packed = np.take_along_axis(cand_rows, compact, axis=1)[:, :C]

    # long-range candidates: S seeded random non-self ids per row, merged
    # into the distance order. A random id that repeats an exact one (or
    # itself) is harmless: the prune kills it when its twin is admitted.
    S = min(LONG_RANGE_CANDIDATES, n - 1 - C)
    if S > 0:
        rnd = np.random.default_rng(seed).integers(0, n - 1, size=(n, S))
        rnd += rnd >= rows  # skip self
        packed = np.concatenate([packed, rnd], axis=1)
        o = np.argsort(np.take_along_axis(D, packed, axis=1), axis=1, kind="stable")
        packed = np.take_along_axis(packed, o, axis=1)
    pruned = robust_prune_batch(D, packed, float(alpha), R)
    graph: List[np.ndarray] = [row[row >= 0] for row in pruned]

    # reverse-edge fix-up: ensure j sees i for every edge i->j; re-prune
    # any node pushed over R (vamana.h:270-287 semantics, batched).
    # One sorted-unique pass over (src, dst) keys replaces the per-node
    # Python rev-list/unique loop: np.unique on src*n+dst yields each
    # node's merged neighbor set grouped by src in ascending-id order —
    # bit-identical to per-node np.unique(concat(fwd, rev)).
    fmask = pruned >= 0
    src = np.broadcast_to(np.arange(n)[:, None], pruned.shape)[fmask]
    dst = pruned[fmask]
    keys = np.unique(
        np.concatenate([src * n + dst, dst * n + src])
    )
    s2, d2 = keys // n, keys % n
    nonself = s2 != d2
    s2, d2 = s2[nonself], d2[nonself]
    deg = np.bincount(s2, minlength=n)
    merged_all = np.split(d2, np.cumsum(deg)[:-1])
    over: List[int] = []
    merged_lists: List[np.ndarray] = []
    for j in range(n):
        merged = merged_all[j]
        if merged.size <= R:
            graph[j] = merged
        else:
            over.append(j)
            merged_lists.append(merged)
    if over:
        # batch the per-node distance sort: pad the ragged merged lists
        # into one matrix, mask pads to +inf, one argsort over the batch
        nodes_arr = np.asarray(over, dtype=np.int64)
        sizes = np.asarray([m.size for m in merged_lists], dtype=np.int64)
        W = int(sizes.max())
        packed2 = np.full((len(over), W), -1, dtype=np.int64)
        rows_idx = np.repeat(np.arange(len(over)), sizes)
        cols_idx = np.arange(sizes.sum()) - np.repeat(
            np.concatenate([[0], np.cumsum(sizes)[:-1]]), sizes
        )
        packed2[rows_idx, cols_idx] = np.concatenate(merged_lists)
        dm = D[nodes_arr[:, None], np.clip(packed2, 0, n - 1)]
        dm[packed2 < 0] = np.inf
        o = np.argsort(dm, axis=1, kind="stable")
        packed2 = np.take_along_axis(packed2, o, axis=1)
        pruned2 = robust_prune_batch(
            D, packed2, float(alpha), R, nodes=nodes_arr
        )
        for t, j in enumerate(over):
            row = pruned2[t]
            graph[j] = row[row >= 0]

    medoid = int(np.argmin(D.sum(axis=1)))  # exact medoid — free given D
    return graph, medoid


def build_graph(
    P: np.ndarray, R: int, L: int, alpha: float, seed: int
) -> Tuple[List[np.ndarray], int]:
    """The graph build every index runs: ``build_vamana_dense`` up to
    ``DENSE_BUILD_MAX`` points (without L, so it takes max(2R, 64)
    candidates per node), the batched ``build_vamana`` past it.
    Returns (graph, medoid)."""
    if P.shape[0] <= DENSE_BUILD_MAX:
        return build_vamana_dense(P, R, alpha, seed)
    return build_vamana(P, R, L, alpha, seed)


def pad_adjacency(indptr: np.ndarray, nbrs: np.ndarray, n: int) -> np.ndarray:
    """CSR -> (n, Rmax) int64 matrix padded with -1 (for batched gathers)."""
    degs = np.diff(indptr)
    Rmax = int(degs.max()) if n else 0
    M = np.full((n, max(Rmax, 1)), -1, dtype=np.int64)
    if n and nbrs.size:
        rows = np.repeat(np.arange(n), degs)
        cols = np.arange(nbrs.size) - np.repeat(indptr[:-1], degs)
        M[rows, cols] = nbrs
    return M


def _beam_walk(
    nbr_mat: np.ndarray,
    n: int,
    starts: np.ndarray,
    ef: int,
    dist: Callable[[np.ndarray, np.ndarray], np.ndarray],
):
    """Lockstep batched beam search, the walk both batched searches
    share: all queries advance one hop per Python iteration, and each
    hop expands the ``EXPAND`` nearest unvisited beam entries of every
    query. ``dist(pts, qrow)`` gives the distances from query rows
    ``qrow`` to nodes ``pts`` (two equal-length id arrays).

    The "seen" set is a flat (nq, n + 1) bitmap with EVALUATED-once
    semantics (the standard HNSW visited set): a node is marked the
    moment its distance is computed, and never re-evaluated. Sound
    because the beam holds the ef best evaluated nodes and its threshold
    only tightens — a node dropped (or never admitted) can never beat
    re-admission later. So each hop computes distances ONLY for
    genuinely new nodes (sparse gather), and beam membership is one
    bitmap lookup. Query row r's node j sits at flat ``r*(n+1) + 1 + j``;
    column 0 of each row is a sink that is always set, so the
    adjacency's -1 pads land on it and read as seen, with no clip and no
    validity mask.

    Beam and candidate distances keep the dtype ``dist`` returns
    (float32 for the float search, whose einsum is float32, so storing
    it is exact; float64 for ADC). One (rows, ef + B·Rmax) id / dist
    work buffer, B = min(EXPAND, ef), is allocated per call: each hop
    copies the beams into its first ef columns, writes each new
    candidate straight to its flat position behind them (column
    ``ef + c·Rmax + j`` for expansion c's j-th neighbour), and one
    argpartition per row keeps the ef nearest. An expanded entry is marked visited in place as id
    ``-2 - id`` (-1 stays the pad), so the merge moves two arrays. Rows
    whose beam has no unvisited entry left are finished: their beam is
    final, and the walk drops them from the work arrays.

    Returns the final beams (ids, dists) with per-query hops and
    dist_comps.
    """
    nq = starts.shape[0]
    live = np.arange(nq)                     # query row of each work row
    d0 = dist(starts, live)
    beam_ids = np.full((nq, ef), -1, dtype=np.int64)
    beam_d = np.full((nq, ef), np.inf, dtype=d0.dtype)
    beam_ids[:, 0] = starts
    beam_d[:, 0] = d0
    out_ids = np.empty_like(beam_ids)
    out_d = np.empty_like(beam_d)
    hops = np.zeros(nq, dtype=np.int64)
    comps = np.ones(nq, dtype=np.int64)
    seen = np.zeros(nq * (n + 1), dtype=bool)
    seen[live * (n + 1)] = True
    seen[live * (n + 1) + 1 + starts] = True
    B = min(EXPAND, ef)
    Rmax = nbr_mat.shape[1]
    W = ef + B * Rmax
    work_ids = np.empty((nq, W), dtype=np.int64)
    work_d = np.empty((nq, W), dtype=d0.dtype)
    for _hop in range(4 * ef + 8):
        bd = np.where(beam_ids < 0, np.inf, beam_d)       # pads and visited
        if ef > B:
            psel = np.argpartition(bd, B - 1, axis=1)[:, :B]
            emask = np.isfinite(np.take_along_axis(bd, psel, axis=1))
        else:
            psel = np.broadcast_to(np.arange(ef), (live.size, ef))
            emask = np.isfinite(bd)                           # (ra, B)
        act = emask.any(axis=1)
        if not act.all():
            out_ids[live[~act]] = beam_ids[~act]
            out_d[live[~act]] = beam_d[~act]
            keep = np.flatnonzero(act)
            if keep.size == 0:
                break
            live, beam_ids, beam_d = live[keep], beam_ids[keep], beam_d[keep]
            psel, emask = psel[keep], emask[keep]
        ra = live.size
        hops[live] += emask.sum(axis=1)
        wid, wd = work_ids[:ra], work_d[:ra]
        wid[:, :ef] = beam_ids
        wid[:, ef:] = -1
        wd[:, :ef] = beam_d
        wd[:, ef:] = np.inf
        fid, fd = wid.reshape(-1), wd.reshape(-1)
        rowkey = live * (n + 1) + 1
        emask_c, psel_c = emask.T.copy(), psel.T.copy()       # (B, ra)
        # evaluate the B expansion COLUMNS sequentially: each pass works
        # on ~ra rows (cache-resident temps — one big fused pass measured
        # 3x slower here purely from temp-array spill) and progressive
        # seen marking makes a column's nodes invisible to the next
        # column, so intra-hop duplicates need no sort-based dedup. The
        # select + argpartition still run ONCE per B expansions.
        for c in range(B):
            ri = np.flatnonzero(emask_c[c])                   # work rows
            if ri.size == 0:
                continue
            slot = psel_c[c].take(ri) + ri * W
            cur = fid[slot]
            fid[slot] = -2 - cur                              # visited
            cand = nbr_mat.take(cur, axis=0)                  # (mc, Rmax)
            key = cand + rowkey.take(ri)[:, None]             # -1 -> sink
            f = np.flatnonzero(~seen.take(key))               # new, flat
            seen[key.reshape(-1).take(f)] = True
            fr = f // Rmax                                    # expansion
            crow = ri.take(fr)
            pts = cand.reshape(-1).take(f)
            pos = crow * W + (ef + c * Rmax) + (f - fr * Rmax)
            fd[pos] = dist(pts, live.take(crow))
            fid[pos] = pts
            comps[live] += np.bincount(crow, minlength=ra)
        sel = np.argpartition(wd, ef - 1, axis=1)[:, :ef]
        sel += np.arange(0, ra * W, W)[:, None]
        beam_ids, beam_d = fid.take(sel), fd.take(sel)
    else:
        out_ids[live] = beam_ids
        out_d[live] = beam_d
    return np.where(out_ids < -1, -2 - out_ids, out_ids), out_d, hops, comps


def _history_walk(
    Pf: np.ndarray,
    Qf: np.ndarray,
    nbr_mat: np.ndarray,
    starts: np.ndarray,
    ef: int,
):
    """Float-only single-expansion walk for batches whose (nq, n) bitmap
    would pass ``BITMAP_MAX_CELLS``: "seen" is the beam plus a growing
    per-query list of expanded nodes, checked by broadcast-compare —
    memory-safe for n in the millions, at O(hop) compare cost per hop.
    Same return as ``_beam_walk``."""
    nq = starts.shape[0]
    n = Pf.shape[0]
    max_hops = 4 * ef + 8
    diff0 = Pf[starts] - Qf
    beam_ids = np.full((nq, ef), -1, dtype=np.int64)
    beam_d = np.full((nq, ef), np.inf, dtype=np.float64)
    beam_vis = np.zeros((nq, ef), dtype=bool)
    beam_ids[:, 0] = starts
    beam_d[:, 0] = np.einsum("ij,ij->i", diff0, diff0)
    hops = np.zeros(nq, dtype=np.int64)
    comps = np.ones(nq, dtype=np.int64)
    arange_nq = np.arange(nq)
    hist = np.full((nq, max_hops), -1, dtype=np.int64)
    for hop in range(max_hops):
        bd = np.where(beam_vis | (beam_ids < 0), np.inf, beam_d)
        pos = bd.argmin(axis=1)
        have = np.isfinite(bd[arange_nq, pos])
        if not have.any():
            break
        rows = np.flatnonzero(have)
        rp = pos[rows]
        cur = beam_ids[rows, rp]
        beam_vis[rows, rp] = True
        hist[rows, hop] = cur
        hops[rows] += 1

        cand = nbr_mat[cur]                                   # (ra, Rmax)
        valid = cand >= 0
        safe = np.clip(cand, 0, n - 1)
        in_beam = (cand[:, :, None] == beam_ids[rows][:, None, :]).any(axis=2)
        in_hist = (cand[:, :, None] == hist[rows][:, None, : hop + 1]).any(axis=2)
        new = valid & ~in_beam & ~in_hist
        comps[rows] += new.sum(axis=1)
        diff = Pf[safe] - Qf[rows][:, None, :]                # (ra, Rmax, dim)
        cd = np.einsum("ijk,ijk->ij", diff, diff).astype(np.float64)
        cd[~new] = np.inf
        # keep the ef nearest of each row's beam plus its new candidates
        all_ids = np.concatenate([beam_ids[rows], np.where(new, cand, -1)], axis=1)
        all_d = np.concatenate([beam_d[rows], cd], axis=1)
        all_vis = np.concatenate([beam_vis[rows], np.zeros(new.shape, dtype=bool)], axis=1)
        sel = np.argpartition(all_d, ef - 1, axis=1)[:, :ef]
        beam_ids[rows] = np.take_along_axis(all_ids, sel, axis=1)
        beam_d[rows] = np.take_along_axis(all_d, sel, axis=1)
        beam_vis[rows] = np.take_along_axis(all_vis, sel, axis=1)
    return beam_ids, beam_d, hops, comps


def _topk_rows(
    beam_ids: np.ndarray, beam_d: np.ndarray, k: int
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Flat per-row top-k of the final beams, ascending dist then id:
    (row_idx, ids, float64 dists)."""
    order_d = np.where(beam_ids < 0, np.inf, beam_d)
    o = np.lexsort((beam_ids, order_d), axis=1)[:, :k]
    keep = np.isfinite(np.take_along_axis(order_d, o, axis=1))
    rows = np.nonzero(keep)[0].astype(np.int64, copy=False)
    ids = np.take_along_axis(beam_ids, o, axis=1)[keep]
    d = np.take_along_axis(beam_d, o, axis=1)[keep]
    return rows, ids, d.astype(np.float64, copy=False)


def search_topk_batch(
    P: np.ndarray,
    nbr_mat: np.ndarray,
    medoid: int,
    Q: np.ndarray,
    k: int,
    ef_search: int,
    starts: Optional[np.ndarray] = None,
) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Lockstep batched beam search over float vectors (``_beam_walk``;
    past ``BITMAP_MAX_CELLS`` the single-expansion history walk). Per-hop
    work is a handful of large vectorized ops instead of per-query
    small-array calls. The semantics match greedy_search +
    top-k-of-visited (at natural termination the beam IS the ef nearest
    visited set). ``starts``: per-query entry nodes (default: medoid).

    Returns (row_idx, ids, dists, hops, dist_comps): flat top-k results,
    ``row_idx[j]`` = query row of result j (ranks ascend within a row).
    """
    nq = Q.shape[0]
    n = P.shape[0]
    if nq == 0 or n == 0:
        z = np.array([], dtype=np.int64)
        return z, z, np.array([], dtype=np.float64), z, z
    k = min(k, n)
    ef = max(ef_search, k)
    Pf = P.astype(np.float32, copy=False)
    Qf = Q.astype(np.float32, copy=False)
    start_nodes = (
        np.full(nq, medoid, dtype=np.int64) if starts is None
        else np.asarray(starts, dtype=np.int64)
    )
    if nq * n <= BITMAP_MAX_CELLS:
        def dist(pts: np.ndarray, qrow: np.ndarray) -> np.ndarray:
            diff = Pf.take(pts, axis=0)                       # (m, dim)
            diff -= Qf.take(qrow, axis=0)
            return np.einsum("ij,ij->i", diff, diff)

        beam_ids, beam_d, hops, comps = _beam_walk(nbr_mat, n, start_nodes, ef, dist)
    else:
        beam_ids, beam_d, hops, comps = _history_walk(Pf, Qf, nbr_mat, start_nodes, ef)
    return (*_topk_rows(beam_ids, beam_d, k), hops, comps)


def search_topk_batch_adc(
    codes: np.ndarray,
    cents: np.ndarray,
    nbr_mat: np.ndarray,
    medoid: int,
    Q: np.ndarray,
    k: int,
    ef_search: int,
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Lockstep batched beam search where node distances come from PQ
    codes via an asymmetric-distance (ADC) lookup table instead of the
    full float matrix — the DiskANN beyond-RAM serving recipe the
    reference's paper describes (readme.md:3; graph walk semantics as in
    Search, vamana.h:492-546): the walk touches ONLY the codes
    (``n*m`` bytes, ~``dim*4/m``× smaller than float32 points), and the
    caller exact-re-ranks the returned shortlist from full vectors kept
    at rest (parquet), never memory-resident.

    ``codes``: (n, m) uint8 PQ codes; ``cents``: (m, ksub, dsub)
    per-subspace codebooks; ``Q``: (nq, dim) raw query vectors (the LUT
    is built here, once per call, per query).

    Same walk as ``search_topk_batch`` (``_beam_walk``); query batches
    larger than the bitmap budget are chunked (the dataset is never
    chunked — shard size is the caller's memory unit), down to one
    query per chunk, which always walks.

    Returns ``(row_idx, ids, adc_dists)`` flat top-k per query row
    (ranks ascend within a row); distances are APPROXIMATE (ADC).
    """
    nq = Q.shape[0]
    n = codes.shape[0]
    if nq == 0 or n == 0:
        z = np.array([], dtype=np.int64)
        return z, z, np.array([], dtype=np.float64)
    if nq > 1 and nq * n > BITMAP_MAX_CELLS:
        step = max(1, BITMAP_MAX_CELLS // n)
        rs, ids_, ds = [], [], []
        for lo in range(0, nq, step):
            r, i, d = search_topk_batch_adc(
                codes, cents, nbr_mat, medoid, Q[lo : lo + step], k, ef_search
            )
            rs.append(r + lo)
            ids_.append(i)
            ds.append(d)
        return np.concatenate(rs), np.concatenate(ids_), np.concatenate(ds)

    m, ksub, dsub = cents.shape
    k = min(k, n)
    ef = max(ef_search, k)

    # LUT[q, j, c] = ||Q[q, sub_j] - cents[j, c]||^2  (nq*m*ksub doubles)
    Qd = Q.astype(np.float64, copy=False)
    Cd = cents.astype(np.float64, copy=False)
    lut = np.empty((nq, m, ksub))
    for j in range(m):
        sub = Qd[:, j * dsub : (j + 1) * dsub]
        lut[:, j, :] = (
            np.einsum("ij,ij->i", sub, sub)[:, None]
            + np.einsum("ij,ij->i", Cd[j], Cd[j])[None, :]
            - 2.0 * (sub @ Cd[j].T)
        )
    codes = np.ascontiguousarray(codes)
    _jj = np.arange(m)

    def adc(pts: np.ndarray, qrow: np.ndarray) -> np.ndarray:
        # dist[t] = sum_j lut[qrow[t], j, codes[pts[t], j]]
        return lut[qrow[:, None], _jj[None, :], codes[pts]].sum(axis=1)

    start_nodes = np.full(nq, int(medoid), dtype=np.int64)
    beam_ids, beam_d, _, _ = _beam_walk(nbr_mat, n, start_nodes, ef, adc)
    return _topk_rows(beam_ids, beam_d, k)


def brute_topk_batch(
    P: np.ndarray, Q: np.ndarray, k: int
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact batched top-k by one BLAS pass — the SMALL-SHARD fast path.

    Beam search costs ~ef·R distance comps per query in interpreter-
    driven hops; an exhaustive scan costs n fully-vectorized comps. On a
    shard with n ≤ ef·R the scan does strictly fewer comps, runs at
    BLAS speed, and is EXACT (per-shard recall 1.0) — the classic
    IVF-flat behavior. The graph kernel pays off only past that point.

    Returns (row_idx, ids, dists) — same contract as the first three
    outputs of ``search_topk_batch``: flat per-query top-k, rank order
    ascending by (dist, id) within a row; dists are squared L2 in the
    caller's (already metric-transformed) space.

    Queries are chunked so the (chunk, n) distance block stays ~32 MB;
    the shard matrix is never chunked (it is the caller's memory unit).
    """
    nq = Q.shape[0]
    n = P.shape[0]
    if nq == 0 or n == 0:
        z = np.array([], dtype=np.int64)
        return z, z, np.array([], dtype=np.float64)
    k = min(k, n)
    Pf = np.ascontiguousarray(P, dtype=np.float32)
    p2 = np.einsum("ij,ij->i", Pf, Pf, dtype=np.float64)
    rows_out, ids_out, d_out = [], [], []
    chunk = max(1, (1 << 22) // n)
    for lo in range(0, nq, chunk):
        Qc = np.ascontiguousarray(Q[lo : lo + chunk], dtype=np.float32)
        q2 = np.einsum("ij,ij->i", Qc, Qc, dtype=np.float64)
        d = q2[:, None] + p2[None, :] - 2.0 * (Qc @ Pf.T).astype(np.float64)
        np.maximum(d, 0.0, out=d)
        # select k + a small margin: the norm-expansion distances carry
        # ~1e-6 cancellation residue, so when the true k-th and (k+1)-th
        # neighbors sit closer than that the float32 selection can admit
        # the wrong one. The margin rows are re-ranked on
        # EXACT recomputed distances below and the cut to k happens
        # after — a boundary flip now needs the true gap to beat the
        # residue across 8 extra candidates, not one.
        margin = min(k + 8, n)
        if margin < n:
            sel = np.argpartition(d, margin - 1, axis=1)[:, :margin]
        else:
            sel = np.broadcast_to(np.arange(n), (d.shape[0], n)).copy()
        # the norm-expansion form selects fast but carries cancellation
        # residue (a self-match reports ~1e-6, not 0.0, where the beam
        # kernel's difference form reports an exact 0) — recompute the
        # selected distances difference-form (nq·margin·dim, cheap) so
        # the emitted values match the graph path's semantics bit-for-bit
        # on exact hits, then re-rank on the recomputed values
        diff = Qc[:, None, :].astype(np.float64) - Pf[sel].astype(np.float64)
        dsel = np.einsum("bkd,bkd->bk", diff, diff)
        # deterministic rank: ascending dist, node-id tiebreak (stable
        # id-sort first, then stable dist-sort preserves id order)
        o1 = np.argsort(sel, axis=1, kind="stable")
        sel = np.take_along_axis(sel, o1, axis=1)
        dsel = np.take_along_axis(dsel, o1, axis=1)
        o2 = np.argsort(dsel, axis=1, kind="stable")
        sel = np.take_along_axis(sel, o2, axis=1)[:, :k]
        dsel = np.take_along_axis(dsel, o2, axis=1)[:, :k]
        b = sel.shape[0]
        rows_out.append(np.repeat(np.arange(lo, lo + b, dtype=np.int64), k))
        ids_out.append(sel.ravel().astype(np.int64))
        d_out.append(dsel.ravel())
    return (
        np.concatenate(rows_out),
        np.concatenate(ids_out),
        np.concatenate(d_out),
    )


def brute_topk_batch_adc(
    codes: np.ndarray, cents: np.ndarray, Q: np.ndarray, k: int
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exhaustive ADC scan — the small-shard fast path of the PQ tier.

    Same rationale as :func:`brute_topk_batch`: on shards with
    n ≤ ef·R, summing the per-query LUT over ALL n code rows (m gathers
    of a (chunk, n) block) beats walking the graph, and returns the
    best-possible ADC shortlist (exhaustive over the shard). Distances
    are APPROXIMATE (ADC), exactly like ``search_topk_batch_adc``; the
    caller's exact re-rank is unchanged.

    Returns (row_idx, ids, adc_dists) with ascending (dist, id) rank
    order within each query row.
    """
    nq, dim = Q.shape
    n, m = codes.shape
    if nq == 0 or n == 0:
        z = np.array([], dtype=np.int64)
        return z, z, np.array([], dtype=np.float64)
    k = min(k, n)
    dsub = dim // m
    C = cents.astype(np.float32)  # (m, ksub, dsub)
    c2 = np.einsum("mkd,mkd->mk", C, C)  # (m, ksub)
    CT = np.ascontiguousarray(C.transpose(0, 2, 1))  # (m, dsub, ksub)
    codes = np.ascontiguousarray(codes)
    rows_out, ids_out, d_out = [], [], []
    chunk = max(1, (1 << 21) // n)
    for lo in range(0, nq, chunk):
        Qc = Q[lo : lo + chunk].astype(np.float32).reshape(-1, m, dsub)
        # LUT[j, b, c] = ||q_sub - centroid||^2 via the norm-expansion
        # batched GEMM (np.matmul over the m axis — einsum's bmd,mkd
        # path measured 9x slower at the bench shape) assembled in-place
        # in the GEMM output buffer (no broadcast temps)
        q2 = np.einsum("bmd,bmd->bm", Qc, Qc)  # (b, m)
        lut = np.matmul(Qc.transpose(1, 0, 2), CT)  # (m, b, ksub)
        lut *= -2.0
        lut += c2[:, None, :]
        lut += q2.T[:, :, None]
        # per-subspace gather-accumulate: np.take over the contiguous
        # (b, ksub) LUT page (measured 5x faster than fancy-indexing the
        # (b, m, ksub) layout). For small shards a one-hot GEMM is
        # faster still but multi-threads BLAS inside already-parallel
        # executor tasks — the single-threaded gather is the safe shape.
        D = np.take(lut[0], codes[:, 0], axis=1)
        for j in range(1, m):
            D += np.take(lut[j], codes[:, j], axis=1)
        if k < n:
            sel = np.argpartition(D, k - 1, axis=1)[:, :k]
        else:
            sel = np.broadcast_to(np.arange(n), (D.shape[0], n)).copy()
        dsel = np.take_along_axis(D, sel, axis=1)
        o1 = np.argsort(sel, axis=1, kind="stable")
        sel = np.take_along_axis(sel, o1, axis=1)
        dsel = np.take_along_axis(dsel, o1, axis=1)
        o2 = np.argsort(dsel, axis=1, kind="stable")
        sel = np.take_along_axis(sel, o2, axis=1)
        dsel = np.take_along_axis(dsel, o2, axis=1)
        b = sel.shape[0]
        rows_out.append(np.repeat(np.arange(lo, lo + b, dtype=np.int64), k))
        ids_out.append(sel.ravel().astype(np.int64))
        d_out.append(dsel.ravel())
    return (
        np.concatenate(rows_out),
        np.concatenate(ids_out),
        np.concatenate(d_out),
    )


def _kmeans(X: np.ndarray, k: int, seed: int, iters: int = 15) -> np.ndarray:
    """Seeded Lloyd with kmeans++-style init; deterministic."""
    rng = np.random.default_rng(seed)
    n = X.shape[0]
    k = min(k, n)
    # kmeans++ init, incremental: track the running min-distance-to-chosen
    # so each new center costs O(n*d), not O(k*n*d)
    centers = [X[rng.integers(n)]]
    d2 = ((X - centers[0]) ** 2).sum(-1)
    for _ in range(1, k):
        tot = d2.sum()
        if tot <= 0:
            c = X[rng.integers(n)]
        else:
            c = X[np.searchsorted(np.cumsum(d2 / tot), rng.random())]
        centers.append(c)
        np.minimum(d2, ((X - c) ** 2).sum(-1), out=d2)
    C = np.asarray(centers, dtype=np.float64)
    xsq = (X * X).sum(-1)
    for _ in range(iters):
        # BLAS form, no (n, k, d) temp: ||x||^2 + ||c||^2 - 2 x.c
        d = xsq[:, None] + (C * C).sum(-1)[None, :] - 2.0 * (X @ C.T)
        assign = d.argmin(axis=1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                C[j] = X[mask].mean(axis=0)
            else:  # re-seed empty cluster at the worst-served point
                C[j] = X[d.min(axis=1).argmax()]
    return C


def _pq_codebooks(
    X: np.ndarray, m: int, ksub: int, seed: int, iters: int
) -> np.ndarray:
    """PQ codebooks: one ``_kmeans`` per subspace j of X's m equal column
    slices, seeded ``seed + j``. Returns (m, min(ksub, n), dim // m)
    float64."""
    dsub = X.shape[1] // m
    return np.stack(
        [
            _kmeans(X[:, j * dsub : (j + 1) * dsub], ksub, seed + j, iters)
            for j in range(m)
        ]
    )


def _opq_fit(
    X: np.ndarray,
    m: int,
    ksub: int,
    seed: int,
    iters: int = 10,
    opq_iters: int = 8,
) -> tuple:
    """OPQ alternating minimization (Ge et al., CVPR 2013,
    non-parametric variant), the rotation behind the partitioned tier's
    ``search_pq(opq=True)``: fix R, train per-subspace codebooks on
    X@R; fix the codebooks' reconstruction Y, solve
    ``min_R ||X R - Y||_F  s.t. R^T R = I`` in closed form via SVD of
    X^T Y (orthogonal Procrustes). Returns ``(R, cents)`` with R
    (dim, dim) float64 and cents (m, ksub_eff, dsub) float64."""
    X = np.asarray(X, dtype=np.float64)
    dim = X.shape[1]
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    dsub = dim // m
    ksub_eff = min(ksub, X.shape[0])

    # seeded random orthogonal init (QR of a gaussian) — breaks the
    # axis-aligned symmetry identity init would preserve
    rng = np.random.default_rng(seed)
    Q0, _ = np.linalg.qr(rng.standard_normal((dim, dim)))
    R = Q0

    def reconstruct(Xr: np.ndarray, cents: np.ndarray) -> np.ndarray:
        Y = np.empty_like(Xr)
        for j in range(m):
            sub = Xr[:, j * dsub : (j + 1) * dsub]
            d = (
                (sub * sub).sum(1)[:, None]
                + (cents[j] * cents[j]).sum(1)[None, :]
                - 2.0 * sub @ cents[j].T
            )
            Y[:, j * dsub : (j + 1) * dsub] = cents[j][d.argmin(axis=1)]
        return Y

    cents = _pq_codebooks(X @ R, m, ksub_eff, seed, iters)
    for _ in range(opq_iters):
        Y = reconstruct(X @ R, cents)
        U, _s, Vt = np.linalg.svd(X.T @ Y)
        R = U @ Vt
        cents = _pq_codebooks(X @ R, m, ksub_eff, seed, max(iters // 2, 3))
    return R, cents
