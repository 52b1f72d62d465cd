"""NumPy kernels for Vamana graph build and beam search.

These are the only imperative, per-partition pieces of the engine (they
run inside Arrow-batched pandas UDFs — SURVEY.md §4.2). Everything here
is an original implementation of the published DiskANN/Vamana algorithm
(Subramanya et al., NeurIPS'19), written against the paper:

- ``greedy_search``  — beam search (reference analogue: greedySearch,
  vamana.h:559-629) with hop / distance-computation counters (the
  reference Go API stubs these, go_api/vamana_go_api.go:163-171).
- ``robust_prune``   — the *paper-correct iterative* RobustPrune (the
  reference ships a simplified non-iterative variant, vamana.h:722-760;
  SURVEY.md §2 R7 records the deliberate semantics decision).
- ``build_vamana``   — two-pass build (pass 1 α=1.0, pass 2 α=α) with
  bidirectional fix-up, matching BuildIndex semantics (vamana.h:221-332)
  sequentially within a shard; cross-shard parallelism happens at the
  Spark layer (sharded build, vamana.py).

Vectors are float32 at rest; all distance math is float32 matrix ops
(BLAS) — recall tolerances dwarf fp error here, unlike the exact-oracle
path which uses float64 (exact.py).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

import numpy as np

# random candidates per node that build_vamana_dense adds to each node's
# exact nearest set, so the pruned graph keeps long edges on clustered data
LONG_RANGE_CANDIDATES = 16

# largest nq * n for which the batched searches keep an (nq, n) "seen"
# bitmap (256 MB of bool); past it search_topk_batch falls back to the
# single-expansion history path and the ADC search chunks queries
BITMAP_MAX_CELLS = 256_000_000


def dists_to(P: np.ndarray, ids: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Squared L2 from query q to P[ids] — one vectorized BLAS-ish op."""
    diff = P[ids] - q
    return np.einsum("ij,ij->i", diff, diff)


def medoid_of(P: np.ndarray) -> int:
    """Nearest point to the centroid — O(n), the DiskANN-style entry point."""
    c = P.mean(axis=0)
    diff = P - c
    return int(np.argmin(np.einsum("ij,ij->i", diff, diff)))


def greedy_search(
    P: np.ndarray,
    indptr: np.ndarray,
    nbrs: np.ndarray,
    start: int,
    q: np.ndarray,
    beam_width: int,
) -> Tuple[np.ndarray, np.ndarray, int, int]:
    """Beam search over a CSR adjacency from ``start`` toward ``q``.

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
        cur = beam_ids[cur_pos]
        visited[cur] = True
        visited_ids.append(int(cur))
        visited_d.append(float(beam_d[cur_pos]))
        hops += 1

        neigh = nbrs[indptr[cur] : indptr[cur + 1]]
        fresh = neigh[~in_beam[neigh]]
        if fresh.size:
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


def init_random_graph(n: int, R: int, rng: np.random.Generator) -> List[np.ndarray]:
    """Seeded random out-degree-R digraph (reference: InitializeGraph,
    vamana.h:335-387 — WITHOUT its O(n^2) connectivity bitmap)."""
    R_eff = min(R, max(n - 1, 0))
    graph: List[np.ndarray] = []
    for i in range(n):
        # sample R_eff distinct neighbors != i
        choice = rng.choice(n - 1, size=R_eff, replace=False) if n > 1 else np.array([], dtype=np.int64)
        choice = np.where(choice >= i, choice + 1, choice).astype(np.int64)
        graph.append(choice)
    return graph


def _to_csr(graph: List[np.ndarray], n: int) -> Tuple[np.ndarray, np.ndarray]:
    indptr = np.zeros(n + 1, dtype=np.int64)
    for i in range(n):
        indptr[i + 1] = indptr[i] + len(graph[i])
    nbrs = np.empty(indptr[-1], dtype=np.int64)
    for i in range(n):
        nbrs[indptr[i] : indptr[i + 1]] = graph[i]
    return indptr, nbrs


def build_vamana(
    P: np.ndarray,
    R: int,
    L: int,
    alpha: float,
    seed: int = 42,
) -> Tuple[List[np.ndarray], int]:
    """Two-pass Vamana build over an (n, dim) float32 matrix.

    Semantics follow BuildIndex (vamana.h:221-332): random init graph →
    medoid → for each pass (α=1.0 then α=alpha), visit nodes in a seeded
    random permutation; per node: beam-search from the medoid, prune the
    (visited ∪ current-neighbors) candidate set, install, then fix up
    reverse edges (append, or re-prune the target if over degree R).
    Mutations are applied eagerly (within-shard sequential), which is the
    reference's semantics minus the OpenMP lock.
    """
    n = P.shape[0]
    if n == 0:
        return [], -1
    if n == 1:
        return [np.array([], dtype=np.int64)], 0
    rng = np.random.default_rng(seed)
    graph = init_random_graph(n, R, rng)
    medoid = medoid_of(P)

    for a in (1.0, float(alpha)):
        for i in rng.permutation(n):
            i = int(i)
            visited_ids, _, _, _ = _greedy_search_adj(
                P, graph, medoid, P[i], L
            )
            cand = np.concatenate([visited_ids, graph[i]])
            graph[i] = robust_prune(P, i, cand, None, a, R)
            for j in graph[i]:
                j = int(j)
                if i in graph[j]:
                    continue
                if len(graph[j]) + 1 > R:
                    graph[j] = robust_prune(
                        P, j, np.append(graph[j], i), None, a, R
                    )
                else:
                    graph[j] = np.append(graph[j], i)
    return graph, medoid


def _greedy_search_adj(
    P: np.ndarray,
    graph: List[np.ndarray],
    start: int,
    q: np.ndarray,
    beam_width: int,
) -> Tuple[np.ndarray, np.ndarray, int, int]:
    """greedy_search over a mutable list-of-arrays adjacency (build path)."""
    n = P.shape[0]
    visited = np.zeros(n, dtype=bool)
    in_beam = np.zeros(n, dtype=bool)
    beam_ids = np.array([start], dtype=np.int64)
    beam_d = dists_to(P, beam_ids, q)
    in_beam[start] = True
    visited_ids: List[int] = []
    visited_d: List[float] = []
    hops = 0
    comps = 1
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
        neigh = graph[cur]
        fresh = neigh[~in_beam[neigh]] if len(neigh) else neigh
        if len(fresh):
            fresh = np.unique(fresh)
            fd = dists_to(P, fresh, q)
            comps += fresh.size
            beam_ids = np.concatenate([beam_ids, fresh])
            beam_d = np.concatenate([beam_d, fd])
            in_beam[fresh] = True
            if beam_ids.size > beam_width:
                keep = np.argpartition(beam_d, beam_width - 1)[:beam_width]
                drop = np.ones(beam_ids.size, dtype=bool)
                drop[keep] = False
                in_beam[beam_ids[drop]] = False
                beam_ids = beam_ids[keep]
                beam_d = beam_d[keep]
    return (
        np.asarray(visited_ids, dtype=np.int64),
        np.asarray(visited_d, dtype=np.float64),
        hops,
        comps,
    )


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
    visited_ids, visited_d, hops, comps = greedy_search(P, indptr, nbrs, entry, q, ef)
    if visited_ids.size == 0:
        return visited_ids, visited_d, hops, comps
    order = np.lexsort((visited_ids, visited_d))[:k]
    return visited_ids[order], visited_d[order], hops, comps


def robust_prune_presorted(
    D_p: np.ndarray,
    sorted_cand: np.ndarray,
    D_full: np.ndarray,
    alpha: float,
    R: int,
) -> np.ndarray:
    """RobustPrune when the full pairwise distance row/matrix is available.

    ``sorted_cand`` are candidate ids ascending by distance to p (self
    excluded); ``D_p[c]`` = dist(p, c); ``D_full`` = full (n, n) matrix.
    Vectorized: each admitted p* eliminates its dominated cone with one
    matrix-row compare.
    """
    alive = np.ones(sorted_cand.size, dtype=bool)
    out: List[int] = []
    pos = 0
    while len(out) < R:
        while pos < alive.size and not alive[pos]:
            pos += 1
        if pos >= alive.size:
            break
        star = sorted_cand[pos]
        out.append(int(star))
        alive[pos] = False
        live = np.flatnonzero(alive)
        if live.size == 0:
            break
        c_live = sorted_cand[live]
        kill = alpha * D_full[star, c_live] <= D_p[c_live]
        alive[live[kill]] = False
    return np.asarray(out, dtype=np.int64)




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
    n_rows sequential prune loops. Exact same output as
    ``robust_prune_presorted`` row by row.

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
    For n where the n^2 matrix fits (~30k x 30k f32 = 3.6 GB at the
    ceiling), the hot loop is pure vectorized NumPy and runs ~10x faster
    than the beam-search build.

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

    The sharded build keeps per-shard n below the ceiling, so this is the
    default shard kernel; ``build_vamana`` remains for oversized single
    shards. Memory: O(n^2) f32 — the caller gates on n.
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


def search_topk_batch(
    P: np.ndarray,
    nbr_mat: np.ndarray,
    medoid: int,
    Q: np.ndarray,
    k: int,
    ef_search: int,
    starts: Optional[np.ndarray] = None,
    expand: int = 8,
) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Lockstep batched beam search: all queries advance one hop per
    Python iteration — per-hop work is a handful of large vectorized ops
    (gather, batched distances, membership via broadcast-compare, one
    argpartition) instead of per-query small-array calls. The semantics
    match greedy_search + top-k-of-visited (at natural termination the
    beam IS the ef nearest visited set).

    ``expand``: on the bitmap path, each hop expands the ``expand``
    nearest UNVISITED beam entries per query instead of one — the beam
    converges in ~ef/expand Python iterations instead of ~ef, cutting
    interpreter+argpartition overhead ~expand× for the same total
    distance work. Expanding B entries changes beam eviction order, so
    the visited set is not a strict superset of single-expansion;
    recall is empirically equal-or-better at the tested operating
    points (the recall gate tests are the actual guarantee). The
    result is still the top-k of the ef best visited nodes.

    Returns (row_idx, ids, dists, hops, dist_comps): flat top-k results,
    ``row_idx[j]`` = query row of result j (ranks ascend within a row).
    """
    nq, dim = Q.shape
    n = P.shape[0]
    if nq == 0 or n == 0:
        z = np.array([], dtype=np.int64)
        return z, z, np.array([], dtype=np.float64), z, z
    k = min(k, n)
    ef = max(ef_search, k)
    max_hops = 4 * ef + 8

    Pf = P.astype(np.float32, copy=False)
    Qf = Q.astype(np.float32, copy=False)

    beam_ids = np.full((nq, ef), -1, dtype=np.int64)
    beam_d = np.full((nq, ef), np.inf, dtype=np.float64)
    beam_vis = np.zeros((nq, ef), dtype=bool)
    hops = np.zeros(nq, dtype=np.int64)
    comps = np.ones(nq, dtype=np.int64)

    # "seen" history: an O(1)-lookup (nq, n) bitmap when it fits (~shard
    # scale: 64 queries x 20k nodes = 1.3 MB), else a growing id list with
    # broadcast-compare (memory-safe for broadcast-tier n in the millions,
    # at O(hop) compare cost per hop).
    #
    # Bitmap semantics are EVALUATED-once (standard HNSW visited-set):
    # a node is marked the moment its distance is computed, and never
    # re-evaluated. Sound because the beam holds the ef best evaluated
    # nodes and its threshold only tightens — a node dropped (or never
    # admitted) can never beat re-admission later. This lets each hop
    # compute distances ONLY for genuinely new nodes (sparse gather)
    # instead of all Rmax neighbors, and replaces the O(Rmax*ef)
    # beam-membership broadcast-compare with one bitmap lookup.
    start_nodes = (
        np.full(nq, medoid, dtype=np.int64) if starts is None
        else np.asarray(starts, dtype=np.int64)
    )
    diff0 = Pf[start_nodes] - Qf
    beam_ids[:, 0] = start_nodes
    beam_d[:, 0] = np.einsum("ij,ij->i", diff0, diff0)

    arange_nq = np.arange(nq)
    use_bitmap = nq * n <= BITMAP_MAX_CELLS
    Rmax = nbr_mat.shape[1]
    if use_bitmap:
        seen_map = np.zeros((nq, n), dtype=bool)
        seen_map[arange_nq, start_nodes] = True
        B = max(1, min(int(expand), ef))
    else:
        hist = np.full((nq, max_hops), -1, dtype=np.int64)
        B = 1  # the broadcast-compare history path is single-expansion
    for hop in range(max_hops):
        bd = np.where(beam_vis | (beam_ids < 0), np.inf, beam_d)
        if use_bitmap and B > 1:
            # expand the B nearest unvisited beam entries per query, but
            # evaluate the B expansion COLUMNS sequentially: each pass
            # works on ~ra rows (cache-resident temps — one big fused
            # pass measured 3x slower here purely from temp-array spill)
            # and progressive seen_map marking makes a column's nodes
            # invisible to the next column, so intra-hop duplicates need
            # no sort-based dedup. The select + merge + argpartition
            # still run ONCE per B expansions — that's the win over
            # single-expansion.
            psel = (
                np.argpartition(bd, B - 1, axis=1)[:, :B]
                if bd.shape[1] > B
                else np.broadcast_to(
                    np.arange(bd.shape[1]), (nq, bd.shape[1])
                )
            )
            pdist = np.take_along_axis(bd, psel, axis=1)      # (nq, B)
            emask = np.isfinite(pdist)
            rows = np.flatnonzero(emask.any(axis=1))
            if rows.size == 0:
                break
            ra = rows.size
            width = B * Rmax
            cdm = np.full((ra, width), np.inf)
            idm = np.full((ra, width), -1, dtype=np.int64)
            rmask = emask[rows]                               # (ra, B)
            rsel = psel[rows]
            hops[rows] += rmask.sum(axis=1)
            for c in range(B):
                cm = rmask[:, c]
                if not cm.any():
                    continue
                ri = np.flatnonzero(cm)                       # idx into rows
                erow = rows[ri]
                eslot = rsel[ri, c]
                cur = beam_ids[erow, eslot]
                beam_vis[erow, eslot] = True
                cand = nbr_mat[cur]                           # (mc, Rmax)
                valid = cand >= 0
                safe = np.clip(cand, 0, n - 1)
                new = valid & ~seen_map[erow[:, None], safe]
                fr, fc = np.nonzero(new)
                pts, qrow = safe[fr, fc], erow[fr]
                seen_map[qrow, pts] = True
                diff = Pf[pts] - Qf[qrow]                     # (mc', dim)
                dists = np.einsum("ij,ij->i", diff, diff)
                cdm[ri[fr], c * Rmax + fc] = dists
                idm[ri[fr], c * Rmax + fc] = pts
                comps[erow] += np.bincount(fr, minlength=ri.size)

            all_ids = np.concatenate([beam_ids[rows], idm], axis=1)
            all_d = np.concatenate([beam_d[rows], cdm], axis=1)
            all_vis = np.concatenate(
                [beam_vis[rows], np.zeros((ra, width), dtype=bool)], axis=1
            )
            sel = np.argpartition(all_d, ef - 1, axis=1)[:, :ef]
            beam_ids[rows] = np.take_along_axis(all_ids, sel, axis=1)
            beam_d[rows] = np.take_along_axis(all_d, sel, axis=1)
            beam_vis[rows] = np.take_along_axis(all_vis, sel, axis=1)
            continue

        pos = bd.argmin(axis=1)
        have = np.isfinite(bd[arange_nq, pos])
        if not have.any():
            break
        rows = np.flatnonzero(have)
        rp = pos[rows]
        cur = beam_ids[rows, rp]
        beam_vis[rows, rp] = True
        if not use_bitmap:
            hist[rows, hop] = cur
        hops[rows] += 1

        cand = nbr_mat[cur]                                   # (ra, Rmax)
        valid = cand >= 0
        safe = np.clip(cand, 0, n - 1)
        if use_bitmap:
            new = valid & ~seen_map[rows[:, None], safe]
            # sparse evaluation: distances only for first-time nodes
            fr, fc = np.nonzero(new)
            pts, qrow = safe[fr, fc], rows[fr]
            seen_map[qrow, pts] = True
            diff = Pf[pts] - Qf[qrow]                         # (m, dim)
            cd = np.full(cand.shape, np.inf)
            cd[fr, fc] = np.einsum("ij,ij->i", diff, diff)
            comps[rows] += np.bincount(fr, minlength=rows.size)
        else:
            in_beam = (cand[:, :, None] == beam_ids[rows][:, None, :]).any(axis=2)
            in_hist = (cand[:, :, None] == hist[rows][:, None, : hop + 1]).any(axis=2)
            new = valid & ~in_beam & ~in_hist
            comps[rows] += new.sum(axis=1)
            diff = Pf[safe] - Qf[rows][:, None, :]            # (ra, Rmax, dim)
            cd = np.einsum("ijk,ijk->ij", diff, diff).astype(np.float64)
            cd[~new] = np.inf

        all_ids = np.concatenate([beam_ids[rows], np.where(new, cand, -1)], axis=1)
        all_d = np.concatenate([beam_d[rows], cd], axis=1)
        all_vis = np.concatenate(
            [beam_vis[rows], np.zeros_like(new, dtype=bool)], axis=1
        )
        sel = np.argpartition(all_d, ef - 1, axis=1)[:, :ef]
        beam_ids[rows] = np.take_along_axis(all_ids, sel, axis=1)
        beam_d[rows] = np.take_along_axis(all_d, sel, axis=1)
        beam_vis[rows] = np.take_along_axis(all_vis, sel, axis=1)

    # per-row top-k of the (visited) beam, ascending dist then id
    out_rows, out_ids, out_d = [], [], []
    order_d = np.where(beam_ids < 0, np.inf, beam_d)
    for r in range(nq):
        o = np.lexsort((beam_ids[r], order_d[r]))
        o = o[np.isfinite(order_d[r][o])][:k]
        out_rows.append(np.full(o.size, r, dtype=np.int64))
        out_ids.append(beam_ids[r][o])
        out_d.append(beam_d[r][o])
    return (
        np.concatenate(out_rows) if out_rows else np.array([], dtype=np.int64),
        np.concatenate(out_ids) if out_ids else np.array([], dtype=np.int64),
        np.concatenate(out_d) if out_d else np.array([], dtype=np.float64),
        hops,
        comps,
    )


def search_topk_batch_adc(
    codes: np.ndarray,
    cents: np.ndarray,
    nbr_mat: np.ndarray,
    medoid: int,
    Q: np.ndarray,
    k: int,
    ef_search: int,
    expand: int = 8,
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

    Same lockstep/expand-B structure as ``search_topk_batch``'s bitmap
    path; query batches larger than the bitmap budget are chunked (the
    dataset is never chunked — shard size is the caller's memory unit).

    Returns ``(row_idx, ids, adc_dists)`` flat top-k per query row
    (ranks ascend within a row); distances are APPROXIMATE (ADC).
    """
    nq, dim = Q.shape
    n = codes.shape[0]
    if nq == 0 or n == 0:
        z = np.array([], dtype=np.int64)
        return z, z, np.array([], dtype=np.float64)
    max_cells = BITMAP_MAX_CELLS
    if nq * n > max_cells:
        step = max(1, max_cells // max(n, 1))
        rs, ids_, ds = [], [], []
        for lo in range(0, nq, step):
            r, i, d = search_topk_batch_adc(
                codes, cents, nbr_mat, medoid, Q[lo : lo + step],
                k, ef_search, expand,
            )
            rs.append(r + lo)
            ids_.append(i)
            ds.append(d)
        return np.concatenate(rs), np.concatenate(ids_), np.concatenate(ds)

    m, ksub, dsub = cents.shape
    k = min(k, n)
    ef = max(ef_search, k)
    max_hops = 4 * ef + 8

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

    beam_ids = np.full((nq, ef), -1, dtype=np.int64)
    beam_d = np.full((nq, ef), np.inf)
    beam_vis = np.zeros((nq, ef), dtype=bool)
    arange_nq = np.arange(nq)
    start_nodes = np.full(nq, int(medoid), dtype=np.int64)
    beam_ids[:, 0] = start_nodes
    beam_d[:, 0] = adc(start_nodes, arange_nq)
    seen_map = np.zeros((nq, n), dtype=bool)
    seen_map[arange_nq, start_nodes] = True
    B = max(1, min(int(expand), ef))
    Rmax = nbr_mat.shape[1]

    for _hop in range(max_hops):
        bd = np.where(beam_vis | (beam_ids < 0), np.inf, beam_d)
        psel = (
            np.argpartition(bd, B - 1, axis=1)[:, :B]
            if bd.shape[1] > B
            else np.broadcast_to(np.arange(bd.shape[1]), (nq, bd.shape[1]))
        )
        pdist = np.take_along_axis(bd, psel, axis=1)
        emask = np.isfinite(pdist)
        rows = np.flatnonzero(emask.any(axis=1))
        if rows.size == 0:
            break
        ra = rows.size
        width = psel.shape[1] * Rmax
        cdm = np.full((ra, width), np.inf)
        idm = np.full((ra, width), -1, dtype=np.int64)
        rmask = emask[rows]
        rsel = psel[rows]
        for c in range(psel.shape[1]):
            cm = rmask[:, c]
            if not cm.any():
                continue
            ri = np.flatnonzero(cm)
            erow = rows[ri]
            eslot = rsel[ri, c]
            cur = beam_ids[erow, eslot]
            beam_vis[erow, eslot] = True
            cand = nbr_mat[cur]
            valid = cand >= 0
            safe = np.clip(cand, 0, n - 1)
            new = valid & ~seen_map[erow[:, None], safe]
            fr, fc = np.nonzero(new)
            pts, qrow = safe[fr, fc], erow[fr]
            seen_map[qrow, pts] = True
            cdm[ri[fr], c * Rmax + fc] = adc(pts, qrow)
            idm[ri[fr], c * Rmax + fc] = pts
        all_ids = np.concatenate([beam_ids[rows], idm], axis=1)
        all_d = np.concatenate([beam_d[rows], cdm], axis=1)
        all_vis = np.concatenate(
            [beam_vis[rows], np.zeros((ra, width), dtype=bool)], axis=1
        )
        sel = np.argpartition(all_d, ef - 1, axis=1)[:, :ef]
        beam_ids[rows] = np.take_along_axis(all_ids, sel, axis=1)
        beam_d[rows] = np.take_along_axis(all_d, sel, axis=1)
        beam_vis[rows] = np.take_along_axis(all_vis, sel, axis=1)

    out_rows, out_ids, out_d = [], [], []
    order_d = np.where(beam_ids < 0, np.inf, beam_d)
    for r in range(nq):
        o = np.lexsort((beam_ids[r], order_d[r]))
        o = o[np.isfinite(order_d[r][o])][:k]
        out_rows.append(np.full(o.size, r, dtype=np.int64))
        out_ids.append(beam_ids[r][o])
        out_d.append(beam_d[r][o])
    return (
        np.concatenate(out_rows) if out_rows else np.array([], dtype=np.int64),
        np.concatenate(out_ids) if out_ids else np.array([], dtype=np.int64),
        np.concatenate(out_d) if out_d else np.array([], dtype=np.float64),
    )


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
        # the wrong one (r5 ADVICE). The margin rows are re-ranked on
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
