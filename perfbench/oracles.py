"""Seeded input generators and the oracles that check the program's
outputs. The oracles use numpy and plain Python only — never
``vamana_spark`` — so a defect in the program cannot hide in its own
reference implementation."""

from __future__ import annotations

import numpy as np

DIM = 64
K = 10


# ------------------------------------------------------------------ vectors

def blob_centers(rng, blobs):
    """Centres drawn with the same spread as the points around them, so
    neighbouring blobs overlap and a graph needs long-range edges."""
    return rng.normal(size=(blobs, DIM)).astype(np.float32)


def blob_points(rng, centers, n):
    pick = rng.integers(0, len(centers), n)
    return (centers[pick] + rng.normal(size=(n, DIM))).astype(np.float32)


def knn(base, base_ids, queries, k=K):
    """Ids of the exact top-k by squared L2 in float64, shape (q, k),
    nearest first."""
    B = base.astype(np.float64)
    out_ids = np.empty((len(queries), k), dtype=np.int64)
    bn = np.einsum("ij,ij->i", B, B)
    for s in range(0, len(queries), 512):
        Q = queries[s : s + 512].astype(np.float64)
        d = np.einsum("ij,ij->i", Q, Q)[:, None] - 2.0 * Q @ B.T + bn[None, :]
        part = np.argpartition(d, k - 1, axis=1)[:, :k]
        pd_ = np.take_along_axis(d, part, axis=1)
        o = np.argsort(pd_, axis=1, kind="stable")
        out_ids[s : s + 512] = base_ids[np.take_along_axis(part, o, axis=1)]
    return out_ids


def check_topk(res, queries, vectors_by_id, k=K, forbidden=None):
    """Shape and value checks on one search result (a pandas frame with
    query_id, vec_id, dist, rank): k rows per query, ranks 1..k, every id
    a live point, no id twice for a query, each reported distance equal
    to the true squared L2 distance, and (``forbidden``) no deleted id.
    Returns an error message, or None."""
    nq = len(queries)
    if len(res) != nq * k:
        return f"{len(res)} rows for {nq} queries x k={k}"
    res = res.sort_values(["query_id", "rank"], kind="mergesort")
    qid = res["query_id"].to_numpy(np.int64).reshape(nq, k)
    if not (qid == np.arange(nq)[:, None]).all():
        return "query ids are not 0..q-1 with k rows each"
    rank = res["rank"].to_numpy(np.int64).reshape(nq, k)
    if not (rank == np.arange(1, k + 1)[None, :]).all():
        return "ranks are not 1..k"
    ids = res["vec_id"].to_numpy(np.int64).reshape(nq, k)
    if forbidden is not None and np.isin(ids, forbidden).any():
        return f"{int(np.isin(ids, forbidden).sum())} deleted ids returned"
    if (np.sort(ids, axis=1)[:, 1:] == np.sort(ids, axis=1)[:, :-1]).any():
        return "an id is returned twice for one query"
    rows = vectors_by_id(ids.ravel())
    if rows is None:
        return "a returned id is not a live point"
    diff = rows.astype(np.float64) - np.repeat(queries.astype(np.float64), k, axis=0)
    true_d = np.einsum("ij,ij->i", diff, diff)
    got = res["dist"].to_numpy(np.float64)
    if not np.allclose(got, true_d, rtol=1e-3, atol=1e-3):
        return f"reported distances differ from the true ones (max {np.abs(got - true_d).max():.3g})"
    return None


def recall(res, truth_ids, k=K):
    """recall@k of a checked result against the oracle's ids."""
    nq = truth_ids.shape[0]
    res = res.sort_values(["query_id", "rank"], kind="mergesort")
    got = res["vec_id"].to_numpy(np.int64).reshape(nq, k)
    hits = sum(len(set(got[i]) & set(truth_ids[i])) for i in range(nq))
    return hits / (nq * k)


class PointSet:
    """The live point set of an index as the benchmark believes it to be:
    ids and vectors, updated on every add and delete, so recall and the
    leak check are computed against it and not against the program."""

    def __init__(self, ids, vecs):
        self.ids = np.asarray(ids, np.int64)
        self.vecs = np.asarray(vecs, np.float32)
        self.deleted = np.empty(0, np.int64)

    def add(self, ids, vecs):
        self.ids = np.concatenate([self.ids, ids])
        self.vecs = np.vstack([self.vecs, vecs])

    def delete(self, ids):
        keep = ~np.isin(self.ids, ids)
        self.ids, self.vecs = self.ids[keep], self.vecs[keep]
        self.deleted = np.concatenate([self.deleted, ids])

    def rows(self, ids):
        order = np.argsort(self.ids)
        pos = np.searchsorted(self.ids, ids, sorter=order)
        pos = np.minimum(pos, len(order) - 1)
        idx = order[pos]
        if not (self.ids[idx] == ids).all():
            return None
        return self.vecs[idx]


# -------------------------------------------------------------------- docs

DOC_TOKENS = 24
SHINGLE = 3


def planted_docs(rng, n, dup_share=0.3):
    """``n`` docs of DOC_TOKENS tokens. About ``dup_share`` of them sit in
    planted groups of 2-5 copies of one base text; odd members of a group
    replace one token. Every group and every singleton draws from its own
    vocabulary, so no two docs outside one group share a shingle.
    Returns (texts, group id per doc)."""
    texts, group = [], []
    # a new text starts a group with probability p; groups average 3.5
    # docs, so the grouped share is 3.5p / (3.5p + 1 - p)
    p_group = dup_share / (3.5 - 2.5 * dup_share)
    g = 0
    while len(texts) < n:
        size = int(rng.integers(2, 6)) if rng.random() < p_group else 1
        size = min(size, n - len(texts))
        base = [f"g{g}w{j}" for j in range(DOC_TOKENS)]
        for m in range(size):
            toks = list(base)
            if m % 2 == 1:
                pos = int(rng.integers(0, DOC_TOKENS))
                toks[pos] = f"g{g}m{m}"
            texts.append(" ".join(toks))
            group.append(g)
        g += 1
    return texts, np.asarray(group, np.int64)


def shingles(text, n=SHINGLE):
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def planted_pairs(texts, group, threshold):
    """Every within-group pair whose exact shingle Jaccard is at or above
    ``threshold``: {(a, b): jaccard} with a < b. Cross-group pairs share
    no shingle by construction and never qualify."""
    sh = [shingles(t) for t in texts]
    members = {}
    for i, g in enumerate(group):
        members.setdefault(int(g), []).append(i)
    out = {}
    for ms in members.values():
        for x in range(len(ms)):
            for y in range(x + 1, len(ms)):
                j = jaccard(sh[ms[x]], sh[ms[y]])
                if j >= threshold:
                    out[(ms[x], ms[y])] = j
    return out


def check_pairs(res, group, truth):
    """Every returned pair must be a planted pair (same group, at or
    above the threshold) with the right Jaccard. Returns (error or None,
    number of planted pairs found)."""
    a = res["a_id"].to_numpy(np.int64)
    b = res["b_id"].to_numpy(np.int64)
    if a.size and (min(a.min(), b.min()) < 0 or max(a.max(), b.max()) >= len(group)):
        return "a pair holds an id that is not a doc", 0
    if (a >= b).any():
        return "a pair is not ordered a_id < b_id", 0
    if len(set(zip(a.tolist(), b.tolist()))) != len(a):
        return "a pair is returned twice", 0
    if (group[a] != group[b]).any():
        return f"{int((group[a] != group[b]).sum())} pairs cross planted groups", 0
    found = 0
    for x, y, j in zip(a.tolist(), b.tolist(), res["jaccard"].tolist()):
        want = truth.get((x, y))
        if want is None:
            return f"pair ({x}, {y}) is below the threshold", 0
        if abs(want - j) > 1e-3:
            return f"pair ({x}, {y}) jaccard {j} != {want:.4f}", 0
        found += 1
    return None, found
