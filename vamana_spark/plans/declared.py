"""Declared oracle query set (SURVEY.md §2c) — the correctness gate.

Every entry in ``QUERIES`` is a callable ``(spark, sf_dir) -> DataFrame``;
entries with a matching key in ``ORACLE_SQL`` are hash-compared against
DuckDB running that SQL over the same parquet (views pre-registered by
the driver). Entries without oracle SQL are rows-only checks (randomized
or engine-specific-hash outputs: ANN search, LSH, xxhash-based sketches).

Determinism conventions (FIXTURES.md §C):
- double math everywhere (components cast before arithmetic);
- money aggregates sum in DECIMAL(18,6) on BOTH engines → bit-exact,
  then rounded at the presentation edge;
- ranks break ties by id; fixed query sets are ``vec_id % k == 0``;
- distances rounded to 4 decimals in the output only.
"""

from __future__ import annotations

import os
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vamana_spark import exact
from vamana_spark.functions.vector import l2_norm, squared_l2
from vamana_spark.operators import (
    dedup,
    quantization,
    similarity,
    text,
)
from vamana_spark.operators.text import _LANG_PROFILES, _STOPWORDS, TOKEN_PATTERN
from vamana_spark.params import VamanaParams
from vamana_spark.sources import load_table

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: Dict[str, str] = {}


def declare(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn
    return deco


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


# SQL fragment: squared L2 between two DOUBLE-cast float lists (DuckDB).
def _sq_l2_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * "
        f"(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
    )


_TOKS_SQL = "list_filter(string_split_regex({t}, '\\s+'), x -> x <> '')"


# ======================================================================
# Vector / index queries (reference surface R4, R10-R14, R17-R18)
# ======================================================================

@declare(
    "q_scan_embeddings",
    "SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim, label FROM embeddings",
)
def q_scan_embeddings(spark, sf_dir):
    """R17 source scan: project id, dimension, label."""
    return _emb(spark, sf_dir).select(
        "vec_id", F.size("embedding").cast("long").alias("dim"), "label"
    )


@declare(
    "q_get_point",
    """
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
           round(CAST(unnest(embedding) AS DOUBLE), 6) AS val
    FROM embeddings WHERE vec_id = 7
    """,
)
def q_get_point(spark, sf_dir):
    """R12 point lookup, exploded to (pos, val)."""
    return (
        _emb(spark, sf_dir)
        .where(F.col("vec_id") == 7)
        .select("vec_id", F.posexplode("embedding").alias("pos", "val"))
        .select(
            "vec_id",
            F.col("pos").cast("long").alias("pos"),
            F.round(F.col("val").cast("double"), 6).alias("val"),
        )
    )


@declare(
    "q_distance_pair",
    f"""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round({_sq_l2_sql('a.embedding', 'b.embedding')}, 4) AS dist
    FROM embeddings a, embeddings b WHERE a.vec_id = 0 AND b.vec_id = 1
    """,
)
def q_distance_pair(spark, sf_dir):
    """R13 squared-L2 between two fixed points."""
    e = _emb(spark, sf_dir)
    a = e.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("_a")
    )
    b = e.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("_b")
    )
    return a.crossJoin(b).select(
        "a_id", "b_id", F.round(squared_l2("_a", "_b"), 4).alias("dist")
    )


_KNN_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 25 = 0),
    d AS (
      SELECT q.query_id, p.vec_id,
             {_sq_l2_sql('q.embedding', 'p.embedding')} AS dist
      FROM q, embeddings p
    ),
    r AS (
      SELECT query_id, vec_id, dist,
             row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
      FROM d
    )
    SELECT query_id, vec_id, round(dist, 4) AS dist, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 10
"""


def _fixed_queries(e: DataFrame, mod: int) -> DataFrame:
    return e.where(F.col("vec_id") % mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@declare("q_knn_exact", _KNN_ORACLE)
def q_knn_exact(spark, sf_dir):
    """R14 exact kNN oracle query — declarative broadcast+window plan."""
    e = _emb(spark, sf_dir)
    out = exact.exact_knn(e, _fixed_queries(e, 25), k=10, round_digits=4)
    return out.select("query_id", "vec_id", "dist", "rank")


@declare("q_knn_batch", _KNN_ORACLE)
def q_knn_batch(spark, sf_dir):
    """R14 via the two-stage partial-top-k plan (the 100-TB shape) —
    must produce byte-identical results to q_knn_exact."""
    e = _emb(spark, sf_dir)
    out = exact.exact_knn_batch(e, _fixed_queries(e, 25), k=10, round_digits=4)
    return out.select("query_id", "vec_id", "dist", "rank")


@declare(
    "q_1nn_start_resolution",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0),
    d AS (
      SELECT q.query_id, p.vec_id,
             {_sq_l2_sql('q.embedding', 'p.embedding')} AS dist
      FROM q, embeddings p WHERE p.vec_id <> q.query_id
    ),
    r AS (
      SELECT query_id, vec_id, dist,
             row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
      FROM d
    )
    SELECT query_id, vec_id, round(dist, 4) AS dist FROM r WHERE rn = 1
    """,
)
def q_1nn_start_resolution(spark, sf_dir):
    """R11's start-point scan: nearest dataset point per query (self excluded)."""
    e = _emb(spark, sf_dir)
    return exact.nearest_point(e, _fixed_queries(e, 100), round_digits=4)


@declare(
    "q_medoid_exact",
    f"""
    WITH d AS (
      SELECT a.vec_id, {_sq_l2_sql('a.embedding', 'b.embedding')} AS dd
      FROM embeddings a, embeddings b
    )
    SELECT vec_id, round(sum(dd), 2) AS total_dist
    FROM d GROUP BY vec_id ORDER BY sum(dd), vec_id LIMIT 1
    """,
)
def q_medoid_exact(spark, sf_dir):
    """R4 exact medoid (O(n^2), oracle parity; scale path = medoid_approx)."""
    out = exact.medoid_exact(_emb(spark, sf_dir))
    return out.select("vec_id", F.round("total_dist", 2).alias("total_dist"))


# collapse IEEE -0.0 to +0.0 at the presentation edge (engines' summation
# trees can straddle zero before rounding; hash compares are byte-level)
def _z_sql(expr: str) -> str:
    return f"(CASE WHEN {expr} = 0 THEN CAST(0.0 AS DOUBLE) ELSE {expr} END)"


_COS_SQL = (
    "1.0 - list_sum(list_transform(list_zip(q.embedding, p.embedding),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(p.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)


@declare(
    "q_knn_cosine",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
    d AS (
      SELECT q.query_id, p.vec_id, {_COS_SQL} AS dist
      FROM q, embeddings p
    ),
    r AS (
      SELECT query_id, vec_id, dist,
             row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
      FROM d
    )
    SELECT query_id, vec_id, {_z_sql('round(dist, 4)')} AS dist, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5
    """,
)
def q_knn_cosine(spark, sf_dir):
    """R13's declared TODO (readme.md:76): cosine metric, exact top-5."""
    e = _emb(spark, sf_dir)
    out = exact.exact_knn(e, _fixed_queries(e, 50), k=5, metric="cosine", round_digits=4)
    return out.select("query_id", "vec_id", "dist", "rank")


@declare(
    "q_vector_norms",
    """
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS norm
    FROM embeddings
    """,
)
def q_vector_norms(spark, sf_dir):
    """X4 normalization prep: L2 norm per vector."""
    return _emb(spark, sf_dir).select(
        "vec_id", F.round(l2_norm("embedding"), 4).alias("norm")
    )


# ----- randomized / engine-hash outputs: rows-only checks -----

_INDEX_CACHE: dict = {}


def _built_index(spark, sf_dir):
    # key by application id too: cached DataFrames die with their session
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _INDEX_CACHE:
        from vamana_spark.index import VamanaIndex

        params = VamanaParams(dim=64, alpha=1.2, R=32, L=64, ef_search=100, seed=42)
        _INDEX_CACHE[key] = VamanaIndex.build(spark, _emb(spark, sf_dir), params)
    return _INDEX_CACHE[key]


# ---------------------------------------------------------------------
# Deterministic prebuilt-index fixtures (the reference's own test
# strategy — save once, assert against the LOADED artifact,
# main.cpp:71-82). Graph builds are seeded but not bit-stable across
# task layouts, so graph-dependent queries were rows-only; loading a
# committed fixture (tools/build_index_fixtures.py) makes degree
# stats, reachability, and mutation outputs bit-deterministic and
# DuckDB-oracle-able — the oracle SQL reads the fixture parquet
# directly.
# ---------------------------------------------------------------------
_FIXTURE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests", "fixtures", "vamana",
)


def _fixture_path(sf_dir: str, variant: str) -> str:
    sf = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(_FIXTURE_ROOT, sf, variant)


def _fixture_meta(sf: str, variant: str = "base") -> dict:
    import json as _json

    try:
        with open(os.path.join(_FIXTURE_ROOT, sf, variant, "_meta.json")) as f:
            return _json.load(f)
    except (OSError, ValueError):
        return {}


def _fixture_index(spark, sf_dir, variant):
    """Load the committed fixture for this scale; fall back to a live
    rebuild of the same recipe when absent (non-testdata dirs — the
    output is then not hash-stable, but the invariants still hold)."""
    from vamana_spark.index import VamanaIndex

    key = (spark.sparkContext.applicationId, sf_dir, f"fixture-{variant}")
    if key not in _INDEX_CACHE:
        path = _fixture_path(sf_dir, variant)
        if os.path.exists(os.path.join(path, "_meta.json")):
            _INDEX_CACHE[key] = VamanaIndex.load(spark, path)
        else:
            e = _emb(spark, sf_dir)
            params = VamanaParams(
                dim=64, alpha=1.2, R=32, L=64, ef_search=100, seed=42
            )
            if variant == "appended":
                _INDEX_CACHE[key] = VamanaIndex.build(
                    spark, e.where(F.col("vec_id") % 5 != 0), params
                ).add_points(e.where(F.col("vec_id") % 5 == 0))
            elif variant == "deleted":
                _INDEX_CACHE[key] = VamanaIndex.build(
                    spark, e, params
                ).delete_points(e.where(F.col("vec_id") % 10 == 3).select("vec_id"))
            else:
                _INDEX_CACHE[key] = VamanaIndex.build(spark, e, params)
    return _INDEX_CACHE[key]


_FIX01 = os.path.join(_FIXTURE_ROOT, "sf0.01")
_FIX01_MEDOID = int(_fixture_meta("sf0.01").get("medoid") or 0)


@declare(
    "q_degree_stats",
    f"""
    SELECT ordinal, CAST(len(neighbors) AS INT) AS out_degree
    FROM read_parquet('{_FIX01}/base/graph/*.parquet')
    ORDER BY ordinal
    """,
)
def q_degree_stats(spark, sf_dir):
    """R18 healthCheck as an operator: per-node out-degree over the
    committed prebuilt-index fixture (the reference's save->load test
    pattern, main.cpp:71-82) — bit-deterministic, so the oracle reads
    the same fixture parquet the engine loads. The LIVE build's degree
    bound stays asserted by q_ann_search invariants + test_index.py."""
    idx = _fixture_index(spark, sf_dir, "base")
    return idx.degree_stats().orderBy("ordinal")


@declare("q_ann_search")
def q_ann_search(spark, sf_dir):
    """R8+R10: beam-search top-10 for the fixed query set. Rows-only;
    ``ok`` embeds the search-contract invariants (every query answered,
    exactly k rows each, ranks contiguous 1..k, dist nondecreasing in
    rank) — recall itself is gated by q_recall_at_k."""
    from pyspark.sql import Window

    idx = _built_index(spark, sf_dir)
    q = _fixed_queries(_emb(spark, sf_dir), 25)
    n_q = q.count()
    res = idx.search(q, k=10).select("query_id", "vec_id", "dist", "rank")
    w = Window.partitionBy("query_id").orderBy("rank")
    per_q = (
        res.withColumn("_mono", F.col("dist") >= F.coalesce(
            F.lag("dist").over(w), F.lit(float("-inf"))))
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n"),
            F.min("rank").alias("mn"),
            F.max("rank").alias("mx"),
            F.min(F.col("_mono").cast("int")).alias("mono"),
        )
    )
    n_bad = per_q.where(
        (F.col("n") != 10) | (F.col("mn") != 1) | (F.col("mx") != 10)
        | (F.col("mono") != 1)
    ).count()
    n_answered = per_q.count()
    return res.withColumn("ok", F.lit(n_bad == 0 and n_answered == n_q))


@declare(
    "q_range_search",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 25 = 0),
    d AS (
      SELECT q.query_id, p.vec_id,
             {_sq_l2_sql('q.embedding', 'p.embedding')} AS dist
      FROM q, embeddings p
    )
    SELECT query_id, vec_id, round(dist, 4) AS dist
    FROM d WHERE dist <= 1.5
    """,
)
def q_range_search(spark, sf_dir):
    """Exact radius query: every point within l2sq 1.5 of each fixed
    query — broadcast queries + map-side threshold filter, zero
    shuffles."""
    e = _emb(spark, sf_dir)
    return exact.range_search(
        e, _fixed_queries(e, 25), radius=1.5, round_digits=4
    )


@declare(
    "q_filtered_knn",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding, vec_id % 10 AS want
      FROM embeddings WHERE vec_id % 25 = 0
    ),
    d AS (
      SELECT q.query_id, p.vec_id,
             {_sq_l2_sql('q.embedding', 'p.embedding')} AS dist
      FROM q JOIN embeddings p ON p.label = q.want
    ),
    r AS (
      SELECT query_id, vec_id, dist,
             row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
      FROM d
    )
    SELECT query_id, vec_id, round(dist, 4) AS dist, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 10
    """,
)
def q_filtered_knn(spark, sf_dir):
    """Filtered ANN oracle: exact top-10 restricted to base rows whose
    label equals the query's wanted label (predicate + vector search).
    Label mask applied inside the partial-top-k distance kernel."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        (F.col("vec_id") % 10).alias("want_label"),
    )
    return exact.exact_knn_filtered(e, q, k=10, round_digits=4)


@declare(
    "q_ann_filtered",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding, vec_id % 10 AS want
      FROM embeddings WHERE vec_id % 25 = 0
    ),
    d AS (
      SELECT q.query_id, p.vec_id,
             {_sq_l2_sql('q.embedding', 'p.embedding')} AS dist
      FROM q JOIN embeddings p ON p.label = q.want
    ),
    r AS (
      SELECT query_id, vec_id, dist,
             row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
      FROM d
    )
    SELECT query_id, vec_id, round(dist, 4) AS dist, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 10
    """,
)
def q_ann_filtered(spark, sf_dir):
    """Graph-side filtered ANN: over-retrieve on the beam, post-filter
    by label via a join + window.

    HASH-STRICT by the q_partitioned_pq_exact recipe: with
    ``ef_search = n`` the beam holds every evaluated node (nothing is
    ever evicted) and walks until no beam entry is unexpanded — on a
    graph fully reachable from the query's entry seed
    (q_graph_reachability gates reach from the medoid; test_index.py
    checks that every seed reaches as many nodes) the visited set is
    the whole corpus and the ranked output IS exact kNN, making beam
    ORDER irrelevant and the post-filter join/window logic — the part
    unique to search_filtered — bit-checkable against the same SQL
    truth q_filtered_knn uses. The approximate operating point
    (default ef, overfetch=8) stays covered by
    test_index.py::test_filtered_search_matches_exact_oracle's recall
    gate."""
    idx = _built_index(spark, sf_dir)
    e = _emb(spark, sf_dir)
    n = e.count()
    q = e.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        (F.col("vec_id") % 10).alias("want_label"),
    )
    return (
        idx.search_filtered(
            q, k=10, labels=e.select("vec_id", "label"),
            ef_search=int(n), overfetch=1,
        )
        .select("query_id", "vec_id", F.round("dist", 4).alias("dist"), "rank")
        .orderBy("query_id", "rank")
    )


@declare("q_recall_at_k")
def q_recall_at_k(spark, sf_dir):
    """R15: per-query recall@10 of ANN vs exact; the ``ok`` column embeds
    the avg ≥ 0.8 gate (threshold from main.go:126) so the driver's
    rows-only record carries the assertion."""
    from vamana_spark import quality

    idx = _built_index(spark, sf_dir)
    e = _emb(spark, sf_dir)
    q = _fixed_queries(e, 25)
    approx = idx.search(q, k=10)
    truth = exact.exact_knn(e, q, k=10)
    return quality.recall_with_ok(approx, truth, k=10)


@declare("q_ip_graph_recall")
def q_ip_graph_recall(spark, sf_dir):
    """Graph search under metric='ip' via the exact MIPS->L2 reduction
    (augmented component sqrt(M^2-||x||^2); vamana.h:695's declared TODO
    made real). Per-query recall@10 vs exact -dot top-k (rows-only;
    avg ≥ 0.8 asserted in tests/test_index.py)."""
    from vamana_spark import quality
    from vamana_spark.index import VamanaIndex

    key = (spark.sparkContext.applicationId, sf_dir, "ip")
    if key not in _INDEX_CACHE:
        params = VamanaParams(
            dim=64, alpha=1.2, R=32, L=64, ef_search=100, seed=42, metric="ip"
        )
        _INDEX_CACHE[key] = VamanaIndex.build(spark, _emb(spark, sf_dir), params)
    idx = _INDEX_CACHE[key]
    e = _emb(spark, sf_dir)
    q = _fixed_queries(e, 25)
    approx = idx.search(q, k=10)
    truth = exact.exact_knn(e, q, k=10, metric="ip")
    return quality.recall_with_ok(approx, truth, k=10)


@declare("q_ip_pq")
def q_ip_pq(spark, sf_dir):
    """PQ serving under metric='ip' (the reference's declared TODO,
    vamana.h:695 / readme.md:76, now live on the beyond-RAM tier):
    residuals quantized in the MIPS-augmented space the flat pack uses,
    zero-padded to the PQ subspace alignment, exact -dot re-rank.
    Rows-only (k-means + randomized graph); ``ok`` embeds recall@10 >=
    0.9 vs exact ip kNN plus pq_profile sanity (m divides dim,
    agreement in (0, 1])."""
    from vamana_spark import quality
    from vamana_spark.index.partitioned import PartitionedVamanaIndex

    key = (spark.sparkContext.applicationId, sf_dir, "ip_pq")
    if key not in _PIDX_CACHE:
        params = VamanaParams(
            dim=64, alpha=1.2, R=32, L=64, ef_search=100, seed=42, metric="ip"
        )
        _PIDX_CACHE[key] = PartitionedVamanaIndex.build(
            spark, _emb(spark, sf_dir), params, num_shards=4
        )
    pidx = _PIDX_CACHE[key]
    e = _emb(spark, sf_dir)
    q = _fixed_queries(e, 25)
    prof = pidx.pq_profile()
    prof_ok = (
        64 % int(prof["pq_m"]) == 0
        and 0.0 < float(prof["adc_agreement"]) <= 1.0
    )
    return quality.recall_with_ok(
        pidx.search_pq(q, k=10),
        exact.exact_knn(e, q, k=10, metric="ip"),
        k=10,
        threshold=0.9,
    ).withColumn("ok", F.col("ok") & F.lit(bool(prof_ok)))


@declare("q_opq_serving")
def q_opq_serving(spark, sf_dir):
    """OPQ on the partitioned serving tier: the same uint8 PQ pack
    with a learned orthogonal rotation applied to the residuals before
    the subspace split — the one quantization tool previously missing
    from the tier that needs it
    (``partitioned.py _opq_rotation`` / ``search_pq(opq=True)``).
    Rows-only (k-means + learned rotation); ``ok`` embeds: opq-pack
    recall@10 >= 0.85 vs exact, AND >= plain-PQ recall at the SAME
    (m, rerank) minus 0.05 (rotation must never lose materially), AND
    the served blob really carries the rotation. The plain-miss/
    opq-clear regime itself is gated on the anisotropic fixture in
    tests/test_partitioned.py::test_opq_profile_and_serving (needs
    corpus density sf-scale data doesn't have)."""
    import io

    import numpy as np

    from vamana_spark import quality
    from vamana_spark.index.partitioned import PartitionedVamanaIndex

    key = (spark.sparkContext.applicationId, sf_dir, "opq_serving")
    if key not in _PIDX_CACHE:
        params = VamanaParams(
            dim=64, alpha=1.2, R=32, L=64, ef_search=100, seed=42
        )
        _PIDX_CACHE[key] = PartitionedVamanaIndex.build(
            spark, _emb(spark, sf_dir), params, num_shards=4
        )
    pidx = _PIDX_CACHE[key]
    e = _emb(spark, sf_dir)
    q = _fixed_queries(e, 25)
    truth = exact.exact_knn(e, q, k=10)
    r_opq = pidx.search_pq(q, k=10, rerank=30, pq_m=16, opq=True)
    r_pq = quality.avg_recall(
        pidx.search_pq(q, k=10, rerank=30, pq_m=16), truth, k=10
    )
    blob = np.load(
        io.BytesIO(pidx._packed_df("opq", 16, 256).first()["blob"])
    )
    rot_ok = "rot" in blob.files and blob["rot"].shape[0] == blob["rot"].shape[1]
    return quality.recall_with_ok(r_opq, truth, k=10, threshold=0.85).withColumn(
        "ok",
        F.col("ok")
        & (F.avg("recall").over(Window.partitionBy()) >= F.lit(r_pq - 0.05))
        & F.lit(bool(rot_ok)),
    )


_COS_AB_SQL = (
    "1.0 - list_sum(list_transform(list_zip(a.embedding, b.embedding),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)


@declare(
    "q_lsh_join",
    f"""
    WITH d AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round({_COS_AB_SQL}, 4) AS cos_dist
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, cos_dist FROM d WHERE cos_dist <= 0.5
    """,
)
def q_lsh_join(spark, sf_dir):
    """X3 LSH variant: random-hyperplane cosine radius self-join. The
    seeded planes are engine-internal, but the VERIFIED projection —
    candidate pairs re-checked with exact cosine distance <= 0.5 — is
    hash-matched against the full-pairs DuckDB oracle (the
    q_minhash_pairs pattern): equality holds because the deterministic
    16-plane/4-band blocking catches every true pair on this corpus
    (the radius set is sparse and well inside the collision curve)."""
    return similarity.lsh_similarity_join(
        _emb(spark, sf_dir), num_planes=16, bands=4, max_cosine_dist=0.5
    ).orderBy("a_id", "b_id")


# Full-corpus exact word-3gram Jaccard pairs at >= 0.5 — ground truth
# for BOTH sketch-blocked near-dup passes below. The sketches/signatures
# are engine-internal, but their VERIFIED pair sets are plain set
# algebra any engine reproduces; blocking recall at the
# operating point is what makes verified == truth (LSH: all true pairs
# in sf data sit at J >= 0.9, band-collision certainty ~1; SimHash:
# 8x8-bit banding guarantees candidates to Hamming 7, measured true-pair
# max is 5).
_JACCARD_PAIRS_SQL = """
    WITH s AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
               ELSE [array_to_string(toks, ' ')] END) AS sh
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
        FROM documents
      )
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           round(len(list_intersect(a.sh, b.sh))
                 / CAST(greatest(len(list_distinct(a.sh || b.sh)), 1) AS DOUBLE), 4) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))
          / CAST(greatest(len(list_distinct(a.sh || b.sh)), 1) AS DOUBLE) >= 0.5
"""


# The plain anti-join that incremental_dedup's survivors must match bit
# for bit (q_incremental_dedup).
_INC_DEDUP_ORACLE = r"""
    WITH seen AS (
      SELECT lower(regexp_replace(text, '\s+', ' ', 'g')) AS n
      FROM documents WHERE doc_id % 3 <> 0
    ), batch AS (
      SELECT doc_id + 1000000 AS doc_id,
             lower(regexp_replace(text, '\s+', ' ', 'g')) AS n
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id,
             lower(regexp_replace(text, '\s+', ' ', 'g')) AS n
      FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 0
    ), firsts AS (
      SELECT doc_id, n,
             row_number() OVER (PARTITION BY n ORDER BY doc_id) AS rn
      FROM batch
    )
    SELECT doc_id FROM firsts f
    WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM seen s WHERE s.n = f.n)
    ORDER BY doc_id
    """


@declare(
    "q_incremental_near_dups",
    """
    WITH seen AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
    ), batch AS (
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text FROM documents
      WHERE doc_id % 3 <> 0 AND doc_id % 11 = 1
    ), ss AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
               ELSE [array_to_string(toks, ' ')] END) AS sh
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
        FROM seen
      )
    ), sb AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
               ELSE [array_to_string(toks, ' ')] END) AS sh
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
        FROM batch
      )
    )
    SELECT b.doc_id AS batch_id, s.doc_id AS seen_id,
           round(len(list_intersect(b.sh, s.sh))
                 / CAST(greatest(len(list_distinct(b.sh || s.sh)), 1) AS DOUBLE), 4) AS jaccard
    FROM sb b JOIN ss s
      ON len(list_intersect(b.sh, s.sh))
         / CAST(greatest(len(list_distinct(b.sh || s.sh)), 1) AS DOUBLE) >= 0.5
    ORDER BY batch_id, seen_id
    """,
)
def q_incremental_near_dups(spark, sf_dir):
    """X2 incremental form: cross-snapshot near-dup scan — which docs of
    a new ingest batch are near-dups (exact shingle Jaccard >= 0.5) of
    the corpus at rest. seen = docs id % 3 != 0; batch = the id % 3 == 0
    docs (+1M) plus verbatim copies of seen docs (id % 11 == 1, +2M) so
    J=1.0 hits are guaranteed present. Engine path: corpus contributes
    its MinHash band table only, batch band table broadcasts, overfull
    buckets keep their max_bucket_witnesses min-id members, candidates
    re-verified by exact
    Jaccard — emitted as the verified projection, hash-matched against
    the full cross-pairs DuckDB oracle (same guarantee as
    q_minhash_pairs: the banding catches every J >= 0.5 pair in this
    corpus; the signatures stay engine-internal)."""
    docs = _docs(spark, sf_dir)
    seen = docs.where(F.col("doc_id") % 3 != 0)
    batch = (
        docs.where(F.col("doc_id") % 3 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .unionByName(
            docs.where((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 11 == 1))
            .select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
        )
    )
    return dedup.incremental_near_dups(
        batch, seen, threshold=0.5
    ).orderBy("batch_id", "seen_id")


@declare(
    "q_scan_decision",
    """
    WITH seen AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
    ), batch AS (
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text FROM documents
      WHERE doc_id % 3 <> 0 AND doc_id % 11 = 1
    ), ss AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
               ELSE [array_to_string(toks, ' ')] END) AS sh
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
        FROM seen
      )
    ), sb AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
               ELSE [array_to_string(toks, ' ')] END) AS sh
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
        FROM batch
      )
    )
    SELECT DISTINCT b.doc_id AS batch_id
    FROM sb b JOIN ss s
      ON len(list_intersect(b.sh, s.sh))
         / CAST(greatest(len(list_distinct(b.sh || s.sh)), 1) AS DOUBLE) >= 0.5
    ORDER BY batch_id
    """,
)
def q_scan_decision(spark, sf_dir):
    """X2 decision-only ingest gate: WHICH batch
    docs are near-dups of the corpus at rest — the flag set, not the
    pair list. Same snapshot split as q_incremental_near_dups; engine
    path is ``incremental_near_dups(decision_only=True)``: witness cap
    preset 8, candidates ranked by shared-band count, each doc's best
    candidate verified first with unresolved docs falling through to an
    exhaustive stage 2 — so the emitted flag set is exactly the audit
    path's, hash-checked here against the full cross-pairs DuckDB
    oracle projected to DISTINCT batch ids."""
    docs = _docs(spark, sf_dir)
    seen = docs.where(F.col("doc_id") % 3 != 0)
    batch = (
        docs.where(F.col("doc_id") % 3 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .unionByName(
            docs.where((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 11 == 1))
            .select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
        )
    )
    return (
        dedup.incremental_near_dups(batch, seen, threshold=0.5,
                                    decision_only=True)
        .select("batch_id")
        .orderBy("batch_id")
    )


@declare("q_minhash_pairs", _JACCARD_PAIRS_SQL)
def q_minhash_pairs(spark, sf_dir):
    """X2 MinHash-LSH near-dup pairs, emitted as the exact-verified
    projection (a_id, b_id, jaccard >= 0.5) — hash-matched against the
    full-pairs DuckDB oracle; the banded signatures stay internal."""
    return dedup.minhash_near_dups(
        _docs(spark, sf_dir), threshold=0.5
    ).orderBy("a_id", "b_id")


@declare("q_simhash_near_dups", _JACCARD_PAIRS_SQL)
def q_simhash_near_dups(spark, sf_dir):
    """X2 SimHash near-dup pairs, emitted as the exact-verified
    projection (candidates blocked by 8x8-bit bands, guaranteed to
    Hamming 7; exact Jaccard >= 0.5 on candidates) — hash-matched
    against the same full-pairs oracle as the MinHash pass."""
    return dedup.simhash_verified_near_dups(
        _docs(spark, sf_dir), max_hamming=7, bands=8, threshold=0.5
    ).select("a_id", "b_id", "jaccard").orderBy("a_id", "b_id")


# ======================================================================
# Dedup / text queries (X1, X5, X6)
# ======================================================================

@declare(
    "q_dedup_exact",
    """
    WITH k AS (
      SELECT doc_id,
             row_number() OVER (
               PARTITION BY lower(regexp_replace(text, '\\s+', ' ', 'g'))
               ORDER BY doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id FROM k WHERE rn = 1
    """,
)
def q_dedup_exact(spark, sf_dir):
    """X1: survivors of exact dedup (normalized text)."""
    return dedup.exact_dedup(_docs(spark, sf_dir)).select("doc_id")


@declare("q_incremental_dedup", _INC_DEDUP_ORACLE)
def q_incremental_dedup(spark, sf_dir):
    """X1 incremental form: dedup a NEW batch against the corpus at rest
    (snapshot-over-snapshot ingest). seen = docs with id % 3 != 0; the
    batch = the id % 3 == 0 docs (re-keyed +1M) plus planted copies of
    seen docs (re-keyed +2M, id % 7 == 0) so the driver row exercises
    both drop paths. The engine path reads the corpus once: the batch's
    content digests broadcast into a map-side semi-join (the corpus
    never shuffles on content), and a text anti-join over the matched
    corpus rows makes the output exact, hash-matched against the plain
    anti-join oracle."""
    docs = _docs(spark, sf_dir)
    seen = docs.where(F.col("doc_id") % 3 != 0)
    batch = (
        docs.where(F.col("doc_id") % 3 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .unionByName(
            docs.where((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 7 == 0))
            .select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
        )
    )
    return (
        dedup.incremental_dedup(batch, seen)
        .select("doc_id")
        .orderBy("doc_id")
    )


@declare(
    "q_dup_groups",
    """
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
    )
    SELECT min(doc_id) AS canonical_id, CAST(count(*) AS BIGINT) AS n_members
    FROM aug GROUP BY text HAVING count(*) > 1
    """,
)
def q_dup_groups(spark, sf_dir):
    """X1: exact-duplicate clusters (raw text identity).

    sf0.01 documents contain no natural exact-duplicate groups (an
    unplanted run compares 0 rows against 0 rows), so the query plants
    deterministic copies in-query — every 10th doc gains one verbatim
    copy, every 50th a second — exercising both pair groups and a
    3-member group against the oracle (the q_gopher_filter augmentation
    pattern)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    aug = d.unionByName(
        d.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    ).unionByName(
        d.where(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    return dedup.duplicate_groups(aug).select("canonical_id", "n_members")


_TOKS = _TOKS_SQL.format(t="text")
_TOKS_LOWER = f"list_transform({_TOKS}, x -> lower(x))"

@declare(
    "q_text_stats",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents
    )
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT) AS n_pieces,
           round(CASE WHEN len(toks) > 0
                 THEN list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE))) / len(toks)
                 ELSE 0.0 END, 4) AS avg_token_len,
           round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                 / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS punct_ratio,
           round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                 / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS digit_ratio
    FROM t
    """,
)
def q_text_stats(spark, sf_dir):
    """X5 per-document text statistics."""
    return text.text_stats(_docs(spark, sf_dir))


@declare(
    "q_grouped_text_stats",
    f"""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           round(avg(CAST(length(text) AS DOUBLE)), 4) AS avg_chars,
           round(avg(CAST(len({_TOKS}) AS DOUBLE)), 4) AS avg_tokens
    FROM documents GROUP BY lang, source
    """,
)
def q_grouped_text_stats(spark, sf_dir):
    """X6 per-(lang, source) aggregates."""
    return text.grouped_text_stats(_docs(spark, sf_dir))


def _lang_values_sql() -> str:
    rows = []
    for lang, ws in sorted(_LANG_PROFILES.items()):
        arr = ", ".join(f"'{w}'" for w in ws)
        rows.append(f"('{lang}', [{arr}])")
    return ", ".join(rows)


@declare(
    "q_language_id",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_LOWER} AS toks FROM documents
    ),
    s AS (
      SELECT t.doc_id, p.lang, len(list_intersect(t.toks, p.profile)) AS hits
      FROM t, (VALUES {_lang_values_sql()}) AS p(lang, profile)
    ),
    r AS (
      SELECT doc_id, lang, hits,
             row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
      FROM s
    )
    SELECT doc_id, lang AS pred_lang, CAST(hits AS BIGINT) AS profile_hits
    FROM r WHERE rn = 1
    """,
)
def q_language_id(spark, sf_dir):
    """Stopword-profile language ID (ties → lexicographically largest lang,
    matching Spark struct-max semantics)."""
    return text.language_id(_docs(spark, sf_dir))


@declare(
    "q_fingerprint",
    f"""
    WITH t AS (
      SELECT doc_id, array_to_string({_TOKS_LOWER}, ' ') AS norm FROM documents
    )
    SELECT doc_id, md5(norm) AS fingerprint, sha256(norm) AS sha256 FROM t
    """,
)
def q_fingerprint(spark, sf_dir):
    """Document fingerprinting over the normalized token stream."""
    return text.fingerprint(_docs(spark, sf_dir))


_STOP_ARR = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"

@declare(
    "q_quality_score",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_tok,
             len(list_intersect(toks, {_STOP_ARR})) AS stop_hits,
             CASE WHEN len(toks) > 0
                  THEN len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                  ELSE 0.0 END AS uniq_ratio,
             (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
               / CAST(greatest(length(text), 1) AS DOUBLE) AS punct
      FROM t
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           round(uniq_ratio, 4) AS uniq_token_ratio,
           round(
             (CASE WHEN n_tok BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN stop_hits > 0 THEN 0.2 ELSE 0.0 END)
             + (CASE WHEN punct < 0.2 THEN 0.2 ELSE 0.0 END)
             + least(uniq_ratio, 1.0) * 0.2, 4) AS quality_score
    FROM m
    """,
)
def q_quality_score(spark, sf_dir):
    """Pretraining-data quality heuristics."""
    return text.quality_score(_docs(spark, sf_dir))


@declare(
    "q_unigram_logprob",
    r"""
    WITH toks AS (
      SELECT doc_id, u.token
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
            FROM documents), UNNEST(t) AS u(token)
    ), freq AS (
      SELECT token, count(*) AS freq FROM toks GROUP BY token
    ), tot AS (
      SELECT CAST(sum(freq) AS DOUBLE) AS total,
             CAST(count(*) AS DOUBLE) AS vocab
      FROM freq
    )
    SELECT toks.doc_id,
           round(avg(ln((freq + 1.0) / (total + 1.0 * vocab))), 6) AS avg_logprob,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM toks JOIN freq USING (token), tot
    GROUP BY toks.doc_id
    """,
)
def q_unigram_logprob(spark, sf_dir):
    """Perplexity-filter stand-in: mean smoothed unigram log-probability
    per doc under the corpus's own token distribution."""
    return text.unigram_logprob_score(_docs(spark, sf_dir))


@declare(
    "q_repetition_stats",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
      FROM documents
    ), b AS (
      SELECT doc_id, ws[g] || ' ' || ws[g + 1] AS gram
      FROM (SELECT doc_id, ws,
                   unnest(generate_series(1, len(ws) - 1)) AS g
            FROM t WHERE len(ws) > 1)
    ), bc AS (
      SELECT doc_id, gram, count(*) AS c FROM b GROUP BY doc_id, gram
    ), bm AS (
      SELECT doc_id, max(c) AS maxc, sum(c) AS totb FROM bc GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
           round(CASE WHEN len(ws) > 0
                 THEN 1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
                 ELSE 0.0 END, 6) AS dup_word_frac,
           round(coalesce(CAST(maxc AS DOUBLE) / totb, 0.0), 6)
               AS top_bigram_frac
    FROM t LEFT JOIN bm USING (doc_id)
    """,
)
def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals: duplicate-word fraction and
    most-frequent-bigram share per document."""
    return text.repetition_stats(_docs(spark, sf_dir))


@declare(
    "q_token_entropy",
    r"""
    WITH toks AS (
      SELECT doc_id, u.token
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
            FROM documents), UNNEST(t) AS u(token)
    ), pc AS (
      SELECT doc_id, token, count(*) AS c FROM toks GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(log2(CAST(sum(c) AS DOUBLE))
                 - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
                   / CAST(sum(c) AS DOUBLE), 5) AS entropy
    FROM pc
    GROUP BY doc_id
    """,
)
def q_token_entropy(spark, sf_dir):
    """Per-document Shannon entropy of the word distribution (bits) —
    the low-entropy tail is degenerate repeated-token spam."""
    return text.token_entropy(_docs(spark, sf_dir))


@declare(
    "q_token_chunks",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
      FROM documents
    ), s AS (
      SELECT doc_id, ws,
             unnest(generate_series(1, greatest(len(ws), 1), 8)) AS start_tok
      FROM t
    )
    SELECT doc_id,
           CAST((start_tok - 1) // 8 AS BIGINT) AS chunk_id,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(len(list_slice(ws, start_tok, least(start_tok + 15, len(ws))))
                AS BIGINT) AS n_chunk_tokens,
           array_to_string(
               list_slice(ws, start_tok, least(start_tok + 15, len(ws))), ' ')
               AS chunk_text
    FROM s
    """,
)
def q_token_chunks(spark, sf_dir):
    """Fixed-length training-example packing: 16-token chunks on an
    8-token stride (overlapping windows) over every document."""
    return text.chunk_tokens(_docs(spark, sf_dir), max_len=16, stride=8)


@declare(
    "q_random_vectors",
    """
    WITH ids AS (SELECT range AS vec_id FROM range(200)),
    comps AS (
      SELECT vec_id, u.i,
             CAST(CAST(
               ((('0x' || substring(md5(concat_ws(':', 7, vec_id, u.i)), 1, 8))
                   ::BIGINT + 0.5) / 4294967296.0 * 2.0 - 1.0)
             AS REAL) AS DOUBLE) AS comp
      FROM ids, (SELECT unnest(generate_series(0, 15)) AS i) AS u
    )
    SELECT vec_id, CAST(i AS BIGINT) AS i, comp FROM comps
    """,
)
def q_random_vectors(spark, sf_dir):
    """Reference R20 parity: the seeded uniform random-vector generator
    (vamana.h:46-63) as a lazily-generated source; components exploded
    to scalars so the gate hashes exact values."""
    from vamana_spark.sources.random_vectors import random_vectors

    vecs = random_vectors(spark, 200, 16, seed=7)
    return vecs.select(
        "vec_id", F.posexplode("embedding").alias("i", "comp")
    ).select(
        "vec_id",
        F.col("i").cast("long").alias("i"),
        F.col("comp").cast("double").alias("comp"),
    )


@declare(
    "q_token_histogram",
    f"""
    SELECT token, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest({_TOKS}) AS token FROM documents)
    GROUP BY token
    """,
)
def q_token_histogram(spark, sf_dir):
    """Corpus token frequency."""
    return text.token_histogram(_docs(spark, sf_dir))


@declare(
    "q_tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT unnest(list_distinct({_TOKS_LOWER})) AS term FROM documents
    ), nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
    SELECT term, CAST(count(*) AS BIGINT) AS df,
           round(ln((nd.n_docs + 1) / (count(*) + 1)), 4) AS idf
    FROM toks, nd
    GROUP BY term, nd.n_docs
    ORDER BY df DESC, term
    LIMIT 100
    """,
)
def q_tfidf_top_terms(spark, sf_dir):
    """Corpus df/idf table (tf-idf's corpus half): top-100 terms by
    document frequency with smoothed idf = ln((N+1)/(df+1))."""
    return text.tfidf_terms(_docs(spark, sf_dir))


@declare(
    "q_bm25_search",
    f"""
    WITH d AS (
      SELECT doc_id, len({_TOKS_LOWER}) AS dl, {_TOKS_LOWER} AS toks
      FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             avg(CAST(dl AS DOUBLE)) AS avgdl
      FROM d
    ),
    tf AS (
      SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
      WHERE term IN ('merge', 'stream', 'vector')
      GROUP BY doc_id, dl, term
    ),
    dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
    w AS (
      SELECT tf.doc_id,
             ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
             * tf.tf * (1.2 + 1.0)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE) / stats.avgdl)) AS wt
      FROM tf JOIN dfq USING (term), stats
    )
    SELECT doc_id, round(sum(wt), 4) AS bm25
    FROM w GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def q_bm25_search(spark, sf_dir):
    """Okapi BM25 ranked retrieval (Robertson et al.; Lucene's
    positive-idf variant) for a fixed 3-term query — the retrieval
    pass behind contamination probes and targeted corpus slicing. The
    oracle re-derives N/avgdl, per-(doc,term) tf, per-term df, and the
    full saturation formula independently."""
    return text.bm25_rank(
        _docs(spark, sf_dir), ["merge", "stream", "vector"], top_n=20
    )


_BM25_PROBES = [
    (0, ["merge", "stream", "vector"]),
    (1, ["index", "graph", "merge"]),
    (2, ["data", "pipeline"]),
    (3, ["vector"]),
]


@declare(
    "q_bm25_batch",
    f"""
    WITH probes AS (
      SELECT * FROM (VALUES
        {", ".join(f"({pid}, {terms})" for pid, terms in _BM25_PROBES)}
      ) AS t(probe_id, terms)
    ),
    pterms AS (
      SELECT probe_id, unnest(list_distinct(terms)) AS term FROM probes
    ),
    d AS (
      SELECT doc_id, len({_TOKS_LOWER}) AS dl, {_TOKS_LOWER} AS toks
      FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             avg(CAST(dl AS DOUBLE)) AS avgdl
      FROM d
    ),
    tf AS (
      SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
      WHERE term IN (SELECT DISTINCT term FROM pterms)
      GROUP BY doc_id, dl, term
    ),
    dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
    w AS (
      SELECT p.probe_id, tf.doc_id,
             ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
             * tf.tf * (1.2 + 1.0)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE) / stats.avgdl)) AS wt
      FROM tf JOIN dfq USING (term) JOIN pterms p USING (term), stats
    ),
    s AS (
      SELECT probe_id, doc_id, round(sum(wt), 4) AS bm25
      FROM w GROUP BY probe_id, doc_id
    )
    SELECT CAST(probe_id AS BIGINT) AS probe_id, doc_id, bm25,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT probe_id, doc_id, bm25,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY bm25 DESC, doc_id) AS rank
      FROM s
    )
    WHERE rank <= 20
    """,
)
def q_bm25_batch(spark, sf_dir):
    """Batch BM25: a DATAFRAME of
    contamination probes ranked against the corpus in ONE job — tf is
    computed once per (doc, term), the per-probe fan-out happens on
    the aggregate, and the whole batch costs two data shuffles
    regardless of probe count (plan-asserted in test_plans.py). The
    oracle replays every stage including the per-probe rounded-score
    top-20 cut."""
    probes = spark.createDataFrame(_BM25_PROBES, "probe_id long, terms array<string>")
    return text.bm25_rank_batch(_docs(spark, sf_dir), probes, top_n=20)


@declare(
    "q_ngram_jaccard",
    """
    WITH s AS (
      SELECT doc_id, source,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
               ELSE [array_to_string(toks, ' ')] END) AS sh
      FROM (
        SELECT doc_id, source,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
        FROM documents
      )
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           round(len(list_intersect(a.sh, b.sh))
                 / CAST(greatest(len(list_distinct(a.sh || b.sh)), 1) AS DOUBLE), 4) AS jaccard
    FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))
          / CAST(greatest(len(list_distinct(a.sh || b.sh)), 1) AS DOUBLE) >= 0.5
    """,
)
def q_ngram_jaccard(spark, sf_dir):
    """X2 exact-Jaccard variant (source-blocked) — the dedup oracle."""
    return dedup.ngram_jaccard_join(
        _docs(spark, sf_dir), n=3, threshold=0.5, block_col="source"
    )


# shared pair-generation CTE for the cluster/corpus-dedup oracles — the
# same shingling + blocked exact-Jaccard as q_ngram_jaccard, plus the
# transitive closure (DuckDB recursive CTE = the oracle for the engine's
# O(log n)-round distributed connected components).
_DUP_REACH_CTE = """
    WITH RECURSIVE
    s AS (
      SELECT doc_id, source,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
               ELSE [array_to_string(toks, ' ')] END) AS sh
      FROM (
        SELECT doc_id, source,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
        FROM documents
      )
    ),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))
            / CAST(greatest(len(list_distinct(a.sh || b.sh)), 1) AS DOUBLE) >= 0.5
    ),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION
      SELECT b_id AS u, a_id AS v FROM pairs
    ),
    reach AS (
      SELECT u AS src, u AS dst FROM edges
      UNION
      SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
    )
"""


def _jaccard_pairs(spark, sf_dir):
    return dedup.ngram_jaccard_join(
        _docs(spark, sf_dir), n=3, threshold=0.5, block_col="source"
    )


@declare(
    "q_dup_clusters",
    _DUP_REACH_CTE
    + """
    SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def q_dup_clusters(spark, sf_dir):
    """Transitive near-dup clusters (pairs → connected components);
    cluster_id = min doc_id per component."""
    out = dedup.duplicate_clusters(
        _docs(spark, sf_dir), pairs=_jaccard_pairs(spark, sf_dir)
    )
    return out.select(
        F.col("doc_id").cast("long"), F.col("cluster_id").cast("long")
    ).orderBy("doc_id")


@declare(
    "q_corpus_dedup",
    _DUP_REACH_CTE
    + """
    , losers AS (SELECT src FROM reach GROUP BY src HAVING min(dst) <> src)
    SELECT d.doc_id, d.source FROM documents d
    LEFT JOIN losers l ON d.doc_id = l.src
    WHERE l.src IS NULL
    """,
)
def q_corpus_dedup(spark, sf_dir):
    """Corpus-level near-dedup: canonical doc per cluster + all
    unpaired docs survive (LSH/Jaccard pairs → CC → anti-join)."""
    out = dedup.dedup_corpus(
        _docs(spark, sf_dir), pairs=_jaccard_pairs(spark, sf_dir)
    )
    return out.select("doc_id", "source").orderBy("doc_id")


@declare(
    "q_stratified_sample",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Seeded per-source sample (5 docs/stratum) via portable md5-hash
    rank — reproducible across engines and partitionings."""
    from vamana_spark.operators import sampling

    return sampling.stratified_sample(
        _docs(spark, sf_dir), "source", 5, seed=42
    ).select("doc_id", "source")


@declare(
    "q_train_test_split",
    """
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs FROM (
      SELECT CASE WHEN substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8)
                       < '19999999'
                  THEN 'test' ELSE 'train' END AS split
      FROM documents
    ) GROUP BY split
    """,
)
def q_train_test_split(spark, sf_dir):
    """Stable 10% test split from the md5 hex prefix (pure projection —
    membership survives repartitioning and appends)."""
    from vamana_spark.operators import sampling

    out = sampling.train_test_split(_docs(spark, sf_dir), test_fraction=0.1, seed=42)
    return out.groupBy("split").agg(F.count("*").cast("long").alias("n_docs"))


@declare(
    "q_contamination",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t,
             CASE WHEN substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8)
                       < '19999999'
                  THEN 'test' ELSE 'train' END AS split
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, split, h FROM (
        SELECT doc_id, split,
               CASE WHEN len(t) >= 5
                    THEN list_transform(generate_series(1, len(t) - 4),
                           i -> md5(array_to_string(list_slice(t, i, i + 4), ' ')))
                    ELSE [md5(array_to_string(t, ' '))] END AS hs
        FROM toks
      ), UNNEST(hs) AS u(h)
    )
    SELECT te.doc_id AS test_id, tr.doc_id AS train_id,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM sh te JOIN sh tr ON te.h = tr.h
    WHERE te.split = 'test' AND tr.split = 'train'
    GROUP BY 1, 2
    """,
)
def q_contamination(spark, sf_dir):
    """Train/test decontamination scan: test docs sharing any distinct
    5-gram shingle with a train doc (split = the stable md5 10% split).
    The match is an equi-join on the shingle hash — no doc x doc
    product."""
    from vamana_spark.operators import dedup, sampling

    docs = _docs(spark, sf_dir)
    split = sampling.train_test_split(docs, test_fraction=0.1, seed=42)
    return dedup.contamination_check(
        split.where(F.col("split") == "train"),
        split.where(F.col("split") == "test"),
        n=5,
    )


@declare(
    "q_weighted_sample",
    """
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             ln((('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 + 0.5) / 4294967296.0)
               / CAST(n_chars AS DOUBLE) AS wk
      FROM documents
    ) ORDER BY wk DESC, doc_id LIMIT 50
    """,
)
def q_weighted_sample(spark, sf_dir):
    """Length-proportional 50-doc sample (Efraimidis-Spirakis keys from
    the portable md5 draw) — the token-budget sampling a training
    pipeline runs over a corpus."""
    from vamana_spark.operators import sampling

    return sampling.weighted_sample(
        _docs(spark, sf_dir), 50, "n_chars", seed=42
    ).select("doc_id", "source", "n_chars")


@declare(
    "q_embedding_near_dups",
    f"""
    WITH p AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT 900001, embedding FROM embeddings WHERE vec_id = 0
      UNION ALL
      SELECT 900002, embedding FROM embeddings WHERE vec_id = 0
    ),
    c AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             (1.0 - ({_COS_SQL.replace('q.embedding', 'a.embedding').replace('p.embedding', 'b.embedding')})) AS sim
      FROM p a, p b WHERE a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, round(sim, 4) AS cosine_sim
    FROM c WHERE round(sim, 4) >= 0.9
    """,
)
def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact all-pairs form). The
    sf0.01 embeddings contain no pair above the 0.9 threshold, so two
    exact clones of vec 0 are planted in-query (the q_gopher_filter
    de-vacuation pattern): the operator must find exactly the three
    clone pairs, not compare 0 rows to 0 rows."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    clones = (
        e.where(F.col("vec_id") == 0)
        .select(
            F.explode(
                F.array(F.lit(900001).cast("long"), F.lit(900002).cast("long"))
            ).alias("vec_id"),
            "embedding",
        )
    )
    return dedup.embedding_near_dups(e.unionByName(clones), threshold=0.9)


# shared CTE: per-dimension bounds + SQ8 codes + dequantized vectors.
# floor((x-mn)/rng*255 + 0.5) in IEEE double on both engines — bit-exact.
_SQ_CTE = """
    WITH e AS (
      SELECT vec_id, unnest(embedding) AS v,
             unnest(range(1, len(embedding) + 1)) AS ord
      FROM embeddings
    ),
    b AS (
      SELECT ord, min(CAST(v AS DOUBLE)) AS mn, max(CAST(v AS DOUBLE)) AS mx
      FROM e GROUP BY ord
    ),
    c AS (
      SELECT e.vec_id, e.ord,
             floor((CAST(e.v AS DOUBLE) - b.mn)
                   / (CASE WHEN b.mx > b.mn THEN b.mx - b.mn ELSE 1.0 END)
                   * 255 + 0.5) AS code,
             b.mn, b.mx
      FROM e JOIN b USING (ord)
    )
"""


@declare(
    "q_scalar_quantize",
    _SQ_CTE
    + """
    SELECT vec_id, CAST(ord AS INT) AS pos, CAST(code AS BIGINT) AS code
    FROM c
    """,
)
def q_scalar_quantize(spark, sf_dir):
    """SQ8 codes for every embedding (exploded to scalar rows for the
    hash compare) — pure-Catalyst zip_with encode, oracle-matched
    bit-for-bit (deterministic double arithmetic)."""
    e = _emb(spark, sf_dir)
    dim = len(e.select("embedding").first()[0])
    codes, _ = quantization.scalar_quantize(e, dim)
    return codes.select(
        "vec_id", F.posexplode("codes").alias("pos", "code")
    ).select("vec_id", (F.col("pos") + 1).cast("int").alias("pos"), "code")


@declare(
    "q_sq_knn",
    _SQ_CTE
    + """
    , d AS (
      SELECT vec_id, ord,
             code / 255 * (CASE WHEN mx > mn THEN mx - mn ELSE 1.0 END) + mn AS val
      FROM c
    ),
    v AS (SELECT vec_id, list(val ORDER BY ord) AS emb FROM d GROUP BY vec_id),
    q AS (SELECT vec_id AS query_id, emb FROM v WHERE vec_id % 50 = 0),
    dd AS (
      SELECT q.query_id, p.vec_id,
             list_sum(list_transform(list_zip(q.emb, p.emb),
                      x -> (x[1] - x[2]) * (x[1] - x[2]))) AS dist
      FROM q, v p
    ),
    r AS (
      SELECT query_id, vec_id, dist,
             row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
      FROM dd
    )
    SELECT query_id, vec_id, round(dist, 4) AS dist, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 10
    """,
)
def q_sq_knn(spark, sf_dir):
    """Exact kNN over SQ8-dequantized vectors (what 4x compression costs
    in ranking, under the oracle's own eyes)."""
    e = _emb(spark, sf_dir)
    dim = len(e.select("embedding").first()[0])
    out = quantization.sq_knn(e, _fixed_queries(e, 50), k=10, dim=dim, round_digits=4)
    return out.select("query_id", "vec_id", "dist", "rank")


@declare(
    "q_ranking_metrics",
    _SQ_CTE
    + """
    , dq AS (
      SELECT vec_id, ord,
             code / 255 * (CASE WHEN mx > mn THEN mx - mn ELSE 1.0 END) + mn AS val
      FROM c
    ),
    v AS (SELECT vec_id, list(val ORDER BY ord) AS emb FROM dq GROUP BY vec_id),
    q AS (SELECT vec_id AS query_id, emb FROM v WHERE vec_id % 50 = 0),
    ad AS (
      SELECT q.query_id, p.vec_id,
             list_sum(list_transform(list_zip(q.emb, p.emb),
                      x -> (x[1] - x[2]) * (x[1] - x[2]))) AS dist
      FROM q, v p WHERE p.vec_id <> q.query_id
    ),
    ar AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
      FROM ad
    ),
    ap AS (SELECT query_id, vec_id, CAST(rank AS DOUBLE) AS arank FROM ar WHERE rank <= 10),
    tq AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
    td AS (
      SELECT tq.query_id, p.vec_id,
             list_sum(list_transform(list_zip(tq.embedding, p.embedding),
                      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS dist
      FROM tq, embeddings p WHERE p.vec_id <> tq.query_id
    ),
    tr AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
      FROM td
    ),
    tt AS (SELECT query_id, vec_id, CAST(rank AS DOUBLE) AS trank FROM tr WHERE rank <= 10),
    jj AS (
      SELECT a.query_id, a.arank, t.trank
      FROM ap a LEFT JOIN tt t ON a.query_id = t.query_id AND a.vec_id = t.vec_id
    ),
    pq AS (
      SELECT query_id,
             sum(CASE WHEN trank IS NOT NULL THEN 1.0 ELSE 0.0 END) / 10.0 AS recall_at_k,
             coalesce(1.0 / min(CASE WHEN trank IS NOT NULL THEN arank END), 0.0) AS mrr,
             sum(CASE WHEN trank IS NOT NULL
                      THEN 1.0 / (ln(arank + 1.0) / ln(2.0)) ELSE 0.0 END) AS dcg
      FROM jj GROUP BY query_id
    ),
    iq AS (
      SELECT query_id, sum(1.0 / (ln(trank + 1.0) / ln(2.0))) AS idcg
      FROM tt GROUP BY query_id
    )
    SELECT i.query_id,
           round(coalesce(p.recall_at_k, 0.0), 6) AS recall_at_k,
           round(coalesce(p.mrr, 0.0), 6) AS mrr,
           round(coalesce(p.dcg, 0.0) / i.idcg, 6) AS ndcg
    FROM iq i LEFT JOIN pq p USING (query_id)
    ORDER BY query_id
    """,
)
def q_ranking_metrics(spark, sf_dir):
    """IR evaluation harness: recall@10 / MRR / binary NDCG@10 of the
    SQ8-quantized searcher against the exact-kNN truth (self excluded
    on both sides, so MRR measures the first true NEIGHBOR found).
    Every stage — SQ8 encode/decode, both rankings, the metric
    arithmetic (double, ln-based log2) — is replicated in DuckDB, so
    the driver hash-matches the quality numbers themselves, not just
    the rankings they summarize."""
    from vamana_spark import quality

    e = _emb(spark, sf_dir)
    dim = len(e.select("embedding").first()[0])
    q = _fixed_queries(e, 50)
    approx = quantization.sq_knn(e, q, k=10, dim=dim, exclude_self=True)
    truth = exact.exact_knn(e, q, k=10, exclude_self=True)
    return quality.ranking_metrics(approx, truth, k=10, round_digits=6).orderBy(
        "query_id"
    )


_PIDX_CACHE: dict = {}


def _built_partitioned(spark, sf_dir):
    """The partitioned index the serving queries run against: the
    committed deterministic fixture when present (search over a loaded
    fixed graph is bit-stable), else a live build (non-testdata dirs).
    The partitioned BUILD path stays driver-exercised via
    q_append_membership and the tests."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PIDX_CACHE:
        from vamana_spark.index.partitioned import PartitionedVamanaIndex

        path = _fixture_path(sf_dir, "partitioned")
        if os.path.exists(os.path.join(path, "_meta.json")):
            _PIDX_CACHE[key] = PartitionedVamanaIndex.load(spark, path)
        else:
            params = VamanaParams(
                dim=64, alpha=1.2, R=32, L=64, ef_search=100, seed=42
            )
            _PIDX_CACHE[key] = PartitionedVamanaIndex.build(
                spark, _emb(spark, sf_dir), params, num_shards=4
            )
        _PIDX_CACHE[key].shards_df = _PIDX_CACHE[key].shards_df.cache()
    return _PIDX_CACHE[key]


@declare("q_partitioned_ann")
def q_partitioned_ann(spark, sf_dir):
    """Beyond-broadcast tier: per-shard subindex fan-out search with
    global top-k merge (rows-only; recall gated by q_partitioned_recall).
    ``ok`` asserts the index really is multi-shard — a 1-shard build
    would make this an accidental broadcast-tier test."""
    pidx = _built_partitioned(spark, sf_dir)
    q = _fixed_queries(_emb(spark, sf_dir), 25)
    n_shards = pidx.shards_df.select("shard").distinct().count()
    return pidx.search(q, k=10).withColumn("ok", F.lit(n_shards > 1))


@declare("q_partitioned_recall")
def q_partitioned_recall(spark, sf_dir):
    """Per-query recall@10 of the partitioned (exhaustive-probe) search
    vs exact kNN; ``ok`` embeds the avg ≥ 0.8 gate."""
    from vamana_spark import quality

    pidx = _built_partitioned(spark, sf_dir)
    e = _emb(spark, sf_dir)
    q = _fixed_queries(e, 25)
    return quality.recall_with_ok(
        pidx.search(q, k=10), exact.exact_knn(e, q, k=10), k=10
    )


@declare("q_partitioned_pq")
def q_partitioned_pq(spark, sf_dir):
    """Beyond-RAM serving tier (DiskANN recipe, reference readme.md:3):
    ADC beam search over per-shard PQ codes — shard tasks hold codes,
    not the float matrix — with exact re-rank of the merged shortlist
    from vectors at rest. ``ok`` embeds the recall@10 >= 0.8 gate vs
    exact kNN (rows-only)."""
    from vamana_spark import quality

    pidx = _built_partitioned(spark, sf_dir)
    e = _emb(spark, sf_dir)
    q = _fixed_queries(e, 25)
    return quality.recall_with_ok(
        pidx.search_pq(q, k=10), exact.exact_knn(e, q, k=10), k=10
    )


@declare("q_skewed_build")
def q_skewed_build(spark, sf_dir):
    """The build-time skew guard driver-gated: collapse 75% of the embedding
    table into one tight blob (scale by 0.02 — declarative transform),
    build partitioned with num_shards=4 / overlap=2, and assert the
    oversized-cell split actually fires and stays bounded. ``ok`` folds
    in (a) split fired: final num_shards > 4, (b) the realized max
    shard ≤ 2.6× the fair share (slack over the 2.0 factor for the
    overlap copies, which the split does not count), (c) coverage:
    every point indexed exactly once per overlap-distinct cell, (d)
    exhaustive search recall ≥ 0.9 vs exact kNN on the same skewed
    table. Rows-only by nature (k-means build);
    the equivalent invariants run at unit scale in
    test_partitioned.py::test_oversized_cells_split_on_skewed_corpus."""
    from vamana_spark import quality
    from vamana_spark.index.partitioned import PartitionedVamanaIndex

    e = _emb(spark, sf_dir)
    skewed = e.select(
        "vec_id",
        F.when(
            F.col("vec_id") % 4 != 0,
            F.transform("embedding", lambda x: x * F.lit(0.02)),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    params = VamanaParams(dim=64, alpha=1.2, R=32, L=64, ef_search=100, seed=42)
    pidx = PartitionedVamanaIndex.build(
        spark, skewed, params, num_shards=4, overlap=2
    )
    S = int(pidx.params.num_shards)
    n = int(pidx.params.n)
    sizes = pidx.shards_df.groupBy("shard").count()
    mx = sizes.agg(F.max("count")).first()[0]
    covered = pidx.shards_df.select("vec_id").distinct().count() == n
    fair = 2.0 * n / S
    q = _fixed_queries(skewed, 25)
    res = quality.recall_with_ok(
        pidx.search(q, k=10), exact.exact_knn(skewed, q, k=10), k=10,
        threshold=0.9,
    )
    return res.withColumn(
        "ok",
        F.col("ok")
        & F.lit(S > 4)
        & F.lit(bool(covered))
        & F.lit(float(mx) <= 2.6 * fair),
    )


@declare("q_resplit_consolidation")
def q_resplit_consolidation(spark, sf_dir):
    """Maintenance-time skew consolidation driver-gated: build the
    same declaratively-skewed corpus as q_skewed_build but with the
    BUILD-time guard disabled (max_shard_factor=None), so the oversized
    cell survives into the index — the state a sustained hot-cell
    append leaves behind — then run ``resplit_oversized`` and assert it
    restores the bound. ``ok`` folds in: (a) the resplit fired
    (num_shards grew), (b) the realized max shard ≤ 2.6× the fair
    share (slack over the 2.0 factor for the uneven vec_id-hash
    leveling inside a split cell; same bar as q_skewed_build), (c)
    coverage: every point indexed exactly once
    per overlap-distinct cell, (d) exhaustive-search recall ≥ 0.9 vs
    exact kNN on the same skewed table — byte-preserved untouched
    shards and re-hashed hot-cell members both serve. Rows-only by
    nature (k-means build); the byte-for-byte renumbering invariant
    runs in test_partitioned.py::test_resplit_oversized_after_heavy_append."""
    from vamana_spark import quality
    from vamana_spark.index.partitioned import (
        PartitionedVamanaIndex,
        resplit_oversized,
    )

    e = _emb(spark, sf_dir)
    skewed = e.select(
        "vec_id",
        F.when(
            F.col("vec_id") % 4 != 0,
            F.transform("embedding", lambda x: x * F.lit(0.02)),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    params = VamanaParams(dim=64, alpha=1.2, R=32, L=64, ef_search=100, seed=42)
    # overlap=1: copies dilute per-cell population shares (each point
    # counts in 2 cells), which at this tiny scale lands the hot cell
    # exactly on the 2.0x boundary — the single-assignment layout is
    # the clean isolation of the resplit rule itself
    pidx = PartitionedVamanaIndex.build(
        spark, skewed, params, num_shards=4, overlap=1, max_shard_factor=None
    )
    split = resplit_oversized(pidx, max_shard_factor=2.0)
    S = int(split.params.num_shards)
    n = int(split.params.n)
    mx = split.shards_df.groupBy("shard").count().agg(F.max("count")).first()[0]
    covered = (
        split.shards_df.select("vec_id").distinct().count() == n
        and split.shards_df.count() == n
    )
    fair = 2.0 * n / S
    q = _fixed_queries(skewed, 25)
    res = quality.recall_with_ok(
        split.search(q, k=10), exact.exact_knn(skewed, q, k=10), k=10,
        threshold=0.9,
    )
    return res.withColumn(
        "ok",
        F.col("ok")
        & F.lit(S > int(pidx.params.num_shards))
        & F.lit(bool(covered))
        & F.lit(float(mx) <= 1.3 * fair),
    ).withColumn("shards_after", F.lit(S))


@declare("q_calibrated_serving")
def q_calibrated_serving(spark, sf_dir):
    """Serving calibration driver-gated: collapse the embedding
    table into 4 declarative blobs (center = one of the first 4
    vectors, point = center + 0.05·x), build partitioned with
    num_shards=4 / overlap=2, then measure BOTH calibrations —
    ``calibrate_nprobe`` (ground-truth probe reachability) and
    ``pq_profile`` (pack-time ADC shortlist agreement) — and serve at
    the calibrated defaults. ``ok`` folds in: (a) the calibrated
    nprobe is a real operating point (1 ≤ rec ≤ S, and BELOW the
    exhaustive S on this clustered corpus — routing must be doing the
    work), (b) serving at ``default_nprobe`` (which now reads the
    calibrated value) clears recall@10 ≥ 0.9 vs exact kNN, (c) the
    profile is sane: chosen m divides dim, agreement ∈ (0, 1], and the
    per-shard fallback only fires when no candidate cleared the bar.
    Rows-only by nature (k-means build + measured calibration); the
    bit-level invariants run in test_partitioned.py's calibration
    tests."""
    from vamana_spark import quality
    from vamana_spark.index.partitioned import PartitionedVamanaIndex

    e = _emb(spark, sf_dir)
    cents = e.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("_c"), F.col("embedding").alias("_cv")
    )
    blobby = (
        e.withColumn("_c", F.col("vec_id") % 4)
        .join(F.broadcast(cents), "_c")
        .select(
            "vec_id",
            F.zip_with(
                "_cv", "embedding", lambda c, x: c + x * F.lit(0.05)
            ).alias("embedding"),
        )
    )
    params = VamanaParams(dim=64, alpha=1.2, R=32, L=64, ef_search=100, seed=42)
    pidx = PartitionedVamanaIndex.build(
        spark, blobby, params, num_shards=4, overlap=2
    )
    S = int(pidx.params.num_shards)
    rec = pidx.calibrate_nprobe()
    prof = pidx.pq_profile()
    q = _fixed_queries(blobby, 25)
    res = quality.recall_with_ok(
        pidx.search(q, k=10, nprobe=pidx.default_nprobe),
        exact.exact_knn(blobby, q, k=10),
        k=10,
        threshold=0.9,
    )
    prof_ok = (
        64 % int(prof["pq_m"]) == 0
        and 0.0 < float(prof["adc_agreement"]) <= 1.0
        and (
            not prof["per_shard_codebooks"]
            or all(v < 0.95 for v in prof["candidates"].values())
        )
    )
    return res.withColumn(
        "ok",
        F.col("ok")
        & F.lit(1 <= rec <= S)
        & F.lit(rec < S)
        & F.lit(bool(prof_ok)),
    ).withColumn("calibrated_nprobe", F.lit(int(rec)))


@declare("q_partitioned_cosine")
def q_partitioned_cosine(spark, sf_dir):
    """Metric parity on the 100x serving tier (the reference's own
    declared TODO, vamana.h:695): cosine build + search on the
    partitioned index — centers, routing, and shard subgraphs all live
    in the normalized space. ``ok`` embeds recall@10 >= 0.8 vs the exact
    cosine oracle (rows-only; the metric reduction itself is
    hash-checked by q_knn_cosine)."""
    from vamana_spark import quality
    from vamana_spark.index.partitioned import PartitionedVamanaIndex

    key = (spark.sparkContext.applicationId, sf_dir, "cosine")
    if key not in _PIDX_CACHE:
        params = VamanaParams(
            dim=64, alpha=1.2, R=32, L=64, ef_search=100, seed=42,
            metric="cosine",
        )
        _PIDX_CACHE[key] = PartitionedVamanaIndex.build(
            spark, _emb(spark, sf_dir), params, num_shards=4
        )
        _PIDX_CACHE[key].shards_df = _PIDX_CACHE[key].shards_df.cache()
    pidx = _PIDX_CACHE[key]
    e = _emb(spark, sf_dir)
    q = _fixed_queries(e, 25)
    return quality.recall_with_ok(
        pidx.search(q, k=10), exact.exact_knn(e, q, k=10, metric="cosine"), k=10
    )


@declare("q_partitioned_exact", _KNN_ORACLE)
def q_partitioned_exact(spark, sf_dir):
    """Exhaustive mode of the 100x serving tier is bit-exact: all-shard
    probe with the brute (BLAS) per-shard kernel forced == the true
    global top-10 (R10 over a partitioned corpus, vamana.h:492-546;
    R14 oracle semantics). One hash-checked row verifies routing
    coverage, shard cover of the corpus, overlap dedupe, and the
    top-k merge together. dist is re-derived declaratively in double
    from the returned (query, point) pairs so float32 kernel noise
    can't break parity with the shared exact-kNN oracle."""
    pidx = _built_partitioned(spark, sf_dir)
    e = _emb(spark, sf_dir)
    q = _fixed_queries(e, 25)
    hits = pidx.search(q, k=10, brute_threshold=1 << 30).select(
        "query_id", "vec_id"
    )
    qe = q.select(F.col("query_id").alias("qid"), F.col("query_vec").alias("_q"))
    pe = e.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("_p"))
    d = (
        hits.join(qe, hits.query_id == qe.qid)
        .join(pe, hits.vec_id == pe.pid)
        .select("query_id", "vec_id", squared_l2("_q", "_p").alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        d.withColumn("rank", F.row_number().over(w))
        .select(
            "query_id",
            "vec_id",
            F.round("dist", 4).alias("dist"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


@declare("q_partitioned_pq_exact", _KNN_ORACLE)
def q_partitioned_pq_exact(spark, sf_dir):
    """The PQ serving pipeline in its EXACT mode: nprobe = all shards
    and rerank depth past every candidate, so the ADC ordering cannot
    drop a true neighbor and the exact re-rank must reproduce the
    exact-kNN oracle bit-for-bit — probe routing, per-shard ADC
    emission, the global shortlist merge, overlap dedupe, and the
    re-rank equi-join are all on the hash path without pinning any
    codebook (the quantization error is made irrelevant, not removed;
    the approximate operating point stays covered by q_partitioned_pq's
    recall ok-col). dist re-derived declaratively in double from the
    returned pairs, mirroring q_partitioned_exact."""
    pidx = _built_partitioned(spark, sf_dir)
    e = _emb(spark, sf_dir)
    q = _fixed_queries(e, 25)
    hits = pidx.search_pq(q, k=10, rerank=1 << 24).select("query_id", "vec_id")
    qe = q.select(F.col("query_id").alias("qid"), F.col("query_vec").alias("_q"))
    pe = e.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("_p"))
    d = (
        hits.join(qe, hits.query_id == qe.qid)
        .join(pe, hits.vec_id == pe.pid)
        .select("query_id", "vec_id", squared_l2("_q", "_p").alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        d.withColumn("rank", F.row_number().over(w))
        .select(
            "query_id",
            "vec_id",
            F.round("dist", 4).alias("dist"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


@declare("q_broadcast_append")
def q_broadcast_append(spark, sf_dir):
    """Broadcast-tier incremental insert (FreshDiskANN insert; the safe
    AddPoint-after-build the reference lacks, vamana.h:98-111 + SURVEY
    §1.4): build on 80% of the vectors, add_points() the held-out 20%,
    report per-query recall@10 over the FULL set with the appended-
    points-findable check folded into ``ok`` (rows-only)."""
    from vamana_spark import quality
    from vamana_spark.index.vamana import VamanaIndex

    key = (spark.sparkContext.applicationId, sf_dir, "bappend")
    if key not in _PIDX_CACHE:
        e = _emb(spark, sf_dir)
        params = VamanaParams(dim=64, alpha=1.2, R=32, L=64, ef_search=100, seed=42)
        base = VamanaIndex.build(spark, e.where(F.col("vec_id") % 5 != 0), params)
        _PIDX_CACHE[key] = base.add_points(e.where(F.col("vec_id") % 5 == 0))
    idx = _PIDX_CACHE[key]
    e = _emb(spark, sf_dir)
    q = _fixed_queries(e, 25)
    res = idx.search(q, k=10)
    n_appended_hits = res.where(F.col("vec_id") % 5 == 0).count()
    return quality.recall_with_ok(
        res, exact.exact_knn(e, q, k=10), k=10
    ).withColumn("ok", F.col("ok") & F.lit(n_appended_hits > 0))


def _appended_pidx(spark, sf_dir):
    """Cached: partitioned index built on 80% of the vectors with the
    held-out 20% add_points()-ed in — shared by the recall gate
    (q_index_append) and the membership oracle (q_append_membership)."""
    from vamana_spark.index.partitioned import PartitionedVamanaIndex, add_points

    key = (spark.sparkContext.applicationId, sf_dir, "append")
    if key not in _PIDX_CACHE:
        e = _emb(spark, sf_dir)
        params = VamanaParams(dim=64, alpha=1.2, R=32, L=64, ef_search=100, seed=42)
        base = PartitionedVamanaIndex.build(
            spark, e.where(F.col("vec_id") % 5 != 0), params, num_shards=4
        )
        _PIDX_CACHE[key] = add_points(base, e.where(F.col("vec_id") % 5 == 0))
        _PIDX_CACHE[key].shards_df = _PIDX_CACHE[key].shards_df.cache()
    return _PIDX_CACHE[key]


def _deleted_idx(spark, sf_dir):
    """Cached: broadcast-tier index built on the full set with 10% of
    the ids delete_points()-ed — shared by the recall gate
    (q_index_delete) and the membership oracle (q_delete_membership)."""
    key = (spark.sparkContext.applicationId, sf_dir, "delete")
    if key not in _INDEX_CACHE:
        from vamana_spark.index import VamanaIndex

        e = _emb(spark, sf_dir)
        params = VamanaParams(dim=64, alpha=1.2, R=32, L=64, ef_search=100, seed=42)
        idx = VamanaIndex.build(spark, e, params)
        _INDEX_CACHE[key] = idx.delete_points(
            e.where(F.col("vec_id") % 10 == 3).select("vec_id")
        )
    return _INDEX_CACHE[key]


@declare(
    "q_index_append",
    f"""
    WITH p AS (
      SELECT vec_id, ordinal
      FROM read_parquet('{_FIX01}/appended/points/*.parquet')
    ),
    g AS (
      SELECT ordinal, len(neighbors) AS deg
      FROM read_parquet('{_FIX01}/appended/graph/*.parquet')
    ),
    inv AS (
      SELECT (SELECT max(deg) FROM g) <= 32
             AND (SELECT count(DISTINCT vec_id) FROM p)
                 = (SELECT count(*) FROM embeddings) AS ok
    )
    SELECT p.vec_id, p.ordinal, CAST(g.deg AS INT) AS out_degree,
           (p.vec_id % 5 = 0) AS is_appended, inv.ok AS ok
    FROM p JOIN g ON p.ordinal = g.ordinal, inv
    ORDER BY p.ordinal
    """,
)
def q_index_append(spark, sf_dir):
    """Incremental maintenance (reference AddPoint-after-build,
    vamana.h:98-135 made safe), asserted on the committed appended
    fixture: built on 80% of the vectors, add_points() of the held-out
    20%, saved once (tools/build_index_fixtures.py). The output is the
    stored (vec_id, ordinal, degree) table — hash-checked against the
    fixture parquet by the oracle, whose ``ok`` verifies the degree
    bound and lossless membership in SQL. The Spark ``ok`` is strictly
    stronger: it additionally requires appended points to be FINDABLE
    (beam search returns >=1 held-out point) and recall@10 >= 0.8 over
    the full set — a navigability failure flips it false and
    hash-mismatches. Partitioned-tier append stays covered by
    q_append_membership + tests."""
    from vamana_spark import quality

    idx = _fixture_index(spark, sf_dir, "appended")
    e = _emb(spark, sf_dir)
    q = _fixed_queries(e, 25)
    res = idx.search(q, k=10)
    n_appended_hits = res.where(F.col("vec_id") % 5 == 0).count()
    rec_ok = quality.avg_recall(res, exact.exact_knn(e, q, k=10), k=10) >= 0.8
    stored = idx.points_df.join(idx.graph_df, "ordinal").select(
        "vec_id", "ordinal", F.size("neighbors").alias("out_degree")
    )
    row = stored.agg(
        F.max("out_degree").alias("mx"),
        F.countDistinct("vec_id").alias("nd"),
    ).first()
    ok = bool(
        n_appended_hits > 0
        and rec_ok
        and row["mx"] <= int(idx.params.R)
        and row["nd"] == e.count()
    )
    return (
        stored.withColumn("is_appended", F.col("vec_id") % 5 == 0)
        .withColumn("ok", F.lit(ok))
        .orderBy("ordinal")
    )


@declare(
    "q_index_delete",
    f"""
    WITH p AS (
      SELECT vec_id, ordinal
      FROM read_parquet('{_FIX01}/deleted/points/*.parquet')
    ),
    g AS (
      SELECT ordinal, neighbors, len(neighbors) AS deg
      FROM read_parquet('{_FIX01}/deleted/graph/*.parquet')
    ),
    dangling AS (
      SELECT count(*) AS n FROM (
        SELECT unnest(neighbors) AS dst FROM g
      ) e LEFT JOIN p ON e.dst = p.ordinal WHERE p.ordinal IS NULL
    ),
    inv AS (
      SELECT (SELECT max(deg) FROM g) <= 32
             AND (SELECT count(*) FROM p WHERE vec_id % 10 = 3) = 0
             AND (SELECT n FROM dangling) = 0
             AND (SELECT count(DISTINCT vec_id) FROM p)
                 = (SELECT count(*) FROM embeddings WHERE vec_id % 10 <> 3)
             AS ok
    )
    SELECT p.vec_id, p.ordinal, CAST(g.deg AS INT) AS out_degree, inv.ok AS ok
    FROM p JOIN g ON p.ordinal = g.ordinal, inv
    ORDER BY p.ordinal
    """,
)
def q_index_delete(spark, sf_dir):
    """Incremental maintenance, delete side (FreshDiskANN consolidate),
    asserted on the committed deleted fixture: built on the full set,
    delete_points() of vec_id % 10 == 3, saved once. Output is the
    stored (vec_id, ordinal, degree) table, hash-checked against the
    fixture parquet; the oracle ``ok`` verifies in SQL that no deleted
    id survives, no edge dangles to a removed ordinal, degrees respect
    R, and the survivor set matches the source exactly. The Spark
    ``ok`` additionally requires the repaired graph to NAVIGATE —
    search must return zero deleted points and recall@10 >= 0.8 vs
    exact kNN over the survivors."""
    from vamana_spark import quality

    idx = _fixture_index(spark, sf_dir, "deleted")
    e = _emb(spark, sf_dir)
    q = _fixed_queries(e, 25)
    remaining = e.where(~(F.col("vec_id") % 10 == 3))
    res = idx.search(q, k=10)
    n_deleted_hits = res.where(F.col("vec_id") % 10 == 3).count()
    rec_ok = (
        quality.avg_recall(res, exact.exact_knn(remaining, q, k=10), k=10) >= 0.8
    )
    stored = idx.points_df.join(idx.graph_df, "ordinal").select(
        "vec_id", "ordinal", F.size("neighbors").alias("out_degree")
    )
    dangling = (
        idx.graph_df.select(F.explode("neighbors").alias("dst"))
        .join(
            idx.points_df.select("ordinal"),
            F.col("dst") == F.col("ordinal"),
            "left_anti",
        )
        .count()
    )
    row = stored.agg(
        F.max("out_degree").alias("mx"),
        F.countDistinct("vec_id").alias("nd"),
        F.sum((F.col("vec_id") % 10 == 3).cast("int")).alias("bad"),
    ).first()
    ok = bool(
        n_deleted_hits == 0
        and rec_ok
        and dangling == 0
        and row["mx"] <= int(idx.params.R)
        and row["bad"] == 0
        and row["nd"] == remaining.count()
    )
    return stored.withColumn("ok", F.lit(ok)).orderBy("ordinal")


@declare(
    "q_append_membership",
    """
    SELECT vec_id, round(CAST(embedding[1] AS DOUBLE), 6) AS e0
    FROM embeddings
    """,
)
def q_append_membership(spark, sf_dir):
    """The append DATA path is lossless: after build-on-80% +
    add_points() of the held-out 20%, the distinct stored
    (vec_id, first component) pairs equal the source table bit-for-bit
    (float32→double cast is exact on both engines; overlap copies
    collapse under distinct). Graph navigability after the append is
    separately gated by q_index_append — this row pins storage
    integrity with a hash oracle."""
    pidx = _appended_pidx(spark, sf_dir)
    return pidx.shards_df.select(
        "vec_id",
        F.round(F.col("embedding").getItem(0).cast("double"), 6).alias("e0"),
    ).distinct()


@declare(
    "q_delete_membership",
    """
    SELECT vec_id, round(CAST(embedding[1] AS DOUBLE), 6) AS e0
    FROM embeddings WHERE vec_id % 10 <> 3
    """,
)
def q_delete_membership(spark, sf_dir):
    """Delete really removes rows from storage — and ONLY those rows:
    the surviving (vec_id, first component) set equals the source
    minus the deleted ids, hash-matched. Graph repair quality is
    separately gated by q_index_delete."""
    idx2 = _deleted_idx(spark, sf_dir)
    return idx2.points_df.select(
        "vec_id",
        F.round(F.col("embedding").getItem(0).cast("double"), 6).alias("e0"),
    )


@declare(
    "q_knn_join_topk",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE label = 0),
    d AS (
      SELECT q.vec_id AS query_id, p.vec_id,
             {_sq_l2_sql('q.embedding', 'p.embedding')} AS dist
      FROM q, embeddings p WHERE p.vec_id <> q.vec_id
    ),
    r AS (
      SELECT query_id, vec_id, dist,
             row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
      FROM d
    )
    SELECT query_id, vec_id, round(dist, 4) AS dist, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 3
    """,
)
def q_knn_join_topk(spark, sf_dir):
    """X3 exact variant (SURVEY §2c): top-3 neighbors for every point
    with a label filter — the kNN self-join."""
    out = similarity.knn_self_join(
        _emb(spark, sf_dir), k=3, where=F.col("label") == 0, round_digits=4
    )
    return out.select("query_id", "vec_id", "dist", "rank")


_IP_SQL = (
    "-list_sum(list_transform(list_zip(q.embedding, p.embedding),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
)


@declare(
    "q_knn_ip",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
    d AS (
      SELECT q.query_id, p.vec_id, {_IP_SQL} AS dist
      FROM q, embeddings p
    ),
    r AS (
      SELECT query_id, vec_id, dist,
             row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
      FROM d
    )
    SELECT query_id, vec_id, {_z_sql('round(dist, 4)')} AS dist, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5
    """,
)
def q_knn_ip(spark, sf_dir):
    """Inner-product top-k (the reference's declared TODO, readme.md:76 /
    vamana.h:695): negated dot product so smaller = closer."""
    e = _emb(spark, sf_dir)
    out = exact.exact_knn(e, _fixed_queries(e, 50), k=5, metric="ip", round_digits=4)
    return out.select("query_id", "vec_id", "dist", "rank")


@declare(
    "q_graph_reachability",
    f"""
    WITH RECURSIVE edges AS (
      SELECT ordinal AS src, unnest(neighbors) AS dst
      FROM read_parquet('{_FIX01}/base/graph/*.parquet')
    ),
    r(node) AS (
      SELECT CAST({_FIX01_MEDOID} AS BIGINT)
      UNION
      SELECT e.dst FROM edges e JOIN r ON e.src = r.node
    ),
    tot AS (
      SELECT count(*) AS total
      FROM read_parquet('{_FIX01}/base/graph/*.parquet')
    )
    SELECT (SELECT count(*) FROM r) AS reachable,
           total,
           round((SELECT count(*) FROM r) * 1.0 / total, 4) AS reachable_fraction
    FROM tot
    """,
)
def q_graph_reachability(spark, sf_dir):
    """R18-class invariant as a first-class operator: BFS reachability
    of the committed fixture graph from its medoid. A genuine
    dual-implementation check — Spark runs distributed frontier BFS
    (O(log n) rounds of join+anti-join), the oracle a recursive CTE
    over the same fixture parquet; counts must agree exactly."""
    from vamana_spark.index.diagnostics import reachability

    idx = _fixture_index(spark, sf_dir, "base")
    rep = reachability(idx.graph_df, int(idx.params.medoid or 0))
    return spark.createDataFrame(
        [(rep["reachable"], rep["total"],
          round(rep["reachable"] / rep["total"], 4) if rep["total"] else 0.0)],
        "reachable long, total long, reachable_fraction double",
    )


@declare(
    "q_pii_scrub",
    r"""
    SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        text || ' contact a' || CAST(doc_id AS VARCHAR)
             || '@ex.com ip 10.0.' || CAST(doc_id % 200 AS VARCHAR)
             || '.7 ssn 123-45-6789 tel +1 (415) 555-0199',
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\d{3}-\d{2}-\d{4}', '<SSN>', 'g'),
        '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
        '\+?[0-9][0-9()\s.-]{6,}[0-9]', '<PHONE>', 'g') AS text
    FROM documents
    """,
)
def q_pii_scrub(spark, sf_dir):
    """PII scrub (training-data pre-processing pass): emails / SSNs /
    IPv4s / phone-like digit runs replaced by typed tokens via chained
    regexp_replace — map-only, codegen'd, zero shuffles. The query
    appends deterministic doc_id-derived PII to each document so the
    scrub is exercised on every row; patterns are restricted to
    Java-regex/RE2-identical syntax so DuckDB replicates it verbatim."""
    from vamana_spark.operators import text as T

    d = _docs(spark, sf_dir)
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact a"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.com ip 10.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".7 ssn 123-45-6789 tel +1 (415) 555-0199"),
        ).alias("text"),
    )
    return T.pii_scrub(aug).select("doc_id", "text")


@declare(
    "q_gopher_filter",
    r"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN text || ' and that have with of to be'
                  ELSE text END AS text
      FROM documents
    ), t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws,
             list_transform(string_split(text, chr(10)), x -> trim(x)) AS lines
      FROM base
    ), m AS (
      SELECT doc_id,
             len(ws) AS n_words,
             CAST(greatest(len(ws), 1) AS DOUBLE) AS dn,
             CAST(greatest(len(lines), 1) AS DOUBLE) AS nl,
             coalesce(list_sum(list_transform(ws, x -> CAST(length(x) AS DOUBLE))), 0.0) AS sumlen,
             CAST(len(regexp_extract_all(text, '#')) AS DOUBLE) AS nhash,
             CAST(len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE) AS nell3,
             CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) AS nalpha,
             CAST(len(list_filter(lines, x -> regexp_matches(x, '^[-*•]'))) AS DOUBLE) AS nbullet,
             CAST(len(list_filter(lines, x -> regexp_matches(x, '\.\.\.$'))) AS DOUBLE) AS nell,
             len(list_intersect(list_transform(ws, x -> lower(x)),
                 ['the','be','to','of','and','that','have','with'])) AS stop_hits
      FROM t
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(sumlen / dn, 4) AS mean_word_len,
           round(nhash / dn, 4) AS hash_word_ratio,
           round(nell3 / dn, 4) AS ellipsis_word_ratio,
           round(nalpha / dn, 4) AS alpha_word_frac,
           round(nbullet / nl, 4) AS bullet_line_frac,
           round(nell / nl, 4) AS ellipsis_line_frac,
           CAST(stop_hits AS BIGINT) AS stop_hits,
           CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                      AND (sumlen / dn) BETWEEN 3.0 AND 10.0
                      AND nhash / dn < 0.1
                      AND nell3 / dn < 0.1
                      AND nbullet / nl < 0.9
                      AND nell / nl < 0.3
                      AND nalpha / dn > 0.8
                      AND stop_hits >= 2
                 THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
    FROM m
    """,
)
def q_gopher_filter(spark, sf_dir):
    """Published Gopher document-quality rules (Rae et al. 2021 A1) over
    the corpus; a third of the docs get the required-stopword suffix so
    both branches of the combined verdict are exercised."""
    d = _docs(spark, sf_dir)
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" and that have with of to be")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return text.gopher_quality_filter(aug).withColumn(
        "gopher_pass", F.col("gopher_pass").cast("long")
    )


@declare(
    "q_c4_clean",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text || '.' || chr(10) || 'too short' || chr(10) ||
             'This line mentions javascript and should be dropped.' || chr(10) ||
             CASE WHEN doc_id % 5 = 0
                  THEN 'Lorem ipsum dolor sit amet { body }.'
                  ELSE 'It ends with a clean terminal sentence!' END AS text
      FROM documents
    ), t AS (
      SELECT doc_id, text,
             list_transform(string_split(text, chr(10)), x -> trim(x)) AS lines
      FROM aug
    ), k AS (
      SELECT doc_id, text, lines,
             list_filter(lines, l -> regexp_matches(l, '[.!?"]$')
               AND len(list_filter(string_split_regex(l, '\s+'), w -> w <> '')) >= 3
               AND NOT contains(lower(l), 'javascript')) AS kept
      FROM t
    ), s AS (
      SELECT doc_id, text, lines, kept,
             array_to_string(kept, chr(10)) AS clean_text,
             len(list_filter(string_split_regex(array_to_string(kept, chr(10)), '[.!?]'),
                 x -> trim(x) <> '')) AS n_sent
      FROM k
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CAST(n_sent AS BIGINT) AS n_sentences,
           CAST(CASE WHEN n_sent >= 2 AND NOT contains(lower(text), 'lorem ipsum')
                      AND NOT contains(text, '{') THEN 1 ELSE 0 END AS BIGINT) AS doc_pass,
           clean_text
    FROM s
    """,
)
def q_c4_clean(spark, sf_dir):
    """C4-style line filtering over deterministically augmented docs:
    each doc gains a terminal-punct line, a too-short line, a javascript
    line, and (every 5th doc) a lorem-ipsum/brace line — every rule
    branch fires."""
    d = _docs(spark, sf_dir)
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(".\ntoo short\nThis line mentions javascript and should be dropped.\n"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("Lorem ipsum dolor sit amet { body }."),
            ).otherwise(F.lit("It ends with a clean terminal sentence!")),
        ).alias("text"),
    )
    return text.c4_clean(aug, min_sentences=2).withColumn(
        "doc_pass", F.col("doc_pass").cast("long")
    )


@declare(
    "q_pack_documents",
    r"""
    WITH t AS (
      SELECT doc_id,
             CAST((('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 8) AS INT) AS bucket,
             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ), w AS (
      SELECT doc_id, bucket, n_tokens,
             sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS tok_offset
      FROM t
    )
    SELECT doc_id, bucket, n_tokens,
           CAST(tok_offset AS BIGINT) AS tok_offset,
           CAST(tok_offset // 128 AS BIGINT) AS seq_bin,
           CAST(tok_offset % 128 AS BIGINT) AS begin_pos,
           CAST(CASE WHEN n_tokens > 0
                      AND (tok_offset + n_tokens - 1) // 128 <> tok_offset // 128
                THEN 1 ELSE 0 END AS BIGINT) AS straddles
    FROM w
    """,
)
def q_pack_documents(spark, sf_dir):
    """Concatenate-and-cut sequence packing: per-bucket prefix-sum token
    offsets, 128-token training sequences, straddle flags."""
    return text.pack_documents(
        _docs(spark, sf_dir), budget=128, n_buckets=8
    ).withColumn("straddles", F.col("straddles").cast("long"))


@declare("q_chunk_embed_search")
def q_chunk_embed_search(spark, sf_dir):
    """The full platform loop as ONE gated query: chunk documents
    (chunk_tokens) -> deterministic hashing-trick embeddings
    (hash_embed, the model-UDF slot) -> cosine Vamana index -> batch
    serve. ``ok`` folds two checks per query row: recall@5 >= 0.8 vs
    exact cosine kNN over the same chunk embeddings, and the
    self-retrieval sanity that a chunk queries back its own vector at
    rank 1 for >= 90% of queries (identical vector -> cosine distance
    0). Rows-only: the graph build is randomized."""
    from vamana_spark import quality
    from vamana_spark.index.vamana import VamanaIndex

    key = (spark.sparkContext.applicationId, sf_dir, "chunk_embed")
    if key not in _PIDX_CACHE:
        d = _docs(spark, sf_dir)
        chunks = text.chunk_tokens(d, max_len=32, stride=32).select(
            # 1e6 chunk namespace per doc: collision would need a 32M-token
            # document at this max_len/stride
            (F.col("doc_id") * 1_000_000 + F.col("chunk_id")).alias("cid"),
            "chunk_text",
        )
        emb = similarity.hash_embed(
            chunks, dim=32, text_col="chunk_text", id_col="cid"
        ).withColumnRenamed("cid", "vec_id").cache()
        params = VamanaParams(
            dim=32, alpha=1.2, R=24, L=48, ef_search=64, seed=42,
            metric="cosine",
        )
        _PIDX_CACHE[key] = (VamanaIndex.build(spark, emb, params), emb)
    idx, emb = _PIDX_CACHE[key]
    # first chunk (chunk_id 0) of every 20th document
    q = emb.where(F.col("vec_id") % 20_000_000 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = idx.search(q, k=5).cache()  # consumed twice: self-hits + recall
    truth = exact.exact_knn(emb, q, k=5, metric="cosine")
    self_hits = res.where(
        (F.col("rank") == 1) & (F.col("vec_id") == F.col("query_id"))
    ).count()
    n_q = q.count()
    return quality.recall_with_ok(
        res.select("query_id", "vec_id", "dist", "rank"), truth, k=5
    ).withColumn("ok", F.col("ok") & F.lit(self_hits >= int(0.9 * n_q)))


@declare(
    "q_frequent_tokens",
    r"""
    WITH toks AS (
      SELECT u.token
      FROM (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
            FROM documents), UNNEST(t) AS u(token)
    ), tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks)
    SELECT token, CAST(count(*) AS BIGINT) AS freq
    FROM toks, tot
    GROUP BY token, n
    HAVING count(*) > 0.005 * n
    ORDER BY freq DESC, token
    """,
)
def q_frequent_tokens(spark, sf_dir):
    """Corpus heavy hitters: freqItems sketch candidates + exact recount
    — the output is the deterministic true set of tokens above 0.5%
    stream frequency, so the oracle is a plain exact HAVING."""
    return text.frequent_tokens(_docs(spark, sf_dir), support=0.005)


@declare(
    "q_dedup_lines",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text || chr(10) || 'SUBSCRIBE TO OUR NEWSLETTER TODAY' || chr(10)
                  || 'boilerplate group ' || CAST(doc_id % 7 AS VARCHAR)
                  || chr(10) || 'unique tail ' || CAST(doc_id AS VARCHAR)
                 AS text
      FROM documents
    ), l AS (
      SELECT doc_id, g AS pos, ls[g] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls,
                   unnest(generate_series(1, len(ls))) AS g
            FROM aug)
    ), firsts AS (
      SELECT line, min({'d': doc_id, 'p': pos}) AS w
      FROM l WHERE length(line) >= 1 GROUP BY line
    ), kept AS (
      SELECT w.d AS doc_id, w.p AS pos, line FROM firsts
      UNION ALL
      SELECT doc_id, pos, line FROM l WHERE length(line) < 1
    ), tot AS (
      SELECT doc_id, CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
      FROM aug
    ), reb AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(line, chr(10) ORDER BY pos) AS text
      FROM kept GROUP BY doc_id
    )
    SELECT tot.doc_id, n_lines,
           coalesce(n_kept, 0) AS n_kept,
           coalesce(text, '') AS text
    FROM tot LEFT JOIN reb USING (doc_id)
    """,
)
def q_dedup_lines(spark, sf_dir):
    """Corpus-level exact line dedup (C4/RefinedWeb pass) over docs
    augmented with a global boilerplate line, a per-group (doc_id % 7)
    repeated line, and a unique tail — first occurrence survives, later
    copies drop, unique lines always survive."""
    from vamana_spark.operators import dedup as DD

    d = _docs(spark, sf_dir)
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nSUBSCRIBE TO OUR NEWSLETTER TODAY\nboilerplate group "),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("\nunique tail "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return DD.dedup_lines(aug)


@declare(
    "q_mixture_sample",
    r"""
    SELECT doc_id, source
    FROM documents
    WHERE substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8) <
          CASE WHEN source = 'src0' THEN 'g'
               WHEN source = 'src1' THEN 'a6666666'
               WHEN source = 'src2' THEN '4ccccccc'
               ELSE '19999999' END
    """,
)
def q_mixture_sample(spark, sf_dir):
    """Source-reweighting mixture (keep src0 fully, src1 at 65%, src2 at
    30%, everything else at 10%) via the engine-portable md5 draw —
    zero-shuffle projection + filter."""
    from vamana_spark.operators import sampling

    return sampling.mixture_sample(
        _docs(spark, sf_dir),
        {"src0": 1.0, "src1": 0.65, "src2": 0.3},
        default_fraction=0.1,
    ).select("doc_id", "source")


@declare(
    "q_shuffle_export",
    r"""
    WITH h AS (
      SELECT doc_id,
             md5('42:' || CAST(doc_id AS VARCHAR)) AS hk
      FROM documents
    ), s AS (
      SELECT doc_id, hk,
             CAST(CAST(('0x' || substr(hk, 1, 8)) AS BIGINT) % 8 AS INT) AS shard
      FROM h
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY hk, doc_id) - 1
                AS BIGINT) AS pos
    FROM s
    """,
)
def q_shuffle_export(spark, sf_dir):
    """Deterministic training-order export: shard assignment + intra-
    shard position, both pure functions of (seed, id) via the portable
    md5 draw — reproducible across engines and partition layouts. One
    shard-keyed shuffle + per-shard window; never a global sort."""
    from vamana_spark.operators import sampling

    return sampling.shuffle_export(_docs(spark, sf_dir), num_shards=8).select(
        "doc_id", "shard", "pos"
    )


@declare(
    "q_temperature_mixture",
    r"""
    WITH counts AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY source
    ), rates AS (
      SELECT source, pow(n, -0.5) AS r FROM counts
    ), thr AS (
      SELECT source,
             CASE WHEN CAST(floor(r / (SELECT max(r) FROM rates) * 4294967296.0) AS BIGINT) >= 4294967296
                  THEN 'g'
                  ELSE lpad(lower(to_hex(CAST(floor(r / (SELECT max(r) FROM rates) * 4294967296.0) AS BIGINT))), 8, '0')
             END AS t
      FROM rates
    )
    SELECT d.doc_id, d.source FROM documents d JOIN thr USING (source)
    WHERE substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8) < t
    """,
)
def q_temperature_mixture(spark, sf_dir):
    """Temperature-scaled source rebalancing at τ=0.5 (sample group i
    ∝ n_i^τ — the multilingual-corpus recipe): keep-rates derived from
    observed group sizes, applied through the engine-portable md5
    draw. Fully declarative — #sources-row threshold table broadcast
    onto a scan-filter; the corpus never shuffles."""
    from vamana_spark.operators import sampling

    return sampling.temperature_mixture(
        _docs(spark, sf_dir), temperature=0.5
    ).select("doc_id", "source")


@declare(
    "q_dup_spans",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS pos, toks
      FROM t
    ), sh AS (
      SELECT doc_id, pos, array_to_string(toks[pos:pos+4], ' ') AS sh FROM s
    ), dup AS (
      SELECT sh FROM sh GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
    ), hits AS (
      SELECT sh.doc_id, sh.pos FROM sh JOIN dup USING (sh)
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
                  THEN 0 ELSE 1 END AS brk
      FROM hits
    ), grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM isl
    )
    SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 4 AS BIGINT) AS span_end,
           CAST(max(pos) + 4 - min(pos) + 1 AS BIGINT) AS n_span_tokens
    FROM grp GROUP BY doc_id, g
    """,
)
def q_dup_spans(spark, sf_dir):
    """Exact duplicated-span inventory (substring-dedup class, Lee et
    al. 2022): maximal token spans covered by 5-gram shingles shared by
    >= 2 documents — the span-level pass that catches boilerplate blobs
    doc-level dedup can't."""
    return dedup.duplicate_spans(_docs(spark, sf_dir), k=5, min_docs=2)


@declare(
    "q_group_centroids",
    r"""
    SELECT label, CAST(i AS BIGINT) AS i,
           round(avg(CAST(c AS DOUBLE)), 6) AS centroid,
           CAST(count(*) AS BIGINT) AS n_members
    FROM (SELECT label, unnest(embedding) AS c,
                 generate_subscripts(embedding, 1) - 1 AS i
          FROM embeddings)
    GROUP BY label, i
    """,
)
def q_group_centroids(spark, sf_dir):
    """Per-label mean embedding (class prototypes), components exploded
    — partial-agg bounded shuffle regardless of input size."""
    from vamana_spark.operators.similarity import group_centroids

    return group_centroids(_emb(spark, sf_dir))


@declare(
    "q_nearest_centroid",
    f"""
    WITH c AS (
      SELECT label, i, round(avg(CAST(comp AS DOUBLE)), 6) AS centroid
      FROM (SELECT label, unnest(embedding) AS comp,
                   generate_subscripts(embedding, 1) - 1 AS i
            FROM embeddings)
      GROUP BY label, i
    ), cv AS (
      SELECT CAST(label AS BIGINT) AS pred_label,
             list(centroid ORDER BY i) AS cvec
      FROM c GROUP BY label
    ), d AS (
      SELECT e.vec_id, cv.pred_label,
             {{dist}} AS dist
      FROM embeddings e, cv
    ), r AS (
      SELECT vec_id, pred_label, dist,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, pred_label) AS rn
      FROM d
    )
    SELECT vec_id, pred_label, round(dist, 4) AS dist FROM r WHERE rn = 1
    """.format(dist=_sq_l2_sql("e.embedding", "cv.cvec")),
)
def q_nearest_centroid(spark, sf_dir):
    """Nearest-class-mean assignment (Rocchio / pseudo-labeling):
    every vector classified against the 10 class prototypes — exact
    1-NN against a label-cardinality-sized broadcast side. pred_label
    keeps the label's own type (int here → cast long for the oracle's
    BIGINT projection)."""
    from vamana_spark.operators.similarity import nearest_centroid_classify

    return nearest_centroid_classify(_emb(spark, sf_dir)).withColumn(
        "pred_label", F.col("pred_label").cast("long")
    )


@declare(
    "q_centroid_outliers",
    f"""
    WITH c AS (
      SELECT label, i, round(avg(CAST(comp AS DOUBLE)), 6) AS centroid
      FROM (SELECT label, unnest(embedding) AS comp,
                   generate_subscripts(embedding, 1) - 1 AS i
            FROM embeddings)
      GROUP BY label, i
    ), cv AS (
      SELECT label, list(centroid ORDER BY i) AS cvec FROM c GROUP BY label
    ), d AS (
      SELECT e.vec_id, e.label,
             sqrt({{dist}}) AS dist
      FROM embeddings e JOIN cv USING (label)
    ), s AS (
      SELECT label, avg(dist) AS mu,
             coalesce(stddev_samp(dist), 0.0) AS sd
      FROM d GROUP BY label
    )
    SELECT d.vec_id, d.label, round(d.dist, 4) AS dist,
           round(CASE WHEN sd > 0 THEN (d.dist - mu) / sd ELSE 0.0 END, 4) AS z,
           CASE WHEN sd > 0 AND (d.dist - mu) / sd > 3.0
                THEN true ELSE false END AS outlier
    FROM d JOIN s USING (label)
    """.format(dist=_sq_l2_sql("e.embedding", "cv.cvec")),
)
def q_centroid_outliers(spark, sf_dir):
    """Embedding-quality pass: per-label distance-to-centroid z-score,
    outliers flagged past 3 sigma — drops mis-embedded rows before they
    poison dedup thresholds and ANN training sets."""
    from vamana_spark.operators.similarity import centroid_outliers

    return centroid_outliers(_emb(spark, sf_dir))


@declare(
    "q_random_projection",
    r"""
    WITH m AS (
      SELECT j,
             [CASE WHEN CAST(('0x' || substring(md5(concat_ws(':', 7, j, i)), 1, 1))
                        AS BIGINT) >= 8
                   THEN 1.0 ELSE -1.0 END
              for i in range(0, 64)] AS signs
      FROM (SELECT unnest(generate_series(0, 15)) AS j)
    )
    SELECT e.vec_id, CAST(m.j AS BIGINT) AS j,
           list_sum(list_transform(list_zip(e.embedding, m.signs),
                    x -> CAST(x[1] AS DOUBLE) * x[2])) / sqrt(16.0) AS comp
    FROM embeddings e CROSS JOIN m
    """,
)
def q_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss sign projection of the embeddings to 16
    dims — components exploded so the gate hashes exact values; the
    Catalyst-fold path is used because its sequential sum matches SQL
    list_sum order bit-for-bit (the Arrow matmul path is the hot-path
    variant, same values up to float64 summation order)."""
    from vamana_spark.operators.similarity import random_projection

    proj = random_projection(
        _emb(spark, sf_dir), out_dim=16, seed=7, arrow=False
    )
    return proj.select(
        "vec_id", F.posexplode("projected").alias("j", "comp")
    ).select("vec_id", F.col("j").cast("long").alias("j"), "comp")


@declare(
    "q_bigram_logprob",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
      FROM documents
    ), b AS (
      SELECT doc_id, tk,
             unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS i
      FROM t
    ), bg AS (
      SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bigram, tk[i] AS w1 FROM b
    ), bc AS (
      SELECT bigram, count(*) AS bfreq FROM bg GROUP BY bigram
    ), uc AS (
      SELECT w1, count(*) AS ufreq FROM bg GROUP BY w1
    ), voc AS (
      SELECT CAST(count(DISTINCT token) AS DOUBLE) AS vocab
      FROM (SELECT unnest(tk) AS token FROM t)
    )
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((bfreq + 0.5) / (ufreq + 0.5 * vocab))), 6)
               AS avg_bigram_logprob,
           round(exp(-avg(ln((bfreq + 0.5) / (ufreq + 0.5 * vocab)))), 4)
               AS bigram_ppl
    FROM bg JOIN bc USING (bigram) JOIN uc USING (w1), voc
    GROUP BY bg.doc_id
    """,
)
def q_bigram_logprob(spark, sf_dir):
    """Bigram-LM perplexity filter (CCNet/KenLM class): mean smoothed
    conditional log-probability + perplexity per doc under the corpus's
    own bigram model."""
    return text.bigram_logprob_score(_docs(spark, sf_dir))


@declare(
    "q_cut_spans",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS pos, toks
      FROM t
    ), sh AS (
      SELECT doc_id, pos, array_to_string(toks[pos:pos+4], ' ') AS sh FROM s
    ), dup AS (
      SELECT sh FROM sh GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
    ), hits AS (
      SELECT sh.doc_id, sh.pos FROM sh JOIN dup USING (sh)
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
                  THEN 0 ELSE 1 END AS brk
      FROM hits
    ), grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM isl
    ), spans AS (
      SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end
      FROM grp GROUP BY doc_id, g
    ), per_doc AS (
      SELECT doc_id, list({'s': span_start, 'e': span_end}) AS sp
      FROM spans GROUP BY doc_id
    ), cut AS (
      SELECT t.doc_id, t.toks,
             CASE WHEN p.sp IS NULL THEN t.toks
                  ELSE list_filter(t.toks, (x, i) ->
                         NOT list_bool_or(list_transform(p.sp,
                               s -> i >= s.s AND i <= s.e)))
             END AS kept
      FROM t LEFT JOIN per_doc p USING (doc_id)
    )
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(kept) AS BIGINT) AS n_kept_tokens,
           -- DuckDB's array_to_string([]) is NULL; Spark's array_join is ''
           coalesce(array_to_string(kept, ' '), '') AS text
    FROM cut
    """,
)
def q_cut_spans(spark, sf_dir):
    """Span-level dedup applied: rebuild every document with its
    duplicated 5-gram spans (q_dup_spans) cut out — token counts before
    and after plus the surviving text."""
    return dedup.cut_duplicate_spans(_docs(spark, sf_dir), k=5, min_docs=2)


@declare(
    "q_semantic_dedup",
    f"""
    WITH aug AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(embedding, x -> x * CAST(1.5 AS FLOAT))
      FROM embeddings WHERE vec_id % 7 = 0
    ),
    c AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             (1.0 - ({_COS_AB_SQL})) AS sim
      FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, round(sim, 4) AS cosine_sim
    FROM c WHERE round(sim, 4) >= 0.9
    ORDER BY a_id, b_id
    """,
)
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (cluster-blocked cosine, Abbas et
    al. 2023) over the embeddings table augmented with planted exact
    duplicates (every 7th vector re-inserted scaled x1.5 under
    id+100000 — unit-normalizes to an identical point, so it MUST
    drop). Emitted as the exact-cosine-VERIFIED pair projection
    (dup_of, dropped_id, sim) hash-matched against the full-pairs
    DuckDB oracle — the q_minhash_pairs recipe; the k-means blocking
    stays engine-internal. Equality holds on this corpus because (a)
    the sf0.01 embeddings contain no natural pair at cosine >= 0.9
    (the oracle itself proves it: only planted pairs come back), and
    (b) exact copies normalize to identical unit vectors, which k-means
    co-locates by construction — so every oracle pair is also a
    blocked pair, and each duplicate group has exactly 2 members, so
    the greedy one-pair-per-dropped-row output IS the full pair set."""
    from vamana_spark.operators import dedup as DD

    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    copies = e.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    aug = e.unionByName(copies)
    res = DD.semantic_dedup(aug, threshold=0.9, num_clusters=8, seed=42)
    return (
        res.where(~F.col("keep"))
        .select(
            F.col("dup_of").alias("a_id"),
            F.col("vec_id").alias("b_id"),
            F.round("max_sim", 4).alias("cosine_sim"),
        )
        .orderBy("a_id", "b_id")
    )


@declare(
    "q_semantic_multiprobe",
    f"""
    WITH aug AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(embedding, x -> x * CAST(1.5 AS FLOAT))
      FROM embeddings WHERE vec_id % 7 = 0
    ),
    c AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             (1.0 - ({_COS_AB_SQL})) AS sim
      FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, round(sim, 4) AS cosine_sim
    FROM c WHERE round(sim, 4) >= 0.9
    ORDER BY a_id, b_id
    """,
)
def q_semantic_multiprobe(spark, sf_dir):
    """Semantic dedup with multi-probe (top-2
    cell) assignment — the boundary-straddle recovery knob — on the
    same planted-copy corpus and against the same full-pairs DuckDB
    oracle as q_semantic_dedup. Equality is the operator's safety
    contract: multi-probe only ADDS exact-cosine-verified pairs, and on
    this corpus single-probe already captures every oracle pair (exact
    copies co-locate under k-means), so probes=2 must emit the
    IDENTICAL pair set — any spurious or lost pair is a hash miss. The
    straddle-RECOVERY direction (pairs single-probe misses) is gated by
    tests/test_operators.py::
    test_semantic_dedup_multiprobe_recovers_boundary_straddle and the
    10M Zipf corpus."""
    from vamana_spark.operators import dedup as DD

    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    copies = e.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    aug = e.unionByName(copies)
    res = DD.semantic_dedup(
        aug, threshold=0.9, num_clusters=8, seed=42, probes=2
    )
    return (
        res.where(~F.col("keep"))
        .select(
            F.col("dup_of").alias("a_id"),
            F.col("vec_id").alias("b_id"),
            F.round("max_sim", 4).alias("cosine_sim"),
        )
        .orderBy("a_id", "b_id")
    )


def _probe_recovery_aug(spark, sf_dir):
    """Aug corpus for q_semantic_probe_recovery: the sf0.01 embeddings
    plus ONE planted near-dup pair engineered to straddle a Voronoi
    boundary of the seed-42 / num_clusters=8 k-means. The pair members
    are convex mixes of source vectors 4 and 229 (cosine(4,229) ≈
    0.73 — far apart): p1 = 0.51·e4 + 0.49·e229 under id 200000, p2 the
    mirrored 0.49/0.51 mix under id 200001. cos(p1,p2) = 0.9993 ≥ 0.9;
    each mix's max cosine to any NATURAL row is ≈ 0.73 < 0.9, so the
    full-pairs oracle contains exactly the planted pair. Verified
    empirically (and pinned by tests/test_oracle_parity.py::
    test_probe_recovery_fixture_misses_at_single_probe): under probes=1
    the two mixes land in DIFFERENT primary cells (each one's secondary
    is the other's primary), so single-probe SemDeDup provably misses
    the pair; probes=2 scores it in the shared probed cells."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    pa = e.where(F.col("vec_id") == 4).select(F.col("embedding").alias("ea"))
    pb = e.where(F.col("vec_id") == 229).select(F.col("embedding").alias("eb"))
    mix = pa.crossJoin(pb).select(
        F.zip_with(
            "ea", "eb", lambda x, y: x * F.lit(0.51) + y * F.lit(0.49)
        ).alias("p1"),
        F.zip_with(
            "ea", "eb", lambda x, y: x * F.lit(0.49) + y * F.lit(0.51)
        ).alias("p2"),
    )
    planted = mix.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(200000).cast("long").alias("vec_id"),
                    F.col("p1").alias("embedding"),
                ),
                F.struct(
                    F.lit(200001).cast("long").alias("vec_id"),
                    F.col("p2").alias("embedding"),
                ),
            )
        ).alias("s")
    ).select("s.vec_id", "s.embedding")
    return e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    ).unionByName(planted)


@declare(
    "q_semantic_probe_recovery",
    f"""
    WITH base AS (SELECT vec_id, embedding FROM embeddings),
    src AS (
      SELECT a.embedding AS ea, b.embedding AS eb FROM base a, base b
      WHERE a.vec_id = 4 AND b.vec_id = 229
    ),
    aug AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      FROM base
      UNION ALL
      SELECT 200000,
             list_transform(generate_series(1, len(ea)),
                            k -> CAST(ea[k] AS DOUBLE) * 0.51
                                 + CAST(eb[k] AS DOUBLE) * 0.49)
      FROM src
      UNION ALL
      SELECT 200001,
             list_transform(generate_series(1, len(ea)),
                            k -> CAST(ea[k] AS DOUBLE) * 0.49
                                 + CAST(eb[k] AS DOUBLE) * 0.51)
      FROM src
    ),
    c AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             (1.0 - ({_COS_AB_SQL})) AS sim
      FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, round(sim, 4) AS cosine_sim
    FROM c WHERE round(sim, 4) >= 0.9
    ORDER BY a_id, b_id
    """,
)
def q_semantic_probe_recovery(spark, sf_dir):
    """The multi-probe RECOVERY direction at
    oracle scale — the complement of q_semantic_multiprobe, which gates
    only the safety direction (probes must ADD nothing on a corpus
    whose duplicates co-locate). Here the planted pair straddles a
    Voronoi boundary (:func:`_probe_recovery_aug` — mixes of two
    far-apart source rows whose primary cells DIFFER under seed-42
    k-means), so probes=1 provably misses it (asserted by the fixture
    test) and only the probes=2 scan can emit it. Hash-matching the
    full-pairs DuckDB oracle therefore proves recovery: a probes=1-
    equivalent output would be MISSING the (200000, 200001) row. Same
    verified-pair projection recipe as q_semantic_dedup (equality holds
    because no natural pair reaches cosine 0.9 — max natural cosine is
    0.5128 on this corpus — and each mix's cosine to every natural row
    is ≈0.73)."""
    from vamana_spark.operators import dedup as DD

    res = DD.semantic_dedup(
        _probe_recovery_aug(spark, sf_dir),
        threshold=0.9, num_clusters=8, seed=42, probes=2,
    )
    return (
        res.where(~F.col("keep"))
        .select(
            F.col("dup_of").alias("a_id"),
            F.col("vec_id").alias("b_id"),
            F.round("max_sim", 4).alias("cosine_sim"),
        )
        .orderBy("a_id", "b_id")
    )


# The planted 4-cell-corner pair for
# q_semantic_corner_recovery, found by numeric search over the sf0.01
# corpus's seed-42 / num_clusters=8 k-means geometry (t +/- 0.2*u for
# t = the normalized mean of centers {0,1,3,5} and u = the normalized
# A+C-B-D corner direction), then rounded to 6 decimals and
# re-verified: cos(m1,m2) = 0.9231 >= 0.9; max cosine to any natural
# row = 0.42 << 0.9; m1's probed-cell ranking is [0,3,1,5] and m2's is
# [1,5,0,3] — top-2 sets DISJOINT (probes=2 scores the pair in no
# shared cell), top-3 sets share cells {0,1} (probes=3 recovers). The
# literals appear ONCE here and are interpolated into both the Spark
# plan and the DuckDB oracle, so the two sides cannot drift.
_CORNER_M1 = [
    -0.175612, -0.101585, -0.06413, -0.145241, 0.108477, 0.197116,
    0.051396, -0.001116, 0.138478, -0.032978, 0.284367, -0.185143,
    -0.073646, -0.011252, 0.151935, -0.183565, 0.070123, -0.006442,
    -0.012769, 0.034694, 0.067013, 0.140138, 0.045585, -0.068675,
    0.08363, 0.256028, 0.156045, 0.069046, -0.080587, -0.173469,
    -0.054765, -0.036047, 0.276873, -0.21754, -0.015757, 0.12829,
    -0.014901, 0.013744, -0.055042, 0.176311, 0.067114, -0.127058,
    0.05232, 0.025172, -0.112652, -0.137122, 0.127057, -0.106697,
    -0.142974, 0.14262, 0.000672, -0.060107, 0.318511, -0.108624,
    0.032217, -0.152058, 0.022835, 0.151807, 0.070996, -0.052458,
    -0.017735, -0.033737, -0.101997, -0.139866
]
_CORNER_M2 = [
    -0.140503, -0.088351, 0.012723, -0.140309, 0.071413, 0.254346,
    0.001903, 0.023905, 0.107846, 0.009004, 0.239509, -0.163062,
    -0.022453, -0.055232, 0.160791, -0.09946, 0.118609, 0.102696,
    -0.030076, 0.015838, 0.006016, 0.1449, 0.035467, -0.10947,
    0.05712, 0.217795, 0.230387, 0.045201, -0.04087, -0.241464,
    -0.054924, 0.011021, 0.270249, -0.190201, -0.058212, 0.246834,
    -0.058792, -0.053261, -0.022145, 0.115597, 0.091887, -0.178223,
    0.071235, 0.063139, -0.078984, -0.129535, 0.104474, -0.016367,
    -0.144483, 0.06021, -0.077507, -0.0484, 0.292596, -0.091096,
    0.085875, -0.086128, -0.017813, 0.202632, 0.053552, -0.1208,
    -0.118567, -0.062497, -0.096516, -0.116119
]


_m1_sql = ", ".join(repr(x) for x in _CORNER_M1)
_m2_sql = ", ".join(repr(x) for x in _CORNER_M2)


def _corner_recovery_aug(spark, sf_dir):
    """Aug corpus for q_semantic_corner_recovery: the sf0.01 embeddings
    plus ONE planted near-dup pair engineered to sit at a >=3-cell
    Voronoi CORNER of the seed-42 / num_clusters=8 k-means — the miss
    class the 10M rung measured as the whole probes=2 residual
    (on a 10M corpus: zero noise-tail misses; the remaining 1.4% was
    all top-level >=3-cell straddle, and probes=3 recovered 85% of it).
    Unlike :func:`_probe_recovery_aug` (mixes of two source rows
    straddling ONE boundary), the pair here is a literal-vector plant:
    each member's top-2 cells are disjoint from the other's, so only a
    third probe reaches a shared cell. Pinned by tests/
    test_oracle_parity.py::test_corner_fixture_misses_at_two_probes."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    planted = spark.createDataFrame(
        [(200000, _CORNER_M1), (200001, _CORNER_M2)],
        "vec_id long, embedding array<double>",
    )
    return e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    ).unionByName(planted)


@declare(
    "q_semantic_corner_recovery",
    f"""
    WITH aug AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      FROM embeddings
      UNION ALL
      SELECT 200000, [{_m1_sql}]
      UNION ALL
      SELECT 200001, [{_m2_sql}]
    ),
    c AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             (1.0 - ({_COS_AB_SQL})) AS sim
      FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, round(sim, 4) AS cosine_sim
    FROM c WHERE round(sim, 4) >= 0.9
    ORDER BY a_id, b_id
    """,
)
def q_semantic_corner_recovery(spark, sf_dir):
    """The probes=3 recovery direction at oracle
    scale — the >=3-cell-CORNER complement of q_semantic_probe_recovery
    (whose planted pair straddles one boundary and is already caught at
    probes=2). The planted pair's top-2 cell sets are disjoint under
    the seed-42 k-means, so probes=1 AND probes=2 provably miss it
    (asserted by the fixture test) and only the probes=3 scan shares a
    cell between the members. Hash-matching the full-pairs DuckDB
    oracle therefore proves third-probe recovery: any lower-probe
    output would be MISSING the (200000, 200001) row. Equality holds
    because no natural pair reaches cosine 0.9 (max natural cosine
    0.5128) and each planted member's max cosine to any natural row is
    0.42. This declares the knob a 10M run priced (wall
    2.36x probes=2, recall 0.9859 -> 0.9979): recommended only at
    recall targets >= 0.995, and oracle-gated here so the code path
    stays correct while opt-in."""
    from vamana_spark.operators import dedup as DD

    res = DD.semantic_dedup(
        _corner_recovery_aug(spark, sf_dir),
        threshold=0.9, num_clusters=8, seed=42, probes=3,
    )
    return (
        res.where(~F.col("keep"))
        .select(
            F.col("dup_of").alias("a_id"),
            F.col("vec_id").alias("b_id"),
            F.round("max_sim", 4).alias("cosine_sim"),
        )
        .orderBy("a_id", "b_id")
    )


@declare(
    "q_dsir_weights",
    r"""
    WITH t AS (
      SELECT doc_id, lang = 'en' AS is_tgt,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents
    ), u AS (
      SELECT doc_id, unnest(toks) AS ng FROM t
      UNION ALL
      SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS ng
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i FROM t) s
    ), f AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(ng), 1, 8)) AS BIGINT) % 4096 AS b
      FROM u
    ), fj AS (
      SELECT f.doc_id, f.b, t2.is_tgt
      FROM f JOIN (SELECT doc_id, is_tgt FROM t) t2 USING (doc_id)
    ), rc AS (SELECT b, count(*) AS rcnt FROM fj GROUP BY b),
    tc AS (SELECT b, count(*) AS tcnt FROM fj WHERE is_tgt GROUP BY b),
    tot AS (
      SELECT count(*) AS rt,
             sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tt
      FROM fj
    ), lp AS (
      SELECT rc.b,
             ln((coalesce(tc.tcnt, 0) + 1.0) / (CAST(tot.tt AS DOUBLE) + 4096.0))
             - ln((rc.rcnt + 1.0) / (CAST(tot.rt AS DOUBLE) + 4096.0)) AS lr
      FROM rc LEFT JOIN tc USING (b), tot
    ), w AS (
      SELECT f.doc_id, count(*) AS nf, sum(lp.lr) AS lw
      FROM f JOIN lp ON f.b = lp.b GROUP BY f.doc_id
    )
    SELECT d.doc_id, d.lang = 'en' AS is_target,
           CAST(coalesce(w.nf, 0) AS BIGINT) AS n_feats,
           round({z}, 4) AS log_weight
    FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
    """.format(z=_z_sql("coalesce(w.lw, 0.0)")),
)
def q_dsir_weights(spark, sf_dir):
    """DSIR importance log-weights (Xie et al. 2023) over documents with
    target = lang 'en': add-1-smoothed hashed unigram+bigram multinomial
    likelihood ratio, 4096 portable md5 buckets — the oracle reproduces
    the bucket hash, both multinomials, and the per-doc log-ratio sum."""
    from vamana_spark.functions.vector import canonical_zero
    from vamana_spark.operators import sampling

    out = sampling.dsir_log_weights(
        _docs(spark, sf_dir), F.col("lang") == "en", num_buckets=4096
    )
    return out.select(
        "doc_id",
        "is_target",
        "n_feats",
        canonical_zero(F.round("log_weight", 4)).alias("log_weight"),
    )


@declare(
    "q_dsir_sample",
    r"""
    WITH t AS (
      SELECT doc_id, lang = 'en' AS is_tgt,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents
    ), u AS (
      SELECT doc_id, unnest(toks) AS ng FROM t
      UNION ALL
      SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS ng
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i FROM t) s
    ), f AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(ng), 1, 8)) AS BIGINT) % 4096 AS b
      FROM u
    ), fj AS (
      SELECT f.doc_id, f.b, t2.is_tgt
      FROM f JOIN (SELECT doc_id, is_tgt FROM t) t2 USING (doc_id)
    ), rc AS (SELECT b, count(*) AS rcnt FROM fj GROUP BY b),
    tc AS (SELECT b, count(*) AS tcnt FROM fj WHERE is_tgt GROUP BY b),
    tot AS (
      SELECT count(*) AS rt,
             sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tt
      FROM fj
    ), lp AS (
      SELECT rc.b,
             ln((coalesce(tc.tcnt, 0) + 1.0) / (CAST(tot.tt AS DOUBLE) + 4096.0))
             - ln((rc.rcnt + 1.0) / (CAST(tot.rt AS DOUBLE) + 4096.0)) AS lr
      FROM rc LEFT JOIN tc USING (b), tot
    ), w AS (
      SELECT f.doc_id, count(*) AS nf, sum(lp.lr) AS lw
      FROM f JOIN lp ON f.b = lp.b GROUP BY f.doc_id
    ), scored AS (
      SELECT d.doc_id, coalesce(w.lw, 0.0) AS lw
      FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
    ), keyed AS (
      SELECT doc_id,
             lw - ln(-ln(
               (CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 13))
                     AS BIGINT) + 1.0) / 4503599627370497.0
             )) AS gk
      FROM scored
    )
    SELECT doc_id FROM keyed ORDER BY gk DESC, doc_id LIMIT 50
    """,
)
def q_dsir_sample(spark, sf_dir):
    """Gumbel-top-50 DSIR resample (seed 7, temperature 1): the selected
    id set is a pure function of (seed, weights), so the oracle replays
    the identical portable-md5 Gumbel draw and selection."""
    from vamana_spark.operators import sampling

    return sampling.dsir_sample(
        _docs(spark, sf_dir), F.col("lang") == "en", n=50, seed=7
    ).select("doc_id")
