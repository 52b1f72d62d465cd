"""Physical-plan audits: the shapes that matter at 100 TB, asserted on
``explain`` output so regressions in pushdown/broadcast/top-k strategy
fail loudly.
"""

import re

import pytest
from pyspark.sql import functions as F

from vamana_spark import exact
from vamana_spark.operators import dedup
from vamana_spark.plans import declared as D


def plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_projection_prunes_columns(spark, sf_dir):
    """A 2-column projection must not read the embedding column."""
    df = D._emb(spark, sf_dir).select("vec_id", "label")
    p = plan(df)
    m = re.search(r"ReadSchema: (.*)", p)
    assert m and "embedding" not in m.group(1), p


def test_filter_pushdown_to_parquet(spark, sf_dir):
    df = D._emb(spark, sf_dir).where(F.col("vec_id") == 7).select("vec_id")
    p = plan(df)
    assert "PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,7)]" in p, p


def test_exact_knn_broadcasts_queries(spark, sf_dir):
    e = D._emb(spark, sf_dir)
    q = D._fixed_queries(e, 25)
    p = plan(exact.exact_knn(e, q, k=10))
    # queries side must broadcast: nested-loop join with BuildRight broadcast
    assert "BroadcastNestedLoopJoin" in p, p


def test_exact_knn_batch_no_cross_product(spark, sf_dir):
    e = D._emb(spark, sf_dir)
    q = D._fixed_queries(e, 25)
    p = plan(exact.exact_knn_batch(e, q, k=10))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_lsh_candidates_one_band_shuffle(spark, documents):
    """LSH candidates come from one shuffle on the band key: no window,
    join, cross product or broadcast. A sort on (band_id, band_hash, id)
    over that one exchange sits directly under the Python map that walks
    each bucket, and one exchange and aggregate on (a_id, b_id) above it
    make the pairs distinct."""
    p = plan(dedup.minhash_lsh_candidates(documents))
    for node in ("Window", "CartesianProduct", "BroadcastNestedLoopJoin", "BroadcastExchange", "Join"):
        assert node not in p, p
    # formatted explain numbers its nodes bottom-up, one block per node
    nodes = re.findall(r"^\((\d+)\) (\w+)\n(.*?)(?=^\(\d+\)|\Z)", p, re.M | re.S)
    bodies = {int(n): body for n, _, body in nodes}
    band = r"band_id#\d+, band_hash#\d+L?"
    exchanges = [(int(n), body) for n, name, body in nodes if name == "Exchange"]
    band_ex = [n for n, body in exchanges if re.search(rf"hashpartitioning\({band},", body)]
    pair_ex = [n for n, body in exchanges if re.search(r"hashpartitioning\(a_id#\d+L?, b_id#\d+L?,", body)]
    pair_aggs = [
        int(n) for n, name, body in nodes
        if name.endswith("Aggregate") and re.search(r"Keys \[2\]: \[a_id#\d+L?, b_id#\d+L?\]", body)
    ]
    # besides those two, only the input's spread over the cores
    rest = [body for n, body in exchanges if n not in band_ex + pair_ex]
    assert len(band_ex) == 1 and len(pair_ex) == 1 and len(pair_aggs) == 2, p
    assert all("RoundRobinPartitioning" in body for body in rest), p
    # the tree prints a node's child on the next line, one level deeper
    walk = re.findall(r"MapInPandas \((\d+)\)\n\s*\+- Sort \((\d+)\)", p)
    assert len(walk) == 1, p
    m, srt = map(int, walk[0])
    asc = r"band_id#\d+ ASC NULLS FIRST, band_hash#\d+L? ASC NULLS FIRST, doc_id#\d+L? ASC NULLS FIRST"
    assert re.search(rf"\[{asc}\]", bodies[srt]), p
    assert band_ex[0] < srt < m < min(pair_aggs) < pair_ex[0] < max(pair_aggs), p


def test_bm25_shape_takeordered_broadcast_no_cross(spark, sf_dir):
    """BM25's promised 100-TB shape: the per-term df joins back as a
    broadcast, the final cut is TakeOrderedAndProject (no global
    window), and nothing degenerates to a cross product."""
    p = plan(D.q_bm25_search(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    assert "Window" not in p, p


def test_bm25_batch_shuffles_independent_of_probe_count(spark, sf_dir):
    """Batch BM25's promised 100-TB shape: ONE job whose shuffle count
    does not grow with the probe count (tf computed once per
    (doc, term); the per-probe fan-out rides broadcast joins on the
    aggregate), the per-probe top-n is a rank-limited window (no
    single-task global sort, no per-probe driver loop), and nothing
    degenerates to a cross product."""
    from vamana_spark.operators import text

    docs = D._docs(spark, sf_dir)
    vocab = ["merge", "stream", "vector", "index", "graph"]

    def shape(nprobes):
        probes = spark.createDataFrame(
            [(i, vocab[i % 4 : i % 4 + 2]) for i in range(nprobes)],
            "probe_id long, terms array<string>",
        )
        return plan(text.bm25_rank_batch(docs, probes, top_n=20))

    p2, p20 = shape(2), shape(20)
    n2 = len(re.findall(r"\(\d+\) Exchange\b", p2))
    n20 = len(re.findall(r"\(\d+\) Exchange\b", p20))
    assert n2 == n20, (n2, n20)
    assert n20 <= 7, p20  # tf + score agg + window + tiny vocab/df aggs
    assert "WindowGroupLimit" in p20, p20  # rank<=n pushed into the window
    assert "BroadcastHashJoin" in p20, p20
    assert "CartesianProduct" not in p20, p20
    # r9 skew guard: the per-(probe, doc) aggregate hashes on BOTH keys
    # (no single-key clustering a stop-word-ish probe could serialize
    # into one task), and a map-side partial top-n cut (MapInPandas)
    # sits between the aggregate and the per-probe window so the window
    # only ever ranks the per-batch survivors
    assert re.search(r"hashpartitioning\(probe_id[^)]*doc_id", p20), p20
    assert "MapInPandas" in p20, p20


def test_groupby_has_partial_aggregation(spark, sf_dir):
    p = plan(D.q_grouped_text_stats(spark, sf_dir))
    # two HashAggregate nodes (partial + final) around the shuffle
    assert len(re.findall(r"HashAggregate", p)) >= 2, p


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Bucketing both fact tables on the join key eliminates the shuffle:
    SortMergeJoin with zero Exchange nodes."""
    from vamana_spark.sources import load_table
    from vamana_spark.sources.bucketing import read_bucketed, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        write_bucketed(li, "t_li_bucketed", "l_orderkey", 8)
        write_bucketed(o, "t_o_bucketed", "o_orderkey", 8)
        joined = read_bucketed(spark, "t_li_bucketed").join(
            read_bucketed(spark, "t_o_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        p = plan(joined)
        assert "SortMergeJoin" in p, p
        assert "Exchange" not in p, p
        # sanity: the join actually runs
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_o_bucketed")


def test_contamination_join_is_equijoin_on_shingle_hash(spark, sf_dir):
    """Decontamination must match on the shingle hash, never doc x doc."""
    from vamana_spark.operators import dedup, sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = sampling.train_test_split(docs, test_fraction=0.2)
    p = plan(
        dedup.contamination_check(
            split.where(F.col("split") == "train"),
            split.where(F.col("split") == "test"),
            n=5,
        )
    )
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert len(re.findall(r"HashAggregate", p)) >= 2, p  # partial pair-count


def test_ordinal_assignment_no_global_window(spark, sf_dir):
    """assign_ordinals must not funnel all rows through one task: no
    empty-frame global Window (r1's build-path bottleneck) — never a
    SinglePartition exchange. r14: contiguous unique ids (every SF's
    shape) take the shuffle-free fast path (ordinal = id - min, proven
    by one key-only aggregate); gapped ids still take the range
    shuffle."""
    from pyspark.sql import functions as F

    from vamana_spark.functions.util import assign_ordinals

    df = D._emb(spark, sf_dir).select("vec_id", "embedding")
    out = assign_ordinals(df, "vec_id", "ordinal")
    p = plan(out)
    assert "SinglePartition" not in p, p
    # contiguous-id fast path: the ROWS never range-shuffle (the only
    # allowed exchange is the local-parallelism round robin)
    assert "rangepartitioning" not in p.lower(), p
    # and the result is the dense 0..n-1 ranking by vec_id
    rows = out.orderBy("vec_id").select("ordinal").collect()
    assert [r["ordinal"] for r in rows] == list(range(len(rows)))

    # gapped ids: the distributed range path remains (and stays free of
    # single-task funnels)
    gapped = df.where(F.col("vec_id") % 2 == 0)
    out2 = assign_ordinals(gapped, "vec_id", "ordinal")
    p2 = plan(out2)
    assert "SinglePartition" not in p2, p2
    assert "rangepartitioning" in p2.lower(), p2
    rows2 = out2.orderBy("vec_id").select("ordinal").collect()
    assert [r["ordinal"] for r in rows2] == list(range(len(rows2)))


def test_tfidf_uses_partial_agg_and_topn(spark, sf_dir):
    from vamana_spark.plans import declared as DD

    p = plan(DD.QUERIES["q_tfidf_top_terms"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p
    assert "partial" in p.lower(), p


def test_repetition_stats_groups_have_partials(spark, sf_dir):
    """Gopher repetition: both groupBys (per-doc-gram, per-doc) carry
    map-side partial aggregation."""
    from vamana_spark.plans import declared as DD

    p = plan(DD.QUERIES["q_repetition_stats"](spark, sf_dir))
    assert "partial" in p.lower(), p
    assert "CartesianProduct" not in p, p


def test_embedding_near_dups_auto_routes_past_size_guard(spark, sf_dir):
    """r4 verdict #3: above max_exact_rows the operator must switch to
    LSH blocking (equi-join on band value) — no cartesian product; below
    it the exact all-pairs form remains for oracle parity."""
    emb = D._emb(spark, sf_dir)
    big = plan(dedup.embedding_near_dups(emb, threshold=0.9, max_exact_rows=10))
    assert "CartesianProduct" not in big, big
    assert "BroadcastNestedLoopJoin" not in big, big
    small = plan(
        dedup.embedding_near_dups(emb, threshold=0.9, max_exact_rows=10**9)
    )
    assert "BroadcastNestedLoopJoin" in small or "CartesianProduct" in small, small


def test_duplicate_spans_no_cross_product_and_hash_keys(spark, sf_dir):
    """The join-back is an equi-join on the shingle hash; token text
    never crosses a shuffle; the span merge + aggregate share one
    doc-keyed exchange (window partitioning satisfies the groupBy's
    clustering subset)."""
    df = dedup.duplicate_spans(D._docs(spark, sf_dir))
    p = plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    # exactly one Sort/Window pipeline exchange keyed by the doc id
    assert p.count("Window") >= 1, p


def test_cut_spans_single_doc_join_no_token_explode_on_output(spark, sf_dir):
    df = dedup.cut_duplicate_spans(D._docs(spark, sf_dir))
    p = plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p


def test_semantic_dedup_single_data_shuffle(spark, sf_dir):
    """After the fused assign-carry pass the only full-data exchange is
    the cluster-keyed one feeding the per-cluster pair scan — no
    vec_id join-back of the unit vectors."""
    emb = D._emb(spark, sf_dir)
    df = dedup.semantic_dedup(emb, threshold=0.9, num_clusters=4, seed=1)
    p = plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p, p


def test_bigram_logprob_partial_agg_equijoins(spark, sf_dir):
    from vamana_spark.operators import text as T

    df = T.bigram_logprob_score(D._docs(spark, sf_dir))
    p = plan(df)
    assert "CartesianProduct" not in p, p
    # corpus count tables join back by equi-keys (bigram / context)
    assert "BroadcastNestedLoop" not in p or "_vocab" in p, p
    assert "partial_count" in p or "HashAggregate" in p, p


def test_group_centroids_partial_agg(spark, sf_dir):
    from vamana_spark.operators.similarity import group_centroids

    df = group_centroids(D._emb(spark, sf_dir))
    p = plan(df)
    # map-side partials: two HashAggregates around one exchange
    assert p.count("HashAggregate") >= 2 and "Exchange" in p, p
    assert "CartesianProduct" not in p, p


def test_dsir_weights_model_broadcasts_no_cross_product(spark, sf_dir):
    """DSIR: the ≤num_buckets-row model table must broadcast into the
    per-doc scoring join; the token stream never hits a cartesian and
    the per-doc sum has map-side partials."""
    from vamana_spark.operators.sampling import dsir_log_weights

    df = dsir_log_weights(D._docs(spark, sf_dir), F.col("lang") == "en")
    p = plan(df)
    assert "CartesianProduct" not in p, p
    # the only nested-loop allowed is the 1-row totals broadcast riding
    # into the model projection (crossJoin of a single agg row) — count
    # tree nodes, not the formatted-detail echoes
    tree = p.split("\n\n")[0]
    assert tree.count("BroadcastNestedLoopJoin") <= 1, p
    assert "BroadcastHashJoin" in p, p
    assert "partial_count" in p or p.count("HashAggregate") >= 2, p


def test_search_pq_rerank_keeps_corpus_at_rest(spark, sf_dir):
    """The PQ exact re-rank must never shuffle the base table: the only
    exchanges after the cogroup carry candidate/query rows (keyed by
    query_id or query_id+vec_id), not embeddings keyed by vec_id from a
    corpus-wide dropDuplicates."""
    from vamana_spark import VamanaParams
    from vamana_spark.index.partitioned import PartitionedVamanaIndex

    from vamana_spark.index import partitioned as P

    emb = D._emb(spark, sf_dir)
    params = VamanaParams(dim=64, alpha=1.2, R=16, L=32, ef_search=50, seed=1)
    pidx = PartitionedVamanaIndex.build(spark, emb, params, num_shards=4)
    q = D._fixed_queries(emb, 50)
    # r11: the explicit broadcast hint fires only in the band where AQE
    # would sort-merge (shortlist above autoBroadcastJoinThreshold,
    # below the hard row cap) — at test scale AQE broadcasts by itself,
    # so pin the estimator to put this 5k-row shortlist in the band the
    # 10M rung actually hits
    old_bpr = P._RERANK_FORCE_BYTES_PER_ROW
    P._RERANK_FORCE_BYTES_PER_ROW = 1 << 30
    try:
        df = pidx.search_pq(
            q.select(F.col("query_id"), F.col("query_vec")), k=5
        )
    finally:
        P._RERANK_FORCE_BYTES_PER_ROW = old_bpr
    p = plan(df)
    assert "CartesianProduct" not in p, p
    # the overlap dedupe of the OLD plan was a corpus-wide
    # dropDuplicates([vec_id]) — an aggregate over the full shard table
    # BEFORE any candidate filter. Its signature was a HashAggregate on
    # keys [vec_id] alone; post-fix every dedupe aggregate keys on
    # (query_id, vec_id).
    assert not re.search(r"HashAggregate.*[Kk]eys=\[vec_id[#\d]*\]\s*$", p, re.M), p
    # the vectors-at-rest re-rank join must
    # BROADCAST the bounded shortlist side. Relying on AQE held at
    # bench scale but broke at 10M (the 1M-row shortlist crossed the
    # threshold and the join fell back to sort-merge, re-shuffling the
    # 20M-row shard table per search call — the whole flat-vs-PQ gap).
    # The explicit hint shows up as BroadcastHashJoin on the vec_id
    # equi-join; a SortMergeJoin on vec_id is the regression signature.
    assert "BroadcastHashJoin" in p, p
    assert not re.search(r"SortMergeJoin.*vec_id", p), p
    # ...and OUTSIDE the band (small shortlist at default settings) the
    # static plan must NOT carry a forced broadcast exchange of the
    # shortlist subtree — AQE's runtime conversion handles it without
    # the driver-collect round trip (measured at sf0.1: 2.9-3.5 s
    # forced vs 2.0-2.4 s AQE per bench rep)
    df2 = pidx.search_pq(q.select(F.col("query_id"), F.col("query_vec")), k=5)
    df2.count()  # runs green at defaults


def test_temperature_mixture_corpus_never_shuffles(spark, sf_dir):
    """temperature_mixture: the corpus side must be a scan + broadcast
    threshold filter — the only aggregation is the #sources-row count
    (map-side partials), and the corpus never enters an exchange wider
    than that."""
    from vamana_spark.operators.sampling import temperature_mixture

    df = temperature_mixture(D._docs(spark, sf_dir), temperature=0.5)
    p = plan(df)
    assert "CartesianProduct" not in p, p
    # thresholds broadcast onto the scan
    assert "BroadcastHashJoin" in p, p
    # no sort-merge / shuffle-hash join of the corpus anywhere
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    # the 1-row max(rate) rides in as the single nested-loop broadcast
    tree = p.split("\n\n")[0]
    assert tree.count("BroadcastNestedLoopJoin") <= 1, p


def test_coverage_header_totals_match_registry():
    """VERDICT r12 #5: COVERAGE.md's header totals rotted twice (said
    147/131 while the registry held 150/134) — and that file is the map
    the next round navigates by. Pin the header to the registry: the
    "N declared queries, M with DuckDB oracle SQL" line must equal
    len(QUERIES) / len(ORACLE_SQL) exactly."""
    import os
    import re

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(D.__file__)))
    )
    path = os.path.join(root, "COVERAGE.md")
    if not os.path.exists(path):
        pytest.skip("COVERAGE.md not next to the package")
    with open(path) as f:
        text = f.read()
    m = re.search(
        r"\*\*(\d+) declared queries, (\d+) with DuckDB oracle SQL\*\*", text
    )
    assert m, "COVERAGE.md totals line missing or reworded"
    assert (int(m.group(1)), int(m.group(2))) == (
        len(D.QUERIES), len(D.ORACLE_SQL)
    ), (
        f"COVERAGE.md header says {m.group(1)}/{m.group(2)} but the "
        f"registry holds {len(D.QUERIES)}/{len(D.ORACLE_SQL)} — update "
        "the header when declaring queries"
    )
    # README carries the same totals in prose (ADVICE r13: it already
    # rotted once, saying 146/130 against a 147/131 registry) — pin it
    # with the same gate
    readme = os.path.join(root, "README.md")
    if os.path.exists(readme):
        with open(readme) as f:
            rtext = f.read()
        rm = re.search(
            r"(\d+) declared\s+oracle-gated queries \((\d+) bit-strict",
            rtext,
        )
        assert rm, "README registry-totals sentence missing or reworded"
        assert (int(rm.group(1)), int(rm.group(2))) == (
            len(D.QUERIES), len(D.ORACLE_SQL)
        ), (
            f"README says {rm.group(1)}/{rm.group(2)} but the registry "
            f"holds {len(D.QUERIES)}/{len(D.ORACLE_SQL)}"
        )


def test_fixture_queries_fall_back_to_live_build(spark, sf_dir, monkeypatch):
    """A missing fixture dir must not break the fixture-backed queries
    off the testdata tree: they rebuild the same recipe live (outputs
    then aren't hash-stable, but the invariants hold)."""
    monkeypatch.setattr(D, "_FIXTURE_ROOT", "/nonexistent/fixtures")
    D._INDEX_CACHE.pop(
        (spark.sparkContext.applicationId, sf_dir, "fixture-base"), None
    )
    idx = D._fixture_index(spark, sf_dir, "base")
    assert idx.degree_stats().count() > 0
