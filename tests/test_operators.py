"""Pipeline operators: dedup / text / similarity."""

import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from vamana_spark.operators import dedup, sampling, similarity, text


# ----------------------------------------------------------------- dedup

def test_exact_dedup_removes_exact_copies(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello  world"), (3, "different doc")],
        "doc_id long, text string",
    )
    out = dedup.exact_dedup(df).collect()
    ids = sorted(r.doc_id for r in out)
    assert ids == [1, 3]  # 2 collapses onto 1 after whitespace normalization


def test_duplicate_groups(documents):
    groups = dedup.duplicate_groups(documents).collect()
    for g in groups:
        assert g.n_members > 1 and g.canonical_id == min(g.member_ids)


def test_minhash_candidates_superset_of_high_jaccard(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "the quick brown fox jumps over the lazy dog again and again tonight"),
        (3, "completely unrelated text about spark query engines and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_near_dups(df, threshold=0.5).collect()
    assert any((p.a_id, p.b_id) == (1, 2) for p in pairs)
    assert not any(3 in (p.a_id, p.b_id) for p in pairs)


def test_minhash_bucket_cap_bounds_pairs_keeps_clusters(spark):
    """r11 (10M Zipf rung, SCALE.md): ``max_bucket_size`` plumbed
    through minhash_near_dups. A duplicate cluster below the default
    cap emits its full quadratic pair set; a small cap switches it to
    star topology — O(members) pairs — while (a) every member still
    appears in >=1 verified pair and (b) connected components still
    recover the WHOLE cluster through the min-id representative."""
    n = 60
    rows = [
        (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi rho sigma tau upsilon")
        for i in range(n)
    ] + [(1000, "totally different words about query engines and joins "
                "and shuffles and parquet and columnar execution today")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = dedup.minhash_near_dups(df, threshold=0.7)
    capped = dedup.minhash_near_dups(df, threshold=0.7, max_bucket_size=8)
    n_full, n_capped = full.count(), capped.count()
    assert n_full == n * (n - 1) // 2          # the quadratic truth
    assert n_capped == n - 1, n_capped         # star through the rep
    ids = {
        r.d
        for r in capped.selectExpr("a_id d").union(
            capped.selectExpr("b_id d")
        ).distinct().collect()
    }
    assert ids == set(range(n))                # coverage preserved
    cc = dedup.connected_components(capped, "a_id", "b_id").collect()
    comps = {r.component for r in cc}
    assert comps == {0}                        # one recovered cluster


# ---------------------------------------------------------------- sampling

def test_stratified_sample_quota_and_determinism(documents):
    s1 = sampling.stratified_sample(documents, "source", 3)
    over = s1.groupBy("source").count().where(F.col("count") > 3).count()
    assert over == 0
    ids1 = {r.doc_id for r in s1.select("doc_id").collect()}
    # same result from a different physical layout
    s2 = sampling.stratified_sample(documents.repartition(7), "source", 3)
    ids2 = {r.doc_id for r in s2.select("doc_id").collect()}
    assert ids1 == ids2 and len(ids1) > 0


def test_deterministic_sample_uses_take_ordered(documents):
    out = sampling.deterministic_sample(documents, 10)
    assert out.count() == 10
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    ids1 = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(
        r.doc_id for r in sampling.deterministic_sample(documents.coalesce(1), 10).collect()
    )
    assert ids1 == ids2


def test_train_test_split_stable_fraction_and_partition_invariance(documents):
    out = sampling.train_test_split(documents, test_fraction=0.2)
    n = documents.count()
    n_test = out.where(F.col("split") == "test").count()
    assert abs(n_test / n - 0.2) < 0.1  # uniform hash, loose tolerance
    # membership is per-row: identical after repartitioning
    a = {r.doc_id: r.split for r in out.collect()}
    b = {
        r.doc_id: r.split
        for r in sampling.train_test_split(
            documents.repartition(13), test_fraction=0.2
        ).collect()
    }
    assert a == b


def test_weighted_sample_partition_invariant_and_biased(documents):
    out = sampling.weighted_sample(documents, 50, "n_chars")
    ids1 = sorted(r.doc_id for r in out.select("doc_id").collect())
    assert len(ids1) == 50
    ids2 = sorted(
        r.doc_id
        for r in sampling.weighted_sample(documents.repartition(9), 50, "n_chars")
        .select("doc_id")
        .collect()
    )
    assert ids1 == ids2
    # length-proportional draw must overrepresent long docs
    corpus_avg = documents.agg(F.avg("n_chars")).first()[0]
    sample_avg = out.agg(F.avg("n_chars")).first()[0]
    assert sample_avg > corpus_avg
    # no global sort: TakeOrderedAndProject
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_matches_numpy_es(documents):
    """The Spark selection must equal a NumPy implementation of the same
    A-ES keys (portable md5 draw → identical u on any engine)."""
    import hashlib

    import numpy as np

    rows = documents.select("doc_id", "n_chars").collect()
    keys = {}
    for r in rows:
        h = hashlib.md5(f"42:{r.doc_id}".encode()).hexdigest()[:8]
        u = (int(h, 16) + 0.5) / 16**8
        keys[r.doc_id] = np.log(u) / float(r.n_chars)
    want = sorted(sorted(keys), key=lambda d: (-keys[d], d))[:50]
    got = sorted(
        r.doc_id
        for r in sampling.weighted_sample(documents, 50, "n_chars").collect()
    )
    assert got == sorted(want)


def test_contamination_check_finds_leak(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different training text with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [
            (10, "witness the quick brown fox jumps over a fence"),
            (11, "nothing shared here whatsoever in any window"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.test_id, r.train_id): r.n_shared
        for r in dedup.contamination_check(train, test, n=5).collect()
    }
    # "the quick brown fox jumps" and "quick brown fox jumps over" leak
    assert got == {(10, 1): 2}


def test_contamination_stop_shingle_cap(spark):
    # a shingle present in EVERY train doc is boilerplate; the cap drops it
    boiler = "lorem ipsum dolor sit amet"
    train = spark.createDataFrame(
        [(i, f"{boiler} unique{i} a b c d") for i in range(1, 5)],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(10, f"prefix words here then {boiler}")], "doc_id long, text string"
    )
    uncapped = dedup.contamination_check(train, test, n=5)
    assert uncapped.count() == 4
    capped = dedup.contamination_check(train, test, n=5, max_shingle_docs=3)
    assert capped.count() == 0


def test_contamination_self_scan_is_complete(documents):
    """Scanning a corpus against itself must pair every doc with itself
    (a doc shares all its shingles with itself) — completeness check."""
    sub = documents.limit(30).cache()
    n = sub.count()
    out = dedup.contamination_check(sub, sub, n=5)
    self_pairs = out.where(F.col("test_id") == F.col("train_id")).count()
    assert self_pairs == n


def test_connected_components_transitive(spark):
    # chain 1-2-3 must collapse to one cluster even though (1,3) is absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "a_id long, b_id long"
    )
    cc = {r.node: r.component for r in dedup.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_connected_components_matches_union_find(documents):
    pairs = dedup.minhash_near_dups(documents, threshold=0.5)
    edges = [(r.a_id, r.b_id) for r in pairs.collect()]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}
    got = {
        r.node: r.component
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == expected


def test_dedup_corpus_keeps_canonical_and_singletons(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "the quick brown fox jumps over the lazy dog again and again tonight"),
            (3, "completely unrelated text about spark query engines and shuffles"),
        ],
        "doc_id long, text string",
    )
    ids = sorted(r.doc_id for r in dedup.dedup_corpus(df, threshold=0.5).collect())
    assert ids == [1, 3]


def test_simhash_signature_locality(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa x"),
        (3, "orbits of saturn moons resonate weirdly under tidal forces"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r.doc_id: r.simhash for r in dedup.simhash_signatures(df).collect()}
    mask = (1 << 64) - 1
    ham12 = bin((sigs[1] ^ sigs[2]) & mask).count("1")
    ham13 = bin((sigs[1] ^ sigs[3]) & mask).count("1")
    assert ham12 < ham13


def test_simhash_near_dups_blocking(spark):
    # identical docs (hamming 0) must pair via band blocking; the unrelated
    # doc must not pass the hamming<=3 verification
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "orbits of saturn moons resonate weirdly under tidal forces"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.simhash_near_dups(df, max_hamming=3).collect()
    assert [(p.a_id, p.b_id, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_ngram_jaccard_join(spark):
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g x"),
        (3, "q r s t u v w z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.ngram_jaccard_join(df, n=2, threshold=0.5).collect()
    assert [(p.a_id, p.b_id) for p in pairs] == [(1, 2)]


def test_ngram_jaccard_join_shingles_once(spark):
    """The unblocked exact path joins one checkpointed hash-set frame
    with itself: the Python shingle pass ran before the call returned,
    and the join's plan runs it on neither side."""
    df = spark.createDataFrame(
        [(i, f"doc {i % 7} shares words with its twins") for i in range(30)],
        "doc_id long, text string",
    )
    out = dedup.ngram_jaccard_join(df, threshold=0.5)
    assert "MapInPandas" not in out._jdf.queryExecution().executedPlan().toString()
    # the 7 texts repeat 5, 5, 4, 4, 4, 4, 4 times; distinct texts share
    # 3 of 7 shingles (J = 0.43), so only the copies pair
    assert out.count() == 2 * 10 + 5 * 6


def test_embedding_near_dups(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.99, 0.01, 0.0]),
            (3, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = dedup.embedding_near_dups(df, threshold=0.95).collect()
    assert [(p.a_id, p.b_id) for p in pairs] == [(1, 2)]


# ------------------------------------------------------------------ text

def test_text_stats_basics(spark):
    df = spark.createDataFrame([(1, "Hello, world 42!")], "doc_id long, text string")
    r = text.text_stats(df).first()
    assert r.n_chars == 16
    assert r.n_tokens == 3
    assert r.n_pieces == 5  # Hello , world 42 !
    assert r.digit_ratio == pytest.approx(2 / 16, abs=1e-4)


def test_text_stats_matches_documents_n_chars(documents):
    joined = (
        text.text_stats(documents)
        .join(documents.select("doc_id", F.col("n_chars").alias("want")), "doc_id")
        .where(F.col("n_chars") != F.col("want"))
    )
    assert joined.count() == 0


def test_language_id_hits_profiles(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "el perro y la casa de los gatos"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.pred_lang for r in text.language_id(df).collect()}
    assert out == {1: "en", 2: "es"}


def test_fingerprint_stable_and_normalizing(spark):
    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.fingerprint for r in text.fingerprint(df).collect()}
    assert out[1] == out[2] != out[3]


def test_quality_score_range(documents):
    rows = text.quality_score(documents).collect()
    assert all(0.0 <= r.quality_score <= 1.0 for r in rows)


def test_unigram_logprob_orders_typical_above_rare(spark):
    df = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "common common rare1 rare2"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in text.unigram_logprob_score(df).collect()}
    # the all-common doc is more probable under the corpus distribution
    assert got[1].avg_logprob > got[2].avg_logprob
    assert got[1].n_tokens == 4 and got[2].n_tokens == 4
    assert all(r.avg_logprob < 0 for r in got.values())


# -------------------------------------------------------------- similarity

def test_normalize_embeddings(embeddings):
    out = similarity.normalize_embeddings(embeddings).limit(5).collect()
    for r in out:
        n = float(np.linalg.norm(np.array(r.unit_vec)))
        assert n == pytest.approx(1.0, abs=1e-6)


def test_knn_self_join_excludes_self(embeddings):
    out = similarity.knn_self_join(
        embeddings, k=3, where=F.col("vec_id") % 100 == 0
    ).collect()
    assert all(r.query_id != r.vec_id for r in out)
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) == 3 for v in per_q.values())


def test_lsh_similarity_join_finds_dups(spark):
    rng = np.random.default_rng(0)
    base = rng.standard_normal((20, 16)).astype("float32")
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # near-duplicate of row 0
    rows.append((100, [float(x) for x in (base[0] + 0.01 * rng.standard_normal(16))]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.lsh_similarity_join(df, max_cosine_dist=0.05).collect()
    assert any({p.a_id, p.b_id} == {0, 100} for p in pairs)


def test_approx_distinct_accuracy(spark, events):
    from pyspark.sql import functions as F

    exact_counts = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r.event_type: r.approx_users
        for r in events.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
        .collect()
    }
    for k, n in exact_counts.items():
        assert abs(approx[k] - n) <= max(1, 0.05 * n), (k, approx[k], n)


def test_empty_build_raises(spark):
    from vamana_spark import VamanaIndex, VamanaParams

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no input rows"):
        VamanaIndex.build(spark, empty, VamanaParams(dim=64))


def test_search_empty_queries(spark, embeddings):
    from vamana_spark import VamanaIndex, VamanaParams

    idx = VamanaIndex.build(
        spark, embeddings.limit(50), VamanaParams(dim=64, R=8, L=16, ef_search=16)
    )
    q = spark.createDataFrame([], "query_id long, query_vec array<float>")
    assert idx.search(q, k=3).count() == 0


def test_lsh_bucket_cap_no_quadratic_blowup(spark):
    """A planted giant duplicate cluster (1k identical docs) must not
    produce O(size^2) candidate pairs — oversized band buckets degrade to
    star topology — and the full cluster must still be recoverable via
    connected components (VERDICT r1 #5)."""
    n_dup, cap = 1000, 50
    rows = [(i, "the exact same duplicated document text " * 5) for i in range(n_dup)]
    rows += [(10_000 + i, f"unique filler document number {i} with words {i*7}")
             for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    cands = dedup.minhash_lsh_candidates(df, max_bucket_size=cap)
    pairs = cands.collect()
    # star topology: ≤ (cluster-size - 1) pairs from the giant cluster
    # (identical docs share every band → same star each band) plus a
    # handful from small buckets; all-pairs would be ~499,500.
    assert len(pairs) < 5 * n_dup, f"pair blowup: {len(pairs)}"
    cluster_pairs = [(r.a_id, r.b_id) for r in pairs if r.a_id < n_dup and r.b_id < n_dup]
    cc = dedup.connected_components(
        spark.createDataFrame(cluster_pairs, "a_id long, b_id long"), "a_id", "b_id"
    )
    comp_sizes = cc.groupBy("component").count().collect()
    assert max(r["count"] for r in comp_sizes) == n_dup


def test_lsh_cap_preserves_small_bucket_semantics(documents):
    """With a cap far above any real bucket size the capped path must be
    pair-for-pair identical to the uncapped all-pairs semantics."""
    lo = dedup.minhash_lsh_candidates(documents, max_bucket_size=10**9)
    hi = dedup.minhash_lsh_candidates(documents, max_bucket_size=512)
    a = {(r.a_id, r.b_id) for r in lo.collect()}
    b = {(r.a_id, r.b_id) for r in hi.collect()}
    assert a == b


def test_lsh_candidates_match_band_equality_oracle(spark):
    """Candidates equal a plain-Python band-equality oracle over the
    collected signatures, which uses no band hash: every pair that
    agrees on all values of some band, except that a bucket over the
    cap contributes only (min id, member) pairs. ~300 docs in planted
    groups of near-copies, plus one 20-doc identical cluster that is
    over a cap of 8 and under 512."""
    import itertools

    rng = np.random.default_rng(5)
    rows, did = [], 0
    while did < 280:
        base = [f"g{did}w{j}" for j in range(20)]
        for v in range(int(rng.integers(1, 5))):
            toks = list(base)
            for pos in rng.integers(0, 20, v):
                toks[int(pos)] = f"m{did}x{int(pos)}"
            rows.append((did, " ".join(toks)))
            did += 1
    rows += [(1000 + i, "one identical cluster text for the cap " * 3) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r.doc_id: list(r.minhash) for r in dedup.minhash_signatures(df).collect()}

    def oracle(cap, bands=16, rpb=4):
        out = set()
        for b in range(bands):
            buckets = {}
            for i, sig in sigs.items():
                buckets.setdefault(tuple(sig[b * rpb:(b + 1) * rpb]), []).append(i)
            for ids in buckets.values():
                ids.sort()
                if len(ids) > cap:
                    out |= {(ids[0], j) for j in ids[1:]}
                else:
                    out |= set(itertools.combinations(ids, 2))
        return out

    for cap in (512, 8):
        want = oracle(cap)
        got = [(r.a_id, r.b_id) for r in dedup.minhash_lsh_candidates(df, max_bucket_size=cap).collect()]
        assert len(got) == len(set(got)), cap
        assert set(got) == want, (cap, len(got), len(want))
    # the fixture exercises both bucket kinds
    assert len(oracle(512)) - len(oracle(8)) == 190 - 19


def test_bucket_pairs_across_arrow_batches(spark):
    """The bucket walk carries the bucket still open at an Arrow batch's
    end into the next batch. With batches of 3 rows, identical clusters
    of 7, 8, 9 and 20 members span several batches: within and over a
    cap of 8, and one member either side of it. The candidates of
    ``minhash_lsh_candidates`` at caps 512 and 8, and the pairs of
    ``simhash_near_dups``, equal plain-Python bucket oracles over the
    collected signatures."""
    import itertools

    rows = [(g * 10 + v, " ".join(f"g{g}w{j}" if j != v else f"m{g}x{v}" for j in range(12)))
            for g in range(12) for v in range(3)]
    for c, size in enumerate((7, 8, 9, 20)):
        rows += [(1000 * (c + 1) + i, f"identical cluster {c} text " * 4) for i in range(size)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mh = {r.doc_id: list(r.minhash) for r in dedup.minhash_signatures(df).collect()}
    sh = {r.doc_id: r.simhash for r in dedup.simhash_signatures(df).collect()}

    def oracle(keys, cap):
        buckets = {}
        for i, ks in keys.items():
            for k in ks:
                buckets.setdefault(k, []).append(i)
        out = set()
        for ids in buckets.values():
            ids.sort()
            out |= {(ids[0], j) for j in ids[1:]} if len(ids) > cap else set(itertools.combinations(ids, 2))
        return out

    mh_keys = {i: [(b, tuple(s[4 * b:4 * b + 4])) for b in range(16)] for i, s in mh.items()}
    sh_keys = {i: [(b, (s >> 16 * b) & 0xFFFF) for b in range(4)] for i, s in sh.items()}
    ham = {(a, b) for a, b in oracle(sh_keys, 512) if bin((sh[a] ^ sh[b]) & (2**64 - 1)).count("1") <= 3}
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        for cap in (512, 8):
            got = [(r.a_id, r.b_id) for r in dedup.minhash_lsh_candidates(df, max_bucket_size=cap).collect()]
            assert len(got) == len(set(got)) and set(got) == oracle(mh_keys, cap), cap
        got = [(r.a_id, r.b_id) for r in dedup.simhash_near_dups(df, max_hamming=3).collect()]
        assert len(got) == len(set(got)) and set(got) == ham
    finally:
        spark.conf.set(key, old)
    # cap 8 stars the 9- and 20-member clusters only
    assert len(oracle(mh_keys, 512)) - len(oracle(mh_keys, 8)) == (36 - 8) + (190 - 19)


def test_hash_set_jaccard_matches_string_sets(spark):
    """The one verify (``_shingle_hash_sets`` and ``_hash_set_jaccard``)
    equals a Python Jaccard over the ``_shingles_py`` string sets on
    edge texts: empty and null text, fewer than n tokens, U+00A0 inside
    a text, repeated shingles. The exact n-gram join and the
    cross-snapshot scan emit the same values on the same texts."""
    import itertools

    texts = ["", None, "two words", "Two  WORDS", "a b c d e", "a\u00a0b c d e",
             "a b c a b c a b c", "a b c a b c", "c a b"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    pairs = list(itertools.combinations(range(len(texts)), 2))
    cands = spark.createDataFrame(pairs, "a_id long, b_id long")
    hs = dedup._shingle_hash_sets(df)
    got = {(r.a_id, r.b_id): r.jaccard
           for r in dedup._hash_set_jaccard(
               dedup._pair_hash_sets(cands, hs, "doc_id"), 0.0, "a_id", "b_id").collect()}

    def jaccard(s, t):
        a, b = set(dedup._shingles_py(s, 3)), set(dedup._shingles_py(t, 3))
        return round(len(a & b) / len(a | b), 4)

    want = {(i, j): jaccard(texts[i], texts[j]) for i, j in pairs}
    assert got == want
    # the edge texts pair up as the string rule says
    assert got[(0, 1)] == 1.0 and got[(2, 3)] == 1.0 and got[(4, 5)] == 1.0 and got[(6, 7)] == 1.0
    # the exact join scores every pair
    ngram = {(r.a_id, r.b_id): r.jaccard
             for r in dedup.ngram_jaccard_join(df, threshold=0.0).collect()}
    assert ngram == want
    # the cross-snapshot scan: batch doc 100 + i against corpus doc j;
    # it emits LSH candidates only, and identical texts always collide
    batch = df.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    inc = {(r.batch_id - 100, r.seen_id): r.jaccard
           for r in dedup.incremental_near_dups(batch, df, threshold=0.0).collect()}
    assert all(j == jaccard(texts[i], texts[k]) for (i, k), j in inc.items())
    same = [(i, i) for i in range(len(texts))] + [p for p, j in want.items() if j == 1.0]
    assert all(inc[(i, k)] == 1.0 and inc[(k, i)] == 1.0 for i, k in same)


@pytest.mark.parametrize(
    "call",
    [
        lambda df, d: dedup.band_hash_array("minhash", 64, 7),
        lambda df, d: dedup.minhash_lsh_candidates(df, bands=7),
        lambda df, d: dedup.minhash_lsh_candidates(df, bands=0),
        lambda df, d: dedup.minhash_near_dups(df, bands=7),
        lambda df, d: dedup.incremental_near_dups(df, df, bands=7),
        lambda df, d: dedup.save_signatures(df, d, bands=7),
        lambda df, d: dedup.simhash_near_dups(df, bands=5),
        lambda df, d: dedup.simhash_near_dups(df, max_hamming=4, bands=4),
    ],
    ids=["band_hash_array", "lsh_candidates", "lsh_candidates_zero", "near_dups",
         "incremental", "save_signatures", "simhash_bands", "simhash_radius"],
)
def test_banding_parameters_raise_value_error(spark, tmp_path, call):
    """Banding that cannot cut the signature evenly (or, for SimHash, a
    radius the bands cannot guarantee) fails at the call with a
    ValueError naming the values, not later inside a Python worker; a
    signature store is not written with such parameters."""
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    d = str(tmp_path / "store")
    with pytest.raises(ValueError, match=r"bands=\d+"):
        call(df, d)
    assert not os.path.exists(d)


def test_band_keys_match_python_reference(spark):
    """``_band_keys`` is the splitmix64 fold of each band's exact values,
    computed here with Python integers, and ``band_hash_array`` (the
    Column form) and ``_band_rows`` (the candidate path, which signs the
    text itself) both emit it."""
    mask = (1 << 64) - 1

    def mix(z):
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
        return z ^ (z >> 31)

    def key(vals):
        acc = 0x9E3779B97F4A7C15
        for v in vals:
            acc = mix(acc ^ (v & mask))
        return acc - (1 << 64) if acc >> 63 else acc

    rng = np.random.default_rng(3)
    sig = rng.integers(-(2**63), 2**63 - 1, size=(5, 64), dtype=np.int64)
    want = [[key(row[b * 4:(b + 1) * 4].tolist()) for b in range(16)] for row in sig]
    assert dedup._band_keys(sig.view(np.uint64), 16).tolist() == want

    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(sig)], "doc_id long, minhash array<long>"
    )
    col = {r.doc_id: r.k for r in df.select("doc_id", dedup.band_hash_array("minhash", 64, 16).alias("k")).collect()}
    assert [col[i] for i in range(5)] == want

    docs = spark.createDataFrame(
        [(i, f"document {i} has a few words of text") for i in range(5)], "doc_id long, text string"
    )
    sigs = {r.doc_id: r.minhash for r in dedup.minhash_signatures(docs).collect()}
    rows = dedup._band_rows(docs, "text", "doc_id", 64, 16, 3).collect()
    assert sorted((r.doc_id, r.band_id, r.band_hash) for r in rows) == [
        (i, b, key(sigs[i][b * 4:(b + 1) * 4])) for i in range(5) for b in range(16)
    ]


def test_chunk_tokens_reassembles_and_strides(documents):
    # non-overlapping chunks concatenate back to the original token stream
    out = text.chunk_tokens(documents, max_len=16).orderBy("doc_id", "chunk_id")
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    orig = {
        r.doc_id: [t for t in r.text.split() if t]
        for r in documents.select("doc_id", "text").collect()
    }
    for doc_id, chunks in by_doc.items():
        toks = " ".join(c.chunk_text for c in chunks if c.chunk_text).split()
        assert toks == orig[doc_id], doc_id
        assert all(c.n_chunk_tokens <= 16 for c in chunks)
        # chunk_id is dense from 0, starts advance by the stride
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
    # overlapping windows: stride 8 doubles coverage of interior tokens
    ov = text.chunk_tokens(documents, max_len=16, stride=8)
    n_cover = ov.agg(F.sum("n_chunk_tokens")).first()[0]
    n_orig = sum(len(v) for v in orig.values())
    assert n_cover > n_orig  # strict overlap happened somewhere


def test_random_vectors_deterministic_and_partition_invariant(spark):
    from vamana_spark.sources.random_vectors import random_vectors

    a = random_vectors(spark, 50, 8, seed=3, num_partitions=1).collect()
    b = random_vectors(spark, 50, 8, seed=3, num_partitions=7).collect()
    av = {r.vec_id: r.embedding for r in a}
    bv = {r.vec_id: r.embedding for r in b}
    assert av == bv  # layout-independent
    flat = [x for v in av.values() for x in v]
    assert all(-1.0 <= x < 1.0 for x in flat)
    assert len(set(flat)) > len(flat) * 0.99  # no degenerate collisions
    c = {r.vec_id: r.embedding for r in random_vectors(spark, 50, 8, seed=4).collect()}
    assert c != av  # seed changes the stream


def test_pii_scrub_replaces_each_class(spark):
    from vamana_spark.operators.text import pii_scrub

    rows = [
        (1, "write to jane.doe+x@corp.example.org today"),
        (2, "ssn is 123-45-6789 ok"),
        (3, "server at 192.168.0.17 responded"),
        (4, "call +1 (415) 555-0199 now"),
        (5, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in pii_scrub(df).collect()}
    assert got[1] == "write to <EMAIL> today"
    assert got[2] == "ssn is <SSN> ok"
    assert got[3] == "server at <IP> responded"
    assert got[4] == "call <PHONE> now"
    assert got[5] == "no pii here at all"


def test_bm25_matches_hand_computation(spark):
    """BM25 on a 3-doc corpus vs the formula computed by hand: the doc
    that repeats the query term most (relative to its length) wins, a
    doc with zero matching terms never appears, and the scores equal
    the Lucene-variant formula to the 4-digit rounding."""
    import math

    from vamana_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "cat cat cat dog"),
            (2, "cat bird bird bird bird bird bird bird"),
            (3, "fish fish fish fish"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.bm25 for r in T.bm25_rank(docs, ["cat"]).collect()}
    assert set(out) == {1, 2}  # doc 3 has no query term
    n_docs, df, k1, b = 3.0, 2.0, 1.2, 0.75
    avgdl = (4 + 8 + 4) / 3.0
    idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)

    def score(tf, dl):
        return round(
            idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl)), 4
        )

    assert out[1] == score(3.0, 4.0)
    assert out[2] == score(1.0, 8.0)
    assert out[1] > out[2]


def test_bm25_batch_equals_per_probe_single(spark):
    """bm25_rank_batch must reproduce bm25_rank exactly, probe by probe
    — same scores to the 4-digit rounding, same top-n membership and
    rank order — including probes with repeated terms (deduped), terms
    absent from the corpus, and probes sharing terms."""
    from vamana_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "cat cat cat dog"),
            (2, "cat bird bird bird bird bird bird bird"),
            (3, "fish fish fish fish"),
            (4, "dog fish cat dog"),
            (5, "bird cat"),
        ],
        "doc_id long, text string",
    )
    probe_terms = {
        0: ["cat"],
        1: ["cat", "dog"],
        2: ["bird", "bird", "fish"],  # dupes collapse
        3: ["unicorn"],  # absent from corpus -> no rows
        4: ["dog", "unicorn", "cat"],
    }
    probes = spark.createDataFrame(
        sorted(probe_terms.items()), "probe_id long, terms array<string>"
    )
    got: dict = {}
    for r in T.bm25_rank_batch(docs, probes, top_n=3).collect():
        got.setdefault(r.probe_id, []).append((r.rank, r.doc_id, r.bm25))
    for pid, terms in probe_terms.items():
        want = [
            (i + 1, r.doc_id, r.bm25)
            for i, r in enumerate(T.bm25_rank(docs, terms, top_n=3).collect())
        ]
        assert sorted(got.get(pid, [])) == want, (pid, got.get(pid), want)


def test_bm25_batch_high_df_probe_stays_correct(spark):
    """r9 skew shape (VERDICT r8 #6): a probe whose term matches EVERY
    document (the stop-word-ish worst case that used to serialize its
    entire (probe, doc) set into one task via repartition(probe_id))
    must still return the exact per-probe top-n — the map-side partial
    cut is lossless under the (bm25 desc, doc_id asc) tie-break, even
    when the aggregate's partitions each hold many candidate rows for
    the same probe."""
    from vamana_spark.operators import text as T

    # 400 docs, every one contains "the"; a handful also contain "rare"
    docs = spark.createDataFrame(
        [
            (i, "the common filler " + ("rare " if i % 97 == 0 else "") + f"w{i}")
            for i in range(400)
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(0, ["the"]), (1, ["rare"]), (2, ["the", "rare"])],
        "probe_id long, terms array<string>",
    )
    got: dict = {}
    for r in T.bm25_rank_batch(docs, probes, top_n=5).collect():
        got.setdefault(r.probe_id, []).append((r.rank, r.doc_id, r.bm25))
    for pid, terms in {0: ["the"], 1: ["rare"], 2: ["the", "rare"]}.items():
        want = [
            (i + 1, r.doc_id, r.bm25)
            for i, r in enumerate(T.bm25_rank(docs, terms, top_n=5).collect())
        ]
        assert sorted(got[pid]) == want, (pid, got[pid], want)
    # every probe returns exactly top_n rows (400 candidates cut to 5)
    assert all(len(v) == 5 for v in got.values()), got


def test_gopher_filter_rules_fire_individually(spark):
    from vamana_spark.operators.text import gopher_quality_filter

    good = (
        "the cat sat with the dog and that was all they have done today " * 5
    ).strip()  # 65 words, stopword-rich, all alphabetic
    rows = [
        (1, good),
        (2, "short doc here"),  # fails word-count floor
        (3, good + " ###### #### ##### ### " * 6),  # symbol ratio blown
        (4, ("42 " * 30 + "the cat have " * 10).strip()),  # alpha frac low
        (5, "\n".join(["- bullet point here"] * 10)),  # all-bullet lines
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_quality_filter(df).collect()}
    assert got[1].gopher_pass
    assert not got[2].gopher_pass and got[2].n_words == 3
    assert not got[3].gopher_pass and got[3].hash_word_ratio > 0.1
    assert got[4].alpha_word_frac < 1.0
    assert not got[5].gopher_pass and got[5].bullet_line_frac == 1.0
    assert got[1].stop_hits >= 2


def test_c4_clean_keeps_only_terminal_sentences(spark):
    from vamana_spark.operators.text import c4_clean

    doc = "\n".join(
        [
            "This is a proper sentence.",
            "no punct line with words",
            "Short.",  # < 3 words
            "We use javascript here, sadly.",
            'A quoted line ends well."',
            "Another good sentence ends here!",
        ]
    )
    rows = [(1, doc), (2, "Lorem ipsum only { x }. But has sentences. Three of them here.")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in c4_clean(df, min_sentences=2).collect()}
    assert got[1].n_lines == 6 and got[1].n_kept == 3
    assert "javascript" not in got[1].clean_text
    assert "no punct" not in got[1].clean_text
    assert got[1].doc_pass
    # lorem ipsum + brace veto the doc even with enough sentences
    assert not got[2].doc_pass and got[2].n_sentences >= 2


def test_pack_documents_prefix_sum_layout(documents):
    from vamana_spark.operators.text import pack_documents

    out = pack_documents(documents, budget=64, n_buckets=4).collect()
    assert len(out) == documents.count()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r.bucket, []).append(r)
    for b, rows in by_bucket.items():
        rows.sort(key=lambda r: r.doc_id)
        run = 0
        for r in rows:
            assert r.tok_offset == run  # contiguous concatenation
            assert r.seq_bin == run // 64
            assert r.begin_pos == run % 64
            expect_straddle = r.n_tokens > 0 and (
                (run + r.n_tokens - 1) // 64 != run // 64
            )
            assert r.straddles == expect_straddle
            run += r.n_tokens


def test_mixture_sample_fractions_and_stability(documents, spark):
    out = sampling.mixture_sample(
        documents, {"src0": 1.0, "src1": 0.5, "src2": 0.0}, default_fraction=0.2
    )
    by_src = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    totals = {
        r["source"]: r["n"]
        for r in documents.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_src.get("src0") == totals["src0"]  # keep-all really keeps all
    assert "src2" not in by_src  # zero fraction drops everything
    assert 0 < by_src.get("src1", 0) < totals["src1"]
    # membership is layout-independent: repartitioned input -> same rows
    ids_a = {r.doc_id for r in out.collect()}
    ids_b = {
        r.doc_id
        for r in sampling.mixture_sample(
            documents.repartition(7),
            {"src0": 1.0, "src1": 0.5, "src2": 0.0},
            default_fraction=0.2,
        ).collect()
    }
    assert ids_a == ids_b
    with pytest.raises(ValueError):
        sampling.mixture_sample(documents, {"src0": 1.5})
    # 1-ulp-under-1.0 scales to exactly 16^8: must keep ALL rows, not
    # fall into the 9-hex-char threshold trap ('100000000' sorts low)
    near_one = 0.9999999999999999
    kept = sampling.mixture_sample(
        documents, {"src0": near_one}, default_fraction=0.0
    )
    assert kept.count() == totals["src0"]


def test_temperature_mixture_rebalances_toward_uniform(documents, spark):
    totals = {
        r["source"]: r["n"]
        for r in documents.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    smallest = min(totals, key=totals.get)
    out = sampling.temperature_mixture(documents, temperature=0.5)
    by_src = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # the most-upweighted (smallest) group keeps every row
    assert by_src.get(smallest) == totals[smallest]
    # every other group is downsampled toward n_i^tau: expected kept
    # count is n_i * (n_small/n_i)^(1-tau) = sqrt(n_small * n_i)
    import math

    for src, n in totals.items():
        if src == smallest:
            continue
        expect = math.sqrt(totals[smallest] * n)
        assert 0 < by_src.get(src, 0) <= n
        assert abs(by_src[src] - expect) <= max(6, 0.35 * expect)
    # tau=1 is the identity — including rows whose group is NULL (a
    # plain equi-join on the group would silently drop them)
    with_null = documents.withColumn(
        "source",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("source")),
    )
    assert (
        sampling.temperature_mixture(with_null, temperature=1.0).count()
        == documents.count()
    )
    nulls_kept = (
        sampling.temperature_mixture(with_null, temperature=0.5)
        .where(F.col("source").isNull())
        .count()
    )
    assert nulls_kept > 0  # the NULL group participates, not dropped
    # membership is layout-independent
    ids_a = {r.doc_id for r in out.select("doc_id").collect()}
    ids_b = {
        r.doc_id
        for r in sampling.temperature_mixture(
            documents.repartition(7), temperature=0.5
        ).select("doc_id").collect()
    }
    assert ids_a == ids_b
    with pytest.raises(ValueError):
        sampling.temperature_mixture(documents, temperature=0.0)


def test_shuffle_export_deterministic_order(documents, spark):
    out = sampling.shuffle_export(documents, num_shards=8)
    rows = {(r.doc_id): (r.shard, r.pos) for r in out.collect()}
    assert len(rows) == documents.count()
    # positions are dense 0..n_s-1 within each shard
    by_shard = {}
    for _, (sh, pos) in rows.items():
        by_shard.setdefault(sh, []).append(pos)
    for sh, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), sh
    # shards are roughly balanced (md5 uniformity)
    sizes = [len(v) for v in by_shard.values()]
    assert len(by_shard) == 8 and max(sizes) < 2.5 * min(sizes)
    # identical assignment + order under a different partition layout
    rows_b = {
        r.doc_id: (r.shard, r.pos)
        for r in sampling.shuffle_export(
            documents.repartition(7), num_shards=8
        ).collect()
    }
    assert rows == rows_b
    with pytest.raises(ValueError):
        sampling.shuffle_export(documents, num_shards=0)


def test_dsir_weights_tilt_toward_planted_target(spark):
    # target docs share a distinctive vocabulary; raw docs don't. DSIR
    # weights must rank every target-vocab doc above every off-vocab doc.
    rows = (
        [(i, "quantum flux capacitor resonance " * 3, True) for i in range(6)]
        + [(i + 10, "mundane filler words everywhere " * 3, False) for i in range(6)]
        + [(100, "quantum flux capacitor resonance " * 3, False)]  # off-target twin
        + [(101, "", False)]  # empty doc: weight 0, n_feats 0
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, is_en boolean")
    w = sampling.dsir_log_weights(df, F.col("is_en"), num_buckets=512).collect()
    by_id = {r.doc_id: r for r in w}
    assert by_id[101].n_feats == 0 and by_id[101].log_weight == 0.0
    tgt_vocab = [by_id[i].log_weight for i in range(6)] + [by_id[100].log_weight]
    off_vocab = [by_id[i + 10].log_weight for i in range(6)]
    assert min(tgt_vocab) > max(off_vocab)
    # the off-target twin scores identically to the target docs: the
    # weight is a function of CONTENT, not the membership flag
    assert abs(by_id[100].log_weight - by_id[0].log_weight) < 1e-9


def test_dsir_sample_deterministic_and_tilted(documents):
    s1 = sampling.dsir_sample(documents, F.col("lang") == "en", n=40, seed=7)
    ids1 = sorted(r.doc_id for r in s1.select("doc_id").collect())
    s2 = sampling.dsir_sample(
        documents.repartition(7), F.col("lang") == "en", n=40, seed=7
    )
    ids2 = sorted(r.doc_id for r in s2.select("doc_id").collect())
    assert ids1 == ids2 and len(ids1) == 40
    # the resample should over-represent the target class vs its base rate
    n = documents.count()
    n_en = documents.where(F.col("lang") == "en").count()
    en_in_sample = s1.where(F.col("is_target")).count()
    assert en_in_sample / 40 > n_en / n
    with pytest.raises(ValueError):
        sampling.dsir_sample(documents, F.col("lang") == "en", n=5, temperature=0)


def test_dedup_lines_first_occurrence_wins(spark):
    docs = [
        (1, "alpha unique one\nSHARED BOILERPLATE\n"),
        (2, "beta unique two\nSHARED BOILERPLATE\nbeta tail"),
        (3, "SHARED BOILERPLATE\ngamma unique"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.dedup_lines(df).collect()}
    # doc 1 keeps everything (first occurrence of the shared line;
    # its empty trailing line bypasses dedup via min_chars)
    assert got[1].text == "alpha unique one\nSHARED BOILERPLATE\n"
    assert got[1].n_lines == 3 and got[1].n_kept == 3
    # later docs lose only the shared line, order preserved
    assert got[2].text == "beta unique two\nbeta tail"
    assert got[3].text == "gamma unique"
    assert got[3].n_lines == 2 and got[3].n_kept == 1


def test_pack_documents_properties(spark):
    """Property check: packing is a per-bucket prefix sum — token mass
    conserved, begin_pos bounded by the budget, layout invariant under
    input partitioning."""
    from hypothesis import given, settings, strategies as st

    from vamana_spark.operators.text import pack_documents

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=40), min_size=1, max_size=60
        ),
        st.integers(min_value=1, max_value=64),
    )
    def prop(tok_counts, budget):
        rows = [(i, "w " * c) for i, c in enumerate(tok_counts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = pack_documents(df, budget=budget, n_buckets=3).collect()
        assert sum(r.n_tokens for r in out) == sum(tok_counts)
        for r in out:
            assert 0 <= r.begin_pos < budget
            assert r.seq_bin == r.tok_offset // budget
        # partition-layout invariance
        out2 = pack_documents(
            df.repartition(5), budget=budget, n_buckets=3
        ).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, out2))

    prop()


def test_dedup_lines_idempotent(documents):
    once = dedup.dedup_lines(documents)
    twice = dedup.dedup_lines(once)
    a = {r.doc_id: r.text for r in once.collect()}
    b = {r.doc_id: r.text for r in twice.collect()}
    assert a == b  # a deduplicated corpus has nothing left to drop


def test_frequent_tokens_exact_above_threshold(documents, spark):
    from vamana_spark.operators.text import frequent_tokens

    got = {r.token: r.freq for r in frequent_tokens(documents, support=0.01).collect()}
    # exact reference: full groupBy on the small corpus
    toks = documents.select(F.explode(F.split("text", r"\s+")).alias("t")).where(
        F.col("t") != ""
    )
    n = toks.count()
    exact_counts = {
        r.t: r.c
        for r in toks.groupBy("t").agg(F.count("*").alias("c")).collect()
        if r.c > 0.01 * n
    }
    assert got == exact_counts and got  # identical, non-empty
    with pytest.raises(ValueError):
        frequent_tokens(documents, support=0.0)


def test_hash_embed_deterministic_normalized(documents):
    out1 = {r.doc_id: list(r.embedding) for r in similarity.hash_embed(documents, dim=16).collect()}
    out2 = {
        r.doc_id: list(r.embedding)
        for r in similarity.hash_embed(documents.repartition(7), dim=16).collect()
    }
    assert out1 == out2  # deterministic, layout-invariant
    for v in out1.values():
        n = sum(x * x for x in v) ** 0.5
        assert abs(n - 1.0) < 1e-5  # L2-normalized
    # seed changes the embedding space
    out3 = {r.doc_id: list(r.embedding) for r in similarity.hash_embed(documents, dim=16, seed=7).collect()}
    assert out3 != out1


def test_duplicate_spans_planted(spark):
    from vamana_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        # shared run embedded at different positions, unique elsewhere
        (0, "u0a u0b " + shared + " u0c"),            # span tokens 3..10
        (1, shared + " v1a v1b v1c v1d"),             # span tokens 1..8
        # doc with only internal repetition: min_docs counts DISTINCT
        # docs, so a phrase repeated within one doc alone is not a dup
        (2, "solo one two three four solo one two three four"),
        # too short for a 5-shingle
        (3, "tiny doc here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end): r.n_span_tokens
        for r in dedup.duplicate_spans(df, k=5, min_docs=2).collect()
    }
    assert got == {(0, 3, 10): 8, (1, 1, 8): 8}


def test_duplicate_spans_merges_adjacent_runs(spark):
    from vamana_spark.operators import dedup

    # two duplicated 5-gram runs separated by a gap of exactly k start
    # positions merge into one maximal span; a wider gap stays two spans
    a = "p1 p2 p3 p4 p5"
    b = "q1 q2 q3 q4 q5"
    rows = [
        (0, a + " x1 x2 x3 x4 " + b),      # starts 1 and 10: gap 9 > 5 -> two spans
        (1, a + " " + b),                  # starts 1 and 6: gap 5 <= 5 -> one span
        (2, a + " zz " + a),               # a duplicated corpus-wide
        (3, b + " yy " + b),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in dedup.duplicate_spans(df, k=5, min_docs=2).collect()
    )
    assert (1, 1, 10) in got                      # merged maximal span
    assert (0, 1, 5) in got and (0, 10, 14) in got  # unmerged pair


def test_semantic_dedup_planted_groups(spark):
    import numpy as np

    from vamana_spark.operators import dedup

    rng = np.random.default_rng(7)
    base = rng.standard_normal((6, 16)).astype(float)
    rows = []
    # ids 0..5: distinct random directions (pairwise cos << 0.9)
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # ids 10..15: exact duplicates (scaled) of ids 0..5
    for i, v in enumerate(base):
        rows.append((10 + i, [float(2.0 * x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in dedup.semantic_dedup(
        df, threshold=0.95, num_clusters=2, seed=1
    ).collect()}
    assert len(out) == 12
    for i in range(6):
        assert out[i].keep, f"original {i} must survive"
        assert not out[10 + i].keep, f"copy {10+i} must drop"
        assert out[10 + i].dup_of == i
        assert abs(out[10 + i].max_sim - 1.0) < 1e-9


def test_semantic_dedup_greedy_chain(spark):
    import numpy as np

    from vamana_spark.operators import dedup

    # a ~ b and b ~ c but a !~ c: greedy min-id keeps a, drops b (dup_of
    # a) and c (dup_of b — which is itself dropped: documented greedy)
    a = np.array([1.0, 0.0])
    b = np.array([np.cos(0.25), np.sin(0.25)])
    c = np.array([np.cos(0.5), np.sin(0.5)])
    df = spark.createDataFrame(
        [(0, a.tolist()), (1, b.tolist()), (2, c.tolist())],
        "vec_id long, embedding array<double>",
    )
    thr = float(np.cos(0.3))  # a·b and b·c above, a·c below
    out = {r.vec_id: r for r in dedup.semantic_dedup(
        df, threshold=thr, num_clusters=1, seed=1
    ).collect()}
    assert out[0].keep
    assert not out[1].keep and out[1].dup_of == 0
    assert not out[2].keep and out[2].dup_of == 1


def test_semantic_dedup_zero_vector_survives(spark):
    from vamana_spark.operators import dedup

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    # zero vectors normalize to zero -> cosine 0 with everything,
    # including each other: all three survive
    out = dedup.semantic_dedup(df, threshold=0.5, num_clusters=1, seed=1)
    assert all(r.keep for r in out.collect())


def test_cut_duplicate_spans_removes_planted_run(spark):
    from vamana_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (0, "u0a u0b " + shared + " u0c"),
        (1, shared + " v1a v1b v1c v1d"),
        (2, "no dups in this one at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.cut_duplicate_spans(
        df, k=5, min_docs=2
    ).collect()}
    assert got[0].text == "u0a u0b u0c"
    assert (got[0].n_tokens, got[0].n_kept_tokens) == (11, 3)
    assert got[1].text == "v1a v1b v1c v1d"
    assert got[2].text == "no dups in this one at all"
    assert got[2].n_kept_tokens == got[2].n_tokens == 7


def test_duplicate_spans_matches_bruteforce_property(spark):
    """Random small-vocab corpora: the distributed shingle-inventory
    span detector must equal a brute-force dict-based reference."""
    import numpy as np

    from vamana_spark.operators import dedup

    def ref_spans(docs, k, min_docs):
        from collections import defaultdict

        occ = defaultdict(set)
        toks = {d: t.lower().split() for d, t in docs}
        for d, t in toks.items():
            for i in range(len(t) - k + 1):
                occ[tuple(t[i : i + k])].add(d)
        dup = {s for s, ds in occ.items() if len(ds) >= min_docs}
        out = set()
        for d, t in toks.items():
            starts = [
                i + 1
                for i in range(len(t) - k + 1)
                if tuple(t[i : i + k]) in dup
            ]
            run = []
            for p in starts + [None]:
                if run and (p is None or p - run[-1] > k):
                    out.add((d, run[0], run[-1] + k - 1))
                    run = []
                if p is not None:
                    run.append(p)
        return out

    rng = np.random.default_rng(123)
    vocab = [f"w{i}" for i in range(6)]  # tiny vocab forces collisions
    for trial in range(3):
        docs = [
            (d, " ".join(rng.choice(vocab, size=rng.integers(1, 30))))
            for d in range(8)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r.doc_id, r.span_start, r.span_end)
            for r in dedup.duplicate_spans(df, k=3, min_docs=2).collect()
        }
        want = ref_spans(docs, 3, 2)
        assert got == want, f"trial {trial}: {got ^ want}"


def test_semantic_dedup_matches_bruteforce_property(spark):
    """num_clusters=1 removes the blocking: the operator must equal a
    brute-force greedy min-id reference on random vector sets."""
    import numpy as np

    from vamana_spark.operators import dedup

    def ref(vecs, thr):
        ids = sorted(vecs)
        U = {}
        for i in ids:
            v = np.asarray(vecs[i], dtype=float)
            n = np.linalg.norm(v)
            U[i] = v / n if n > 0 else v
        out = {}
        for gi, g in enumerate(ids):
            best, best_sim = None, -np.inf
            for h in ids[:gi]:
                s = float(U[g] @ U[h])
                if s > best_sim:  # ties -> smallest id (first wins)
                    best, best_sim = h, s
            if best is not None and best_sim >= thr:
                out[g] = (False, best)
            else:
                out[g] = (True, None)
        return out

    rng = np.random.default_rng(11)
    for trial in range(3):
        # low-dim vectors force plenty of above-threshold pairs
        vecs = {
            int(i): rng.standard_normal(3).tolist() for i in range(12)
        }
        df = spark.createDataFrame(
            list(vecs.items()), "vec_id long, embedding array<double>"
        )
        got = {
            r.vec_id: (r.keep, r.dup_of)
            for r in dedup.semantic_dedup(
                df, threshold=0.8, num_clusters=1, seed=5
            ).collect()
        }
        assert got == ref(vecs, 0.8), f"trial {trial}"


def test_bigram_logprob_hand_case(spark):
    import math

    from vamana_spark.operators import text as T

    # corpus: "a b a b", "a c", "solo"; vocab {a,b,c,solo} -> V=4;
    # contexts: c(a .)=3, c(b .)=1; bigrams: a b (x2), b a, a c
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a c"), (2, "solo")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in T.bigram_logprob_score(df, smoothing=0.5).collect()}
    V = 4.0
    lp_ab = math.log((2 + 0.5) / (3 + 0.5 * V))
    lp_ba = math.log((1 + 0.5) / (1 + 0.5 * V))
    lp_ac = math.log((1 + 0.5) / (3 + 0.5 * V))
    exp0 = (lp_ab + lp_ba + lp_ab) / 3
    assert got[0].n_bigrams == 3
    assert abs(got[0].avg_bigram_logprob - round(exp0, 6)) < 1e-9
    assert abs(got[0].bigram_ppl - round(math.exp(-exp0), 4)) < 1e-9
    assert got[1].n_bigrams == 1
    assert abs(got[1].avg_bigram_logprob - round(lp_ac, 6)) < 1e-9
    assert 2 not in got  # <2 tokens -> no bigrams -> absent


def test_random_projection_paths_agree_and_preserve_distance(spark):
    import numpy as np

    from vamana_spark.operators.similarity import random_projection

    rng = np.random.default_rng(9)
    X = rng.standard_normal((40, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    fast = {r.vec_id: np.array(r.projected)
            for r in random_projection(df, out_dim=16, seed=7).collect()}
    fold = {r.vec_id: np.array(r.projected)
            for r in random_projection(df, out_dim=16, seed=7, arrow=False).collect()}
    assert set(fast) == set(fold) == set(range(40))
    for i in range(40):
        # same values up to float64 summation order
        assert np.allclose(fast[i], fold[i], atol=1e-9), i

    # JL sanity: projected pairwise sq-distances concentrate around the
    # originals (loose 3x band — 16 dims is a coarse sketch)
    P = np.stack([fast[i] for i in range(40)])
    d_orig = ((X[:, None, :].astype(np.float64) - X[None]) ** 2).sum(-1)
    d_proj = ((P[:, None, :] - P[None]) ** 2).sum(-1)
    iu = np.triu_indices(40, 1)
    ratio = d_proj[iu] / d_orig[iu]
    assert 0.3 < np.median(ratio) < 3.0
    assert (ratio > 0.05).all() and (ratio < 20.0).all()


def test_group_centroids_hand_case(spark):
    from vamana_spark.operators.similarity import group_centroids

    df = spark.createDataFrame(
        [
            (0, "a", [1.0, 3.0]),
            (1, "a", [3.0, 5.0]),
            (2, "b", [10.0, -2.0]),
        ],
        "vec_id long, label string, embedding array<double>",
    )
    got = {
        (r.label, r.i): (r.centroid, r.n_members)
        for r in group_centroids(df).collect()
    }
    assert got == {
        ("a", 0): (2.0, 2),
        ("a", 1): (4.0, 2),
        ("b", 0): (10.0, 1),
        ("b", 1): (-2.0, 1),
    }


def test_nearest_centroid_hand_case(spark):
    from vamana_spark.operators.similarity import nearest_centroid_classify

    # two tight clusters around (0,0) and (10,10)
    rows = [
        (0, 0, [0.0, 0.1]), (1, 0, [0.1, -0.1]),
        (2, 1, [10.0, 9.9]), (3, 1, [9.9, 10.1]),
        # mislabeled point sitting in cluster 1's region: nearest-mean
        # must assign it pred_label 1 regardless of its own label
        (4, 0, [9.0, 9.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    got = {r.vec_id: r.pred_label for r in nearest_centroid_classify(df).collect()}
    assert got[0] == 0 and got[1] == 0
    assert got[2] == 1 and got[3] == 1
    assert got[4] == 1


def test_nearest_centroid_string_labels(spark):
    """r5 ADVICE (medium): string labels must classify correctly, not
    silently null out through a long cast — pred_label keeps the label
    type via the surrogate-id join."""
    from vamana_spark.operators.similarity import nearest_centroid_classify

    rows = [
        (0, "near", [0.0, 0.1]), (1, "near", [0.1, -0.1]),
        (2, "far", [10.0, 9.9]), (3, "far", [9.9, 10.1]),
        (4, "near", [9.0, 9.0]),  # mislabeled, sits in 'far' territory
    ]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    out = nearest_centroid_classify(df)
    assert dict(out.dtypes)["pred_label"] == "string"
    got = {r.vec_id: r.pred_label for r in out.collect()}
    assert got == {0: "near", 1: "near", 2: "far", 3: "far", 4: "far"}


def test_write_parquet_sized_plain_and_hive(spark, documents, tmp_path):
    import glob

    from vamana_spark.sources.sinks import write_parquet_sized

    # plain layout: a tiny byte target must split into several files
    p1 = str(tmp_path / "sized_plain")
    stats = write_parquet_sized(
        documents, p1, target_file_mb=0.02, compression_ratio=1.0
    )
    files = glob.glob(p1 + "/part-*.parquet")
    assert stats["n_files"] > 1
    # round-robin repartition: file count matches the plan exactly
    assert len(files) == stats["n_files"]
    back = spark.read.parquet(p1)
    assert back.count() == stats["rows"] == documents.count()

    # hive layout: one dir per source, skew capped by maxRecordsPerFile
    p2 = str(tmp_path / "sized_hive")
    stats2 = write_parquet_sized(
        documents, p2, target_file_mb=64, partition_by=("source",)
    )
    dirs = glob.glob(p2 + "/source=*")
    n_sources = documents.select("source").distinct().count()
    assert len(dirs) == n_sources
    assert spark.read.parquet(p2).count() == stats2["rows"]

    # append: n_files reports THIS write's files, not the cumulative
    # count under the path (r6 review)
    p3 = str(tmp_path / "sized_append")
    s_a = write_parquet_sized(
        documents, p3, target_file_mb=0.02, compression_ratio=1.0,
        mode="append",
    )
    s_b = write_parquet_sized(
        documents, p3, target_file_mb=0.02, compression_ratio=1.0,
        mode="append",
    )
    total = len(glob.glob(p3 + "/part-*.parquet"))
    assert s_a["n_files"] + s_b["n_files"] == total
    assert s_b["n_files"] < total  # not the cumulative figure
    # n_files reports ACTUAL files written, hive layout included (r5
    # ADVICE: the old plan-formula figure was wrong under partitionBy)
    assert stats2["n_files"] == len(glob.glob(p2 + "/source=*/part-*.parquet"))


def test_centroid_outliers_flags_planted_outlier(spark):
    from vamana_spark.operators.similarity import centroid_outliers

    # 20 points near the origin + one far outlier, single group
    rows = [(i, [0.01 * i, -0.01 * i]) for i in range(20)]
    rows.append((99, [50.0, 50.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in centroid_outliers(df, label_col=None).collect()}
    assert got[99].outlier and got[99].z > 3.0
    assert sum(1 for r in got.values() if r.outlier) == 1
    assert "label" not in got[99].__fields__ and "_g" not in got[99].__fields__


def test_cut_spans_matches_bruteforce_property(spark):
    """Random small-vocab corpora: the cut rebuild must equal tokens
    minus the positions covered by the brute-force span reference."""
    import numpy as np

    from vamana_spark.operators import dedup

    def ref_cut(docs, k, min_docs):
        from collections import defaultdict

        occ = defaultdict(set)
        toks = {d: t.lower().split() for d, t in docs}
        for d, t in toks.items():
            for i in range(len(t) - k + 1):
                occ[tuple(t[i : i + k])].add(d)
        dup = {s for s, ds in occ.items() if len(ds) >= min_docs}
        out = {}
        for d, t in toks.items():
            covered = set()
            starts = [
                i + 1
                for i in range(len(t) - k + 1)
                if tuple(t[i : i + k]) in dup
            ]
            for p in starts:
                covered.update(range(p, p + k))
            kept = [w for j, w in enumerate(t, start=1) if j not in covered]
            out[d] = (len(t), len(kept), " ".join(kept))
        return out

    rng = np.random.default_rng(321)
    vocab = [f"w{i}" for i in range(6)]
    for trial in range(2):
        docs = [
            (d, " ".join(rng.choice(vocab, size=rng.integers(1, 25))))
            for d in range(8)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.n_kept_tokens, r.text)
            for r in dedup.cut_duplicate_spans(df, k=3, min_docs=2).collect()
        }
        assert got == ref_cut(docs, 3, 2), f"trial {trial}"


def test_semantic_dedup_centroid_far_policy(spark):
    import numpy as np

    from vamana_spark.operators import dedup

    # one cluster: a tight near-dup pair where the HIGHER id sits
    # farther from the cluster centroid, plus anchor points that pull
    # the centroid away. centroid_far must keep the far (higher-id)
    # copy; min_id must keep the lower id.
    a = np.array([1.0, 0.02])   # near-dup pair, id 10 (closer to centroid)
    b = np.array([1.0, -0.02])  # id 11 (farther: anchors sit at +y)
    anchors = [np.array([0.6, 0.8]), np.array([0.7, 0.7])]  # ids 0,1
    rows = [(0, anchors[0].tolist()), (1, anchors[1].tolist()),
            (10, a.tolist()), (11, b.tolist())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    thr = 0.999  # only the (a, b) pair clears it

    far = {r.vec_id: r for r in dedup.semantic_dedup(
        df, threshold=thr, num_clusters=1, seed=1, keep_policy="centroid_far"
    ).collect()}
    assert far[11].keep and not far[10].keep and far[10].dup_of == 11

    minid = {r.vec_id: r for r in dedup.semantic_dedup(
        df, threshold=thr, num_clusters=1, seed=1
    ).collect()}
    assert minid[10].keep and not minid[11].keep and minid[11].dup_of == 10


# ------------------------------- r6: persist hygiene / quadratic guards

def test_minhash_repeated_runs_no_persist_leak(spark, documents):
    """minhash_near_dups materializes intermediates via localCheckpoint
    (GC-owned blocks), never persist() (CacheManager-pinned): repeated
    invocations in one session must not accumulate storage (VERDICT r5
    #5 / r4 ADVICE). GC + ContextCleaner are async, so poll."""
    import gc
    import time

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def settle(limit, timeout=90.0):
        # generous: ContextCleaner + System.gc crawl when the box is
        # under concurrent load (observed settling >30s at 100% CPU)
        deadline = time.time() + timeout
        while time.time() < deadline:
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            if n_persistent() <= limit:
                return True
            time.sleep(0.5)
        return False

    dedup.minhash_near_dups(documents, threshold=0.5).count()
    settle(0)
    base = n_persistent()
    dedup.minhash_near_dups(documents, threshold=0.5).count()
    dedup.simhash_near_dups(documents, max_hamming=3).count()
    assert settle(base), (
        f"persistent RDD blocks grew and never settled: "
        f"{n_persistent()} > baseline {base}"
    )


def test_ngram_jaccard_auto_tier_no_cartesian(spark, documents):
    """Above max_exact_rows with no block_col, ngram_jaccard_join must
    route to MinHash-LSH candidates (equi-join) — no cartesian product
    in the plan (VERDICT r5 #4, the embedding_near_dups auto-tier)."""
    routed = dedup.ngram_jaccard_join(
        documents, n=3, threshold=0.5, max_exact_rows=10
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # and it still finds the corpus's true high-jaccard pairs
    exact = {
        (r.a_id, r.b_id)
        for r in dedup.ngram_jaccard_join(
            documents, n=3, threshold=0.9, max_exact_rows=10**9
        ).collect()
    }
    got = {(r.a_id, r.b_id) for r in routed.where(F.col("jaccard") >= 0.9).collect()}
    assert got == exact


def test_split_oversized_labels_bounds():
    """The semantic_dedup giant-cluster splitter: k-means children for
    separable data, id-order chunk enforcement for the degenerate
    identical cluster — every child <= cap, unconditionally."""
    rng = np.random.default_rng(7)
    cap = 120
    # 4 well-separated blobs of 100 -> k-means splits on blob boundaries
    centers = np.array([[10, 0], [-10, 0], [0, 10], [0, -10]], dtype=float)
    X = np.concatenate([c + 0.1 * rng.normal(size=(100, 2)) for c in centers])
    ids = np.arange(len(X))
    lab = dedup._split_oversized_labels(X, ids, cap)
    sizes = np.bincount(lab)
    assert sizes.max() <= cap
    for b in range(4):  # each blob lands in exactly one child
        assert len(set(lab[b * 100 : (b + 1) * 100])) == 1
    # degenerate: 1000 identical vectors — Lloyd can't separate, the
    # chunk fallback must still enforce the cap
    Xi = np.ones((1000, 4))
    labi = dedup._split_oversized_labels(Xi, np.arange(1000), cap)
    assert np.bincount(labi).max() <= cap
    # at-or-under cap: no split at all
    assert set(dedup._split_oversized_labels(Xi[:cap], np.arange(cap), cap)) == {0}


def test_semantic_dedup_giant_cluster_capped(spark):
    """Adversarial one-cluster corpus (VERDICT r5 #3): every point lands
    in a single k-means cluster; max_cluster_rows must bound the scan
    tasks while exact planted duplicates are still dropped (identical
    vectors co-locate under the k-means split)."""
    rng = np.random.default_rng(42)
    blob_centers = np.array([[5, 0, 0], [-5, 0, 0], [0, 5, 0], [0, 0, 5]], dtype=float)
    rows = []
    vid = 0
    planted = []
    for c in blob_centers:
        for _ in range(150):
            v = c + 0.05 * rng.normal(size=3)
            rows.append((vid, v.tolist()))
            if vid % 10 == 0:  # plant an exact copy with a higher id
                rows.append((100_000 + vid, v.tolist()))
                planted.append(100_000 + vid)
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r
        for r in dedup.semantic_dedup(
            df, threshold=0.99, num_clusters=1, seed=3, max_cluster_rows=200
        ).collect()
    }
    assert len(out) == len(rows)
    dropped = [p for p in planted if not out[p].keep]
    assert dropped == planted, (
        f"{len(planted) - len(dropped)} planted exact copies survived the "
        f"capped scan"
    )


def test_semantic_dedup_expose_subcluster(spark):
    """distinct(cluster_id) preserves the TOP-LEVEL id, so it can never
    detect a fired giant-cluster split (the r11 10M rung's smoke
    metric was blind this way); expose_subcluster=True appends the
    refined scan key. The STRUCTURAL split test is a '.' in the key
    (ADVICE r11 — distinct-count-vs-num_clusters tests are blind to
    empty k-means cells). Default-off keeps the public schema."""
    rng = np.random.default_rng(11)
    rows = [
        (i, (np.array([5.0, 0.0, 0.0]) + 0.05 * rng.normal(size=3)).tolist())
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plain = dedup.semantic_dedup(
        df, threshold=0.99, num_clusters=1, seed=3, max_cluster_rows=100
    )
    assert "subcluster_id" not in plain.columns
    out = dedup.semantic_dedup(
        df, threshold=0.99, num_clusters=1, seed=3, max_cluster_rows=100,
        expose_subcluster=True,
    ).cache()
    try:
        assert out.select("cluster_id").distinct().count() == 1  # blind
        # structural: the fired split is visible as '.' in the key
        assert out.where(F.col("subcluster_id").contains(".")).count() > 0
        n_sub = out.select("subcluster_id").distinct().count()
        assert n_sub >= 4, f"400 rows / cap 100 must split, got {n_sub}"
        # refined keys stay prefixed by their top-level cluster
        assert out.where(~F.col("subcluster_id").startswith("0")).count() == 0
    finally:
        out.unpersist()


def _straddle_corpus(spark):
    """Two tight blobs anchoring the k-means centers, plus a planted
    near-dup pair placed symmetrically across the Voronoi boundary: A
    leans to blob 1's cell, B to blob 2's, cos(A,B) ~ 0.982 — the
    cell-straddle miss class the 10M Zipf rung attributed 8.4% of
    planted dups to (VERDICT r11 #3)."""
    rng = np.random.default_rng(5)
    c1 = np.array([1.0, 0.0, 0.0, 0.0])
    c2 = np.array([0.0, 1.0, 0.0, 0.0])
    rows = []
    for i in range(200):
        v = c1 + 0.05 * rng.normal(size=4)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    for i in range(200, 400):
        v = c2 + 0.05 * rng.normal(size=4)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    mid = (c1 + c2) / np.linalg.norm(c1 + c2)
    # a 0.15 lean keeps each point firmly in its own trained cell
    # (weaker leans let the Lloyd means tilt enough to capture both)
    a = mid + 0.15 * c1
    b = mid + 0.15 * c2
    rows.append((1000, (a / np.linalg.norm(a)).tolist()))
    rows.append((1001, (b / np.linalg.norm(b)).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_multiprobe_recovers_boundary_straddle(spark):
    df = _straddle_corpus(spark)
    # blob-mates cross 0.95 only WITHIN a blob; the pair is at ~0.982;
    # blob<->pair cosine is ~0.77 — threshold 0.95 isolates intra-blob
    # dups + the planted pair
    one = {r.vec_id: r for r in dedup.semantic_dedup(
        df, threshold=0.95, num_clusters=2, seed=1
    ).collect()}
    two = {r.vec_id: r for r in dedup.semantic_dedup(
        df, threshold=0.95, num_clusters=2, seed=1, probes=2
    ).collect()}
    assert len(two) == len(one) == 402  # merge: one row per point
    # single-probe misses the straddling pair (different cells)
    assert one[1000].keep and one[1001].keep
    # multi-probe recovers it: B drops against A with the true cosine
    assert two[1000].keep
    assert not two[1001].keep and two[1001].dup_of == 1000
    assert two[1001].max_sim > 0.98
    # everything else is untouched: multi-probe only ADDS verified pairs
    for vid in one:
        if vid == 1001:
            continue
        assert (one[vid].keep, one[vid].dup_of) == (
            two[vid].keep, two[vid].dup_of
        ), vid


def test_semantic_dedup_multiprobe_centroid_far_keeps_one_survivor(spark):
    """ADVICE r12 (high): with per-cell centroid orderings, a straddle
    pair could drop A-against-B in one probed cell and B-against-A in
    another — the dropped-anywhere merge then erased the WHOLE group
    (silent data loss for keep-filtering consumers). Requires >= 3
    cells: with 2 cells and probes=2 every point is in both cells, so
    the orderings coincide. This fixture reproduced the double drop on
    the pre-fix code; the global-priority ordering must keep exactly
    one member."""
    rng = np.random.default_rng(5)
    D = 6
    c1 = np.zeros(D); c1[0] = 1.0
    c2 = np.zeros(D); c2[1] = 1.0
    # third blob nearer to blobs 1/2 than they are to each other, so
    # blob members' secondary probes go THERE — keeping cells 1 and 2
    # membership-asymmetric (the inversion precondition)
    c3 = np.zeros(D); c3[0] = 0.3; c3[1] = 0.3; c3[2] = 1.0
    rows = []
    for i in range(120):
        v = c1 + 0.05 * rng.normal(size=D)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    for i in range(200, 320):
        v = c2 + 0.05 * rng.normal(size=D)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    for i in range(400, 430):
        v = c3 + 0.05 * rng.normal(size=D)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    mid = (c1 + c2) / np.linalg.norm(c1 + c2)
    a = mid + 0.15 * c1
    b = mid + 0.15 * c2
    rows.append((1000, (a / np.linalg.norm(a)).tolist()))
    rows.append((1001, (b / np.linalg.norm(b)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    res = {r.vec_id: r for r in dedup.semantic_dedup(
        df, threshold=0.95, num_clusters=3, seed=1, probes=2,
        keep_policy="centroid_far",
    ).collect()}
    assert len(res) == 272
    # the pair is linked, and EXACTLY one member survives
    assert res[1000].keep != res[1001].keep
    dropped = 1001 if res[1000].keep else 1000
    assert res[dropped].dup_of == (2001 - dropped)
    # no row's greedy chain may dead-end in a dropped row with no
    # surviving ancestor (the erased-group symptom)
    def survives(v, seen=()):
        r = res[v]
        if r.keep:
            return True
        if v in seen:
            return False
        return survives(r.dup_of, seen + (v,))

    assert all(survives(v) for v in res)


def test_semantic_dedup_subprobe_recovers_split_straddle(spark):
    """VERDICT r12 #3: ``probes`` extended to split children. One
    top-level cell (blob A, 242 rows > cap 150) is forced through the
    giant-cluster backstop; the planted pair straddles the SUB-cluster
    boundary (lifted off the sub-blob axis so it pairs with nothing
    else), and its members' top-level secondary probes are steered to
    DIFFERENT cells (tiny cB/cC tilts) — so the only scan groups that
    can ever score the pair are blob A's split children. probes=1 must
    miss it (split fires, different children); probes=2 must recover it
    through the sub-probe replica."""
    rng = np.random.default_rng(11)
    D = 8
    cA = np.zeros(D); cA[0] = 1.0
    cB = np.zeros(D); cB[1] = 1.0; cB[2] = 0.05
    cC = np.zeros(D); cC[2] = 1.0; cC[1] = 0.05
    e4 = np.zeros(D); e4[3] = 1.0
    e5 = np.zeros(D); e5[4] = 1.0
    rows = []
    i = 0
    for sgn in (+1.0, -1.0):  # sub-blobs A1/A2, close enough to share a cell
        sub = cA + sgn * 0.12 * e4
        for _ in range(120):
            v = sub + 0.02 * rng.normal(size=D)
            rows.append((i, (v / np.linalg.norm(v)).tolist())); i += 1
    for c in (cB, cC):  # mutually-nearest anchors (secondaries go B<->C)
        for _ in range(30):
            v = c + 0.02 * rng.normal(size=D)
            rows.append((i, (v / np.linalg.norm(v)).tolist())); i += 1
    p = cA + 0.25 * e5 + 0.04 * e4 + 0.02 * cB
    q = cA + 0.25 * e5 - 0.04 * e4 + 0.02 * cC
    rows.append((1000, (p / np.linalg.norm(p)).tolist()))
    rows.append((1001, (q / np.linalg.norm(q)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run(probes):
        return {r.vec_id: r for r in dedup.semantic_dedup(
            df, threshold=0.985, num_clusters=3, seed=1,
            max_cluster_rows=150, probes=probes, expose_subcluster=True,
        ).collect()}

    one = run(1)
    # fixture preconditions: the split fired, P/Q share the top-level
    # cell but live in different children — and the pair is MISSED
    assert one[1000].cluster_id == one[1001].cluster_id
    assert "." in one[1000].subcluster_id and "." in one[1001].subcluster_id
    assert one[1000].subcluster_id != one[1001].subcluster_id
    assert one[1000].keep and one[1001].keep

    two = run(2)
    assert len(two) == len(one) == 302
    # sub-probe recovery: Q drops against P with the true cosine
    assert two[1000].keep
    assert not two[1001].keep and two[1001].dup_of == 1000
    assert two[1001].max_sim > 0.99
    # ADVICE r12 (low): under multi-probe the surfaced subcluster_id
    # must still name the PRIMARY cell's scan key — prefix invariant
    for r in two.values():
        assert r.subcluster_id.split(".")[0] == str(r.cluster_id), r


def test_split_labels_multiprobe_bounds_and_primary_identity():
    """Kernel contract: primaries identical to the probes=1 split;
    every child's secondary replicas capped at ``cap`` (closest to
    that child's center); every replica set deterministic."""
    rng = np.random.default_rng(3)
    X = rng.standard_normal((500, 6))
    ids = np.arange(500, dtype=np.int64)
    cap = 120
    ridx, rlab, rpri = dedup._split_labels_multiprobe(X, ids, cap)
    lab1 = dedup._split_oversized_labels(X, ids, cap)
    # primaries: same rows, same labels, in row order
    assert (ridx[rpri] == ids).all()
    assert (rlab[rpri] == lab1).all()
    # per-child totals: <= cap primaries + <= cap secondaries
    import collections

    prim = collections.Counter(rlab[rpri].tolist())
    sec = collections.Counter(rlab[~rpri].tolist())
    assert all(v <= cap for v in prim.values())
    assert all(v <= cap for v in sec.values())
    # deterministic
    r2 = dedup._split_labels_multiprobe(X, ids, cap)
    assert all((a == b).all() for a, b in zip((ridx, rlab, rpri), r2))


def test_split_multiprobe_chunk_boundary_stitch():
    """ADVICE r13: the degenerate all-identical oversized cluster falls
    to stage-2 id-order chunking, which the stage-1 sub-probe cannot
    reach — each chunk must receive the PREVIOUS chunk's last row as a
    non-primary witness replica (the one-row boundary stitch)."""
    X = np.ones((300, 4), dtype=float)  # Lloyd can't separate anything
    ids = np.arange(300, dtype=np.int64)
    cap = 100
    ridx, rlab, rpri = dedup._split_labels_multiprobe(X, ids, cap)
    lab1 = dedup._split_oversized_labels(X, ids, cap)
    seen: dict = {}
    for i, lb in enumerate(lab1):
        seen.setdefault(int(lb), []).append(i)
    ordered = sorted(seen.items(), key=lambda kv: kv[1][0])
    assert len(ordered) == 3  # 300 identical rows, cap 100
    for (_, prow), (cl, _) in zip(ordered, ordered[1:]):
        stitched = set(ridx[(~rpri) & (rlab == cl)].tolist())
        assert prow[-1] in stitched
    # primaries still identical to the probes=1 split
    assert (ridx[rpri] == ids).all()
    assert (rlab[rpri] == lab1).all()


def test_semantic_dedup_probes2_stitches_identical_chunks(spark):
    """End-to-end (ADVICE r13): 30 identical vectors forced through the
    split backstop chunk in id order; probes=1 keeps one row PER CHUNK
    (the witness chain is cut at each boundary), probes=2's boundary
    stitch restores the chain and only the global min id survives."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    common = dict(threshold=0.9, num_clusters=2, seed=1, max_cluster_rows=10)
    k1 = sorted(
        r.vec_id
        for r in dedup.semantic_dedup(df, probes=1, **common).collect()
        if r.keep
    )
    k2 = sorted(
        r.vec_id
        for r in dedup.semantic_dedup(df, probes=2, **common).collect()
        if r.keep
    )
    assert k1 == [0, 10, 20]
    assert k2 == [0]


def test_semantic_dedup_multiprobe_identity_on_colocated_dups(spark):
    """probes=2 must leave a corpus with NO straddling pairs bit-
    identical to probes=1 (exact copies co-locate under k-means) — the
    invariant the q_semantic_multiprobe driver oracle hash-checks."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((6, 16)).astype(float)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(10 + i, [float(2.0 * x) for x in v]) for i, v in enumerate(base)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    def rows(probes):
        # max_sim rounded: the replica changes the scan cell's BLAS
        # strip population, so the same dot product can differ by 1 ulp
        return sorted(
            (r.vec_id, r.cluster_id, r.keep, r.dup_of,
             None if r.max_sim is None else round(r.max_sim, 9))
            for r in dedup.semantic_dedup(
                df, threshold=0.95, num_clusters=2, seed=1, probes=probes
            ).collect()
        )

    assert rows(1) == rows(2)


def test_semantic_dedup_multiprobe_expose_subcluster_and_validation(spark):
    df = _straddle_corpus(spark)
    out = dedup.semantic_dedup(
        df, threshold=0.95, num_clusters=2, seed=1, probes=2,
        expose_subcluster=True,
    )
    assert "subcluster_id" in out.columns and "_pri" not in out.columns
    assert out.count() == 402
    # structural split test (ADVICE r11): no backstop fired here, so no
    # refined key carries a '.'
    assert out.where(F.col("subcluster_id").contains(".")).count() == 0
    with pytest.raises(ValueError, match="probes"):
        dedup.semantic_dedup(df, probes=0)
    # probes above num_clusters clamps instead of failing
    got = dedup.semantic_dedup(
        df, threshold=0.95, num_clusters=2, seed=1, probes=5
    )
    assert got.count() == 402


def test_semantic_dedup_rejects_non_integral_ids(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "vec_id string, embedding array<double>"
    )
    with pytest.raises(TypeError, match="integral id column"):
        dedup.semantic_dedup(df, id_col="vec_id")



def test_semantic_dedup_corpus_smaller_than_num_clusters(spark):
    """A corpus with fewer rows than ``num_clusters`` trains one cell
    per row, ``probes`` clamps to the cells trained, and an empty frame
    returns no rows with the documented schema."""
    rng = np.random.default_rng(3)
    base = rng.standard_normal((3, 8))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(10 + i, [float(3.0 * x) for x in v]) for i, v in enumerate(base)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for probes in (1, 8):
        out = {r.vec_id: r for r in dedup.semantic_dedup(
            df, threshold=0.95, num_clusters=16, seed=1, probes=probes
        ).collect()}
        assert sorted(out) == [0, 1, 2, 10, 11, 12]
        for i in range(3):
            assert out[i].keep
            assert not out[10 + i].keep and out[10 + i].dup_of == i
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    got = dedup.semantic_dedup(empty)
    assert got.columns == ["vec_id", "cluster_id", "keep", "dup_of", "max_sim"]
    assert got.count() == 0


def test_lloyd_centers_releases_its_broadcasts(spark, monkeypatch):
    """Every broadcast one ``lloyd_centers`` call creates (one per
    Lloyd pass) is destroyed by the time the call returns."""
    from vamana_spark.index.cells import lloyd_centers

    sc = spark.sparkContext
    made = []
    stock = sc.broadcast

    def recording(value):
        b = stock(value)
        made.append(b)
        return b

    monkeypatch.setattr(sc, "broadcast", recording)
    rng = np.random.default_rng(5)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rng.standard_normal((40, 4)))],
        "vec_id long, embedding array<double>",
    )
    C = lloyd_centers(df, 4, "vec_id", "embedding", seed=1, iters=3)
    assert C.shape == (4, 4)
    assert len(made) == 3
    assert not any(b._jbroadcast.isValid() for b in made)


# ---------------------------------------------------- incremental dedup

def _inc_dedup_frames(spark):
    seen = spark.createDataFrame(
        [(i, f"seen doc number {i} body") for i in range(200)],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(1000 + i, f"new doc number {i} body") for i in range(50)]
        + [(2000 + i, f"seen doc number {i}  BODY") for i in range(0, 30, 3)]
        + [(3000, "new doc number 7 body"), (3001, "new doc number 7 body")],
        ["doc_id", "text"],
    )
    return new, seen


def test_incremental_dedup_matches_anti_join(spark):
    """Survivors == (batch-internal first occurrence) anti-joined against
    the corpus on normalized text — the exact semantics. A NULL text
    matches nothing, not even a NULL in the corpus, and the batch keeps
    the first of its NULL rows."""
    new, seen = _inc_dedup_frames(spark)
    out = dedup.incremental_dedup(new, seen)
    assert sorted(r.doc_id for r in out.collect()) == [1000 + i for i in range(50)]
    assert out.columns == new.columns
    seen = spark.createDataFrame([(1, "known doc"), (2, None)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "known  DOC"), (11, None), (12, None), (13, "fresh doc")],
        "doc_id long, text string",
    )
    assert sorted(r.doc_id for r in dedup.incremental_dedup(new, seen).collect()) == [11, 13]


def test_incremental_dedup_runs_no_python_pass(spark, monkeypatch):
    """The corpus pass is a JVM digest semi-join: one incremental_dedup
    call, collect included, never calls DataFrame.mapInPandas."""
    new, seen = _inc_dedup_frames(spark)
    frame_cls = type(new)  # the session's concrete DataFrame class
    calls = []
    stock = frame_cls.mapInPandas

    def recording(self, *a, **kw):
        calls.append(a)
        return stock(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "mapInPandas", recording)
    out = dedup.incremental_dedup(new, seen).collect()
    assert len(out) == 50
    assert calls == []


def test_incremental_dedup_corpus_never_shuffles(spark):
    """Plan shape: the one corpus pass is map-side — the semi-join
    broadcasts the batch's digests, so no Exchange is keyed by corpus
    content and the final join is a BroadcastHashJoin (LeftAnti)."""
    new, seen = _inc_dedup_frames(spark)
    plan = dedup.incremental_dedup(new, seen)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_dedup_dup_heavy_corpus(spark):
    """A corpus holding many copies of each content gives the same
    survivors, and the verify tail broadcasts distinct matched contents,
    not copies: the anti-join's text broadcast sits on an aggregate."""
    new, seen = _inc_dedup_frames(spark)
    heavy = seen.crossJoin(spark.range(20).withColumnRenamed("id", "_copy")).drop("_copy")
    out = dedup.incremental_dedup(new, heavy)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"BroadcastExchange HashedRelationBroadcastMode\(List\(input\[0, string.*\n"
        r"\s*\+- HashAggregate\(keys=\[_n#",
        plan,
    ), plan
    assert sorted(r.doc_id for r in out.collect()) == [1000 + i for i in range(50)]


def test_incremental_dedup_no_broadcast_when_disabled(spark):
    """autoBroadcastJoinThreshold=-1: the verify tail shuffles instead of
    broadcasting, with the same survivors."""
    new, seen = _inc_dedup_frames(spark)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = dedup.incremental_dedup(new, seen)
        got = sorted(r.doc_id for r in out.collect())
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert got == [1000 + i for i in range(50)]
    assert "BroadcastExchange" not in plan


def test_incremental_dedup_verify_gate_counts_bytes(spark):
    """Few but long batch texts past autoBroadcastJoinThreshold: the
    verify anti-join shuffles instead of broadcasting the texts, with the
    same survivors as the broadcast plan."""
    pad = " ".join(f"w{j}" for j in range(400))  # ~2.3 KB per doc
    seen = spark.createDataFrame(
        [(i, f"seen doc {i} {pad}") for i in range(60)], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(1000 + i, f"new doc {i} {pad}") for i in range(20)]
        + [(2000 + i, f"seen doc {i} {pad}") for i in range(0, 60, 2)],
        ["doc_id", "text"],
    )
    text_bcast = "BroadcastExchange HashedRelationBroadcastMode(List(input[0, string"
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)

    def run():
        out = dedup.incremental_dedup(new, seen)
        got = sorted(r.doc_id for r in out.collect())
        return got, out._jdf.queryExecution().executedPlan().toString()

    try:
        spark.conf.set(key, str(10 << 20))
        wide, wide_plan = run()
        spark.conf.set(key, str(16 << 10))  # 30 matched texts alone are ~70 KB
        narrow, narrow_plan = run()
    finally:
        spark.conf.set(key, old)
    assert text_bcast in wide_plan, wide_plan
    assert text_bcast not in narrow_plan, narrow_plan
    assert narrow == wide == [1000 + i for i in range(20)]


def test_incremental_dedup_empty_corpus(spark):
    """An empty corpus drops nothing but batch-internal copies."""
    new, _ = _inc_dedup_frames(spark)
    seen = new.where(F.lit(False))
    out = dedup.incremental_dedup(new, seen)
    # batch-internal dedup still applies (3001 duplicates 3000 and 1007/3000 collide)
    got = sorted(r.doc_id for r in out.collect())
    assert 3001 not in got and len(got) == 60


def test_incremental_near_dups_finds_cross_snapshot_copies(spark):
    seen = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over the lazy dog number {i} end of story")
         for i in range(50)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog number 7 end of story"),
         (101, "the quick brown fox jumps over the lazy dog number 7 end of tale"),
         (102, "completely unrelated content about spark plans and bloom filters")],
        ["doc_id", "text"],
    )
    rows = {(r.batch_id, r.seen_id): r.jaccard
            for r in dedup.incremental_near_dups(batch, seen, threshold=0.5).collect()}
    assert rows[(100, 7)] == 1.0          # exact copy found with J=1
    assert rows[(101, 7)] > 0.8           # near copy verified by exact Jaccard
    assert not any(b == 102 for b, _ in rows)  # unrelated doc matches nothing


def test_incremental_near_dups_signature_store_path(spark):
    """Passing a persisted corpus signature table (the re-ingest path)
    must produce identical pairs to recomputing signatures from text."""
    seen = spark.createDataFrame(
        [(i, f"document body alpha beta gamma delta {i} epsilon zeta") for i in range(30)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(500, "document body alpha beta gamma delta 3 epsilon zeta")],
        ["doc_id", "text"],
    )
    sigs = dedup.minhash_signatures(seen).localCheckpoint()
    a = sorted((r.batch_id, r.seen_id, r.jaccard)
               for r in dedup.incremental_near_dups(batch, seen, threshold=0.5).collect())
    b = sorted((r.batch_id, r.seen_id, r.jaccard)
               for r in dedup.incremental_near_dups(
                   batch, seen, threshold=0.5, seen_signatures=sigs).collect())
    assert a == b and (500, 3, 1.0) in a


def test_incremental_near_dups_rejects_mismatched_signature_table(spark):
    """A persisted signature table built with a different num_hashes
    must be rejected loudly — banding a wrong-width minhash silently
    misses pairs (verify masks false positives, not misses)."""
    seen = spark.createDataFrame(
        [(i, f"document body alpha beta gamma {i}") for i in range(5)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(9, "document body alpha beta gamma 1")], ["doc_id", "text"]
    )
    narrow = dedup.minhash_signatures(seen, num_hashes=32).localCheckpoint()
    with pytest.raises(ValueError, match="minhash width 32"):
        dedup.incremental_near_dups(
            batch, seen, num_hashes=64, seen_signatures=narrow
        ).collect()


def test_incremental_near_dups_overfull_bucket_witness(spark):
    """A giant corpus duplicate cluster floods its band buckets; above
    max_bucket_witnesses the bucket keeps its N lowest-id members as
    witnesses and a batch copy still matches them with exact Jaccard
    (the capped members don't appear — survivors use is unaffected)."""
    seen = spark.createDataFrame(
        [(i, "identical corpus boilerplate text repeated everywhere") for i in range(40)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(900, "identical corpus boilerplate text repeated everywhere")],
        ["doc_id", "text"],
    )
    rows = sorted((r.batch_id, r.seen_id, r.jaccard)
                  for r in dedup.incremental_near_dups(
                      batch, seen, threshold=0.9, max_bucket_witnesses=5).collect())
    assert rows == [(900, i, 1.0) for i in range(5)]  # N min-id witnesses answer


def _zipfish_cluster_corpus(spark):
    """Planted fixture for the r12 consumer presets: one 80-member
    verbatim group (over the cluster preset's cap 64), one 3-member
    near-dup group, singletons."""
    rows = [
        (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi rho sigma tau upsilon")
        for i in range(80)
    ]
    rows += [
        (200, "small group base text about columnar engines and shuffles "
              "and joins and adaptive execution plans running here"),
        (201, "small group base text about columnar engines and shuffles "
              "and joins and adaptive execution plans running here"),
        (202, "small group base text about columnar engines and shuffles "
              "and joins and adaptive execution plans walking here"),
        (300, "completely unrelated singleton about parquet footers and "
              "page indexes and bloom filters and dictionary encoding"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_consumer_preset_cluster_parity(spark):
    """r12 (VERDICT r11 #4): consumer="cluster" is the measured
    max_bucket_size=64 preset; cluster output (duplicate_clusters,
    which now defaults to it) must be identical to clustering the
    audit path's exhaustive pairs."""
    df = _zipfish_cluster_corpus(spark)
    audit = dedup.minhash_near_dups(df, threshold=0.7)          # cap 512
    cluster = dedup.minhash_near_dups(df, threshold=0.7, consumer="cluster")
    n_audit, n_cluster = audit.count(), cluster.count()
    assert n_audit >= 80 * 79 // 2              # giant group: full quadratic
    assert n_cluster < n_audit                  # star cap engaged
    # preset == explicit cap
    explicit = dedup.minhash_near_dups(df, threshold=0.7, max_bucket_size=64)
    assert explicit.count() == n_cluster
    # explicit cap overrides the preset
    assert dedup.minhash_near_dups(
        df, threshold=0.7, consumer="cluster", max_bucket_size=10**9
    ).count() == n_audit
    with pytest.raises(ValueError, match="consumer"):
        dedup.minhash_near_dups(df, consumer="fast")
    # cluster/survivor consumption is cap-invariant
    from_audit = sorted(
        (r.doc_id, r.cluster_id)
        for r in dedup.duplicate_clusters(df, pairs=audit).collect()
    )
    from_preset = sorted(
        (r.doc_id, r.cluster_id)
        for r in dedup.duplicate_clusters(df, threshold=0.7).collect()
    )
    assert from_audit == from_preset
    survivors = sorted(
        r.doc_id for r in dedup.dedup_corpus(df, threshold=0.7).collect()
    )
    assert survivors == [0, 200, 300]


def test_scan_decision_only_flag_set_parity(spark, tmp_path):
    """r12 (VERDICT r11 #4): decision_only gating — identical flag SET
    to the audit scan, one best-hit row per flagged doc, staged verify
    (a failing best candidate falls through to stage 2)."""
    seen = spark.createDataFrame(
        [(i, "identical corpus boilerplate text repeated everywhere "
             "across the whole crawl snapshot again") for i in range(40)]
        + [(100 + i,
            f"unique corpus document number {i} about engines plans "
            f"shuffles joins scans filters projections aggregates")
           for i in range(20)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(900, "identical corpus boilerplate text repeated everywhere "
               "across the whole crawl snapshot again"),       # giant-group copy
         (901, "unique corpus document number 3 about engines plans "
               "shuffles joins scans filters projections aggregates"),  # exact copy
         (902, "unique corpus document number 3 about engines plans "
               "shuffles joins scans filters projections tables"),      # near copy
         (903, "novel content entirely absent from the corpus with new "
               "words about watermarks state stores and triggers")],    # novel
        ["doc_id", "text"],
    )
    store = str(tmp_path / "sig_store")
    dedup.save_signatures(seen, store)
    audit = dedup.scan_against_store(batch, seen, store, threshold=0.5)
    decision = dedup.scan_against_store(
        batch, seen, store, threshold=0.5, decision_only=True
    ).cache()
    flagged_audit = sorted(
        r.batch_id for r in audit.select("batch_id").distinct().collect()
    )
    rows = decision.collect()
    assert sorted(r.batch_id for r in rows) == flagged_audit == [900, 901, 902]
    assert len(rows) == len(set(r.batch_id for r in rows))  # one row per doc
    assert all(r.jaccard >= 0.5 for r in rows)
    by_id = {r.batch_id: r for r in rows}
    assert by_id[900].jaccard == 1.0 and by_id[901].jaccard == 1.0
    decision.unpersist()


def test_incremental_near_dups_decision_only_direct(spark):
    """decision_only on the direct (store-less) path: the witness-cap
    preset drops to 8, flags still cover every true dup."""
    seen = spark.createDataFrame(
        [(i, "identical corpus boilerplate text repeated everywhere")
         for i in range(40)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(900, "identical corpus boilerplate text repeated everywhere"),
         (901, "wholly novel text about watermark semantics and state")],
        ["doc_id", "text"],
    )
    rows = dedup.incremental_near_dups(
        batch, seen, threshold=0.9, decision_only=True
    ).collect()
    assert len(rows) == 1
    assert rows[0].batch_id == 900 and rows[0].jaccard == 1.0
    # witness preset: the hit's seen_id comes from the 8 min-id
    # witnesses of the flooded bucket
    assert rows[0].seen_id < 8


def test_decision_only_stage2_fallback_parity(spark):
    """The decision path's correctness hinges on stage 2: a batch doc
    whose TOP-ranked candidate (most shared bands) FAILS exact-Jaccard
    verification must fall through to its remaining candidates. Each
    batch doc gets two corpus partners with controlled true Jaccard —
    X at 11/25 = 0.44 (fails the 0.5 threshold) and Y at 13/23 = 0.565
    (passes); MinHash band counts estimate J with enough noise that X
    outranks Y for some docs (asserted below), forcing stage 2. If
    stage 2 were broken those docs would vanish from the decision flag
    set; parity with the audit path is the gate."""
    seen_rows, batch_rows = [], []
    n = 40
    for i in range(n):
        toks = [f"d{i}t{k}" for k in range(20)]          # 18 shingles
        batch_rows.append((1000 + i, " ".join(toks)))
        seen_rows.append(                                  # X_i: J = 0.44
            (2 * i, " ".join(toks[:13] + [f"x{i}j{k}" for k in range(7)]))
        )
        seen_rows.append(                                  # Y_i: J = 0.565
            (2 * i + 1, " ".join(toks[:15] + [f"y{i}j{k}" for k in range(5)]))
        )
    seen = spark.createDataFrame(seen_rows, ["doc_id", "text"])
    batch = spark.createDataFrame(batch_rows, ["doc_id", "text"])

    # premise check: the band-count ranking really inverts (X above Y)
    # for at least one doc — otherwise stage 2 is never exercised
    sig_s = dedup.minhash_signatures(seen)
    sig_b = dedup.minhash_signatures(batch)
    keys = ["band_id", "band_hash"]
    bs = sig_s.select(
        F.col("doc_id").alias("seen_id"),
        F.posexplode(dedup.band_hash_array("minhash", 64, 16)).alias(*keys),
    )
    bb = sig_b.select(
        F.col("doc_id").alias("batch_id"),
        F.posexplode(dedup.band_hash_array("minhash", 64, 16)).alias(*keys),
    )
    counts = {
        (r.batch_id, r.seen_id): r.nb
        for r in bs.join(bb, keys)
        .groupBy("batch_id", "seen_id")
        .agg(F.count(F.lit(1)).alias("nb"))
        .collect()
    }
    inverted = [
        i for i in range(n)
        # X outranks Y AND Y is a candidate at all (a Y with zero band
        # collisions is invisible to BOTH paths — LSH recall, not stage 2)
        if counts.get((1000 + i, 2 * i), 0)
        > counts.get((1000 + i, 2 * i + 1), 0) > 0
    ]
    assert inverted, "fixture premise broken: no X-above-Y rank inversion"

    audit = dedup.incremental_near_dups(batch, seen, threshold=0.5)
    decision = dedup.incremental_near_dups(
        batch, seen, threshold=0.5, decision_only=True
    )
    flags_audit = sorted(
        r.batch_id for r in audit.select("batch_id").distinct().collect()
    )
    rows = decision.collect()
    assert sorted(r.batch_id for r in rows) == flags_audit
    # most docs flag (Y passes when banding surfaces it: P(candidate)
    # ~0.82 at J=0.565 with 16x4 banding; misses are identical in both
    # paths — LSH recall, not a decision-path property)
    assert len(flags_audit) >= int(0.6 * n)
    assert len(rows) == len({r.batch_id for r in rows})
    assert all(r.jaccard >= 0.5 for r in rows)
    # the inverted docs were flagged THROUGH stage 2 (their stage-1
    # candidate X sits below threshold, so the hit must name Y)
    by_id = {r.batch_id: r for r in rows}
    for i in inverted:
        assert by_id[1000 + i].seen_id == 2 * i + 1


def test_incremental_dedup_hot_duplicate_key_and_plan(spark):
    """A batch that is mostly copies of ONE document (hot content key)
    dedups via the map-side-combined min-struct agg — survivors stay
    exact and the plan contains a partial aggregate, not a window rank
    funneling every copy through one task."""
    seen = spark.createDataFrame(
        [(i, f"seen doc {i}") for i in range(20)], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(i, "the one hot duplicated document body") for i in range(1000)]
        + [(5000, "a unique fresh document")],
        ["doc_id", "text"],
    )
    out = dedup.incremental_dedup(new, seen)
    assert sorted(r.doc_id for r in out.collect()) == [0, 5000]
    # the output plan starts at the verify tail's checkpoint scan,
    # so the first-occurrence aggregation is asserted on the stage that
    # actually runs it (same invariant: map-side partial min(struct),
    # never a window rank funneling every hot copy through one task)
    plan = (
        dedup._first_occurrence(new, "text", "doc_id", dedup._content_norm)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_min" in plan  # the partial stage of min(struct) exists
    assert "Window" not in plan
    out_plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in out_plan


def test_incremental_dedup_nested_map_column_falls_back_to_window(spark):
    """A map nested inside a struct is not struct-orderable; the batch
    dedup must detect it recursively and fall back to the window."""
    seen = spark.createDataFrame([(1, "known doc")], "doc_id long, text string")
    new = spark.sql("""
        SELECT * FROM VALUES
          (10, 'known doc',  named_struct('tags', map('a','b'))),
          (11, 'fresh doc',  named_struct('tags', map('c','d'))),
          (12, 'fresh doc',  named_struct('tags', map('e','f')))
        AS t(doc_id, text, meta)
    """)
    got = sorted(r.doc_id for r in dedup.incremental_dedup(new, seen).collect())
    assert got == [11]


def test_incremental_dedup_partition_layout_invariant(spark):
    """Survivors depend on content + ids only, never on how either side
    happens to be partitioned."""
    new, seen = _inc_dedup_frames(spark)
    want = [1000 + i for i in range(50)]
    for np_, sp_ in [(1, 7), (13, 1), (5, 3)]:
        got = sorted(
            r.doc_id
            for r in dedup.incremental_dedup(
                new.repartition(np_), seen.repartition(sp_)
            ).collect()
        )
        assert got == want, (np_, sp_)


def test_incremental_dedup_hot_corpus_content(spark):
    """A corpus that is mostly copies of one document: the matched corpus
    rows collapse to one per content and the survivors stay exact."""
    seen = spark.createDataFrame(
        [(i, "the single hot corpus document body") for i in range(2000)]
        + [(9000, "a rare distinct corpus doc")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(10, "the single hot corpus document body"),
         (11, "a rare distinct corpus doc"),
         (12, "a genuinely fresh document")],
        ["doc_id", "text"],
    )
    got = sorted(r.doc_id for r in dedup.incremental_dedup(new, seen).collect())
    assert got == [12]


def test_signature_store_roundtrip_scan(spark, tmp_path):
    """save_signatures -> scan_against_store finds cross-snapshot
    near-dups with the STORE's parameters (not the caller's guesses),
    and the result matches a direct incremental_near_dups call."""
    seen = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon number {i} zeta") for i in range(40)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(700, "alpha beta gamma delta epsilon number 5 zeta"),
         (701, "totally different content about bloom filters")],
        ["doc_id", "text"],
    )
    store = str(tmp_path / "sigstore")
    dedup.save_signatures(seen, store, num_hashes=32, bands=8)
    sigs, meta = dedup.load_signatures(spark, store)
    assert meta["num_hashes"] == 32 and meta["bands"] == 8
    assert sigs.count() == 40
    got = sorted((r.batch_id, r.seen_id, r.jaccard)
                 for r in dedup.scan_against_store(batch, seen, store).collect())
    direct = sorted((r.batch_id, r.seen_id, r.jaccard)
                    for r in dedup.incremental_near_dups(
                        batch, seen, num_hashes=32, bands=8,
                        seen_signatures=sigs).collect())
    assert got == direct and (700, 5, 1.0) in got
    assert not any(b == 701 for b, _, _ in got)
    # a batch whose id column is named differently: id_col renames it to
    # the store's persisted id_col, same pairs out
    renamed = batch.withColumnRenamed("doc_id", "my_id")
    got2 = sorted((r.batch_id, r.seen_id, r.jaccard)
                  for r in dedup.scan_against_store(
                      renamed, seen, store, id_col="my_id").collect())
    assert got2 == got
