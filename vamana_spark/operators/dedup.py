"""Deduplication operators (SURVEY.md §2b X1/X2) — exact, MinHash-LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale notes (the whole point of these):
- Exact dedup is a hash-partitioned window — one shuffle on the content
  hash, map-side combine-free but skew-safe (hashes are uniform).
- MinHash-LSH: the default path computes shingle sets AND the full
  MinHash signature per row inside Arrow-batched pandas UDFs — zero
  shuffles until the banded candidate equi-join on (band_id, band_hash).
  At 100 TB that means exactly one shuffle for candidate generation and
  one for Jaccard verification; the narrow, per-row signature stage
  scales embarrassingly. A pure-Catalyst fallback (shingle → explode →
  per-seed xxhash64 min → groupBy(doc)) is kept behind ``arrow=False``
  (one extra shuffle; useful where Python workers are undesirable).
  Measured at sf0.1 the Arrow shingler is ~10x the window-based Catalyst
  shingler per row besides dropping its shuffle. Verification re-checks
  exact Jaccard only on candidate pairs either way.
- SimHash buckets by 16-bit bands of a 64-bit signature (Hamming-ball
  blocking), same equi-join shape.
"""

from __future__ import annotations

import random
from functools import lru_cache
from hashlib import blake2b
from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --------------------------------------------------------------------- exact

def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Keep one representative (lowest id) per exact text hash (X1).

    sha2-256 content key → window rank. One shuffle; uniform keys.
    """
    norm = _content_norm(text_col) if normalize else F.col(text_col)
    keyed = df.withColumn("_ck", F.sha2(norm, 256))
    w = Window.partitionBy("_ck").orderBy(F.col(id_col).asc())
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_ck", "_rn")
    )


def duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate clusters: (content_hash, canonical_id, dup_ids, n_dups)."""
    keyed = df.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_hash")
    )
    return (
        keyed.groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
            F.count("*").cast("long").alias("n_members"),
        )
        .where(F.col("n_members") > 1)
    )


# ------------------------------------------------------------------ shingles

def char_shingles(text_col: str, n: int = 5, lowercase: bool = True) -> Column:
    """Character n-gram shingles as an array<string> (distinct).

    Built with sequence+transform+substring — pure Catalyst, no UDF.
    """
    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    t = F.regexp_replace(t, r"\s+", " ")
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: t.substr(i, F.lit(n))))


def word_shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct) over a MATERIALIZED token array.

    Important: pass a real column, not the tokenization expression —
    interpreted higher-order functions don't common-subexpression-eliminate,
    so an inline `split()` would re-tokenize the document once per shingle
    (observed ~30x slowdown).
    """
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    return F.array_distinct(
        F.when(
            cnt >= n,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Word n-gram shingles (distinct), whitespace tokenization.

    Single-expression form for ad-hoc use; hot paths should go through
    ``shingle_sets`` (tokens staged as a column first — see
    ``word_shingles_from_tokens``).
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
    return word_shingles_from_tokens(toks, n)


# -------------------------------------------------------------- exact Jaccard

def ngram_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    block_col: Optional[str] = None,
    max_exact_rows: int = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs (a, b), a < b, with
    jaccard >= threshold. ``block_col`` restricts comparisons to equal
    blocking keys (turning the cross join into an equi-join); without it
    the exact path is quadratic, so it is auto-tiered (the
    ``embedding_near_dups`` pattern, VERDICT r5 #4): at or below
    ``max_exact_rows`` the all-pairs join runs (every true pair emitted,
    oracle parity); above it the plan routes to MinHash-LSH candidate
    generation with exact-Jaccard verification on candidates only
    (``minhash_near_dups`` — same output columns, same shingling, at the
    standard LSH recall trade). Set ``max_exact_rows=0`` to force the
    LSH path, or pass ``block_col`` to keep exact semantics at scale.
    """
    if block_col is None and df.count() > max_exact_rows:
        return minhash_near_dups(
            df, text_col, id_col, threshold=threshold, shingle_n=n
        )
    sets = shingle_sets(df, text_col, id_col, n)
    sh = sets.select(F.col(id_col).alias("_id"), F.col("_sh"))
    if block_col:
        sh = sh.join(
            df.select(F.col(id_col).alias("_id"), F.col(block_col).alias("_blk")),
            "_id",
        )
    a = sh.select(
        F.col("_id").alias("a_id"), F.col("_sh").alias("a_sh"),
        *([F.col("_blk").alias("_blk")] if block_col else []),
    )
    b = sh.select(
        F.col("_id").alias("b_id"), F.col("_sh").alias("b_sh"),
        *([F.col("_blk").alias("_blk2")] if block_col else []),
    )
    if block_col:
        pairs = a.join(b, (F.col("_blk") == F.col("_blk2")) & (F.col("a_id") < F.col("b_id")))
    else:
        pairs = a.crossJoin(b).where(F.col("a_id") < F.col("b_id"))
    inter = F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
    union = F.size(F.array_union("a_sh", "b_sh")).cast("double")
    return (
        pairs.select(
            "a_id",
            "b_id",
            F.round(inter / F.greatest(union, F.lit(1.0)), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------------- MinHash + LSH

# Seeded multiply-add family over a 64-bit base hash: h_i(x) = a_i*H(x)+b_i
# (mod 2^64, odd a_i). H = blake2b-8. Engine-internal (signatures are
# rows-only in the oracle gate), so the family is free to choose; the
# reference has no dedup surface at all (SURVEY §2b provenance).
_MINHASH_SEED = 42


@lru_cache(maxsize=None)
def _hash_family(num_hashes: int):
    import numpy as np

    rng = random.Random(_MINHASH_SEED)
    a = np.array(
        [rng.randrange(1, 2**64, 2) for _ in range(num_hashes)], dtype=np.uint64
    )
    b = np.array([rng.randrange(2**64) for _ in range(num_hashes)], dtype=np.uint64)
    return a, b


def _shingles_py(text: str, n: int) -> list:
    """Distinct word n-gram shingles — same normalization as the Catalyst
    shingler (lowercase, split on whitespace runs, short docs contribute
    their full token join as one shingle)."""
    toks = (text or "").lower().split()
    if len(toks) < n:
        return [" ".join(toks)]
    return list({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})


def _base_hashes(shingles) -> "object":
    import numpy as np

    return np.fromiter(
        (
            int.from_bytes(blake2b(s.encode("utf-8"), digest_size=8).digest(), "little")
            for s in shingles
        ),
        dtype=np.uint64,
        count=len(shingles),
    )


@lru_cache(maxsize=None)
def _shingle_udf(n: int):
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def shingle(texts: pd.Series) -> pd.Series:
        return pd.Series([_shingles_py(t, n) for t in texts])

    return shingle


@lru_cache(maxsize=None)
def _text_signature_udf(num_hashes: int, shingle_n: int):
    """text → array<long> MinHash signature in ONE Python pass (r15).

    Fuses ``_shingle_udf`` ∘ ``_signature_udf``: shingling and the
    affine-min fold run inside the same batch loop, so the per-doc
    shingle string arrays never cross the Arrow boundary at all (guide
    §4.2 — the strings used to be serialized JVM→Python→JVM→Python just
    to be consumed once). Bit-identical to the two-step form: same
    ``_shingles_py`` normalization, same blake2b-8 base hashes, same
    seeded affine family, same uint64 wraparound min.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    a, b = _hash_family(num_hashes)

    @pandas_udf(ArrayType(LongType()))
    def signature(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            sh = _shingles_py(t, shingle_n)
            if len(sh) == 0:  # unreachable (shingler emits >=1) — keep
                out.append([0] * num_hashes)  # parity with _signature_udf
                continue
            base = _base_hashes(sh)
            mins = (a[:, None] * base[None, :] + b[:, None]).min(axis=1)
            out.append(mins.view(np.int64).tolist())
        return pd.Series(out)

    return signature


@lru_cache(maxsize=None)
def _signature_udf(num_hashes: int):
    """array<string> shingles → array<long> MinHash signature, per row.

    Arrow batch in, NumPy (num_hashes, n_shingles) affine + min out —
    no shuffle anywhere; uint64 wraparound is the modulus.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    a, b = _hash_family(num_hashes)

    @pandas_udf(ArrayType(LongType()))
    def signature(shs: pd.Series) -> pd.Series:
        out = []
        for sh in shs:
            if sh is None or len(sh) == 0:
                out.append([0] * num_hashes)
                continue
            base = _base_hashes(sh)
            mins = (a[:, None] * base[None, :] + b[:, None]).min(axis=1)
            out.append(mins.view(np.int64).tolist())
        return pd.Series(out)

    return signature


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    arrow: bool = True,
) -> DataFrame:
    """(id, _sh: array<string>) distinct word shingles per doc.

    Default path is a per-row Arrow UDF — narrow (no shuffle), ~10x the
    Catalyst window shingler per row at sf0.1. ``arrow=False`` keeps the
    pure-Catalyst form (posexplode + lead window → collect_set; one
    shuffle). Callers that need shingles twice (signatures +
    verification) persist THIS DataFrame, not the text.
    """
    from vamana_spark.functions.util import ensure_parallelism

    if arrow:
        return ensure_parallelism(df.select(id_col, text_col)).select(
            F.col(id_col), _shingle_udf(shingle_n)(text_col).alias("_sh")
        )
    rows = shingle_rows(df, text_col, id_col, shingle_n)
    return rows.groupBy(id_col).agg(F.collect_set("_s").alias("_sh"))


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, _s) one row per word-shingle occurrence — the codegen-fast
    shingler: posexplode tokens, stitch n-grams with window ``lead`` over
    (doc, pos). The array-expression form (``word_shingles``) re-evaluates
    its tokenizer per slice under interpreted HOF evaluation (and Catalyst
    collapses any staging projection right back in), costing ~30x; this
    form is flat projections + one partition-local window.

    Docs with fewer than n tokens contribute their full token join as a
    single shingle (same convention as ``word_shingles``).
    """
    from vamana_spark.functions.util import ensure_parallelism

    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
    staged = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), toks.alias("_toks")
    )
    ex = staged.select(
        id_col,
        F.size("_toks").alias("_cnt"),
        F.posexplode("_toks").alias("_pos", "_t"),
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    grams = [F.col("_t")] + [F.lead("_t", i).over(w) for i in range(1, shingle_n)]
    full = (
        ex.withColumn("_s", F.concat_ws(" ", *grams))
        .where((F.col("_cnt") >= shingle_n) & (F.col("_pos") <= F.col("_cnt") - shingle_n))
        .select(id_col, "_s")
    )
    short = (
        staged.where(F.size("_toks") < shingle_n)
        .select(id_col, F.concat_ws(" ", "_toks").alias("_s"))
    )
    return full.unionByName(short)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    arrow: bool = True,
) -> DataFrame:
    """Per-doc MinHash signature as array<long>[num_hashes].

    Default (``arrow=True``): per-row Arrow UDF — blake2b-8 base hash per
    shingle, seeded multiply-add family, NumPy min — a narrow projection
    with NO shuffle. Fallback (``arrow=False``): pure Catalyst —
    h_i(x) = xxhash64(shingle, seed=i), explode shingles, project all
    num_hashes hashes per shingle (whole-stage codegen'd), then one
    hash-partitioned groupBy(doc) with map-side partial mins (the shuffle
    carries only num_hashes longs per doc per partition).
    """
    if arrow:
        if shingles is not None:
            return shingles.select(
                F.col(id_col), _signature_udf(num_hashes)("_sh").alias("minhash")
            )
        # no precomputed shingle frame -> fused single-pass form (r15):
        # shingle + hash + min in one Python crossing, nothing but the
        # 64-long signature ever leaves the worker (guide §4.2)
        from vamana_spark.functions.util import ensure_parallelism

        return ensure_parallelism(df.select(id_col, text_col)).select(
            F.col(id_col),
            _text_signature_udf(num_hashes, shingle_n)(text_col).alias("minhash"),
        )
    if shingles is not None:
        ex = shingles.select(F.col(id_col), F.explode("_sh").alias("_s"))
    else:
        # distinct per doc (MinHash is set-semantics; dup shingles can't
        # change a min but would inflate the shuffle)
        ex = shingle_rows(df, text_col, id_col, shingle_n).distinct()
        ex = ex.select(F.col(id_col), F.col("_s"))
    hashed = ex.select(
        id_col, *[F.xxhash64("_s", F.lit(i)).alias(f"_h{i}") for i in range(num_hashes)]
    )
    mins = hashed.groupBy(id_col).agg(
        *[F.min(f"_h{i}").alias(f"_m{i}") for i in range(num_hashes)]
    )
    sig = F.array(*[F.col(f"_m{i}") for i in range(num_hashes)])
    return mins.select(F.col(id_col), sig.alias("minhash"))


def band_hash_array(minhash_col: str, num_hashes: int, bands: int):
    """array<long>[bands]: xxhash64 of each band's signature slice —
    the LSH bucket keys. A pure column expression (stateless), so the
    same banding serves the batch candidate join AND the streaming
    dedup state key (streaming/dedup.streaming_minhash_dedup)."""
    assert num_hashes % bands == 0
    rpb = num_hashes // bands
    return F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(minhash_col)[b * rpb + r].cast("string")
                        for r in range(rpb)
                    ],
                )
            )
            for b in range(bands)
        ]
    )


def _banded_pairs_capped(
    banded: DataFrame,
    band_keys: list,
    id_col: str,
    payload_cols: tuple = (),
    max_bucket_size: int = 512,
) -> DataFrame:
    """Candidate pairs from band buckets, with a bucket-size cap.

    Small buckets (≤ ``max_bucket_size``) produce all pairs via the
    equi-join. Oversized buckets — the one structurally skewable join in
    the dedup surface (a giant duplicate cluster lands its whole
    membership in the same bucket in EVERY band, so a self-join is
    quadratic in cluster size; SCALE.md §LSH) — switch to star topology:
    every member pairs with the bucket's min-id representative. Pair
    count is linear in bucket size, downstream exact verification still
    sees every member, and connected-components recovers the full
    cluster through the representative. The trade: within an oversized
    bucket, member↔member similarity is only observed transitively.
    """
    # Over-cap buckets are RARE by construction (they exist only when a
    # giant duplicate cluster floods one bucket), so compute just their
    # keys with a map-side-combined aggregation and broadcast-left-join
    # them back — instead of a full window shuffle of every banded row.
    overfull = F.broadcast(
        banded.groupBy(*band_keys)
        .agg(F.count(F.lit(1)).alias("_bsz"), F.min(id_col).alias("_rep"))
        .where(F.col("_bsz") > max_bucket_size)
    )
    ann = banded.join(overfull, band_keys, "left")

    def side(df, tag):
        return df.select(
            F.col(id_col).alias(f"{tag}_id"),
            *[F.col(c).alias(f"{tag}_{c}") for c in payload_cols],
            *band_keys,
        )

    small = ann.where(F.col("_bsz").isNull())
    out_cols = (
        ["a_id", "b_id"]
        + [f"a_{c}" for c in payload_cols]
        + [f"b_{c}" for c in payload_cols]
    )
    pairs_small = (
        side(small, "a")
        .join(side(small, "b"), band_keys)
        .where(F.col("a_id") < F.col("b_id"))
        .select(*out_cols)
    )
    reps = side(
        ann.where(F.col("_bsz").isNotNull() & (F.col(id_col) == F.col("_rep"))),
        "a",
    )
    members = side(
        ann.where(F.col("_bsz").isNotNull() & (F.col(id_col) != F.col("_rep"))),
        "b",
    )
    # rep is the bucket min -> a_id < b_id by construction
    pairs_large = reps.join(members, band_keys).select(*out_cols)
    return pairs_small.union(pairs_large).distinct()


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    arrow: bool = True,
    max_bucket_size: int = 512,
) -> DataFrame:
    """Banded-LSH candidate pairs (a_id < b_id, distinct).

    Signature split into ``bands`` rows of ``num_hashes/bands``; docs
    sharing any band hash become candidates. Equi-join on
    (band_id, band_hash) — the 100-TB-safe shape. Buckets larger than
    ``max_bucket_size`` degrade to star-linking (see
    ``_banded_pairs_capped``) so a planted giant duplicate cluster can't
    go quadratic.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, shingles=shingles, arrow=arrow
    )
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(band_hash_array("minhash", num_hashes, bands)).alias(
            "band_id", "band_hash"
        ),
    )
    # banded feeds FIVE downstream branches (overfull agg, small-pair a/b
    # sides, over-cap reps/members) — without materialization each branch
    # replays the per-doc signature UDF; 2 longs + id per row, tiny.
    # localCheckpoint (not persist): blocks are ContextCleaner-owned and
    # vanish when this DataFrame is garbage-collected, so repeated dedup
    # passes in a long session can't accumulate storage (VERDICT r5 #5 —
    # persist() pins CacheManager entries until an explicit unpersist).
    # Trade-off: lineage is truncated, so an executor loss on a real
    # cluster fails the job instead of recomputing — acceptable for a
    # bounded candidate-generation stage; pass a precomputed ``shingles``
    # frame and persist it yourself if you need fault-tolerant retries.
    banded = banded.localCheckpoint()
    return _banded_pairs_capped(
        banded, ["band_id", "band_hash"], id_col, max_bucket_size=max_bucket_size
    )


#: Measured star-cap presets (10M Zipf rung, SCALE.md r11): "audit"
#: keeps the 512 cap (exhaustive within-cap pair lists — the parity /
#: pair-consumer default); "cluster" drops it to 64 — at 10M that cut
#: verified pairs 7.4x (86.8M -> 11.8M), disk spill 11x, and the
#: connected-components pass 6.7x at EQUAL MEASURED planted coverage
#: and cluster recovery (0.9999 at both caps on that corpus — an
#: approximate guarantee, not an identity: star topology keeps a
#: cluster connected through its min-id representative only when the
#: rep-member edge itself survives exact-Jaccard verification; see the
#: fragmentation note in minhash_near_dups).
_MINHASH_CONSUMER_CAPS = {"audit": 512, "cluster": 64}


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    arrow: bool = True,
    max_bucket_size: "int | None" = None,
    consumer: str = "audit",
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates re-verified with exact Jaccard
    over shingle sets (joins shingles back onto the candidate pairs only).
    Returns (a_id, b_id, jaccard >= threshold).

    ``consumer`` (r12, VERDICT r11 #4 — the 10M rung's recipe finding
    as an API preset): picks the star-cap ``max_bucket_size`` for the
    downstream consumption shape. ``"audit"`` (default, cap 512) emits
    every within-cap pair — the exhaustive pair-list / oracle-parity
    setting. ``"cluster"`` (cap 64) is for callers that only need
    transitive clusters or survivors (``duplicate_clusters`` /
    ``dedup_corpus`` default to it): star topology keeps a cluster
    connected through its min-id representative at O(members) pairs —
    measured at the 10M Zipf rung: 7.4x fewer verified pairs
    (86.8M -> 11.8M), 11x less disk spill, 6.7x faster CC at equal
    measured planted coverage and cluster recovery (0.9999 at BOTH
    caps on that corpus). That is an APPROXIMATE guarantee, not an
    identity (ADVICE r12): a capped bucket emits only rep↔member
    candidate edges, and an edge survives only if the exact Jaccard of
    that specific pair clears ``threshold`` — a member below threshold
    against the min-id rep but above it against some capped-away OTHER
    member loses its connecting edge, fragmenting a cluster the audit
    cap would have recovered. Near-threshold corpora whose duplicate
    groups are CHAINS rather than near-cliques should pass
    ``consumer="audit"``. An explicit ``max_bucket_size`` overrides
    the preset.

    ``max_bucket_size`` (r11, exposed after the 10M Zipf rung —
    SCALE.md): the star-cap bound on per-bucket pair expansion. The
    OBSERVED pair count scales with Σ min(bucket, cap)² across band
    buckets — on a Zipf-skewed corpus the mid-size duplicate clusters
    below the cap emit their full quadratic pair sets. That output is
    CORRECT (those pairs are real); within an over-cap bucket,
    member↔member similarity is only observed transitively through
    the representative."""
    if consumer not in _MINHASH_CONSUMER_CAPS:
        raise ValueError(
            f"consumer must be one of {sorted(_MINHASH_CONSUMER_CAPS)}, "
            f"got {consumer!r}"
        )
    if max_bucket_size is None:
        max_bucket_size = _MINHASH_CONSUMER_CAPS[consumer]
    # r15 (VERDICT r14 #4): the candidate path used to materialize the
    # FULL-corpus shingle stream (localCheckpoint of (id, array<string>)
    # — at 100 TB a complete write+read of ~3x the text bytes) just so
    # the signature pass and the verify joins could share it. Now the
    # signatures come from the fused single-pass UDF (shingles never
    # leave Python), and verification re-shingles ONLY the docs that
    # appear in a candidate pair: semi-join the corpus by candidate ids
    # (guide §3.2 — reduce the big side before shuffling it), so the
    # two verify-side shuffles carry candidate-doc shingles, not the
    # whole corpus. The pair list is checkpointed (it feeds the output
    # AND both id sides); it is narrow (two longs/row) and candidate-
    # sized — the heavy barrier is gone, not moved.
    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n,
        arrow=arrow, max_bucket_size=max_bucket_size,
    ).localCheckpoint()
    need = (
        cands.select(F.col("a_id").alias(id_col))
        .union(cands.select(F.col("b_id").alias(id_col)))
        .distinct()
    )
    sh = shingle_sets(
        df.join(need, id_col, "left_semi"), text_col, id_col, shingle_n,
        arrow=arrow,
    ).localCheckpoint()  # candidate docs only; read by both join sides
    av = sh.select(F.col(id_col).alias("a_id"), F.col("_sh").alias("a_sh"))
    bv = sh.select(F.col(id_col).alias("b_id"), F.col("_sh").alias("b_sh"))
    inter = F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
    union = F.size(F.array_union("a_sh", "b_sh")).cast("double")
    return (
        cands.join(av, "a_id")
        .join(bv, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(inter / F.greatest(union, F.lit(1.0)), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ----------------------------------------------- duplicate clusters (CC)

def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 30,
    check_every: int = 1,
) -> DataFrame:
    """Connected components over an undirected pair list →
    ``(node, component)`` with component = min node id in the component.

    The dedup endgame: near-dup PAIRS must become CLUSTERS before a
    corpus can keep one canonical doc per group (A~B, B~C ⇒ {A,B,C}
    even when A~C was never emitted by LSH).

    Algorithm: min-label propagation with pointer jumping
    (label(v) ← label(label(v)) each round), the standard O(log n)-round
    BSP connectivity recipe (same shape GraphX/Pregel CC uses). Each
    round is two self-equi-joins + a groupBy — all shuffle-partitioned
    on node id, no broadcast of anything O(n). ``localCheckpoint``
    truncates lineage so later rounds don't replay earlier ones.
    Near-dup graphs are LSH near-cliques with tiny diameter, so
    convergence is typically 2-3 rounds.

    ``check_every`` (r15, VERDICT r14 #7): the barrier cadence —
    convergence count + localCheckpoint every N rounds, intermediate
    rounds lazy. Semantically exact at every cadence (labels are
    monotone non-increasing, so span-level no-change detection is
    equivalent, and post-convergence rounds are identities). **The
    default stays 1 because cadence 2 measured 3.3x SLOWER** on the
    regime it was meant to help (1M-node chains, diameter 64,
    `tools/ab_cc_cadence.py`: 19.9 s vs 66.6 s min-of-3 interleaved,
    Spark jobs 71 → 137): the deferred round's plan references the
    previous round's unmaterialized result from three places (gather
    side, union side, pointer-jump hop side), and under AQE those
    duplicated subtrees re-execute instead of reusing exchanges — the
    replays cost far more than the saved barrier. Kept as a parameter
    with the measured warning rather than deleted, per guide §1.1
    (negative results are results).
    """
    check_every = max(1, int(check_every))
    sym = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    sym = sym.union(
        sym.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("u", "_mn").alias("label"))
        .localCheckpoint()
    )
    last = labels  # last checkpointed labels: the convergence reference
    for it in range(max_iter):
        # gather: each node takes the min of its own and neighbors' labels
        nbr = sym.join(
            labels.select(F.col("u").alias("v"), F.col("label")), "v"
        ).select("u", "label")
        new = (
            nbr.union(labels.select("u", "label"))
            .groupBy("u")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: follow the label one hop (label ids are node ids)
        hop = new.select(F.col("u").alias("_lu"), F.col("label").alias("_ll"))
        new = (
            new.join(hop, new["label"] == hop["_lu"], "left")
            .select("u", F.least("label", F.coalesce("_ll", "label")).alias("label"))
        )
        labels = new
        if (it + 1) % check_every == 0 or it == max_iter - 1:
            labels = new.localCheckpoint()
            changed = (
                labels.join(last.withColumnRenamed("label", "_old"), "u")
                .where(F.col("label") != F.col("_old"))
                .limit(1)
                .count()
            )
            if changed == 0:
                break
            last = labels
    sym.unpersist()
    return labels.select(F.col("u").alias("node"), F.col("label").alias("component"))


def duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    pairs: DataFrame | None = None,
    **minhash_kwargs,
) -> DataFrame:
    """(doc_id, cluster_id) for every doc in at least one near-dup pair;
    cluster_id = min doc_id of the transitive cluster. Pairs default to
    MinHash-LSH (``minhash_near_dups``); pass ``pairs`` to cluster the
    output of any other pair generator (exact Jaccard, SimHash, ...).

    Self-generated pairs default to ``consumer="cluster"`` (star-cap
    64 — the 10M-rung-measured preset): clusters only need every member
    CONNECTED, not every pair EMITTED, and connected-components
    recovers the cluster through the bucket representative at a 7-11x
    intermediate-cost cut. Recovery is the MEASURED 0.9999 of the 10M
    Zipf rung, not an identity — see the fragmentation note in
    ``minhash_near_dups``; chain-shaped near-threshold duplicate
    groups should override with ``consumer="audit"`` via
    ``minhash_kwargs["consumer"]`` / ``["max_bucket_size"]``."""
    if pairs is None:
        minhash_kwargs.setdefault("consumer", "cluster")
    p = (
        pairs
        if pairs is not None
        else minhash_near_dups(df, text_col, id_col, threshold, **minhash_kwargs)
    )
    cc = connected_components(p, "a_id", "b_id")
    return cc.select(
        F.col("node").alias(id_col), F.col("component").alias("cluster_id")
    )


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    pairs: DataFrame | None = None,
    **minhash_kwargs,
) -> DataFrame:
    """Corpus-level near-dedup: keep the canonical (min-id) doc of every
    near-dup cluster plus all unpaired docs — the full 100-TB pipeline
    (LSH pairs → transitive clusters → anti-join of non-canonicals).
    Inherits ``duplicate_clusters``' ``consumer="cluster"`` star-cap
    preset for self-generated pairs. Survivor sets under the low cap
    match the audit cap to the MEASURED 0.9999 cluster recovery of the
    10M Zipf rung, not bit-for-bit: a fragmented cluster (see the
    ``minhash_near_dups`` fragmentation note) keeps one extra survivor
    per fragment. Pass ``consumer="audit"`` when exactness against the
    uncapped pair graph matters more than the 7-11x cost cut.
    """
    clusters = duplicate_clusters(
        df, text_col, id_col, threshold, pairs=pairs, **minhash_kwargs
    )
    losers = clusters.where(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return df.join(losers, id_col, "left_anti")


# ------------------------------------------------------------------- SimHash

def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash over whitespace tokens.

    Per bit b: sum over tokens of (+1 if bit b of xxhash64(token) else -1);
    signature bit = sign. Physical plan: explode tokens -> one xxhash64 ->
    64 flat sign projections -> groupBy(doc) with 64 map-side partial sums
    — whole-stage codegen throughout (array higher-order functions run
    interpreted in Spark, so the fold form is ~10x slower).
    """
    from vamana_spark.functions.util import ensure_parallelism

    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
    ex = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(toks).alias("_t")
    )
    h = F.xxhash64("_t")
    votes = ex.select(
        id_col,
        *[
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
            .alias(f"_v{b}")
            for b in range(bits)
        ],
    )
    sums = votes.groupBy(id_col).agg(
        *[F.sum(f"_v{b}").alias(f"_s{b}") for b in range(bits)]
    )
    # fold bit b into the signature when its vote sum is positive; bit 63
    # uses the sign bit of the signed long (two's-complement wrap)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        bit_val = (1 << b) if b < 63 else -(1 << 63)
        sig = sig.bitwiseOR(
            F.when(F.col(f"_s{b}") > 0, F.lit(bit_val).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Blocking: ``bands`` equal-width bands of the 64-bit signature — any
    pair within Hamming ``bands - 1`` must agree on at least one band
    (pigeonhole), so ``max_hamming`` above that silently loses recall
    (asserted). Candidates from band equi-joins, then exact popcount
    verification. More bands widen the guaranteed radius but shrink the
    band value space (8 bands → 8-bit values), so buckets grow — the
    ``_banded_pairs_capped`` star-guard bounds the damage, but wide-radius
    scans belong at modest corpus sizes; MinHash-LSH is the scale path.
    """
    assert 64 % bands == 0, f"bands {bands} must divide 64"
    assert max_hamming <= bands - 1, (
        f"banding with {bands} bands only guarantees candidates up to "
        f"hamming {bands - 1}; got max_hamming={max_hamming}"
    )
    width = 64 // bands
    mask = (1 << width) - 1
    sigs = simhash_signatures(df, text_col, id_col)
    banded = sigs.select(
        F.col(id_col),
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit(mask))
                    .cast("long")
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    # materialize: _banded_pairs_capped reads this five ways (see the
    # MinHash analogue) — without it each branch replays the token
    # explode + 64-column vote aggregation. localCheckpoint, not persist:
    # GC-owned blocks, no leak across repeated passes (VERDICT r5 #5).
    banded = banded.select(
        id_col, F.col("simhash").alias("sig"), "band_id", "band_val"
    ).localCheckpoint()
    cand = _banded_pairs_capped(
        banded,
        ["band_id", "band_val"],
        id_col,
        payload_cols=("sig",),
    )
    ham = F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
    return cand.select(
        "a_id", "b_id", ham.cast("int").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


def simhash_verified_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 7,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """SimHash-blocked pairs re-verified with exact word n-gram Jaccard:
    (a_id, b_id, hamming, jaccard) for candidates with Hamming <=
    ``max_hamming`` AND Jaccard >= ``threshold``.

    This is the oracle-able projection of the SimHash pass (VERDICT r5
    #9): the signature/hamming values are engine-internal (xxhash64),
    but the surviving PAIRS and their exact Jaccard are reproducible by
    any engine that can enumerate pairs — provided the blocking has
    full recall at the operating point (defaults guarantee candidates
    to Hamming 7; near-dups at Jaccard >= 0.5 sit well inside that on
    token-weighted SimHash).
    """
    cand = simhash_near_dups(
        df, text_col, id_col, max_hamming=max_hamming, bands=bands
    )
    sh = shingle_sets(df, text_col, id_col, shingle_n)
    av = sh.select(F.col(id_col).alias("a_id"), F.col("_sh").alias("a_sh"))
    bv = sh.select(F.col(id_col).alias("b_id"), F.col("_sh").alias("b_sh"))
    inter = F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
    union = F.size(F.array_union("a_sh", "b_sh")).cast("double")
    return (
        cand.join(av, "a_id")
        .join(bv, "b_id")
        .select(
            "a_id",
            "b_id",
            "hamming",
            F.round(inter / F.greatest(union, F.lit(1.0)), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------- embedding cosine near-dup

def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_exact_rows: int = 100_000,
    lsh_num_planes: int = 16,
    lsh_bands: int = 4,
) -> DataFrame:
    """Pairs of vectors with cosine similarity >= threshold.

    Auto-tiered (r4 verdict #3, same pattern as the index build guard,
    vamana.py auto-tier): at or below ``max_exact_rows`` the exact
    all-pairs broadcast self-join runs (oracle parity — every true pair
    emitted); above it the plan switches to random-hyperplane LSH
    blocking (equi-join on band value, ``similarity.lsh_similarity_join``)
    with exact cosine verification on candidates only — no cross
    product at scale, at the standard LSH recall trade (a true pair
    colliding in no band is missed; plane/band counts tune that).
    """
    from vamana_spark.functions.vector import cosine_distance

    if emb.count() > max_exact_rows:
        from vamana_spark.operators.similarity import lsh_similarity_join

        cand = lsh_similarity_join(
            emb,
            num_planes=lsh_num_planes,
            bands=lsh_bands,
            max_cosine_dist=1.0 - threshold,
            id_col=id_col,
            vec_col=vec_col,
        )
        return cand.select(
            "a_id",
            "b_id",
            F.round(F.lit(1.0) - F.col("cos_dist"), 4).alias("cosine_sim"),
        ).where(F.col("cosine_sim") >= threshold)

    a = emb.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_v"))
    b = emb.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_v"))
    pairs = a.crossJoin(F.broadcast(b)).where(F.col("a_id") < F.col("b_id"))
    sim = F.lit(1.0) - cosine_distance("a_v", "b_v")
    return pairs.select(
        "a_id", "b_id", F.round(sim, 4).alias("cosine_sim")
    ).where(F.col("cosine_sim") >= threshold)


# --------------------------------------------------------- decontamination

def _shingle_hashes(
    df: DataFrame, n: int, text_col: str, id_col: str, out_id: str
) -> DataFrame:
    """(out_id, h): md5 of each DISTINCT word n-gram shingle; short docs
    fall back to one whole-document shingle (word_shingles semantics).
    Tokens are staged as a column first — see word_shingles_from_tokens."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
    staged = df.select(F.col(id_col).alias(out_id), toks.alias("_t"))
    hashes = F.transform(
        word_shingles_from_tokens(F.col("_t"), n), lambda s: F.md5(s)
    )
    return staged.select(F.col(out_id), F.explode(hashes).alias("h"))


def contamination_check(
    train: DataFrame,
    test: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_docs: Optional[int] = None,
) -> DataFrame:
    """Test-set contamination scan: (test_id, train_id, n_shared) for
    every test document sharing >= 1 distinct word n-gram shingle with a
    train document — the standard decontamination pass run before
    training so eval sets don't leak into the corpus.

    Scale shape: the heavy side explodes to one row per distinct shingle
    and the match is an equi-join ON THE SHINGLE HASH — never a doc x doc
    product; shuffle is keyed by h. Natural-language shingles are
    Zipf-skewed, so ``max_shingle_docs`` drops shingles appearing in more
    than that many train docs (boilerplate/stop-shingles) before the
    join — the same cap production decontamination uses, and it bounds
    the worst join key's fan-out. Counts are per distinct shingle
    (both sides deduplicate shingles per document first).
    """
    tr = _shingle_hashes(train, n, text_col, id_col, "train_id")
    te = _shingle_hashes(test, n, text_col, id_col, "test_id")
    if max_shingle_docs is not None:
        common = (
            tr.groupBy("h")
            .agg(F.countDistinct("train_id").alias("_df"))
            .where(F.col("_df") > max_shingle_docs)
            .select("h")
        )
        tr = tr.join(common, "h", "left_anti")
    return (
        te.join(tr, "h")
        .groupBy("test_id", "train_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-level exact line deduplication (the C4/RefinedWeb pass):
    every line keeps only its FIRST occurrence across the whole corpus
    (first = smallest (doc_id, position)); later copies — boilerplate
    headers, navigation, license blobs — are dropped from their
    documents. Lines shorter than ``min_chars`` bypass dedup (an empty
    or one-char line is structure, not boilerplate).

    Returns (id, n_lines, n_kept, text) with the document text
    reassembled from surviving lines in original order.

    100 TB shape: short lines (the ~25-30% empty-line mass on web
    corpora) bypass the shuffle entirely; the first occurrence of each
    remaining line is a ``groupBy(line).agg(min(struct(id, pos)))`` —
    an associative min with MAP-SIDE partial aggregation, so a
    boilerplate line repeated a billion times reaches the reducer as
    one partial row per map task, never as a single-key row stream (a
    window rank here would funnel every copy of every hot line through
    one task). The winner rows ARE the kept lines — no join back — and
    reassembly is one groupBy(doc).
    """
    from vamana_spark.functions.util import ensure_parallelism

    src = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    lines = src.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    is_short = F.length("line") < min_chars
    firsts = (
        lines.where(~is_short)
        .groupBy("line")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_w"))
    )
    kept = firsts.select(
        F.col("_w").getField(id_col).alias(id_col),
        F.col("_w").getField("pos").alias("pos"),
        "line",
    ).unionByName(lines.where(is_short))
    total = src.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines"),
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias(text_col),
    )
    return (
        total.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce(text_col, F.lit("")).alias(text_col),
        )
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-SPAN detection — the substring-dedup pass
    ("Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022, re-expressed as a shingle inventory instead of a
    suffix array): every maximal token run covered by k-token shingles
    that appear verbatim in >= ``min_docs`` distinct documents.

    Returns (id, span_start, span_end, n_span_tokens) — 1-based token
    positions of each maximal duplicated span per document. Downstream
    curation cuts the spans out of the text (span-level dedup), which
    removes boilerplate/licensing blobs doc-level dedup can't touch.

    Dataflow: tokenize → per-position k-shingle (map-only, pipelined —
    the token array never crosses a shuffle) → distinct-doc count per
    shingle hash (Spark plans count_distinct as a two-stage aggregate
    with map-side partials) → duplicated hashes equi-joined back onto
    the occurrence stream → per-doc window merges duplicated shingle
    starts closer than k into maximal spans.

    100 TB shape: shuffle cardinality is the corpus token count (the
    token_histogram / contamination_check class), keyed by a 64-bit
    shingle hash — uniform, skew-free. The join back is an equi-join on
    that hash: a boilerplate shingle present in millions of docs emits
    exactly its occurrence rows (output-linear, never a cross product);
    the alternative (collect_list of occurrences per shingle) would
    funnel a hot shingle's occurrences into one task, so the join-back
    is the scalable choice even though it re-reads the occurrence side.
    Hashing trims both shuffles to 8 bytes/key vs ~k tokens of text; a
    collision only ever ADDS one false k-token shingle (birthday math:
    ~30 expected collisions at 10^12 distinct shingles — swap a 128-bit
    hash in where that matters; the DuckDB oracle groups by the raw
    shingle string and the parity gate pins testdata scales where
    collision odds are ~1e-14).
    """
    from vamana_spark.functions.util import ensure_parallelism

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    t = ensure_parallelism(df.select(F.col(id_col), toks.alias("_toks")))
    n = F.size("_toks")
    starts = F.when(
        n >= k, F.sequence(F.lit(1), n - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    s = t.select(F.col(id_col), F.col("_toks"), F.explode(starts).alias("pos"))
    occ = s.select(
        F.col(id_col),
        F.col("pos"),
        F.xxhash64(F.concat_ws(" ", F.slice("_toks", F.col("pos"), k))).alias(
            "_h"
        ),
    )
    dup = (
        occ.groupBy("_h")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") >= int(min_docs))
        .select("_h")
    )
    hits = occ.join(dup, "_h").select(F.col(id_col), F.col("pos"))
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
        F.lit(1)
    )
    return (
        hits.withColumn("_brk", brk)
        .withColumn("_g", F.sum("_brk").over(w))
        .groupBy(id_col, "_g")
        .agg(F.min("pos").alias("_mn"), F.max("pos").alias("_mx"))
        .select(
            F.col(id_col),
            F.col("_mn").cast("long").alias("span_start"),
            (F.col("_mx") + (k - 1)).cast("long").alias("span_end"),
            (F.col("_mx") + (k - 1) - F.col("_mn") + 1)
            .cast("long")
            .alias("n_span_tokens"),
        )
    )


def _split_kmeans_enforced(X: "object", ids: "object", cap: int) -> tuple:
    """Shared split kernel: (enforced_labels, dist_matrix) for one
    oversized cluster. Two stages, both deterministic:

    1. mini k-means (k = ceil(n / cap), centers seeded from evenly-spaced
       id-sorted rows, 4 Lloyd passes) — similar points stay together,
       so the similarity miss introduced by the split is minimal;
    2. hard enforcement: any child still over cap (skewed k-means, or
       the degenerate all-identical cluster where Lloyd can't separate
       anything) is chunked in id order into cap-sized pieces (the
       FIRST chunk keeps the stage-1 label).

    Stage 2 guarantees the bound unconditionally in ONE pass — no
    recursion needed. Rows must arrive id-sorted (callers sort). The
    returned ``dist_matrix`` is row-to-stage-1-center squared L2 against
    the SAME centers the primary assignment used (the sub-probe path
    reads second-nearest children from it). The third return,
    ``chunk_bounds``, is a list of (prev_chunk_last_row, chunk_label)
    pairs — one per stage-2 chunk boundary — so the multi-probe path
    can stitch the id-order chunks back together with a one-row
    witness replica per boundary (ADVICE r13: chunked rows are outside
    the stage-1 sub-probe's reach, so without the stitch a pair split
    across a chunk boundary in the degenerate all-identical fallback
    stays missed)."""
    import numpy as np

    n = len(ids)
    k = -(-n // cap)  # ceil
    centers = X[np.linspace(0, n - 1, k).astype(np.int64)].copy()
    for _ in range(4):
        d = (
            (X * X).sum(1)[:, None]
            + (centers * centers).sum(1)[None, :]
            - 2.0 * (X @ centers.T)
        )
        a = d.argmin(axis=1)
        for j in range(k):
            m = a == j
            if m.any():
                centers[j] = X[m].mean(axis=0)
    out = a.astype(np.int64)
    nxt = k
    chunk_bounds = []
    for j in range(k):
        idx = np.flatnonzero(out == j)
        if idx.size > cap:
            # id-order chunking (idx is id-sorted because rows are)
            for c, lo in enumerate(range(0, idx.size, cap)):
                if c:
                    out[idx[lo : lo + cap]] = nxt
                    # the previous chunk's LAST row is the lowest-id
                    # witness this chunk is missing
                    chunk_bounds.append((int(idx[lo - 1]), int(nxt)))
                    nxt += 1
    return out, d, chunk_bounds


def _split_oversized_labels(X: "object", ids: "object", cap: int) -> "object":
    """Child labels (int array, len n) splitting one oversized cluster so
    every child has <= cap rows (see :func:`_split_kmeans_enforced`)."""
    import numpy as np

    n = len(ids)
    if n <= cap:
        return np.zeros(n, dtype=np.int64)
    return _split_kmeans_enforced(X, ids, cap)[0]


def _boundary_stitch_replicas(chunk_bounds: "list") -> tuple:
    """(row_indices, labels) of the one-row-per-boundary witness
    replicas that stitch stage-2 id-order chunks together (ADVICE
    r13): each chunk receives the PREVIOUS chunk's last row as a
    non-primary replica, restoring the lower-id witness chain that
    id-order chunking cut. Memory bound: +1 row per chunk."""
    import numpy as np

    if not chunk_bounds:
        return (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.int64),
        )
    return (
        np.array([b[0] for b in chunk_bounds], dtype=np.int64),
        np.array([b[1] for b in chunk_bounds], dtype=np.int64),
    )


def _split_labels_multiprobe(X: "object", ids: "object", cap: int) -> tuple:
    """Sub-probe split labels (r13, VERDICT r12 #3): replica layout for
    one oversized cluster under multi-probe — each row keeps its
    enforced primary child label AND gains one replica in its
    second-nearest stage-1 SUB-center's child, the same top-2 recipe
    top-level multi-probe uses: a pair split across two children is
    scored in whichever child both replicas share. SCALE.md r12 had
    guessed this class was a chunk of the residual planted miss; the
    r13 measurement sized it at +154 drops on the 10M Zipf rung.

    Stage-2 id-order chunks (labels >= the k-means child count — the
    degenerate all-identical fallback, where Lloyd can't separate
    anything) are outside the stage-1 sub-probe's reach, so they are
    stitched separately (r14, ADVICE r13): each chunk receives the
    PREVIOUS chunk's last row as a one-row witness replica, restoring
    the lower-id witness chain the chunking cut — the chunk's members
    are near-identical by construction (k-means failed to separate
    them), so one lower-id witness answers for the whole chunk.

    Bound: secondary replicas per child are capped at ``cap`` (keep the
    rows CLOSEST to that child's center — the boundary rows the probe
    exists for; ties by id), so every scan group holds <= 2*cap rows
    (chunk groups: cap + 1) and the task stays O((2*cap)^2) — the same
    constant-factor growth the top-level ``probes=2`` statement
    documents.

    Returns (row_indices, labels, is_primary) — parallel arrays, one
    entry per REPLICA; primaries come first in row order, identical to
    the probes=1 labels."""
    import numpy as np

    n = len(ids)
    lab, d, chunk_bounds = _split_kmeans_enforced(X, ids, cap)
    k = d.shape[1]
    rep_idx = [np.arange(n, dtype=np.int64)]
    rep_lab = [lab]
    rep_pri = [np.ones(n, dtype=bool)]
    if k > 1:
        j2 = np.argsort(d, axis=1, kind="stable")[:, 1]
        for j in range(k):
            cand = np.flatnonzero(j2 == j)
            if cand.size == 0:
                continue
            if cand.size > cap:
                sel = np.lexsort((ids[cand], d[cand, j]))[:cap]
                cand = cand[np.sort(sel)]
            rep_idx.append(cand)
            rep_lab.append(np.full(cand.size, j, dtype=np.int64))
            rep_pri.append(np.zeros(cand.size, dtype=bool))
    b_idx, b_lab = _boundary_stitch_replicas(chunk_bounds)
    if b_idx.size:
        rep_idx.append(b_idx)
        rep_lab.append(b_lab)
        rep_pri.append(np.zeros(b_idx.size, dtype=bool))
    return (
        np.concatenate(rep_idx),
        np.concatenate(rep_lab),
        np.concatenate(rep_pri),
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.9,
    num_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    block_rows: int = 2048,
    keep_policy: str = "min_id",
    max_cluster_rows: int = 100_000,
    expose_subcluster: bool = False,
    probes: int = 1,
) -> DataFrame:
    """Semantic dedup (the SemDeDup recipe, Abbas et al. 2023):
    k-means-cluster the UNIT-normalized embedding space, then mark a
    point as duplicate when its cosine similarity to some LOWER-id
    point in the SAME cluster reaches ``threshold``. The cluster
    blocking is what bounds the quadratic: pairs are only ever scored
    within a cluster, never across the corpus.

    Returns one row per input point:
      (id, cluster_id, keep, dup_of, max_sim) —
      keep    : survives dedup (no lower-id point above threshold)
      dup_of  : the most-similar lower-id cluster-mate at/above
                threshold (smallest id on ties); null when kept
      max_sim : cosine similarity to dup_of; null when kept
    ``expose_subcluster=True`` appends ``subcluster_id`` (string), the
    refined scan key — equal to ``str(cluster_id)`` unless the
    giant-cluster backstop split the cluster (then "<id>.<sub>"). The
    STRUCTURAL split test is ``subcluster_id`` containing ``'.'`` —
    count-based tests (distinct(subcluster_id) vs num_clusters) are
    unreliable: k-means cells with zero assigned rows never appear in
    the output, so an empty cell can mask a fired split (ADVICE r11).

    ``probes`` (r12, VERDICT r11 #3 — the boundary-straddle recovery):
    assign each point to its ``probes`` nearest centers and run the
    scan in every probed cell, then merge to one row per point (dropped
    anywhere ⇒ dropped; ``dup_of``/``max_sim`` come from the
    highest-similarity witness). Single-probe SemDeDup misses pairs
    whose members fall on opposite sides of a Voronoi boundary — the
    dominant planted-miss class at the 10M Zipf rung (8.4% of planted
    dups at probes=1). Every multi-probe drop is exact-cosine-verified
    in some probed cell, so no pair below ``threshold`` is ever
    emitted; whole-group safety (some member of every duplicate group
    survives) additionally needs the drop relation to be acyclic
    across cells, which both policies guarantee — min_id because drops
    always point to a strictly smaller id, centroid_far because under
    multi-probe the keep priority is a GLOBAL scalar (see below; r13,
    ADVICE r12). When the giant-cluster backstop splits an oversized
    cell, ``probes>1`` also probes the split CHILDREN top-2
    (:func:`_split_labels_multiprobe` — r13, VERDICT r12 #3),
    converting the k-means sub-cluster-straddle miss class, and
    stitches the id-order enforcement chunks with a one-row witness
    replica per boundary (r14, ADVICE r13 — the degenerate
    all-identical fallback is outside the sub-probe's reach);
    secondary sub-replicas are capped at ``cap`` boundary rows per
    child, so every scan task stays O((2·cap)²). Measured size of the
    sub-straddle class at the 10M Zipf rung: +154 recovered drops
    (SCALE.md r13); the rung's residual
    1.4% is instead TOP-LEVEL ≥3-cell straddle, for which the lever is
    raising ``probes`` itself. Cost: each point
    resides in ``probes`` cells, so cell populations grow ~probes× and
    the per-cell quadratic scan up to probes²× (4× FLOPs at probes=2;
    measured 649 s → 3,224 s (~5×, splits + stragglers included) for
    planted-miss recall 0.9156 → 0.9859 at the 10M Zipf rung; probes=3
    measured 2,299 s → 5,429 s (2.36×, on the ~(3/2)² prediction) for
    0.9859 → 0.9979 — the r14 rung's recommendation is default 2,
    reach for 3 only at recall targets ≥ 0.995, stop there: probes=4+
    prices out by extrapolation for a ≤0.2% residual) — still
    bounded per task by the same ``max_cluster_rows`` backstop.
    Default 1 = the published recipe, output unchanged.

    ``keep_policy``: "min_id" (default — deterministic, id-stable
    across runs) or "centroid_far" (the paper's policy: within a
    duplicate group the example farthest from the cluster centroid
    survives, keeping the diverse tail of each semantic neighborhood).
    Both are the same greedy scan under different keep-priority
    orderings, and both inherit the greedy-chain semantics: a dropped
    row's ``dup_of`` may itself be dropped further down a chain.
    centroid_far's "centroid" is the scan cell's member MEAN at
    probes=1 (the published recipe), but the point's primary K-MEANS
    CENTER under ``probes>1``: per-cell means give each probed cell a
    different priority order, and mutually-inconsistent orders let A
    drop against B in one cell while B drops against A in another —
    the dropped-anywhere merge would then erase the entire group
    (ADVICE r12, high). The global scalar restores one total order,
    at the cost of a slightly different (still
    farthest-from-center-first) keep choice within groups.

    Normalization happens INSIDE the operator (zero vectors become
    their own singletons: trivially kept), so clustering runs on the
    unit sphere — parallel vectors land in the same cluster by
    construction, which is what makes exact-duplicate capture exact.

    100 TB shape: clustering reuses ``ivf_build`` (map-only Lloyd
    passes, driver reduces num_clusters partial sums); the pair scan is
    one ``applyInPandas`` per cluster, computing X_block @ X.T in
    ``block_rows`` strips — O(c^2) multiplies but O(block_rows * c)
    memory for a size-c cluster. num_clusters is the primary scale knob
    (size clusters to ~10^4-10^5 rows); ``max_cluster_rows`` is the
    skew backstop (VERDICT r5 #3): any cluster above it is split by a
    per-cluster mini k-means with id-order chunk enforcement
    (:func:`_split_oversized_labels`), bounding every scan task to
    O(cap^2) time — a planted all-points-in-one-cluster corpus can no
    longer serialize into one quadratic task. The split trades a
    DOCUMENTED similarity miss: pairs straddling a sub-cluster boundary
    are not scored at probes=1 (same miss class as the top-level
    blocking, one level down; exact duplicates still co-locate under
    k-means unless the degenerate chunk fallback fires) — ``probes>1``
    sub-probes the children top-2 and recovers the capped boundary
    band of that miss. ``max_cluster_rows=0`` disables the backstop.
    """
    from vamana_spark.operators.similarity import ivf_build

    import numpy as np

    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type = emb.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"semantic_dedup requires an integral id column (keep priority is "
            f"id order); {id_col!r} is {id_type.simpleString()} — a silent "
            f"cast would null non-numeric ids. Map ids to longs first."
        )
    spark = emb.sparkSession
    src = emb.select(F.col(id_col).cast("long").alias("vec_id"), F.col(vec_col).alias("_v"))

    def normalize(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(X, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "_u": list(X / nrm)}
            )

    unit = src.mapInPandas(normalize, schema="vec_id long, _u array<double>")
    # ivf_build's Lloyd passes run eagerly and hand back the trained
    # centers; its final per-row assignment DataFrame stays LAZY and is
    # deliberately never executed — the fused pass below re-derives the
    # assignment while carrying the unit vector, which replaces a
    # full-data (unit ⋈ assignments) vec_id shuffle pair with zero
    # shuffles: the only data shuffle left is the cluster-keyed one.
    centers = ivf_build(
        unit, num_clusters, id_col="vec_id", vec_col="_u", seed=seed
    )._ivf_centers
    bc = spark.sparkContext.broadcast(centers)

    p_eff = int(probes)
    if p_eff < 1:
        raise ValueError(f"probes must be >= 1, got {probes!r}")
    p_eff = min(p_eff, int(num_clusters))

    def assign_carry(batches):
        from vamana_spark import exact as _exact

        Cv = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            U = np.stack(pdf["_u"].to_numpy())
            d = _exact._dist_matrix(U, Cv, "l2sq")
            if p_eff == 1:
                a = d.argmin(axis=1).astype(np.int32)
                yield pdf.assign(cluster_id=a, _cell=a, _pri=True)
                continue
            # stable full sort keeps tie-breaks deterministic by center id
            near = np.argsort(d, axis=1, kind="stable")[:, :p_eff]
            # _cd: squared distance to the PRIMARY center — a GLOBAL
            # per-row scalar (identical on every replica) that
            # centroid_far uses as its keep priority under multi-probe,
            # so the per-cell greedy scans share one total order (see
            # the keep_policy docstring paragraph)
            cd = d[np.arange(len(pdf)), near[:, 0]].astype(np.float64)
            parts = []
            for j in range(p_eff):
                parts.append(
                    pdf.assign(
                        cluster_id=near[:, 0].astype(np.int32),  # primary
                        _cell=near[:, j].astype(np.int32),
                        _pri=(j == 0),
                        _cd=cd,
                    )
                )
            yield pd.concat(parts, ignore_index=True)

    carry_schema = (
        "vec_id long, _u array<double>, cluster_id int, _cell int, _pri boolean"
    )
    if p_eff > 1:
        carry_schema += ", _cd double"
    clustered = unit.mapInPandas(assign_carry, schema=carry_schema)

    # ---- giant-cluster backstop: refine any cluster over the row cap
    # into capped sub-clusters (scan key becomes the refined _ck). The
    # size probe is one num_clusters-row aggregate; the split itself
    # only touches oversized clusters, everything else passes through
    # with _ck == str(cluster_id) at zero extra shuffle cost (the
    # scan's groupBy repartitions either way).
    cap = int(max_cluster_rows)
    keyed = clustered.withColumn("_ck", F.col("_cell").cast("string"))
    if cap:
        big = [
            r["_ck"]
            for r in keyed.groupBy("_ck")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > cap)
            .collect()
        ]
        if big:
            rest = keyed.where(~F.col("_ck").isin(big))
            over = keyed.where(F.col("_ck").isin(big))

            def split_cluster(key, pdf: pd.DataFrame) -> pd.DataFrame:
                pdf = pdf.sort_values("vec_id").reset_index(drop=True)
                Xo = np.stack(pdf["_u"].to_numpy())
                ids_np = pdf["vec_id"].to_numpy()
                if p_eff == 1:
                    lab = _split_oversized_labels(Xo, ids_np, cap)
                    return pdf.assign(_ck=[f"{key[0]}.{c}" for c in lab])
                # sub-probe (r13, VERDICT r12 #3): under multi-probe the
                # split children are probed top-2 as well, recovering
                # pairs that straddle a SUB-cluster boundary. A replica
                # is primary only if it was the primary top-level cell
                # replica AND the primary child replica.
                ridx, rlab, rpri = _split_labels_multiprobe(Xo, ids_np, cap)
                res = pdf.iloc[ridx].reset_index(drop=True)
                res["_ck"] = [f"{key[0]}.{c}" for c in rlab]
                res["_pri"] = res["_pri"].to_numpy(dtype=bool) & rpri
                return res

            over = over.groupBy("_ck").applyInPandas(
                split_cluster, schema=carry_schema + ", _ck string"
            )
            keyed = rest.unionByName(over)

    thr = float(threshold)
    blk = int(block_rows)

    policy = str(keep_policy)
    if policy not in ("min_id", "centroid_far"):
        raise ValueError(f"keep_policy must be min_id|centroid_far, got {policy!r}")

    def dedup_cluster(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        # per-row PRIMARY cluster (== the cell id at probes=1; under
        # multi-probe a secondary replica still reports its primary)
        cids = pdf["cluster_id"].to_numpy(dtype=np.int32)
        pri = pdf["_pri"].to_numpy(dtype=bool)
        X = np.stack(pdf["_u"].to_numpy())
        n = len(ids)
        if policy == "centroid_far":
            # SemDeDup's published keep policy: within a duplicate
            # group the example FARTHEST from the cluster centroid
            # survives. Implemented as the keep-priority ORDER of the
            # same greedy scan: score rows far-to-near (ties: smaller
            # id first), so earlier == higher keep priority.
            if p_eff > 1:
                # ADVICE r12 (high): per-cell centroid orderings are NOT
                # mutually consistent — A can drop against B in one
                # probed cell while B drops against A in another, and
                # the dropped-anywhere merge would then erase the whole
                # group. Under multi-probe the priority is therefore a
                # GLOBAL scalar (distance to the row's primary k-means
                # center, carried from assignment): one total order in
                # every cell ⇒ drop edges always point to a strictly
                # higher-priority row ⇒ the top-priority member of any
                # group survives every cell and the merge keeps it.
                d2 = pdf["_cd"].to_numpy(dtype=np.float64)
            else:
                c = X.mean(axis=0)
                d2 = ((X - c) ** 2).sum(axis=1)
            order = np.lexsort((ids, -d2))
            ids, X, cids, pri = ids[order], X[order], cids[order], pri[order]
        dup_of = np.full(n, -1, dtype=np.int64)
        max_sim = np.full(n, np.nan)
        # strip size adapts DOWN on giant groups (r13): sims is
        # (blk, n) float64, so the docstring's O(block_rows·c) memory
        # carries a constant of blk·c·8 bytes — at the 2·cap=200k
        # groups sub-probing produces, blk=2048 means 3.3 GB per task
        # and 32 concurrent workers OOMed the 10M rung's box (the r12
        # 100k groups sat just under the line). Cap the strip footprint
        # at ~256 MB; the greedy scan is strip-partition-invariant
        # (each row only scores against earlier rows), so outputs are
        # identical and only BLAS batch efficiency varies marginally.
        blk_eff = max(64, min(blk, int(256e6 // max(n * 8, 1))))
        for lo in range(1, n, blk_eff):
            hi = min(lo + blk_eff, n)
            sims = X[lo:hi] @ X.T  # (strip, n)
            # only higher-priority (earlier) columns count; argmax's
            # first-index tie break = highest keep priority (min id in
            # the default ordering, since rows are id-sorted)
            for g in range(lo, hi):
                row = sims[g - lo, :g]
                j = int(np.argmax(row))
                if row[j] >= thr:
                    dup_of[g] = ids[j]
                    max_sim[g] = float(row[j])
        keep = dup_of < 0
        res = pd.DataFrame(
            {
                "vec_id": ids,
                "cluster_id": cids,
                "keep": keep,
                "dup_of": pd.array(
                    [None if k else int(d) for k, d in zip(keep, dup_of)],
                    dtype="Int64",
                ),
                "max_sim": [None if k else s for k, s in zip(keep, max_sim)],
            }
        )
        if expose_subcluster:
            res["subcluster_id"] = key[0]
        if p_eff > 1:
            res["_pri"] = pri
        return res

    schema = "vec_id long, cluster_id int, keep boolean, dup_of long, max_sim double"
    if expose_subcluster:
        # observability opt-in (scale smokes): the refined scan key,
        # "<cluster_id>" or "<cluster_id>.<sub>" when the giant-cluster
        # backstop split this cluster. The STRUCTURAL split test is
        # subcluster_id containing '.' — comparing distinct counts to
        # num_clusters is unreliable because empty k-means cells never
        # appear in the output (ADVICE r11). Default-off so the public
        # schema (and the q_semantic_dedup oracle) is unchanged.
        schema += ", subcluster_id string"
    if p_eff > 1:
        schema += ", _pri boolean"
    scan = keyed.groupBy("_ck").applyInPandas(dedup_cluster, schema=schema)
    if p_eff == 1:
        return scan
    # multi-probe merge: one row per point. Dropped in ANY probed cell
    # ⇒ dropped (every drop is exact-cosine-verified, so the union adds
    # only true pairs); witness = the highest-similarity drop row,
    # primary cell preferred on exact ties. The window shuffles p_eff
    # tiny rows per point — uniform keys, no skew.
    w = Window.partitionBy("vec_id").orderBy(
        F.col("keep").asc(),                 # any dropped row outranks kept
        F.col("max_sim").desc_nulls_last(),  # best witness first
        F.col("_pri").desc(),                # primary cell on ties
        F.col("dup_of").asc_nulls_last(),    # deterministic final tiebreak
    )
    merged = scan.withColumn("_rk", F.row_number().over(w))
    if expose_subcluster:
        # ADVICE r12 (low): the winning row can come from a SECONDARY
        # probed cell, whose scan key would break the
        # "<cluster_id>[.<sub>]" prefix invariant split diagnostics
        # rely on. Overwrite from the point's primary-cell row — same
        # vec_id window partition, so no extra shuffle.
        merged = merged.withColumn(
            "_psub",
            F.max(F.when(F.col("_pri"), F.col("subcluster_id"))).over(
                Window.partitionBy("vec_id")
            ),
        )
        return (
            merged.where(F.col("_rk") == 1)
            .withColumn("subcluster_id", F.col("_psub"))
            .drop("_rk", "_pri", "_psub")
        )
    return merged.where(F.col("_rk") == 1).drop("_rk", "_pri")


def cut_duplicate_spans(
    df: DataFrame,
    spans: Optional[DataFrame] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Apply span-level dedup: rebuild each document with every
    duplicated span (from :func:`duplicate_spans`, or a caller-supplied
    ``spans`` frame with the same schema) cut out.

    Returns (id, n_tokens, n_kept_tokens, text): token counts before /
    after the cut and the surviving text (tokens joined by single
    spaces — the same whitespace normalization the span detector
    tokenized under).

    Semantics note: this cuts EVERY occurrence of a duplicated span
    (the aggressive C4-style pass). Lee et al.'s keep-one-copy variant
    needs cross-document span identity, which maximal-interval merging
    deliberately discards; compose ``duplicate_spans`` with a custom
    keep policy if one copy must survive.

    100 TB shape: spans per doc are aggregated to ONE array row
    (groupBy(id) with map-side partials — a doc has few merged spans by
    construction), joined back to the documents on id, and the cut is a
    positional array filter — the token stream itself never shuffles
    and never explodes.
    """
    if spans is None:
        spans = duplicate_spans(df, text_col, id_col, k=k, min_docs=min_docs)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    t = df.select(F.col(id_col), toks.alias("_toks")).join(
        per_doc, id_col, "left"
    )
    in_span = lambda i: F.exists(  # noqa: E731 — positional predicate
        F.col("_spans"),
        lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
    )
    kept = F.when(
        F.col("_spans").isNull(), F.col("_toks")
    ).otherwise(F.filter(F.col("_toks"), lambda x, i: ~in_span(i)))
    return t.select(
        F.col(id_col),
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept_tokens"),
        F.array_join(kept, " ").alias(text_col),
    )


# ---------------------------------------------------- incremental dedup

def _bloom_geometry(expected_items: int, fpp: float) -> tuple:
    """(m_bits, k_hashes) for a Bloom filter (Bloom 1970) at the
    requested capacity.

    Standard sizing: m = -n·ln(p)/ln(2)^2, k = (m/n)·ln(2). m is rounded
    up to a multiple of 64 so the bitmap is whole uint64 words. Probes
    use Kirsch–Mitzenmacher 2006 double hashing (see _positions_from_h).
    """
    import math

    n = max(int(expected_items), 1)
    p = min(max(float(fpp), 1e-9), 0.5)
    m = int(math.ceil(-n * math.log(p) / (math.log(2) ** 2)))
    m = max((m + 63) // 64 * 64, 64)
    k = max(int(round(m / n * math.log(2))), 1)
    return m, min(k, 32)


_ROW_PRESERVING_NODES = (
    "Project", "Filter", "Relation", "LogicalRelation", "GlobalLimit",
    "LocalLimit", "Sort", "Repartition", "RepartitionByExpression",
    "Coalesce", "SubqueryAlias", "View", "ResolvedHint", "Sample",
)


def _estimate_rows(df) -> int:
    """Upper-bound row-count estimate for Bloom sizing, from the
    frame's parquet footers (driver-side metadata only — no Spark job).

    SOUNDNESS: footer totals upper-bound the frame's row count only
    when every operator between the scan and the frame is
    row-preserving-or-reducing (project/filter/limit/sort/...). A
    row-MULTIPLYING plan (join, union, explode/generate, expand) over
    the same files could exceed the footer total, and an undersized
    Bloom filter saturates — in verify=False mode that would silently
    over-drop far beyond the documented ~fpp. So the footer path is
    used only when the optimized plan contains exclusively whitelisted
    node types; anything else falls back to an exact ``count()``.
    Callers with expensive derived corpora should pass an explicit
    ``expected_seen`` (oversizing is harmless).
    """
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        try:
            import re

            plan = df._jdf.queryExecution().optimizedPlan().toString()
            nodes = re.findall(r"^[\s+:\-]*'?([A-Za-z]+)", plan, re.MULTILINE)
            if not all(
                any(n == a or n.startswith(a) for a in _ROW_PRESERVING_NODES)
                for n in nodes if n
            ):
                files = []
        except Exception:
            files = []
    if files:
        import pyarrow.parquet as pq

        total = 0
        try:
            for f in files:
                u = urlparse(f)
                path = unquote(u.path) if u.scheme in ("file", "") else None
                if path is None:
                    raise ValueError(f"non-local file {f}")
                total += pq.ParquetFile(path).metadata.num_rows
            return max(int(total), 1)
        except Exception:
            pass
    return int(df.count())


def _bloom_digests(values):
    """(h1, h2) uint64 arrays — one blake2b-16 digest per value split
    into two independent 64-bit halves (h2 forced odd)."""
    import numpy as np

    if len(values) == 0:
        e = np.empty(0, dtype=np.uint64)
        return e, e
    # Tag byte keeps NULL distinguishable from any real content: a
    # document whose text is literally "\x00" hashes b"\x01\x00", never
    # the NULL sentinel b"\x00" — so lossy (verify=False) mode cannot
    # cross-drop a NULL row against a "\x00" document or vice versa.
    dig = np.frombuffer(
        b"".join(
            blake2b(
                b"\x01" + v.encode("utf-8", "surrogatepass")
                if v is not None
                else b"\x00",
                digest_size=16,
            ).digest()
            for v in values
        ),
        dtype=np.uint64,
    ).reshape(-1, 2)
    return dig[:, 0], dig[:, 1] | np.uint64(1)


def _positions_from_h(h1, h2, m_bits: int, k: int):
    """(n, k) int64 bit positions: position_i = (h1 + i·h2) mod m
    (Kirsch–Mitzenmacher — k probes from one digest)."""
    import numpy as np

    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(
        np.int64
    )


def _bloom_positions(values, m_bits: int, k: int):
    """(len(values), k) int64 bit positions via double hashing."""
    import numpy as np

    if len(values) == 0:
        return np.empty((0, k), dtype=np.int64)
    h1, h2 = _bloom_digests(values)
    return _positions_from_h(h1, h2, m_bits, k)


def _content_norm(c: str) -> Column:
    """The content-identity normalization every exact-dedup path shares
    (whitespace runs collapsed, lowercased) — Bloom insertion, Bloom
    probe, and the verify join must hash the SAME string."""
    return F.lower(F.regexp_replace(F.col(c), r"\s+", " "))


def build_bloom(
    df_norm: DataFrame,
    m_bits: int,
    k: int,
    max_build_tasks: int = 256,
    chunk_words: int = 1 << 21,
    range_filter: "Optional[tuple[int, int]]" = None,
):
    """Fold a one-string-column DataFrame (column ``_n``) into a Bloom
    filter; returns the broadcast bitmap (``.value`` = m_bits/8 bytes).

    One mapInPandas pass emits each task's partition-local bitmap SPLIT
    into fixed ``chunk_words``-word chunks (16 MiB at the default),
    skipping all-zero chunks; chunks OR-merge per chunk id in one
    applyInPandas level and stream to the driver via ``toLocalIterator``
    (the driver holds the final bitmap + one chunk, never a bitmap per
    task). No content-keyed shuffle anywhere — the only movement is the
    partial chunks, whose total volume is ≤ #build-tasks × m/8, which is
    why the input is coalesced (narrow, no shuffle) to
    ``max_build_tasks`` when it has more partitions: partials cost
    bitmap-size each regardless of how few rows a task holds. Raise
    ``max_build_tasks`` for more build parallelism (linear partial
    traffic), raise ``fpp`` upstream to shrink m for very large key
    counts. Insertion is idempotent — no distinct() pre-pass.

    ``range_filter=(r, num_ranges)`` builds a RANGE-SCOPED filter:
    only values whose digest falls in range ``r`` of ``num_ranges``
    equal slices of the digest space are inserted (the
    ``incremental_dedup_ranged`` escape hatch for >10^9-key corpora —
    ``m_bits`` then only needs to cover the range's share of keys).
    """
    import numpy as np

    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    n_words = m_bits // 64
    if df_norm.rdd.getNumPartitions() > max_build_tasks:
        df_norm = df_norm.coalesce(max_build_tasks)

    def _partition_bloom(batches):
        bits = np.zeros(n_words, dtype=np.uint64)
        for pdf in batches:
            # insertion is idempotent — hash each distinct content once
            # per batch (a hot-content batch pays pandas dedup, not a
            # blake2b per copy)
            vals = pdf["_n"].drop_duplicates().tolist()
            if range_filter is not None:
                h1, h2 = _bloom_digests(vals)
                keep = _shard_of(h1, range_filter[1]) == range_filter[0]
                pos = _positions_from_h(h1[keep], h2[keep], m_bits, k).ravel()
            else:
                pos = _bloom_positions(vals, m_bits, k).ravel()
            np.bitwise_or.at(
                bits, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64)
            )
        for w0 in range(0, n_words, chunk_words):
            chunk = bits[w0 : w0 + chunk_words]
            if chunk.any():
                yield pd.DataFrame({"w0": [w0], "bits": [chunk.tobytes()]})

    def _or_chunk(pdf):
        acc = np.frombuffer(pdf["bits"].iloc[0], dtype=np.uint64).copy()
        for b in pdf["bits"].iloc[1:]:
            acc |= np.frombuffer(b, dtype=np.uint64)
        return pd.DataFrame({"w0": [int(pdf["w0"].iloc[0])], "bits": [acc.tobytes()]})

    bloom_schema = StructType(
        [StructField("w0", LongType()), StructField("bits", BinaryType())]
    )
    partials = df_norm.mapInPandas(_partition_bloom, schema=bloom_schema)
    merged = partials.groupBy("w0").applyInPandas(_or_chunk, schema=bloom_schema)
    bits = np.zeros(n_words, dtype=np.uint64)
    for row in merged.toLocalIterator():
        w0 = int(row["w0"])
        arr = np.frombuffer(row["bits"], dtype=np.uint64)
        bits[w0 : w0 + len(arr)] |= arr
    return df_norm.sparkSession.sparkContext.broadcast(bits.tobytes())


def flag_bloom_membership(
    df: DataFrame, b_bloom, m_bits: int, k: int, flag_col: str = "_maybe"
) -> DataFrame:
    """Append ``flag_col``: whether the row's ``_n`` column is maybe-in
    the broadcast Bloom filter. Stateless mapInPandas — works on batch
    AND streaming DataFrames (the streaming mirror probes per
    micro-batch with the same filter)."""
    import numpy as np

    from pyspark.sql.types import BooleanType, StructField, StructType

    def _maybe_seen(batches):
        local = np.frombuffer(b_bloom.value, dtype=np.uint64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pos = _bloom_positions(pdf["_n"].tolist(), m_bits, k)
            hit = (
                (local[pos >> 6] >> (pos & 63).astype(np.uint64)) & np.uint64(1)
            ).astype(bool).all(axis=1)
            yield pdf.assign(**{flag_col: hit})

    out_schema = StructType(df.schema.fields + [StructField(flag_col, BooleanType())])
    return df.mapInPandas(_maybe_seen, schema=out_schema)


#: Maybe-hit count under which the exact-verify anti-join's right side
#: (the hash-matched corpus texts, ≤ one row per distinct maybe-content)
#: is explicitly broadcast: ~24-token docs frame to ~200-300 B/row, so
#: 200k rows ≈ 40-60 MB — comfortably a broadcast, far from the 8 GB
#: relation cap; past the bound the anti-join degrades to a
#: candidate-bounded shuffle (measured at the 10M rung: 2.1M maybe-hits
#: is exactly the regime where the old forced text broadcast was the
#: whole operator's whale).
_VERIFY_BCAST_ROWS = 200_000


def _exact_verify_tail(
    flagged: DataFrame, seen_norm: DataFrame, helpers: "tuple | list" = ("_n", "_maybe")
) -> DataFrame:
    """Exact confirmation of Bloom maybe-hits, shared by all three
    incremental-dedup tiers.

    r15 shape (guide §8.4 / §3.2 — move decisions on digests, attach
    the payload join back carefully): broadcast the candidate DIGESTS
    (xxhash64, 8 B per distinct maybe-content), pull only the
    hash-matched corpus rows in one map-side semi-join (with broadcasts
    enabled the corpus never shuffles on content), then make the result
    exact with
    a candidate-sized text anti-join — digest collisions cannot cause
    a false drop because the final anti-join compares the full
    normalized text. The matched corpus rows are deduplicated on
    ``_n`` first, one Exchange hashpartitioning(_n) over candidate-
    bounded rows, so a corpus holding many copies of one content
    still moves one row per distinct matched content.

    The previous tail broadcast the candidate and confirmed TEXTS
    (two `F.broadcast` of full normalized documents). With a dup-heavy
    batch that is NOT tiny: at the 10M-doc rung (2.1M maybe-hits) the
    two string broadcasts were ~300 MB each and dominated the whole
    operator (measured: the verify tail was ~400 of ~500 s); at 100 TB
    it would be a driver OOM. Moved bytes now: 8 B × |candidates|
    broadcast + one candidate-bounded movement of matched texts — as a
    broadcast while the maybe-count stays under the bound below (the
    bench/ingest regime; the anti-join's probe side does not
    exchange, same count()-priced steering as search_pq's re-rank), as
    a candidate-bounded shuffle past it.

    With ``spark.sql.autoBroadcastJoinThreshold`` < 0 nothing
    broadcasts: the digest semi-join then shuffles ALL of
    ``seen_norm``, a full-corpus shuffle on content.
    """
    # batch-sized (the small side by construction); feeds the clear
    # branch, the maybe branch AND the pricing count without replaying
    # the Bloom probe pipeline
    from vamana_spark.functions.util import bytes_conf

    thresh = bytes_conf(
        flagged.sparkSession, "spark.sql.autoBroadcastJoinThreshold", 10 << 20
    )
    flagged = flagged.localCheckpoint()
    maybe = flagged.where(F.col("_maybe"))
    clear = flagged.where(~F.col("_maybe"))
    cand_h = maybe.select(F.xxhash64("_n").alias("_h")).distinct()
    # distinct: a dup-heavy corpus holds many copies of one matched
    # content; one row per distinct content keeps the broadcast below
    # within the n_maybe gate. With broadcasts disabled (threshold < 0)
    # the digest semi-join shuffles the whole corpus instead.
    seen_matched = (
        seen_norm.withColumn("_h", F.xxhash64("_n"))
        .join(F.broadcast(cand_h) if thresh >= 0 else cand_h, "_h", "left_semi")
        .select("_n")
        .distinct()
    )
    n_maybe = maybe.count()  # cheap: reads the checkpoint
    if thresh >= 0 and n_maybe <= _VERIFY_BCAST_ROWS:
        kept_maybe = maybe.join(F.broadcast(seen_matched), "_n", "left_anti")
    else:  # user disabled broadcasts, or candidate set too big to hold
        kept_maybe = maybe.join(seen_matched, "_n", "left_anti")
    return clear.unionByName(kept_maybe).drop(*helpers)


def incremental_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    expected_seen: Optional[int] = None,
    fpp: float = 0.01,
    verify: bool = True,
    max_build_tasks: int = 256,
) -> DataFrame:
    """Dedup a NEW batch against an already-ingested corpus (X1
    incremental form): the crawl-snapshot-over-snapshot pass a training
    pipeline runs before appending data, where ``seen_df`` is orders of
    magnitude larger than the batch. Returns the new rows that survive
    (first occurrence within the batch, and not present in the corpus),
    schema = ``new_df``.

    100 TB shape — the corpus never shuffles on content while
    broadcasts are enabled (with ``spark.sql.autoBroadcastJoinThreshold``
    < 0 the verify tail's digest semi-join shuffles the whole corpus):
    - One narrow pass over ``seen_df`` (coalesced to ``max_build_tasks``
      so partial traffic is bounded at tasks × m/8 bytes) folds each
      task's content hashes into a Bloom bitmap emitted as 16 MiB
      chunks; chunks OR-merge per chunk id and stream to the driver —
      see ``build_bloom``. Insertion is idempotent, so no distinct() is
      needed first.
    - The merged filter broadcasts; new rows drop map-side unless the
      Bloom says "maybe seen" (false-positive rate ``fpp``).
    - ``verify=True`` (default) makes the result EXACT: the candidate
      DIGESTS (8 B per distinct maybe-content) broadcast back against a
      second map-side pass over ``seen_df`` (broadcast semi-join; still
      no corpus shuffle), the hash-matched corpus rows — candidate-
      bounded, not corpus-bounded — join the maybe rows in a text
      anti-join, and only exact text matches drop (digest collisions
      cannot cause a false drop). See ``_exact_verify_tail``.
      ``verify=False`` skips the second corpus pass and accepts
      dropping ~fpp of unique new rows — the cheap mode for lossy
      ingest.
    - The batch itself pays one content-keyed shuffle for its internal
      first-occurrence dedup (an associative min-struct agg with
      map-side partials — hot duplicate keys combine before the
      exchange) — it is the small side by construction.

    ``expected_seen`` sizes the filter (~1.2 bytes/row at fpp=0.01).
    When None, the count is estimated from the corpus files' parquet
    FOOTERS (driver-side metadata, no Spark job) — an upper bound when
    ``seen_df`` is a filtered/derived frame, which is harmless: an
    oversized Bloom filter only lowers the real fpp. Only a corpus
    with no file lineage (in-memory frames, non-parquet sources) falls
    back to a full ``seen_df.count()`` pass — pass ``expected_seen``
    explicitly there to avoid it. Bloom membership has NO false
    negatives, so every true duplicate is always dropped in both
    modes.
    """
    norm = _content_norm if normalize else F.col
    if expected_seen is None:
        expected_seen = _estimate_rows(seen_df)
    m_bits, k = _bloom_geometry(expected_seen, fpp)

    seen_norm = seen_df.select(norm(text_col).alias("_n"))
    b_bloom = build_bloom(seen_norm, m_bits, k, max_build_tasks)

    batch = _first_occurrence(new_df, text_col, id_col, norm)
    flagged = flag_bloom_membership(batch, b_bloom, m_bits, k)
    if not verify:
        return flagged.where(~F.col("_maybe")).drop("_n", "_maybe")

    return _exact_verify_tail(flagged, seen_norm)


def incremental_dedup_ranged(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    expected_seen: Optional[int] = None,
    fpp: float = 0.01,
    num_ranges: int = 8,
    verify: bool = True,
    max_build_tasks: int = 256,
) -> DataFrame:
    """``incremental_dedup``'s hash-RANGE-sharded escape hatch for
    corpora past ~10^9 keys: the digest space is cut into
    ``num_ranges`` equal slices processed SEQUENTIALLY — each pass
    builds a Bloom filter over only the corpus keys in that range
    (narrow map pass, chunk-OR merge, same as the monolithic build)
    and probes only the batch rows routed to that range. Identical
    exact semantics to the broadcast tier (equivalence-tested); the
    difference is the memory envelope.

    Why a third tier: the monolithic broadcast filter must hold the
    WHOLE key space (10^9 keys at fpp=0.01 ≈ 1.2 GB on the driver and
    every executor); the sharded tier removes the broadcast but pays a
    corpus-wide digest shuffle. Here neither happens — the corpus
    never shuffles (while broadcasts are enabled; see
    ``_exact_verify_tail``) AND no driver/broadcast artifact ever exceeds
    m/num_ranges bits (150 MB per pass for the 10^9-key example at
    num_ranges=8). The price is ``num_ranges`` narrow passes over the
    corpus for the build; at that scale, persist/localCheckpoint a
    ``select(<normalized text>)`` projection of the corpus first so
    the repeated scans read a slim cached column, or raise
    ``num_ranges`` only as far as the memory bound requires.

    Range routing draws on the digest's high bits (``_shard_of``) and
    probe positions on the low-mod range — the same entropy split the
    sharded tier uses, so filter occupancy stays uniform per range.
    The exact-verify tail runs ONCE over the union of all ranges'
    maybe-hits (one extra corpus pass total, not per range).
    """
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    R = max(int(num_ranges), 1)
    norm = _content_norm if normalize else F.col
    if expected_seen is None:
        # parquet-footer upper bound (see _estimate_rows) — no Spark job
        expected_seen = _estimate_rows(seen_df)
    per_range = max(int(expected_seen // R) + 1, 1)
    m_bits, k = _bloom_geometry(per_range, fpp)

    seen_norm = seen_df.select(norm(text_col).alias("_n"))
    batch = _first_occurrence(new_df, text_col, id_col, norm)

    def _route(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            h1, _h2 = _bloom_digests(pdf["_n"].tolist())
            yield pdf.assign(_range=_shard_of(h1, R))

    routed_schema = StructType(
        batch.schema.fields + [StructField("_range", IntegerType())]
    )
    # feeds R probe passes — recomputing would replay the batch's
    # first-occurrence shuffle per range
    routed = batch.mapInPandas(_route, schema=routed_schema).localCheckpoint()

    flagged_parts = []
    for r in range(R):
        b_bloom = build_bloom(
            seen_norm, m_bits, k, max_build_tasks, range_filter=(r, R)
        )
        part = flag_bloom_membership(
            routed.where(F.col("_range") == r), b_bloom, m_bits, k
        ).localCheckpoint()  # materialize before the next pass replaces the broadcast
        flagged_parts.append(part)
        # destroy, not unpersist: the checkpoint above is eager, so the
        # broadcast is never re-read, and destroy() releases the
        # DRIVER-side copy too — unpersist leaves it to GC, which could
        # transiently accumulate all num_ranges filters on the driver
        # (exactly the memory envelope this tier exists to bound)
        b_bloom.destroy()

    flagged = flagged_parts[0]
    for part in flagged_parts[1:]:
        flagged = flagged.unionByName(part)
    flagged = flagged.drop("_range")
    if not verify:
        return flagged.where(~F.col("_maybe")).drop("_n", "_maybe")

    return _exact_verify_tail(flagged, seen_norm)


def _struct_orderable(dt) -> bool:
    """Whether a type can participate in a struct min — maps are not
    orderable, including nested inside structs or array elements."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, StructType):
        return all(_struct_orderable(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _struct_orderable(dt.elementType)
    return True


def _first_occurrence(new_df: DataFrame, text_col: str, id_col: str, norm) -> DataFrame:
    """Batch-internal first-occurrence dedup + the ``_n`` content key
    (same normalization the Bloom hashed). min(struct(id, rest)) per
    content key, not a window rank: the associative min gets MAP-SIDE
    partials, so a batch that is mostly copies of one document (the
    skew case for a content-keyed window — dedup_lines documents the
    same hazard for hot lines) reaches the reducer as one partial row
    per map task. Falls back to the window when any column type —
    including nested — is not orderable inside a struct (maps)."""
    others = [c for c in new_df.columns if c != id_col]
    keyed = new_df.withColumn("_n", norm(text_col))
    if not all(_struct_orderable(f.dataType) for f in new_df.schema.fields):
        w = Window.partitionBy("_n").orderBy(F.col(id_col).asc())
        return (
            keyed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    return (
        keyed.groupBy("_n")
        .agg(F.min(F.struct(id_col, *others)).alias("_w"))
        .select(*[F.col(f"_w.{c}").alias(c) for c in new_df.columns], "_n")
    )


def _shard_of(h1, num_filters: int):
    """Shard id from the digest's high bits (positions use the low-mod
    range, so shard routing and probe bits draw on different entropy)."""
    import numpy as np

    return ((h1 >> np.uint64(33)) % np.uint64(num_filters)).astype(np.int32)


def incremental_dedup_sharded(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    expected_seen: Optional[int] = None,
    fpp: float = 0.01,
    num_filters: int = 64,
    verify: bool = True,
) -> DataFrame:
    """``incremental_dedup``'s beyond-broadcast tier: the same exact
    batch-vs-corpus dedup, but the Bloom filter is SHARDED by content
    hash and stays DISTRIBUTED — no single bitmap ever sits on the
    driver or broadcasts. Use when the corpus key count pushes the
    monolithic filter past comfortable broadcast size (~10^9 keys at
    fpp=0.01 is ~1.2 GB); the two tiers mirror the ANN index's
    broadcast vs partitioned split.

    Shape: one narrow corpus pass emits (shard, h1, h2) digest triples
    (16 B/row — the text itself never moves); one shuffle keyed by
    shard groups each filter's digests into its build task
    (per-task memory = m/num_filters — the knob that bounds it); the
    per-shard filters live as rows of a DataFrame. The batch routes by
    the same digest shard and probes via a shard-keyed COGROUP — so the
    probe is a small-side shuffle plus a filter-row join, never a
    broadcast. Maybe-seen candidates then verify exactly against the
    corpus scan (same broadcast semi/anti tail as the monolithic tier);
    Bloom false negatives don't exist, so true dups always drop.

    Trade vs the broadcast tier: the corpus pays one digest-width
    shuffle here (the monolithic build moves only bitmap chunks), in
    exchange for O(m/num_filters) peak memory anywhere in the plan.
    """
    import numpy as np

    from pyspark.sql.types import (
        BinaryType,
        BooleanType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    norm = _content_norm if normalize else F.col
    if expected_seen is None:
        # parquet-footer upper bound (see _estimate_rows) — no Spark job
        expected_seen = _estimate_rows(seen_df)
    per_shard = max(int(expected_seen // max(num_filters, 1)) + 1, 1)
    m_bits, k = _bloom_geometry(per_shard, fpp)
    n_words = m_bits // 64

    seen_norm = seen_df.select(norm(text_col).alias("_n"))

    def _digests(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            h1, h2 = _bloom_digests(pdf["_n"].tolist())
            # map-side dedup: Bloom insertion is idempotent, so only
            # distinct digests need to travel — a corpus that is mostly
            # copies of one document (hot-content skew) sends one row
            # per distinct content per input partition to its build
            # task, not one per copy. Distinctness is on the FULL
            # (h1, h2) pair: two contents colliding on the h1 half
            # alone must both reach the filter, or the no-false-
            # negatives invariant becomes probabilistic.
            order = np.lexsort((h2, h1))
            h1, h2 = h1[order], h2[order]
            keep = np.ones(len(h1), dtype=bool)
            keep[1:] = (h1[1:] != h1[:-1]) | (h2[1:] != h2[:-1])
            h1, h2 = h1[keep], h2[keep]
            yield pd.DataFrame(
                {
                    "_shard": _shard_of(h1, num_filters),
                    "_h1": h1.view(np.int64),
                    "_h2": h2.view(np.int64),
                }
            )

    dig_schema = StructType(
        [
            StructField("_shard", IntegerType()),
            StructField("_h1", LongType()),
            StructField("_h2", LongType()),
        ]
    )

    def _build_shard(key, pdf):
        bits = np.zeros(n_words, dtype=np.uint64)
        h1 = pdf["_h1"].to_numpy().view(np.uint64)
        h2 = pdf["_h2"].to_numpy().view(np.uint64)
        # chunk the (rows, k) position expansion so peak memory is the
        # bitmap + one chunk's positions, not a k-wide matrix over the
        # whole shard (the group's digest rows are the irreducible term)
        for c0 in range(0, len(h1), 1 << 16):
            pos = _positions_from_h(
                h1[c0 : c0 + (1 << 16)], h2[c0 : c0 + (1 << 16)], m_bits, k
            ).ravel()
            np.bitwise_or.at(
                bits, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64)
            )
        return pd.DataFrame({"_shard": [int(key[0])], "bits": [bits.tobytes()]})

    filt_schema = StructType(
        [StructField("_shard", IntegerType()), StructField("bits", BinaryType())]
    )
    filters = (
        seen_norm.mapInPandas(_digests, schema=dig_schema)
        .groupBy("_shard")
        .applyInPandas(_build_shard, schema=filt_schema)
        .localCheckpoint()  # feeds every probe; rebuild would rescan the corpus
    )

    # batch-internal first-occurrence dedup (shared with the broadcast
    # tier) + shard routing; _route keeps the digests as columns so
    # _probe doesn't re-hash every row
    batch = _first_occurrence(new_df, text_col, id_col, norm)

    def _route(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            h1, h2 = _bloom_digests(pdf["_n"].tolist())
            yield pdf.assign(
                _shard=_shard_of(h1, num_filters),
                _h1=h1.view(np.int64),
                _h2=h2.view(np.int64),
            )

    routed_schema = StructType(
        batch.schema.fields
        + [
            StructField("_shard", IntegerType()),
            StructField("_h1", LongType()),
            StructField("_h2", LongType()),
        ]
    )
    routed = batch.mapInPandas(_route, schema=routed_schema)

    def _probe(key, bpdf, fpdf):
        if len(bpdf) == 0:
            return pd.DataFrame(columns=list(bpdf.columns) + ["_maybe"])
        if len(fpdf) == 0:  # no corpus rows hashed into this shard
            return bpdf.assign(_maybe=False)
        local = np.frombuffer(fpdf["bits"].iloc[0], dtype=np.uint64)
        pos = _positions_from_h(
            bpdf["_h1"].to_numpy().view(np.uint64),
            bpdf["_h2"].to_numpy().view(np.uint64),
            m_bits,
            k,
        )
        hit = (
            (local[pos >> 6] >> (pos & 63).astype(np.uint64)) & np.uint64(1)
        ).astype(bool).all(axis=1)
        return bpdf.assign(_maybe=hit)

    flag_schema = StructType(routed.schema.fields + [StructField("_maybe", BooleanType())])
    flagged = (
        routed.groupBy("_shard")
        .cogroup(filters.groupBy("_shard"))
        .applyInPandas(_probe, schema=flag_schema)
    )
    helpers = ["_n", "_maybe", "_shard", "_h1", "_h2"]
    if not verify:
        return flagged.where(~F.col("_maybe")).drop(*helpers)

    return _exact_verify_tail(flagged, seen_norm, helpers)


def incremental_near_dups(
    batch: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    arrow: bool = True,
    max_bucket_witnesses: "int | None" = None,
    seen_signatures: Optional[DataFrame] = None,
    broadcast_batch: bool = True,
    decision_only: bool = False,
) -> DataFrame:
    """Cross-snapshot NEAR-duplicate scan (X2 incremental form): which
    documents of a new ingest ``batch`` are near-dups (exact word-shingle
    Jaccard >= ``threshold``) of something already in the corpus.
    Returns verified pairs (batch_id, seen_id, jaccard) — the companion
    to ``incremental_dedup`` (exact identity) for the
    snapshot-over-snapshot ingest pass. Anti-join the batch on
    ``batch_id`` to drop matched rows.

    100 TB shape — the corpus never shuffles on content:
    - The corpus contributes only its MinHash BAND TABLE (bands longs
      per doc — computable once and persisted via
      ``minhash_signatures``; pass it back as ``seen_signatures`` so
      re-ingests skip the signature pass entirely).
    - The batch's band table (the small side by construction)
      broadcasts into the candidate equi-join on (band_id, band_hash),
      so candidate generation is map-side over the corpus scan; set
      ``broadcast_batch=False`` above ~10M-doc batches to let AQE pick
      the join side instead.
    - A band bucket holding > ``max_bucket_witnesses`` corpus docs (a
      giant duplicate cluster flooding one bucket in every band) keeps
      only its ``max_bucket_witnesses`` lowest-id members as witnesses
      — any batch doc landing there still verifies against those;
      bucket-mates at that size are near-identical, so the witnesses
      answer for the cluster. NOTE the emitted pair list is then not
      exhaustive per cluster (capped members don't appear as
      ``seen_id``) — the survivors/anti-join use is unaffected, but
      exhaustive-pair consumers must raise the cap. Overfull keys come
      from a map-side-combined aggregation + broadcast; the capping
      rank window shuffles only the overfull buckets' rows.
    - Exact-Jaccard verification re-shingles ONLY the candidate corpus
      docs (broadcast semi-join of the candidate id set against the
      corpus scan — map-side), then joins shingle sets onto the pairs.

    ``decision_only`` (r12, VERDICT r11 #4 — the 10M rung's recipe
    finding as an API preset): for ingest gating, where the question is
    "is this batch doc a near-dup of ANYTHING?" and one verified hit
    suffices. The rung measured ~139 witnesses per duplicated batch doc
    where 1 answers. Two changes, both measured: (a) the witness cap
    defaults to 8 instead of 512 (same justification as the cap itself:
    overfull-bucket mates are near-identical, any witness answers for
    the cluster); (b) verification runs STAGED — each batch doc's
    single strongest candidate (most shared band buckets = highest
    estimated Jaccard) verifies first, and only docs whose best
    candidate FAILED verify their remaining candidates, so a true dup
    costs one verified pair instead of its whole candidate list. The
    flag SET (distinct batch_id) is identical to the audit path over
    the same witnesses: stage 2 exhausts every candidate of every
    unresolved doc. Output shape becomes ONE row per flagged doc —
    (batch_id, seen_id, jaccard) of its best verified hit — not the
    exhaustive pair list. An explicit ``max_bucket_witnesses``
    overrides the preset default (512 audit / 8 decision).
    """
    if max_bucket_witnesses is None:
        max_bucket_witnesses = 8 if decision_only else 512
    sh_b = shingle_sets(batch, text_col, id_col, shingle_n, arrow=arrow).localCheckpoint()
    sig_b = minhash_signatures(
        batch, text_col, id_col, num_hashes, shingle_n, shingles=sh_b, arrow=arrow
    )
    banded_b = sig_b.select(
        F.col(id_col).alias("batch_id"),
        F.posexplode(band_hash_array("minhash", num_hashes, bands)).alias(
            "band_id", "band_hash"
        ),
    )
    if broadcast_batch:
        banded_b = F.broadcast(banded_b)
    if seen_signatures is not None:
        # Guard against a signature table persisted with different
        # parameters: banding a wrong-width minhash silently produces
        # wrong band hashes, and exact-Jaccard verify masks the false
        # positives but NOT the resulting misses. One limit-1 row is a
        # cheap scan; the width is uniform by construction.
        probe = seen_signatures.select(
            F.size("minhash").alias("_w")
        ).limit(1).collect()
        if probe and probe[0]["_w"] != num_hashes:
            raise ValueError(
                f"seen_signatures has minhash width {probe[0]['_w']} but "
                f"num_hashes={num_hashes}; recompute the signature table "
                "with matching (num_hashes, bands, shingle_n) parameters"
            )
        sig_s = seen_signatures
    else:
        sig_s = minhash_signatures(
            seen, text_col, id_col, num_hashes, shingle_n, arrow=arrow
        )
    banded_s = sig_s.select(
        F.col(id_col).alias("seen_id"),
        F.posexplode(band_hash_array("minhash", num_hashes, bands)).alias(
            "band_id", "band_hash"
        ),
    )
    # banded_s feeds the overfull agg AND the candidate join; without
    # materialization each branch replays the corpus signature pass
    # (same replay hazard minhash_lsh_candidates documents). 2 longs +
    # id per row — bands×16B/doc, GC-owned via localCheckpoint.
    banded_s = banded_s.localCheckpoint()
    keys = ["band_id", "band_hash"]
    overfull = F.broadcast(
        banded_s.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .where(F.col("_bsz") > max_bucket_witnesses)
    )
    ann = banded_s.join(overfull, keys, "left")
    small = ann.where(F.col("_bsz").isNull()).select("seen_id", *keys)
    # rows in overfull buckets (rare: a giant duplicate cluster flooding
    # one bucket per band) keep their max_bucket_witnesses min-id
    # members — the rank window shuffles ONLY these rows
    wover = Window.partitionBy(*keys).orderBy(F.col("seen_id").asc())
    capped = (
        ann.where(F.col("_bsz").isNotNull())
        .withColumn("_wrn", F.row_number().over(wover))
        .where(F.col("_wrn") <= max_bucket_witnesses)
        .select("seen_id", *keys)
    )
    witnesses = small.unionByName(capped)
    joined = witnesses.join(banded_b, keys)
    av = sh_b.select(F.col(id_col).alias("batch_id"), F.col("_sh").alias("a_sh"))

    def _verify(pairs_df: DataFrame) -> DataFrame:
        # verification: shingle ONLY this pair set's corpus docs
        # (broadcast semi-join — map-side over the corpus scan)
        cand_seen = pairs_df.select(F.col("seen_id").alias(id_col)).distinct()
        seen_sub = seen.join(F.broadcast(cand_seen), id_col, "left_semi")
        sh_s = shingle_sets(seen_sub, text_col, id_col, shingle_n, arrow=arrow)
        bv = sh_s.select(
            F.col(id_col).alias("seen_id"), F.col("_sh").alias("b_sh")
        )
        inter = F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
        union = F.size(F.array_union("a_sh", "b_sh")).cast("double")
        return (
            pairs_df.select("batch_id", "seen_id")
            .join(av, "batch_id")
            .join(bv, "seen_id")
            .select(
                "batch_id",
                "seen_id",
                F.round(inter / F.greatest(union, F.lit(1.0)), 4).alias(
                    "jaccard"
                ),
            )
            .where(F.col("jaccard") >= threshold)
        )

    if not decision_only:
        # cands feeds the candidate-id semi-join AND the final pair join
        cands = joined.select("batch_id", "seen_id").distinct().localCheckpoint()
        return _verify(cands)

    # decision-only staged verify: rank each batch doc's candidates by
    # shared-band count (the LSH estimate of Jaccard — more matching
    # bands = more likely to verify); the groupBy doubles as distinct.
    # Rows per batch_id are witness-bounded and uniform — no window skew.
    ranked = (
        joined.groupBy("batch_id", "seen_id")
        .agg(F.count(F.lit(1)).alias("_nb"))
        .withColumn(
            "_crk",
            F.row_number().over(
                Window.partitionBy("batch_id").orderBy(
                    F.col("_nb").desc(), F.col("seen_id").asc()
                )
            ),
        )
        # feeds both stages; without materialization stage 2 replays
        # candidate generation (and stage 1's hits replay in the union)
        .localCheckpoint()
    )
    hits1 = _verify(ranked.where(F.col("_crk") == 1)).localCheckpoint()
    rest = ranked.where(F.col("_crk") > 1).join(
        hits1.select("batch_id"), "batch_id", "left_anti"
    )
    wbest = Window.partitionBy("batch_id").orderBy(
        F.col("jaccard").desc(), F.col("seen_id").asc()
    )
    return (
        hits1.unionByName(_verify(rest))
        .withColumn("_rk", F.row_number().over(wbest))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


# ---------------------------------------------------------------------
# Persisted signature store — the re-ingest companion to
# incremental_near_dups. The store carries its OWN parameters, so a
# table written with one (num_hashes, bands, shingle_n) configuration
# can never be silently banded with another (the failure mode the
# width guard in incremental_near_dups catches at the last line of
# defense; the store prevents it at the API level).
# ---------------------------------------------------------------------

def save_signatures(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    arrow: bool = True,
) -> None:
    """Compute and persist the corpus MinHash signature table plus a
    ``_meta.json`` recording the parameters it was built with. One
    narrow pass over the corpus (no shuffle); the table is
    ``(id_col, minhash: array<long>[num_hashes])`` parquet, readable by
    any engine. Re-ingests then call ``scan_against_store`` and never
    re-shingle the corpus."""
    import json as _json
    import os as _os

    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, arrow=arrow
    )
    sigs.write.mode("overwrite").parquet(_os.path.join(path, "signatures"))
    with open(_os.path.join(path, "_meta.json"), "w") as f:
        _json.dump(
            {
                "num_hashes": int(num_hashes),
                "bands": int(bands),
                "shingle_n": int(shingle_n),
                "id_col": id_col,
            },
            f,
        )


def load_signatures(spark, path: str) -> "tuple[DataFrame, dict]":
    """Load a persisted signature store -> (signatures_df, params)."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_meta.json")) as f:
        meta = _json.load(f)
    return spark.read.parquet(_os.path.join(path, "signatures")), meta


def scan_against_store(
    batch: DataFrame,
    seen: DataFrame,
    store_path: str,
    text_col: str = "text",
    threshold: float = 0.7,
    arrow: bool = True,
    max_bucket_witnesses: "int | None" = None,
    broadcast_batch: bool = True,
    id_col: Optional[str] = None,
    decision_only: bool = False,
) -> DataFrame:
    """Cross-snapshot near-dup scan against a persisted signature store:
    the banding parameters come FROM the store's metadata, so batch
    signatures are always computed with the same configuration the
    corpus table was. ``seen`` is still needed for the exact-Jaccard
    verify pass (candidates only — the corpus never re-shingles in
    full). ``id_col`` names the BATCH's id column when it differs from
    the store's (the batch column is renamed to the store's id_col so
    one name flows through the scan; output stays batch_id/seen_id).

    ``decision_only`` (r12): the ingest-gate preset — one row per
    flagged batch doc (its best verified hit), witness cap 8, staged
    first-hit verification; see ``incremental_near_dups``. The 10M rung
    measured ~139 witnesses per duplicated batch doc where 1 answers —
    a candidate-join cut measured at 173.9x on the 10M rung (r13,
    SCALE.md — 34.87M audit candidates vs 200,547 decision verify rows;
    stage-2 fallback fired on 0.01% of flagged docs) for the "drop it
    or keep it" consumer. Worst case bounded by the r14 borderline
    rung (SCALE.md): with paraphrase-grade mates just above the
    threshold, stage-2 engages on 44% of flagged docs, the cut narrows
    to 74.7x (wall gain small and noisy there - candidate generation
    dominates both passes), and the preset loses ~2% of the audit
    flag set to the witness cap (attribution measured exact: 91% of
    even the audit pass's own borderline misses are cap misses, 9%
    banding) — prefer audit mode (or a
    raised ``max_bucket_witnesses``) when the flag set must be
    exhaustive at the threshold edge."""
    sigs, meta = load_signatures(batch.sparkSession, store_path)
    store_id = meta.get("id_col", "doc_id")
    if id_col is not None and id_col != store_id:
        batch = batch.withColumnRenamed(id_col, store_id)
    return incremental_near_dups(
        batch,
        seen,
        text_col=text_col,
        id_col=store_id,
        threshold=threshold,
        num_hashes=int(meta["num_hashes"]),
        bands=int(meta["bands"]),
        shingle_n=int(meta["shingle_n"]),
        arrow=arrow,
        max_bucket_witnesses=max_bucket_witnesses,
        seen_signatures=sigs,
        broadcast_batch=broadcast_batch,
        decision_only=decision_only,
    )
