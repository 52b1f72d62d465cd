"""Deduplication operators (SURVEY.md §2b X1/X2) — exact, MinHash-LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale notes (the whole point of these):
- Exact dedup is a hash-partitioned window — one shuffle on the content
  hash, map-side combine-free but skew-safe (hashes are uniform).
- MinHash-LSH: candidate generation shingles, signs and bands each
  row in one Arrow-batched Python pass — zero shuffles until the one
  shuffle on (band_id, band_hash). A sort within each partition then
  lines every bucket up as a run, and one numpy walk over the sorted
  Arrow batches turns the runs into pairs; only the pair distinct
  shuffles again.
- One shingler, one signer, one verify. Every MinHash and word n-gram
  Jaccard path shingles with ``_shingles_py``, signs with
  ``_text_signature_matrix`` and scores a pair with
  ``_hash_set_jaccard`` over each doc's sorted 64-bit shingle hashes
  (``_shingle_hash_sets``: the signature's own base hashes), so a
  signature table written by one call bands and verifies the same way
  in any other, and the verify joins move longs, not shingle strings.
  This holds for the batch LSH pairs, the exact n-gram join, the
  cross-snapshot scans and their streaming mirror.
- SimHash buckets by 16-bit bands of a 64-bit signature (Hamming-ball
  blocking), same bucket walk, and verifies by the same hash sets.
- Exact dedup of a new batch against a corpus at rest
  (``incremental_dedup``) reads the corpus once: the batch's content
  digests (8 B per distinct batch content) broadcast into one map-side
  semi-join, and a batch-sized text anti-join over the matched corpus
  rows makes the answer exact.
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
    the exact path is quadratic, so it is auto-tiered, as
    ``embedding_near_dups`` is, so that a large unblocked input never
    plans a cross product: at or below ``max_exact_rows`` the all-pairs
    join runs (every true pair emitted, oracle parity); above it the
    plan routes to MinHash-LSH candidate generation with exact-Jaccard
    verification on candidates only (``minhash_near_dups`` — same
    output columns, same shingling, same verify, at the standard LSH
    recall trade). Set ``max_exact_rows=0`` to force the LSH path, or
    pass ``block_col`` to keep exact semantics at scale. Pairs are
    scored by ``_hash_set_jaccard`` either way.

    Eager: the call runs Spark jobs before it returns. Unblocked, it
    counts ``df`` to pick the tier. The exact path ``localCheckpoint``s
    the shingle hash sets before joining them with themselves, so the
    Python shingle pass runs once, not once per join side (a cross
    join has no exchange to reuse). A local checkpoint keeps its blocks
    only on the executors that wrote them, so losing one of those
    executors fails the job that reads them instead of recomputing.
    """
    from vamana_spark.functions.util import ensure_parallelism

    if block_col is None and df.count() > max_exact_rows:
        return minhash_near_dups(
            df, text_col, id_col, threshold=threshold, shingle_n=n
        )
    blk = [block_col] if block_col else []
    hs = _shingle_hash_sets(
        ensure_parallelism(df.select(id_col, text_col, *blk)), text_col, id_col, n, *blk
    ).localCheckpoint()
    a = hs.select(F.col(id_col).alias("a_id"), F.col("_hs").alias("a_hs"),
                  *[F.col(c).alias("_blk") for c in blk])
    b = hs.select(F.col(id_col).alias("b_id"), F.col("_hs").alias("b_hs"),
                  *[F.col(c).alias("_blk2") for c in blk])
    if block_col:
        pairs = a.join(b, (F.col("_blk") == F.col("_blk2")) & (F.col("a_id") < F.col("b_id")))
    else:
        pairs = a.crossJoin(b).where(F.col("a_id") < F.col("b_id"))
    return _hash_set_jaccard(pairs, threshold, "a_id", "b_id")


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
    """Distinct word n-gram shingles: lowercase, split on whitespace runs
    (``str.split``, so Unicode spaces such as U+00A0 split too), and a
    doc shorter than n tokens contributes its full token join as one
    shingle. The one shingler of every MinHash signature and verify."""
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


def _text_signature_matrix(texts, num_hashes: int, shingle_n: int):
    """uint64 (n, num_hashes) MinHash signatures of n texts: each text's
    ``_shingles_py`` shingles, a blake2b-8 base hash per shingle, the
    seeded affine family and a uint64 wraparound min, in one pass, so
    the per-doc shingle strings never cross the Arrow boundary."""
    import numpy as np

    a, b = _hash_family(num_hashes)
    texts = list(texts)
    out = np.empty((len(texts), num_hashes), dtype=np.uint64)
    for i, t in enumerate(texts):
        base = _base_hashes(_shingles_py(t, shingle_n))
        out[i] = (a[:, None] * base[None, :] + b[:, None]).min(axis=1)
    return out


@lru_cache(maxsize=None)
def _text_signature_udf(num_hashes: int, shingle_n: int):
    """text → array<long> MinHash signature in ONE Python pass
    (``_text_signature_matrix``), per row — no shuffle anywhere."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def signature(texts: pd.Series) -> pd.Series:
        sig = _text_signature_matrix(texts, num_hashes, shingle_n)
        return pd.Series(list(sig.view(np.int64)))

    return signature


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature as array<long>[num_hashes]: a per-row
    Arrow UDF (``_text_signature_matrix``: ``_shingles_py`` shingles,
    blake2b-8 base hash per shingle, seeded multiply-add family, NumPy
    min), a narrow projection with no shuffle. Shingling, hashing and
    the min run in one Python crossing, so nothing but the signature
    longs leaves the worker.
    """
    from vamana_spark.functions.util import ensure_parallelism

    return ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col),
        _text_signature_udf(num_hashes, shingle_n)(text_col).alias("minhash"),
    )


_BAND_SEED = 0x9E3779B97F4A7C15  # splitmix64 increment: the fold's start value


def _mix64(z):
    """splitmix64 finalizer over a uint64 array (wraparound arithmetic).
    A bijection on 64-bit values, so folding a band through it keeps
    distinct slices apart up to 64-bit collisions."""
    import numpy as np

    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _band_keys(sig, bands: int):
    """uint64 (n, num_hashes) MinHash signatures -> int64 (n, bands) LSH
    bucket keys: each band's ``num_hashes/bands`` exact values folded in
    order through ``_mix64``. The one banding rule of the MinHash
    surface; it is plain numpy, so a key never depends on Python's
    ``hash()`` or on the process that computed it."""
    import numpy as np

    n, num_hashes = sig.shape
    sl = sig.reshape(n, bands, num_hashes // bands)
    acc = np.full((n, bands), _BAND_SEED, dtype=np.uint64)
    for r in range(sl.shape[2]):
        acc = _mix64(acc ^ sl[:, :, r])
    return acc.view(np.int64)


def _sig_matrix(minhash: pd.Series, num_hashes: int):
    """A pandas column of array<long> signatures as one uint64 matrix."""
    import numpy as np

    if len(minhash) == 0:
        return np.zeros((0, num_hashes), dtype=np.uint64)
    return np.stack(minhash.to_numpy()).astype(np.int64).view(np.uint64)


def _check_banding(num_hashes: int, bands: int) -> None:
    """Raise ``ValueError`` unless ``bands`` cuts a ``num_hashes``-wide
    signature into equal bands: the banding check of every MinHash
    entry point. It is a real check, not an assert, because under
    ``python -O`` an assert vanishes and ``_band_keys``' reshape then
    fails inside a Python worker."""
    if bands < 1 or num_hashes % bands:
        raise ValueError(
            f"bands={bands} must be a positive divisor of num_hashes={num_hashes}"
        )


@lru_cache(maxsize=None)
def _band_hash_udf(num_hashes: int, bands: int):
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def band_hashes(sigs: pd.Series) -> pd.Series:
        return pd.Series(list(_band_keys(_sig_matrix(sigs, num_hashes), bands)))

    return band_hashes


def band_hash_array(minhash, num_hashes: int, bands: int):
    """array<long>[bands]: the LSH bucket key of each band of a MinHash
    signature column (a name or a Column), by ``_band_keys``, as a
    pandas UDF column. It is stateless, so the same banding serves
    ``incremental_near_dups`` and the streaming dedup state key
    (streaming/dedup.streaming_minhash_dedup), and it equals the keys
    ``minhash_lsh_candidates`` buckets on. Banding needs a Python
    worker whichever way the signature was computed; see
    ``_explode_bands`` for how to keep it in the signature's worker.

    The keys are a splitmix64 fold, not the ``xxhash64`` of a
    comma-joined slice that earlier versions computed. Candidate
    equality is unchanged (exact band slices, up to 64-bit collisions),
    but a streaming checkpoint written by an earlier version keys its
    ``dropDuplicatesWithinWatermark`` state differently: restart such a
    stream from a fresh checkpoint."""
    _check_banding(num_hashes, bands)
    return _band_hash_udf(num_hashes, bands)(minhash)


def _explode_bands(sigs: DataFrame, num_hashes: int, bands: int, *cols) -> DataFrame:
    """``cols`` of ``sigs`` plus one (band_id, band_hash) row per band of
    its ``minhash`` column. The keys are projected before the explode,
    so the optimizer nests ``band_hash_array`` in the signature's own
    pandas UDF call where the signature is one (a chained call runs in
    one Python worker; a band UDF under the explode would start a
    second worker per task). The ``_outer`` explode is deliberate: the
    key array is never empty, and a plain explode makes the optimizer
    infer a ``size(_bk) > 0`` filter that it pushes below the
    projection, which evaluates the whole UDF chain a second time."""
    keyed = sigs.select(*cols, band_hash_array("minhash", num_hashes, bands).alias("_bk"))
    return keyed.select(
        *[c for c in keyed.columns if c != "_bk"],
        F.posexplode_outer("_bk").alias("band_id", "band_hash"),
    )


def _band_rows(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, bands: int, shingle_n: int
) -> DataFrame:
    """(id, text) -> one (id, band_id, band_hash) row per band, in one
    Python pass: each text is shingled and signed by the
    ``minhash_signatures`` rule (``_text_signature_matrix``), banded by
    ``_band_keys``, and the rows leave the worker already exploded."""
    import numpy as np
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from vamana_spark.functions.util import ensure_parallelism

    schema = StructType(
        [
            df.schema[id_col],
            StructField("band_id", IntegerType(), False),
            StructField("band_hash", LongType(), False),
        ]
    )

    def band(batches):
        for pdf in batches:
            sig = _text_signature_matrix(pdf[text_col], num_hashes, shingle_n)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), bands),
                    "band_id": np.tile(np.arange(bands, dtype=np.int32), len(pdf)),
                    "band_hash": _band_keys(sig, bands).ravel(),
                }
            )

    src = ensure_parallelism(df.select(id_col, text_col))
    return src.mapInPandas(band, schema=schema)


def _sorted_bucket_pairs(keys, ids, max_bucket_size: int, head_over: bool, closed: bool):
    """The bucket rule over rows sorted by (band keys, id), as row
    indexes. Each bucket is a run of equal ``keys`` with its min-id
    member first. A bucket within ``max_bucket_size`` gives every pair,
    and a bucket over it gives the star (first member, member).
    ``head_over`` says that the first bucket passed the cap before these
    rows and kept only its first member. Unless ``closed``, the last
    bucket may go on past these rows, so it gives only star pairs.

    Returns ``(a, b, tail, tail_over)``: the pairs, with ``ids[a] <
    ids[b]``, and the rows to carry into the next batch with their over
    flag. An open bucket within the cap is carried whole; one over it is
    carried as its first member, its star pairs so far already given."""
    import numpy as np

    n = len(ids)
    if n == 0:
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty, empty, False
    brk = np.zeros(n - 1, dtype=bool)
    for k in keys:
        brk |= k[1:] != k[:-1]
    head = np.concatenate([[True], brk])
    starts = np.flatnonzero(head)
    sizes = np.diff(np.append(starts, n))
    over = sizes > max_bucket_size
    over[0] |= head_over
    clique = ~over & (sizes > 1)
    clique[-1] &= closed
    a, b = [], []
    for s in np.unique(sizes[clique]):
        st = starts[clique & (sizes == s)][:, None]
        i, j = np.triu_indices(s, 1)
        a.append((st + i).ravel())
        b.append((st + j).ravel())
    group = np.cumsum(head) - 1
    b.append(np.flatnonzero(over[group] & ~head))
    a.append(starts[group[b[-1]]])
    a, b = np.concatenate(a), np.concatenate(b)
    keep = ids[a] < ids[b]
    if closed:
        tail, tail_over = starts[:0], False
    elif over[-1]:
        tail, tail_over = starts[-1:], True
    else:
        tail, tail_over = np.arange(starts[-1], n), False
    return a[keep], b[keep], tail, tail_over


def _bucket_pairs(
    banded: DataFrame,
    band_keys: list,
    id_col: str,
    payload_cols: tuple = (),
    max_bucket_size: int = 512,
) -> DataFrame:
    """Candidate pairs (a_id < b_id, distinct) from band buckets, with a
    bucket-size cap, in one shuffle of ``banded`` on its band keys.

    Each partition is sorted by (band keys, id), so a bucket is a run of
    rows with its min-id member first, and one ``mapInPandas`` walks the
    sorted Arrow batches in numpy (``_sorted_bucket_pairs``). A bucket
    within ``max_bucket_size`` emits every pair. A bucket over the cap —
    a giant duplicate cluster lands its whole membership in the same
    bucket in every band, so all pairs would be quadratic in its size —
    emits a star instead: each member pairs with the min-id member. Pair
    count is then linear in bucket size, exact verification still sees
    every member, and connected components recover the full cluster
    through the star's centre. The trade: within an over-cap bucket,
    member↔member similarity is only observed transitively. Payload
    columns (SimHash's signature) ride along as ``a_<col>``/``b_<col>``.
    A member with a null id pairs with nothing.

    Memory: the sort spills to disk, and Python holds one Arrow batch
    plus the bucket still open at its end, carried into the next batch:
    at most ``max_bucket_size`` members while the bucket is within the
    cap, and only its min-id member once it passes the cap, while its
    star pairs stream out. A bucket within the cap costs O(cap²) while
    its pairs are made. On a 4-core local session with a 2 GB driver,
    one identical cluster of 3M members (3M - 1 star pairs) finished in
    96 s, with under 700 MB of Python worker RSS at its peak; an
    aggregate that collected each bucket as one list failed with a
    Java heap OOM already at 1M members.
    """
    import numpy as np
    from pyspark.sql.types import StructField, StructType

    cols = [*band_keys, id_col, *payload_cols]
    nk = len(band_keys)
    schema = StructType(
        [StructField(f"{s}_id", banded.schema[id_col].dataType) for s in "ab"]
        + [
            StructField(f"{s}_{c}", banded.schema[c].dataType)
            for s in "ab"
            for c in payload_cols
        ]
    )

    def walk(batches):
        def frame(x, head_over, closed):
            a, b, tail, over = _sorted_bucket_pairs(
                x[:nk], x[nk], max_bucket_size, head_over, closed
            )
            col, side = dict(zip(["id", *payload_cols], x[nk:])), {"a": a, "b": b}
            out = {f.name: col[f.name[2:]][side[f.name[0]]] for f in schema.fields}
            return pd.DataFrame(out), [v[tail] for v in x], over

        carry, over = None, False
        for pdf in batches:
            x = [pdf[c].to_numpy() for c in cols]
            if carry is not None:
                x = [np.concatenate(p) for p in zip(carry, x)]
            out, carry, over = frame(x, over, False)
            yield out
        if carry is not None:
            yield frame(carry, over, True)[0]

    return (
        banded.select(*cols)
        .where(F.col(id_col).isNotNull())
        .repartition(*band_keys)
        .sortWithinPartitions(*band_keys, id_col)
        .mapInPandas(walk, schema)
        .distinct()
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int = 512,
) -> DataFrame:
    """Banded-LSH candidate pairs (a_id < b_id, distinct).

    Signature split into ``bands`` rows of ``num_hashes/bands``; docs
    sharing any band key become candidates. One ``mapInPandas``
    (``_band_rows``) shingles, signs (the ``minhash_signatures`` Arrow
    rule) and bands each doc, and one shuffle on (band_id, band_hash)
    turns each bucket into its pairs (``_bucket_pairs``): no join and
    no broadcast. Buckets larger than ``max_bucket_size`` degrade to
    star-linking, so a planted giant duplicate cluster can't go
    quadratic.
    """
    _check_banding(num_hashes, bands)
    banded = _band_rows(df, text_col, id_col, num_hashes, bands, shingle_n)
    return _bucket_pairs(
        banded,
        ["band_id", "band_hash"],
        id_col,
        max_bucket_size=max_bucket_size,
    )


#: Star-cap presets, measured on a 10M-doc Zipf-skewed corpus: "audit"
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
    max_bucket_size: "int | None" = None,
    consumer: str = "audit",
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates re-verified with exact Jaccard
    over shingle sets (joins shingles back onto the candidate pairs only).
    Returns (a_id, b_id, jaccard >= threshold).

    ``consumer`` picks the star-cap ``max_bucket_size`` for the
    downstream consumption shape. ``"audit"`` (default, cap 512) emits
    every within-cap pair — the exhaustive pair-list / oracle-parity
    setting. ``"cluster"`` (cap 64) is for callers that only need
    transitive clusters or survivors (``duplicate_clusters`` /
    ``dedup_corpus`` default to it): star topology keeps a cluster
    connected through its min-id representative at O(members) pairs —
    measured on a 10M-doc Zipf-skewed corpus: 7.4x fewer verified pairs
    (86.8M -> 11.8M), 11x less disk spill, 6.7x faster CC at equal
    measured planted coverage and cluster recovery (0.9999 at BOTH
    caps on that corpus). That is an APPROXIMATE guarantee, not an
    identity: a capped bucket emits only rep↔member candidate edges,
    and an edge survives only if the exact Jaccard of that specific
    pair clears ``threshold`` — a member below threshold
    against the min-id rep but above it against some capped-away OTHER
    member loses its connecting edge, fragmenting a cluster the audit
    cap would have recovered. Near-threshold corpora whose duplicate
    groups are CHAINS rather than near-cliques should pass
    ``consumer="audit"``. An explicit ``max_bucket_size`` overrides
    the preset.

    ``max_bucket_size``: the star-cap bound on per-bucket pair
    expansion. The OBSERVED pair count scales with Σ min(bucket, cap)²
    across band buckets — on a Zipf-skewed corpus the mid-size duplicate
    clusters below the cap emit their full quadratic pair sets. That
    output is CORRECT (those pairs are real); within an over-cap bucket,
    member↔member similarity is only observed transitively through
    the representative.

    Eager: the call runs Spark jobs before it returns. It
    ``localCheckpoint``s the candidate pairs (one pass over the corpus:
    signatures and band keys in Python, one shuffle on the band keys,
    the sorted bucket walk in Python, the pair distinct) and the
    candidate docs' shingle hash sets (a left-semi join by the candidate
    ids, then one Python pass over their text). A local checkpoint
    truncates lineage and keeps its blocks only on the executors that
    wrote them, so losing one of those executors fails the job that
    reads them instead of recomputing.

    ``jaccard`` is computed on the 64-bit blake2b base hashes of the
    shingles (``_shingle_hash_sets``), not on their text, so it equals
    the string-set Jaccard unless two distinct shingles of one pair
    hash alike. For a pair with n distinct shingles the chance of that
    is about n²/2⁶⁵, and one collision moves the value by about 1/n."""
    from vamana_spark.functions.util import ensure_parallelism

    if consumer not in _MINHASH_CONSUMER_CAPS:
        raise ValueError(
            f"consumer must be one of {sorted(_MINHASH_CONSUMER_CAPS)}, "
            f"got {consumer!r}"
        )
    if max_bucket_size is None:
        max_bucket_size = _MINHASH_CONSUMER_CAPS[consumer]
    # Verification reads the text again for the candidate docs only: a
    # left-semi join by the candidate ids (duplicate keys on its right
    # side change nothing, so no distinct) reduces the corpus before
    # its hash sets are built. The pair list is checkpointed because it
    # feeds the output AND both id sides; it is narrow (two longs/row)
    # and candidate-sized.
    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n,
        max_bucket_size=max_bucket_size,
    ).localCheckpoint()
    # Spread the corpus over the cores before the join: a partition
    # count read from the join's own plan would run its stages once
    # more, only to look.
    ids = cands.select(F.col("a_id").alias(id_col)).union(
        cands.select(F.col("b_id").alias(id_col))
    )
    docs = ensure_parallelism(df.select(id_col, text_col)).join(ids, id_col, "left_semi")
    # candidate docs only; read by both join sides
    hs = _shingle_hash_sets(docs, text_col, id_col, shingle_n).localCheckpoint()
    return _hash_set_jaccard(_pair_hash_sets(cands, hs, id_col), threshold, "a_id", "b_id")


def _shingle_hash_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    *carry,
) -> DataFrame:
    """(id, *carry, _hs: array<long>): each doc's distinct word shingles
    (``_shingles_py``) as the sorted, distinct blake2b-8 base hashes its
    MinHash signature starts from (``_base_hashes``), from one
    ``mapInPandas``; the ``carry`` columns of ``df`` pass through
    unchanged. Set sizes and intersections equal those of the string
    shingle sets up to a 64-bit collision, and a hash set is ~8 bytes
    per shingle instead of the shingle's text."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    schema = StructType(
        [df.schema[c] for c in (id_col, *carry)]
        + [StructField("_hs", ArrayType(LongType(), False), False)]
    )

    def hash_sets(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    **{c: pdf[c] for c in (id_col, *carry)},
                    "_hs": [
                        np.unique(_base_hashes(_shingles_py(t, shingle_n)).view(np.int64))
                        for t in pdf[text_col]
                    ],
                }
            )

    return df.select(id_col, text_col, *carry).mapInPandas(hash_sets, schema=schema)


def _pair_hash_sets(pairs: DataFrame, hs: DataFrame, id_col: str) -> DataFrame:
    """``pairs`` (a_id, b_id, ...) with each side's ``_shingle_hash_sets``
    row joined on as ``a_hs`` / ``b_hs``."""
    av = hs.select(F.col(id_col).alias("a_id"), F.col("_hs").alias("a_hs"))
    bv = hs.select(F.col(id_col).alias("b_id"), F.col("_hs").alias("b_hs"))
    return pairs.join(av, "a_id").join(bv, "b_id")


def _hash_set_jaccard(pairs: DataFrame, threshold: float, *cols) -> DataFrame:
    """(*cols, jaccard) for the rows of ``pairs`` whose shingle hash sets
    ``a_hs`` and ``b_hs`` (``_shingle_hash_sets``) have a Jaccard,
    |A∩B| / (|A|+|B|-|A∩B|) rounded to 4 places, of at least
    ``threshold``: the one exact verify of every shingle-based pair
    path. A set is never empty (``_shingles_py`` gives an empty text one
    empty shingle), so the union is never zero."""
    inter = F.size(F.array_intersect("a_hs", "b_hs"))
    union = F.size("a_hs") + F.size("b_hs") - inter
    return pairs.select(
        *cols, F.round(inter.cast("double") / union, 4).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


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

    ``check_every``: the barrier cadence —
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
    with the measured warning rather than deleted, so the negative
    result stays on record next to the knob it measured.
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
    (pigeonhole), so ``max_hamming`` above that would silently lose
    recall and raises ``ValueError`` instead. Candidates from one shuffle of the band buckets and the
    sorted bucket walk (``_bucket_pairs``, with each member's signature
    as payload, gathered with its id), then exact popcount
    verification. More bands widen the guaranteed radius but shrink
    the band value space (8 bands → 8-bit values), so buckets grow —
    the bucket cap's star topology bounds the damage, but wide-radius
    scans belong at modest corpus sizes; MinHash-LSH is the scale path.
    """
    if bands < 1 or 64 % bands:
        raise ValueError(f"bands={bands} must be a positive divisor of 64")
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding with bands={bands} only guarantees candidates up to "
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
    banded = banded.select(id_col, F.col("simhash").alias("sig"), "band_id", "band_val")
    cand = _bucket_pairs(
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
    """SimHash-blocked pairs re-verified with word n-gram Jaccard:
    (a_id, b_id, hamming, jaccard) for candidates with Hamming <=
    ``max_hamming`` AND Jaccard >= ``threshold``. The Jaccard is
    ``minhash_near_dups``' verify (``_hash_set_jaccard`` over
    ``_shingle_hash_sets``), equal to the string-set value up to a
    64-bit collision inside one pair.

    This is the projection of the SimHash pass that an oracle can check:
    the signature/hamming values are engine-internal (xxhash64), but
    the surviving PAIRS and their Jaccard are reproducible by any
    engine that can enumerate pairs — provided the blocking has full
    recall at the operating point (defaults guarantee candidates to
    Hamming 7; near-dups at Jaccard >= 0.5 sit well inside that on
    token-weighted SimHash).
    """
    cand = simhash_near_dups(
        df, text_col, id_col, max_hamming=max_hamming, bands=bands
    )
    from vamana_spark.functions.util import ensure_parallelism

    hs = _shingle_hash_sets(
        ensure_parallelism(df.select(id_col, text_col)), text_col, id_col, shingle_n
    )
    return _hash_set_jaccard(
        _pair_hash_sets(cand, hs, id_col), threshold, "a_id", "b_id", "hamming"
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

    Auto-tiered, as the index build is (vamana.py auto-tier), so that
    a large input never plans an all-pairs product: at or below ``max_exact_rows`` the exact
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
    witness replica per boundary (chunked rows are outside the stage-1
    sub-probe's reach, so without the stitch a pair split across a
    chunk boundary in the degenerate all-identical fallback stays
    missed)."""
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
    replicas that stitch stage-2 id-order chunks together: each chunk
    receives the PREVIOUS chunk's last row as a non-primary replica,
    restoring the lower-id witness chain that id-order chunking cut.
    Memory bound: +1 row per chunk."""
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
    """Sub-probe split labels: replica layout for one oversized cluster
    under multi-probe — each row keeps its enforced primary child label
    AND gains one replica in its second-nearest stage-1 SUB-center's
    child, the same top-2 recipe top-level multi-probe uses: a pair
    split across two children is scored in whichever child both
    replicas share. Measured on a 10M-row Zipf corpus, this
    sub-cluster-straddle class was +154 drops of the residual planted
    miss.

    Stage-2 id-order chunks (labels >= the k-means child count — the
    degenerate all-identical fallback, where Lloyd can't separate
    anything) are outside the stage-1 sub-probe's reach, so they are
    stitched separately: each chunk receives the
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
    the output, so an empty cell can mask a fired split.

    ``probes`` (the boundary-straddle recovery): assign each point to
    its ``probes`` nearest centers and run the scan in every probed
    cell, then merge to one row per point (dropped anywhere ⇒ dropped;
    ``dup_of``/``max_sim`` come from the highest-similarity witness).
    Single-probe SemDeDup misses pairs whose members fall on opposite
    sides of a Voronoi boundary — the dominant planted-miss class on a
    10M-row Zipf corpus (8.4% of planted dups at probes=1). Every
    multi-probe drop is exact-cosine-verified in some probed cell, so
    no pair below ``threshold`` is ever
    emitted; whole-group safety (some member of every duplicate group
    survives) additionally needs the drop relation to be acyclic
    across cells, which both policies guarantee — min_id because drops
    always point to a strictly smaller id, centroid_far because under
    multi-probe the keep priority is a GLOBAL scalar (see below). When
    the giant-cluster backstop splits an oversized cell, ``probes>1``
    also probes the split CHILDREN top-2
    (:func:`_split_labels_multiprobe`), converting the k-means
    sub-cluster-straddle miss class, and stitches the id-order
    enforcement chunks with a one-row witness replica per boundary
    (the degenerate all-identical fallback is outside the sub-probe's
    reach); secondary sub-replicas are capped at ``cap`` boundary rows
    per child, so every scan task stays O((2·cap)²). On the 10M-row
    Zipf corpus the sub-straddle class was +154 recovered drops; the
    residual 1.4% is instead TOP-LEVEL ≥3-cell straddle, for which the
    lever is raising ``probes`` itself. Cost: each point resides in
    ``probes`` cells, so cell populations grow ~probes× and the
    per-cell quadratic scan up to probes²× (4× FLOPs at probes=2;
    measured on that corpus 649 s → 3,224 s (~5×, splits + stragglers
    included) for planted-miss recall 0.9156 → 0.9859; probes=3
    measured 2,299 s → 5,429 s (2.36×, on the ~(3/2)² prediction) for
    0.9859 → 0.9979 — so use 2, reach for 3 only at recall targets
    ≥ 0.995, and stop there: probes=4+ prices out by extrapolation for
    a ≤0.2% residual) — still bounded per task by the same
    ``max_cluster_rows`` backstop. ``probes`` above the number of
    trained cells clamps to it. Default 1 = the published recipe,
    output unchanged.

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
    the dropped-anywhere merge would then erase the entire group.
    The global scalar restores one total order, at the cost of a
    slightly different (still farthest-from-center-first) keep choice
    within groups.

    Normalization happens INSIDE the operator (zero vectors become
    their own singletons: trivially kept), so clustering runs on the
    unit sphere — parallel vectors land in the same cluster by
    construction, which is what makes exact-duplicate capture exact.

    100 TB shape: clustering is ``index.cells.lloyd_centers`` (map-only
    Lloyd passes, driver reduces num_clusters partial sums; a corpus
    smaller than num_clusters trains one cell per row, and an empty
    one returns no rows); the pair scan is
    one ``applyInPandas`` per cluster, computing X_block @ X.T in
    ``block_rows`` strips — O(c^2) multiplies but O(block_rows * c)
    memory for a size-c cluster. num_clusters is the primary scale knob
    (size clusters to ~10^4-10^5 rows); ``max_cluster_rows`` is the
    skew backstop: any cluster above it is split by a
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
    import numpy as np
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from vamana_spark.index.cells import lloyd_centers

    id_type = emb.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"semantic_dedup requires an integral id column (keep priority is "
            f"id order); {id_col!r} is {id_type.simpleString()} — a silent "
            f"cast would null non-numeric ids. Map ids to longs first."
        )
    if int(probes) < 1:
        raise ValueError(f"probes must be >= 1, got {probes!r}")
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
    # the assignment runs fused with the carry of the unit vector, so
    # the only data shuffle is the cluster-keyed one
    centers = lloyd_centers(unit, num_clusters, "vec_id", "_u", seed)
    bc = spark.sparkContext.broadcast(centers)
    p_eff = min(int(probes), max(len(centers), 1))

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

            def split_cluster(key, pdf):
                pdf = pdf.sort_values("vec_id").reset_index(drop=True)
                Xo = np.stack(pdf["_u"].to_numpy())
                ids_np = pdf["vec_id"].to_numpy()
                if p_eff == 1:
                    lab = _split_oversized_labels(Xo, ids_np, cap)
                    return pdf.assign(_ck=[f"{key[0]}.{c}" for c in lab])
                # sub-probe: under multi-probe the split children are
                # probed top-2 as well, recovering pairs that straddle a
                # SUB-cluster boundary. A replica
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

    def dedup_cluster(key, pdf):
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
                # Per-cell centroid orderings are NOT mutually
                # consistent — A can drop against B in one
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
        # strip size adapts DOWN on giant groups: sims is
        # (blk, n) float64, so the docstring's O(block_rows·c) memory
        # carries a constant of blk·c·8 bytes — at the 2·cap=200k
        # groups sub-probing produces, blk=2048 means 3.3 GB per task
        # and 32 concurrent workers OOMed a 10M-doc run's box (100k
        # groups sat just under the line). Cap the strip footprint
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
        # appear in the output. Default-off so the public
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
        # the winning row can come from a SECONDARY
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

def _content_norm(c: str) -> Column:
    """The content-identity normalization every exact-dedup path shares
    (whitespace runs collapsed, lowercased): the batch key, the corpus
    key and the verify join must compare the SAME string."""
    return F.lower(F.regexp_replace(F.col(c), r"\s+", " "))


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
    (the normalization the corpus side is keyed by). min(struct(id, rest)) per
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


def _exact_verify_tail(batch: DataFrame, seen_norm: DataFrame) -> DataFrame:
    """Drop the batch rows whose ``_n`` occurs in ``seen_norm``, exactly,
    in one pass over the corpus.

    Decide on digests, then attach the payload with one careful join:
    broadcast the batch's content DIGESTS (xxhash64, 8 B per distinct
    batch content), pull only the hash-matched corpus rows in one
    map-side semi-join (with broadcasts enabled the corpus never
    shuffles on content), then make the result exact with a
    batch-sized text anti-join — digest collisions cannot cause a
    false drop because the anti-join compares the full normalized
    text. The matched corpus rows are deduplicated on ``_n`` first,
    one Exchange hashpartitioning(_n) over batch-bounded rows, so a
    corpus holding many copies of one content still moves one row per
    distinct matched content.

    Moved bytes: 8 B × |batch| broadcast + one batch-bounded movement
    of matched texts — as a broadcast while the batch texts' estimated
    size (one aggregate over the checkpoint: count and total bytes of
    ``_n``) stays within ``spark.sql.autoBroadcastJoinThreshold`` (the
    anti-join's probe side then does not exchange), as a batch-bounded
    shuffle past it. The gate prices the WHOLE batch, an upper bound on
    the matched set it broadcasts: pricing the matched set itself would
    take a second job over the corpus, so a mostly-fresh batch whose
    texts pass the threshold takes the shuffled anti-join even when
    few of them match. Broadcasting texts instead of digests does not
    scale: on a 10M-doc corpus with 2.1M candidate rows two text
    broadcasts of ~300 MB each took ~400 of ~500 s.

    With ``spark.sql.autoBroadcastJoinThreshold`` < 0 nothing
    broadcasts: the digest semi-join then shuffles ALL of
    ``seen_norm``, a full-corpus shuffle on content.
    """
    from vamana_spark.functions.util import bytes_conf

    thresh = bytes_conf(
        batch.sparkSession, "spark.sql.autoBroadcastJoinThreshold", 10 << 20
    )
    # feeds the digest broadcast, the anti-join AND the pricing
    # aggregate without replaying the first-occurrence shuffle
    batch = batch.localCheckpoint()
    batch_h = batch.select(F.xxhash64("_n").alias("_h")).distinct()
    # distinct: a dup-heavy corpus holds many copies of one matched
    # content; one row per distinct content keeps the broadcast below
    # within the byte gate
    seen_matched = (
        seen_norm.withColumn("_h", F.xxhash64("_n"))
        .join(F.broadcast(batch_h) if thresh >= 0 else batch_h, "_h", "left_semi")
        .select("_n")
        .distinct()
    )
    # one job over the checkpoint prices the anti-join's build side:
    # seen_matched holds at most one row per batch text, and an
    # UnsafeRow of one string costs ~16 B (null bits + offset/size word)
    # plus its bytes
    n_rows, text_bytes = batch.agg(
        F.count(F.lit(1)), F.coalesce(F.sum(F.octet_length("_n")), F.lit(0))
    ).first()
    if thresh >= 0 and text_bytes + 16 * n_rows <= thresh:
        kept = batch.join(F.broadcast(seen_matched), "_n", "left_anti")
    else:  # user disabled broadcasts, or the batch texts are too big to hold
        kept = batch.join(seen_matched, "_n", "left_anti")
    return kept.drop("_n")


def incremental_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Dedup a NEW batch against an already-ingested corpus (X1
    incremental form): the crawl-snapshot-over-snapshot pass a training
    pipeline runs before appending data, where ``seen_df`` is orders of
    magnitude larger than the batch. Returns the new rows that survive
    (first occurrence within the batch, and not present in the corpus),
    schema = ``new_df``. The result is exact: a row drops only when its
    normalized text equals a corpus row's.

    100 TB shape — one narrow pass over ``seen_df``, which never
    shuffles on content while broadcasts are enabled:
    - The batch pays one content-keyed shuffle for its internal
      first-occurrence dedup (an associative min-struct agg with
      map-side partials — hot duplicate keys combine before the
      exchange); it is the small side by construction.
    - The batch's content digests, 8 B per distinct batch content,
      force-broadcast (``F.broadcast``, whatever their size, while
      broadcasts are enabled) into a map-side semi-join over
      ``seen_df`` that keeps only the hash-matched corpus rows, then a
      text anti-join against them drops exact matches. See
      ``_exact_verify_tail``.
    - With ``spark.sql.autoBroadcastJoinThreshold`` < 0 nothing
      broadcasts, and the digest semi-join shuffles the whole corpus.

    Eager: the call runs Spark jobs before it returns. It
    ``localCheckpoint``s the first-occurrence batch and runs one
    aggregate over it (the batch's row count and text bytes, which
    choose the anti-join's plan). A local checkpoint truncates lineage
    and keeps its blocks only on the executors that wrote them, so
    losing one of those executors fails the job that reads them
    instead of recomputing.
    """
    norm = _content_norm if normalize else F.col
    seen_norm = seen_df.select(norm(text_col).alias("_n"))
    return _exact_verify_tail(_first_occurrence(new_df, text_col, id_col, norm), seen_norm)


def _witness_bands(
    seen: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    max_bucket_witnesses: int,
    seen_signatures: Optional[DataFrame] = None,
) -> DataFrame:
    """(seen_id, band_id, band_hash): the corpus band table of the
    cross-snapshot scans (``incremental_near_dups`` and
    ``streaming.dedup.streaming_incremental_near_dups``), each band
    bucket cut to its ``max_bucket_witnesses`` lowest-id members.

    ``seen_signatures`` (a ``minhash_signatures`` table) replaces the
    corpus signature pass. Its width is checked against ``num_hashes``
    first: banding a wrong-width minhash silently produces wrong band
    hashes, and the exact verify masks the false positives but NOT the
    resulting misses. One limit-1 row is a cheap scan; the width is
    uniform by construction.

    Only overfull buckets are ranked (a giant duplicate cluster flooding
    one bucket per band): their keys come from a map-side-combined count
    and a broadcast, and the rank window shuffles only their rows."""
    if seen_signatures is not None:
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
        sig_s = minhash_signatures(seen, text_col, id_col, num_hashes, shingle_n)
    # banded_s feeds the overfull count AND the kept rows; without
    # materialization each branch replays the corpus signature pass.
    # 2 longs + id per row — bands×16B/doc, GC-owned via localCheckpoint.
    banded_s = _explode_bands(
        sig_s, num_hashes, bands, F.col(id_col).alias("seen_id")
    ).localCheckpoint()
    keys = ["band_id", "band_hash"]
    overfull = F.broadcast(
        banded_s.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .where(F.col("_bsz") > max_bucket_witnesses)
    )
    ann = banded_s.join(overfull, keys, "left")
    small = ann.where(F.col("_bsz").isNull()).select("seen_id", *keys)
    wover = Window.partitionBy(*keys).orderBy(F.col("seen_id").asc())
    capped = (
        ann.where(F.col("_bsz").isNotNull())
        .withColumn("_wrn", F.row_number().over(wover))
        .where(F.col("_wrn") <= max_bucket_witnesses)
        .select("seen_id", *keys)
    )
    return small.unionByName(capped)


def incremental_near_dups(
    batch: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
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
      exhaustive-pair consumers must raise the cap. The corpus band
      table and its cap are ``_witness_bands``, shared with the
      streaming mirror.
    - Exact-Jaccard verification hashes the shingles of ONLY the
      candidate corpus docs (broadcast semi-join of the candidate id
      set against the corpus scan — map-side, then
      ``_shingle_hash_sets``), joins the hash sets onto the pairs and
      scores them with ``_hash_set_jaccard``, the verify of
      ``minhash_near_dups``. The batch's hash sets are built once,
      next to its signatures.

    ``decision_only`` (a preset from a measured 10M-doc run): for
    ingest gating, where the question is "is this batch doc a near-dup
    of ANYTHING?" and one verified hit suffices. That run measured ~139
    witnesses per duplicated batch doc where 1 answers. Two changes, both measured: (a) the witness cap
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
    from vamana_spark.functions.util import ensure_parallelism

    if max_bucket_witnesses is None:
        max_bucket_witnesses = 8 if decision_only else 512
    # the batch's signatures and hash sets in one checkpointed frame:
    # the band join reads the one, the verify the other
    src = ensure_parallelism(batch.select(id_col, text_col))
    hs_b = _shingle_hash_sets(
        src.withColumn("minhash", _text_signature_udf(num_hashes, shingle_n)(text_col)),
        text_col, id_col, shingle_n, "minhash",
    ).localCheckpoint()
    banded_b = _explode_bands(
        hs_b, num_hashes, bands, F.col(id_col).alias("batch_id")
    )
    if broadcast_batch:
        banded_b = F.broadcast(banded_b)
    witnesses = _witness_bands(
        seen, text_col, id_col, num_hashes, bands, shingle_n,
        max_bucket_witnesses, seen_signatures,
    )
    joined = witnesses.join(banded_b, ["band_id", "band_hash"])
    av = hs_b.select(F.col(id_col).alias("batch_id"), F.col("_hs").alias("a_hs"))
    # the corpus is spread over the cores before the verify's join: a
    # partition count read from the join's own plan would run its
    # stages once more, only to look
    seen_text = ensure_parallelism(seen.select(id_col, text_col))

    def _verify(pairs_df: DataFrame) -> DataFrame:
        # verification: hash the shingles of ONLY this pair set's corpus
        # docs (broadcast semi-join — map-side over the corpus scan)
        cand_seen = pairs_df.select(F.col("seen_id").alias(id_col)).distinct()
        seen_sub = seen_text.join(F.broadcast(cand_seen), id_col, "left_semi")
        bv = _shingle_hash_sets(seen_sub, text_col, id_col, shingle_n).select(
            F.col(id_col).alias("seen_id"), F.col("_hs").alias("b_hs")
        )
        pairs = pairs_df.select("batch_id", "seen_id").join(av, "batch_id").join(bv, "seen_id")
        return _hash_set_jaccard(pairs, threshold, "batch_id", "seen_id")

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
# width guard in _witness_bands catches at the last line of defense;
# the store prevents it at the API level).
# ---------------------------------------------------------------------

def save_signatures(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> None:
    """Compute and persist the corpus MinHash signature table plus a
    ``_meta.json`` recording the parameters it was built with. One
    narrow pass over the corpus (no shuffle); the table is
    ``(id_col, minhash: array<long>[num_hashes])`` parquet, readable by
    any engine. Re-ingests then call ``scan_against_store`` and never
    re-shingle the corpus. The banding parameters are checked before
    anything is written, so a store that no scan could band is never
    made."""
    import json as _json
    import os as _os

    _check_banding(num_hashes, bands)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
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

    ``decision_only``: the ingest-gate preset — one row per flagged
    batch doc (its best verified hit), witness cap 8, staged first-hit
    verification; see ``incremental_near_dups``. On a 10M-doc
    Zipf-skewed corpus the audit scan found ~139 witnesses per
    duplicated batch doc where 1 answers, and the preset cut the
    candidate join 173.9x (34.87M audit candidates vs 200,547 decision
    verify rows; the stage-2 fallback fired on 0.01% of flagged docs).
    The worst case measured was a borderline corpus, with
    paraphrase-grade mates just above the threshold: stage 2 engaged on
    44% of flagged docs, the cut narrowed to 74.7x (wall gain small and
    noisy there - candidate generation dominates both passes), and the
    preset lost ~2% of the audit flag set to the witness cap (91% of
    even the audit pass's own borderline misses are cap misses, 9%
    banding) — prefer audit mode (or a raised ``max_bucket_witnesses``)
    when the flag set must be exhaustive at the threshold edge."""
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
        max_bucket_witnesses=max_bucket_witnesses,
        seen_signatures=sigs,
        broadcast_batch=broadcast_batch,
        decision_only=decision_only,
    )
