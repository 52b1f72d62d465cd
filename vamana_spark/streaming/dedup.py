"""Streaming deduplication — bounded-state exact dedup on a stream.

``streaming_exact_dedup`` drops rows whose content key was already seen
within the watermark horizon (`dropDuplicatesWithinWatermark`): the
state store holds one entry per distinct key per horizon, which is what
makes dedup feasible on an unbounded stream — the batch operator's
"seen set" would grow forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_exact_dedup(
    events: DataFrame,
    key_cols=("user_id", "event_type"),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first occurrence per key within the watermark horizon."""
    return (
        events.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(list(key_cols))
    )


def streaming_content_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Content-hash dedup on a document stream (normalized sha256 key)."""
    from vamana_spark.operators.dedup import _content_norm

    keyed = docs.withColumn("_ck", F.sha2(_content_norm(text_col), 256))
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_ck"])
        .drop("_ck")
    )


def streaming_minhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    window: str = "10 minutes",
) -> DataFrame:
    """NEAR-dup dedup on a document stream — banded MinHash with
    first-writer-wins LSH buckets.

    Stages:
    1. stateless — per-row MinHash signature (the batch operator's
       one-pass text-to-signature UDF, operators/dedup.py, so no
       shingle strings cross Arrow) exploded into ``bands`` LSH bucket
       keys per doc;
    2. stateful — ``dropDuplicatesWithinWatermark`` on (band_id,
       band_hash): the first doc to write an LSH bucket within the
       watermark horizon owns it; state is one entry per distinct
       bucket per horizon (bounded, like the exact dedup above);
    3. stateful — a doc SURVIVES iff it won ALL its bands: losing any
       band means an in-horizon predecessor collided there — an LSH
       near-dup candidate — so the doc is dropped. Candidate==dup is
       the streaming trade: the batch operator re-verifies candidates
       with exact Jaccard (a join), which an unbounded stream can't
       afford; band/hash counts tune the false-positive rate instead.

    Chained stateful operators run in append mode (Spark >= 3.5); the
    survivors aggregate is keyed by (event-time window, doc), so rows
    emit once the watermark passes their window.

    Returns (doc_id, window_start, bands_won) for surviving docs.
    """
    from vamana_spark.operators.dedup import _explode_bands, _text_signature_udf

    sigs = docs.select(
        F.col(id_col),
        F.col(ts_col),
        _text_signature_udf(num_hashes, shingle_n)(F.col(text_col)).alias("minhash"),
    )
    banded = _explode_bands(sigs, num_hashes, bands, id_col, ts_col)
    winners = banded.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["band_id", "band_hash"]
    )
    return (
        winners.groupBy(F.window(ts_col, window).alias("w"), F.col(id_col))
        .agg(F.count("*").cast("int").alias("bands_won"))
        .where(F.col("bands_won") == bands)
        .select(
            F.col(id_col),
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "bands_won",
        )
    )


def streaming_incremental_dedup(
    docs: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Incremental-INGEST dedup on a stream — the streaming mirror of
    ``operators.dedup.incremental_dedup``: drop rows whose content
    already exists in a static, already-ingested corpus, and keep only
    the first occurrence of each content key within the stream's
    watermark horizon.

    Every streamed row meets the corpus content keys in one
    stream-static LEFT ANTI join on the normalized text, so the result
    is exact. The static side is re-scanned every micro-batch: pass a
    persisted or stored table of the corpus as ``seen_df`` for
    long-running streams.
    """
    from vamana_spark.operators.dedup import _content_norm

    seen_norm = seen_df.select(_content_norm(text_col).alias("_n"))
    return (
        docs.withColumn("_n", _content_norm(text_col))
        .join(seen_norm, "_n", "left_anti")
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_n"])
        .drop("_n")
    )


def streaming_incremental_near_dups(
    docs: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seen_signatures=None,
    max_bucket_witnesses: int = 512,
) -> DataFrame:
    """Streaming mirror of ``operators.dedup.incremental_near_dups``:
    emit verified near-dup pairs (batch_id, seen_id, jaccard) of each
    streamed document against a STATIC already-ingested corpus.

    Stateless-by-construction pipeline — no stream-stream join, no
    aggregation: each streamed row is signed (a pandas-UDF column) and
    its shingle hash set built next to it (``_shingle_hash_sets``, which
    carries the signature and ``ts`` through), so the stream is never
    joined with itself. Its band keys equi-join the corpus band table
    (stream-static), the verify joins the corpus hash-set table
    (stream-static) and scores the pair with ``_hash_set_jaccard`` —
    the same verify as the batch scan. The only state is the
    within-watermark pair dedup (a band match can fire in several
    bands).

    The corpus band and hash-set tables are computed ONCE at stream
    definition. The band table is the batch scan's ``_witness_bands``:
    pass ``seen_signatures`` (a persisted ``minhash_signatures`` table —
    see ``operators.dedup.save_signatures``) to skip the corpus
    signature pass (its minhash width is validated against
    ``num_hashes`` — a mismatched store would band wrongly and silently
    MISS pairs), and a corpus band bucket holding more than
    ``max_bucket_witnesses`` docs (a giant duplicate cluster) keeps only
    its min-id witnesses — without the cap one hot cluster would
    explode the candidate join on EVERY micro-batch. Both static tables
    are local checkpoints, since the static side of a stream-static
    join is re-scanned every micro-batch.
    """
    from vamana_spark.functions.util import ensure_parallelism
    from vamana_spark.operators.dedup import (
        _explode_bands,
        _hash_set_jaccard,
        _shingle_hash_sets,
        _text_signature_udf,
        _witness_bands,
    )

    hs_s = _shingle_hash_sets(
        ensure_parallelism(seen.select(id_col, text_col)), text_col, id_col, shingle_n
    ).select(F.col(id_col).alias("seen_id"), F.col("_hs").alias("b_hs")).localCheckpoint()
    banded_s = _witness_bands(
        seen, text_col, id_col, num_hashes, bands, shingle_n,
        int(max_bucket_witnesses), seen_signatures,
    ).localCheckpoint()
    signed = docs.select(
        F.col(id_col).alias("batch_id"),
        F.col(ts_col),
        F.col(text_col),
        _text_signature_udf(num_hashes, shingle_n)(F.col(text_col)).alias("minhash"),
    )
    hs_b = _shingle_hash_sets(signed, text_col, "batch_id", shingle_n, ts_col, "minhash")
    banded_b = _explode_bands(
        hs_b, num_hashes, bands, "batch_id", ts_col, F.col("_hs").alias("a_hs")
    )
    cand = banded_b.join(banded_s, ["band_id", "band_hash"]).join(hs_s, "seen_id")
    pairs = _hash_set_jaccard(cand, threshold, "batch_id", "seen_id", ts_col)
    return (
        pairs.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["batch_id", "seen_id"])
        .drop(ts_col)
    )
