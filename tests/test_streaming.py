"""Structured Streaming mirrors vs their batch counterparts on a closed
input (AvailableNow trigger → results must match batch exactly)."""

import pytest
from pyspark.sql import functions as F

from vamana_spark.streaming.search import run_to_completion


@pytest.fixture(scope="module")
def stream_source(tmp_path_factory, events):
    d = str(tmp_path_factory.mktemp("events_stream"))
    # normalize ts to µs timestamps (stream schema), two files = two splits
    events.select("event_id", "ts", "user_id", "event_type", "value", "props") \
        .repartition(2).write.mode("overwrite").parquet(d)
    return d


def test_streaming_dedup_drops_repeats(spark, events, stream_source, tmp_path):
    from vamana_spark.streaming.dedup import streaming_exact_dedup

    stream = spark.readStream.schema(
        spark.read.parquet(stream_source).schema
    ).parquet(stream_source)
    q = (
        streaming_exact_dedup(stream, key_cols=("user_id", "event_type"), watermark="365 days")
        .writeStream.format("memory")
        .queryName("t_stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("t_stream_dedup")
    n_distinct = events.select("user_id", "event_type").distinct().count()
    assert out.count() == n_distinct
    assert out.select("user_id", "event_type").distinct().count() == n_distinct


def test_streaming_ann_search_matches_batch(spark, embeddings, tmp_path):
    from vamana_spark import VamanaIndex, VamanaParams
    from vamana_spark.streaming.search import (
        read_query_stream,
        run_search_to_completion,
        streaming_ann_search,
    )

    params = VamanaParams(dim=64, alpha=1.2, R=24, L=48, ef_search=64, seed=21)
    idx = VamanaIndex.build(spark, embeddings, params)
    q = embeddings.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    src = str(tmp_path / "qstream")
    # two files -> two micro-batch splits
    q.where(F.col("query_id") < 250).coalesce(1).write.parquet(src + "/a")
    q.where(F.col("query_id") >= 250).coalesce(1).write.parquet(src + "/b")
    import glob, shutil, os
    os.makedirs(src + "/in", exist_ok=True)
    for i, f in enumerate(glob.glob(src + "/*/part-*.parquet")):
        shutil.copy(f, f"{src}/in/batch{i}.parquet")

    stream = read_query_stream(spark, src + "/in")
    out = run_search_to_completion(
        streaming_ann_search(idx, stream, k=5), "ann_stream_test"
    )
    batch = idx.search(q, k=5)
    key = lambda r: (r.query_id, r.rank)
    got = sorted(((r.query_id, r.rank, r.vec_id) for r in out.collect()))
    want = sorted(((r.query_id, r.rank, r.vec_id) for r in batch.collect()))
    assert got == want and got


def test_streaming_minhash_dedup_matches_batch(spark, documents, tmp_path):
    """Near-dup dedup parity on a closed input: the streaming banded
    first-writer-wins semantics == the batch analogue (winner per LSH
    bucket = min (ts, doc_id); survivor = won every band).

    Input is ONE sorted single-partition file per micro-batch so the
    stream's first-processed == min-(ts, doc_id) — making the streaming
    result deterministic and batch-comparable."""
    from pyspark.sql import Window

    from vamana_spark.operators.dedup import _text_signature_udf, band_hash_array
    from vamana_spark.streaming.dedup import streaming_minhash_dedup

    base = (
        documents.select("doc_id", "text")
        .where(F.col("doc_id") < 60)
        .withColumn(
            "ts",
            F.to_timestamp(F.lit("2024-01-01 00:00:00")) +
            F.make_interval(secs=F.col("doc_id").cast("double")),
        )
    )
    # near-dup copies: same text, new ids, 2 minutes later (inside the
    # watermark horizon) — every copy must be dropped
    dups = (
        base.where(F.col("doc_id") % 3 == 0)
        .select(
            (F.col("doc_id") + 10_000).alias("doc_id"),
            "text",
            (F.col("ts") + F.expr("INTERVAL 2 MINUTES")).alias("ts"),
        )
    )
    # sentinel far in the future: advances the watermark so the final
    # no-data batch flushes every closed window before termination
    sentinel = spark.createDataFrame(
        [(99_999, "sentinel flush document with enough words to shingle")],
        "doc_id long, text string",
    ).withColumn("ts", F.to_timestamp(F.lit("2024-06-01 00:00:00")))

    d = str(tmp_path / "docs_stream")
    allrows = base.unionByName(dups).unionByName(sentinel)
    allrows.coalesce(1).sortWithinPartitions("ts", "doc_id").write.mode(
        "overwrite"
    ).parquet(d)

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .format("parquet")
        .load(d)
    )
    q = (
        streaming_minhash_dedup(
            stream, watermark="30 minutes", window="1 minute", bands=16
        )
        .writeStream.format("memory")
        .queryName("t_stream_minhash")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_minhash"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id for r in spark.table("t_stream_minhash").collect()}

    # batch analogue of the same semantics
    sigs = allrows.select(
        "doc_id",
        "ts",
        _text_signature_udf(64, 3)(F.col("text")).alias("minhash"),
    )
    banded = sigs.select(
        "doc_id",
        "ts",
        F.posexplode(band_hash_array("minhash", 64, 16)).alias(
            "band_id", "band_hash"
        ),
    )
    w = Window.partitionBy("band_id", "band_hash").orderBy("ts", "doc_id")
    winners = banded.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    want = {
        r.doc_id
        for r in winners.groupBy("doc_id")
        .agg(F.count("*").alias("won"))
        .where(F.col("won") == 16)
        .collect()
        if r.doc_id != 99_999  # sentinel's window never closes in-stream
    }
    assert 99_999 not in got
    assert got == want, (sorted(got - want), sorted(want - got))
    # and the operator actually dropped every injected near-dup copy
    assert not any(d >= 10_000 for d in got)


def test_streaming_partitioned_search_matches_batch(spark, embeddings, tmp_path):
    """Partitioned-tier serving on a stream (foreachBatch over the
    static packed index, flat AND beyond-RAM PQ): per-query rows equal
    the batch search regardless of micro-batching."""
    from vamana_spark import VamanaParams
    from vamana_spark.index.partitioned import PartitionedVamanaIndex
    from vamana_spark.streaming.search import (
        read_query_stream,
        streaming_partitioned_search,
    )

    params = VamanaParams(dim=64, alpha=1.2, R=24, L=48, ef_search=64, seed=21)
    pidx = PartitionedVamanaIndex.build(spark, embeddings, params, num_shards=4)
    pidx.shards_df = pidx.shards_df.cache()
    q = embeddings.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    src = str(tmp_path / "pqstream")
    q.where(F.col("query_id") < 250).coalesce(1).write.parquet(src + "/a")
    q.where(F.col("query_id") >= 250).coalesce(1).write.parquet(src + "/b")
    import glob
    import os
    import shutil

    os.makedirs(src + "/in", exist_ok=True)
    for i, f in enumerate(glob.glob(src + "/*/part-*.parquet")):
        shutil.copy(f, f"{src}/in/batch{i}.parquet")

    for use_pq in (False, True):
        got_rows = []
        query = streaming_partitioned_search(
            pidx,
            read_query_stream(spark, src + "/in"),
            k=5,
            use_pq=use_pq,
            sink=lambda df, _bid: got_rows.extend(df.collect()),
            checkpoint_dir=str(tmp_path / f"ckpt_pq{use_pq}"),
        )
        query.awaitTermination()
        batch = (pidx.search_pq if use_pq else pidx.search)(q, k=5)
        got = sorted((r.query_id, r.rank, r.vec_id) for r in got_rows)
        want = sorted((r.query_id, r.rank, r.vec_id) for r in batch.collect())
        assert got == want and got, f"use_pq={use_pq}"


def test_streaming_quality_filters_match_batch(spark, documents, tmp_path):
    """Stateless quality gates (Gopher/C4/PII) applied to a document
    stream produce exactly the batch result on a closed input — the
    filters are pure projections, so they compose into any ingest
    stream with zero state."""
    from vamana_spark.operators.text import c4_clean, gopher_quality_filter

    src = str(tmp_path / "docs_stream")
    documents.repartition(2).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(documents.schema).parquet(src)

    got = run_to_completion(
        gopher_quality_filter(stream), "t_stream_gopher", output_mode="append"
    ).collect()
    want = {r.doc_id: r for r in gopher_quality_filter(documents).collect()}
    assert len(got) == len(want)
    for r in got:
        w = want[r.doc_id]
        assert (r.n_words, r.stop_hits, r.gopher_pass) == (
            w.n_words,
            w.stop_hits,
            w.gopher_pass,
        )

    got_c4 = {
        r.doc_id: (r.n_kept, r.doc_pass)
        for r in run_to_completion(
            c4_clean(stream), "t_stream_c4", output_mode="append"
        ).collect()
    }
    want_c4 = {
        r.doc_id: (r.n_kept, r.doc_pass) for r in c4_clean(documents).collect()
    }
    assert got_c4 == want_c4


def test_streaming_incremental_dedup_matches_batch(spark, documents, tmp_path):
    """Stream-vs-corpus ingest dedup parity on a closed input: the
    streaming mirror (stream-static anti-join of every row +
    within-watermark first-occurrence) == the batch
    incremental_dedup survivor set. Sorted single-partition input makes
    first-processed == min doc_id, so the two keep the same survivors."""
    from vamana_spark.operators.dedup import incremental_dedup
    from vamana_spark.streaming.dedup import streaming_incremental_dedup

    seen = documents.select("doc_id", "text").where(F.col("doc_id") % 2 == 0)
    batch = (
        documents.select("doc_id", "text").where(F.col("doc_id") % 2 == 1)
        .unionByName(
            # planted copies of corpus docs — must all be dropped
            documents.select((F.col("doc_id") + 50_000).alias("doc_id"), "text")
            .where((F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 10 == 0))
        )
    )
    stream_in = batch.withColumn(
        "ts",
        F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        + F.make_interval(secs=(F.col("doc_id") % 1000).cast("double")),
    )
    d = str(tmp_path / "inc_stream")
    stream_in.coalesce(1).sortWithinPartitions("doc_id").write.mode(
        "overwrite"
    ).parquet(d)

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .format("parquet")
        .load(d)
    )
    q = (
        streaming_incremental_dedup(stream, seen, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("t_stream_inc")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_inc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id for r in spark.sql("SELECT doc_id FROM t_stream_inc").collect()}
    want = {r.doc_id for r in incremental_dedup(batch, seen).collect()}
    assert got == want and len(want) > 0
    assert not any(i >= 50_000 for i in got)  # planted corpus copies gone


def test_streaming_incremental_near_dups_matches_batch(spark, tmp_path):
    """Streaming near-dup scan vs a static corpus == the batch
    incremental_near_dups pair set on a closed input (same threshold,
    banding, and exact-Jaccard verify semantics)."""
    from vamana_spark.operators.dedup import incremental_near_dups
    from vamana_spark.streaming.dedup import streaming_incremental_near_dups

    seen = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over dog number {i} end story")
         for i in range(40)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(500, "the quick brown fox jumps over dog number 7 end story"),
         (501, "the quick brown fox jumps over dog number 7 end tale"),
         (502, "entirely unrelated content about structured streaming")],
        ["doc_id", "text"],
    )
    stream_in = batch.withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    )
    d = str(tmp_path / "near_stream")
    stream_in.coalesce(1).write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .format("parquet").load(d)
    )
    q = (
        streaming_incremental_near_dups(stream, seen, threshold=0.5)
        .writeStream.format("memory").queryName("t_stream_near")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_near"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r.batch_id, r.seen_id, r.jaccard) for r in
           spark.sql("SELECT * FROM t_stream_near").collect()}
    want = {(r.batch_id, r.seen_id, r.jaccard) for r in
            incremental_near_dups(batch, seen, threshold=0.5).collect()}
    assert got == want and (500, 7, 1.0) in got
    assert not any(b == 502 for b, _, _ in got)
