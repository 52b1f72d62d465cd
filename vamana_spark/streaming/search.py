"""Streaming ANN search: serve a built VamanaIndex against a query
stream.

The reference is strictly batch; this is the online-serving extension:
``VamanaIndex.search`` is a broadcast-index ``mapInPandas``, which is a
stateless per-row transform — exactly the class of operator Structured
Streaming runs unchanged. Each micro-batch of queries fans out across
executors against the already-broadcast index; no state store, no
watermark, no shuffle.

Batch/stream parity: on a bounded input (Trigger.AvailableNow) the
stream produces exactly the batch ``search`` rows — asserted in
``tests/test_streaming.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

QUERY_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("query_vec", T.ArrayType(T.FloatType())),
    ]
)


def read_query_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of query batches (one parquet file = one
    micro-batch input split)."""
    return (
        spark.readStream.schema(QUERY_SCHEMA).format("parquet").load(source_dir)
    )


def streaming_ann_search(index, query_stream: DataFrame, k: int = 10) -> DataFrame:
    """Top-k ANN results for a query stream. Returns a streaming
    DataFrame (query_id, vec_id, dist, rank, hops, dist_comps); write it
    with any sink, e.g. ``.writeStream.format("parquet")``.

    The index broadcast happens once at plan time; micro-batches pay
    only the kernel cost. Append-mode safe: every input row produces its
    rows exactly once, independent of batching.
    """
    return index.search(query_stream, k=k)


def run_to_completion(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain a bounded stream into an in-memory table (AvailableNow) and
    return the result as a batch DataFrame. Test/utility path.
    ``output_mode="append"`` for stateless/append-only streams (complete
    mode requires an aggregation)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def run_search_to_completion(
    stream_df: DataFrame, query_name: str
) -> DataFrame:
    """Drain a bounded query stream (append mode — search output is
    append-only) with ``run_to_completion``."""
    return run_to_completion(stream_df, query_name, output_mode="append")


def streaming_partitioned_search(
    index,
    query_stream: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    use_pq: bool = False,
    sink=None,
    checkpoint_dir: str | None = None,
    trigger: dict | None = None,
):
    """Serve a ``PartitionedVamanaIndex`` — including its beyond-RAM PQ
    path — against a query stream.

    The partitioned search is a cogroup + window plan, operator shapes
    Structured Streaming cannot run incrementally, so each micro-batch
    executes the BATCH plan against the static index (packed shards
    stay persisted across batches) inside ``foreachBatch`` — the
    standard pattern for stream-static work the engine can't express
    natively. ``sink(result_df, batch_id)`` receives each batch's
    results; per-query output is independent of batching (same rows as
    the batch search), with the usual foreachBatch idempotence caveats
    on retries.

    Returns the started ``StreamingQuery``.
    """
    if sink is None:
        raise ValueError("sink(result_df, batch_id) callback is required")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        fn = index.search_pq if use_pq else index.search
        sink(fn(batch_df, k, nprobe=nprobe), batch_id)

    w = query_stream.writeStream.foreachBatch(process)
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.trigger(**(trigger or {"availableNow": True})).start()
