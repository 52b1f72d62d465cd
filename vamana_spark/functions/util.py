"""Small physical-plan helpers shared by operators."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def assign_ordinals(
    df: DataFrame,
    order_col: str = "vec_id",
    out_col: str = "ordinal",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 0-based ordinals by ascending ``order_col`` — distributed.

    The naive ``row_number() OVER (ORDER BY ...)`` (an empty-frame global
    window) funnels EVERY row through one task, which made it the build
    path's scale bottleneck. This is the partition-offset scheme
    instead:

    1. ``repartitionByRange`` + ``sortWithinPartitions`` — a normal range
       shuffle; partition p holds a contiguous, sorted slice.
    2. One cheap counting job: rows per partition (map-side partial count,
       ~num_partitions rows to the driver).
    3. One ``mapInPandas`` pass adds ``offset[pid] + local position`` —
       Arrow-vectorized, zero additional shuffle, order within a partition
       preserved by sequential batch iteration.

    The range-partitioned input is cached so the counting job and the
    assignment job see identical partition placement (range boundaries
    come from sampling; caching pins them). The cache is unpersisted by
    callers once the build materializes.
    """
    spark = df.sparkSession
    # Contiguous-id fast path: when order_col is unique and
    # contiguous ([min..max] with no gaps — the common dense-id shape of
    # ML corpora and every test SF), the ordinal IS ``order_col - min``
    # and no shuffle of the rows is needed at all. The proof costs one
    # aggregate job over the key column alone (map-side partials + a
    # narrow distinct shuffle of 8-byte ids) — the range path below
    # costs a sampling job plus a full range SHUFFLE OF THE ROWS (the
    # embedding payload: decide with the small key column, move the heavy
    # rows zero times) plus the counting job. Output is identical:
    # dense 0-based ordinals by ascending order_col.
    probe = df.agg(
        F.min(order_col).alias("_mn"),
        F.max(order_col).alias("_mx"),
        F.count(order_col).alias("_n"),
        F.countDistinct(order_col).alias("_nd"),
    ).first()
    n = int(probe["_n"] or 0)
    if n and int(probe["_nd"]) == n and (
        int(probe["_mx"]) - int(probe["_mn"]) + 1 == n
    ):
        lo = int(probe["_mn"])
        out = df.withColumn(
            out_col, (F.col(order_col) - F.lit(lo)).cast("long")
        )
        # keep the local-mode parallelism contract of the shuffle path
        # (a single-split file must not serialize the downstream build);
        # on multi-split layouts this is a no-op plan inspection
        return ensure_parallelism(out)
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    part = (
        df.repartitionByRange(n_part, F.col(order_col).asc())
        .sortWithinPartitions(order_col)
        .cache()
    )
    counts = (
        part.groupBy(F.spark_partition_id().alias("_pid")).count().collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[int(row["_pid"])] = acc
        acc += int(row["count"])
    bc = spark.sparkContext.broadcast(offsets)
    # StructType.add mutates in place — never call it on a live DataFrame's
    # cached schema; build a fresh copy
    out_schema = T.StructType(
        list(part.schema.fields) + [T.StructField(out_col, T.LongType())]
    )

    def add_ordinals(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        pos = bc.value.get(pid, 0)
        for pdf in batches:
            pdf[out_col] = np.arange(pos, pos + len(pdf), dtype=np.int64)
            pos += len(pdf)
            yield pdf

    return part.mapInPandas(add_ordinals, schema=out_schema)


def bytes_conf(spark, key: str, default: int) -> int:
    """Parse a Spark size conf ("10485760", "10MB", "-1") to bytes."""
    try:
        raw = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("b", 1)):
        if raw.endswith(suf):
            raw, mult = raw[: -len(suf)], m
            break
    try:
        return int(float(raw) * mult)
    except ValueError:
        return default


def plan_row_count(df: DataFrame) -> int | None:
    """Catalyst's row count for the plan, or None when it does not know
    it (file scans without table statistics) or the JVM call fails. Free:
    no Spark job. Defined for the LocalRelation that
    ``createDataFrame(pandas)`` produces."""
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        return int(rc.get()) if rc.isDefined() else None
    except Exception:
        return None


def ensure_parallelism(
    df: DataFrame,
    min_factor: float = 0.5,
    min_rows_per_task: int | None = None,
) -> DataFrame:
    """Round-robin repartition when the input has too few partitions for
    the cluster's cores.

    Small local files arrive as 1 split, serializing CPU-heavy derivations
    (shingling, hashing) onto one core. On a real cluster a 100-TB table
    already has thousands of splits and this is a no-op — the check costs
    one plan inspection, no job.

    Row-count fan-out: when ``min_rows_per_task`` is given and Catalyst
    knows the row count (:func:`plan_row_count`), the input gets
    ``min(defaultParallelism, ceil(rows / min_rows_per_task))``
    partitions. More partitions than that are merged with ``coalesce``
    (narrow, no shuffle); fewer are round-robin repartitioned. Every
    Python task pays a fixed CPU cost before its first row: ~0.07 s per
    task, measured on a 4-core VM with PySpark 4.1 and Python 3.11 as
    the CPU of an empty 4-task ``mapInPandas`` stage over 10k rows less
    the same stage without Python. On Python < 3.13 the stock cost is
    0.28 s, most of it ``importlib.invalidate_caches()`` in the worker's
    ``setup_spark_files``, which re-reads the directory of every zip and
    jar importer on the worker's path; importing ``vamana_spark`` on a
    worker skips those re-reads while the archives are unchanged
    (``vamana_spark._zipcache``), so only a worker's first two tasks pay
    them. A batch of a few hundred rows is still cheaper in one or two
    tasks than spread over every core.
    When the row count is unknown, or the lookup fails, the rule above
    applies.
    """
    if df.isStreaming:
        # no RDD inspection on streams; micro-batch parallelism comes
        # from the source's own splits
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    parts = df.rdd.getNumPartitions()
    rows = plan_row_count(df) if min_rows_per_task else None
    if rows is not None:
        want = max(1, min(target, -(-rows // min_rows_per_task)))
        if parts > want:
            return df.coalesce(want)
        return df.repartition(want) if parts < want else df
    if parts < max(2, int(target * min_factor)):
        return df.repartition(target)
    return df
