"""Canonical table loaders for the test-data star schema + pipeline tables.

Centralizes the one genuine source-level quirk: ``events.ts`` has shipped
in two physical forms across data regenerations — Parquet TIMESTAMP(NANOS)
(readable only as an ns-long via ``spark.sql.legacy.parquet.nanosAsLong``)
and plain ``timestamp[us]`` with ``isAdjustedToUTC=false`` (read by Spark
4 as TIMESTAMP_NTZ). The loader normalizes BOTH to a regular session-tz
timestamp so downstream operators see one stable type; exact because the
session tz is pinned to UTC. Everything else is a plain columnar Parquet
scan that Catalyst prunes/pushes into.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            # TIMESTAMP(NANOS) read as ns-long under nanosAsLong
            df = df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        elif isinstance(dt, T.TimestampNTZType):
            # Parquet timestamp[us] with isAdjustedToUTC=false → TIMESTAMP_NTZ;
            # exact under the UTC session tz set at session configure time
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if name == "embeddings":
        # same schema-drift class as events.ts (the r3 breakage): if a
        # data regeneration ships the vector as array<double> (or the id
        # as int32), every downstream float32 kernel would throw — pin
        # the logical types here, once
        et = df.schema["embedding"].dataType
        if isinstance(et, T.ArrayType) and not isinstance(
            et.elementType, T.FloatType
        ):
            df = df.withColumn("embedding", F.col("embedding").cast("array<float>"))
        if not isinstance(df.schema["vec_id"].dataType, T.LongType):
            df = df.withColumn("vec_id", F.col("vec_id").cast("long"))
    return df

