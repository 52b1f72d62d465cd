"""SQ8 quantization: reconstruction bounds, code range, ranking recall.
PQ/OPQ are tested on the index that serves them (test_partitioned.py)
and at array level (test_kernels_property.py)."""

import pytest
from pyspark.sql import functions as F

from vamana_spark import exact
from vamana_spark.operators import quantization as qz


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    df.count()
    return df


def _dim(df):
    return len(df.select("embedding").first()[0])


def _queries(df, mod=50):
    return df.where(F.col("vec_id") % mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _recall(approx, truth):
    hits = truth.select("query_id", "vec_id").intersect(
        approx.select("query_id", "vec_id")
    )
    return hits.count() / truth.count()


def test_sq_roundtrip_error_bounded(emb):
    dim = _dim(emb)
    codes, bounds = qz.scalar_quantize(emb, dim)
    deq = qz.scalar_dequantize(codes, bounds)
    mns, mxs = bounds
    half_step = max((mx - mn) if mx > mn else 1.0 for mn, mx in zip(mns, mxs)) / 255 / 2
    joined = emb.select("vec_id", F.col("embedding").alias("orig")).join(deq, "vec_id")
    err = joined.select(
        F.max(
            F.aggregate(
                F.zip_with("orig", "embedding", lambda a, b: F.abs(a.cast("double") - b)),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            )
        ).alias("e")
    ).first().e
    assert err <= half_step + 1e-9


def test_sq_codes_in_byte_range(emb):
    dim = _dim(emb)
    codes, _ = qz.scalar_quantize(emb, dim)
    row = codes.select(
        F.min(F.array_min("codes")).alias("lo"), F.max(F.array_max("codes")).alias("hi")
    ).first()
    assert row.lo >= 0 and row.hi <= 255


def test_sq_knn_high_recall(emb):
    dim = _dim(emb)
    q = _queries(emb)
    truth = exact.exact_knn(emb, q, k=10)
    approx = qz.sq_knn(emb, q, k=10, dim=dim)
    assert _recall(approx, truth) >= 0.9
