"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` / ``oracle_sql()`` — the declared oracle query set; the
implementation registry lives in ``vamana_spark.plans.declared``
(SURVEY.md §2c maps each query to the reference operator it covers).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _configure(spark: SparkSession) -> SparkSession:
    """Session conf the engine relies on (idempotent, driver-safe)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # may be static in some sessions; events loader also copes
    from vamana_spark.session import _ship_package

    _ship_package(spark)
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact kNN (R14) over sf0.001 embeddings — crossJoin +
    per-query window top-k, fully Catalyst-planned."""
    from vamana_spark.plans.declared import q_knn_exact

    return q_knn_exact(_configure(spark), "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from vamana_spark.plans.declared import QUERIES

    return {
        name: (lambda spark, sf_dir, _fn=fn: _fn(_configure(spark), sf_dir))
        for name, fn in QUERIES.items()
    }


def oracle_sql() -> dict[str, str]:
    from vamana_spark.plans.declared import ORACLE_SQL

    return dict(ORACLE_SQL)
