"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# local-mode driver heap: this share of host RAM, within [1 GB, 16 GB]. In
# local mode the Python workers and the JVM's off-heap memory sit outside
# the heap, so it takes well under the whole machine. The fraction is a
# chosen value, not a measured one.
DRIVER_MEM_FRACTION = 0.25
DRIVER_MEM_MIN_MB = 1024
DRIVER_MEM_MAX_MB = 16 * 1024


def host_defaults() -> tuple[str, str]:
    """(local cores, driver memory) for a session on this host.

    ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` override; else
    the cores this process may run on and ``DRIVER_MEM_FRACTION`` of
    physical RAM, clamped to [``DRIVER_MEM_MIN_MB``,
    ``DRIVER_MEM_MAX_MB``]."""
    if hasattr(os, "sched_getaffinity"):
        cpus = len(os.sched_getaffinity(0))
    else:
        cpus = os.cpu_count() or 1
    try:
        mem_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        mem_bytes = 0
    mem_mb = int(mem_bytes * DRIVER_MEM_FRACTION) >> 20
    mem_mb = min(DRIVER_MEM_MAX_MB, max(DRIVER_MEM_MIN_MB, mem_mb))
    return (
        os.environ.get("SPARK_GRAFT_CPUS") or str(cpus),
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{mem_mb}m",
    )


def get_session(
    app_name: str = "vamana_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Local-mode tuned session. On a real cluster the master/memory knobs
    come from spark-submit; only the SQL confs below matter there.

    - Cores and driver memory fit the host (:func:`host_defaults`).
    - AQE on: runtime coalescing + skew-join splitting.
    - shuffle.partitions sized to cores in local mode (not the 200
      default, which makes 32-core local runs pay 6x task overhead).
    - ``nanosAsLong``: the events table stores TIMESTAMP(NANOS), which
      vanilla Spark refuses; we read ns-as-long and convert on load
      (sources.tables.load_table).
    """
    # SPARK_GRAFT_DRIVER_MEM (read in host_defaults) lets CLI invocations
    # (whose JVM starts inside get_session — no spark-submit to set it)
    # size the local driver for 10M+ corpora; explicit argument still wins
    cpus, host_mem = host_defaults()
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or cpus)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory or host_mem)
    )
    s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    _ship_package(s)
    return s


_SHIPPED_APPS: set = set()
_SHIP_LOCK = threading.Lock()


def _ship_package(spark: SparkSession) -> None:
    """Make ``vamana_spark`` importable on Python workers regardless of
    the driver's cwd: zip the installed package and addPyFile it
    (idempotent per application, thread-safe: a concurrent first call —
    e.g. sessions obtained from a driver thread pool, guide §2.6 —
    used to race the zip write + addPyFile into an 'exists and does
    not match contents' failure). Without this, any mapInPandas
    closure defined inside the package fails to unpickle on workers
    when the driver runs from a foreign directory."""
    app = spark.sparkContext.applicationId
    if app in _SHIPPED_APPS:
        return
    with _SHIP_LOCK:
        if app in _SHIPPED_APPS:
            return
        import shutil
        import tempfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        tmp = tempfile.mkdtemp(prefix="vamana_spark_pyfiles_")
        base = os.path.join(tmp, "vamana_spark_pkg")
        shutil.make_archive(
            base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir="vamana_spark"
        )
        spark.sparkContext.addPyFile(base + ".zip")
        _SHIPPED_APPS.add(app)
