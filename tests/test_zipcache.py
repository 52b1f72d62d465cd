"""Stamp-checked zipimporter.invalidate_caches on PySpark workers."""

import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.core.files import SparkFiles

from vamana_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ zipimport already drops the cache lazily"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def patched(monkeypatch):
    """Count ``_read_directory`` calls; restore the stock method after."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads = []
    stock = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, patched):
    path = tmp_path / "mods.zip"
    _write_zip(path, ["m1"])
    imp = zipimport.zipimporter(str(path))
    patched.clear()  # the constructor's own read
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    assert _zipcache.install()
    assert not _zipcache.install()  # already in place

    imp.invalidate_caches()  # first call per importer delegates
    assert patched == [str(path)]
    imp.invalidate_caches()
    assert patched == [str(path)]

    _write_zip(path, ["m1", "m2"])  # larger archive: the stamp changes
    imp.invalidate_caches()
    assert patched == [str(path)] * 2
    spec = imp.find_spec("m2")
    mod = type(sys)("m2")
    spec.loader.exec_module(mod)
    assert mod.NAME == "m2"


def test_driver_keeps_stock_method(monkeypatch, patched):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    assert not _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_worker_task_skips_unchanged_archives(spark):
    """On a real worker the second invalidate_caches() in one task reads
    no zip directory, though the worker holds zip importers."""
    from vamana_spark.session import _ship_package

    _ship_package(spark)

    def probe(batches):
        import importlib

        import vamana_spark  # noqa: F401  (installs the patch)

        for _ in batches:
            pass
        held = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        reads = []
        stock = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or stock(p)
        try:
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        yield pd.DataFrame({"held": [held], "first": [first], "second": [len(reads) - first]})

    row = spark.range(1, numPartitions=1).mapInPandas(
        probe, "held long, first long, second long"
    ).first()
    assert row.held > 0 and row.second == 0, row


def test_worker_imports_zip_added_mid_session(spark, tmp_path):
    name = f"vz_probe_{uuid.uuid4().hex[:8]}"
    path = tmp_path / f"{name}.zip"
    _write_zip(path, [name])
    spark.sparkContext.addPyFile(str(path))

    def load(batches):
        import importlib

        import vamana_spark  # noqa: F401

        mod = importlib.import_module(name)
        for pdf in batches:
            yield pdf.assign(name=mod.NAME)

    rows = spark.range(4, numPartitions=2).mapInPandas(load, "id long, name string").collect()
    assert sorted(r.id for r in rows) == [0, 1, 2, 3]
    assert {r.name for r in rows} == {name}
