"""Stat-keyed zip-directory invalidation (mvt_wrangler_spark._zipimport).

`importlib.invalidate_caches()` runs at the start of every Python worker task;
these tests count how often it makes zipimport re-parse an archive directory.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from mvt_wrangler_spark import _zipimport


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding a package (so two zipimporters share one archive) on
    sys.path, plus a counter of directory reads of that archive."""
    archive = str(tmp_path / "zmods.zip")
    _write_zip(archive, {"zpkg/__init__.py": "", "zpkg/a.py": "A = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    sys.path.insert(0, archive)
    try:
        yield archive, reads
    finally:
        sys.path.remove(archive)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        for mod in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
            del sys.modules[mod]
        zipimport._zip_directory_cache.pop(archive, None)
        _zipimport._stamps.pop(archive, None)


def test_unchanged_zip_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("zpkg.a")
    _zipimport.install()  # stamps the directory that import just cached
    assert len(reads) == 1
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == 1


def test_rewritten_zip_is_reread_once(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("zpkg.a")
    importlib.invalidate_caches()  # stamps an archive cached before install()
    _write_zip(archive, {"zpkg/__init__.py": "", "zpkg/a.py": "A = 1\n",
                         "zpkg/b.py": "B = 2\n"})
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    assert importlib.import_module("zpkg.b").B == 2
    importlib.invalidate_caches()
    assert len(reads) == n + 1


def test_removed_zip_goes_through_original(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("zpkg.a")
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert archive not in _zipimport._stamps


def test_install_wraps_once():
    _zipimport.install()
    wrapped = zipimport.zipimporter.invalidate_caches
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert wrapped.stat_keyed


@pytest.mark.spark
def test_worker_task_rereads_no_zip(spark):
    """A worker that ran a library pandas UDF has the wrapper installed, and
    the per-task `invalidate_caches()` then re-reads no archive directory."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mvt_wrangler_spark.functions import cells as C

    pts = spark.range(64).select((F.col("id") * 0.5).alias("lat"),
                                 (F.col("id") * 1.5).alias("lon")).repartition(2)
    cells = pts.select(C.cells_column(F.col("lat"), F.col("lon")).alias("c"))
    assert len(cells.collect()) == 64

    def report(batches):
        for _ in batches:
            pass
        reads = []
        real_read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or real_read(path)
        try:
            importlib.invalidate_caches()  # stamps archives cached after install()
            reads.clear()
            for _ in range(3):  # what three more tasks would do
                importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        yield pd.DataFrame({
            "wrapped": [getattr(zipimport.zipimporter.invalidate_caches,
                                "stat_keyed", False)],
            "stamped": [len(_zipimport._stamps)],
            "rereads": [len(reads)],
        })

    rows = pts.mapInPandas(report, "wrapped boolean, stamped long, rereads long").collect()
    assert rows
    for r in rows:
        assert r.wrapped and r.stamped > 0 and r.rereads == 0, r
