"""The stat-guarded zip-importer refresh (tsp_spark/zipimport_guard.py):
an unchanged archive is not re-read by ``importlib.invalidate_caches()``,
a rewritten one is, and the guard is live in Spark's Python workers but
not on the driver."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf

import tsp_spark
from tsp_spark import zipimport_guard


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 refreshes zip importers lazily"
)
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "zg.zip")
    modules = {
        "zgpkg/__init__.py": "",
        "zgpkg/sub/__init__.py": "",
        "zgpkg/sub/a.py": "X = 1\n",
    }
    _write_zip(archive, modules)
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    # setattr records the unguarded method and restores it at teardown
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setenv("SPARK_REUSE_WORKER", "1")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zgpkg.sub.a").X == 1
        assert zipimport_guard.install_zip_refresh_guard()
        assert zipimport_guard.install_zip_refresh_guard()  # idempotent

        importlib.invalidate_caches()  # the first refresh records the stat
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {**modules, "zgpkg/sub/b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads
        assert importlib.import_module("zgpkg.sub.b").Y == 2
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zgpkg"]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def test_guard_is_installed_in_workers_not_on_driver(spark):
    @pandas_udf("boolean")
    def worker_guarded(ids: pd.Series) -> pd.Series:
        # unpickling this UDF imports tsp_spark in the worker, as
        # unpickling the engine's stateful kernel does
        assert tsp_spark.__version__
        on = getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)
        return pd.Series([on] * len(ids))

    got = spark.range(8).repartition(4).select(worker_guarded("id")).collect()
    assert {r[0] for r in got} == {True}
    assert not getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)
