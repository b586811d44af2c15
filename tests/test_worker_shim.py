"""The reused-worker shim (incubator_sedona_spark/_worker.py): the zip-index
guard re-reads an archive only when its file changed, ``install()`` does
nothing outside a Spark task, and inside one every task sees it installed."""

import gc
import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf

from incubator_sedona_spark import _worker


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


only_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="the guard is installed only where invalidate_caches re-reads eagerly",
)


@pytest.fixture
def reads(monkeypatch):
    """Guard installed on the zipimporter class; counts central-directory
    reads per archive."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        _worker._stamped(zipimport.zipimporter.invalidate_caches),
    )
    calls = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: calls.append(p) or real(p)
    )
    return calls


@only_eager_zipimport
def test_unchanged_archive_is_not_reread(tmp_path, reads):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"shim_mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    del reads[:]
    for _ in range(5):
        imp.invalidate_caches()
    # the first call stamps the importer (its index may predate the file)
    assert reads == [path]


@only_eager_zipimport
def test_rewritten_archive_is_reread_and_imports(tmp_path, reads, monkeypatch):
    path = str(tmp_path / "b.zip")
    _write_zip(path, {"shim_mod_b1": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module("shim_mod_b1").X == 1
    importlib.invalidate_caches()
    del reads[:]
    importlib.invalidate_caches()
    assert reads == []
    _write_zip(path, {"shim_mod_b1": "X = 1\n", "shim_mod_b2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [path]
    assert importlib.import_module("shim_mod_b2").Y == 2
    for m in ("shim_mod_b1", "shim_mod_b2"):
        sys.modules.pop(m, None)


def test_install_outside_a_task_changes_nothing():
    _worker.install()
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
    assert gc.get_freeze_count() == 0
    assert not _worker._installed


def test_install_in_a_task_is_idempotent(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    # restored at teardown, undoing the install below
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(_worker, "_installed", False)
    monkeypatch.setattr(_worker.TaskContext, "get", classmethod(lambda cls: object()))
    freezes = []
    monkeypatch.setattr(_worker.gc, "freeze", lambda: freezes.append(1))
    _worker.install()
    _worker.install()
    assert freezes == [1]
    if sys.version_info < (3, 13):
        assert zipimport.zipimporter.invalidate_caches.__wrapped__ is original


def test_installed_in_every_task(spark):
    @pandas_udf("long")
    def doubled_if_installed(x: pd.Series) -> pd.Series:
        import gc
        import sys
        import zipimport

        from incubator_sedona_spark import _worker as w

        guarded = sys.version_info >= (3, 13) or hasattr(
            zipimport.zipimporter.invalidate_caches, "__wrapped__"
        )
        ok = w._installed and guarded and gc.get_freeze_count() > 0
        return x * 2 if ok else x * 0 - 1

    df = spark.range(30_000, numPartitions=64)
    got = df.select(doubled_if_installed("id").alias("y")).agg({"y": "sum"}).first()[0]
    assert got == 2 * sum(range(30_000))
