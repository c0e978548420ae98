"""The Python worker daemon's zipimport guard (``_pydaemon``).

Spark-free tests check the guard itself on a temporary zip on
``sys.path``; a Spark test checks that it lives in the workers only; a
subprocess test checks that the daemon resolves from any working
directory and that a daemon which cannot start fails loud.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from open_source_etl_spark import _pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STOCK = zipimport.zipimporter.invalidate_caches


def _is_stock(fn) -> bool:
    return fn.__module__ == "zipimport" and fn.__qualname__ == "zipimporter.invalidate_caches"


BASE = {"pd_guard_a": "X = 1\n", "pd_guard_c": "W = 4\n"}


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture()
def zipped(tmp_path, monkeypatch):
    """A zip holding ``pd_guard_a`` (imported) and ``pd_guard_c`` (not) on
    sys.path, guard installed; yields (archive, its importer, the archives
    ``_read_directory`` read).  Restores the stock method, sys.path and the
    import caches after, so no other test sees the guard."""
    assert _is_stock(STOCK)
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, BASE)
    sys.path.insert(0, archive)
    stock_read = zipimport._read_directory
    reads: list[str] = []

    def counted(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    try:
        importlib.import_module("pd_guard_a")
        _pydaemon.install()
        yield archive, sys.path_importer_cache[archive], reads
    finally:
        zipimport.zipimporter.invalidate_caches = STOCK
        _pydaemon._reads.clear()
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("pd_guard_a", "pd_guard_b", "pd_guard_c"):
            sys.modules.pop(name, None)
    assert _is_stock(zipimport.zipimporter.invalidate_caches)


def test_unchanged_archive_is_not_reread(zipped):
    archive, importer, reads = zipped
    importlib.invalidate_caches()  # first invalidation reads and records
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
        importer.invalidate_caches()
    assert archive not in reads
    assert "pd_guard_a.py" in importer._files


@pytest.mark.parametrize("change", ["grow", "touch"])
def test_changed_archive_is_reread(zipped, change):
    archive, importer, reads = zipped
    importlib.invalidate_caches()
    before = os.stat(archive)
    if change == "grow":  # rewritten with one more module: new size
        _write_zip(archive, {**BASE, "pd_guard_b": "Y = 2\n"})
    else:  # same bytes, only the mtime moves
        os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    if change == "grow":
        assert importlib.import_module("pd_guard_b").Y == 2
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads


def test_deleted_archive_behaves_as_stock(zipped, tmp_path):
    archive, importer, _ = zipped
    importlib.invalidate_caches()
    twin = str(tmp_path / "twin.zip")
    _write_zip(twin, {"pd_guard_twin": "Z = 3\n"})
    stock_importer = zipimport.zipimporter(twin)
    os.remove(archive)
    os.remove(twin)
    importer.invalidate_caches()
    STOCK(stock_importer)
    assert importer._files == stock_importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    assert twin not in zipimport._zip_directory_cache
    assert archive not in _pydaemon._reads
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("pd_guard_c")


def test_guard_lives_in_workers_only(spark):
    def _zip_reads_in_task(batches):
        """mapInPandas body: count ``_read_directory`` calls one
        ``importlib.invalidate_caches()`` makes inside a warm worker."""
        import importlib
        import zipimport

        import pandas as pd
        import pyspark

        stock_read = zipimport._read_directory
        calls = []

        def counted(path):
            calls.append(path)
            return stock_read(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(calls)], "pyspark": [pyspark.__file__]})

    df = spark.range(1, numPartitions=1)
    schema = "reads long, pyspark string"
    # the second task runs in a worker that has invalidated its caches before
    second = [df.mapInPandas(_zip_reads_in_task, schema).collect()[0] for _ in range(2)][1]
    assert second.reads == 0, second
    # the fix did not work by moving pyspark off its archive
    assert os.path.join("pyspark.zip", "pyspark") in second.pyspark
    assert _is_stock(zipimport.zipimporter.invalidate_caches)


_FROM_ANY_CWD = """
import sys
sys.path.insert(0, {repo!r})
from open_source_etl_spark.conf import EngineConfig
from open_source_etl_spark.session import build_session

spark = build_session(EngineConfig(master="local[2]", shuffle_partitions=2))
print("rows", spark.range(8, numPartitions=2).mapInPandas(lambda it: it, "id long").count())
spark.stop()

bad = "open_source_etl_spark._no_such_daemon"
spark = build_session(EngineConfig(master="local[1]", extra={{"spark.python.daemon.module": bad}}))
try:
    spark.range(1).mapInPandas(lambda it: it, "id long").count()
except Exception as exc:
    print("bad daemon named", bad in str(exc))
else:
    print("bad daemon ran")
spark.stop()
"""


def test_daemon_resolves_from_any_working_directory(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        [sys.executable, "-c", _FROM_ANY_CWD.format(repo=REPO)],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert "rows 8" in lines, proc.stderr[-3000:]
    assert "bad daemon named True" in lines, proc.stdout
