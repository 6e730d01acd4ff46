"""The zip-archive import-cache guard (``kt_sql_hbase_ex_spark.worker_imports``).

Every Spark Python-worker invocation flushes the import caches; on
CPython 3.11 that re-reads the directory of every zip archive on the
import path (pyspark.zip among them). The guard re-reads an archive
only when it changed on disk — these tests pin both halves of that:
unchanged archives are read at most once, changed ones are re-read —
and that the KV connector's planner and task workers run guarded."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import kt_sql_hbase_ex_spark  # noqa: F401  (installs the guard)
from kt_sql_hbase_ex_spark import worker_imports
from kt_sql_hbase_ex_spark.sources.kvstore import (
    FORMAT_NAME,
    KVDataSource,
    KVScanReader,
    _open_store,
)


def _write_zip(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zguard/__init__.py", "")
        z.writestr("zguard/sub/__init__.py", "")
        z.writestr("zguard/sub/mod.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip holding a package with a subpackage, on ``sys.path`` and
    imported; every trace of it is dropped from the import system after."""
    archive = str(tmp_path / "zguard.zip")
    _write_zip(archive, "one")
    monkeypatch.syspath_prepend(archive)
    import zguard.sub.mod

    assert zguard.sub.mod.VALUE == "one"
    yield archive
    for name in [m for m in sys.modules if m == "zguard" or m.startswith("zguard.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch, archive) -> list:
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_guard_is_installed_once():
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded._ktsql_guard
    worker_imports.install()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_unchanged_archive_is_read_at_most_once(zip_pkg, monkeypatch):
    importers = [
        f
        for k, f in sys.path_importer_cache.items()
        if k.startswith(zip_pkg) and isinstance(f, zipimport.zipimporter)
    ]
    # one importer per package directory of the archive: unguarded,
    # each of them re-reads the whole archive on every flush
    assert len(importers) >= 3
    reads = _count_reads(monkeypatch, zip_pkg)
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) <= 1
    # the importers still resolve the archive's modules
    assert all(f._files is zipimport._zip_directory_cache[zip_pkg] for f in importers)


@pytest.mark.parametrize("how", ["replace", "in_place"])
def test_changed_archive_is_reread(zip_pkg, tmp_path, how):
    importlib.invalidate_caches()  # the guard has now seen the archive
    if how == "replace":
        staged = str(tmp_path / "staged.zip")
        _write_zip(staged, "two, rewritten")
        os.replace(staged, zip_pkg)
    else:
        _write_zip(zip_pkg, "two, rewritten in place")
    importlib.invalidate_caches()
    del sys.modules["zguard.sub.mod"]
    import zguard.sub.mod

    assert zguard.sub.mod.VALUE.startswith("two, rewritten")


# -- the KV connector's Python workers run guarded ---------------------------


def _report(probe_dir: str, phase: str) -> None:
    """Record, from inside a Python worker, how many archive reads the
    guard has skipped in this process: > 0 only if this invocation's
    import-cache flush already ran guarded."""
    import time

    name = f"{phase}-{os.getpid()}-{time.monotonic_ns()}"
    with open(os.path.join(probe_dir, name), "w") as f:
        f.write(str(worker_imports.skipped_reads))


class _ProbeReader(KVScanReader):
    probe_dir = ""

    def pushFilters(self, filters):
        _report(self.probe_dir, "planner")
        return super().pushFilters(filters)

    def read(self, partition):
        _report(self.probe_dir, "task")
        return super().read(partition)


class _ProbeSource(KVDataSource):
    """The KV connector, reporting from its planner and task workers."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME + "_guard_probe"

    def reader(self, schema):
        reader = _ProbeReader(_open_store(self.options), schema)
        reader.probe_dir = self.options["probeDir"]
        return reader


def test_kv_scan_workers_run_guarded(spark, sf_small, tmp_path):
    from kt_sql_hbase_ex_spark.sources.kvstore import (
        customer_store_options,
        register_kv_source,
    )

    register_kv_source(spark)  # also enables Python filter pushdown
    probe_dir = tmp_path / "probe"
    probe_dir.mkdir()
    spark.dataSource.register(_ProbeSource)
    opts = dict(
        customer_store_options(sf_small),
        probeDir=str(probe_dir),
        storeRoot=str(tmp_path / "state"),
    )
    view = spark.read.format(_ProbeSource.name()).options(**opts).load()
    view.createOrReplaceTempView("kv_guard_probe")
    query = "SELECT c_custkey FROM kv_guard_probe WHERE c_custkey BETWEEN 10 AND 60"

    def reports():
        got = {"planner": [], "task": []}
        for name in os.listdir(probe_dir):
            with open(probe_dir / name) as f:
                got[name.split("-")[0]].append(int(f.read()))
            os.remove(probe_dir / name)
        return got

    for _ in range(2):  # the first scan starts (or reuses) the workers
        rows = spark.sql(query).collect()
        assert sorted(r.c_custkey for r in rows) == list(range(10, 61))
        seen = reports()
    # the second scan's planner and task invocations ran guarded
    assert seen["planner"] and seen["task"]
    assert max(seen["planner"]) > 0 and max(seen["task"]) > 0, seen
