"""The Python worker entry point of engine-built sessions
(``engine/pyworker/pyspark_graft_worker.py``): a zip on the import path
is re-read by ``importlib.invalidate_caches()`` only when it changed on
disk, and the ``get_spark`` session's workers really run that module."""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql.functions import pandas_udf

from engine.session import WORKER_DIR

WRAPPED = sys.version_info < (3, 12)


def test_worker_dir_holds_only_the_worker_module():
    # engine/ must stay off the workers' path (engine/io.py would shadow io)
    names = {n for n in os.listdir(WORKER_DIR) if n != "__pycache__"}
    assert names == {"pyspark_graft_worker.py"}


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    monkeypatch.syspath_prepend(WORKER_DIR)
    importlib.import_module("pyspark_graft_worker")
    invalidate = zipimport.zipimporter.invalidate_caches
    assert hasattr(invalidate, "__wrapped__") == WRAPPED
    assert invalidate.__module__ == ("pyspark_graft_worker" if WRAPPED else "zipimport")

    archive = str(tmp_path / "graft_probe.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("graft_probe_a.py", "X = 1\n")
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    mods = ("graft_probe_a", "graft_probe_b")
    try:
        assert importlib.import_module("graft_probe_a").X == 1
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        importlib.invalidate_caches()  # the importer's first refresh reads
        n = reads.count(archive)
        for _ in range(3):
            importlib.invalidate_caches()
        # unchanged archive: no re-read (3.12+ defers the read to the next lookup)
        assert reads.count(archive) == n

        # rewritten with a new size: re-read, and its new module imports
        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("graft_probe_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert importlib.import_module("graft_probe_b").Y == 2
        assert reads.count(archive) > n

        # same size, new mtime: re-read
        n = reads.count(archive)
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        importlib.util.find_spec("graft_probe_missing")  # lets 3.12+ do its lazy read
        assert reads.count(archive) > n
    finally:
        for m in mods:
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(archive, None)


def test_get_spark_workers_run_the_worker_module(spark):
    @pandas_udf("string")
    def invalidate_caches_in_worker(s: pd.Series) -> pd.Series:
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        return s.map(lambda _: f"{f.__module__}:{hasattr(f, '__wrapped__')}")

    got = {r[0] for r in spark.range(8).select(invalidate_caches_in_worker("id")).collect()}
    assert got == {"pyspark_graft_worker:True" if WRAPPED else "zipimport:False"}
