"""Python worker entry point for engine-built Spark sessions.

``engine.session.get_spark`` names this module in
``spark.python.worker.module`` (PySpark's daemon only accepts a worker
module whose name starts with ``pyspark``) and puts this directory, and
nothing else of the repo, on the workers' ``PYTHONPATH``; ``engine/``
itself must stay off it because ``engine/io.py`` would shadow stdlib
``io``.

Why: PySpark's worker calls ``importlib.invalidate_caches()`` before
every task (``pyspark.worker_util.setup_spark_files``). On Python < 3.12
that makes every ``zipimporter`` the worker holds re-parse its archive's
central directory in pure Python. A worker holds one importer per
package directory of ``pyspark.zip`` (about 16), and one parse of that
zip's 1,328 entries costs about 6 ms of CPU (Python 3.11, 4-core x86-64
box), so every Python/Arrow task paid about 0.1 s before running any UDF
code. CPython 3.12 made the re-read lazy; here, on older interpreters,
``zipimport.zipimporter.invalidate_caches`` is wrapped once, at import,
so that it re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from the stamp taken before its last read. The stamp is kept
per archive path, like zipimport's own directory cache, so the importers
of one zip share one read. A zip rewritten on disk is still re-read.
On 3.12 and later the module changes nothing.

The worker itself is ``pyspark.worker.main``, re-exported unchanged.
"""

from __future__ import annotations

import os
import sys
import zipimport

if sys.version_info < (3, 12):
    _reread = zipimport.zipimporter.invalidate_caches
    # archive path -> (st_mtime_ns, st_size) taken just before the read
    # whose result is in zipimport._zip_directory_cache
    _read_at: dict[str, tuple[int, int]] = {}

    def _stamp(path: str) -> tuple[int, int] | None:
        try:
            st = os.stat(path)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def invalidate_caches(self) -> None:
        """Reload the archive's file data only if the archive changed."""
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
            self._files = files
            return
        _reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _read_at[self.archive] = stamp
        else:
            _read_at.pop(self.archive, None)

    invalidate_caches.__wrapped__ = _reread
    zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    # non-daemon workers (spark.python.use.daemon=false) are started as
    # ``python -m <worker module>``: run pyspark.worker's own entry point
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
else:
    from pyspark.worker import main  # noqa: F401 — the daemon's worker_main
