"""Keep ``importlib.invalidate_caches()`` from re-reading unchanged zip archives.

Every PySpark Python-worker invocation — each Python task, and the
planner's ``create_data_source`` / ``data_source_pushdown_filters`` calls
of a Python Data Source — runs ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. On CPython 3.11 that
makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` (one
per imported package directory of an archive) re-read its archive's whole
central directory. With pyspark imported from
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries) that is 75-115 ms
per invocation on a 4-core host, paid again by every reused worker: about
600 ms of a warm 2,048-key KV range scan.

:func:`install` wraps ``zipimporter.invalidate_caches`` so an archive is
re-read only when its ``(st_ino, st_size, st_mtime_ns)`` differs from the
one seen at its last read; otherwise the importer takes the directory
already in ``zipimport._zip_directory_cache``. A new, rewritten or removed
archive is still re-read, so import semantics are unchanged. It runs when
the package is imported, which every worker that unpickles package code
does, so a fresh worker still pays the re-read once, on its first call.
"""

from __future__ import annotations

import os
import zipimport

#: archive reads the guard skipped in this process (observability: a
#: reused Python worker reports > 0)
skipped_reads = 0


def _stat_key(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Install the guard once per process (idempotent)."""
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_ktsql_guard", False):
        return
    reread = cls.invalidate_caches
    read_at: dict[str, tuple] = {}  # archive -> stat key taken before its last read

    def invalidate_caches(self) -> None:
        global skipped_reads
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            skipped_reads += 1
            return
        reread(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            read_at[self.archive] = key
        else:
            read_at.pop(self.archive, None)

    invalidate_caches._ktsql_guard = True
    cls.invalidate_caches = invalidate_caches
