"""PySpark worker daemon that re-reads a zip on ``sys.path`` only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``). That asks every
``zipimporter`` in ``sys.path_importer_cache`` to re-read its archive's central
directory in pure Python. The workers import pyspark itself from
``pyspark.zip`` (1,328 entries), through about 20 importers, one per imported
subpackage: about 230 ms of CPU per task on a 4-vCPU host, even on a reused
worker, before the task reads its first row.

This module wraps ``zipimporter.invalidate_caches`` so that an archive is
re-read only when its ``(st_ino, st_size, st_mtime_ns)`` differs from the last
read, then runs the stock ``pyspark.daemon.manager()``. Workers are forked from
the daemon and inherit the wrapper. An archive rewritten in place or replaced
is still re-read, so import semantics do not change. Selected by
``spark.python.daemon.module`` (see ``session.get_spark``).
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stamp at its last read; per process, like zipimport's own
# ``_zip_directory_cache`` that it guards
_read_at: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _reread(self)  # gone: drops the cached directory
        return
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_at.get(self.archive) == stamp:
        # another importer on the same archive may have read it since
        self._files = files
        return
    # stat before reading: a rewrite racing the read leaves an older stamp,
    # so the next call reads again
    _reread(self)
    _read_at[self.archive] = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
