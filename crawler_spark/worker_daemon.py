"""Python worker daemon for the engine's Spark sessions.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so
Spark starts each executor's daemon as ``python -m
crawler_spark.worker_daemon`` and forks every Python worker from it.
What ``main`` installs holds in those workers and nowhere else.

At the start of every task the worker calls
``importlib.invalidate_caches()`` (pyspark ``worker_util.setup_spark_files``).
Before CPython 3.12 that makes each ``zipimporter`` re-read its
archive's whole central directory. A worker holds one zipimporter per
pyspark package it imported from ``pyspark.zip`` (14-16 of them over
1,328 entries) and one over the spark-core jar Spark also puts on the
worker path (5,359 entries): 0.15-0.24 s of CPU per task before the
UDF sees a row. ``invalidate_caches`` below re-reads an archive only
when no directory is cached or the archive's ``(st_mtime_ns, st_size)``
differs from the stamp this process took at its last read; otherwise it
rebinds the importer to the cached directory. A rewritten archive is
re-read. ``main`` stamps the archives once in the daemon, before any
worker forks.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    files = zipimport._zip_directory_cache.get(self.archive)
    # stamp before the read: a rewrite during it leaves a stale stamp,
    # so the next call reads again
    stamp = _stamp(self.archive)
    if files is not None and stamp is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


def main() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    # stamp the archives the daemon's imports opened, so that forked
    # workers inherit stamps and directories and no first task re-reads
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
