"""The engine's Python worker daemon (crawler_spark/worker_daemon.py).

Before CPython 3.12 the worker's per-task ``importlib.invalidate_caches()``
re-reads pyspark.zip's directory once per zipimporter, ~0.2 s of CPU
per task. With the daemon a reused worker keeps the directory object
across tasks, and an archive that is rewritten is still re-read.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from crawler_spark import worker_daemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimporter.invalidate_caches no longer re-reads eagerly",
)


def test_reused_worker_keeps_pyspark_zip_directory(spark):
    def probe(it):
        # runs in a Python worker: stash this task's pyspark.zip
        # directory and compare it with the one the worker's previous
        # task stashed (-1: first task in this worker)
        import os
        import sys
        import zipimport

        key = next(
            (k for k in zipimport._zip_directory_cache if k.endswith("pyspark.zip")),
            None,
        )
        files = zipimport._zip_directory_cache.get(key) if key else None
        prev = getattr(sys, "_probe_zip_directory", None)
        sys._probe_zip_directory = files
        for _ in it:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "zip": [key is not None],
            "same": [-1 if prev is None or files is None else int(prev is files)],
        })

    rows = []
    for _ in range(4):
        rows += (
            spark.range(8, numPartitions=2)
            .mapInPandas(probe, schema="pid long, zip boolean, same int")
            .collect()
        )
    if not any(r.zip for r in rows):
        pytest.skip("workers do not import pyspark from pyspark.zip")
    later = [r.same for r in rows if r.same != -1]
    assert later, f"no worker ran two tasks: {rows}"
    assert later == [1] * len(later), rows


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    arc = str(tmp_path / "probe_pkg.zip")
    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("zd_old.py", "X = 1\n")
    monkeypatch.syspath_prepend(arc)
    try:
        assert importlib.import_module("zd_old").X == 1
        imp = sys.path_importer_cache[arc]
        assert isinstance(imp, zipimport.zipimporter)

        worker_daemon.invalidate_caches(imp)  # no stamp yet: reads
        files = imp._files
        worker_daemon.invalidate_caches(imp)
        assert imp._files is files  # unchanged archive: same directory

        with zipfile.ZipFile(arc, "a") as z:  # new member, new size
            z.writestr("zd_new.py", "Y = 2\n")
        worker_daemon.invalidate_caches(imp)
        assert imp._files is not files
        assert "zd_new.py" in imp._files
        assert importlib.import_module("zd_new").Y == 2
    finally:
        for name in ("zd_old", "zd_new"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(arc, None)
        zipimport._zip_directory_cache.pop(arc, None)
        worker_daemon._stamps.pop(arc, None)
