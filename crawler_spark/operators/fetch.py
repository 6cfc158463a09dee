"""A4 — the vectorized fetch stage (image+caption payloads).

The reference fetches one URL per worker thread through requests /
Selenium (/root/reference/utils/http.py:244-408). Spark-side, fetching
is an Arrow-batched ``mapInPandas`` over the epoch's selected rows,
repartitioned by ``(host, salt)``:

* partitioning by host keeps a host's requests co-located (politeness
  already enforced count-wise by the F3/F8 slot cap);
* the salt (pmod(url_hash, S)) splits a hot host's slot allocation
  across S tasks so one 30 %-of-frontier domain can't serialize the
  stage — the explicit skew-splitting the north_rule asks for.

In this sandbox there is no network: the fetcher is the deterministic
synthetic one from :mod:`crawler_spark.fixtures` (same seed ⇒ same
bytes/caption, so PSNR/caption parity is checkable). A real HTTP
fetcher drops into the same seam — the UDF contract (pdf in, pdf out,
schema below) is the whole interface. Retry/backoff across epochs is
F7 (admission.retry_candidates); HTTP-level status comes back as a
column, per reference retry statuses {429,500,502,503,504}
(http.py:158-163).

User-agent rotation (F10): the reference picks ``random.choice`` of 6
UAs per request (http.py:30-37,191-198); nondeterminism is banned
here, so UA = UAS[url_hash % 6] — recorded deviation (SURVEY §7).
"""

from __future__ import annotations

from pathlib import Path
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fixtures as fx
from ..state.snapshots import FETCHED_SCHEMA

USER_AGENTS = 6  # reference ships 6 UA strings, http.py:30-37


def _fetch_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in it:
        n = len(pdf)
        if n == 0:
            continue
        uhs = pdf["url_hash"].to_numpy(dtype="int64")
        attempts = pdf["attempt"].to_numpy(dtype="int64")
        # status is closed-form from (hash, attempt) — vectorized
        fail_mask = (uhs % fx.FAIL_MOD) == 0
        fail_rounds = np.where(fail_mask, uhs % 3 + 1, 0)
        status = np.where(attempts <= fail_rounds, 503, 200).astype("int32")

        image_id, data, ws, hs, fmts, captions, phashes = (
            [], [], [], [], [], [], []
        )
        for uh, st in zip(uhs.tolist(), status.tolist()):
            if st == 200:
                p = fx.py_fetch_payload(uh)
                image_id.append(p["image_id"])
                data.append(p["bytes"])
                ws.append(p["w"])
                hs.append(p["h"])
                fmts.append(p["fmt"])
                captions.append(p["caption"])
                phashes.append(p["phash"])
            else:
                image_id.append(None)
                data.append(None)
                ws.append(None)
                hs.append(None)
                fmts.append(None)
                captions.append(None)
                phashes.append(None)
        out = pdf[["url_canon", "url_hash", "host", "depth", "parent_url", "attempt", "priority"]].copy()
        out["status"] = status
        out["image_id"] = image_id
        out["bytes"] = data
        out["w"] = pd.array(ws, dtype="Int32")
        out["h"] = pd.array(hs, dtype="Int32")
        out["fmt"] = fmts
        out["caption"] = captions
        out["phash"] = pd.array(phashes, dtype="Int64")
        out["ua_index"] = (uhs % USER_AGENTS).astype("int32")
        out["method"] = pdf["method"]
        yield out


def _prepare(selected: DataFrame, salt_buckets: int) -> DataFrame:
    """Shared fetch-input prep: method column (A6), salted-by-host
    repartition (skew split) into spark.sql.shuffle.partitions tasks,
    fixed input projection."""
    df = selected
    if "attempt" not in df.columns:
        df = df.withColumn("attempt", F.lit(1))
    if "priority" not in df.columns:
        df = df.withColumn("priority", F.lit(0))
    if "job_type" in df.columns:
        method = F.when(F.col("job_type") == "api", F.lit("POST")).otherwise(F.lit("GET"))
    else:
        method = F.lit("GET")
    df = df.withColumn("method", method)
    df = df.withColumn("__salt", F.pmod(F.col("url_hash"), F.lit(salt_buckets)).cast("int"))
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    df = df.repartition(nparts, "host", "__salt").drop("__salt")
    return df.select(
        "url_canon", "url_hash", "host", "depth", "parent_url", "attempt",
        "priority", "method"
    )


def fetch(selected: DataFrame, salt_buckets: int = 8) -> DataFrame:
    """Fetch the selected rows; salted-by-host repartition (skew split).

    A6 (http.py:410-466): ``method`` = POST for 'api'-type jobs, GET
    otherwise — the column rides the same UDF seam (a real HTTP
    fetcher dispatches requests.get/post on it)."""
    return _prepare(selected, salt_buckets).mapInPandas(
        _fetch_batches, schema=FETCHED_SCHEMA
    )


# ---------------------------------------------------------------------------
# Fused fetch + Python-side parquet write.
#
# The scaling attribution chain (BASELINE.md r5,
# evidence/scaling_probe_r5*.json)
# measured the payload-parquet WRITE as the widest per-core-efficiency gap
# in the epoch: the fetch UDF alone scales at the box's DRAM ceiling
# (0.68-0.88), adding the JVM writer drops it to 0.55-0.64. The JVM path
# pays Arrow->JVM columnar->UnsafeRow conversion and the JVM parquet
# writer; both are pure overhead for bytes that were just produced in the
# Python worker as Arrow buffers. This path writes each task's parquet
# file directly from the Python worker with pyarrow — the payload bytes
# never cross into the JVM at all; only a 1-row-per-task file manifest
# comes back. Commit protocol: each task writes part-<pid>.parquet via a
# temp name + atomic os.replace keyed by partition id, so a task retry
# converges to one complete file (content is deterministic per input
# split). On a real cluster this requires the store root on shared
# storage (HDFS/NFS/fuse) — the same contract Spark's file committer
# has; an object-store deployment would swap os.replace for a
# conditional PUT. ``write_payload`` is the driver-side half: it clears
# the destination, runs the plan and sweeps temps of killed attempts.
# A zero-row epoch leaves an empty directory: the store reads it with
# the declared FETCHED_SCHEMA, as zero rows.

#: ~32 MB row groups at the ~5 KB/row payload profile: each writer keeps
#: one group's buffers live, and 32 MB measured 14-19 % faster than the
#: 128 MB default at 8 concurrent writers (BASELINE.md r5).
ROWS_PER_GROUP = 6144


def fetch_write_plan(
    selected: DataFrame,
    dest: str,
    salt_buckets: int = 8,
    rows_per_group: int = ROWS_PER_GROUP,
) -> DataFrame:
    """Lazy plan that fetches ``selected`` AND writes the payload
    parquet from inside the Python workers (see module comment above).

    Returns the 1-row-per-task file-manifest DataFrame. Building it
    touches no file; run it with :func:`write_payload`."""

    def write_partition(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext
        from pyspark.sql.pandas.types import to_arrow_schema

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        attempt = ctx.attemptNumber() if ctx else 0
        schema = to_arrow_schema(FETCHED_SCHEMA)
        writer = None
        tmp = final = None
        rows = 0
        for out in _fetch_batches(it):
            tbl = pa.Table.from_pandas(
                out[schema.names], schema=schema, preserve_index=False
            )
            if writer is None:
                final = os.path.join(dest, f"part-{pid:05d}.parquet")
                # dot-prefixed temp name: Spark's file listing skips
                # "."/"_" files, so a killed attempt's leftover can
                # never be picked up as data by a later scan
                tmp = os.path.join(
                    dest, f".part-{pid:05d}-{attempt}.inprogress"
                )
                writer = pq.ParquetWriter(
                    tmp,
                    schema,
                    # image bytes are already compressed: a codec is a
                    # full encode pass for ~1 % size (BASELINE.md r3)
                    compression="none",
                    use_dictionary=["host", "fmt", "method"],
                    # min/max stats on prunable columns only — hashing
                    # the image bytes for never-used stats is pure cost
                    write_statistics=[
                        "url_hash", "host", "depth", "attempt", "priority",
                        "status", "w", "h", "fmt", "phash", "ua_index",
                        "method",
                    ],
                )
            writer.write_table(tbl, row_group_size=rows_per_group)
            rows += len(out)
        if writer is not None:
            writer.close()
            os.replace(tmp, final)
            yield pd.DataFrame({"file": [final], "rows": [rows]})

    return _prepare(selected, salt_buckets).mapInPandas(
        write_partition, schema="file string, rows long"
    )


def write_payload(plan: DataFrame, dest: str) -> list:
    """Run a :func:`fetch_write_plan` built for ``dest`` with overwrite
    semantics: clear the directory right before the action, then, once
    it has finished, delete temps that killed task attempts left behind.
    Returns the file-manifest rows (none for a zero-row epoch)."""
    import shutil

    dest_dir = Path(dest)
    if dest_dir.exists():
        shutil.rmtree(dest_dir)
    dest_dir.mkdir(parents=True)
    files = plan.collect()
    for tmp in dest_dir.glob(".part-*.inprogress"):
        tmp.unlink()
    return files
