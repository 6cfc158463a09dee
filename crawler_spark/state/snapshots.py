"""Epoch snapshot store — parquet layout with manifest lineage (F16).

The reference checkpoints a JSON blob of visited/failed/stats every
300 s (/root/reference/core/crawler.py:353-438, 971-975). Here every
scheduling epoch appends its deltas as hive-partitioned parquet:

    {root}/{table}/epoch=N/part-*.parquet
    {root}/MANIFEST.json       (atomic tmp+rename)

Tables: ``frontier`` (append-only deltas), ``fetched`` (append-only
write-once payload), ``failed`` (complete state per epoch),
``metrics`` (append-only, one row per (epoch, host_bucket) —
per-partition lineage), ``recrawl`` (append-only tombstones).
``visited`` and ``images`` are never written: they are pruned
projections of ``fetched`` (see ``read_upto``). Resume = read the
manifest's latest committed epoch and load partitions epoch<=E
(partition pruning keeps this a metadata operation + pruned scan).

``SCHEMAS`` is the one declaration of every table's columns. Reads use
it (plus ``epoch``, parsed from the path) instead of inferring a schema
from parquet footers, so building a read starts no Spark job and an
epoch directory without files reads as zero rows. A writer that adds a
column must add it to ``SCHEMAS`` too: a declared read silently drops
a column the declaration lacks (tests/test_recrawl.py checks every
written file against its table's declaration).

This is the Iceberg-snapshot design from SURVEY §1.3 with a plain
parquet fallback since the sandbox has no Iceberg runtime jar; the API
(append / read_upto / latest_epoch) is kept thin so an Iceberg backend
can slot in on a real cluster (``writeTo(...).append()`` + snapshot
ids replace the manifest).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FRONTIER_SCHEMA = T.StructType([
    T.StructField("url_canon", T.StringType()),
    T.StructField("url_hash", T.LongType()),
    T.StructField("host", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("parent_url", T.StringType()),
])

FAILED_SCHEMA = T.StructType([
    T.StructField("url_hash", T.LongType()),
    T.StructField("url_canon", T.StringType()),
    T.StructField("host", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("parent_url", T.StringType()),
    T.StructField("attempts", T.IntegerType()),
    T.StructField("last_status", T.IntegerType()),
])

METRICS_SCHEMA = T.StructType([
    T.StructField("host_bucket", T.IntegerType()),
    T.StructField("candidates", T.LongType()),
    T.StructField("admitted", T.LongType()),
    T.StructField("selected", T.LongType()),
    T.StructField("fetched_ok", T.LongType()),
    T.StructField("fetched_fail", T.LongType()),
    T.StructField("new_frontier", T.LongType()),
    # image-dedup lineage (north-rule "fetch/dedup metrics"): distinct
    # phash64 among the bucket's OK fetches this epoch; fetched_ok -
    # distinct_phash = duplicate images the bucket fetched (within-
    # bucket count — a global distinct would need its own shuffle)
    T.StructField("distinct_phash", T.LongType()),
])

FETCHED_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("parent_url", T.StringType()),
        T.StructField("attempt", T.IntegerType()),
        T.StructField("priority", T.IntegerType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
        T.StructField("ua_index", T.IntegerType()),
        T.StructField("method", T.StringType()),
    ]
)


def _fetched_projection(*names: str) -> T.StructType:
    return T.StructType([FETCHED_SCHEMA[n] for n in names])


# the virtual tables (see read_upto): pruned projections of fetched
VISITED_SCHEMA = _fetched_projection(
    "url_hash", "url_canon", "host", "status", "depth", "priority"
)
IMAGES_SCHEMA = _fetched_projection(
    "image_id", "url_canon", "url_hash", "host", "bytes", "w", "h", "fmt",
    "caption", "phash",
)

# recrawl tombstones (F14/cuckoo path): a url_hash committed at epoch T
# deletes that URL's visited rows with epoch <= T, so the next epoch
# re-admits it. Append-only like the other deltas — a re-fetch at
# epoch > T writes a NEW visited row that the tombstone cannot reach.
RECRAWL_SCHEMA = T.StructType([T.StructField("url_hash", T.LongType())])

SCHEMAS = {
    "frontier": FRONTIER_SCHEMA,
    "visited": VISITED_SCHEMA,
    "failed": FAILED_SCHEMA,
    "images": IMAGES_SCHEMA,
    "fetched": FETCHED_SCHEMA,
    "metrics": METRICS_SCHEMA,
    "recrawl": RECRAWL_SCHEMA,
}
# the hive partition column, parsed from the epoch=N directory name
EPOCH_FIELD = T.StructField("epoch", T.IntegerType())
# tables whose epoch=N dir is the COMPLETE state (not a delta)
FULL_STATE_TABLES = {"failed"}
# tables that are pruned projections of the write-once fetched payload
# (status==200 rows) — no epoch ever writes them
VIRTUAL_FROM_FETCHED = {"visited", "images"}


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- manifest ------------------------------------------------------------

    @property
    def manifest_path(self) -> Path:
        return self.root / "MANIFEST.json"

    def _read_manifest(self) -> dict:
        if self.manifest_path.exists():
            return json.loads(self.manifest_path.read_text())
        return {"latest_epoch": -1, "epochs": {}}

    def _write_manifest(self, manifest: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self.manifest_path)  # atomic commit

    def latest_epoch(self) -> int:
        return self._read_manifest()["latest_epoch"]

    def stats_sum(self, field: str, upto: int | None = None) -> int:
        """Sum a per-epoch stats counter across committed epochs — a
        driver-side manifest read (no Spark job); used e.g. to estimate
        the visited-set size for auto Bloom sizing."""
        total = 0
        for e_str, ent in self._read_manifest()["epochs"].items():
            if upto is not None and int(e_str) > upto:
                continue
            v = ent.get("stats", {}).get(field)
            if v:
                total += int(v)
        return total

    def table_path(self, epoch: int, name: str) -> Path:
        """Filesystem path of one table's epoch partition."""
        return self.root / name / f"epoch={epoch}"

    # -- write ---------------------------------------------------------------

    def write_table(
        self,
        epoch: int,
        name: str,
        df: DataFrame,
        rebalance: bool = False,
    ) -> None:
        """Write one table's epoch partition WITHOUT committing the
        manifest — the write-once seam: every downstream derivation
        re-reads the parquet with column pruning instead of re-running
        (or caching) the producing job.

        ``rebalance=True`` inserts an AQE REBALANCE before the write:
        output file count follows data volume (1 file for a KB-scale
        delta, many at TB scale) instead of inheriting the upstream
        task count — writing a 2k-row delta through 32 tiny tasks
        costs ~1-2 s of pure scheduling per table. Not needed when the
        producing plan already ends in a shuffle: AQE coalesces that
        shuffle's reads to the advisory size, so the write inherits
        right-sized partitions for free."""
        path = self.table_path(epoch, name)
        out = df.hint("rebalance") if rebalance else df
        out.write.mode("overwrite").parquet(str(path))

    def read_table(self, epoch: int, name: str) -> DataFrame:
        """Read back one (possibly not-yet-committed) epoch partition."""
        return self._scan(name, [epoch])

    def commit_epoch(self, epoch: int, names: list[str], stats: dict | None = None) -> None:
        """Atomically commit previously written tables for `epoch`."""
        manifest = self._read_manifest()
        manifest["epochs"][str(epoch)] = {
            "tables": {n: {"path": str(self.table_path(epoch, n))} for n in names},
            "stats": stats or {},
            "committed_at_ms": int(time.time() * 1000),
        }
        manifest["latest_epoch"] = max(manifest["latest_epoch"], epoch)
        self._write_manifest(manifest)

    def write_epoch(
        self,
        epoch: int,
        tables: dict[str, DataFrame],
        stats: dict | None = None,
        rebalance: bool = True,
    ) -> None:
        """Write all deltas for an epoch, then atomically commit the
        manifest. An interrupted epoch (data written, manifest not) is
        invisible to resume and is overwritten on retry. Callers of
        this convenience path write small state tables (seeding,
        tests) — rebalanced by default."""
        for name, df in tables.items():
            self.write_table(epoch, name, df, rebalance=rebalance)
        self.commit_epoch(epoch, list(tables), stats)

    # -- read ----------------------------------------------------------------

    def _committed_epochs(self, manifest: dict, table: str, epoch: int) -> list[int]:
        return sorted(
            e
            for e in (int(k) for k in manifest["epochs"])
            if e <= epoch and table in manifest["epochs"][str(e)]["tables"]
        )

    def _scan(self, table: str, epochs: list[int]) -> DataFrame:
        """Read ``table``'s epoch partitions with its declared schema
        plus ``epoch`` (taken from the path). Declared, not inferred: no
        Spark job reads a footer, and a partition without files — a
        zero-row epoch — reads as zero rows, as does an empty list."""
        reader = self.spark.read.schema(
            T.StructType(SCHEMAS[table].fields + [EPOCH_FIELD])
        )
        paths = [self.table_path(e, table) for e in epochs]
        paths = [str(p) for p in paths if p.exists()]
        if paths:  # a basePath that does not exist is an error
            reader = reader.option("basePath", str(self.root / table))
        return reader.parquet(*paths)

    def read_upto(
        self,
        table: str,
        epoch: int | None = None,
        include_recrawled: bool = False,
    ) -> DataFrame:
        """All committed rows of `table` at or before `epoch` (partition-
        pruned). FULL_STATE tables return only the latest committed
        epoch<=E. Uncommitted (post-manifest) epoch dirs are excluded.

        ``visited`` and ``images`` are VIRTUAL projections of the
        write-once ``fetched`` payload table (status==200 rows, pruned
        columns — parquet never reads the bytes for visited).

        ``visited`` additionally subtracts recrawl tombstones: a
        tombstone committed at epoch T kills visited rows with
        row.epoch <= T (a re-fetch after the recrawl writes a newer row
        that survives). The tombstone set is tiny (explicit recrawl
        requests), so the anti-join broadcasts. ``include_recrawled=
        True`` skips the subtraction — the RAW projection a deletable
        approximate filter (cuckoo) must be built from before its
        ``delete`` replays the tombstones. ``images`` stays an
        append-only payload archive (recrawl never deletes data)."""
        if epoch is None:
            epoch = self.latest_epoch()
        manifest = self._read_manifest()
        if table in VIRTUAL_FROM_FETCHED:
            out = self._scan(
                "fetched", self._committed_epochs(manifest, "fetched", epoch)
            ).filter(F.col("status") == 200).select(
                *SCHEMAS[table].names, "epoch"
            )
        else:
            own = self._committed_epochs(manifest, table, epoch)
            if table in FULL_STATE_TABLES:
                own = own[-1:]
            out = self._scan(table, own)
        if table == "visited" and not include_recrawled:
            rc = self._committed_epochs(manifest, "recrawl", epoch)
            if rc:
                tomb = self._scan("recrawl", rc).select(
                    F.col("url_hash").alias("__rc_hash"),
                    F.col("epoch").alias("__rc_epoch"),
                )
                out = out.join(
                    F.broadcast(tomb),
                    (F.col("url_hash") == F.col("__rc_hash"))
                    & (F.col("epoch") <= F.col("__rc_epoch")),
                    "left_anti",
                )
        return out

    def recrawl_hashes(self, upto: int | None = None, since: int | None = None):
        """All committed recrawl tombstone url_hashes at or before
        ``upto`` (and, with ``since``, strictly after it — the delta a
        persisted filter must replay) as a driver-side int64 numpy
        array (NOT deduped — a URL recrawled twice has two tombstones,
        matching its two extra visited copies for the cuckoo filter's
        counting deletes). Returns an empty array with ZERO Spark jobs
        when no recrawl epoch is in range (the overwhelmingly common
        case)."""
        import numpy as np

        if upto is None:
            upto = self.latest_epoch()
        manifest = self._read_manifest()
        rc = self._committed_epochs(manifest, "recrawl", upto)
        if since is not None:
            rc = [e for e in rc if e > since]
        if not rc:
            return np.zeros(0, dtype=np.int64)
        rows = self._scan("recrawl", rc).select("url_hash").collect()
        return np.array([r[0] for r in rows], dtype=np.int64)

    # -- persisted seen-filter (incremental F5 maintenance) -------------------

    def visited_delta_keys(self, since: int, upto: int) -> DataFrame | None:
        """RAW visited url_hash keys contributed by epochs in
        (since, upto] — the exact delta a persisted seen filter must
        absorb (one recent epoch in steady state, so the per-epoch
        filter cost is O(new keys), not O(|visited|)). Raw = before
        tombstone subtraction (the filter replays tombstones itself as
        counting deletes)."""
        manifest = self._read_manifest()
        epochs = [
            e for e in self._committed_epochs(manifest, "fetched", upto)
            if e > since
        ]
        if not epochs:
            return None  # nothing in range — caller skips the build job
        return self._scan("fetched", epochs).filter(
            F.col("status") == 200
        ).select("url_hash")

    def save_seen_filter(self, upto: int, kind: str, blob: bytes, meta: dict) -> None:
        """Persist the engaged seen filter's raw bits as a store
        artifact covering visited state THROUGH epoch ``upto`` (with
        tombstones committed <= upto already applied). The next engaged
        epoch loads it and absorbs only the (upto, now] delta instead of
        rebuilding from a full visited scan — the reference analogue is
        the persistent in-memory seen set that lives across the whole
        crawl (crawler.py:167). Blob goes to a file (tmp+rename), the
        pointer + params into the manifest (atomic): a crash between
        the two leaves the previous pointer intact."""
        fdir = self.root / "filters"
        fdir.mkdir(parents=True, exist_ok=True)
        path = fdir / f"seen_upto={upto}.bin"
        fd, tmp = tempfile.mkstemp(dir=fdir, suffix=".filter.tmp")
        with os.fdopen(fd, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)
        manifest = self._read_manifest()
        old = manifest.get("seen_filter")
        manifest["seen_filter"] = {
            "upto": upto,
            "kind": kind,
            "path": str(path),
            "meta": meta,
        }
        self._write_manifest(manifest)
        if old and old.get("path") not in (None, str(path)):
            try:  # superseded blob — manifest no longer points at it
                os.unlink(old["path"])
            except OSError:
                pass

    def load_seen_filter(self) -> dict | None:
        """{"upto", "kind", "meta", "blob"} of the persisted seen
        filter, or None. Driver-side file read, zero Spark jobs."""
        ent = self._read_manifest().get("seen_filter")
        if not ent or not Path(ent["path"]).exists():
            return None
        return {**ent, "blob": Path(ent["path"]).read_bytes()}

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    driver: str = "com.mysql.cj.jdbc.Driver",
    batchsize: int = 10_000,
    **options,
) -> None:
    """A8 — the relational-sink seam (reference database/operations.py:
    23-66 bulk_create → one set-oriented JDBC append per epoch, never
    row-at-a-time).

    The sandbox ships no JDBC driver jar or database, so this is the
    documented seam rather than an exercised path: on a real cluster,
    pass the driver jar via ``spark.jars`` and the call maps straight
    onto ``DataFrameWriter.jdbc``. ``batchsize`` keeps executor-side
    inserts batched; partition count of ``df`` = writer parallelism
    (repartition before calling to throttle connections)."""
    writer = df.write.format("jdbc").mode(mode).options(
        url=url, dbtable=table, driver=driver, batchsize=str(batchsize), **options
    )
    writer.save()
