"""Python-side payload writer (fetch.fetch_write_plan + write_payload).

The fused fetch+write path streams each task's batches straight into a
pyarrow ParquetWriter instead of returning the payload to the JVM for
DataFrameWriter.parquet. These tests pin its read-back against the
plain ``fetch_op.fetch`` result written by Spark (identical rows,
payload bytes included, and identical read schema), and its overwrite
and temp-file lifecycle.
"""

import os

from crawler_spark import fixtures as fx
from crawler_spark.epoch import EpochConfig, run_crawl, run_epoch
from crawler_spark.operators import fetch as fetch_op
from crawler_spark.state.snapshots import FETCHED_SCHEMA, SnapshotStore


def _selected(spark, n=600):
    # include FAIL_MOD multiples so status!=200 null-payload rows are in
    # the parquet, plus an api job for the POST method column
    rows = [
        (
            f"https://h{i % 7}.example/{'api' if i % 11 == 0 else 'page'}/{i}",
            i * fx.FAIL_MOD if i % 13 == 0 else i * 2654435761 % (1 << 62),
            f"h{i % 7}.example",
            i % 4,
            None,
            "api" if i % 11 == 0 else "detail",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "url_canon string, url_hash long, host string, depth int,"
        " parent_url string, job_type string",
    )


def test_arrow_writer_read_back_identical(spark, tmp_path):
    sel = _selected(spark)

    jvm_dir = tmp_path / "jvm"
    fetch_op.fetch(sel, salt_buckets=4).write.parquet(str(jvm_dir))

    arrow_dir = tmp_path / "arrow"
    manifest = fetch_op.write_payload(
        fetch_op.fetch_write_plan(sel, str(arrow_dir), salt_buckets=4),
        str(arrow_dir),
    )
    assert sum(r.rows for r in manifest) == sel.count()
    for r in manifest:
        assert os.path.exists(r.file) and r.file.endswith(".parquet")

    a = spark.read.parquet(str(jvm_dir))
    b = spark.read.parquet(str(arrow_dir))
    # schema parity (names + types, in fetch-schema order)
    sort = lambda df: df.select(sorted(df.columns))
    assert sort(a).schema == sort(b).schema
    ra = sorted(sort(a).collect(), key=lambda r: r.url_hash)
    rb = sorted(sort(b).collect(), key=lambda r: r.url_hash)
    assert ra == rb  # full-row equality, payload bytes included
    # both failure (null payload) and POST rows made it through
    assert any(r.status != 200 and r.bytes is None for r in rb)
    assert any(r.method == "POST" for r in rb)


def test_arrow_writer_overwrite(spark, tmp_path):
    sel = _selected(spark, n=150)
    dest = tmp_path / "out"

    def run():
        plan = fetch_op.fetch_write_plan(sel, str(dest), salt_buckets=2)
        return fetch_op.write_payload(plan, str(dest))

    run()
    first = set(os.listdir(dest))
    # second run overwrites: no stale files, row count stays exact
    run()
    assert set(os.listdir(dest)) <= first
    assert spark.read.parquet(str(dest)).count() == 150
    assert not [f for f in os.listdir(dest) if ".inprogress" in f]
    # a stale temp from a killed attempt must be invisible to the scan
    # (dot-prefixed names are skipped by Spark's file listing)
    (dest / ".part-99999-0.inprogress").write_bytes(b"garbage")
    assert spark.read.parquet(str(dest)).count() == 150


def test_plan_build_touches_no_files(spark, tmp_path):
    """Building the plan must not clear the destination: only running
    it through write_payload does."""
    dest = tmp_path / "out"
    dest.mkdir()
    (dest / "part-00000.parquet").write_bytes(b"previous")
    fetch_op.fetch_write_plan(_selected(spark, n=50), str(dest), salt_buckets=2)
    assert os.listdir(dest) == ["part-00000.parquet"]
    assert (dest / "part-00000.parquet").read_bytes() == b"previous"


def test_write_payload_sweeps_killed_attempt_temps(spark, tmp_path):
    """A temp left by a task attempt that died mid-write during the
    action is deleted once the action has finished."""
    dest = tmp_path / "out"

    def leaky(it):
        for _ in it:
            (dest / ".part-00000-0.inprogress").write_bytes(b"killed")
        return iter(())

    plan = _selected(spark, n=20).coalesce(1).mapInPandas(
        leaky, schema="file string, rows long"
    )
    assert fetch_op.write_payload(plan, str(dest)) == []
    assert os.listdir(dest) == []


def test_run_epoch_leaves_no_inprogress(spark, tmp_path):
    seeds = fx.seeds_df(spark, 60, 6)
    cfg = EpochConfig(num_buckets=4, epoch_seconds=10.0, epoch_budget=100)
    store = SnapshotStore(spark, tmp_path / "store")
    run_crawl(spark, store, seeds, cfg, num_epochs=0)
    dest = store.table_path(1, "fetched")
    dest.mkdir(parents=True)
    (dest / ".part-00000-0.inprogress").write_bytes(b"killed")
    assert run_epoch(spark, store, 1, cfg)["fetched_ok"] > 0
    assert not [f for f in os.listdir(dest) if ".inprogress" in f]


def test_arrow_writer_empty_input(spark, tmp_path):
    """Zero-row epoch: no task writes a file, and the declared-schema
    read of the empty directory has zero rows and every column."""
    dest = tmp_path / "empty"
    plan = fetch_op.fetch_write_plan(
        _selected(spark, n=0), str(dest), salt_buckets=2
    )
    assert fetch_op.write_payload(plan, str(dest)) == []
    df = spark.read.schema(FETCHED_SCHEMA).parquet(str(dest))
    assert df.count() == 0
    assert df.columns == FETCHED_SCHEMA.names

