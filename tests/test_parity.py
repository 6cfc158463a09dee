"""Reference-parity gate (BASELINE.json input_hint): the Spark engine
reproduces the simulator's crawl ordering (modulo the documented
tie-break — here exactly, since both use (priority, depth, url_hash)),
URL-seen membership, retry state, per-row decoded-pixel parity
(byte-exact for png, PSNR >= 40 dB path exercised by qz5), byte-exact
captions, and exact checkpoint resume."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark import fixtures as fx
from crawler_spark.epoch import EpochConfig, run_crawl, run_epoch
from crawler_spark.functions import image as img
from crawler_spark.operators.jobtype import py_job_type
from crawler_spark.operators.priority import py_priority_score
from crawler_spark.simulator import simulate
from crawler_spark.state.snapshots import SnapshotStore

NUM_HOSTS = 20
N_SEEDS = 200
EPOCHS = 4
CFG = dict(epoch_seconds=10.0, epoch_budget=500)


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("parity_store")
    seeds = fx.seeds_df(spark, N_SEEDS, NUM_HOSTS)
    robots = fx.robots_rules_df(spark, NUM_HOSTS)
    store = SnapshotStore(spark, root)
    cfg = EpochConfig(num_buckets=8, **CFG)
    stats = run_crawl(spark, store, seeds, cfg, num_epochs=EPOCHS, robots_rules=robots)
    seed_urls = [fx.py_seed_url(k, NUM_HOSTS) for k in range(N_SEEDS)]
    sim = simulate(seed_urls, EPOCHS, with_payloads=True, **CFG)
    return store, sim, stats


def test_visited_membership_identical(crawl):
    store, sim, _ = crawl
    vis = {r.url_hash for r in store.read_upto("visited").collect()}
    assert vis == set(sim.visited)
    assert len(vis) > 300  # the world actually grew


def test_crawl_order_per_epoch(crawl):
    store, sim, _ = crawl
    df = store.read_upto("visited")
    for e in range(1, EPOCHS + 1):
        got = {r.url_canon for r in df.filter(F.col("epoch") == e).collect()}
        exp = {u for (ep, _, u) in sim.fetch_log if ep == e}
        assert got == exp, f"epoch {e}"


def test_within_epoch_ordering_matches_tiebreak(crawl):
    """Sorting an epoch's fetched rows by the documented tie-break
    (priority, depth, url_hash) reproduces the simulator's fetch
    ranks exactly — crawl-order parity, BASELINE "same crawl ordering
    (modulo tie-break rule)"."""
    store, sim, _ = crawl
    rows = store.read_upto("visited").collect()
    for e in range(1, EPOCHS + 1):
        sim_order = [u for (ep, rk, u) in sorted(sim.fetch_log) if ep == e]
        got = sorted(
            (r for r in rows if r.epoch == e),
            key=lambda r: (r.priority, r.depth, r.url_hash),
        )
        assert [r.url_canon for r in got] == sim_order


def test_failed_retry_state(crawl):
    store, sim, _ = crawl
    fl = {r.url_hash: (r.attempts, r.last_status) for r in store.read_upto("failed").collect()}
    exp = {k: (v["attempts"], v["last_status"]) for k, v in sim.failed.items()}
    assert fl == exp
    assert any(a >= 2 for a, _ in fl.values())  # retries actually happened


def test_payload_parity_pixels_and_captions(crawl):
    """Per fetched row: byte-exact caption; decoded pixels exact (png)
    or PSNR>=40 (qz5 lossy)."""
    store, sim, _ = crawl
    rows = store.read_upto("images").collect()
    assert len(rows) == len(sim.images)
    n_lossy = 0
    for r in rows[:200]:
        exp = sim.images[r.url_hash]
        assert r.caption == exp["caption"]
        assert (r.w, r.h, r.fmt, r.phash) == (exp["w"], exp["h"], exp["fmt"], exp["phash"])
        decoded = img.decode(bytes(r.bytes), r.fmt)
        truth = fx.py_pixels(r.url_hash, r.w, r.h)
        if r.fmt == "png":
            assert np.array_equal(decoded, truth)
        else:
            n_lossy += 1
            assert img.psnr(truth, decoded) >= 40.0
    assert n_lossy > 0  # lossy path exercised


def test_metrics_lineage_written(crawl):
    store, sim, stats = crawl
    m = store.read_upto("metrics")
    agg = m.groupBy("epoch").agg(
        F.sum("fetched_ok").alias("ok"), F.sum("fetched_fail").alias("fail")
    )
    got = {r.epoch: (r.ok, r.fail) for r in agg.collect()}
    for e in range(1, EPOCHS + 1):
        n_ok = sum(1 for (ep, _, _) in sim.fetch_log if ep == e)
        assert got[e][0] == n_ok
    # per-partition lineage: multiple host_buckets present
    assert m.select("host_bucket").distinct().count() > 1


def test_resume_equals_straight_run(spark, tmp_path):
    """F16: run 2+2 epochs with a store reopen == run 4 epochs straight."""
    seeds = fx.seeds_df(spark, N_SEEDS, NUM_HOSTS)
    robots = fx.robots_rules_df(spark, NUM_HOSTS)
    cfg = EpochConfig(num_buckets=8, **CFG)

    s1 = SnapshotStore(spark, tmp_path / "straight")
    run_crawl(spark, s1, seeds, cfg, num_epochs=4, robots_rules=robots)

    s2 = SnapshotStore(spark, tmp_path / "resumed")
    run_crawl(spark, s2, seeds, cfg, num_epochs=2, robots_rules=robots)
    s2b = SnapshotStore(spark, tmp_path / "resumed")  # reopen: resume from manifest
    assert s2b.latest_epoch() == 2
    run_crawl(spark, s2b, seeds, cfg, num_epochs=2, robots_rules=robots)

    for table in ("visited", "images", "failed"):
        a = {tuple(r) for r in s1.read_upto(table).drop("bytes").collect()}
        b = {tuple(r) for r in s2b.read_upto(table).drop("bytes").collect()}
        assert a == b, table


def test_metrics_lineage_nonnull(crawl):
    """Round-2: candidates/admitted carry REAL per-bucket counts (the
    round-1 table wrote NULLs and only surfaced driver-side stats)."""
    store, sim, stats = crawl
    m = store.read_upto("metrics")
    assert (
        m.filter(F.col("candidates").isNull() | F.col("admitted").isNull()).count()
        == 0
    )
    for s in stats:
        assert s["candidates"] >= s["admitted"] >= s["selected"]
        assert s["admitted"] > 0


def test_metrics_lineage_matches_recount(crawl, spark, check_lineage):
    """Exact-join epochs: the candidates/admitted the fetch job observed
    equal a count_distinct recount of the raw candidate union."""
    store, _, _ = crawl
    robots = fx.robots_rules_df(spark, NUM_HOSTS)
    for e in range(1, EPOCHS + 1):
        check_lineage(store, e, 8, robots)


def test_empty_epoch_commits_zero_stats(spark, tmp_path):
    """No committed frontier: the plan is empty before it runs, so the
    optimizer prunes the observations; the epoch still commits zeros."""
    store = SnapshotStore(spark, tmp_path / "empty")
    stats = run_epoch(spark, store, 1, EpochConfig(num_buckets=8))
    counters = ("candidates", "admitted", "selected", "fetched_ok",
                "fetched_fail", "dup_images")
    assert {k: stats[k] for k in counters} == dict.fromkeys(counters, 0)
    assert store.latest_epoch() == 1
    assert store.read_upto("metrics").count() == 0


def test_epoch_leaves_session_serializable(spark, tmp_path):
    """run_epoch counts with named observations: a pyspark Observation
    would start the session's non-serializable ObservationManager, and
    a later task capturing the session (a Spark ML model's training
    summary) would fail with "Task not serializable"."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import vector_to_array
    from pyspark.ml.linalg import Vectors

    run_epoch(spark, SnapshotStore(spark, tmp_path / "s"), 1, EpochConfig(num_buckets=8))
    df = spark.createDataFrame(
        [(Vectors.dense([float(i % 3), float(i % 5)]), float(i % 2)) for i in range(40)],
        ["features", "label"],
    )
    model = LogisticRegression(maxIter=3).fit(df)
    assert len(model.transform(df).select(vector_to_array("probability")[1]).collect()) == 40


def test_fetch_method_column(spark):
    """A6: api-type jobs go out as POST through the same fetch seam."""
    from crawler_spark.operators import fetch as fetch_op

    df = spark.createDataFrame(
        [
            ("https://h0.example/api/1", 123, "h0.example", 0, None, "api"),
            ("https://h0.example/post/2", 456, "h0.example", 0, None, "detail"),
        ],
        "url_canon string, url_hash long, host string, depth int,"
        " parent_url string, job_type string",
    )
    out = fetch_op.fetch(df, salt_buckets=2).collect()
    methods = {r.url_canon: r.method for r in out}
    assert methods["https://h0.example/api/1"] == "POST"
    assert methods["https://h0.example/post/2"] == "GET"


def test_metrics_distinct_phash_parity(crawl):
    """Image-dedup lineage: the per-(epoch, bucket) distinct_phash in
    the metrics table equals the simulator's ground truth (distinct
    payload phash among that bucket's OK fetches that epoch)."""
    from crawler_spark.functions.url import py_xxhash64

    store, sim, stats = crawl
    nb = 8  # cfg.num_buckets of the crawl fixture

    expected: dict[tuple[int, int], set] = {}
    for (epoch, rank, uh, url, host, depth, prio) in sim.visited_rows:
        b = py_xxhash64(host) % nb  # pmod semantics: non-negative
        expected.setdefault((epoch, b), set()).add(sim.images[uh]["phash"])

    m = store.read_upto("metrics")
    got = {
        (r.epoch, r.host_bucket): r.distinct_phash
        for r in m.filter(F.col("fetched_ok") > 0).collect()
    }
    assert got == {k: len(v) for k, v in expected.items()}
    # and the driver-side stat is the within-bucket dup count
    for s in stats:
        assert s["dup_images"] == s["fetched_ok"] - sum(
            len(v) for (e, _), v in expected.items() if e == s["epoch"]
        )
