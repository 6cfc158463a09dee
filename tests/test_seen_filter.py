"""Incremental seen-filter maintenance (F5 persistence): the engaged
pre-filter's bits persist in the SnapshotStore across epochs and each
epoch absorbs only its delta keys — O(new keys), not an O(|visited|)
rebuild. The reference analogue is the single persistent in-memory
seen set that lives for the whole crawl (crawler.py:167).

Pins:
  * bloom delta-union ≡ full rebuild BIT-identically at equal geometry
    (OR is the insert; inserts commute);
  * cuckoo serialize/merge round-trip preserves membership exactly;
  * a full crawl that persists the filter produces identical admission
    output (visited/fetched/frontier key sets, per-epoch stats) to the
    same crawl on a store that never loads one (per-epoch rebuild) —
    the correctness bar VERDICT r4 item 3 asks for;
  * the persisted filter actually carries across epochs (manifest
    entry advances, kind recorded in epoch stats).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark import fixtures as fx
from crawler_spark.epoch import EpochConfig, run_crawl
from crawler_spark.state.bloom import BloomSeenSet
from crawler_spark.state.cuckoo import CuckooSeenSet
from crawler_spark.state.snapshots import SnapshotStore

NUM_HOSTS = 6
N_SEEDS = 30
N_EPOCHS = 6
CFG = dict(epoch_seconds=200.0, epoch_budget=400, num_buckets=8)


# -- unit level: the algebra the epoch path relies on -------------------------


def test_bloom_union_equals_rebuild(spark):
    a = spark.range(0, 5000).select(F.col("id").alias("url_hash"))
    b = spark.range(4000, 9000).select(F.col("id").alias("url_hash"))
    both = a.unionByName(b)
    m, k = BloomSeenSet.params(9000, 0.01)
    full = BloomSeenSet.build(both, "url_hash", fixed_params=(m, k))
    fa = BloomSeenSet.build(a, "url_hash", fixed_params=(m, k))
    fb = BloomSeenSet.build(b, "url_hash", fixed_params=(m, k))
    fa.union_inplace(fb)
    assert np.array_equal(fa.bits, full.bits)  # bit-identical
    assert fa.num_hashes == full.num_hashes
    # serialization round-trip is also bit-exact
    back = BloomSeenSet.from_bytes(fa.to_bytes(), fa.num_hashes)
    assert np.array_equal(back.bits, full.bits)


def test_cuckoo_merge_and_roundtrip(spark):
    keys_a = np.arange(1, 4001, dtype=np.int64)
    keys_b = np.arange(3001, 7001, dtype=np.int64)
    a_df = spark.createDataFrame([(int(k),) for k in keys_a], "url_hash long")
    b_df = spark.createDataFrame([(int(k),) for k in keys_b], "url_hash long")
    base = CuckooSeenSet.build(a_df, "url_hash", expected_keys=12_000)
    delta = CuckooSeenSet.build(b_df, "url_hash", fixed_buckets=base.m)
    base.merge_from(delta)
    # no false negatives over the union; counting deletes still work
    assert base.might_contain(np.arange(1, 7001, dtype=np.int64)).all()
    back = CuckooSeenSet.from_bytes(base.to_bytes(), base.m)
    assert np.array_equal(back.table, base.table)
    # the overlap [3001,4000] was inserted twice → one delete leaves it in
    assert back.delete(np.arange(3001, 4001, dtype=np.int64)) == 0
    assert back.might_contain(np.arange(3001, 4001, dtype=np.int64)).all()


# -- crawl level: persistence changes nothing observable ----------------------


def _crawl(spark, root, persist):
    seeds = fx.seeds_df(spark, N_SEEDS, NUM_HOSTS)
    robots = fx.robots_rules_df(spark, NUM_HOSTS)
    store = SnapshotStore(spark, root)
    if not persist:
        # never hand back the saved filter: every epoch takes the
        # full-build path of _seen_filter_for_epoch
        store.load_seen_filter = lambda: None
    cfg = EpochConfig(use_bloom=True, **CFG)
    stats = run_crawl(
        spark, store, seeds, cfg, num_epochs=N_EPOCHS, robots_rules=robots
    )
    return store, stats


@pytest.fixture(scope="module")
def crawl_pair(spark, tmp_path_factory):
    s_inc, st_inc = _crawl(spark, tmp_path_factory.mktemp("inc"), True)
    s_reb, st_reb = _crawl(spark, tmp_path_factory.mktemp("reb"), False)
    return s_inc, st_inc, s_reb, st_reb


def test_incremental_equals_rebuild_admission(crawl_pair):
    s_inc, st_inc, s_reb, st_reb = crawl_pair
    # per-epoch counters identical — admission output unchanged
    keys = ["candidates", "admitted", "selected", "fetched_ok", "fetched_fail"]
    for a, b in zip(st_inc, st_reb):
        assert {k: a[k] for k in keys} == {k: b[k] for k in keys}
    # final state identical key-for-key
    for table in ("visited", "frontier", "failed"):
        ka = {r[0] for r in s_inc.read_upto(table).select("url_hash").collect()}
        kb = {r[0] for r in s_reb.read_upto(table).select("url_hash").collect()}
        assert ka == kb, table


def test_filter_persists_and_advances(crawl_pair):
    s_inc, st_inc, *_ = crawl_pair
    ent = s_inc.load_seen_filter()
    assert ent is not None and ent["kind"] == "bloom"
    # covers visited through the LAST epoch's inputs (epoch N reads
    # upto N-1) and tracked the cumulative key count
    assert ent["upto"] == N_EPOCHS - 1
    assert ent["meta"]["n"] >= sum(s["fetched_ok"] for s in st_inc[:-1])
    # the filter engaged every epoch on both paths
    assert all(s["seen_filter"] == "bloom" for s in st_inc)


def test_persisted_filter_has_no_false_negatives(crawl_pair, spark):
    s_inc, *_ = crawl_pair
    ent = s_inc.load_seen_filter()
    flt = BloomSeenSet.from_bytes(ent["blob"], ent["meta"]["k"])
    seen = np.array(
        [
            r[0]
            for r in s_inc.read_upto("visited", ent["upto"])
            .select("url_hash")
            .collect()
        ],
        dtype=np.int64,
    )
    assert flt.might_contain(seen).all()


def test_bloom_epoch_lineage_matches_recount(crawl_pair, spark, check_lineage):
    """Bloom epochs (full build, then incremental absorb): the observed
    candidates/admitted equal the exact recount — the seen filter reads
    the candidates in two union branches, each observing every row."""
    s_inc, *_ = crawl_pair
    robots = fx.robots_rules_df(spark, NUM_HOSTS)
    for e in (1, N_EPOCHS):
        check_lineage(s_inc, e, CFG["num_buckets"], robots)
