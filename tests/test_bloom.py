"""Bloom seen-set: no false negatives (property), bounded FPR,
distributed build == local build, anti-join equivalence."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from crawler_spark.state.bloom import BloomSeenSet, anti_join_seen


@given(st.lists(st.integers(min_value=0, max_value=2**60 - 1), max_size=200))
@settings(max_examples=50, deadline=None)
def test_no_false_negatives(keys):
    m, k = BloomSeenSet.params(max(len(keys), 1), 0.01)
    bits = np.zeros(m // 8, dtype=np.uint8)
    arr = np.array(keys, dtype=np.int64)
    if arr.size:
        BloomSeenSet._set_bits(bits, arr, k)
    flt = BloomSeenSet(bits, k)
    if arr.size:
        assert flt.might_contain(arr).all()


def test_false_positive_rate_bounded():
    rng = np.random.Generator(np.random.PCG64(42))
    members = rng.integers(0, 2**60, size=20_000, dtype=np.int64)
    m, k = BloomSeenSet.params(len(members), 0.01)
    bits = np.zeros(m // 8, dtype=np.uint8)
    BloomSeenSet._set_bits(bits, members, k)
    flt = BloomSeenSet(bits, k)
    probes = rng.integers(0, 2**60, size=50_000, dtype=np.int64)
    fresh = probes[~np.isin(probes, members)]
    fpr = flt.might_contain(fresh).mean()
    assert fpr < 0.03, fpr


def test_distributed_build_matches(spark):
    df = spark.range(5_000).select(
        (F.col("id") * 2_654_435_761 % (2**60)).alias("url_hash")
    )
    flt = BloomSeenSet.build(df, expected_keys=5_000, fpp=0.01)
    keys = np.array([r.url_hash for r in df.collect()], dtype=np.int64)
    assert flt.might_contain(keys).all()


def test_anti_join_with_bloom_equals_exact(spark):
    cand = spark.range(2_000).select(F.col("id").alias("url_hash"))
    visited = spark.range(0, 2_000, 3).select(F.col("id").alias("url_hash"))
    flt = BloomSeenSet.build(visited, expected_keys=700, fpp=0.01)
    exact = {r.url_hash for r in anti_join_seen(cand, visited).collect()}
    bloomy = {r.url_hash for r in anti_join_seen(cand, visited, bloom=flt).collect()}
    assert exact == bloomy


def test_symmetric_visited_prefilter_exact(spark):
    """The candidate-keys bloom on the VISITED side of the confirm join
    (symmetric mode, default) cannot change the result: no false
    negatives → every visited key that equals a candidate key survives
    the pre-filter. Pin symmetric == asymmetric == exact."""
    cand = spark.range(3_000).select((F.col("id") * 7).alias("url_hash"))
    visited = spark.range(0, 9_000, 2).select(F.col("id").alias("url_hash"))
    flt = BloomSeenSet.build(visited, expected_keys=4_500, fpp=0.01)
    exact = {r.url_hash for r in anti_join_seen(cand, visited).collect()}
    sym = {
        r.url_hash
        for r in anti_join_seen(cand, visited, bloom=flt, symmetric=True).collect()
    }
    asym = {
        r.url_hash
        for r in anti_join_seen(cand, visited, bloom=flt, symmetric=False).collect()
    }
    assert exact == sym == asym


def test_auto_bloom_engages_and_is_exact(spark, tmp_path):
    """use_bloom='auto' (the default): below bloom_auto_threshold the
    epoch runs the plain exact anti-join; past it the Bloom pre-filter
    engages (sized from manifest stats, no count job) — and the crawl
    state is IDENTICAL either way (no-false-negative pre-filter +
    exact confirm)."""
    from crawler_spark import fixtures as fx
    from crawler_spark.epoch import EpochConfig, run_crawl
    from crawler_spark.state.snapshots import SnapshotStore

    seeds = fx.seeds_df(spark, 120, 10)
    robots = fx.robots_rules_df(spark, 10)
    results = {}
    for name, cfg in [
        ("auto_on", EpochConfig(num_buckets=4, epoch_budget=300,
                                use_bloom="auto", bloom_auto_threshold=1)),
        ("exact", EpochConfig(num_buckets=4, epoch_budget=300,
                              use_bloom=False)),
    ]:
        store = SnapshotStore(spark, tmp_path / name)
        run_crawl(spark, store, seeds, cfg, num_epochs=3, robots_rules=robots)
        results[name] = {
            (r.url_hash, r.epoch)
            for r in store.read_upto("visited").select("url_hash", "epoch").collect()
        }
    assert results["auto_on"] == results["exact"]
    assert len(results["auto_on"]) > 120  # the crawl actually grew


@pytest.mark.parametrize("bad", ["false", "Auto"])
def test_bad_use_bloom_fails_loudly(bad):
    """A truthy string other than 'auto' must not silently engage the
    Bloom on every epoch (bool("false") is True)."""
    from crawler_spark.epoch import EpochConfig

    with pytest.raises(ValueError, match="use_bloom"):
        EpochConfig(use_bloom=bad)


def test_stats_sum_reads_manifest(spark, tmp_path):
    from crawler_spark.state.snapshots import SnapshotStore

    store = SnapshotStore(spark, tmp_path / "s")
    store.commit_epoch(1, [], {"fetched_ok": 10})
    store.commit_epoch(2, [], {"fetched_ok": 7})
    store.commit_epoch(3, [], {"fetched_ok": 5})
    assert store.stats_sum("fetched_ok") == 22
    assert store.stats_sum("fetched_ok", upto=2) == 17
    assert store.stats_sum("missing") == 0
