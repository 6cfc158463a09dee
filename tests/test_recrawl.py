"""Recrawl flow (F14 / cuckoo delete path): forgetting URLs from the
seen set re-admits them, and the re-fetch is bit-identical to the
original fetch in the deterministic world — recrawl ≡ fresh crawl of
those URLs. Also exercises the cuckoo filter end-to-end inside
run_epoch (tombstones present + pre-filter engaged → Bloom is swapped
for a cuckoo built on the raw visited projection with the tombstones
replayed as counting deletes). The same store pins the read contract:
building its reads starts no Spark job, and every file it wrote has
its table's declared schema."""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from crawler_spark import fixtures as fx
from crawler_spark.epoch import EpochConfig, recrawl, run_crawl, run_epoch
from crawler_spark.state.snapshots import SCHEMAS, SnapshotStore

NUM_HOSTS = 6
N_SEEDS = 30
# large politeness window + budget so the synthetic world EXHAUSTS
# (~2700 URLs, selected==0 by epoch ~9); after the recrawl the
# tombstoned URLs are then the only admissible candidates and all of
# them must be re-selected (clean ≡ parity)
CFG = dict(epoch_seconds=2000.0, epoch_budget=20000, num_buckets=8)

PAYLOAD_COLS = ["url_canon", "host", "depth", "parent_url", "status",
                "image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


def _crawl(spark, root, use_bloom=False):
    seeds = fx.seeds_df(spark, N_SEEDS, NUM_HOSTS)
    robots = fx.robots_rules_df(spark, NUM_HOSTS)
    store = SnapshotStore(spark, root)
    cfg = EpochConfig(use_bloom=use_bloom, **CFG)
    stats = run_crawl(spark, store, seeds, cfg, num_epochs=14, robots_rules=robots)
    assert stats[-1]["selected"] == 0  # world exhausted
    return store, cfg, robots


def _rows_by_hash(df, hashes):
    return {
        r["url_hash"]: {c: r[c] for c in PAYLOAD_COLS}
        for r in df.filter(F.col("url_hash").isin(list(hashes)))
        .select("url_hash", *PAYLOAD_COLS)
        .collect()
    }


@pytest.fixture(scope="module", params=[False, True], ids=["exact", "cuckoo"])
def recrawled(request, spark, tmp_path_factory):
    """Crawl 2 epochs, recrawl 10 fetched-ok URLs, run 1 more epoch.
    param=True forces the approximate pre-filter so the cuckoo path
    (build raw + delete tombstones) is the one actually executed."""
    root = tmp_path_factory.mktemp(f"recrawl_{request.param}")
    store, cfg, robots = _crawl(request.getfixturevalue("spark"), root,
                                use_bloom=request.param)
    spark = request.getfixturevalue("spark")

    ok = store.read_upto("visited").orderBy("url_hash").limit(10).collect()
    urls = [r.url_canon for r in ok]
    hashes = {r.url_hash for r in ok}
    originals = _rows_by_hash(
        store.read_upto("fetched").filter(F.col("status") == 200), hashes
    )

    info = recrawl(spark, store, urls + ["http://host0.example/never-seen-zzz"])
    # between tombstone and re-fetch: the URLs are not "visited"
    gone = store.read_upto("visited").filter(
        F.col("url_hash").isin(list(hashes))
    ).count()

    e = store.latest_epoch() + 1
    stats = run_epoch(spark, store, e, cfg, robots_rules=robots)
    return store, info, stats, hashes, originals, gone, e, request.param


def test_tombstone_semantics(recrawled):
    store, info, stats, hashes, originals, gone, e, _ = recrawled
    # never-seen URL was NOT tombstoned (cuckoo delete-safety guard)
    assert info["recrawled"] == len(hashes)
    assert gone == 0  # forgotten until re-fetched


def test_refetch_is_bit_identical(recrawled):
    """recrawl ≡ fresh crawl: the re-fetched rows match the original
    fetch byte-for-byte (payload bytes, caption, phash, depth, parent)."""
    store, info, stats, hashes, originals, gone, e, _ = recrawled
    refetched = _rows_by_hash(store.read_table(e, "fetched"), hashes)
    assert set(refetched) == hashes  # all re-admitted and re-fetched
    for h in hashes:
        assert refetched[h] == originals[h], h


def test_visited_restored_once(recrawled):
    """After the re-fetch the URLs are visited again — exactly one
    surviving row each (old rows tombstoned, new row survives)."""
    store, info, stats, hashes, originals, gone, e, _ = recrawled
    counts = (
        store.read_upto("visited")
        .filter(F.col("url_hash").isin(list(hashes)))
        .groupBy("url_hash").count().collect()
    )
    assert len(counts) == len(hashes)
    assert all(r["count"] == 1 for r in counts)


def test_seen_filter_choice(recrawled):
    """With the pre-filter engaged and tombstones present, run_epoch
    swapped Bloom → cuckoo (stats attest which structure guarded the
    admission anti-join)."""
    store, info, stats, hashes, originals, gone, e, used_filter = recrawled
    assert stats["seen_filter"] == ("cuckoo" if used_filter else None)


def test_lineage_matches_recount(recrawled, spark, check_lineage):
    """The re-fetch epoch (cuckoo-guarded when forced) and the exhausted
    epoch before the recrawl, which admits nothing: AQE drops the
    observed stages there, and run_epoch recounts."""
    store, info, stats, hashes, originals, gone, e, _ = recrawled
    robots = fx.robots_rules_df(spark, NUM_HOSTS)
    exhausted = info["epoch"] - 1
    assert store.read_upto("metrics", exhausted).filter(
        (F.col("epoch") == exhausted) & (F.col("selected") > 0)
    ).count() == 0
    for ep in (exhausted, e):
        check_lineage(store, ep, CFG["num_buckets"], robots)


def _job_ids(spark):
    """Ids of every job the status tracker knows, once the listener bus
    has delivered all events posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def test_store_reads_start_no_job(recrawled, spark):
    """Reads use the declared SCHEMAS: building one reads no parquet
    footer, so it starts no Spark job (an inferred read starts one)."""
    store, info, stats, hashes, originals, gone, e, _ = recrawled
    before = _job_ids(spark)
    reads = [
        store.read_upto(t) for t in ("frontier", "failed", "visited", "images")
    ]
    reads.append(store.read_table(e, "fetched"))
    reads.append(store.visited_delta_keys(0, e))
    assert _job_ids(spark) - before == set()
    assert all(r is not None for r in reads)


def test_written_files_match_declared_schemas(recrawled):
    """Every part file's footer has exactly its table's declared column
    names and types: a declared read silently drops a column that the
    declaration lacks, so a writer change must show up here."""
    store = recrawled[0]
    checked = set()
    for table, schema in SCHEMAS.items():
        want = [(f.name, f.type) for f in to_arrow_schema(schema)]
        for part in store.root.glob(f"{table}/epoch=*/part-*.parquet"):
            got = [(f.name, f.type) for f in pq.read_schema(part)]
            assert got == want, part
            checked.add(table)
    assert checked == {"frontier", "failed", "fetched", "metrics", "recrawl"}
