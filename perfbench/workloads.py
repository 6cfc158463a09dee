"""The crawl workloads: world generation, set-up, the timed closed loop
and the output checks.

The engine is driven only through its public functions
(``epoch.run_crawl`` / ``run_epoch`` / ``recrawl``, ``SnapshotStore``,
``fixtures``). The benchmark seed picks the seed-URL id range, the
hosts the parity check simulates and the recrawl sample; the engine
sees only the generated seed list, robots table and recrawl URLs.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import time
import traceback
from collections import Counter
from dataclasses import dataclass

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from crawler_spark import fixtures as fx
from crawler_spark import epoch as E
from crawler_spark.epoch import EpochConfig
from crawler_spark.functions.url import py_host
from crawler_spark.simulator import simulate
from crawler_spark.state.snapshots import SnapshotStore


@dataclass(frozen=True)
class World:
    seeds: int
    hosts: int
    epoch_budget: int | None
    bloom_auto_threshold: int
    # the timed section: ``lead_in`` once, then ``cycle`` until the
    # window has passed
    lead_in: tuple[str, ...] = ()
    cycle: tuple[str, ...] = ("epoch",)
    recrawl_urls: int = 0  # URLs tombstoned per recrawl
    sim_hosts: int = 16  # hosts the parity simulator replays

    def config(self, epoch: int | None = None) -> EpochConfig:
        """The untimed set-up epoch 1 runs without the budget, so the
        timed epochs start from a visited set several times one
        epoch's selection."""
        return EpochConfig(
            epoch_budget=None if epoch == 1 else self.epoch_budget,
            bloom_auto_threshold=self.bloom_auto_threshold,
        )


# Sizes: an epoch costs ~10-20 s here whatever its size (the engine
# runs a few dozen Spark jobs per epoch), so a run times few of them:
# the campaign of 4 + 22 runs per workload must fit in 3,420 s.
# crawl_wide's 300 hosts are slot-capped (~14k fetches) from epoch 2 on,
# no global budget, and its seen filter never engages.
# recrawl_churn crawls its seeds wide open in set-up epoch 1 (~4k
# visited, exact join), then selects 600 of a frontier of ~20k
# candidates per epoch. Its seen filter engages from epoch 2 on
# (threshold 1). Timed:
#   epoch    first engaged epoch: seen bloom built from a full visited
#            scan, candidate bloom, exact confirm join
#   recrawl  tombstones 100 URLs the epoch before fetched
#   epoch    new tombstones: the persisted bloom cannot delete, so a
#            full cuckoo build over visited, then counting deletes
# and each further cycle (recrawl, epoch) merges one epoch's delta into
# the persisted cuckoo and replays the new tombstones as deletes.
WORLDS = {
    "crawl_wide": World(8_000, 300, None, 1_000_000),
    "recrawl_churn": World(
        6_000, 300, 600, 1,
        lead_in=("epoch",), cycle=("recrawl", "epoch"), recrawl_urls=100),
}
TOY_WORLDS = {
    "crawl_wide": World(60, 6, None, 1_000_000, sim_hosts=3),
    "recrawl_churn": World(
        150, 15, 10, 1,
        lead_in=("epoch",), cycle=("recrawl", "epoch"), recrawl_urls=5),
}


def world_for(name: str, toy: bool) -> World:
    return (TOY_WORLDS if toy else WORLDS)[name]


def seed_urls(world: World, seed: int) -> list[str]:
    start = (seed * 7_919_993) % 10**9
    return [fx.py_seed_url(k, world.hosts) for k in range(start, start + world.seeds)]


def write_seeds(spark, store_dir: str, world: World, urls: list[str]):
    """World generation + the seed write (epoch 0) into a fresh store.
    The seed list reaches Spark as a parquet file, as a crawl's would."""
    seed_file = store_dir + ".seeds.parquet"
    pq.write_table(pa.table({"url": urls}), seed_file)
    store = SnapshotStore(spark, store_dir)
    seeds = spark.read.parquet(seed_file)
    robots = fx.robots_rules_df(spark, num_hosts=world.hosts)
    E.run_crawl(spark, store, seeds, world.config(0), num_epochs=0, robots_rules=robots)
    return store, robots


def setup_epoch(spark, store, robots, world: World) -> None:
    """The untimed epoch 1: builds the visited state and warms the JVM
    and the python workers."""
    E.run_epoch(spark, store, 1, world.config(1), robots_rules=robots)


# ---------------------------------------------------------------------------
# timed closed loop
# ---------------------------------------------------------------------------


@dataclass
class Op:
    kind: str  # "epoch" | "recrawl"
    epoch: int
    s: float
    stats: dict
    error: str | None = None


def recrawl_sample(store_dir: str, world: World, seed: int, epoch: int) -> list[str]:
    """``recrawl_urls`` URLs fetched in ``epoch``, drawn by the benchmark
    seed. They won that epoch's budget, so once re-admitted they win
    the next one again, and the check can expect each to be fetched."""
    files = _parts(store_dir, "fetched", epoch)
    rows = duckdb.sql(
        f"SELECT url_canon FROM read_parquet({files!r}) "
        "WHERE status = 200 ORDER BY url_hash"
    ).fetchall()
    urls = [r[0] for r in rows]
    return random.Random(seed * 1_000 + epoch).sample(urls, min(len(urls), world.recrawl_urls))


def timed_loop(spark, store, robots, world: World, seed: int, seconds: float) -> list[Op]:
    """Run the world's lead-in, then its cycle back to back until
    ``seconds`` have passed, in whole cycles.
    An ``epoch`` is one ``run_epoch``; a ``recrawl`` tombstones
    ``recrawl_urls`` URLs of the epoch before it (the draw is not part
    of the operation's time)."""
    cfg = world.config()
    ops: list[Op] = []
    t0 = time.perf_counter()

    def run(kinds) -> bool:
        for kind in kinds:
            e = store.latest_epoch() + 1
            if kind == "recrawl":
                urls = recrawl_sample(str(store.root), world, seed, e - 1)
                ops.append(_run_op(kind, e, lambda: E.recrawl(spark, store, urls)))
            else:
                ops.append(_run_op(kind, e, lambda: E.run_epoch(
                    spark, store, e, cfg, robots_rules=robots)))
            if ops[-1].error:
                return False
        return True

    if run(world.lead_in):
        while run(world.cycle) and time.perf_counter() - t0 < seconds:
            pass
    return ops


def _run_op(kind: str, epoch: int, fn) -> Op:
    t = time.perf_counter()
    try:
        stats = fn()
    except Exception as exc:  # an operation that raises counts as failed
        traceback.print_exc()
        return Op(kind, epoch, time.perf_counter() - t, {}, error=repr(exc))
    return Op(kind, epoch, time.perf_counter() - t, stats)


# ---------------------------------------------------------------------------
# output checks (run after the timed window, on the committed store)
# ---------------------------------------------------------------------------


def _parts(store_dir: str, table: str, epoch: int | str = "*") -> list[str]:
    return sorted(glob.glob(os.path.join(store_dir, table, f"epoch={epoch}", "part-*.parquet")))


def _slots(host: str, epoch_seconds: float) -> int:
    return max(1, math.floor(epoch_seconds / max(1.0, fx.py_crawl_delay(host))))


def check_store(store_dir: str, world: World, urls: list[str], ops: list[Op],
                seed: int) -> list[str]:
    """Check every committed epoch of the store; mark each timed op that
    fails with ``op.error`` and return the problems found anywhere."""
    manifest = json.loads(open(os.path.join(store_dir, "MANIFEST.json")).read())
    epochs = {int(e): v for e, v in manifest["epochs"].items()}
    con = duckdb.connect()
    fetched = _parts(store_dir, "fetched")
    con.execute(
        f"CREATE VIEW fetched AS SELECT * FROM read_parquet({fetched!r}, hive_partitioning = true)"
    )
    tomb_files = _parts(store_dir, "recrawl")
    if tomb_files:
        con.execute(
            f"CREATE VIEW tomb AS SELECT * FROM read_parquet({tomb_files!r}, hive_partitioning = true)"
        )
    else:
        con.execute("CREATE VIEW tomb AS SELECT 0::BIGINT AS url_hash, 0 AS epoch WHERE false")
    bad: dict[int, list[str]] = {}

    def fail(epoch: int, msg: str) -> None:
        bad.setdefault(epoch, []).append(msg)

    per_host = con.sql(
        "SELECT epoch, host, count(*) FROM fetched GROUP BY ALL"
    ).fetchall()
    for e, host, n in per_host:
        slots = _slots(host, world.config(e).epoch_seconds)
        if n > slots:
            fail(e, f"host {host} fetched {n} > {slots} slots")
    counts = {
        e: (sel, ok)
        for e, sel, ok in con.sql(
            "SELECT epoch, count(*), count(*) FILTER (status = 200) FROM fetched GROUP BY 1"
        ).fetchall()
    }
    for e, ent in epochs.items():
        if "fetched" not in ent["tables"]:
            continue
        st = ent["stats"]
        sel, ok = counts.get(e, (0, 0))
        if (sel, ok) != (st["selected"], st["fetched_ok"]):
            fail(e, f"fetched table has {sel} rows / {ok} ok, stats say "
                    f"{st['selected']} / {st['fetched_ok']}")
        budget = world.config(e).epoch_budget
        if budget is not None and sel > budget:
            fail(e, f"selected {sel} > budget {budget}")
        m = con.sql(
            "SELECT sum(candidates), sum(admitted), sum(selected), sum(fetched_ok), "
            f"sum(fetched_fail) FROM read_parquet({_parts(store_dir, 'metrics', e)!r})"
        ).fetchone()
        want = tuple(st[k] for k in ("candidates", "admitted", "selected", "fetched_ok", "fetched_fail"))
        if tuple(int(x or 0) for x in m) != want:
            fail(e, f"metrics table sums {m} != manifest stats {want}")
    # a URL is fetched successfully at most once, plus once per recrawl
    for uh, e, n, t in con.sql(
        "WITH ok AS (SELECT url_hash, max(epoch) AS e, count(*) AS n FROM fetched "
        "  WHERE status = 200 GROUP BY 1 HAVING count(*) > 1), "
        "t AS (SELECT url_hash, count(*) AS n FROM tomb GROUP BY 1) "
        "SELECT ok.url_hash, ok.e, ok.n, coalesce(t.n, 0) FROM ok LEFT JOIN t USING (url_hash)"
    ).fetchall():
        if n > 1 + t:
            fail(e, f"url_hash {uh} fetched {n} times with {t} recrawls")
    # every tombstoned URL is re-admitted: it is fetched in the next epoch
    for op in ops:
        if op.kind == "recrawl" and not op.error:
            if op.stats["recrawled"] == 0:
                fail(op.epoch, "recrawl tombstoned nothing")
            missing = con.sql(
                f"SELECT count(*) FROM tomb WHERE epoch = {op.epoch} AND url_hash NOT IN "
                f"(SELECT url_hash FROM fetched WHERE epoch = {op.epoch + 1})"
            ).fetchone()[0]
            if missing:
                fail(op.epoch, f"{missing} tombstoned URLs not re-fetched in epoch {op.epoch + 1}")
    if world.epoch_budget is None:
        _check_parity(con, world, urls, epochs, fail, seed)
    con.close()
    for op in ops:
        if bad.get(op.epoch) and not op.error:
            op.error = "; ".join(bad[op.epoch][:3])
    return [f"epoch {e}: {m}" for e in sorted(bad) for m in bad[e]]


def _check_parity(con, world: World, urls: list[str], epochs: dict, fail, seed: int) -> None:
    """Per-epoch fetch counts and visited membership against the
    reference simulator. Without a global budget hosts never compete,
    so replaying a seed-chosen subset of hosts (always including the
    hot host0) is exact for those hosts."""
    hosts = sorted({py_host(u) for u in urls})
    pick = {"host0.example"} | set(
        random.Random(seed).sample(hosts, min(world.sim_hosts, len(hosts)))
    )
    last = max(e for e, ent in epochs.items() if "fetched" in ent["tables"])
    sim = simulate([u for u in urls if py_host(u) in pick], last, epoch_budget=None)
    want = Counter()
    want_set = set()
    for e, _rank, uh, *_ in sim.visited_rows:
        want[e] += 1
        want_set.add((e, uh))
    host_list = ", ".join(f"'{h}'" for h in sorted(pick))
    got_set = set(con.sql(
        f"SELECT epoch, url_hash FROM fetched WHERE status = 200 AND host IN ({host_list})"
    ).fetchall())
    got = Counter(e for e, _ in got_set)
    for e in range(1, last + 1):
        if got[e] != want[e]:
            fail(e, f"parity: {got[e]} fetched on {len(pick)} hosts, simulator {want[e]}")
        elif {x for x in got_set if x[0] == e} != {x for x in want_set if x[0] == e}:
            fail(e, "parity: visited set differs from the simulator")

