"""Benchmark harness — one JSON line on stdout.

Default: run the headline suite at $SPARK_GRAFT_SF_DIR (default: the
sf0.1 test data set) on local[$SPARK_GRAFT_CPUS] (default: the CPUs in
this process's affinity set):
  * the frontier crawl job (the north metric: fetched image rows/sec
    through canonicalize → anti-join seen → rank/slots → fetch UDF →
    snapshot append), on the deterministic synthetic world;
  * a curated set of registry queries, each fully materialized via
    the noop writer (no collect — executor-side materialization).

Output: {"metric": "headline_suite_sec", "value": <total sec>,
         "unit": "sec", "queries": {name: sec, ...}, "sf": <sf>,
         "frontier_rows_per_sec": R, "cpus": N}

`--frontier-only` prints the same line with only the frontier job.

Throughput at two cluster sizes is measured with perfbench, not here:
`taskset -c 0 python3 perfbench/run.py --workload W` against the same
command under `taskset -c 0-3`, interleaved (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

BENCH_QUERIES = [
    "f1_canonicalize",
    "f2_admission",
    "f3_schedule",
    "f4_priority",
    "f11_link_emit",
    "f15_metrics",
    "q1_pricing",
    "q3_topk_revenue",
    "q5_nation_revenue",
    "q_window_topn",
    "q_events_tumbling",
    "q_sessionize",
    "s1_dedup_upsert",
    "t_quality",
    "t_fingerprint",
    "dd_exact",
    "dd_minhash_buckets",
    "dd_simhash",
    "dd_phash_neardup",
    "ann_cosine_topk",
    "ann_lsh_census",
    # IVF ANN family (r4 promoted the arrow path; r5 gives both
    # wall-clock tracking like the rest of the dedup/ANN suite)
    "ann_ivf_topk",
    "ann_ivf_arrow",
]

# frontier bench world: many hosts so politeness slots don't throttle
# the measurement (the per-host cap is semantics, not engine ceiling)
FRONTIER_SEEDS = 60_000
FRONTIER_HOSTS = max(1000, FRONTIER_SEEDS // 20)
FRONTIER_EPOCHS = 2


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cpu_sample() -> list[int]:
    """First line of /proc/stat: user nice system idle iowait irq
    softirq steal ... (jiffies, all cpus summed)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _mem_gbps() -> float:
    """~1 s single-thread STREAM-triad calibration (a = b + c over
    64 MB arrays). This host's hypervisor caps/borrows MEMORY
    BANDWIDTH, not just cores: measured swings of 1-2 GB/s per core
    (healthy hosts: 10-25) with <2 % steal and full core grant — the
    failure mode steal_pct cannot see, and the one that dominates the
    engine's shuffle-bound phases. Recording it beside each run makes
    a bandwidth-starved measurement attributable from the JSON."""
    import numpy as np

    n = 8_000_000  # 64 MB per array
    a = np.empty(n)
    b = np.ones(n)
    c = np.ones(n)
    np.add(b, c, out=a)  # touch pages before timing
    t0 = time.time()
    for _ in range(2):
        np.add(b, c, out=a)
    return round(3 * 8 * n * 2 / (time.time() - t0) / 1e9, 2)


def _host_telemetry(before: list[int], after: list[int], wall: float) -> dict:
    """Machine-checkable host-state evidence for a measurement window.

    steal_pct: share of jiffies the hypervisor withheld (burstable-VM
    throttling shows up here). achieved_cores: (user+nice+sys+irq+
    softirq)/wall — how many cores of CPU the window ACTUALLY got.
    On this burstable host a 'slow' run with high steal / low achieved
    cores is the host's number, not the engine's (BASELINE.md host
    pathologies); embedding both makes that attribution checkable from
    the JSON alone instead of trusting prose."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    hz = os.sysconf("SC_CLK_TCK")
    return {
        "steal_pct": round(100.0 * d[7] / total, 2) if total else 0.0,
        "achieved_cores": round(busy / (wall * hz), 2) if wall > 0 else 0.0,
    }


def bench_frontier(spark) -> tuple[float, int]:
    """Run the crawl job; return (wall_sec, fetched_ok_rows)."""
    from crawler_spark import fixtures as fx
    from crawler_spark.epoch import EpochConfig, run_crawl
    from crawler_spark.state.snapshots import SnapshotStore

    cfg = EpochConfig(epoch_budget=None, num_buckets=64, use_bloom=False)
    # SPARK_GRAFT_BENCH_STORE_DIR: parent dir for the snapshot store
    # (e.g. /dev/shm, standing in for a cluster's executor-local disks;
    # a shared disk's write-back flusher is a serial term in the metric)
    store_parent = os.environ.get("SPARK_GRAFT_BENCH_STORE_DIR") or None
    with tempfile.TemporaryDirectory(dir=store_parent) as tmp:
        store = SnapshotStore(spark, tmp)
        seeds = fx.seeds_df(spark, FRONTIER_SEEDS, num_hosts=FRONTIER_HOSTS)
        robots = fx.robots_rules_df(spark, num_hosts=FRONTIER_HOSTS)
        t0 = time.time()
        stats = run_crawl(
            spark, store, seeds, cfg, num_epochs=FRONTIER_EPOCHS, robots_rules=robots
        )
        wall = time.time() - t0
    fetched = sum(s["fetched_ok"] for s in stats)
    return wall, fetched


def _jvm_gc_ms(spark) -> int:
    """Cumulative stop-the-world GC time of the local JVM (driver ==
    executor in local mode). GC burns jiffies that /proc/stat counts
    as 'busy' — high achieved_cores + low rows/s + high gc_sec marks a
    memory-pressure run, which steal_pct alone cannot see."""
    beans = (
        spark._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    return sum(b.getCollectionTime() for b in beans)


def run_suite(cpus: int, sf_dir: str, frontier_only: bool) -> dict:
    from crawler_spark import queries as Q
    from crawler_spark.session import get_spark

    spark = get_spark(cpus, app_name="bench", shuffle_partitions=cpus)
    # warm-ups so one-time JVM/codegen startup and python-worker spawn
    # aren't billed to the first measured job (steady-state throughput)
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def _noop(it):
        for pdf in it:
            yield pdf

    spark.range(cpus * 4).repartition(cpus).selectExpr("id").mapInPandas(
        _noop, schema="id long"
    ).count()

    # parquet write+read warm-up: the FIRST parquet write of a JVM's
    # life loads the hadoop committer + parquet writer classes —
    # measured ~9-10 s billed to the seed-write phase at EVERY cluster
    # size (evidence/scaling_r5_exec.json: seed-write flat at ~10.5 s
    # on 1 and 4 executors with only ~1 s of actual data work). A real crawl
    # runs hundreds of epochs per long-lived app, so steady-state
    # epochs never pay it; one tiny write moves it out of the metric.
    wtmp = tempfile.mkdtemp(dir=os.environ.get("SPARK_GRAFT_BENCH_STORE_DIR") or None)
    try:
        spark.range(cpus * 4).write.mode("overwrite").parquet(wtmp + "/w")
        spark.read.parquet(wtmp + "/w").count()
    finally:
        import shutil

        shutil.rmtree(wtmp, ignore_errors=True)

    out: dict = {"queries": {}, "cpus": cpus}
    mem0 = _mem_gbps()
    s0 = _cpu_sample()
    g0 = _jvm_gc_ms(spark)
    w0 = time.time()
    fw, fr = bench_frontier(spark)
    out["queries"]["frontier_crawl"] = round(fw, 3)
    out["frontier_rows_per_sec"] = round(fr / fw, 1)
    out["frontier_fetched_rows"] = fr
    out["frontier_host"] = _host_telemetry(s0, _cpu_sample(), time.time() - w0)
    out["frontier_host"]["gc_sec"] = round((_jvm_gc_ms(spark) - g0) / 1000, 1)
    out["frontier_host"]["mem_gbps_before"] = mem0
    out["frontier_host"]["mem_gbps_after"] = _mem_gbps()

    if not frontier_only:
        for name in BENCH_QUERIES:
            fn = Q.REGISTRY[name][0]
            t0 = time.time()
            _materialize(fn(spark, sf_dir))
            out["queries"][name] = round(time.time() - t0, 3)

    out["value"] = round(sum(out["queries"].values()), 3)
    out["host"] = _host_telemetry(s0, _cpu_sample(), time.time() - w0)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    frontier_only = "--frontier-only" in sys.argv
    out = run_suite(cpus, sf_dir, frontier_only)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    line = {
        "metric": "headline_suite_sec",
        "value": out["value"],
        "unit": "sec",
        "queries": out["queries"],
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "frontier_rows_per_sec": out["frontier_rows_per_sec"],
        "frontier_fetched_rows": out["frontier_fetched_rows"],
        "cpus": out["cpus"],
        # host-state evidence: steal_pct >~5 or achieved_cores far
        # below cpus marks a hypervisor-throttled (uninterpretable
        # as engine regression) run — BASELINE.md host pathologies
        "host": out["host"],
        "frontier_host": out["frontier_host"],
    }
    print(json.dumps(line))


if __name__ == "__main__":
    main()
