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

`--frontier-only` prints the same line with only the frontier job
(used by --scaling). `--scaling` runs the identical frontier job at
two cluster sizes in fresh subprocesses and reports throughput at
both plus efficiency = speedup / size-ratio — the sandbox evidence
for the north rule's two-cluster-size criterion (BASELINE.md).
Two modes (SPARK_GRAFT_SCALE_MODE):
  threads   (default) local[N] vs local[4N], whole process tree
            pinned to N / 4N cores — thread-scaling inside ONE JVM.
  executors local-cluster[N,C,.] vs local-cluster[4N,C,.] — N vs 4N
            separate executor JVMs x C pinned cores each, driver
            constant on its own cores: the faithful single-machine
            reading of 'N and 4N executors' (a cluster scales by
            adding executor JVMs, and never shares one JVM's write
            path across them — evidence/scaling_probe_r5.json
            measured that in-JVM contention at 2.7x CPU/row, which
            threads mode wrongly bills to the engine).
"""

from __future__ import annotations

import json
import os
import subprocess
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
FRONTIER_SEEDS = int(os.environ.get("SPARK_GRAFT_BENCH_SEEDS", "60000"))
FRONTIER_HOSTS = max(1000, FRONTIER_SEEDS // 20)
FRONTIER_EPOCHS = int(os.environ.get("SPARK_GRAFT_BENCH_EPOCHS", "2"))


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


def _mem_gbps_mt(threads: int) -> float:
    """Aggregate STREAM-triad bandwidth across `threads` concurrent
    threads (numpy releases the GIL on large array ops). The
    single-thread probe misses the wide-config failure mode: this
    host was measured delivering 8 GB/s single-thread while the
    8-thread aggregate swung 13 → 51 GB/s between minutes — a wide
    Spark job launched in the low window runs at half throughput with
    full core grant and <2 % steal (memory-stall cycles count as
    busy). Gating the WIDE scaling config on the aggregate number is
    the only way to make 'N vs 4N cores' mean N vs 4N of the same
    machine."""
    import threading

    import numpy as np

    n = 8_000_000
    results: list[float] = []

    def triad() -> None:
        a = np.empty(n)
        b = np.ones(n)
        c = np.ones(n)
        np.add(b, c, out=a)
        t0 = time.time()
        for _ in range(3):
            np.add(b, c, out=a)
        results.append(3 * 8 * n * 3 / (time.time() - t0) / 1e9)

    ths = [threading.Thread(target=triad) for _ in range(threads)]
    for t in ths:
        t.start()
    for t in ths:
        t.join()
    return round(sum(results), 2)


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

    # SPARK_GRAFT_FETCH_PARTS: explicit fetch-stage task count (the
    # exec-mode balance experiment — see EpochConfig.fetch_partitions)
    fetch_parts = int(os.environ.get("SPARK_GRAFT_FETCH_PARTS", "0")) or None
    cfg = EpochConfig(
        epoch_budget=None, num_buckets=64, use_bloom=False,
        fetch_partitions=fetch_parts,
    )
    # SPARK_GRAFT_BENCH_STORE_DIR: parent dir for the snapshot store
    # (e.g. /dev/shm for the scaling runs — models the executor-LOCAL
    # SSDs of a real cluster, which scale with node count; the single
    # shared /tmp disk here does not, and its write-back flusher is a
    # fixed-bandwidth serial term both levels would otherwise share)
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


def _pin_exec_cluster(n_exec: int, cores_per: int) -> list[int]:
    """Pin each local-cluster executor JVM to its own `cores_per` CPUs
    (exec i → cores [i*cores_per, (i+1)*cores_per)) — each executor
    models a separate NODE: its python workers fork after pinning and
    inherit its mask, so 'N vs 4N executors' is physically N vs 4N
    disjoint core sets, with the driver held constant elsewhere."""
    import subprocess
    import time as _t

    deadline = _t.time() + 90
    pids: list[int] = []
    while _t.time() < deadline:
        out = subprocess.run(
            ["pgrep", "-f", "CoarseGrainedExecutorBackend"],
            capture_output=True, text=True,
        ).stdout.split()
        pids = sorted(int(x) for x in out)
        if len(pids) >= n_exec:
            break
        _t.sleep(0.5)
    if len(pids) < n_exec:
        raise RuntimeError(f"only {len(pids)}/{n_exec} executors came up")
    for i, pid in enumerate(pids[:n_exec]):
        lo = i * cores_per
        subprocess.run(
            ["taskset", "-apc", f"{lo}-{lo + cores_per - 1}", str(pid)],
            capture_output=True,
        )
    return pids[:n_exec]


AFFINITY = sorted(os.sched_getaffinity(0))


def _top_cpu_range(cpus: list[int], n: int) -> str:
    """The highest contiguous run of up to ``n`` CPUs, as "lo-hi"."""
    lo = hi = cpus[-1]
    while hi - lo + 1 < n and lo - 1 in cpus:
        lo -= 1
    return f"{lo}-{hi}"


# driver/worker-daemon cores in executor-scaling mode — the same 4
# CPUs at BOTH cluster sizes (a real cluster's driver is a separate
# node that does not grow with the executor fleet)
EXEC_DRIVER_CORES = os.environ.get(
    "SPARK_GRAFT_EXEC_DRIVER_CORES", _top_cpu_range(AFFINITY, 4)
)


def run_suite(cpus: int, sf_dir: str, frontier_only: bool) -> dict:
    from crawler_spark import queries as Q
    from crawler_spark.session import get_spark

    n_exec = int(os.environ.get("SPARK_GRAFT_EXECUTORS", "0"))
    if n_exec:
        # executor-scaling mode: local-cluster[N, C, mem] = N separate
        # executor JVMs x C cores — the multi-JVM single-machine
        # analogue of scaling a cluster by adding executors (separate
        # write paths, GC domains, python worker pools, netty shuffle),
        # vs local[N] which scales THREADS inside one JVM and measures
        # that JVM's internal contention instead of the cluster model
        # (scaling_probe_r5: the payload write burns ~2.7x more CPU per
        # row at 8 threads than at 2 in one JVM).
        cores_per = int(os.environ.get("SPARK_GRAFT_EXEC_CORES", "2"))
        cpus = n_exec * cores_per
        lo, hi = (int(x) for x in EXEC_DRIVER_CORES.split("-"))
        if not set(range(lo, hi + 1)) <= set(AFFINITY):
            sys.exit(
                f"SPARK_GRAFT_EXEC_DRIVER_CORES={EXEC_DRIVER_CORES} is outside"
                f" this process's CPU affinity set {AFFINITY}"
            )
        os.sched_setaffinity(0, set(range(lo, hi + 1)))
        spark = get_spark(
            cores_per,
            app_name="bench",
            shuffle_partitions=cpus,
            master=f"local-cluster[{n_exec},{cores_per},4096]",
            extra_conf={
                "spark.executor.memory": "4g",
                # thread-pool sizing inside each executor matches its
                # core grant, not the 32 CPUs the box shows
                "spark.executor.extraJavaOptions":
                    f"-XX:ActiveProcessorCount={cores_per}",
                # executor python workers are separate processes here
                # (unlike local[N], which inherits the driver's
                # sys.path) — ship the package the way spark-submit
                # --py-files would
                "spark.executorEnv.PYTHONPATH": REPO,
            },
        )
        _pin_exec_cluster(n_exec, cores_per)
    else:
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


def _parse_phase_timings(stdout: str) -> tuple[dict, dict]:
    """Sum the child's `[epoch-timing] label: X.XXs [cores=C.CC]` lines
    (epoch._tlog, enabled via SPARK_GRAFT_TIMING) per label — the
    per-phase wall decomposition of the frontier job (summed across its
    epochs), plus the wall-weighted mean achieved-cores per phase
    (separates 'slots idle' from 'busy but slow' per phase)."""
    import re

    out: dict[str, float] = {}
    core_s: dict[str, float] = {}
    for m in re.finditer(
        r"\[epoch-timing\] ([\w+\-]+): ([0-9.]+)s(?: cores=([0-9.]+))?", stdout
    ):
        sec = float(m.group(2))
        out[m.group(1)] = round(out.get(m.group(1), 0.0) + sec, 2)
        if m.group(3):
            core_s[m.group(1)] = core_s.get(m.group(1), 0.0) + sec * float(m.group(3))
    cores = {
        k: round(core_s[k] / out[k], 2) for k in core_s if out.get(k)
    }
    return out, cores


# phases that are per-epoch FIXED cost (driver-side planning, the
# num_buckets-row metrics collect/write, manifest commit) — a real
# cluster amortizes them over arbitrarily large epochs, a 2-core toy
# epoch does not. Everything else ("fetch+write",
# "light-writes+lineage") is the distributed data path.
FIXED_PHASES = ("plan", "metrics-collect", "metrics-write")


def _phase_decomposition(runs: list[dict], lo: int, hi: int) -> dict | None:
    """Median per-phase seconds at each level + the data-path-only
    efficiency: speedup computed on the distributed phases alone, with
    the measured fixed cost taken out — the Amdahl decomposition as a
    MEASUREMENT instead of an estimate (VERDICT r3 item 3a)."""
    med_phase: dict[int, dict] = {}
    for c in (lo, hi):
        ph = [r["phases"] for r in runs if r["cpus"] == c and r.get("phases")]
        if not ph:
            return None
        keys = sorted(set().union(*ph))
        med_phase[c] = {
            k: sorted(p.get(k, 0.0) for p in ph)[len(ph) // 2] for k in keys
        }
    fixed = {c: round(sum(v for k, v in med_phase[c].items() if k in FIXED_PHASES), 2)
             for c in (lo, hi)}
    data = {c: round(sum(v for k, v in med_phase[c].items() if k not in FIXED_PHASES), 2)
            for c in (lo, hi)}
    if not data[hi]:
        return None
    dp_speedup = data[lo] / data[hi]
    return {
        "median_phase_sec": {str(c): med_phase[c] for c in (lo, hi)},
        "fixed_sec": {str(c): fixed[c] for c in (lo, hi)},
        "data_path_sec": {str(c): data[c] for c in (lo, hi)},
        "data_path_speedup": round(dp_speedup, 3),
        "data_path_efficiency": round(dp_speedup / (hi / lo), 3),
    }


def run_scaling(sf_dir: str, trials: int = 3) -> None:
    """The north-rule two-cluster-size evidence: the identical frontier
    job at local[N] and local[4N] (fresh JVM per run, sized to its
    core count).

    Default pair N=2 / 4N=8 — in a real deployment each EXECUTOR JVM
    carries 4-8 cores (spark.executor.cores) and the cluster scales by
    adding executors, so core-scaling inside one executor-sized JVM is
    the honest single-machine analogue. (A single 32-thread local JVM
    is not the cluster execution model, and measured flat 8→32 here:
    driver coordination, which a cluster amortizes across executors,
    serializes it.) Override with SPARK_GRAFT_SCALE_PAIR=8,32.

    One big epoch (10^6 seeds by default — the north rule's seed-list
    scale) so executor compute dominates the per-epoch coordination.
    Trials interleave (N, 4N, N, 4N, …) and the MEDIAN throughput is
    reported — this host shows 10-25 % CPU steal, so single runs drift
    by ±50 %.

    SPARK_GRAFT_SCALE_MODE=executors switches the levels from threads
    inside one local[N] JVM to EXECUTOR COUNTS on a local-cluster:
    pair (1,4) means 1 vs 4 executor JVMs x SPARK_GRAFT_EXEC_CORES
    cores, each executor pinned to its own disjoint core set and the
    driver held constant on EXEC_DRIVER_CORES — the faithful
    single-machine reading of the north rule's 'N and 4N executors'
    (local[N] thread-scaling additionally measures one JVM's internal
    write-path contention, which a multi-JVM cluster never sees:
    evidence/scaling_probe_r5.json)."""
    exec_mode = os.environ.get("SPARK_GRAFT_SCALE_MODE", "threads") == "executors"
    exec_cores = int(os.environ.get("SPARK_GRAFT_EXEC_CORES", "2"))
    default_pair = "1,4" if exec_mode else "2,8"
    lo, hi = (
        int(x)
        for x in os.environ.get("SPARK_GRAFT_SCALE_PAIR", default_pair).split(",")
    )
    trials = int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", trials))
    cooldown = int(os.environ.get("SPARK_GRAFT_SCALE_COOLDOWN", "45"))
    rps: dict[int, list] = {lo: [], hi: []}
    runs: list[dict] = []
    first = True
    for _ in range(trials):
        # larger config FIRST: on a burstable host, sustained load
        # drains CPU credits monotonically, and the wide config is hit
        # hardest by the throttle — measuring it first (and
        # interleaving) keeps the comparison honest (BASELINE.md
        # host-pathology protocol)
        for cpus in (hi, lo):
            if not first:
                time.sleep(cooldown)  # let the burstable host recover
            first = False
            # bandwidth gate: the host's deliverable memory bandwidth
            # oscillates ~1-2.5 vs ~6.5-8 GB/s single-thread on a
            # timescale of minutes (co-tenant load, BASELINE.md). A
            # trial launched in a degraded window measures the
            # co-tenant, not the engine — wait (bounded) for a healthy
            # window and record every sample so the gate itself is
            # auditable in the JSON.
            gate = []
            min_gbps = float(os.environ.get("SPARK_GRAFT_SCALE_MIN_GBPS", "4.0"))
            # wide configs additionally gate on AGGREGATE bandwidth at
            # their own thread count (per-core floor × cores): the
            # single-thread probe reads healthy while the multi-core
            # deliverable rate is in a trough (see _mem_gbps_mt)
            min_percore = float(
                os.environ.get("SPARK_GRAFT_SCALE_MIN_GBPS_PER_CORE", "3.0")
            )
            gate_wait = float(os.environ.get("SPARK_GRAFT_SCALE_GATE_WAIT", "600"))
            gate_cores = cpus * exec_cores if exec_mode else cpus
            gw0 = time.time()
            while True:
                st = _mem_gbps()
                mt = _mem_gbps_mt(gate_cores) if gate_cores > 2 else None
                gate.append({"st": st, "mt_agg": mt})
                ok = st >= min_gbps and (
                    mt is None or mt >= min_percore * gate_cores
                )
                if ok or time.time() - gw0 > gate_wait:
                    break
                time.sleep(30)
            env = dict(
                os.environ,
                SPARK_GRAFT_CPUS=str(cpus),
                # executor-scaling mode: `cpus` is the EXECUTOR COUNT;
                # the child builds local-cluster[cpus, exec_cores, .]
                # and pins executors/driver itself (run_suite)
                **(
                    {
                        "SPARK_GRAFT_EXECUTORS": str(cpus),
                        "SPARK_GRAFT_EXEC_CORES": str(exec_cores),
                    }
                    if exec_mode
                    else {}
                ),
                SPARK_GRAFT_BENCH_SEEDS=os.environ.get(
                    "SPARK_GRAFT_BENCH_SEEDS", "1000000"
                ),
                SPARK_GRAFT_BENCH_EPOCHS=os.environ.get(
                    "SPARK_GRAFT_BENCH_EPOCHS", "1"
                ),
                # per-phase epoch timings (epoch._tlog) in the child's
                # stdout → parsed into the artifact, so the efficiency
                # number decomposes into phases instead of one opaque
                # wall-clock (VERDICT r3 item 3a)
                SPARK_GRAFT_TIMING="1",
            )
            s0, w0 = _cpu_sample(), time.time()
            # pin the child's WHOLE process tree (JVM + python UDF
            # workers, which inherit affinity) to exactly `cpus` CPUs:
            # local[N] caps TASK SLOTS, not CPU — an unpinned local[2]
            # job measured 3.3 achieved cores (JVM stages and python
            # workers pipeline concurrently), silently shrinking the
            # nominal 4x core ratio to ~2.3x. Pinning makes "N vs 4N
            # cores" physically true. SPARK_GRAFT_SCALE_PIN=0 disables.
            cmd = [sys.executable, __file__, "--frontier-only"]
            if not exec_mode and os.environ.get("SPARK_GRAFT_SCALE_PIN", "1") != "0":
                cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
            p = subprocess.run(
                cmd, capture_output=True, text=True, env=env, cwd=REPO,
            )
            wall = time.time() - w0
            tele = _host_telemetry(s0, _cpu_sample(), wall)
            lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
            if p.returncode != 0 or not lines:
                sys.stderr.write(
                    f"scaling child (local[{cpus}]) failed rc={p.returncode}\n"
                    f"--- child stderr ---\n{p.stderr[-4000:]}\n"
                )
                sys.exit(1)
            child = json.loads(lines[-1])
            rps[cpus].append(child["frontier_rows_per_sec"])
            runs.append({
                "cpus": cpus,
                "rows_per_sec": child["frontier_rows_per_sec"],
                "job_sec": child["queries"]["frontier_crawl"],
                "phases": (_pt := _parse_phase_timings(p.stdout))[0],
                "phase_cores": _pt[1],
                # job-window telemetry (excludes JVM startup) from the
                # child itself; subprocess-window steal as backup
                "job_steal_pct": child["frontier_host"]["steal_pct"],
                "job_achieved_cores": child["frontier_host"]["achieved_cores"],
                "job_gc_sec": child["frontier_host"].get("gc_sec"),
                "job_mem_gbps": [
                    child["frontier_host"].get("mem_gbps_before"),
                    child["frontier_host"].get("mem_gbps_after"),
                ],
                "proc_steal_pct": tele["steal_pct"],
                "gate_mem_gbps": gate,
            })
    med = {c: sorted(v)[len(v) // 2] for c, v in rps.items()}
    speedup = med[hi] / med[lo]
    med_cores = {
        c: sorted(r["job_achieved_cores"] for r in runs if r["cpus"] == c)[
            sum(1 for r in runs if r["cpus"] == c) // 2
        ]
        for c in (lo, hi)
    }
    # grant_ratio: how much of the nominal (hi/lo)x core ratio the
    # hypervisor actually delivered during the measured jobs. If this
    # is << hi/lo, the efficiency number is capped by the host grant,
    # not the engine — checkable from this JSON alone.
    print(json.dumps({
        "metric": (
            f"scaling_efficiency_exec_{lo}_to_{hi}"
            if exec_mode
            else f"scaling_efficiency_{lo}_to_{hi}"
        ),
        # threads mode: levels are local[N] thread counts inside one
        # JVM. executors mode: levels are EXECUTOR JVM counts at
        # exec_cores each (local-cluster), each executor pinned to its
        # own disjoint core set, driver constant on EXEC_DRIVER_CORES.
        "mode": "executors" if exec_mode else "threads",
        **({"exec_cores": exec_cores,
            "driver_cores": EXEC_DRIVER_CORES} if exec_mode else {}),
        # run conditions, so the artifact is auditable without prose
        "seeds": int(os.environ.get("SPARK_GRAFT_BENCH_SEEDS", "1000000")),
        "epochs": int(os.environ.get("SPARK_GRAFT_BENCH_EPOCHS", "1")),
        "pinned": os.environ.get("SPARK_GRAFT_SCALE_PIN", "1") != "0",
        # fetch-stage task count override (exec-mode balance lever —
        # EpochConfig.fetch_partitions); absent key = default layout
        **({"fetch_partitions": int(os.environ["SPARK_GRAFT_FETCH_PARTS"])}
           if os.environ.get("SPARK_GRAFT_FETCH_PARTS") else {}),
        # /dev/shm models executor-LOCAL disks (which scale with node
        # count on a real cluster); the default shared /tmp disk's
        # write-back flusher is a fixed-bandwidth serial term that
        # both parallelism levels would otherwise contend on
        "store_dir": os.environ.get("SPARK_GRAFT_BENCH_STORE_DIR")
        or "/tmp (shared disk)",
        f"rows_per_sec_local{lo}_runs": rps[lo],
        f"rows_per_sec_local{hi}_runs": rps[hi],
        f"rows_per_sec_local{lo}": med[lo],
        f"rows_per_sec_local{hi}": med[hi],
        "speedup": round(speedup, 3),
        "efficiency": round(speedup / (hi / lo), 3),
        "nominal_core_ratio": hi / lo,
        "grant_ratio": round(med_cores[hi] / med_cores[lo], 3)
        if med_cores[lo]
        else None,
        # speedup normalized by the core ratio the hypervisor actually
        # granted (not the nominal hi/lo): the engine's own scaling
        # number, machine-checkable from this JSON alone
        "efficiency_at_granted_cores": round(
            speedup / (med_cores[hi] / med_cores[lo]), 3
        )
        if med_cores[lo]
        else None,
        "achieved_cores": {str(c): med_cores[c] for c in (lo, hi)},
        # measured Amdahl decomposition: data-path phases vs per-epoch
        # fixed cost (see FIXED_PHASES) — the number a real cluster
        # sees is the data-path efficiency, since the fixed cost
        # amortizes over epoch size there
        "phase_decomposition": _phase_decomposition(runs, lo, hi),
        "runs": runs,
    }))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(AFFINITY)))
    if "--scaling" in sys.argv:
        run_scaling(sf_dir)
        return
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
