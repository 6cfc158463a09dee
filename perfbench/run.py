"""Frontier benchmark: one crawl workload per run, closed loop.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Run from the repository root. One process sets up the workload's
store, then drives its operations (``run_epoch``, ``recrawl``) back to
back (no sleeps) on ``local[N]``, N = the CPUs in this process's
affinity mask, in whole cycles until ``--seconds`` have passed, then
checks the store it wrote. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same operations
with the layer tracer installed and reports the per-layer ones (see
README.md). Working files live under ``.perfbench_run/`` in the
repository root and are removed on exit.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_wide", "recrawl_churn")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true",
                   help="tens of seeds per world (the benchmark's self-test)")
    return p.parse_args(argv)


def spark_session(host: dict, workdir: str, name: str, trace: bool):
    from crawler_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{host['heap_mb']}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(workdir, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(workdir, "events"),
        })
    return get_spark(host["cores"], app_name=f"perfbench-{name}",
                     shuffle_partitions=host["cores"], extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its python workers
    have exited."""
    import host as H
    from pyspark import SparkContext

    tree = H.descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    H.reap_tree(tree)


def jvm_gc_jit_s(spark) -> tuple[float, float]:
    """Cumulative GC and JIT-compilation time of the JVM; both compete
    with the tasks for the cores."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc / 1000, mf.getCompilationMXBean().getTotalCompilationTime() / 1000


def jvm_live_heap_mb(spark) -> float:
    """Driver heap still in use after a full collection: what the
    engine and the Spark state it built keep alive. Python's collector
    runs first: a DataFrame the driver no longer references still pins
    its JVM plan (and broadcasts) until its py4j proxy is collected."""
    import gc

    jvm = spark._jvm
    gc.collect()
    jvm.java.lang.System.gc()
    time.sleep(1)  # Spark's cleaner releases what the first collection freed
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "crawler_spark")):
        print(f"perfbench: no crawler_spark package under {ROOT}; run from "
              "the repository root of a full checkout", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    os.makedirs(os.path.join(workdir, "tmp"))
    # the gateway's temp files and the python workers' imports
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)
    import host as H

    try:
        try:
            hostinfo = H.size_host(workdir)
        except H.HostTooSmall as exc:
            print(f"perfbench: {exc}", file=sys.stderr)
            return 3
        result, meta = run(args, hostinfo, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass
    print(json.dumps({"meta": meta}, default=str))
    print(json.dumps(result))
    return 0


def run(args, hostinfo: dict, workdir: str) -> tuple[dict, dict]:
    import host as H
    import workloads as W

    seed, trace = args.seed, bool(args.trace)
    world = W.world_for(args.workload, args.toy)
    spark = spark_session(hostinfo, workdir, args.workload, trace)
    session_s = time.time() - T_START
    try:
        # set-up: world generation, the seed write, the set-up epoch
        t = time.perf_counter()
        urls = W.seed_urls(world, seed)
        store, robots = W.write_seeds(spark, os.path.join(workdir, "store"), world, urls)
        seed_write_s = time.perf_counter() - t
        W.setup_epoch(spark, store, robots, world)
        setup_s = time.time() - T_START

        pid = os.getpid()
        if trace:
            import layers as L

            tracer = L.Tracer(spark)
            with tracer.installed():
                ops = W.timed_loop(spark, store, robots, world, seed, args.seconds)
        else:
            j0, c0, v0 = H.cpu_jiffies(), H.tree_cpu_s(pid), jvm_gc_jit_s(spark)
            with H.RssSampler(pid) as rss:
                ops = W.timed_loop(spark, store, robots, world, seed, args.seconds)
            cpu_s = H.tree_cpu_s(pid) - c0
            j1, v1 = H.cpu_jiffies(), jvm_gc_jit_s(spark)
            live_mb = jvm_live_heap_mb(spark)
    finally:
        stop_spark(spark)
    store_dir = str(store.root)
    problems = W.check_store(store_dir, world, urls, ops, seed)
    meta = {
        "workload": args.workload, "seed": seed, "host": hostinfo,
        "setup": {"session_s": session_s, "seed_write_s": seed_write_s, "setup_s": setup_s},
        "ops": [op.__dict__ for op in ops], "problems": problems,
    }
    if trace:
        metrics, lines = L.layer_metrics(
            tracer, L.read_event_log(os.path.join(workdir, "events")), store_dir,
            world.config(), seed)
        print(L.table(metrics))
        print("\n".join(lines))
        units = L.LAYER_METRICS
        return outcome(ops, problems, {k: (v, units[k]) for k, v in metrics.items()}), meta
    meta.update(cpu_s=cpu_s, telemetry={
        **H.telemetry(j0, j1), "jvm_gc_s": v1[0] - v0[0], "jvm_jit_s": v1[1] - v0[1],
        "peak_rss_mb": rss.peak_mb})
    epochs = [op for op in ops if op.kind == "epoch" and not op.error]
    wall = sum(op.s for op in ops)
    fetched = sum(op.stats["fetched_ok"] for op in epochs)
    metrics = {
        "setup_s": (setup_s, "s"),
        "fetched_rows_per_s": (fetched / wall, "1/s"),
        "candidates_per_s": (sum(op.stats["candidates"] for op in epochs) / wall, "1/s"),
        "epoch_s_p50": (statistics.median(op.s for op in epochs) if epochs else wall, "s"),
        "cpu_ms_per_row": (1000 * cpu_s / max(fetched, 1), "ms"),
        "heap_live_mb": (live_mb, "MB"),
    }
    return outcome(ops, problems, metrics), meta


def outcome(ops, problems: list[str], metrics: dict) -> dict:
    failed = sum(1 for op in ops if op.error)
    return {
        "correct": failed == 0 and not problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
