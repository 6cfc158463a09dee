"""spark-submit entry point for the frontier crawl.

Cluster deployment (the north-rule shape):

    zip -r crawler_spark.zip crawler_spark
    spark-submit --py-files crawler_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        jobs/crawl_job.py --snapshot-dir s3://bucket/crawl \
        --num-seeds 1000000 --num-hosts 50000 --epochs 100

This path builds its own session, so its Python workers fork from
Spark's own daemon: ``--py-files`` ships the package with the first
task, after the daemon has started, and a daemon that cannot import
``crawler_spark`` fails every Python stage. To use the engine's
daemon (``crawler_spark/worker_daemon.py``, which saves each task
~0.2 s of CPU re-reading pyspark.zip on CPython < 3.12), install the
package on the executors and add
``--conf spark.python.daemon.module=crawler_spark.worker_daemon``.
``--local-cores`` uses ``get_spark``, which sets it.

Local smoke:

    python jobs/crawl_job.py --snapshot-dir /tmp/crawl --num-seeds 1000 \
        --epochs 3 --local-cores 8

Resume (F16): re-running with the same --snapshot-dir continues from
the last committed epoch — no flag needed; the manifest is the truth.
Interrupting mid-epoch is safe (uncommitted output is overwritten).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="PySpark frontier crawl")
    ap.add_argument("--snapshot-dir", required=True)
    ap.add_argument("--num-seeds", type=int, default=10_000)
    ap.add_argument("--num-hosts", type=int, default=1_000)
    ap.add_argument("--seeds-parquet", help="URL column parquet instead of synthetic seeds")
    ap.add_argument("--epochs", type=int, default=5)
    ap.add_argument("--epoch-budget", type=int, default=0, help="0 = unbounded")
    ap.add_argument("--epoch-seconds", type=float, default=60.0)
    ap.add_argument("--max-depth", type=int, default=5)
    ap.add_argument("--use-bloom", action="store_true")
    ap.add_argument("--no-robots", action="store_true")
    ap.add_argument("--num-buckets", type=int, default=64)
    ap.add_argument("--local-cores", default=None, help="run on local[N] instead of the submitted master")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from crawler_spark import fixtures as fx
    from crawler_spark.epoch import EpochConfig, run_crawl
    from crawler_spark.state.snapshots import SnapshotStore

    if args.local_cores is not None:
        from crawler_spark.session import get_spark

        spark = get_spark(args.local_cores)
    else:
        spark = SparkSession.builder.appName("crawler_spark").getOrCreate()

    cfg = EpochConfig(
        max_depth=args.max_depth,
        epoch_seconds=args.epoch_seconds,
        epoch_budget=args.epoch_budget or None,
        num_buckets=args.num_buckets,
        respect_robots=not args.no_robots,
        use_bloom=args.use_bloom,
    )
    store = SnapshotStore(spark, args.snapshot_dir)
    if args.seeds_parquet:
        seeds = spark.read.parquet(args.seeds_parquet)
    else:
        seeds = fx.seeds_df(spark, args.num_seeds, num_hosts=args.num_hosts)
    robots = fx.robots_rules_df(spark, num_hosts=args.num_hosts)

    stats = run_crawl(
        spark, store, seeds, cfg, num_epochs=args.epochs, robots_rules=robots
    )
    for s in stats:
        print(json.dumps(s))
    total_ok = sum(s["fetched_ok"] for s in stats)
    total_ms = sum(s["wall_ms"] for s in stats)
    print(
        json.dumps(
            {
                "epochs": len(stats),
                "fetched_ok": total_ok,
                "rows_per_sec": round(total_ok / max(total_ms / 1000, 1e-9), 1),
                "resumed_from": store.latest_epoch() - len(stats),
            }
        )
    )


if __name__ == "__main__":
    main()
