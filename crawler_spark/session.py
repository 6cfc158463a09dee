"""SparkSession factory tuned for the frontier engine.

Local-mode defaults mirror what a multi-executor submit would set via
spark-submit conf: AQE on (runtime coalesce + skew-join splitting),
Arrow enabled for every pandas UDF exchange, shuffle partitions sized
to the core count rather than the 200 default.

Python workers fork from ``crawler_spark.worker_daemon``
(``spark.python.daemon.module``), which stops every task from
re-reading pyspark.zip: ~0.2 s of CPU per task on CPython < 3.12 (see
that module). The daemon starts before any task, so ``crawler_spark``
must be importable where the workers run, as the UDFs already require:
the working directory in local mode, ``PYTHONPATH``, an installed
package, or ``spark.executorEnv.PYTHONPATH``. ``--py-files`` arrives
with the first task, too late for the daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    cores: int | str = "*",
    app_name: str = "crawler_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` is the local[N] parallelism; shuffle partitions default
    to the core count (local mode has no network shuffle — more
    partitions than cores only adds scheduling overhead, fewer starves
    the executors). With ``cores="*"`` that is the CPUs in this
    process's affinity set, the count the JVM's local[*] also sees.

    ``master`` overrides the local[N] master string, e.g.
    ``local-cluster[N,C,M]`` (separate executor JVMs on one machine) or,
    in a real deployment, wherever spark-submit's --master points.
    """
    if shuffle_partitions is None:
        ncpu = len(os.sched_getaffinity(0))
        shuffle_partitions = ncpu if cores == "*" else int(cores)
    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # NB: keep the heap modest. A 48g dynamically-grown G1 heap
        # measured 2M rows/s at local[32] vs 158M rows/s with 8g on the
        # same query (page-fault/GC thrash while the heap inflates under
        # 32 allocating threads). The engine streams its payload to
        # parquet rather than caching it, so a big heap buys nothing.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # pin explicitly (it IS the Spark default, but the per-epoch
        # fixed cost depends on it): python workers persist across
        # tasks, so the Arrow UDF stages pay interpreter+import startup
        # once per executor core, not once per task — with reuse off,
        # each epoch's fetch/bloom stages would re-fork one python per
        # core and every epoch would pay the respawn time
        .config("spark.python.worker.reuse", "true")
        # workers fork from a daemon that stops each task re-reading
        # pyspark.zip; it must import crawler_spark (module docstring)
        .config("spark.python.daemon.module", "crawler_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
