"""Executor-cluster smoke: the multi-JVM deployment's moving parts.

``get_spark(master=...)`` can start a local-cluster[N,C,M] — separate
executor JVMs whose python workers do NOT inherit the driver's sys.path
(unlike local[N]). The package must reach them the way spark-submit
--py-files would: via spark.executorEnv.PYTHONPATH. This test pins that
wiring: a pandas UDF that imports crawler_spark runs on a real
2-executor local-cluster.

Runs in a SUBPROCESS: SparkSession.getOrCreate() silently ignores a
different master when a session is already active, so an in-process
test could "pass" against the suite's shared local[*] session without
ever touching a cluster.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import sys
sys.path.insert(0, %(repo)r)
from crawler_spark.session import get_spark

spark = get_spark(
    2,
    app_name="exec-smoke",
    shuffle_partitions=4,
    master="local-cluster[2,2,2048]",
    extra_conf={
        "spark.executor.memory": "2g",
        "spark.executorEnv.PYTHONPATH": %(repo)r,
    },
)

def probe(it):
    # runs inside an EXECUTOR python worker — the import fails unless
    # executorEnv.PYTHONPATH shipped the package
    from crawler_spark.functions import url as _url  # noqa: F401
    for pdf in it:
        yield pdf

n = (
    spark.range(8)
    .repartition(4)
    .selectExpr("id")
    .mapInPandas(probe, schema="id long")
    .count()
)
assert n == 8, n
execs = spark._jsc.sc().getExecutorMemoryStatus().size()
# driver + 2 executors
assert execs >= 3, execs
spark.stop()
print("EXEC_SMOKE_OK")
"""


def test_local_cluster_ships_package():
    p = subprocess.run(
        [sys.executable, "-c", CHILD % {"repo": REPO}],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert "EXEC_SMOKE_OK" in p.stdout
