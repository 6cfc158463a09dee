"""get_spark() default sizing follows the CPU affinity mask.

With ``cores="*"`` the JVM's local[*] sees the CPUs in the process's
affinity set (e.g. under ``taskset``), so the default shuffle-partition
count must come from the same set, not from the machine's CPU count.

Runs in a SUBPROCESS: the affinity restriction must precede the JVM
launch, and getOrCreate() would otherwise return the suite's session.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import os, sys
sys.path.insert(0, %(repo)r)
os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})
from crawler_spark.session import get_spark

spark = get_spark(app_name="affinity-sizing")
print("SHUFFLE_PARTITIONS=" + spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""


def test_default_sizing_follows_affinity():
    p = subprocess.run(
        [sys.executable, "-c", CHILD % {"repo": REPO}],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert "SHUFFLE_PARTITIONS=1\n" in p.stdout, p.stdout[-2000:]
