import os
import shutil

import pytest
from pyspark.sql import functions as F

from crawler_spark.functions.url import host_bucket
from crawler_spark.operators import admission
from crawler_spark.session import get_spark


def _cpus() -> int:
    """local[N] for the test session: SPARK_GRAFT_CPUS when set (the
    variable bench.py reads), else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


@pytest.fixture(scope="session")
def spark():
    n = _cpus()
    s = get_spark(n, app_name="crawler_spark_tests", shuffle_partitions=n)
    yield s
    s.stop()


@pytest.fixture()
def store_dir(tmp_path):
    d = tmp_path / "snapshots"
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


def _check_lineage(store, epoch, num_buckets, robots_rules):
    """Assert the metrics table's per-bucket candidates/admitted of
    ``epoch`` equal an independent recount: count_distinct(url_hash)
    per host_bucket over the raw (pre-dedup) candidate union, and over
    the exact admission (no seen filter) of that union."""
    failed = store.read_upto("failed", epoch - 1)
    fresh = (
        store.read_upto("frontier", epoch - 1)
        .select("url_canon", "url_hash", "host", "depth", "parent_url")
        .join(failed.select("url_hash"), "url_hash", "left_anti")
    )
    raw = fresh.unionByName(admission.retry_candidates(failed).drop("attempts"))
    visited = store.read_upto("visited", epoch - 1).select("url_hash")
    admitted = admission.admit(raw, visited, robots_rules=robots_rules, bloom=None)

    def per_bucket(df):
        b = host_bucket(F.col("host"), num_buckets)
        return dict(df.groupBy(b).agg(F.count_distinct("url_hash")).collect())

    m = store.read_upto("metrics", epoch).filter(F.col("epoch") == epoch).collect()
    got_c = {r.host_bucket: r.candidates for r in m if r.candidates}
    got_a = {r.host_bucket: r.admitted for r in m if r.admitted}
    assert got_c == per_bucket(raw), f"epoch {epoch} candidates"
    assert got_a == per_bucket(admitted), f"epoch {epoch} admitted"


@pytest.fixture(scope="session")
def check_lineage():
    return _check_lineage
