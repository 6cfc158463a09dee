"""Toy-scale self-test of the benchmark (tens of seeds, one timed
cycle): every metric BENCHMARK.json names is emitted with its unit, no
operation fails, each layer moves on the workload README.md says it
does, and a checkout without the engine is refused.

    python3 -m pytest perfbench/test_benchmark.py -q

Each case starts a fresh Spark JVM, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


# layer metrics that must be non-zero in a traced run of each workload
# (README.md's layer table); the seen-filter layers must be zero on
# crawl_wide, whose filter never engages
COMMON = [
    "fetch.write.s", "fetch.rows", "fetch.ok_ratio", "fetch.payload_mb", "fetch.files",
    "fetch.task_s_p50", "fetch.task_s_max", "fetch.fixture_us_per_row",
    "fetch.overhead_us_per_row", "epoch.lineage.s", "epoch.emit_links.rows_out",
    "snapshots.write_table.frontier.s", "snapshots.write_table.frontier.rows",
    "snapshots.write_table.metrics.s", "snapshots.write_table.metrics.rows",
    "snapshots.write_table.failed.s", "epoch.dedup_candidates.rows_in",
    "epoch.dedup_candidates.rows_out", "admission.admit.rows_out",
    "schedule.select_epoch.rows_out", "snapshots.read_upto.s", "snapshots.read_upto.calls",
    "snapshots.commit_epoch.s", "epoch.run_epoch.s", "epoch.run_epoch.self_s",
    "snapshots.store_mb", "snapshots.bytes_per_fetched_row", "trace.overhead_s",
    "fetch.write.tasks", "fetch.write.task_cpu_s", "epoch.lineage.tasks",
    "epoch.lineage.task_cpu_s",
]
SEEN_FILTER = [
    "bloom.seen_build.s", "bloom.seen_build.keys", "bloom.cand_build.s",
    "bloom.cand_build.keys", "bloom.filter_mb", "bloom.fpp_observed",
    "snapshots.visited_delta_keys.s", "snapshots.seen_filter_io.s",
    "cuckoo.build.s", "cuckoo.build.keys", "cuckoo.delete.s", "cuckoo.delete.keys",
    "cuckoo.load_factor", "snapshots.recrawl_hashes.s", "snapshots.recrawl_hashes.keys",
    "recrawl.s_p50", "bloom.seen_build.tasks", "bloom.cand_build.tasks", "cuckoo.build.tasks",
]
MOVES = {"crawl_wide": (COMMON, SEEN_FILTER), "recrawl_churn": (COMMON + SEEN_FILTER, [])}


def run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable] + BENCH["command"][1:] + [
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--toy"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_toy_run_emits_every_metric(workload, trace):
    out = run_bench(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"], out.stdout[-3000:]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    assert set(got) == set(want)
    for name, unit in want.items():
        assert got[name]["unit"] == unit, name
        assert isinstance(got[name]["value"], (int, float)), name
    if not trace:
        assert all(got[name]["value"] > 0 for name in want)
    else:
        nonzero, zero = MOVES[workload]
        assert [n for n in nonzero if got[n]["value"] == 0] == []
        assert [n for n in zero if got[n]["value"] != 0] == []


def test_incomplete_checkout_is_refused(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    out = run_bench(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
