"""Traced run: per-layer metrics from spans and Spark's event log.

The tracer wraps each layer's public function from outside the engine
(module and class attributes are swapped while the traced section
runs). A wrapper records a span and sets ``SparkContext.addJobTag`` in
the calling thread, so every Spark job the layer launches carries the
span's tag; the event log (uncompressed, benchmark-side conf) is then
folded per tag. Rules that follow from the engine's structure:

* ``fetch_write_plan`` only plans; the ``collect()`` that runs the
  fetch comes right after it in ``run_epoch``. Its span (``fetch.write``)
  stays open in that thread until the next wrapped call.
* Jobs with no tag that start inside an epoch after its fetch are
  ``epoch.lineage``: the per-bucket lineage aggregate (with its second
  admission pass) and the new-frontier count.
* ``dedup_candidates``, ``admit``, ``select_epoch`` and ``emit_links``
  return lazy DataFrames. Their wrappers push the input and the output
  through the noop writer; the layer's ``.s`` is output cost minus
  input cost.
* Probe work (those noop writes, the key counts, the seen filter's
  false-positive probe) runs after the layer's span has closed, carries
  its own job tag and is billed to no layer: a span's ``.s`` covers
  only the layer's call. Written row counts come from the parquet
  footers, with no Spark job. The per-epoch reconciliation lists probe
  time apart from the child spans and the self time.

Per-layer values are per traced epoch (sums divided by the epoch
count). ``trace.overhead_s`` is the probe wall per traced epoch: what
the tracer adds to an epoch beside the event log and the wrappers'
bookkeeping (microseconds per call).
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from crawler_spark import epoch as E
from crawler_spark import fixtures as fx
from crawler_spark.operators import admission, fetch, schedule
from crawler_spark.state.bloom import BloomSeenSet
from crawler_spark.state.cuckoo import CuckooSeenSet
from crawler_spark.state.snapshots import SnapshotStore

PROBE_TAG = "pb-probe"
# spans whose Spark jobs are folded into task metrics
JOB_SPANS = (
    "fetch.write", "epoch.lineage", "snapshots.write_table.failed",
    "snapshots.write_table.frontier", "bloom.seen_build", "bloom.cand_build",
    "cuckoo.build",
)
JOB_FIELDS = (("tasks", "count"), ("task_cpu_s", "s"), ("gc_s", "s"),
              ("shuffle_mb", "MB"), ("spill_mb", "MB"))

# every per-layer metric with its unit (BENCHMARK.json's per_layer)
LAYER_METRICS = {
    "fetch.write.s": "s", "fetch.rows": "count", "fetch.ok_ratio": "ratio",
    "fetch.payload_mb": "MB", "fetch.files": "count",
    "fetch.task_s_p50": "s", "fetch.task_s_max": "s",
    "fetch.fixture_us_per_row": "us", "fetch.overhead_us_per_row": "us",
    "epoch.lineage.s": "s", "epoch.emit_links.s": "s",
    "epoch.emit_links.rows_out": "count",
    "snapshots.write_table.failed.s": "s", "snapshots.write_table.failed.rows": "count",
    "snapshots.write_table.frontier.s": "s", "snapshots.write_table.frontier.rows": "count",
    "snapshots.write_table.metrics.s": "s", "snapshots.write_table.metrics.rows": "count",
    "epoch.dedup_candidates.s": "s", "epoch.dedup_candidates.rows_in": "count",
    "epoch.dedup_candidates.rows_out": "count",
    "admission.admit.s": "s", "admission.admit.rows_out": "count",
    "admission.admit_lineage.s": "s", "admission.admitted_ratio": "ratio",
    "schedule.select_epoch.s": "s", "schedule.select_epoch.rows_out": "count",
    "schedule.selected_ratio": "ratio",
    "bloom.seen_build.s": "s", "bloom.seen_build.keys": "count",
    "bloom.cand_build.s": "s", "bloom.cand_build.keys": "count",
    "bloom.filter_mb": "MB", "bloom.fpp_observed": "ratio", "bloom.fpp_configured": "ratio",
    "snapshots.visited_delta_keys.s": "s", "snapshots.seen_filter_io.s": "s",
    "cuckoo.build.s": "s", "cuckoo.build.keys": "count",
    "cuckoo.delete.s": "s", "cuckoo.delete.keys": "count",
    "cuckoo.load_factor": "ratio", "cuckoo.fpp_observed": "ratio",
    "snapshots.recrawl_hashes.s": "s", "snapshots.recrawl_hashes.keys": "count",
    "snapshots.read_upto.s": "s", "snapshots.read_upto.calls": "count",
    "snapshots.commit_epoch.s": "s",
    "epoch.run_epoch.s": "s", "epoch.run_epoch.self_s": "s",
    "recrawl.s_p50": "s",
    "snapshots.store_mb": "MB", "snapshots.bytes_per_fetched_row": "B",
    "trace.overhead_s": "s",
    **{f"{span}.{f}": u for span in JOB_SPANS for f, u in JOB_FIELDS},
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    root: int | None  # the run_epoch / recrawl span this one is inside
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.local = threading.local()
        self.lock = threading.Lock()
        self.root: Span | None = None
        self.probes: list[tuple[float, float]] = []  # probe wall intervals
        # id(df) -> (df, seconds, rows): a lazy layer's output is often
        # the next one's input
        self.materialized: dict[int, tuple] = {}
        self.seen_filters: list[tuple[str, object, float]] = []  # (kind, filter, fpp)

    # -- spans ----------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self.local, "stack"):
            self.local.stack = []
        return self.local.stack

    def _close_pending(self) -> None:
        pending = getattr(self.local, "pending", None)
        if pending is not None:
            self.local.pending = None
            self.close(pending)

    def open(self, name: str, root: bool = False) -> Span:
        self._close_pending()
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self.lock:
            span = Span(len(self.spans), name, time.time(),
                        parent.id if parent else None,
                        None if root or self.root is None else self.root.id)
            self.spans.append(span)
        if root:
            self.root = span
        stack.append(span)
        self.sc.addJobTag(f"pb{span.id}")
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        if span in stack:
            stack.remove(span)
        self.sc.removeJobTag(f"pb{span.id}")
        if self.root is span:
            self.root = None

    def leave_open(self, span: Span) -> None:
        """Keep ``span`` (and its tag) open in this thread until the next
        wrapped call starts here."""
        self._stack().remove(span)
        self.local.pending = span

    @contextmanager
    def span(self, name: str, root: bool = False):
        sp = self.open(name, root=root)
        try:
            yield sp
        finally:
            if root:
                self._close_pending()
            self.close(sp)

    def in_epoch(self) -> bool:
        return self.root is not None and self.root.name == "epoch.run_epoch"

    # -- probes ---------------------------------------------------------------

    @contextmanager
    def _probe(self):
        self.sc.addJobTag(PROBE_TAG)
        t = time.time()
        try:
            yield
        finally:
            self.sc.removeJobTag(PROBE_TAG)
            with self.lock:
                self.probes.append((t, time.time()))

    def materialize(self, df) -> tuple[float, int]:
        """Noop-write ``df``; return (seconds, rows)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if id(df) in self.materialized:
            return self.materialized[id(df)][1:]
        obs = Observation()
        with self._probe():
            t = time.perf_counter()
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite").save()
            s = time.perf_counter() - t
        self.materialized[id(df)] = (df, s, int(obs.get["n"]))
        return s, int(obs.get["n"])

    # -- wrappers -------------------------------------------------------------

    @contextmanager
    def installed(self):
        patches = self._patches()
        saved = [(obj, attr, obj.__dict__[attr]) for obj, attr, _ in patches]
        for obj, attr, new in patches:
            setattr(obj, attr, new)
        try:
            yield self
        finally:
            for obj, attr, old in saved:
                setattr(obj, attr, old)

    def _patches(self) -> list:
        tr = self
        run_epoch, recrawl = E.run_epoch, E.recrawl
        dedup, emit, seen_filter = E.dedup_candidates, E.emit_links, E._seen_filter_for_epoch
        admit, select, fwp = admission.admit, schedule.select_epoch, fetch.fetch_write_plan
        bloom_build = BloomSeenSet.__dict__["build"].__func__
        cuckoo_build = CuckooSeenSet.__dict__["build"].__func__
        cuckoo_delete = CuckooSeenSet.delete
        st = {m: SnapshotStore.__dict__[m] for m in (
            "read_upto", "read_table", "write_table", "commit_epoch",
            "visited_delta_keys", "recrawl_hashes", "save_seen_filter",
            "load_seen_filter")}

        def w_run_epoch(*a, **k):
            with tr.span("epoch.run_epoch", root=True) as sp:
                sp.attrs["admit_calls"] = 0
                out = run_epoch(*a, **k)
                sp.attrs["stats"] = out
                return out

        def w_recrawl(*a, **k):
            with tr.span("recrawl", root=True):
                return recrawl(*a, **k)

        def lazy(name, fn):
            def wrapper(*a, **k):
                if not tr.in_epoch():
                    return fn(*a, **k)
                with tr.span(name) as sp:
                    out = fn(*a, **k)
                t_in, n_in = tr.materialize(a[0])
                t_out, n_out = tr.materialize(out)
                sp.attrs.update(lazy_s=t_out - t_in, rows_in=n_in, rows_out=n_out)
                return out
            return wrapper

        w_dedup = lazy("epoch.dedup_candidates", dedup)
        w_emit = lazy("epoch.emit_links", emit)
        w_select = lazy("schedule.select_epoch", select)

        def w_admit(*a, **k):
            if not tr.in_epoch():
                return admit(*a, **k)
            tr.root.attrs["admit_calls"] += 1
            first = tr.root.attrs["admit_calls"] == 1
            return lazy("admission.admit" if first else "admission.admit_lineage", admit)(*a, **k)

        def w_fwp(*a, **k):
            sp = tr.open("fetch.write")
            try:
                return fwp(*a, **k)
            finally:
                tr.leave_open(sp)

        def w_seen_filter(store, epoch, cfg_, est, visited):
            with tr.span("epoch.seen_filter"):
                flt, kind = seen_filter(store, epoch, cfg_, est, visited)
            if flt is not None:
                # probe with this epoch's candidates that are not
                # visited: every hit is a false positive
                cand = tr.root.attrs["cand_keys"]
                with tr._probe():
                    new = cand.distinct().join(visited.select("url_hash"),
                                               "url_hash", "left_anti")
                    keys = new.toPandas()["url_hash"].to_numpy(dtype=np.int64)
                fpp = float(flt.might_contain(keys).mean()) if keys.size else 0.0
                tr.seen_filters.append((kind, flt, fpp))
            return flt, kind

        def w_bloom_build(cls, df, *a, **k):
            # run_epoch builds the candidate bloom itself, the seen bloom
            # inside _seen_filter_for_epoch
            seen = tr._stack() and tr._stack()[-1].name == "epoch.seen_filter"
            if not seen and tr.root is not None:
                tr.root.attrs["cand_keys"] = df
            with tr.span("bloom.seen_build" if seen else "bloom.cand_build") as sp:
                out = bloom_build(cls, df, *a, **k)
            sp.attrs["keys"] = bloom_keys(out)
            return out

        def w_cuckoo_build(cls, df, *a, **k):
            with tr.span("cuckoo.build") as sp:
                out = cuckoo_build(cls, df, *a, **k)
            sp.attrs["keys"] = int((out.table != 0).sum())  # one slot per inserted key
            return out

        def w_cuckoo_delete(self_, keys):
            with tr.span("cuckoo.delete") as sp:
                sp.attrs["keys"] = len(keys)
                return cuckoo_delete(self_, keys)

        def timed(name, fn, keys=False):
            def wrapper(*a, **k):
                with tr.span(name) as sp:
                    out = fn(*a, **k)
                    if keys:
                        sp.attrs["keys"] = len(out)
                    return out
            return wrapper

        def w_write_table(self_, epoch, name, df, *a, **k):
            with tr.span(f"snapshots.write_table.{name}") as sp:
                out = st["write_table"](self_, epoch, name, df, *a, **k)
            parts = glob.glob(os.path.join(str(self_.root), name, f"epoch={epoch}", "*.parquet"))
            sp.attrs["rows"] = sum(pq.ParquetFile(f).metadata.num_rows for f in parts)
            return out

        return [
            (E, "run_epoch", w_run_epoch), (E, "recrawl", w_recrawl),
            (E, "dedup_candidates", w_dedup), (E, "emit_links", w_emit),
            (E, "_seen_filter_for_epoch", w_seen_filter),
            (admission, "admit", w_admit), (schedule, "select_epoch", w_select),
            (fetch, "fetch_write_plan", w_fwp),
            (BloomSeenSet, "build", classmethod(w_bloom_build)),
            (CuckooSeenSet, "build", classmethod(w_cuckoo_build)),
            (CuckooSeenSet, "delete", w_cuckoo_delete),
            (SnapshotStore, "write_table", w_write_table),
            (SnapshotStore, "read_upto", timed("snapshots.read_upto", st["read_upto"])),
            (SnapshotStore, "read_table", timed("snapshots.read_table", st["read_table"])),
            (SnapshotStore, "commit_epoch", timed("snapshots.commit_epoch", st["commit_epoch"])),
            (SnapshotStore, "visited_delta_keys",
             timed("snapshots.visited_delta_keys", st["visited_delta_keys"])),
            (SnapshotStore, "recrawl_hashes",
             timed("snapshots.recrawl_hashes", st["recrawl_hashes"], keys=True)),
            (SnapshotStore, "save_seen_filter",
             timed("snapshots.seen_filter_io", st["save_seen_filter"])),
            (SnapshotStore, "load_seen_filter",
             timed("snapshots.seen_filter_io", st["load_seen_filter"])),
        ]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    tags: set
    start: float
    end: float = 0.0
    tasks: list = field(default_factory=list)  # Task Metrics dicts + type


def read_event_log(events_dir: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 writes a rolling log: one directory of events_<n>_* files
    paths = glob.glob(os.path.join(events_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)
                       and not os.path.basename(p).startswith("appstatus")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    tags = ev.get("Properties", {}).get("spark.job.tags", "")
                    job = Job(ev["Job ID"], {t for t in tags.split(",") if t},
                              ev["Submission Time"] / 1000)
                    jobs[job.id] = job
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, job.id)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is not None:
                        jobs[jid].tasks.append((ev["Task Type"], ev["Task Metrics"]))
    return list(jobs.values())


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _job_owner(job: Job, tracer: Tracer, epochs: list[Span]) -> str | None:
    if PROBE_TAG in job.tags:
        return None
    ids = [int(t[2:]) for t in job.tags if t.startswith("pb") and t[2:].isdigit()]
    if ids:
        return tracer.spans[max(ids)].name
    for ep in epochs:
        fetch_spans = [s for s in tracer.spans if s.root == ep.id and s.name == "fetch.write"]
        if ep.start <= job.start <= ep.end and fetch_spans and job.start >= fetch_spans[0].start:
            return "epoch.lineage"
    return None


def bloom_keys(flt: BloomSeenSet) -> float:
    """Distinct keys in a bloom filter, from its fill: n = -(m/k) ln(1 - X/m)
    for X set bits of m (no Spark job)."""
    m, x = flt.num_bits, int(np.unpackbits(flt.bits).sum())
    return -m / flt.num_hashes * math.log(1 - x / m) if x < m else float(m)


def fixture_us_per_row(seed: int, rows: int = 2000) -> float:
    """``fixtures.py_fetch_payload`` alone, on seed-chosen url_hashes."""
    rng = random.Random(seed)
    hashes = [rng.getrandbits(63) - (1 << 62) for _ in range(rows)]
    t = time.perf_counter()
    for h in hashes:
        fx.py_fetch_payload(h)
    return (time.perf_counter() - t) / rows * 1e6


def layer_metrics(tracer: Tracer, jobs: list[Job], store_dir: str, cfg,
                  seed: int) -> tuple[dict, list[str]]:
    """Fold spans and jobs into LAYER_METRICS; also return the per-epoch
    reconciliation lines (children + self = run_epoch wall)."""
    spans = tracer.spans
    epochs = [s for s in spans if s.name == "epoch.run_epoch"]
    k = max(len(epochs), 1)
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        if s.root is not None and spans[s.root].name == "epoch.run_epoch":
            by_name.setdefault(s.name, []).append(s)
    owned: dict[str, list[Job]] = {}
    for job in jobs:
        owner = _job_owner(job, tracer, epochs)
        if owner:
            owned.setdefault(owner, []).append(job)

    def total(name, attr=None):
        ss = by_name.get(name, [])
        return sum((s.attrs.get(attr, 0) if attr else s.s) for s in ss) / k

    m: dict[str, float] = {}
    stats = [s.attrs.get("stats", {}) for s in epochs]
    selected = sum(st.get("selected", 0) for st in stats)
    ok = sum(st.get("fetched_ok", 0) for st in stats)
    m["fetch.write.s"] = total("fetch.write")
    m["fetch.rows"] = selected / k
    m["fetch.ok_ratio"] = ok / selected if selected else 0.0
    files = [f for ep in stats for f in glob.glob(
        os.path.join(store_dir, "fetched", f"epoch={ep.get('epoch')}", "part-*"))]
    m["fetch.payload_mb"] = sum(os.path.getsize(f) for f in files) / 2**20 / k
    m["fetch.files"] = len(files) / k
    fetch_tasks = [t for j in owned.get("fetch.write", []) for typ, t in j.tasks
                   if typ == "ResultTask"]
    run_s = [t["Executor Run Time"] / 1000 for t in fetch_tasks]
    m["fetch.task_s_p50"] = statistics.median(run_s) if run_s else 0.0
    m["fetch.task_s_max"] = max(run_s, default=0.0)
    m["fetch.fixture_us_per_row"] = fixture_us_per_row(seed)
    m["fetch.overhead_us_per_row"] = (
        sum(run_s) / selected * 1e6 - m["fetch.fixture_us_per_row"] if selected else 0.0)
    lineage = owned.get("epoch.lineage", [])
    m["epoch.lineage.s"] = _union([(j.start, j.end) for j in lineage]) / k
    for name in ("epoch.emit_links", "epoch.dedup_candidates", "admission.admit",
                 "admission.admit_lineage", "schedule.select_epoch"):
        m[f"{name}.s"] = total(name, "lazy_s")
    m["epoch.emit_links.rows_out"] = total("epoch.emit_links", "rows_out")
    m["epoch.dedup_candidates.rows_in"] = total("epoch.dedup_candidates", "rows_in")
    m["epoch.dedup_candidates.rows_out"] = total("epoch.dedup_candidates", "rows_out")
    m["admission.admit.rows_out"] = total("admission.admit", "rows_out")
    m["schedule.select_epoch.rows_out"] = total("schedule.select_epoch", "rows_out")
    d_out = m["epoch.dedup_candidates.rows_out"]
    a_out = m["admission.admit.rows_out"]
    m["admission.admitted_ratio"] = a_out / d_out if d_out else 0.0
    m["schedule.selected_ratio"] = m["schedule.select_epoch.rows_out"] / a_out if a_out else 0.0
    for t in ("failed", "frontier", "metrics"):
        m[f"snapshots.write_table.{t}.s"] = total(f"snapshots.write_table.{t}")
        m[f"snapshots.write_table.{t}.rows"] = total(f"snapshots.write_table.{t}", "rows")
    for name in ("bloom.seen_build", "bloom.cand_build", "cuckoo.build", "cuckoo.delete",
                 "snapshots.recrawl_hashes"):
        m[f"{name}.s"] = total(name)
        m[f"{name}.keys"] = total(name, "keys")
    blooms = [(f, p) for kind, f, p in tracer.seen_filters if kind == "bloom"]
    cuckoos = [(f, p) for kind, f, p in tracer.seen_filters if kind == "cuckoo"]
    m["bloom.filter_mb"] = statistics.mean(len(f.bits) / 2**20 for f, _ in blooms) if blooms else 0.0
    m["bloom.fpp_observed"] = statistics.mean(p for _, p in blooms) if blooms else 0.0
    m["bloom.fpp_configured"] = cfg.bloom_fpp
    m["cuckoo.load_factor"] = (statistics.mean(float((f.table != 0).mean()) for f, _ in cuckoos)
                               if cuckoos else 0.0)
    m["cuckoo.fpp_observed"] = statistics.mean(p for _, p in cuckoos) if cuckoos else 0.0
    m["snapshots.visited_delta_keys.s"] = total("snapshots.visited_delta_keys")
    m["snapshots.seen_filter_io.s"] = total("snapshots.seen_filter_io")
    m["snapshots.read_upto.s"] = total("snapshots.read_upto")
    m["snapshots.read_upto.calls"] = len(by_name.get("snapshots.read_upto", [])) / k
    m["snapshots.commit_epoch.s"] = total("snapshots.commit_epoch")
    m["epoch.run_epoch.s"] = sum(ep.s for ep in epochs) / k
    lines, self_s, probe_total = [], 0.0, 0.0
    for ep in epochs:
        kids = [(s.start, s.end) for s in spans if s.parent == ep.id]
        kids += [(max(j.start, ep.start), min(j.end, ep.end)) for j in lineage
                 if ep.start <= j.start <= ep.end]
        probes = [p for p in tracer.probes if ep.start <= p[0] <= ep.end]
        probe_s = _union(probes)
        probe_total += probe_s
        covered = _union(kids + probes)
        self_s += ep.s - covered
        lines.append(f"epoch {ep.attrs.get('stats', {}).get('epoch')}: run_epoch {ep.s:.3f} s"
                     f" = child spans {covered - probe_s:.3f} s + probes {probe_s:.3f} s"
                     f" + self {ep.s - covered:.3f} s")
    m["epoch.run_epoch.self_s"] = self_s / k
    rc = [s.s for s in spans if s.name == "recrawl"]
    m["recrawl.s_p50"] = statistics.median(rc) if rc else 0.0
    store_bytes = sum(os.path.getsize(f) for f in glob.glob(
        os.path.join(store_dir, "**", "*"), recursive=True) if os.path.isfile(f))
    m["snapshots.store_mb"] = store_bytes / 2**20
    all_ok = _store_fetched_ok(store_dir)
    m["snapshots.bytes_per_fetched_row"] = store_bytes / all_ok if all_ok else 0.0
    m["trace.overhead_s"] = probe_total / k
    for span in JOB_SPANS:
        tasks = [t for j in owned.get(span, []) for _, t in j.tasks]
        m[f"{span}.tasks"] = len(tasks) / k
        m[f"{span}.task_cpu_s"] = sum(t["Executor CPU Time"] for t in tasks) / 1e9 / k
        m[f"{span}.gc_s"] = sum(t["JVM GC Time"] for t in tasks) / 1e3 / k
        m[f"{span}.shuffle_mb"] = sum(
            t["Shuffle Read Metrics"]["Remote Bytes Read"]
            + t["Shuffle Read Metrics"]["Local Bytes Read"]
            + t["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tasks) / 2**20 / k
        m[f"{span}.spill_mb"] = sum(
            t["Memory Bytes Spilled"] + t["Disk Bytes Spilled"] for t in tasks) / 2**20 / k
    missing = set(LAYER_METRICS) - set(m)
    if missing:
        raise KeyError(f"layer metrics not computed: {sorted(missing)}")
    return m, lines


def _store_fetched_ok(store_dir: str) -> int:
    manifest = json.loads(open(os.path.join(store_dir, "MANIFEST.json")).read())
    return sum(int(e["stats"].get("fetched_ok") or 0) for e in manifest["epochs"].values())


def table(metrics: dict) -> str:
    width = max(len(k) for k in metrics)
    return "\n".join(f"{k:<{width}}  {v:>14.6g}  {LAYER_METRICS[k]}" for k, v in metrics.items())
