"""Host sizing, process-tree accounting and host telemetry.

Everything here reads ``/proc``; nothing here touches Spark, so the
benchmark can size itself and fail with a clear message before it
starts a JVM.
"""

from __future__ import annotations

import os
import signal
import threading
import time

import numpy as np

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024

# what one crawl workload needs beside the driver heap: the JVM's
# off-heap, one python worker per core, the driver interpreter
OFF_HEAP_MB = 1536
WORKER_MB = 300
MIN_HEAP_MB = 1024
# a quarter of MemAvailable, at most this: the workloads' live heap is
# a few hundred MB, and the machine is shared
MAX_HEAP_MB = 4096
MIN_DISK_MB = 3072


class HostTooSmall(RuntimeError):
    """The host cannot hold the workload; the message says why."""


def meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0]) // 1024
    return out


def size_host(workdir: str) -> dict:
    """Cores from the affinity mask, driver heap from MemAvailable.

    Both are passed to Spark explicitly, so no default from the engine
    (12 GB heap) or from ``bench.py`` (32 CPUs) leaks into a run."""
    cores = len(os.sched_getaffinity(0))
    avail = meminfo_mb()["MemAvailable"]
    heap = min(MAX_HEAP_MB, avail // 4)
    need = MIN_HEAP_MB + OFF_HEAP_MB + cores * WORKER_MB
    if heap < MIN_HEAP_MB or avail < need:
        raise HostTooSmall(
            f"host has {avail} MB available; a run needs {need} MB "
            f"({MIN_HEAP_MB} MB heap + {OFF_HEAP_MB} MB JVM off-heap + "
            f"{cores} x {WORKER_MB} MB python workers)"
        )
    st = os.statvfs(workdir)
    disk = st.f_bavail * st.f_frsize // 2**20
    if disk < MIN_DISK_MB:
        raise HostTooSmall(
            f"{workdir} has {disk} MB free; the snapshot store needs "
            f"{MIN_DISK_MB} MB"
        )
    return {"cores": cores, "heap_mb": heap, "mem_available_mb": avail,
            "disk_free_mb": disk}


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the tree, including reaped children."""
    ticks = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            # utime stime cutime cstime (fields 14-17, 1-based)
            ticks += sum(int(x) for x in st[11:15])
    return ticks / CLK_TCK


def tree_rss_mb(root: int) -> float:
    pages = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            pages += int(st[21])  # rss, field 24
    return pages * PAGE_KB / 1024


class RssSampler:
    """Peak RSS of the process tree, sampled every 0.2 s."""

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(0.2)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))


def reap_tree(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid in ``pids`` has exited; SIGKILL stragglers
    after ``timeout``."""
    deadline = time.time() + timeout
    live = [p for p in pids if p != os.getpid()]
    while live:
        live = [p for p in live if _stat(p) is not None and _stat(p)[0] != "Z"]
        if not live:
            return
        if time.time() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# telemetry (metadata beside every run, not metrics)
# ---------------------------------------------------------------------------


def cpu_jiffies() -> list[int]:
    """Machine-wide /proc/stat cpu line: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def mem_gbps() -> float:
    """Single-thread STREAM-triad style copy bandwidth over 16 MB arrays.
    This host class swings its memory bandwidth with co-tenant load
    while steal stays low; the probe makes such a window visible."""
    n = 2_000_000
    a, b, c = np.empty(n), np.ones(n), np.ones(n)
    np.add(b, c, out=a)
    t0 = time.perf_counter()
    for _ in range(5):
        np.add(b, c, out=a)
    return 3 * 8 * n * 5 / (time.perf_counter() - t0) / 1e9


def telemetry(j0: list[int], j1: list[int]) -> dict:
    return {
        "steal_pct": round(steal_pct(j0, j1), 3),
        "mem_gbps": round(mem_gbps(), 2),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
