"""Measurement plumbing: spans, Spark job/task counts, process-tree peak
PSS, host diagnostics and percentiles. Nothing here touches the program
beyond public Spark APIs."""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager


def median(xs):
    return statistics.median(xs)


def percentile_supported(n: int, beyond: int = 10) -> int:
    """Highest whole percentile with at least ``beyond`` samples above it."""
    return max(0, int(100 * (n - beyond) / n)) if n else 0


def percentile(xs, p: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, int(p / 100 * len(s)))]


class Tracer:
    """In-memory spans ``(name, start, end, parent, request id)``.

    Disabled tracers record nothing and count nothing; the same call sites
    run either way, so the traced run differs only by the recording."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, req=None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "parent": parent, "req": req,
               "start": time.perf_counter() - self._t0}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    @contextmanager
    def jobs(self, group: str, out: list):
        """Tag the Spark jobs started inside with ``group``; append the exact
        (jobs, tasks) count to ``out`` (traced run only)."""
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            out.append(job_counts(self.sc, group))


def job_counts(sc, group: str) -> tuple[int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _pss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PssSampler:
    """Samples the PSS sum of this process and all its descendants (driver
    JVM, Python workers) every ``period`` seconds; keeps the peak and every
    pid seen so the run can wait for them to exit."""

    def __init__(self, period: float = 1.0):
        self.period = period
        self.peak_kib = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        pids = descendants(os.getpid())
        self.seen.update(pids)
        self.peak_kib = max(self.peak_kib, sum(_pss_kib(p) for p in pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self):
        self._sample()
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self._sample()


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


class HostDiag:
    """1-min loadavg at start and end and CPU steal share over the run —
    printed per run so a co-tenant-disturbed run is identifiable."""

    def __init__(self, master: str):
        self.master = master
        self.load_start = os.getloadavg()[0]
        self._cpu0 = cpu_times()

    def report(self) -> dict:
        tot, steal = cpu_times()
        dt = tot - self._cpu0[0]
        return {
            "loadavg1_start": self.load_start,
            "loadavg1_end": os.getloadavg()[0],
            "cpu_steal_share": (steal - self._cpu0[1]) / dt if dt else 0.0,
            "spark_master": self.master,
            "nproc": os.cpu_count(),
        }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
