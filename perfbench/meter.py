"""Measurement helpers: process-tree CPU and RSS from /proc, host noise,
on-disk state counts, Spark job/stage/task counts and the span tracer.

CPU time is utime+stime summed over this process and every descendant
(the JVM that PySpark launches, and any Python workers). Time the
hypervisor gives to other tenants ("steal") is not charged to a
process, so CPU-seconds repeat where wall-clock seconds drift with the
host.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the comm field may hold spaces; everything after ')' splits cleanly
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


class ProcTree:
    """This process and its descendants, re-listed on every sample so a
    JVM or worker started after construction is counted."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            st = _stat_fields(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def cpu_s(self) -> float:
        ticks = 0
        for p in self.pids():
            st = _stat_fields(p)
            if st is not None:
                ticks += int(st[11]) + int(st[12])
        return ticks / _CLK

    def rss_bytes(self) -> int:
        total = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except OSError:
                pass
        return total


class RssSampler:
    """Background sampler of process-tree RSS; ``peak`` is the largest
    sum seen."""

    def __init__(self, tree: ProcTree, period_s: float = 0.25):
        self.tree = tree
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.rss_bytes())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self.tree.rss_bytes())


class HostNoise:
    """Steal share from /proc/stat and CPU pressure from
    /proc/pressure/cpu over an interval, so a slow run can be attributed
    to the host rather than the program."""

    def __init__(self):
        self._t0 = time.monotonic()
        self._stat0 = self._cpu_stat()
        self._psi0 = self._psi_total()

    @staticmethod
    def _cpu_stat() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    @staticmethod
    def _psi_total() -> int | None:
        try:
            with open("/proc/pressure/cpu") as f:
                some = f.readline().split()
        except OSError:
            return None
        return int(some[-1].split("=")[1])

    def read(self) -> dict[str, float]:
        now = self._cpu_stat()
        delta = [b - a for a, b in zip(self._stat0, now)]
        # user nice system idle iowait irq softirq steal (guest is inside user)
        total = sum(delta[:8]) or 1
        steal_pct = 100.0 * delta[7] / total if len(delta) > 7 else 0.0
        psi = self._psi_total()
        wall_us = (time.monotonic() - self._t0) * 1e6
        pressure = (psi - self._psi0) / wall_us if psi is not None and self._psi0 is not None else 0.0
        return {"host.steal_pct": steal_pct, "host.cpu_pressure": pressure}


def calibrate(rounds: int = 3, n: int = 1_500_000) -> float:
    """CPU seconds of a fixed single-threaded Python loop (median of
    ``rounds``): how fast this host's cores run right now, independent
    of the program under test. Steal does not show a core slowed by a
    busy sibling thread or a lower clock; this does."""
    samples = []
    for _ in range(rounds):
        c0 = time.thread_time()
        x = 0
        for i in range(n):
            x = (x * 1103515245 + i) & 0xFFFFFFFF
        samples.append(time.thread_time() - c0)
    samples.sort()
    return samples[len(samples) // 2]


def dir_stats(path: str) -> dict[str, int]:
    """Bytes, data files and ``v_*`` version directories under path."""
    nbytes = nfiles = nversions = 0
    for dirpath, dirs, files in os.walk(path):
        nversions += sum(1 for d in dirs if d.startswith("v_"))
        for name in files:
            try:
                nbytes += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                continue
            if name.endswith(".parquet"):
                nfiles += 1
    return {"bytes": nbytes, "files": nfiles, "versions": nversions}


def live_versions(table_path: str) -> set[str]:
    """Version directories a managed table's pointer references."""
    try:
        with open(os.path.join(table_path, "_CURRENT")) as f:
            doc = json.load(f)
    except (OSError, ValueError):
        return set()
    mapping = doc.get("buckets", doc)
    return set(mapping.values()) if isinstance(mapping, dict) else set()


class SparkCounter:
    """Jobs, stages and tasks launched between two points, counted from
    job ids (which the scheduler hands out in order, whichever thread
    submits the job) and the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()

    def mark(self) -> int:
        return int(self._dag.nextJobId())

    def since(self, first_job: int) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for j in range(first_job, self.mark()):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            jobs += 1
            for s in info.stageIds:
                si = tracker.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


class Tracer:
    """Spans around the benchmark's public calls into the program.

    Disabled, a span only yields; enabled, it records (name, start, end,
    parent, op id), the Spark jobs/stages/tasks launched inside it, and
    the time spent on its own bookkeeping, which is the tracing
    overhead the untraced run does not pay.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.snapshots: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._counter = None
        self._t0 = time.perf_counter()

    def attach(self, spark) -> None:
        if self.enabled:
            self._counter = SparkCounter(spark)

    @contextmanager
    def span(self, name: str, op_id: int | str | None = None):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        rec = {
            "name": name,
            "op": op_id,
            "parent": self._stack[-1] if self._stack else None,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        job0 = self._counter.mark() if self._counter else None
        start = time.perf_counter()
        self.overhead_s += start - b0
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            rec["start_s"] = start - self._t0
            rec["end_s"] = end - self._t0
            if job0 is not None:
                rec.update(self._counter.since(job0))
            self.overhead_s += time.perf_counter() - end

    def snapshot(self, label: str, measure) -> None:
        """On-disk counts (``measure()``, a dict) recorded between
        operations; the scan is tracing overhead."""
        if self.enabled:
            b0 = time.perf_counter()
            self.snapshots.append({"at": label, "t_s": b0 - self._t0, **measure()})
            self.overhead_s += time.perf_counter() - b0

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "snapshots": self.snapshots, **extra}, f, indent=1)
