"""Measurement helpers: percentiles, process-tree memory, and the traced
run's per-call Spark counters.

Tracing is done from outside the program: each call into a layer's public
function runs under its own Spark job group, and afterwards the counters of
that group's jobs are read from Spark's own status store
(``statusStore().lastStageAttempt(id)``, which works with the UI off).
With tracing off nothing here touches Spark.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (from /proc parent links)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (the JVM and the Python workers) until stopped; keeps the peak."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


class Span:
    """Wall time plus the Spark counters of the jobs one call ran."""

    __slots__ = ("name", "wall_s", "jobs", "stages", "tasks", "exec_run_s",
                 "exec_cpu_s", "shuffle_read", "shuffle_write", "spill",
                 "job_covered_s")

    def __init__(self, name: str):
        self.name = name
        self.wall_s = 0.0
        self.jobs = self.stages = self.tasks = 0
        self.exec_run_s = self.exec_cpu_s = self.job_covered_s = 0.0
        self.shuffle_read = self.shuffle_write = self.spill = 0

    @property
    def driver_gap_s(self) -> float:
        """Call wall time not covered by any Spark job of the call."""
        return max(0.0, self.wall_s - self.job_covered_s)

    @property
    def shuffle_bytes(self) -> int:
        return self.shuffle_write


class Tracer:
    """Runs calls under fresh job groups and reads their counters.  With
    ``enabled=False`` it only times the call."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        sp = Span(name)
        group = None
        if self.enabled:
            self._n += 1
            group = f"perfbench-{self._n}-{name}"
            self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            if group is not None:
                self.sc.setJobGroup("perfbench-idle", "idle")
                self._collect(group, sp)
                self.spans.append(sp)

    def _collect(self, group: str, sp: Span) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids = list(tracker.getJobIdsForGroup(group))
        # the listener bus is asynchronous: wait until every job has ended
        deadline = time.time() + 5.0
        while time.time() < deadline:
            pending = [j for j in job_ids
                       if not store.job(j).completionTime().isDefined()]
            if not pending:
                break
            time.sleep(0.02)
        intervals = []
        for j in job_ids:
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append((jd.submissionTime().get().getTime() / 1000.0,
                                  jd.completionTime().get().getTime() / 1000.0))
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info is not None else []):
                sd = store.lastStageAttempt(s)
                if sd.status().toString() == "SKIPPED":
                    continue
                sp.stages += 1
                sp.tasks += sd.numTasks()
                sp.exec_run_s += sd.executorRunTime() / 1000.0
                sp.exec_cpu_s += sd.executorCpuTime() / 1e9
                sp.shuffle_read += sd.shuffleReadBytes()
                sp.shuffle_write += sd.shuffleWriteBytes()
                sp.spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        sp.jobs = len(job_ids)
        sp.job_covered_s = _union_length(intervals)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def materialize(df) -> None:
    """Run a DataFrame's whole plan without collecting it (noop sink)."""
    df.write.format("noop").mode("overwrite").save()
