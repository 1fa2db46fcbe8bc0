"""Spans and counters recorded from outside the program.

A span is opened around each call the benchmark makes into one of the
program's layers. It records its name, start, end, parent span and
request id, and, for a span that runs Spark jobs, the job and task
counts read from ``sparkContext.statusTracker()`` for a job group set
for that span alone. Spans stay in memory and are written out once, at
the end of the run.

Process counters (CPU seconds, peak resident memory) are read from
``/proc`` for the driver Python process and for the JVM.
"""
from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    jobs: int | None = None
    tasks: int | None = None


class Tracer:
    """Records spans when enabled; otherwise every ``span`` is a no-op,
    which is the untraced mode. ``sc`` is the SparkContext whose jobs
    ``span(..., spark=True)`` counts; it is set once the session exists."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, request: int | None = None, spark: bool = False):
        """Time the block as span ``name``. ``spark=True`` tags the block's
        Spark jobs with a job group of its own and counts them."""
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else None
        group = f"perfbench-{sid}"
        if spark:
            self.sc.setJobGroup(group, name)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            jobs = tasks = None
            if spark:
                for prop in _GROUP_PROPS:
                    self.sc.setLocalProperty(prop, None)
                jobs, tasks = self._counts(group)
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent, request, jobs, tasks)
                )

    def _counts(self, group: str) -> tuple[int, int]:
        """Jobs in ``group`` and the tasks they completed. The status
        store is fed by the asynchronous listener bus, so drain it
        first."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                tasks += stage.numCompletedTasks if stage else 0
        return len(job_ids), tasks

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part covered by its children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def write(self, path: str) -> None:
        self_t = self.self_times()
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                [dict(asdict(s), self=self_t[s.id]) for s in self.spans], fh
            )


def _proc_stat_cpu_s(pid: int | str) -> float:
    """utime + stime of a process (all its threads), in seconds."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs from ``/proc/stat``: the
    time a virtual machine's CPUs waited for the host."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def cpu_seconds(jvm: int) -> tuple[float, float]:
    """(driver Python, JVM) CPU seconds so far."""
    return _proc_stat_cpu_s("self"), _proc_stat_cpu_s(jvm)


def peak_rss_mb(jvm: int) -> float:
    """Peak resident memory (VmHWM) of the driver Python process plus
    the JVM, in MiB."""
    return _vm_hwm_mb("self") + _vm_hwm_mb(jvm)
