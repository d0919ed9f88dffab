"""Spans recorded from outside the program, event-log attribution, a
/proc memory sampler and a host-speed probe.

Spans wrap calls into the program's public functions (and nothing else:
no barrier, no extra action). Task and job counters come from the Spark
event log after the session stops, attributed to the innermost span
whose wall-clock window contains the task's launch time.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

# SQL metric names the Python-kernel plan nodes (MapInPandas,
# FlatMapCoGroupsInPandas, ...) report per task.
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``current`` names the innermost open span
    so a failure can be reported with the stage it happened in.
    ``overhead`` accumulates the time the tracing code itself took inside
    the traced calls: span bookkeeping plus whatever a wrapper adds via
    ``charge``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []
        self.overhead = 0.0

    def charge(self, seconds: float) -> None:
        self.overhead += seconds

    @property
    def current(self) -> str | None:
        return self.spans[self._open[-1]].name if self._open else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), parent=self._open[-1] if self._open else None,
                               attrs=attrs))
        self._open.append(idx)
        t1 = time.perf_counter()
        try:
            yield self.spans[idx]
        finally:
            t2 = time.perf_counter()
            self._open.pop()
            self.spans[idx].end = time.time()
            self.overhead += (t1 - t0) + (time.perf_counter() - t2)

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        return s.duration - sum(c.duration for c in self.spans if c.parent == idx)


@contextlib.contextmanager
def patched(obj, attr: str, wrapper_factory):
    """Temporarily replace ``obj.attr`` with ``wrapper_factory(original)``."""
    original = getattr(obj, attr)
    setattr(obj, attr, wrapper_factory(original))
    try:
        yield
    finally:
        setattr(obj, attr, original)


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------


@dataclass
class Task:
    launch: float  # epoch seconds
    finish: float
    run_s: float
    shuffle_write: int
    spill: int
    py_s: float
    py_sent: int
    py_recv: int


def read_event_log(log_dir: str) -> tuple[list[float], list[Task]]:
    """(job submission times, successful task records) from an event log."""
    from bionext_spark import sparklog

    jobs: list[float] = []
    tasks: list[Task] = []
    for ev in sparklog.iter_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append(ev["Submission Time"] / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if info.get("Failed") or info.get("Killed"):
                continue
            m = ev.get("Task Metrics") or {}
            acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
            tasks.append(Task(
                launch=info["Launch Time"] / 1000.0,
                finish=info["Finish Time"] / 1000.0,
                run_s=m.get("Executor Run Time", 0) / 1000.0,
                shuffle_write=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                # the Python timing metric is in milliseconds
                py_s=int(acc.get(PY_TIME) or 0) / 1e3,
                py_sent=int(acc.get(PY_SENT) or 0),
                py_recv=int(acc.get(PY_RECV) or 0),
            ))
    return sorted(jobs), tasks


def _innermost(tracer: Tracer, t: float, roots: set[int]) -> int | None:
    best = None
    for i, s in enumerate(tracer.spans):
        if s.start <= t < s.end and (best is None or s.start >= tracer.spans[best].start):
            best = i
    # only spans below one of the selected roots count
    j = best
    while j is not None and j not in roots:
        j = tracer.spans[j].parent
    return best if j is not None else None


def attribute(tracer: Tracer, roots: set[int], jobs: list[float], tasks: list[Task]) -> dict:
    """Per span index: jobs submitted and tasks launched inside it (and in
    no deeper span)."""
    out: dict[int, dict] = {}
    for t in jobs:
        i = _innermost(tracer, t, roots)
        if i is not None:
            out.setdefault(i, {"jobs": 0, "tasks": []})["jobs"] += 1
    for task in tasks:
        i = _innermost(tracer, task.launch, roots)
        if i is not None:
            out.setdefault(i, {"jobs": 0, "tasks": []})["tasks"].append(task)
    return out


def layer_counters(wall_s: float, tasks: list[Task]) -> dict:
    durs = [t.finish - t.launch for t in tasks]
    return {
        "wall_s": wall_s,
        "task_core_s": sum(t.run_s for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "spill_bytes": sum(t.spill for t in tasks),
        "max_task_s": max(durs, default=0.0),
        "median_task_s": statistics.median(durs) if durs else 0.0,
        "python_s": sum(t.py_s for t in tasks),
        "arrow_sent_bytes": sum(t.py_sent for t in tasks),
        "arrow_received_bytes": sum(t.py_recv for t in tasks),
    }


# --------------------------------------------------------------------------
# Memory
# --------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        for tid in os.listdir(task_dir):
            with open(f"{task_dir}/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the Python
    driver, the JVM it launched and the JVM's Python workers)."""
    total, stack, seen = 0, [root], set()
    page = os.sysconf("SC_PAGE_SIZE")
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
        stack.extend(_children(pid))
    return total


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants,
    including children they have already reaped."""
    total, stack, seen = 0.0, [root], set()
    tick = os.sysconf("SC_CLK_TCK")
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
        total += sum(int(x) for x in fields[11:15]) / tick
        stack.extend(_children(pid))
    return total


class SpeedProbe:
    """Background thread measuring how fast the program's JVM runs on this
    host while the program works: every ``interval_s`` it has the JVM sort
    ``BURST`` seeded random ints (one py4j call, served by a JVM thread of
    its own) and reads that thread's CPU time for it. On a shared host the
    same work costs more CPU time when other tenants contend for the
    physical cores; the median burst cost over a call's window tracks
    that, so dividing the call's CPU time by it cancels most of the host's
    swings.

    ``REF_S`` is the median burst cost seen during cold program calls on
    the 4-vCPU Xeon host the benchmark was tuned on, so scaled figures
    read as CPU seconds at that host's usual speed."""

    BURST = 50_000
    REF_S = 0.0095

    def __init__(self, spark, interval_s: float = 0.1) -> None:
        self.bursts: list[float] = []
        self._jvm = spark._jvm
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="speed-probe", daemon=True)

    def _run(self) -> None:
        from py4j.protocol import Py4JError

        jvm = self._jvm
        try:
            mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
            while not self._stop.wait(self._interval):
                t0 = mx.getCurrentThreadCpuTime()
                jvm.java.util.Arrays.sort(jvm.java.util.Random(7).ints(self.BURST).toArray())
                self.bursts.append((mx.getCurrentThreadCpuTime() - t0) / 1e9)
        except Py4JError:
            pass  # the JVM is gone; the timed call reports that failure itself

    def __enter__(self) -> "SpeedProbe":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def cpu_s(self) -> float:
        """CPU seconds the probe's bursts took (part of the process tree's)."""
        return sum(self.bursts)

    def scale(self, cpu_s: float) -> float | None:
        """``cpu_s``, measured over the probe's window, at the reference
        speed; None without a single burst."""
        if not self.bursts:
            return None
        return cpu_s * self.REF_S / statistics.median(self.bursts)


class RssSampler:
    """Background thread sampling the process tree's RSS; ``peak`` holds
    the highest sum seen."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
