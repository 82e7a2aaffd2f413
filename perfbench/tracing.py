"""Measurement helpers: spans, interval arithmetic, process-tree CPU and RSS,
and per-window Spark stage metrics.

Nothing here imports Spark at module load, so the pure helpers
(`interval_union`, `covered`, `self_times`) test without a JVM.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass
from typing import Iterable


# -- interval arithmetic -----------------------------------------------------

def interval_union(intervals: Iterable[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge (start, end) intervals into disjoint sorted ones. Empty and
    reversed intervals are dropped; touching intervals merge."""
    out: list[list[float]] = []
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals: Iterable[tuple[float, float]], start: float, end: float) -> float:
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = ((max(s, start), min(e, end)) for s, e in intervals)
    return sum(e - s for s, e in interval_union(clipped))


# -- spans ---------------------------------------------------------------------

@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span duration minus the part of its interval that its child spans
    cover (overlapping children are counted once)."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.name: s.duration - covered(kids.get(s.name, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """In-memory span recorder. `span(name)` nests under the innermost open
    span; spans are kept in start order and written out by the caller."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> Span:
        t = self.tracer
        parent = t._open[-1].name if t._open else None
        sp = Span(self.name, parent, time.time())
        t.spans.append(sp)
        t._open.append(sp)
        return sp

    def __exit__(self, *exc: object) -> None:
        sp = self.tracer._open.pop()
        sp.end = time.time()


# -- process tree ------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, cpu jiffies incl. reaped children, rss pages)."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                st = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        rp = st.rindex(")")
        comm = st[st.index("(") + 1:rp]
        fields = st[rp + 2:].split()
        jiffies = sum(int(fields[i]) for i in (11, 12, 13, 14))
        out[int(p)] = (int(fields[1]), comm, jiffies, int(fields[21]))
    return out


def _tree(table: dict[int, tuple[int, str, int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
            stack.extend(children.get(pid, []))
    return out


def descendants(root: int | None = None) -> list[int]:
    """Live descendants of `root` (default: this process), excluding it."""
    root = root or os.getpid()
    return [p for p in _tree(_proc_table(), root) if p != root]


@dataclass
class CpuSample:
    total: float  # whole tree
    jvm: float  # processes whose image is java
    workers: float  # every other descendant: the Python UDF workers


class TreeMonitor:
    """Background sampler of this process tree, every `interval` seconds.

    `reset()` starts a new resident-memory window and `peak()` is the
    highest tree RSS seen since. `cpu()` is the tree's CPU seconds so far,
    counting each process at the last value seen: Spark's worker daemon
    ignores SIGCHLD, so an idle Python worker that exits takes its CPU time
    with it, and a fresh read of /proc alone would lose it."""

    def __init__(self, interval: float = 0.05) -> None:
        self._interval = interval
        self._peak = 0
        self._cpu: dict[int, tuple[str, float]] = {}  # pid -> (comm, seconds)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeMonitor":
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._observe()

    def _observe(self) -> int:
        table = _proc_table()
        pids = _tree(table, os.getpid())
        rss = sum(table[p][3] for p in pids) * _PAGE
        with self._lock:
            self._peak = max(self._peak, rss)
            for p in pids:
                self._cpu[p] = (table[p][1], table[p][2] / _TICK)
        return rss

    def reset(self) -> None:
        rss = self._observe()
        with self._lock:
            self._peak = rss

    def peak(self) -> int:
        self._observe()
        with self._lock:
            return self._peak

    def cpu(self) -> CpuSample:
        """CPU seconds of the JVM, the Python workers and the whole tree
        (the workers plus the JVM plus this driver process)."""
        self._observe()
        me = os.getpid()
        total = jvm = workers = 0.0
        with self._lock:
            for pid, (comm, sec) in self._cpu.items():
                total += sec
                if "java" in comm:
                    jvm += sec
                elif pid != me:
                    workers += sec
        return CpuSample(total, jvm, workers)


# -- Spark stages ------------------------------------------------------------

@dataclass
class StageRow:
    stage_id: int
    tasks: int
    submitted: float  # epoch seconds
    completed: float
    shuffle_write: int


def spark_stages(spark) -> list[StageRow]:
    """Every stage attempt the application status store still holds (works
    with the UI disabled). Skipped stages are left out."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    seq = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    out = []
    for i in range(seq.size()):
        s = seq.apply(i)
        sub, comp = s.submissionTime(), s.completionTime()
        if str(s.status()) == "SKIPPED" or not sub.isDefined():
            continue
        t0 = sub.get().getTime() / 1000
        t1 = comp.get().getTime() / 1000 if comp.isDefined() else t0
        out.append(StageRow(s.stageId(), s.numTasks(), t0, t1, s.shuffleWriteBytes()))
    return out


def spark_job_times(spark) -> list[float]:
    """Submission time (epoch seconds) of every job the status store holds."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    out = []
    for i in range(seq.size()):
        sub = seq.apply(i).submissionTime()
        if sub.isDefined():
            out.append(sub.get().getTime() / 1000)
    return out


def jvm_gc_seconds(spark) -> float:
    """Collection time of all of the driver JVM's garbage collectors so far.
    Unlike the stages' jvmGcTime, it counts the GC that runs outside tasks,
    which in local mode is where most of it happens."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000


def window_stats(
    stages: list[StageRow], jobs: list[float], start: float, end: float
) -> dict[str, float]:
    """Spark work submitted inside [start, end]: the benchmark runs one
    operation at a time, so the window owns exactly its own jobs. Status
    store times have millisecond resolution, hence the 1 ms slack."""
    lo, hi = start - 1e-3, end + 1e-3
    mine = [s for s in stages if lo <= s.submitted <= hi]
    busy = covered([(s.submitted, s.completed) for s in mine], start, end)
    return {
        "jobs": sum(1 for t in jobs if lo <= t <= hi),
        "stages": len(mine),
        "tasks": sum(s.tasks for s in mine),
        "shuffle_write_bytes": sum(s.shuffle_write for s in mine),
        "idle_s": max(0.0, (end - start) - busy),
    }
