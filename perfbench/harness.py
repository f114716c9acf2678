"""Spark-free measurement helpers: percentiles, spans, self time, event-log
attribution, process-tree RSS and CPU steal.

Nothing here imports pyspark, so the self-tests in ``test_harness.py`` run
without a JVM.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """Highest percentile that still has at least ``beyond`` samples above
    it → ``(percentile, value)``, or None when there are too few samples.

    With n sorted samples, the value at 0-based index i has n-1-i samples
    beyond it, so the highest admissible index is n-1-beyond and the
    percentile it stands for is 100·(i+1)/n."""
    n = len(samples)
    if n <= beyond:
        return None
    i = n - 1 - beyond
    return 100.0 * (i + 1) / n, float(sorted(samples)[i])


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length (in the intervals' unit) of the union of ``intervals`` clipped
    to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    span_id: int
    name: str
    start_ms: float  # epoch milliseconds, the clock Spark's event log uses
    end_ms: float
    parent: int | None
    request: int


@dataclass
class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes ``span`` a no-op
    context manager, so timed code is identical with tracing on or off."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _next: int = 0

    def span(self, name: str, request: int = 0):
        return _SpanCtx(self, name, request)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, request: int):
        self.tracer, self.name, self.request = tracer, name, request

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            self.id = t._next
            t._next += 1
            self.parent = t._stack[-1] if t._stack else None
            t._stack.append(self.id)
            self.start = time.time() * 1000.0
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if t.enabled:
            t._stack.pop()
            t.spans.append(
                Span(self.id, self.name, self.start, time.time() * 1000.0,
                     self.parent, self.request)
            )
        return False


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id → its duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start_ms, s.end_ms))
    return {
        s.span_id: (s.end_ms - s.start_ms)
        - union_ms(children.get(s.span_id, []), s.start_ms, s.end_ms)
        for s in spans
    }


# -- Spark event log -----------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit_ms: float
    stage_ids: list[int]


@dataclass
class Task:
    stage_id: int
    launch_ms: float
    finish_ms: float
    run_ms: float
    shuffle_bytes: int
    failed: bool


def read_event_log(log_dir: str) -> tuple[list[Job], list[Task]]:
    """Parse the uncompressed, single-file Spark event log(s) under
    ``log_dir``."""
    jobs: list[Job] = []
    tasks: list[Task] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(Job(ev["Job ID"], float(ev["Submission Time"]),
                                    list(ev["Stage IDs"])))
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task_of(ev))
    return jobs, tasks


def _task_of(ev: dict) -> Task:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    shuffle = (
        int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0))
        + int(sw.get("Shuffle Bytes Written", 0))
    )
    return Task(
        stage_id=int(ev["Stage ID"]),
        launch_ms=float(info["Launch Time"]),
        finish_ms=float(info["Finish Time"]),
        run_ms=float(m.get("Executor Run Time", 0)),
        shuffle_bytes=shuffle,
        failed=ev.get("Task End Reason", {}).get("Reason") != "Success",
    )


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, int]:
    """job_id → span_id of the innermost span open when the job was
    SUBMITTED.  A speculative job the engine abandons may end after its
    call returned; its submission still falls inside the call."""
    out: dict[int, int] = {}
    for j in jobs:
        best: Span | None = None
        for s in spans:
            if s.start_ms <= j.submit_ms <= s.end_ms and (
                best is None or s.start_ms >= best.start_ms
            ):
                best = s
        if best is not None:
            out[j.job_id] = best.span_id
    return out


@dataclass
class CallCounters:
    jobs: int = 0
    tasks: int = 0
    exec_run_ms: float = 0.0
    shuffle_bytes: int = 0
    task_failures: int = 0
    driver_gap_ms: float = 0.0


def spark_counters(
    spans: list[Span], jobs: list[Job], tasks: list[Task]
) -> dict[int, CallCounters]:
    """Per-span Spark counters.  ``driver_gap_ms`` is the span's wall time
    during which none of its own tasks ran: scheduling floors, driver-side
    Python and result collection."""
    owner = attribute_jobs(spans, jobs)
    stage_owner = {
        st: owner[j.job_id] for j in jobs if j.job_id in owner for st in j.stage_ids
    }
    out = {s.span_id: CallCounters() for s in spans}
    for j in jobs:
        if j.job_id in owner:
            out[owner[j.job_id]].jobs += 1
    intervals: dict[int, list[tuple[float, float]]] = {}
    for t in tasks:
        sid = stage_owner.get(t.stage_id)
        if sid is None:
            continue
        c = out[sid]
        c.tasks += 1
        c.exec_run_ms += t.run_ms
        c.shuffle_bytes += t.shuffle_bytes
        c.task_failures += int(t.failed)
        intervals.setdefault(sid, []).append((t.launch_ms, t.finish_ms))
    for s in spans:
        busy = union_ms(intervals.get(s.span_id, []), s.start_ms, s.end_ms)
        out[s.span_id].driver_gap_ms = (s.end_ms - s.start_ms) - busy
    return out


# -- host conditions -----------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line."""
    with open("/proc/stat", encoding="ascii") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def _tree_rss_kb(root: int) -> int:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                # the command name may hold spaces: fields follow the last ')'
                parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1]) * page_kb
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    Spark JVM and its Python workers) on a daemon thread; ``peak_mb`` is
    the largest sum seen.  Use as a context manager."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(root))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
