"""Shared pieces of the benchmark: percentiles, spans, host counters,
memory sampling and the run stamp. Nothing here imports Spark."""

from __future__ import annotations

import itertools
import json
import math
import os
import platform
import threading
import time
from dataclasses import asdict, dataclass

def percentile(values, p: float) -> float:
    """Nearest-rank percentile (``p`` in [0, 100]) of ``values``."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of an empty sample")
    idx = max(0, math.ceil(p / 100.0 * len(vals)) - 1)
    return vals[idx]


def tail(values) -> tuple[float, float, int]:
    """(value, percentile, n): the largest sample with at least ten
    samples beyond it, at percentile 100 * (n - 10) / n. Below 20 samples
    that percentile would fall under the median, so the maximum
    (percentile 100) is reported instead."""
    vals = sorted(values)
    n = len(vals)
    if n < 20:
        return vals[-1], 100.0, n
    return vals[n - 11], 100.0 * (n - 10) / n, n


def median(values) -> float:
    vals = sorted(values)
    if not vals:
        raise ValueError("median of an empty sample")
    mid = len(vals) // 2
    return vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2.0


def geomean(values) -> float:
    """Geometric mean: every value weighs the same in relative terms."""
    vals = list(values)
    if not vals:
        raise ValueError("geometric mean of an empty sample")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; ``enabled=False`` records nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def new_id(self) -> int:
        with self._lock:
            return next(self._ids)

    def add(self, span_id: int, name: str, start: float, end: float, parent: int | None) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.spans.append(Span(span_id, name, start, end, parent, self.run_id))

    def timed(self, name: str, fn):
        """Run ``fn()`` inside a top-level span; returns (result, seconds)."""
        sid = self.new_id()
        t0 = time.perf_counter()
        try:
            return fn(), time.perf_counter() - t0
        finally:
            self.add(sid, name, t0, time.perf_counter(), None)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children) -> float:
    """Span duration minus the part of it its children cover; children
    may overlap each other (concurrent sink writes) and are clipped to
    the parent's interval."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return span.duration - covered(clipped)


def self_times(spans) -> dict[str, float]:
    """Total self time per span name."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + self_time(s, kids.get(s.span_id, []))
    return out


# ---------------------------------------------------------------------------
# host counters
# ---------------------------------------------------------------------------


def cpu_snapshot() -> list[int]:
    """Cumulative whole-host CPU ticks from /proc/stat's first line."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """busy and steal percentages of the interval between snapshots."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    steal = d[7] if len(d) > 7 else 0
    return {
        "busy_pct": 100.0 * (total - d[3] - d[4]) / total,
        "steal_pct": 100.0 * steal / total,
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (the Spark
    driver JVM and its Python workers hang below the benchmark)."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread sampling the process tree's RSS; ``peak_mb``."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024.0 * 1024.0)


def stamp(spark, seed: int, extra: dict) -> dict:
    """What a reader needs to attribute a run: host size and versions."""
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "seed": seed,
        **extra,
    }
