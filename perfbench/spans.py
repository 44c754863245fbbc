"""Spans, Spark job counts and the arithmetic over them.

A span is one timed call into a layer: name, start, end, parent span
and op id. The tracer keeps spans in memory; the caller writes them out
when the run ends. When a span is opened with ``count_jobs=True`` the
Spark jobs it submits are tagged with a job group and counted (jobs,
stages, tasks) through the status tracker when it closes; jobs its
worker threads submit carry no group and are counted as the ungrouped
jobs that appeared while it was open.

With tracing off, ``span`` records nothing, so the untraced run pays no
tracing cost.
"""

from __future__ import annotations

import itertools
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = math.nan
    counts: dict[str, int] = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of a
    non-empty sequence; percentile(v, 50) is the median."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sequence")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time in ms: the span's duration minus the part
    of its interval its child spans cover (children clipped to the
    parent, overlapping children counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
        ]
        kids = [(a, b) for a, b in kids if b > a]
        out[s.id] = (s.end - s.start - _covered(kids)) * 1000.0
    return out


def layer_table(spans: list[Span]) -> list[dict]:
    """Per span name: count, total ms, self ms and median ms, sorted by
    self time, largest first."""
    selfs = self_times(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s.name, {"name": s.name, "n": 0, "total_ms": 0.0,
                                     "self_ms": 0.0, "durations": []})
        r["n"] += 1
        r["total_ms"] += s.ms
        r["self_ms"] += selfs[s.id]
        r["durations"].append(s.ms)
    for r in rows.values():
        r["p50_ms"] = percentile(r.pop("durations"), 50)
    return sorted(rows.values(), key=lambda r: -r["self_ms"])


class Tracer:
    """Collects spans when ``enabled``; a no-op otherwise."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int, count_jobs: bool = False):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        sc = self.spark.sparkContext if count_jobs else None
        group = f"perfbench-{sid}"
        if sc is not None:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            # jobs submitted from other Python threads carry no group
            ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
            sc.setJobGroup(group, name)
        s = Span(sid, name, op, parent, time.perf_counter())
        self._stack.append(sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                s.counts = job_counts(sc, group, ungrouped)
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.spans.append(s)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


def job_counts(sc, group: str, ungrouped: set[int] = frozenset()) -> dict[str, int]:
    """Jobs, stages and tasks the status tracker holds for ``group``,
    plus the ungrouped jobs not in ``ungrouped`` (those a span's worker
    threads submitted: the benchmark is its only client). Only stages
    that ran a task count: a stage skipped because its shuffle output
    was reused adds nothing."""
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group)) + [
        j for j in st.getJobIdsForGroup(None) if j not in ungrouped]
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage is not None and stage.numCompletedTasks:
                stages += 1
                tasks += stage.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}
