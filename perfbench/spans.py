"""Spans, self time and percentiles — the benchmark's own arithmetic.

A span is one timed call into a layer: name, layer, start, end, parent and
a key shared by every span of one batch or one query. Spans live in memory
and are written out when the run ends. A span opened with ``jobs=True``
runs under its own Spark job group (its id), so Spark jobs, stages and
tasks can be charged to it afterwards: the job count comes from the
status tracker when the span closes, the stage and task metrics from the
event log (see ``eventlog.py``).

Nothing here imports Spark; the job-group calls go through the
SparkContext handed to :class:`Tracer`, or are skipped when there is none.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    key: str | None
    start: float
    end: float | None = None
    #: Spark jobs started under this span's own job group (children excluded)
    jobs: int = 0

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Collects spans. ``sc`` (a SparkContext) enables job groups and job
    counting; without it spans are timed only. ``prefix`` keeps span ids,
    and so job-group ids, unique across the tracers of one run."""

    def __init__(self, sc=None, prefix: str = "", clock=time.perf_counter):
        self.sc = sc
        self.prefix = prefix
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._groups: list[Span] = []  # open spans that own a job group

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def open(self, name: str, layer: str, key: str | None = None,
             jobs: bool = False, start: float | None = None) -> Span:
        parent = self.current
        sp = Span(
            id=f"{self.prefix}s{len(self.spans)}", name=name, layer=layer,
            parent=parent.id if parent else None,
            key=key if key is not None else (parent.key if parent else None),
            start=self.clock() if start is None else start,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if jobs and self.sc is not None:
            self._groups.append(sp)
            self.sc.setJobGroup(sp.id, name)
        return sp

    def close(self, sp: Span, end: float | None = None) -> Span:
        sp.end = self.clock() if end is None else end
        if self._stack and self._stack[-1] is sp:
            self._stack.pop()
        else:  # closing out of order: drop it wherever it sits
            self._stack.remove(sp)
        if self._groups and self._groups[-1] is sp:
            self._groups.pop()
            sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(sp.id))
            if self._groups:
                outer = self._groups[-1]
                self.sc.setJobGroup(outer.id, outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        return sp

    @contextmanager
    def span(self, name: str, layer: str, key: str | None = None, jobs: bool = False):
        sp = self.open(name, layer, key=key, jobs=jobs)
        try:
            yield sp
        finally:
            self.close(sp)


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id → its duration minus the part its child spans cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None and sp.end is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {
        sp.id: sp.dur - covered(sp.start, sp.end, kids.get(sp.id, []))
        for sp in spans if sp.end is not None
    }


def inclusive_jobs(spans: list[Span]) -> dict[str, int]:
    """Span id → Spark jobs under the span and all its descendants."""
    by_id = {sp.id: sp for sp in spans}
    total = {sp.id: 0 for sp in spans}
    for sp in spans:
        cur = sp
        while cur is not None:
            total[cur.id] += sp.jobs
            cur = by_id.get(cur.parent) if cur.parent else None
    return total


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]

