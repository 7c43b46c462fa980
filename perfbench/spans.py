"""In-memory spans with Spark job attribution, and the metric math.

A :class:`Tracer` records ``(name, start, end, parent, run_id)`` spans
around calls the benchmark makes into the program. While a span is the
innermost open one, its id is the thread's Spark job group, so the jobs
each span launched can be read back from ``statusTracker()`` when it
closes. Jobs launched from threads the program starts itself carry no
job group; they are credited to the innermost span open when they appear.

A disabled tracer (``Tracer(None)``) records nothing and costs one
attribute check per span, so timed runs and traced runs share one code
path.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterable, Optional

_JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    run_id: str
    parent: Optional[int] = None
    end: float = 0.0
    jobs: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None, run_id: str = "run") -> None:
        self.enabled = spark is not None
        self.sc = spark.sparkContext if spark is not None else None
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ungrouped_seen = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self._credit_ungrouped()
        self.spans.append(Span(name, time.perf_counter(), self.run_id, parent))
        self._stack.append(sid)
        self.sc.setLocalProperty(_JOB_GROUP, self._group(sid))
        try:
            yield
        finally:
            sp = self.spans[sid]
            sp.end = time.perf_counter()
            self._stack.pop()
            self._credit_ungrouped(sid)
            self.sc.setLocalProperty(
                _JOB_GROUP, self._group(parent) if parent is not None else None
            )
            sp.jobs.extend(self.sc.statusTracker().getJobIdsForGroup(self._group(sid)))

    def _group(self, sid: int) -> str:
        return f"perfbench-{self.run_id}-{sid}"

    def _credit_ungrouped(self, sid: Optional[int] = None) -> None:
        """Credit jobs with no group that appeared since the last check to
        span ``sid`` (the innermost open span when omitted)."""
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        new = [j for j in ids if j > self._ungrouped_seen]
        if not new:
            return
        self._ungrouped_seen = max(new)
        target = sid if sid is not None else (self._stack[-1] if self._stack else None)
        if target is not None:
            self.spans[target].jobs.extend(new)

    def tasks(self, job_ids: Iterable[int]) -> int:
        """Completed tasks over the jobs' stages (stages Spark no longer
        retains count as 0)."""
        st = self.sc.statusTracker()
        n = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                n += si.numCompletedTasks if si else 0
        return n


# --------------------------------------------------------------------------- #
# metric math                                                                 #
# --------------------------------------------------------------------------- #
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list, p: float) -> float:
    """Percentile by linear interpolation between closest ranks (the
    ``inclusive`` method of ``statistics.quantiles``; p50 is the median)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list) -> tuple[float, float, int]:
    """(percentile, value, samples beyond it): the highest percentile on
    :data:`TAIL_LADDER` with at least ten samples beyond it. Fewer than 20
    samples fall back to the median, whose ``samples beyond`` is then
    below ten and says so."""
    n = len(values)
    p = next((q for q in TAIL_LADDER if n * (100.0 - q) >= 1000.0), 50.0)
    v = percentile(values, p)
    return p, v, sum(1 for x in values if x > v)


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def self_time(span: Span, children: Iterable[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return span.dur - union_length(clipped)


def self_times(spans: list[Span]) -> list[float]:
    kids: dict = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return [self_time(s, kids.get(i, ())) for i, s in enumerate(spans)]


def useful_ratio(chunks: int, decisions: int) -> float:
    """Processed chunks over loop decisions (processed + skipped + shrunk +
    expanded); 0 when the loop made no decision."""
    return chunks / decisions if decisions else 0.0
