"""In-memory spans recorded around the benchmark's calls into the engine.

A span has a name, start and end (``time.perf_counter`` seconds), the id
of the span that was open when it began, and the run id. While a span is
open its Spark jobs run under a job group of their own, so after it
closes the jobs, stages, tasks and failed tasks it issued are read back
from ``SparkContext.statusTracker()``. Jobs count toward the innermost
open span only, and a stage counts once, for the first job that ran it;
``totals`` adds the children in.

A disabled tracer records nothing and touches no Spark state, so the
untraced end-to-end run pays no tracing cost.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_COUNTERS = ("jobs", "stages", "tasks", "failed_tasks")


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover.

    Children may overlap each other; the covered part is the length of
    the union of their intervals, clipped to the span."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        s, e = max(c.start, span.start), min(c.end, span.end)
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


class Tracer:
    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._stages_seen: set[int] = set()

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the body; yields the span (or None)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            len(self.spans), name, parent.span_id if parent else None,
            self.run_id, time.perf_counter(), attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(self._group(sp), name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(self._group(parent), parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                self._read_jobs(sc, sp)

    def _group(self, sp: Span) -> str:
        return f"{self.run_id}:{sp.span_id}"

    def _read_jobs(self, sc, sp: Span) -> None:
        tracker = sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(self._group(sp)):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            sp.jobs += 1
            for stage_id in info.stageIds:
                if stage_id in self._stages_seen:
                    continue  # a later job reusing this stage's output
                self._stages_seen.add(stage_id)
                st = tracker.getStageInfo(stage_id)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                sp.stages += 1
                sp.tasks += st.numCompletedTasks
                sp.failed_tasks += st.numFailedTasks

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.span_id]

    def totals(self, sp: Span) -> dict[str, int]:
        """Spark counters of ``sp`` and every span below it."""
        out = {k: getattr(sp, k) for k in _COUNTERS}
        for c in self.children(sp):
            for k, v in self.totals(c).items():
                out[k] += v
        return out

    def write(self, path: str) -> None:
        rows = []
        for sp in self.spans:
            row = asdict(sp)
            row["duration_s"] = sp.duration
            row["self_s"] = self_time(sp, self.children(sp))
            rows.append(row)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f, indent=1)
