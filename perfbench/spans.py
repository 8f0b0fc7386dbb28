"""In-memory spans around calls into the engine's layers, each tied to a
Spark job group, and the Spark status-store counters of their jobs.

A :class:`Tracer` records one :class:`Span` per layer call (name, start,
end, parent, run id). While a span is open it is the thread's Spark job
group, so every job the call launches can be found again afterwards with
``statusTracker().getJobIdsForGroup``. Counters come from the status
store (``sc._jsc.sc().statusStore()`` → ``.job(id)`` →
``.lastStageAttempt(stage_id)``), which is populated with
``spark.ui.enabled=false``. They are read only after the timed work, and
the spans are written out as JSON when the benchmark ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "input_bytes", "input_records", "output_bytes", "output_records",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    run: str
    parent: int | None
    start: float  # epoch seconds, comparable with Spark job timestamps
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)  # own jobs only
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)  # layer-specific facts, e.g. DQ violations

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]], lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals``, optionally clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo) if lo is not None else a, min(b, hi) if hi is not None else b)
        for a, b in intervals
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: s.duration - union_length(
            [(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end)
        for s in spans
    }


def descendants(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    by_parent: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            by_parent.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(by_parent.get(s.id, []))
    return out


def inclusive(spans: list[Span], root: Span) -> dict[str, float]:
    """Counters of ``root``'s jobs plus those of every span below it."""
    total = dict.fromkeys(COUNTERS, 0.0)
    for s in descendants(spans, root):
        for k, v in s.counters.items():
            total[k] += v
    return total


class Tracer:
    """Spans for one benchmark process; ``run`` identifies the traced run."""

    def __init__(self, sc, run: str):
        self.sc = sc
        self.spans: list[Span] = []
        self.run = run
        self.cost = 0.0  # seconds spent in tracing code: the tracing overhead
        self._stack: list[Span] = []

    def _group(self, span: Span) -> str:
        return f"perfbench-{span.id}"

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(span), span.name)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        s = Span(len(self.spans), name, self.run,
                 self._stack[-1].id if self._stack else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        self.cost += time.perf_counter() - t0
        try:
            yield s
        finally:
            s.end = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.cost += time.perf_counter() - t0

    def collect(self) -> None:
        """Read every span's own job counters from the status store."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        seen: set[int] = set()  # a reused shuffle stage is listed by later jobs too
        for s in self.spans:
            c = dict.fromkeys(COUNTERS, 0.0)
            for job_id in tracker.getJobIdsForGroup(self._group(s)):
                job = store.job(job_id)
                c["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    s.job_intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
                it = job.stageIds().iterator()
                while it.hasNext():
                    stage_id = it.next()
                    stage = store.lastStageAttempt(stage_id)
                    if stage_id in seen or str(stage.status()) == "SKIPPED":
                        continue
                    seen.add(stage_id)
                    c["stages"] += 1
                    c["tasks"] += stage.numTasks()
                    c["executor_run_s"] += stage.executorRunTime() / 1e3
                    c["executor_cpu_s"] += stage.executorCpuTime() / 1e9
                    c["input_bytes"] += stage.inputBytes()
                    c["input_records"] += stage.inputRecords()
                    c["output_bytes"] += stage.outputBytes()
                    c["output_records"] += stage.outputRecords()
                    c["shuffle_read_bytes"] += stage.shuffleReadBytes()
                    c["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                    c["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
            s.counters = c

    def dump(self, path: str) -> None:
        own = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump([dict(asdict(s), self_s=own[s.id]) for s in self.spans], fh)
