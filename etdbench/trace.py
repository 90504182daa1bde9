"""In-memory spans for the traced benchmark run.

A span records name, start, end and parent. While a span is open, every
Spark job the calling thread launches carries the span's id as its job group
(``setJobGroup``), so the stage metrics the status REST API reports (CPU,
GC, input/output/shuffle bytes, spill, task counts) can be attributed to the
span after the run. Nothing is written until the run ends.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "outputBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numCompleteTasks",
)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``enabled=False`` gives a recorder whose spans cost a
    clock read and set no job group, so untraced code paths stay shared."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, parent.id if parent else None,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            self.spark.sparkContext.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.spark.sparkContext.setJobGroup(parent.id, parent.name)
                else:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the time its (sequential) child spans cover."""
        return span.duration - sum(c.duration for c in self.children(span))

    def attach_stage_metrics(self) -> None:
        """Fetch jobs and stages from the status REST API and add each
        completed stage's metrics, plus job/stage counts, to the span whose
        id is the job's group. Call once, after the measured work."""
        sc = self.spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        jobs = _settled(base + "/jobs")
        stages = {
            s["stageId"]: s
            for s in _get(base + "/stages")
            if s["status"] == "COMPLETE"
        }
        by_id = {s.id: s for s in self.spans}
        seen: set[int] = set()
        for job in jobs:
            span = by_id.get(job.get("jobGroup"))
            if span is None:
                continue
            span.counts["jobs"] = span.counts.get("jobs", 0) + 1
            for sid in job["stageIds"]:
                if sid in seen or sid not in stages:
                    continue  # skipped (reused shuffle) or counted already
                seen.add(sid)
                st = stages[sid]
                span.counts["stages"] = span.counts.get("stages", 0) + 1
                for f in STAGE_FIELDS:
                    span.counts[f] = span.counts.get(f, 0) + st.get(f, 0)

    def total(self, span: Span, key: str) -> float:
        """``key`` summed over the span and all its descendants."""
        return sum(s.counts.get(key, 0) for s in [span, *self.descendants(span)])

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"id": s.id, "name": s.name, "parent": s.parent,
                     "start": s.start, "end": s.end, "counts": s.counts}
                    for s in self.spans
                ],
                fh,
            )


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _settled(url: str, tries: int = 20):
    """The status store is fed asynchronously: poll until no job is
    running and two reads agree."""
    prev = None
    for _ in range(tries):
        cur = _get(url)
        if prev is not None and len(cur) == len(prev) and all(
            j["status"] != "RUNNING" for j in cur
        ):
            return cur
        prev = cur
        time.sleep(0.25)
    return prev
