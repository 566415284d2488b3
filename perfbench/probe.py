"""Spark counters and spans, read from outside the engine.

``SparkProbe`` runs a block under its own job group and reads what the
group's jobs did: jobs, stages and tasks from ``sc.statusTracker()``;
shuffle, spill and input/output bytes and job submit/complete times
from the JVM ``AppStatusStore`` (populated with ``spark.ui.enabled=false``
too). ``Tracer`` keeps spans in memory; a layer's self time is its span
minus the part of it that its child spans cover.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field, fields


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0  # stages that ran at least one task
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # memory + disk spill
    input_bytes: int = 0
    output_bytes: int = 0
    job_intervals: list = field(default_factory=list)  # (submit, end) epoch s

    def __add__(self, other: "Counters") -> "Counters":
        out = Counters()
        for f in fields(self):
            setattr(out, f.name, getattr(self, f.name) + getattr(other, f.name))
        return out

    def busy_s(self) -> float:
        """Wall time covered by at least one job (union of intervals)."""
        total, end = 0.0, float("-inf")
        for a, b in sorted(self.job_intervals):
            if b > end:
                total += b - max(a, end)
                end = b
        return total


class SparkProbe:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._ids = itertools.count()

    @contextmanager
    def group(self, label: str):
        """Run the block under a fresh job group; yields its id."""
        gid = f"perfbench-{next(self._ids)}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc._jsc.clearJobGroup()

    def counters(self, gid: str) -> Counters:
        # the status store is fed by the listener bus: drain it first
        self._jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), self._jsc.statusStore()
        c = Counters()
        for job_id in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            c.jobs += 1
            job = store.job(job_id)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                c.job_intervals.append((
                    job.submissionTime().get().getTime() / 1000.0,
                    job.completionTime().get().getTime() / 1000.0,
                ))
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is None or stage.numCompletedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                c.stages += 1
                c.tasks += stage.numCompletedTasks
                data = store.lastStageAttempt(stage_id)
                c.shuffle_read_bytes += data.shuffleReadBytes()
                c.shuffle_write_bytes += data.shuffleWriteBytes()
                c.spill_bytes += data.memoryBytesSpilled() + data.diskBytesSpilled()
                c.input_bytes += data.inputBytes()
                c.output_bytes += data.outputBytes()
        return c

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


@dataclass
class Span:
    op: int
    name: str
    parent: str | None
    start: float
    end: float = 0.0


class Tracer:
    """In-memory spans; written out by the caller when the run ends."""

    def __init__(self):
        self.spans: list[Span] = []

    @contextmanager
    def span(self, op: int, name: str, parent: str | None = None):
        s = Span(op, name, parent, time.perf_counter())
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.spans.append(s)

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus its children's."""
        children: dict[tuple[int, str], float] = {}
        for s in self.spans:
            if s.parent is not None:
                key = (s.op, s.parent)
                children[key] = children.get(key, 0.0) + (s.end - s.start)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            own = (s.end - s.start) - children.get((s.op, s.name), 0.0)
            out.setdefault(s.name, []).append(own)
        return out

    def to_json(self) -> list[dict]:
        return [vars(s) for s in self.spans]
