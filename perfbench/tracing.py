"""Spans recorded around the benchmark's calls into the program, plus the
engine counters read at the same boundaries.

Spans are kept in memory and written as one JSON file when the run ends.
With tracing off, ``span`` is a no-op context manager, so the untraced run
executes the same code path without recording anything.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, step: int | None = None):
        """Record ``name`` from entry to exit, with the enclosing span as
        parent; the yielded dict collects counters attached to the span."""
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "step": step,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
            "counters": {},
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["counters"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def write(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class TaskCounter:
    """Tasks and failed tasks of the jobs run under given job groups, read
    through Spark's public ``statusTracker``.  Streaming queries run their
    jobs under their run id; batch queries under a group the caller sets."""

    def __init__(self, spark) -> None:
        self.tracker = spark.sparkContext.statusTracker()
        self.seen: set[int] = set()

    def delta(self, groups: list[str]) -> tuple[int, int]:
        """(tasks, failed tasks) of jobs in ``groups`` not counted before."""
        tasks = failed = 0
        for group in groups:
            for job_id in self.tracker.getJobIdsForGroup(group):
                if job_id in self.seen:
                    continue
                job = self.tracker.getJobInfo(job_id)
                if job is None or job.status == "RUNNING":
                    continue
                self.seen.add(job_id)
                for stage_id in job.stageIds:
                    stage = self.tracker.getStageInfo(stage_id)
                    if stage is not None:
                        tasks += stage.numCompletedTasks
                        failed += stage.numFailedTasks
        return tasks, failed
