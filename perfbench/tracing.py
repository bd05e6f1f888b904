"""Spans and Spark counts for the traced run (``--trace 1``).

Spans (name, start, end, parent) are taken around the benchmark's own calls
into the package's public functions; nothing inside the package is
instrumented. Spark counts come from what Spark already exposes: the status
tracker's jobs, stages and tasks per job group, the status store's stage
input and shuffle bytes, and a streaming query's ``recentProgress``.

With tracing off every method is a no-op, so untraced runs pay nothing.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self._group_seq = 0

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span; nested spans name their parent."""
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.samples[name].append(rec["end"] - rec["start"])

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value

    def sample(self, name: str, value: float) -> None:
        if self.enabled:
            self.samples[name].append(value)

    @contextlib.contextmanager
    def job_group(self, prefix: str, counts_prefix: str):
        """Run the block under a fresh Spark job group and add the group's
        jobs, stages, tasks, input bytes and shuffle-write bytes to the
        counts under ``counts_prefix``."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._group_seq += 1
        gid = f"{prefix}-{self._group_seq}"
        sc.setJobGroup(gid, prefix)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            for k, v in self.group_counts(gid).items():
                self.counts[f"{counts_prefix}.{k}"] += v

    def group_counts(self, gid: str) -> dict[str, float]:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "input_bytes": 0, "shuffle_write_bytes": 0}
        for jid in tracker.getJobIdsForGroup(gid):
            out["jobs"] += 1
            job = tracker.getJobInfo(jid)
            for sid in job.stageIds if job else []:
                try:
                    data = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # skipped stage: never ran, no attempt
                out["stages"] += 1
                out["tasks"] += data.numTasks()
                out["input_bytes"] += data.inputBytes()
                out["shuffle_write_bytes"] += data.shuffleWriteBytes()
        return out

    def report(self) -> dict:
        return {
            "spans": self.spans,
            "counts": dict(self.counts),
            "samples": {k: list(v) for k, v in self.samples.items()},
        }
