"""Step timing, correctness accounting and Spark job statistics shared by
every workload.

A step is one timed call into the engine plus its correctness check. A
step that raises or fails its check counts as failed; it is never retried.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import defaultdict

from spans import Tracer


class CheckFailed(AssertionError):
    """A step's output disagreed with the benchmark's expected value."""


def expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it (None when
    fewer than eleven samples), with the sample count."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return {"p": None, "value": None, "n": n}
    k = n - 11  # index with exactly ten samples above it
    return {"p": round(100.0 * (k + 1) / n, 1), "value": s[k], "n": n}


def data_bytes(path: str) -> int:
    """Bytes of the parquet data files under `path` (Spark's .crc and
    _SUCCESS markers excluded)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def live_data_dir(path: str) -> str:
    """The data directory of a table's live generation."""
    from parquet_spark.operators.encode import read_snapshot

    return os.path.join(path, read_snapshot(path).get("data_dir", "data"))


class Run:
    """Per-run state: timing samples per operation, steps attempted and
    failed, and (traced runs only) spans and Spark job statistics."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.cycle_s: list[float] = []
        self.jobs: list[dict] = []  # per traced step: op, jobs, tasks, failed tasks
        self._n = 0

    def step(self, op: str, fn):
        """Run `fn()` as one step named `op`. `fn` makes the engine call and
        checks its output, and returns (seconds of the engine call, value).
        Returns (value, seconds); the value is None when the step failed."""
        self.attempted += 1
        self._n += 1
        step_id = f"{op}-{self._n}"
        sc = self.spark.sparkContext
        if self.tracer.enabled:
            sc.setJobGroup(step_id, op)
        t0 = time.perf_counter()
        try:
            with self.tracer.step_span(step_id, op):
                secs, value = fn()
        except Exception:  # noqa: BLE001 - a failed step is counted and reported, the run goes on
            self.failed += 1
            print(f"step {step_id} failed:\n{traceback.format_exc()}", file=sys.stderr)
            secs, value = time.perf_counter() - t0, None
        self.samples[op].append(secs)
        if self.tracer.enabled:
            self._record_jobs(op, step_id)
        return value, secs

    def _record_jobs(self, op: str, step_id: str) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(step_id)
        tasks = failed = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else []:
                st = tracker.getStageInfo(s)
                if st:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        self.jobs.append({"op": op, "jobs": len(jobs), "tasks": tasks, "failed_tasks": failed})
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def timed(self, fn, layer: str):
        """(seconds, value) of `fn()`, inside a span named `layer`."""
        t0 = time.perf_counter()
        with self.tracer.span(layer):
            value = fn()
        return time.perf_counter() - t0, value

    def op_tasks(self, op: str) -> list[int]:
        return [j["tasks"] for j in self.jobs if j["op"] == op]
