"""Spans and Spark job accounting for the traced run.

Spans are recorded from the benchmark's side, around each call into a
layer of the engine; nothing inside ``top2vec_spark`` is instrumented.
Each top-level operation gets its own Spark job group, so its jobs,
tasks and failed tasks can be counted afterwards through
``statusTracker()``, which works with the UI disabled. Jobs the engine
submits from its own worker threads carry no group; they are assigned
to the operation that was running, since one client runs one operation
at a time.

With tracing off every method is a cheap no-op, so the untraced run
measures the same code path.
"""

from __future__ import annotations

import time
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JError


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_jobs: dict[str, list[int]] = {}
        self._stack: list[int] = []
        self._op: str | None = None
        self._n_ops = 0

    def _new(self, name: str, layer: str, start: float) -> dict:
        span = {"name": name, "layer": layer, "op": self._op,
                "parent": self._stack[-1] if self._stack else None,
                "start": start}
        self.spans.append(span)
        return span

    @contextmanager
    def _record(self, name: str, layer: str):
        span = self._new(name, layer, time.time())
        self._stack.append(len(self.spans) - 1)
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._stack.pop()

    def span(self, name: str, layer: str):
        """A span around one call into ``layer``."""
        return self._record(name, layer) if self.enabled else nullcontext()

    def add(self, name: str, layer: str, start: float, end: float) -> None:
        """A span whose bounds were recorded elsewhere (build stages),
        as a child of the current span."""
        if self.enabled:
            self._new(name, layer, start)["end"] = end

    @contextmanager
    def op(self, name: str, layer: str):
        """One top-level operation: a span plus a Spark job group."""
        if not self.enabled:
            yield None
            return
        self._n_ops += 1
        op_id = f"bench-{self._n_ops:05d}-{name}"
        tracker = self.sc.statusTracker()
        ungrouped = set(tracker.getJobIdsForGroup(None))
        self._op = op_id
        self.sc.setJobGroup(op_id, name)
        try:
            with self._record(name, layer):
                yield op_id
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._op = None
            jobs = set(tracker.getJobIdsForGroup(op_id))
            jobs |= set(tracker.getJobIdsForGroup(None)) - ungrouped
            self.op_jobs[op_id] = sorted(jobs)

    def job_counts(self) -> dict[str, dict]:
        """Jobs, tasks and failed tasks per operation. Call once, after
        the run: it waits for Spark's listener bus to drain first."""
        if not self.enabled:
            return {}
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # private API; without it counts may lag
            time.sleep(2.0)
        tracker = self.sc.statusTracker()
        out = {}
        for op_id, jobs in self.op_jobs.items():
            tasks = failed = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    st = tracker.getStageInfo(s)
                    if st:
                        tasks += st.numCompletedTasks
                        failed += st.numFailedTasks
            out[op_id] = {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}
        return out

    def self_times(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part of
        it that its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, cur = 0.0, None
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur and a <= cur[1]:
                    cur[1] = max(cur[1], b)
                else:
                    covered += cur[1] - cur[0] if cur else 0.0
                    cur = [a, b]
            covered += cur[1] - cur[0] if cur else 0.0
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out
