"""Spans around the package's public functions, recorded from outside.

``Tracer.wrap(owner, attr, name)`` replaces ``owner.attr`` with a wrapper
that records a span ``name`` for every call: start, end, parent span and
the Spark job group the wrapper set for the call's duration. Spans stay in
memory; ``resolve()`` reads ``statusTracker()`` once per span at the end
of the run (jobs, stages, tasks, failed tasks of that span's own group).

A disabled tracer only counts calls: the untraced run needs the counts for
its warm-up guards but pays no job-group or timing cost.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import Counter, defaultdict

GROUP_PROPERTY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.calls: Counter[str] = Counter()
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # ---- recording -------------------------------------------------------

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str) -> dict | None:
        with self._lock:
            self.calls[name] += 1
        if not self.enabled:
            return None
        stack = self._stack()
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
        }
        span["group"] = f"perfbench-{span['id']}"
        span["outer_group"] = self.sc.getLocalProperty(GROUP_PROPERTY)
        self.sc.setLocalProperty(GROUP_PROPERTY, span["group"])
        stack.append(span)
        span["start"] = time.perf_counter()
        return span

    def end(self, span: dict | None) -> None:
        if span is None:
            return
        span["end"] = time.perf_counter()
        self._stack().pop()
        self.sc.setLocalProperty(GROUP_PROPERTY, span.pop("outer_group"))
        with self._lock:
            self.spans.append(span)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(span)

        setattr(owner, attr, traced)

    # ---- reading back ----------------------------------------------------

    def resolve(self) -> None:
        """Attach Spark counts to every span from its own job group."""
        tracker = self.sc.statusTracker()
        for span in self.spans:
            jobs = stages = tasks = failed = 0
            for job_id in tracker.getJobIdsForGroup(span["group"]):
                jobs += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    stage = tracker.getStageInfo(stage_id)
                    if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    stages += 1
                    tasks += stage.numCompletedTasks
                    failed += stage.numFailedTasks
            span.update(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus its children's, in seconds."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


def layer_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Span name → summed self seconds, calls and Spark counts."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict(self_s=0.0, calls=0, jobs=0, stages=0, tasks=0, failed_tasks=0)
    )
    for s in spans:
        t = out[s["name"]]
        t["self_s"] += selfs[s["id"]]
        t["calls"] += 1
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            t[k] += s.get(k, 0)
    return dict(out)
