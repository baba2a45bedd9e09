"""Spans around the benchmark's calls into the engine, plus Spark job counts.

A span records name, layer, start, end, parent span and request id (one id
per op, shared by all its spans). Spans stay in memory; the engine process
writes them to its result file when it exits. A span opened with
``jobs=True`` gets its own Spark job group; right after the wrapped call the
group's jobs, stages and tasks are read through the public
``SparkStatusTracker``. The JVM status store keeps only the last 1000 jobs
and stages, so counts are read per call, never at the end of a run.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from itertools import count

# how long to wait for the listener bus to record the end of a group's jobs;
# an action returns before its last task-end events are processed
_SETTLE_S = 2.0


class Tracer:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._ids = count()
        self._stack: list[dict] = []
        self.spans: list[dict] = []
        self.request: int | None = None
        # off: span() records nothing and sets no job group, so the same
        # code path can run untraced for the tracing-overhead comparison
        self.enabled = True

    @contextmanager
    def span(self, name: str, layer: str, jobs: bool = False):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self.request,
        }
        group = f"perfbench-{rec['id']}"
        if jobs:
            self._sc.setJobGroup(group, f"{layer}:{name}")
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if jobs:
                rec.update(self._job_counts(group))
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def _job_counts(self, group: str) -> dict:
        tracker = self._sc.statusTracker()
        ids = tracker.getJobIdsForGroup(group)
        deadline = time.perf_counter() + _SETTLE_S
        infos = [tracker.getJobInfo(j) for j in ids]
        while any(i is not None and i.status == "RUNNING" for i in infos):
            if time.perf_counter() > deadline:
                break
            time.sleep(0.005)
            infos = [tracker.getJobInfo(j) for j in ids]
        out = {"jobs": len(ids), "stages": 0, "tasks": 0, "failed_tasks": 0}
        for info in infos:
            for sid in info.stageIds if info is not None else ():
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompletedTasks
                out["failed_tasks"] += st.numFailedTasks
        return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover.

    Spans of one process never overlap except by nesting (one client, one
    thread), so the covered part is the sum of the children's durations.
    """
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own
