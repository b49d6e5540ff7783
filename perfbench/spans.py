"""In-memory span recorder for the traced run.

A span is (id, parent, trace, name, start, end); spans opened while another
is open become its children, and every span of one pass shares that pass's
trace id. Spans stay in memory and are written out once, at exit. A
layer's self time is its span's duration minus the time its child spans
cover (children run sequentially on one thread, so their durations
add up without overlap).

With ``enabled=False`` every call is a no-op, so the untraced passes pay
nothing for the instrumentation.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.trace_id = 0
        self._stack: list[int] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({
                "id": sid, "parent": parent, "trace": self.trace_id,
                "name": name, "start": start, "end": end,
            })

    def self_seconds(self, trace_id: int) -> dict[str, float]:
        """Self time summed per span name over one trace (one pass)."""
        spans = [s for s in self.spans if s["trace"] == trace_id]
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def spark_work(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran for one job group (stages skipped
    because their shuffle output was reused run no tasks and are not
    counted). Read it right after the group's work: the status store keeps
    only the most recent jobs."""
    tracker = sc.statusTracker()
    out = {"session.jobs": 0, "session.stages": 0, "session.tasks": 0}
    for job_id in tracker.getJobIdsForGroup(group):
        out["session.jobs"] += 1
        job = tracker.getJobInfo(job_id)
        for stage_id in job.stageIds if job else []:
            stage = tracker.getStageInfo(stage_id)
            if stage and stage.numCompletedTasks:
                out["session.stages"] += 1
                out["session.tasks"] += stage.numCompletedTasks
    return out
