"""Spans and Spark job counts for the traced run.

A span is recorded around every op and every call the benchmark makes
into an engine layer. Each span carries a name, start, end, parent span
and op id, plus the Spark jobs, stages and tasks launched while it was
the innermost open span: every span gets its own job group, and the
counts are read back through `sc.statusTracker()` when the span closes.
Spans stay in memory until the run ends. Each span also records `cost`,
the time the tracer itself spent opening and closing it, which gives
the tracing overhead.

The untraced run uses `NullTracer`, whose spans are a shared no-op
context manager, so its timings carry no tracing cost.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager, nullcontext

_NULL = nullcontext()


class NullTracer:
    enabled = False

    def span(self, name: str):
        return _NULL


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        c0 = time.perf_counter()
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "op": self.op_id, "group": f"perfbench-span-{sid}"}
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent["group"], parent["name"])
            rec.update(self._job_counts(rec.pop("group")))
            rec["cost"] = ((rec["start"] - c0)
                           + (time.perf_counter() - rec["end"]))
            self.spans.append(rec)

    def _job_counts(self, group: str) -> dict:
        """Jobs, stages and tasks run under one job group. A job's
        stage records are final once the status store shows the job
        finished; the store is fed by an asynchronous listener, so an
        unfinished job is polled for a short while."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for _ in range(100):
                if info is None or info.status != "RUNNING":
                    break
                time.sleep(0.01)
                info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(s["id"], ())):
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def inclusive_counts(spans: list[dict]) -> dict[int, dict]:
    """Span id -> jobs/stages/tasks of the span and all its descendants."""
    by_id = {s["id"]: s for s in spans}
    tot = {s["id"]: {k: s[k] for k in ("jobs", "stages", "tasks")}
           for s in spans}
    # children close (and are appended) before their parents
    for s in spans:
        p = s["parent"]
        while p is not None:
            for k in ("jobs", "stages", "tasks"):
                tot[p][k] += s[k]
            p = by_id[p]["parent"] if p in by_id else None
    return tot


def median_ms(spans: list[dict], name: str) -> float | None:
    d = [(s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == name]
    return statistics.median(d) if d else None
