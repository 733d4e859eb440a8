"""Spans recorded from outside the engine.

Spark is lazy, so a layer's cost shows up in whichever call runs an
action.  The tracer therefore wraps the engine's action-bearing public
calls (installed with `instrument`, removed on exit, engine code
untouched) and the benchmark's own calls into each layer.  Each span
gets its own Spark job group, so jobs and tasks are attributed to the
innermost open span through `SparkContext.statusTracker()`.

Spans live in memory and are written out with the run's report.
"""

from __future__ import annotations

import contextlib
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()
        self._pending: list[dict] = []
        self._kids: dict[int, list[dict]] = {}
        self._kids_for = -1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "op": self.op, "attrs": attrs,
               "group": f"perfbench-{os.getpid()}-{len(self.spans)}"}
        self.spans.append(rec)
        self._pending.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"],
                                    self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def collect_jobs(self) -> None:
        """Attach Spark job and task counts to spans closed since the last
        call.  Call after each op, before the status store forgets jobs."""
        st = self.sc.statusTracker()
        for rec in self._pending:
            jobs = list(st.getJobIdsForGroup(rec["group"]))
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    sinfo = st.getStageInfo(s)
                    tasks += sinfo.numCompletedTasks if sinfo else 0
            rec["jobs"], rec["tasks"] = len(jobs), tasks
        self._pending = []

    # ------------------------------------------------------ aggregates

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part covered by direct children (spans
        nest strictly: one client thread)."""
        kids = self._children()[rec["id"]]
        return self.duration(rec) - sum(self.duration(k) for k in kids)

    def inclusive(self, rec: dict, key: str) -> int:
        """`key` ("jobs" or "tasks") summed over the span and its subtree."""
        return rec.get(key, 0) + sum(self.inclusive(k, key)
                                     for k in self._children()[rec["id"]])

    def named(self, *names: str) -> list[dict]:
        return [s for s in self.spans if s["name"] in names]

    def self_sum(self, *names: str) -> float:
        return sum(self.self_time(s) for s in self.named(*names))

    def _children(self) -> dict[int, list[dict]]:
        if self._kids_for != len(self.spans):
            self._kids = defaultdict(list)
            for s in self.spans:
                if s["parent"] is not None:
                    self._kids[s["parent"]].append(s)
            self._kids_for = len(self.spans)
        return self._kids

    def dump(self) -> list[dict]:
        return [{k: v for k, v in s.items() if k != "group"}
                | {"attrs": {k: v for k, v in s["attrs"].items()
                             if isinstance(v, (int, float, str, list))}}
                for s in self.spans]


def _wrap(tracer: Tracer, name: str, fn, after=None):
    def traced(*args, **kwargs):
        with tracer.span(name) as rec:
            out = fn(*args, **kwargs)
        if after is not None:
            after(rec, args, out)
        return out
    return traced


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the engine's action-bearing public calls in spans for the
    duration of the block."""
    import engine.flagship
    import engine.geo.knn
    from engine.geo.layer import PolygonLayer
    from engine.icelite import IceliteTable
    from engine.metrics import MetricsSink

    def commit_after(rec, args, sid):
        # file sizes and row counts are read after the op (untimed)
        rec["attrs"]["files"] = args[0].added_files(sid)

    def keys_after(rec, args, hot):
        rec["attrs"]["hot_keys"] = len(hot)

    def build_after(rec, args, df):
        rec["attrs"]["df"] = df

    targets = [
        (IceliteTable, "commit_append", "icelite.commit_append", commit_after),
        (IceliteTable, "find_snapshot", "icelite.find_snapshot", None),
        (MetricsSink, "emit_stage", "metrics.emit_stage", None),
        (MetricsSink, "emit_lineage", "metrics.emit_lineage", None),
        (engine.flagship, "heavy_hitters", "geo.skew.heavy_hitters",
         keys_after),
        (PolygonLayer, "build_df", "geo.layer.build_df", build_after),
        (engine.geo.knn, "materialize", "ckpt.materialize", None),
    ]
    saved = [(owner, attr, getattr(owner, attr))
             for owner, attr, _, _ in targets]
    try:
        for owner, attr, name, after in targets:
            setattr(owner, attr, _wrap(tracer, name, getattr(owner, attr),
                                       after))
        yield tracer
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)
