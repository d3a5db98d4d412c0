"""Tracing from outside the engine.

Spans are recorded by the benchmark around each call into a layer: name,
start, end, parent span and operation id. They stay in memory and are
written out when the run ends. Spark work is counted without touching the
engine: each traced operation runs under its own job group, whose jobs,
stages and tasks come from ``statusTracker()``, and the file scans' output
rows come from the executed plan's SQL metrics.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        """Seconds spent in every span called `name`."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name, total duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def write(self, path: str, header: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(json.dumps({"header": header, "self_time_s": self.self_times()}) + "\n")
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class SparkCounters:
    """Jobs, stages and tasks of everything run under one job group.

    The isolated query session a ``SegmentIndex`` opens shares the
    SparkContext, so its jobs land in the group too."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        # status updates travel on the asynchronous listener bus: let it
        # drain so the last job's stages are in the status store
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = list(self.tracker.getJobIdsForGroup(group))
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:  # skipped stages ran no task
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def _children(node) -> list:
    # a Reused* node's subtree ran once, where it first appears: not followed
    seq = node.children()
    kids = [seq.apply(i) for i in range(seq.size())]
    if node.nodeName() == "AdaptiveSparkPlan":
        kids.append(node.executedPlan())
    return kids


def scan_rows(df) -> dict[str, int]:
    """numOutputRows of every file scan in `df`'s executed plan, summed per
    scanned directory name (``segments``, ``docmap``, ``term_stats``...).
    Call after the DataFrame has been collected."""
    out: dict[str, int] = {}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName().startswith("Scan "):
            roots = node.relation().location().rootPaths()
            where = os.path.basename(roots.apply(0).toString().rstrip("/")) if roots.size() else "?"
            metric = node.metrics().get("numOutputRows")
            if metric.isDefined():
                out[where] = out.get(where, 0) + int(metric.get().value())
        todo.extend(_children(node))
    return out
