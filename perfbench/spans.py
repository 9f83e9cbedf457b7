"""Spans recorded around the benchmark's calls into the program.

A span has a name, a start, an end, a parent and the run id every span of one
run shares.  Spans stay in memory and are written as JSON lines when the run
ends.  While a span is open its Spark jobs run in a job group of their own, so
the public ``StatusTracker`` gives exact job, task and failed-task counts for
it.  A disabled tracer does nothing, so untraced runs pay no tracing cost.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid
from collections import defaultdict

_DONE = ("SUCCEEDED", "FAILED")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        s = {"run_id": self.run_id, "id": len(self.spans), "parent": parent and parent["id"],
             "name": name, **attrs}
        self.spans.append(s)
        self._stack.append(s)
        group = f"{self.run_id}-{s['id']}"
        self.sc.setJobGroup(group, name)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            s.update(self._counts(group))

    def _counts(self, group: str) -> dict:
        """Jobs, tasks and failed tasks of one job group, once the status
        listener has seen every job end (it runs behind the scheduler)."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + 5.0
        while True:
            infos = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
            if all(i is not None and i.status in _DONE for i in infos) or time.monotonic() > deadline:
                break
            time.sleep(0.01)
        stages = {sid for i in infos if i is not None for sid in i.stageIds}
        tasks = failed = 0
        for sid in stages:
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
        return {"jobs": len(infos), "tasks": tasks, "failed_tasks": failed}

    def self_times(self) -> dict:
        """name -> summed self seconds (duration minus direct children)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def totals(self, name: str, key: str) -> int:
        """Sum of a count over a span and all of its descendants."""
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)

        def walk(s):
            return s.get(key, 0) + sum(walk(c) for c in kids[s["id"]])

        return sum(walk(s) for s in self.find(name))

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
