"""In-memory span recorder for the traced run.

Spans are recorded from outside the engine: ``Tracer.patch`` replaces a
module or class attribute with a wrapper that opens a span around each call,
and ``Tracer.restore`` puts the originals back. Each span keeps its name,
start, end, parent span and the trace id shared by every span of one run.
Spark job and task counts come from the status tracker, under one job group
per measured call.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time


class Tracer:
    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {"trace": self.trace_id, "id": sid,
               "parent": self._stack[-1] if self._stack else None,
               "name": name, **attrs}
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def patch(self, owner, attr: str, name: str, count_result=False) -> None:
        """Wrap ``owner.attr`` so every call records a span ``name``; with
        ``count_result`` the span also keeps ``len()`` of the return value."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if count_result:
                    rec["n"] = len(out)
                return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def children(self, parent: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent["id"]]

    def coverage(self, parent: dict) -> float:
        """Share of ``parent`` covered by its direct children."""
        covered = sum(s["end"] - s["start"] for s in self.children(parent))
        return covered / (parent["end"] - parent["start"])

    def descendants(self, parent: dict, name: str) -> list[dict]:
        out, todo = [], [parent["id"]]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s["parent"] == pid:
                    todo.append(s["id"])
                    if s["name"] == name:
                        out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def duration(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag every Spark job started inside the block with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def job_counts(spark, group: str) -> tuple[int, int]:
    """(Spark jobs, completed tasks) started under ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return len(jobs), tasks
