"""Spans around the benchmark's calls into the package.

An *action* is one step of a workload script (a page view, an upsert
commit, a corpus write).  With tracing on, every action opens a span
and every call the script makes into a package module opens a child
span, named ``<module>.<function>``.  A child span covers the call
and the Spark action that forces its result, because the package's
operators are lazy and do their work when the result is collected or
written.  Each span runs under its own Spark job group, so the jobs
and tasks it spawned are read back from the status tracker when it
ends.  Spans stay in memory until the run ends.

With tracing off, only the action latency is taken and calls go
straight through.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, on: bool):
        self.sc = sc
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._action_id = -1

    @contextmanager
    def span(self, name: str, cls: str | None = None):
        """Open a span; ``cls`` marks an action (the root of a tree)."""
        if not self.on:
            yield
            return
        if cls is not None:
            self._action_id += 1
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "action": self._action_id,
            "name": name,
            "cls": cls,
            "jobs": 0,
            "tasks": 0,
        }
        sp["group"] = f"perfbench-{sp['id']}"
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_jobs(sp)

    def _count_jobs(self, sp: dict) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(sp["group"]):
            sp["jobs"] += 1
            job = st.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    sp["tasks"] += stage.numCompletedTasks

    def call(self, name: str, fn, *args, **kw):
        """Run ``fn`` (a call into package module ``name``) in a span."""
        if not self.on:
            return fn(*args, **kw)
        with self.span(name):
            return fn(*args, **kw)


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part its direct children cover
    (children of one span run one after another, never overlapping)."""
    child = [0.0] * len(spans)
    for sp in spans:
        if sp["parent"] is not None:
            child[sp["parent"]] += sp["end"] - sp["start"]
    return [sp["end"] - sp["start"] - c for sp, c in zip(spans, child)]


def subtree_counts(spans: list[dict], key: str) -> list[int]:
    """``key`` ("jobs" or "tasks") summed over each span and its
    descendants.  Spans are stored parent-first, so one reverse pass
    folds children into parents."""
    tot = [sp[key] for sp in spans]
    for sp in reversed(spans):
        if sp["parent"] is not None:
            tot[sp["parent"]] += tot[sp["id"]]
    return tot
