"""Span tracer with per-span Spark job accounting.

A span is one timed call into a layer: name, start, end, parent, and
the id of the operation (one query, one curation batch) it belongs to.
Every span runs under its own Spark job group, so the jobs, stages,
tasks and failed tasks it launched are read back afterwards from the
public ``SparkStatusTracker`` -- nothing inside the program changes.
Job groups nest: leaving a span restores its parent's group, so a job
counts toward the innermost span that launched it.

Self time is a span's duration minus the time covered by its direct
children. Spans stay in memory and are written out as JSON lines when
the run ends.

With ``enabled=False`` (the end-to-end runs) ``span`` is a no-op and
nothing is wrapped, so the untraced timings carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict


class Span:
    __slots__ = ("name", "op", "parent", "start", "end", "group",
                 "children_s", "jobs", "stages", "tasks", "failed_tasks")

    def __init__(self, name, op, parent, group):
        self.name, self.op, self.parent, self.group = name, op, parent, group
        self.start = self.end = 0.0
        self.children_s = 0.0
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return max(0.0, self.dur - self.children_s)


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None
        # optional gauge sampled whenever a span ends; its maximum is kept
        self.probe = None
        self.probe_max = 0

    # ---- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{idx}"
        self.sc.setJobGroup(group, name)
        s = Span(name, self.op, parent, group)
        self.spans.append(s)
        self._stack.append(idx)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                p = self.spans[parent]
                p.children_s += s.dur
                self.sc.setJobGroup(p.group, p.name)
            else:
                self.sc.setJobGroup("perfbench-idle", "")
            if self.probe is not None:
                self.probe_max = max(self.probe_max, self.probe())

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside the block."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def current(self) -> str | None:
        return self.spans[self._stack[-1]].name if self._stack else None

    # ---- job accounting ------------------------------------------------
    def resolve_jobs(self, first: int = 0) -> None:
        """Fill jobs/stages/tasks of spans[first:] from the status
        tracker. Called between operations, outside every timer."""
        if not self.enabled:
            return
        st = self.sc.statusTracker()
        for s in self.spans[first:]:
            jobs = st.getJobIdsForGroup(s.group)
            s.jobs = len(jobs)
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    s.stages += 1
                    si = st.getStageInfo(sid)
                    if si is not None:
                        s.tasks += si.numTasks
                        s.failed_tasks += si.numFailedTasks

    # ---- reports -------------------------------------------------------
    def by_name(self, ops: set) -> dict:
        """name -> summed self seconds / jobs / stages / tasks /
        failed tasks / inclusive seconds over the operations ``ops``."""
        agg: dict = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s.op in ops:
                a = agg[s.name]
                a["self_s"] += s.self_s
                a["incl_s"] += s.dur
                a["calls"] += 1
                a["jobs"] += s.jobs
                a["stages"] += s.stages
                a["tasks"] += s.tasks
                a["failed_tasks"] += s.failed_tasks
        return agg

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": round(s.start, 6), "end": round(s.end, 6),
                    "self_s": round(s.self_s, 6), "jobs": s.jobs,
                    "stages": s.stages, "tasks": s.tasks,
                    "failed_tasks": s.failed_tasks,
                }) + "\n")

    def self_time_table(self, ops: set) -> str:
        agg = self.by_name(ops)
        n = max(1, len(ops))
        lines = [f"{'span':<24}{'calls':>7}{'self_s/op':>11}{'incl_s/op':>11}"
                 f"{'jobs/op':>9}{'tasks/op':>10}"]
        for name in sorted(agg, key=lambda k: -agg[k]["self_s"]):
            a = agg[name]
            lines.append(
                f"{name:<24}{int(a['calls']):>7}{a['self_s'] / n:>11.4f}"
                f"{a['incl_s'] / n:>11.4f}{a['jobs'] / n:>9.2f}"
                f"{a['tasks'] / n:>10.1f}")
        return "\n".join(lines)
