"""Spans around the engine's public functions, recorded from the benchmark.

The benchmark treats ``ecommerce_data_pipeline_spark`` as a black box: it
never edits the package. A traced run instead swaps a module attribute
for a wrapper that records one span per call. Plan modules import
functions by name (``from ...readers import load_table``), so a wrapper
is installed on every loaded module of the package that holds the same
function object, not only on the defining module.

Spans live in memory and are written out when the run ends. Each span has
a name, start, end, parent span and op id; the parent is the innermost
open span on the same thread (a foreachBatch handler runs on the Py4J
callback thread, so it gets its own stack).
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PACKAGE = "ecommerce_data_pipeline_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Collects spans while ``active``; wrappers stay installed but only
    forward the call when it is off, so traced and untraced ops can
    alternate inside one run and the difference is the tracing cost."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.active:
            yield
            return
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                Span(sid, name, time.perf_counter(), 0.0,
                     stack[-1] if stack else None, op or self.op)
            )
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid].end = time.perf_counter()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, module_name: str, attr: str, name: str) -> None:
        """Wrap ``module_name.attr`` everywhere the package refers to it."""
        original = getattr(sys.modules[module_name], attr)
        traced = self.wrap(original, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.split(".")[0] != PACKAGE or mod is None:
                continue
            if getattr(mod, attr, None) is original:
                setattr(mod, attr, traced)
                self._patches.append((mod, attr, original))

    def unpatch(self) -> None:
        for mod, attr, original in reversed(self._patches):
            setattr(mod, attr, original)
        self._patches.clear()

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: call count, total time and self time (a span's
        duration minus the part of it its direct children cover)."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]]
            )
            agg = out[s.name]
            agg["count"] += 1
            agg["total_s"] += s.end - s.start
            agg["self_s"] += (s.end - s.start) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def job_counts(sc, group: str) -> dict[str, int]:
    """Spark jobs, stages, tasks and failed tasks run under one job group,
    read from the public status tracker."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            # a skipped stage (its shuffle output reused) ran no tasks
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue
            stages += 1
            tasks += st.numCompletedTasks
            failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}
