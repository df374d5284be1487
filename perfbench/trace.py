"""Spans, Spark job attribution and timing statistics for the benchmark.

A :class:`Tracer` records spans (name, layer, start, end, parent) in
memory. When enabled, each span also runs under its own Spark job group
(``SparkContext.setJobGroup``), so that after the run the jobs, stages
and tasks of every span can be read back in-process from
``SparkContext.statusTracker()``; no Spark UI or HTTP call is involved.
When disabled, :meth:`Tracer.span` costs one attribute check.

:func:`instrument` places spans around the engine's public functions at
every binding site (module attributes and module-level registries that
hold the function), from the benchmark's own files; the engine's code is
not changed.
"""

from __future__ import annotations

import contextlib
import functools
import math
import sys
import time
from dataclasses import dataclass, field

ENGINE_PKG = "ecommerce_dbt_medallion_spark"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = math.nan
    group: str = ""
    jobs: int = 0  # self counts: jobs submitted while this span was innermost
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]], lo: float = -math.inf,
                 hi: float = math.inf) -> float:
    """Total length covered by ``intervals`` after clipping to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by its children.

    Children may overlap one another (for instance a span opened on
    another thread); the covered part is their union, clipped to the
    parent's interval, so overlapping time is subtracted once.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - union_length(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


TAIL_BEYOND = 10


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that still has at
    least ``beyond`` samples above it, or None with too few samples.

    With n samples sorted ascending, that is the order statistic
    x[n - beyond - 1]: exactly ``beyond`` samples sit beyond it, and it
    is the ((n - beyond) / n) quantile (nearest rank).
    """
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    return (n - beyond) / n, xs[n - beyond - 1]


class Tracer:
    """In-memory span recorder with optional Spark job attribution."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._run = f"pb{int(time.time() * 1e6)}"

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, parent.id if parent else None,
                 time.perf_counter(), attrs=attrs)
        s.group = f"{self._run}-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.group, name, False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name, False)
                else:
                    self.sc._jsc.clearJobGroup()

    def harvest(self) -> None:
        """Attribute Spark jobs, stages and tasks to spans (self counts).

        Waits for the listener bus to drain first, so the status tracker
        has seen every job the spans submitted.
        """
        if not self.enabled or self.sc is None:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for s in self.spans:
            for jid in st.getJobIdsForGroup(s.group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        s.stages += 1
                        s.tasks += si.numCompletedTasks

    def descendants(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def totals(self, root: Span) -> dict[str, int]:
        """Inclusive job, stage and task counts of ``root``."""
        sub = self.descendants(root)
        return {k: sum(getattr(s, k) for s in sub) for k in ("jobs", "stages", "tasks")}


def layer_table(tracer: Tracer, roots: list[Span]) -> list[tuple[str, int, float, float, int]]:
    """Per layer, over the spans below ``roots``: (layer, calls, self
    seconds, share of the roots' time, self Spark jobs), largest first."""
    sub = [s for r in roots for s in tracer.descendants(r)]
    st = self_times(sub)
    total = sum(r.duration for r in roots) or 1.0
    rows: dict[str, list] = {}
    for s in sub:
        row = rows.setdefault(s.layer, [0, 0.0, 0])
        row[0] += 1
        row[1] += st[s.id]
        row[2] += s.jobs
    return sorted(((k, n, t, t / total, j) for k, (n, t, j) in rows.items()),
                  key=lambda r: -r[2])


# ------------------------------------------------------------ binding sites


def _wrap(tracer: Tracer, fn, name, layer: str):
    """``name`` is a string, or a function of (args, kwargs) naming the call."""
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name(args, kwargs) if callable(name) else name, layer):
            return fn(*args, **kwargs)

    return traced


class Instrumentation:
    """Replaces engine functions with span-recording wrappers at every
    binding site, and puts the originals back on :meth:`restore`."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, tracer: Tracer, module, attr: str, name, layer: str) -> None:
        fn = getattr(module, attr)
        traced = _wrap(tracer, fn, name, layer)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(ENGINE_PKG):
                continue
            for key, val in list(vars(mod).items()):
                if val is fn:
                    self._undo.append((mod, key, fn))
                    setattr(mod, key, traced)
                elif type(val) is dict:
                    for dk, dv in list(val.items()):
                        if dv is fn:
                            self._undo.append((val, dk, fn))
                            val[dk] = traced

    def restore(self) -> None:
        for target, key, fn in reversed(self._undo):
            if isinstance(target, dict):
                target[key] = fn
            else:
                setattr(target, key, fn)
        self._undo.clear()
