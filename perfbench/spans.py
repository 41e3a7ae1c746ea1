"""Spans and counts recorded around the calls into the program's layers.

A span records its name, parent, wall time, the Spark jobs started
while it was the innermost span (through a job group of its own) and
the JVM GC time that passed during it. ``Tracer.wrap`` replaces a
module attribute (a name a plan module looks up when it calls a layer)
with a wrapper that times each call and, while tracing, opens a span
around it; ``Tracer.restore`` puts the originals back. The program's
own files are never edited.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str  # the Spark job group of the jobs started inside it
    t0: float = 0.0
    t1: float = 0.0
    bookkeeping_s: float = 0.0  # the tracer's own time around the span
    gc_s: float = 0.0
    own_jobs: int = 0
    children: list[Span] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        """Own time: the children's spans and the tracer's time
        around them excluded."""
        return self.dur - sum(c.dur + c.bookkeeping_s for c in self.children)

    @property
    def jobs(self) -> int:
        return self.own_jobs + sum(c.jobs for c in self.children)

    @property
    def tracer_s(self) -> float:
        """The tracer's own time around this span and its descendants:
        what tracing added to the pass."""
        return self.bookkeeping_s + sum(c.tracer_s for c in self.children)


class Tracer:
    """Keeps spans in memory; one tracer per Spark session.

    ``gc`` turns the per-span GC reads on: each costs a few Py4J
    calls, so untraced passes open only their outer span, without it.
    """

    def __init__(self, spark):
        self.spark = spark
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._n = 0
        self.active = False  # wrappers only time the call when off
        self.calls: list[tuple[str, float]] = []  # (span name, seconds)

    def gc_s(self) -> float:
        """Total JVM garbage-collection time so far (GC MXBeans)."""
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000

    @contextmanager
    def span(self, name: str, gc: bool = True) -> Iterator[Span]:
        entered = time.perf_counter()
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(name=name, group=f"perfbench-{self._n}")
        self.sc.setJobGroup(sp.group, name)
        gc0 = self.gc_s() if gc else 0.0
        self._stack.append(sp)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if gc:
                sp.gc_s = self.gc_s() - gc0
            sp.own_jobs = len(self.tracker.getJobIdsForGroup(sp.group))
            if parent is not None:
                parent.children.append(sp)
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setJobGroup("perfbench-idle", "idle")
            sp.bookkeeping_s = time.perf_counter() - entered - sp.dur

    def wrap(
        self,
        module: object,
        attr: str,
        name: str,
        note: Callable[..., None] | None = None,
    ) -> None:
        """Time every call of ``module.attr`` into ``calls``; while the
        tracer is active, also open a span around it. ``note``, when
        given, is called as ``note(span, result, *args, **kwargs)``
        after a traced call."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.active:
                t0 = time.perf_counter()
                result = orig(*args, **kwargs)
                self.calls.append((name, time.perf_counter() - t0))
                return result
            with self.span(name) as sp:
                result = orig(*args, **kwargs)
            self.calls.append((name, sp.dur))
            if note is not None:
                note(sp, result, *args, **kwargs)
            return result

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)


def totals(root: Span) -> dict[str, tuple[float, int]]:
    """``name -> (seconds, jobs)`` summed over the direct children of
    ``root``, each inclusive of its own children."""
    out: dict[str, tuple[float, int]] = {}
    for sp in root.children:
        s, j = out.get(sp.name, (0.0, 0))
        out[sp.name] = (s + sp.dur, j + sp.jobs)
    return out
