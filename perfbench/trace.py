"""In-memory span tracer for the traced benchmark run.

A span records name, start, end, parent span and op id; spans are kept
in memory and written out once, when the run ends (:meth:`Tracer.dump`).
Every span also sets its own Spark job group, so the jobs it launches
are counted exactly through ``sc.statusTracker()`` — a repeatable count
of job launches, where wall time is noisy.  Jobs a Structured Streaming
query launches run on the query's own thread under the query's run id
as job group; :meth:`Tracer.add_jobs` credits them to the open span.
Spans opened inside the query's ``foreachBatch`` (through
:func:`spans_around`) run on the query's thread while the caller waits;
they nest under the caller's open span and tag that thread's jobs.
A span's job count includes its child spans' jobs; its time is reported
as self time (its duration minus its children's).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager, nullcontext


class Span:
    __slots__ = ("name", "op", "span_id", "parent", "start", "end", "jobs", "children_s")

    def __init__(self, name, op, span_id, parent, start):
        self.name = name
        self.op = op
        self.span_id = span_id
        self.parent = parent
        self.start = start
        self.end = None
        self.jobs = 0
        self.children_s = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s

    def as_dict(self) -> dict:
        return {
            "name": self.name, "op": self.op, "span": self.span_id,
            "parent": self.parent, "start": self.start, "end": self.end,
            "self_s": self.self_s, "spark_jobs": self.jobs,
        }


class NoTrace:
    """The tracer of an untraced run: every span is a no-op."""

    def span(self, name: str):
        return nullcontext()

    def new_op(self) -> int:
        return 0

    def add_jobs(self, group: str) -> None:
        pass


class Tracer:
    """``with tracer.span("layer.fn"): ...`` around each call into a
    layer.  ``op`` groups the spans of one benchmark operation (one
    construction, one ingest cycle, one request)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self.op = 0

    def new_op(self) -> int:
        self.op += 1
        return self.op

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        sp = Span(name, self.op, self._next, parent.span_id if parent else None,
                  time.perf_counter())
        group = f"perfbench-span-{sp.span_id}"
        self.sc.setJobGroup(group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.jobs += len(self.sc.statusTracker().getJobIdsForGroup(group))
            if parent is not None:
                parent.children_s += sp.dur
                parent.jobs += sp.jobs
                self.sc.setJobGroup(f"perfbench-span-{parent.span_id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def add_jobs(self, group: str) -> None:
        """Credit the jobs of a foreign job group (a streaming query's
        run id) to the innermost open span."""
        if self._stack:
            self._stack[-1].jobs += len(self.sc.statusTracker().getJobIdsForGroup(group))

    # -- aggregation ----------------------------------------------------

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def median_self(self, name: str) -> float:
        return statistics.median(s.self_s for s in self.by_name(name))

    def median_jobs(self, name: str) -> float:
        return statistics.median(s.jobs for s in self.by_name(name))

    def names(self) -> list[str]:
        seen: dict[str, None] = {}
        for s in sorted(self.spans, key=lambda s: s.span_id):
            seen.setdefault(s.name, None)
        return list(seen)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.span_id):
                fh.write(json.dumps(s.as_dict()) + "\n")


@contextmanager
def spans_around(tracer: Tracer, targets):
    """Temporarily wrap module-level functions in spans, for layers the
    benchmark reaches only through another public call (the program
    looks these names up on their module at call time).  ``targets``
    holds (module, attribute, span name, force) tuples; with ``force``
    the returned DataFrame is materialized inside the span, so the span
    times the layer's work and not only its planning.  Yields a dict
    that maps each span name to the last value its function returned."""
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _, _ in targets]
    outputs: dict = {}

    def wrap(fn, name, force):
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
                outputs[name] = out = out.localCheckpoint() if force else out
                return out
        return wrapper

    for (mod, attr, name, force), (_, _, fn) in zip(targets, saved):
        setattr(mod, attr, wrap(fn, name, force))
    try:
        yield outputs
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
