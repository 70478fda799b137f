"""In-memory span tracing and Spark status-store counters.

Spans are recorded from the benchmark's side of each layer boundary:
around the benchmark's own calls into a module, and, for calls the
program makes internally, by temporarily wrapping the public function
it calls (``Tracer.patch``). Nothing in the program's source changes.
A disabled tracer records nothing and installs no wrappers.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self._next_op = 0
        self._patches: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self._op)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def end(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        # close any child left open (e.g. a pipeline stage clock whose
        # next stage never started because the call raised)
        while self._stack and self._stack[-1] is not s:
            self._stack.pop().end = s.end
        if self._stack:
            self._stack.pop()

    @contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    @contextmanager
    def op(self, name: str):
        """A top-level operation: its spans share one operation id."""
        if not self.enabled:
            yield None
            return
        self._op = self._next_op
        self._next_op += 1
        try:
            with self.span(name) as s:
                yield s
        finally:
            self._op = None

    def patch(self, owner: object, attr: str, name: str, after=None) -> None:
        """Wrap ``owner.attr`` so each call records a span ``name``;
        ``after(result, *args)`` runs outside the span, to count work."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            with tracer.span(name):
                result = original(*args, **kwargs)
            if after is not None:
                after(result, *args)
            return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    @contextmanager
    def paused(self):
        """Calls the benchmark makes for its own bookkeeping: no spans."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per span name: call count, total time and total self time."""
        selfs = self.self_times()
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for s in self.spans:
            row = out[s.name]
            row["calls"] += 1
            row["total_s"] += s.end - s.start
            row["self_s"] += selfs[s.id]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        doc = {
            "spans": [asdict(s) for s in self.spans],
            "layers": self.layer_totals(),
            **extra,
        }
        with open(path, "w") as fh:
            json.dump(doc, fh)


class StageClock:
    """Spans for the stages of one ``plans.Pipeline.run`` call.

    ``Pipeline.run`` calls each stage's transform, then writes, re-reads
    and registers its output before moving to the next stage, so a stage
    lasts from its transform call to the next stage's transform call (or
    the end of ``run``). Wrapping the transforms marks those points.
    """

    def __init__(self, tracer: Tracer, prefix: str):
        self.tracer = tracer
        self.prefix = prefix
        self.current: Span | None = None

    def wrap(self, name: str, transform):
        def marked(df):
            self.close()
            self.current = self.tracer.begin(f"{self.prefix}.{name}")
            return transform(df)

        return marked

    def close(self) -> None:
        self.tracer.end(self.current)
        self.current = None


_EXECUTOR_FIELDS = {
    "tasks": "completedTasks",
    "executor_run_ms": "totalDuration",
    "gc_ms": "totalGCTime",
    "shuffle_write_bytes": "totalShuffleWrite",
}
_STAGE_FIELDS = {
    "cpu_ns": "executorCpuTime",
    "spill_bytes_memory": "memoryBytesSpilled",
    "spill_bytes_disk": "diskBytesSpilled",
}


def executor_counters(spark) -> dict[str, int]:
    """Cumulative task counters of the application (local mode has one
    executor, the driver) from Spark's status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    execs = store.executorList(True)
    out = dict.fromkeys(_EXECUTOR_FIELDS, 0)
    for i in range(execs.size()):
        e = execs.apply(i)
        for key, method in _EXECUTOR_FIELDS.items():
            out[key] += int(getattr(e, method)())
    return out


def stage_counters(spark) -> dict[str, int]:
    """Sums over every retained stage: CPU time and spill bytes, which
    the executor summary does not carry."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    # stageList(statuses, details, withSummaries, quantiles, taskStatus)
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, None)
    out = dict.fromkeys(_STAGE_FIELDS, 0)
    for i in range(stages.size()):
        st = stages.apply(i)
        for key, method in _STAGE_FIELDS.items():
            out[key] += int(getattr(st, method)())
    return out


def spark_counters(spark) -> dict[str, int]:
    return {**executor_counters(spark), **stage_counters(spark)}


def counter_delta(after: dict[str, int], before: dict[str, int]) -> dict[str, int]:
    return {k: after[k] - before.get(k, 0) for k in after}
