"""Run state shared by the workloads: the session, the tracer, latency
samples per operation type, and the attempted/failed tallies."""

from __future__ import annotations

import sys
import time
import traceback
from collections import defaultdict

from tracing import Tracer, counter_delta, spark_counters


class Run:
    def __init__(self, spark, seed: int, slots: int):
        self.spark = spark
        self.seed = seed
        self.slots = slots
        self.tracer = Tracer(False)  # enabled per round by ``round``
        self.traced_round = False
        # latency samples per operation type, split by whether the round
        # was traced, so the end-to-end figures come from untraced rounds
        self.samples: dict[bool, dict[str, list[float]]] = {
            False: defaultdict(list),
            True: defaultdict(list),
        }
        self.round_s: dict[bool, list[float]] = {False: [], True: []}
        self.counters: dict[str, int] = defaultdict(int)
        self.attempted = 0
        self.failed = 0
        self.rows = 0
        self.timed = False
        self._op_failed = False

    def op(self, kind: str, span: str, fn, rows: int = 0):
        """Run one user-visible operation and record its latency under
        ``kind``; an exception counts as a failed operation."""
        if self.timed:
            self.attempted += 1
        self._op_failed = False
        t0 = time.perf_counter()
        try:
            with self.tracer.op(span):
                result = fn()
        except Exception:  # the run goes on; the failure is counted
            self.fail(f"{kind} raised:\n{traceback.format_exc()}")
            return None
        if self.timed:
            self.samples[self.traced_round][kind].append(time.perf_counter() - t0)
            self.rows += rows
        return result

    def fail(self, why: str) -> None:
        """Mark the latest operation failed or wrong (once); during
        set-up a failure aborts the run."""
        if not self.timed:
            raise RuntimeError(f"set-up failed: {why}")
        if not self._op_failed:
            self.failed += 1
            self._op_failed = True
        print(f"perfbench: FAILED {why}", file=sys.stderr)

    def check(self, ok: bool, why: str) -> None:
        """A correctness check on the latest operation's output."""
        if not ok:
            self.fail(why)

    def round(self, fn, traced: bool) -> None:
        """One round of a workload; traced rounds also collect the Spark
        status-store counters and the layer spans."""
        self.traced_round = traced
        self.tracer.enabled = traced
        before = spark_counters(self.spark) if traced else None
        t0 = time.perf_counter()
        try:
            fn(self)
        finally:
            elapsed = time.perf_counter() - t0
            self.tracer.unpatch()
            self.tracer.enabled = False
        self.round_s[traced].append(elapsed)
        if traced:
            for k, v in counter_delta(spark_counters(self.spark), before).items():
                self.counters[k] += v
            self.counters["wall_ms"] += int(elapsed * 1000)
