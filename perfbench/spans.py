"""Spans and Spark counters recorded around the benchmark's calls into
the engine.

Each traced call runs in a job group of its own (``setJobGroup``), so
the Spark work it launched can be read back afterwards:

- jobs and stages from ``statusTracker()``;
- per-stage tasks, executor run time, input and shuffle bytes from the
  status store (``sc._jsc.sc().statusStore()``);
- Janino compile time from ``CodeGenerator.compileTime`` and GC time
  from the garbage-collector MXBeans, both as deltas over the call.

Spans are kept in memory and written as JSON when the run ends. The
tracer's own bookkeeping time is measured and reported, so the cost of
tracing is visible next to what it traces.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, jobs: bool = True, **attrs):
        yield {}


class Tracer:
    enabled = True

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._bus = self.sc._jsc.sc().listenerBus()
        self._store = self.sc._jsc.sc().statusStore()
        self._tracker = self.sc.statusTracker()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._quantiles = self.sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self.spans: list[dict] = []
        self.t0 = time.monotonic()
        self.overhead_s = 0.0

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    @contextmanager
    def span(self, name: str, jobs: bool = True, **attrs):
        """Record one call. ``jobs=False`` marks a call that launches no
        Spark job (ledger reads): it gets no job group and no counters."""
        t_in = time.monotonic()
        sid = next(self._ids)
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": sid, "parent": parent, "name": name, **attrs}
        group = None
        if jobs:
            group = rec["group"] = f"perfbench-{sid}"
            self.sc.setJobGroup(group, name, False)
            rec["codegen_ns0"] = self._codegen.compileTime()
            rec["gc_ms0"] = self.gc_ms()
        self._stack.append(rec)
        self.overhead_s += time.monotonic() - t_in
        rec["start"] = time.monotonic() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic() - self.t0
            t_out = time.monotonic()
            self._stack.pop()
            if group is not None:
                self._collect(rec, group)
                outer = next((s for s in reversed(self._stack) if "group" in s), None)
                if outer is not None:
                    self.sc.setJobGroup(outer["group"], outer["name"], False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)
            self.overhead_s += time.monotonic() - t_out

    def _collect(self, rec: dict, group: str) -> None:
        rec["codegen_ms"] = (self._codegen.compileTime() - rec.pop("codegen_ns0")) / 1e6
        rec["gc_ms"] = self.gc_ms() - rec.pop("gc_ms0")
        # the status store is fed by an asynchronous listener: drain it
        # so the stages of the call just finished are all recorded
        self._bus.waitUntilEmpty()
        jobs = list(self._tracker.getJobIdsForGroup(group))
        tasks = run_ms = input_b = shuffle_b = 0
        skew, heaviest = 1.0, -1
        for jid in jobs:
            info = self._tracker.getJobInfo(jid)
            for st in info.stageIds if info else []:
                try:
                    sd = self._store.lastStageAttempt(st)
                except Py4JJavaError:  # stage never submitted
                    continue
                if sd.numCompleteTasks() == 0:  # skipped: its output was reused
                    continue
                tasks += sd.numCompleteTasks()
                run_ms += sd.executorRunTime()
                input_b += sd.inputBytes()
                shuffle_b += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                # straggler ratio (max / median task time) of the stage
                # that did the most work
                if sd.executorRunTime() > heaviest:
                    heaviest = sd.executorRunTime()
                    q = self._store.taskSummary(st, sd.attemptId(), self._quantiles)
                    if q.isDefined():
                        d = q.get().duration()
                        skew = d.apply(1) / d.apply(0) if d.apply(0) > 0 else 1.0
        rec.update(
            spark_jobs=len(jobs),
            spark_tasks=tasks,
            executor_run_ms=run_ms,
            input_bytes=input_b,
            shuffle_bytes=shuffle_b,
            task_skew=skew,
        )

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"overhead_s": self.overhead_s, "spans": self.spans}, fh)
