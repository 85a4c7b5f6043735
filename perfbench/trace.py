"""Tracing for the traced run: spans, Spark stage counters, stream progress.

Spans are recorded by the benchmark around its calls into each layer
of the program; nothing inside the program is instrumented. Each span
has a name, start and end (seconds since the tracer started), the
index of its parent span and the id of the operation it belongs to.
Spans stay in memory until ``write`` dumps them as JSON.

Stage counters come from Spark's in-process status store: the stages
that completed between two marks are summed. Stage ids only grow, so a
mark is the highest stage id seen so far.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

COUNTERS = (
    "stages",
    "tasks",
    "cpu_s",
    "run_s",
    "gc_s",
    "input_bytes",
    "input_records",
    "shuffle_bytes",
    "shuffle_records",
    "spill_bytes",
    "task_max_s",
    "task_median_s",
)


class StageCounters:
    """Reads per-stage task metrics of one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._no_status = gw.jvm.java.util.ArrayList()

    def _stages(self):
        """Retained stages, highest id first, fetched lazily (each one
        is a py4j round trip)."""
        self._jsc.listenerBus().waitUntilEmpty()
        seq = self._store.stageList(None, False, False, self._no_quantiles, self._no_status)
        n = seq.size()
        if n == 0:
            return
        descending = seq.apply(0).stageId() >= seq.apply(n - 1).stageId()
        for i in range(n) if descending else range(n - 1, -1, -1):
            yield seq.apply(i)

    def mark(self) -> int:
        return next((s.stageId() for s in self._stages()), -1)

    def since(self, mark: int) -> dict:
        """Counters summed over stages completed after ``mark``."""
        out = dict.fromkeys(COUNTERS, 0)
        for s in self._stages():
            if s.stageId() <= mark:
                break
            if str(s.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["run_s"] += s.executorRunTime() / 1e3
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["input_bytes"] += s.inputBytes()
            out["input_records"] += s.inputRecords()
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["shuffle_records"] += s.shuffleWriteRecords()
            out["spill_bytes"] += s.diskBytesSpilled()
            dist = self._store.taskSummary(s.stageId(), s.attemptId(), self._quantiles)
            if dist.isDefined():
                d = dist.get().duration()
                out["task_median_s"] += d.apply(0) / 1e3
                out["task_max_s"] += d.apply(1) / 1e3
        return out

    def persisted_bytes(self) -> int:
        """Memory plus disk bytes of every persisted RDD."""
        return sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())


class ProgressListener(StreamingQueryListener):
    """Keeps the ``durationMs`` of every micro-batch and counts
    terminated queries, so a caller can wait for a query's events."""

    def __init__(self):
        self.batches: list[dict] = []
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._cv:
            self.batches.append(
                {"batch_id": p.batchId, "rows": p.numInputRows, "duration_ms": dict(p.durationMs)}
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def wait_terminated(self, count: int, timeout: float = 30.0) -> None:
        with self._cv:
            if not self._cv.wait_for(lambda: self.terminated >= count, timeout):
                raise TimeoutError(f"stream listener saw {self.terminated} of {count} terminations")


class Tracer:
    """Spans plus per-operation counters. ``enabled`` says whether this
    is a traced run; ``active`` switches recording on and off within
    it. An inactive tracer records nothing and costs one attribute
    check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = enabled
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._t0 = time.perf_counter()
        self._stack: list[int] = []
        self._op = None
        self._next_op = 0
        self.counters: StageCounters | None = None

    def bind(self, spark) -> None:
        """Attach to a (new) session's status store."""
        if self.enabled:
            self.counters = StageCounters(spark)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        rec = {
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, name: str):
        """A root span for one operation, with the stage counters of the
        jobs it ran attached as ``rec["counters"]``."""
        if not self.active:
            yield None
            return
        t = time.perf_counter()
        mark = self.counters.mark()
        self._op = self._next_op
        self._next_op += 1
        self.self_s += time.perf_counter() - t
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            t = time.perf_counter()
            rec["counters"] = self.counters.since(mark)
            self._op = None
            self.self_s += time.perf_counter() - t

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans}, fh)
