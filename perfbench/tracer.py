"""Spans and Spark job accounting for the traced benchmark run.

A span is one call into a layer: its name, start, end, the span that
caused it and the op it belongs to. Spans are kept in memory and written
out when the run ends. A layer's self time is its span's duration minus
the time its child spans cover.

Spark work is attributed per op without a listener and without a job of
its own: the DAG scheduler numbers jobs consecutively, so the jobs an op
ran are the ids issued between its start and end, and Spark's in-process
status store gives each job's stages with their task count, executor run
time, shuffle bytes and submit/complete times. Library calls that set
their own job group (``MatView.refresh``) are counted the same way.

``NullTracer`` has the same surface and does nothing; the timed runs use
it, so end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    # Spark work, set on op spans and wrapped calls
    spark: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class JobCounter:
    """Reads the scheduler's job counter: one py4j call, no Spark job."""

    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def mark(self) -> int:
        return int(self._dag.nextJobId())


def spark_work(spark, first_job: int, end_job: int, t0_ms: float, t1_ms: float) -> dict:
    """Jobs ``[first_job, end_job)`` summed from the status store.

    ``driver_gap_ms`` is the op's wall time (``t0_ms``..``t1_ms``, epoch ms)
    not covered by any running stage: planning, driver-side kernels,
    result collection and scheduling waits."""
    jsc = spark.sparkContext._jsc.sc()
    # job/stage end events reach the status store through the listener
    # bus; drain it so the op's last stage is complete before it is read
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stages = tasks = 0
    run_ms = shuffle = 0
    spans: list[tuple[float, float]] = []
    for jid in range(first_job, end_job):
        it = store.job(jid).stageIds().iterator()
        while it.hasNext():
            sd = store.lastStageAttempt(it.next())
            if sd.status().toString() == "SKIPPED":
                continue
            stages += 1
            tasks += sd.numTasks()
            run_ms += sd.executorRunTime()
            shuffle += sd.shuffleWriteBytes()
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((max(t0_ms, sub.get().getTime()), min(t1_ms, done.get().getTime())))
    covered = 0.0
    last = t0_ms
    for a, b in sorted(spans):
        a = max(a, last)
        if b > a:
            covered += b - a
            last = b
    return {
        "jobs": end_job - first_job,
        "stages": stages,
        "tasks": tasks,
        "executor_ms": float(run_ms),
        "shuffle_write_bytes": int(shuffle),
        "driver_gap_ms": max(0.0, (t1_ms - t0_ms) - covered),
    }


class Tracer:
    enabled = True

    def __init__(self, spark):
        self._spark = spark
        self._jobs = JobCounter(spark)
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = 0
        #: seconds the traced run spends between ops on tracing: status-store
        #: reads here, explain_find and file sizes in the workloads
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = False):
        """A span; with ``spark``, also the Spark work run inside it."""
        j0, w0 = (self._jobs.mark(), time.time() * 1e3) if spark else (0, 0.0)
        s = Span(
            len(self.spans),
            name,
            self._op,
            self._stack[-1] if self._stack else None,
            time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
        if spark:
            j1, w1 = self._jobs.mark(), time.time() * 1e3
            t = time.perf_counter()
            s.spark = spark_work(self._spark, j0, j1, w0, w1)
            self.overhead_s += time.perf_counter() - t

    def op(self, name: str):
        """One closed-loop operation; its Spark work is read after it ends."""
        self._op += 1
        return self.span(name, spark=True)

    def self_ms(self) -> dict[int, float]:
        """Span id → duration minus the durations of its direct children."""
        out = {s.id: s.ms for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.ms
        return out

    @property
    def n_ops(self) -> int:
        return self._op

    def ops(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def to_records(self) -> list[dict]:
        own = self.self_ms()
        return [
            {
                "id": s.id,
                "name": s.name,
                "op": s.op,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_ms": own[s.id],
                **({"spark": s.spark} if s.spark else {}),
            }
            for s in self.spans
        ]

    @contextlib.contextmanager
    def wrap(self, owner, attr: str, name: str, spark: bool = False):
        """Record a span around every call of ``owner.attr`` (a layer the
        benchmark reaches only through another layer) while the block runs;
        with ``spark``, also the Spark work each call ran."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, spark):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, orig)


class NullTracer:
    enabled = False
    overhead_s = 0.0
    _null = contextlib.nullcontext()

    def span(self, name: str):
        return self._null

    def op(self, name: str):
        return self._null

    def wrap(self, owner, attr: str, name: str, spark: bool = False):
        return self._null
