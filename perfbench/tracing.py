"""Spans and Spark-side counters for one benchmark process.

Spans are recorded by the benchmark around each call into a layer
(``get_spark``, ``load_all``, a builder call, a fetch, a runner node,
``runner.test``); Spark jobs become child spans, read from the status
store, and streaming triggers become child spans, read from a
``StreamingQueryListener``. Every span stays in memory until ``dump``.

``OpProbe`` is the part that also runs untraced: after an operation it
finds the operation's jobs (one client, so every job submitted while it
ran, streaming micro-batches included) and checks that none of them ran
or skipped a stage created before the operation started (a stage reused
from an earlier execution).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    kind: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Spans:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        s = Span(len(self.spans), self._stack[-1] if self._stack else None, name, kind,
                 time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def child(self, parent: Span, name: str, kind: str, start: float, end: float, **attrs):
        s = Span(len(self.spans), parent.sid, name, kind, start, end, attrs)
        self.spans.append(s)
        return s

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class ReuseError(RuntimeError):
    """A timed execution ran or skipped a stage from an earlier execution."""


class OpProbe:
    """Per-operation stage-reuse check and (traced) job and stage
    counters, read from Spark's status store after the operation has
    finished."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()

    def begin(self) -> tuple[int, int]:
        """The next job id and the next stage id."""
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def end(self, start: tuple[int, int], traced: bool, label: str) -> dict:
        self._bus.waitUntilEmpty()
        first_job, first_stage = start
        jobs = range(first_job, int(self._dag.nextJobId()))
        out = {"jobs": len(jobs), "intervals": [], "stages": 0, "tasks": 0,
               "skipped_stages": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        seen: set[int] = set()
        for jid in jobs:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is None:  # an id taken by a job that never started
                continue
            stage_ids = list(info.stageIds)
            old = [s for s in stage_ids if s < first_stage]
            if old:
                raise ReuseError(
                    f"{label}: job {jid} reuses stages {old} created before the "
                    f"execution started (first new stage {first_stage})"
                )
            if not traced:
                continue
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0, jid)
                )
            out["skipped_stages"] += jd.numSkippedStages()
            for sid in stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


class QueryListener:
    """Catalyst phase times and Python-worker bytes of every
    QueryExecution that finishes (fetches, writes, counts), via a
    session ``QueryExecutionListener`` implemented over py4j."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.events: list = []
        self._manager = spark._jsparkSession.listenerManager()

    def register(self) -> None:
        self._manager.register(self)

    def unregister(self) -> None:
        self._manager.unregister(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — JVM interface
        self.events.append((func_name, qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.events.append((func_name, qe))

    def drain(self) -> dict:
        out = {"executions": 0, "analysis_ms": 0, "optimization_ms": 0, "planning_ms": 0,
               "pyworker_bytes": 0}
        events, self.events = self.events, []
        for _func, qe in events:
            out["executions"] += 1
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                key = f"{kv._1()}_ms"
                if key in out:
                    out[key] += kv._2().durationMs()
            out["pyworker_bytes"] += _python_bytes(qe.executedPlan())
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _python_bytes(plan) -> int:
    """Sum of the ``pythonDataSent``/``pythonDataReceived`` SQL metrics
    over a physical plan, through adaptive and query-stage wrappers."""
    total, stack = 0, [plan]
    while stack:
        node = stack.pop()
        metrics = node.metrics()
        for key in ("pythonDataSent", "pythonDataReceived"):
            m = metrics.get(key)
            if m.isDefined():
                total += m.get().value()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return total


def stream_listener():
    """A ``StreamingQueryListener`` that keeps every progress event's
    trigger timing, batch and state-row counts."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            self.progress.append({
                "name": p.name,
                "batch": p.batchId,
                "timestamp": p.timestamp,
                "duration_ms": dict(p.durationMs),
                "rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            })

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return Listener()
