"""Traced-run instrumentation, recorded from the benchmark's side only.

Per request the tracer keeps one span tree in memory:

    request (workload, op, seed, cycle)
      build    — the registry call ``QUERIES[op](spark, data_dir)``
      collect  — ``.collect()`` on what it returned
        micro-batch  — from a ``StreamingQueryListener``: timestamp + durationMs
        job / stage  — from Spark's status store: submission/completion times

plus counts read from the same sources (jobs, stages, tasks, bytes, state
rows). Nothing here touches the engine's own code.
"""

from __future__ import annotations

import datetime as dt
import threading
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

#: listener ``durationMs`` keys reported per request
DRAIN_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    children: list["Span"] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return max(0.0, self.end - self.start)

    def self_time(self) -> float:
        """Duration minus the part of it the children's union covers."""
        return max(0.0, self.dur - covered(self.start, self.end, self.children))

    def to_json(self) -> dict:
        out = {"name": self.name, "start": self.start, "end": self.end}
        if self.attrs:
            out["attrs"] = self.attrs
        if self.children:
            out["children"] = [c.to_json() for c in self.children]
        return out


def covered(lo: float, hi: float, spans: list[Span]) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``spans``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for s in sorted(spans, key=lambda s: s.start):
        a, b = max(lo, s.start), min(hi, s.end)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _iso_epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class _ProgressListener(StreamingQueryListener):
    """Collects micro-batch progress events; the benchmark drains them per
    request after the listener bus is empty."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "batch": p.batchId,
            "start": _iso_epoch(p.timestamp),
            "ms": {k: int(v) for k, v in dict(p.durationMs).items()},
            "input_rows": int(p.numInputRows),
            "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
            "state_bytes": sum(int(s.memoryUsedBytes) for s in p.stateOperators),
        }
        with self._lock:
            self._events.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self._events = self._events, []
        return out


def _opt_epoch(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """Span and counter recorder for one Spark session."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gw = sc._gateway
        self._store = self._jsc.statusStore()
        self._dag = self._jsc.dagScheduler()
        self._listener = _ProgressListener()
        spark.streams.addListener(self._listener)
        self._mgmt = self._gw.jvm.java.lang.management.ManagementFactory
        self._mark = (0, 0)

    # ---- JVM-wide readings -------------------------------------------------
    def driver_gc_s(self) -> float:
        beans = self._mgmt.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def heap_mb(self) -> float:
        return self._mgmt.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    # ---- per request ---------------------------------------------------------
    def _settle(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def begin(self) -> None:
        """Mark the job/stage id range and drop stray progress events."""
        self._settle()
        self._listener.take()
        self._mark = (self._dag.nextJobId(), self._dag.nextStageId())

    def finish(self, request: Span) -> dict:
        """Attach jobs, stages and micro-batches to ``request`` and return
        its counters."""
        self._settle()
        job0, stage0 = self._mark
        job1, stage1 = self._dag.nextJobId(), self._dag.nextStageId()
        counts = {
            "jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0,
            "input_bytes": 0, "executor_run_s": 0.0, "executor_gc_s": 0.0,
        }
        jobs: list[Span] = []
        for jid in range(job0, job1):
            try:
                j = self._store.job(jid)
            except Py4JJavaError:  # evicted or never registered
                continue
            start, end = _opt_epoch(j.submissionTime()), _opt_epoch(j.completionTime())
            counts["jobs"] += 1
            if start is not None and end is not None:
                jobs.append(Span("job", start, end, attrs={"id": jid}))
        no_status = self._gw.jvm.java.util.ArrayList()
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        stages: list[Span] = []
        for sid in range(stage0, stage1):
            try:
                attempts = self._store.stageData(sid, False, no_status, False, no_quantiles)
            except Py4JJavaError:
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() != "COMPLETE":
                    continue
                counts["stages"] += 1
                counts["tasks"] += s.numCompleteTasks()
                counts["shuffle_bytes"] += s.shuffleWriteBytes()
                counts["input_bytes"] += s.inputBytes()
                counts["executor_run_s"] += s.executorRunTime() / 1000.0
                counts["executor_gc_s"] += s.jvmGcTime() / 1000.0
                start, end = _opt_epoch(s.submissionTime()), _opt_epoch(s.completionTime())
                if start is not None and end is not None:
                    stages.append(Span("stage", start, end, attrs={"id": sid}))
        for job in jobs:  # stages nest under the job whose interval holds them
            job.children = [s for s in stages if job.start <= s.start <= job.end]

        batches: list[Span] = []
        phases = dict.fromkeys(DRAIN_PHASES, 0.0)
        trigger_s = 0.0
        state_rows = state_bytes = 0
        for ev in self._listener.take():
            dur = ev["ms"].get("triggerExecution", 0) / 1000.0
            trigger_s += dur
            for k in DRAIN_PHASES:
                phases[k] += ev["ms"].get(k, 0) / 1000.0
            state_rows, state_bytes = ev["state_rows"], ev["state_bytes"]
            b = Span("micro-batch", ev["start"], ev["start"] + dur,
                     attrs={"batch": ev["batch"], "input_rows": ev["input_rows"]})
            b.children = [j for j in jobs if b.start <= j.start <= b.end]
            batches.append(b)
        in_batch = {id(j) for b in batches for j in b.children}
        loose_jobs = [j for j in jobs if id(j) not in in_batch]
        for phase in request.children:  # build / collect
            phase.children = [s for s in batches + loose_jobs
                              if phase.start <= s.start <= phase.end]
        counts.update(
            batches=len(batches), trigger_s=trigger_s, state_rows=state_rows,
            state_bytes=state_bytes, **{f"drain_{k}_s": v for k, v in phases.items()},
        )
        return counts
