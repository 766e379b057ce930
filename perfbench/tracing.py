"""In-memory tracing at the benchmark's own boundaries.

Spans (pass -> op -> construct / action / write) carry an id, the id of
the span that caused them, start and end. Counts from the Spark engine
are read at the same boundaries from the JVM ``AppStatusStore`` (which
is populated with ``spark.ui.enabled=false`` too): jobs and stages are
numbered in start order and the store lists them newest first, so each
read walks only the entries added since the previous read.

A disabled tracer records nothing and makes no JVM calls, so the
untraced runs that give the end-to-end metrics pay nothing for it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class ExecCounts:
    """Spark work done between two reads of the status store."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_fetch_wait_s: float = 0.0
    spill_bytes: int = 0

    def add(self, other: "ExecCounts") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext if enabled else None
        self._last_job = -1
        self._last_stage = -1
        if enabled:
            self._jvm = self._sc._jvm
            self._store = self._sc._jsc.sc().statusStore()
            self._bus = self._sc._jsc.sc().listenerBus()
            self.exec_delta()  # skip work done before tracing started

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None, name,
                 time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def exec_delta(self) -> ExecCounts:
        """Jobs and stages started since the previous call."""
        out = ExecCounts()
        if not self.enabled:
            return out
        # Status events reach the store through the listener bus
        # asynchronously; drain it so the last stage's metrics are in.
        self._bus.waitUntilEmpty()
        jvm = self._jvm
        jobs = self._store.jobsList(None).iterator()
        newest_job = self._last_job
        while jobs.hasNext():
            jid = jobs.next().jobId()
            if jid <= self._last_job:
                break
            newest_job = max(newest_job, jid)
            out.jobs += 1
        self._last_job = newest_job

        stages = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        ).iterator()
        newest_stage = self._last_stage
        while stages.hasNext():
            st = stages.next()
            sid = st.stageId()
            if sid <= self._last_stage:
                break
            newest_stage = max(newest_stage, sid)
            if st.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += st.numCompleteTasks()
            out.task_run_s += st.executorRunTime() / 1e3
            out.task_cpu_s += st.executorCpuTime() / 1e9
            out.gc_s += st.jvmGcTime() / 1e3
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.shuffle_read_bytes += st.shuffleReadBytes()
            out.shuffle_fetch_wait_s += st.shuffleFetchWaitTime() / 1e3
            out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self._last_stage = newest_stage
        return out

    def persisted_rdds(self) -> int:
        return self._sc._jsc.getPersistentRDDs().size() if self.enabled else 0

    def span_records(self) -> list[dict]:
        return [
            {"id": s.id, "parent": s.parent, "name": s.name,
             "start": round(s.start, 6), "end": round(s.end, 6), **s.attrs}
            for s in self.spans
        ]
