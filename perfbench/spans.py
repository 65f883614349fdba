"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files around each call into
a program layer, kept in memory and written out once at exit. Each span
records name, start, end and parent; every span of one operation carries
that operation's id. The collectors read counters the layers already
keep — Spark's status tracker, the JVM's GarbageCollector MXBeans and
the structured-streaming progress events — at operation boundaries.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder. Disabled, ``span`` is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "op": self.op_id}
            )

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, the self time of each span: its duration minus
        the time its child spans cover (children run sequentially)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            out[s["name"]].append(max(0.0, s["end"] - s["start"] - child_time[s["id"]]))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class SparkCollector:
    """Jobs, stages, tasks and GC time of one operation.

    Jobs are attributed by job-id window (every job submitted between the
    op's start and end), which also catches the jobs structured streaming
    submits from its own execution threads under its own job group; each
    op additionally runs under a job group named after it.
    """

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._gc_beans = list(spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._job0 = 0
        self._gc0 = 0

    def _gc_ms(self) -> int:
        return sum(max(0, b.getCollectionTime()) for b in self._gc_beans)

    def begin(self, group: str) -> None:
        self._sc.setJobGroup(group, group)
        self._job0 = self._dag.numTotalJobs()
        self._gc0 = self._gc_ms()

    def end(self) -> dict[str, int]:
        gc_ms = self._gc_ms() - self._gc0
        job1 = self._dag.numTotalJobs()
        self.drain()
        tracker = self._sc.statusTracker()
        stages = tasks = failed = 0
        for jid in range(self._job0, job1):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        return {"jobs": job1 - self._job0, "stages": stages, "tasks": tasks, "failed_tasks": failed, "gc_ms": gc_ms}

    def drain(self) -> None:
        """Wait until Spark's listener bus has delivered every event."""
        self._bus.waitUntilEmpty()


def make_stream_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self._lock = threading.Lock()
            self._events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            durations = dict(p.durationMs or {})
            state = p.stateOperators or []
            rec = {
                "trigger_ms": durations.get("triggerExecution", p.batchDuration),
                "add_batch_ms": durations.get("addBatch", 0),
                "query_planning_ms": durations.get("queryPlanning", 0),
                "wal_commit_ms": durations.get("walCommit", 0) + durations.get("commitOffsets", 0),
                "state_commit_ms": sum(s.commitTimeMs for s in state),
                "state_rows_total": sum(s.numRowsTotal for s in state),
                "state_memory_bytes": sum(s.memoryUsedBytes for s in state),
                "input_rows": p.numInputRows,
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

    return ProgressListener()
