"""Spans and counters recorded from outside the package.

A span wraps one call into a layer (a public function of ``engine``, a
registry operator, a plan or an action) and records its name, start, end,
parent span and the id of the request it belongs to. Spans stay in memory;
:meth:`Tracer.attribute` resolves their Spark work once the run has ended,
so the timed loop pays only for a clock read, a py4j counter and a job-id
read at each span boundary.

Spark work is attributed by job id. The client is one thread, so the jobs
started between a span's start and end are its jobs -- including those the
engine launches from its own worker threads, which a job group set on the
calling thread would miss. Job, stage and task counts come from
``statusTracker()``; shuffle, spill, run-time and GC totals come from the
JVM's application status store, which exists with the web UI disabled.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j import protocol as proto
from pyspark.sql import SparkSession


@dataclass
class Span:
    id: int
    name: str
    request: int | None
    parent: int | None
    start: float
    end: float = 0.0
    py4j_calls: int = 0
    first_job: int = 0
    end_job: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


# py4j's "forget this object" command, sent when Python garbage-collects a
# JavaObject: the cyclic collector runs at no fixed point, so counting these
# would make the count differ between identical runs
_GC_COMMAND = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME


class _Py4jCounter:
    """Counts py4j commands by wrapping the gateway client's send_command;
    the JVM-side objects look the method up on the shared client at every
    call, so commands from the engine's worker threads are counted too."""

    def __init__(self, spark: SparkSession):
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self._lock = threading.Lock()
        self.n = 0

        def send_command(command, *args, **kwargs):
            if not command.startswith(_GC_COMMAND):
                with self._lock:
                    self.n += 1
            return self._orig(command, *args, **kwargs)

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig


STAGE_FIELDS = {
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
    "executor_run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "input_rows": "inputRecords",
    "output_bytes": "outputBytes",
}


class Tracer:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._request: int | None = None
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._py4j = _Py4jCounter(spark)

    def _next_job(self) -> int:
        # py4j hands the AtomicInteger back as its current value
        return self._dag.nextJobId()

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        """Time one call; a span opened with no span open starts a request."""
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._request = len(self.spans)
        s = Span(len(self.spans), name, self._request, parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        s.first_job = self._next_job()
        c0 = self._py4j.n
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.py4j_calls = self._py4j.n - c0
            s.end_job = self._next_job()
            self._stack.pop()

    def close(self) -> None:
        self._py4j.close()

    def attribute(self) -> None:
        """Fill every span's ``counts`` with the jobs, stages, tasks and
        stage metrics of the Spark jobs it started. Call after the run."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        stages: dict[int, dict] = {}
        job_stages: dict[int, list[int]] = {}

        def stage(sid: int) -> dict:
            if sid not in stages:
                info = tracker.getStageInfo(sid)
                sd = store.lastStageAttempt(sid)
                row = {"tasks": info.numCompletedTasks + info.numFailedTasks, "failed_tasks": info.numFailedTasks}
                for key, attr in STAGE_FIELDS.items():
                    attrs = attr if isinstance(attr, tuple) else (attr,)
                    row[key] = sum(int(getattr(sd, a)()) for a in attrs)
                stages[sid] = row
            return stages[sid]

        def ran(sid: int) -> bool:
            # a stage whose shuffle output was reused is listed but never runs
            info = tracker.getStageInfo(sid)
            return info is not None and info.numCompletedTasks + info.numFailedTasks > 0

        for s in self.spans:
            counts = {"jobs": s.end_job - s.first_job, "stages": 0, "tasks": 0, "failed_tasks": 0}
            counts.update({k: 0 for k in STAGE_FIELDS})
            for jid in range(s.first_job, s.end_job):
                if jid not in job_stages:
                    info = tracker.getJobInfo(jid)
                    job_stages[jid] = [sid for sid in (info.stageIds if info else []) if ran(sid)]
                for sid in job_stages[jid]:
                    counts["stages"] += 1
                    for k, v in stage(sid).items():
                        counts[k] += v
            s.counts = counts


def jvm_gc_ms(spark: SparkSession) -> int:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(int(b.getCollectionTime()) for b in beans)


def jvm_pid(spark: SparkSession) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' resident-set high-water marks (VmHWM)."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
