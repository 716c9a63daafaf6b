"""Per-operation Spark counters read from the application status store.

Spark keeps job, stage and SQL-execution records in its status store
(``AppStatusStore`` and ``SQLAppStatusStore``), which is readable with
the UI disabled. The store is filled asynchronously by the listener bus
and retains only the most recent 1000 jobs and stages, so the reader
drains the bus and reads right after each operation.

Jobs are attributed to an operation when they carry its job group (the
client thread's work) or, for jobs started on other threads (a Flight
server, a streaming query), when they were submitted while the
operation ran.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field, fields

from py4j.protocol import Py4JError

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_SIZE_RE = re.compile(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB)\b")

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def parse_size(text: str) -> float:
    """Bytes in a Spark SQL size-metric string.

    A single-task metric reads ``"12.3 MiB"``; a multi-task one starts
    with a ``total (min, med, max ...)`` header line and the total is the
    first size on the next line. Either way the first size is the total.
    """
    m = _SIZE_RE.search(text or "")
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


@dataclass
class Counters:
    """Spark work attributed to one operation (or summed over several)."""

    jobs: int = 0
    other_thread_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    output_records: int = 0
    spill_bytes: int = 0
    python_sent_bytes: float = 0.0
    python_recv_bytes: float = 0.0

    def add(self, other: "Counters") -> "Counters":
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self


@dataclass
class SparkCounters:
    """Reads the status store after each operation.

    ``read(group, t0_ms, t1_ms)`` returns the counters of every job
    submitted since the previous read that belongs to ``group`` or was
    submitted in ``[t0_ms, t1_ms]`` on another thread. With
    ``python=True`` it also sums the Python-worker byte metrics of the
    new SQL executions.
    """

    spark: object
    python: bool = False
    _next_job: int = 0
    _last_exec: int = -1
    _seen_stages: set = field(default_factory=set)

    def __post_init__(self):
        sc = self.spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = self.spark._jsparkSession.sharedState().statusStore()
        self._jvm = sc._jvm
        self._seq = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._no_status = sc._jvm.java.util.ArrayList()
        # Jackson with Scala support, as Spark's REST API serializes these
        self._mapper = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            sc._jvm.java.lang.Class.forName(
                "com.fasterxml.jackson.module.scala.DefaultScalaModule$"
            ).getField("MODULE$").get(None)
        )
        self.sync()
        self._next_job = self.total_jobs()
        self._last_exec = self._max_exec_id()

    def sync(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc.listenerBus().waitUntilEmpty()

    def total_jobs(self) -> int:
        """Jobs submitted so far in this application (all threads)."""
        return int(self._sc.dagScheduler().numTotalJobs())

    def persisted_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def _json(self, obj):
        """A status-store record as a dict (one JVM call instead of one
        per field)."""
        return json.loads(self._mapper.writeValueAsString(obj))

    def read(self, group: str, t0_ms: int, t1_ms: int) -> Counters:
        self.sync()
        out = Counters()
        end = self.total_jobs()
        for job_id in range(self._next_job, end):
            try:
                job = self._json(self._store.job(job_id))
            except Py4JError:  # evicted from the store, or never recorded
                continue
            if job.get("jobGroup") != group:
                if not t0_ms <= (job.get("submissionTime") or -1) <= t1_ms:
                    continue
                out.other_thread_jobs += 1
            out.jobs += 1
            for sid in job["stageIds"]:
                if sid not in self._seen_stages:
                    self._seen_stages.add(sid)
                    self._add_stage(out, sid)
        self._next_job = end
        if self.python:
            self._add_python(out)
        return out

    def _add_stage(self, out: Counters, stage_id: int) -> None:
        attempts = self._json(self._store.stageData(
            stage_id, False, self._no_status, False, self._no_quantiles
        ))
        for s in attempts:
            if s["status"] not in ("COMPLETE", "FAILED"):
                continue  # skipped (shuffle reuse) or still pending
            out.stages += 1
            out.tasks += s["numCompleteTasks"] + s["numFailedTasks"]
            out.tasks_failed += s["numFailedTasks"]
            out.run_ms += s["executorRunTime"]
            out.cpu_ns += s["executorCpuTime"]
            out.gc_ms += s["jvmGcTime"]
            out.shuffle_write_bytes += s["shuffleWriteBytes"]
            out.shuffle_read_bytes += s["shuffleReadBytes"]
            out.input_bytes += s["inputBytes"]
            out.input_records += s["inputRecords"]
            out.output_bytes += s["outputBytes"]
            out.output_records += s["outputRecords"]
            out.spill_bytes += s["memoryBytesSpilled"] + s["diskBytesSpilled"]

    def _max_exec_id(self) -> int:
        n = int(self._sql.executionsCount())
        if n == 0:
            return -1
        last = self._seq.asJava(self._sql.executionsList(n - 1, 1))
        return max((int(e.executionId()) for e in last), default=-1)

    def _add_python(self, out: Counters) -> None:
        n = int(self._sql.executionsCount())
        window = 256  # far more SQL executions than one operation starts
        newest = self._last_exec
        for e in self._seq.asJava(self._sql.executionsList(max(0, n - window), window)):
            eid = int(e.executionId())
            if eid <= self._last_exec:
                continue
            newest = max(newest, eid)
            wanted = {
                m.accumulatorId(): m.name()
                for m in self._seq.asJava(e.metrics())
                if m.name() in (PY_SENT, PY_RECV)
            }
            if not wanted:
                continue
            values = self._sql.executionMetrics(eid)
            for acc, name in wanted.items():
                opt = values.get(acc)
                if not opt.isDefined():
                    continue
                size = parse_size(opt.get())
                if name == PY_SENT:
                    out.python_sent_bytes += size
                else:
                    out.python_recv_bytes += size
        self._last_exec = newest


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids) -> float:
    """Sum of ``VmHWM`` (peak resident set) over processes, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0

