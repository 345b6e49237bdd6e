"""Read what Spark did from outside the program: the status store's
jobs and stages, the SQL execution metrics, streaming progress events
and the JVM's resident memory.

Everything here goes through Spark's own public or listener-facing
surfaces; nothing in ``flink_demo_spark`` is patched.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from spans import parse_sql_metric

# SQL metric name -> per-layer metric, summed over every plan node
PYTHON_METRICS = {
    "time to start Python workers": "python.worker_start_ms",
    "time to initialize Python workers": "python.worker_init_ms",
    "time to run Python workers": "python.worker_run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
BROADCAST_METRICS = {
    "data size": "broadcast.bytes",
    "time to collect": "broadcast.collect_ms",
    "time to build": "broadcast.build_ms",
}
SQL_KEYS = (
    *PYTHON_METRICS.values(),
    *BROADCAST_METRICS.values(),
    "shuffle.partitions",
)
STAGE_KEYS = (
    "exec.stages",
    "exec.tasks",
    "exec.task_run_ms",
    "exec.task_cpu_ms",
    "exec.gc_ms",
    "scan.input_bytes",
    "scan.input_rows",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.records_written",
    "shuffle.write_time_ms",
    "shuffle.fetch_wait_ms",
    "spill.bytes",
)


def _each(jlist):
    """Index a py4j Java list instead of iterating it: py4j ends an
    iteration with a Java exception whose conversion costs ~20 ms."""
    for i in range(jlist.size()):
        yield jlist.get(i)


class StatusProbe:
    """Diffs Spark's status stores between calls.

    Each ``new_*`` call returns what appeared since the previous call,
    so the caller brackets a layer with ``wait_idle()`` + ``new_*()``.
    """

    def __init__(self, spark: SparkSession) -> None:
        jvm = spark._jvm
        self._sc = spark._jsc.sc()
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._app = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        self.wait_idle()
        self._last_stage = self._top(self._stages(), lambda s: s.stageId())
        self._last_job = self._top(self._jobs(), lambda j: j.jobId())
        self._last_exec = -1
        self._last_exec = max(self._new_execution_ids(), default=-1)

    def wait_idle(self, timeout_ms: int = 120_000) -> None:
        """Block until every queued listener event, the status store's and
        the streaming listeners' alike, has been delivered."""
        self._sc.listenerBus().waitUntilEmpty(timeout_ms)

    @staticmethod
    def _top(items, key) -> int:
        for it in _each(items):  # the stores list newest first
            return key(it)
        return -1

    def _stages(self):
        # py4j needs all five arguments of AppStatusStore.stageList
        return self._conv.asJava(
            self._app.stageList(
                self._empty, False, False, self._no_quantiles, self._empty
            )
        )

    def _jobs(self):
        return self._conv.asJava(self._app.jobsList(self._empty))

    def _new_execution_ids(self) -> list[int]:
        """Ids above the last one seen, scanning back from the newest."""
        count = self._sql.executionsCount()
        out: list[int] = []
        if count == 0:
            return out
        execs = self._conv.asJava(self._sql.executionsList(0, count))
        for i in range(count - 1, -1, -1):
            eid = execs.get(i).executionId()
            if eid <= self._last_exec:
                break
            out.append(eid)
        return out[::-1]

    def new_jobs(self) -> tuple[int, int]:
        """(all jobs, jobs outside any streaming micro-batch) since the
        previous call."""
        total = batch_free = 0
        top = self._last_job
        for j in _each(self._jobs()):
            jid = j.jobId()
            if jid <= self._last_job:
                break
            top = max(top, jid)
            total += 1
            desc = j.description()
            if not (desc.isDefined() and "runId = " in desc.get()):
                batch_free += 1
        self._last_job = top
        return total, batch_free

    def new_stages(self) -> dict[str, float]:
        """Sums over the stages that ran (COMPLETE or FAILED) since the
        previous call."""
        out = dict.fromkeys(STAGE_KEYS, 0.0)
        top = self._last_stage
        for s in _each(self._stages()):
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            top = max(top, sid)
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += s.numTasks()
            out["exec.task_run_ms"] += s.executorRunTime()
            out["exec.task_cpu_ms"] += s.executorCpuTime() / 1e6
            out["exec.gc_ms"] += s.jvmGcTime()
            out["scan.input_bytes"] += s.inputBytes()
            out["scan.input_rows"] += s.inputRecords()
            out["shuffle.write_bytes"] += s.shuffleWriteBytes()
            out["shuffle.read_bytes"] += s.shuffleReadBytes()
            out["shuffle.records_written"] += s.shuffleWriteRecords()
            out["shuffle.write_time_ms"] += s.shuffleWriteTime() / 1e6
            out["shuffle.fetch_wait_ms"] += s.shuffleFetchWaitTime()
            out["spill.bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self._last_stage = top
        return out

    def new_sql_metrics(self) -> dict[str, float]:
        """Python-worker, broadcast and post-AQE shuffle-partition sums
        over the SQL executions finished since the previous call."""
        out = dict.fromkeys(SQL_KEYS, 0.0)
        for eid in self._new_execution_ids():
            self._add_execution(eid, out)
            self._last_exec = eid
        return out

    def _add_execution(self, eid: int, out: dict[str, float]) -> None:
        values = self._conv.asJava(self._sql.executionMetrics(eid))
        graph = self._sql.planGraph(eid)
        nodes = list(_each(self._conv.asJava(graph.allNodes())))
        read_through_aqe = set()
        names = {n.id(): n.name() for n in nodes}
        for e in _each(self._conv.asJava(graph.edges())):
            # edges run child -> parent
            if names.get(e.toId()) == "AQEShuffleRead":
                read_through_aqe.add(e.fromId())
        for node in nodes:
            name = node.name()
            for m in _each(self._conv.asJava(node.metrics())):
                mname = m.name()
                key = PYTHON_METRICS.get(mname)
                if key is None and name == "BroadcastExchange":
                    key = BROADCAST_METRICS.get(mname)
                if key is None and mname == "number of partitions":
                    if name == "AQEShuffleRead" or (
                        name == "Exchange" and node.id() not in read_through_aqe
                    ):
                        key = "shuffle.partitions"
                if key is None:
                    continue
                v = parse_sql_metric(values.get(m.accumulatorId()))
                if v is not None:
                    out[key] += v

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self._jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")


class ProgressListener(StreamingQueryListener):
    """Collects streaming query events keyed by runId.

    Listener callbacks arrive asynchronously on the py4j callback
    thread, so readers call ``drain`` to wait for ``onQueryTerminated``
    of the runs they care about."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._runs: dict[str, dict] = {}

    def _run(self, run_id) -> dict:
        return self._runs.setdefault(
            str(run_id), {"progress": [], "terminated": False}
        )

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._run(event.runId)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "num_input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state": [
                {
                    "rows_total": o.numRowsTotal,
                    "memory_bytes": o.memoryUsedBytes,
                    "rows_dropped_by_watermark": o.numRowsDroppedByWatermark,
                    "shuffle_partitions": o.numShufflePartitions,
                }
                for o in p.stateOperators
            ],
        }
        with self._lock:
            self._run(p.runId)["progress"].append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._run(event.runId)["terminated"] = True

    def run_ids(self) -> set[str]:
        with self._lock:
            return set(self._runs)

    def drain(self, run_ids: set[str], timeout_s: float = 60.0) -> dict[str, list]:
        """Wait until every run in ``run_ids`` has terminated; return
        and forget their progress records."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                if all(self._runs[r]["terminated"] for r in run_ids):
                    return {r: self._runs.pop(r)["progress"] for r in run_ids}
            if time.monotonic() > deadline:
                raise TimeoutError(f"no termination event for runs {run_ids}")
            time.sleep(0.005)
