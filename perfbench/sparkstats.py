"""Spark-side observation for the traced run, read only through public
status APIs from outside the engine:

- job, stage and task totals from the JVM `AppStatusStore`, read as
  JSON through Spark's own Jackson mapper (one py4j call per object
  instead of one per field);
- Catalyst phase times from a `QueryExecutionListener`, which sees the
  QueryExecution of the *written* query (a DataFrame's own tracker
  only shows analysis once a write has run under its own execution);
- streaming micro-batches from a `StreamingQueryListener`.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from measure import Span


@dataclass
class ExecTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    job_s: float = 0.0
    task_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0

    def add(self, other: "ExecTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class GroupReport:
    totals: ExecTotals
    spans: list[Span] = field(default_factory=list)  # jobs, then stages (parent = job index)


class SparkObserver:
    """Reads per-job-group statistics and collects listener events."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        scala_module = getattr(self.jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._lock = threading.Lock()
        self._phases: list[dict] = []
        self._batches: list[dict] = []
        self._qe_listener = None
        self._stream_listener = None
        self._last_job = -1

    # ---------------------------------------------------------- listeners

    def start_listeners(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        observer = self

        class QueryListener:
            def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM contract)
                it = qe.tracker().phases().iterator()
                phases = {}
                while it.hasNext():
                    kv = it.next()
                    phases[kv._1()] = kv._2().durationMs() / 1000.0
                with observer._lock:
                    observer._phases.append(phases)

            def onFailure(self, func_name, qe, exc):  # noqa: N802
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class BatchListener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                with observer._lock:
                    observer._batches.append(
                        {
                            "timestamp": p.timestamp,
                            "batch_id": p.batchId,
                            "duration_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
                            "input_rows": p.numInputRows,
                        }
                    )

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        ensure_callback_server_started(self.sc._gateway)
        self._qe_listener = QueryListener()
        self.spark._jsparkSession.listenerManager().register(self._qe_listener)
        self._stream_listener = BatchListener()
        self.spark.streams.addListener(self._stream_listener)

    def stop_listeners(self) -> None:
        if self._qe_listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._qe_listener)
            self._qe_listener = None
        if self._stream_listener is not None:
            self.spark.streams.removeListener(self._stream_listener)
            self._stream_listener = None

    def drain(self) -> tuple[list[dict], list[dict]]:
        """Wait for the listener bus, then take the Catalyst phase records
        and streaming batch records collected since the last drain."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            phases, self._phases = self._phases, []
            batches, self._batches = self._batches, []
        return phases, batches

    # ------------------------------------------------------- status store

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def new_jobs_report(self) -> GroupReport:
        """Totals and job/stage spans for every job that finished since
        the last call. Operations run one at a time, so these are the
        jobs of the operation that just returned, including the jobs a
        streaming query runs on its own thread under its own job group."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        totals = ExecTotals()
        spans: list[Span] = []
        jobs = [
            j for j in self._json(self.store.jobsList(None))
            if j["jobId"] > self._last_job and j["completionTime"] is not None
        ]
        seen: set[int] = set()
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            self._last_job = max(self._last_job, job["jobId"])
            start, end = job["submissionTime"] / 1000, job["completionTime"] / 1000
            totals.jobs += 1
            totals.job_s += end - start
            spans.append(Span(f"job {job['jobId']}", start, end, kind="job",
                              attrs={"group": job["jobGroup"]}))
            job_span = len(spans) - 1
            for sid in set(job["stageIds"]) - seen:
                seen.add(sid)
                self._add_stage(sid, job_span, totals, spans)
        return GroupReport(totals, spans)

    def _add_stage(self, sid: int, parent: int, totals: ExecTotals, spans: list[Span]) -> None:
        attempts = self._json(self.store.stageData(
            sid, False, self.jvm.java.util.ArrayList(), False,
            self.sc._gateway.new_array(self.jvm.double, 0),
        ))
        for s in attempts:
            if s["status"] == "SKIPPED":
                continue
            totals.stages += 1
            totals.tasks += s["numCompleteTasks"] + s["numFailedTasks"]
            totals.failed_tasks += s["numFailedTasks"]
            totals.task_s += s["executorRunTime"] / 1000
            totals.task_cpu_s += s["executorCpuTime"] / 1e9
            totals.gc_s += s["jvmGcTime"] / 1000
            totals.shuffle_read_mb += s["shuffleReadBytes"] / 2**20
            totals.shuffle_write_mb += s["shuffleWriteBytes"] / 2**20
            totals.spill_mb += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / 2**20
            totals.input_mb += s["inputBytes"] / 2**20
            totals.output_mb += s["outputBytes"] / 2**20
            if s["submissionTime"] and s["completionTime"]:
                spans.append(Span(f"stage {sid}.{s['attemptId']}", s["submissionTime"] / 1000,
                                  s["completionTime"] / 1000, parent, "stage"))
