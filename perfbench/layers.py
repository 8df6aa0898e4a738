"""Layer tracing for the benchmark: spans around each call into an engine
module, JVM counters read as deltas around each span, and Spark
event-log counters attributed to spans through their job group.

A span's name is the public call it times (``operators.split.
train_valid_calib_test``); every Spark job the call submits runs under the
job group ``<op>|<span>``, so the event log ties each job, stage and task
back to the operation and span that caused it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# Spark event-log counters, per operation
SPARK_COUNTERS = (
    "spark.jobs",
    "spark.tasks",
    "spark.task_cpu_s",
    "spark.task_run_s",
    "spark.input_mb",
    "spark.shuffle_write_mb",
    "spark.shuffle_read_mb",
    "spark.fetch_wait_s",
    "spark.spill_mb",
    "spark.output_mb",
    "spark.persisted_rdds",
    "spark.plan_s",
    "spark.driver_gap_s",
)
# JVM counters read through the py4j gateway
JVM_COUNTERS = ("codegen.compiles", "jvm.jit_s", "jvm.classes_loaded", "jvm.gc_s")
MB = 1024 * 1024


class JvmCounters:
    """Cumulative JVM counters: Janino compilations, JIT time, loaded
    classes and GC time, all read from the driver JVM."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def read(self) -> dict[str, float]:
        gc_ms = sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())
        return {
            "codegen.compiles": float(
                self._codegen.METRIC_COMPILATION_TIME().getCount()
            ),
            "jvm.jit_s": self._mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "jvm.classes_loaded": float(
                self._mf.getClassLoadingMXBean().getTotalLoadedClassCount()
            ),
            "jvm.gc_s": gc_ms / 1e3,
        }


class Tracer:
    """Records spans of one run. With ``spark`` given (a traced run) each
    span also tags its jobs with a job group and takes JVM counter deltas;
    without it (an untraced run) spans keep only their wall times."""

    def __init__(self, spark=None):
        self.spark = spark
        self.jvm = JvmCounters(spark) if spark is not None else None
        self.op = 0
        # (op, span name, start epoch s, end epoch s, jvm deltas)
        self.spans: list[tuple[int, str, float, float, dict]] = []
        # (op, name) -> seconds, for timings inside a span (no jobs of
        # their own, so they stay out of the job-group attribution)
        self.inner: dict[tuple[int, str], float] = defaultdict(float)

    def add_time(self, name: str, seconds: float) -> None:
        self.inner[(self.op, name)] += seconds

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext if self.spark is not None else None
        before = self.jvm.read() if self.jvm else None
        if sc is not None:
            sc.setJobGroup(f"{self.op}|{name}", name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            deltas = {}
            if before is not None:
                after = self.jvm.read()
                deltas = {k: after[k] - before[k] for k in before}
            self.spans.append((self.op, name, t0, t1, deltas))

    def span_seconds(self, ops: set[int]) -> dict[str, float]:
        """Busy time per span name, summed over ``ops``."""
        out: dict[str, float] = defaultdict(float)
        for op, name, t0, t1, _ in self.spans:
            if op in ops:
                out[name] += t1 - t0
        for (op, name), seconds in self.inner.items():
            if op in ops:
                out[name] += seconds
        return dict(out)

    def jvm_totals(self, ops: set[int]) -> dict[str, float]:
        out = {k: 0.0 for k in JVM_COUNTERS}
        for op, _, _, _, deltas in self.spans:
            if op in ops:
                for k, v in deltas.items():
                    out[k] += v
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def event_log_counters(
    log_dir: str, app_id: str, spans, ops: set[int]
) -> dict[str, float]:
    """Sum the Spark counters over the jobs whose job group names one of
    ``ops``. ``spans`` are the tracer's spans (for the driver gap)."""
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        matches = glob.glob(os.path.join(log_dir, f"*{app_id}*"))
        if len(matches) != 1:
            raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
        path = matches[0]
    c = {k: 0.0 for k in SPARK_COUNTERS}
    job_op: dict[int, tuple[int, str]] = {}
    stage_op: dict[int, tuple[int, str]] = {}
    job_start: dict[int, float] = {}
    job_intervals: dict[tuple[int, str], list[tuple[float, float]]] = defaultdict(list)
    exec_start: dict[int, float] = {}
    exec_first_job: dict[int, float] = {}
    persisted: set[int] = set()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                op_s, _, span = group.partition("|")
                if not op_s.isdigit() or int(op_s) not in ops:
                    continue
                key = (int(op_s), span)
                jid = ev["Job ID"]
                job_op[jid] = key
                job_start[jid] = ev["Submission Time"] / 1e3
                for sid in ev.get("Stage IDs", []):
                    stage_op[sid] = key
                c["spark.jobs"] += 1
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    eid = int(eid)
                    t = ev["Submission Time"] / 1e3
                    exec_first_job[eid] = min(exec_first_job.get(eid, t), t)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_op:
                    job_intervals[job_op[jid]].append(
                        (job_start[jid], ev["Completion Time"] / 1e3)
                    )
            elif kind.endswith("SQLExecutionStart"):
                exec_start[ev["executionId"]] = ev["time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info["Stage ID"] not in stage_op:
                    continue
                for rdd in info.get("RDD Info", []):
                    lvl = rdd.get("Storage Level", {})
                    if lvl.get("Use Memory") or lvl.get("Use Disk"):
                        persisted.add(rdd["RDD ID"])
            elif kind == "SparkListenerTaskEnd":
                if ev["Stage ID"] not in stage_op:
                    continue
                m = ev.get("Task Metrics") or {}
                c["spark.tasks"] += 1
                c["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["spark.input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
                sw = m.get("Shuffle Write Metrics", {})
                c["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                sr = m.get("Shuffle Read Metrics", {})
                c["spark.shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                c["spark.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                c["spark.spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / MB
                c["spark.output_mb"] += (
                    m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
                )
    c["spark.persisted_rdds"] = float(len(persisted))
    c["spark.plan_s"] = sum(
        t - exec_start[e] for e, t in exec_first_job.items() if e in exec_start
    )
    gap = 0.0
    for op, name, t0, t1, _ in spans:
        if op in ops:
            gap += (t1 - t0) - _union_length(job_intervals.get((op, name), []))
    c["spark.driver_gap_s"] = gap
    return c
