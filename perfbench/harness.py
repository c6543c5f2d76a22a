"""Shared pieces of the benchmark: span tracer, instrumented admin store
and jobs, statistics, Spark counters and memory readings.

Every layer is measured from outside, through its public calls: the
admin store through a subclass that wraps each public method, job bodies
and tests through job objects the workloads build, ``run_batch`` at its
call site and registry queries around their builder and their action.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import time
import urllib.request
from contextlib import contextmanager
from typing import Any, Dict, Iterator, List, Optional

from lime_etl_spark.adapter.admin_store import SparkAdminStore

now = time.perf_counter


# -- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, layer, start, end, parent). A disabled
    tracer records nothing and costs one attribute check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[Dict[str, Any]] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, layer: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": now(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = now()

    def reset(self) -> List[Dict[str, Any]]:
        spans, self.spans = self.spans, []
        return spans


def self_times(spans: List[Dict[str, Any]], wall: float) -> Dict[str, float]:
    """Seconds of self time per layer (span duration minus its direct
    children) plus ``unattributed``: pass time no top-level span covers.
    The values add up to ``wall``."""
    child_sum: Dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_sum[s["parent"]] = child_sum.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: Dict[str, float] = {}
    top = 0.0
    for s in spans:
        dur = s["end"] - s["start"]
        out[s["layer"]] = out.get(s["layer"], 0.0) + dur - child_sum.get(s["id"], 0.0)
        if s["parent"] is None:
            top += dur
    out["unattributed"] = wall - top
    return out


def totals_by_name(spans: List[Dict[str, Any]]) -> Dict[str, List[float]]:
    """name -> [calls, inclusive seconds]."""
    out: Dict[str, List[float]] = {}
    for s in spans:
        acc = out.setdefault(s["name"], [0, 0.0])
        acc[0] += 1
        acc[1] += s["end"] - s["start"]
    return out


# -- admin store seen from outside ---------------------------------------------

# Public methods of SparkAdminStore the runner, the admin jobs and the
# report phase call. Nested calls (get_previous_batch -> get_batch ->
# get_job_results) become nested spans, so self time stays exact.
STORE_METHODS = (
    "get_last_successful_ts",
    "latest_test_results",
    "get_previous_batch",
    "get_batch",
    "get_job_results",
    "get_test_results",
    "save_batch",
    "save_job_result",
    "flush_logs",
    "log",
    "compact",
    "delete_old_logs",
    "delete_old_batches",
    "earliest_log_ts",
    "read_log",
    "snapshot_as_of",
)


def traced_store_class(tracer: Tracer) -> type:
    """A SparkAdminStore subclass whose public methods each open a span
    named ``admin_store.<method>`` on ``tracer`` (kept as ``.tracer``)."""

    def wrap(name: str):
        base = getattr(SparkAdminStore, name)

        def method(self, *args, **kwargs):
            with tracer.span(f"admin_store.{name}", "admin_store"):
                return base(self, *args, **kwargs)

        method.__name__ = name
        return method

    methods = {name: wrap(name) for name in STORE_METHODS}
    return type("TracedAdminStore", (SparkAdminStore,), {"tracer": tracer, **methods})


def ledger_footprint(root: str) -> Dict[str, int]:
    """Part files and bytes under an admin root."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return {"files": files, "bytes": size}


# -- jobs seen from outside --------------------------------------------------------


def instrument(job, tracer: Tracer, marks: List[tuple], label: Optional[str] = None):
    """Make a job time its own ``run`` and ``test``: their start and end
    go to ``marks`` on every pass, spans named ``job.<label>.run`` and
    ``.test`` (label defaults to the job name) only when tracing."""
    run, test, name = job.run, job.test, label or job.job_name

    def timed(fn, kind: str):
        def call(ctx):
            marks.append((kind, now()))
            try:
                with tracer.span(f"job.{name}.{kind}", "job_body" if kind == "run" else "job_test"):
                    return fn(ctx)
            finally:
                marks.append((f"{kind}_end", now()))

        return call

    job.run, job.test = timed(run, "run"), timed(test, "test")
    return job


def body_gaps(marks: List[tuple]) -> List[float]:
    """Seconds from each job body returning to the next body starting,
    less the job tests run in between: what the runner and the admin
    store cost per job."""
    out = []
    last_end = None
    tests = 0.0
    for kind, t in marks:
        if kind == "run" and last_end is not None:
            out.append(t - last_end - tests)
        elif kind == "run_end":
            last_end, tests = t, 0.0
        elif kind == "test":
            test_start = t
        elif kind == "test_end":
            tests += t - test_start
    return out


# -- statistics ------------------------------------------------------------------


def median(values: List[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: List[float], pct: int) -> float:
    """Inclusive percentile (pct in 1..99) of a sample."""
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


# -- Spark counters and memory ------------------------------------------------------

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "input_records",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)


def _rest(spark, endpoint: str) -> list:
    url = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{url}/api/v1/applications/{app}/{endpoint}", timeout=10) as r:
        return json.loads(r.read())


def spark_counters(spark) -> Dict[str, int]:
    """Cumulative application totals from the UI REST API (the session
    must run with spark.ui.enabled). Waits until the listener has
    caught up with every submitted job, so a delta across one pass
    holds that pass's work.

    Reads the same stage list as bench.py's ``_rest_totals``, which
    sums only its own byte and record fields and turns an unreachable
    UI into None; this reader also needs job, stage and task counts and
    output bytes, and fails loudly rather than report zeros."""
    tracker = spark.sparkContext.statusTracker()
    deadline = now() + 10
    while tracker.getActiveJobsIds() and now() < deadline:
        time.sleep(0.05)
    jobs = _rest(spark, "jobs")
    while any(j.get("status") == "RUNNING" for j in jobs) and now() < deadline:
        time.sleep(0.05)
        jobs = _rest(spark, "jobs")
    stages = _rest(spark, "stages")
    out = dict.fromkeys(SPARK_COUNTERS, 0)
    out["jobs"] = len(jobs)
    out["stages"] = len(stages)
    for st in stages:
        out["tasks"] += int(st.get("numCompleteTasks") or 0)
        out["input_records"] += int(st.get("inputRecords") or 0)
        out["shuffle_read_bytes"] += int(st.get("shuffleReadBytes") or 0)
        out["shuffle_write_bytes"] += int(st.get("shuffleWriteBytes") or 0)
        out["spill_bytes"] += int(st.get("memoryBytesSpilled") or 0) + int(
            st.get("diskBytesSpilled") or 0
        )
        out["output_bytes"] += int(st.get("outputBytes") or 0)
    return out


def counter_delta(before: Dict[str, int], after: Dict[str, int]) -> Dict[str, int]:
    return {k: after[k] - before[k] for k in SPARK_COUNTERS}


def cpu_jiffies() -> tuple:
    """(stolen, total) CPU time of the whole machine so far, in clock
    ticks, from /proc/stat: the share stolen over an interval is the
    time the hypervisor ran other guests on this machine's CPUs."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def peak_rss_mb(jvm_pid: Optional[int]) -> Dict[str, float]:
    """Peak resident memory of this Python process and of the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid is not None:
        try:
            with open(f"/proc/{jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return {"python": py_kb / 1024.0, "jvm": jvm_kb / 1024.0}


def jvm_live_mb(spark) -> float:
    """Heap and non-heap memory the Spark JVM holds after a full
    collection: what the program keeps live, whatever size the
    collector let the heap grow to on the way."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2.0**20
