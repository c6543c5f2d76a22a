"""Benchmark entry point: one workload, one Spark session, one result line.

    python3 perfbench/run.py --workload ledger_churn --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The run sets up (session start,
seeded input generation, warm-up passes), then runs measured passes in
a closed loop with a single client until it has as many passes on a
quiet host as ``--seconds`` buys at the workload's nominal pass time,
checks every output against values computed independently from the
seed, and prints one JSON object as the last line of stdout.

With ``--trace 0`` the object holds the end-to-end metrics named in
BENCHMARK.json, from untraced passes. With ``--trace 1`` it holds the
per-layer metrics: every other pass runs with a span around every
public call into a layer, the others untraced; the spans are written to
perfbench/.traces/ when the run ends.

Everything the run writes lives under perfbench/.work/<run>/ (admin
roots, targets, checkpoints, Spark scratch, temp files) and is removed
at the end.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
# A pass counts as quiet when, while it ran, the hypervisor gave less
# than this share of the machine's CPU time to other guests. On the
# shared 4-core VM the benchmark was sized on, a steal of 4 % made
# ledger_churn passes 1.3 times slower and 20 % made them 3 times
# slower, in episodes lasting from seconds to minutes.
QUIET_STEAL = 0.015
MIN_COUNTED = 3


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=25)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _isolate(work: str) -> int:
    """Point every scratch location at ``work`` and cap the cores at
    what the machine has. Must run before pyspark starts its JVM."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # spark-submit's launcher JVM: no perf-data file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    nproc = len(os.sched_getaffinity(0))
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS") or nproc), nproc)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    return cpus


class Context:
    """What a workload gets: the session, its seed, a scratch dir and
    the admin-store class to build (plain, or traced)."""

    def __init__(self, spark, seed: int, work: str, store_class: type):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.store_class = store_class


def _spark_conf(work: str) -> dict:
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _measure(workload, ctx, need: int, cap_s: float, traced_class=None) -> tuple:
    """Closed loop, one client, passes back to back until ``need``
    untraced passes ran on a quiet host (see QUIET_STEAL), or, on a
    loaded host, until ``cap_s`` seconds have passed and MIN_COUNTED
    untraced passes have run, so the run still ends in time. On a quiet
    host that is ``need`` passes, the same work in every run. With a
    traced store class every other pass is traced, so traced and
    untraced passes sample the same point of the JVM warm-up; such a
    run stops only after a traced pass and needs one untraced pass."""
    from harness import Tracer, counter_delta, cpu_jiffies, spark_counters

    plain_class = ctx.store_class
    untraced, traced = [], []
    least = 1 if traced_class else MIN_COUNTED
    start = time.perf_counter()
    for i in itertools.count():
        if not traced_class or i % 2 == 0:
            if sum(p["steal"] < QUIET_STEAL for p in untraced) >= need:
                break
            if len(untraced) >= least and time.perf_counter() - start > cap_s:
                break
        tracer = traced_class.tracer if traced_class and i % 2 else Tracer(False)
        ctx.store_class = traced_class if tracer.enabled else plain_class
        before = spark_counters(ctx.spark) if tracer.enabled else None
        stolen, total = cpu_jiffies()
        p = workload.run_pass(tracer)
        stolen2, total2 = cpu_jiffies()
        p["steal"] = (stolen2 - stolen) / max(1, total2 - total)
        if tracer.enabled:
            p["spans"] = tracer.reset()
            p["spark"] = counter_delta(before, spark_counters(ctx.spark))
        (traced if tracer.enabled else untraced).append(p)
    ctx.store_class = plain_class
    return untraced, traced


def _counted(passes: list) -> list:
    """The passes the end-to-end metrics are taken from: every quiet
    pass, or if fewer than MIN_COUNTED were quiet, the MIN_COUNTED
    passes with the least steal. Steal is the host's doing, not the
    program's, so the choice does not favour one commit over another."""
    quiet = [p for p in passes if p["steal"] < QUIET_STEAL]
    if len(quiet) >= MIN_COUNTED:
        return quiet
    return sorted(passes, key=lambda p: p["steal"])[:MIN_COUNTED]


def _run(args: argparse.Namespace, bench: dict, work: str) -> tuple:
    """Set up, measure and check one workload; returns (info, result)."""
    cpus = _isolate(work)
    sys.path[:0] = [HERE, ROOT]

    import harness
    import metrics
    from etl_nightly import EtlNightly
    from ledger_churn import LedgerChurn

    from lime_etl_spark.adapter.admin_store import SparkAdminStore
    from lime_etl_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=_spark_conf(work))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - START
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        ctx = Context(spark, args.seed, work, SparkAdminStore)
        workload = {w.name: w for w in (LedgerChurn, EtlNightly)}[args.workload](ctx)

        prepare_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            workload.prepare()
            prepare_s.append(time.perf_counter() - t0)
        off = harness.Tracer(False)
        t0 = time.perf_counter()
        warm = [workload.run_pass(off) for _ in range(workload.warmup_passes)]
        setup_s = session_s + harness.median(prepare_s) + time.perf_counter() - t0

        # Quiet passes --seconds buys at the workload's nominal pass time;
        # a traced run spends half its passes traced.
        need = max(MIN_COUNTED, round(args.seconds / workload.nominal_pass_s))
        traced_class = None
        if args.trace:
            traced_class = harness.traced_store_class(harness.Tracer(True))
            need = round(need / 2)
        untraced, traced = _measure(workload, ctx, need, 1.5 * args.seconds, traced_class)
        attempted, failed = workload.final_check()
        rss = harness.peak_rss_mb(jvm.pid if jvm is not None else None)
        live_mb = rss["python"] + harness.jvm_live_mb(spark)
    finally:
        _stop(spark)
    for p in warm + untraced + traced:
        attempted += p["attempted"]
        failed += p["failed"]

    if args.trace:
        values = metrics.per_layer(untraced, traced, attempted, failed, sum(rss.values()))
        names = bench["per_layer"]
        trace_path = os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as fh:
            json.dump([p["spans"] for p in traced], fh)
    else:
        values = metrics.end_to_end(_counted(untraced), setup_s, live_mb)
        names = bench["end_to_end"]
    unknown = set(values) - {m["name"] for m in names}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cpus,
        "loop": "closed, single client",
        "inputs": workload.sizes,
        "pass_wall_s": {
            "warmup": [p["wall"] for p in warm],
            "untraced": [p["wall"] for p in untraced],
            "traced": [p["wall"] for p in traced],
        },
        "pass_gap_ms": [1000.0 * sum(p["gaps"]) / len(p["gaps"]) for p in untraced],
        "pass_steal": [p["steal"] for p in untraced],
        "counted_passes": len(_counted(untraced)),
        "setup": {"session_s": session_s, "prepare_s": prepare_s},
        "memory_mb": {"peak_rss": rss, "live": live_mb},
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in names},
    }
    return info, result


def main() -> int:
    args = _args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload!r}")
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    try:
        info, result = _run(args, bench, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
