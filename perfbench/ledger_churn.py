"""ledger_churn: the runner and the admin ledger under repeated batches.

One pass runs BATCHES consecutive batches of the same name against one
fresh admin root, each with JOBS tiny jobs whose bodies do no Spark
work, so the pass costs what ``service.runner`` and
``adapter.admin_store`` add per job. The admin batch (DeleteOldLogs +
CompactAdminLedger) runs after every ADMIN_EVERY-th batch, and the
pass ends with a report phase over the grown ledger.

The seed fixes the job graph (a chain plus a fan-out) and where the
planted behaviours sit: a job gated by a long refresh interval, a job
that fails once and succeeds on retry, an always-failing job with a
dependent that must be skipped, a job whose test fails, and jobs whose
tests are gated by ``min_seconds_between_tests``.
"""

from __future__ import annotations

import datetime
import os
import random
import shutil
from typing import Any, Dict, List

from lime_etl_spark.adapter.admin_store import job_health_stats
from lime_etl_spark.domain.specs import SimpleJobSpec, SparkBatchSpec
from lime_etl_spark.domain.statuses import SimpleTestResult
from lime_etl_spark.domain.value_objects import Result
from lime_etl_spark.service.admin_jobs import AdminConfig, admin_batch
from lime_etl_spark.service.runner import run_batch

from harness import body_gaps, instrument, ledger_footprint, now

JOBS = 10
BATCHES = 12
ADMIN_EVERY = 4
CHAIN = 4
HOUR = 3600
WARMUP_PASSES = 2  # the pass after the cold one still runs slow
NOMINAL_PASS_S = 3.8  # one warm pass on 4 cores; sets how many passes --seconds buys
SIZES = {"jobs_per_batch": JOBS, "batches": BATCHES, "admin_batch_every": ADMIN_EVERY}


def plan(seed: int) -> List[Dict[str, Any]]:
    """The seeded job graph, in declaration order: dependencies always
    point at earlier jobs."""
    rng = random.Random(seed)
    chain = [f"chain_{i}" for i in range(CHAIN)]
    roles = ["refresh_gated", "flaky", "always_fails", "test_fails"]
    roles += ["plain"] * (JOBS - CHAIN - len(roles) - 1)
    rng.shuffle(roles)
    jobs: List[Dict[str, Any]] = [
        {"name": c, "role": "plain", "deps": [chain[i - 1]] if i else [], "test_gate": 0}
        for i, c in enumerate(chain)
    ]
    for i, role in enumerate(roles):
        jobs.append(
            {"name": f"leaf_{i}_{role}", "role": role, "deps": [rng.choice(chain)], "test_gate": 0}
        )
    failing = next(j["name"] for j in jobs if j["role"] == "always_fails")
    jobs.append({"name": "after_failure", "role": "dependent", "deps": [failing], "test_gate": 0})
    plain = [j for j in jobs if j["role"] == "plain"]
    for j in rng.sample(plain, len(plain) // 2):
        j["test_gate"] = HOUR
    # seeded topological order: keep each job after its dependencies
    order: List[Dict[str, Any]] = []
    pending = jobs[:]
    while pending:
        ready = [j for j in pending if all(d in {o["name"] for o in order} for d in j["deps"])]
        pick = rng.choice(ready)
        order.append(pick)
        pending.remove(pick)
    return order


def expected(job: Dict[str, Any], batch_index: int) -> tuple:
    """(state, tests) the runner must record for ``job`` in the
    ``batch_index``-th batch of a pass; tests is None when none run."""
    role = job["role"]
    if role == "dependent":
        return "skipped", None
    if role == "always_fails":
        return "failed", None
    if role == "refresh_gated" and batch_index > 0:
        return "skipped", None
    tests_run = job["test_gate"] == 0 or batch_index == 0
    if not tests_run:
        return "succeeded", None
    return "succeeded", role != "test_fails"


class _Body:
    """A job body with no Spark work; the flaky one raises on its first
    attempt in every batch."""

    def __init__(self, role: str):
        self.role = role
        self.attempts = 0

    def __call__(self, ctx):
        self.attempts += 1
        if self.role == "always_fails":
            raise RuntimeError("planted failure")
        if self.role == "flaky" and self.attempts == 1:
            raise RuntimeError("planted transient failure")
        return None


def _test(role: str):
    def test(ctx) -> List[SimpleTestResult]:
        ok = role != "test_fails"
        return [
            SimpleTestResult(
                test_name="planted check",
                outcome=Result.success() if ok else Result.failure("planted test failure"),
            )
        ]

    return test


def planned_records(plan: List[Dict[str, Any]]) -> int:
    """Job and test results the plan has the runner record in the churn
    batches of one pass (every planted job has one test). A count fixed
    by the seed, not read back from the store, so ``rows_per_s`` tracks
    time alone."""
    return sum(1 + (expected(j, b)[1] is not None) for b in range(BATCHES) for j in plan)


def _state_and_tests(result) -> tuple:
    tests = None
    if result.test_results:
        tests = all(t.test_passed for t in result.test_results)
    return str(result.status.state), tests


class LedgerChurn:
    name = "ledger_churn"
    warmup_passes = WARMUP_PASSES
    nominal_pass_s = NOMINAL_PASS_S
    sizes = SIZES

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "ledger")

    def prepare(self) -> None:
        """Inputs are the seeded plan only; reset the admin root."""
        shutil.rmtree(self.root, ignore_errors=True)
        self.plan = plan(self.ctx.seed)
        self.flaky = next(j["name"] for j in self.plan if j["role"] == "flaky")
        self.records = planned_records(self.plan)

    def run_pass(self, tracer) -> Dict[str, Any]:
        spark = self.ctx.spark
        shutil.rmtree(self.root, ignore_errors=True)
        store = self.ctx.store_class(spark, self.root)
        config = AdminConfig(admin_dir=self.root, min_seconds_between_runs=0)
        gaps: List[float] = []
        per_batch: List[Dict[str, Any]] = []
        attempted = failed = settled = ran = 0
        t_pass = now()
        for b in range(BATCHES):
            marks: List[tuple] = []
            bodies = {j["name"]: _Body(j["role"]) for j in self.plan}
            jobs = [
                instrument(
                    SimpleJobSpec(
                        name=j["name"],
                        run=bodies[j["name"]],
                        test=_test(j["role"]),
                        dependencies=j["deps"],
                        max_retries=1 if j["role"] == "flaky" else 0,
                        min_seconds_between_refreshes=30 * 24 * HOUR
                        if j["role"] == "refresh_gated"
                        else 0,
                        min_seconds_between_tests=j["test_gate"],
                    ),
                    tracer,
                    marks,
                    label="churn",
                )
                for j in self.plan
            ]
            t0 = now()
            with tracer.span("runner.run_batch", "runner"):
                status = run_batch(SparkBatchSpec(name="churn", jobs=jobs), spark, store)
            dt = now() - t0
            got = {r.job_name: _state_and_tests(r) for r in status.job_results}
            for j in self.plan:
                attempted += 1
                if got.get(j["name"]) != expected(j, b):
                    failed += 1
            attempted += 1
            failed += bodies[self.flaky].attempts != 2
            settled += len(status.job_results)
            ran += sum(str(r.status.state) != "skipped" for r in status.job_results)
            batch_gaps = body_gaps(marks)
            gaps += batch_gaps
            per_batch.append({"t0": t0, "t1": t0 + dt, "gaps": batch_gaps})
            if (b + 1) % ADMIN_EVERY == 0 and b < BATCHES - 1:
                spec = admin_batch(store, config)
                spec.jobs = [instrument(j, tracer, []) for j in spec.jobs]
                with tracer.span("runner.run_batch", "runner"):
                    status = run_batch(spec, spark, store)
                for r in status.job_results:
                    attempted += 1
                    if _state_and_tests(r) != ("succeeded", True):
                        failed += 1
                settled += len(status.job_results)
                ran += len(status.job_results)
        t_report = now()
        report = self._report(store, tracer)
        t_end = now()
        a, f = self._check_report(report, settled, ran)
        footprint = ledger_footprint(self.root)
        return {
            "wall": t_end - t_pass,
            "batch": t_report - t_pass,
            "jobs": settled,
            "gaps": gaps,
            "rows": self.records,
            "ledger_bytes_per_job": footprint["bytes"] / settled,
            "attempted": attempted + a,
            "failed": failed + f,
            "layer": {
                "admin_store.files": footprint["files"],
                "admin_store.bytes": footprint["bytes"],
                "report_s": t_end - t_report,
                **_growth(per_batch[0], "first_batch", tracer),
                **_growth(per_batch[-1], "last_batch", tracer),
            },
        }

    def final_check(self) -> tuple:
        """Every check of this workload runs inside each pass."""
        return 0, 0

    def _report(self, store, tracer) -> Dict[str, Any]:
        with tracer.span("admin_store.report.job_health_stats", "report"):
            health = {r["job_name"]: r for r in job_health_stats(store).collect()}
        with tracer.span("admin_store.report.snapshot_as_of", "report"):
            snap = store.snapshot_as_of("jobs", datetime.datetime.now()).count()
        with tracer.span("admin_store.report.read_log", "report"):
            log_rows = store.read_log("job_log").count()
        return {"health": health, "snapshot": snap, "log_rows": log_rows}

    def _check_report(self, report: Dict[str, Any], settled: int, ran: int) -> tuple:
        """Health counts per job against the planted plan; one snapshot
        row per recorded job; a job-log line for every job that ran."""
        attempted = failed = 0
        for j in self.plan:
            states = [expected(j, b)[0] for b in range(BATCHES)]
            want = (BATCHES, states.count("failed"), states.count("skipped"))
            row = report["health"].get(j["name"])
            got = None if row is None else (row["n_runs"], row["n_failed"], row["n_skipped"])
            attempted += 1
            failed += got != want
        attempted += 2
        failed += report["snapshot"] != settled
        failed += report["log_rows"] < ran
        return attempted, failed


LOOKUPS = ("get_last_successful_ts", "latest_test_results", "get_previous_batch")


def _growth(batch: Dict[str, Any], label: str, tracer) -> Dict[str, float]:
    """Mean job gap in one batch and, when tracing, the admin-store
    lookup time per job inside it: comparing the first and the last
    batch of a pass shows how much of the gap's growth is lookups."""
    names = {f"admin_store.{m}" for m in LOOKUPS}
    lookup = sum(
        s["end"] - s["start"]
        for s in tracer.spans
        if s["name"] in names and batch["t0"] <= s["start"] <= batch["t1"]
    )
    return {
        f"job_gap_ms.{label}": 1000.0 * sum(batch["gaps"]) / len(batch["gaps"]),
        f"admin_store.lookup_ms_per_job.{label}": 1000.0 * lookup / JOBS,
    }
