"""etl_nightly: one nightly ``run_batch`` of refresh-and-test jobs.

Each pass resets targets, checkpoint and admin root, then runs one
batch over the seeded inputs from ``datagen.etl_inputs``:

- full refreshes of customers and orders (partitioned parquet);
- an incremental merge of an orders increment (``operators.etl.upsert``);
- a ``snapshot_diff`` of two customer snapshots;
- an ``scd2`` rebuild of customer history from a changelog;
- an availableNow ``stream_upsert_sink`` ingest of landing files;
- a ``DataTestJob`` with a ``referential_check`` of orders on customers;
- a reporting job that builds registry queries (a subset of bench.py's
  HEADLINE set) with ``plans.registry.hygienic`` over a seeded star
  schema and materializes each to the ``noop`` sink.

Every refresh job keeps its built-in tests. Spark scan, shuffle and
parquet writes dominate; the admin store sees eight jobs. After the
measured passes the reports are checked against the registry's DuckDB
``oracle_sql`` on the same files.
"""

from __future__ import annotations

import os
import shutil
from typing import Any, Dict, List

import duckdb
from pyspark.sql import functions as F

from lime_etl_spark.domain.specs import SimpleJobSpec, SparkBatchSpec
from lime_etl_spark.domain.statuses import SimpleTestResult
from lime_etl_spark.domain.value_objects import Result
from lime_etl_spark.operators.etl import scd2, snapshot_diff
from lime_etl_spark.plans.registry import all_queries, hygienic, release_tracked_persists
from lime_etl_spark.service.runner import run_batch
from lime_etl_spark.service.table_jobs import DataTestJob, TableRefreshJob, referential_check
from lime_etl_spark.streaming.pipeline import read_event_stream, stream_upsert_sink

import datagen
from harness import body_gaps, instrument, ledger_footprint, now
from tests.oracle import compare_frames

SCALE = 8_000  # customers; orders are 5x, see datagen.etl_inputs
WARMUP_PASSES = 1
NOMINAL_PASS_S = 9.0  # one warm pass on 4 cores; sets how many passes --seconds buys
FILES_PER_TRIGGER = 2
REPORT_SF = 0.005  # star schema for the reports: 30k lineitem rows
# one per family: scan-agg, keyed snapshot diff (a join), event windows
REPORT_QUERIES = ("q1_pricing_summary", "etl_snapshot_diff", "ev_sessionize")
JOB_NAMES = (
    "refresh_customers",
    "refresh_orders",
    "merge_orders",
    "diff_customers",
    "scd2_customers",
    "publish_reports",
    "ingest_events",
    "check_orders_fk",
)
UNTESTED = {"publish_reports"}


class _StreamIngest:
    """Body and test of the streaming job: drain the landing directory
    into the events target with one availableNow query."""

    def __init__(self, landing: str, target: str, checkpoint: str):
        self.landing, self.target, self.checkpoint = landing, target, checkpoint
        self.micro_batches = self.input_rows = 0

    def run(self, ctx):
        stream = read_event_stream(ctx.spark, self.landing, max_files_per_trigger=FILES_PER_TRIGGER)
        query = stream_upsert_sink(stream, self.target, self.checkpoint, keys=["event_id"])
        query.awaitTermination()
        progress = [p for p in query.recentProgress if p.get("numInputRows")]
        self.micro_batches = len(progress)
        self.input_rows = sum(p["numInputRows"] for p in progress)
        return None

    def test(self, ctx) -> List[SimpleTestResult]:
        out = ctx.spark.read.parquet(self.target)
        n, keys = out.count(), out.select("event_id").distinct().count()
        return [
            SimpleTestResult(
                test_name="ingest_events: unique on event_id",
                outcome=Result.success() if n == keys else Result.failure(f"{n - keys} dups"),
            )
        ]


class _Reports:
    """Body of the reporting job: each query built through the registry
    and materialized to the noop sink, one span per build and action."""

    def __init__(self, tables: str, tracer):
        self.tables, self.tracer = tables, tracer
        self.registry = all_queries()

    def run(self, ctx):
        span = self.tracer.span
        for name in REPORT_QUERIES:
            with span(f"query.{name}", "query"):
                with span(f"query.{name}.build", "query_build"):
                    df = hygienic(self.registry[name].builder)(ctx.spark, self.tables)
                with span(f"query.{name}.action", "query_action"):
                    df.write.mode("overwrite").format("noop").save()
        release_tracked_persists()
        return None


class EtlNightly:
    name = "etl_nightly"
    warmup_passes = WARMUP_PASSES
    nominal_pass_s = NOMINAL_PASS_S

    def __init__(self, ctx):
        self.ctx = ctx
        self.inputs = os.path.join(ctx.work, "inputs")
        self.tables = os.path.join(ctx.work, "tables")
        self.out = os.path.join(ctx.work, "out")
        self.sizes: Dict[str, Any] = {"jobs": len(JOB_NAMES), "customers": SCALE}

    def prepare(self) -> None:
        shutil.rmtree(self.inputs, ignore_errors=True)
        shutil.rmtree(self.tables, ignore_errors=True)
        self.expect = datagen.etl_inputs(self.inputs, self.ctx.seed, SCALE)
        self.table_rows = datagen.tpch_like(self.tables, self.ctx.seed, REPORT_SF)
        self.sizes.update(
            orders=self.expect["orders"],
            changelog_rows=self.expect["history"],
            landing_rows=self.expect["landing_rows"],
            report_lineitem_rows=self.table_rows["lineitem"],
        )

    def _path(self, name: str) -> str:
        return os.path.join(self.out, name)

    def _jobs(self, tracer) -> list:
        src, tgt = self.inputs, self._path

        def read(name):
            return lambda spark: spark.read.parquet(os.path.join(src, name))

        def diff(spark):
            return snapshot_diff(
                spark.read.parquet(os.path.join(src, "customers_old.parquet")),
                spark.read.parquet(os.path.join(src, "customers_new.parquet")),
                ["cust_id"],
            )

        def history(spark):
            changes = spark.read.parquet(os.path.join(src, "customer_changes.parquet"))
            return scd2(changes, ["cust_id"], F.col("change_ts_us"), ["balance"])

        self.stream = _StreamIngest(
            os.path.join(src, "landing"), tgt("events"), tgt("events_checkpoint")
        )
        return [
            TableRefreshJob(
                name="refresh_customers",
                source=read("customers_new.parquet"),
                target_path=tgt("customers"),
                keys=["cust_id"],
                partition_by=["segment"],
            ),
            TableRefreshJob(
                name="refresh_orders",
                source=read("orders.parquet"),
                target_path=tgt("orders"),
                keys=["order_id"],
                partition_by=["order_month"],
            ),
            TableRefreshJob(
                name="merge_orders",
                source=read("orders_increment.parquet"),
                target_path=tgt("orders"),
                mode="incremental",
                keys=["order_id"],
                partition_by=["order_month"],
                dependencies=["refresh_orders"],
            ),
            TableRefreshJob(
                name="diff_customers",
                source=diff,
                target_path=tgt("customer_diff"),
                keys=["cust_id"],
            ),
            TableRefreshJob(
                name="scd2_customers",
                source=history,
                target_path=tgt("customer_history"),
                keys=["cust_id", "effective_from_us"],
            ),
            SimpleJobSpec(name="publish_reports", run=_Reports(self.tables, tracer).run),
            SimpleJobSpec(name="ingest_events", run=self.stream.run, test=self.stream.test),
            DataTestJob(
                name="check_orders_fk",
                checks=[
                    referential_check(
                        tgt("orders"), tgt("customers"), "cust_id", "cust_id", "orders -> customers"
                    )
                ],
                dependencies=["refresh_customers", "merge_orders"],
            ),
        ]

    def run_pass(self, tracer) -> Dict[str, Any]:
        spark = self.ctx.spark
        shutil.rmtree(self.out, ignore_errors=True)
        root = self._path("admin")
        store = self.ctx.store_class(spark, root)
        marks: List[tuple] = []
        jobs = [instrument(j, tracer, marks) for j in self._jobs(tracer)]
        t_pass = now()
        with tracer.span("runner.run_batch", "runner"):
            status = run_batch(SparkBatchSpec(name="nightly", jobs=jobs), spark, store)
        t_end = now()
        failed = sum(
            str(r.status.state) != "succeeded"
            or (not r.test_results and r.job_name not in UNTESTED)
            or not all(t.test_passed for t in r.test_results)
            for r in status.job_results
        )
        # rows the table jobs report; the stream's rows are checked last
        written = sum(j.last_metrics["rows_written"] for j in jobs if hasattr(j, "last_metrics"))
        footprint = ledger_footprint(root)
        return {
            "wall": t_end - t_pass,
            "batch": t_end - t_pass,
            "jobs": len(status.job_results),
            "gaps": body_gaps(marks),
            # the generator's count, not the program's: rows_per_s
            # tracks time alone
            "rows": self.expect["rows_written"],
            "ledger_bytes_per_job": footprint["bytes"] / len(JOB_NAMES),
            "attempted": len(JOB_NAMES) + 1,
            "failed": failed
            + (len(status.job_results) != len(JOB_NAMES))
            + (written != self.expect["rows_written"] - self.expect["events"]),
            "layer": {
                "admin_store.files": footprint["files"],
                "admin_store.bytes": footprint["bytes"],
                "stream.micro_batches": self.stream.micro_batches,
                "stream.input_rows": self.stream.input_rows,
            },
        }

    def final_check(self) -> tuple:
        """The last pass's targets against counts from the generator, and
        each report against its DuckDB oracle on the same files."""
        spark, e = self.ctx.spark, self.expect

        def read(name):
            return spark.read.parquet(self._path(name))

        orders = read("orders")
        diff = read("customer_diff").groupBy("change_type").count().collect()
        history = read("customer_history")
        checks = [
            read("customers").count() == e["customers"],
            orders.count() == e["orders"],
            orders.select("order_id").distinct().count() == e["orders"],
            {r["change_type"]: r["count"] for r in diff} == e["diff"],
            history.count() == e["history"],
            history.where("is_current").count() == e["history_current"],
            read("events").count() == e["events"],
            self.stream.micro_batches == e["landing_files"] // FILES_PER_TRIGGER,
        ]
        registry = all_queries()
        # tests.oracle.duck_connection also maps tables the generated
        # schema does not have; the comparison is the oracle's own
        with duckdb.connect() as con:
            for t in self.table_rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            for name in REPORT_QUERIES:
                spec = registry[name]
                got = hygienic(spec.builder)(spark, self.tables).toPandas()
                checks.append(not compare_frames(got, con.execute(spec.oracle).fetchdf()))
        release_tracked_persists()
        return len(checks), checks.count(False)
