"""lake_refresh: seeded nightly batches through the parallel runner.

One client, closed loop. Setup generates a small star schema
(``LAKE_SF``) and N_NIGHTS nightly feeds (an orders increment, an
I/U/D orders changelog, the customer snapshot and its change stream)
and writes them as parquet. One op is one night's batch through
``run_batch_parallel_jobs`` (max_workers = cpus) on one
``SparkAdminStore``; ops cycle through the nights, so every op does the
same kind and amount of work. The batch's DAG:

- layer 0: ``lineitem_full`` and ``orders_full`` (full refreshes,
  partitioned), ``orders_cdc`` (``cdc_apply``), ``customer_diff``
  (``snapshot_diff``) and ``customer_scd2`` (``scd2``), each a
  ``TableRefreshJob`` with its built-in data tests;
- layer 1: ``orders_upsert``, an incremental (keyed upsert) refresh of
  the orders target with the night's increment;
- layer 2: ``ri_lineitem_orders``, a ``DataTestJob`` running
  ``referential_check``;
- layer 3: one report job per ``REPORTS`` query: the registry builder
  ``plans.registry.all_queries()[name].builder(spark, inputs)`` into
  the ``noop`` sink, the analytics query path.

After every op, outside the timed region, each target's row count and
order-insensitive checksum are compared with DuckDB run over the same
generated inputs, and every job must have succeeded with passing tests.
Each report query's result is compared once, at setup, with its
registered DuckDB oracle SQL via ``tests/oracle.compare_frames``.
"""

from __future__ import annotations

import datetime
import os
import time
from typing import Dict, List, Tuple

from perfbench import datagen
from perfbench.harness import OpLog, SparkHost, Tracer, median_or_zero
from perfbench.layers import (
    DATATEST,
    TABLE_RUN,
    TABLE_TEST,
    OpSpans,
    install_source_tracing,
    install_store_tracing,
    install_table_job_tracing,
    parallel_runner_metrics,
    runner_self,
    source_metrics,
    spark_metrics,
    store_metrics,
    traced_ops,
)

LAKE_SF = 0.005
N_NIGHTS = 3
# A run times whole passes over the nights, round(seconds /
# NOMINAL_PASS_S) of them: a fixed amount of work for a given --seconds,
# near that much op time on a 4-cpu host
NOMINAL_PASS_S = 15.0
DAY_S = 86_400

FULL_JOBS = ("lineitem_full", "orders_full")
OPERATOR_JOBS = {  # operator -> the job whose body calls it
    "upsert": "orders_upsert",
    "cdc_apply": "orders_cdc",
    "snapshot_diff": "customer_diff",
    "scd2": "customer_scd2",
}
# registry queries the batch's report jobs run, one per worker
REPORTS = ("q1_pricing_summary", "q3_shipping_priority", "q6_revenue_forecast", "q18_large_orders")
LAYERS = (
    ("lineitem_full", "orders_full", "orders_cdc", "customer_diff", "customer_scd2"),
    ("orders_upsert",),
    ("ri_lineitem_orders",),
    tuple(f"report_{q}" for q in REPORTS),
)
TARGETS = ("lineitem", "orders", "orders_cdc", "customer_diff", "customer_scd2")
BUILD = "plans.registry.build."
EXEC = "spark.exec."

# DuckDB over the generated inputs: what each target must hold after
# night {n}'s batch. {base}/{night}/{prev} are input directories.
ORACLE = {
    "lineitem": "SELECT * FROM read_parquet('{base}/lineitem.parquet')",
    "orders": """
        SELECT * FROM read_parquet('{base}/orders.parquet')
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM read_parquet('{night}/orders_inc.parquet'))
        UNION ALL SELECT * FROM read_parquet('{night}/orders_inc.parquet')""",
    "orders_cdc": """
        WITH log AS (SELECT * FROM read_parquet('{night}/orders_cdc.parquet')),
        latest AS (SELECT * FROM log QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) = 1)
        SELECT o_orderkey, o_totalprice FROM read_parquet('{base}/orders.parquet')
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM log)
        UNION ALL SELECT o_orderkey, o_totalprice FROM latest WHERE op <> 'D'""",
    "customer_diff": """
        SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
          CASE WHEN o.c_custkey IS NULL THEN 'added' WHEN n.c_custkey IS NULL THEN 'deleted'
               WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal
                 OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment THEN 'changed'
               ELSE 'unchanged' END AS change_type,
          o.c_acctbal AS old_c_acctbal, o.c_mktsegment AS old_c_mktsegment,
          n.c_acctbal AS new_c_acctbal, n.c_mktsegment AS new_c_mktsegment
        FROM (SELECT c_custkey, c_acctbal, c_mktsegment FROM read_parquet('{prev}')) o
        FULL OUTER JOIN read_parquet('{night}/customer.parquet') n ON o.c_custkey = n.c_custkey""",
    "customer_scd2": """
        SELECT *, change_us AS effective_from_us,
          lead(change_us) OVER (PARTITION BY c_custkey ORDER BY change_us, change_seq) AS effective_to_us,
          lead(change_us) OVER (PARTITION BY c_custkey ORDER BY change_us, change_seq) IS NULL AS is_current
        FROM read_parquet([{changes}])""",
}


def checksum_sql(source: str, columns: List[str]) -> str:
    """Row count and an order-insensitive checksum over ``columns``."""
    cols = ", ".join(f"CAST({c} AS VARCHAR)" for c in columns)
    return f"SELECT count(*), coalesce(sum(hash({cols})), 0) FROM ({source}) AS t"


class LakeRefresh:
    name = "lake_refresh"
    units = {"jobs_per_s": "jobs/s", "rows_per_s": "rows/s"}

    def __init__(self, host: SparkHost, work_dir: str, seed: int, tracer: Tracer):
        self.host = host
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.problems: List[str] = []
        self.expected: Dict[int, Dict[str, Tuple[int, int]]] = {}
        self.rows_by_op: List[int] = []
        self.states_by_op: List[Dict[str, int]] = []
        self.spark_deltas: List[Dict[str, int]] = []
        self.reports_ok = True  # set by the report checks at warm-up

    # -- inputs ------------------------------------------------------------------

    def import_program(self) -> None:
        from lime_etl_spark.operators import etl  # noqa: F401
        from lime_etl_spark.plans import registry
        from lime_etl_spark.service import runner, table_jobs  # noqa: F401

        self.queries = registry.all_queries()

    def generate(self, rep: int) -> str:
        """The star schema and the nightly feeds, as parquet."""
        base = datagen.star_schema(LAKE_SF, self.seed)
        nights = datagen.lake_nights(base, N_NIGHTS, self.seed)
        self.inputs = os.path.join(self.work_dir, f"inputs-{rep}")
        written = datagen.write_tables(base, self.inputs)
        paths = [written[t] for t in sorted(written)]
        for n, tables in enumerate(nights, 1):
            paths += datagen.write_tables(tables, self._night_dir(n)).values()
        return datagen.digest(paths)

    def _night_dir(self, night: int) -> str:
        return os.path.join(self.inputs, f"night{night}")

    def install_tracing(self) -> None:
        from lime_etl_spark.service import runner

        install_store_tracing(self.tracer)
        install_table_job_tracing(self.tracer)
        install_source_tracing(self.tracer)
        self.tracer.wrap(runner, "run_batch_parallel_jobs", "service.runner.run_batch_parallel_jobs")

    # -- the program's objects -----------------------------------------------------

    def _start_lake(self, tag: str) -> None:
        from lime_etl_spark.adapter.admin_store import SparkAdminStore
        from lime_etl_spark.domain.clock import FakeClockAdapter

        self.lake = os.path.join(self.work_dir, f"lake-{tag}")
        self.store = SparkAdminStore(self.host.spark, os.path.join(self.work_dir, f"admin-{tag}"))
        self.clock = FakeClockAdapter(datetime.datetime.now())

    def _target(self, name: str) -> str:
        return os.path.join(self.lake, name)

    def _batch(self, night: int):
        from pyspark.sql import functions as F

        from lime_etl_spark.domain import JobStatus, SimpleJobSpec, SparkBatchSpec
        from lime_etl_spark.operators.etl import cdc_apply, scd2, snapshot_diff
        from lime_etl_spark.service.table_jobs import DataTestJob, TableRefreshJob, referential_check
        from lime_etl_spark.sources import load_table

        base, tonight = self.inputs, self._night_dir(night)
        prev = self._night_dir(night - 1) if night > 1 else base

        def orders_cdc(spark):
            orders = load_table(spark, base, "orders").select("o_orderkey", "o_totalprice")
            return cdc_apply(orders, load_table(spark, tonight, "orders_cdc"), ["o_orderkey"])

        def customer_diff(spark):
            cols = ["c_custkey", "c_acctbal", "c_mktsegment"]
            old = load_table(spark, prev, "customer").select(*cols)
            return snapshot_diff(old, load_table(spark, tonight, "customer"), ["c_custkey"])

        def customer_scd2(spark):
            changes = load_table(spark, self._night_dir(1), "customer_changes")
            for n in range(2, night + 1):
                changes = changes.unionByName(load_table(spark, self._night_dir(n), "customer_changes"))
            return scd2(changes, ["c_custkey"], F.col("change_us"), [F.col("change_seq")])

        tracer = self.tracer

        def report(name: str):
            spec = self.queries[name]

            def run(ctx):
                with tracer.span(BUILD + name):
                    df = spec.builder(ctx.spark, base)
                with tracer.span(EXEC + name):
                    df.write.format("noop").mode("overwrite").save()
                return JobStatus.success()

            return run

        self.jobs = [
            TableRefreshJob(
                name="lineitem_full",
                source=lambda spark: load_table(spark, base, "lineitem"),
                target_path=self._target("lineitem"),
                partition_by=["l_returnflag"],
            ),
            TableRefreshJob(
                name="orders_full",
                source=lambda spark: load_table(spark, base, "orders"),
                target_path=self._target("orders"),
                keys=["o_orderkey"],
                partition_by=["o_orderstatus"],
            ),
            TableRefreshJob(
                name="orders_cdc", source=orders_cdc, target_path=self._target("orders_cdc"), keys=["o_orderkey"]
            ),
            TableRefreshJob(
                name="customer_diff",
                source=customer_diff,
                target_path=self._target("customer_diff"),
                keys=["c_custkey"],
            ),
            TableRefreshJob(
                name="customer_scd2",
                source=customer_scd2,
                target_path=self._target("customer_scd2"),
                keys=["c_custkey", "effective_from_us"],
            ),
            TableRefreshJob(
                name="orders_upsert",
                source=lambda spark: load_table(spark, tonight, "orders_inc"),
                target_path=self._target("orders"),
                mode="incremental",
                keys=["o_orderkey"],
                partition_by=["o_orderstatus"],
                dependencies=["orders_full"],
            ),
            DataTestJob(
                name="ri_lineitem_orders",
                checks=[
                    referential_check(
                        self._target("lineitem"), self._target("orders"), "l_orderkey", "o_orderkey",
                        "every lineitem has its order",
                    )
                ],
                dependencies=["lineitem_full", "orders_upsert"],
            ),
            *(
                SimpleJobSpec(name=f"report_{q}", run=report(q), dependencies=("ri_lineitem_orders",))
                for q in REPORTS
            ),
        ]
        return SparkBatchSpec(name="nightly_lake", jobs=self.jobs)

    # -- ops -----------------------------------------------------------------------

    def _run_night(self, log: OpLog, night: int) -> None:
        from lime_etl_spark.service import runner

        self.clock.advance(DAY_S)
        batch = self._batch(night)
        before = self.host.counters() if self.tracer.enabled else None
        with self.tracer.op(len(log.ops), "op.batch"):
            t0 = time.perf_counter()
            status = runner.run_batch_parallel_jobs(
                batch, self.host.spark, self.store, clock=self.clock, max_workers=self.host.cpus
            )
            op = log.add("batch", time.perf_counter() - t0, self.tracer.enabled)
        if before is not None:
            after = self.host.counters()
            self.spark_deltas.append({k: after[k] - before[k] for k in after})
        with self.tracer.paused():
            op.ok = self._check(status, night) and self.reports_ok
        self.rows_by_op.append(
            sum(j.last_metrics["rows_written"] for j in self.jobs if hasattr(j, "last_metrics"))
        )

    def _check(self, status, night: int) -> bool:
        states = {r.job_name: (r.status.state.value, r.tests_failed) for r in status.job_results}
        self.states_by_op.append(
            {s: sum(1 for v, _ in states.values() if v == s) for s in ("succeeded", "skipped", "failed")}
        )
        want = {j.job_name: ("succeeded", False) for j in self.jobs}
        if states != want or not status.execution_success_or_failure.is_success:
            bad = {k: v for k, v in states.items() if v != ("succeeded", False)}
            self.problems.append(f"night {night}: job states {bad}")
            return False
        ok = True
        for target, (count, digest) in self._oracle(night).items():
            got = self._checksum(
                f"SELECT * FROM read_parquet('{self._target(target)}/**/*.parquet', hive_partitioning = true)",
                self.columns[target],
            )
            if got != (count, digest):
                self.problems.append(f"night {night}: {target} (rows, checksum) {got} != {(count, digest)}")
                ok = False
        return ok

    def _checksum(self, source: str, columns: List[str]) -> Tuple[int, int]:
        n, h = self.duck.execute(checksum_sql(source, columns)).fetchone()
        return int(n), int(h)

    def _oracle(self, night: int) -> Dict[str, Tuple[int, int]]:
        """DuckDB's (rows, checksum) of every target for ``night``, cached."""
        if night not in self.expected:
            prev = os.path.join(self._night_dir(night - 1) if night > 1 else self.inputs, "customer.parquet")
            changes = ", ".join(f"'{self._night_dir(n)}/customer_changes.parquet'" for n in range(1, night + 1))
            out = {}
            for target in TARGETS:
                sql = ORACLE[target].format(
                    base=self.inputs, night=self._night_dir(night), prev=prev, changes=changes
                )
                if target not in self.columns:
                    described = self.duck.execute(f"SELECT * FROM ({sql}) LIMIT 0").description
                    self.columns[target] = sorted(d[0] for d in described)
                out[target] = self._checksum(sql, self.columns[target])
            self.expected[night] = out
        return self.expected[night]

    def _connect(self) -> None:
        import duckdb

        self.duck = duckdb.connect(config={"threads": 2})
        self.columns: Dict[str, List[str]] = {}

    def _check_reports(self) -> bool:
        """Every report query's result against its registered oracle."""
        from tests.oracle import compare_frames, duck_connection

        con = duck_connection(self.inputs)
        ok = True
        for name in REPORTS:
            spec = self.queries[name]
            problems = compare_frames(
                spec.builder(self.host.spark, self.inputs).toPandas(), con.execute(spec.oracle).fetchdf()
            )
            if problems:
                self.problems.append(f"report {name}: {problems[0][:300]}")
                ok = False
        con.close()
        return ok

    def warm_up(self) -> bool:
        """One batch on a throwaway lake, then the report checks; True
        if both check out."""
        self._connect()
        self._start_lake("warm")
        log = OpLog()
        self._run_night(log, 1)
        self.reports_ok = self._check_reports()
        return log.failed == 0 and self.reports_ok

    def measure(self, seconds: float, trace: bool) -> OpLog:
        self._start_lake("timed")
        self.rows_by_op.clear()
        self.states_by_op.clear()
        log = OpLog()
        # traced runs alternate traced / untraced passes over the nights
        passes = max(2 if trace else 1, round(seconds / NOMINAL_PASS_S))
        for i in range(passes * N_NIGHTS):
            self.tracer.enabled = trace and (i // N_NIGHTS) % 2 == 0
            self._run_night(log, i % N_NIGHTS + 1)
        self.tracer.enabled = False
        return log

    # -- metrics -----------------------------------------------------------------

    def end_to_end_extra(self, log: OpLog) -> Dict[str, float]:
        return {
            "jobs_per_s": len(self.jobs) * len(log.ops) / log.timed_seconds,
            "rows_per_s": sum(self.rows_by_op) / log.timed_seconds,
        }

    def per_layer(self, log: OpLog) -> Dict[str, float]:
        spans = OpSpans(self.tracer)
        ops = traced_ops(log, "batch")
        first = self.states_by_op[:N_NIGHTS]  # one pass over the nights: fixed work

        def job_seconds(prefix: str, jobs) -> float:
            return spans.per_op(ops, lambda op: sum(spans.seconds(op, prefix + j) for j in jobs))

        return {
            "service.runner.self_s": runner_self(spans, ops),
            "service.runner.jobs_ran": sum(s["succeeded"] for s in first),
            "service.runner.jobs_skipped": sum(s["skipped"] for s in first),
            "service.runner.jobs_failed": sum(s["failed"] for s in first),
            "service.runner.useful_attempt_ratio": 1.0,
            **parallel_runner_metrics(spans, log, ops, LAYERS, self.host.cpus),
            **store_metrics(self.tracer, spans, log),
            "service.table_jobs.full_run_s": job_seconds(TABLE_RUN, FULL_JOBS),
            "service.table_jobs.incremental_run_s": job_seconds(TABLE_RUN, ["orders_upsert"]),
            "service.table_jobs.test_s": spans.per_op(ops, lambda op: spans.seconds(op, TABLE_TEST)),
            "service.table_jobs.datatest_s": spans.per_op(ops, lambda op: spans.seconds(op, DATATEST)),
            "service.table_jobs.rows_written": sum(self.rows_by_op[:N_NIGHTS]),
            **{f"operators.etl.{o}_s": job_seconds(TABLE_RUN, [j]) for o, j in OPERATOR_JOBS.items()},
            "plans.registry.build_s": spans.per_op(ops, lambda op: spans.seconds(op, BUILD)),
            "spark.exec_s": spans.per_op(ops, lambda op: spans.seconds(op, EXEC)),
            **{
                f"query.{q}_s": median_or_zero(
                    [spans.seconds(op, BUILD + q) + spans.seconds(op, EXEC + q) for op in ops]
                )
                for q in REPORTS
            },
            **source_metrics(spans, ops),
            **spark_metrics(self.spark_deltas),
        }
