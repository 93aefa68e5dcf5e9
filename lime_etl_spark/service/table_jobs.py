"""Prebuilt job types: the refresh-a-table-then-test-it pattern that
lime-etl jobs exist for, packaged as ready-made SparkJobSpecs.

The reference leaves ``run``/``test`` abstract and every user writes
the same refresh job (reference tests/e2e/test_runner.py MessageJob:
write rows, then test they arrived). Here that pattern is first-class:

- ``TableRefreshJob``: full (overwrite) or incremental (keyed upsert,
  operators/etl.py) refresh of a parquet target from any
  DataFrame-producing callable, with built-in data tests (row floor,
  key uniqueness) — the `test()` half of the reference contract wired
  to real distributed checks.
- ``DataTestJob``: a test-only job for cross-table assertions
  (referential integrity, row-count deltas) that runs after its
  dependencies refresh.

Scale notes: both modes write parquet straight through the
DataFrameWriter (no driver materialization) into a hidden sibling of
the target, which sources/fs.py's overwrite_dir then swaps in, so a
crash leaves the old target or the new one, never a partial one. On an
object-store lake this call site becomes a table format's MERGE; the
operator semantics (latest-wins on keys) are unchanged.

Scheduling settings (name, dependencies, retries, timeout, refresh
interval) are forwarded to ``SparkJobSpec.__init__``, which validates
and holds them; these classes keep only their own refresh/test state.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lime_etl_spark.domain.specs import JobContext, SparkJobSpec
from lime_etl_spark.domain.statuses import JobStatus, SimpleTestResult
from lime_etl_spark.domain.value_objects import Result
from lime_etl_spark.operators.etl import upsert
from lime_etl_spark.sources.fs import overwrite_dir, path_exists


class TableRefreshJob(SparkJobSpec):
    def __init__(
        self,
        *,
        name: str,
        source: Callable[[SparkSession], DataFrame],
        target_path: str,
        mode: str = "full",  # full | incremental
        keys: Optional[Sequence[str]] = None,
        partition_by: Optional[Sequence[str]] = None,
        expect_min_rows: int = 1,
        dependencies: Sequence[str] = (),
        max_retries: int = 0,
        timeout_seconds: Optional[int] = None,
        min_seconds_between_refreshes: int = 0,
    ):
        if mode not in ("full", "incremental"):
            raise ValueError(f"mode must be full|incremental, got {mode!r}")
        if mode == "incremental" and not keys:
            raise ValueError("incremental mode requires keys")
        super().__init__(
            name=name, dependencies=dependencies, max_retries=max_retries,
            timeout_seconds=timeout_seconds,
            min_seconds_between_refreshes=min_seconds_between_refreshes,
        )
        self._source = source
        self._target = target_path
        self._mode = mode
        self._keys = list(keys or [])
        self._partition_by = list(partition_by or [])
        self._expect_min_rows = expect_min_rows

    def run(self, ctx: JobContext) -> Optional[JobStatus]:
        from pyspark.sql import Observation

        # Observation rides the write action itself: the rows-written
        # metric is collected by the SAME job that writes — at 100 TB a
        # separate count() would be a second full pass over the output.
        obs = Observation(f"{self.job_name}_refresh")

        def write(tmp: str) -> str:
            df, how = self._source(ctx.spark), f"full refresh -> {self._target}"
            if self._mode == "incremental":  # the first run, with no target yet, dedupes too
                df, how = df.dropDuplicates(self._keys), f"incremental upsert on {self._keys}"
                if path_exists(ctx.spark, self._target):
                    df = upsert(ctx.spark.read.parquet(self._target), df, self._keys)
            writer = df.observe(obs, F.count(F.lit(1)).alias("rows_written")).write
            if self._partition_by:
                writer = writer.partitionBy(*self._partition_by)
            writer.parquet(tmp)
            return how

        how = overwrite_dir(ctx.spark, self._target, write)
        self.last_metrics = dict(obs.get)
        ctx.logger.info(f"[{self.job_name}] {how} ({self.last_metrics['rows_written']} rows)")
        return JobStatus.success()

    def test(self, ctx: JobContext) -> List[SimpleTestResult]:
        # One read of the written target: with keys, a single aggregate
        # over the per-key counts returns the row total and the
        # duplicated-key count together.
        out = ctx.spark.read.parquet(self._target)
        if self._keys:
            per_key = out.groupBy(*self._keys).count()
            n, dups = per_key.agg(
                F.coalesce(F.sum("count"), F.lit(0)), F.count(F.when(F.col("count") > 1, 1))
            ).first()
        else:
            n, dups = out.count(), 0

        def check(what: str, failure: Optional[str]) -> SimpleTestResult:
            outcome = Result.failure(failure) if failure else Result.success()
            return SimpleTestResult(test_name=f"{self.job_name}: {what}", outcome=outcome)

        floor = self._expect_min_rows
        results = [check(f"at least {floor} rows", f"only {n} rows" if n < floor else None)]
        if self._keys:
            dup_failure = f"{dups} duplicated keys" if dups else None
            results.append(check(f"unique on {self._keys}", dup_failure))
        return results


class DataTestJob(SparkJobSpec):
    """Run-only-tests job: ``run`` is a no-op; ``checks`` are callables
    ``(SparkSession) -> SimpleTestResult`` evaluated after dependencies."""

    def __init__(
        self,
        *,
        name: str,
        checks: Sequence[Callable[[SparkSession], SimpleTestResult]],
        dependencies: Sequence[str] = (),
    ):
        super().__init__(name=name, dependencies=dependencies)
        self._checks = list(checks)

    def run(self, ctx: JobContext) -> Optional[JobStatus]:
        return JobStatus.success()

    def test(self, ctx: JobContext) -> List[SimpleTestResult]:
        return [check(ctx.spark) for check in self._checks]


def referential_check(
    child_path: str, parent_path: str, fk: str, pk: str, name: str
) -> Callable[[SparkSession], SimpleTestResult]:
    """Orphan-FK check as a DataTestJob check (left-anti join)."""

    def run(spark: SparkSession) -> SimpleTestResult:
        child = spark.read.parquet(child_path)
        parent = spark.read.parquet(parent_path)
        orphans = child.join(
            parent, child[fk] == parent[pk], how="left_anti"
        ).count()
        return SimpleTestResult(
            test_name=name,
            outcome=Result.success()
            if orphans == 0
            else Result.failure(f"{orphans} orphan rows"),
        )

    return run
