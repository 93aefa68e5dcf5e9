"""Built-in admin jobs (reference lime_etl/service/admin/).

DeleteOldLogs mirrors reference delete_old_logs.py: purge admin log
rows older than ``days_to_keep`` by the runner's clock (``ctx.clock``)
and then *test* that nothing older remains. On Spark the purge is a
date-partition drop (SparkAdminStore.delete_old_logs), so retention
cost is O(partitions), not O(rows).

Both jobs take their fixed names and map ``min_seconds_between_runs``
to the refresh interval through ``SparkJobSpec.__init__``, which holds
and validates every job setting.
"""

from __future__ import annotations

import dataclasses
import datetime
from typing import List, Optional

from lime_etl_spark.domain.specs import JobContext, SparkJobSpec
from lime_etl_spark.domain.statuses import JobStatus, SimpleTestResult
from lime_etl_spark.domain.value_objects import DaysToKeep, Result

from lime_etl_spark.adapter.admin_store import SparkAdminStore


class DeleteOldLogs(SparkJobSpec):
    def __init__(
        self,
        store: SparkAdminStore,
        days_logs_to_keep: int = 3,
        min_seconds_between_runs: int = 0,
    ):
        super().__init__(
            name="delete_old_logs", min_seconds_between_refreshes=min_seconds_between_runs
        )
        self._store = store
        self._days = DaysToKeep(days_logs_to_keep).value
        self._cutoff = datetime.datetime.min

    def run(self, ctx: JobContext) -> Optional[JobStatus]:
        day = (ctx.clock.now() - datetime.timedelta(days=self._days)).date()
        self._cutoff = datetime.datetime.combine(day, datetime.time.min)
        self._store.delete_old_logs(self._cutoff)
        ctx.logger.info(f"Deleted log entries older than {self._days} days old.")
        self._store.delete_old_batches(self._cutoff)
        ctx.logger.info(f"Deleted batch results older than {self._days} days old.")
        return JobStatus.success()

    def test(self, ctx: JobContext) -> List[SimpleTestResult]:
        earliest = self._store.earliest_log_ts("batch_log")
        outcome = Result.success()
        if earliest is not None and earliest < self._cutoff:
            outcome = Result.failure(
                f"The earliest batch log entry is from {earliest:%Y-%m-%d %H:%M:%S}"
            )
        name = f"No log entries more than {self._days} days old"
        return [SimpleTestResult(test_name=name, outcome=outcome)]


class CompactAdminLedger(SparkJobSpec):
    """Maintenance job: fold the ledger's per-append part files into
    one file per table / log partition (SparkAdminStore.compact).

    The reference has no analog (its admin store is a SQL database);
    this is the parquet-ledger equivalent of VACUUM — scheduled like
    DeleteOldLogs, typically in the same nightly admin batch. The
    post-run ``test()`` proves compaction is lossless: per-table row
    counts must be identical before and after.
    """

    def __init__(self, store: SparkAdminStore, min_seconds_between_runs: int = 0):
        super().__init__(
            name="compact_admin_ledger", min_seconds_between_refreshes=min_seconds_between_runs
        )
        self._store = store
        self._counts_before: dict = {}
        self._counts_after: dict = {}

    def run(self, ctx: JobContext) -> Optional[JobStatus]:
        self._counts_before = self._store.row_counts()
        stats = self._store.compact()
        self._counts_after = self._store.row_counts()
        for table, (before, after) in sorted(stats.items()):
            ctx.logger.info(f"Compacted [{table}]: {before} files -> {after}.")
        return JobStatus.success()

    def test(self, ctx: JobContext) -> List[SimpleTestResult]:
        outcome = Result.success()
        if self._counts_before != self._counts_after:
            outcome = Result.failure(f"before={self._counts_before} after={self._counts_after}")
        return [SimpleTestResult(test_name="Ledger row counts unchanged by compaction", outcome=outcome)]


@dataclasses.dataclass(frozen=True)
class AdminConfig:
    """Reference lime_etl/domain/cfg.py: the knobs an admin batch needs.
    ``admin_dir`` replaces admin_engine_uri+schema (the parquet ledger
    root plays both roles); retention default matches the reference
    (DaysToKeep(3), cfg.py:20)."""

    admin_dir: str
    days_logs_to_keep: int = 3
    min_seconds_between_runs: int = 12 * 60 * 60  # admin_batch.py:20


def admin_batch(store: SparkAdminStore, config: AdminConfig) -> "SparkBatchSpec":
    """The prebuilt housekeeping batch (reference service/admin/
    admin_batch.py): a batch named "admin" that purges old logs and —
    Spark-ledger specific — compacts the append-only admin parquet.
    Schedule it beside user batches; refresh-interval gating (default
    12h, like the reference) makes over-scheduling harmless."""
    from lime_etl_spark.domain.specs import SparkBatchSpec

    return SparkBatchSpec(
        name="admin",
        jobs=[
            DeleteOldLogs(store, config.days_logs_to_keep, config.min_seconds_between_runs),
            CompactAdminLedger(store, config.min_seconds_between_runs),
        ],
    )
