"""lime_etl_spark — a PySpark-native analytics + ETL-orchestration engine.

Re-expresses the capabilities of MarkStefanovic/lime-etl (reference at
/root/reference) Spark-first:

- ``domain`` / ``service`` / ``adapter``: the batch/job orchestration
  runtime (specs, dependency validation, retries, refresh skipping,
  post-run data tests, parquet-backed admin bookkeeping).
- ``operators``: the data operations ETL jobs perform, as pure
  DataFrame -> DataFrame functions (relational analytics, snapshot
  diff / upsert / SCD2, dedup family, similarity search, text
  analysis, event sessionization, training-data sampling/packing,
  multimodal binary payloads).
- ``sources`` / ``streaming``: batch readers/writers and structured
  streaming wrappers.
- ``plans``: the query registry that backs ``__spark_entry__.py``.

The reference's one-import surface (``import lime_etl as le``,
reference lime_etl/__init__.py) is mirrored here: everything a job
author needs is importable from the package root.
"""

from lime_etl_spark.adapter.admin_store import BatchLogger, JobLogger, SparkAdminStore
from lime_etl_spark.domain.batch_delta import BatchDelta
from lime_etl_spark.domain.exceptions import (
    BatchNotFound,
    DependencyErrors,
    DuplicateJobNames,
    InvalidBatch,
    JobDependencyIssue,
)
from lime_etl_spark.domain.specs import (
    JobContext,
    RetryPolicy,
    SimpleJobSpec,
    SparkBatchSpec,
    SparkJobSpec,
)
from lime_etl_spark.domain.statuses import (
    BatchStatus,
    JobResult,
    JobState,
    JobStatus,
    SimpleTestResult,
    TestResult,
)
from lime_etl_spark.domain.value_objects import (
    BatchName,
    DaysToKeep,
    ExecutionMillis,
    Flag,
    JobName,
    LogLevel,
    LogMessage,
    MaxRetries,
    MinSecondsBetweenRefreshes,
    MinSecondsBetweenTests,
    Result,
    TestName,
    TimeoutSeconds,
    UniqueId,
)
from lime_etl_spark.domain.clock import (
    ClockAdapter,
    FakeClockAdapter,
    LocalClockAdapter,
)
from lime_etl_spark.service.admin_jobs import (
    AdminConfig,
    CompactAdminLedger,
    DeleteOldLogs,
    admin_batch,
)
from lime_etl_spark.service.table_jobs import (
    DataTestJob,
    TableRefreshJob,
    referential_check,
)
from lime_etl_spark.service.runner import (
    run_batch,
    run_batch_with_delta,
    run_batches_in_parallel,
)
from lime_etl_spark.session import get_spark

__all__ = [
    "AdminConfig",
    "BatchDelta",
    "BatchLogger",
    "BatchName",
    "BatchNotFound",
    "BatchStatus",
    "ClockAdapter",
    "CompactAdminLedger",
    "DataTestJob",
    "DaysToKeep",
    "DeleteOldLogs",
    "DependencyErrors",
    "DuplicateJobNames",
    "ExecutionMillis",
    "FakeClockAdapter",
    "Flag",
    "InvalidBatch",
    "JobContext",
    "JobDependencyIssue",
    "JobLogger",
    "JobName",
    "JobResult",
    "JobState",
    "JobStatus",
    "LocalClockAdapter",
    "LogLevel",
    "LogMessage",
    "MaxRetries",
    "MinSecondsBetweenRefreshes",
    "MinSecondsBetweenTests",
    "Result",
    "RetryPolicy",
    "SimpleJobSpec",
    "SimpleTestResult",
    "SparkAdminStore",
    "SparkBatchSpec",
    "SparkJobSpec",
    "TableRefreshJob",
    "TestName",
    "TestResult",
    "TimeoutSeconds",
    "UniqueId",
    "admin_batch",
    "get_spark",
    "referential_check",
    "run_batch",
    "run_batch_with_delta",
    "run_batches_in_parallel",
]

__version__ = "0.1.0"
