"""Job and batch specifications — the user-facing orchestration API.

Parity: reference lime_etl/domain/job_spec.py and batch_spec.py. A
job's payload is Spark work (DataFrame reads/transforms/writes)
instead of a SQLAlchemy unit-of-work: ``run`` receives a
``JobContext`` carrying the shared SparkSession, a job-scoped logger,
and free-form resources.

Same contract surface as the reference JobSpec (job_spec.py:18):
``dependencies``, ``min_seconds_between_refreshes``,
``min_seconds_between_tests``, ``max_retries``, ``timeout_seconds``,
``run``, ``test``, ``on_execution_error``, ``on_test_failure``.

Settings are ``SparkJobSpec.__init__`` arguments, validated once and
stored as the plain attributes the runner reads (``job.job_name``, ...).
A custom job passes them up and overrides only the hooks::

    class ExportOrders(SparkJobSpec):
        def __init__(self, target: str):
            super().__init__(name="export_orders", dependencies=["load_orders"])
            self.target = target

        def run(self, ctx):  # returning None means success
            ctx.spark.read.parquet("/lake/orders").write.parquet(self.target)
"""

from __future__ import annotations

import abc
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Any, Callable, Dict, List, Optional, Sequence

from pyspark.sql import SparkSession

from lime_etl_spark.domain.clock import ClockAdapter, LocalClockAdapter
from lime_etl_spark.domain.statuses import JobStatus, SimpleTestResult
from lime_etl_spark.domain.value_objects import (
    BatchName,
    JobName,
    MaxRetries,
    MinSecondsBetweenRefreshes,
    MinSecondsBetweenTests,
    TimeoutSeconds,
    UniqueId,
)

if TYPE_CHECKING:
    from lime_etl_spark.adapter.admin_store import JobLogger


@dataclass
class JobContext:
    """What a job gets to work with; ``clock`` is the runner's clock."""

    spark: SparkSession
    logger: "JobLogger"
    resources: Dict[str, Any] = field(default_factory=dict)
    clock: ClockAdapter = field(default_factory=LocalClockAdapter)


@dataclass(frozen=True)
class RetryPolicy:
    """Backoff between retry attempts (the reference retries
    immediately — batch_runner.py:503; immediate is still the default
    here via base_seconds=0).

    delay(attempt) = min(base_seconds · factor^attempt, max_seconds),
    attempt 0-based. Deliberately DETERMINISTIC (no jitter): the
    runner's time decisions are all replayable under FakeClockAdapter;
    when thousands of jobs hammer one external system, stagger them
    with per-job base_seconds offsets (e.g. hash(job_name) % k), not
    randomness.
    """

    base_seconds: float = 0.0
    factor: float = 2.0
    max_seconds: float = 300.0

    def __post_init__(self) -> None:
        if self.base_seconds < 0 or self.factor < 1 or self.max_seconds < 0:
            raise ValueError(
                "RetryPolicy requires base_seconds >= 0, factor >= 1, max_seconds >= 0"
            )

    def delay(self, attempt: int) -> float:
        if self.base_seconds <= 0:
            return 0.0
        return min(self.base_seconds * (self.factor**attempt), self.max_seconds)


class SparkJobSpec(abc.ABC):
    """Abstract job: pass settings to ``__init__``; override ``run`` (and maybe ``test``)."""

    def __init__(
        self,
        *,
        name: str,
        dependencies: Sequence[str] = (),
        timeout_seconds: Optional[int] = None,
        max_retries: int = 0,
        min_seconds_between_refreshes: int = 0,
        min_seconds_between_tests: int = 0,
        retry_policy: Optional[RetryPolicy] = None,
    ):
        self.job_name = JobName(name).value
        self.dependencies = tuple(dependencies)
        self.timeout_seconds = TimeoutSeconds(timeout_seconds).value
        self.max_retries = MaxRetries(max_retries).value
        self.min_seconds_between_refreshes = MinSecondsBetweenRefreshes(
            min_seconds_between_refreshes
        ).value
        self.min_seconds_between_tests = MinSecondsBetweenTests(min_seconds_between_tests).value
        # Backoff between retries; default = immediate (reference parity).
        self.retry_policy = retry_policy or RetryPolicy()

    @abc.abstractmethod
    def run(self, ctx: JobContext) -> Optional[JobStatus]:
        """Do the work; None is treated as success (reference
        batch_runner.py:517)."""
        raise NotImplementedError

    def test(self, ctx: JobContext) -> List[SimpleTestResult]:
        """Post-run data-quality assertions."""
        return []

    def on_execution_error(self, error_message: str) -> Optional["SparkJobSpec"]:
        """Optionally return a replacement job to run instead."""
        return None

    def on_test_failure(self, test_results: Sequence[SimpleTestResult]) -> Optional["SparkJobSpec"]:
        return None

    def __repr__(self) -> str:
        return f"<SparkJobSpec: {self.__class__.__name__}>: {self.job_name}"

    def __hash__(self) -> int:
        return hash(self.job_name)

    def __eq__(self, other: object) -> bool:
        if other.__class__ is self.__class__:
            return self.job_name == other.job_name  # type: ignore[attr-defined]
        return NotImplemented


class SimpleJobSpec(SparkJobSpec):
    """Build a job from callables (reference SimpleJobSpec, plus the
    run/test functions which the reference leaves abstract)."""

    def __init__(
        self,
        *,
        name: str,
        run: Callable[[JobContext], Optional[JobStatus]],
        test: Optional[Callable[[JobContext], List[SimpleTestResult]]] = None,
        dependencies: Sequence[str] = (),
        timeout_seconds: Optional[int] = None,
        max_retries: int = 0,
        min_seconds_between_refreshes: int = 0,
        min_seconds_between_tests: int = 0,
        retry_policy: Optional[RetryPolicy] = None,
        on_execution_error: Optional[Callable[[str], Optional[SparkJobSpec]]] = None,
        on_test_failure: Optional[
            Callable[[Sequence[SimpleTestResult]], Optional[SparkJobSpec]]
        ] = None,
    ):
        super().__init__(
            name=name, dependencies=dependencies, timeout_seconds=timeout_seconds,
            max_retries=max_retries,
            min_seconds_between_refreshes=min_seconds_between_refreshes,
            min_seconds_between_tests=min_seconds_between_tests, retry_policy=retry_policy,
        )
        self._run = run
        self._test = test
        self._on_execution_error = on_execution_error
        self._on_test_failure = on_test_failure

    def run(self, ctx: JobContext) -> Optional[JobStatus]:
        return self._run(ctx)

    def test(self, ctx: JobContext) -> List[SimpleTestResult]:
        return self._test(ctx) if self._test else []

    def on_execution_error(self, error_message: str) -> Optional[SparkJobSpec]:
        return self._on_execution_error(error_message) if self._on_execution_error else None

    def on_test_failure(self, test_results: Sequence[SimpleTestResult]) -> Optional[SparkJobSpec]:
        return self._on_test_failure(test_results) if self._on_test_failure else None


class SparkBatchSpec:
    """A named collection of jobs run in declaration order
    (reference batch_spec.py)."""

    def __init__(
        self,
        *,
        name: str,
        jobs: Sequence[SparkJobSpec],
        skip_tests: bool = False,
        timeout_seconds: Optional[int] = None,
        batch_id: Optional[str] = None,
    ):
        self.batch_name = BatchName(name).value
        self.batch_id = batch_id or UniqueId.generate().value
        self.jobs = list(jobs)
        self.skip_tests = skip_tests
        self.timeout_seconds = TimeoutSeconds(timeout_seconds).value

    def create_jobs(self) -> List[SparkJobSpec]:
        return self.jobs
