"""Job / batch execution statuses and results.

Parity: reference lime_etl/domain/job_status.py, job_result.py,
batch_status.py, job_test_result.py — same state machine
(Running, Skipped(reason), Failed(error), Succeeded), same invariants
(a running batch has no result/millis; a finished one has both,
reference batch_status.py:63), same derived sets (``broken_jobs`` =
jobs whose tests failed, reference batch_status.py:92).
"""

from __future__ import annotations

import datetime
import enum
from dataclasses import dataclass, field
from typing import FrozenSet, Optional, Set

from lime_etl_spark.domain.exceptions import InvalidBatch
from lime_etl_spark.domain.value_objects import (
    ExecutionMillis,
    Result,
    Timestamp,
)


class JobState(str, enum.Enum):
    RUNNING = "running"
    SUCCEEDED = "succeeded"
    FAILED = "failed"
    SKIPPED = "skipped"

    def __str__(self) -> str:
        return self.value


@dataclass(frozen=True)
class JobStatus:
    state: JobState
    reason: Optional[str] = None  # skip reason or failure message

    @classmethod
    def success(cls) -> "JobStatus":
        return cls(JobState.SUCCEEDED)

    @classmethod
    def failed(cls, error_message: str, /) -> "JobStatus":
        return cls(JobState.FAILED, error_message)

    @classmethod
    def skipped(cls, reason: str, /) -> "JobStatus":
        return cls(JobState.SKIPPED, reason)

    @classmethod
    def running(cls) -> "JobStatus":
        return cls(JobState.RUNNING)

    @property
    def is_failed(self) -> bool:
        return self.state is JobState.FAILED

    @property
    def is_skipped(self) -> bool:
        return self.state is JobState.SKIPPED

    @property
    def is_success(self) -> bool:
        return self.state is JobState.SUCCEEDED


@dataclass(frozen=True)
class SimpleTestResult:
    """What a JobSpec.test() returns (reference SimpleJobTestResult)."""

    test_name: str
    outcome: Result

    @property
    def test_passed(self) -> bool:
        return self.outcome.is_success

    @property
    def test_failed(self) -> bool:
        return self.outcome.is_failure


@dataclass(frozen=True)
class TestResult:
    """A persisted test result (reference JobTestResult)."""

    __test__ = False  # not a pytest class

    id: str
    job_id: str
    test_name: str
    outcome: Result
    execution_millis: ExecutionMillis
    ts: datetime.datetime

    @property
    def test_passed(self) -> bool:
        return self.outcome.is_success

    @property
    def test_failed(self) -> bool:
        return self.outcome.is_failure


@dataclass(frozen=True)
class JobResult:
    id: str
    batch_id: str
    job_name: str
    status: JobStatus
    execution_millis: ExecutionMillis
    test_results: FrozenSet[TestResult] = field(default_factory=frozenset)
    ts: datetime.datetime = field(default_factory=lambda: Timestamp.now().value)

    @property
    def tests_failed(self) -> bool:
        return any(t.test_failed for t in self.test_results)

    @property
    def is_broken(self) -> bool:
        return self.status.is_failed or self.tests_failed


@dataclass(frozen=True)
class BatchStatus:
    id: str
    name: str
    job_results: FrozenSet[JobResult]
    execution_success_or_failure: Optional[Result]
    execution_millis: Optional[ExecutionMillis]
    running: bool
    ts: datetime.datetime

    def __post_init__(self) -> None:
        if self.running:
            if self.execution_success_or_failure is not None:
                raise InvalidBatch(
                    "If a batch is still running, execution_success_or_failure should be None, "
                    f"but got {self.execution_success_or_failure!r}."
                )
            if self.execution_millis is not None:
                raise InvalidBatch(
                    "If a batch is running, execution_millis should be None, but got "
                    f"{self.execution_millis!r}."
                )
        else:
            if self.execution_success_or_failure is None:
                raise InvalidBatch(
                    "If a batch has finished, then we should know the result, but "
                    "execution_success_or_failure is None."
                )
            if self.execution_millis is None:
                raise InvalidBatch(
                    "If a batch has finished, then we should know how many milliseconds it "
                    "took to run, but execution_millis is None."
                )

    @property
    def job_names(self) -> Set[str]:
        return {j.job_name for j in self.job_results}

    @property
    def broken_jobs(self) -> Set[str]:
        """Jobs that failed outright OR had failing tests."""
        return {j.job_name for j in self.job_results if j.is_broken}
