"""Unit tests for domain objects.

Mirrors reference tests/unit/domain/test_value_objects.py and
test_batch_spec.py scenarios (validation rules + BatchDelta algebra).
"""

from __future__ import annotations

import datetime
import inspect

import pytest

from lime_etl_spark.domain import (
    BatchDelta,
    BatchStatus,
    ExecutionMillis,
    Flag,
    InvalidBatch,
    JobName,
    JobResult,
    JobStatus,
    LogMessage,
    MaxRetries,
    Result,
    TestName,
    TimeoutSeconds,
    UniqueId,
)
from lime_etl_spark.domain.specs import RetryPolicy, SimpleJobSpec
from lime_etl_spark.domain.statuses import TestResult
from lime_etl_spark.service.admin_jobs import CompactAdminLedger, DeleteOldLogs
from lime_etl_spark.service.table_jobs import DataTestJob, TableRefreshJob

NOW = datetime.datetime(2026, 8, 13, 12, 0, 0)


class TestValueObjects:
    def test_job_name_length_bounds(self):
        with pytest.raises(ValueError):
            JobName("ab")
        with pytest.raises(ValueError):
            JobName("x" * 200)
        assert JobName("abc").value == "abc"

    def test_job_name_type(self):
        with pytest.raises((TypeError, ValueError)):
            JobName(None)  # type: ignore[arg-type]
        with pytest.raises(TypeError):
            JobName(123)  # type: ignore[arg-type]

    def test_test_name_bounds(self):
        assert TestName("x" * 200).value == "x" * 200
        with pytest.raises(ValueError):
            TestName("x" * 201)

    def test_max_retries_non_negative(self):
        assert MaxRetries(0).value == 0
        with pytest.raises(ValueError):
            MaxRetries(-1)
        with pytest.raises(TypeError):
            MaxRetries("3")  # type: ignore[arg-type]

    def test_timeout_seconds_optional(self):
        assert TimeoutSeconds(None).value is None
        assert TimeoutSeconds(10).value == 10
        with pytest.raises(ValueError):
            TimeoutSeconds(-1)

    def test_unique_id(self):
        gen = UniqueId.generate()
        assert len(gen.value) == 32
        with pytest.raises(ValueError):
            UniqueId("short")
        with pytest.raises(ValueError):
            UniqueId("-" * 32)

    def test_flag_requires_bool(self):
        assert Flag(True).value is True
        with pytest.raises(TypeError):
            Flag(1)  # type: ignore[arg-type]
        with pytest.raises(ValueError):
            Flag(None)  # type: ignore[arg-type]

    def test_log_message_truncates_to_last_2000(self):
        with pytest.warns(UserWarning):
            m = LogMessage("a" * 1999 + "XY")
        assert len(m.value) == 2000
        assert m.value.endswith("XY")
        with pytest.raises(ValueError):
            LogMessage("")

    def test_result(self):
        ok = Result.success()
        assert ok.is_success and not ok.is_failure
        assert ok.failure_message_or_none is None
        bad = Result.failure("boom")
        assert bad.is_failure and bad.failure_message == "boom"
        with pytest.raises(TypeError):
            _ = ok.failure_message
        with pytest.raises(ValueError):
            Result.failure("")

    def test_value_equality(self):
        assert JobName("abc") == JobName("abc")
        assert JobName("abc") != JobName("abd")
        assert MaxRetries(1) != ExecutionMillis(1)


def _job(name: str, state: JobStatus, tests_failed: bool = False) -> JobResult:
    tests = frozenset()
    if tests_failed:
        tests = frozenset(
            [
                TestResult(
                    id=UniqueId.generate().value,
                    job_id=UniqueId.generate().value,
                    test_name="some check",
                    outcome=Result.failure("nope"),
                    execution_millis=ExecutionMillis(1),
                    ts=NOW,
                )
            ]
        )
    return JobResult(
        id=UniqueId.generate().value,
        batch_id="b" * 32,
        job_name=name,
        status=state,
        execution_millis=ExecutionMillis(1),
        test_results=tests,
        ts=NOW,
    )


def _batch(*jobs: JobResult) -> BatchStatus:
    return BatchStatus(
        id="b" * 32,
        name="test_batch",
        job_results=frozenset(jobs),
        execution_success_or_failure=Result.success(),
        execution_millis=ExecutionMillis(10),
        running=False,
        ts=NOW,
    )


class TestBatchStatusInvariants:
    def test_running_batch_cannot_have_result(self):
        with pytest.raises(InvalidBatch):
            BatchStatus(
                id="b" * 32,
                name="nm1",
                job_results=frozenset(),
                execution_success_or_failure=Result.success(),
                execution_millis=None,
                running=True,
                ts=NOW,
            )

    def test_finished_batch_needs_result_and_millis(self):
        with pytest.raises(InvalidBatch):
            BatchStatus(
                id="b" * 32,
                name="nm1",
                job_results=frozenset(),
                execution_success_or_failure=None,
                execution_millis=None,
                running=False,
                ts=NOW,
            )

    def test_broken_jobs_includes_failures_and_test_failures(self):
        b = _batch(
            _job("ok_job", JobStatus.success()),
            _job("hard_fail", JobStatus.failed("x")),
            _job("test_fail", JobStatus.success(), tests_failed=True),
        )
        assert b.broken_jobs == {"hard_fail", "test_fail"}


class TestBatchDelta:
    def test_no_previous(self):
        cur = _batch(_job("j_1", JobStatus.failed("x")))
        d = BatchDelta(current=cur, previous=None)
        assert d.common_jobs == set()
        assert d.newly_broken_jobs == {"j_1"}
        # nothing can be "fixed" on the first-ever run
        assert d.newly_fixed_jobs == set()

    def test_broken_and_fixed_sets(self):
        prev = _batch(
            _job("stays_broken", JobStatus.failed("x")),
            _job("gets_fixed", JobStatus.failed("x")),
            _job("always_ok", JobStatus.success()),
        )
        cur = _batch(
            _job("stays_broken", JobStatus.failed("x")),
            _job("gets_fixed", JobStatus.success()),
            _job("always_ok", JobStatus.success()),
            _job("newly_broken", JobStatus.failed("x")),
        )
        d = BatchDelta(current=cur, previous=prev)
        assert d.common_jobs == {"stays_broken", "gets_fixed", "always_ok"}
        assert d.newly_broken_jobs == {"newly_broken"}
        assert d.newly_fixed_jobs == {"gets_fixed"}


def test_password_never_leaks():
    from lime_etl_spark.domain import Password

    p = Password("s3cret!")
    assert "s3cret" not in repr(p)
    assert "s3cret" not in str(p)
    assert "s3cret" not in f"connection failed for {p}"
    assert p.value == "s3cret!"
    import pytest

    with pytest.raises(TypeError):
        Password(123)


def test_max_processes_bounds():
    import pytest

    from lime_etl_spark.domain import MaxProcesses

    assert MaxProcesses(None).value is None
    assert MaxProcesses(4).value == 4
    with pytest.raises(ValueError):
        MaxProcesses(0)
    with pytest.raises(TypeError):
        MaxProcesses(True)


def test_resource_name_and_days():
    import pytest

    from lime_etl_spark.domain import Days, ResourceName, SecondsSinceLastRefresh

    assert ResourceName("warehouse").value == "warehouse"
    with pytest.raises(ValueError):
        ResourceName("ab")
    assert Days(0).value == 0 and SecondsSinceLastRefresh(30).value == 30
    with pytest.raises(ValueError):
        Days(-1)


def _noop(ctx):
    return None


# Every job class with the constructor parameters it takes besides the
# required payload ones, and the name of its refresh-interval parameter.
_JOB_CLASSES = [
    pytest.param(
        SimpleJobSpec, {"run": _noop},
        ["name", "run", "test", "dependencies", "timeout_seconds", "max_retries",
         "min_seconds_between_refreshes", "min_seconds_between_tests", "retry_policy",
         "on_execution_error", "on_test_failure"],
        "min_seconds_between_refreshes", id="SimpleJobSpec",
    ),
    pytest.param(
        TableRefreshJob, {"source": _noop, "target_path": "unused"},
        ["name", "source", "target_path", "mode", "keys", "partition_by", "expect_min_rows",
         "dependencies", "max_retries", "timeout_seconds", "min_seconds_between_refreshes"],
        "min_seconds_between_refreshes", id="TableRefreshJob",
    ),
    pytest.param(
        DataTestJob, {"checks": []}, ["name", "checks", "dependencies"], None, id="DataTestJob"
    ),
    pytest.param(
        DeleteOldLogs, {"store": None}, ["store", "days_logs_to_keep", "min_seconds_between_runs"],
        "min_seconds_between_runs", id="DeleteOldLogs",
    ),
    pytest.param(
        CompactAdminLedger, {"store": None}, ["store", "min_seconds_between_runs"],
        "min_seconds_between_runs", id="CompactAdminLedger",
    ),
]


@pytest.mark.parametrize("cls, required, params, interval", _JOB_CLASSES)
def test_job_settings_are_validated_and_stored_by_the_base(cls, required, params, interval):
    """Every job class validates its settings through SparkJobSpec's
    constructor and keeps exactly its own constructor parameters."""
    assert list(inspect.signature(cls).parameters) == params

    named = {"name": "job_under_test"} if "name" in params else {}
    if named:
        with pytest.raises(ValueError):
            cls(**required, name="ab")
    if interval:
        with pytest.raises(ValueError):
            cls(**required, **named, **{interval: -5})

    deps = {"dependencies": ["upstream"]} if "dependencies" in params else {}
    job = cls(**required, **named, **deps)
    assert job.dependencies == (("upstream",) if deps else ())
    assert isinstance(job.dependencies, tuple)
    assert job.retry_policy == RetryPolicy() and job.retry_policy.delay(3) == 0.0
    assert (job.max_retries, job.timeout_seconds, job.min_seconds_between_tests) == (0, None, 0)
