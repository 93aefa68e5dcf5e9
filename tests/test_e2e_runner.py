"""End-to-end batch-runner scenarios (mirrors reference
tests/e2e/test_runner.py: dependency skips/failures, retries,
refresh-interval skips, test failures, replacement jobs, validation
errors, admin bookkeeping)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lime_etl_spark.adapter.admin_store import SparkAdminStore
from lime_etl_spark.domain import (
    DependencyErrors,
    DuplicateJobNames,
    JobContext,
    JobStatus,
    Result,
    SimpleJobSpec,
    SimpleTestResult,
    SparkBatchSpec,
)
from lime_etl_spark.domain.statuses import JobState
from lime_etl_spark.service.admin_jobs import DeleteOldLogs
from lime_etl_spark.service.runner import run_batch, run_batches_in_parallel


@pytest.fixture()
def store(spark, tmp_path):
    return SparkAdminStore(spark, str(tmp_path / "admin"))


def _ok(ctx: JobContext):
    # a real (tiny) Spark action so jobs exercise the session
    ctx.spark.range(5).agg(F.sum("id")).collect()
    return JobStatus.success()


def _boom(ctx: JobContext):
    raise RuntimeError("kaboom")


def test_happy_path_with_dependencies(spark, store, tmp_path):
    out = str(tmp_path / "out")
    state = {}

    def extract(ctx):
        ctx.spark.range(10).write.mode("overwrite").parquet(f"{out}/raw")
        return JobStatus.success()

    def transform(ctx):
        df = ctx.spark.read.parquet(f"{out}/raw")
        state["n"] = df.count()
        return JobStatus.success()

    batch = SparkBatchSpec(
        name="etl_batch",
        jobs=[
            SimpleJobSpec(name="extract", run=extract),
            SimpleJobSpec(name="transform", run=transform, dependencies=["extract"]),
        ],
    )
    result = run_batch(batch, spark, store)
    assert result.broken_jobs == set()
    assert state["n"] == 10
    assert {r.job_name: r.status.state for r in result.job_results} == {
        "extract": JobState.SUCCEEDED,
        "transform": JobState.SUCCEEDED,
    }
    # bookkeeping persisted
    persisted = store.get_batch(batch.batch_id)
    assert persisted is not None and not persisted.running
    assert persisted.job_names == {"extract", "transform"}


def test_failed_dependency_skips_dependents(spark, store):
    # reference batch_runner.py:160 — ALL deps skipped/failed → job skipped
    batch = SparkBatchSpec(
        name="dep_batch",
        jobs=[
            SimpleJobSpec(name="breaks", run=_boom),
            SimpleJobSpec(name="needs_it", run=_ok, dependencies=["breaks"]),
            SimpleJobSpec(name="grandchild", run=_ok, dependencies=["needs_it"]),
        ],
    )
    result = run_batch(batch, spark, store)
    states = {r.job_name: r.status for r in result.job_results}
    assert states["breaks"].is_failed and "kaboom" in (states["breaks"].reason or "")
    assert states["needs_it"].is_skipped
    assert states["grandchild"].is_skipped


def test_partially_failed_dependencies_fail_dependent(spark, store):
    # reference batch_runner.py:346-367 — SOME deps failed (others ok) →
    # starting the job raises "dependencies failed to execute" → failed
    batch = SparkBatchSpec(
        name="mixed_dep_batch",
        jobs=[
            SimpleJobSpec(name="fine", run=_ok),
            SimpleJobSpec(name="breaks", run=_boom),
            SimpleJobSpec(name="needs_both", run=_ok, dependencies=["fine", "breaks"]),
        ],
    )
    result = run_batch(batch, spark, store)
    states = {r.job_name: r.status for r in result.job_results}
    assert states["fine"].is_success
    assert states["breaks"].is_failed
    assert states["needs_both"].is_failed
    assert "dependencies failed to execute" in (states["needs_both"].reason or "")


def test_retries_then_success(spark, store):
    attempts = {"n": 0}

    def flaky(ctx):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("transient")
        return JobStatus.success()

    batch = SparkBatchSpec(
        name="retry_batch", jobs=[SimpleJobSpec(name="flaky_job", run=flaky, max_retries=2)]
    )
    result = run_batch(batch, spark, store)
    assert attempts["n"] == 3
    assert result.broken_jobs == set()


def test_retries_exhausted(spark, store):
    attempts = {"n": 0}

    def always_bad(ctx):
        attempts["n"] += 1
        raise RuntimeError("permanent")

    batch = SparkBatchSpec(
        name="retry_batch2", jobs=[SimpleJobSpec(name="bad_job", run=always_bad, max_retries=2)]
    )
    result = run_batch(batch, spark, store)
    assert attempts["n"] == 3
    assert result.broken_jobs == {"bad_job"}


def test_refresh_interval_skips_second_run(spark, store):
    runs = {"n": 0}

    def counted(ctx):
        runs["n"] += 1
        return JobStatus.success()

    def mk():
        return SparkBatchSpec(
            name="refresh_batch",
            jobs=[SimpleJobSpec(name="hourly_job", run=counted, min_seconds_between_refreshes=3600)],
        )

    r1 = run_batch(mk(), spark, store)
    r2 = run_batch(mk(), spark, store)
    assert runs["n"] == 1
    s2 = next(iter(r2.job_results)).status
    assert s2.is_skipped and "not time yet" in (s2.reason or "")


def test_test_failures_mark_job_broken(spark, store):
    def tests(ctx):
        return [
            SimpleTestResult(test_name="has enough rows", outcome=Result.failure("only 3")),
            SimpleTestResult(test_name="no null keys", outcome=Result.success()),
        ]

    batch = SparkBatchSpec(
        name="tested_batch", jobs=[SimpleJobSpec(name="tested_job", run=_ok, test=tests)]
    )
    result = run_batch(batch, spark, store)
    assert result.broken_jobs == {"tested_job"}
    jr = next(iter(result.job_results))
    assert jr.status.is_success and jr.tests_failed
    persisted = store.latest_test_results("tested_job")
    assert {t.test_name: t.test_passed for t in persisted} == {
        "has enough rows": False,
        "no null keys": True,
    }


def test_skip_tests_flag(spark, store):
    called = {"n": 0}

    def tests(ctx):
        called["n"] += 1
        return [SimpleTestResult(test_name="never run", outcome=Result.failure("x"))]

    batch = SparkBatchSpec(
        name="no_tests_batch",
        jobs=[SimpleJobSpec(name="quiet_job", run=_ok, test=tests)],
        skip_tests=True,
    )
    result = run_batch(batch, spark, store)
    assert called["n"] == 0
    assert result.broken_jobs == set()


def test_on_execution_error_replacement(spark, store):
    # reference batch_runner.py:294-305 — the handler fires when run()
    # RETURNS JobStatus.failed (an uncaught exception bypasses it)
    fallback = SimpleJobSpec(name="fallback_job", run=_ok)
    primary = SimpleJobSpec(
        name="primary_job",
        run=lambda ctx: JobStatus.failed("deliberate failure"),
        on_execution_error=lambda msg: fallback,
    )
    batch = SparkBatchSpec(name="handler_batch", jobs=[primary])
    result = run_batch(batch, spark, store)
    jr = next(iter(result.job_results))
    assert jr.job_name == "fallback_job"
    assert jr.status.is_success


def test_raising_job_bypasses_execution_error_handler(spark, store):
    # parity: reference records the exception as failed without invoking
    # on_execution_error (batch_runner.py:221-233 catches above run_job)
    fallback = SimpleJobSpec(name="fallback_job", run=_ok)
    primary = SimpleJobSpec(
        name="primary_job", run=_boom, on_execution_error=lambda msg: fallback
    )
    batch = SparkBatchSpec(name="handler_batch_raise", jobs=[primary])
    result = run_batch(batch, spark, store)
    jr = next(iter(result.job_results))
    assert jr.job_name == "primary_job"
    assert jr.status.is_failed and "kaboom" in (jr.status.reason or "")


def test_on_test_failure_replacement(spark, store):
    repaired = SimpleJobSpec(name="repaired_job", run=_ok)

    def tests(ctx):
        return [SimpleTestResult(test_name="strict check", outcome=Result.failure("bad"))]

    primary = SimpleJobSpec(
        name="fragile_job", run=_ok, test=tests, on_test_failure=lambda t: repaired
    )
    batch = SparkBatchSpec(name="handler_batch2", jobs=[primary])
    result = run_batch(batch, spark, store)
    jr = next(iter(result.job_results))
    assert jr.job_name == "repaired_job" and jr.status.is_success


def test_duplicate_job_names_rejected(spark, store):
    batch = SparkBatchSpec(
        name="dup_batch",
        jobs=[SimpleJobSpec(name="same_name", run=_ok), SimpleJobSpec(name="same_name", run=_ok)],
    )
    with pytest.raises(DuplicateJobNames):
        run_batch(batch, spark, store)


def test_out_of_order_and_missing_dependencies_rejected(spark, store):
    batch = SparkBatchSpec(
        name="order_batch",
        jobs=[
            SimpleJobSpec(name="first_job", run=_ok, dependencies=["second_job", "ghost_job"]),
            SimpleJobSpec(name="second_job", run=_ok),
        ],
    )
    with pytest.raises(DependencyErrors) as exc:
        run_batch(batch, spark, store)
    issues = {i.job_name: i for i in exc.value.issues}
    assert issues["first_job"].missing_dependencies == frozenset({"ghost_job"})
    assert issues["first_job"].jobs_out_of_order == frozenset({"second_job"})


def test_job_timeout_cancels_and_fails(spark, store):
    import time

    def sleepy(ctx):
        time.sleep(10)
        return JobStatus.success()

    batch = SparkBatchSpec(
        name="timeout_batch",
        jobs=[SimpleJobSpec(name="sleepy_job", run=sleepy, timeout_seconds=1)],
    )
    result = run_batch(batch, spark, store)
    jr = next(iter(result.job_results))
    assert jr.status.is_failed
    assert "timed out" in (jr.status.reason or "")


def test_timed_out_attempts_never_overlap(spark, store):
    """A retry starts only after the timed-out attempt has returned, so
    attempts of one job never run at once and none is still running
    when run_batch returns."""
    import threading
    import time

    lock = threading.Lock()
    seen = {"calls": 0, "running": 0, "peak": 0}

    def slow(ctx):
        with lock:
            seen["calls"] += 1
            seen["running"] += 1
            seen["peak"] = max(seen["peak"], seen["running"])
        try:
            time.sleep(1.5)
        finally:
            with lock:
                seen["running"] -= 1
        return JobStatus.success()

    batch = SparkBatchSpec(
        name="overlap_batch",
        jobs=[SimpleJobSpec(name="slow_job", run=slow, timeout_seconds=1, max_retries=2)],
    )
    result = run_batch(batch, spark, store)
    with lock:
        assert seen == {"calls": 3, "running": 0, "peak": 1}
    (jr,) = result.job_results
    assert jr.status.is_failed
    assert "timed out" in (jr.status.reason or "")


def test_timeout_cancels_a_running_spark_stage(spark, store):
    """A timeout cancels the attempt's Spark job group, so a body stuck
    in a long Spark stage returns at its deadline and the retry follows."""
    import time

    calls = {"n": 0}

    def stage(ctx):
        calls["n"] += 1
        ctx.spark.sparkContext.parallelize([0], 1).map(lambda x: time.sleep(20) or x).collect()
        return JobStatus.success()

    batch = SparkBatchSpec(
        name="stage_batch",
        jobs=[SimpleJobSpec(name="stage_job", run=stage, timeout_seconds=1, max_retries=1)],
    )
    t0 = time.monotonic()
    result = run_batch(batch, spark, store)
    assert time.monotonic() - t0 < 8
    assert calls["n"] == 2
    (jr,) = result.job_results
    assert jr.status.is_failed
    assert "timed out" in (jr.status.reason or "")


def test_delete_old_logs_job(spark, store, tmp_path):
    import datetime

    from lime_etl_spark.domain.value_objects import LogLevel

    old = datetime.datetime.now() - datetime.timedelta(days=9)
    store.log("batch_log", LogLevel.INFO, "old line", "b0", ts=old)
    store.flush_logs()

    batch = SparkBatchSpec(name="admin_batch", jobs=[DeleteOldLogs(store, days_logs_to_keep=3)])
    result = run_batch(batch, spark, store)
    assert result.broken_jobs == set()  # run ok AND its self-test passed
    jr = next(iter(result.job_results))
    assert {t.test_name for t in jr.test_results} == {"No log entries more than 3 days old"}
    assert all(t.test_passed for t in jr.test_results)


def test_run_batches_in_parallel(spark, tmp_path):
    batches = [
        SparkBatchSpec(name=f"par_batch_{i}", jobs=[SimpleJobSpec(name=f"job_{i}", run=_ok)])
        for i in range(3)
    ]
    results = run_batches_in_parallel(batches, spark, str(tmp_path / "stores"))
    assert len(results) == 3
    assert all(r.broken_jobs == set() for r in results)


def test_parallel_batches_group_timeout(spark, tmp_path):
    import time

    def slow(ctx):
        time.sleep(8)
        return JobStatus.success()

    batches = [
        SparkBatchSpec(name=f"slow_batch_{i}", jobs=[SimpleJobSpec(name=f"slow_{i}", run=slow)])
        for i in range(2)
    ]
    with pytest.raises(TimeoutError, match="timed out after 1"):
        run_batches_in_parallel(batches, spark, str(tmp_path / "stores"), timeout=1)


def test_parallel_batches_raise_at_their_deadline(spark, tmp_path):
    """The group timeout raises at its deadline, not after the
    stragglers finish."""
    import time

    def slow(ctx):
        time.sleep(4)
        return JobStatus.success()

    batches = [
        SparkBatchSpec(name=f"late_batch_{i}", jobs=[SimpleJobSpec(name=f"late_{i}", run=slow)])
        for i in range(2)
    ]
    t0 = time.monotonic()
    with pytest.raises(TimeoutError, match="timed out after 1"):
        run_batches_in_parallel(batches, spark, str(tmp_path / "stores"), timeout=1)
    assert time.monotonic() - t0 < 2.5


def test_run_batch_with_delta_reports_newly_fixed_and_broken(spark, store):
    """Two runs of the same batch name: a job that fails then succeeds
    is newly fixed; one that succeeds then fails is newly broken."""
    from lime_etl_spark.service.runner import run_batch_with_delta

    flaky_fails, stable_fails = {"on": True}, {"on": False}

    def flaky(ctx):
        if flaky_fails["on"]:
            raise RuntimeError("flaky kaboom")
        return JobStatus.success()

    def stable(ctx):
        if stable_fails["on"]:
            raise RuntimeError("stable kaboom")
        return JobStatus.success()

    def mk_batch():
        return SparkBatchSpec(
            name="delta_batch",
            jobs=[
                SimpleJobSpec(name="flaky", run=flaky),
                SimpleJobSpec(name="stable", run=stable),
            ],
        )

    first_status, first_delta = run_batch_with_delta(mk_batch(), spark, store)
    # no previous run: everything broken is "newly broken"
    assert first_status.broken_jobs == {"flaky"}
    assert first_delta.previous is None
    assert first_delta.newly_broken_jobs == {"flaky"}
    assert first_delta.newly_fixed_jobs == set()

    flaky_fails["on"], stable_fails["on"] = False, True
    second_status, delta = run_batch_with_delta(mk_batch(), spark, store)
    assert second_status.broken_jobs == {"stable"}
    assert delta.previous is not None and delta.previous.id == first_status.id
    assert delta.newly_fixed_jobs == {"flaky"}
    assert delta.newly_broken_jobs == {"stable"}
    assert delta.common_jobs == {"flaky", "stable"}
    # the delta is also in the batch log for operators reading the ledger
    log = store.read_log("batch_log")
    assert log.where(F.col("message").contains("newly fixed: ['flaky']")).count() == 1


def test_compact_admin_ledger_job(spark, store):
    """The VACUUM-style admin job folds ledger files and its test()
    proves losslessness."""
    import os

    from lime_etl_spark.service.admin_jobs import CompactAdminLedger

    for _ in range(4):
        run_batch(
            SparkBatchSpec(name="noise", jobs=[SimpleJobSpec(name="noop", run=_ok)]),
            spark,
            store,
        )

    def batch_files():
        path = os.path.join(store.root, "batches")
        return len([f for f in os.listdir(path) if f.endswith(".parquet")])

    assert batch_files() > 4
    result = run_batch(
        SparkBatchSpec(name="maintenance", jobs=[CompactAdminLedger(store)]),
        spark,
        store,
    )
    assert result.broken_jobs == set()
    (job,) = [r for r in result.job_results if r.job_name == "compact_admin_ledger"]
    assert [t.test_passed for t in job.test_results] == [True]
    # ledger state still folds to one file per pre-compaction table write...
    # plus the rows this maintenance batch itself appended afterwards
    assert batch_files() <= 4


def test_batch_timeout_skips_remaining_jobs(spark, store):
    """Once the batch deadline passes, later jobs are SKIPPED with the
    timeout reason (not run, not silently dropped); earlier results
    stand and the batch still completes."""
    import time

    def slow(ctx):
        time.sleep(1.2)
        return JobStatus.success()

    def never(ctx):  # pragma: no cover - must not run
        raise AssertionError("job after the deadline must not execute")

    batch = SparkBatchSpec(
        name="deadline_batch",
        timeout_seconds=1,
        jobs=[
            SimpleJobSpec(name="slow_ok", run=slow),
            SimpleJobSpec(name="after_deadline", run=never),
        ],
    )
    result = run_batch(batch, spark, store)
    by_name = {r.job_name: r for r in result.job_results}
    assert by_name["slow_ok"].status.state == JobState.SUCCEEDED
    assert by_name["after_deadline"].status.state == JobState.SKIPPED
    assert "Batch timeout" in (by_name["after_deadline"].status.reason or "")
    assert result.broken_jobs == set()


def test_fake_clock_drives_refresh_interval(spark, store):
    """The injectable clock (reference TimestampAdapter) makes
    refresh-interval gating testable without sleeping: not-yet-due
    within the window, due again after it passes."""
    from lime_etl_spark.domain.clock import FakeClockAdapter

    clock = FakeClockAdapter()
    runs = {"n": 0}

    def counted(ctx):
        runs["n"] += 1
        return JobStatus.success()

    def mk():
        return SparkBatchSpec(
            name="clocked_batch",
            jobs=[
                SimpleJobSpec(
                    name="interval_job", run=counted, min_seconds_between_refreshes=100
                )
            ],
        )

    r1 = run_batch(mk(), spark, store, clock=clock)
    assert runs["n"] == 1 and r1.broken_jobs == set()

    clock.advance(50)  # inside the refresh window -> skip
    r2 = run_batch(mk(), spark, store, clock=clock)
    assert runs["n"] == 1
    s2 = next(iter(r2.job_results)).status
    assert s2.is_skipped and "not time yet" in (s2.reason or "")

    clock.advance(100)  # past the window -> due again
    run_batch(mk(), spark, store, clock=clock)
    assert runs["n"] == 2


def test_fake_clock_drives_batch_deadline(spark, store):
    """Batch deadline against the injected clock: a job that 'takes'
    10 fake seconds exhausts a 5-second budget, so the next job is
    skipped with the timeout reason — no real time elapses."""
    from lime_etl_spark.domain.clock import FakeClockAdapter

    clock = FakeClockAdapter()

    def slow(ctx):
        clock.advance(10)
        return JobStatus.success()

    batch = SparkBatchSpec(
        name="deadline_batch",
        timeout_seconds=5,
        jobs=[
            SimpleJobSpec(name="slow_job", run=slow),
            SimpleJobSpec(name="late_job", run=_ok),
        ],
    )
    result = run_batch(batch, spark, store, clock=clock)
    by_name = {r.job_name: r for r in result.job_results}
    assert by_name["slow_job"].status.is_success
    late = by_name["late_job"].status
    assert late.is_skipped and "timeout" in (late.reason or "").lower()


def test_admin_batch_prebuilt(spark, store, tmp_path):
    """admin_batch (reference service/admin/admin_batch.py): the
    prebuilt 'admin' housekeeping batch runs DeleteOldLogs and the
    ledger compaction as ordinary gated jobs."""
    from lime_etl_spark.service.admin_jobs import AdminConfig, admin_batch

    # seed some admin history so the jobs have work to do
    seed = SparkBatchSpec(name="seed", jobs=[SimpleJobSpec(name="seed_job", run=_ok)])
    run_batch(seed, spark, store)

    cfg = AdminConfig(admin_dir=str(tmp_path / "admin"), min_seconds_between_runs=0)
    result = run_batch(admin_batch(store, cfg), spark, store)
    assert result.name == "admin"
    assert {r.job_name for r in result.job_results} == {
        "delete_old_logs",
        "compact_admin_ledger",
    }
    assert result.broken_jobs == set()


def test_admin_batch_retention_reads_the_injected_clock(spark, store):
    """Retention keeps what the runner's clock calls recent: under a
    fake clock set in 2020 the admin batch deletes none of the rows a
    user batch just wrote on that clock."""
    import datetime

    from lime_etl_spark.domain.clock import FakeClockAdapter
    from lime_etl_spark.service.admin_jobs import AdminConfig, admin_batch

    clock = FakeClockAdapter(datetime.datetime(2020, 1, 1))
    user = SparkBatchSpec(name="nightly", jobs=[SimpleJobSpec(name="load", run=_ok)])
    run_batch(user, spark, store, clock=clock)
    clock.advance(3600)
    cfg = AdminConfig(admin_dir=store.root, min_seconds_between_runs=0)
    admin = run_batch(admin_batch(store, cfg), spark, store, clock=clock)
    assert admin.broken_jobs == set()

    fresh = SparkAdminStore(spark, store.root)
    kept = fresh.get_batch(user.batch_id)
    assert kept is not None and not kept.running
    assert [r.job_name for r in fresh.get_job_results(user.batch_id)] == ["load"]
    assert fresh.get_last_successful_ts("load") == datetime.datetime(2020, 1, 1)


def test_untimed_job_spark_actions_carry_its_job_group(spark, store):
    """Every job body runs in the Spark job group
    ``batch_id:job_id:job_name``, with or without a timeout, so the
    Spark UI maps its jobs back to the ledger row."""

    def act(ctx):
        ctx.spark.range(10).count()
        return JobStatus.success()

    batch = SparkBatchSpec(name="tagged", jobs=[SimpleJobSpec(name="act", run=act)])
    result = run_batch(batch, spark, store)
    (jr,) = result.job_results
    assert jr.status.is_success
    group = f"{batch.batch_id}:{jr.id}:act"
    assert len(spark.sparkContext.statusTracker().getJobIdsForGroup(group)) >= 1


def test_retry_policy_backoff_via_clock(spark, store):
    """Exponential backoff between retries runs through the injected
    clock: two failures with base=10,factor=2 advance the FakeClock by
    10 + 20 = 30 s, then the third attempt succeeds — no real sleeps."""
    from lime_etl_spark.domain import RetryPolicy
    from lime_etl_spark.domain.clock import FakeClockAdapter

    clock = FakeClockAdapter()
    t0 = clock.now()
    attempts = {"n": 0}

    def flaky(ctx):
        attempts["n"] += 1
        if attempts["n"] <= 2:
            raise RuntimeError("transient")
        return JobStatus.success()

    batch = SparkBatchSpec(
        name="backoff_batch",
        jobs=[
            SimpleJobSpec(
                name="flaky_job",
                run=flaky,
                max_retries=3,
                retry_policy=RetryPolicy(base_seconds=10, factor=2.0),
            )
        ],
    )
    result = run_batch(batch, spark, store, clock=clock)
    assert attempts["n"] == 3
    assert result.broken_jobs == set()
    assert (clock.now() - t0).total_seconds() == 30.0


def test_retry_policy_defaults_and_cap():
    from lime_etl_spark.domain import RetryPolicy

    immediate = RetryPolicy()
    assert immediate.delay(0) == 0.0 and immediate.delay(5) == 0.0
    p = RetryPolicy(base_seconds=10, factor=3.0, max_seconds=50)
    assert [p.delay(a) for a in range(4)] == [10.0, 30.0, 50.0, 50.0]
    with pytest.raises(ValueError):
        RetryPolicy(base_seconds=-1)
    with pytest.raises(ValueError):
        RetryPolicy(base_seconds=1, factor=0.5)


def test_parallel_batches_timeouts_cancel_only_their_own_spark_jobs(spark, tmp_path):
    """Two concurrent batches each run a job named `shared` under a
    timeout. One times out while the other's Spark job is running; the
    cancelled job group is the timed-out job's own, so the other
    batch's job finishes."""
    import time

    def stuck(ctx):
        time.sleep(3)
        return JobStatus.success()

    def slow_spark(ctx):
        ctx.spark.sparkContext.parallelize([0], 1).map(lambda x: time.sleep(3) or x).collect()
        return JobStatus.success()

    batches = [
        SparkBatchSpec(
            name="times_out", jobs=[SimpleJobSpec(name="shared", run=stuck, timeout_seconds=1)]
        ),
        SparkBatchSpec(
            name="finishes", jobs=[SimpleJobSpec(name="shared", run=slow_spark, timeout_seconds=30)]
        ),
    ]
    timed_out, finished = run_batches_in_parallel(batches, spark, str(tmp_path / "stores"))
    assert "timed out" in (next(iter(timed_out.job_results)).status.reason or "")
    assert finished.broken_jobs == set()


def test_failed_job_millis_measured_from_its_own_start(spark, store):
    """A job that fails late in a batch records its own run time, not
    the time elapsed since the batch started."""
    from lime_etl_spark.domain.clock import FakeClockAdapter

    clock = FakeClockAdapter()

    def first(ctx):
        clock.advance(100)
        return JobStatus.success()

    batch = SparkBatchSpec(
        name="late_failure_batch",
        jobs=[
            SimpleJobSpec(name="first", run=first),
            SimpleJobSpec(name="second", run=_boom, max_retries=0),
        ],
    )
    result = run_batch(batch, spark, store, clock=clock)
    second = next(r for r in result.job_results if r.job_name == "second")
    assert second.status.is_failed
    assert second.execution_millis.value < 100_000


def test_log_rows_follow_the_runner_clock(spark, store):
    """Batch and job log rows carry the runner's clock, like the batch
    and job rows do, so their log_date partitions follow it too."""
    import datetime

    from lime_etl_spark.domain.clock import FakeClockAdapter

    def chatty(ctx):
        ctx.logger.info("working")
        return JobStatus.success()

    batch = SparkBatchSpec(name="clocked", jobs=[SimpleJobSpec(name="chatty", run=chatty)])
    run_batch(batch, spark, store, clock=FakeClockAdapter(datetime.datetime(2020, 1, 1)))
    for table in ("batch_log", "job_log"):
        rows = store.read_log(table).select("ts", "log_date").collect()
        assert rows, table
        stamps = {(r.ts.date(), str(r.log_date)) for r in rows}
        assert stamps == {(datetime.date(2020, 1, 1), "2020-01-01")}, table


class _FailingBatch(SparkBatchSpec):
    """A batch whose ``create_jobs`` raises ``error``."""

    def __init__(self, error: BaseException):
        super().__init__(name="failing_batch", jobs=[])
        self.error = error

    def create_jobs(self):
        raise self.error


@pytest.mark.parametrize(
    "error,reason",
    [
        (RuntimeError(), "RuntimeError()"),
        (AssertionError(), "AssertionError()"),  # what a bare ``assert`` raises
        (KeyboardInterrupt(), "KeyboardInterrupt()"),
    ],
    ids=["RuntimeError", "assert", "KeyboardInterrupt"],
)
def test_batch_error_without_a_message_closes_its_batch_row(spark, store, error, reason):
    """An error whose message is empty, or that is not an Exception,
    still reaches the caller as itself, after the final failed batch
    row and the batch log are written."""
    batch = _FailingBatch(error)
    with pytest.raises(type(error)) as raised:
        run_batch(batch, spark, store)
    assert raised.value is error
    fresh = SparkAdminStore(spark, store.root)
    row = fresh.get_batch(batch.batch_id)
    assert row is not None and not row.running
    assert row.execution_success_or_failure == Result.failure(reason)
    messages = [r.message for r in fresh.read_log("batch_log").collect()]
    assert reason in messages


@pytest.mark.parametrize("where", ["body", "later_job"])
def test_clock_step_back_never_fails_or_reruns_a_job(spark, store, where):
    """The clock steps back an hour (a DST fall-back, an NTP step)
    inside a job body, or in a later job's: every body runs once and
    succeeds, the batch row is final, and no duration is negative."""
    import datetime

    from lime_etl_spark.domain.clock import FakeClockAdapter

    clock = FakeClockAdapter(datetime.datetime(2020, 1, 1, 2, 0))
    calls = {"first": 0, "second": 0}

    def body(name, step):
        def run(ctx):
            calls[name] += 1
            clock.advance(step)
            return JobStatus.success()

        return run

    first_step = -3600 if where == "body" else 60
    jobs = [SimpleJobSpec(name="first", run=body("first", first_step), max_retries=2)]
    if where == "later_job":
        jobs.append(SimpleJobSpec(
            name="second", run=body("second", -3600), dependencies=["first"], max_retries=2))
    batch = SparkBatchSpec(name="stepped_batch", jobs=jobs)
    result = run_batch(batch, spark, store, clock=clock)
    assert calls == {"first": 1, "second": 1 if where == "later_job" else 0}
    assert result.broken_jobs == set()
    assert all(r.status.is_success for r in result.job_results)
    row = SparkAdminStore(spark, store.root).get_batch(batch.batch_id)
    assert row is not None and not row.running and row.execution_success_or_failure.is_success
    millis = [row.execution_millis.value] + [r.execution_millis.value for r in row.job_results]
    assert len(millis) == len(jobs) + 1 and min(millis) >= 0


def test_refresh_and_test_gates_after_a_clock_step_back(spark, store):
    """A job that last succeeded (and was tested) "later" than now,
    because the clock stepped back, is due: its refresh gate does not
    skip it, and its tests run again."""
    import datetime

    from lime_etl_spark.domain.clock import FakeClockAdapter

    clock = FakeClockAdapter(datetime.datetime(2020, 1, 1, 2, 0))
    runs = {"body": 0, "tests": 0}

    def counted(ctx):
        runs["body"] += 1
        return JobStatus.success()

    def tests(ctx):
        runs["tests"] += 1
        return [SimpleTestResult(test_name="ok", outcome=Result.success())]

    def mk():
        return SparkBatchSpec(name="gated", jobs=[SimpleJobSpec(
            name="gated_job", run=counted, test=tests, min_seconds_between_tests=600)])

    run_batch(mk(), spark, store, clock=clock)
    assert runs == {"body": 1, "tests": 1}
    clock.advance(-3000)  # 01:10, before the 02:00 run
    result = run_batch(mk(), spark, store, clock=clock)
    assert runs == {"body": 2, "tests": 2}
    assert next(iter(result.job_results)).status.is_success
