"""The batch runner — lime-etl's execution semantics on Spark.

Parity target: reference lime_etl/service/batch_runner.py (593 LOC).
Behavior preserved:

- duplicate job names → DuplicateJobNames (reference :542)
- missing / out-of-order dependencies → DependencyErrors (:551)
- a job is skipped when ALL of its dependency results are
  skipped/failed (:160); when only some failed, starting the job
  raises and it is recorded as failed (:346-367)
- refresh-interval skip: if the job last succeeded more recently than
  min_seconds_between_refreshes, record a skip "not time yet" (:184)
- retries: re-run up to max_retries times on exception (:503)
- post-run tests unless batch.skip_tests or within
  min_seconds_between_tests of the last test run (:408-445)
- on_execution_error / on_test_failure may return a replacement job,
  which is run recursively (:294-321)
- every state transition is persisted to the admin store (running →
  final), and a BatchStatus row brackets the whole run (:74-119)

One scheduler runs every batch, a dependency ready queue: a job starts
once its dependencies have final results, on a pool of ``max_workers``
threads sharing the one SparkSession, and the coordinating thread
writes every ledger row. With one worker (``run_batch``) jobs run in
the reference's sequential order.

Spark-specific: every attempt of a job body runs on its ready-queue
worker thread, in a Spark job group named ``batch_id:job_id:job_name``.
A per-job timeout cancels that group at the deadline — the Spark-native
way to kill distributed work mid-flight. Python code in a body is not
preempted: the attempt fails with a timeout once the body returns, and
a retry starts only after that.
Parallel batches share the session via threads rather than processes
(one JVM, many concurrent DAGs).
"""

from __future__ import annotations

import datetime
import os
import threading
import traceback
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from typing import Dict, List, Optional, Sequence, Set, Tuple

from pyspark.sql import SparkSession

from lime_etl_spark.adapter.admin_store import BatchLogger, JobLogger, SparkAdminStore
from lime_etl_spark.domain.batch_delta import BatchDelta
from lime_etl_spark.domain.clock import ClockAdapter, LocalClockAdapter
from lime_etl_spark.domain.exceptions import (
    DependencyErrors,
    DuplicateJobNames,
    JobDependencyIssue,
)
from lime_etl_spark.domain.specs import JobContext, SparkBatchSpec, SparkJobSpec
from lime_etl_spark.domain.statuses import (
    BatchStatus,
    JobResult,
    JobState,
    JobStatus,
    SimpleTestResult,
    TestResult,
)
from lime_etl_spark.domain.value_objects import ExecutionMillis, Result, UniqueId


def check_for_duplicate_job_names(jobs: Sequence[SparkJobSpec]) -> None:
    names = [j.job_name for j in jobs]
    dups = {n: names.count(n) for n in names if names.count(n) > 1}
    if dups:
        raise DuplicateJobNames(dups)


def check_dependencies(jobs: Sequence[SparkJobSpec]) -> None:
    all_names = {j.job_name for j in jobs}
    issues = []
    seen: set[str] = set()
    for job in jobs:
        missing = {d for d in job.dependencies if d not in all_names}
        out_of_order = {
            d for d in job.dependencies if d in all_names and d not in seen
        }
        seen.add(job.job_name)
        if missing or out_of_order - missing:
            issues.append(
                JobDependencyIssue(
                    job_name=job.job_name,
                    missing_dependencies=frozenset(missing),
                    jobs_out_of_order=frozenset(out_of_order - missing),
                )
            )
    if issues:
        raise DependencyErrors(frozenset(issues))


def run_batch(
    batch: SparkBatchSpec,
    spark: SparkSession,
    store: SparkAdminStore,
    log_to_console: bool = False,
    resources: Optional[dict] = None,
    clock: Optional[ClockAdapter] = None,
) -> BatchStatus:
    status, _ = run_batch_with_delta(
        batch, spark, store, log_to_console, resources, clock
    )
    return status


def run_batch_with_delta(
    batch: SparkBatchSpec,
    spark: SparkSession,
    store: SparkAdminStore,
    log_to_console: bool = False,
    resources: Optional[dict] = None,
    clock: Optional[ClockAdapter] = None,
) -> Tuple[BatchStatus, BatchDelta]:
    """run_batch plus the batch-over-batch health delta.

    The previous COMPLETED run of the same batch name is looked up
    before this run starts; afterwards the delta (newly broken /
    newly fixed jobs — reference batch_delta.py) is logged to the
    batch log and returned alongside the status, so callers can alert
    on regressions without re-reading the admin store.

    ``clock`` is the reference's TimestampAdapter seam: every
    time-based decision (refresh skip, test skip, batch deadline,
    execution_millis) reads it, so tests drive intervals without
    sleeping. Default is the wall clock.
    """
    return _run_batch(
        batch, spark, store, log_to_console, resources, clock, max_workers=1
    )


def run_batch_parallel_jobs(
    batch: SparkBatchSpec,
    spark: SparkSession,
    store: SparkAdminStore,
    log_to_console: bool = False,
    resources: Optional[dict] = None,
    clock: Optional[ClockAdapter] = None,
    max_workers: int = 4,
) -> BatchStatus:
    """run_batch with independent jobs executing CONCURRENTLY.

    The reference runner is strictly sequential (batch_runner.py:160 —
    one `for job in jobs` loop); on Spark that leaves the cluster idle
    whenever a driver-heavy or small job runs. Here up to
    ``max_workers`` ready jobs run at once in threads sharing the one
    SparkSession, and a job starts as soon as its own dependencies have
    finished. Gates read only a job's own dependency results and ledger
    history, and every admin-store write stays on the calling thread,
    so skip, fail and retry decisions match run_batch. The
    batch-over-batch delta is logged as in run_batch_with_delta.
    """
    status, _ = _run_batch(
        batch, spark, store, log_to_console, resources, clock, max_workers
    )
    return status


def _run_batch(
    batch: SparkBatchSpec,
    spark: SparkSession,
    store: SparkAdminStore,
    log_to_console: bool,
    resources: Optional[dict],
    clock: Optional[ClockAdapter],
    max_workers: int,
) -> Tuple[BatchStatus, BatchDelta]:
    """The batch bracket: a running row, the ready queue, then the final
    row and the delta. On any error, ``KeyboardInterrupt`` too, it saves
    the failed row, flushes the logs and re-raises."""
    clock = clock or LocalClockAdapter()
    start = clock.now()
    logger = BatchLogger(store, batch.batch_id, log_to_console, clock=clock)
    previous = store.get_previous_batch(batch.batch_name, exclude_id=batch.batch_id)
    store.save_batch(
        BatchStatus(
            id=batch.batch_id,
            name=batch.batch_name,
            job_results=frozenset(),
            execution_success_or_failure=None,
            execution_millis=None,
            running=True,
            ts=start,
        )
    )
    logger.info(f"Starting batch [{batch.batch_name}]...")
    job_results: List[JobResult] = []
    error: Optional[BaseException] = None
    try:
        jobs = batch.create_jobs()
        check_dependencies(jobs)
        check_for_duplicate_job_names(jobs)
        job_results = _run_ready_queue(
            batch, jobs, spark, store, logger, start, resources or {}, clock,
            max_workers,
        )
    except BaseException as e:
        logger.exception(e)
        error = e
    result = BatchStatus(
        id=batch.batch_id,
        name=batch.batch_name,
        job_results=frozenset(job_results),
        execution_success_or_failure=(
            Result.success() if error is None else Result.failure(str(error) or repr(error))
        ),
        execution_millis=clock.get_elapsed_time(start),
        running=False,
        ts=clock.now(),
    )
    store.save_batch(result)
    if error is not None:
        store.flush_logs()
        raise error
    delta = BatchDelta(current=result, previous=previous)
    logger.info(f"Batch [{batch.batch_name}] finished. Delta — {delta}")
    store.flush_logs()
    return result, delta


def _run_ready_queue(
    batch: SparkBatchSpec,
    jobs: Sequence[SparkJobSpec],
    spark: SparkSession,
    store: SparkAdminStore,
    logger: BatchLogger,
    start: datetime.datetime,
    resources: dict,
    clock: ClockAdapter,
    max_workers: int,
) -> List[JobResult]:
    """Run ``jobs`` as their dependencies finish, at most ``max_workers``
    at a time, and return their final results.

    The calling thread is the coordinator: while a worker is free it
    takes the ready jobs in declaration order, records a skip at once or
    writes the running row and submits the body, then waits for the
    first body to finish. Readiness is checked as the scan reaches each
    job, so a skip frees its dependents within the same scan."""
    order = {job.job_name: i for i, job in enumerate(jobs)}
    pending = list(jobs)
    finished: Set[str] = set()
    job_results: List[JobResult] = []
    in_flight: Dict[Future, SparkJobSpec] = {}

    def record(job: SparkJobSpec, result: JobResult) -> None:
        finished.add(job.job_name)
        job_results.append(result)
        store.save_job_result(result)

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        while pending or in_flight:
            for job in list(pending):
                if len(in_flight) == max_workers:
                    break
                if not finished.issuperset(job.dependencies):
                    continue
                pending.remove(job)
                skip = _skip_decision(batch, job, job_results, store, logger, start, clock)
                row = JobResult(
                    id=UniqueId.generate().value,
                    batch_id=batch.batch_id,
                    job_name=job.job_name,
                    status=JobStatus.running() if skip is None else skip,
                    execution_millis=ExecutionMillis(0),
                    ts=start,
                )
                if skip is not None:
                    record(job, row)
                    continue
                store.save_job_result(row)
                future = pool.submit(
                    _execute_job,
                    batch, job, row.id, spark, store, logger, list(job_results),
                    start, resources, clock,
                )
                in_flight[future] = job
            done, _ = wait(in_flight, return_when=FIRST_COMPLETED)
            for future in sorted(done, key=lambda f: order[in_flight[f].job_name]):
                record(in_flight.pop(future), future.result())
    return job_results


def _skip_decision(
    batch: SparkBatchSpec,
    job: SparkJobSpec,
    job_results: Sequence[JobResult],
    store: SparkAdminStore,
    logger: BatchLogger,
    start: datetime.datetime,
    clock: ClockAdapter,
) -> Optional[JobStatus]:
    """The pre-execution gates, in reference order: batch deadline,
    all-deps-skipped/failed, refresh interval. Returns the skip status,
    or None when the job should actually run. Pure driver-side reads —
    safe to evaluate sequentially while other jobs execute."""
    # Batch-level timeout: the reference declares
    # BatchSpec.timeout_seconds (batch_spec.py:62) without consuming
    # it; here it is enforced as a deadline — jobs that would START
    # after the budget is spent are skipped (recorded, not silently
    # dropped). The in-flight job still gets its own per-job
    # timeout; killing it mid-batch would leave half-written state.
    if (
        batch.timeout_seconds is not None
        and (clock.now() - start).total_seconds() > batch.timeout_seconds
    ):
        logger.info(
            f"Batch timeout of {batch.timeout_seconds} seconds exceeded; "
            f"skipping [{job.job_name}]."
        )
        return JobStatus.skipped(
            f"Batch timeout of {batch.timeout_seconds} seconds exceeded."
        )

    dep_results = [r for r in job_results if r.job_name in job.dependencies]
    if job.dependencies and dep_results and all(
        r.status.state in (JobState.SKIPPED, JobState.FAILED) for r in dep_results
    ):
        logger.info(
            f"All the dependencies for [{job.job_name}] were skipped or failed so "
            f"the job has been skipped."
        )
        return JobStatus.skipped("Dependencies were skipped or failed.")

    last_ok = store.get_last_successful_ts(job.job_name)
    if last_ok is not None:
        since = (clock.now() - last_ok).total_seconds()
        if 0 <= since <= job.min_seconds_between_refreshes:  # < 0: the clock stepped back
            logger.info(
                f"[{job.job_name}] was run successfully {since:.0f} seconds ago and "
                f"it is set to refresh every {job.min_seconds_between_refreshes} "
                f"seconds, so there is no need to refresh again."
            )
            return JobStatus.skipped(
                f"The job ran {since:.0f} seconds ago, so it is not time yet."
            )
    return None


def _execute_job(
    batch: SparkBatchSpec,
    job: SparkJobSpec,
    job_id: str,
    spark: SparkSession,
    store: SparkAdminStore,
    logger: BatchLogger,
    job_results: Sequence[JobResult],
    start: datetime.datetime,
    resources: dict,
    clock: ClockAdapter,
) -> JobResult:
    job_logger = logger.create_job_logger(job.job_name)
    job_start = clock.now()
    try:
        return _run_job(
            batch, job, job_id, spark, store, job_logger, job_results,
            resources, clock,
        )
    except Exception as e:
        logger.exception(e)
        return JobResult(
            id=job_id,
            batch_id=batch.batch_id,
            job_name=job.job_name,
            status=JobStatus.failed(f"{e}\n{traceback.format_exc(10)}"),
            execution_millis=clock.get_elapsed_time(job_start),
            ts=start,
        )


def _run_job(
    batch: SparkBatchSpec,
    job: SparkJobSpec,
    job_id: str,
    spark: SparkSession,
    store: SparkAdminStore,
    logger: JobLogger,
    prior_results: Sequence[JobResult],
    resources: dict,
    clock: ClockAdapter,
) -> JobResult:
    """Dependency-failure check → run with retry → tests → handlers."""
    logger.info(f"Starting [{job.job_name}]...")
    start = clock.now()

    dep_results = [r for r in prior_results if r.job_name in job.dependencies]
    dep_failures = {r.job_name for r in dep_results if r.status.state is JobState.FAILED}
    dep_test_failures = {r.job_name for r in dep_results if r.tests_failed}
    if dep_failures:
        errs = ", ".join(sorted(dep_failures))
        if dep_test_failures:
            tf = ", ".join(sorted(dep_test_failures))
            raise Exception(
                f"The following dependencies failed to execute: {errs} and the "
                f"following jobs had test failures: {tf}"
            )
        raise Exception(f"The following dependencies failed to execute: {errs}")

    ctx = JobContext(spark=spark, logger=logger, resources=resources, clock=clock)
    group = f"{batch.batch_id}:{job_id}:{job.job_name}"
    status, millis = _run_with_retry(job, ctx, spark, logger, start, clock, group)

    test_results: frozenset = frozenset()
    if status.is_success:
        logger.info(f"[{job.job_name}] finished successfully.")
        if not batch.skip_tests and _tests_due(job, store, logger, clock):
            t0 = clock.now()
            simple = job.test(ctx)
            t_millis = clock.get_elapsed_time(t0)
            if simple:
                passed = sum(1 for t in simple if t.test_passed)
                failed = sum(1 for t in simple if t.test_failed)
                logger.info(
                    f"{job.job_name} test results: tests_passed={passed}, tests_failed={failed}"
                )
                test_results = frozenset(
                    TestResult(
                        id=UniqueId.generate().value,
                        job_id=job_id,
                        test_name=t.test_name,
                        outcome=t.outcome,
                        execution_millis=t_millis,
                        ts=start,
                    )
                    for t in simple
                )
            else:
                logger.info("The job test method returned no results.")
    elif status.is_failed:
        logger.info(f"An exception occurred while running [{job.job_name}]: {status.reason}.")
    elif status.is_skipped:
        logger.info(f"[{job.job_name}] was skipped.")

    result = JobResult(
        id=job_id,
        batch_id=batch.batch_id,
        job_name=job.job_name,
        status=status,
        execution_millis=millis,
        test_results=test_results,
        ts=start,
    )

    if status.is_failed:
        replacement = job.on_execution_error(status.reason or "")
        if replacement is not None:
            logger.info(f"Running replacement job for [{job.job_name}]...")
            return _run_job(
                batch, replacement, job_id, spark, store, logger, prior_results,
                resources, clock,
            )
    elif any(t.test_failed for t in test_results):
        simple_failed = [
            SimpleTestResult(test_name=t.test_name, outcome=t.outcome) for t in test_results
        ]
        replacement = job.on_test_failure(simple_failed)
        if replacement is not None:
            logger.info(f"Running test-failure replacement job for [{job.job_name}]...")
            return _run_job(
                batch, replacement, job_id, spark, store, logger, prior_results,
                resources, clock,
            )
    return result


def _tests_due(
    job: SparkJobSpec, store: SparkAdminStore, logger: JobLogger, clock: ClockAdapter
) -> bool:
    last = store.latest_test_results(job.job_name)
    if not last:
        logger.info(
            f"The tests for [{job.job_name}] have not been run before, so they will be run now."
        )
        return True
    last_ts, now = max(t.ts for t in last), clock.now()
    since = int((now - last_ts).total_seconds())
    if last_ts > now or since >= job.min_seconds_between_tests:  # or the clock stepped back
        logger.info(
            f"The tests for [{job.job_name}] were last run {since} seconds ago, and they "
            f"are set to run every {job.min_seconds_between_tests}, so they will be run now."
        )
        return True
    logger.info(
        f"The tests for [{job.job_name}] were run {since} seconds ago, and they are set "
        f"to run every {job.min_seconds_between_tests} so they are not ready to be run again."
    )
    return False


def _run_with_retry(
    job: SparkJobSpec,
    ctx: JobContext,
    spark: SparkSession,
    logger: JobLogger,
    start: datetime.datetime,
    clock: ClockAdapter,
    group: str,
) -> Tuple[JobStatus, ExecutionMillis]:
    retries = 0
    while True:
        try:  # only the body: its failure, and nothing else, is retried
            status = _run_attempt(job, ctx, spark, group)
        except Exception:
            if job.max_retries > retries:
                delay = job.retry_policy.delay(retries)
                if delay > 0:
                    logger.info(
                        f"Backing off {delay:g}s before retry {retries} of "
                        f"{job.max_retries}..."
                    )
                    clock.sleep(delay)
                logger.info(f"Running retry {retries} of {job.max_retries}...")
                retries += 1
                continue
            logger.info(f"[{job.job_name}] failed after {job.max_retries} retries.")
            raise
        return status or JobStatus.success(), clock.get_elapsed_time(start)


def _run_attempt(
    job: SparkJobSpec, ctx: JobContext, spark: SparkSession, group: str
) -> Optional[JobStatus]:
    """Run the body on the calling thread, its Spark jobs in job group
    ``group`` (unique per batch and job, so the Spark UI maps back to
    ledger rows). A timeout only cancels that group at the deadline; the
    attempt then fails once the body returns. The timer is joined first,
    so a late cancel cannot reach the job's tests or its next attempt."""
    sc = spark.sparkContext
    sc.setJobGroup(group, f"job {job.job_name}", interruptOnCancel=True)
    expired = threading.Event()

    def expire() -> None:
        expired.set()
        sc.cancelJobGroup(group)

    timer = threading.Timer(job.timeout_seconds or 0, expire)
    if job.timeout_seconds is not None:
        timer.start()
    try:
        return job.run(ctx)
    finally:
        timer.cancel()
        if timer.is_alive():
            timer.join()
        if expired.is_set():
            raise TimeoutError(
                f"[{job.job_name}] timed out after {job.timeout_seconds} seconds."
            )


def run_batches_in_parallel(
    batches: Sequence[SparkBatchSpec],
    spark: SparkSession,
    store_root: str,
    max_workers: Optional[int] = None,
    timeout: Optional[int] = None,
    log_to_console: bool = False,
) -> List[BatchStatus]:
    """Concurrent batches in one Spark session (threads sharing one JVM —
    the single-JVM analog of the reference's multiprocessing pool).
    ``timeout`` bounds the whole group, like the reference's
    ``future.get(timeout)`` (batch_runner.py:46): at the deadline a
    TimeoutError raises at once and unstarted batches are cancelled.
    Stragglers finish under their own per-job timeouts, which cancel
    their Spark work but do not preempt Python code; a retry starts only
    after the timed-out attempt has returned."""

    def one(batch: SparkBatchSpec) -> BatchStatus:
        store = SparkAdminStore(spark, os.path.join(store_root, batch.batch_name))
        return run_batch(batch, spark, store, log_to_console)

    pool = ThreadPoolExecutor(max_workers=max_workers or len(batches))
    try:
        futures = [pool.submit(one, b) for b in batches]
        if wait(futures, timeout=timeout).not_done:
            raise TimeoutError(
                f"run_batches_in_parallel timed out after {timeout} seconds."
            )
        return [f.result() for f in futures]
    finally:
        pool.shutdown(wait=False, cancel_futures=True)
