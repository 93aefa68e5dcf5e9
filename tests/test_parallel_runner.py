"""run_batch_parallel_jobs: same semantics as the sequential runner,
with a dependency ready queue: a job starts as soon as its own
dependencies have finished, concurrently with unrelated jobs."""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lime_etl_spark.adapter.admin_store import SparkAdminStore
from lime_etl_spark.domain import (
    JobContext,
    JobStatus,
    Result,
    SimpleJobSpec,
    SimpleTestResult,
    SparkBatchSpec,
)
from lime_etl_spark.domain.statuses import JobState
from lime_etl_spark.service.runner import run_batch, run_batch_parallel_jobs


@pytest.fixture()
def store(spark, tmp_path):
    return SparkAdminStore(spark, str(tmp_path / "admin"))


def _ok(ctx: JobContext):
    ctx.spark.range(5).agg(F.sum("id")).collect()
    return JobStatus.success()


def _boom(ctx: JobContext):
    raise RuntimeError("kaboom")


def test_ready_job_does_not_wait_for_unrelated_jobs(spark, store):
    """job_c needs only job_a, so it starts while the slow job_b is
    still running; job_d and job_e still wait for all of their own
    dependencies."""
    marks = {}
    lock = threading.Lock()

    def timed(name, seconds=0.0):
        def run(ctx):
            with lock:
                marks[f"{name}_start"] = time.monotonic()
            time.sleep(seconds)
            with lock:
                marks[f"{name}_end"] = time.monotonic()
            return JobStatus.success()

        return run

    batch = SparkBatchSpec(
        name="ready_queue",
        jobs=[
            SimpleJobSpec(name="job_a", run=timed("a")),
            SimpleJobSpec(name="job_b", run=timed("b", 1.5)),
            SimpleJobSpec(name="job_c", run=timed("c"), dependencies=["job_a"]),
            SimpleJobSpec(name="job_d", run=timed("d"), dependencies=["job_a", "job_b"]),
            SimpleJobSpec(name="job_e", run=timed("e"), dependencies=["job_c", "job_d"]),
        ],
    )
    result = run_batch_parallel_jobs(batch, spark, store)
    assert result.broken_jobs == set()
    assert marks["a_end"] <= marks["c_start"] < marks["b_end"]
    assert marks["d_start"] >= marks["b_end"]
    assert marks["e_start"] >= max(marks["c_end"], marks["d_end"])


def test_independent_jobs_overlap_in_time(spark, store):
    """Two dependency-free sleeps must actually run concurrently."""
    marks = {}
    lock = threading.Lock()

    def sleepy(name):
        def run(ctx):
            with lock:
                marks[f"{name}_start"] = time.monotonic()
            time.sleep(1.0)
            with lock:
                marks[f"{name}_end"] = time.monotonic()
            return JobStatus.success()

        return run

    batch = SparkBatchSpec(
        name="overlap",
        jobs=[
            SimpleJobSpec(name="sleep1", run=sleepy("s1")),
            SimpleJobSpec(name="sleep2", run=sleepy("s2")),
        ],
    )
    result = run_batch_parallel_jobs(batch, spark, store)
    assert result.broken_jobs == set()
    # overlap: each starts before the other finishes
    assert marks["s1_start"] < marks["s2_end"]
    assert marks["s2_start"] < marks["s1_end"]


def test_parallel_preserves_skip_semantics(spark, store):
    """A failed layer-1 job must fail dependents and skip jobs whose
    deps ALL failed — identical to the sequential runner."""
    batch = SparkBatchSpec(
        name="par_deps",
        jobs=[
            SimpleJobSpec(name="breaks", run=_boom, max_retries=0),
            SimpleJobSpec(name="fine", run=_ok),
            SimpleJobSpec(name="child_of_broken", run=_ok, dependencies=["breaks"]),
            SimpleJobSpec(name="child_of_fine", run=_ok, dependencies=["fine"]),
            SimpleJobSpec(
                name="child_of_both", run=_ok, dependencies=["breaks", "fine"]
            ),
        ],
    )
    result = run_batch_parallel_jobs(batch, spark, store)
    states = {r.job_name: r.status.state for r in result.job_results}
    assert states["breaks"] == JobState.FAILED
    assert states["fine"] == JobState.SUCCEEDED
    # sole dep failed → skip
    assert states["child_of_broken"] == JobState.SKIPPED
    assert states["child_of_fine"] == JobState.SUCCEEDED
    # mixed deps: starting the job raises (reference :346) → failed
    assert states["child_of_both"] == JobState.FAILED


def _ledger(spark, root: str, batch_id: str) -> dict:
    """Per job name, read back from the store's files by a fresh store:
    the final state, the test outcomes and the number of ledger rows."""
    rows = Counter(pq.read_table(os.path.join(root, "jobs")).column("job_name").to_pylist())
    return {
        r.job_name: (
            r.status.state,
            sorted((t.test_name, t.test_passed) for t in r.test_results),
            rows[r.job_name],
        )
        for r in SparkAdminStore(spark, root).get_job_results(batch_id)
    }


def test_parallel_matches_sequential_ledger(spark, store, tmp_path):
    """Same batch through the sequential runner, the parallel runner and
    the parallel runner with one worker → same job states and the same
    persisted admin rows."""
    def tests(ctx):
        return [
            SimpleTestResult(test_name="passes", outcome=Result.success()),
            SimpleTestResult(test_name="fails", outcome=Result.failure("bad")),
        ]

    def mk():
        return SparkBatchSpec(
            name="same",
            jobs=[
                SimpleJobSpec(name="job_a", run=_ok, test=tests),
                SimpleJobSpec(name="job_b", run=_boom, max_retries=0),
                SimpleJobSpec(name="job_c", run=_ok, dependencies=["job_a"]),
                SimpleJobSpec(name="job_d", run=_ok, dependencies=["job_b"]),
            ],
        )

    runners = {
        "seq": run_batch,
        "par": run_batch_parallel_jobs,
        "par1": functools.partial(run_batch_parallel_jobs, max_workers=1),
    }
    statuses, ledgers = {}, {}
    for name, runner in runners.items():
        root = str(tmp_path / name)
        statuses[name] = runner(mk(), spark, SparkAdminStore(spark, root))
        ledgers[name] = _ledger(spark, root, statuses[name].id)
    seq = statuses["seq"]
    seq_states = {r.job_name: r.status.state for r in seq.job_results}
    for name in ("par", "par1"):
        par = statuses[name]
        assert {r.job_name: r.status.state for r in par.job_results} == seq_states
        assert par.broken_jobs == seq.broken_jobs
        assert ledgers[name] == ledgers["seq"]
    # running + final row per run job, one row per skipped job
    assert {n: v[2] for n, v in ledgers["seq"].items()} == {
        "job_a": 2, "job_b": 2, "job_c": 2, "job_d": 1,
    }
    assert ledgers["seq"]["job_a"][1] == [("fails", False), ("passes", True)]


def test_parallel_refresh_skip(spark, store):
    """Second run within the refresh interval skips, exactly like the
    sequential runner."""
    def mk(name):
        return SparkBatchSpec(
            name="refresh_par",
            jobs=[SimpleJobSpec(name="jjj", run=_ok, min_seconds_between_refreshes=3600)],
        )

    first = run_batch_parallel_jobs(mk("jjj"), spark, store)
    assert {r.status.state for r in first.job_results} == {JobState.SUCCEEDED}
    second = run_batch_parallel_jobs(mk("jjj"), spark, store)
    assert {r.status.state for r in second.job_results} == {JobState.SKIPPED}
