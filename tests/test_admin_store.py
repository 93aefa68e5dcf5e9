"""Integration tests for SparkAdminStore (mirrors reference
tests/integration/adapter/*: repository round-trips, last-successful
lookup, log retention)."""

from __future__ import annotations

import datetime

import pytest

from lime_etl_spark.adapter.admin_store import SparkAdminStore
from lime_etl_spark.domain import (
    BatchStatus,
    ExecutionMillis,
    JobResult,
    JobStatus,
    Result,
    UniqueId,
)
from lime_etl_spark.domain.statuses import TestResult
from lime_etl_spark.domain.value_objects import LogLevel

NOW = datetime.datetime.now()


@pytest.fixture()
def store(spark, tmp_path):
    return SparkAdminStore(spark, str(tmp_path / "admin"))


def test_batch_round_trip_latest_wins(spark, store):
    bid = UniqueId.generate().value
    store.save_batch(
        BatchStatus(
            id=bid, name="batch_x", job_results=frozenset(),
            execution_success_or_failure=None, execution_millis=None,
            running=True, ts=NOW,
        )
    )
    got = store.get_batch(bid)
    assert got is not None and got.running

    store.save_batch(
        BatchStatus(
            id=bid, name="batch_x", job_results=frozenset(),
            execution_success_or_failure=Result.failure("boom"),
            execution_millis=ExecutionMillis(123), running=False, ts=NOW,
        )
    )
    got = store.get_batch(bid)
    assert got is not None
    assert not got.running
    assert got.execution_success_or_failure == Result.failure("boom")
    assert got.execution_millis == ExecutionMillis(123)
    assert store.get_batch("f" * 32) is None


def test_job_results_and_last_successful_ts(store):
    bid = UniqueId.generate().value
    jid1, jid2 = UniqueId.generate().value, UniqueId.generate().value
    t1 = NOW - datetime.timedelta(hours=2)
    t2 = NOW - datetime.timedelta(hours=1)
    store.save_job_result(
        JobResult(id=jid1, batch_id=bid, job_name="job_a",
                  status=JobStatus.success(), execution_millis=ExecutionMillis(5), ts=t1)
    )
    store.save_job_result(
        JobResult(id=jid2, batch_id=bid, job_name="job_a",
                  status=JobStatus.failed("nope"), execution_millis=ExecutionMillis(5), ts=t2)
    )
    # last SUCCESSFUL is t1, not the later failure
    assert store.get_last_successful_ts("job_a") == t1
    assert store.get_last_successful_ts("never_ran") is None

    results = store.get_job_results(bid)
    assert {r.id for r in results} == {jid1, jid2}


def test_test_results_round_trip(store):
    bid, jid = UniqueId.generate().value, UniqueId.generate().value
    tr = TestResult(
        id=UniqueId.generate().value, job_id=jid, test_name="rowcount check",
        outcome=Result.failure("expected 10, got 9"),
        execution_millis=ExecutionMillis(3), ts=NOW,
    )
    store.save_job_result(
        JobResult(id=jid, batch_id=bid, job_name="job_t", status=JobStatus.success(),
                  execution_millis=ExecutionMillis(9), test_results=frozenset([tr]), ts=NOW)
    )
    latest = store.latest_test_results("job_t")
    assert len(latest) == 1
    assert latest[0].test_name == "rowcount check"
    assert latest[0].test_failed
    assert store.latest_test_results("job_without_tests") == []


def test_log_append_and_partition_retention(store):
    old = NOW - datetime.timedelta(days=10)
    store.log("batch_log", LogLevel.INFO, "ancient entry", "b1", ts=old)
    store.log("batch_log", LogLevel.INFO, "fresh entry", "b1", ts=NOW)
    store.log("job_log", LogLevel.ERROR, "job boom", "b1", "job_a", ts=old)
    store.flush_logs()

    assert store.earliest_log_ts("batch_log") == old

    store.delete_old_logs(cutoff=NOW - datetime.timedelta(days=3))

    remaining = store.read_log("batch_log").collect()
    assert [r["message"] for r in remaining] == ["fresh entry"]
    assert store.read_log("job_log").count() == 0
    earliest = store.earliest_log_ts("batch_log")
    assert earliest is not None and earliest >= NOW - datetime.timedelta(days=3)


def test_compact_preserves_rows_and_folds_files(spark, store):
    import datetime
    import os

    from lime_etl_spark.domain.statuses import BatchStatus, JobResult, JobStatus
    from lime_etl_spark.domain.value_objects import ExecutionMillis, Result, UniqueId

    t0 = datetime.datetime(2026, 2, 1, 9, 0)
    batch_ids = []
    for i in range(6):
        bid = UniqueId.generate().value
        batch_ids.append(bid)
        store.save_batch(
            BatchStatus(
                id=bid,
                name="nightly",
                job_results=frozenset(),
                execution_success_or_failure=Result.success(),
                execution_millis=ExecutionMillis(i),
                running=False,
                ts=t0 + datetime.timedelta(minutes=i),
            )
        )
        store.save_job_result(
            JobResult(
                id=UniqueId.generate().value,
                batch_id=bid,
                job_name=f"job_{i}",
                status=JobStatus.success(),
                execution_millis=ExecutionMillis(i),
                ts=t0,
            )
        )
        store.log("batch_log", LogLevel.INFO, f"line {i}", bid, ts=t0)
    store.flush_logs()

    def parquet_files(table):
        path = os.path.join(store.root, table)
        return sum(
            1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet")
        )

    assert parquet_files("batches") == 6
    before_jobs = {r.job_name for b in batch_ids for r in store.get_job_results(b)}

    stats = store.compact()
    assert parquet_files("batches") == 1 and stats["batches"] == (6, 1)
    assert parquet_files("jobs") == 1
    assert parquet_files("batch_log") == 1

    # lossless: same latest-wins state and log rows after compaction
    after_jobs = {r.job_name for b in batch_ids for r in store.get_job_results(b)}
    assert after_jobs == before_jobs == {f"job_{i}" for i in range(6)}
    assert store.read_log("batch_log").count() == 6
    assert store.get_batch(batch_ids[-1]).execution_millis.value == 5


def test_get_previous_batch_skips_running_and_self(spark, store):
    import datetime

    from lime_etl_spark.domain.statuses import BatchStatus
    from lime_etl_spark.domain.value_objects import ExecutionMillis, Result, UniqueId

    t0 = datetime.datetime(2026, 2, 1, 9, 0)

    def save(bid, running, minute):
        store.save_batch(
            BatchStatus(
                id=bid,
                name="nightly",
                job_results=frozenset(),
                execution_success_or_failure=None if running else Result.success(),
                execution_millis=None if running else ExecutionMillis(1),
                running=running,
                ts=t0 + datetime.timedelta(minutes=minute),
            )
        )

    assert store.get_previous_batch("nightly") is None
    first = UniqueId.generate().value
    save(first, running=True, minute=0)
    save(first, running=False, minute=1)
    current = UniqueId.generate().value
    save(current, running=True, minute=2)

    prev = store.get_previous_batch("nightly", exclude_id=current)
    assert prev is not None and prev.id == first and not prev.running
    assert store.get_previous_batch("other_name") is None


def test_job_health_stats(spark, store):
    """Dashboard rollup over the event-sourced jobs ledger: latest
    state per job_id, failure rates, duration percentiles."""
    import datetime

    from lime_etl_spark.adapter.admin_store import job_health_stats
    from lime_etl_spark.domain.statuses import JobResult, JobStatus
    from lime_etl_spark.domain.value_objects import ExecutionMillis, UniqueId

    t0 = datetime.datetime(2026, 5, 1, 8, 0)

    def save(name, status, millis):
        jid = UniqueId.generate().value
        # event-sourced: RUNNING first, then the terminal state
        store.save_job_result(JobResult(
            id=jid, batch_id="b1", job_name=name,
            status=JobStatus.running(), execution_millis=ExecutionMillis(0), ts=t0))
        store.save_job_result(JobResult(
            id=jid, batch_id="b1", job_name=name,
            status=status, execution_millis=ExecutionMillis(millis), ts=t0))

    for ms in (100, 200, 300, 400):
        save("steady", JobStatus.success(), ms)
    save("flaky", JobStatus.success(), 50)
    save("flaky", JobStatus.failed("x"), 999)

    stats = {r["job_name"]: r for r in job_health_stats(store).collect()}
    assert stats["steady"]["n_runs"] == 4 and stats["steady"]["n_failed"] == 0
    assert stats["steady"]["p50_millis"] == 250.0  # interpolated over 100..400
    assert stats["flaky"]["n_runs"] == 2 and stats["flaky"]["n_failed"] == 1
    assert stats["flaky"]["failure_rate"] == 0.5
    # failed run's millis excluded from the success percentiles
    assert stats["flaky"]["p50_millis"] == 50.0


# --- cross-process append safety (r7 verdict #6) -----------------------------


def _mp_worker(args) -> int:
    """Child-process body: append batch versions + job results to the
    SHARED admin root. Runs WITHOUT Spark — the store's write path is
    driver-side pyarrow by design, which is exactly what makes the
    multi-process question real (two coordinators could share a root)."""
    root, worker_ix, n_versions = args
    import datetime as dt

    from lime_etl_spark.adapter.admin_store import SparkAdminStore
    from lime_etl_spark.domain.statuses import BatchStatus, JobResult, JobStatus
    from lime_etl_spark.domain.value_objects import ExecutionMillis, Result

    store = SparkAdminStore(spark=None, root=root)
    ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    for i in range(n_versions):
        for bid in (f"batch-w{worker_ix}", "batch-contested"):
            store.save_batch(
                BatchStatus(
                    id=bid, name=bid, job_results=frozenset(),
                    execution_success_or_failure=Result.success(),
                    execution_millis=ExecutionMillis(worker_ix * 1000 + i),
                    running=False, ts=ts,
                )
            )
        store.save_job_result(
            JobResult(
                id=f"job-w{worker_ix}-{i}", batch_id=f"batch-w{worker_ix}",
                job_name=f"job_w{worker_ix}", status=JobStatus.success(),
                execution_millis=ExecutionMillis(i), ts=ts,
            )
        )
    return worker_ix


def _mp_frozen_clock_minter(args) -> list:
    """Mint n seqs with time.time_ns FROZEN to one shared nanosecond —
    the forced collision the wall-clock-ns scheme could not survive."""
    frozen_ns, n = args
    from lime_etl_spark.adapter import admin_store as ams

    ams.time.time_ns = lambda: frozen_ns  # every read collides
    return [(ams.os.getpid(), ams._mint_seq()) for _ in range(n)]


def test_seq_total_order_under_forced_same_ns_collisions():
    """r8 verdict #8: seq must be a strict TOTAL order across writers
    even when every clock read lands on the SAME nanosecond. Four real
    processes mint with a frozen clock: all seqs globally distinct
    (pid low bits differ), strictly increasing within each process
    (high-water bump), and the pid is recoverable from the low bits."""
    import multiprocessing as mp

    from lime_etl_spark.adapter.admin_store import _SEQ_PID_MASK

    frozen_ns, n_each = 1_700_000_000_000_000_000, 50
    ctx = mp.get_context("spawn")
    with ctx.Pool(4) as pool:
        out = pool.map(_mp_frozen_clock_minter, [(frozen_ns, n_each)] * 4)
    all_seqs = [seq for worker in out for _, seq in worker]
    assert len(set(all_seqs)) == 4 * n_each, "same-ns collision produced equal seqs"
    for worker in out:
        pid = worker[0][0]
        seqs = [seq for _, seq in worker]
        assert seqs == sorted(seqs) and len(set(seqs)) == n_each
        assert all(seq & _SEQ_PID_MASK == (pid & _SEQ_PID_MASK) for seq in seqs)


def test_concurrent_multiprocess_appends_merge_safely(spark, tmp_path):
    """Two+ PROCESSES appending the same admin root concurrently (r7
    verdict #6): the reference got transactionality from SQLAlchemy;
    this store's event-sourced design must provide the equivalent by
    construction — every append is a NEW uuid-named parquet part file
    (no rewrite, so no torn read), and reads are latest-wins on seq.
    Proves: no append lost, no file corrupt, per-entity reads
    consistent, and compaction after the concurrent phase preserves
    every read."""
    import glob as globmod
    import multiprocessing as mp

    root = str(tmp_path / "admin_mp")
    n_workers, n_versions = 4, 12
    ctx = mp.get_context("spawn")  # a REAL separate process, not a fork of the JVM-attached parent
    with ctx.Pool(n_workers) as pool:
        done = pool.map(_mp_worker, [(root, w, n_versions) for w in range(n_workers)])
    assert sorted(done) == list(range(n_workers))

    store = SparkAdminStore(spark, root)
    # no append lost: one part file per save_batch call, all readable
    batch_files = globmod.glob(f"{root}/batches/*.parquet")
    assert len(batch_files) == n_workers * n_versions * 2
    import pyarrow.parquet as pq_mod

    rows = pq_mod.read_table(f"{root}/batches").to_pylist()
    assert len(rows) == n_workers * n_versions * 2  # nothing torn or dropped

    # per-entity latest-wins: each worker's own batch resolves to ITS
    # final version; the contested batch resolves to the globally
    # max-seq version, whichever process wrote it
    for w in range(n_workers):
        got = store.get_batch(f"batch-w{w}")
        assert got is not None and got.execution_millis.value == w * 1000 + (n_versions - 1)
    contested = [r for r in rows if r["batch_id"] == "batch-contested"]
    winner_seq = max(r["seq"] for r in contested)
    got = store.get_batch("batch-contested")
    winning_rows = [r for r in contested if r["seq"] == winner_seq]
    assert len(winning_rows) == 1, "time_ns seq tie across processes"
    assert got.execution_millis.value == winning_rows[0]["execution_millis"]

    # job results from every process are all present
    for w in range(n_workers):
        res = store.get_job_results(f"batch-w{w}")
        assert len(res) == n_versions

    # compaction after the concurrent phase must preserve every read
    store.compact()
    for w in range(n_workers):
        assert store.get_batch(f"batch-w{w}").execution_millis.value == w * 1000 + (n_versions - 1)
        assert len(store.get_job_results(f"batch-w{w}")) == n_versions
    assert store.get_batch("batch-contested").execution_millis.value == winning_rows[0]["execution_millis"]


# --- the keyed ledger index ----------------------------------------------------


def _ledger_keys(root):
    """Every batch id, batch name, job id and job name on disk, plus one
    of each that was never written."""
    import os

    import pyarrow.parquet as pq_mod

    def col(table, name):
        path = os.path.join(root, table)
        if not os.path.isdir(path):
            return set()
        return set(pq_mod.read_table(path, columns=[name]).column(name).to_pylist())

    return {
        "batch_ids": col("batches", "batch_id") | col("jobs", "batch_id") | {"never-batch"},
        "names": col("batches", "name") | {"never-name"},
        "job_ids": col("jobs", "job_id") | col("test_results", "job_id") | {"never-job"},
        "job_names": col("jobs", "job_name") | col("test_results", "job_name") | {"never-job-name"},
    }


def _getters(store, keys):
    """Every point-lookup getter over every key, in an order-free form."""
    from collections import Counter

    out = {}
    for bid in sorted(keys["batch_ids"]):
        out[("get_batch", bid)] = store.get_batch(bid)
        out[("get_job_results", bid)] = frozenset(store.get_job_results(bid))
    for name in sorted(keys["names"]):
        out[("get_previous_batch", name)] = store.get_previous_batch(name)
        for bid in sorted(keys["batch_ids"]):
            out[("get_previous_batch", name, bid)] = store.get_previous_batch(name, exclude_id=bid)
    for jid in sorted(keys["job_ids"]):
        out[("get_test_results", jid)] = Counter(store.get_test_results({jid}))
    out[("get_test_results", "all")] = Counter(store.get_test_results(set(keys["job_ids"])))
    for name in sorted(keys["job_names"]):
        out[("get_last_successful_ts", name)] = store.get_last_successful_ts(name)
        out[("latest_test_results", name)] = Counter(store.latest_test_results(name))
    return out


def _assert_index_matches_fresh(warm):
    """Every getter on a warm store equals the same getter on a store
    that has never read the root."""
    keys = _ledger_keys(warm.root)
    want = _getters(SparkAdminStore(None, warm.root), keys)
    got = _getters(warm, keys)
    assert got.keys() == want.keys()
    bad = [k for k in want if got[k] != want[k]]
    assert not bad, f"warm index differs from a fresh read on {bad[:5]}"


def _fill_ledger(store, t0, tag, n_batches=3):
    """Batches with running -> final transitions, job versions, retries,
    and test results that share a ts within a run."""
    for b in range(n_batches):
        bid = f"{tag}-b{b}"
        ts = t0 + datetime.timedelta(minutes=b)
        store.save_batch(BatchStatus(
            id=bid, name=f"{tag}-nightly", job_results=frozenset(),
            execution_success_or_failure=None, execution_millis=None, running=True, ts=ts))
        for j in range(3):
            jid = f"{bid}-j{j}"
            job_name = f"{tag}-job{j}"
            store.save_job_result(JobResult(
                id=jid, batch_id=bid, job_name=job_name, status=JobStatus.running(),
                execution_millis=ExecutionMillis(0), ts=ts))
            status = JobStatus.failed("boom") if (b + j) % 3 == 0 else JobStatus.success()
            tests = frozenset(
                TestResult(id=f"{jid}-t{k}", job_id=jid, test_name=f"check {k}",
                           outcome=Result.success() if k else Result.failure("bad"),
                           execution_millis=ExecutionMillis(k), ts=ts)
                for k in range(2)
            )
            store.save_job_result(JobResult(
                id=jid, batch_id=bid, job_name=job_name, status=status,
                execution_millis=ExecutionMillis(10 + j), test_results=tests, ts=ts))
        if b < n_batches - 1:  # the newest batch of each tag stays running
            store.save_batch(BatchStatus(
                id=bid, name=f"{tag}-nightly", job_results=frozenset(),
                execution_success_or_failure=Result.success(),
                execution_millis=ExecutionMillis(b), running=False, ts=ts))


def test_index_matches_fresh_store_after_own_appends(tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    from lime_etl_spark.adapter.admin_store import _JOBS

    store = SparkAdminStore(None, str(tmp_path / "admin"))
    t0 = datetime.datetime(2026, 3, 1, 9, 0)
    _assert_index_matches_fresh(store)  # empty ledger, warmed
    _fill_ledger(store, t0, "a")
    _assert_index_matches_fresh(store)
    _fill_ledger(store, t0 + datetime.timedelta(hours=1), "b")
    # a tz-aware ts on the way in...
    aware = datetime.datetime(2026, 3, 2, 12, 0, tzinfo=datetime.timezone(datetime.timedelta(hours=2)))
    store.save_batch(BatchStatus(
        id="aware", name="a-nightly", job_results=frozenset(),
        execution_success_or_failure=Result.success(), execution_millis=ExecutionMillis(1),
        running=False, ts=aware))
    # ...and a part file whose ts column itself is tz-typed, as another
    # writer (e.g. Spark) may leave it
    schema = _JOBS.set(6, pa.field("ts", pa.timestamp("us", tz="UTC")))
    utc = datetime.datetime(2026, 3, 3, 8, 0, tzinfo=datetime.timezone.utc)
    row = {"job_id": "foreign-j", "batch_id": "aware", "job_name": "a-job1",
           "state": "succeeded", "reason": None, "execution_millis": 5, "ts": utc, "seq": 1}
    pq_mod.write_table(pa.Table.from_pylist([row], schema=schema),
                       os.path.join(store.root, "jobs", "part-foreign.parquet"))
    _assert_index_matches_fresh(store)
    assert store.get_last_successful_ts("a-job1") == utc.astimezone().replace(tzinfo=None)
    assert store.get_previous_batch("a-nightly").id == "aware"
    assert store.get_previous_batch("a-nightly", exclude_id="aware").id == "a-b1"


def test_index_matches_fresh_store_after_multiprocess_race(tmp_path):
    import multiprocessing as mp

    root = str(tmp_path / "admin_mp")
    warm = SparkAdminStore(None, root)
    _fill_ledger(warm, datetime.datetime(2024, 3, 1, 11, 0), "pre")
    _assert_index_matches_fresh(warm)
    ctx = mp.get_context("spawn")
    with ctx.Pool(4) as pool:
        assert sorted(pool.map(_mp_worker, [(root, w, 6) for w in range(4)])) == [0, 1, 2, 3]
    _assert_index_matches_fresh(warm)
    assert warm.get_batch("batch-w3").execution_millis.value == 3000 + 5
    assert len(warm.get_job_results("batch-w2")) == 6


@pytest.mark.parametrize("rewrite", ["compact", "delete_old_batches"])
@pytest.mark.parametrize("by", ["self", "other"])
def test_index_matches_fresh_store_after_rewrites(tmp_path, rewrite, by):
    root = str(tmp_path / "admin")
    warm = SparkAdminStore(None, root)
    now = datetime.datetime.now()
    _fill_ledger(warm, now - datetime.timedelta(days=30), "old")
    _fill_ledger(warm, now - datetime.timedelta(hours=1), "new")
    _assert_index_matches_fresh(warm)
    rewriter = warm if by == "self" else SparkAdminStore(None, root)
    if rewrite == "compact":
        rewriter.compact()
    else:
        rewriter.delete_old_batches(cutoff=now - datetime.timedelta(days=3))
    _assert_index_matches_fresh(warm)
    if rewrite == "delete_old_batches":
        assert warm.get_batch("old-b0") is None and warm.get_last_successful_ts("old-job1") is None
        assert warm.get_batch("new-b0") is not None
    # appends after the rewrite land on top of the rewritten index
    _fill_ledger(warm, now, "after", n_batches=2)
    _assert_index_matches_fresh(warm)


def _analytics(store, as_of):
    """Every analytical read of the store, as Spark DataFrames."""
    from lime_etl_spark.adapter.admin_store import job_health_stats

    return {
        "batch_log": store.read_log("batch_log"),
        "job_log": store.read_log("job_log"),
        "batches": store.snapshot_as_of("batches", as_of),
        "jobs": store.snapshot_as_of("jobs", as_of),
        "job_health_stats": job_health_stats(store),
    }


def _counted(frames):
    from collections import Counter

    return {k: Counter(df.collect()) for k, df in frames.items()}


@pytest.mark.parametrize("rewrite", ["compact", "delete_old_batches"])
def test_analytics_frames_are_snapshots_that_survive_rewrites(spark, tmp_path, rewrite):
    """A DataFrame taken before a rewrite retires the files it was read
    from, and first run after it, returns the rows of a twin run before
    it; a DataFrame taken after the rewrite shows the rewritten ledger."""
    store = SparkAdminStore(spark, str(tmp_path / "admin"))
    now = datetime.datetime.now()
    _fill_ledger(store, now - datetime.timedelta(days=30), "old")
    _fill_ledger(store, now - datetime.timedelta(hours=1), "new")
    for i in range(4):  # two files in each log partition
        store.log("batch_log", LogLevel.INFO, f"line {i}", "b", ts=now)
        store.log("job_log", LogLevel.INFO, f"line {i}", "b", "job", ts=now)
        if i % 2:
            store.flush_logs()
    want = _counted(_analytics(store, now))
    assert all(want.values())
    frames = _analytics(store, now)
    if rewrite == "compact":
        store.compact()
    else:
        store.delete_old_batches(cutoff=now - datetime.timedelta(days=3))
    assert _counted(frames) == want
    assert (_counted(_analytics(store, now)) == want) == (rewrite == "compact")


def test_snapshot_as_of_matches_the_index(spark, tmp_path):
    """``snapshot_as_of`` past the newest ts holds the same latest job
    versions as the index, a part file with a tz-typed ts included."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    from lime_etl_spark.adapter.admin_store import _JOBS

    store = SparkAdminStore(spark, str(tmp_path / "admin"))
    t0 = datetime.datetime(2026, 3, 1, 9, 0)
    _fill_ledger(store, t0, "a")
    _fill_ledger(store, t0 + datetime.timedelta(hours=1), "b")
    schema = _JOBS.set(6, pa.field("ts", pa.timestamp("us", tz="UTC")))
    utc = datetime.datetime(2026, 3, 3, 8, 0, tzinfo=datetime.timezone.utc)
    row = {"job_id": "foreign-j", "batch_id": "a-b0", "job_name": "a-job1",
           "state": "succeeded", "reason": None, "execution_millis": 5, "ts": utc, "seq": 1}
    pq_mod.write_table(pa.Table.from_pylist([row], schema=schema),
                       os.path.join(store.root, "jobs", "part-foreign.parquet"))
    index = {
        (r.id, r.batch_id, r.job_name, str(r.status.state), r.status.reason,
         r.execution_millis.value, r.ts)
        for b in _ledger_keys(store.root)["batch_ids"]
        for r in store.get_job_results(b)
    }
    snapshot = {
        (r.job_id, r.batch_id, r.job_name, r.state, r.reason, r.execution_millis, r.ts)
        for r in store.snapshot_as_of("jobs", datetime.datetime(2026, 3, 4)).collect()
    }
    assert snapshot == index and len(index) == 19


def test_lookups_read_only_unseen_part_files(tmp_path, monkeypatch):
    """Read-count guard: a warm store reads no file for repeated lookups
    or its own appends, exactly the new file after a foreign append, and
    the rewritten files once after a foreign compaction."""
    import os

    import pyarrow.parquet as pq_mod

    root = str(tmp_path / "admin")
    warm = SparkAdminStore(None, root)
    other = SparkAdminStore(None, root)
    t0 = datetime.datetime(2026, 4, 1, 9, 0)
    _fill_ledger(other, t0, "x")

    reads = []
    real_read_table, real_parquet_file = pq_mod.read_table, pq_mod.ParquetFile

    def read_table(source, *args, **kwargs):
        reads.append(source)
        return real_read_table(source, *args, **kwargs)

    def parquet_file(source, *args, **kwargs):
        reads.append(source)
        return real_parquet_file(source, *args, **kwargs)

    monkeypatch.setattr(pq_mod, "read_table", read_table)
    monkeypatch.setattr(pq_mod, "ParquetFile", parquet_file)

    def lookups():
        warm.get_batch("x-b0")
        warm.get_previous_batch("x-nightly")
        warm.get_last_successful_ts("x-job1")
        warm.latest_test_results("x-job2")
        warm.get_test_results({"x-b0-j0"})

    def files_on_disk():
        return sum(
            len(os.listdir(os.path.join(root, t))) for t in ("batches", "jobs", "test_results")
        )

    lookups()
    assert len(reads) == files_on_disk()  # cold: every part file once
    reads.clear()
    for _ in range(3):
        lookups()
    assert reads == []

    _fill_ledger(warm, t0, "own", n_batches=1)
    lookups()
    assert warm.get_batch("own-b0") is not None
    assert reads == []

    other.save_batch(BatchStatus(
        id="x-b9", name="x-nightly", job_results=frozenset(),
        execution_success_or_failure=Result.success(), execution_millis=ExecutionMillis(9),
        running=False, ts=t0))
    lookups()
    assert len(reads) == 1 and warm.get_previous_batch("x-nightly").id == "x-b9"
    reads.clear()

    other.compact()
    reads.clear()
    assert files_on_disk() == 3
    lookups()
    assert len(reads) == 3  # one rebuild: each table's single compacted file
    reads.clear()
    lookups()
    assert reads == []
    _assert_index_matches_fresh(warm)


def test_row_counts_are_disk_rows(tmp_path):
    import pyarrow.parquet as pq_mod

    store = SparkAdminStore(None, str(tmp_path / "admin"))
    assert store.row_counts() == {"batches": 0, "jobs": 0, "test_results": 0}
    _fill_ledger(store, datetime.datetime(2026, 4, 1, 9, 0), "r")
    want = {t: pq_mod.read_table(f"{store.root}/{t}").num_rows for t in ("batches", "jobs", "test_results")}
    assert store.row_counts() == want == {"batches": 5, "jobs": 18, "test_results": 18}
    store.compact()
    assert store.row_counts() == want


def test_earliest_log_ts_none_without_rows(tmp_path):
    store = SparkAdminStore(None, str(tmp_path / "admin"))
    assert store.earliest_log_ts("batch_log") is None
    store.log("batch_log", LogLevel.INFO, "old", "b1", ts=NOW - datetime.timedelta(days=10))
    store.log("job_log", LogLevel.INFO, "newer", "b1", "j", ts=NOW)
    assert store.earliest_log_ts("batch_log") == NOW - datetime.timedelta(days=10)
    assert store.earliest_log_ts("job_log") == NOW
    store.delete_old_logs(cutoff=NOW - datetime.timedelta(days=3))
    assert store.earliest_log_ts("batch_log") is None


class _YieldingInt(int):
    """An int whose ``+`` lets other threads run, so an unguarded
    read-increment-write of a counter of this type gets interleaved."""

    def __add__(self, other):
        import time

        time.sleep(0)
        return _YieldingInt(int(self) + other)


def _run_threads(n_threads, body):
    """Run ``body(w)`` on n_threads threads started together, switching
    between them as often as the interpreter allows."""
    import sys
    import threading

    start = threading.Barrier(n_threads)

    def run(w):
        start.wait()
        body(w)

    threads = [threading.Thread(target=run, args=(w,)) for w in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)


def test_log_entry_ids_unique_across_threads(tmp_path):
    import pyarrow.parquet as pq_mod

    store = SparkAdminStore(None, str(tmp_path / "admin"))
    store._entry_id = _YieldingInt(store._entry_id)
    n_threads, n_calls = 8, 500

    def body(w):
        for i in range(n_calls):
            store.log("job_log", LogLevel.INFO, f"w{w} line {i}", "b1", f"job_{w}", ts=NOW)

    _run_threads(n_threads, body)
    store.flush_logs()
    ids = pq_mod.read_table(f"{store.root}/job_log").column("entry_id").to_pylist()
    assert len(ids) == n_threads * n_calls
    assert len(set(ids)) == n_threads * n_calls


def test_index_matches_fresh_store_after_threaded_appends_and_lookups(tmp_path):
    """Worker threads of the parallel runner save results and read the
    gates on one store at once; the index must end as a fresh read."""
    store = SparkAdminStore(None, str(tmp_path / "admin"))
    t0 = datetime.datetime(2026, 5, 1, 9, 0)

    def body(w):
        for i in range(10):
            _fill_ledger(store, t0 + datetime.timedelta(hours=i), f"w{w}-{i}", n_batches=1)
            store.latest_test_results(f"w{w}-{i}-job1")
            store.get_last_successful_ts(f"w{w}-{i}-job2")
            store.get_batch(f"w{w}-{i}-b0")

    _run_threads(8, body)
    _assert_index_matches_fresh(store)
    assert len(store.get_job_results("w7-9-b0")) == 3


# --- rewrites next to concurrent appenders ---------------------------------------


@pytest.mark.parametrize("rewrite", ["compact", "delete_old_batches"])
def test_rewrite_keeps_rows_appended_while_it_writes(tmp_path, monkeypatch, rewrite):
    """A second store appends a jobs row while the first store's rewrite
    is inside its write step: a fresh store sees every appended row, as
    on a copy of the ledger that got the same append and no rewrite."""
    import os
    import shutil

    import pyarrow.parquet as pq_mod

    root, clean_root = str(tmp_path / "admin"), str(tmp_path / "clean")
    t0 = datetime.datetime(2026, 6, 1, 9, 0)
    rewriter = SparkAdminStore(None, root)
    _fill_ledger(rewriter, t0, "a", n_batches=2)
    shutil.copytree(root, clean_root)
    late = JobResult(id="late-j", batch_id="a-b1", job_name="job_b", status=JobStatus.success(),
                     execution_millis=ExecutionMillis(7), ts=t0)
    SparkAdminStore(None, clean_root).save_job_result(late)
    before = rewriter.row_counts()

    appender, real_write, armed = SparkAdminStore(None, root), pq_mod.write_table, [True]

    def write_table(tbl, where, *args, **kwargs):
        real_write(tbl, where, *args, **kwargs)
        if armed[0] and os.path.relpath(where, root).lstrip(".").startswith("jobs"):
            armed[0] = False  # the rewrite of jobs has written its new file
            appender.save_job_result(late)

    with monkeypatch.context() as m:
        m.setattr(pq_mod, "write_table", write_table)
        if rewrite == "compact":
            rewriter.compact()
        else:
            rewriter.delete_old_batches(cutoff=datetime.datetime(2000, 1, 1))
    assert not armed[0]

    fresh = SparkAdminStore(None, root)
    assert fresh.row_counts() == {**before, "jobs": before["jobs"] + 1}
    assert fresh.get_last_successful_ts("job_b") == t0
    keys = _ledger_keys(clean_root)
    assert _getters(fresh, keys) == _getters(SparkAdminStore(None, clean_root), keys)
    _assert_index_matches_fresh(rewriter)


def test_lookup_during_an_append_skips_the_unfinished_file(tmp_path, monkeypatch):
    """Another store's lookups while an append's file is half-written
    neither raise nor see the unfinished row."""
    import pyarrow.parquet as pq_mod

    root = str(tmp_path / "admin")
    t0 = datetime.datetime(2026, 6, 1, 9, 0)
    writer, reader = SparkAdminStore(None, root), SparkAdminStore(None, root)
    _fill_ledger(writer, t0, "a", n_batches=1)
    jobs_before = reader.row_counts()["jobs"]
    seen, real_write = {}, pq_mod.write_table

    def write_table(tbl, where, *args, **kwargs):
        with open(where, "wb") as f:
            f.write(b"PAR1")  # the bytes a parquet writer puts down first
        seen["ts"] = reader.get_last_successful_ts("late-job")
        seen["jobs"] = len(reader.get_job_results("a-b0"))
        seen["rows"] = reader.row_counts()["jobs"]
        real_write(tbl, where, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(pq_mod, "write_table", write_table)
        writer.save_job_result(JobResult(
            id="late-j", batch_id="a-b0", job_name="late-job", status=JobStatus.success(),
            execution_millis=ExecutionMillis(1), ts=t0))
    assert seen == {"ts": None, "jobs": 3, "rows": jobs_before}
    assert reader.get_last_successful_ts("late-job") == t0
    assert len(reader.get_job_results("a-b0")) == 4


def _mp_paced_appender(args) -> int:
    """Child-process body: one batch version and one job row at a time,
    with a pause after each, so the appends span many of the parent
    process's rewrites."""
    root, w, n = args
    import datetime as dt
    import time

    from lime_etl_spark.adapter.admin_store import SparkAdminStore
    from lime_etl_spark.domain.statuses import BatchStatus, JobResult, JobStatus
    from lime_etl_spark.domain.value_objects import ExecutionMillis, Result

    store, ts = SparkAdminStore(None, root), dt.datetime(2024, 3, 1, 12, 0)
    for i in range(n):
        store.save_batch(BatchStatus(
            id=f"batch-w{w}", name=f"batch-w{w}", job_results=frozenset(),
            execution_success_or_failure=Result.success(), execution_millis=ExecutionMillis(i),
            running=False, ts=ts))
        store.save_job_result(JobResult(
            id=f"job-w{w}-{i}", batch_id=f"batch-w{w}", job_name=f"job_w{w}",
            status=JobStatus.success(), execution_millis=ExecutionMillis(i), ts=ts))
        time.sleep(0.01)
    return w


def _mp_rewriter(root, stop) -> None:
    """Child-process body: loop the rewrites until ``stop`` is set."""
    import datetime as dt

    from lime_etl_spark.adapter.admin_store import SparkAdminStore

    store = SparkAdminStore(None, root)
    while not stop.is_set():
        store.compact()
        store.delete_old_batches(cutoff=dt.datetime(2000, 1, 1))


def test_rewrites_next_to_multiprocess_appends_lose_nothing(tmp_path, rewriter_procs=0):
    """Three processes append batches and jobs while this one loops
    compact() and delete_old_batches(cutoff in the past), and
    ``rewriter_procs`` more processes loop them too: no row is lost or
    duplicated, and a fresh store's getters match the rewriting store's."""
    import multiprocessing as mp

    root = str(tmp_path / "admin_mp")
    warm = SparkAdminStore(None, root)
    _fill_ledger(warm, datetime.datetime(2024, 3, 1, 11, 0), "pre")
    pre = warm.row_counts()
    n_workers, n, seen = 3, 60, []
    ctx = mp.get_context("spawn")
    stop = ctx.Event()
    rewriters = [ctx.Process(target=_mp_rewriter, args=(root, stop), daemon=True)
                 for _ in range(rewriter_procs)]
    for p in rewriters:
        p.start()
    with ctx.Pool(n_workers) as pool:
        done = pool.map_async(_mp_paced_appender, [(root, w, n) for w in range(n_workers)])
        while not done.ready():
            warm.compact()
            warm.delete_old_batches(cutoff=datetime.datetime(2000, 1, 1))
            seen.append(warm.row_counts()["batches"])
        assert sorted(done.get()) == list(range(n_workers))
    stop.set()
    for p in rewriters:
        p.join(timeout=60)
        assert p.exitcode == 0  # no rewrite raised in the other process
    assert len(set(seen)) >= 3  # the rewrites ran while the others appended

    assert SparkAdminStore(None, root).row_counts() == {
        "batches": pre["batches"] + n_workers * n,
        "jobs": pre["jobs"] + n_workers * n,
        "test_results": pre["test_results"],
    }
    _assert_index_matches_fresh(warm)
    for w in range(n_workers):
        assert warm.get_batch(f"batch-w{w}").execution_millis.value == n - 1
        assert len(warm.get_job_results(f"batch-w{w}")) == n


def test_rewrites_in_two_processes_next_to_appends_lose_and_duplicate_nothing(tmp_path):
    test_rewrites_next_to_multiprocess_appends_lose_nothing(tmp_path, rewriter_procs=1)


# --- one rewriter at a time ---------------------------------------------------------


def test_a_second_rewriter_waits_for_the_first(tmp_path, monkeypatch):
    """Store B's compact() starts on another thread once store A's
    compact() has listed the batches files. B waits for A's rewrite;
    neither raises, and no row is lost or duplicated (with both
    rewrites interleaved, each published a file that retired the same
    inputs, and both stayed live)."""
    import threading

    from lime_etl_spark.adapter import admin_store

    root = str(tmp_path / "admin")
    a, b = SparkAdminStore(None, root), SparkAdminStore(None, root)
    _fill_ledger(a, datetime.datetime(2026, 6, 1, 9, 0), "a")
    before = a.row_counts()
    errors, blocked, armed = [], [], [threading.get_ident()]
    real_part_files = admin_store._part_files

    def b_compact():
        try:
            b.compact()
        except Exception as e:  # noqa: BLE001 - reported by the assertion below
            errors.append(e)

    other = threading.Thread(target=b_compact)

    def part_files(dir_path):
        names = real_part_files(dir_path)
        if armed and armed[0] == threading.get_ident() and dir_path.endswith("batches"):
            armed.clear()  # A has listed the batches files
            other.start()
            other.join(timeout=0.5)
            blocked.append(other.is_alive())
        return names

    monkeypatch.setattr(admin_store, "_part_files", part_files)
    a.compact()
    other.join(timeout=60)
    assert not other.is_alive() and errors == []
    assert blocked == [True]
    assert SparkAdminStore(None, root).row_counts() == before
    _assert_index_matches_fresh(a)


def test_readers_and_rewriters_on_threads_of_one_process_all_finish(tmp_path):
    """Stores on one root, three reading and three rewriting, each on
    its own thread: the shared and exclusive locks of one process never
    wait on each other for good, and every read is whole."""
    root = str(tmp_path / "admin")
    seed = SparkAdminStore(None, root)
    _fill_ledger(seed, datetime.datetime(2026, 6, 1, 9, 0), "a")
    seed.log("batch_log", LogLevel.INFO, "line", "a-b0", ts=NOW)
    seed.flush_logs()
    want, errors, counts = seed.row_counts(), [], []

    def body(w):
        store = SparkAdminStore(None, root)
        try:
            for _ in range(10):
                if w % 2:
                    store.compact()
                    store.delete_old_batches(cutoff=datetime.datetime(2000, 1, 1))
                    continue
                counts.append(store.row_counts())
                assert store._arrow("jobs").num_rows == want["jobs"]
                assert store.earliest_log_ts("batch_log") == NOW
                assert SparkAdminStore(None, root).get_batch("a-b0") is not None
        except Exception as e:  # noqa: BLE001 - reported by the assertion below
            errors.append(e)

    _run_threads(6, body)
    assert errors == []
    assert counts == [want] * 30


def test_a_fresh_store_reads_foreign_part_files_once(tmp_path, monkeypatch):
    """A fresh store learns each part file's retire set from its footer
    alone, so reading a table over N foreign part files reads their
    data in one call, and counting their rows reads no data."""
    import pyarrow.parquet as pq_mod

    root = str(tmp_path / "admin")
    _fill_ledger(SparkAdminStore(None, root), datetime.datetime(2026, 4, 1, 9, 0), "x")
    reads, real_read_table = [], pq_mod.read_table

    def read_table(source, *args, **kwargs):
        reads.append(source)
        return real_read_table(source, *args, **kwargs)

    monkeypatch.setattr(pq_mod, "read_table", read_table)
    fresh = SparkAdminStore(None, root)
    assert fresh._arrow("jobs").num_rows == 18  # over 18 part files
    assert len(reads) == 1
    reads.clear()
    counts = SparkAdminStore(None, root).row_counts()
    assert counts == {"batches": 5, "jobs": 18, "test_results": 18}
    assert reads == []


# --- crash safety of the rewrites ------------------------------------------------


class _Crash(BaseException):
    """A crash injected into one filesystem step of a rewrite; a
    BaseException, so no ``except Exception`` can tidy up after it."""


def _inject_crash(monkeypatch, step, which):
    """Make one step of a rewrite of a directory whose name starts with
    ``which`` raise: ``write`` (after its hidden rewrite file is
    written), ``publish`` (renaming that file into the directory) or
    ``retire`` (after the first of the files it replaces is deleted)."""
    import os

    import pyarrow.parquet as pq_mod

    def ours(path, hidden):
        d, name = os.path.split(path)
        return os.path.basename(d).startswith(which) and name.startswith(".rewrite-") == hidden

    real_write, real_rename, real_remove = pq_mod.write_table, os.rename, os.remove

    def write_table(tbl, where, *args, **kwargs):
        real_write(tbl, where, *args, **kwargs)
        if step == "write" and ours(where, hidden=True):
            raise _Crash(step)

    def rename(src, dst):
        if step == "publish" and ours(src, hidden=True):
            raise _Crash(step)
        real_rename(src, dst)

    def remove(path):
        real_remove(path)
        if step == "retire" and ours(path, hidden=False):
            raise _Crash(step)

    monkeypatch.setattr(pq_mod, "write_table", write_table)
    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(os, "remove", remove)


def _hidden_entries(root):
    import os

    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
        if n.startswith(".")
    )


def _logs(spark, root):
    store = SparkAdminStore(spark, root)
    rows = store.read_log("batch_log").collect() + store.read_log("job_log").collect()
    earliest = (store.earliest_log_ts("batch_log"), store.earliest_log_ts("job_log"))
    return sorted((r["entry_id"], r["message"], r["log_date"]) for r in rows), earliest


@pytest.mark.parametrize("step", ["write", "publish", "retire"])
@pytest.mark.parametrize(
    "rewrite,which",
    [("compact", "jobs"), ("compact", "log_date="), ("delete_old_batches", "jobs")],
)
def test_rewrite_crash_at_any_step_loses_nothing(spark, tmp_path, monkeypatch, rewrite, which, step):
    """A crash at any filesystem step of a ledger rewrite leaves every
    getter of a fresh store, and the log reads, as they were before it,
    or once the rewrite file is published, as a clean rewrite leaves
    them; re-running the rewrite then matches the clean run, and leaves
    no hidden file behind."""
    import shutil

    root, clean_root = str(tmp_path / "admin"), str(tmp_path / "clean")
    now = datetime.datetime.now()
    cutoff = now - datetime.timedelta(days=3)
    store = SparkAdminStore(None, root)
    _fill_ledger(store, now - datetime.timedelta(days=30), "old")
    _fill_ledger(store, now - datetime.timedelta(hours=1), "new")
    for i in range(4):  # two files in each of two log partitions
        for day in (0, 1):
            ts = now - datetime.timedelta(days=day)
            store.log("job_log", LogLevel.INFO, f"line {i}", "b", "job", ts=ts)
            store.log("batch_log", LogLevel.INFO, f"line {i}", "b", ts=ts)
        if i % 2:
            store.flush_logs()
    shutil.copytree(root, clean_root)

    def run(s):
        return s.compact() if rewrite == "compact" else s.delete_old_batches(cutoff)

    run(SparkAdminStore(None, clean_root))
    keys = _ledger_keys(root)
    before = _getters(SparkAdminStore(None, root), keys)
    clean = _getters(SparkAdminStore(None, clean_root), keys)
    logs_before = _logs(spark, root)
    assert _hidden_entries(clean_root) == []

    with monkeypatch.context() as m:
        _inject_crash(m, step, which)
        with pytest.raises(_Crash):
            run(SparkAdminStore(None, root))

    got = _getters(SparkAdminStore(None, root), keys)
    bad = [k for k in got if got[k] not in (before[k], clean[k])]
    assert not bad, f"after a crash at {step}, getters lost state: {bad[:5]}"
    assert _logs(spark, root) == logs_before
    run(SparkAdminStore(None, root))
    assert _getters(SparkAdminStore(None, root), keys) == clean
    assert _logs(spark, root) == logs_before
    assert _hidden_entries(root) == []
