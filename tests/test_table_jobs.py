"""TableRefreshJob / DataTestJob end-to-end through the batch runner."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lime_etl_spark.adapter.admin_store import SparkAdminStore
from lime_etl_spark.domain import SparkBatchSpec
from lime_etl_spark.service.runner import run_batch
from lime_etl_spark.service.table_jobs import (
    DataTestJob,
    TableRefreshJob,
    referential_check,
)
from lime_etl_spark.sources.readers import load_table


def test_full_then_incremental_refresh(spark, sf_dir, tmp_path):
    target = str(tmp_path / "orders_mart")
    store = SparkAdminStore(spark, str(tmp_path / "admin"))

    def first_load(s):
        return load_table(s, sf_dir, "orders").where(F.col("o_orderkey") % 2 == 0)

    full = TableRefreshJob(
        name="orders_full", source=first_load, target_path=target, keys=["o_orderkey"]
    )
    r1 = run_batch(SparkBatchSpec(name="mart_batch", jobs=[full]), spark, store)
    assert r1.broken_jobs == set()
    n_even = spark.read.parquet(target).count()
    assert n_even > 0

    # increment: the odd keys plus an UPDATE of one even key
    def increment(s):
        odd = load_table(s, sf_dir, "orders").where(F.col("o_orderkey") % 2 == 1)
        updated = (
            load_table(s, sf_dir, "orders")
            .where(F.col("o_orderkey") % 2 == 0)
            .limit(1)
            .withColumn("o_orderpriority", F.lit("UPDATED"))
        )
        return odd.unionByName(updated)

    inc = TableRefreshJob(
        name="orders_inc",
        source=increment,
        target_path=target,
        mode="incremental",
        keys=["o_orderkey"],
    )
    r2 = run_batch(SparkBatchSpec(name="mart_batch2", jobs=[inc]), spark, store)
    assert r2.broken_jobs == set()
    out = spark.read.parquet(target)
    assert out.count() == load_table(spark, sf_dir, "orders").count()
    assert out.where("o_orderpriority = 'UPDATED'").count() == 1
    # built-in tests persisted (row floor + key uniqueness)
    tested = store.latest_test_results("orders_inc")
    assert {t.test_name for t in tested} == {
        "orders_inc: at least 1 rows",
        "orders_inc: unique on ['o_orderkey']",
    }
    assert all(t.test_passed for t in tested)


def test_refresh_failure_detected_by_row_floor(spark, tmp_path):
    store = SparkAdminStore(spark, str(tmp_path / "admin"))
    empty = TableRefreshJob(
        name="empty_mart",
        source=lambda s: s.range(0).select(F.col("id").alias("k")),
        target_path=str(tmp_path / "empty_mart"),
        expect_min_rows=1,
    )
    result = run_batch(SparkBatchSpec(name="empty_batch", jobs=[empty]), spark, store)
    assert result.broken_jobs == {"empty_mart"}  # ran ok, data test failed


def test_data_test_job_referential(spark, sf_dir, tmp_path):
    store = SparkAdminStore(spark, str(tmp_path / "admin"))
    child = str(tmp_path / "li")
    parent = str(tmp_path / "ord")

    li = TableRefreshJob(
        name="li_mart",
        source=lambda s: load_table(s, sf_dir, "lineitem").select("l_orderkey", "l_quantity"),
        target_path=child,
    )
    orders = TableRefreshJob(
        name="ord_mart",
        source=lambda s: load_table(s, sf_dir, "orders").select("o_orderkey"),
        target_path=parent,
    )
    ri = DataTestJob(
        name="ri_checks",
        checks=[
            referential_check(child, parent, "l_orderkey", "o_orderkey", "lineitem->orders fk")
        ],
        dependencies=["li_mart", "ord_mart"],
    )
    result = run_batch(
        SparkBatchSpec(name="ri_batch", jobs=[li, orders, ri]), spark, store
    )
    assert result.broken_jobs == set()
    persisted = store.latest_test_results("ri_checks")
    assert [t.test_name for t in persisted] == ["lineitem->orders fk"]
    assert persisted[0].test_passed


def test_refresh_observes_rows_written_without_extra_scan(spark, sf_dir, tmp_path):
    """The rows-written metric must come from the Observation riding
    the write action (last_metrics), matching the persisted count."""
    from lime_etl_spark.domain.specs import JobContext
    from lime_etl_spark.service.table_jobs import TableRefreshJob

    target = str(tmp_path / "nation_copy")
    job = TableRefreshJob(
        name="nation_refresh",
        source=lambda s: s.read.parquet(f"{sf_dir}/nation.parquet"),
        target_path=target,
    )

    class _Log:
        def info(self, msg):
            self.last = msg

    ctx = JobContext(spark=spark, logger=_Log(), resources={})
    status = job.run(ctx)
    assert status.is_success
    n = spark.read.parquet(target).count()
    assert job.last_metrics["rows_written"] == n
    assert str(n) in ctx.logger.last


class _Crash(BaseException):
    """A crash injected into one filesystem step of the target's swap."""


class _Log:
    def info(self, msg):
        self.last = msg


@pytest.mark.parametrize("step", ["write", "aside", "forward", "drop"])
def test_incremental_refresh_crash_at_any_step_loses_no_rows(spark, tmp_path, monkeypatch, step):
    """A crash at any filesystem step of an incremental refresh leaves
    no visible temp directory beside the target, and re-running the job
    gives the same rows as a run that never crashed."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from lime_etl_spark.domain.specs import JobContext
    from lime_etl_spark.sources.fs import _Fs

    base = [(k, k % 3, f"v{k}") for k in range(60)]
    delta = [(k, k % 3, f"w{k}") for k in range(40, 90)]

    def refresh(lake, mode, rows):
        job = TableRefreshJob(
            name="orders_mart", target_path=os.path.join(lake, "orders"), mode=mode,
            keys=["k"], partition_by=["p"],
            source=lambda s: s.createDataFrame(rows, "k long, p long, v string"),
        )
        job.run(JobContext(spark=spark, logger=_Log()))

    def target_rows(lake):
        return sorted(spark.read.parquet(os.path.join(lake, "orders")).collect())

    clean, lake = str(tmp_path / "clean"), str(tmp_path / "lake")
    for d in (clean, lake):
        refresh(d, "full", base)
    refresh(clean, "incremental", delta)

    def ours(path, kind):
        return os.path.basename(path.rstrip("/")).startswith(f".orders.{kind}-")

    real_parquet, real_rename, real_delete = DataFrameWriter.parquet, _Fs.rename, _Fs.delete

    def parquet(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        if step == "write" and ours(path, "tmp"):
            raise _Crash(step)

    def rename(self, src, dst):
        if (step == "aside" and ours(dst, "old")) or (step == "forward" and ours(src, "tmp")):
            raise _Crash(step)
        real_rename(self, src, dst)

    def delete(self, path):
        if step == "drop" and ours(path, "old"):
            raise _Crash(step)
        real_delete(self, path)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        m.setattr(_Fs, "rename", rename)
        m.setattr(_Fs, "delete", delete)
        with pytest.raises(_Crash):
            refresh(lake, "incremental", delta)
    assert {n for n in os.listdir(lake) if not n.startswith(".")} <= {"orders"}
    refresh(lake, "incremental", delta)
    assert target_rows(lake) == target_rows(clean)
    assert os.listdir(lake) == ["orders"]


def _tested(spark, tmp_path, rows):
    """Refresh a keyed target from ``rows`` and return its built-in test results."""
    from lime_etl_spark.domain.specs import JobContext

    job = TableRefreshJob(
        name="keyed_mart", target_path=str(tmp_path / "keyed_mart"), keys=["k"],
        source=lambda s: s.createDataFrame(rows, "k long, v string"),
    )
    ctx = JobContext(spark=spark, logger=_Log())
    job.run(ctx)
    return {t.test_name: t.outcome for t in job.test(ctx)}


def test_refresh_test_counts_duplicated_keys(spark, tmp_path):
    outcomes = _tested(spark, tmp_path, [(1, "a"), (1, "b"), (2, "c"), (3, "d")])
    assert outcomes["keyed_mart: at least 1 rows"].is_success
    assert outcomes["keyed_mart: unique on ['k']"].failure_message == "1 duplicated keys"


def test_refresh_test_on_an_empty_keyed_target(spark, tmp_path):
    outcomes = _tested(spark, tmp_path, [])
    assert outcomes["keyed_mart: at least 1 rows"].failure_message == "only 0 rows"
    assert outcomes["keyed_mart: unique on ['k']"].is_success


def test_incremental_first_load_is_unique_on_keys(spark, tmp_path):
    """An incremental refresh dedupes on its keys on every run, the first
    one too, when there is no target to upsert into yet."""
    from lime_etl_spark.domain.specs import JobContext

    job = TableRefreshJob(
        name="keyed_mart", target_path=str(tmp_path / "keyed_mart"), mode="incremental",
        keys=["k"], source=lambda s: s.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k long, v string"),
    )
    ctx = JobContext(spark=spark, logger=_Log())
    job.run(ctx)
    assert spark.read.parquet(str(tmp_path / "keyed_mart")).count() == 2
    assert job.last_metrics["rows_written"] == 2
    assert "incremental upsert on ['k']" in ctx.logger.last
    assert all(t.test_passed for t in job.test(ctx))


def test_rewrite_leaves_sibling_swaps_in_flight_alone(tmp_path):
    """Parallel refresh jobs swap sibling targets in one lake directory,
    so a rewrite must not finish or drop a sibling's swap: ``orders`` is
    between its two renames and ``customer`` has yet to drop its aside
    while ``lineitem`` is rewritten."""
    import os

    from lime_etl_spark.sources.fs import overwrite_dir

    a, b = "1" * 32, "2" * 32
    in_flight = [f".orders.old-{a}", f".orders.tmp-{a}", "customer", f".customer.old-{b}"]
    for name in in_flight:
        (tmp_path / name).mkdir()
    overwrite_dir(None, str(tmp_path / "lineitem"), os.makedirs)
    assert sorted(os.listdir(tmp_path)) == sorted(in_flight + ["lineitem"])


# --- tests fused into the write -------------------------------------------------


def _job(tmp_path, rows, name="fused_mart", **kw):
    return TableRefreshJob(
        name=name, target_path=str(tmp_path / "mart"),
        source=lambda s: s.createDataFrame(rows, "k long, p long, v string"), **kw,
    )


def test_test_after_run_starts_no_job_on_an_unkeyed_target(spark, tmp_path, spark_jobs):
    """The row floor after the job's own run is the write's Observation:
    the unkeyed test reads nothing."""
    from lime_etl_spark.domain.specs import JobContext

    job = _job(tmp_path, [(k, k % 3, "v") for k in range(10)], partition_by=["p"])
    ctx = JobContext(spark=spark, logger=_Log())
    job.run(ctx)
    results, jobs = spark_jobs(lambda: job.test(ctx))
    assert jobs == 0
    assert [(t.test_name, t.test_passed) for t in results] == [("fused_mart: at least 1 rows", True)]


@pytest.mark.parametrize("partition_by", [None, ["p"], ["k"]])
def test_test_after_run_starts_at_most_two_jobs_on_a_keyed_target(spark, tmp_path, spark_jobs, partition_by):
    """The keyed test after the job's own run reads the key columns with
    the written key types (no schema discovery) and asks whether any key
    repeats: at most 2 Spark jobs, with the target partitioned on a key
    column too."""
    from lime_etl_spark.domain.specs import JobContext

    job = _job(tmp_path, [(k, k % 3, "v") for k in range(10)], keys=["k"], partition_by=partition_by)
    ctx = JobContext(spark=spark, logger=_Log())
    job.run(ctx)
    results, jobs = spark_jobs(lambda: job.test(ctx))
    assert jobs <= 2
    assert all(t.test_passed for t in results) and len(results) == 2


def test_fused_test_counts_duplicated_keys_of_a_target_partitioned_on_its_key(spark, tmp_path):
    """The key-only read takes the key from the partition directories."""
    from lime_etl_spark.domain.specs import JobContext

    rows = [(1, 0, "a"), (1, 0, "b"), (2, 0, "c"), (2, 1, "d"), (2, 2, "e"), (3, 0, "f")]
    job = _job(tmp_path, rows, keys=["k"], partition_by=["k"])
    ctx = JobContext(spark=spark, logger=_Log())
    job.run(ctx)
    outcomes = {t.test_name: t.outcome for t in job.test(ctx)}
    assert outcomes["fused_mart: at least 1 rows"].is_success
    assert outcomes["fused_mart: unique on ['k']"].failure_message == "2 duplicated keys"


def test_test_without_its_own_run_reads_the_target(spark, tmp_path):
    """A test with no prior run, or after another writer replaced the
    target's files, reads the target: the numbers are the target's, not
    the last write's."""
    from lime_etl_spark.domain.specs import JobContext

    ctx = JobContext(spark=spark, logger=_Log())
    ran = _job(tmp_path, [(1, 0, "a"), (2, 0, "b")], keys=["k"], expect_min_rows=3)
    ran.run(ctx)
    outcomes = {t.test_name: t.outcome for t in ran.test(ctx)}
    assert outcomes["fused_mart: at least 3 rows"].failure_message == "only 2 rows"
    assert outcomes["fused_mart: unique on ['k']"].is_success
    _job(tmp_path, [(1, 0, "a"), (1, 0, "b"), (1, 0, "c")], name="other_mart", keys=["v"]).run(ctx)
    for job in (ran, _job(tmp_path, [], keys=["k"], expect_min_rows=3)):  # target changed; never ran
        outcomes = {t.test_name: t.outcome for t in job.test(ctx)}
        assert outcomes["fused_mart: at least 3 rows"].is_success
        assert outcomes["fused_mart: unique on ['k']"].failure_message == "1 duplicated keys"


@pytest.mark.parametrize("mode", ["full", "incremental"])
def test_run_with_a_key_missing_from_the_source_writes_nothing(spark, tmp_path, mode):
    """Keys that are not columns of the source fail the run before the
    target is touched: a missing target stays missing, an existing one
    keeps its files."""
    import os

    from lime_etl_spark.domain.specs import JobContext

    ctx = JobContext(spark=spark, logger=_Log())
    target = tmp_path / "mart"
    bad = _job(tmp_path, [(1, 0, "a")], keys=["k", "nope"], mode=mode)
    with pytest.raises(ValueError, match=r"keys \['nope'\] are not columns of the source"):
        bad.run(ctx)
    assert not target.exists() and os.listdir(tmp_path) == []
    _job(tmp_path, [(1, 0, "a")], keys=["k"]).run(ctx)
    before = sorted(os.listdir(target))
    with pytest.raises(ValueError, match="nope"):
        bad.run(ctx)
    assert sorted(os.listdir(target)) == before and os.listdir(tmp_path) == ["mart"]


def test_referential_check_counts_orphans(spark, tmp_path, spark_jobs):
    """The orphan count is exact when the anti-join is not empty; when it
    is empty the warm check runs no schema discovery."""
    child, parent = str(tmp_path / "child"), str(tmp_path / "parent")
    spark.createDataFrame([(1,), (2,), (5,), (6,), (6,)], "fk long").write.parquet(child)
    spark.createDataFrame([(1,), (2,), (3,)], "pk long").write.parquet(parent)
    check = referential_check(child, parent, "fk", "pk", "child->parent")
    assert check(spark).outcome.failure_message == "3 orphan rows"
    spark.createDataFrame([(1,), (2,)], "fk long").write.mode("overwrite").parquet(child)
    check(spark)
    result, jobs = spark_jobs(lambda: check(spark))
    assert result.test_passed and result.test_name == "child->parent"
    assert jobs <= 2
