from __future__ import annotations

import os
import time
import uuid

import pytest

from lime_etl_spark.session import get_spark

SF_DIR = os.environ.get("LIME_SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="lime_etl_spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` -> ``(fn(), number of Spark jobs fn started)``,
    counted as the runner counts them: fn runs in a job group of its own
    and the status tracker lists that group's job ids."""
    sc = spark.sparkContext

    def count(fn):
        group = f"spark_jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted by the spark_jobs fixture")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture()
def dst_local_tz(monkeypatch):
    """The process's local time zone set to one with DST
    (America/New_York) for the test, then restored."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()
