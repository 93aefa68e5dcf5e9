from __future__ import annotations

import os
import time

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
def dst_local_tz(monkeypatch):
    """The process's local time zone set to one with DST
    (America/New_York) for the test, then restored."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()
