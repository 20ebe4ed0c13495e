"""Shared Spark session and testdata fixture for the test suite."""

from __future__ import annotations

import os

import pytest

from prom_spark.session import get_spark

# smallest scale factor of the shared testdata tables (TESTDATA.md)
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="prom_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": str(8 * 1024 * 1024)},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def sf_dir():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"testdata missing: {SF_DIR}")
    return SF_DIR
