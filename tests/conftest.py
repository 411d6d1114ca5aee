"""Shared test fixtures: one SparkSession per test run, DuckDB oracle helper."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_23_3_19_32_lts_spark.session import get_spark  # noqa: E402

from tests.oracle_check import duck_views  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # get_spark sizes the driver heap from physical memory. A fixed large
    # heap lets G1 expand instead of collecting: round-9 suite runs at 48g
    # watched the JVM balloon to ~54 GB RSS over the golden corpus and then
    # die silently. Overridable for debugging via SPARK_GRAFT_TEST_DRIVER_MEM.
    mem = os.environ.get("SPARK_GRAFT_TEST_DRIVER_MEM")
    s = get_spark(
        app_name="tests",
        shuffle_partitions=8,
        extra_confs={"spark.driver.memory": mem} if mem else None,
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same tables registered as views."""
    con = duck_views(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir_mid() -> str:
    return SF_DIR_MID


@pytest.fixture(scope="session")
def duck_mid():
    """The same views over the sf0.01 tables, the driver's oracle scale."""
    con = duck_views(SF_DIR_MID)
    yield con
    con.close()
