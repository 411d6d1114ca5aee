"""Shared test fixtures: one SparkSession per test run, DuckDB oracle helper."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_23_3_19_32_lts_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MID = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


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
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()
