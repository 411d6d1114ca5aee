"""Every registered query must exactly match its DuckDB oracle at sf0.01,
the driver's t2 gate and scale (the compare of tools/driver_sim.py)."""

from __future__ import annotations

import pytest

from clickhouse_23_3_19_32_lts_spark.queries import all_oracles, all_queries
from tests.oracle_check import assert_matches_oracle

ORACLES = all_oracles()
QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, sf_dir_mid, duck_mid):
    df = QUERIES[name](spark, sf_dir_mid)
    assert_matches_oracle(df, duck_mid, ORACLES[name])


def test_sql_builders_leave_no_views(spark, sf_dir):
    """The single-statement builders bind their tables per query: building
    them leaves the session's view list as it was. A fresh session, so no
    earlier test's views hide a leak."""
    session = spark.newSession()
    before = session.sql("SHOW VIEWS").collect()
    for name in ("q05_regional_revenue", "ssb_q3_1", "ssb_q4_1"):
        QUERIES[name](session, sf_dir)
    assert session.sql("SHOW VIEWS").collect() == before


def test_every_query_runs(spark, sf_dir):
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())
