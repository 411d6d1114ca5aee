"""UDF surface tests: ClickHouse SQL-lambda UDFs and executable-UDF
(pandas) registration."""

from __future__ import annotations

import pandas as pd
import pytest

from clickhouse_23_3_19_32_lts_spark.dialect import ChSqlError
from clickhouse_23_3_19_32_lts_spark.udf import create_sql_function, executable_udf


def test_create_sql_function_basic(spark):
    create_sql_function(spark, "CREATE FUNCTION linear_eq AS (x, k, b) -> k*x + b")
    got = spark.sql("SELECT linear_eq(2.0, 3.0, 1.0) AS v").collect()[0]["v"]
    assert got == 7.0


def test_create_sql_function_with_ch_body(spark):
    # body uses ClickHouse function names — translated before registration
    create_sql_function(
        spark,
        "CREATE FUNCTION month_key AS (d) -> toYYYYMM(d)",
        param_types={"d": "TIMESTAMP"},
    )
    got = spark.sql("SELECT month_key(TIMESTAMP '2024-03-05') AS v").collect()[0]["v"]
    assert got == 202403


def test_create_sql_function_registers_catalog_udfs(spark):
    """A body that names Python UDF kernels registers them on the session
    the function is created on, so it resolves there on first use."""
    other = spark.newSession()
    create_sql_function(
        other,
        "CREATE FUNCTION cell_key AS (lon, lat, s) -> (geoToH3(lon, lat, 15), cityHash64(s))",
        param_types={"s": "STRING"},
    )
    got = other.sql("SELECT cell_key(37.79506683, 55.71290588, 'abc') AS v").first()["v"]
    assert [str(x) for x in got] == ["644325524701193974", "4220206313085259313"]


def test_create_sql_function_inlines_into_plan(spark, sf_dir):
    """The reference inlines SQL UDFs into the AST; Spark SQL UDFs likewise
    disappear into the optimized plan (no UDF call node, plain codegen)."""
    create_sql_function(spark, "CREATE FUNCTION disc_price AS (p, d) -> p * (1 - d)")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView("li_udf")
    df = spark.sql("SELECT sum(disc_price(l_extendedprice, l_discount)) AS s FROM li_udf")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "disc_price" not in plan  # inlined, not a black-box call
    assert df.collect()[0]["s"] > 0


def test_create_sql_function_rejects_garbage(spark):
    with pytest.raises(ChSqlError):
        create_sql_function(spark, "CREATE TABLE t (x Int64)")


def test_executable_udf(spark):
    executable_udf(spark, "py_double_it", lambda s: s * 2, "double")
    got = spark.sql("SELECT py_double_it(21.0) AS v").collect()[0]["v"]
    assert got == 42.0


def test_executable_udf_batched(spark, sf_dir):
    def zscore(s: pd.Series) -> pd.Series:
        return (s - s.mean()) / s.std()

    executable_udf(spark, "batch_z", zscore, "double")
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("o_udf")
    rows = spark.sql("SELECT batch_z(o_totalprice) AS z FROM o_udf LIMIT 10").collect()
    assert len(rows) == 10 and all(r["z"] is not None for r in rows)
