"""User-defined function surface (SURVEY §2.10).

Reference:
  - SQL lambda UDF `CREATE FUNCTION f AS (x) -> x*2` substituted into the
    AST at analysis (src/Functions/UserDefined/UserDefinedSQLFunctionFactory
    .cpp, UserDefinedSQLFunctionVisitor.cpp) → Spark 4 SQL UDFs (CREATE
    TEMPORARY FUNCTION ... RETURN expr), which Catalyst likewise inlines —
    the UDF body optimizes with the query, stays in codegen, never hits
    Python.
  - Executable UDF (rows over stdin/stdout of an external process,
    src/Functions/UserDefined/UserDefinedExecutableFunction.cpp) →
    pandas_udf: Arrow batches to a Python worker — the same process-
    boundary model with a far cheaper transport.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from clickhouse_23_3_19_32_lts_spark.dialect import (
    ChSqlError,
    _ensure_udfs,
    _on_session,
    _rewrite,
    _tokenize,
)

_CREATE_FN_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)"
    r"\s+AS\s*\(\s*(?P<params>[^)]*)\)\s*->\s*(?P<body>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def create_sql_function(
    spark: SparkSession,
    ddl: str,
    param_types: dict[str, str] | None = None,
) -> str:
    """Execute ClickHouse `CREATE FUNCTION name AS (params) -> body` on
    Spark: translate the body through the dialect layer and register a SQL
    UDF. Parameter types default to DOUBLE (ClickHouse lambdas are untyped;
    pass param_types={'s': 'STRING', ...} where that default is wrong).
    Returns the registered function name.
    """
    m = _CREATE_FN_RE.match(ddl)
    if not m:
        raise ChSqlError(f"not a CREATE FUNCTION ... AS (args) -> body statement: {ddl!r}")
    name = m.group("name")
    params = [p.strip() for p in m.group("params").split(",") if p.strip()]
    with _on_session(spark):
        body = _ensure_udfs(_rewrite(_tokenize(m.group("body"))))
    types = param_types or {}
    sig = ", ".join(f"{p} {types.get(p, 'DOUBLE')}" for p in params)
    spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({sig}) RETURN {body}")
    return name


def executable_udf(spark, name: str, fn, return_type: str):
    """Executable-UDF analogue: register a vectorized (Arrow-batched)
    pandas UDF under `name` for use in SQL.

    fn: callable taking/returning pandas Series (one per argument).
    """
    u = pandas_udf(fn, returnType=return_type)
    spark.udf.register(name, u)
    return u
