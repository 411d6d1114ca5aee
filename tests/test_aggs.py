"""Unit tests for aggregate-family queries that register without an oracle
(sketch-based, engine-specific) — bound their error vs exact instead."""

from __future__ import annotations

import pytest


def test_uniq_approx_relative_error(spark, sf_dir):
    from clickhouse_23_3_19_32_lts_spark.queries import all_queries

    rows = all_queries()["q_uniq_approx"](spark, sf_dir).collect()
    assert rows, "no groups"
    for r in rows:
        # the query is self-verifying: it computes both the HLL estimate and
        # the exact count in-plan and returns the bound check as a boolean
        # (oracle side emits the same exact count with a literal TRUE)
        assert r["exact_orders"] > 0
        assert r["within_5pct"] is True, r


def test_aggregate_builders(spark):
    """CH.* aggregate builders (functions/aggregates.py) against DuckDB-
    known values on a literal frame."""
    from pyspark.sql import functions as F

    from clickhouse_23_3_19_32_lts_spark import functions as CH

    df = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (1, 30.0), (2, 5.0)], ["k", "v"]
    )
    row = (
        df.groupBy("k")
        .agg(
            CH.quantile("v", 0.5).alias("med"),
            CH.uniqExact("v").alias("ue"),
            CH.argMax("v", "v").alias("am"),
            CH.sumIf("v", F.col("v") > 10).alias("si"),
            CH.avgWeighted("v", "v").alias("aw"),
            CH.skewSamp("v").alias("ss"),
        )
        .filter("k = 1")
        .collect()[0]
    )
    assert row["med"] == 20.0
    assert row["ue"] == 3
    assert row["am"] == 30.0
    assert row["si"] == 50.0
    assert abs(row["aw"] - (100 + 400 + 900) / 60) < 1e-9
    assert abs(row["ss"]) < 1e-9  # symmetric sample => 0 skew


def _lambda_invariants(plan) -> list[str]:
    """The SQL of each subexpression of ``plan`` that sits inside a lambda
    body and re-reads the whole group per element. Spark evaluates a lambda
    body once per array element and hoists nothing out of it, so over a
    whole group's array such a subexpression makes a linear aggregate
    quadratic. Two shapes:

    - a subexpression that reads none of the lambda variables bound around
      it and is neither a leaf, a constant nor an aggregate (an aggregate
      counts as a leaf: the plan reads its result once per group);
    - a higher-order function whose array arguments read none of them,
      such as filter(vals, a -> a = v) inside a lambda over v: its lambda
      reads v, but it scans all of vals for each v."""
    from pyspark import SparkContext

    hof = SparkContext._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.HigherOrderFunction"
    )
    found: list[str] = []

    def seq(s) -> list:
        return [s.apply(i) for i in range(s.size())]

    def free(e, in_lambda: bool) -> set:
        # the ids of the lambda variables e reads that e does not bind
        kind = e.getClass().getSimpleName()
        if kind == "NamedLambdaVariable":
            return {e.exprId().id()}
        if kind == "AggregateExpression":
            return set()
        kids = [free(k, in_lambda or kind == "LambdaFunction") for k in seq(e.children())]
        ids = set().union(*kids)
        if kind == "LambdaFunction":
            ids -= {a.exprId().id() for a in seq(e.arguments())}
        elif in_lambda and kids and not ids and not e.foldable():
            found.append(e.sql())
        elif in_lambda and hof.isInstance(e) and not set().union(*kids[: e.arguments().size()]):
            found.append(e.sql())
        return ids

    def walk(p) -> None:
        for e in seq(p.expressions()):
            free(e, False)
        for c in seq(p.children()):
            walk(c)

    walk(plan)
    return found


@pytest.mark.parametrize(
    "name", ["quantileExactWeighted", "quantileTimingWeighted", "quantileInterpolatedWeighted"]
)
def test_weighted_quantile_lambdas_read_no_group_invariant(spark, name):
    """A weighted quantile sorts its group once and scans it once: no lambda
    body re-reads the collected pairs or re-sums their weights."""
    from pyspark.sql import functions as F

    from clickhouse_23_3_19_32_lts_spark import functions as CH

    df = spark.range(4).select(F.col("id").alias("x"), (F.col("id") % 3 + 1).alias("w"))
    plan = df.agg(getattr(CH, name)("x", "w", 0.3))._jdf.queryExecution().analyzed()
    assert _lambda_invariants(plan) == []


@pytest.mark.parametrize("name, args", [
    ("entropy", ("x",)), ("topK", ("x", 2)), ("topKWeighted", ("x", "w", 2)),
    ("groupArrayInsertAt", ("x", "w")),
])
def test_value_count_lambdas_read_no_group_invariant(spark, name, args):
    """entropy and topK count each distinct value, and groupArrayInsertAt
    places each value, with one sort of the group and one scan: no lambda
    body re-filters the collected values."""
    from pyspark.sql import functions as F

    from clickhouse_23_3_19_32_lts_spark import functions as CH

    df = spark.range(4).select(F.col("id").alias("x"), (F.col("id") % 3 + 1).alias("w"))
    plan = df.agg(getattr(CH, name)(*args))._jdf.queryExecution().analyzed()
    assert _lambda_invariants(plan) == []
