"""Engine: session wrapper + table registry over partitioned Parquet.

Reference analogue: the database/table catalog (`src/Interpreters/Context.h`,
`src/Storages/StorageFactory.cpp` in /root/reference) — here a table is a
named Parquet location registered as a temp view; Spark's catalog handles
resolution, and Catalyst handles every optimization the reference does at
AST/QueryPlan level (SURVEY.md §4.1 "What Catalyst already does").

Scale notes: registration is lazy (no data read until an action); scans get
partition discovery + row-group pruning from the Parquet source.
"""

from __future__ import annotations

import os

import pyarrow.parquet as papq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark import log


def _listing(path: str) -> tuple[tuple, str | None]:
    """One recursive listing of a table path: its staleness key and the
    footer file `_nanos_ts_columns` reads (None for an empty directory).

    The key is the (mtime_ns, size) of the path and of every file beneath
    it, so a rewrite, an append or a delete anywhere in a Hive-partitioned
    tree (`tbl/p=1/part-0.parquet`) changes it even when no directory
    mtime moves."""
    st = os.stat(path)
    key: list = [(path, st.st_mtime_ns, st.st_size)]
    footer = None if os.path.isdir(path) else path
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            fst = os.stat(p)
            key.append((p, fst.st_mtime_ns, fst.st_size))
            if footer is None and name.endswith(".parquet"):
                footer = p
    return tuple(key), footer


def _nanos_ts_columns(footer: str | None) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS) (Spark reads them as
    long under spark.sql.legacy.parquet.nanosAsLong). Footer-only read."""
    if footer is None:
        return []
    schema = papq.read_schema(footer)
    return [
        name
        for name, typ in zip(schema.names, schema.types)
        if str(typ) == "timestamp[ns]"
    ]


# Table-read memo, one entry per path: (listing key, inferred schema,
# TIMESTAMP(NANOS) columns, session, DataFrame handle). It holds plan
# metadata only, never data or results: a DataFrame is a lazy plan handle,
# and every action re-reads the parquet files. Schema inference costs
# ~160 ms of driver time per read (a footer-reading job), an explicit
# schema ~35 ms, and a reused handle nothing; star queries read up to 7
# tables per build. A changed listing key replaces the path's entry, so
# the memo holds one entry per path and never serves a stale read. A
# handle is reused only by the session that made it; another session
# with the same key reuses the schema and skips inference.
_READS: dict[str, tuple] = {}


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet + ns→µs timestamp restoration.

    DuckDB truncates ns→µs the same way (its TIMESTAMP is µs), so the oracle
    sees identical values. The division happens in codegen, JVM-side.
    """
    key, footer = _listing(path)
    hit = _READS.get(path)
    if hit is not None and hit[0] == key:
        _, schema, nanos_cols, owner, df = hit
        if owner is spark:
            return df
    else:
        schema, nanos_cols = None, _nanos_ts_columns(footer)
    if nanos_cols:
        # Spark 4 rejects TIMESTAMP(NANOS) outright unless this (runtime-
        # settable) conf is on — the driver may hand us a session without it.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception as e:  # noqa: BLE001 — conf may be locked; reads then fail loudly
            log.warning(
                "conf spark.sql.legacy.parquet.nanosAsLong=true refused, reading %s "
                "(TIMESTAMP(NANOS) columns %s) without it: %s", path, nanos_cols, e,
            )
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        schema = df.schema
    for c in nanos_cols:
        # integer division: double division would lose precision at ~1.7e18 ns
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    _READS[path] = (key, schema, nanos_cols, spark, df)
    return df


class Engine:
    """Session wrapper + table registry.

    >>> eng = Engine(spark, "/root/testdata/sf0.01")
    >>> eng.table("lineitem").groupBy("l_returnflag").count()
    >>> eng.sql("SELECT count(*) AS n FROM lineitem")
    """

    def __init__(self, spark: SparkSession, data_dir: str | None = None):
        self.spark = spark
        self._tables: dict[str, DataFrame] = {}
        if data_dir:
            self.register_dir(data_dir)

    # -- registry ----------------------------------------------------------
    def register_dir(self, data_dir: str) -> "Engine":
        """Register every ``<name>.parquet`` under ``data_dir`` as a view."""
        for name in sorted(os.listdir(data_dir)):
            if name.endswith(".parquet"):
                self.register_parquet(name[: -len(".parquet")], os.path.join(data_dir, name))
        return self

    def register_parquet(self, name: str, path: str) -> DataFrame:
        df = read_parquet_table(self.spark, path)
        self._tables[name] = df
        df.createOrReplaceTempView(name)
        return df

    def register(self, name: str, df: DataFrame) -> DataFrame:
        self._tables[name] = df
        df.createOrReplaceTempView(name)
        return df

    def table(self, name: str) -> DataFrame:
        if name not in self._tables:
            raise KeyError(f"table {name!r} not registered (have {sorted(self._tables)})")
        return self._tables[name]

    def tables(self) -> list[str]:
        return sorted(self._tables)

    # -- query -------------------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """Run Spark SQL against the registered views."""
        return self.spark.sql(query)

    def ch_sql(self, query: str) -> DataFrame:
        """Run a ClickHouse-dialect query (dialect.translate + execute)."""
        from clickhouse_23_3_19_32_lts_spark.dialect import ch_sql

        return ch_sql(self.spark, query)

    # -- EXPLAIN variants (SURVEY §2.11, ASTExplainQuery.h:20-27) ----------
    EXPLAIN_MODES = {
        "AST": "parsed",  # EXPLAIN AST → parsed logical plan
        "SYNTAX": "analyzed",  # EXPLAIN SYNTAX → analyzed (rewritten) plan
        "QUERY TREE": "optimized",  # EXPLAIN QUERY TREE → optimized logical
        "PLAN": "formatted",  # EXPLAIN [PLAN] → physical plan
        "PIPELINE": "formatted",  # EXPLAIN PIPELINE ≈ physical operators
        "ESTIMATE": "cost",  # EXPLAIN ESTIMATE → stats-annotated plan
    }

    def explain(self, df_or_sql: DataFrame | str, mode: str = "PLAN") -> str:
        """EXPLAIN [AST|SYNTAX|QUERY TREE|PLAN|PIPELINE|ESTIMATE] query."""
        df = self.sql(df_or_sql) if isinstance(df_or_sql, str) else df_or_sql
        mode = mode.upper()
        if mode not in self.EXPLAIN_MODES:
            raise ValueError(f"unknown EXPLAIN mode {mode!r}")
        spark_mode = self.EXPLAIN_MODES[mode]
        qe = df._jdf.queryExecution()
        if spark_mode == "parsed":
            return qe.logical().toString()
        if spark_mode == "analyzed":
            return qe.analyzed().toString()
        if spark_mode == "optimized":
            return qe.optimizedPlan().toString()
        if spark_mode == "cost":
            return qe.stringWithStats()
        return qe.explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    # -- catalog DDL (SURVEY §2.11: SHOW/DESCRIBE/DROP/RENAME) -------------
    def show_tables(self) -> list[str]:
        return self.tables()

    def describe(self, name: str) -> list[tuple[str, str]]:
        return self.table(name).dtypes

    def drop(self, name: str) -> None:
        self._tables.pop(name, None)
        self.spark.catalog.dropTempView(name)

    def rename(self, old: str, new: str) -> None:
        df = self.table(old)
        self.drop(old)
        self.register(new, df)

    def create_live_view(self, name: str, query):
        """CREATE LIVE VIEW (StorageLiveView.cpp): a stored query whose
        watch() re-evaluates and versions on content change."""
        from clickhouse_23_3_19_32_lts_spark.operators.live_view import LiveView

        lv = LiveView(self.spark, query, name=name)
        self._live_views = getattr(self, "_live_views", {})
        self._live_views[name] = lv
        return lv

    def live_view(self, name: str):
        return getattr(self, "_live_views", {})[name]

    # -- DDL: CREATE TABLE with MergeTree-family policy --------------------
    def create_table(self, name: str, path: str, **policy_kwargs):
        """CREATE TABLE ... ENGINE = <MergeTree family>: returns a
        PolicyTable and registers its FINAL view under `name` once data
        exists. policy_kwargs → policies.PolicyTable (order_by,
        partition_by, policy, keys, version, sign, constraints, defaults).
        """
        from clickhouse_23_3_19_32_lts_spark.policies import PolicyTable

        table = PolicyTable(self.spark, path, **policy_kwargs)
        self._policy_tables = getattr(self, "_policy_tables", {})
        self._policy_tables[name] = table
        if os.path.exists(path):
            self.register(name, table.final())
        return table

    def refresh(self, name: str) -> DataFrame:
        """Re-register a policy table's FINAL view after inserts."""
        table = self._policy_tables[name]
        return self.register(name, table.final())

    # -- aggregate projections (SURVEY §4.1 rewrite layer) -----------------
    def create_projection(
        self, table: str, path: str, keys: list[str], measures: list[str]
    ):
        """ALTER TABLE ... ADD PROJECTION + MATERIALIZE: build a partial-
        aggregate summary for `table` and register it for agg() rewrites."""
        from clickhouse_23_3_19_32_lts_spark.projections import (
            AggregateProjection,
            ProjectionRegistry,
        )

        if not hasattr(self, "_projection_registry"):
            self._projection_registry = ProjectionRegistry()
        proj = AggregateProjection(self.spark, path, keys, measures)
        proj.build(self.table(table))
        self._projection_registry.register(table, proj)
        return proj

    def aggregate(
        self, table: str, group_cols: list[str], aggs: dict[str, tuple[str, str]]
    ) -> DataFrame:
        """GROUP BY with projection substitution: answered from a matching
        materialized summary when possible, else from the base table —
        the optimizeUseAggregateProjection behavior at the API layer."""
        if hasattr(self, "_projection_registry"):
            df, _ = self._projection_registry.aggregate(
                table, self.table(table), group_cols, aggs
            )
            return df
        from clickhouse_23_3_19_32_lts_spark.projections import ProjectionRegistry

        df, _ = ProjectionRegistry().aggregate(table, self.table(table), group_cols, aggs)
        return df

    # -- write path --------------------------------------------------------
    def insert(self, name: str, df: DataFrame, mode: str = "append", path: str | None = None) -> None:
        """INSERT INTO semantics: append parquet at the table's location.

        Reference: InterpreterInsertQuery (SURVEY.md §2.1). For a registered
        parquet table a path is required; re-registration refreshes the view.
        """
        if path is None:
            raise ValueError("insert() needs the table's parquet path")
        df.write.mode(mode).parquet(path)
        self.register_parquet(name, path)

