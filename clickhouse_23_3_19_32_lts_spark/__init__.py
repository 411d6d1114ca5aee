"""PySpark-native analytics engine with the query and data-processing
capabilities of ClickHouse 23.3 LTS (reference: lukoou3/ClickHouse-23.3.19.32-lts).

Not a port: tables are partitioned Parquet read as DataFrames, queries are
Catalyst logical plans (DataFrame / Spark SQL), aggregation and joins use
Spark's native partial/final hash agg and broadcast/sort-merge join machinery.
ClickHouse-specific surface (function names, ASOF/ANY joins, LIMIT BY,
WITH FILL, MergeTree table policies, event-analytics aggregates, dedup
sketches) is provided as library code on top.

Layout (per SURVEY.md §7):
  engine.py        -- Engine: session wrapper + table registry over parquet dirs
  session.py       -- tuned local SparkSession builder
  functions/       -- ClickHouse function name -> Spark Column builder registry
  dialect.py       -- ClickHouse SQL -> Spark SQL translation (ch_sql)
  udf.py           -- CREATE FUNCTION and executable UDFs
  operators/       -- ASOF/ANY join, ARRAY JOIN, LIMIT BY, WITH FILL, TOTALS,
                      SAMPLE, live views
  pipeline/        -- LLM-data operators: dedup, similarity search/ANN, text
                      metrics, multimodal columns
  sources/         -- readers + table functions (numbers, generateRandom, ...)
  streaming/       -- tumble/hop/watermark wrappers over Structured Streaming
  policies.py      -- MergeTree-family semantics (Replacing/Summing/... + FINAL)
  projections.py   -- aggregate projections with query rewrite
  chtypes.py       -- static ClickHouse type inference for the dialect
  queries*.py      -- the registry of oracle-backed benchmark queries
"""

import logging

# The package logger. Every fallback warns here instead of passing silently.
# Defined before the submodule imports below, which import it.
log = logging.getLogger(__name__)

from clickhouse_23_3_19_32_lts_spark.engine import Engine  # noqa: E402
from clickhouse_23_3_19_32_lts_spark.session import get_spark  # noqa: E402

__all__ = ["Engine", "get_spark"]
__version__ = "0.1.0"
