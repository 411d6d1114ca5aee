"""Local replica of the driver's DuckDB-oracle compare.

Mirrors the protocol in FIXTURES.md §Oracle: run the Spark query and the
oracle SQL over the same parquet files, sort columns by name, sort rows,
round floats to 6 dp, then require exact equality (a stand-in for the
driver's value hash). `tools/driver_sim.py` uses the same functions.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

FLOAT_PRECISION = 6
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the fixture tables under `sf_dir` as views."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        s = pdf[c]
        if s.dtype == object:
            # HUGEINT etc. come back as Python ints/Decimals; stringify uniformly
            pdf[c] = s.map(lambda v: None if v is None else str(v))
        elif s.dtype.kind == "f":
            pdf[c] = s.round(FLOAT_PRECISION)
        elif str(s.dtype).startswith("datetime64"):
            pdf[c] = s.astype("datetime64[us]")
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True, na_position="first")


def compare(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    """Exact compare of two normalized frames: same columns, same row
    count, and every cell equal (or both null)."""
    if list(got.columns) != list(want.columns):
        return False, f"schema mismatch: spark={list(got.columns)} duck={list(want.columns)}"
    if len(got) != len(want):
        return False, f"row count mismatch: spark={len(got)} duck={len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        eq = (a.isna() & b.isna()) | (a == b)
        if not eq.all():
            i = (~eq).idxmax()
            return False, f"value mismatch col={c} row={i}: spark={a[i]!r} duck={b[i]!r}"
    return True, "ok"


def assert_matches_oracle(spark_df, duck_con, oracle: str) -> None:
    ok, msg = compare(normalize(spark_df.toPandas()), normalize(duck_con.sql(oracle).df()))
    assert ok, msg
