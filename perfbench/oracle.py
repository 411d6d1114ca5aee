"""Answer checks: engine output against DuckDB over the same parquet files.

The normalisation is the one the repository's strict oracle gate uses
(``tools/driver_sim.py``): columns sorted by name, strings as ``str``,
floats rounded to 6 places, timestamps at microseconds, rows sorted. Floats
then compare within 2e-6 absolute or 1e-9 relative, so a sum accumulated
in another order cannot flip a rounded digit into a false mismatch.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        s = pdf[c]
        if s.dtype == object:
            pdf[c] = s.map(lambda v: None if v is None else str(v))
        elif s.dtype.kind == "f":
            pdf[c] = s.round(6)
        elif str(s.dtype).startswith("datetime64"):
            pdf[c] = s.astype("datetime64[us]")
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True, na_position="first")


def _same_value(a, b) -> bool:
    a_na, b_na = pd.isna(a), pd.isna(b)
    if a_na or b_na:
        return bool(a_na and b_na)
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=2e-6)
    return a == b


def same_answer(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Both sides already normalised."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns:
        a, b = got[c], want[c]
        fast = (a.isna() & b.isna()) | (a == b)
        if not fast.all():
            bad = ~fast
            if not all(_same_value(x, y) for x, y in zip(a[bad], b[bad])):
                return False
    return True


def duck_connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con
