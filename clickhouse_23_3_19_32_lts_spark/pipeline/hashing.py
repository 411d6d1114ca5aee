"""Portable 60-bit hash: identical values in Spark SQL and DuckDB.

The dedup sketches (minhash/simhash — reference:
src/Functions/FunctionsStringHash.cpp:766-793) need a hash both the engine
and the correctness oracle can compute bit-identically. md5 is available in
both; the first 15 hex chars (60 bits) parse into a signed 64-bit int
without overflow on either side.

Cost note: md5 is ~5× slower than xxhash64, but it runs JVM-side in
whole-stage codegen — at 100 TB the scan, not the hash, dominates.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash64(c: Column | str, seed: int | None = None) -> Column:
    """60-bit deterministic hash of a string column; equals sql_hash64()."""
    col = F.col(c) if isinstance(c, str) else c
    if seed is not None:
        col = F.concat(col, F.lit(f"|{seed}"))
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_hash64(expr: str, seed: int | None = None) -> str:
    """DuckDB SQL fragment computing the same 60-bit hash as portable_hash64."""
    if seed is not None:
        expr = f"({expr} || '|{seed}')"
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"
