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


def spark_sql_hash64(expr: str) -> str:
    """Spark SQL fragment: the 60-bit hash of the string expression `expr`."""
    return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"


def spark_sql_hash28(expr: str) -> str:
    """Spark SQL fragment: the 28-bit base hash (first 7 md5 hex chars) of
    the string expression `expr`, for MinHash and the doc fingerprint."""
    return f"cast(conv(substring(md5({expr}), 1, 7), 16, 10) as bigint)"


def sql_hash64(expr: str, seed: int | None = None) -> str:
    """DuckDB SQL fragment computing the same 60-bit hash as spark_sql_hash64."""
    if seed is not None:
        expr = f"({expr} || '|{seed}')"
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"
