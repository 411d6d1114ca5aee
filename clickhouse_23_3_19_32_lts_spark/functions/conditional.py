"""Conditional / null-handling family.

Reference: src/Functions/if.cpp:1123, multiIf.cpp:465, nullIf.cpp,
ifNull.cpp, coalesce.cpp, isNull.cpp, assumeNotNull.cpp,
FunctionsTransform (transform.cpp).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col, lit_or_col

__all__ = [
    "if_", "multiIf", "nullIf", "ifNull", "coalesce", "greatest", "least",
    "isNull", "isNotNull", "assumeNotNull", "toNullable", "isZeroOrNull",
    "transform",
]


@chfn("if", case_insensitive=True)
def if_(cond, then, else_) -> Column:
    return F.when(col(cond), lit_or_col(then)).otherwise(lit_or_col(else_))


@chfn("multiIf", "multi_if")
def multiIf(*args) -> Column:
    """multiIf(c1, v1, c2, v2, ..., else) — CASE WHEN chain."""
    if len(args) < 3 or len(args) % 2 == 0:
        raise ValueError("multiIf needs cond,val pairs plus a final else")
    out = F.when(col(args[0]), lit_or_col(args[1]))
    i = 2
    while i < len(args) - 1:
        out = out.when(col(args[i]), lit_or_col(args[i + 1]))
        i += 2
    return out.otherwise(lit_or_col(args[-1]))


@chfn("nullIf")
def nullIf(a, b) -> Column:
    return F.nullif(col(a), col(b))


@chfn("ifNull")
def ifNull(a, b) -> Column:
    return F.coalesce(col(a), lit_or_col(b))


@chfn("coalesce")
def coalesce(*xs) -> Column:
    return F.coalesce(*[col(x) for x in xs])


@chfn("greatest")
def greatest(*xs) -> Column:
    return F.greatest(*[col(x) for x in xs])


@chfn("least")
def least(*xs) -> Column:
    return F.least(*[col(x) for x in xs])


@chfn("isNull")
def isNull(a) -> Column:
    return col(a).isNull()


@chfn("isNotNull")
def isNotNull(a) -> Column:
    return col(a).isNotNull()


@chfn("assumeNotNull")
def assumeNotNull(a) -> Column:
    """Type-level in ClickHouse; value-level identity here."""
    return col(a)


@chfn("toNullable")
def toNullable(a) -> Column:
    return col(a)


@chfn("isZeroOrNull")
def isZeroOrNull(a) -> Column:
    c = col(a)
    return c.isNull() | (c == 0)


@chfn("transform")
def transform(x, from_vals: list, to_vals: list, default=None) -> Column:
    """CASE-dictionary (src/Functions/transform.cpp): map literal lookup."""
    c = col(x)
    out = F.when(c == F.lit(from_vals[0]), F.lit(to_vals[0]))
    for f_v, t_v in zip(from_vals[1:], to_vals[1:]):
        out = out.when(c == F.lit(f_v), F.lit(t_v))
    return out.otherwise(lit_or_col(default) if default is not None else c)
