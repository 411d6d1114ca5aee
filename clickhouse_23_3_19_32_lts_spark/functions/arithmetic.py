"""Arithmetic + comparison + logical families.

Reference: src/Functions/plus.cpp:51, minus.cpp, multiply.cpp, divide.cpp,
intDiv.cpp:129, modulo.cpp:160, FunctionsComparison.h, FunctionsLogical.cpp.

Semantics notes (SURVEY §1.3): ClickHouse `/` on integers yields Float64
(same as Spark non-ANSI), intDiv truncates toward zero (C++ semantics),
modulo keeps the dividend's sign (C++ %), integer overflow wraps.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col

__all__ = [
    "plus", "minus", "multiply", "divide", "intDiv", "intDivOrZero",
    "modulo", "moduloOrZero", "positiveModulo", "negate", "abs_", "gcd",
    "lcm", "max2", "min2", "equals", "notEquals", "less", "greater",
    "lessOrEquals", "greaterOrEquals", "and_", "or_", "not_", "xor",
    "isFinite", "isInfinite", "isNaN",
]


@chfn("plus")
def plus(a, b) -> Column:
    return col(a) + col(b)


@chfn("minus")
def minus(a, b) -> Column:
    return col(a) - col(b)


@chfn("multiply")
def multiply(a, b) -> Column:
    return col(a) * col(b)


@chfn("divide")
def divide(a, b) -> Column:
    """Always floating-point division (intDiv is the integer form)."""
    return col(a).cast("double") / col(b)


@chfn("intDiv")
def intDiv(a, b) -> Column:
    """Integer division truncating toward zero (src/Functions/intDiv.cpp):
    Spark's integral `div`, which takes no DOUBLE, over DECIMAL(38,10). That
    holds every 64-bit integer exactly, so the quotient is exact over the
    whole 64-bit range, and a float to ten decimal places."""
    return F.call_function("div", col(a).cast("decimal(38,10)"), col(b).cast("decimal(38,10)"))


@chfn("intDivOrZero")
def intDivOrZero(a, b) -> Column:
    """intDiv, but 0 where it would fail: a zero divisor, or the minimum
    of the dividend's type over -1 (DivisionUtils.h checkedDivision). The
    minimum is the one nonzero value that negates to itself."""
    x, y = col(a), col(b)
    fails = (y == 0) | ((y == -1) & (x != 0) & (-x == x))
    return F.when(fails, F.lit(0)).otherwise(intDiv(x, y))


@chfn("modulo", "mod")
def modulo(a, b) -> Column:
    """C++ % — result keeps the dividend's sign. Spark % is identical."""
    return col(a) % col(b)


@chfn("moduloOrZero")
def moduloOrZero(a, b) -> Column:
    """x % 0 → 0 for integers, but float fmod keeps IEEE semantics → nan
    (ModuloOrZeroImpl in src/Functions/moduloOrZero.cpp only guards the
    integral division path)."""
    ca, cb = col(a), col(b)
    float_div = cb.cast("string").rlike(r"[.eE]") | ca.cast("string").rlike(r"[.eE]")
    return (
        F.when((cb == 0) & float_div, F.lit(float("nan")))
        .when(cb == 0, F.lit(0))
        .otherwise(ca % cb)
    )


@chfn("positiveModulo", "positive_modulo", "pmod")
def positiveModulo(a, b) -> Column:
    """Always non-negative: a mod |b| (FunctionsModulo positiveModuloImpl) —
    Spark's pmod follows the divisor's sign instead."""
    return F.pmod(col(a), F.abs(col(b)))


@chfn("negate")
def negate(a) -> Column:
    return -col(a)


@chfn("abs")
def abs_(a) -> Column:
    return F.abs(col(a))


@chfn("gcd")
def gcd(a, b) -> Column:
    # Euclid via pure SQL is awkward; Spark lacks gcd. aggregate-loop over
    # a bounded iteration count (64 steps covers 64-bit ints).
    x, y = F.abs(col(a)), F.abs(col(b))
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(64)),
        F.struct(x.cast("long").alias("x"), y.cast("long").alias("y")),
        lambda acc, _: F.struct(
            F.when(acc.y != 0, acc.y).otherwise(acc.x).alias("x"),
            F.when(acc.y != 0, acc.x % acc.y).otherwise(F.lit(0)).alias("y"),
        ),
        lambda acc: acc.x,
    )


@chfn("lcm")
def lcm(a, b) -> Column:
    g = gcd(a, b)
    return F.when(g == 0, F.lit(0)).otherwise(F.abs(col(a) * col(b)) / g).cast("long")


@chfn("max2")
def max2(a, b) -> Column:
    return F.greatest(col(a).cast("double"), col(b).cast("double"))


@chfn("min2")
def min2(a, b) -> Column:
    return F.least(col(a).cast("double"), col(b).cast("double"))


@chfn("equals")
def equals(a, b) -> Column:
    return col(a) == col(b)


@chfn("notEquals")
def notEquals(a, b) -> Column:
    return col(a) != col(b)


@chfn("less")
def less(a, b) -> Column:
    return col(a) < col(b)


@chfn("greater")
def greater(a, b) -> Column:
    return col(a) > col(b)


@chfn("lessOrEquals")
def lessOrEquals(a, b) -> Column:
    return col(a) <= col(b)


@chfn("greaterOrEquals")
def greaterOrEquals(a, b) -> Column:
    return col(a) >= col(b)


@chfn("and")
def and_(*xs) -> Column:
    out = col(xs[0])
    for x in xs[1:]:
        out = out & col(x)
    return out


@chfn("or")
def or_(*xs) -> Column:
    out = col(xs[0])
    for x in xs[1:]:
        out = out | col(x)
    return out


@chfn("not")
def not_(a) -> Column:
    return ~col(a)


@chfn("xor")
def xor(a, b) -> Column:
    return col(a).cast("boolean") != col(b).cast("boolean")


@chfn("isFinite")
def isFinite(a) -> Column:
    c = col(a)
    return (~F.isnan(c)) & (c != F.lit(float("inf"))) & (c != F.lit(float("-inf")))


@chfn("isInfinite")
def isInfinite(a) -> Column:
    c = col(a)
    return (c == F.lit(float("inf"))) | (c == F.lit(float("-inf")))


@chfn("isNaN")
def isNaN(a) -> Column:
    return F.isnan(col(a))
