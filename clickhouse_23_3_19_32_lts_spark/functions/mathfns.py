"""Math + rounding families.

Reference: src/Functions/exp.cpp, log.cpp, sqrt.cpp, FunctionsRound.cpp:8,
sign.cpp, factorial.cpp, degrees.cpp, radians.cpp, erf.cpp, lgamma.cpp.
All map to Spark builtins (JVM codegen); erf/erfc use the Abramowitz-Stegun
rational approximation inline (Spark has no erf) — max abs error 1.5e-7,
inside the driver's float rounding.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col

__all__ = [
    "e", "pi", "exp", "log", "exp2", "log2", "exp10", "log10",
    "log1p", "sqrt", "cbrt", "sin", "cos", "tan", "asin", "acos", "atan",
    "atan2", "sinh", "cosh", "tanh", "asinh", "acosh", "atanh", "pow",
    "sign", "degrees", "radians", "factorial", "intExp2",
    "intExp10", "erf", "erfc", "lgamma", "tgamma",
    "round_", "roundBankers", "floor_", "ceil_", "trunc_", "roundToExp2",
    "roundDown", "roundDuration", "roundAge",
]


@chfn("e")
def e() -> Column:
    return F.lit(math.e)


@chfn("pi")
def pi() -> Column:
    return F.lit(math.pi)


@chfn("exp")
def exp(x) -> Column:
    return F.exp(col(x))


@chfn("log", "ln")
def log(x) -> Column:
    return F.log(col(x))


@chfn("exp2")
def exp2(x) -> Column:
    return F.pow(F.lit(2.0), col(x))


@chfn("log2")
def log2(x) -> Column:
    return F.log2(col(x))


@chfn("exp10")
def exp10(x) -> Column:
    return F.pow(F.lit(10.0), col(x))


@chfn("log10")
def log10(x) -> Column:
    return F.log10(col(x))


@chfn("log1p")
def log1p(x) -> Column:
    return F.log1p(col(x))


@chfn("sqrt")
def sqrt(x) -> Column:
    return F.sqrt(col(x))


@chfn("cbrt")
def cbrt(x) -> Column:
    return F.cbrt(col(x))


@chfn("sin")
def sin(x) -> Column:
    return F.sin(col(x))


@chfn("cos")
def cos(x) -> Column:
    return F.cos(col(x))


@chfn("tan")
def tan(x) -> Column:
    return F.tan(col(x))


@chfn("asin")
def asin(x) -> Column:
    return F.asin(col(x))


@chfn("acos")
def acos(x) -> Column:
    return F.acos(col(x))


@chfn("atan")
def atan(x) -> Column:
    return F.atan(col(x))


@chfn("atan2")
def atan2(y, x) -> Column:
    return F.atan2(col(y), col(x))


@chfn("sinh")
def sinh(x) -> Column:
    return F.sinh(col(x))


@chfn("cosh")
def cosh(x) -> Column:
    return F.cosh(col(x))


@chfn("tanh")
def tanh(x) -> Column:
    return F.tanh(col(x))


@chfn("asinh")
def asinh(x) -> Column:
    c = col(x)
    return F.log(c + F.sqrt(c * c + 1))


@chfn("acosh")
def acosh(x) -> Column:
    c = col(x)
    return F.log(c + F.sqrt(c * c - 1))


@chfn("atanh")
def atanh(x) -> Column:
    c = col(x)
    return F.log((1 + c) / (1 - c)) / 2


@chfn("pow", "power")
def pow(x, y) -> Column:
    return F.pow(col(x), col(y))


@chfn("sign")
def sign(x) -> Column:
    return F.signum(col(x)).cast("int")


@chfn("degrees")
def degrees(x) -> Column:
    return F.degrees(col(x))


@chfn("radians")
def radians(x) -> Column:
    return F.radians(col(x))


@chfn("factorial")
def factorial(x) -> Column:
    return F.factorial(col(x))


@chfn("intExp2")
def intExp2(x) -> Column:
    # powers of two are exact in double up to 2^62
    return F.pow(F.lit(2.0), col(x)).cast("long")


@chfn("intExp10")
def intExp10(x) -> Column:
    return F.pow(F.lit(10.0), col(x)).cast("long")


@chfn("erf")
def erf(x) -> Column:
    """Abramowitz & Stegun 7.1.26 (|err| <= 1.5e-7)."""
    c = col(x)
    ax = F.abs(c)
    t = 1.0 / (1.0 + 0.3275911 * ax)
    poly = t * (
        0.254829592
        + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))
    )
    y = 1.0 - poly * F.exp(-ax * ax)
    return F.signum(c) * y


@chfn("erfc")
def erfc(x) -> Column:
    return 1.0 - erf(x)


@chfn("lgamma")
def lgamma(x) -> Column:
    """Stirling series; exact for small ints via recursion is overkill —
    ClickHouse delegates to libm; we use the Lanczos-free Stirling form
    valid for x>0 with shift for small x."""
    c = col(x).cast("double")
    # shift x up by 6 for accuracy, then subtract the logs back off
    shifted = c + 6.0
    series = (
        (shifted - 0.5) * F.log(shifted)
        - shifted
        + 0.5 * math.log(2 * math.pi)
        + 1.0 / (12.0 * shifted)
        - 1.0 / (360.0 * shifted**3)
        + 1.0 / (1260.0 * shifted**5)
    )
    correction = (
        F.log(c) + F.log(c + 1) + F.log(c + 2) + F.log(c + 3) + F.log(c + 4) + F.log(c + 5)
    )
    return series - correction


@chfn("tgamma")
def tgamma(x) -> Column:
    return F.exp(lgamma(x))


# -- rounding ---------------------------------------------------------------


@chfn("round")
def round_(x, n=0) -> Column:
    """ClickHouse round() is banker's rounding for Float (nearest-even);
    Spark's `bround` matches. (FunctionsRound.cpp:8)"""
    return F.bround(col(x), n)


@chfn("roundBankers")
def roundBankers(x, n=0) -> Column:
    return F.bround(col(x), n)


@chfn("floor")
def floor_(x, n=0) -> Column:
    if n == 0:
        return F.floor(col(x))
    scale = 10.0**n
    return F.floor(col(x) * scale) / scale


@chfn("ceil", "ceiling")
def ceil_(x, n=0) -> Column:
    if n == 0:
        return F.ceil(col(x))
    scale = 10.0**n
    return F.ceil(col(x) * scale) / scale


@chfn("trunc", "truncate")
def trunc_(x, n=0) -> Column:
    scale = 10.0**n
    return (col(x) * scale).cast("long") / scale if n else col(x).cast("long")


@chfn("roundToExp2")
def roundToExp2(x) -> Column:
    c = col(x)
    return F.when(c < 1, F.lit(0)).otherwise(
        F.pow(F.lit(2.0), F.floor(F.log2(c))).cast("long")
    )


@chfn("roundDown")
def roundDown(x, arr: list) -> Column:
    """Round down to the nearest element of a sorted literal array."""
    c = col(x)
    out = F.lit(arr[0])
    for v in arr[1:]:
        out = F.when(c >= F.lit(v), F.lit(v)).otherwise(out)
    return out


@chfn("roundDuration")
def roundDuration(x) -> Column:
    return roundDown(x, [0, 1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800, 3600, 7200, 18000, 36000])


@chfn("roundAge")
def roundAge(x) -> Column:
    return roundDown(x, [0, 1, 18, 25, 35, 45, 55])
