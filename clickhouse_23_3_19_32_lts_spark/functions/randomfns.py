"""Random family.

Reference: src/Functions/FunctionsRandom.cpp (rand, rand64, randCanonical),
randDistribution.cpp (randUniform/randNormal/randLogNormal...),
generateRandom table function is in sources/.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col

__all__ = [
    "rand", "rand64", "randCanonical", "randUniform", "randNormal",
    "randLogNormal", "randBernoulli", "randExponential", "randomString",
    "randomPrintableASCII",
]


@chfn("rand", "rand32")
def rand(seed: int | None = None) -> Column:
    """UInt32-range uniform (ClickHouse rand() returns UInt32)."""
    r = F.rand(seed) if seed is not None else F.rand()
    return (r * 4294967296).cast("long")


@chfn("rand64")
def rand64(seed: int | None = None) -> Column:
    r = F.rand(seed) if seed is not None else F.rand()
    return (r * F.lit(2.0**63)).cast("long")


@chfn("randCanonical")
def randCanonical(seed: int | None = None) -> Column:
    return F.rand(seed) if seed is not None else F.rand()


@chfn("randUniform")
def randUniform(lo, hi, seed: int | None = None) -> Column:
    r = F.rand(seed) if seed is not None else F.rand()
    return F.lit(lo) + r * (F.lit(hi) - F.lit(lo))


@chfn("randNormal")
def randNormal(mean, stddev, seed: int | None = None) -> Column:
    r = F.randn(seed) if seed is not None else F.randn()
    return F.lit(mean) + r * F.lit(stddev)


@chfn("randLogNormal")
def randLogNormal(mean, stddev, seed: int | None = None) -> Column:
    return F.exp(randNormal(mean, stddev, seed))


@chfn("randBernoulli")
def randBernoulli(p, seed: int | None = None) -> Column:
    r = F.rand(seed) if seed is not None else F.rand()
    return (r < F.lit(p)).cast("int")


@chfn("randExponential")
def randExponential(lam, seed: int | None = None) -> Column:
    r = F.rand(seed) if seed is not None else F.rand()
    return -F.log(1.0 - r) / F.lit(lam)


@chfn("randomString")
def randomString(n: int) -> Column:
    """n pseudo-random lowercase chars (printable stand-in for random bytes)."""
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(n)),
            lambda _: F.char((F.rand() * 26).cast("int") + 97),
        ),
        "",
    )


@chfn("randomPrintableASCII")
def randomPrintableASCII(n: int) -> Column:
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(n)),
            lambda _: F.char((F.rand() * 94).cast("int") + 33),
        ),
        "",
    )
