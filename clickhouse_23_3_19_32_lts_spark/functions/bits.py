"""Bit-manipulation family.

Reference: src/Functions/bitAnd.cpp, bitOr.cpp, bitXor.cpp, bitNot.cpp,
bitShiftLeft.cpp, bitShiftRight.cpp, bitRotateLeft.cpp, bitTest.cpp,
bitCount.cpp, bitHammingDistance.cpp.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col

__all__ = [
    "bitAnd", "bitOr", "bitXor", "bitNot", "bitShiftLeft", "bitShiftRight",
    "bitRotateLeft", "bitRotateRight", "bitTest", "bitTestAll", "bitTestAny",
    "bitCount", "bitHammingDistance",
]


@chfn("bitAnd")
def bitAnd(a, b) -> Column:
    return col(a).bitwiseAND(col(b))


@chfn("bitOr")
def bitOr(a, b) -> Column:
    return col(a).bitwiseOR(col(b))


@chfn("bitXor")
def bitXor(a, b) -> Column:
    return col(a).bitwiseXOR(col(b))


@chfn("bitNot")
def bitNot(a) -> Column:
    return F.bitwise_not(col(a))


def _shift(name: str, a, n) -> Column:
    # Spark's SQL shift functions take a column shift amount; the Python
    # API's take only a literal
    return F.call_function(name, col(a), col(n).cast("int"))


@chfn("bitShiftLeft")
def bitShiftLeft(a, n) -> Column:
    return _shift("shiftleft", a, n)


@chfn("bitShiftRight")
def bitShiftRight(a, n) -> Column:
    return _shift("shiftright", a, n)


@chfn("bitRotateLeft")
def bitRotateLeft(a, n: int, width: int = 64) -> Column:
    c = col(a)
    return F.shiftleft(c, n).bitwiseOR(F.shiftrightunsigned(c, width - n))


@chfn("bitRotateRight")
def bitRotateRight(a, n: int, width: int = 64) -> Column:
    c = col(a)
    return F.shiftrightunsigned(c, n).bitwiseOR(F.shiftleft(c, width - n))


@chfn("bitTest")
def bitTest(a, n) -> Column:
    """Bit n of a, 0 or 1 (UInt8), counting from the lowest."""
    return _shift("shiftright", a, n).bitwiseAND(F.lit(1)).cast("int")


@chfn("bitTestAll")
def bitTestAll(a, *bits) -> Column:
    out = F.lit(True)
    for b in bits:
        out = out & (bitTest(a, b) == 1)
    return out


@chfn("bitTestAny")
def bitTestAny(a, *bits) -> Column:
    out = F.lit(False)
    for b in bits:
        out = out | (bitTest(a, b) == 1)
    return out


@chfn("bitCount")
def bitCount(a) -> Column:
    return F.bit_count(col(a)).cast("int")


@chfn("bitHammingDistance")
def bitHammingDistance(a, b) -> Column:
    return F.bit_count(col(a).bitwiseXOR(col(b))).cast("int")
