"""Encoding / UUID family.

Reference: src/Functions/FunctionsBinaryRepresentation.cpp (hex/unhex/bin/
unbin), FunctionsBase64.cpp wrappers, FunctionsCodingUUID.cpp,
generateUUIDv4.cpp, bitmaskToList.cpp.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col

__all__ = [
    "hex_", "unhex", "bin_", "unbin", "base64Encode", "base64Decode",
    "tryBase64Decode", "bitmaskToList", "bitmaskToArray", "generateUUIDv4",
    "toUUID", "UUIDStringToNum", "UUIDNumToString", "char_",
]


@chfn("hex")
def hex_(x) -> Column:
    """Whole bytes, as ClickHouse prints them: hex(5) is '05'."""
    h = F.upper(F.hex(col(x)))
    return F.lpad(h, F.length(h) + F.length(h) % 2, "0")


@chfn("unhex")
def unhex(x) -> Column:
    return F.unhex(col(x))


@chfn("bin")
def bin_(x) -> Column:
    return F.bin(col(x))


@chfn("unbin")
def unbin(x) -> Column:
    return F.conv(col(x), 2, 10).cast("long")


@chfn("base64Encode", "TO_BASE64")
def base64Encode(x) -> Column:
    return F.base64(col(x).cast("binary"))


@chfn("base64Decode", "FROM_BASE64")
def base64Decode(x) -> Column:
    return F.unbase64(col(x)).cast("string")


@chfn("tryBase64Decode")
def tryBase64Decode(x) -> Column:
    return F.when(col(x).rlike(r"^[A-Za-z0-9+/]*={0,2}$"), F.unbase64(col(x)).cast("string")).otherwise(F.lit(""))


@chfn("bitmaskToList")
def bitmaskToList(x) -> Column:
    return F.array_join(bitmaskToArray(x), ",")


@chfn("bitmaskToArray")
def bitmaskToArray(x) -> Column:
    """Powers of two summing to x, ascending."""
    c = col(x).cast("long")
    bits = F.filter(
        F.sequence(F.lit(0), F.lit(62)),
        lambda i: F.floor(c / F.pow(F.lit(2.0), i)).cast("long") % 2 == 1,
    )
    return F.transform(bits, lambda i: F.pow(F.lit(2.0), i).cast("long"))


@chfn("generateUUIDv4")
def generateUUIDv4() -> Column:
    return F.uuid()


@chfn("toUUID")
def toUUID(x) -> Column:
    """Canonical 8-4-4-4-12 form; the reference also accepts the 32-hex
    separator-less spelling (readUUIDTextImpl)."""
    c = col(x).cast("string")
    h = F.lower(F.regexp_replace(c, "-", ""))
    canon = F.concat_ws(
        "-",
        F.substring(h, 1, 8), F.substring(h, 9, 4), F.substring(h, 13, 4),
        F.substring(h, 17, 4), F.substring(h, 21, 12),
    )
    return F.when(h.rlike("^[0-9a-f]{32}$"), canon).otherwise(c)


@chfn("UUIDStringToNum")
def UUIDStringToNum(x) -> Column:
    return F.unhex(F.regexp_replace(col(x), "-", ""))


@chfn("UUIDNumToString")
def UUIDNumToString(x) -> Column:
    h = F.lower(F.hex(col(x)))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


@chfn("char")
def char_(*ns) -> Column:
    return F.concat(*[F.char(col(n)) for n in ns])
