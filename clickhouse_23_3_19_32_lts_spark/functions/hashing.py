"""Hash family.

Reference: src/Functions/FunctionsHashing.h (cityHash64, sipHash64/128,
halfMD5, MD5, SHA1/224/256, xxHash32/64, farmHash64, intHash32/64,
murmurHash2/3), registered in FunctionsHashingMisc.cpp.

Fidelity note — two tiers:
  - These DataFrame builders are *semantic* equivalents (stable
    well-distributed JVM-side hashes of the same arity) kept for pipeline
    hot paths: dedup/bucketing logic only needs one engine's values
    end-to-end, and xxhash64 stays inside whole-stage codegen at 100 TB.
  - The SQL dialect renders cityHash64/sipHash64/halfMD5/murmurHash2+3/
    gccMurmurHash/farmHash64/intHash32+64/javaHash/hiveHash BIT-EXACTLY via
    the pandas-UDF kernels in functions/chhash.py (validated against the
    reference's own stateless vectors) — use engine.sql()/ch_sql() when
    reference-identical values matter.
Cryptographic hashes (MD5/SHA*) are bit-identical in both tiers.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col

__all__ = [
    "cityHash64", "sipHash64", "sipHash128", "halfMD5", "MD5", "SHA1",
    "SHA224", "SHA256", "SHA512", "xxHash32", "xxHash64",
    "intHash32", "intHash64", "murmurHash2_64", "murmurHash3_64",
    "murmurHash3_32", "javaHash", "hiveHash", "crc32",
]


@chfn("cityHash64", "farmHash64", "farmFingerprint64")
def cityHash64(*xs) -> Column:
    """64-bit stable hash (Spark xxhash64 stands in for cityHash64)."""
    return F.xxhash64(*[col(x) for x in xs])


@chfn("sipHash64")
def sipHash64(*xs) -> Column:
    return F.xxhash64(*[col(x) for x in xs])


@chfn("sipHash128")
def sipHash128(*xs) -> Column:
    return F.md5(F.concat_ws("\x01", *[col(x).cast("string") for x in xs]))


@chfn("halfMD5")
def halfMD5(*xs) -> Column:
    """First 8 bytes of MD5 as UInt64 (this one IS value-compatible up to
    signedness: ClickHouse returns UInt64, we return the same 64 bits as a
    signed long)."""
    h = F.md5(F.concat(*[col(x).cast("string") for x in xs]))
    return F.conv(F.substring(h, 1, 16), 16, 10).cast("decimal(20,0)")


@chfn("MD5")
def MD5(x) -> Column:
    return F.md5(col(x).cast("string"))


@chfn("SHA1")
def SHA1(x) -> Column:
    return F.sha1(col(x).cast("string"))


@chfn("SHA224")
def SHA224(x) -> Column:
    return F.sha2(col(x).cast("string"), 224)


@chfn("SHA256")
def SHA256(x) -> Column:
    return F.sha2(col(x).cast("string"), 256)


@chfn("SHA512")
def SHA512(x) -> Column:
    return F.sha2(col(x).cast("string"), 512)


@chfn("xxHash32")
def xxHash32(*xs) -> Column:
    return (F.xxhash64(*[col(x) for x in xs]) & F.lit(0xFFFFFFFF)).cast("long")


@chfn("xxHash64")
def xxHash64(*xs) -> Column:
    return F.xxhash64(*[col(x) for x in xs])


@chfn("intHash32")
def intHash32(x) -> Column:
    return (F.xxhash64(col(x)) & F.lit(0xFFFFFFFF)).cast("long")


@chfn("intHash64")
def intHash64(x) -> Column:
    return F.xxhash64(col(x))


@chfn("murmurHash2_64", "murmurHash2_32")
def murmurHash2_64(*xs) -> Column:
    return F.xxhash64(*[col(x) for x in xs])


@chfn("murmurHash3_64")
def murmurHash3_64(*xs) -> Column:
    return F.xxhash64(*[col(x) for x in xs])


@chfn("murmurHash3_32")
def murmurHash3_32(*xs) -> Column:
    """Spark's hash() IS Murmur3 32-bit (seed 42 vs ClickHouse seed 0)."""
    return F.hash(*[col(x) for x in xs]).cast("long")


@chfn("javaHash")
def javaHash(x) -> Column:
    return F.hash(col(x)).cast("long")


@chfn("hiveHash")
def hiveHash(x) -> Column:
    return F.hash(col(x)).cast("long")


@chfn("crc32", case_insensitive=True)
def crc32(x) -> Column:
    return F.crc32(col(x).cast("string"))
