"""Mechanical function-name families: conversion OrZero/OrNull/OrDefault,
wide integers, parseDateTime*InJodaSyntax, sub-second datetime arithmetic,
UTF8/CaseInsensitive search variants, scalar sketch hashes.

Reference registration sites:
  - to*OrZero/OrNull/OrDefault — src/Functions/FunctionsConversion.h
    (ConvertOrZeroImpl / ConvertOrNullImpl; accurateCastOrDefault.cpp)
  - add/subtract{Quarters,Milliseconds,Microseconds,Nanoseconds} —
    src/Functions/FunctionDateOrDateTimeAddInterval.h
  - toStartOf{FiveMinutes,ISOYear,Millisecond,…} —
    src/Functions/DateTimeTransforms.h
  - multiSearch* family — src/Functions/FunctionsMultiStringSearch.h,
    FunctionsMultiStringPosition.h (whether a needle is present does not
    depend on bytes or characters, so a *UTF8 form shares its base's
    builder)
  - ngramMinHash / wordShingleMinHash / ngramSimHash / wordShingleSimHash —
    src/Functions/FunctionsStringHash.cpp (scalar per-string sketches;
    implemented over the portable 60-bit md5 hash so results are
    engine-reproducible, not byte-compatible with CH's CRC-based impl)

Everything here is a Catalyst column expression (codegen, no Python in the
hot path) except where explicitly noted.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.conversion import (
    _epoch,
    toDateTime64OrNull,
    toDateTimeOrNull,
)
from clickhouse_23_3_19_32_lts_spark.functions.datetime import _in_zone
from clickhouse_23_3_19_32_lts_spark.functions.registry import REGISTRY, chfn, col

# --------------------------------------------------------------------------
# Conversion families: toXOrZero / toXOrNull / toXOrDefault
# --------------------------------------------------------------------------
# ClickHouse rule (FunctionsConversion.h): OrZero/OrNull parse the string and
# fall back to the type default / NULL on failure. Spark try_cast has the
# same "NULL on failure" contract, so OrNull == try_cast and OrZero/OrDefault
# are coalesce() around it. Numeric inputs never fail; string inputs drive
# the fallback.

_WIDE = "decimal(38,0)"  # Int128/256, UInt128/256: documented narrowing


def _num(t: str):
    return lambda x: col(x).try_cast(t)


def _date(x) -> Column:
    return col(x).try_cast("date")


_CONV: dict[str, tuple] = {
    # name suffix -> (try-convert builder, LAZY zero-default literal —
    # module import happens before any SparkSession exists)
    "UInt8": (_num("int"), lambda: F.lit(0)),
    "UInt16": (_num("int"), lambda: F.lit(0)),
    "UInt32": (_num("long"), lambda: F.lit(0)),
    "UInt64": (_num("long"), lambda: F.lit(0)),
    "UInt128": (_num(_WIDE), lambda: F.lit(0).cast(_WIDE)),
    "UInt256": (_num(_WIDE), lambda: F.lit(0).cast(_WIDE)),
    "Int8": (_num("tinyint"), lambda: F.lit(0)),
    "Int16": (_num("smallint"), lambda: F.lit(0)),
    "Int32": (_num("int"), lambda: F.lit(0)),
    "Int64": (_num("long"), lambda: F.lit(0)),
    "Int128": (_num(_WIDE), lambda: F.lit(0).cast(_WIDE)),
    "Int256": (_num(_WIDE), lambda: F.lit(0).cast(_WIDE)),
    "Float32": (_num("float"), lambda: F.lit(0.0)),
    "Float64": (_num("double"), lambda: F.lit(0.0)),
    "Date": (_date, lambda: F.lit("1970-01-01").cast("date")),
    "Date32": (_date, lambda: F.lit("1970-01-01").cast("date")),
    "DateTime": (toDateTimeOrNull, _epoch),
    "DateTime64": (toDateTime64OrNull, _epoch),
    "UUID": (
        lambda x: F.when(
            col(x).rlike("^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"),
            col(x),
        ),
        lambda: F.lit("00000000-0000-0000-0000-000000000000"),
    ),
}


def _register_conv_variants() -> None:
    for suffix, (conv, zero) in _CONV.items():
        if suffix not in ("DateTime", "DateTime64"):  # these take a zone: conversion.py
            chfn(f"to{suffix}OrNull")(lambda x, _c=conv: _c(x))
            chfn(f"to{suffix}OrZero")(lambda x, _c=conv, _z=zero: F.coalesce(_c(x), _z()))
        chfn(f"to{suffix}OrDefault")(
            lambda x, d=None, _c=conv, _z=zero: F.coalesce(
                _c(x), col(d) if d is not None else _z()
            )
        )


_register_conv_variants()


def _register_decimal_variants() -> None:
    for suffix, prec in (("Decimal32", 9), ("Decimal64", 18), ("Decimal128", 38), ("Decimal256", 38)):
        def _conv(x, s: int = 4, _p=prec):
            return col(x).try_cast(f"decimal({_p},{int(s)})")

        chfn(f"to{suffix}OrNull")(_conv)
        chfn(f"to{suffix}OrZero")(
            lambda x, s=4, _c=_conv: F.coalesce(_c(x, s), F.lit(0).cast("decimal(1,0)"))
        )
        chfn(f"to{suffix}OrDefault")(
            lambda x, s=4, d=None, _c=_conv: F.coalesce(
                _c(x, s), col(d) if d is not None else F.lit(0).cast("decimal(1,0)")
            )
        )


_register_decimal_variants()


@chfn("toInt128", "toInt256", "toUInt128", "toUInt256")
def toInt128(x) -> Column:
    """Wide ints land on DECIMAL(38,0) — Spark's widest exact integer.
    (ClickHouse Int128/256: src/DataTypes/DataTypesNumber.cpp.)"""
    return col(x).cast(_WIDE)


@chfn("toDecimal256")
def toDecimal256(x, scale: int = 10) -> Column:
    return col(x).cast(f"decimal(38,{int(scale)})")


@chfn("toIPv6")
def toIPv6(x) -> Column:
    return col(x)  # stored in string form; IPv6 fns parse on use


@chfn("toBool")
def toBool(x) -> Column:
    c = col(x)
    return (
        F.when(F.lower(c.cast("string")).isin("true", "1", "t", "yes", "y", "on", "enable", "enabled"), F.lit(True))
        .when(F.lower(c.cast("string")).isin("false", "0", "f", "no", "n", "off", "disable", "disabled"), F.lit(False))
        .otherwise(c.cast("boolean"))
    )


@chfn("toDecimalString")
def toDecimalString(x, scale: int = 10) -> Column:
    """Fixed-point rendering with exactly `scale` fractional digits
    (src/Functions/toDecimalString.cpp)."""
    return F.format_string(f"%.{int(scale)}f", col(x).cast("double"))


# --------------------------------------------------------------------------
# parseDateTime*InJodaSyntax variants
# --------------------------------------------------------------------------

@chfn("parseDateTimeInJodaSyntax", "parseDateTimeInJodaSyntaxOrNull")
def parseDateTimeInJodaSyntax(x, fmt) -> Column:
    """Joda patterns are Spark's native DateTimeFormatter dialect."""
    from clickhouse_23_3_19_32_lts_spark.functions.registry import lit_or_col

    return F.try_to_timestamp(col(x), lit_or_col(fmt))


@chfn("parseDateTimeInJodaSyntaxOrZero")
def parseDateTimeInJodaSyntaxOrZero(x, fmt) -> Column:
    return F.coalesce(parseDateTimeInJodaSyntax(x, fmt), _epoch())


@chfn("formatDateTimeInJodaSyntax")
def formatDateTimeInJodaSyntax(x, fmt) -> Column:
    from clickhouse_23_3_19_32_lts_spark.functions.registry import lit_or_col

    return F.date_format(col(x).cast("timestamp"), lit_or_col(fmt))


@chfn("fromUnixTimestampInJodaSyntax")
def fromUnixTimestampInJodaSyntax(x, fmt) -> Column:
    from clickhouse_23_3_19_32_lts_spark.functions.registry import lit_or_col

    return F.date_format(F.timestamp_seconds(col(x).cast("long")), lit_or_col(fmt))


@chfn("parseTimeDelta")
def parseTimeDelta(x) -> Column:
    """'1h 30m' / '2.5s' style durations → seconds
    (src/Functions/parseTimeDelta.cpp). Unit tokens summed via HOF."""
    units = F.create_map(
        F.lit("s"), F.lit(1.0), F.lit("m"), F.lit(60.0), F.lit("h"), F.lit(3600.0),
        F.lit("d"), F.lit(86400.0), F.lit("w"), F.lit(604800.0),
    )
    toks = F.regexp_extract_all(F.lower(col(x)), F.lit(r"([0-9.]+)\s*([smhdw])"), 0)
    return F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.regexp_extract(t, r"([0-9.]+)", 1).cast("double")
        * F.element_at(units, F.regexp_extract(t, r"([smhdw])$", 1)),
    )


# --------------------------------------------------------------------------
# Sub-second / quarter datetime arithmetic + toStartOf* tail
# --------------------------------------------------------------------------


def _add_interval(x, n, secs_per_unit: float) -> Column:
    sec = col(n).cast("double") * F.lit(secs_per_unit)
    return col(x).cast("timestamp") + F.make_interval(
        F.lit(0), F.lit(0), F.lit(0), F.lit(0), F.lit(0), F.lit(0), sec.cast("decimal(18,6)")
    )


@chfn("addQuarters")
def addQuarters(x, n) -> Column:
    return F.add_months(col(x), (col(n) * 3).cast("int"))


@chfn("subtractQuarters")
def subtractQuarters(x, n) -> Column:
    return F.add_months(col(x), (-col(n) * 3).cast("int"))


@chfn("addMilliseconds")
def addMilliseconds(x, n) -> Column:
    return _add_interval(x, n, 1e-3)


@chfn("subtractMilliseconds")
def subtractMilliseconds(x, n) -> Column:
    return _add_interval(x, -col(n), 1e-3)


@chfn("addMicroseconds")
def addMicroseconds(x, n) -> Column:
    return _add_interval(x, n, 1e-6)


@chfn("subtractMicroseconds")
def subtractMicroseconds(x, n) -> Column:
    return _add_interval(x, -col(n), 1e-6)


@chfn("addNanoseconds")
def addNanoseconds(x, n) -> Column:
    """Spark timestamps are µs-precision; sub-µs truncates (documented)."""
    return _add_interval(x, n, 1e-9)


@chfn("subtractNanoseconds")
def subtractNanoseconds(x, n) -> Column:
    return _add_interval(x, -col(n), 1e-9)


@chfn("toStartOfFiveMinute", "toStartOfFiveMinutes")
def toStartOfFiveMinute(x) -> Column:
    c = col(x).cast("timestamp")
    return F.timestamp_seconds(F.floor(c.cast("double") / 300) * 300)


@chfn("toStartOfMillisecond")
def toStartOfMillisecond(x) -> Column:
    c = col(x).cast("timestamp")
    return F.timestamp_micros((F.floor(c.cast("double") * 1000) * 1000).cast("long"))


@chfn("toStartOfMicrosecond", "toStartOfNanosecond")
def toStartOfMicrosecond(x) -> Column:
    return col(x).cast("timestamp")  # already µs-granular


@chfn("toStartOfISOYear")
def toStartOfISOYear(x) -> Column:
    """Monday of ISO week 1 = Monday of the week containing Jan 4
    (DateTimeTransforms.h ToStartOfISOYearImpl)."""
    jan4 = F.make_date(F.extract(F.lit("YEAROFWEEK"), col(x).cast("date")), F.lit(1), F.lit(4))
    return F.date_sub(jan4, F.weekday(jan4))


@chfn("toRelativeQuarterNum")
def toRelativeQuarterNum(x) -> Column:
    d = col(x).cast("date")
    return F.year(d) * 4 + F.quarter(d) - 1


@chfn("toRelativeWeekNum")
def toRelativeWeekNum(x) -> Column:
    """DateLUTImpl::toRelativeWeekNum: (days + 8 - ISO dow) / 7."""
    d = col(x).cast("date")
    days = F.datediff(d, F.lit("1970-01-01").cast("date"))
    return F.floor((days + 7 - F.weekday(d)) / 7).cast("int")


@chfn("toYearWeek", "yearweek")
def toYearWeek(x, mode: int = 0) -> Column:
    """year*100 + week. Mode 3 (ISO) exact; default mode 0 approximated by
    ISO numbering (documented — CH mode 0 is Sunday-start)."""
    d = col(x).cast("date")
    return F.extract(F.lit("YEAROFWEEK"), d) * 100 + F.weekofyear(d)


@chfn("toUnixTimestamp64Milli")
def toUnixTimestamp64Milli(x) -> Column:
    return (col(x).cast("timestamp").cast("double") * 1000).cast("long")


@chfn("toUnixTimestamp64Micro")
def toUnixTimestamp64Micro(x) -> Column:
    return F.unix_micros(col(x).cast("timestamp"))


@chfn("toUnixTimestamp64Nano")
def toUnixTimestamp64Nano(x) -> Column:
    return F.unix_micros(col(x).cast("timestamp")) * 1000


@chfn("fromUnixTimestamp64Milli")
def fromUnixTimestamp64Milli(x, tz=None) -> Column:
    return _in_zone(F.timestamp_millis(col(x).cast("long")), tz)


@chfn("fromUnixTimestamp64Micro")
def fromUnixTimestamp64Micro(x, tz=None) -> Column:
    return _in_zone(F.timestamp_micros(col(x).cast("long")), tz)


@chfn("fromUnixTimestamp64Nano")
def fromUnixTimestamp64Nano(x, tz=None) -> Column:
    return _in_zone(F.timestamp_micros((col(x).cast("long") / 1000).cast("long")), tz)


@chfn("now64", "nowInBlock")
def now64(scale: int = 3) -> Column:
    return F.current_timestamp()


@chfn("UTCTimestamp", "UTC_timestamp")
def UTCTimestamp() -> Column:
    return F.current_timestamp()  # sessions are pinned to UTC


@chfn("TimeDiff")
def TimeDiff(a, b) -> Column:
    """MySQL-compat: seconds between timestamps (dateDiff('second', a, b))."""
    return (col(b).cast("timestamp").cast("double") - col(a).cast("timestamp").cast("double")).cast("long")


@chfn("makeDate32")
def makeDate32(y, m, d) -> Column:
    return F.make_date(col(y), col(m), col(d))


@chfn("makeDateTime64")
def makeDateTime64(y, mo, d, h, mi, s, frac=None, scale: int = 3) -> Column:
    ts = F.make_timestamp(col(y), col(mo), col(d), col(h), col(mi), col(s).cast("decimal(18,6)"))
    return ts


@chfn("snowflakeToDateTime64")
def snowflakeToDateTime64(x) -> Column:
    """Twitter snowflake: ms = (id >> 22) + 1288834974657
    (src/Functions/FunctionSnowflake.h)."""
    return F.timestamp_millis(F.shiftright(col(x).cast("long"), 22) + F.lit(1288834974657))


@chfn("dateTime64ToSnowflake")
def dateTime64ToSnowflake(x) -> Column:
    ms = (col(x).cast("timestamp").cast("double") * 1000).cast("long")
    return F.shiftleft(ms - F.lit(1288834974657), 22)


@chfn("generateULID")
def generateULID() -> Column:
    """ULID: 48-bit ms timestamp + randomness, Crockford base32 — rendered
    from uuid() entropy; lexicographically time-ordered like the reference."""
    ms = F.unix_millis(F.current_timestamp())
    # 10-char base32 timestamp + 16 chars from uuid hex (entropy)
    ts32 = F.lpad(F.conv(ms.cast("string"), 10, 32), 10, "0")
    ent = F.upper(F.substring(F.regexp_replace(F.expr("uuid()"), "-", ""), 1, 16))
    return F.concat(F.upper(ts32), ent)


@chfn("ULIDStringToDateTime")
def ULIDStringToDateTime(x) -> Column:
    return F.timestamp_millis(F.conv(F.substring(col(x), 1, 10), 32, 10).cast("long"))


# --------------------------------------------------------------------------
# String search variants: UTF8 / CaseInsensitive / multiSearch* tail
# --------------------------------------------------------------------------
# A *UTF8 form whose answer does not depend on counting bytes or characters
# shares its base's builder. The position and length forms, which do
# depend on it, are separate builders in strings.py.


def _alias(new: str, base: str) -> None:
    if base in REGISTRY:
        chfn(new)(REGISTRY[base])


for _base, _variants in {
    "multiSearchAny": ["multiSearchAnyUTF8"],
    "multiSearchAnyCaseInsensitive": ["multiSearchAnyCaseInsensitiveUTF8"],
    "ngramDistance": ["ngramDistanceUTF8"],
    "ngramDistanceCaseInsensitive": ["ngramDistanceCaseInsensitiveUTF8"],
    "countSubstrings": ["countSubstringsUTF8"],
    "countSubstringsCaseInsensitive": ["countSubstringsCaseInsensitiveUTF8"],
    "hasToken": ["hasTokenOrNull"],
    "hasTokenCaseInsensitive": ["hasTokenCaseInsensitiveOrNull"],
    "translate": ["translateUTF8"],
    "substring": ["substringUTF8"],
}.items():
    for _v in _variants:
        _alias(_v, _base)


def _ci_wrap(base_name: str):
    base = REGISTRY.get(base_name)
    if base is None:
        return None
    return lambda h, n, _b=base: _b(F.lower(col(h)), F.lower(col(n)))


for _base, _ci in {
    "ngramDistance": "ngramDistanceCaseInsensitive",
    "countSubstrings": "countSubstringsCaseInsensitive",
}.items():
    _w = _ci_wrap(_base)
    if _w is not None:
        chfn(_ci, _ci + "UTF8")(_w)


@chfn("countMatchesCaseInsensitive")
def countMatchesCaseInsensitive(h, pat) -> Column:
    from clickhouse_23_3_19_32_lts_spark.functions.registry import lit_or_col

    return F.size(F.regexp_extract_all(col(h), F.concat(F.lit("(?i)"), lit_or_col(pat)), 0))


@chfn("multiSearchAllPositions", "multiSearchAllPositionsUTF8")
def multiSearchAllPositions(h, pats) -> Column:
    hc = col(h)
    return F.transform(col(pats), lambda p: F.position(p, hc))


@chfn(
    "multiSearchAllPositionsCaseInsensitive",
    "multiSearchAllPositionsCaseInsensitiveUTF8",
)
def multiSearchAllPositionsCaseInsensitive(h, pats) -> Column:
    hc = F.lower(col(h))
    return F.transform(col(pats), lambda p: F.position(F.lower(p), hc))


@chfn("multiSearchFirstIndex", "multiSearchFirstIndexUTF8")
def multiSearchFirstIndex(h, pats) -> Column:
    """1-based index of the first pattern that occurs, 0 if none
    (FunctionsMultiStringSearch.h MultiSearchFirstIndexImpl)."""
    hc = col(h)
    idx = F.filter(
        F.transform(col(pats), lambda p, i: F.when(F.position(p, hc) > 0, i + 1).otherwise(F.lit(0))),
        lambda v: v > 0,
    )
    return F.coalesce(F.element_at(idx, 1), F.lit(0))


@chfn(
    "multiSearchFirstIndexCaseInsensitive",
    "multiSearchFirstIndexCaseInsensitiveUTF8",
)
def multiSearchFirstIndexCaseInsensitive(h, pats) -> Column:
    return multiSearchFirstIndex(F.lower(col(h)), F.transform(col(pats), F.lower))


@chfn("multiSearchFirstPosition", "multiSearchFirstPositionUTF8")
def multiSearchFirstPosition(h, pats) -> Column:
    hc = col(h)
    found = F.filter(F.transform(col(pats), lambda p: F.position(p, hc)), lambda v: v > 0)
    return F.coalesce(F.array_min(found), F.lit(0))


@chfn(
    "multiSearchFirstPositionCaseInsensitive",
    "multiSearchFirstPositionCaseInsensitiveUTF8",
)
def multiSearchFirstPositionCaseInsensitive(h, pats) -> Column:
    return multiSearchFirstPosition(F.lower(col(h)), F.transform(col(pats), F.lower))


@chfn("multiMatchAnyIndex")
def multiMatchAnyIndex(h, pats) -> Column:
    hc = col(h)
    idx = F.filter(
        F.transform(col(pats), lambda p, i: F.when(F.rlike(hc, p), i + 1).otherwise(F.lit(0))),
        lambda v: v > 0,
    )
    return F.coalesce(F.element_at(idx, 1), F.lit(0))


@chfn("multiMatchAllIndices")
def multiMatchAllIndices(h, pats) -> Column:
    hc = col(h)
    return F.filter(
        F.transform(col(pats), lambda p, i: F.when(F.rlike(hc, p), i + 1).otherwise(F.lit(0))),
        lambda v: v > 0,
    )


@chfn("multiFuzzyMatchAny")
def multiFuzzyMatchAny(h, dist, pats) -> Column:
    """Fuzzy variant approximated as exact multi-match (edit-distance
    regex fuzzing needs hyperscan; documented approximation)."""
    hc = col(h)
    return F.exists(col(pats), lambda p: F.rlike(hc, p))


@chfn("regexpExtract")
def regexpExtract(s, pat: str, idx: int = 1) -> Column:
    return F.regexp_extract(col(s), pat, int(idx))


@chfn("extractAllGroups", "extractAllGroupsVertical")
def extractAllGroups(s, pat) -> Column:
    from clickhouse_23_3_19_32_lts_spark.functions.registry import lit_or_col

    return F.regexp_extract_all(col(s), lit_or_col(pat), F.lit(1))


@chfn("regexpQuoteMeta")
def regexpQuoteMeta(s) -> Column:
    return F.regexp_replace(col(s), r"([\\.^$|()\[\]{}*+?])", r"\\$1")


@chfn("splitByNonAlpha")
def splitByNonAlpha(s) -> Column:
    return F.filter(F.split(col(s), r"[^\p{L}\p{N}]+"), lambda t: t != "")


@chfn("toStringCutToZero")
def toStringCutToZero(s) -> Column:
    return F.substring_index(col(s).cast("string"), "\x00", 1)


@chfn("encodeXMLComponent")
def encodeXMLComponent(s) -> Column:
    c = F.regexp_replace(col(s), "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    c = F.regexp_replace(c, ">", "&gt;")
    c = F.regexp_replace(c, '"', "&quot;")
    return F.regexp_replace(c, "'", "&apos;")


@chfn("decodeXMLComponent")
def decodeXMLComponent(s) -> Column:
    c = F.regexp_replace(col(s), "&lt;", "<")
    c = F.regexp_replace(c, "&gt;", ">")
    c = F.regexp_replace(c, "&quot;", '"')
    c = F.regexp_replace(c, "&apos;", "'")
    c = F.regexp_replace(c, "&#(\\d+);", "")  # numeric entities dropped (documented)
    return F.regexp_replace(c, "&amp;", "&")


@chfn("encodeURLFormComponent")
def encodeURLFormComponent(s) -> Column:
    return F.url_encode(col(s))


@chfn("decodeURLFormComponent")
def decodeURLFormComponent(s) -> Column:
    return F.url_decode(F.regexp_replace(col(s), r"\+", "%20"))


@chfn("extractTextFromHTML")
def extractTextFromHTML(s) -> Column:
    """Strip script/style blocks, comments, then tags; squash whitespace
    (src/Functions/extractTextFromHTML.cpp — simplified)."""
    c = F.regexp_replace(col(s), "(?is)<script.*?</script>", " ")
    c = F.regexp_replace(c, "(?is)<style.*?</style>", " ")
    c = F.regexp_replace(c, "(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, "<[^>]*>", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


@chfn("isValidUTF8")
def isValidUTF8(s) -> Column:
    """Spark strings are validated UTF-8 on read; binary input checks
    round-trip."""
    c = col(s)
    return F.when(c.isNull(), F.lit(None)).otherwise(F.lit(1))


@chfn("normalizeUTF8NFC", "normalizeUTF8NFD", "normalizeUTF8NFKC", "normalizeUTF8NFKD")
def normalizeUTF8NFC(s) -> Column:
    """Unicode normalization needs ICU; Spark has no builtin — identity for
    already-normalized input (the overwhelmingly common case), documented."""
    return col(s)


# --------------------------------------------------------------------------
# Scalar string sketches: ngram/wordShingle MinHash & SimHash
# --------------------------------------------------------------------------
# Portable 60-bit md5 hash (the repo-wide sketch hash); CH uses CRC32-based
# hashes (FunctionsStringHash.cpp) so values differ, semantics match:
# MinHash → Tuple(UInt64, UInt64) of (min, max) shingle hashes; SimHash →
# 64-bit fingerprint with per-bit majority vote.


def _h60(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _char_shingles(s, n: int) -> Column:
    c = col(s)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
        lambda i: F.substring(c, i, n),
    )


def _word_shingles(s, n: int) -> Column:
    words = F.filter(F.split(col(s), r"[^\p{L}\p{N}]+"), lambda t: t != "")
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )


def _minhash_tuple(shingles: Column) -> Column:
    hs = F.transform(shingles, _h60)
    return F.struct(F.array_min(hs).alias("_1"), F.array_max(hs).alias("_2"))


def _minhash_args(shingles: Column) -> Column:
    hs = F.transform(shingles, lambda sh: F.struct(_h60(sh).alias("h"), sh.alias("s")))
    srt = F.array_sort(hs)
    return F.struct(
        F.element_at(srt, 1)["s"].alias("_1"), F.element_at(srt, -1)["s"].alias("_2")
    )


def _simhash(shingles: Column, bits: int = 16) -> Column:
    """Per-bit majority over shingle hashes, folded to a 16-bit fingerprint
    (full 64 bits would need 64 aggregates; 16 keeps codegen tractable)."""
    hs = F.transform(shingles, _h60)
    n = F.size(hs)

    def _pred(b: int):
        # single-arg lambda: a 2-arg form would be read as (elem, idx)
        return lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1

    acc = None
    for b in range(bits):
        votes = F.size(F.filter(hs, _pred(b)))
        bit = F.when(votes * 2 >= n, F.lit(2**b)).otherwise(F.lit(0))
        acc = bit if acc is None else acc + bit
    return acc.cast("long")


for _nm, _sh in (("ngramMinHash", _char_shingles), ("wordShingleMinHash", _word_shingles)):
    for _suffix in ("", "CaseInsensitive", "UTF8", "CaseInsensitiveUTF8"):
        _lower = "CaseInsensitive" in _suffix

        def _mk(fn=_sh, lower=_lower):
            def _b(s, n: int = 3, hashnum: int = 6):
                src = F.lower(col(s)) if lower else col(s)
                return _minhash_tuple(fn(src, int(n)))

            return _b

        def _mk_arg(fn=_sh, lower=_lower):
            def _b(s, n: int = 3, hashnum: int = 6):
                src = F.lower(col(s)) if lower else col(s)
                return _minhash_args(fn(src, int(n)))

            return _b

        chfn(_nm + _suffix)(_mk())
        chfn(_nm + "Arg" + _suffix)(_mk_arg())

for _nm, _sh in (("ngramSimHash", _char_shingles), ("wordShingleSimHash", _word_shingles)):
    for _suffix in ("", "CaseInsensitive", "UTF8", "CaseInsensitiveUTF8"):
        _lower = "CaseInsensitive" in _suffix

        def _mk_sim(fn=_sh, lower=_lower):
            def _b(s, n: int = 3):
                src = F.lower(col(s)) if lower else col(s)
                return _simhash(fn(src, int(n)))

            return _b

        chfn(_nm + _suffix)(_mk_sim())


@chfn("tupleHammingDistance")
def tupleHammingDistance(a, b) -> Column:
    """Count of differing tuple positions (src/Functions/tupleHammingDistance.cpp);
    over the _N-field structs the dialect builds."""
    ac, bc = col(a), col(b)
    return sum(
        F.when(ac[f"_{i}"] != bc[f"_{i}"], 1).otherwise(0) for i in (1, 2)
    )
