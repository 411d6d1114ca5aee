"""Type-conversion family.

Reference: src/Functions/FunctionsConversion.cpp:8 (12k LoC): toUInt*/toInt*/
toFloat*/toString/toDate/toDateTime/CAST/accurateCast/parseDateTimeBestEffort.

UInt64 maps to LongType (Spark has no unsigned; SURVEY §1.2 caveat).
`toString` follows ClickHouse formatting for dates (ISO) — Spark's cast
produces the same ISO forms.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.chtypes import CH_TYPE_NAMES
from clickhouse_23_3_19_32_lts_spark.functions.catalog import udf_call
from clickhouse_23_3_19_32_lts_spark.functions.datetime import _in_zone
from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col, lit_or_col

__all__ = [
    "toUInt8", "toUInt16", "toUInt32", "toUInt64", "toInt8", "toInt16",
    "toInt32", "toInt64", "toFloat32", "toFloat64", "toString", "toDate",
    "toDate32", "toDateTime", "toDateTime64", "toDateTimeOrNull",
    "toDateTimeOrZero", "toDateTime64OrNull", "toDateTime64OrZero",
    "toDecimal", "toDecimal32",
    "toDecimal64", "toUnixTimestamp", "fromUnixTimestamp",
    "toFixedString", "parseDateTime", "parseDateTimeOrNull",
    "parseDateTimeOrZero",
    "formatDateTime", "cast_", "accurateCast", "accurateCastOrNull",
    "toIntervalSecond", "toIntervalMinute", "toIntervalHour", "toIntervalDay",
    "toIntervalWeek", "toIntervalMonth", "toIntervalYear", "toTypeName",
]


@chfn("toUInt8")
def toUInt8(x) -> Column:
    return F.pmod(col(x).cast("long"), F.lit(256)).cast("int")


@chfn("toUInt16")
def toUInt16(x) -> Column:
    return F.pmod(col(x).cast("long"), F.lit(65536)).cast("int")


@chfn("toUInt32")
def toUInt32(x) -> Column:
    return F.pmod(col(x).cast("long"), F.lit(4294967296)).cast("long")


@chfn("toUInt64")
def toUInt64(x) -> Column:
    return col(x).cast("long")


@chfn("toInt8")
def toInt8(x) -> Column:
    return col(x).cast("tinyint")


@chfn("toInt16")
def toInt16(x) -> Column:
    return col(x).cast("smallint")


@chfn("toInt32")
def toInt32(x) -> Column:
    return col(x).cast("int")


@chfn("toInt64")
def toInt64(x) -> Column:
    return col(x).cast("long")


@chfn("toFloat32")
def toFloat32(x) -> Column:
    return col(x).cast("float")


@chfn("toFloat64")
def toFloat64(x) -> Column:
    return col(x).cast("double")


@chfn("toString")
def toString(x) -> Column:
    return col(x).cast("string")


def _epoch() -> Column:
    return F.timestamp_seconds(F.lit(0))


# The branch follows the argument's type, which typeof folds at analysis;
# every branch casts only what every type casts, so each type-checks
# whatever the type (DataTypeDate.cpp, ReadHelpers.h readDateTimeText).
# TIMESTAMP and DATE cast directly. A number, or an all-digit text, is a
# day number below 65536 for Date and unix seconds otherwise; DateTime and
# Date are unsigned, so negative numbers saturate at the epoch
# (FunctionsConversion.h ToDateTransform32Or64Signed,
# ToDateTimeTransformSigned). Other text is parsed.
_TIMES = ("date", "timestamp", "timestamp_ntz")


def _seconds(c: Column, t: Column) -> Column:
    """A number, or number text, as a TIMESTAMP that many seconds after the
    epoch: Spark casts a numeric type to TIMESTAMP as unix seconds."""
    return F.when(
        t == "string", c.cast("string").cast("decimal(20,6)").cast("timestamp")
    ).otherwise(c.cast("timestamp"))


def _date_text(s: Column) -> Column:
    """Date text with '-' or '/' separators and 1- or 2-digit month and day
    (ReadHelpers.h readDateTextFallback); a time part is dropped."""
    s = F.translate(F.substring_index(s, " ", 1), "/", "-")
    s = F.regexp_replace(s, "^([0-9]{4})-([0-9])-", "$1-0$2-")
    return F.to_date(F.regexp_replace(s, "-([0-9])$", "-0$1"))


@chfn("toDate", "DATE")
def toDate(x, tz=None) -> Column:
    c, t = col(x), F.typeof(col(x))
    s = c.cast("string")
    n = F.greatest(_seconds(c, t).cast("long"), F.lit(0))
    number = F.when(
        n < 65536, F.date_add(F.lit(_dt.date(1970, 1, 1)), n.cast("int"))
    ).otherwise(_in_zone(F.timestamp_seconds(n), tz).cast("date"))
    return (
        F.when(t.isin(*_TIMES), _in_zone(c.cast("timestamp"), tz, t == "timestamp").cast("date"))
        .when((t != "string") | s.rlike("^-?[0-9]+$"), number)
        .otherwise(_date_text(s))
    )


@chfn("toDate32")
def toDate32(x) -> Column:
    """Date32 counts days either side of the epoch."""
    c, t = col(x), F.typeof(col(x))
    s = c.cast("string")
    days = F.date_add(F.lit(_dt.date(1970, 1, 1)), _seconds(c, t).cast("long").cast("int"))
    return (
        F.when(t.isin(*_TIMES), c.cast("timestamp").cast("date"))
        .when((t != "string") | s.rlike("^-?[0-9]+$"), days)
        .otherwise(F.to_date(s))
    )


def _datetime(x, tz, frac: bool = False, parse=F.to_timestamp) -> Column:
    """toDateTime's rule; ``frac`` admits DateTime64's fractional seconds
    and times before the epoch, where DateTime truncates a number to whole
    seconds. Numbers and TIMESTAMPs are instants, shown as the wall clock
    in ``tz``; DATEs and text are wall clocks in ``tz`` already."""
    c, t = col(x), F.typeof(col(x))
    s = c.cast("string")
    digits = s.rlike(r"^-?[0-9]+(\.[0-9]+)?$" if frac else "^-?[0-9]+$")
    secs = _seconds(c, t)
    if not frac:
        # clamp before the epoch, keeping NULL (greatest() would skip it)
        secs = secs.cast("long")
        secs = F.timestamp_seconds(F.when(secs < 0, F.lit(0)).otherwise(secs))
    ts = (
        F.when(t.isin(*_TIMES), c.cast("timestamp"))
        .when((t != "string") | digits, secs)
        .otherwise(parse(s))
    )
    return _in_zone(ts, tz, ~t.isin("string", "date", "timestamp_ntz") | digits)


@chfn("toDateTime", "toDateTime32")
def toDateTime(x, tz=None) -> Column:
    """Numbers and all-digit text are unix seconds, other text a wall clock."""
    return _datetime(x, tz)


@chfn("toDateTime64")
def toDateTime64(x, scale: int = 3, tz=None) -> Column:
    """Spark timestamps hold microseconds, so ``scale`` above 6 truncates."""
    return _datetime(x, tz, frac=True)


@chfn("toDateTimeOrNull")
def toDateTimeOrNull(x, tz=None) -> Column:
    return _datetime(x, tz, parse=F.try_to_timestamp)


@chfn("toDateTimeOrZero")
def toDateTimeOrZero(x, tz=None) -> Column:
    return F.coalesce(toDateTimeOrNull(x, tz), _in_zone(_epoch(), tz))


@chfn("toDateTime64OrNull")
def toDateTime64OrNull(x, scale: int = 3, tz=None) -> Column:
    return _datetime(x, tz, frac=True, parse=F.try_to_timestamp)


@chfn("toDateTime64OrZero")
def toDateTime64OrZero(x, scale: int = 3, tz=None) -> Column:
    return F.coalesce(toDateTime64OrNull(x, scale, tz), _in_zone(_epoch(), tz))


@chfn("toDecimal", "toDecimal128")
def toDecimal(x, scale: int = 10) -> Column:
    return col(x).cast(f"decimal(38,{scale})")


@chfn("toDecimal32")
def toDecimal32(x, scale: int = 4) -> Column:
    return col(x).cast(f"decimal(9,{scale})")


@chfn("toDecimal64")
def toDecimal64(x, scale: int = 6) -> Column:
    return col(x).cast(f"decimal(18,{scale})")


@chfn("toUnixTimestamp")
def toUnixTimestamp(x, tz=None) -> Column:
    """A DateTime is an instant, so ``tz`` leaves it alone; text is read as
    a wall clock in ``tz``."""
    c = col(x)
    ts = c.cast("timestamp")
    if tz is not None:
        ts = F.when(F.typeof(c) == "string", F.to_utc_timestamp(ts, lit_or_col(tz))).otherwise(ts)
    return F.unix_timestamp(ts).cast("long")


@chfn("fromUnixTimestamp", "FROM_UNIXTIME")
def fromUnixTimestamp(x, fmt: str | None = None, tz=None) -> Column:
    ts = _in_zone(F.timestamp_seconds(col(x).cast("long")), tz)
    return F.date_format(ts, _ch_to_spark_datetime_format(fmt)) if fmt else ts


@chfn("toFixedString")
def toFixedString(x, n: int) -> Column:
    """x padded with zero bytes to n bytes (FunctionToFixedString). A
    longer x raises TOO_LARGE_STRING_SIZE in ClickHouse; translate raises
    it for a constant, and a column value is cut to its first n
    characters, so that rows a LIMIT never reaches raise nothing."""
    c = col(x).cast("string")
    size = F.octet_length(c)
    return F.when(size > n, F.substring(c, 1, n)).otherwise(
        F.concat(c, F.repeat(F.char(F.lit(0)), F.lit(n) - size))
    )


# ClickHouse formatDateTime syntax (src/Functions/formatDateTime.cpp:1689)
# uses MySQL-style %-codes; Spark uses Java DateTimeFormatter patterns.
_CH_FMT = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%c": "M", "%d": "dd", "%e": "d",
    "%H": "HH", "%I": "hh", "%M": "mm", "%S": "ss", "%p": "a", "%j": "DDD",
    "%a": "EEE", "%W": "EEEE", "%w": "F", "%F": "yyyy-MM-dd", "%D": "MM/dd/yy",
    "%T": "HH:mm:ss", "%R": "HH:mm", "%n": "\n", "%t": "\t", "%%": "%",
    "%Q": "Q", "%G": "YYYY", "%g": "YY", "%f": "SSSSSS",
}


def _ch_to_spark_datetime_format(fmt: str) -> str:
    out = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            code = fmt[i : i + 2]
            out.append(_CH_FMT.get(code, code))
            i += 2
        else:
            # literal chars that are pattern letters in Java need quoting
            ch = fmt[i]
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


@chfn("formatDateTime", "DATE_FORMAT")
def formatDateTime(x, fmt: str) -> Column:
    if "%C" in fmt:
        # century, zero-padded (formatDateTime.cpp %C = year/100)
        cent = F.lpad(
            F.floor(F.year(col(x)) / 100).cast("int").cast("string"), 2, "0"
        )
        parts = fmt.split("%C")
        cols: list[Column] = []
        for i, p in enumerate(parts):
            if p:
                cols.append(
                    F.date_format(col(x), _ch_to_spark_datetime_format(p))
                )
            if i + 1 < len(parts):
                cols.append(cent)
        return F.concat(*cols) if cols else F.lit("")
    return F.date_format(col(x), _ch_to_spark_datetime_format(fmt))


@chfn("parseDateTime")
def parseDateTime(x, fmt: str) -> Column:
    return F.to_timestamp(col(x), _ch_to_spark_datetime_format(fmt))


@chfn("parseDateTimeOrNull")
def parseDateTimeOrNull(x, fmt: str) -> Column:
    return F.try_to_timestamp(col(x), F.lit(_ch_to_spark_datetime_format(fmt)))


@chfn("parseDateTimeOrZero")
def parseDateTimeOrZero(x, fmt: str) -> Column:
    return F.coalesce(parseDateTimeOrNull(x, fmt), _epoch())


# parseDateTime*BestEffort* run the scanner of besteffort.py, a port of
# parseDateTimeBestEffort.cpp, through its chParseDT* UDFs
# (besteffort_udfs.py). The result is the wall clock in the zone argument,
# UTC by default. The strict forms raise on text the scanner rejects,
# OrNull gives NULL and OrZero the epoch in the zone. The DateTime64 forms
# take a scale before the zone; parseDateTime32* are the DateTime forms.
def _best_effort(udf: str, zero: bool):
    def run(x, scale: list, tz) -> Column:
        tz = lit_or_col("UTC" if tz is None else tz)
        out = udf_call(udf, col(x), *[lit_or_col(s) for s in scale], tz)
        return F.coalesce(out, _in_zone(_epoch(), tz)) if zero else out

    if udf.startswith("chParseDT64"):
        def build(x, scale=3, tz=None) -> Column:
            return run(x, [scale], tz)
    else:
        def build(x, tz=None) -> Column:
            return run(x, [], tz)
    build.__doc__ = f"The best-effort scanner through the {udf} UDF" + (
        ", the epoch when it fails." if zero else "."
    )
    return build


for _us in ("", "US"):
    for _sfx in ("", "OrNull", "OrZero"):
        _udf_sfx = _sfx and "OrNull"
        chfn(f"parseDateTimeBestEffort{_us}{_sfx}",
             *([f"parseDateTime32BestEffort{_sfx}"] if not _us else []))(
            _best_effort(f"chParseDTBestEffort{_us}{_udf_sfx}", _sfx == "OrZero"))
        chfn(f"parseDateTime64BestEffort{_us}{_sfx}")(
            _best_effort(f"chParseDT64BestEffort{_us}{_udf_sfx}", _sfx == "OrZero"))


@chfn("CAST", case_insensitive=True)
def cast_(x, to_type: str) -> Column:
    return col(x).cast(_ch_type_to_spark(to_type))


@chfn("accurateCast")
def accurateCast(x, to_type: str) -> Column:
    return col(x).cast(_ch_type_to_spark(to_type))


@chfn("accurateCastOrNull")
def accurateCastOrNull(x, to_type: str) -> Column:
    return col(x).try_cast(_ch_type_to_spark(to_type))


_CH_TYPES = {
    "uint8": "int", "uint16": "int", "uint32": "long", "uint64": "long",
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "long",
    "float32": "float", "float64": "double", "string": "string",
    "date": "date", "date32": "date", "datetime": "timestamp",
    "datetime64": "timestamp", "uuid": "string", "bool": "boolean",
}


def _ch_type_to_spark(t: str) -> str:
    return _CH_TYPES.get(t.strip().lower(), t)


@chfn("toIntervalSecond")
def toIntervalSecond(n) -> Column:
    return F.make_dt_interval(secs=col(n))


@chfn("toIntervalMinute")
def toIntervalMinute(n) -> Column:
    return F.make_dt_interval(mins=col(n))


@chfn("toIntervalHour")
def toIntervalHour(n) -> Column:
    return F.make_dt_interval(hours=col(n))


@chfn("toIntervalDay")
def toIntervalDay(n) -> Column:
    return F.make_dt_interval(days=col(n))


@chfn("toIntervalWeek")
def toIntervalWeek(n) -> Column:
    return F.make_dt_interval(days=col(n) * 7)


@chfn("toIntervalMonth")
def toIntervalMonth(n) -> Column:
    return F.make_ym_interval(months=col(n))


@chfn("toIntervalYear")
def toIntervalYear(n) -> Column:
    return F.make_ym_interval(years=col(n))


@chfn("toTypeName")
def toTypeName(x) -> Column:
    """The ClickHouse name of x's runtime type; another Spark type keeps
    its Spark name. translate names the static type of an argument it can
    type first (ClickHouse's literal types, such as UInt8, have no Spark
    type to recover them from)."""
    t = F.typeof(col(x))
    out = F
    for spark_name, ch_name in CH_TYPE_NAMES.items():
        out = out.when(t == spark_name, F.lit(ch_name))
    return out.otherwise(t)
