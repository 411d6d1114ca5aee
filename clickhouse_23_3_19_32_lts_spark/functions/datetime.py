"""Date/time family (the densest ClickHouse surface).

Reference: src/Functions/toStartOfInterval.cpp:535, dateDiff.cpp:448,
DateTimeTransforms.h (toYear..toSecond, toStartOf*), addDays etc. via
FunctionDateOrDateTimeAddInterval, toYYYYMM.cpp, timeSlot, now.cpp.

Time zone: sessions run with spark.sql.session.timeZone=UTC. A ClickHouse
zone argument means the wall clock in that zone (DateLUT of the zone): the
builders return it as a session-zone TIMESTAMP through ``_in_zone``.
Date results saturate at 1970-01-01, ClickHouse's smallest Date.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col, lit_or_col

__all__ = [
    "toYear", "toQuarter", "toMonth", "toDayOfYear", "toDayOfMonth",
    "toDayOfWeek", "toHour", "toMinute", "toSecond", "toMonday",
    "toStartOfYear", "toStartOfQuarter", "toStartOfMonth", "toStartOfWeek",
    "toStartOfDay", "toStartOfHour", "toStartOfMinute", "toStartOfSecond",
    "toStartOfTenMinutes", "toStartOfFifteenMinutes",
    "toStartOfInterval", "toLastDayOfMonth", "toTime", "toYYYYMM",
    "toYYYYMMDD", "toYYYYMMDDhhmmss", "toWeek", "toISOWeek", "toISOYear",
    "addYears", "addMonths", "addWeeks", "addDays", "addHours", "addMinutes",
    "addSeconds", "subtractYears", "subtractMonths", "subtractWeeks",
    "subtractDays", "subtractHours", "subtractMinutes", "subtractSeconds",
    "dateDiff", "dateAdd", "dateSub", "dateName", "dateTrunc", "age",
    "now", "today", "yesterday", "timeSlot", "timeSlots",
    "toRelativeYearNum", "toRelativeMonthNum", "toRelativeDayNum",
    "toRelativeHourNum", "toRelativeMinuteNum", "toRelativeSecondNum",
    "monthName", "toModifiedJulianDay", "fromModifiedJulianDay",
    "makeDate", "makeDateTime",
]


def _in_zone(x, tz, instant: Column | None = None) -> Column:
    """The wall clock of ``x`` in zone ``tz`` as a session-zone TIMESTAMP;
    ``x`` itself when ``tz`` is None. Instants (TIMESTAMP values, or the rows
    where ``instant`` holds) shift through from_utc_timestamp; dates and
    text are wall clocks in the zone already."""
    c = col(x)
    if tz is None:
        return c
    if instant is None:
        instant = F.typeof(c) == "timestamp"
    return F.when(instant, F.from_utc_timestamp(c, lit_or_col(tz))).otherwise(
        c.cast("timestamp")
    )


def _from_epoch(d: Column) -> Column:
    """A Date result saturated at 1970-01-01; NULL stays NULL."""
    epoch = F.lit(_dt.date(1970, 1, 1))
    return F.when(d < epoch, epoch).otherwise(d)


@chfn("toYear", "YEAR")
def toYear(x) -> Column:
    return F.year(col(x))


@chfn("toQuarter", "QUARTER")
def toQuarter(x, tz=None) -> Column:
    return F.quarter(_in_zone(x, tz))


@chfn("toMonth", "MONTH")
def toMonth(x) -> Column:
    return F.month(col(x))


@chfn("toDayOfYear", "DAYOFYEAR")
def toDayOfYear(x) -> Column:
    return F.dayofyear(col(x))


@chfn("toDayOfMonth", "DAYOFMONTH", "DAY")
def toDayOfMonth(x) -> Column:
    return F.dayofmonth(col(x))


@chfn("toDayOfWeek")
@chfn("DAYOFWEEK", case_insensitive=True)
def toDayOfWeek(x, mode: int = 0, tz=None) -> Column:
    """Day of the week (DateTimeTransforms.h ToDayOfWeekImpl). Mode 0:
    Monday=1..Sunday=7; 1: Monday=0..Sunday=6; 2: Sunday=0..Saturday=6;
    3: Sunday=1..Saturday=7."""
    if mode not in (0, 1, 2, 3):
        from clickhouse_23_3_19_32_lts_spark.dialect import ChSqlError

        raise ChSqlError(f"toDayOfWeek: mode {mode} is not one of 0, 1, 2, 3")
    iso = F.weekday(_in_zone(x, tz)) + 1
    return {0: iso, 1: iso - 1, 2: iso % 7, 3: iso % 7 + 1}[mode]


@chfn("toHour", "HOUR")
def toHour(x, tz=None) -> Column:
    return F.hour(_in_zone(x, tz))


@chfn("toMinute", "MINUTE")
def toMinute(x, tz=None) -> Column:
    return F.minute(_in_zone(x, tz))


@chfn("toSecond", "SECOND")
def toSecond(x, tz=None) -> Column:
    return F.second(_in_zone(x, tz))


@chfn("toMonday")
def toMonday(x) -> Column:
    return _from_epoch(F.date_trunc("week", col(x)).cast("date"))


@chfn("toStartOfYear")
def toStartOfYear(x) -> Column:
    return _from_epoch(F.date_trunc("year", col(x)).cast("date"))


@chfn("toStartOfQuarter")
def toStartOfQuarter(x) -> Column:
    return _from_epoch(F.date_trunc("quarter", col(x)).cast("date"))


@chfn("toStartOfMonth")
def toStartOfMonth(x) -> Column:
    return _from_epoch(F.date_trunc("month", col(x)).cast("date"))


@chfn("toStartOfWeek")
def toStartOfWeek(x, mode: int = 0) -> Column:
    """Even modes start weeks on Sunday (the default), odd modes on Monday
    (DateLUTImpl.h toFirstDayNumOfWeek)."""
    if mode % 2 == 1:
        return toMonday(x)
    # next_day is strictly-after, so next_day(d,'Sun')-7 maps a Sunday to itself
    return _from_epoch(F.date_sub(F.next_day(col(x).cast("date"), "Sun"), 7))


@chfn("toStartOfDay")
def toStartOfDay(x, tz=None) -> Column:
    return F.date_trunc("day", _in_zone(x, tz))


@chfn("toStartOfHour")
def toStartOfHour(x, tz=None) -> Column:
    return F.date_trunc("hour", _in_zone(x, tz))


@chfn("toStartOfMinute")
def toStartOfMinute(x, tz=None) -> Column:
    return F.date_trunc("minute", _in_zone(x, tz))


@chfn("toStartOfSecond")
def toStartOfSecond(x) -> Column:
    return F.date_trunc("second", col(x))


def _start_of_n_minutes(x, n: int) -> Column:
    secs = F.unix_timestamp(col(x))
    return F.timestamp_seconds((secs - secs % (n * 60)))


@chfn("toStartOfTenMinutes")
def toStartOfTenMinutes(x) -> Column:
    return _start_of_n_minutes(x, 10)


@chfn("toStartOfFifteenMinutes")
def toStartOfFifteenMinutes(x) -> Column:
    return _start_of_n_minutes(x, 15)


_UNIT_SECONDS = {
    "second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800,
}


@chfn("toStartOfInterval")
def toStartOfInterval(x, n: int, unit: str) -> Column:
    """toStartOfInterval(ts, INTERVAL n unit) (toStartOfInterval.cpp:535).

    Sub-month units: epoch arithmetic. Month/quarter/year: month arithmetic
    anchored at 1970-01-01.
    """
    unit = unit.lower().rstrip("s")
    c = col(x)
    if unit in _UNIT_SECONDS:
        step = n * _UNIT_SECONDS[unit]
        secs = F.unix_timestamp(c)
        return F.timestamp_seconds(secs - F.pmod(secs, F.lit(step)))
    if unit in ("month", "quarter", "year"):
        months_per = {"month": 1, "quarter": 3, "year": 12}[unit] * n
        m = (F.year(c) - 1970) * 12 + F.month(c) - 1
        start = m - F.pmod(m, F.lit(months_per))
        return F.add_months(F.lit("1970-01-01").cast("date"), start)
    raise ValueError(f"unsupported interval unit {unit}")


@chfn("toLastDayOfMonth")
def toLastDayOfMonth(x) -> Column:
    return F.last_day(col(x))


@chfn("toTime")
def toTime(x, tz=None) -> Column:
    """Keep time-of-day, date pinned to 1970-01-02 (ClickHouse convention)."""
    c = _in_zone(x, tz)
    return F.timestamp_seconds(
        86400 + F.hour(c) * 3600 + F.minute(c) * 60 + F.second(c)
    )


@chfn("toYYYYMM")
def toYYYYMM(x) -> Column:
    return (F.year(col(x)) * 100 + F.month(col(x))).cast("long")


@chfn("toYYYYMMDD")
def toYYYYMMDD(x) -> Column:
    c = col(x)
    return (F.year(c) * 10000 + F.month(c) * 100 + F.dayofmonth(c)).cast("long")


@chfn("toYYYYMMDDhhmmss")
def toYYYYMMDDhhmmss(x) -> Column:
    c = col(x)
    return (
        F.year(c).cast("long") * 10000000000
        + F.month(c) * 100000000
        + F.dayofmonth(c) * 1000000
        + F.hour(c) * 10000
        + F.minute(c) * 100
        + F.second(c)
    )


@chfn("toWeek", "WEEK")
def toWeek(x, mode: int = 0) -> Column:
    return F.weekofyear(col(x))


@chfn("toISOWeek")
def toISOWeek(x) -> Column:
    return F.weekofyear(col(x))


@chfn("toISOYear")
def toISOYear(x) -> Column:
    return F.year(F.date_add(col(x).cast("date"), 4 - (F.weekday(col(x)) + 1)))


@chfn("addYears")
def addYears(x, n) -> Column:
    return F.add_months(col(x), (col(n) if isinstance(n, Column) else F.lit(n)) * 12)


@chfn("addMonths")
def addMonths(x, n) -> Column:
    return F.add_months(col(x), col(n) if isinstance(n, Column) else F.lit(n))


@chfn("addWeeks")
def addWeeks(x, n) -> Column:
    return F.date_add(col(x), (col(n) if isinstance(n, Column) else F.lit(n)) * 7)


@chfn("addDays")
def addDays(x, n) -> Column:
    """Keeps the argument type, as ClickHouse does: a Date stays a Date and
    a DateTime keeps its time of day."""
    nn = col(n) if isinstance(n, Column) else F.lit(n)
    return col(x) + F.make_interval(days=nn.cast("int"))


@chfn("addHours")
def addHours(x, n) -> Column:
    nn = col(n) if isinstance(n, Column) else F.lit(n)
    return F.timestamp_seconds(F.unix_timestamp(col(x)) + nn * 3600)


@chfn("addMinutes")
def addMinutes(x, n) -> Column:
    nn = col(n) if isinstance(n, Column) else F.lit(n)
    return F.timestamp_seconds(F.unix_timestamp(col(x)) + nn * 60)


@chfn("addSeconds")
def addSeconds(x, n) -> Column:
    nn = col(n) if isinstance(n, Column) else F.lit(n)
    return F.timestamp_seconds(F.unix_timestamp(col(x)) + nn)


@chfn("subtractYears")
def subtractYears(x, n) -> Column:
    return addYears(x, -(col(n) if isinstance(n, Column) else F.lit(n)))


@chfn("subtractMonths")
def subtractMonths(x, n) -> Column:
    return addMonths(x, -(col(n) if isinstance(n, Column) else F.lit(n)))


@chfn("subtractWeeks")
def subtractWeeks(x, n) -> Column:
    return addWeeks(x, -(col(n) if isinstance(n, Column) else F.lit(n)))


@chfn("subtractDays")
def subtractDays(x, n) -> Column:
    return addDays(x, -(col(n) if isinstance(n, Column) else F.lit(n)))


@chfn("subtractHours")
def subtractHours(x, n) -> Column:
    return addHours(x, -(col(n) if isinstance(n, Column) else F.lit(n)))


@chfn("subtractMinutes")
def subtractMinutes(x, n) -> Column:
    return addMinutes(x, -(col(n) if isinstance(n, Column) else F.lit(n)))


@chfn("subtractSeconds")
def subtractSeconds(x, n) -> Column:
    return addSeconds(x, -(col(n) if isinstance(n, Column) else F.lit(n)))


_DIFF_UNITS = {
    "second": "second", "minute": "minute", "hour": "hour", "day": "day",
    "week": "week", "month": "month", "quarter": "quarter", "year": "year",
}


@chfn("dateDiff", "timestampDiff", "TIMESTAMP_DIFF")
@chfn("date_diff", case_insensitive=True)
def dateDiff(unit: str, start, end) -> Column:
    """dateDiff('unit', start, end) (dateDiff.cpp:448) — whole-unit boundary
    crossings, like Spark's timestampdiff for sub-month units."""
    u = _DIFF_UNITS[unit.lower().rstrip("s")]
    return F.timestamp_diff(u, col(start).cast("timestamp"), col(end).cast("timestamp")).cast("long")


@chfn("dateAdd", "DATE_ADD", "timestampAdd", "TIMESTAMP_ADD")
def dateAdd(unit: str, n, x) -> Column:
    u = unit.lower().rstrip("s")
    dispatch = {
        "year": addYears, "month": addMonths, "week": addWeeks, "day": addDays,
        "hour": addHours, "minute": addMinutes, "second": addSeconds,
    }
    return dispatch[u](x, n)


@chfn("dateSub", "DATE_SUB", "timestampSub", "TIMESTAMP_SUB")
def dateSub(unit: str, n, x) -> Column:
    nn = col(n) if isinstance(n, Column) else F.lit(n)
    return dateAdd(unit, -nn, x)


@chfn("dateName")
def dateName(part: str, x) -> Column:
    p = part.lower()
    if p == "month":
        return F.date_format(col(x), "MMMM")
    if p in ("weekday", "dayofweek"):
        return F.date_format(col(x), "EEEE")
    if p == "year":
        return F.year(col(x)).cast("string")
    if p == "day":
        return F.dayofmonth(col(x)).cast("string")
    raise ValueError(f"dateName part {part}")


@chfn("dateTrunc")
@chfn("date_trunc", case_insensitive=True)
def dateTrunc(unit: str, x) -> Column:
    return F.date_trunc(unit.lower(), col(x))


@chfn("age")
def age(unit: str, start, end) -> Column:
    """Like dateDiff but counts *complete* units (23.3 age())."""
    u = unit.lower().rstrip("s")
    if u in ("second", "minute", "hour", "day", "week"):
        secs = F.unix_timestamp(col(end)) - F.unix_timestamp(col(start))
        per = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800}[u]
        return F.floor(secs / per).cast("long")
    months = F.months_between(col(end), col(start))
    if u == "month":
        return F.floor(months).cast("long")
    if u == "quarter":
        return F.floor(months / 3).cast("long")
    if u == "year":
        return F.floor(months / 12).cast("long")
    raise ValueError(f"age unit {unit}")


@chfn("now")
def now(tz=None) -> Column:
    return _in_zone(F.current_timestamp(), tz)


@chfn("today")
def today() -> Column:
    return F.current_date()


@chfn("yesterday")
def yesterday() -> Column:
    return F.date_sub(F.current_date(), 1)


@chfn("timeSlot")
def timeSlot(x) -> Column:
    return _start_of_n_minutes(x, 30)


@chfn("timeSlots")
def timeSlots(start, duration, slot: int = 1800) -> Column:
    """Array of 30-min slot starts covering [start, start+duration]."""
    s = F.unix_timestamp(col(start))
    d = col(duration) if isinstance(duration, Column) else F.lit(duration)
    first = s - F.pmod(s, F.lit(slot))
    last = (s + d) - F.pmod(s + d, F.lit(slot))
    return F.transform(
        F.sequence(first, last, F.lit(slot)), lambda t: F.timestamp_seconds(t)
    )


@chfn("toRelativeYearNum")
def toRelativeYearNum(x) -> Column:
    return F.year(col(x)).cast("long")


@chfn("toRelativeMonthNum")
def toRelativeMonthNum(x) -> Column:
    return (F.year(col(x)) * 12 + F.month(col(x))).cast("long")


@chfn("toRelativeDayNum")
def toRelativeDayNum(x) -> Column:
    return F.datediff(col(x).cast("date"), F.lit("1970-01-01").cast("date")).cast("long")


@chfn("toRelativeHourNum")
def toRelativeHourNum(x) -> Column:
    return F.floor(F.unix_timestamp(col(x)) / 3600).cast("long")


@chfn("toRelativeMinuteNum")
def toRelativeMinuteNum(x) -> Column:
    return F.floor(F.unix_timestamp(col(x)) / 60).cast("long")


@chfn("toRelativeSecondNum")
def toRelativeSecondNum(x) -> Column:
    return F.unix_timestamp(col(x)).cast("long")


@chfn("monthName")
def monthName(x) -> Column:
    return F.date_format(col(x), "MMMM")


@chfn("toModifiedJulianDay")
def toModifiedJulianDay(x) -> Column:
    # MJD 0 = 1858-11-17
    return F.datediff(col(x).cast("date"), F.lit("1858-11-17").cast("date")).cast("long")


@chfn("fromModifiedJulianDay")
def fromModifiedJulianDay(n) -> Column:
    return F.date_add(F.lit("1858-11-17").cast("date"), col(n).cast("int"))


@chfn("makeDate")
def makeDate(y, m, d) -> Column:
    return F.make_date(col(y), col(m), col(d))


@chfn("makeDateTime")
def makeDateTime(y, mo, d, h, mi, s) -> Column:
    return F.make_timestamp(col(y), col(mo), col(d), col(h), col(mi), col(s))
