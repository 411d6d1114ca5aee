"""ClickHouse 23.3's answers for calls whose two definitions once differed:
the dialect tables' copy and the `functions/` registry's builder.

No ClickHouse server or source tree is available here, so each expected
value cites the ClickHouse documentation page that states it: the page's
own example where it has one, else the rule the page gives (a zone argument
is the zone the value is shown in, date-time-functions intro). Where no
page states the answer, the row says where it came from instead: a test
name of the reference corpus (tests/golden_corpus.txt) or the source file
that the deleted dialect-table entry cited. Those answers are unverified.
Every call runs through the SQL dialect (`ch_sql`) and through the Python
builders (`functions as CH`); both must give the expected answer.
"""

from __future__ import annotations

import datetime as dt
import decimal

import pytest
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark import functions as CH
from clickhouse_23_3_19_32_lts_spark.dialect import ChSqlError, ch_sql
from clickhouse_23_3_19_32_lts_spark.functions import REGISTRY, chfn

DOCS = "https://clickhouse.com/docs/en/sql-reference/functions/"
DT = DOCS + "date-time-functions"
CONV = DOCS + "type-conversion-functions"


# ClickHouse call -> (the same call through the builders, answer, docs page).
# Calls read column i of a one-row table holding -4.
CALLS = {
    "toStartOfDay(toDateTime('2024-03-15 20:00:00'), 'Asia/Shanghai')": (
        lambda: CH.toStartOfDay(CH.toDateTime(F.lit("2024-03-15 20:00:00")), "Asia/Shanghai"),
        dt.datetime(2024, 3, 16), f"{DT}#tostartofday",
    ),
    "toStartOfHour(toDateTime('2024-03-15 20:30:00'), 'Asia/Kolkata')": (
        lambda: CH.toStartOfHour(CH.toDateTime(F.lit("2024-03-15 20:30:00")), "Asia/Kolkata"),
        dt.datetime(2024, 3, 16, 2), f"{DT}#tostartofhour",
    ),
    "toQuarter(toDateTime('2024-03-31 20:00:00'), 'Asia/Shanghai')": (
        lambda: CH.toQuarter(CH.toDateTime(F.lit("2024-03-31 20:00:00")), "Asia/Shanghai"),
        2, f"{DT}#toquarter",
    ),
    "toHour(toDateTime('2024-03-15 20:30:00'), 'Asia/Kolkata')": (
        lambda: CH.toHour(CH.toDateTime(F.lit("2024-03-15 20:30:00")), "Asia/Kolkata"),
        2, f"{DT}#tohour",
    ),
    "toTime(toDateTime('2024-03-15 20:30:00'), 'Asia/Kolkata')": (
        lambda: CH.toTime(CH.toDateTime(F.lit("2024-03-15 20:30:00")), "Asia/Kolkata"),
        dt.datetime(1970, 1, 2, 2), f"{DT}#totime",
    ),
    # the page's example
    "toUnixTimestamp('2017-11-05 08:07:47', 'Asia/Tokyo')": (
        lambda: CH.toUnixTimestamp(F.lit("2017-11-05 08:07:47"), "Asia/Tokyo"),
        1509836867, f"{DT}#tounixtimestamp",
    ),
    "fromUnixTimestamp64Milli(1234567891011, 'Asia/Shanghai')": (
        lambda: CH.fromUnixTimestamp64Milli(F.lit(1234567891011), "Asia/Shanghai"),
        dt.datetime(2009, 2, 14, 7, 31, 31, 11000), f"{CONV}#fromunixtimestamp64milli",
    ),
    # mode 1: Monday = 0 .. Sunday = 6; 2024-03-17 is a Sunday
    "toDayOfWeek(toDate('2024-03-17'), 1)": (
        lambda: CH.toDayOfWeek(CH.toDate(F.lit("2024-03-17")), 1),
        6, f"{DT}#todayofweek",
    ),
    "toDayOfWeek(toDate('2024-03-17'))": (
        lambda: CH.toDayOfWeek(CH.toDate(F.lit("2024-03-17"))),
        7, f"{DT}#todayofweek",
    ),
    # rounds down to the half hour
    "timeSlot(toDateTime('2000-02-29 23:59:59'))": (
        lambda: CH.timeSlot(CH.toDateTime(F.lit("2000-02-29 23:59:59"))),
        dt.datetime(2000, 2, 29, 23, 30), f"{DT}#timeslot",
    ),
    # a function of NULL is NULL
    "toStartOfMonth(CAST(NULL AS DATE))": (
        lambda: CH.toStartOfMonth(F.lit(None).cast("date")), None, f"{DT}#tostartofmonth",
    ),
    "monthName(toDate('2024-03-15'))": (
        lambda: CH.monthName(CH.toDate(F.lit("2024-03-15"))),
        "March", f"{DT}#monthname",
    ),
    # the result keeps the argument's type
    "addDays(toDate('2024-03-15'), 2)": (
        lambda: CH.addDays(CH.toDate(F.lit("2024-03-15")), 2),
        dt.date(2024, 3, 17), f"{DT}#adddays",
    ),
    # the page's example: a number above 65535 is a unix timestamp
    "toDate(1685457500)": (
        lambda: CH.toDate(F.lit(1685457500)),
        dt.date(2023, 5, 30), f"{CONV}#todate",
    ),
    # a number is unix seconds; DateTime keeps whole seconds
    "toDateTime(toFloat64(1710498030.5))": (
        lambda: CH.toDateTime(CH.toFloat64(F.lit(1710498030.5))),
        dt.datetime(2024, 3, 15, 10, 20, 30), f"{CONV}#todatetime",
    ),
    # the page's example
    "toDateTime64(1546300800.000, 3)": (
        lambda: CH.toDateTime64(F.lit(decimal.Decimal("1546300800.000")), 3),
        dt.datetime(2019, 1, 1), f"{CONV}#todatetime64",
    ),
    # DD/MM/YYYY, as in the page's '12/12/2020 12:12:57' example
    "parseDateTimeBestEffort('15/03/2024')": (
        lambda: CH.parseDateTimeBestEffort(F.lit("15/03/2024")),
        dt.datetime(2024, 3, 15), f"{CONV}#parsedatetimebesteffort",
    ),
    "parseDateTimeBestEffortUS('03/15/2024')": (
        lambda: CH.parseDateTimeBestEffortUS(F.lit("03/15/2024")),
        dt.datetime(2024, 3, 15), f"{CONV}#parsedatetimebesteffortus",
    ),
    # the page's example
    "parseDateTime64BestEffort('2021-01-01 01:01:00.12346', 6)": (
        lambda: CH.parseDateTime64BestEffort(F.lit("2021-01-01 01:01:00.12346"), 6),
        dt.datetime(2021, 1, 1, 1, 1, 0, 123460), f"{CONV}#parsedatetime64besteffort",
    ),
    "parseDateTimeBestEffortOrZero('not a date')": (
        lambda: CH.parseDateTimeBestEffortOrZero(F.lit("not a date")),
        dt.datetime(1970, 1, 1), f"{CONV}#parsedatetimebesteffortorzero",
    ),
    # the page's example
    "greatCircleAngle(0, 0, 45, 0)": (
        lambda: CH.greatCircleAngle(F.lit(0), F.lit(0), F.lit(45), F.lit(0)),
        pytest.approx(45.0, abs=1e-9), f"{DOCS}geo/coordinates#greatcircleangle",
    ),
    # integer overflow wraps, as toUInt32(-32) = 4294967264 in the page's example
    "toUInt8(i)": (lambda: CH.toUInt8("i"), 252, f"{CONV}#touint8163264256"),
    "toUInt16(i)": (lambda: CH.toUInt16("i"), 65532, f"{CONV}#touint8163264256"),
    "toUInt32(i)": (lambda: CH.toUInt32("i"), 4294967292, f"{CONV}#touint8163264256"),
    # whole bytes: the page's hex(1) is '01'
    "hex(5)": (lambda: CH.hex_(F.lit(5)), "05", f"{DOCS}encoding-functions#hex"),
}

STR = DOCS + "string-functions"
SEARCH = DOCS + "string-search-functions"
REPLACE = DOCS + "string-replace-functions"
SPLIT = DOCS + "splitting-merging-functions"
CORPUS = "reference corpus test "

# ClickHouse strings are bytes: the plain length and position forms count
# bytes, the *UTF8 forms characters ('Привет' is 6 characters, 12 bytes).
STRING_CALLS = {
    # the page's example
    "position('Привет, мир!', '!')": (
        lambda: CH.position(F.lit("Привет, мир!"), "!"), 21, f"{SEARCH}#position",
    ),
    # the page's example
    "positionUTF8('Привет, мир!', '!')": (
        lambda: CH.positionUTF8(F.lit("Привет, мир!"), "!"), 12, f"{SEARCH}#positionutf8",
    ),
    # the page's example
    "positionCaseInsensitive('Hello, world!', 'hello')": (
        lambda: CH.positionCaseInsensitive(F.lit("Hello, world!"), "hello"), 1,
        f"{SEARCH}#positioncaseinsensitive",
    ),
    # the search starts at start_pos
    "position('ababab', 'ab', 3)": (
        lambda: CH.position(F.lit("ababab"), "ab", 3), 3, f"{SEARCH}#position",
    ),
    # instr is an alias of positionCaseInsensitive
    "instr('Hello', 'h')": (
        lambda: CH.instr(F.lit("Hello"), "h"), 1,
        CORPUS + "02680_instr_alias_for_position_case_insensitive",
    ),
    # 1 when at least one needle is in the haystack
    "multiSearchAny('hello', ['xyz', 'ell'])": (
        lambda: CH.multiSearchAny(F.lit("hello"), ["xyz", "ell"]), True,
        f"{SEARCH}#multisearchany",
    ),
    # the length of a string in bytes
    "length('Привет')": (lambda: CH.length(F.lit("Привет")), 12, f"{STR}#length"),
    "lengthUTF8('Привет')": (
        lambda: CH.lengthUTF8(F.lit("Привет")), 6, f"{STR}#lengthutf8",
    ),
    # a negative length drops that many characters from the end
    "substring('hello', 2, -1)": (
        lambda: CH.substring(F.lit("hello"), 2, -1), "ell",
        CORPUS + "01060_substring_negative_size",
    ),
    # the name is case-insensitive, as SQL's SUBSTRING is
    "SUBSTRING('hello', 2, -1)": (
        lambda: CH.substring(F.lit("hello"), 2, -1), "ell",
        CORPUS + "01060_substring_negative_size; " + f"{STR}#substring",
    ),
    # a function of NULL is NULL
    "empty(CAST(NULL AS String))": (
        lambda: CH.empty(F.lit(None).cast("string")), None, f"{DOCS}#null-processing",
    ),
    # an empty needle leaves the haystack as it is
    "replaceOne('abc', '', 'x')": (
        lambda: CH.replaceOne(F.lit("abc"), "", "x"), "abc",
        "ReplaceStringImpl replace_one, cited by the deleted TEMPLATES entry; "
        f"{REPLACE}#replaceone",
    ),
    # the page's example
    "splitByString('', 'abcde')": (
        lambda: CH.splitByString("", F.lit("abcde")), ["a", "b", "c", "d", "e"],
        f"{SPLIT}#splitbystring",
    ),
    "splitByString('', '')": (
        lambda: CH.splitByString("", F.lit("")), [],
        "FunctionsStringArray.h SplitByStringImpl, cited by the deleted"
        " ARITY_TEMPLATES entry",
    ),
    # The page describes the setting
    # splitby_max_substrings_includes_remaining_string, whose default 0
    # drops the rest of the string. The setting is newer than 23.3, so the
    # 23.3 answer is inferred from it.
    "splitByChar(',', 'a,b,c', 2)": (
        lambda: CH.splitByChar(",", F.lit("a,b,c"), 2), ["a", "b"], f"{SPLIT}#splitbychar",
    ),
}

ONE_ROW = "(SELECT -4 AS i) AS t"
SCALAR_CALLS = {**CALLS, **STRING_CALLS}


@pytest.mark.parametrize("call", sorted(SCALAR_CALLS))
def test_ch_sql_gives_the_documented_answer(spark, call):
    _, want, _ = SCALAR_CALLS[call]
    assert ch_sql(spark, f"SELECT {call} AS v FROM {ONE_ROW}").first()["v"] == want


@pytest.mark.parametrize("call", sorted(SCALAR_CALLS))
def test_builders_give_the_documented_answer(spark, call):
    build, want, _ = SCALAR_CALLS[call]
    df = spark.sql(f"SELECT * FROM {ONE_ROW}")
    assert df.select(build().alias("v")).first()["v"] == want


AGG = "https://clickhouse.com/docs/en/sql-reference/aggregate-functions/"
REF = AGG + "reference/"


class _Len:
    """Equal to any answer of n items, where the page fixes only that."""

    def __init__(self, n):
        self.n = n

    def __eq__(self, got):
        return len(got) == self.n

    def __repr__(self):
        return f"<{self.n} items>"


# The tables of the aggregate answers below: numbers(10), and the pages'
# own example tables.
AGG_TABLES = {
    "n10": "SELECT id AS x FROM range(10)",
    "t": "SELECT * FROM VALUES (0, 3), (1, 2), (2, 1), (5, 4) AS t(n, val)",
    "response_times": (
        "SELECT * FROM VALUES (72), (112), (126), (145), (104), (242), (313),"
        " (168), (108) AS t(response_time)"
    ),
    "kw": (
        "SELECT * FROM VALUES ('y', 1), ('y', 1), ('x', 5), ('y', 1), ('z', 10)"
        " AS t(k, w)"
    ),
    "nulls": "SELECT * FROM VALUES (1, 'x'), (NULL, NULL), (2, NULL) AS t(a, b)",
}

# ClickHouse call -> (table, the same call through the builders, answer,
# docs page). Calls over n10 run the pages' numbers(10) examples or, where
# a page uses numbers(1000), the same rank on numbers(10).
AGG_CALLS = {
    "quantileExact(x)": (
        "n10", lambda: CH.quantileExact("x"), 5, f"{REF}quantileexact#quantileexact",
    ),
    "quantileExactLow(x)": (
        "n10", lambda: CH.quantileExactLow("x"), 4, f"{REF}quantileexact#quantileexactlow",
    ),
    "quantileExactHigh(x)": (
        "n10", lambda: CH.quantileExactHigh("x"), 5, f"{REF}quantileexact#quantileexacthigh",
    ),
    # medianExact is quantileExact(0.5)
    "medianExact(x)": ("n10", lambda: CH.medianExact("x"), 5, f"{REF}median"),
    # 599.4 on numbers(1000)
    "quantileExactInclusive(0.6)(x)": (
        "n10", lambda: CH.quantileExactInclusive("x", 0.6), pytest.approx(5.4),
        f"{REF}quantileexact#quantileexactinclusive",
    ),
    # 599.6 on numbers(1000)
    "quantileExactExclusive(0.6)(x)": (
        "n10", lambda: CH.quantileExactExclusive("x", 0.6), pytest.approx(5.6),
        f"{REF}quantileexact#quantileexactexclusive",
    ),
    "quantileExactWeighted(n, val)": (
        "t", lambda: CH.quantileExactWeighted("n", "val"), 1, f"{REF}quantileexactweighted",
    ),
    "quantileInterpolatedWeighted(n, val)": (
        "t", lambda: CH.quantileInterpolatedWeighted("n", "val"), 1,
        f"{REF}quantileinterpolatedweighted",
    ),
    "quantileTiming(response_time)": (
        "response_times", lambda: CH.quantileTiming("response_time"), 126,
        f"{REF}quantiletiming",
    ),
    "topKWeighted(2)(k, w)": (
        "kw", lambda: CH.topKWeighted("k", "w", 2), ["z", "x"], f"{REF}topkweighted",
    ),
    "groupArray(2)(x)": ("n10", lambda: CH.groupArray("x", 2), [0, 1], f"{REF}grouparray"),
    "groupArrayLast(2)(x)": (
        "n10", lambda: CH.groupArrayLast("x", 2), [8, 9], f"{REF}grouparraylast",
    ),
    # the bins adapt to the data; the parameter fixes their count
    "histogram(2)(x)": (
        "n10", lambda: CH.histogram(2, "x"), _Len(2), f"{AGG}parametric-functions#histogram",
    ),
    # one bar character per bucket
    "sparkbar(4)(x, x)": ("n10", lambda: CH.sparkbar("x", "x", 4), _Len(4), f"{REF}sparkbar"),
    # aggregation skips a row with a NULL argument, as uniqExact(a, b) does
    "uniq(a, b)": ("nulls", lambda: CH.uniq("a", "b"), 1, f"{AGG}#null-processing"),
    "uniqIf(a, b, a > 0)": (
        "nulls", lambda: CH.uniqIf("a", "b", F.col("a") > 0), 1, f"{AGG}#null-processing",
    ),
}


@pytest.fixture(scope="module")
def agg_tables(spark):
    for name, sql in AGG_TABLES.items():
        spark.sql(sql).createOrReplaceTempView(name)
    yield spark
    for name in AGG_TABLES:
        spark.catalog.dropTempView(name)


@pytest.mark.parametrize("call", sorted(AGG_CALLS))
def test_ch_sql_gives_the_documented_aggregate(agg_tables, call):
    table, _, want, _ = AGG_CALLS[call]
    assert ch_sql(agg_tables, f"SELECT {call} AS v FROM {table}").first()["v"] == want


@pytest.mark.parametrize("call", sorted(AGG_CALLS))
def test_builders_give_the_documented_aggregate(agg_tables, call):
    table, build, want, _ = AGG_CALLS[call]
    assert agg_tables.table(table).select(build().alias("v")).first()["v"] == want


def test_an_unbindable_parametric_call_names_the_function(spark):
    """groupArrayLast takes one parameter, a literal max_size
    (reference/grouparraylast)."""
    for call in ("groupArrayLast(2, 3)(x)", "groupArrayLast(x)(x)", "groupArrayLast(2)()"):
        with pytest.raises(ChSqlError, match="groupArrayLast"):
            ch_sql(spark, f"SELECT {call} AS v FROM (SELECT 1 AS x)")


def test_an_unsupported_mode_raises(spark):
    """toDayOfWeek implements modes 0-3 (date-time-functions#todayofweek);
    another mode raises on both paths rather than being dropped."""
    with pytest.raises(ChSqlError, match="mode 7"):
        ch_sql(spark, "SELECT toDayOfWeek(toDate('2024-03-17'), 7)")
    with pytest.raises(ChSqlError, match="mode 7"):
        CH.toDayOfWeek(F.lit("2024-03-17"), 7)


def test_a_name_is_registered_once():
    """FunctionFactory::registerFunction refuses a name it already holds;
    so does chfn, and the refused call registers none of its names."""
    before = dict(REGISTRY)
    try:
        with pytest.raises(ValueError, match="registered twice"):
            chfn("aNameNoOneRegistered", "greatCircleAngle")(lambda *a: None)
        assert REGISTRY == before
    finally:
        REGISTRY.clear()
        REGISTRY.update(before)
