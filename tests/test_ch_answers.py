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
from clickhouse_23_3_19_32_lts_spark.functions.registry import CASE_INSENSITIVE

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
    # DAYOFWEEK is a case-insensitive alias of toDayOfWeek, counting from
    # Monday; Spark's dayofweek counts from Sunday
    "dayofweek(toDate('2024-03-17'))": (
        lambda: CH.dayofweek(CH.toDate(F.lit("2024-03-17"))), 7, f"{DT}#todayofweek",
    ),
    # date_diff's aliases; 2024 is a leap year
    "DATE_DIFF('day', toDate('2024-01-01'), toDate('2024-03-01'))": (
        lambda: CH.DATE_DIFF("day", CH.toDate(F.lit("2024-01-01")), CH.toDate(F.lit("2024-03-01"))),
        60, f"{DT}#date_diff",
    ),
    "Date_Diff('day', toDate('2024-01-01'), toDate('2024-03-01'))": (
        lambda: CH.Date_Diff("day", CH.toDate(F.lit("2024-01-01")), CH.toDate(F.lit("2024-03-01"))),
        60, f"{DT}#date_diff",
    ),
    "timestampDiff('day', toDate('2024-01-01'), toDate('2024-03-01'))": (
        lambda: CH.timestampDiff(
            "day", CH.toDate(F.lit("2024-01-01")), CH.toDate(F.lit("2024-03-01"))
        ),
        60, f"{DT}#date_diff",
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
    # position, locate, instr, substring, substr and mid are
    # case-insensitive names, as in standard SQL
    "Position('Привет, мир!', '!')": (
        lambda: CH.Position(F.lit("Привет, мир!"), "!"), 21, f"{SEARCH}#position",
    ),
    # locate is an alias of position
    "LOCATE('Привет, мир!', '!')": (
        lambda: CH.LOCATE(F.lit("Привет, мир!"), "!"), 21, f"{SEARCH}#position",
    ),
    "INSTR('Привет, мир!', 'М')": (
        lambda: CH.INSTR(F.lit("Привет, мир!"), "М"), 15,
        CORPUS + "02680_instr_alias_for_position_case_insensitive",
    ),
    "SubString('Привет, мир!', 2, -1)": (
        lambda: CH.SubString(F.lit("Привет, мир!"), 2, -1), "ривет, мир",
        CORPUS + "01060_substring_negative_size; " + f"{STR}#substring",
    ),
    # substr and mid are aliases of substring
    "SUBSTR('Привет, мир!', 2, -1)": (
        lambda: CH.SUBSTR(F.lit("Привет, мир!"), 2, -1), "ривет, мир", f"{STR}#substring",
    ),
    "MID('Привет, мир!', 2, 3)": (
        lambda: CH.MID(F.lit("Привет, мир!"), 2, 3), "рив", f"{STR}#substring",
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
    "ts": "SELECT TIMESTAMP'2024-03-15 20:00:00' AS ts",
    # an Int64 column holding -4, an Int32 column holding 2 and a NULL array
    "cols": "SELECT CAST(-4 AS BIGINT) AS i, 2 AS n, CAST(NULL AS ARRAY<BIGINT>) AS na",
    "entropy": (
        "SELECT * FROM VALUES (1, 'A'), (1, 'A'), (1, 'A'), (1, 'A'), (2, 'B'),"
        " (2, 'B'), (2, 'C'), (2, 'D') AS t(vals, strings)"
    ),
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
    # the page's example
    "entropy(vals)": ("entropy", lambda: CH.entropy("vals"), 1.0, f"{REF}entropy"),
    "entropy(strings)": ("entropy", lambda: CH.entropy("strings"), 1.75, f"{REF}entropy"),
    # the most frequent first; x and z tie, and x came first
    "topK(2)(k)": ("kw", lambda: CH.topK("k", 2), ["y", "x"], f"{REF}topk"),
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
    "anyLast(b)": ("nulls", lambda: CH.anyLast("b"), "x", f"{AGG}#null-processing"),
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


ARRAYS = DOCS + "array-functions"
ARRAY = "(SELECT array(1, 2) AS a)"
MAP = "(SELECT map('k', 1) AS m)"

# Calls whose answer's type is checked too: ClickHouse call -> (table, the
# same call through the builders, or None where no builder takes the
# argument, answer, Spark type of the answer, docs page). ClickHouse's
# lengths are UInt64, a BIGINT here.
TYPED_CALLS = {
    "Length('Привет, мир!')": (
        ONE_ROW, lambda: CH.Length(F.lit("Привет, мир!")), 21, "bigint", f"{STR}#length",
    ),
    "octet_length('Привет, мир!')": (
        ONE_ROW, lambda: CH.octet_length(F.lit("Привет, мир!")), 21, "bigint", f"{STR}#length",
    ),
    # CHAR_LENGTH and CHARACTER_LENGTH are aliases of lengthUTF8
    "Char_Length('Привет, мир!')": (
        ONE_ROW, lambda: CH.Char_Length(F.lit("Привет, мир!")), 12, "bigint",
        f"{STR}#lengthutf8",
    ),
    # length, empty and notEmpty take arrays too; the select alias's type
    # picks the array form
    "length(a)": (ARRAY, None, 2, "bigint", f"{ARRAYS}#length"),
    "empty(a)": (ARRAY, None, False, "boolean", f"{ARRAYS}#empty"),
    "notEmpty(a)": (ARRAY, None, True, "boolean", f"{ARRAYS}#notempty"),
    # an untyped argument that is visibly an array
    "length(groupArray(x))": ("n10", None, 10, "bigint", f"{ARRAYS}#length"),
    # both forms show the instant in the zone, as a DateTime
    "toTimeZone(toDateTime('2024-03-15 20:00:00'), 'Asia/Shanghai')": (
        ONE_ROW,
        lambda: CH.toTimeZone(CH.toDateTime(F.lit("2024-03-15 20:00:00")), "Asia/Shanghai"),
        dt.datetime(2024, 3, 16, 4), "timestamp", f"{DT}#totimezone",
    ),
    "toTimeZone(ts, 'Asia/Shanghai')": (
        "ts", lambda: CH.toTimeZone("ts", "Asia/Shanghai"), dt.datetime(2024, 3, 16, 4),
        "timestamp", f"{DT}#totimezone",
    ),
    # the select alias of a map has a Map type
    "length(m)": (MAP, None, 1, "bigint", f"{ARRAYS}#length"),
    "empty(m)": (MAP, None, False, "boolean", f"{ARRAYS}#empty"),
    "notEmpty(m)": (MAP, None, True, "boolean", f"{ARRAYS}#notempty"),
}

JSON = DOCS + "json-functions"
DOC = """'{"a": "hello", "b": [-100, 200.0, 300]}'"""
URL = DOCS + "url-functions"
BITS = DOCS + "bit-functions"
NULL_RULE = f"{DOCS}#null-processing"
# a view: its column types reach translate only at run time
COLS = "cols"
NULL_X = "(SELECT CAST(NULL AS BIGINT) AS x)"


def _doc():
    return F.lit(DOC[1:-1])


# Answers of the calls whose dialect-table copy was deleted once the
# registry's builder gave them. An integer key selects the n-th array
# element or object member, a negative one counts from the end, and a
# missing value or one of another type gives the type's default
# (json-functions, "indices_or_keys"). ClickHouse's UInt8 results are a
# BOOLEAN for a predicate (JSONHas) and an integer for a value (bitTest).
TYPED_CALLS.update({
    # the pages' examples
    f"JSONExtractString({DOC}, 1)": (
        COLS, lambda: CH.JSONExtractString(_doc(), 1), "hello", "string",
        f"{JSON}#jsonextractstringjson-indices_or_keys",
    ),
    f"JSONExtractUInt({DOC}, 'b', -1)": (
        COLS, lambda: CH.JSONExtractUInt(_doc(), "b", -1), 300, "bigint",
        f"{JSON}#jsonextractuintjson-indices_or_keys",
    ),
    f"JSONHas({DOC}, 'b', 4)": (
        COLS, lambda: CH.JSONHas(_doc(), "b", 4), False, "boolean",
        f"{JSON}#jsonhasjson-indices_or_keys",
    ),
    f"JSONLength({DOC})": (
        COLS, lambda: CH.JSONLength(_doc()), 2, "bigint",
        f"{JSON}#jsonlengthjson-indices_or_keys",
    ),
    "JSONExtractInt('[1, 2, 3]', 2)": (
        COLS, lambda: CH.JSONExtractInt(F.lit("[1, 2, 3]"), 2), 2, "bigint",
        f"{JSON}#jsonextractuintjson-indices_or_keys",
    ),
    # a string is not a number: the wrong type gives 0
    """JSONExtractInt('{"a": "5"}', 'a')""": (
        COLS, lambda: CH.JSONExtractInt(F.lit('{"a": "5"}'), "a"), 0, "bigint",
        f"{JSON}#jsonextractuintjson-indices_or_keys",
    ),
    "JSONLength(CAST(NULL AS String))": (
        COLS, lambda: CH.JSONLength(F.lit(None).cast("string")), None, "bigint", NULL_RULE,
    ),
    # exact past 2^53
    "intDiv(9007199254740993, 1)": (
        COLS, lambda: CH.intDiv(F.lit(9007199254740993), F.lit(1)), 9007199254740993,
        "bigint", f"{DOCS}arithmetic-functions#intdiv",
    ),
    # the page's example: a float divides too
    "intDiv(toFloat64(1), 0.001)": (
        COLS, lambda: CH.intDiv(CH.toFloat64(F.lit(1)), F.lit(0.001)), 1000, "bigint",
        f"{DOCS}arithmetic-functions#intdiv",
    ),
    "intDivOrZero(9007199254740993, 1)": (
        COLS, lambda: CH.intDivOrZero(F.lit(9007199254740993), F.lit(1)), 9007199254740993,
        "bigint", f"{DOCS}arithmetic-functions#intdivorzero",
    ),
    # zero when dividing the minimal negative number by minus one
    "intDivOrZero(-9223372036854775808, -1)": (
        COLS, lambda: CH.intDivOrZero(F.lit(-9223372036854775808), F.lit(-1)), 0,
        "bigint", f"{DOCS}arithmetic-functions#intdivorzero",
    ),
    # 2^63 is an Int128 (data-types/int-uint); the wide integers are
    # DECIMAL(38,0) here (SCALING.md)
    "toInt128(9223372036854775808)": (
        COLS, lambda: CH.toInt128(F.lit(decimal.Decimal(2**63))),
        decimal.Decimal(2**63), "decimal(38,0)", f"{CONV}#toint8163264128256",
    ),
    "arrayUniq([1, 1], [1, 2])": (
        COLS, lambda: CH.arrayUniq(F.array(F.lit(1), F.lit(1)), F.array(F.lit(1), F.lit(2))),
        2, "bigint", f"{ARRAYS}#arrayuniqarr-",
    ),
    # the page's example
    "indexOf([1, 3, NULL, NULL], NULL)": (
        COLS, lambda: CH.indexOf(F.array(F.lit(1), F.lit(3), F.lit(None), F.lit(None)), None),
        3, "bigint", f"{ARRAYS}#indexofarr-x",
    ),
    "indexOf(na, 2)": (COLS, lambda: CH.indexOf("na", 2), None, "bigint", NULL_RULE),
    "arrayCompact(na)": (COLS, lambda: CH.arrayCompact("na"), None, "array<bigint>", NULL_RULE),
    # the page's three examples
    "domain('svn+ssh://some.svn-hosting.com:80/repo/trunk')": (
        COLS, lambda: CH.domain(F.lit("svn+ssh://some.svn-hosting.com:80/repo/trunk")),
        "some.svn-hosting.com", "string", f"{URL}#domain",
    ),
    "domain('some.svn-hosting.com:80/repo/trunk')": (
        COLS, lambda: CH.domain(F.lit("some.svn-hosting.com:80/repo/trunk")),
        "some.svn-hosting.com", "string", f"{URL}#domain",
    ),
    "domain('https://clickhouse.com/time/')": (
        COLS, lambda: CH.domain(F.lit("https://clickhouse.com/time/")), "clickhouse.com",
        "string", f"{URL}#domain",
    ),
    # the first of several parameters of one name
    "extractURLParameter('http://a.b/?k=1&k=2', 'k')": (
        COLS, lambda: CH.extractURLParameter(F.lit("http://a.b/?k=1&k=2"), "k"), "1",
        "string", f"{URL}#extracturlparameterurl-name",
    ),
    "extractURLParameter(CAST(NULL AS String), 'k')": (
        COLS, lambda: CH.extractURLParameter(F.lit(None).cast("string"), "k"), None,
        "string", NULL_RULE,
    ),
    "protocol(CAST(NULL AS String))": (
        COLS, lambda: CH.protocol(F.lit(None).cast("string")), None, "string", NULL_RULE,
    ),
    # a column shift amount; bits count from 0 at the right
    "bitTest(i, n)": (COLS, lambda: CH.bitTest("i", "n"), 1, "int", f"{BITS}#bittest"),
    # the page's examples
    "bitTest(43, n)": (COLS, lambda: CH.bitTest(F.lit(43), "n"), 0, "int", f"{BITS}#bittest"),
    "bitShiftLeft(99, n)": (
        COLS, lambda: CH.bitShiftLeft(F.lit(99), "n"), 396, "int", f"{BITS}#bitshiftlefta-b",
    ),
    "bitShiftRight(101, n)": (
        COLS, lambda: CH.bitShiftRight(F.lit(101), "n"), 25, "int", f"{BITS}#bitshiftrighta-b",
    ),
    # the page's example; a String
    "base64Decode('Y2xpY2tob3VzZQ==')": (
        COLS, lambda: CH.base64Decode(F.lit("Y2xpY2tob3VzZQ==")), "clickhouse", "string",
        f"{DOCS}encoding-functions#base64decode",
    ),
    # accepts any arguments, NULL included, and always returns 0
    "ignore(NULL)": (COLS, lambda: CH.ignore(F.lit(None)), 0, "int", f"{DOCS}other-functions#ignore"),
    # the page's example at the default precision, 12
    "geohashEncode(-5.60302734375, 42.593994140625)": (
        COLS, lambda: CH.geohashEncode(F.lit(-5.60302734375), F.lit(42.593994140625)),
        "ezs42d000000", "string", f"{DOCS}geo/geohash#geohashencode",
    ),
    # Int64 is Spark's BIGINT
    "toTypeName(i)": (
        COLS, lambda: CH.toTypeName("i"), "Int64", "string", f"{DOCS}other-functions#totypename",
    ),
    # padded with zero bytes to N bytes; 'абв' is 6 bytes
    "toFixedString('абв', 7)": (
        COLS, lambda: CH.toFixedString(F.lit("абв"), 7), "абв\x00", "string",
        f"{CONV}#tofixedstrings-n",
    ),
    "partitionId(NULL)": (COLS, lambda: CH.partitionId(F.lit(None)), None, "string", NULL_RULE),
    # a function of NULL is NULL; toDateTime32 is toDateTime's name for
    # DateTime (type-conversion-functions#todatetime)
    "toDateTime(x)": (NULL_X, lambda: CH.toDateTime("x"), None, "timestamp", NULL_RULE),
    "toDateTime32(x)": (NULL_X, lambda: CH.toDateTime32("x"), None, "timestamp", NULL_RULE),
    # BIGINT is ClickHouse's alias of Int64 (data-types/int-uint)
    "toTypeName(j)": (
        "(SELECT CAST(-4 AS BIGINT) AS j)", lambda: CH.toTypeName("j"), "Int64", "string",
        f"{DOCS}other-functions#totypename",
    ),
    # an integer key selects the n-th object member, a negative one counts
    # from the end of an array
    """JSONType('{"a": {"b": 1}}', 1)""": (
        COLS, lambda: CH.JSONType(F.lit('{"a": {"b": 1}}'), 1), "Object", "string",
        f"{JSON}#jsontypejson-indices_or_keys",
    ),
    "JSONType('[1, 2]', -1)": (
        COLS, lambda: CH.JSONType(F.lit("[1, 2]"), -1), "Int64", "string",
        f"{JSON}#jsontypejson-indices_or_keys",
    ),
    """JSONExtractKeys('{"a": {"b": 1}}', 1)""": (
        COLS, lambda: CH.JSONExtractKeys(F.lit('{"a": {"b": 1}}'), 1), ["b"], "array<string>",
        f"{JSON}#jsonextractkeysjson-indices_or_keys",
    ),
    # the pages' examples
    f"JSONType({DOC})": (
        COLS, lambda: CH.JSONType(_doc()), "Object", "string", f"{JSON}#jsontypejson-indices_or_keys",
    ),
    f"JSONType({DOC}, 'a')": (
        COLS, lambda: CH.JSONType(_doc(), "a"), "String", "string", f"{JSON}#jsontypejson-indices_or_keys",
    ),
    f"JSONType({DOC}, 'b')": (
        COLS, lambda: CH.JSONType(_doc(), "b"), "Array", "string", f"{JSON}#jsontypejson-indices_or_keys",
    ),
    f"JSONExtractKeys({DOC})": (
        COLS, lambda: CH.JSONExtractKeys(_doc()), ["a", "b"], "array<string>",
        f"{JSON}#jsonextractkeysjson-indices_or_keys",
    ),
    """JSONExtractArrayRaw('{"a": "hello", "b": [-100, 200.0, "hello"]}', 'b')""": (
        COLS, lambda: CH.JSONExtractArrayRaw(F.lit('{"a": "hello", "b": [-100, 200.0, "hello"]}'), "b"),
        ["-100", "200.0", '"hello"'], "array<string>", f"{JSON}#jsonextractarrayrawjson-indices_or_keys",
    ),
})


def test_a_constant_longer_than_its_fixed_string_raises(spark):
    """toFixedString(s, N): "if the string has more bytes than N, an
    exception is thrown" (type-conversion-functions#tofixedstrings-n);
    'абв' is 6 bytes."""
    with pytest.raises(Exception, match="TOO_LARGE_STRING_SIZE"):
        ch_sql(spark, "SELECT toFixedString('абв', 4) AS v").collect()


def _answer_and_type(df):
    return df.first()["v"], df.schema["v"].dataType.simpleString()


@pytest.mark.parametrize("call", sorted(TYPED_CALLS))
def test_ch_sql_gives_the_documented_type(agg_tables, call):
    table, _, want, want_type, _ = TYPED_CALLS[call]
    got = _answer_and_type(ch_sql(agg_tables, f"SELECT {call} AS v FROM {table}"))
    assert got == (want, want_type)


@pytest.mark.parametrize("call", sorted(c for c, row in TYPED_CALLS.items() if row[1]))
def test_builders_give_the_documented_type(agg_tables, call):
    table, build, want, want_type, _ = TYPED_CALLS[call]
    df = agg_tables.sql(f"SELECT * FROM {table}").select(build().alias("v"))
    assert _answer_and_type(df) == (want, want_type)


def test_untuple_expands_the_tuple(spark):
    """untuple gives one column per element (tuple-functions#untuple)."""
    want = [(1, "a")]
    assert [tuple(r) for r in ch_sql(spark, "SELECT untuple(tuple(1, 'a'))").collect()] == want
    got = spark.range(1).select(CH.untuple(CH.tuple_(F.lit(1), F.lit("a")))).collect()
    assert [tuple(r) for r in got] == want


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


def test_a_case_insensitive_name_has_one_spelling():
    """FunctionFactory resolves a case-insensitive name in any case, so it
    refuses a second spelling of one; so does chfn, whichever comes first,
    and the refused call registers none of its names."""
    before, folded = dict(REGISTRY), dict(CASE_INSENSITIVE)
    try:
        for names, case_insensitive in (
            (("aNameNoOneRegistered", "POSITION"), False),
            (("aNameNoOneRegistered", "GreatCircleAngle"), True),
            (("aNameNoOneRegistered", "ANAMENOONEREGISTERED"), True),
        ):
            with pytest.raises(ValueError, match="registered twice"):
                chfn(*names, case_insensitive=case_insensitive)(lambda *a: None)
            assert (REGISTRY, CASE_INSENSITIVE) == (before, folded)
    finally:
        REGISTRY.clear()
        REGISTRY.update(before)
        CASE_INSENSITIVE.clear()
        CASE_INSENSITIVE.update(folded)


def test_every_spelling_is_a_module_attribute():
    """CH.<name> is the builder of a name that only a loop registers, and
    of any case of a case-insensitive name."""
    assert CH.toUInt32OrZero is REGISTRY["toUInt32OrZero"]
    assert CH.POSITION is REGISTRY["position"]
    assert CH.CHAR_LENGTH is REGISTRY["char_length"]
    for low, name in CASE_INSENSITIVE.items():
        assert getattr(CH, low.upper()) is REGISTRY[name]
