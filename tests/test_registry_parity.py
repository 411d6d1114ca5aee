"""One definition per ClickHouse function: the `functions/` registry.

`dialect.translate` renders a registry function through the registry bridge
(`dialect._registry_bridge`). A dialect-table entry (NAME_MAP, TEMPLATES,
ARITY_TEMPLATES, PARAMETRIC) for a registry name is a second definition.
Each one left is listed in KEPT with the reason it stays, and
`test_kept_reason_holds` renders its call through the table and through
translate with the entry removed, runs both on a probe table and checks
that the reason still holds. The probe has a NULL row, a repeated row,
negative numbers, empty strings, arrays and maps, and JSON text.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import math
import re
import threading

import pytest
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark import dialect as D
from clickhouse_23_3_19_32_lts_spark import functions as CH
from clickhouse_23_3_19_32_lts_spark.dialect import _registry_bridge, ch_sql
from clickhouse_23_3_19_32_lts_spark.engine import Engine
from clickhouse_23_3_19_32_lts_spark.functions import REGISTRY

PROBE = """
CREATE OR REPLACE TEMP VIEW __probe AS SELECT * FROM VALUES
 (1, 5L, 2.5D, 'abc', DATE'2024-03-15', TIMESTAMP'2024-03-15 10:20:30',
  array(1L, 2L, 2L, 3L), array('x', 'y'),
  '{"k": 5, "s": "v", "b": true, "f": 1.5, "a": [1, 2]}',
  map('k', 1L), 'https://ex.com/p/q?k=v&x=1#f'),
 (2, -4L, -1.5D, '', DATE'1970-01-01', TIMESTAMP'1970-01-01 00:00:00',
  CAST(array() AS ARRAY<BIGINT>), CAST(array() AS ARRAY<STRING>), '{}',
  CAST(map() AS MAP<STRING, BIGINT>), ''),
 (3, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
 (4, 0L, 0.0D, 'Hello World', DATE'2000-02-29', TIMESTAMP'2000-02-29 23:59:59',
  array(3L, NULL, 1L), array('', 'b'), '{"k": -7, "s": ""}',
  map('a', 2L, 'k', 3L), 'ex.org/path?q=1'),
 (5, 300L, 1234.5D, 'xyz', DATE'2106-02-07', TIMESTAMP'2038-01-19 03:14:08',
  array(7L), array('z'), '[1, 2, 3]', map('z', 0L), 'http://a.b:8080/?k=1&k=2'),
 (6, 5L, 2.5D, 'abc', DATE'2024-03-15', TIMESTAMP'2024-03-15 10:20:30',
  array(1L, 2L, 2L, 3L), array('x', 'y'),
  '{"k": 5, "s": "v", "b": true, "f": 1.5, "a": [1, 2]}',
  map('k', 1L), 'https://ex.com/p/q?k=v&x=1#f')
AS t(k, i, f, s, d, ts, a, sa, j, m, u)
"""

TABLES = {
    "NAME_MAP": D.NAME_MAP,
    "TEMPLATES": D.TEMPLATES,
    "ARITY_TEMPLATES": D.ARITY_TEMPLATES,
    "PARAMETRIC": D.PARAMETRIC,
}

DIFFERS = "answers differ"
NO_RENDER = "the bridge cannot render the call shape"
# two random draws never agree, so these compare the result type and whether
# a second query repeats the first: the table's copy draws from a literal
# seed, the bridge from a seed per call
RANDOM = "the result type or the seeding differs"

# (table, name) -> (reason, a call that shows the reason on the probe table,
# in a shape ClickHouse accepts; uniqMerge reads an array column as its state)
KEPT = {
    ("NAME_MAP", "xxHash32"): (NO_RENDER, "xxHash32(s)"),
    ("TEMPLATES", "any"): (NO_RENDER, "any(i)"),
    ("TEMPLATES", "arrayCount"): (NO_RENDER, "arrayCount(a)"),
    ("TEMPLATES", "rand"): (RANDOM, "rand()"),
    ("TEMPLATES", "rand64"): (RANDOM, "rand64()"),
    ("TEMPLATES", "uniqMerge"): (NO_RENDER, "uniqMerge(a)"),
    ("TEMPLATES", "uniqState"): (DIFFERS, "uniqState(i)"),
    ("ARITY_TEMPLATES", "arrayEnumerateUniq"): (NO_RENDER, "arrayEnumerateUniq(a, a)"),
    ("ARITY_TEMPLATES", "countIf"): (NO_RENDER, "countIf(i, i > 0)"),
    ("ARITY_TEMPLATES", "countState"): (NO_RENDER, "countState()"),
    ("ARITY_TEMPLATES", "if"): (NO_RENDER, "if(i, s, 'z')"),
    ("ARITY_TEMPLATES", "range"): (NO_RENDER, "range(5)"),
    ("PARAMETRIC", "groupArrayMovingAvg"): (NO_RENDER, "groupArrayMovingAvg(2)(i)"),
    ("PARAMETRIC", "groupArrayMovingSum"): (NO_RENDER, "groupArrayMovingSum(2)(i)"),
}


# Entries deleted once ClickHouse's documented answer settled the difference
# (tests/test_ch_answers.py checks the answers), or once the bridge rendered
# the table's text (toYear, uniq, toString), the parametric call shape or
# arithmetic over comparisons (translate casts their UInt8 results for the
# bridge).
# Each keeps its test_kept_reason_holds case, which checks that the
# registry is now the name's one definition.
SETTLED = [
    (table, name)
    for table, names in {
        "NAME_MAP": (
            "JSONLength anyLast base64Decode fromUnixTimestamp lengthUTF8 toHour "
            "toMinute toSecond toUnixTimestamp toYear uniq"
        ),
        "TEMPLATES": (
            "JSONExtractBool JSONExtractFloat JSONExtractInt JSONExtractRaw "
            "JSONExtractString JSONHas arrayCompact arrayUniq bitShiftLeft "
            "bitShiftRight bitTest domain extractURLParameter indexOf intDiv "
            "intDivOrZero minus modulo multiply negate partitionId plus "
            "positiveModulo protocol toFixedString toInt128 toInt256 toTypeName "
            "toUInt128 toUInt256 untuple "
            "DAYOFWEEK empty fromUnixTimestamp64Micro fromUnixTimestamp64Milli "
            "fromUnixTimestamp64Nano hex monthName notEmpty "
            "positionCaseInsensitive positionCaseInsensitiveUTF8 positionUTF8 "
            "replaceOne timeSlot toDate toDate32 "
            "toDateTime toDateTime64 toDayOfWeek toMonday toQuarter toStartOfDay "
            "toStartOfHour toStartOfMinute toStartOfMonth toStartOfQuarter "
            "toStartOfYear toString toTime toUInt16 toUInt32 toUInt8 toYYYYMM "
            "toYYYYMMDD"
        ),
        "ARITY_TEMPLATES": (
            "addDays arrayUniq geohashEncode ignore now parseDateTime32BestEffort "
            "parseDateTime32BestEffortOrNull parseDateTime32BestEffortOrZero "
            "parseDateTime64BestEffort parseDateTime64BestEffortOrNull "
            "parseDateTime64BestEffortOrZero parseDateTime64BestEffortUS "
            "parseDateTime64BestEffortUSOrNull parseDateTime64BestEffortUSOrZero "
            "parseDateTimeBestEffort parseDateTimeBestEffortOrNull "
            "parseDateTimeBestEffortOrZero parseDateTimeBestEffortUS "
            "parseDateTimeBestEffortUSOrNull parseDateTimeBestEffortUSOrZero "
            "subtractDays toDateTime toDateTime64 toDateTime64OrNull "
            "toDateTime64OrZero toDateTimeOrNull toDateTimeOrZero toStartOfWeek "
            "toTimeZone quantile quantileExact quantileTDigest quantileTiming uniq "
            "locate mid multiMatchAny multiSearchAny multiSearchAnyCaseInsensitive "
            "position splitByChar splitByString substr substring"
        ),
        "PARAMETRIC": (
            "groupArray groupArraySample groupUniqArray quantile "
            "quantileDeterministic quantileExact quantileExactExclusive "
            "quantileExactInclusive quantileExactWeighted "
            "quantileInterpolatedWeighted quantileTDigest quantileTiming "
            "quantileTimingWeighted quantiles quantilesDeterministic "
            "quantilesExact quantilesExactExclusive quantilesExactInclusive "
            "quantilesExactWeighted quantilesInterpolatedWeighted "
            "quantilesTDigest quantilesTiming quantilesTimingWeighted topK "
            "topKWeighted"
        ),
    }.items()
    for name in names.split()
]

# --- the Column-repr leak and the worker-thread session ---------------------

# Builders that format an argument into a string: JSON key paths and window
# intervals. Their literal parameters are annotated, so the bridge inlines
# literal SQL and declines a column there instead of formatting its repr.
FORMATTING_BUILDERS = [
    "JSONExtractArrayRaw", "JSONExtractBool", "JSONExtractFloat",
    "JSONExtractInt", "JSONExtractKeys", "JSONExtractRaw",
    "JSONExtractString", "JSONExtractUInt", "JSONHas", "JSONLength",
    "JSONType", "hop", "hopEnd", "hopStart", "simpleJSONExtractBool",
    "simpleJSONExtractFloat", "simpleJSONExtractInt", "simpleJSONExtractRaw",
    "simpleJSONExtractString", "simpleJSONExtractUInt", "simpleJSONHas",
    "tumble", "tumbleEnd", "tumbleStart", "visitParamExtractBool",
    "visitParamExtractFloat", "visitParamExtractInt", "visitParamExtractRaw",
    "visitParamExtractString", "visitParamExtractUInt", "visitParamHas",
    "windowID",
]


def test_bridge_never_renders_a_column_repr(spark):
    for name in FORMATTING_BUILDERS:
        for n in (1, 2, 3):
            for args in (["c0", "c1", "c2"][:n], ["c0", "'k'", "'1 hour'"][:n]):
                got = _registry_bridge(name, args)
                assert got is None or "Column<" not in got, (name, args, got)


# The parametric families: the bridge binds a parameter to the builder's
# literal slot, so no call leaves ClickHouse's f(params)(args) shape behind.
PARAMETRIC_FAMILIES = (
    r"(?!\w*(State|Merge)$)(quantile|median|topK)\w*"
    r"|groupArray(Last|Sample|MovingSum|MovingAvg)?|groupUniqArray"
)


def test_parametric_families_render_through_translate(spark):
    names = sorted(n for n in REGISTRY if re.fullmatch(PARAMETRIC_FAMILIES, n))
    assert len(names) > 40
    for name in names:
        param = "0.5" if name.startswith(("quantile", "median")) else "2"
        args = "i, k" if re.search("Weighted|Deterministic", name) else "i"
        got = D.translate(f"SELECT {name}({param})({args}) FROM t")
        assert not re.search(r"\)\s*\(", got), (name, got)


def test_json_key_literals_render_through_the_bridge(spark):
    got = ch_sql(
        spark,
        """SELECT JSONExtractUInt('{"k": 5}', 'k') AS a,"""
        """ visitParamExtractInt('{"k": 5}', 'k') AS b,"""
        """ simpleJSONHas('{"k": 5}', 'k') AS c""",
    ).collect()
    assert [tuple(r) for r in got] == [(5, 5, True)]


def test_ch_sql_renders_on_its_session_in_a_worker_thread(spark):
    got, errors = [], []

    def work():
        try:
            df = Engine(spark).ch_sql("SELECT countEqual(array(1, 2, 2), 2) AS c")
            got.extend(df.collect())
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    t = threading.Thread(target=work)
    t.start()
    t.join()
    assert not errors, errors
    assert [r["c"] for r in got] == [2]


# --- one definition per function --------------------------------------------


@pytest.fixture(scope="module")
def probe(spark):
    spark.sql(PROBE)
    # ~160 queries over six rows: interpreted evaluation and one shuffle
    # partition beat compiling a class per query
    quick = {
        "spark.sql.shuffle.partitions": "1",
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    }
    saved = {k: spark.conf.get(k) for k in quick}
    for k, v in quick.items():
        spark.conf.set(k, v)
    yield spark
    for k, v in saved.items():
        spark.conf.set(k, v)
    spark.catalog.dropTempView("__probe")


@contextlib.contextmanager
def _removed(table: str, name: str):
    tb = TABLES[table]
    saved = list(tb.items())
    del tb[name]
    try:
        yield
    finally:
        tb.clear()
        tb.update(saved)


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, dict):
        return sorted((str(k), _norm(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):  # Rows are tuples
        return [_norm(x) for x in v]
    if isinstance(v, (datetime.date, decimal.Decimal, bytes, bytearray)):
        return str(v)
    return v


def _answers(spark, exprs: list[str]):
    """[(type, values)] per column of SELECT exprs over the probe table."""
    df = spark.sql(f"SELECT {', '.join(exprs)} FROM __probe")
    rows = df.collect()
    return [
        (f.dataType.simpleString(), [_norm(r[j]) for r in rows])
        for j, f in enumerate(df.schema.fields)
    ]


def _status(spark, table: str, name: str, call: str):
    """('agree' | 'differs' | 'no_render', table SQL, bridged SQL) for a call
    rendered through the table and through translate without the entry."""
    from pyspark.errors import AnalysisException

    with D._on_session(spark):
        table_sql = D._expr_sql(call)
        with _removed(table, name):
            try:
                bridged_sql = D._expr_sql(call)
            except D.ChSqlError:
                return "no_render", table_sql, None
    if bridged_sql == table_sql:
        return "agree", table_sql, bridged_sql
    spark.sql(f"SELECT {table_sql} FROM __probe")  # the call's shape is valid
    try:
        spark.sql(f"SELECT {bridged_sql} FROM __probe")
    except AnalysisException:
        return "no_render", table_sql, bridged_sql
    except Exception:  # noqa: BLE001 — an internal error is an answer too
        return "differs", table_sql, bridged_sql
    try:
        # one query, so both sides see the same current_timestamp()
        both = _answers(spark, [table_sql, bridged_sql])
    except Exception:  # noqa: BLE001 — two generators, or one side fails
        both = []
    if len(both) == 2:
        return ("agree" if both[0] == both[1] else "differs"), table_sql, bridged_sql
    want = _answers(spark, [table_sql])
    try:
        got = _answers(spark, [bridged_sql])
    except Exception:  # noqa: BLE001 — a run-time error is an answer too
        return "differs", table_sql, bridged_sql
    return ("agree" if got == want else "differs"), table_sql, bridged_sql


def _seeding(spark, table: str, name: str, call: str):
    """(type, whether a second query repeats the first) of a random call,
    through the table and through translate without the entry."""

    def twice():
        first, second = (_answers(spark, [D._expr_sql(call)])[0] for _ in range(2))
        return first[0], first == second

    with D._on_session(spark):
        with_entry = twice()
        with _removed(table, name):
            return with_entry, twice()


def test_every_duplicate_is_listed():
    dups = {(t, n) for t, tb in TABLES.items() for n in tb if n in REGISTRY}
    assert sorted(dups - set(KEPT)) == [], "registry names with a table entry but no reason"
    assert sorted(set(KEPT) - dups) == [], "listed entries that are no longer duplicates"


@pytest.mark.parametrize("table, name", sorted(KEPT) + sorted(SETTLED))
def test_kept_reason_holds(probe, table, name):
    if (table, name) in SETTLED:
        assert name in REGISTRY and name not in TABLES[table]
        return
    reason, call = KEPT[(table, name)]
    status, table_sql, bridged_sql = _status(probe, table, name, call)
    detail = f"{call}: table {table_sql!r}, without the entry {bridged_sql!r}"
    if reason == RANDOM:
        with_entry, without = _seeding(probe, table, name, call)
        assert with_entry != without, f"both (type, repeats) {with_entry}; {detail}"
    elif reason == DIFFERS:
        assert status == "differs", f"{status}, not differs; {detail}"
    else:
        assert status == "no_render", f"{status}, not no_render; {detail}"


# --- calls of deleted entries ------------------------------------------------

# Calls a deleted table entry used to render, with the answers it gave:
# non-constant pad lengths and patterns (ClickHouse takes a column there),
# and -If forms of deleted aggregate bases, which the generic -If combinator
# expands through the registry.
ROW_CALLS = {
    "leftPad(s, length(s) + 2, '*')": [
        "**abc", "**", None, "**Hello World", "**xyz", "**abc"
    ],
    "rightPad(s, k, '*')": ["a", "**", None, "Hell", "xyz**", "abc***"],
    "match(s, concat('^', substring(s, 1, 1)))": [
        True, True, None, True, True, True
    ],
    "notLike(s, concat(substring(s, 1, 1), '%'))": [
        False, False, None, False, False, False
    ],
    "notILike(s, upper(s))": [False, False, None, False, False, False],
    "replaceAll(s, substring(s, 1, 1), '-')": [
        "-bc", "", None, "-ello World", "-yz", "-bc"
    ],
}
AGGREGATE_CALLS = {
    "argMaxIf(s, i, k > 1)": "xyz",
    "argMinIf(s, i, k > 1)": "",
    "arraySort(groupArrayIf(i, k > 1))": [-4, 0, 5, 300],
    "stddevPopIf(f, k > 1)": 534.411753122066,
    "varSampIf(f, k > 1)": 380794.5625,
}


# Distinct-counting calls the bridge renders, with ClickHouse's answers on
# the probe: i holds 5, -4, NULL, 0, 300, 5 (four distinct values) and s
# four distinct strings; a row with a NULL argument is skipped. uniqUpTo(N)
# caps the distinct count at N + 1. The bridge once rendered their
# countDistinct as count(), which counts rows; the table entries for
# countDistinct and uniqExact then hid it for those names.
DISTINCT_CALLS = {
    "uniqUpTo(10)(i)": 4,
    "uniqUpTo(3)(i)": 4,
    "uniqUpTo(2)(i)": 3,
    "uniqUpTo(10)(s)": 4,
    "uniqExact(i)": 4,
    "uniqExact(k, i)": 5,
    "countDistinct(i, s)": 4,
}


@pytest.mark.parametrize("call", sorted(DISTINCT_CALLS))
def test_distinct_calls_count_distinct_values(probe, call):
    got = ch_sql(probe, f"SELECT {call} AS v FROM __probe").collect()
    assert [_norm(r["v"]) for r in got] == [DISTINCT_CALLS[call]]


@pytest.mark.parametrize("call", sorted(ROW_CALLS))
def test_deleted_entry_row_calls_keep_their_answers(probe, call):
    got = ch_sql(probe, f"SELECT {call} AS v FROM __probe ORDER BY k").collect()
    assert [_norm(r["v"]) for r in got] == _norm(ROW_CALLS[call])


@pytest.mark.parametrize("call", sorted(AGGREGATE_CALLS))
def test_deleted_entry_aggregate_calls_keep_their_answers(probe, call):
    got = ch_sql(probe, f"SELECT {call} AS v FROM __probe").collect()
    assert [_norm(r["v"]) for r in got] == [_norm(AGGREGATE_CALLS[call])]


# --- one definition of each settled name ---------------------------------------

# A call of each of the 36 names whose last table entries were settled
# together (37 entries: arrayUniq had two), with the same call through its
# builder; a row call reads the probe's columns. ch_sql must
# give the builder's answer on every probe row: a _rewrite branch that
# renders the call before the bridge shows here.
ONE_DEFINITION = {
    "JSONExtractBool(j, 'b')": lambda: CH.JSONExtractBool("j", "b"),
    "JSONExtractFloat(j, 'f')": lambda: CH.JSONExtractFloat("j", "f"),
    "JSONExtractInt(j, 2)": lambda: CH.JSONExtractInt("j", 2),
    "JSONExtractRaw(j, -1)": lambda: CH.JSONExtractRaw("j", -1),
    "JSONExtractString(j, 's')": lambda: CH.JSONExtractString("j", "s"),
    "JSONHas(j, 'a', 2)": lambda: CH.JSONHas("j", "a", 2),
    "JSONLength(j)": lambda: CH.JSONLength("j"),
    "arrayCompact(a)": lambda: CH.arrayCompact("a"),
    "arrayUniq(a)": lambda: CH.arrayUniq("a"),
    "arrayUniq(a, a)": lambda: CH.arrayUniq("a", "a"),
    "base64Decode('YWJj')": lambda: CH.base64Decode(F.lit("YWJj")),
    "bitShiftLeft(i, k)": lambda: CH.bitShiftLeft("i", "k"),
    "bitShiftRight(i, k)": lambda: CH.bitShiftRight("i", "k"),
    "bitTest(i, k)": lambda: CH.bitTest("i", "k"),
    "domain(u)": lambda: CH.domain("u"),
    "extractURLParameter(u, 'k')": lambda: CH.extractURLParameter("u", "k"),
    "geohashEncode(f, f)": lambda: CH.geohashEncode("f", "f"),
    "ignore(i)": lambda: CH.ignore("i"),
    "indexOf(a, 2)": lambda: CH.indexOf("a", 2),
    "intDiv(i, k)": lambda: CH.intDiv("i", "k"),
    "intDivOrZero(i, k - 2)": lambda: CH.intDivOrZero("i", F.col("k") - 2),
    "minus(i, k)": lambda: CH.minus("i", "k"),
    "modulo(i, k)": lambda: CH.modulo("i", "k"),
    "multiply(i, k)": lambda: CH.multiply("i", "k"),
    "negate(i)": lambda: CH.negate("i"),
    "partitionId(i, k)": lambda: CH.partitionId("i", "k"),
    "plus(i, k)": lambda: CH.plus("i", "k"),
    "positiveModulo(i, k)": lambda: CH.positiveModulo("i", "k"),
    "protocol(u)": lambda: CH.protocol("u"),
    "toFixedString(s, 4)": lambda: CH.toFixedString("s", 4),
    "toInt128(i)": lambda: CH.toInt128("i"),
    "toInt256(i)": lambda: CH.toInt256("i"),
    "toTypeName(i)": lambda: CH.toTypeName("i"),
    "toUInt128(i)": lambda: CH.toUInt128("i"),
    "toUInt256(i)": lambda: CH.toUInt256("i"),
    "untuple(tuple(i, s))": lambda: CH.untuple(CH.tuple_("i", "s")),
}
ONE_DEFINITION_AGGREGATES = {
    "anyLast(if(k = 6, NULL, i))": lambda: CH.anyLast(F.when(F.col("k") != 6, F.col("i"))),
}


def _rows(df) -> list:
    return sorted((_norm(list(r)) for r in df.collect()), key=repr)


@pytest.mark.parametrize("call", sorted(ONE_DEFINITION))
def test_ch_sql_gives_the_builders_answer(probe, call):
    got = _rows(ch_sql(probe, f"SELECT k, {call} FROM __probe"))
    want = _rows(probe.table("__probe").select("k", ONE_DEFINITION[call]()))
    assert got == want


@pytest.mark.parametrize("call", sorted(ONE_DEFINITION_AGGREGATES))
def test_ch_sql_gives_the_builders_aggregate(probe, call):
    got = _rows(ch_sql(probe, f"SELECT {call} FROM __probe"))
    want = _rows(probe.table("__probe").select(ONE_DEFINITION_AGGREGATES[call]()))
    assert got == want


# Arithmetic and aggregates over comparisons: ClickHouse computes over
# their UInt8 0/1, and translate casts them before the bridge (the
# answers the deleted table entries gave on the probe).
UINT8_CALLS = {
    "plus(i = 5, k = 2)": [1, 1, None, 0, 0, 1],
    "minus(i = 5, k = 2)": [1, -1, None, 0, 0, 1],
    "negate(i = 5)": [-1, 0, None, 0, 0, -1],
}


@pytest.mark.parametrize("call", sorted(UINT8_CALLS))
def test_arithmetic_over_comparisons(probe, call):
    got = ch_sql(probe, f"SELECT {call} AS v FROM __probe ORDER BY k").collect()
    assert [r["v"] for r in got] == UINT8_CALLS[call]


def test_aggregates_over_comparisons(probe):
    got = ch_sql(probe, "SELECT SUM(k = 2) AS a, sum(i > 0) AS b, Avg(k > 3) AS c FROM __probe")
    assert [tuple(r) for r in got.collect()] == [(1, 3, 0.5)]
