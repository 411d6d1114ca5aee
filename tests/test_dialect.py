"""ClickHouse-dialect translation tests: string-level rewrites plus
end-to-end execution on the fixture tables with DuckDB-checkable results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.dialect import ChSqlError, ch_sql, translate


# --- string-level -----------------------------------------------------------


@pytest.mark.parametrize(
    "ch, expected",
    [
        ("SELECT toYear(d) FROM t", "SELECT year(d) FROM t"),
        (
            "SELECT intDiv(a, b) FROM t",
            "SELECT div(CAST(a AS DECIMAL(38,10)), CAST(b AS DECIMAL(38,10))) FROM t",
        ),
        ("SELECT toString(x) FROM t", "SELECT CAST(x AS STRING) FROM t"),
        ("SELECT count() FROM t", "SELECT count(*) FROM t"),
        ("SELECT x FROM t WHERE a == 1", "SELECT x FROM t WHERE a = 1"),
        ("SELECT uniq(x) FROM t FORMAT Pretty", "SELECT approx_count_distinct(x) FROM t"),
        ("SELECT 1 SETTINGS max_threads = 8", "SELECT 1"),
        (
            "SELECT quantile(0.9)(x) FROM t",
            "SELECT coalesce(percentile(x, 0.9D, 1), CAST('NaN' AS DOUBLE)) FROM t",
        ),
        (
            "SELECT sumIf(v, c > 0) FROM t",
            "SELECT coalesce(sum(CASE WHEN c > 0 THEN v END), 0) FROM t",
        ),
        (
            # UInt8 truthiness: bare-column conditions get a boolean cast
            "SELECT multiIf(a, 1, b, 2, 3) FROM t",
            "SELECT CASE WHEN CAST((a) AS BOOLEAN) THEN 1"
            " WHEN CAST((b) AS BOOLEAN) THEN 2 ELSE 3 END FROM t",
        ),
        (
            "SELECT toStartOfMonth(nested(fn(x))) FROM t",
            "SELECT CASE WHEN `<`(CAST(date_trunc('month', (nested(fn(x)))) AS DATE),"
            " DATE '1970-01-01') THEN DATE '1970-01-01'"
            " ELSE CAST(date_trunc('month', (nested(fn(x)))) AS DATE) END FROM t",
        ),
        # strings survive untouched, even containing function-looking text
        (
            "SELECT 'toYear(x)' AS s FROM t",
            "SELECT 'toYear(x)' AS s FROM t",
        ),
    ],
)
def test_translate_strings(spark, ch, expected):
    # registry functions render through the bridge, on the active session
    assert translate(ch) == expected


def _blank_strings_by_character(s: str) -> str:
    """The character loop _blank_strings was before it became one regex
    substitution: the reference its output must equal."""
    out, in_str, i = [], False, 0
    while i < len(s):
        c = s[i]
        if in_str:
            if c == "\\" and i + 1 < len(s):
                out.append("  ")
                i += 2
                continue
            if c == "'":
                in_str = False
                out.append(c)
            else:
                out.append(" ")
        else:
            if c == "'":
                in_str = True
            out.append(c)
        i += 1
    return "".join(out)


def test_blank_strings_matches_the_character_loop():
    """Quotes, backslash escapes, a backslash at the end and unterminated
    literals, in random texts of every length up to 12."""
    import random

    from clickhouse_23_3_19_32_lts_spark.dialect import _blank_strings

    rng = random.Random(19)
    texts = ["", "'", "\\", "'\\", "'a\\'b'", "x 'it''s' y", "'open", "SELECT 'a\nb' AS s"]
    texts += ["".join(rng.choice("ab'\\\n ") for _ in range(rng.randint(0, 12))) for _ in range(20000)]
    for s in texts:
        assert _blank_strings(s) == _blank_strings_by_character(s), repr(s)


def test_unsupported_constructs_raise():
    with pytest.raises(ChSqlError):
        translate("SELECT x FROM t ORDER BY x WITH FILL INTERPOLATE (y)")
    with pytest.raises(ChSqlError):
        # multi-column fill needs the library operator
        translate("SELECT x, y FROM t ORDER BY x WITH FILL, y WITH FILL")
    with pytest.raises(ChSqlError):
        # ARRAY JOIN over an unaliased non-column expression is unsupported
        translate("SELECT 1 FROM t ARRAY JOIN arrayMap(x -> x, arr)")


def test_array_join_clause_translates():
    got = translate("SELECT x, a FROM t ARRAY JOIN arr AS a")
    assert "LATERAL VIEW explode(" in got and " AS a" in got
    got_left = translate("SELECT x, a FROM t LEFT ARRAY JOIN arr AS a")
    assert "LATERAL VIEW explode_outer(" in got_left
    # bare column form: the exploded value takes over the column name
    got_bare = translate("SELECT x, arr FROM t ARRAY JOIN arr")
    assert "EXCEPT(arr)" in got_bare.replace(" ", "") or "EXCEPT (arr)" in got_bare
    # multi-item clauses traverse arrays in lockstep (arrays_zip), not cross
    got_multi = translate("SELECT a, b FROM t ARRAY JOIN arr AS a, arr2 AS b")
    assert "arrays_zip(" in got_multi and got_multi.count("LATERAL VIEW") == 1


# --- end-to-end on fixtures -------------------------------------------------


@pytest.fixture(scope="module", autouse=True)
def register_views(spark, sf_dir):
    from clickhouse_23_3_19_32_lts_spark.engine import Engine

    Engine(spark, sf_dir)


def test_ch_sql_aggregation(spark, duck):
    got = ch_sql(
        spark,
        """
        SELECT toYear(o_orderdate) AS y, count() AS n,
               quantile(0.5)(o_totalprice) AS med
        FROM orders GROUP BY y ORDER BY y
        FORMAT JSONEachRow
        """,
    ).collect()
    want = duck.sql(
        """
        SELECT year(o_orderdate) AS y, count(*) AS n,
               quantile_cont(o_totalprice, 0.5) AS med
        FROM orders GROUP BY y ORDER BY y
        """
    ).fetchall()
    assert [(r["y"], r["n"], round(r["med"], 6)) for r in got] == [
        (y, n, round(m, 6)) for y, n, m in want
    ]


def test_ch_sql_conditionals_and_dates(spark, duck):
    got = ch_sql(
        spark,
        """
        SELECT toYYYYMM(l_shipdate) AS ym,
               countIf(l_quantity > 25) AS big,
               sumIf(l_extendedprice, l_discount > 0.05) AS disc_rev
        FROM lineitem GROUP BY ym ORDER BY ym
        """,
    ).collect()
    want = duck.sql(
        """
        SELECT year(l_shipdate)*100 + month(l_shipdate) AS ym,
               count(*) FILTER (WHERE l_quantity > 25) AS big,
               sum(l_extendedprice) FILTER (WHERE l_discount > 0.05) AS disc_rev
        FROM lineitem GROUP BY ym ORDER BY ym
        """
    ).fetchall()
    assert [(r["ym"], r["big"], round(r["disc_rev"] or 0, 4)) for r in got] == [
        (ym, b, round(dr or 0, 4)) for ym, b, dr in want
    ]


def test_ch_sql_string_and_json(spark):
    rows = ch_sql(
        spark,
        """
        SELECT event_type,
               JSONExtractInt(props, 'k') AS k,
               toDayOfWeek(ts) AS dow
        FROM events
        WHERE notEmpty(props) AND isNotNull(user_id)
        ORDER BY event_id LIMIT 5
        """,
    ).collect()
    assert len(rows) == 5
    assert all(1 <= r["dow"] <= 7 for r in rows)


def test_ch_sql_joins_pass_through(spark):
    rows = ch_sql(
        spark,
        """
        SELECT n_name, count() AS n
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n DESC, n_name LIMIT 3
        """,
    ).collect()
    assert len(rows) == 3 and rows[0]["n"] >= rows[-1]["n"]


def test_ch_sql_tpch_q1_end_to_end(spark, sf_dir):
    """A reference user's TPC-H Q1 — ClickHouse dialect (count(), toDate,
    CH-style syntax) — must produce the registry q01 results unchanged."""
    from clickhouse_23_3_19_32_lts_spark.queries import all_queries

    got = ch_sql(
        spark,
        """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity)                                       AS sum_qty,
               sum(l_extendedprice)                                  AS sum_base_price,
               sum(l_extendedprice * (1 - l_discount))               AS sum_disc_price,
               sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
               avg(l_quantity)      AS avg_qty,
               avg(l_extendedprice) AS avg_price,
               avg(l_discount)      AS avg_disc,
               count()              AS count_order
        FROM lineitem
        WHERE l_shipdate <= toDateTime('1998-09-02 00:00:00')
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        FORMAT TabSeparated
        """,
    ).collect()
    want = all_queries()["q01_pricing_summary"](spark, sf_dir).collect()
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["l_returnflag"] == w["l_returnflag"]
        assert g["count_order"] == w["count_order"]
        assert abs(g["sum_disc_price"] - w["sum_disc_price"]) < 1e-6


def test_ch_sql_parametric_and_arrays_end_to_end(spark):
    rows = ch_sql(
        spark,
        """
        SELECT event_type,
               quantiles(0.5, 0.9)(value) AS qs,
               topK(3)(user_id) AS top_users,
               groupUniqArray(user_id % 5) AS cohorts
        FROM events GROUP BY event_type ORDER BY event_type
        """,
    ).collect()
    assert len(rows) == 5
    for r in rows:
        assert len(r["qs"]) == 2 and r["qs"][0] <= r["qs"][1]
        assert len(r["top_users"]) == 3
        assert sorted(r["cohorts"]) == [0, 1, 2, 3, 4]


def test_translate_idempotent():
    """Valid Spark SQL must pass through unchanged — translating an
    already-translated query is a no-op (the pass-through guarantee)."""
    queries = [
        "SELECT toYear(d) AS y, count() FROM t GROUP BY y",
        "SELECT quantile(0.9)(x), sumIf(v, c > 0) FROM t",
        "SELECT ['a', 'b'], arr[1], multiIf(a, 1, b, 2, 3) FROM t",
        "SELECT CAST(x AS Int64) FROM t ARRAY JOIN arr AS a",
    ]
    for q in queries:
        once = translate(q)
        assert translate(once) == once, q


# --- one spelling per case-insensitive name ----------------------------------

# arguments of a call per case-insensitive registry name; other names take (s)
CASE_ARGS = {
    "CAST": "s AS String", "if": "x > 0, 'a', 'b'", "date_diff": "'day', d, d",
    "date_trunc": "'day', d", "DAYOFWEEK": "d", "like": "s, 'a%'", "ilike": "s, 'a%'",
    "replace": "s, 'a', 'b'", "substring": "s, 2, -1", "substr": "s, 2, -1",
    "mid": "s, 2, 3", "position": "s, 'a'", "locate": "s, 'a'", "instr": "s, 'a'",
}


def _cases(name: str) -> list[str]:
    mixed = "".join(c.upper() if j % 2 else c.lower() for j, c in enumerate(name))
    return [name.upper(), name.lower(), mixed, mixed.swapcase()]


def test_every_case_of_a_case_insensitive_name_translates_alike(spark):
    """ClickHouse resolves a case-insensitive name in any case
    (FunctionFactory::tryGet): each spelling translates, and types, as the
    registered one."""
    from clickhouse_23_3_19_32_lts_spark.functions.registry import CASE_INSENSITIVE

    def sql(fn, args):
        return translate(f"SELECT {fn}({args}) AS v, toTypeName({fn}({args})) AS t FROM t")

    assert len(CASE_INSENSITIVE) >= 20
    for name in CASE_INSENSITIVE.values():
        args = CASE_ARGS.get(name, "s")
        want = sql(name, args)
        for spelling in _cases(name):
            assert sql(spelling, args) == want, spelling


# --- round-2 advisory fixes (ADVICE.md r1): arg order / units / frequency ---


def test_position_locate_haystack_first(spark):
    # CH position(haystack, needle) — FunctionsStringSearch.h:20
    assert spark.sql(translate("SELECT position('hello world', 'world') AS p")).first()["p"] == 7
    assert spark.sql(translate("SELECT locate('hello', 'lo') AS p")).first()["p"] == 4
    assert spark.sql(translate("SELECT position('ababab', 'ab', 3) AS p")).first()["p"] == 3
    # needle absent → 0, CH convention
    assert spark.sql(translate("SELECT position('abc', 'z') AS p")).first()["p"] == 0
    # SQL-standard needle-IN-haystack form passes through
    assert spark.sql(translate("SELECT position('lo' IN 'hello') AS p")).first()["p"] == 4
    assert (
        spark.sql(translate("SELECT positionCaseInsensitive('Hello', 'HELL') AS p")).first()["p"]
        == 1
    )


def test_split_by_char_and_string(spark):
    # separator-first in CH; regex metachars must be literal
    assert spark.sql(translate("SELECT splitByChar('|', 'a|b|c') AS a")).first()["a"] == [
        "a", "b", "c",
    ]
    assert spark.sql(translate("SELECT splitByChar('.', '1.2.3') AS a")).first()["a"] == [
        "1", "2", "3",
    ]
    assert spark.sql(translate("SELECT splitByChar(',', 'a,b,') AS a")).first()["a"] == [
        "a", "b", "",
    ]
    assert spark.sql(translate("SELECT splitByString('::', 'a::b::c') AS a")).first()["a"] == [
        "a", "b", "c",
    ]


def test_to_start_of_week_sunday_default(spark):
    # 2024-01-03 is a Wednesday; CH mode 0 week starts Sunday 2023-12-31
    r = spark.sql(
        translate(
            "SELECT toStartOfWeek(toDate('2024-01-03')) AS w0, "
            "toStartOfWeek(toDate('2024-01-03'), 1) AS w1, "
            "toMonday(toDate('2024-01-03')) AS mon"
        )
    ).first()
    assert str(r["w0"]) == "2023-12-31"
    assert str(r["w1"]) == "2024-01-01"
    assert str(r["mon"]) == "2024-01-01"
    # a Sunday maps to itself in mode 0
    r2 = spark.sql(translate("SELECT toStartOfWeek(toDate('2024-01-07')) AS w")).first()
    assert str(r2["w"]) == "2024-01-07"


def test_datediff_boundary_vs_age_complete(spark):
    # dateDiff counts boundary crossings; age counts complete units
    r = spark.sql(
        translate(
            "SELECT dateDiff('month', toDate('2023-01-31'), toDate('2023-02-01')) AS dd_m, "
            "age('month', toDate('2023-01-31'), toDate('2023-02-01')) AS age_m, "
            "dateDiff('hour', toDateTime('2023-01-01 10:59:00'), toDateTime('2023-01-01 11:01:00')) AS dd_h, "
            "age('hour', toDateTime('2023-01-01 10:59:00'), toDateTime('2023-01-01 11:01:00')) AS age_h, "
            "dateDiff('day', toDate('2023-01-01'), toDate('2023-03-01')) AS dd_d, "
            "dateDiff('week', toDate('2024-01-07'), toDate('2024-01-08')) AS dd_w, "
            "dateDiff('year', toDate('2023-12-31'), toDate('2024-01-01')) AS dd_y"
        )
    ).first()
    assert r["dd_m"] == 1 and r["age_m"] == 0
    assert r["dd_h"] == 1 and r["age_h"] == 0
    assert r["dd_d"] == 59
    # Sunday 2024-01-07 and Monday 2024-01-08 straddle a Monday week boundary
    assert r["dd_w"] == 1
    assert r["dd_y"] == 1


def test_datediff_requires_literal_unit():
    with pytest.raises(ChSqlError):
        translate("SELECT dateDiff(u, a, b) FROM t")


def test_topk_is_most_frequent(spark):
    spark.createDataFrame(
        [(v,) for v in [1, 1, 1, 2, 2, 9, 9, 9, 9, 5]], "x int"
    ).createOrReplaceTempView("topk_t")
    r = spark.sql(translate("SELECT topK(2)(x) AS t FROM topk_t")).first()
    assert r["t"] == [9, 1]


# --- round-2: LIMIT BY / WITH FILL / WITH TOTALS in SQL form ----------------


def test_sql_limit_by(spark):
    spark.createDataFrame(
        [(1, 10), (1, 20), (1, 30), (2, 5), (2, 6), (3, 1)], "g int, v int"
    ).createOrReplaceTempView("lb_t")
    rows = spark.sql(
        translate("SELECT g, v FROM lb_t ORDER BY g, v LIMIT 2 BY g")
    ).collect()
    assert [(r["g"], r["v"]) for r in rows] == [(1, 10), (1, 20), (2, 5), (2, 6), (3, 1)]
    # offset form: LIMIT 1, 2 BY g → skip 1, take 2 per group
    rows = spark.sql(
        translate("SELECT g, v FROM lb_t ORDER BY g, v LIMIT 1, 2 BY g")
    ).collect()
    assert [(r["g"], r["v"]) for r in rows] == [(1, 20), (1, 30), (2, 6)]
    # trailing total LIMIT applies after the per-group limit
    rows = spark.sql(
        translate("SELECT g, v FROM lb_t ORDER BY g, v LIMIT 2 BY g LIMIT 3")
    ).collect()
    assert len(rows) == 3
    # no ORDER BY: acts as per-key dedup with deterministic count
    rows = spark.sql(translate("SELECT g FROM lb_t LIMIT 1 BY g")).collect()
    assert sorted(r["g"] for r in rows) == [1, 2, 3]


def test_sql_with_fill(spark):
    spark.createDataFrame([(2, "a"), (5, "b"), (9, "c")], "n int, s string").createOrReplaceTempView(
        "fill_t"
    )
    rows = spark.sql(translate("SELECT n, s FROM fill_t ORDER BY n WITH FILL")).collect()
    assert [r["n"] for r in rows] == list(range(2, 10))
    assert rows[0]["s"] == "a" and rows[1]["s"] is None
    rows = spark.sql(
        translate("SELECT n, s FROM fill_t ORDER BY n WITH FILL FROM 1 TO 12 STEP 2")
    ).collect()
    assert [r["n"] for r in rows] == [1, 3, 5, 7, 9, 11]
    # date fill with implicit 1-day step
    spark.sql(
        "SELECT to_date('2019-05-01') AS d, 1 AS v UNION ALL SELECT to_date('2019-05-04'), 2"
    ).createOrReplaceTempView("fill_d")
    rows = spark.sql(translate("SELECT d, v FROM fill_d ORDER BY d WITH FILL")).collect()
    assert [str(r["d"]) for r in rows] == [
        "2019-05-01", "2019-05-02", "2019-05-03", "2019-05-04",
    ]


def test_sql_with_totals(spark, duck):
    rows = spark.sql(
        translate(
            "SELECT o_orderstatus, count() AS n FROM orders "
            "GROUP BY o_orderstatus WITH TOTALS ORDER BY o_orderstatus NULLS LAST"
        )
    ).collect()
    want = duck.sql(
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY ROLLUP (o_orderstatus) "
        "ORDER BY o_orderstatus NULLS LAST"
    ).fetchall()
    assert [(r["o_orderstatus"], r["n"]) for r in rows] == [tuple(w) for w in want]
    # totals row = all rows total
    assert rows[-1]["o_orderstatus"] is None and rows[-1]["n"] == sum(r["n"] for r in rows[:-1])


def test_sql_with_totals_having(spark):
    spark.range(0, 100).selectExpr("id % 7 AS g").createOrReplaceTempView("tot_t")
    rows = spark.sql(
        translate(
            "SELECT g, count() AS n FROM tot_t GROUP BY g WITH TOTALS "
            "HAVING count() > 14 ORDER BY g NULLS LAST"
        )
    ).collect()
    # groups 0,1 have 15 rows; totals row (100) also passes HAVING
    assert [(r["g"], r["n"]) for r in rows] == [(0, 15), (1, 15), (None, 100)]


def test_sql_state_merge_combinators(spark):
    """-State / -Merge in SQL form: partials in a subquery per batch,
    merged outer — equals the direct aggregate."""
    spark.range(0, 1000).selectExpr("id % 3 AS g", "id % 2 AS b", "id % 97 AS v").createOrReplaceTempView(
        "st_t"
    )
    rows = spark.sql(
        translate(
            "SELECT g, uniqMerge(st) AS u, sumMerge(ss) AS s, avgMerge(sa) AS a, "
            "uniqExactMerge(se) AS ue FROM ("
            "  SELECT g, b, uniqState(v) AS st, sumState(v) AS ss, avgState(v) AS sa, "
            "         uniqExactState(v) AS se FROM st_t GROUP BY g, b"
            ") GROUP BY g ORDER BY g"
        )
    ).collect()
    direct = spark.sql(
        "SELECT g, count(DISTINCT v) AS ue, sum(v) AS s, avg(v) AS a FROM st_t GROUP BY g ORDER BY g"
    ).collect()
    for r, d in zip(rows, direct):
        assert r["ue"] == d["ue"]
        assert r["s"] == d["s"]
        assert abs(r["a"] - d["a"]) < 1e-9
        assert abs(r["u"] - d["ue"]) / d["ue"] < 0.05  # HLL estimate


def test_system_virtual_tables(spark):
    """system.numbers / system.one / system.zeros virtual tables
    (StorageSystemNumbers.cpp, StorageSystemOne.cpp) map to bounded lazy
    ranges; currentDatabase() and sleep() are constants for batch output."""
    rows = spark.sql(
        translate("SELECT number FROM system.numbers LIMIT 3")
    ).collect()
    assert [r["number"] for r in rows] == [0, 1, 2]
    rows = spark.sql(translate("SELECT dummy FROM system.one")).collect()
    assert [r["dummy"] for r in rows] == [0]
    rows = spark.sql(
        translate("SELECT count() AS c FROM (SELECT zero FROM system.zeros LIMIT 10)")
    ).collect()
    assert rows[0]["c"] == 10
    rows = spark.sql(
        translate("SELECT currentDatabase() AS db, sleep(0) AS s")
    ).collect()
    assert (rows[0]["db"], rows[0]["s"]) == ("default", 0)
    # numbers_mt is the multithreaded variant — same row set
    rows = spark.sql(
        translate("SELECT sum(number) AS s FROM (SELECT number FROM system.numbers_mt LIMIT 5)")
    ).collect()
    assert rows[0]["s"] == 10


def test_asof_join_lateral_rewrite():
    """ASOF JOIN lowers to a correlated LATERAL top-1 subquery
    (HashJoin.cpp ASOF strictness; USING's last column is the
    closest-match key)."""
    out = translate(
        "SELECT A.k FROM A ASOF INNER JOIN B ON A.k == B.k AND A.t >= B.t"
    )
    assert "JOIN LATERAL" in out
    assert "ORDER BY" in out and "LIMIT 1" in out
    # USING needs >= 2 columns (serverError 62)
    import pytest as _pytest

    from clickhouse_23_3_19_32_lts_spark.dialect import ChSqlError

    with _pytest.raises(ChSqlError):
        translate("SELECT * FROM t1 ASOF JOIN t2 USING k")


def test_kind_first_join_normalization():
    out = translate("select * from t1 left any join t2 using (k)")
    assert "LEFT JOIN" in out.upper()
    out2 = translate("select * from t1 left anti join t2 using (k)")
    assert "LEFT ANTI JOIN" in out2.upper()


def test_heredoc_literals():
    assert translate("SELECT $$VALUE$$") == "SELECT 'VALUE'"
    assert translate("SELECT $doc$'V'$doc$") == "SELECT '\\'V\\''"


def test_from_first_syntax():
    out = translate("FROM numbers(1) SELECT number")
    assert out.upper().startswith("SELECT")


def test_in_scalar_and_array_forms():
    assert translate("SELECT 1 IN 1") == "SELECT 1 IN (1)"
    assert translate("SELECT 1 IN [1,2]") == "SELECT 1 IN (1, 2)"


def test_union_branch_limit_parenthesized():
    out = translate("SELECT 1 UNION ALL SELECT 2 LIMIT 1")
    assert "(SELECT 2 LIMIT 1)" in out
    out2 = translate(
        "SELECT * FROM (SELECT 1 AS a LIMIT 1 UNION ALL SELECT 2 LIMIT 2)"
    )
    assert "(SELECT 1 AS a LIMIT 1)" in out2 and "(SELECT 2 LIMIT 2)" in out2


# --- round-9 ADVICE fixes ---------------------------------------------------


def test_substring_constant_zero_offset_errors():
    # substring.cpp:98/114 — CONST offset 0 throws ZERO_ARRAY_OR_TUPLE_INDEX
    # (error 135); the dynamic-offset path returns '' instead
    out = translate("SELECT substring('abc', 0)")
    assert "ZERO_ARRAY_OR_TUPLE_INDEX" in out and "raise_error" in out
    out3 = translate("SELECT substring('abc', 0, 2)")
    assert "ZERO_ARRAY_OR_TUPLE_INDEX" in out3
    # non-constant offset keeps the '' CASE
    dyn = translate("SELECT substring('abc', x)")
    assert "raise_error" not in dyn and "CASE WHEN" in dyn
    # non-constant length with offset 0 is the dynamic path too
    dyn2 = translate("SELECT substring('abc', 0, x)")
    assert "raise_error" not in dyn2


def test_ipv4stringtonum_invalid_constant_errors():
    # FunctionsCodingIP.cpp:1160 — the registered variant is Throw:
    # invalid constant input -> CANNOT_PARSE_IPV4 (error 675)
    out = translate("SELECT IPv4StringToNum('not an ip')")
    assert "CANNOT_PARSE_IPV4" in out
    ok = translate("SELECT IPv4StringToNum('10.0.0.1')")
    assert "raise_error" not in ok


def test_totals_grouping_sets_trailing_call_paren():
    # GROUPING SETS element ending in a function call must keep its closing
    # paren (one balanced outer pair is stripped, not str.strip("()"))
    out = translate(
        "SELECT a, toYear(d) AS y, count() FROM t"
        " GROUP BY GROUPING SETS ((a, toYear(d))) WITH TOTALS"
    )
    assert "year(d)" in out and "year(d," not in out.replace("year(d)", "")


def test_cube_over_six_columns_with_totals_is_loud():
    import pytest as _pytest

    from clickhouse_23_3_19_32_lts_spark.dialect import ChSqlError

    with _pytest.raises(ChSqlError):
        translate(
            "SELECT count() FROM t GROUP BY CUBE(a,b,c,d,e,f,g) WITH TOTALS"
        )
    # 6 columns still translates (64 explicit sets)
    ok = translate(
        "SELECT count() FROM t GROUP BY CUBE(a,b,c,d,e,f) WITH TOTALS"
    )
    assert "GROUPING SETS" in ok.upper()


def test_ipv4_column_comparisons_and_order_by_use_uint32():
    # with an active session the IPv4StringToNum wrapper renders to its
    # split/rlike SQL body — assert the conversion wraps the operands, not
    # the unexpanded name
    def _converted(sql_out, colname):
        return f"rlike({colname}," in sql_out or f"IPv4StringToNum({colname})" in sql_out

    ct = {"ip": "IPv4", "ip2": "IPv4"}
    out = translate("SELECT * FROM t WHERE ip > ip2 ORDER BY ip DESC", col_ch_types=ct)
    assert _converted(out, "ip") and _converted(out, "ip2")
    # ORDER BY key sorts by the UInt32 value, not the dotted string
    tail = out.split("ORDER BY", 1)[1]
    assert _converted(tail, "ip") and "DESC" in tail
    out2 = translate("SELECT ip = toIPv4('1.2.3.4') AS e FROM t", col_ch_types=ct)
    assert _converted(out2, "ip")
    # a plain (non-IPv4) ORDER BY key is untouched
    out3 = translate("SELECT * FROM t ORDER BY ip, x", col_ch_types=ct)
    assert _converted(out3, "ip") and not _converted(out3, "x")


# --- per-call options ---------------------------------------------------------

_ROLLUP_Q = "SELECT a, grouping(a) AS g, arr[i] AS e FROM t GROUP BY ROLLUP(a)"
_LEGACY_GROUPING = " SETTINGS force_grouping_standard_compatibility=0"


def test_translate_calls_on_two_threads_keep_their_own_options():
    """Each thread keeps its own call's options and statement facts: one
    translates with the legacy GROUPING setting and safe_subscript, the
    other with neither, and every output equals its single-threaded one."""
    import sys
    import threading
    import time

    jobs = [(_ROLLUP_Q + _LEGACY_GROUPING, {"safe_subscript": True}), (_ROLLUP_Q, {})]
    want = [translate(q, **kw) for q, kw in jobs]
    assert "(1 - grouping(a))" in want[0] and "try_element_at" in want[0]
    assert "(1 - grouping" not in want[1] and "try_element_at" not in want[1]
    runs, mismatches = [0, 0], [0, 0]
    stop = time.monotonic() + 2.0

    def run(k: int) -> None:
        q, kw = jobs[k]
        while time.monotonic() < stop:
            runs[k] += 1
            if translate(q, **kw) != want[k]:
                mismatches[k] += 1

    threads = [threading.Thread(target=run, args=(k,)) for k in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often, mid-translate
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        sys.setswitchinterval(interval)
    assert min(runs) > 0
    assert mismatches == [0, 0], f"{mismatches} mismatches in {runs} translations"


def test_translate_options_end_with_the_call(spark, monkeypatch):
    """A statement's legacy GROUPING setting does not outlive its translate
    call: later expression renders see plain grouping()."""
    from clickhouse_23_3_19_32_lts_spark.dialect import _expr_sql
    from clickhouse_23_3_19_32_lts_spark.udf import create_sql_function

    assert "(1 - grouping(a))" in translate(_ROLLUP_Q + _LEGACY_GROUPING)
    assert _expr_sql("grouping(a)") == "grouping(a)"
    # Spark refuses grouping() in a function body, so catch the statement
    sent: list[str] = []
    monkeypatch.setattr(spark, "sql", sent.append)
    create_sql_function(spark, "CREATE FUNCTION grouping_probe AS (x) -> grouping(x)")
    assert sent == [
        "CREATE OR REPLACE TEMPORARY FUNCTION grouping_probe(x DOUBLE) RETURN grouping(x)"
    ]
