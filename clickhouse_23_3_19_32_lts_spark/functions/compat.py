"""Long-tail function surface: SQL-compat aliases, stable variants, map
aggregates, weighted medians, statistical tests, and rendering aggregates.

Reference: src/Functions/FunctionFactory.cpp alias registrations (the
MySQL/ANSI-compat upper-case names), src/AggregateFunctions/
AggregateFunctionSumMap.cpp (sumMap family), AggregateFunctionsStatistics
(*Stable variants = numerically-stable twins of the plain aggregates —
Spark's built-ins are already Welford-style one-pass, so the plain builder
IS the stable one), AggregateFunctionTTest.h (studentTTest/meanZTest),
AggregateFunctionSparkbar.cpp, AggregateFunctionCategoricalIV.cpp,
src/Functions/UniqTheta (uniqTheta — mapped to Spark's HLL-family
estimator: a different sketch, the same approx-distinct contract),
src/Functions/snowflake.cpp.

Everything here is a codegen column expression (built-ins + higher-order
functions) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.datetime import _in_zone
from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col

# --- ANSI / MySQL-compat aliases (FunctionFactory case-insensitive set) -----


@chfn("BIT_AND")
def BIT_AND(x) -> Column:
    return F.bit_and(col(x))


@chfn("BIT_OR")
def BIT_OR(x) -> Column:
    return F.bit_or(col(x))


@chfn("BIT_XOR")
def BIT_XOR(x) -> Column:
    return F.bit_xor(col(x))


@chfn("STDDEV_POP", "stddevPopStable")
def STDDEV_POP(x) -> Column:
    return F.stddev_pop(col(x))


@chfn("STDDEV_SAMP", "stddevSampStable")
def STDDEV_SAMP(x) -> Column:
    return F.stddev_samp(col(x))


@chfn("VAR_POP", "varPopStable")
def VAR_POP(x) -> Column:
    return F.var_pop(col(x))


@chfn("VAR_SAMP", "varSampStable")
def VAR_SAMP(x) -> Column:
    return F.var_samp(col(x))


@chfn("COVAR_POP", "covarPopStable")
def COVAR_POP(x, y) -> Column:
    return F.covar_pop(col(x), col(y))


@chfn("COVAR_SAMP", "covarSampStable")
def COVAR_SAMP(x, y) -> Column:
    return F.covar_samp(col(x), col(y))


@chfn("corrStable")
def corrStable(x, y) -> Column:
    return F.corr(col(x), col(y))


@chfn("LAST_DAY")
def LAST_DAY(x) -> Column:
    return F.last_day(col(x))


@chfn("MAP_FROM_ARRAYS")
def MAP_FROM_ARRAYS(k, v) -> Column:
    return F.map_from_arrays(col(k), col(v))


@chfn("REGEXP_EXTRACT")
def REGEXP_EXTRACT(s, pattern, idx: int = 1) -> Column:
    return F.regexp_extract(col(s), pattern, idx)


@chfn("JSON_ARRAY_LENGTH")
def JSON_ARRAY_LENGTH(x) -> Column:
    return F.json_array_length(col(x))


@chfn("TO_UNIXTIME")
def TO_UNIXTIME(x) -> Column:
    return F.unix_timestamp(col(x))


@chfn("width_bucket")
def width_bucket(v, lo, hi, n) -> Column:
    return F.width_bucket(col(v), col(lo), col(hi), col(n))


@chfn("str_to_date")
def str_to_date(s, fmt: str | None = None) -> Column:
    """MySQL str_to_date; %-tokens mapped to Spark's pattern letters."""
    if fmt is None:
        return F.to_date(col(s))
    mapping = {
        "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd",
        "%H": "HH", "%i": "mm", "%s": "ss", "%%": "%",
    }
    out = fmt
    for k, v in mapping.items():
        out = out.replace(k, v)
    return F.to_date(col(s), out)


# --- session/server introspection (single-node Spark equivalents) -----------


@chfn("currentDatabase", "DATABASE")
def currentDatabase() -> Column:
    return F.expr("current_database()")


@chfn("currentUser", "user")
def currentUser() -> Column:
    return F.expr("current_user()")


@chfn("timeZone", "timezone")
def timeZone() -> Column:
    """Session timezone — pinned UTC in session.py."""
    return F.lit("UTC")


@chfn("timeZoneOf")
def timeZoneOf(x) -> Column:
    return F.lit("UTC")


@chfn("timeZoneOffset")
def timeZoneOffset(x) -> Column:
    return F.lit(0).cast("int")


@chfn("toTimeZone", "toTimezone")
def toTimeZone(x, tz) -> Column:
    """The same instant shown in zone ``tz``: its wall clock there."""
    return _in_zone(col(x).cast("timestamp"), tz)


@chfn("query_id", "initial_query_id", "queryID", "initialQueryID")
def query_id() -> Column:
    return F.lit("")


@chfn("connection_id", "connectionId")
def connection_id() -> Column:
    return F.lit(0).cast("bigint")


# --- snowflake ids (src/Functions/snowflake.cpp; epoch 2010-11-04) ----------

_SNOWFLAKE_EPOCH_MS = 1288834974657


@chfn("snowflakeToDateTime")
def snowflakeToDateTime(x) -> Column:
    return F.timestamp_millis(F.shiftright(col(x), 22) + F.lit(_SNOWFLAKE_EPOCH_MS))


@chfn("dateTimeToSnowflake")
def dateTimeToSnowflake(x) -> Column:
    return F.shiftleft(
        (F.unix_timestamp(col(x)) * 1000 - F.lit(_SNOWFLAKE_EPOCH_MS)).cast("long"), 22
    )


# --- aggregate twins / trivial wrappers -------------------------------------


@chfn("sumKahan", "sumWithOverflow")
def sumKahan(x) -> Column:
    """Spark's double sum is already a compensated two-phase sum."""
    return F.sum(col(x))


@chfn("anyHeavy")
def anyHeavy(x) -> Column:
    """Heavy-hitter pick — Spark's mode() (exact, two-phase)."""
    return F.mode(col(x))


@chfn("singleValueOrNull")
def singleValueOrNull(x) -> Column:
    return F.when(F.count_distinct(col(x)) == 1, F.first(col(x), ignorenulls=True))


@chfn("nothing")
def nothing(x) -> Column:
    return F.first(F.lit(None))


@chfn("uniqTheta")
def uniqTheta(x) -> Column:
    """Approx-distinct via Spark's HLL++ (the reference uses a Theta
    sketch — different sketch family, same contract and error class)."""
    return F.approx_count_distinct(col(x))


@chfn("groupArrayLast")
def groupArrayLast(x, n: int = 10) -> Column:
    return F.slice(F.collect_list(col(x)), -int(n), int(n))


@chfn("groupArraySample")
def groupArraySample(x, n: int = 10) -> Column:
    """Deterministic head sample (the reference samples with an RNG; a
    deterministic prefix keeps results reproducible across engines)."""
    return F.slice(F.collect_list(col(x)), 1, int(n))


@chfn("quantileExactWeighted2", "quantileWeighted")
def quantileWeighted(x, w, q: float = 0.5) -> Column:
    return F.percentile(col(x), F.lit(float(q)), col(w).cast("long"))


# --- sumMap family (AggregateFunctionSumMap.cpp) ----------------------------


def _zip_kv(k, v) -> Column:
    return F.zip_with(col(k), col(v), lambda a, b: F.struct(a.alias("k"), b.alias("v")))


def _map_agg(k, v, fold) -> Column:
    """Shared shape: flatten all (key, value) pairs in the group, take the
    sorted distinct keys, fold values per key. Returns struct(keys, values)
    — ClickHouse's tuple-of-arrays form."""
    fl = F.flatten(F.collect_list(_zip_kv(k, v)))
    keys = F.array_sort(F.array_distinct(F.transform(fl, lambda e: e["k"])))
    vals = F.transform(keys, lambda key: fold(fl, key))
    return F.struct(keys.alias("keys"), vals.alias("values"))


@chfn("sumMap", "sumMappedArrays", "sumMapWithOverflow")
def sumMap(k, v) -> Column:
    return _map_agg(
        k, v,
        lambda fl, key: F.aggregate(
            F.filter(fl, lambda e: e["k"] == key), F.lit(0.0),
            lambda acc, e: acc + e["v"].cast("double"),
        ),
    )


@chfn("minMap", "minMappedArrays")
def minMap(k, v) -> Column:
    return _map_agg(
        k, v,
        lambda fl, key: F.array_min(
            F.transform(F.filter(fl, lambda e: e["k"] == key), lambda e: e["v"])
        ),
    )


@chfn("maxMap", "maxMappedArrays")
def maxMap(k, v) -> Column:
    return _map_agg(
        k, v,
        lambda fl, key: F.array_max(
            F.transform(F.filter(fl, lambda e: e["k"] == key), lambda e: e["v"])
        ),
    )


@chfn("sumMapFiltered")
def sumMapFiltered(k, v, keep: list) -> Column:
    keep_arr = F.array(*[F.lit(x) for x in keep])
    fl = F.flatten(F.collect_list(_zip_kv(k, v)))
    fl = F.filter(fl, lambda e: F.array_contains(keep_arr, e["k"]))
    keys = F.array_sort(F.array_distinct(F.transform(fl, lambda e: e["k"])))
    vals = F.transform(
        keys,
        lambda key: F.aggregate(
            F.filter(fl, lambda e: e["k"] == key), F.lit(0.0),
            lambda acc, e: acc + e["v"].cast("double"),
        ),
    )
    return F.struct(keys.alias("keys"), vals.alias("values"))


# --- statistical tests (AggregateFunctionTTest.h) ---------------------------

_SQRT2 = 1.4142135623730951


def _normal_sf(z: Column) -> Column:
    """Two-sided normal survival: p = erfc(|z|/√2), with erf via the
    Abramowitz–Stegun 7.1.26 rational approximation (|err| < 1.5e-7) so no
    special-function built-in is required."""
    x = F.abs(z) / F.lit(_SQRT2)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * t * t
        + F.lit(1.421413741) * t * t * t
        - F.lit(1.453152027) * t * t * t * t
        + F.lit(1.061405429) * t * t * t * t * t
    )
    erf_x = F.lit(1.0) - poly * F.exp(-x * x)
    return F.lit(1.0) - erf_x


@chfn("studentTTest")
def studentTTest(value, group) -> Column:
    """Two-sample pooled-variance t-test over (value, 0/1 group tag).
    Returns struct(t_stat, p_value); p uses the normal approximation to the
    t CDF (good for n ≳ 30; the reference evaluates the exact incomplete
    beta — documented divergence at tiny n)."""
    g = col(group).cast("int")
    v = col(value).cast("double")
    n0 = F.sum(F.when(g == 0, 1).otherwise(0)).cast("double")
    n1 = F.sum(F.when(g == 1, 1).otherwise(0)).cast("double")
    m0 = F.sum(F.when(g == 0, v)) / n0
    m1 = F.sum(F.when(g == 1, v)) / n1
    s0 = F.sum(F.when(g == 0, v * v)) / n0 - m0 * m0
    s1 = F.sum(F.when(g == 1, v * v)) / n1 - m1 * m1
    sp2 = (n0 * s0 + n1 * s1) / (n0 + n1 - 2)
    t = (m0 - m1) / F.sqrt(sp2 * (1.0 / n0 + 1.0 / n1))
    return F.struct(t.alias("_1"), _normal_sf(t).alias("_2"))


@chfn("meanZTest")
def meanZTest(value, group, var0: float = 1.0, var1: float = 1.0) -> Column:
    g = col(group).cast("int")
    v = col(value).cast("double")
    n0 = F.sum(F.when(g == 0, 1).otherwise(0)).cast("double")
    n1 = F.sum(F.when(g == 1, 1).otherwise(0)).cast("double")
    m0 = F.sum(F.when(g == 0, v)) / n0
    m1 = F.sum(F.when(g == 1, v)) / n1
    z = (m0 - m1) / F.sqrt(F.lit(var0) / n0 + F.lit(var1) / n1)
    return F.struct(z.alias("_1"), _normal_sf(z).alias("_2"))


# --- rendering / scoring aggregates -----------------------------------------

_BARS = ["▁", "▂", "▃", "▄", "▅", "▆", "▇", "█"]


@chfn("sparkbar")
def sparkbar(x, y, width: int = 8) -> Column:
    """Unicode bar chart of Σy bucketed by x over `width` equal x-buckets
    (AggregateFunctionSparkbar.cpp). Pure HOF expression: collect (x, y),
    bucket by (x-min)/(max-min), map each bucket's share of the max to ▁..█.
    """
    pairs = F.collect_list(F.struct(col(x).cast("double").alias("x"), col(y).cast("double").alias("y")))
    xs = F.transform(pairs, lambda e: e["x"])
    lo, hi = F.array_min(xs), F.array_max(xs)
    span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
    w = F.lit(int(width))
    sums = F.transform(
        F.sequence(F.lit(0), w - 1),
        lambda b: F.aggregate(
            F.filter(
                pairs,
                lambda e: F.least(
                    F.floor((e["x"] - lo) / span * w.cast("double")).cast("int"), w - 1
                )
                == b,
            ),
            F.lit(0.0),
            lambda acc, e: acc + e["y"],
        ),
    )
    peak = F.array_max(sums)
    bars = F.array(*[F.lit(c) for c in _BARS])
    return F.array_join(
        F.transform(
            sums,
            lambda s: F.when(F.coalesce(peak, F.lit(0.0)) <= 0.0, F.lit("▁")).otherwise(
                F.element_at(
                    bars,
                    F.greatest(
                        F.lit(1), F.least(F.lit(8), F.ceil(s / peak * 8).cast("int"))
                    ),
                )
            ),
        ),
        "",
    )


@chfn("categoricalInformationValue")
def categoricalInformationValue(cat, tag) -> Column:
    """IV = Σ_v (good_v/G − bad_v/B) · ln((good_v/G)/(bad_v/B)) over the
    distinct values of `cat`, with tag 1 = good, 0 = bad
    (AggregateFunctionCategoricalIV.cpp; zero cells contribute 0)."""
    pairs = F.collect_list(F.struct(col(cat).alias("c"), col(tag).cast("int").alias("t")))
    G = F.aggregate(pairs, F.lit(0.0), lambda a, e: a + e["t"])
    B = F.aggregate(pairs, F.lit(0.0), lambda a, e: a + (1 - e["t"]))
    cats = F.array_distinct(F.transform(pairs, lambda e: e["c"]))
    contrib = F.transform(
        cats,
        lambda v: (
            lambda g_v, b_v: F.when(
                (g_v > 0) & (b_v > 0),
                (g_v / G - b_v / B) * F.log((g_v / G) / (b_v / B)),
            ).otherwise(F.lit(0.0))
        )(
            F.aggregate(F.filter(pairs, lambda e: e["c"] == v), F.lit(0.0), lambda a, e: a + e["t"]),
            F.aggregate(F.filter(pairs, lambda e: e["c"] == v), F.lit(0.0), lambda a, e: a + (1 - e["t"])),
        ),
    )
    return F.aggregate(contrib, F.lit(0.0), lambda a, x: a + x)


# --- sequenceNextNode (AggregateFunctionSequenceNextNode.cpp) ---------------


@chfn("sequenceNextNode")
def sequenceNextNode(ts, event, *chain: str) -> Column:
    """Forward/head sequenceNextNode: the event immediately AFTER the first
    occurrence of the consecutive `chain` of event names in timestamp
    order. NULL when the chain never occurs or ends the stream."""
    if not chain:
        raise ValueError("sequenceNextNode needs at least one chain event")
    arr = F.array_sort(F.collect_list(F.struct(col(ts).alias("ts"), col(event).alias("ev"))))
    k = len(chain)
    chain_arr = F.array(*[F.lit(c) for c in chain])

    # Single O(n) fold. Column expressions are trees, not DAGs: naming `arr`
    # and indexing into it from a filter lambda inlines (and re-sorts!) the
    # whole aggregate at every use site — O(n² log n) per group, measured 80s
    # on 10k events. F.aggregate() mentions `arr` exactly once. State: the
    # trailing-k event-name window, a "chain just completed" flag, the answer.
    def step(acc: Column, e: Column) -> Column:
        ans = F.when(acc["pending"] & acc["ans"].isNull(), e["ev"]).otherwise(acc["ans"])
        grown = F.concat(acc["win"], F.array(e["ev"]))
        win = F.slice(grown, F.greatest(F.size(grown) - k + 1, F.lit(1)), k)
        pending = ans.isNull() & (win == chain_arr)
        return F.struct(win.alias("win"), pending.alias("pending"), ans.alias("ans"))

    init = F.struct(
        F.array().cast("array<string>").alias("win"),
        F.lit(False).alias("pending"),
        F.lit(None).cast("string").alias("ans"),
    )
    return F.aggregate(arr, init, step, lambda acc: acc["ans"])


# --- vector-norm aliases (distanceL* / normL* naming family) ----------------

from clickhouse_23_3_19_32_lts_spark.functions.registry import REGISTRY as _R  # noqa: E402

for _alias, _target in {
    "distanceL1": "L1Distance",
    "distanceL2": "L2Distance",
    "distanceL2Squared": "L2SquaredDistance",
    "distanceLinf": "LinfDistance",
    "distanceLp": "LpDistance",
    "normL1": "L1Norm",
    "normL2": "L2Norm",
    "normL2Squared": "L2SquaredNorm",
    "normLinf": "LinfNorm",
    "normLp": "LpNorm",
    "normalizeL1": "L1Normalize",
    "normalizeL2": "L2Normalize",
    "splitByAlpha": "alphaTokens",
}.items():
    if _target in _R and _alias not in _R:
        _R[_alias] = _R[_target]
