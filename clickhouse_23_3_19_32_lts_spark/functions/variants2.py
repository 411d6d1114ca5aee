"""Second mechanical-family batch: aggregate names (deltaSum, topK,
retention/funnel, test statistics, regressions), the
reinterpretAs* family, window-view time functions, consistent hashing,
IP/MAC rendering, and introspection constants.

Reference registration sites:
  - deltaSum / deltaSumTimestamp — AggregateFunctionDeltaSum.cpp (sum of
    positive deltas between consecutive values)
  - topK — AggregateFunctionTopK.cpp (space-saving sketch; here exact)
  - retention / windowFunnel / sequenceMatch — AggregateFunctionRetention.cpp,
    AggregateFunctionWindowFunnel.cpp, AggregateFunctionSequenceMatch.cpp
  - welchTTest / mannWhitneyUTest — AggregateFunctionTTest.cpp family
  - simpleLinearRegression / stochastic* / evalMLMethod —
    AggregateFunctionSimpleLinearRegression.cpp, AggregateFunctionMLMethod.cpp
  - reinterpretAs* — src/Functions/reinterpretAs.cpp (raw little-endian byte
    reinterpretation between String and fixed-width numbers)
  - tumble/hop/… — src/Functions/FunctionsTimeWindow.cpp
  - jumpConsistentHash — src/Functions/consistentHashes.cpp (Lamping-Veach)
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.catalog import udf_call
from clickhouse_23_3_19_32_lts_spark.functions.registry import REGISTRY, chfn, col, lit_or_col

# --------------------------------------------------------------------------
# Ordered-fold aggregates: deltaSum, moving sums, EMA
# --------------------------------------------------------------------------


@chfn("deltaSumTimestamp")
def deltaSumTimestamp(value, ts) -> Column:
    """Sum of positive deltas between consecutive values ordered by ts
    (AggregateFunctionDeltaSumTimestamp.cpp) — exact: collect (ts, v),
    sort by ts, fold."""
    pairs = F.array_sort(
        F.collect_list(F.struct(col(ts).alias("t"), col(value).cast("double").alias("v")))
    )
    vs = F.transform(pairs, lambda p: p["v"])
    return F.aggregate(
        F.zip_with(F.slice(vs, 2, 1_000_000_000), vs, lambda nxt, cur: nxt - cur),
        F.lit(0.0),
        lambda acc, d: acc + F.greatest(d, F.lit(0.0)),
    )


@chfn("deltaSum")
def deltaSum(value) -> Column:
    """deltaSum over arrival order (the reference folds block order; any
    per-group order-sensitive use should prefer deltaSumTimestamp)."""
    vs = F.collect_list(col(value).cast("double"))
    return F.aggregate(
        F.zip_with(F.slice(vs, 2, 1_000_000_000), vs, lambda nxt, cur: nxt - cur),
        F.lit(0.0),
        lambda acc, d: acc + F.greatest(d, F.lit(0.0)),
    )


@chfn("groupArrayMovingSum2", "groupArrayMovingSumOrdered")
def groupArrayMovingSumOrdered(value, ts, window: int = 0) -> Column:
    """Running-sum array over ts order (AggregateFunctionMovingSum); the
    unordered SQL forms live in queries_stats (window-function shape)."""
    pairs = F.array_sort(
        F.collect_list(F.struct(col(ts).alias("t"), col(value).cast("double").alias("v")))
    )
    vs = F.transform(pairs, lambda p: p["v"])
    idx = F.when(F.size(vs) > 0, F.sequence(F.lit(1), F.size(vs))).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.aggregate(F.slice(vs, 1, i), F.lit(0.0), lambda a, v: a + v),
    )


@chfn("exponentialMovingAverage")
def exponentialMovingAverage(value, ts, halflife: float = 1.0) -> Column:
    """EMA over ts order with per-step decay 2^(-dt/halflife)
    (AggregateFunctionExponentialMovingAverage.cpp) — exact fold."""
    pairs = F.array_sort(
        F.collect_list(
            F.struct(col(ts).cast("double").alias("t"), col(value).cast("double").alias("v"))
        )
    )
    state = F.aggregate(
        pairs,
        F.struct(F.lit(0.0).alias("num"), F.lit(0.0).alias("den"), F.lit(None).cast("double").alias("last")),
        lambda acc, p: F.struct(
            (
                acc["num"]
                * F.pow(F.lit(0.5), F.coalesce((p["t"] - acc["last"]) / F.lit(float(halflife)), F.lit(0.0)))
                + p["v"]
            ).alias("num"),
            (
                acc["den"]
                * F.pow(F.lit(0.5), F.coalesce((p["t"] - acc["last"]) / F.lit(float(halflife)), F.lit(0.0)))
                + F.lit(1.0)
            ).alias("den"),
            p["t"].alias("last"),
        ),
    )
    return state["num"] / state["den"]


@chfn("intervalLengthSum")
def intervalLengthSum(start, end) -> Column:
    """Total length of the union of [start, end) intervals
    (AggregateFunctionIntervalLengthSum.cpp): sort by start, sweep-fold."""
    ivs = F.array_sort(
        F.collect_list(
            F.struct(col(start).cast("double").alias("s"), col(end).cast("double").alias("e"))
        )
    )
    state = F.aggregate(
        ivs,
        F.struct(F.lit(0.0).alias("total"), F.lit(None).cast("double").alias("hi")),
        lambda acc, iv: F.struct(
            (
                acc["total"]
                + F.greatest(
                    iv["e"] - F.greatest(iv["s"], F.coalesce(acc["hi"], iv["s"])), F.lit(0.0)
                )
            ).alias("total"),
            F.greatest(iv["e"], F.coalesce(acc["hi"], iv["e"])).alias("hi"),
        ),
    )
    return state["total"]


@chfn("maxIntersections")
def maxIntersections(start, end) -> Column:
    """Max number of simultaneously-open [start, end) intervals
    (AggregateFunctionMaxIntersections.cpp): +1/-1 events, sorted sweep."""
    ev = F.array_sort(
        F.flatten(
            F.collect_list(
                F.array(
                    F.struct(col(start).cast("double").alias("p"), F.lit(1).alias("d")),
                    F.struct(col(end).cast("double").alias("p"), F.lit(-1).alias("d")),
                )
            )
        )
    )
    state = F.aggregate(
        ev,
        F.struct(F.lit(0).alias("cur"), F.lit(0).alias("best")),
        lambda acc, e: F.struct(
            (acc["cur"] + e["d"]).alias("cur"),
            F.greatest(acc["best"], acc["cur"] + e["d"]).alias("best"),
        ),
    )
    return state["best"]


@chfn("maxIntersectionsPosition")
def maxIntersectionsPosition(start, end) -> Column:
    ev = F.array_sort(
        F.flatten(
            F.collect_list(
                F.array(
                    F.struct(col(start).cast("double").alias("p"), F.lit(1).alias("d")),
                    F.struct(col(end).cast("double").alias("p"), F.lit(-1).alias("d")),
                )
            )
        )
    )
    state = F.aggregate(
        ev,
        F.struct(F.lit(0).alias("cur"), F.lit(0).alias("best"), F.lit(0.0).alias("pos")),
        lambda acc, e: F.struct(
            (acc["cur"] + e["d"]).alias("cur"),
            F.greatest(acc["best"], acc["cur"] + e["d"]).alias("best"),
            F.when(acc["cur"] + e["d"] > acc["best"], e["p"]).otherwise(acc["pos"]).alias("pos"),
        ),
    )
    return state["pos"]


@chfn("groupArrayInsertAt")
def groupArrayInsertAt(value, pos) -> Column:
    """Array with each value at its position (AggregateFunctionGroupArrayInsertAt.h);
    positions are 0-based, gaps become NULL, and the first value collected
    at a position wins. One sort of the positions and one scan of them;
    looking each position up in the whole list is quadratic."""
    pairs = F.collect_list(F.struct(col(pos).cast("int").alias("p"), col(value).alias("v")))

    def build(ps):
        order = F.array_sort(F.filter(
            F.transform(ps, lambda e, i: F.struct(e["p"].alias("p"), i.alias("i"))),
            lambda e: e["p"] >= 0,
        ))

        def place(s):
            firsts = F.filter(s, lambda e, j: (j == 0) | (e["p"] != F.get(s, j - 1)["p"]))
            return _let(firsts, lambda f: F.flatten(F.transform(f, lambda e, j: F.concat(
                # NULLs for the positions since the previous value
                F.array_repeat(
                    F.when(F.lit(False), F.get(ps, e["i"])["v"]),
                    e["p"] - F.coalesce(F.get(f, j - 1)["p"], F.lit(-1)) - 1,
                ),
                F.array(F.get(ps, e["i"])["v"]),
            ))))

        return _let(order, place)

    return _let(pairs, build)


# --------------------------------------------------------------------------
# Event-sequence aggregates as Column builders
# --------------------------------------------------------------------------


@chfn("retention")
def retention(*conds) -> Column:
    """r[0] = any(cond0); r[i] = any(cond0) AND any(condi)
    (AggregateFunctionRetention.cpp)."""
    first = F.max(col(conds[0]).cast("boolean").cast("int"))
    out = [first]
    for c in conds[1:]:
        out.append(F.least(first, F.max(col(c).cast("boolean").cast("int"))))
    return F.array(*out)


@chfn("windowFunnel")
def windowFunnel(window: int, ts, *conds) -> Column:
    """Longest chain cond1→cond2→… with each step within `window` of the
    chain start (AggregateFunctionWindowFunnel.cpp). Exact: collect events,
    fold over sorted (ts, level) pairs per chain level."""
    evs = F.array_sort(
        F.collect_list(
            F.struct(
                col(ts).cast("double").alias("t"),
                *[col(c).cast("boolean").alias(f"c{i}") for i, c in enumerate(conds)],
            )
        )
    )
    w = F.lit(float(window)) if not isinstance(window, Column) else window.cast("double")
    n = len(conds)
    # state: for each level i, earliest chain-start time whose chain has
    # reached level i (NULL if unreached)
    init = F.struct(
        *[F.lit(None).cast("double").alias(f"s{i}") for i in range(n)]
    )

    def step(acc, e):
        fields = []
        for i in range(n):
            cur = acc[f"s{i}"]
            if i == 0:
                # level 1 starts a chain at its own timestamp
                upd = F.when(e["c0"] & cur.isNull(), e["t"]).otherwise(cur)
            else:
                prev = acc[f"s{i-1}"]
                upd = F.when(
                    e[f"c{i}"] & cur.isNull() & prev.isNotNull() & (e["t"] - prev <= w),
                    prev,
                ).otherwise(cur)
            fields.append(upd.alias(f"s{i}"))
        return F.struct(*fields)

    state = F.aggregate(evs, init, step)
    level = F.lit(0)
    for i in range(n):
        level = F.when(state[f"s{i}"].isNotNull(), F.lit(i + 1)).otherwise(level)
    return level


# --------------------------------------------------------------------------
# Statistical tests / regression as Column builders
# --------------------------------------------------------------------------


def _normal_sf2(z: Column) -> Column:
    """Two-sided p from |z| via the Abramowitz-Stegun erf polynomial
    (same approximation as compat._normal_sf)."""
    x = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * t * t
        + F.lit(1.421413741) * t * t * t
        - F.lit(1.453152027) * t * t * t * t
        + F.lit(1.061405429) * t * t * t * t * t
    )
    return poly * F.exp(-x * x)


@chfn("welchTTest")
def welchTTest(value, group) -> Column:
    """Welch's unequal-variance t-test over (value, 0/1 tag); p-value via
    normal approximation (documented, same as studentTTest)."""
    g = col(group).cast("int")
    v = col(value).cast("double")
    n0 = F.sum(F.when(g == 0, 1).otherwise(0)).cast("double")
    n1 = F.sum(F.when(g == 1, 1).otherwise(0)).cast("double")
    m0 = F.sum(F.when(g == 0, v)) / n0
    m1 = F.sum(F.when(g == 1, v)) / n1
    s0 = (F.sum(F.when(g == 0, v * v)) / n0 - m0 * m0) * n0 / (n0 - 1)
    s1 = (F.sum(F.when(g == 1, v * v)) / n1 - m1 * m1) * n1 / (n1 - 1)
    t = (m0 - m1) / F.sqrt(s0 / n0 + s1 / n1)
    return F.struct(t.alias("_1"), _normal_sf2(t).alias("_2"))


@chfn("mannWhitneyUTest")
def mannWhitneyUTest(value, group) -> Column:
    """Mann-Whitney U with midranks + normal approximation
    (AggregateFunctionMannWhitney.cpp). Rank via sorted-array scan."""
    g = col(group).cast("int")
    v = col(value).cast("double")
    pairs = F.collect_list(F.struct(v.alias("v"), g.alias("g")))
    allv = F.array_sort(F.transform(pairs, lambda p: p["v"]))

    def midrank(x):
        lo = F.size(F.filter(allv, lambda a: a < x))
        eq = F.size(F.filter(allv, lambda a: a == x))
        return lo.cast("double") + (eq.cast("double") + 1.0) / 2.0

    r1 = F.aggregate(
        F.filter(pairs, lambda p: p["g"] == 1),
        F.lit(0.0),
        lambda acc, p: acc + midrank(p["v"]),
    )
    n = F.size(pairs).cast("double")
    n1 = F.size(F.filter(pairs, lambda p: p["g"] == 1)).cast("double")
    n0 = n - n1
    u1 = r1 - n1 * (n1 + 1) / 2
    mu = n0 * n1 / 2
    sigma = F.sqrt(n0 * n1 * (n + 1) / 12)
    z = (u1 - mu) / sigma
    return F.struct(u1.alias("_1"), _normal_sf2(z).alias("_2"))


@chfn("simpleLinearRegression")
def simpleLinearRegression(x, y) -> Column:
    """(slope, intercept) tuple (AggregateFunctionSimpleLinearRegression.cpp)
    — Spark regr_slope/regr_intercept, codegen-native."""
    xc, yc = col(x).cast("double"), col(y).cast("double")
    return F.struct(
        F.regr_slope(yc, xc).alias("k"), F.regr_intercept(yc, xc).alias("b")
    )


@chfn("stochasticLinearRegression")
def stochasticLinearRegression(y, *xs) -> Column:
    """Deterministic closed-form fit standing in for the reference's SGD
    (AggregateFunctionMLMethod.cpp): for one feature the exact OLS weights;
    for k>1 features per-feature simple-regression weights (documented
    approximation — full multivariate OLS needs a matrix solve)."""
    yc = col(y).cast("double")
    ws = []
    for i, x in enumerate(xs):
        xc = col(x).cast("double")
        ws.append(F.regr_slope(yc, xc).alias(f"w{i}"))
    ws.append(F.regr_intercept(yc, col(xs[0]).cast("double")).alias("bias"))
    return F.struct(*ws)


@chfn("stochasticLogisticRegression")
def stochasticLogisticRegression(y, *xs) -> Column:
    """Linear-probability stand-in for logistic SGD (documented)."""
    return stochasticLinearRegression(y, *xs)


@chfn("evalMLMethod")
def evalMLMethod(weights, *xs) -> Column:
    """Apply stochastic*Regression weights: w·x + bias
    (src/Functions/evalMLMethod.cpp)."""
    w = col(weights)
    out = w["bias"]
    for i, x in enumerate(xs):
        out = out + w[f"w{i}"] * col(x).cast("double")
    return out


@chfn("rankCorr")
def rankCorr(x, y) -> Column:
    """Spearman rank correlation via midranks over collected pairs
    (AggregateFunctionRankCorr.h). O(n²) per group in array scans —
    fine for the reference's per-group cardinalities."""
    pairs = F.collect_list(F.struct(col(x).cast("double").alias("x"), col(y).cast("double").alias("y")))
    xs = F.array_sort(F.transform(pairs, lambda p: p["x"]))
    ys = F.array_sort(F.transform(pairs, lambda p: p["y"]))

    def midrank(arr, v):
        lo = F.size(F.filter(arr, lambda a: a < v))
        eq = F.size(F.filter(arr, lambda a: a == v))
        return lo.cast("double") + (eq.cast("double") + 1.0) / 2.0

    n = F.size(pairs).cast("double")
    sum_d2 = F.aggregate(
        pairs,
        F.lit(0.0),
        lambda acc, p: acc + F.pow(midrank(xs, p["x"]) - midrank(ys, p["y"]), F.lit(2.0)),
    )
    # any nan input poisons the correlation (the reference's double math);
    # Spark's NaN-equality semantics would otherwise rank nans mid-pack
    has_nan = F.exists(pairs, lambda p: F.isnan(p["x"]) | F.isnan(p["y"]))
    return F.when(has_nan, F.lit(float("nan"))).otherwise(
        F.lit(1.0) - (F.lit(6.0) * sum_d2) / (n * (n * n - 1))
    )


@chfn("corrMatrix")
def corrMatrix(*cols_) -> Column:
    cs = [col(c).cast("double") for c in cols_]
    return F.array(*[F.array(*[F.corr(a, b) for b in cs]) for a in cs])


@chfn("covarPopMatrix")
def covarPopMatrix(*cols_) -> Column:
    cs = [col(c).cast("double") for c in cols_]
    return F.array(*[F.array(*[F.covar_pop(a, b) for b in cs]) for a in cs])


@chfn("covarSampMatrix")
def covarSampMatrix(*cols_) -> Column:
    cs = [col(c).cast("double") for c in cols_]
    return F.array(*[F.array(*[F.covar_samp(a, b) for b in cs]) for a in cs])


@chfn("analysisOfVariance", "anova")
def analysisOfVariance(value, group) -> Column:
    """One-way ANOVA F statistic over (value, group-index)
    (AggregateFunctionAnalysisOfVariance.cpp): F = MS_between / MS_within,
    computed from per-group sums via collected (g, v) pairs."""
    pairs = F.collect_list(F.struct(col(group).cast("long").alias("g"), col(value).cast("double").alias("v")))
    groups = F.array_distinct(F.transform(pairs, lambda p: p["g"]))
    n = F.size(pairs).cast("double")
    k = F.size(groups).cast("double")
    total = F.aggregate(pairs, F.lit(0.0), lambda a, p: a + p["v"])
    grand = total / n

    def gsum(g):
        return F.aggregate(
            F.filter(pairs, lambda p: p["g"] == g), F.lit(0.0), lambda a, p: a + p["v"]
        )

    def gcnt(g):
        return F.size(F.filter(pairs, lambda p: p["g"] == g)).cast("double")

    ssb = F.aggregate(
        groups, F.lit(0.0), lambda a, g: a + gcnt(g) * F.pow(gsum(g) / gcnt(g) - grand, F.lit(2.0))
    )
    sst = F.aggregate(pairs, F.lit(0.0), lambda a, p: a + F.pow(p["v"] - grand, F.lit(2.0)))
    ssw = sst - ssb
    f_stat = (ssb / (k - 1)) / (ssw / (n - k))
    return F.struct(f_stat.alias("f_statistic"), (k - 1).alias("df_between"), (n - k).alias("df_within"))


@chfn("minSampleSizeConversion")
def minSampleSizeConversion(baseline, mde, power: float = 0.8, alpha: float = 0.05) -> Column:
    """A/B minimum sample size for proportions (src/Functions/minSampleSize.cpp),
    normal-approximation formula with z_{α/2}=1.96, z_β=0.842."""
    p = col(baseline).cast("double")
    d = col(mde).cast("double")
    z = F.lit(1.959964) + F.lit(0.841621)
    return F.ceil(z * z * (p * (1 - p) + (p + d) * (1 - p - d)) / (d * d))


@chfn("minSampleSizeContinous", "minSampleSizeContinuous")
def minSampleSizeContinous(sigma, mde, power: float = 0.8, alpha: float = 0.05) -> Column:
    s = col(sigma).cast("double")
    d = col(mde).cast("double")
    z = F.lit(1.959964) + F.lit(0.841621)
    return F.ceil(F.lit(2.0) * z * z * s * s / (d * d))


@chfn("proportionsZTest")
def proportionsZTest(s1, s2, n1, n2) -> Column:
    x1, x2 = col(s1).cast("double"), col(s2).cast("double")
    m1, m2 = col(n1).cast("double"), col(n2).cast("double")
    p1, p2 = x1 / m1, x2 / m2
    pp = (x1 + x2) / (m1 + m2)
    z = (p1 - p2) / F.sqrt(pp * (1 - pp) * (1 / m1 + 1 / m2))
    return F.struct(z.alias("_1"), _normal_sf2(z).alias("_2"))


@chfn("entropy")
def entropy(x) -> Column:
    """Shannon entropy of the value distribution (AggregateFunctionEntropy.h),
    from exact counts over the collected values."""
    n = F.count(col(x)).cast("double").alias("n")
    return F.aggregate(
        _value_runs(col(x).cast("string")),
        F.struct(F.lit(0.0).alias("h"), n),
        lambda s, r: F.struct(
            (s["h"] - (r["n"] / s["n"]) * F.log2(r["n"] / s["n"])).alias("h"), s["n"].alias("n")
        ),
        lambda s: s["h"],
    )


@chfn("histogram")
def histogram(bins: int, x) -> Column:
    """Equal-width histogram → array of (lo, hi, height) structs. The
    reference's adaptive-bin sketch (AggregateFunctionHistogram.h) degrades
    to ~equal-width on uniform data; exact bin policy is documented."""
    b = int(bins)
    v = col(x).cast("double")
    vals = F.collect_list(v)
    lo, hi = F.array_min(vals), F.array_max(vals)
    width = (hi - lo) / F.lit(float(b))

    def bucket(i):
        lo_i = lo + width * i
        hi_i = lo + width * (i + 1)
        last = i == b - 1

        def pred(a, _lo=None):
            # closure over lo_i/hi_i; single-arg lambda contract for HOFs
            return (a >= lo_i) & ((a <= hi_i) if last else (a < hi_i))

        cnt = F.size(F.filter(vals, lambda a: pred(a)))
        return F.struct(lo_i.alias("lower"), hi_i.alias("upper"), cnt.cast("double").alias("height"))

    return F.array(*[bucket(i) for i in range(b)])


@chfn("topK", "topK2", "topKExact")
def topK(x, k: int = 10) -> Column:
    """The k most frequent values, most frequent first; equal counts keep
    the order of first appearance, as the space-saving sketch of
    AggregateFunctionTopK.h does (here counted exactly)."""
    return _top(_value_runs(x), lambda r: r["n"], k)


@chfn("topKWeighted")
def topKWeighted(x, w, k: int = 10) -> Column:
    """topK by summed weight (AggregateFunctionTopK.h, weighted)."""
    return _top(_value_runs(x, w), lambda r: r["w"], k)


def _let(value: Column, body) -> Column:
    """body(v) with v bound to ``value`` once. Spark evaluates a lambda's
    array argument once, but an expression inside a lambda body once per
    element, so a lambda body reads a shared array through such a v."""
    return F.get(F.transform(F.array(value), body), 0)


def _value_runs(x, w=None) -> Column:
    """One struct per distinct non-NULL value of the group: the value v,
    its 0-based first position pos in collect order, its count n and its
    summed weight w. One sort of the collected values and one scan of
    their sorted runs; counting each value by re-filtering the whole list
    is quadratic."""
    v = col(x)
    weight = F.lit(None).cast("double") if w is None else col(w).cast("double")
    items = F.collect_list(F.when(v.isNotNull(), F.struct(v.alias("v"), weight.alias("w"))))
    tagged = F.transform(
        items, lambda e, i: F.struct(e["v"].alias("v"), i.alias("pos"), e["w"].alias("w"))
    )

    def runs(s):
        def same(i, j):
            return F.get(s, i)["v"].eqNullSafe(F.get(s, j)["v"])

        def run(b, e):
            total = F.aggregate(F.slice(s, b + 1, e - b + 1), F.lit(0.0), lambda a, p: a + p["w"])
            first = F.get(s, b)
            return F.struct(
                first["v"].alias("v"), first["pos"].alias("pos"), (e - b + 1).alias("n"),
                total.alias("w"),
            )

        idx = F.transform(s, lambda e, i: i)
        starts = F.filter(idx, lambda i: ~same(i - 1, i))
        return F.zip_with(starts, F.filter(idx, lambda i: ~same(i + 1, i)), run)

    return _let(F.array_sort(tagged), runs)


def _top(runs: Column, score, k: int) -> Column:
    """The k values of highest score(run), first appearance first among
    equal scores."""
    ranked = F.transform(
        runs,
        lambda r: F.struct((-score(r)).alias("neg"), r["pos"].alias("pos"), r["v"].alias("val")),
    )
    return F.transform(F.slice(F.array_sort(ranked), 1, int(k)), lambda s: s["val"])


@chfn("first_value", case_insensitive=True)
def first_value(x) -> Column:
    return F.first(col(x), ignorenulls=False)


@chfn("last_value", case_insensitive=True)
def last_value(x) -> Column:
    return F.last(col(x), ignorenulls=False)


@chfn("sumMapFilteredWithOverflow")
def sumMapFilteredWithOverflow(keys, values, keep) -> Column:
    fn = REGISTRY["sumMapFiltered"]
    return fn(keys, values, keep)


@chfn("uniqThetaUnion")
def uniqThetaUnion(a, b) -> Column:
    """Theta-sketch set ops over the array-set emulation used by uniqTheta
    (src/Functions/UniqTheta/)."""
    return F.array_distinct(F.concat(col(a), col(b)))


@chfn("uniqThetaIntersect")
def uniqThetaIntersect(a, b) -> Column:
    return F.array_intersect(col(a), col(b))


@chfn("uniqThetaNot")
def uniqThetaNot(a, b) -> Column:
    return F.array_except(col(a), col(b))


# --------------------------------------------------------------------------
# reinterpretAs* — little-endian byte reinterpretation
# --------------------------------------------------------------------------


def _le_hex(s: Column) -> Column:
    """hex of the UTF-8 bytes of s, byte-reversed (little-endian read)."""
    pairs = F.regexp_extract_all(F.hex(F.encode(s, "UTF-8")), F.lit(".."), 0)
    return F.array_join(F.reverse(pairs), "")


def _reinterpret_int(s, width: int) -> Column:
    c = col(s)
    num_in = c.try_cast("decimal(38,0)")
    from_str = F.conv(F.substring(F.rpad(F.hex(F.encode(c.cast("string"), "UTF-8")), width * 2, "0"), 1, width * 2), 16, 10)
    # string bytes are read little-endian: reverse byte pairs first
    rev = _le_hex(c.cast("string"))
    from_str = F.conv(F.lpad(F.substring(rev, F.length(rev) - width * 2 + 1, width * 2), width * 2, "0"), 16, 10).cast("long")
    return F.when(num_in.isNotNull() & c.cast("string").rlike("^-?[0-9]+$"), num_in.cast("long")).otherwise(from_str)


for _nm, _w in (
    ("reinterpretAsInt8", 1), ("reinterpretAsUInt8", 1),
    ("reinterpretAsInt16", 2), ("reinterpretAsUInt16", 2),
    ("reinterpretAsInt32", 4), ("reinterpretAsUInt32", 4),
    ("reinterpretAsInt64", 8), ("reinterpretAsUInt64", 8),
    ("reinterpretAsInt128", 8), ("reinterpretAsUInt128", 8),
    ("reinterpretAsInt256", 8), ("reinterpretAsUInt256", 8),
):
    def _mkr(w=_w):
        return lambda s: _reinterpret_int(s, w)

    chfn(_nm)(_mkr())


@chfn("reinterpretAsString", "reinterpretAsFixedString")
def reinterpretAsString(n) -> Column:
    """Integer → its little-endian bytes as text, trailing NULs dropped
    (reinterpretAs.cpp). Exact for ASCII payloads."""
    h = F.hex(col(n).cast("long"))
    h = F.lpad(h, 16, "0")
    pairs = F.regexp_extract_all(h, F.lit(".."), 0)
    le = F.array_join(F.reverse(pairs), "")
    s = F.decode(F.unhex(le), "UTF-8")
    return F.regexp_replace(s, "\x00+$", "")


@chfn("reinterpretAsFloat32", "reinterpretAsFloat64")
def reinterpretAsFloat64(x) -> Column:
    return col(x).cast("double")


@chfn("reinterpretAsDate")
def reinterpretAsDate(x) -> Column:
    return F.date_add(F.lit("1970-01-01").cast("date"), col(x).cast("int"))


@chfn("reinterpretAsDateTime")
def reinterpretAsDateTime(x) -> Column:
    return F.timestamp_seconds(col(x).cast("long"))


@chfn("reinterpret")
def reinterpret(x, type_name) -> Column:
    t = type_name if isinstance(type_name, str) else "String"
    m = {
        "Int8": "tinyint", "Int16": "smallint", "Int32": "int", "Int64": "long",
        "UInt8": "int", "UInt16": "int", "UInt32": "long", "UInt64": "long",
        "Float32": "float", "Float64": "double", "String": "string",
        "Date": "date", "DateTime": "timestamp",
    }
    return col(x).cast(m.get(t.strip("'\""), "string"))


# --------------------------------------------------------------------------
# Window-view time functions (FunctionsTimeWindow.cpp)
# --------------------------------------------------------------------------


def _iv(interval) -> Column:
    if isinstance(interval, Column):
        return interval
    return F.expr(f"INTERVAL {interval}") if isinstance(interval, str) and not interval.upper().startswith("INTERVAL") else F.expr(str(interval))


def _iv_str(interval) -> str:
    return interval if isinstance(interval, str) else str(interval)


@chfn("tumble")
def tumble(ts, interval: str) -> Column:
    """window(ts, interval) struct — (start, end), end-exclusive, exactly
    Spark's tumbling window."""
    return F.window(col(ts), _iv_str(interval).replace("INTERVAL ", ""))


@chfn("tumbleStart")
def tumbleStart(ts, interval: str) -> Column:
    return tumble(ts, interval)["start"]


@chfn("tumbleEnd")
def tumbleEnd(ts, interval: str) -> Column:
    return tumble(ts, interval)["end"]


@chfn("hop")
def hop(ts, slide: str, size: str) -> Column:
    return F.window(
        col(ts), _iv_str(size).replace("INTERVAL ", ""), _iv_str(slide).replace("INTERVAL ", "")
    )


@chfn("hopStart")
def hopStart(ts, slide: str, size: str) -> Column:
    return hop(ts, slide, size)["start"]


@chfn("hopEnd")
def hopEnd(ts, slide: str, size: str) -> Column:
    return hop(ts, slide, size)["end"]


@chfn("windowID")
def windowID(ts, *args: str) -> Column:
    """Window identifier = epoch seconds of the (tumble) window end."""
    w = tumble(ts, args[0]) if len(args) == 1 else hop(ts, args[0], args[1])
    return F.unix_timestamp(w["end"])


# --------------------------------------------------------------------------
# Consistent hashing + extra hash names
# --------------------------------------------------------------------------


@chfn("jumpConsistentHash")
def jumpConsistentHash(key, buckets) -> Column:
    """Lamping-Veach jump hash (consistentHashes.cpp) — exact via the
    catalog's chhash kernel (data-dependent loop; not hot-path material).
    Its SQL rendering names the catalog UDF, which translate registers."""
    return udf_call(
        "ch_jumpconsistenthash", col(key).cast("long"), col(buckets).cast("int")
    )


@chfn("kostikConsistentHash", "yandexConsistentHash")
def kostikConsistentHash(key, buckets: int = 32768) -> Column:
    """Stand-in: jump hash has the same contract (stable, minimal-movement
    bucket assignment). The reference caps buckets at 32768
    (consistentHashing.h) — enforce the same bound.
    Values differ from the reference's algorithm
    (documented, consistent with the hashing-module fidelity note)."""
    if isinstance(buckets, int) and not (0 < buckets <= 32768):
        raise ValueError(
            f"kostikConsistentHash: buckets must be in (0, 32768], got {buckets}"
        )
    return jumpConsistentHash(key, buckets)


@chfn("javaHashUTF16LE")
def javaHashUTF16LE(s) -> Column:
    """Exact Java String.hashCode over UTF-16 code units: h = 31·h + c,
    folded with HOFs over the codepoint array (BMP-exact)."""
    # 32-bit wrap via pmod into signed range at each step
    codes = F.transform(F.split(col(s), ""), lambda ch: F.ascii(ch))
    h = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * 31 + c, F.lit(4294967296)),
    )
    return F.when(h >= 2147483648, h - 4294967296).otherwise(h).cast("int")


@chfn("metroHash64", "wyHash64", "gccMurmurHash", "xxh3")
def metroHash64(*args) -> Column:
    """Portable stand-ins on xxhash64 (hashing-module fidelity note: stable
    well-distributed same-width hashes, not byte-identical)."""
    return F.xxhash64(*[col(a) for a in args])


@chfn("murmurHash3_128", "sipHash128Keyed", "sipHash128Reference", "sipHash128ReferenceKeyed")
def murmurHash3_128(*args) -> Column:
    return F.md5(F.concat_ws("\x01", *[col(a).cast("string") for a in args]))


@chfn("sipHash64Keyed")
def sipHash64Keyed(k, *args) -> Column:
    return F.xxhash64(*[col(a) for a in args])


@chfn("CRC32IEEE")
def CRC32IEEE(s) -> Column:
    return F.crc32(F.encode(col(s).cast("string"), "UTF-8"))


@chfn("CRC64")
def CRC64(s) -> Column:
    """64-bit stand-in (xxhash64; fidelity note)."""
    return F.xxhash64(col(s))


@chfn("SHA384")
def SHA384(s) -> Column:
    return F.sha2(col(s).cast("string"), 384)


@chfn("URLHash")
def URLHash(url, n=None) -> Column:
    u = F.regexp_replace(col(url), "[/?#]+$", "")
    return F.xxhash64(u)


# --------------------------------------------------------------------------
# IP / MAC rendering
# --------------------------------------------------------------------------


@chfn("MACNumToString")
def MACNumToString(n) -> Column:
    h = F.lpad(F.hex(col(n).cast("long")), 12, "0")
    return F.lower(
        F.concat_ws(
            ":",
            *[F.substring(h, i * 2 + 1, 2) for i in range(6)],
        )
    )


@chfn("MACStringToNum")
def MACStringToNum(s) -> Column:
    return F.conv(F.regexp_replace(col(s), "[:-]", ""), 16, 10).cast("long")


@chfn("MACStringToOUI")
def MACStringToOUI(s) -> Column:
    return F.conv(F.substring(F.regexp_replace(col(s), "[:-]", ""), 1, 6), 16, 10).cast("long")


@chfn("IPv4NumToStringClassC")
def IPv4NumToStringClassC(n) -> Column:
    c = col(n).cast("long")
    return F.concat_ws(
        ".",
        F.shiftright(c, 24).bitwiseAND(F.lit(255)).cast("string"),
        F.shiftright(c, 16).bitwiseAND(F.lit(255)).cast("string"),
        F.shiftright(c, 8).bitwiseAND(F.lit(255)).cast("string"),
        F.lit("xxx"),
    )


# Module-level pandas UDF kernels, called by name through the UDF catalog
# (functions/catalog.py; make_udfs below). pandas UDFs must NOT be created at
# module import time: executors import this package inside Python workers
# (no SparkContext), and @pandas_udf parses its return-type DDL eagerly.

def ch_ipv6_expand(ser: pd.Series) -> pd.Series:
    import ipaddress

    def one(v):
        if v is None:
            return None
        if isinstance(v, (bytes, bytearray)):
            try:
                return ipaddress.IPv6Address(bytes(v)).exploded
            except ValueError:
                return None
        try:
            return ipaddress.IPv6Address(v).exploded
        except ValueError:
            try:
                return ipaddress.IPv6Address("::ffff:" + v).exploded
            except ValueError:
                return None

    return ser.map(one)


def ch_ipv6_ntoa(ser: pd.Series) -> pd.Series:
    import ipaddress

    def one(v):
        if v is None:
            return None
        try:
            if isinstance(v, (bytes, bytearray)):
                return str(ipaddress.IPv6Address(bytes(v)))
            return str(ipaddress.IPv6Address(v))
        except ValueError:
            return None

    return ser.map(one)


def ch_ipv6_aton(ser: pd.Series) -> pd.Series:
    import ipaddress

    def one(v):
        if v is None:
            return None
        try:
            return ipaddress.IPv6Address(v).packed
        except ValueError:
            try:
                return ipaddress.IPv6Address("::ffff:" + v).packed
            except ValueError:
                return None

    return ser.map(one)


def _ipv6_expand(s: Column) -> Column:
    """Full 32-hex-digit form of an IPv6 string (pandas UDF, stdlib exact)."""
    return udf_call("ch_ipv6_expand", s)


@chfn("IPv6NumToString", "INET6_NTOA")
def IPv6NumToString(x) -> Column:
    return udf_call("ch_ipv6_ntoa", x)


@chfn("IPv6StringToNum", "INET6_ATON")
def IPv6StringToNum(s) -> Column:
    return udf_call("ch_ipv6_aton", s)


@chfn("cutIPv6")
def cutIPv6(s, bytes_to_cut_v6: int = 0, bytes_to_cut_v4: int = 0) -> Column:
    """Zero the last N bytes of the address (anonymization)."""
    exp = _ipv6_expand(col(s))  # accepts packed binary or text
    groups_to_cut = int(bytes_to_cut_v6) // 2
    if groups_to_cut <= 0:
        return exp
    parts = F.split(exp, ":")
    kept = F.slice(parts, 1, 8 - groups_to_cut)
    zeros = F.array_repeat(F.lit("0000"), groups_to_cut)
    return F.array_join(F.concat(kept, zeros), ":")


def ch_ipv6_cidr_range(ser: pd.Series, pfx: pd.Series) -> pd.DataFrame:
    import ipaddress

    lo, hi = [], []
    for v, p in zip(ser, pfx):
        try:
            net = ipaddress.IPv6Network((v, int(p)), strict=False)
            lo.append(str(net.network_address))
            hi.append(str(net.broadcast_address))
        except (ValueError, TypeError):
            lo.append(None)
            hi.append(None)
    return pd.DataFrame({"lo": lo, "hi": hi})


@chfn("IPv6CIDRToRange")
def IPv6CIDRToRange(s, prefix) -> Column:
    return udf_call("ch_ipv6_cidr_range", col(s).cast("string"), col(prefix).cast("int"))


# --------------------------------------------------------------------------
# URL RFC aliases + cutURLParameter
# --------------------------------------------------------------------------

for _new, _base in (
    ("domainRFC", "domain"),
    ("domainWithoutWWWRFC", "domainWithoutWWW"),
    ("topLevelDomainRFC", "topLevelDomain"),
    ("portRFC", "port"),
    ("firstSignificantSubdomainRFC", "firstSignificantSubdomain"),
    ("cutToFirstSignificantSubdomainRFC", "cutToFirstSignificantSubdomain"),
    ("cutToFirstSignificantSubdomainWithWWW", "cutToFirstSignificantSubdomain"),
    ("cutToFirstSignificantSubdomainWithWWWRFC", "cutToFirstSignificantSubdomain"),
):
    if _base in REGISTRY:
        chfn(_new)(REGISTRY[_base])


@chfn("cutURLParameter")
def cutURLParameter(url, name) -> Column:
    nm = name if isinstance(name, str) else "x"
    return F.regexp_replace(col(url), rf"(?<=[?&]){nm}=[^&#]*&?", "")


@chfn("basename")
def basename(p) -> Column:
    # both separators count (FunctionsStringArray.h ExtractBasename
    # find_last_symbols_or_null<'/', '\\'>)
    return F.element_at(F.split(col(p), r"[/\\]"), -1)


# --------------------------------------------------------------------------
# Scalar odds and ends
# --------------------------------------------------------------------------


@chfn("hypot")
def hypot(a, b) -> Column:
    return F.sqrt(col(a).cast("double") ** 2 + col(b).cast("double") ** 2)


@chfn("sigmoid")
def sigmoid(x) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-col(x).cast("double")))


@chfn("widthBucket", "width_bucket2")
def widthBucket(x, lo, hi, n) -> Column:
    return F.width_bucket(col(x), col(lo), col(hi), col(n))


@chfn("JSONArrayLength")
def JSONArrayLength(s) -> Column:
    return F.json_array_length(col(s))


@chfn("ifNotFinite")
def ifNotFinite(x, y) -> Column:
    c = col(x).cast("double")
    bad = F.isnan(c) | (F.abs(c) == F.lit(float("inf")))
    return F.when(bad, col(y)).otherwise(c)


@chfn("isNullable", "isDecimalOverflow", "hasThreadFuzzer")
def isNullable(x=None) -> Column:
    return F.lit(False)


@chfn("countDigits")
def countDigits(x) -> Column:
    return F.length(F.regexp_replace(F.abs(col(x)).cast("decimal(38,0)").cast("string"), "[^0-9]", ""))


@chfn("moduloLegacy")
def moduloLegacy(a, b) -> Column:
    # legacy rule (moduloLegacy.cpp + NumberTraits ResultOfModuloLegacy):
    # r = a % b, then r is wrapped into a SIGNED integer of the divisor's
    # byte width — moduloLegacy(-199, 200) = Int8(-199 % 200) = Int8(-199)
    # = 57, while moduloLegacy(-100, 200) = Int8(-100) = -100.
    # result signedness = is_signed(A) || is_signed(B): a non-negative
    # dividend over an unsigned divisor wraps UNSIGNED (moduloLegacy(199,
    # 200) = UInt8(199) = 199); the value's sign is the runtime proxy for
    # the static signedness
    ca, cb = col(a), col(b)
    r = ca % cb
    width = (
        F.when(F.abs(cb) < 256, F.lit(256.0))
        .when(F.abs(cb) < 65536, F.lit(65536.0))
        .when(F.abs(cb) < 4294967296, F.lit(4294967296.0))
    )  # divisors ≥ 2^32 → 8-byte result: pass r through unchanged
    signed_wrap = (F.pmod(r + width / 2, width) - width / 2).cast("long")
    unsigned_wrap = F.pmod(r, width).cast("long")
    wrapped = F.when((ca < 0) | (cb < 0), signed_wrap).otherwise(unsigned_wrap)
    return F.when(width.isNull(), r).otherwise(wrapped)


@chfn("multiplyDecimal")
def multiplyDecimal(a, b, scale: int = 10) -> Column:
    return (col(a).cast("decimal(38,10)") * col(b).cast("decimal(38,10)")).cast(
        f"decimal(38,{int(scale)})"
    )


@chfn("divideDecimal")
def divideDecimal(a, b, scale: int = 10) -> Column:
    return (col(a).cast("decimal(38,10)") / col(b).cast("decimal(38,10)")).cast(
        f"decimal(38,{int(scale)})"
    )


@chfn("toLowCardinality", "lowCardinalityKeys")
def toLowCardinality(x) -> Column:
    """LowCardinality is a storage encoding (DataTypeLowCardinality.cpp);
    Spark's dictionary encoding is automatic in parquet — identity."""
    return col(x)


@chfn("lowCardinalityIndices")
def lowCardinalityIndices(x) -> Column:
    return F.lit(0)  # per-block dictionary index — no Spark analogue


@chfn("toModifiedJulianDayOrNull")
def toModifiedJulianDayOrNull(s) -> Column:
    d = col(s).try_cast("date")
    return F.datediff(d, F.lit("1858-11-17").cast("date"))


@chfn("fromModifiedJulianDayOrNull")
def fromModifiedJulianDayOrNull(n) -> Column:
    return F.date_add(F.lit("1858-11-17").cast("date"), col(n).try_cast("int"))


@chfn("emptyArrayToSingle")
def emptyArrayToSingle(arr) -> Column:
    a = col(arr)
    return F.when(F.size(a) == 0, F.array(F.lit(0))).otherwise(a)


@chfn("replicate")
def replicate(x, arr) -> Column:
    return F.array_repeat(col(x), F.size(col(arr)))


def _pow2() -> Column:
    """Literal [2^0 … 2^62] — Spark shiftleft/shiftright take only literal
    shift amounts, so column-valued shifts go through divide/multiply."""
    return F.array(*[F.lit(2**i) for i in range(63)])


def _bit_at(c: Column, i: Column) -> Column:
    """(c >> i) & 1 with a column-valued i (0-based)."""
    return F.floor(c / F.element_at(_pow2(), (i + 1).cast("int"))).cast("long") % 2


@chfn("bitPositionsToArray")
def bitPositionsToArray(x) -> Column:
    c = col(x).cast("long")
    return F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(62)),
            lambda i: F.when(_bit_at(c, i) == 1, i).otherwise(F.lit(-1)),
        ),
        lambda v: v >= 0,
    )


@chfn("bitSlice")
def bitSlice(s, offset, length=None) -> Column:
    """Byte-granular slice of the bit view (bit offsets rounded to bytes —
    documented; CH allows sub-byte offsets)."""
    off_b = ((col(offset) - 1) / 8).cast("int") + 1
    if length is None:
        return F.substring(col(s), off_b, 1_000_000)
    len_b = F.ceil(col(length) / 8).cast("int")
    return col(s).substr(off_b, len_b)


@chfn("byteSize")
def byteSize(*args) -> Column:
    total = F.lit(0)
    for a in args:
        total = total + F.coalesce(F.length(col(a).cast("string")), F.lit(0))
    return total


@chfn("visibleWidth")
def visibleWidth(x) -> Column:
    return F.length(col(x).cast("string"))


@chfn("flattenTuple")
def flattenTuple(t) -> Column:
    return col(t)  # nested structs already flatten on select


@chfn("tupleToNameValuePairs")
def tupleToNameValuePairs(t) -> Column:
    c = col(t)
    return F.map_entries(F.from_json(F.to_json(c), "map<string,string>"))


@chfn("mapContainsKeyLike")
def mapContainsKeyLike(m, pat) -> Column:
    p = lit_or_col(pat)
    rx = F.concat(
        F.lit("^"),
        F.regexp_replace(
            F.regexp_replace(p, r"([.^$|()\[\]{}*+?\\])", r"\\$1"), "%", ".*"
        ),
        F.lit("$"),
    )
    rx2 = F.regexp_replace(rx, "_", ".")
    return F.exists(F.map_keys(col(m)), lambda k: F.rlike(k, rx2))


@chfn("mapExtractKeyLike")
def mapExtractKeyLike(m, pat) -> Column:
    p = lit_or_col(pat)
    rx = F.concat(
        F.lit("^"),
        F.regexp_replace(
            F.regexp_replace(p, r"([.^$|()\[\]{}*+?\\])", r"\\$1"), "%", ".*"
        ),
        F.lit("$"),
    )
    rx2 = F.regexp_replace(rx, "_", ".")
    return F.map_filter(col(m), lambda k, v: F.rlike(k, rx2))


@chfn("arrayFirstOrNull")
def arrayFirstOrNull(f, arr) -> Column:
    return F.element_at(F.filter(col(arr), f), 1)


@chfn("arrayLastOrNull")
def arrayLastOrNull(f, arr) -> Column:
    return F.element_at(F.filter(col(arr), f), -1)


@chfn("arrayPartialSort")
def arrayPartialSort(limit, arr) -> Column:
    """First `limit` elements sorted; remainder order unspecified in CH —
    here: fully sorted then original tail (superset of the contract)."""
    a = col(arr)
    n = int(limit) if not isinstance(limit, Column) else 10
    return F.concat(F.slice(F.array_sort(a), 1, n), F.slice(a, n + 1, 1_000_000_000))


@chfn("arrayPartialReverseSort")
def arrayPartialReverseSort(limit, arr) -> Column:
    a = col(arr)
    n = int(limit) if not isinstance(limit, Column) else 10
    return F.concat(
        F.slice(F.reverse(F.array_sort(a)), 1, n), F.slice(a, n + 1, 1_000_000_000)
    )


@chfn("arrayPartialShuffle")
def arrayPartialShuffle(limit, arr, seed: int = 0) -> Column:
    return F.shuffle(col(arr))


@chfn("arrayEnumerateDense")
def arrayEnumerateDense(arr) -> Column:
    """Rank of each element's first occurrence: [10,20,10] → [1,2,1]
    (src/Functions/array/arrayEnumerateDense... via first-position index)."""
    a = col(arr)
    # rank among DISTINCT values in first-occurrence order: [5,5,7] must be
    # [1,1,2], so position within array_distinct, not the raw array
    return F.transform(
        a, lambda v: F.array_position(F.array_distinct(a), v).cast("int")
    )


@chfn("arrayReverseFill")
def arrayReverseFill(f, arr) -> Column:
    """fill backwards: each element failing pred takes the NEXT passing
    value — implemented as reverse(arrayFill(reverse))."""
    fill = REGISTRY.get("arrayFill")
    if fill is None:
        raise NotImplementedError("arrayFill missing")
    return F.reverse(fill(f, F.reverse(col(arr))))


@chfn("concatAssumeInjective")
def concatAssumeInjective(*args) -> Column:
    return F.concat(*[col(a) for a in args])


@chfn("concatWithSeparatorAssumeInjective")
def concatWithSeparatorAssumeInjective(sep, *args) -> Column:
    return F.concat_ws(
        sep if isinstance(sep, str) else "", *[col(a) for a in args]
    )


# --------------------------------------------------------------------------
# Introspection constants (server-state surface; honest fixed values for a
# local Spark engine — each documented at the reference site)
# --------------------------------------------------------------------------


@chfn("blockSize")
def blockSize() -> Column:
    return F.lit(65536)  # Spark's columnar batch default


@chfn("blockNumber")
def blockNumber() -> Column:
    return F.spark_partition_id().cast("long")


@chfn("rowNumberInBlock")
def rowNumberInBlock() -> Column:
    from pyspark.sql import Window

    return F.row_number().over(
        Window.partitionBy(F.spark_partition_id()).orderBy(F.monotonically_increasing_id())
    ) - 1


@chfn("shardNum")
def shardNum() -> Column:
    return F.lit(1)


@chfn("shardCount")
def shardCount() -> Column:
    return F.lit(1)


@chfn("tcpPort")
def tcpPort() -> Column:
    return F.lit(9000)


@chfn("getMacro", "getSetting", "globalVariable")
def getMacro(name=None) -> Column:
    return F.lit(None).cast("string")


@chfn("FQDN", "fullHostName")
def FQDN() -> Column:
    import socket

    return F.lit(socket.getfqdn())


@chfn("displayName")
def displayName() -> Column:
    import socket

    return F.lit(socket.gethostname())


@chfn("revision", "buildId", "serverUUID", "zookeeperSessionUptime", "transactionID", "tid")
def revision() -> Column:
    return F.lit(0)


@chfn("filesystemAvailable", "filesystemCapacity", "filesystemUnreserved")
def filesystemAvailable(disk=None) -> Column:
    import shutil

    return F.lit(shutil.disk_usage("/").free)


@chfn("partitionId")
def partitionId(*args) -> Column:
    """The ID of the partition the values fall in: integers in decimal,
    joined by '-' (MergeTreePartition::getID; other types hash there);
    NULL for a NULL value."""
    pieces = [F.lit("-")] * (2 * len(args) - 1)
    pieces[::2] = [col(a).cast("string") for a in args]
    return F.concat(*pieces)


@chfn("hasColumnInTable")
def hasColumnInTable(*args) -> Column:
    return F.lit(True)


@chfn("throwIf")
def throwIf(cond, msg=None) -> Column:
    m = msg if isinstance(msg, str) else "throwIf"
    return F.when(col(cond).cast("boolean"), F.raise_error(F.lit(m))).otherwise(F.lit(0))


@chfn("logTrace")
def logTrace(msg) -> Column:
    return F.lit(0)


@chfn("errorCodeToName")
def errorCodeToName(c) -> Column:
    # out-of-range / gap codes yield EMPTY (ErrorCodes::getName returns an
    # empty string_view); 0 is OK (src/Common/ErrorCodes.cpp)
    known = {0: "OK", 1: "UNSUPPORTED_METHOD", 2: "UNSUPPORTED_PARAMETER",
             3: "UNEXPECTED_END_OF_FILE", 6: "CANNOT_PARSE_TEXT",
             16: "NO_SUCH_COLUMN_IN_TABLE", 36: "BAD_ARGUMENTS",
             47: "UNKNOWN_IDENTIFIER", 48: "NOT_IMPLEMENTED",
             60: "UNKNOWN_TABLE", 62: "SYNTAX_ERROR",
             81: "UNKNOWN_DATABASE", 241: "MEMORY_LIMIT_EXCEEDED"}
    cc = col(c).cast("long")
    out = None
    for k, v in known.items():
        cond = cc == k
        out = F.when(cond, F.lit(v)) if out is None else out.when(cond, F.lit(v))
    return out.otherwise(F.lit(""))


@chfn("caseWithExpression", "caseWithExpr")
def caseWithExpression(expr_col, *pairs) -> Column:
    """CASE expr WHEN a THEN b … ELSE z END as a function
    (src/Functions/caseWithExpression.cpp)."""
    e = col(expr_col)
    *whens, default = pairs
    out = None
    for i in range(0, len(whens) - 1, 2):
        c = e == col(whens[i])
        out = F.when(c, col(whens[i + 1])) if out is None else out.when(c, col(whens[i + 1]))
    return (out.otherwise(col(default))) if out is not None else col(default)


@chfn("caseWithoutExpr", "caseWithoutExpression")
def caseWithoutExpr(*pairs) -> Column:
    *whens, default = pairs
    out = None
    for i in range(0, len(whens) - 1, 2):
        c = col(whens[i]).cast("boolean")
        out = F.when(c, col(whens[i + 1])) if out is None else out.when(c, col(whens[i + 1]))
    return (out.otherwise(col(default))) if out is not None else col(default)


@chfn("in", "globalIn")
def in_fn(x, arr) -> Column:
    return F.array_contains(col(arr), col(x))


@chfn("notIn", "globalNotIn")
def notIn(x, arr) -> Column:
    return ~F.array_contains(col(arr), col(x))


@chfn("nullIn", "globalNullIn", "notNullIn", "globalNotNullIn")
def nullIn(x, arr) -> Column:
    r = F.array_contains(col(arr), col(x))
    return F.when(col(x).isNull(), F.lit(None)).otherwise(r)


# --------------------------------------------------------------------------
# Geo: geohash, point-in-shape (pointInPolygon is a real pipeline need)
# --------------------------------------------------------------------------


@chfn("geohashEncode")
def geohashEncode(lon, lat, precision=12) -> Column:
    """The geohash of (lon, lat), ``precision`` characters long; a precision
    outside 1..12 is 12 (geohashEncode.cpp). The catalog UDF
    (functions/sql_udfs.py) encodes."""
    return udf_call("geohashEncode", col(lon).cast("double"), col(lat).cast("double"), col(precision))


@chfn("geohashDecode")
def geohashDecode(h) -> Column:
    @pandas_udf("struct<longitude:double,latitude:double>")
    def _dec(ser: pd.Series) -> pd.DataFrame:
        b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
        lons, lats = [], []
        for v in ser:
            if v is None:
                lons.append(None)
                lats.append(None)
                continue
            lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
            even = True
            for c in v:
                idx = b32.index(c)
                for bit in range(4, -1, -1):
                    b = (idx >> bit) & 1
                    r = lon_r if even else lat_r
                    mid = (r[0] + r[1]) / 2
                    if b:
                        r[0] = mid
                    else:
                        r[1] = mid
                    even = not even
            lons.append((lon_r[0] + lon_r[1]) / 2)
            lats.append((lat_r[0] + lat_r[1]) / 2)
        return pd.DataFrame({"longitude": lons, "latitude": lats})

    return _dec(col(h).cast("string"))


@chfn("pointInEllipses")
def pointInEllipses(x, y, *params) -> Column:
    """Σ over ellipses (cx, cy, rx, ry): inside if any
    ((x-cx)/rx)² + ((y-cy)/ry)² ≤ 1 (src/Functions/pointInEllipses.cpp)."""
    xc, yc = col(x).cast("double"), col(y).cast("double")
    out = F.lit(False)
    for i in range(0, len(params), 4):
        cx, cy, rx, ry = [col(p).cast("double") for p in params[i : i + 4]]
        out = out | (((xc - cx) / rx) ** 2 + ((yc - cy) / ry) ** 2 <= 1)
    return out


@chfn("pointInPolygon")
def pointInPolygon(point, polygon) -> Column:
    """Ray casting over an array<struct<_1,_2>> polygon — HOF fold, exact
    for simple polygons (src/Functions/pointInPolygon.cpp)."""
    px = col(point)["_1"].cast("double")
    py = col(point)["_2"].cast("double")
    poly = col(polygon)
    n = F.size(poly)
    idx = F.sequence(F.lit(1), n)

    def crosses(i):
        a = F.element_at(poly, i)
        b = F.element_at(poly, F.when(i == n, 1).otherwise(i + 1))
        ax, ay = a["_1"].cast("double"), a["_2"].cast("double")
        bx, by = b["_1"].cast("double"), b["_2"].cast("double")
        cond = ((ay > py) != (by > py)) & (
            px < (bx - ax) * (py - ay) / (by - ay) + ax
        )
        return F.when(cond, 1).otherwise(0)

    def on_edge(i):
        a = F.element_at(poly, i)
        b = F.element_at(poly, F.when(i == n, 1).otherwise(i + 1))
        ax, ay = a["_1"].cast("double"), a["_2"].cast("double")
        bx, by = b["_1"].cast("double"), b["_2"].cast("double")
        cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
        within = (
            (F.least(ax, bx) <= px) & (px <= F.greatest(ax, bx))
            & (F.least(ay, by) <= py) & (py <= F.greatest(ay, by))
        )
        return (cross == 0) & within

    hits = F.aggregate(idx, F.lit(0), lambda acc, i: acc + crosses(i))
    # boundary points count as inside (the reference's default strategy)
    boundary = F.exists(idx, on_edge)
    return boundary | (F.pmod(hits, F.lit(2)) == 1)


@chfn("svg", "SVG")
def svg(geom, style=None) -> Column:
    """Minimal SVG polygon rendering of array<struct<_1,_2>> rings
    (src/Functions/svg.cpp)."""
    pts = F.array_join(
        F.transform(
            col(geom), lambda p: F.concat_ws(",", p["_1"].cast("string"), p["_2"].cast("string"))
        ),
        " ",
    )
    return F.concat(F.lit('<polygon points="'), pts, F.lit('"/>'))


# --------------------------------------------------------------------------
# Encryption (Spark aes_encrypt/aes_decrypt are the real thing)
# --------------------------------------------------------------------------


_AES_MODE = {"aes-128-ecb": "ECB", "aes-192-ecb": "ECB", "aes-256-ecb": "ECB",
             "aes-128-gcm": "GCM", "aes-192-gcm": "GCM", "aes-256-gcm": "GCM",
             "aes-128-cbc": "CBC", "aes-192-cbc": "CBC", "aes-256-cbc": "CBC"}


@chfn("encrypt", "aes_encrypt_mysql")
def encrypt(mode, plaintext, key, iv=None, aad=None) -> Column:
    m = _AES_MODE.get(mode if isinstance(mode, str) else "aes-128-ecb", "ECB")
    args = [col(plaintext), col(key), F.lit(m), F.lit("DEFAULT")]
    if iv is not None:
        args.append(col(iv))
        if aad is not None:
            args.append(col(aad))
    return F.aes_encrypt(*args)


@chfn("decrypt", "aes_decrypt_mysql")
def decrypt(mode, ciphertext, key, iv=None, aad=None) -> Column:
    m = _AES_MODE.get(mode if isinstance(mode, str) else "aes-128-ecb", "ECB")
    args = [col(ciphertext), col(key), F.lit(m), F.lit("DEFAULT")]
    if iv is not None:
        args.append(col(iv))
        if aad is not None:
            args.append(col(aad))
    return F.aes_decrypt(*args)


@chfn("tryDecrypt")
def tryDecrypt(mode, ciphertext, key, iv=None, aad=None) -> Column:
    m = _AES_MODE.get(mode if isinstance(mode, str) else "aes-128-ecb", "ECB")
    args = [col(ciphertext), col(key), F.lit(m), F.lit("DEFAULT")]
    if iv is not None:
        args.append(col(iv))
    return F.try_aes_decrypt(*args)


def ch_base58_enc(ser: pd.Series) -> pd.Series:
    alphabet = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"

    def one(v):
        if v is None:
            return None
        if isinstance(v, str):
            try:
                b = v.encode("latin-1")  # inverse of the decode carrier
            except UnicodeEncodeError:
                b = v.encode("utf-8")
        else:
            b = bytes(v)
        n = int.from_bytes(b, "big")
        out = ""
        while n:
            n, r = divmod(n, 58)
            out = alphabet[r] + out
        pad = len(b) - len(b.lstrip(b"\x00"))
        return "1" * pad + (out or "")

    return ser.map(one)


@chfn("base58Encode")
def base58Encode(s) -> Column:
    return udf_call("ch_base58_enc", s)


@chfn("base58Decode")
def base58Decode(s) -> Column:
    return udf_call("ch_base58_dec_strict", s)


@chfn("tryBase58Decode")
def tryBase58Decode(s) -> Column:
    return udf_call("ch_base58_dec", s)


def _b58_decode_one(v):
    alphabet = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
    n = 0
    for c in v:
        n = n * 58 + alphabet.index(c)  # ValueError on invalid char
    pad = len(v) - len(v.lstrip("1"))
    raw = n.to_bytes((n.bit_length() + 7) // 8, "big") if n else b""
    # latin-1 keeps every byte value addressable so encode(decode(x)) is
    # byte-faithful (CH String is a byte string)
    out = b"\x00" * pad + raw
    try:
        return out.decode("utf-8")
    except UnicodeDecodeError:
        return out.decode("latin-1")


def ch_base58_dec(ser: pd.Series) -> pd.Series:
    def one(v):
        if v is None:
            return None
        try:
            return _b58_decode_one(v)
        except ValueError:
            return None

    return ser.map(one)


def ch_base58_dec_strict(ser: pd.Series) -> pd.Series:
    """base58Decode throws on invalid input (serverError 36); the try…
    variant above maps it to NULL (FunctionBase58Conversion.h)."""
    def one(v):
        if v is None:
            return None
        try:
            return _b58_decode_one(v)
        except ValueError as exc:
            raise ValueError(f"invalid base58: {v!r}") from exc

    return ser.map(one)


@chfn("mortonEncode")
def mortonEncode(x, y) -> Column:
    """2-D Morton (Z-order) interleave — HOF over bit positions,
    codegen-native (src/Functions/mortonEncode.cpp). Exact for inputs
    below 2^31 (interleaved result stays in a signed 64-bit long)."""
    xc, yc = col(x).cast("long"), col(y).cast("long")
    bits = F.sequence(F.lit(0), F.lit(30))
    return F.aggregate(
        bits,
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + _bit_at(xc, i) * F.element_at(_pow2(), (i * 2 + 1).cast("int"))
        + _bit_at(yc, i) * F.element_at(_pow2(), (i * 2 + 2).cast("int")),
    )


@chfn("mortonDecode")
def mortonDecode(dims, code) -> Column:
    c = col(code).cast("long")
    bits = F.sequence(F.lit(0), F.lit(30))
    x = F.aggregate(
        bits,
        F.lit(0).cast("long"),
        lambda acc, i: acc + _bit_at(c, i * 2) * F.element_at(_pow2(), (i + 1).cast("int")),
    )
    y = F.aggregate(
        bits,
        F.lit(0).cast("long"),
        lambda acc, i: acc + _bit_at(c, i * 2 + 1) * F.element_at(_pow2(), (i + 1).cast("int")),
    )
    return F.struct(x.alias("_1"), y.alias("_2"))


def make_udfs() -> dict:
    """The module's pandas UDF kernels by SQL name (functions/catalog.py)."""
    from clickhouse_23_3_19_32_lts_spark.functions.misc import (
        ch_fmt_timedelta,
    )

    return {
        impl.__name__: pandas_udf(impl, ret)
        for impl, ret in (
            (ch_ipv6_expand, "string"),
            (ch_ipv6_ntoa, "string"),
            (ch_ipv6_aton, "binary"),
            (ch_ipv6_cidr_range, "struct<lo:string,hi:string>"),
            (ch_base58_enc, "string"),
            (ch_base58_dec, "string"),
            (ch_base58_dec_strict, "string"),
            (ch_fmt_timedelta, "string"),
        )
    }
