"""Aggregate-function builders (SURVEY §2.4, registry
src/AggregateFunctions/registerAggregateFunctions.cpp:12-93).

Each ClickHouse aggregate name returns a Spark Column usable inside
groupBy().agg(...) / over(window). Combinator forms (-If, -OrNull,
-Distinct) are registered as explicit names (sumIf, avgOrNull, ...), the
way ClickHouse materializes them at parse time.
"""

from __future__ import annotations

import inspect

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.registry import REGISTRY, chfn, col


# -- core --------------------------------------------------------------------

# count, sum, min, max and avg are case-insensitive names
# (AggregateFunctionFactory::CaseInsensitive in AggregateFunctionCount.cpp,
# AggregateFunctionSum.cpp, AggregateFunctionMinMaxAny.cpp and
# AggregateFunctionAvg.cpp), as in standard SQL.


@chfn("count", case_insensitive=True)
def count(c=None) -> Column:
    """count() / count(x) (zero-arg form counts rows)."""
    return F.count(F.lit(1)) if c is None else F.count(col(c))


@chfn("sum", case_insensitive=True)
def sum_(c) -> Column:
    return F.sum(col(c))


@chfn("min", case_insensitive=True)
def min_(c) -> Column:
    return F.min(col(c))


@chfn("max", case_insensitive=True)
def max_(c) -> Column:
    return F.max(col(c))


@chfn("avg", case_insensitive=True)
def avg(c) -> Column:
    return F.avg(col(c))


@chfn("avgWeighted")
def avgWeighted(x, w) -> Column:
    """avgWeighted(x, w) = sum(x·w)/sum(w) (AggregateFunctionAvgWeighted)."""
    return F.sum(col(x) * col(w)) / F.sum(col(w))


@chfn("sumCount")
def sumCount(c) -> Column:
    """sumCount(x) → struct(sum, count) (AggregateFunctionSumCount.cpp)."""
    return F.struct(F.sum(col(c)).alias("sum"), F.count(col(c)).alias("count"))


@chfn("any")
def any_(c) -> Column:
    """any(x): first non-null value (AggregateFunctionAny.cpp)."""
    return F.first(col(c), ignorenulls=True)


@chfn("anyLast")
def anyLast(c) -> Column:
    return F.last(col(c), ignorenulls=True)


@chfn("argMin")
def argMin(arg, val) -> Column:
    return F.min_by(col(arg), col(val))


@chfn("argMax")
def argMax(arg, val) -> Column:
    return F.max_by(col(arg), col(val))


# -- uniq family -------------------------------------------------------------


def _uniq_key(cs) -> Column:
    """The value uniq counts for a row: the argument, or the tuple of the
    arguments, NULL (skipped) when any argument is NULL."""
    cols = [col(c) for c in cs]
    if len(cols) == 1:
        return cols[0]
    present = cols[0].isNotNull()
    for c in cols[1:]:
        present = present & c.isNotNull()
    return F.when(present, F.struct(*cols))


@chfn("uniq", "uniqCombined", "uniqCombined64", "uniqHLL12")
def uniq(*cs) -> Column:
    """uniq*: HLL approximate distinct (AggregateFunctionUniq.cpp)."""
    return F.approx_count_distinct(_uniq_key(cs))


@chfn("uniqExact")
def uniqExact(*cs) -> Column:
    return F.countDistinct(*[col(c) for c in cs])


@chfn("uniqUpTo")
def uniqUpTo(n: int, c) -> Column:
    """uniqUpTo(N)(x): exact distinct count capped at N+1."""
    return F.least(F.countDistinct(col(c)), F.lit(n + 1))


# -- quantiles ---------------------------------------------------------------
# One builder per variant of AggregateFunctionQuantile.cpp, called
# quantile<V>(x[, weight | determinator], level), and registered under
# median<V> too, which is the same function with level 0.5 by default; the
# loop at the end of the section derives quantiles<V> from it. The sketch
# variants (TDigest, BFloat16) answer Spark's approximate percentile, the
# others answer exactly.


def _or_nan(value: Column) -> Column:
    """A quantile of no values is NaN, each quantile state's default."""
    return F.coalesce(value, F.lit(float("nan")))


def _sorted_at(values: Column, rank) -> Column:
    """The sorted values' element at 0-based rank(n), at most the last one,
    as a double; NULL for no values."""
    s = F.array_sort(values)
    return F.get(s, F.least(rank(F.size(s)), F.size(s) - 1)).cast("double")


def _floor_rank(level: float):
    """QuantileExact.h's rank, floor(n * level), never interpolated."""
    return lambda n: F.floor(n * float(level)).cast("int")


def _timing(x) -> Column:
    """QuantileTiming.h keeps each value as an integer clamped to [0, 30000]."""
    v = col(x)
    return F.when(v.isNotNull(), F.least(F.greatest(v, F.lit(0)), F.lit(30000)).cast("int"))


def _weighted(x, w) -> tuple[Column, Column]:
    """The (v, w) pairs of rows with both arguments set, as doubles, sorted;
    and their total weight as an aggregate of its own, which a lambda over
    the pairs then reads once per group instead of re-summing the pairs."""
    both = col(x).isNotNull() & col(w).isNotNull()
    pair = F.struct(col(x).cast("double").alias("v"), col(w).cast("double").alias("w"))
    pairs = F.array_sort(F.collect_list(F.when(both, pair)))
    return pairs, F.sum(F.when(both, col(w).cast("double")))


def _weighted_pick(x, w, threshold) -> Column:
    """The first value, ascending, at which the running weight reaches
    threshold(total weight), else the last value; NULL for no pairs. Sorted,
    equal values sit together, so this is the first distinct value whose
    cumulative weight reaches the threshold (QuantileExactWeighted.h)."""
    pairs, total = _weighted(x, w)
    none = F.lit(None).cast("double")
    bar = threshold(total).alias("bar")
    return F.aggregate(
        pairs,
        F.struct(bar, F.lit(0.0).alias("run"), none.alias("v"), none.alias("last")),
        lambda s, p: F.struct(
            s["bar"].alias("bar"),
            (s["run"] + p["w"]).alias("run"),
            F.coalesce(s["v"], F.when(s["run"] + p["w"] >= s["bar"], p["v"])).alias("v"),
            p["v"].alias("last"),
        ),
        lambda s: F.coalesce(s["v"], s["last"]),
    )


@chfn("quantile", "median", "quantileExactInclusive")
def quantile(x, level: float = 0.5) -> Column:
    """Linear interpolation at rank (n - 1) * level: quantile's answer for
    a set its reservoir holds whole, and PERCENTILE.INC."""
    return _or_nan(F.percentile(col(x), F.lit(float(level))))


@chfn("quantileDeterministic", "medianDeterministic")
def quantileDeterministic(x, determinator, level: float = 0.5) -> Column:
    """quantile; the determinator only seeds the reservoir's sampling."""
    return quantile(x, level)


@chfn("quantileExact", "quantileExactHigh", "medianExact", "medianExactHigh")
def quantileExact(x, level: float = 0.5) -> Column:
    """The sorted values' element at rank floor(n * level); the upper
    median of quantileExactHigh is the same rank (QuantileExact.h)."""
    return _or_nan(_sorted_at(F.collect_list(col(x)), _floor_rank(level)))


@chfn("quantileExactLow", "medianExactLow")
def quantileExactLow(x, level: float = 0.5) -> Column:
    """quantileExact, but the lower middle value for the median of an even
    count (QuantileExactLow)."""
    rank = (lambda n: F.ceil(n * 0.5).cast("int") - 1) if level == 0.5 else _floor_rank(level)
    return _or_nan(_sorted_at(F.collect_list(col(x)), rank))


@chfn("quantileExactExclusive")
def quantileExactExclusive(x, level: float = 0.5) -> Column:
    """PERCENTILE.EXC: linear interpolation at 1-based rank
    level * (n + 1), clamped to [1, n]."""
    s = F.array_sort(F.collect_list(col(x).cast("double")))
    n = F.size(s)
    h = F.least(F.greatest((n + 1) * float(level), F.lit(1.0)), n)
    k = F.floor(h).cast("int")
    lo = F.get(s, k - 1)
    return _or_nan(lo + (h - k) * (F.coalesce(F.get(s, k), lo) - lo))


@chfn("quantileTDigest", "quantileBFloat16", "medianTDigest", "medianBFloat16")
def quantileTDigest(x, level: float = 0.5) -> Column:
    """Spark's approximate percentile, a sketch of the same order
    statistic as the t-digest and bfloat16 sketches."""
    return _or_nan(F.percentile_approx(col(x), F.lit(float(level))))


@chfn(
    "quantileExactWeighted", "quantileTDigestWeighted", "quantileBFloat16Weighted",
    "medianExactWeighted", "medianTDigestWeighted", "medianBFloat16Weighted",
)
def quantileExactWeighted(x, w, level: float = 0.5) -> Column:
    """The first value whose cumulative weight reaches
    ceil(total * level) (QuantileExactWeighted.h); the weighted sketch
    variants answer it exactly."""
    return _or_nan(_weighted_pick(x, w, lambda t: F.ceil(t * float(level))))


@chfn("quantileTiming", "medianTiming")
def quantileTiming(x, level: float = 0.5) -> Column:
    """quantileExact over the clamped integers (QuantileTiming.h)."""
    return _or_nan(_sorted_at(F.collect_list(_timing(x)), _floor_rank(level)))


@chfn("quantileTimingWeighted", "medianTimingWeighted")
def quantileTimingWeighted(x, w, level: float = 0.5) -> Column:
    """The first clamped value whose cumulative weight exceeds
    floor(total * level); a zero weight adds no value (QuantileTiming.h)."""
    w = F.when(col(w) != 0, col(w))
    return _or_nan(_weighted_pick(_timing(x), w, lambda t: F.floor(t * float(level)) + 1))


@chfn("quantileInterpolatedWeighted", "medianInterpolatedWeighted")
def quantileInterpolatedWeighted(x, w, level: float = 0.5) -> Column:
    """Linear interpolation over the distinct values, each placed at
    (cumulative weight - half its weight) / total weight; all-integer
    values truncate the answer toward zero, as the cast back to the
    argument's type does (QuantileInterpolatedWeighted.h)."""
    lv = float(level)
    pairs, total = _weighted(x, w)
    none = F.lit(None).cast("double")

    def step(s, p):
        """Add pair p. A new value first ends the run of equal values
        before it, which sits at h = (weight before it + half its weight) /
        total: the lower end (x0, y0) of the bracket around the level while
        h <= level, else its upper end (x1, y1) unless one came before."""
        new = s["v"].isNotNull() & ~s["v"].eqNullSafe(p["v"])
        h = (s["cum"] + s["w"] - s["w"] / 2) / s["total"]
        low, high = new & (h <= lv), new & (h > lv) & s["x1"].isNull()
        return F.struct(
            F.when(low, h).otherwise(s["x0"]).alias("x0"),
            F.when(low, s["v"]).otherwise(s["y0"]).alias("y0"),
            F.when(high, h).otherwise(s["x1"]).alias("x1"),
            F.when(high, s["v"]).otherwise(s["y1"]).alias("y1"),
            s["total"].alias("total"),
            (s["ints"] & p["v"].eqNullSafe(F.floor(p["v"]))).alias("ints"),
            p["v"].alias("v"),
            F.when(new, s["cum"] + s["w"]).otherwise(s["cum"]).alias("cum"),
            F.when(new, p["w"]).otherwise(s["w"] + p["w"]).alias("w"),
        )

    def finish(s):
        r = s["y0"] + (s["y1"] - s["y0"]) * (lv - s["x0"]) / (s["x1"] - s["x0"])
        r = F.when(s["ints"], r.cast("long").cast("double")).otherwise(r)
        return F.when(s["x0"].isNull(), s["y1"]).when(s["x1"].isNull(), s["y0"]).otherwise(r)

    start = F.struct(
        none.alias("x0"), none.alias("y0"), none.alias("x1"), none.alias("y1"),
        total.alias("total"), F.lit(True).alias("ints"), none.alias("v"),
        F.lit(0.0).alias("cum"), F.lit(0.0).alias("w"),
    )
    # a NULL value after the last pair ends the last run
    end = F.array(F.struct(none.alias("v"), F.lit(0.0).alias("w")))
    return _or_nan(F.aggregate(F.concat(pairs, end), start, step, finish))


def _at_levels(one):
    """quantiles<V>(x[, y], *levels): quantile<V> at each level, as an array."""
    if len(inspect.signature(one).parameters) == 3:

        def at_levels(x, y, *levels: float) -> Column:
            """quantile<V> at each level, as an array."""
            return F.array(*[one(x, y, lv) for lv in levels])

    else:

        def at_levels(x, *levels: float) -> Column:
            """quantile<V> at each level, as an array."""
            return F.array(*[one(x, lv) for lv in levels])

    return at_levels


for _v in (
    "", "Deterministic", "Exact", "ExactLow", "ExactHigh", "ExactInclusive",
    "ExactExclusive", "ExactWeighted", "InterpolatedWeighted", "Timing",
    "TimingWeighted", "TDigest", "TDigestWeighted", "BFloat16", "BFloat16Weighted",
):
    chfn("quantiles" + _v)(_at_levels(REGISTRY["quantile" + _v]))


# -- statistics --------------------------------------------------------------


@chfn("stddevPop")
def stddevPop(c) -> Column:
    return F.stddev_pop(col(c))


@chfn("stddevSamp")
def stddevSamp(c) -> Column:
    return F.stddev_samp(col(c))


@chfn("varPop")
def varPop(c) -> Column:
    return F.var_pop(col(c))


@chfn("varSamp")
def varSamp(c) -> Column:
    return F.var_samp(col(c))


@chfn("covarPop")
def covarPop(x, y) -> Column:
    return F.covar_pop(col(x), col(y))


@chfn("covarSamp")
def covarSamp(x, y) -> Column:
    return F.covar_samp(col(x), col(y))


@chfn("corr")
def corr(x, y) -> Column:
    return F.corr(col(x), col(y))


@chfn("skewPop")
def skewPop(c) -> Column:
    return F.skewness(col(c))


@chfn("kurtPop")
def kurtPop(c) -> Column:
    return F.kurtosis(col(c))


@chfn("skewSamp")
def skewSamp(c) -> Column:
    """Sample-adjusted skewness G1 from population g1 (the conversion the
    q_stats_moments oracle query documents)."""
    n = F.count(col(c)).cast("double")
    g1 = F.skewness(col(c))
    return g1 * F.sqrt(n * (n - 1)) / (n - 2)


@chfn("kurtSamp")
def kurtSamp(c) -> Column:
    n = F.count(col(c)).cast("double")
    g2 = F.kurtosis(col(c))
    return ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))


# -- arrays / collections ----------------------------------------------------


@chfn("groupArray")
def groupArray(c, max_size: int | None = None) -> Column:
    """groupArray([max_size])(x): the values, at most the first max_size."""
    vals = F.collect_list(col(c))
    return vals if max_size is None else F.slice(vals, 1, int(max_size))


@chfn("groupUniqArray")
def groupUniqArray(c, max_size: int | None = None) -> Column:
    """groupUniqArray([max_size])(x): the distinct values, at most max_size
    of them; which ones is unspecified (AggregateFunctionGroupUniqArray.h)."""
    if max_size is None:
        return F.collect_set(col(c))
    return F.slice(F.array_distinct(F.collect_list(col(c))), 1, int(max_size))


@chfn("groupArraySorted")
def groupArraySorted(c) -> Column:
    return F.sort_array(F.collect_list(col(c)))


@chfn("groupBitAnd")
def groupBitAnd(c) -> Column:
    return F.bit_and(col(c))


@chfn("groupBitOr")
def groupBitOr(c) -> Column:
    return F.bit_or(col(c))


@chfn("groupBitXor")
def groupBitXor(c) -> Column:
    return F.bit_xor(col(c))


@chfn("boundingRatio")
def boundingRatio(x, y) -> Column:
    """boundingRatio(x, y): slope (maxY-minY)/(maxX-minX)."""
    return (F.max(col(y)) - F.min(col(y))) / (F.max(col(x)) - F.min(col(x)))


# -- combinators (-If, -OrNull, -Distinct) -----------------------------------


def _if(agg, c, cond) -> Column:
    return agg(F.when(col(cond) if isinstance(cond, str) else cond, col(c)))


@chfn("sumIf")
def sumIf(c, cond) -> Column:
    return _if(F.sum, c, cond)


@chfn("countIf")
def countIf(cond) -> Column:
    return F.count(F.when(col(cond) if isinstance(cond, str) else cond, F.lit(1)))


@chfn("avgIf")
def avgIf(c, cond) -> Column:
    return _if(F.avg, c, cond)


@chfn("minIf")
def minIf(c, cond) -> Column:
    return _if(F.min, c, cond)


@chfn("maxIf")
def maxIf(c, cond) -> Column:
    return _if(F.max, c, cond)


@chfn("uniqIf")
def uniqIf(*args) -> Column:
    """uniqIf(x…, cond): uniq over the rows where cond holds."""
    *cs, cond = args
    return F.approx_count_distinct(F.when(col(cond), _uniq_key(cs)))


@chfn("sumOrNull")
def sumOrNull(c) -> Column:
    """-OrNull: NULL on empty set — Spark's default aggregate behavior."""
    return F.sum(col(c))


@chfn("countDistinct")
def countDistinct(*cs) -> Column:
    return F.countDistinct(*[col(c) for c in cs])


@chfn("sumDistinct")
def sumDistinct(c) -> Column:
    return F.sum_distinct(col(c))


@chfn("avgDistinct")
def avgDistinct(c) -> Column:
    return F.sum_distinct(col(c)) / F.count_distinct(col(c))
