"""Round-2 surface tail: bitmap subset/transform ops, ngramSearch, typed IP
conversions, array ranked/reverse/range helpers, running*, custom-TLD URL
functions, geohashesInBox, aggregation-state helpers, random tail.

References (per function below): src/Functions/FunctionsBitmap.cpp,
src/Functions/FunctionsStringSimilarity.cpp, src/Functions/FunctionsCodingIP.cpp,
src/Functions/array/, src/Functions/URL/, src/Functions/geohashesInBox.cpp,
src/Functions/finalizeAggregation.cpp, src/Functions/initializeAggregation.cpp.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col, lit_or_col
from clickhouse_23_3_19_32_lts_spark.functions.strings import needle_array, ngrams
from clickhouse_23_3_19_32_lts_spark.functions.ipfns import isIPv4String, isIPv6String

# --- bitmap tail (FunctionsBitmap.cpp; carrier = sorted distinct array) -----


@chfn("bitmapMin")
def bitmapMin(bm) -> Column:
    """Empty bitmap → UINT32_MAX, matching bitmapMin's documented contract."""
    return F.coalesce(F.array_min(col(bm)).cast("long"), F.lit(4294967295))


@chfn("bitmapMax")
def bitmapMax(bm) -> Column:
    return F.coalesce(F.array_max(col(bm)).cast("long"), F.lit(0))


@chfn("bitmapXorCardinality")
def bitmapXorCardinality(a, b) -> Column:
    union = F.array_distinct(F.concat(col(a), col(b)))
    inter = F.array_intersect(col(a), col(b))
    return F.size(F.array_except(union, inter)).cast("long")


@chfn("bitmapAndnotCardinality")
def bitmapAndnotCardinality(a, b) -> Column:
    return F.size(F.array_except(col(a), col(b))).cast("long")


@chfn("bitmapSubsetInRange")
def bitmapSubsetInRange(bm, start, end) -> Column:
    s, e = lit_or_col(start), lit_or_col(end)
    return F.filter(col(bm), lambda x: (x >= s) & (x < e))


@chfn("bitmapSubsetLimit")
def bitmapSubsetLimit(bm, start, limit) -> Column:
    """Smallest `limit` elements ≥ start (carrier is already sorted)."""
    s = lit_or_col(start)
    lim = int(limit) if not isinstance(limit, Column) else limit
    kept = F.filter(col(bm), lambda x: x >= s)
    return F.slice(kept, 1, lim)


@chfn("subBitmap")
def subBitmap(bm, offset, limit) -> Column:
    """Positional slice (0-based offset), bitmapSubsetOffsetLimit in 23.3."""
    off = (int(offset) + 1) if not isinstance(offset, Column) else (offset + 1).cast("int")
    lim = int(limit) if not isinstance(limit, Column) else limit
    return F.slice(col(bm), off, lim)


@chfn("bitmapTransform")
def bitmapTransform(bm, from_arr, to_arr) -> Column:
    """Replace each value found in from_arr with the matching to_arr value."""
    fa, ta = col(from_arr), col(to_arr)
    mapped = F.transform(
        col(bm),
        lambda x: F.when(F.array_position(fa, x) > 0, F.element_at(ta, F.array_position(fa, x).cast("int"))).otherwise(x),
    )
    return F.array_sort(F.array_distinct(mapped))


# --- ngramSearch family (FunctionsStringSimilarity.cpp, non-symmetric) ------


def _ngram_search(h, needle, n: int, ci: bool) -> Column:
    hc, nc = col(h), col(needle)
    if ci:
        hc, nc = F.lower(hc), F.lower(nc)
    gh = F.array_distinct(ngrams(hc, n))
    gn = F.array_distinct(ngrams(nc, n))
    inter = F.size(F.array_intersect(gh, gn))
    return F.when(F.size(gn) <= 0, F.lit(0.0)).otherwise(inter / F.size(gn))


@chfn("ngramSearch", "ngramSearchUTF8")
def ngramSearch(h, needle, n: int = 4) -> Column:
    """Fraction of needle 4-grams present in haystack ∈ [0,1] (non-symmetric,
    unlike ngramDistance)."""
    return _ngram_search(h, needle, n, ci=False)


@chfn("ngramSearchCaseInsensitive", "ngramSearchCaseInsensitiveUTF8")
def ngramSearchCaseInsensitive(h, needle, n: int = 4) -> Column:
    return _ngram_search(h, needle, n, ci=True)


@chfn("multiMatchAny")
def multiMatchAny(h, pats) -> Column:
    """Whether any regex matches, a BOOLEAN like match's.

    Hyperscan-backed in the reference; Java regex via rlike here — the same
    RE2-compatible subset the golden tests use."""
    hc = col(h)
    return F.exists(needle_array(pats), lambda p: F.regexp_like(hc, p))


# --- typed IP conversions (FunctionsCodingIP.cpp) ---------------------------


def _to_ipv4_valid(s) -> Column:
    return F.when(isIPv4String(s), col(s))


@chfn("toIPv4OrNull")
def toIPv4OrNull(s) -> Column:
    return _to_ipv4_valid(s)


@chfn("toIPv4OrZero")
def toIPv4OrZero(s) -> Column:
    return F.coalesce(_to_ipv4_valid(s), F.lit("0.0.0.0"))


@chfn("toIPv4OrDefault")
def toIPv4OrDefault(s, default=None) -> Column:
    d = lit_or_col(default) if default is not None else F.lit("0.0.0.0")
    return F.coalesce(_to_ipv4_valid(s), d)


def _to_ipv6_valid(s) -> Column:
    return F.when(isIPv6String(s) | isIPv4String(s), col(s))


@chfn("toIPv6OrNull")
def toIPv6OrNull(s) -> Column:
    return _to_ipv6_valid(s)


@chfn("toIPv6OrZero")
def toIPv6OrZero(s) -> Column:
    return F.coalesce(_to_ipv6_valid(s), F.lit("::"))


@chfn("toIPv6OrDefault")
def toIPv6OrDefault(s, default=None) -> Column:
    d = lit_or_col(default) if default is not None else F.lit("::")
    return F.coalesce(_to_ipv6_valid(s), d)


# --- array tail -------------------------------------------------------------


@chfn("arrayEnumerateUniqRanked")
def arrayEnumerateUniqRanked(arr, *rest) -> Column:
    """Depth-1 form ≡ arrayEnumerateUniq (array/arrayEnumerateRanked.cpp);
    deeper ranked forms are out of scope."""
    if rest:
        raise ValueError("arrayEnumerateUniqRanked: only the depth-1 form is supported")
    from clickhouse_23_3_19_32_lts_spark.functions.arrays import arrayEnumerateUniq

    return arrayEnumerateUniq(arr)


@chfn("arrayEnumerateDenseRanked")
def arrayEnumerateDenseRanked(arr, *rest) -> Column:
    if rest:
        raise ValueError("arrayEnumerateDenseRanked: only the depth-1 form is supported")
    from clickhouse_23_3_19_32_lts_spark.functions.variants2 import arrayEnumerateDense

    return arrayEnumerateDense(arr)


@chfn("arrayReverseSplit")
def arrayReverseSplit(fn, arr) -> Column:
    """Split into sub-arrays that END after elements where fn(x)=1
    (array/arraySplit.cpp reverse flag)."""
    a = col(arr)
    n = F.size(a)
    ends0 = F.filter(F.sequence(F.lit(1), n), lambda i: fn(F.element_at(a, i.cast("int"))))
    ends = F.when(
        (F.size(ends0) > 0) & (F.element_at(ends0, -1) == n), ends0
    ).otherwise(F.concat(ends0, F.array(n.cast("int"))))
    starts = F.concat(
        F.array(F.lit(1).cast("int")),
        F.transform(F.slice(ends, 1, F.greatest(F.size(ends) - 1, F.lit(0))), lambda e: (e + 1).cast("int")),
    )
    bounds = F.arrays_zip(starts.alias("s"), ends.alias("e"))
    return F.when(n == 0, F.array(a)).otherwise(
        F.transform(bounds, lambda b: F.slice(a, b.s, (b.e - b.s + 1).cast("int")))
    )


@chfn("arrayReduceInRanges")
def arrayReduceInRanges(agg_name: str, ranges, arr) -> Column:
    """arrayReduceInRanges('agg', [(start,len)...], arr)
    (array/arrayReduceInRanges.cpp): arrayReduce over each slice."""
    from clickhouse_23_3_19_32_lts_spark.functions.arrays import arrayReduce

    a = col(arr)
    return F.transform(
        col(ranges),
        lambda r: arrayReduce(
            agg_name, F.slice(a, r.getField("_1"), r.getField("_2").cast("int"))
        ),
    )


# --- running tail -----------------------------------------------------------


@chfn("runningDifferenceStartingWithFirstValue")
def runningDifferenceStartingWithFirstValue(x, w=None) -> Column:
    """Like runningDifference but row 1 yields the value itself
    (registerFunctionRunningDifferenceStartingWithFirstValue)."""
    from pyspark.sql import Window

    win = w if w is not None else Window.orderBy(F.monotonically_increasing_id())
    prev = F.lag(col(x)).over(win)
    return F.when(prev.isNull(), col(x)).otherwise(col(x) - prev)


# --- custom-TLD URL functions (URL/ExtractFirstSignificantSubdomain.h) ------

_TLD_LISTS: dict[str, list[str]] = {}


def register_tld_list(name: str, suffixes: list[str]) -> None:
    """CREATE ... top_level_domains_list analogue: named custom suffix set
    consumed by the *Custom URL functions. Longest-match wins."""
    _TLD_LISTS[name] = sorted(suffixes, key=len, reverse=True)


def _host(url) -> Column:
    from clickhouse_23_3_19_32_lts_spark.functions.urls import domain

    return domain(url)


def _custom_cut(url, list_name, with_www: bool) -> Column:
    """cutToFirstSignificantSubdomainCustom: shortest host suffix that
    extends a listed TLD by one label."""
    suffixes = _TLD_LISTS[str(list_name)]
    h = _host(url)
    if not with_www:
        h = F.regexp_replace(h, r"^www\.", "")
    out = None
    for suf in suffixes:
        esc = suf.replace(".", r"\.")
        cand = F.regexp_extract(h, r"([^.]+\." + esc + r")$", 1)
        hit = F.when(cand != "", cand)
        out = hit if out is None else F.coalesce(out, hit)
    base = F.coalesce(out, F.lit("")) if out is not None else F.lit("")
    return base


@chfn("cutToFirstSignificantSubdomainCustom", "cutToFirstSignificantSubdomainCustomRFC")
def cutToFirstSignificantSubdomainCustom(url, list_name) -> Column:
    return _custom_cut(url, list_name, with_www=False)


@chfn(
    "cutToFirstSignificantSubdomainCustomWithWWW",
    "cutToFirstSignificantSubdomainCustomWithWWWRFC",
)
def cutToFirstSignificantSubdomainCustomWithWWW(url, list_name) -> Column:
    return _custom_cut(url, list_name, with_www=True)


@chfn("firstSignificantSubdomainCustom", "firstSignificantSubdomainCustomRFC")
def firstSignificantSubdomainCustom(url, list_name) -> Column:
    cut = _custom_cut(url, list_name, with_www=False)
    return F.regexp_extract(cut, r"^([^.]+)\.", 1)


# --- geohashesInBox (geohashesInBox.cpp) ------------------------------------

_GEOHASH_CELL = {
    1: (45.0, 45.0), 2: (11.25, 5.625), 3: (1.40625, 1.40625),
    4: (0.3515625, 0.17578125), 5: (0.0439453125, 0.0439453125),
    6: (0.010986328125, 0.0054931640625), 7: (0.001373291015625, 0.001373291015625),
    8: (0.00034332275390625, 0.000171661376953125),
    9: (4.291534423828125e-05, 4.291534423828125e-05),
    10: (1.0728836059570312e-05, 5.364418029785156e-06),
    11: (1.3411045074462891e-06, 1.3411045074462891e-06),
    12: (3.3527612686157227e-07, 1.6763806343078613e-07),
}


@chfn("geohashesInBox")
def geohashesInBox(lon_min, lat_min, lon_max, lat_max, precision) -> Column:
    """Geohash strings of the given precision intersecting the box; pandas
    UDF (same pure-python encoder as geohashEncode), capped at 100k cells."""
    prec = int(precision)
    dlon, dlat = _GEOHASH_CELL.get(prec, _GEOHASH_CELL[12])

    @pandas_udf("array<string>")
    def _box(lo1: pd.Series, la1: pd.Series, lo2: pd.Series, la2: pd.Series) -> pd.Series:
        import math

        b32 = "0123456789bcdefghjkmnpqrstuvwxyz"

        def enc(lo, la):
            lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
            bits, ch, even, out = 0, 0, True, []
            while len(out) < prec:
                if even:
                    mid = (lon_r[0] + lon_r[1]) / 2
                    if lo >= mid:
                        ch = (ch << 1) | 1
                        lon_r[0] = mid
                    else:
                        ch <<= 1
                        lon_r[1] = mid
                else:
                    mid = (lat_r[0] + lat_r[1]) / 2
                    if la >= mid:
                        ch = (ch << 1) | 1
                        lat_r[0] = mid
                    else:
                        ch <<= 1
                        lat_r[1] = mid
                even = not even
                bits += 1
                if bits == 5:
                    out.append(b32[ch])
                    bits, ch = 0, 0
            return "".join(out)

        res = []
        for a, b, c, d in zip(lo1, la1, lo2, la2):
            if a is None or b is None or c is None or d is None:
                res.append(None)
                continue
            lo_lo, lo_hi = min(a, c), max(a, c)
            la_lo, la_hi = min(b, d), max(b, d)
            lo_start = math.floor((lo_lo + 180.0) / dlon) * dlon - 180.0
            la_start = math.floor((la_lo + 90.0) / dlat) * dlat - 90.0
            cells: list[str] = []
            la_v = la_start
            overflow = False
            while la_v < la_hi and not overflow:
                lo_v = lo_start
                while lo_v < lo_hi:
                    cells.append(enc(lo_v + dlon / 2, la_v + dlat / 2))
                    if len(cells) > 100_000:
                        overflow = True
                        break
                    lo_v += dlon
                la_v += dlat
            res.append(sorted(set(cells)) if not overflow else [])
        return pd.Series(res)

    return _box(
        col(lon_min).cast("double"), col(lat_min).cast("double"),
        col(lon_max).cast("double"), col(lat_max).cast("double"),
    )


# --- aggregation-state helpers ---------------------------------------------


@chfn("finalizeAggregation")
def finalizeAggregation(state, kind: str = "") -> Column:
    """finalizeAggregation(state, kind) — finish a stored -State value
    (finalizeAggregation.cpp). Spark columns carry no AggregateFunction type
    tag, so the state family is an explicit second argument here:
    sum/count/min/max/any (identity), avg, uniqExact, uniq, quantile."""
    s = col(state)
    k = kind.lower()
    if k in ("", "sum", "count", "min", "max", "any", "anylast"):
        return s
    if k == "avg":
        return s.getField("sum") / s.getField("cnt")
    if k in ("uniqexact",):
        return F.size(s).cast("long")
    if k in ("uniq", "uniqhll12", "uniqcombined"):
        return F.hll_sketch_estimate(s)
    if k == "quantile":
        arr = F.array_sort(s.getField("sample"))
        mid = (F.size(arr) + 1) / 2
        return (
            F.element_at(arr, F.floor(mid).cast("int"))
            + F.element_at(arr, F.ceil(mid).cast("int"))
        ) / 2.0
    raise ValueError(f"finalizeAggregation: unknown state kind {kind!r}")


@chfn("initializeAggregation")
def initializeAggregation(name: str, *vals) -> Column:
    """initializeAggregation('sumState', v) — a single-row state value
    (initializeAggregation.cpp)."""
    n = str(name).lower()
    v = lit_or_col(vals[0]) if vals else F.lit(None)
    if n in ("sumstate", "minstate", "maxstate", "anystate", "anylaststate"):
        return v
    if n == "countstate":
        return F.lit(1).cast("long")
    if n == "avgstate":
        return F.struct(v.cast("double").alias("sum"), F.lit(1).cast("long").alias("cnt"))
    if n == "uniqexactstate":
        return F.array(v)
    raise ValueError(f"initializeAggregation: unsupported state {name!r}")


# --- random tail ------------------------------------------------------------


@chfn("randConstant")
def randConstant() -> Column:
    """One random UInt32 per query (rand.cpp randConstant): a literal drawn
    at plan-build time — constant across all rows by construction."""
    import random as _random

    return F.lit(_random.randrange(0, 2**32)).cast("long")


@chfn("randomFixedString")
def randomFixedString(n) -> Column:
    from clickhouse_23_3_19_32_lts_spark.functions.randomfns import randomString

    return randomString(n)


@chfn("randomStringUTF8")
def randomStringUTF8(n) -> Column:
    """n random multi-byte codepoints (CJK plane — always-valid UTF-8)."""
    length = F.lit(int(n)) if not isinstance(n, Column) else n.cast("int")
    return F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(1), length),
            lambda _i: F.char(F.lit(0x4E00) + F.floor(F.rand() * 20900).cast("int")),
        ),
    )


# --- misc -------------------------------------------------------------------


@chfn("indexHint")
def indexHint(*_args) -> Column:
    """Always 1; the argument only steers index analysis in the reference
    (indexHint.cpp) — Catalyst gets the same effect from the real predicate."""
    return F.lit(1)


@chfn("defaultValueOfTypeName")
def defaultValueOfTypeName(tname) -> Column:
    t = str(tname).strip()
    low = t.lower()
    if low.startswith("nullable("):
        return F.lit(None)
    if "int" in low or "decimal" in low or low in ("float32", "float64"):
        return F.lit(0) if "int" in low else F.lit(0.0)
    if low == "string" or low.startswith("fixedstring"):
        return F.lit("")
    if low == "date":
        return F.lit("1970-01-01").cast("date")
    if low.startswith("datetime"):
        return F.lit("1970-01-01 00:00:00").cast("timestamp")
    if low.startswith("array"):
        return F.array()
    if low == "uuid":
        return F.lit("00000000-0000-0000-0000-000000000000")
    return F.lit("")


@chfn("accurateCastOrDefault")
def accurateCastOrDefault(x, type_name, default=None) -> Column:
    from clickhouse_23_3_19_32_lts_spark.functions.conversion import accurateCastOrNull

    v = accurateCastOrNull(x, type_name)
    d = lit_or_col(default) if default is not None else defaultValueOfTypeName(type_name)
    return F.coalesce(v, d)


@chfn("groupArrayMovingSum", "groupArrayMovingAvg")
def groupArrayMovingSum(*args, **kwargs) -> Column:
    """Insertion-order moving aggregates need an explicit order column on a
    distributed engine — use groupArrayMovingSumOrdered(value, ts[, window])
    (variants2.py) or the window-function form (queries_stats.py)."""
    raise ValueError(
        "groupArrayMovingSum/Avg: use groupArrayMovingSumOrdered(value, ts) — "
        "insertion order is not defined on a distributed table"
    )
