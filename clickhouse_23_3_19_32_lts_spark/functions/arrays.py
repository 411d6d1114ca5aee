"""Array family incl. higher-order (lambda) functions.

Reference: src/Functions/array/ (70+ files): array.cpp, arrayElement.cpp,
has.cpp, arrayConcat.cpp, arraySlice.cpp, arraySort.cpp, arrayUniq.cpp,
arrayDistinct.cpp, arrayEnumerate.cpp, arrayIntersect.cpp, arrayFlatten.cpp,
arrayCompact.cpp, arrayZip.cpp, range.cpp, FunctionArrayMapped.h (arrayMap/
Filter/Exists/All/Count/First/Last/CumSum/Difference/Sum/Min/Max/Avg/Fill/
Split), arrayAUC.cpp.

All built on Spark higher-order functions (transform/filter/aggregate/
zip_with) — evaluated inside codegen, no Python round-trip.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col, lit_or_col


def _idx1(a: Column) -> Column:
    """1-based index sequence over an array, [] for an empty array.

    Spark's sequence(1, 0) counts DOWN to [1, 0], so a bare
    sequence(1, size(a)) fabricates indices for empty input."""
    return F.when(F.size(a) > 0, F.sequence(F.lit(1), F.size(a))).otherwise(
        F.array().cast("array<int>")
    )

__all__ = [
    "array", "range_", "arrayConcat", "arrayElement", "has", "hasAll",
    "hasAny", "hasSubstr", "indexOf", "countEqual", "arrayEnumerate",
    "arrayEnumerateUniq", "arrayPopBack", "arrayPopFront", "arrayPushBack",
    "arrayPushFront", "arrayResize", "arraySlice", "arraySort",
    "arrayReverseSort", "arrayUniq", "arrayDistinct", "arrayDifference",
    "arrayIntersect", "arrayReverse", "arrayFlatten", "arrayCompact",
    "arrayZip", "arrayAUC", "arrayMap", "arrayFilter", "arrayExists",
    "arrayAll", "arrayCount", "arrayFirst", "arrayLast", "arrayFirstIndex",
    "arrayLastIndex", "arrayMin", "arrayMax", "arraySum", "arrayAvg",
    "arrayProduct", "arrayCumSum", "arrayCumSumNonNegative", "arrayFill",
    "arraySplit", "arrayWithConstant", "arrayShuffle", "arrayJoin",
    "emptyArrayUInt64", "emptyArrayInt64", "emptyArrayFloat64",
    "emptyArrayString", "arrayReduce", "arrayAvgOrNull", "arrayNorm",
]


@chfn("array")
def array(*xs) -> Column:
    return F.array(*[lit_or_col(x) for x in xs])


@chfn("range")
def range_(*args) -> Column:
    """range(end) / range(start, end[, step]) — end-exclusive (ClickHouse)."""
    if len(args) == 1:
        start, end, step = F.lit(0), col(args[0]), F.lit(1)
    elif len(args) == 2:
        start, end, step = col(args[0]), col(args[1]), F.lit(1)
    else:
        start, end, step = col(args[0]), col(args[1]), col(args[2])
    # Spark sequence() is end-inclusive; shrink the end by one step's sign.
    return F.when(end == start, F.array().cast("array<bigint>")).otherwise(
        F.sequence(start.cast("long"), (end - F.signum(step.cast("double")).cast("long")).cast("long"), step.cast("long"))
    )


@chfn("arrayConcat")
def arrayConcat(*arrs) -> Column:
    return F.concat(*[col(a) for a in arrs])


@chfn("arrayElement")
def arrayElement(arr, idx) -> Column:
    """1-based; negative from the end; 0/out-of-range → type default in
    ClickHouse, NULL here (ANSI choice, SURVEY §1.3)."""
    return F.element_at(col(arr), idx if isinstance(idx, int) else col(idx))


@chfn("has")
def has(arr, v) -> Column:
    return F.array_contains(col(arr), lit_or_col(v))


@chfn("hasAll")
def hasAll(a, b) -> Column:
    """Per-element membership, not array_except/arrays_overlap: those
    require identical element types, while ClickHouse compares across
    integer widths ([-128,1,512] vs [1]); <=> implicit-casts to the
    tightest common type and makes NULL match NULL (hasAllAny.h)."""
    aa = col(a)
    return F.forall(col(b), lambda e: F.exists(aa, lambda y: y.eqNullSafe(e)))


@chfn("hasAny")
def hasAny(a, b) -> Column:
    aa = col(a)
    return F.exists(col(b), lambda e: F.exists(aa, lambda y: y.eqNullSafe(e)))


@chfn("hasSubstr")
def hasSubstr(a, b) -> Column:
    """b appears in a as a contiguous subsequence."""
    aa, bb = col(a), col(b)
    positions = F.sequence(F.lit(1), F.greatest(F.size(aa) - F.size(bb) + 1, F.lit(0)))
    return F.when(F.size(bb) == 0, F.lit(True)).otherwise(
        F.exists(positions, lambda i: F.slice(aa, i, F.size(bb)) == bb)
    )


@chfn("indexOf")
def indexOf(arr, v) -> Column:
    """The 1-based position of the first element equal to v, 0 if none; a
    NULL v finds the first NULL element (array-functions#indexof)."""
    a, x = col(arr), lit_or_col(v)
    pos = F.when(x.isNull(), F.array_position(F.transform(a, lambda e: e.isNull()), True))
    pos = pos.otherwise(F.array_position(a, x))
    return F.when(a.isNotNull(), F.coalesce(pos, F.lit(0))).cast("long")


@chfn("countEqual")
def countEqual(arr, v) -> Column:
    return F.size(F.filter(col(arr), lambda x: x == lit_or_col(v))).cast("long")


@chfn("arrayEnumerate")
def arrayEnumerate(arr) -> Column:
    return _idx1(col(arr))


@chfn("arrayEnumerateUniq")
def arrayEnumerateUniq(arr) -> Column:
    """Occurrence number of each element among its equals (1st, 2nd, ...)."""
    a = col(arr)
    idx = F.when(F.size(a) > 0, F.sequence(F.lit(0), F.size(a) - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.size(F.filter(F.slice(a, 1, i + 1), lambda x: x == F.element_at(a, (i + 1).cast("int")))),
    )


@chfn("arrayPopBack")
def arrayPopBack(arr) -> Column:
    a = col(arr)
    return F.slice(a, 1, F.greatest(F.size(a) - 1, F.lit(0)))


@chfn("arrayPopFront")
def arrayPopFront(arr) -> Column:
    a = col(arr)
    return F.when(F.size(a) <= 1, F.slice(a, 1, 0)).otherwise(F.slice(a, 2, F.size(a) - 1))


@chfn("arrayPushBack")
def arrayPushBack(arr, v) -> Column:
    return F.array_append(col(arr), lit_or_col(v))


@chfn("arrayPushFront")
def arrayPushFront(arr, v) -> Column:
    return F.array_prepend(col(arr), lit_or_col(v))


@chfn("arrayResize")
def arrayResize(arr, n, fill=None) -> Column:
    a = col(arr)
    size = lit_or_col(n) if isinstance(n, Column) else F.lit(n)
    pad = F.array_repeat(lit_or_col(fill) if fill is not None else F.lit(None), (size - F.size(a)).cast("int"))
    return F.when(F.size(a) >= size, F.slice(a, 1, size.cast("int"))).otherwise(F.concat(a, pad))


@chfn("arraySlice")
def arraySlice(arr, offset, length=None) -> Column:
    a = col(arr)
    off = offset if isinstance(offset, int) else col(offset)
    if length is None:
        return F.slice(a, off, F.size(a))
    return F.slice(a, off, length if isinstance(length, int) else col(length))


@chfn("arraySort")
def arraySort(arr) -> Column:
    return F.array_sort(col(arr))


@chfn("arrayReverseSort")
def arrayReverseSort(arr) -> Column:
    # descending with NULLs LAST (GenericArraySort less_or_equal keeps
    # nulls at the end in BOTH directions; a plain reverse would lead
    # with them)
    a = col(arr)
    return F.array_sort(
        a,
        lambda l, r: (
            F.when(l.isNull() & r.isNull(), F.lit(0))
            .when(l.isNull(), F.lit(1))
            .when(r.isNull(), F.lit(-1))
            .when(l < r, F.lit(1))
            .when(l > r, F.lit(-1))
            .otherwise(F.lit(0))
        ),
    )


@chfn("arrayUniq")
def arrayUniq(*arrs) -> Column:
    """The number of distinct elements, or of distinct tuples of the
    elements at one position of several arrays (arrayUniq.cpp)."""
    a = col(arrs[0]) if len(arrs) == 1 else F.arrays_zip(*[col(x) for x in arrs])
    return F.array_size(F.array_distinct(a)).cast("long")


@chfn("arrayDistinct")
def arrayDistinct(arr) -> Column:
    # NULL elements are dropped (arrayDistinct.cpp)
    return F.array_distinct(F.filter(col(arr), lambda x: x.isNotNull()))


@chfn("arrayDifference")
def arrayDifference(arr) -> Column:
    """[a0, a1-a0, a2-a1, ...]"""
    a = col(arr)
    idx = _idx1(a)
    return F.transform(
        idx,
        lambda i: F.when(i == 1, F.element_at(a, i.cast("int")) * 0).otherwise(
            F.element_at(a, i.cast("int")) - F.element_at(a, (i - 1).cast("int"))
        ),
    )


@chfn("arrayIntersect")
def arrayIntersect(a, b) -> Column:
    return F.array_intersect(col(a), col(b))


@chfn("arrayReverse")
def arrayReverse(arr) -> Column:
    return F.reverse(col(arr))


@chfn("arrayFlatten", "flatten")
def arrayFlatten(arr) -> Column:
    return F.flatten(col(arr))


@chfn("arrayCompact")
def arrayCompact(arr) -> Column:
    """Remove *consecutive* duplicates, comparing NULLs as equal
    (arrayCompact.cpp)."""
    a = col(arr)
    return F.filter(a, lambda x, i: (i == 0) | ~x.eqNullSafe(F.get(a, i - 1)))


@chfn("arrayZip")
def arrayZip(*arrs) -> Column:
    return F.arrays_zip(*[col(a) for a in arrs])


@chfn("arrayAUC")
def arrayAUC(scores, labels) -> Column:
    """ROC-AUC via rank statistic (Mann-Whitney U), arrayAUC.cpp.

    AUC = (sum of ranks of positives - P(P+1)/2) / (P*N); ties get average
    rank. Implemented with array ops only.
    """
    s, l = col(scores), col(labels)
    n = F.size(s)
    idx = F.sequence(F.lit(1), n)
    # rank of element i = count(s_j < s_i) + (count(s_j == s_i) + 1) / 2
    rank_of = lambda i: (
        F.size(F.filter(s, lambda x: x < F.element_at(s, i.cast("int"))))
        + (F.size(F.filter(s, lambda x: x == F.element_at(s, i.cast("int")))) + 1) / 2.0
    )
    pos_rank_sum = F.aggregate(
        F.filter(idx, lambda i: F.element_at(l, i.cast("int")) > 0),
        F.lit(0.0),
        lambda acc, i: acc + rank_of(i),
    )
    p = F.size(F.filter(l, lambda x: x > 0)).cast("double")
    neg = n.cast("double") - p
    return F.when((p == 0) | (neg == 0), F.lit(float("nan"))).otherwise(
        (pos_rank_sum - p * (p + 1) / 2.0) / (p * neg)
    )


# -- higher-order -----------------------------------------------------------


@chfn("arrayMap")
def arrayMap(fn, *arrs) -> Column:
    if len(arrs) == 1:
        return F.transform(col(arrs[0]), fn)
    if len(arrs) == 2:
        return F.zip_with(col(arrs[0]), col(arrs[1]), fn)
    raise ValueError("arrayMap supports 1-2 arrays")


@chfn("arrayFilter")
def arrayFilter(fn, arr) -> Column:
    return F.filter(col(arr), fn)


@chfn("arrayExists")
def arrayExists(fn, arr) -> Column:
    return F.exists(col(arr), fn)


@chfn("arrayAll")
def arrayAll(fn, arr) -> Column:
    return F.forall(col(arr), fn)


@chfn("arrayCount")
def arrayCount(fn, arr) -> Column:
    return F.size(F.filter(col(arr), fn)).cast("long")


@chfn("arrayFirst")
def arrayFirst(fn, arr) -> Column:
    return F.element_at(F.filter(col(arr), fn), 1)


@chfn("arrayLast")
def arrayLast(fn, arr) -> Column:
    return F.element_at(F.filter(col(arr), fn), -1)


@chfn("arrayFirstIndex")
def arrayFirstIndex(fn, arr) -> Column:
    a = col(arr)
    matches = F.filter(_idx1(a), lambda i: fn(F.element_at(a, i.cast("int"))))
    return F.coalesce(F.element_at(matches, 1), F.lit(0)).cast("long")


@chfn("arrayLastIndex")
def arrayLastIndex(fn, arr) -> Column:
    a = col(arr)
    matches = F.filter(_idx1(a), lambda i: fn(F.element_at(a, i.cast("int"))))
    return F.coalesce(F.element_at(matches, -1), F.lit(0)).cast("long")


@chfn("arrayMin")
def arrayMin(arr, fn=None) -> Column:
    a = F.transform(col(arr), fn) if fn else col(arr)
    return F.array_min(a)


@chfn("arrayMax")
def arrayMax(arr, fn=None) -> Column:
    a = F.transform(col(arr), fn) if fn else col(arr)
    return F.array_max(a)


@chfn("arraySum")
def arraySum(arr, fn=None) -> Column:
    a = F.transform(col(arr), fn) if fn else col(arr)
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double"))


@chfn("arrayAvg")
def arrayAvg(arr, fn=None) -> Column:
    a = F.transform(col(arr), fn) if fn else col(arr)
    return arraySum(a) / F.size(a)


arrayAvgOrNull = arrayAvg


@chfn("arrayProduct")
def arrayProduct(arr) -> Column:
    return F.aggregate(col(arr), F.lit(1.0), lambda acc, x: acc * x.cast("double"))


@chfn("arrayCumSum")
def arrayCumSum(arr, fn=None) -> Column:
    a = F.transform(col(arr), fn) if fn else col(arr)
    idx = _idx1(a)
    return F.transform(
        idx, lambda i: F.aggregate(F.slice(a, 1, i.cast("int")), F.lit(0.0), lambda acc, x: acc + x.cast("double"))
    )


@chfn("arrayCumSumNonNegative")
def arrayCumSumNonNegative(arr) -> Column:
    """Running sum clamped at zero (resets negative prefixes to 0)."""
    a = col(arr)
    idx = _idx1(a)
    return F.transform(
        idx,
        lambda i: F.aggregate(
            F.slice(a, 1, i.cast("int")),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc + x.cast("double"), F.lit(0.0)),
        ),
    )


@chfn("arrayFill")
def arrayFill(fn, arr) -> Column:
    """Forward-fill: where fn(x) is false, copy the nearest preceding true."""
    a = col(arr)
    idx = _idx1(a)
    last_true = lambda i: F.element_at(
        F.filter(F.slice(a, 1, i.cast("int")), fn), -1
    )
    return F.transform(
        idx,
        lambda i: F.coalesce(
            F.when(fn(F.element_at(a, i.cast("int"))), F.element_at(a, i.cast("int"))),
            last_true(i),
            F.element_at(a, i.cast("int")),
        ),
    )


@chfn("arraySplit")
def arraySplit(fn, arr) -> Column:
    """Split into sub-arrays, starting a new one where fn(x)=1."""
    a = col(arr)
    n = F.size(a)
    starts = F.filter(F.sequence(F.lit(1), n), lambda i: (i == 1) | fn(F.element_at(a, i.cast("int"))))
    bounds = F.arrays_zip(
        starts.alias("s"),
        F.concat(F.slice(starts, 2, F.size(starts)), F.array((n + 1).cast("int"))).alias("e"),
    )
    return F.when(n == 0, F.array(a)).otherwise(
        F.transform(bounds, lambda b: F.slice(a, b.s, (b.e - b.s).cast("int")))
    )


@chfn("arrayWithConstant")
def arrayWithConstant(n, v) -> Column:
    """Negative sizes error in the reference (TOO_LARGE_ARRAY_SIZE,
    arrayWithConstant.cpp) where array_repeat would return []."""
    nn = F.lit(n) if isinstance(n, int) else col(n)
    guarded = F.when(
        nn < 0, F.raise_error(F.lit("arrayWithConstant: negative size"))
    ).otherwise(nn.cast("int"))
    return F.array_repeat(lit_or_col(v), guarded)


@chfn("arrayShuffle")
def arrayShuffle(arr) -> Column:
    return F.shuffle(col(arr))


@chfn("arrayJoin")
def arrayJoin(arr) -> Column:
    """ClickHouse arrayJoin() expands rows — use explode at the plan level;
    returned here for SELECT-position usage."""
    return F.explode(col(arr))


@chfn("emptyArrayUInt64", "emptyArrayUInt32", "emptyArrayUInt8")
def emptyArrayUInt64() -> Column:
    return F.array().cast("array<bigint>")


@chfn("emptyArrayInt64", "emptyArrayInt32", "emptyArrayInt8")
def emptyArrayInt64() -> Column:
    return F.array().cast("array<bigint>")


@chfn("emptyArrayFloat64", "emptyArrayFloat32")
def emptyArrayFloat64() -> Column:
    return F.array().cast("array<double>")


@chfn("emptyArrayString")
def emptyArrayString() -> Column:
    return F.array().cast("array<string>")


_REDUCERS = {
    "sum": arraySum,
    "min": lambda a: F.array_min(col(a)),
    "max": lambda a: F.array_max(col(a)),
    "avg": arrayAvg,
    "count": lambda a: F.size(col(a)).cast("long"),
    "product": arrayProduct,
}


@chfn("arrayReduce")
def arrayReduce(agg_name: str, arr) -> Column:
    """arrayReduce('agg', arr) for the scalar-reducible aggregates."""
    name = agg_name.lower()
    if name not in _REDUCERS:
        raise ValueError(f"arrayReduce: unsupported aggregate {agg_name!r}")
    return _REDUCERS[name](arr)


@chfn("arrayNorm")
def arrayNorm(arr, p: float = 2.0) -> Column:
    a = col(arr)
    if p == 2.0:
        return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x))
    if p == 1.0:
        return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + F.abs(x.cast("double")))
    return F.pow(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + F.pow(F.abs(x.cast("double")), p)),
        1.0 / p,
    )
