"""Map and Tuple families.

Reference: src/Functions/map.cpp:723, mapKeys/mapValues/mapContains in
map.cpp, array/mapOp.cpp (mapAdd/mapSubtract), mapPopulateSeries.cpp,
mapApply/mapFilter/mapUpdate (map.cpp), tuple.cpp, tupleElement.cpp,
vectorFunctions.cpp (tuple arithmetic, distances on tuples).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col, lit_or_col

__all__ = [
    "map_", "mapKeys", "mapValues", "mapContains", "mapAdd", "mapSubtract",
    "mapApply", "mapFilter", "mapUpdate", "mapFromArrays", "mapConcat",
    "mapPopulateSeries", "tuple_", "tupleElement", "untuple",
    "tuplePlus", "tupleMinus", "tupleMultiply", "tupleDivide", "tupleNegate",
]


@chfn("map")
def map_(*kvs) -> Column:
    return F.create_map(*[lit_or_col(x) for x in kvs])


@chfn("mapKeys")
def mapKeys(m) -> Column:
    return F.map_keys(col(m))


@chfn("mapValues")
def mapValues(m) -> Column:
    return F.map_values(col(m))


@chfn("mapContains")
def mapContains(m, k) -> Column:
    return F.map_contains_key(col(m), lit_or_col(k))


@chfn("mapAdd")
def mapAdd(a, b) -> Column:
    """Union maps, summing values on key collision (array/mapOp.cpp)."""
    return F.map_zip_with(
        col(a), col(b), lambda k, v1, v2: F.coalesce(v1, F.lit(0)) + F.coalesce(v2, F.lit(0))
    )


@chfn("mapSubtract")
def mapSubtract(a, b) -> Column:
    return F.map_zip_with(
        col(a), col(b), lambda k, v1, v2: F.coalesce(v1, F.lit(0)) - F.coalesce(v2, F.lit(0))
    )


@chfn("mapApply")
def mapApply(fn, m) -> Column:
    """fn(k, v) -> (k', v') as a struct; ClickHouse lambda over entries."""
    return F.transform_values(col(m), lambda k, v: fn(k, v))


@chfn("mapFilter")
def mapFilter(fn, m) -> Column:
    return F.map_filter(col(m), fn)


@chfn("mapUpdate")
def mapUpdate(a, b) -> Column:
    """b's entries override a's IN PLACE (a's key order is kept, b's new
    keys append — mapUpdate.cpp)."""
    ca, cb = col(a), col(b)
    updated = F.transform(
        F.map_entries(ca),
        # membership test, not value nullness: a NULL value in b still
        # overrides (mapUpdate.cpp takes b's entry unconditionally)
        lambda e: F.struct(
            e.key.alias("key"),
            F.when(
                F.array_contains(F.map_keys(cb), e.key),
                F.try_element_at(cb, e.key),
            ).otherwise(e.value).alias("value"),
        ),
    )
    appended = F.filter(
        F.map_entries(cb), lambda e: ~F.array_contains(F.map_keys(ca), e.key)
    )
    return F.map_from_entries(F.concat(updated, appended))


@chfn("mapFromArrays", "CAST_map")
def mapFromArrays(keys, values) -> Column:
    return F.map_from_arrays(col(keys), col(values))


@chfn("mapConcat")
def mapConcat(*ms) -> Column:
    return F.map_concat(*[col(m) for m in ms])


@chfn("mapPopulateSeries")
def mapPopulateSeries(m, max_key=None) -> Column:
    """Fill integer-key gaps [min_key, max(max_key, keys)] with 0."""
    mm = col(m)
    keys = F.map_keys(mm)
    lo = F.array_min(keys)
    hi = F.array_max(keys) if max_key is None else F.greatest(F.array_max(keys), lit_or_col(max_key))
    full = F.sequence(lo, hi)
    return F.map_from_arrays(
        full, F.transform(full, lambda k: F.coalesce(F.element_at(mm, k), F.lit(0)))
    )


@chfn("tuple")
def tuple_(*xs) -> Column:
    return F.struct(*[col(x) for x in xs])


@chfn("tupleElement")
def tupleElement(t, idx) -> Column:
    """1-based index or field name. Positional access resolves against
    F.struct's default field naming (col1, col2, ...); use the field name
    for named tuples."""
    if isinstance(idx, int):
        return col(t).getField(f"col{idx}")
    return col(t).getField(idx)


@chfn("untuple")
def untuple(t) -> Column:
    """One column per tuple element (FunctionUntuple): a generator."""
    return F.inline(F.array(col(t)))


def _tuple_zip(a, b, fn) -> Column:
    """Elementwise op over same-shape numeric structs via arrays."""
    return fn(col(a), col(b))


@chfn("tuplePlus", "vectorSum")
def tuplePlus(a, b) -> Column:
    return F.zip_with(col(a), col(b), lambda x, y: x + y)


@chfn("tupleMinus", "vectorDifference")
def tupleMinus(a, b) -> Column:
    return F.zip_with(col(a), col(b), lambda x, y: x - y)


@chfn("tupleMultiply")
def tupleMultiply(a, b) -> Column:
    return F.zip_with(col(a), col(b), lambda x, y: x * y)


@chfn("tupleDivide")
def tupleDivide(a, b) -> Column:
    return F.zip_with(col(a), col(b), lambda x, y: x / y)


@chfn("tupleNegate")
def tupleNegate(a) -> Column:
    return F.transform(col(a), lambda x: -x)
