"""S2 cell-id functions as SQL-callable pandas UDFs.

Reference: src/Functions/geoToS2.cpp, s2ToGeo.cpp, s2GetNeighbors.cpp,
s2CellsIntersect.cpp, s2CapContains.cpp, s2CapUnion.cpp, s2RectAdd.cpp,
s2RectContains.cpp, s2RectUnion.cpp, s2RectIntersection.cpp — each a thin
wrapper over one s2geometry call. The cell math is re-derived from the
public s2geometry spec in s2_core.py and validated against the
reference's stateless vectors (tests/test_geo.py).

UInt64 cell ids surface as DECIMAL(20,0) (same carrier as the ch-hash
family) so ids above 2^63 print unsigned. Inputs are accepted as
Decimal/int (interpreted mod 2^64 — BIGINT -1 is the all-ones id) or
float (must be integral and non-nan; geoToS2's coordinates are the only
genuinely-float inputs).

Vectorization note: per-row Python math — a compat surface for the CH
dialect and golden tests, not a 100 TB data path (SCALING.md policy,
same as h3_udfs.py / chhash.py).
"""

from __future__ import annotations

from decimal import Decimal

import pandas as pd
from pyspark.sql.functions import pandas_udf

_U64_MASK = (1 << 64) - 1


def _core():
    from clickhouse_23_3_19_32_lts_spark.functions import s2_core as C

    return C


def _u64(v) -> int | None:
    """Coerce a cell-id argument to unsigned 64-bit (None passes through)."""
    if v is None:
        return None
    if isinstance(v, float):
        if v != v:
            raise ValueError("Illegal argument: nan cell id")  # CH 43
        return int(v) & _U64_MASK
    if isinstance(v, Decimal):
        return int(v) & _U64_MASK
    return int(v) & _U64_MASK


def _f(v) -> float | None:
    if v is None:
        return None
    return float(v)


_DEC = Decimal


def make_udfs() -> dict:
    @pandas_udf("decimal(20,0)")
    def geo_to_s2(lon: pd.Series, lat: pd.Series) -> pd.Series:
        C = _core()
        out = []
        for lo, la in zip(lon, lat):
            if lo is None or la is None:
                out.append(None)
                continue
            out.append(_DEC(C.geo_to_s2(float(lo), float(la))))
        return pd.Series(out, dtype="object")

    @pandas_udf("struct<_1: double, _2: double>")
    def s2_to_geo(cell: pd.Series) -> pd.DataFrame:
        C = _core()
        lons, lats = [], []
        for v in cell:
            v = _u64(v)
            if v is None:
                lons.append(None)
                lats.append(None)
                continue
            lo, la = C.s2_to_geo(v)
            lons.append(lo)
            lats.append(la)
        return pd.DataFrame({"_1": lons, "_2": lats})

    @pandas_udf("array<decimal(20,0)>")
    def s2_get_neighbors(cell: pd.Series) -> pd.Series:
        C = _core()
        out = []
        for v in cell:
            v = _u64(v)
            if v is None:
                out.append(None)
                continue
            out.append([_DEC(n) for n in C.get_edge_neighbors(v)])
        return pd.Series(out, dtype="object")

    @pandas_udf("int")
    def s2_cells_intersect(a: pd.Series, b: pd.Series) -> pd.Series:
        C = _core()
        out = []
        for x, y in zip(a, b):
            x, y = _u64(x), _u64(y)
            if x is None or y is None:
                out.append(None)
                continue
            out.append(int(C.cells_intersect(x, y)))
        return pd.Series(out, dtype="object")

    @pandas_udf("int")
    def s2_cap_contains(center: pd.Series, deg: pd.Series, point: pd.Series) -> pd.Series:
        C = _core()
        out = []
        for c, d, p in zip(center, deg, point):
            if d is not None and float(d) != float(d):
                raise ValueError("Radius must not be nan")  # CH 43
            c, p = _u64(c), _u64(p)
            if c is None or d is None or p is None:
                out.append(None)
                continue
            out.append(int(C.cap_contains(c, float(d), p)))
        return pd.Series(out, dtype="object")

    @pandas_udf("struct<_1: decimal(20,0), _2: double>")
    def s2_cap_union(
        c1: pd.Series, r1: pd.Series, c2: pd.Series, r2: pd.Series
    ) -> pd.DataFrame:
        C = _core()
        centers, radii = [], []
        for a, ra, b, rb in zip(c1, r1, c2, r2):
            for r in (ra, rb):
                if r is not None and float(r) != float(r):
                    raise ValueError("Radius must not be nan")  # CH 43
            a, b = _u64(a), _u64(b)
            if a is None or ra is None or b is None or rb is None:
                centers.append(None)
                radii.append(None)
                continue
            cc, rr = C.cap_union(a, float(ra), b, float(rb))
            centers.append(_DEC(cc))
            radii.append(rr)
        return pd.DataFrame({"_1": centers, "_2": radii})

    @pandas_udf("int")
    def s2_rect_contains(
        lo: pd.Series, hi: pd.Series, point: pd.Series
    ) -> pd.Series:
        C = _core()
        out = []
        for a, b, p in zip(lo, hi, point):
            a, b, p = _u64(a), _u64(b), _u64(p)
            if a is None or b is None or p is None:
                out.append(None)
                continue
            out.append(int(C.rect_contains(a, b, p)))
        return pd.Series(out, dtype="object")

    @pandas_udf("struct<_1: decimal(20,0), _2: decimal(20,0)>")
    def s2_rect_add(lo: pd.Series, hi: pd.Series, point: pd.Series) -> pd.DataFrame:
        C = _core()
        los, his = [], []
        for a, b, p in zip(lo, hi, point):
            a, b, p = _u64(a), _u64(b), _u64(p)
            if a is None or b is None or p is None:
                los.append(None)
                his.append(None)
                continue
            l2, h2 = C.rect_add(a, b, p)
            los.append(_DEC(l2))
            his.append(_DEC(h2))
        return pd.DataFrame({"_1": los, "_2": his})

    @pandas_udf("struct<_1: decimal(20,0), _2: decimal(20,0)>")
    def s2_rect_union(
        lo1: pd.Series, hi1: pd.Series, lo2: pd.Series, hi2: pd.Series
    ) -> pd.DataFrame:
        C = _core()
        los, his = [], []
        for a, b, c, d in zip(lo1, hi1, lo2, hi2):
            a, b, c, d = _u64(a), _u64(b), _u64(c), _u64(d)
            if a is None or b is None or c is None or d is None:
                los.append(None)
                his.append(None)
                continue
            l2, h2 = C.rect_union(a, b, c, d)
            los.append(_DEC(l2))
            his.append(_DEC(h2))
        return pd.DataFrame({"_1": los, "_2": his})

    @pandas_udf("struct<_1: decimal(20,0), _2: decimal(20,0)>")
    def s2_rect_intersection(
        lo1: pd.Series, hi1: pd.Series, lo2: pd.Series, hi2: pd.Series
    ) -> pd.DataFrame:
        C = _core()
        los, his = [], []
        for a, b, c, d in zip(lo1, hi1, lo2, hi2):
            a, b, c, d = _u64(a), _u64(b), _u64(c), _u64(d)
            if a is None or b is None or c is None or d is None:
                los.append(None)
                his.append(None)
                continue
            l2, h2 = C.rect_intersection(a, b, c, d)
            los.append(_DEC(l2))
            his.append(_DEC(h2))
        return pd.DataFrame({"_1": los, "_2": his})

    return {
        "geoToS2": geo_to_s2,
        "s2ToGeo": s2_to_geo,
        "s2GetNeighbors": s2_get_neighbors,
        "s2GetNeighbours": s2_get_neighbors,
        "s2CellsIntersect": s2_cells_intersect,
        "s2CapContains": s2_cap_contains,
        "s2CapUnion": s2_cap_union,
        "s2RectContains": s2_rect_contains,
        "s2RectAdd": s2_rect_add,
        "s2RectUnion": s2_rect_union,
        "s2RectIntersection": s2_rect_intersection,
    }
