"""SQL-callable pandas UDFs for the few functions with no closed-form
column expression (geohash bit interleave). DataFrame callers use the
registry builders (functions/variants2.py, variants3.py); this module makes
the same kernels reachable from `engine.sql()` / the CH dialect by
registering them in the Spark function catalog under their ClickHouse names.

The kernels are defined INSIDE each UDF so cloudpickle ships them by value —
executors don't need this package on their PYTHONPATH.

Reference: src/Functions/geohashEncode.cpp, geohashDecode.cpp,
geohashesInBox.cpp (GeoHash.cpp holds the shared codec).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf


@pandas_udf("string")
def _geohash_encode(lon: pd.Series, lat: pd.Series, prec: pd.Series) -> pd.Series:
    import math

    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"

    def enc(lo, la, p):
        p = 12 if p is None or int(p) <= 0 or int(p) > 12 else int(p)
        lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
        bits, ch, even, out = 0, 0, True, []
        while len(out) < p:
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

    return pd.Series(
        [
            None
            if lo is None or la is None or (isinstance(lo, float) and math.isnan(lo))
            else enc(float(lo), float(la), p)
            for lo, la, p in zip(lon, lat, prec)
        ]
    )


@pandas_udf("struct<longitude: double, latitude: double>")
def _geohash_decode(gh: pd.Series) -> pd.DataFrame:
    b32_idx = {c: i for i, c in enumerate("0123456789bcdefghjkmnpqrstuvwxyz")}
    lons, lats = [], []
    for s in gh:
        if s is None:
            lons.append(None)
            lats.append(None)
            continue
        lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
        even = True
        for c in str(s):
            ch = b32_idx.get(c, 0)
            for bit in range(4, -1, -1):
                r = lon_r if even else lat_r
                if (ch >> bit) & 1:
                    r[0] = (r[0] + r[1]) / 2
                else:
                    r[1] = (r[0] + r[1]) / 2
                even = not even
        lons.append((lon_r[0] + lon_r[1]) / 2)
        lats.append((lat_r[0] + lat_r[1]) / 2)
    return pd.DataFrame({"longitude": lons, "latitude": lats})


@pandas_udf("array<string>")
def _geohashes_in_box(
    lo1: pd.Series, la1: pd.Series, lo2: pd.Series, la2: pd.Series, prec: pd.Series
) -> pd.Series:
    import math

    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"

    def enc(lo, la, p):
        lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
        bits, ch, even, out = 0, 0, True, []
        while len(out) < p:
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

    out = []
    for a, b, c, d, p in zip(lo1, la1, lo2, la2, prec):
        if a is None or b is None or c is None or d is None:
            out.append(None)
            continue
        a, b = max(float(a), -180.0), max(float(b), -90.0)
        c, d = min(float(c), 180.0), min(float(d), 90.0)
        p = 12 if p is None or int(p) <= 0 or int(p) > 12 else int(p)
        dlon = 360.0 / (1 << ((5 * p + 1) // 2))
        dlat = 180.0 / (1 << (5 * p // 2))
        if c <= a or d <= b:
            out.append([])
            continue
        cells, lo = [], math.floor((a + 180.0) / dlon) * dlon - 180.0
        while lo < c and len(cells) < 100_000:
            la = math.floor((b + 90.0) / dlat) * dlat - 90.0
            while la < d and len(cells) < 100_000:
                cells.append(enc(lo + dlon / 2, la + dlat / 2, p))
                la += dlat
            lo += dlon
        out.append(sorted(set(cells)))
    return pd.Series(out)


@pandas_udf("binary")
def _fuzz_bits(s: pd.Series, prob: pd.Series) -> pd.Series:
    # BINARY return type: fuzzed bytes are arbitrary (fuzzBits.cpp flips
    # random bits) and Arrow rejects surrogate-escaped strings
    import numpy as np

    out = []
    for v, p in zip(s, prob):
        if v is None or p is None:
            out.append(None)
            continue
        b = bytearray(
            v if isinstance(v, (bytes, bytearray))
            else v.encode("utf-8", "surrogateescape")
        )
        p = float(p)
        if p > 0 and b:
            mask = np.packbits(
                np.random.random(len(b) * 8) < p  # noqa: NPY002 — fuzzing is meant to be random
            )[: len(b)]
            b = bytearray(x ^ m for x, m in zip(b, mask.tobytes()))
        out.append(bytes(b))
    return pd.Series(out)


def make_udfs() -> dict:
    return {
        "geohashEncode": _geohash_encode,
        "geohashDecode": _geohash_decode,
        "geohashesInBox": _geohashes_in_box,
        "fuzzBits": _fuzz_bits,
    }
