"""Bit-exact ClickHouse hash functions as SQL-callable pandas UDFs.

Reference: src/Functions/FunctionsHashing.h (FunctionAnyHash). Semantics:
  - each argument contributes a STREAM of hash tokens folded left with the
    family's combineHashes: scalars → one token; tuples flatten into the
    stream (executeForArgument); arrays emit IntHash64(length) then one
    token per element (executeArray — nested composites fold into a single
    sub-token because they land in one vec_temp slot)
  - families with `use_int_hash_for_pods` (cityHash64) hash integer/float
    elements via IntHash64Impl::apply(zero-extended bits); byte families
    (sipHash64, halfMD5, murmurHash2/3, gccMurmurHash) hash the value's
    little-endian image at its ClickHouse type width
  - Decimals always hash their raw scaled-integer bytes at the decimal's
    storage width (4/8/16), even in int-pods families (verified against
    01032_cityHash64_for_decimal)

Algorithms live in chhash_core.py, validated against the reference's own
stateless vectors (00259_hashing_tuples, 00678_murmurhash,
00746_hashing_tuples, 01032_cityHash64_for_decimal).

SQL surface (registered on first use through functions/catalog.py,
rendered by the dialect's _render_exact_hash):
  ch_<fam>_elems(x, tag) -> array<hash>   one argument's token stream
  ch_<fam>_fold(arr)     -> hash          fold a stream from scratch
  ch_<fam>_comb(acc, arr)-> hash          continue a fold
`tag` is 0 (infer width from dtype / literal rule) or 4/8/16 for decimal
storage widths the dialect read off toDecimal32/64/128 calls.

UInt64 results surface as DECIMAL(20,0) so the unsigned value (and its
ordering) matches ClickHouse; UInt32 families as BIGINT.

TIER BOUNDARY (policy): these kernels are Python-math pandas UDFs — a
COMPAT surface for the CH dialect and golden-test parity, never a data
path. At 100 TB, shuffle/dedup/bucketing keys must use the JVM-native
tier (pipeline/hashing.py: xxhash64/md5/hash, whole-stage codegen) —
dedup only needs ONE engine's hash to be consistent end-to-end, not
ClickHouse's exact values. tests/test_plan_quality.py asserts no gated
registry query plan contains a ch_* hash UDF.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import struct

import pandas as pd
from pyspark.sql.functions import pandas_udf

_X64 = 0x4CF2D2BAAE6DA887  # IntHash64Impl xor (FunctionsHashing.h:149)
_SALT32 = 0x75D9543DE018BF45  # IntHash32Impl salt (FunctionsHashing.h:140)


def _core():
    from clickhouse_23_3_19_32_lts_spark.functions import chhash_core as C

    return C


def _lit_width(v: int) -> int:
    """ClickHouse literal typing: smallest type that fits (ParserNumber)."""
    a = v if v >= 0 else -v - 1  # symmetric band check
    if v < 0:
        return 1 if a < (1 << 7) else 2 if a < (1 << 15) else 4 if a < (1 << 31) else 8
    return 1 if v < (1 << 8) else 2 if v < (1 << 16) else 4 if v < (1 << 32) else 8


def _int_bytes(v: int, w: int) -> bytes:
    return (int(v) & ((1 << (8 * w)) - 1)).to_bytes(w, "little")


def _ih64(C, x: int) -> int:
    return C.inthash64((x ^ _X64) & C.M64)


def _ih32(C, x: int) -> int:
    return C.inthash32((x ^ _SALT32) & C.M64)


def _norm(v, width):
    """Normalize numpy scalars / dates; returns (value, width)."""
    tmod = type(v).__module__
    if tmod == "numpy":
        import numpy as np

        if isinstance(v, np.ndarray):
            return list(v), width
        if isinstance(v, np.bool_):
            return int(v), width or 1
        if isinstance(v, np.integer):
            return int(v), width or v.dtype.itemsize
        if isinstance(v, np.floating):
            return float(v), width or v.dtype.itemsize
        v = v.item()
    if isinstance(v, bool):
        return int(v), width or 1
    if isinstance(v, _dt.datetime):
        return int(v.timestamp()), 4  # DateTime = UInt32 seconds
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days, 2  # Date = UInt16 days
    return v, width


def _scalar_hash(C, fam: dict, v, width):
    v, width = _norm(v, width)
    if isinstance(v, int):
        w = width or _lit_width(v)
        if fam["int_pods"]:
            return _ih64(C, int(v) & ((1 << (8 * w)) - 1))
        return fam["strfn"](C, _int_bytes(v, w))
    if isinstance(v, float):
        w = width or 8
        raw = struct.pack("<f", v) if w == 4 else struct.pack("<d", v)
        if fam["int_pods"]:
            return _ih64(C, int.from_bytes(raw, "little"))
        return fam["strfn"](C, raw)
    if isinstance(v, decimal.Decimal):
        # raw scaled-int bytes at the decimal storage width — byte hash in
        # EVERY family (01032_cityHash64_for_decimal)
        e = v.as_tuple().exponent
        raw = int(v.scaleb(-e)) if e < 0 else int(v)
        return fam["strfn"](C, _int_bytes(raw, width if width in (4, 8, 16) else 8))
    if isinstance(v, str):
        return fam["strfn"](C, v.encode("utf-8"))
    if isinstance(v, (bytes, bytearray)):
        return fam["strfn"](C, bytes(v))
    raise TypeError(f"unhashable element type {type(v).__name__}")


def _tokens(C, fam: dict, v, width) -> list:
    """One argument's token stream (see module docstring)."""
    v, width = _norm(v, width)
    if isinstance(v, list):
        toks = [_ih32(C, len(v)) if fam["ret32"] else _ih64(C, len(v))]
        toks.extend(_subhash(C, fam, e) for e in v)
        return toks
    if isinstance(v, tuple) and not hasattr(v, "__fields__"):
        # plain tuple = Tuple value: flatten into the stream
        out = []
        for e in v:
            out.extend(_tokens(C, fam, e, None))
        return out
    if isinstance(v, dict):
        # Map hashes as its nested Array(Tuple(key, value))
        # (executeForArgument ColumnMap branch → executeArray)
        items = list(v.items())
        toks = [_ih32(C, len(items)) if fam["ret32"] else _ih64(C, len(items))]
        toks.extend(_subhash(C, fam, kv) for kv in items)
        return toks
    if hasattr(v, "__fields__"):
        out = []
        for e in list(v):
            out.extend(_tokens(C, fam, e, None))
        return out
    return [_scalar_hash(C, fam, v, width)]


def _subhash(C, fam: dict, v):
    """A composite INSIDE an array folds to one token (single vec_temp slot)."""
    toks = _tokens(C, fam, v, None)
    acc = toks[0]
    for t in toks[1:]:
        acc = fam["comb"](C, acc, t)
    return acc


_W_BY_DTYPE = {
    "int8": 1, "uint8": 1, "int16": 2, "uint16": 2,
    "int32": 4, "uint32": 4, "int64": 8, "uint64": 8,
    "float32": 4, "float64": 8, "bool": 1,
}


def _series_tokens(fam: dict, s: pd.Series, tag: int) -> list:
    """Per-row token streams; width from the pandas dtype when available."""
    C = _core()
    name = str(s.dtype)
    width = tag if tag in (4, 8, 16) else _W_BY_DTYPE.get(name)
    out = []
    for v in s:
        if v is None or v is pd.NaT or (isinstance(v, float) and name == "object" and v != v):
            out.append(None)
        elif hasattr(v, "to_pydatetime"):
            out.append(_tokens(C, fam, v.to_pydatetime(), None))
        else:
            out.append(_tokens(C, fam, v, width))
    return out


def _mk_family(strfn, comb, int_pods=False, ret32=False):
    return {"strfn": strfn, "comb": comb, "int_pods": int_pods, "ret32": ret32}


_FAMILIES = {
    "cityHash64": _mk_family(
        lambda C, b: C.city64(b), lambda C, a, b: C.city_combine(a, b), int_pods=True
    ),
    "sipHash64": _mk_family(
        lambda C, b: C.siphash64(b), lambda C, a, b: C.siphash_combine(a, b)
    ),
    "halfMD5": _mk_family(
        lambda C, b: C.halfmd5(b), lambda C, a, b: C.halfmd5_combine(a, b)
    ),
    "murmurHash2_32": _mk_family(
        lambda C, b: C.murmur2_32(b),
        lambda C, a, b: (C.inthash32((a ^ _SALT32) & C.M64) ^ b) & C.M32,
        ret32=True,
    ),
    "murmurHash2_64": _mk_family(
        lambda C, b: C.murmur2_64(b),
        lambda C, a, b: (C.inthash64((a ^ _X64) & C.M64) ^ b) & C.M64,
    ),
    "gccMurmurHash": _mk_family(
        lambda C, b: C.murmur2_64(b, 0xC70F6907),
        lambda C, a, b: (C.inthash64((a ^ _X64) & C.M64) ^ b) & C.M64,
    ),
    "murmurHash3_32": _mk_family(
        lambda C, b: C.murmur3_32(b),
        lambda C, a, b: (C.inthash32((a ^ _SALT32) & C.M64) ^ b) & C.M32,
        ret32=True,
    ),
    "murmurHash3_64": _mk_family(
        lambda C, b: C.murmur3_64(b),
        lambda C, a, b: (C.inthash64((a ^ _X64) & C.M64) ^ b) & C.M64,
    ),
    "farmHash64": _mk_family(
        lambda C, b: C.farm64(b), lambda C, a, b: C.hash128to64(a, b), int_pods=True
    ),
    "farmFingerprint64": _mk_family(
        lambda C, b: C.farm64(b),
        lambda C, a, b: C.farm_fingerprint_combine(a, b),
        int_pods=True,
    ),
    "metroHash64": _mk_family(
        # no metrohash64_1 reimplementation yet — int args (the only form in
        # the reference corpus) go through IntHash64 like the reference does
        lambda C, b: (_ for _ in ()).throw(
            NotImplementedError("metroHash64 over strings is not implemented")
        ),
        lambda C, a, b: C.hash128to64(a, b),
        int_pods=True,
    ),
}


def _family_udfs(fam_name: str):
    fam = _FAMILIES[fam_name]
    if fam["ret32"]:
        arr_t, one_t = "array<bigint>", "bigint"

        def _wrap(h):
            return h

        def _wrap_list(hs):
            return None if hs is None else [int(h) for h in hs]

    else:
        arr_t, one_t = "array<decimal(20,0)>", "decimal(20,0)"

        def _wrap(h):
            return None if h is None else decimal.Decimal(h)

        def _wrap_list(hs):
            return None if hs is None else [decimal.Decimal(h) for h in hs]

    @pandas_udf(arr_t)
    def _elems(x: pd.Series, tag: pd.Series) -> pd.Series:
        t = int(tag.iloc[0]) if len(tag) else 0
        return pd.Series([_wrap_list(hs) for hs in _series_tokens(fam, x, t)])

    @pandas_udf(one_t)
    def _fold(arr: pd.Series) -> pd.Series:
        C = _core()

        def one(hs):
            if hs is None:
                return None
            acc = int(hs[0])
            for h in hs[1:]:
                acc = fam["comb"](C, acc, int(h))
            return _wrap(acc)

        return pd.Series([one(hs) for hs in arr], dtype="object")

    @pandas_udf(one_t)
    def _comb(acc: pd.Series, arr: pd.Series) -> pd.Series:
        C = _core()

        def one(a, hs):
            if a is None or hs is None:
                return None
            r = int(a)
            for h in hs:
                r = fam["comb"](C, r, int(h))
            return _wrap(r)

        return pd.Series([one(a, hs) for a, hs in zip(acc, arr)], dtype="object")

    return _elems, _fold, _comb


def _make_singletons():
    """Non-family pandas UDFs (need an active SparkSession to create)."""

    @pandas_udf("bigint")
    def _inthash32_udf(x: pd.Series) -> pd.Series:
        C = _core()
        return pd.Series(
            [None if pd.isna(v) else _ih32(C, int(v)) for v in x],
            dtype="object",
        ).astype("Int64")

    @pandas_udf("decimal(20,0)")
    def _inthash64_udf(x: pd.Series) -> pd.Series:
        C = _core()
        return pd.Series(
            [None if pd.isna(v) else decimal.Decimal(_ih64(C, int(v))) for v in x]
        )

    @pandas_udf("int")
    def _javahash_udf(x: pd.Series) -> pd.Series:
        C = _core()

        def one(v):
            if v is None:
                return None
            if isinstance(v, str):
                return C.javahash(v.encode("utf-8"))
            # JavaHashImpl::apply(int64): uint32(x) ^ uint32(uint64(x) >> 32)
            iv = int(v) & C.M64
            r = (iv & C.M32) ^ (iv >> 32)
            return r - (1 << 32) if r >= (1 << 31) else r

        return pd.Series([one(v) for v in x], dtype="object").astype("Int32")

    @pandas_udf("int")
    def _hivehash_udf(x: pd.Series) -> pd.Series:
        C = _core()
        return pd.Series(
            [None if v is None else C.hivehash(v.encode("utf-8")) for v in x],
            dtype="object",
        ).astype("Int32")

    @pandas_udf("bigint")
    def _jump_hash_udf(key: pd.Series, buckets: pd.Series) -> pd.Series:
        C = _core()
        return pd.Series(
            [
                None if pd.isna(k) or pd.isna(b) else C.jump_consistent_hash(int(k), int(b))
                for k, b in zip(key, buckets)
            ],
            dtype="object",
        ).astype("Int64")

    def _h128_family(apply128):
        """hex-rendering UDFs for a 128-bit family at arities 1–3.
        combineHashesFunc<UInt128>: apply over the 32-byte LE image of the
        two hashes (FunctionsHashing.h:154). Scalar args only."""

        def _ser_series(s: pd.Series) -> list:
            w = _W_BY_DTYPE.get(str(s.dtype))
            out = []
            for v in s:
                if v is None:
                    out.append(None)
                elif isinstance(v, str):
                    out.append(v.encode("utf-8"))
                elif isinstance(v, (bytes, bytearray)):
                    out.append(bytes(v))
                else:
                    v2, w2 = _norm(v, w)
                    out.append(_int_bytes(int(v2), w2 or _lit_width(int(v2))))
            return out

        def _fold_cols(cols):
            C = _core()
            sers = [_ser_series(c) for c in cols]
            out = []
            for row in zip(*sers):
                if any(b is None for b in row):
                    out.append(None)
                    continue
                acc = apply128(C, row[0])
                for b in row[1:]:
                    nxt = apply128(C, b)
                    acc = apply128(
                        C, struct.pack("<QQQQ", acc[0], acc[1], nxt[0], nxt[1])
                    )
                out.append(struct.pack("<QQ", acc[0], acc[1]).hex().upper())
            return pd.Series(out)

        @pandas_udf("string")
        def _h1(a: pd.Series) -> pd.Series:
            return _fold_cols([a])

        @pandas_udf("string")
        def _h2(a: pd.Series, b: pd.Series) -> pd.Series:
            return _fold_cols([a, b])

        @pandas_udf("string")
        def _h3(a: pd.Series, b: pd.Series, c: pd.Series) -> pd.Series:
            return _fold_cols([a, b, c])

        return _h1, _h2, _h3

    sip1, sip2, sip3 = _h128_family(_sip128)
    mm1, mm2, mm3 = _h128_family(lambda C, b: C.murmur3_128(b))

    return {
        "ch_inthash32": _inthash32_udf,
        "ch_inthash64": _inthash64_udf,
        "ch_siphash128_hex1": sip1,
        "ch_siphash128_hex2": sip2,
        "ch_siphash128_hex3": sip3,
        "ch_murmurhash3_128_hex1": mm1,
        "ch_murmurhash3_128_hex2": mm2,
        "ch_murmurhash3_128_hex3": mm3,
        "ch_javahash": _javahash_udf,
        "ch_hivehash": _hivehash_udf,
        "ch_jumpconsistenthash": _jump_hash_udf,
    }


def _sip128(C, data: bytes):
    """SipHash-2-4 128-bit variant used by sipHash128 (SipHash.h get128:
    first 8 bytes v0^v1, second v2^v3)."""
    M64 = C.M64
    v0 = 0x736F6D6570736575
    v1 = 0x646F72616E646F6D
    v2 = 0x6C7967656E657261
    v3 = 0x7465646279746573
    n = len(data)
    end = n - (n % 8)
    for i in range(0, end, 8):
        m = int.from_bytes(data[i : i + 8], "little")
        v3 ^= m
        v0, v1, v2, v3 = C._sipround(v0, v1, v2, v3)
        v0, v1, v2, v3 = C._sipround(v0, v1, v2, v3)
        v0 ^= m
    b = (n & 0xFF) << 56
    for i, c in enumerate(data[end:]):
        b |= c << (8 * i)
    v3 ^= b
    v0, v1, v2, v3 = C._sipround(v0, v1, v2, v3)
    v0, v1, v2, v3 = C._sipround(v0, v1, v2, v3)
    v0 ^= b
    v2 ^= 0xFF
    for _ in range(4):
        v0, v1, v2, v3 = C._sipround(v0, v1, v2, v3)
    return (v0 ^ v1) & M64, (v2 ^ v3) & M64


def make_udfs() -> dict:
    """Every exact-hash kernel by SQL name (functions/catalog.py)."""
    out = {}
    for fam in _FAMILIES:
        for part, fn in zip(("elems", "fold", "comb"), _family_udfs(fam)):
            out[f"ch_{fam.lower()}_{part}"] = fn
    return {**out, **_make_singletons()}
