"""Geo function families: H3 index math + embedded-geobase regions.

Reference surface:
  - H3 family: src/Functions/h3*.cpp (CH 23.3 bundles Uber H3; each .cpp
    is a thin wrapper over one libh3 call). The functions here are the
    index-MATH subset — resolution/base-cell/digit bit-field manipulation and
    the per-resolution average edge/area constant tables, which the public H3
    spec defines exactly and which need no geometry library. The geographic
    projection subset (geoToH3, h3ToGeo, h3kRing, h3ToGeoBoundary, kRing/
    hexRing/line/distance/faces/areas/directed edges) is re-derived from the
    public H3 v3 spec in h3_core.py (icosahedral gnomonic projection,
    validated against the reference's stateless vectors) as pandas UDFs in
    functions/h3_udfs.py; the chfn builders below call those kernels by
    name through the UDF catalog (functions/catalog.py).
  - regionTo* family: src/Functions/FunctionsEmbeddedDictionaries.{h,cpp} +
    src/Dictionaries/Embedded/RegionsHierarchy.cpp — a parent-chain walk over
    a user-provided geobase (id, parent, type, population). register_geobase()
    is the analogue of configuring path_to_regions_hierarchy_file; the
    closures (toCity/toCountry/...) are precomputed driver-side exactly like
    RegionsHierarchy::reload precomputes its RegionParents vectors, then
    inlined as literal maps (broadcast-equivalent scalar probes, codegen'd).

H3 index bit layout (public spec, h3api.h): bit63 reserved, bits59-62 mode
(1 = cell), bits56-58 reserved, bits52-55 resolution, bits45-51 base cell,
then fifteen 3-bit digits for resolutions 1..15 (unused digits = 7).
"""

from __future__ import annotations

import inspect

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.catalog import udf_call
from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col

MAX_H3_RES = 15

# Pentagon base cells — H3 v3 baseCellData (the 12 icosahedron vertices).
_PENTAGON_BASE_CELLS = (4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117)

# Average hexagon edge length in meters by resolution (H3 v3
# edgeLengthM table; Km = /1000).
_EDGE_LENGTH_M = (
    1107712.591, 418676.0055, 158244.6558, 59810.85794, 22606.3794,
    8544.408276, 3229.482772, 1220.629759, 461.3546837, 174.3756681,
    65.90780749, 24.9105614, 9.415526211, 3.559893033, 1.348574562,
    0.509713273,
)

# Average hexagon area in km^2 by resolution (H3 v3 hexAreaKm2 table).
_HEX_AREA_KM2 = (
    4250546.848, 607220.9782, 86745.85403, 12392.26486, 1770.323552,
    252.9033645, 36.1290521, 5.1612932, 0.7373276, 0.1053325,
    0.0150475, 0.0021496, 0.0003071, 0.0000439, 0.0000063, 0.0000009,
)

# Average hexagon area in m^2 (H3 v3 hexAreaM2 table — an INDEPENDENT
# mixed-precision table, not km2*1e6: the reference's own test pins
# res1 = 6.07221e11 and res2 = 8.6745854035e10, which km2*1e6 misses).
_HEX_AREA_M2 = (
    4.25055e12, 6.07221e11, 8.6745854035e10, 1.2392264862e10,
    1.7700323552e9, 2.5290321230e8, 3.6129052913e7, 5.1612932229e6,
    7.3732770290e5, 1.0533182538e5, 1.5047502048e4, 2.1496430261e3,
    3.0712328981e2, 4.3870185939e1, 6.2671811353e0, 8.9531159694e-1,
)

# h3EdgeAngle.cpp:86 — 180 / pi / Earth-radius-in-m (h3's own radius).
_DEG_PER_M = 8.99320592271288084e-6



def _shl(x: Column, n: Column) -> Column:
    """shiftleft with a Column shift count (the Python F.shiftleft only
    accepts an int literal; the underlying ShiftLeft expression is fine)."""
    return F.call_function("shiftleft", x, n.cast("int"))

def _h(x) -> Column:
    return col(x).cast("long")


def _res_of(h: Column) -> Column:
    return F.shiftright(h, 52).bitwiseAND(F.lit(15))


def _base_cell_of(h: Column) -> Column:
    return F.shiftright(h, 45).bitwiseAND(F.lit(127))


def _digit(h: Column, r: int) -> Column:
    """3-bit digit for resolution r (1-indexed)."""
    return F.shiftright(h, 45 - 3 * r).bitwiseAND(F.lit(7))


def _table(vals) -> Column:
    return F.array(*[F.lit(float(v)) for v in vals])


def _res_arg(r) -> Column:
    return col(r).cast("int")


@chfn("h3GetResolution")
def h3GetResolution(h) -> Column:
    return _res_of(_h(h)).cast("int")


@chfn("h3GetBaseCell")
def h3GetBaseCell(h) -> Column:
    return _base_cell_of(_h(h)).cast("int")


@chfn("h3IsResClassIII")
def h3IsResClassIII(h) -> Column:
    return (_res_of(_h(h)) % 2 == 1).cast("boolean")


@chfn("h3IsPentagon")
def h3IsPentagon(h) -> Column:
    """A cell is a pentagon iff its base cell is pentagonal and every used
    digit is 0 (the center-child chain of the icosahedron vertex)."""
    hh = _h(h)
    res = _res_of(hh)
    is_pent_bc = _base_cell_of(hh).isin(*_PENTAGON_BASE_CELLS)
    all_zero = F.lit(True)
    for r in range(1, MAX_H3_RES + 1):
        all_zero = all_zero & ((F.lit(r) > res) | (_digit(hh, r) == 0))
    return (is_pent_bc & all_zero).cast("boolean")


@chfn("h3IsValid")
def h3IsValid(h) -> Column:
    hh = _h(h)
    res = _res_of(hh)
    ok = (
        (F.shiftright(hh, 63).bitwiseAND(F.lit(1)) == 0)
        & (F.shiftright(hh, 59).bitwiseAND(F.lit(15)) == 1)  # cell mode
        & (F.shiftright(hh, 56).bitwiseAND(F.lit(7)) == 0)
        & (_base_cell_of(hh) < 122)
    )
    # digits 1..res in 0..6; digits res+1..15 == 7
    for r in range(1, MAX_H3_RES + 1):
        d = _digit(hh, r)
        ok = ok & F.when(F.lit(r) <= res, d <= 6).otherwise(d == 7)
    # deleted K-axis: a pentagon's first nonzero digit can't be 1
    is_pent_bc = _base_cell_of(hh).isin(*_PENTAGON_BASE_CELLS)
    leading_zero = F.lit(True)  # all digits before r are zero
    no_deleted = F.lit(True)
    for r in range(1, MAX_H3_RES + 1):
        d = _digit(hh, r)
        no_deleted = no_deleted & ~((F.lit(r) <= res) & leading_zero & (d == 1))
        leading_zero = leading_zero & ((F.lit(r) > res) | (d == 0))
    return (ok & (~is_pent_bc | no_deleted)).cast("boolean")


@chfn("h3ToParent")
def h3ToParent(h, parent_res) -> Column:
    """Replace the resolution field and pad the now-unused digits with 7s.
    Digits parentRes+1..15 are the low 3*(15-parentRes) bits."""
    hh = _h(h)
    pres = _res_arg(parent_res).cast("long")
    res_cleared = hh.bitwiseAND(F.lit(~(15 << 52)))
    with_res = res_cleared.bitwiseOR(_shl(pres, F.lit(52)))
    pad = _shl(F.lit(1).cast("long"), (F.lit(15) - pres) * 3) - 1
    return with_res.bitwiseOR(pad)


@chfn("h3ToCenterChild")
def h3ToCenterChild(h, child_res) -> Column:
    """Zero the digits between the cell's res and childRes, pad the rest."""
    hh = _h(h)
    res = _res_of(hh)
    cres = _res_arg(child_res).cast("long")
    own_pad = _shl(F.lit(1).cast("long"), (F.lit(15) - res) * 3) - 1
    cleared = hh - hh.bitwiseAND(own_pad)  # zero digits res+1..15
    res_cleared = cleared.bitwiseAND(F.lit(~(15 << 52)))
    with_res = res_cleared.bitwiseOR(_shl(cres, F.lit(52)))
    pad = _shl(F.lit(1).cast("long"), (F.lit(15) - cres) * 3) - 1
    return with_res.bitwiseOR(pad)


@chfn("h3ToChildren")
def h3ToChildren(h, child_res) -> Column:
    """All childRes-descendants: enumerate base-7 digit suffixes. Pentagon
    subtrees drop the K-axis (digit 1 while every higher appended digit is
    still 0) — same pruning as libh3's iterators. The 7^d fan-out is a
    column expression (sequence+transform), so it stays codegen'd; CH bounds
    the same call by max_block_size, we bound by requiring d small enough
    that 7^d fits a sane array (<= 7 levels ~ 823543 elements)."""
    hh = _h(h)
    res = _res_of(hh)
    cres = _res_arg(child_res).cast("long")
    d = (cres - res).cast("int")
    n = F.pow(F.lit(7.0), d).cast("long")
    center = h3ToCenterChild(hh, cres)  # digits res+1..cres zeroed

    # i-th child: write base-7 digits of i into digit slots res+1..cres.
    # Each digit is computed INDEPENDENTLY from i — floor(i / 7^(d-j)) % 7 —
    # never via a remainder chain: Column expressions are trees, and a
    # rem_j = f(rem_{j-1}) chain re-inlines the whole prefix at every level
    # (exponential expression size — froze plan analysis when tried).
    def _dig_at(i: Column, j: int) -> Column:
        p = F.pow(F.lit(7.0), (d - F.lit(j)).cast("double")).cast("long")
        return F.when(F.lit(j) <= d, F.floor(i / p).cast("long") % 7).otherwise(
            F.lit(0).cast("long")
        )

    def child_of(i: Column) -> Column:
        out = center
        for j in range(1, MAX_H3_RES + 1):
            shift = (F.lit(15) - res - F.lit(j)) * 3
            out = out + F.when(
                F.lit(j) <= d, _shl(_dig_at(i, j), shift)
            ).otherwise(F.lit(0).cast("long"))
        return out

    def keep(i: Column) -> Column:
        # prune deleted-K subtrees under a pentagon parent
        is_pent = h3IsPentagon(hh)
        leading = F.lit(True)
        bad = F.lit(False)
        for j in range(1, MAX_H3_RES + 1):
            dig = _dig_at(i, j)
            bad = bad | ((F.lit(j) <= d) & leading & (dig == 1))
            leading = leading & ((F.lit(j) > d) | (dig == 0))
        return ~(is_pent & bad)

    idx = F.sequence(F.lit(0).cast("long"), n - 1)
    return F.filter(F.transform(idx, child_of), lambda c, i: keep(i))


@chfn("h3ToString")
def h3ToString(h) -> Column:
    return F.lower(F.hex(_h(h)))


@chfn("stringToH3")
def stringToH3(s) -> Column:
    # conv() parses hex; returns 0 for garbage — same as stringToH3's "0 on
    # parse failure" contract (src/Functions/stringToH3.cpp). The reference
    # accepts the Java-style '0x…L' spelling (02021_h3_get_faces fixture).
    cleaned = F.regexp_replace(
        F.regexp_replace(col(s), "^0[xX]", ""), "[lL]$", ""
    )
    return F.coalesce(F.conv(cleaned, 16, 10).cast("long"), F.lit(0).cast("long"))


@chfn("h3NumHexagons")
def h3NumHexagons(res) -> Column:
    """getNumCells: 2 + 120*7^res (h3NumHexagons.cpp:82)."""
    r = _res_arg(res)
    return (F.lit(2).cast("long") + F.lit(120).cast("long") * F.pow(F.lit(7.0), r).cast("long")).cast("long")


def _bc_index(bc: int, res: int) -> int:
    """Center cell of a base cell at a resolution (digits 0, rest 7)."""
    h = (1 << 59) | (res << 52) | (bc << 45)
    h |= (1 << (3 * (15 - res))) - 1
    return h


@chfn("h3GetRes0Indexes")
def h3GetRes0Indexes() -> Column:
    return F.array(*[F.lit(_bc_index(bc, 0)).cast("long") for bc in range(122)])


@chfn("h3GetPentagonIndexes")
def h3GetPentagonIndexes(res) -> Column:
    r = _res_arg(res)
    out = F.array(*[F.lit(0).cast("long")])
    whens = None
    for rr in range(MAX_H3_RES + 1):
        arr = F.array(*[F.lit(_bc_index(bc, rr)).cast("long") for bc in _PENTAGON_BASE_CELLS])
        whens = F.when(r == rr, arr) if whens is None else whens.when(r == rr, arr)
    return whens


@chfn("h3EdgeLengthM")
def h3EdgeLengthM(res) -> Column:
    return F.element_at(_table(_EDGE_LENGTH_M), _res_arg(res) + 1)


@chfn("h3EdgeLengthKm")
def h3EdgeLengthKm(res) -> Column:
    return F.element_at(_table([v / 1000.0 for v in _EDGE_LENGTH_M]), _res_arg(res) + 1)


@chfn("h3EdgeAngle")
def h3EdgeAngle(res) -> Column:
    return F.element_at(_table([_DEG_PER_M * v for v in _EDGE_LENGTH_M]), _res_arg(res) + 1)


@chfn("h3HexAreaKm2")
def h3HexAreaKm2(res) -> Column:
    return F.element_at(_table(_HEX_AREA_KM2), _res_arg(res) + 1)


@chfn("h3HexAreaM2")
def h3HexAreaM2(res) -> Column:
    return F.element_at(_table(_HEX_AREA_M2), _res_arg(res) + 1)


# -- projection subset: DataFrame-level builders delegating to the pandas
# UDF kernels of h3_udfs.py; udf_call applies the kernel's UDF object, so
# a builder needs no session registration.

def _kernel_builder(name: str, params: str):
    """chfn builder ``name(params…)`` calling catalog UDF ``name``."""
    sig = inspect.Signature(
        [inspect.Parameter(p, inspect.Parameter.POSITIONAL_OR_KEYWORD) for p in params.split()]
    )

    def build(*args) -> Column:
        sig.bind(*args)  # TypeError on a wrong argument count, like a def
        return udf_call(name, *args)

    build.__name__ = build.__qualname__ = name
    build.__signature__ = sig
    globals()[name] = chfn(name)(build)


for _name, _params in (
    ("geoToH3", "lon lat res"),
    ("h3ToGeo", "h"),
    ("h3ToGeoBoundary", "h"),
    ("h3kRing", "h k"),
    ("h3HexRing", "h k"),
    ("h3Distance", "a b"),
    ("h3Line", "a b"),
    ("h3IndexesAreNeighbors", "a b"),
    ("h3GetFaces", "h"),
    ("h3CellAreaRads2", "h"),
    ("h3CellAreaM2", "h"),
    ("h3GetUnidirectionalEdge", "a b"),
    ("h3GetOriginIndexFromUnidirectionalEdge", "e"),
    ("h3GetDestinationIndexFromUnidirectionalEdge", "e"),
    ("h3GetIndexesFromUnidirectionalEdge", "e"),
    ("h3GetUnidirectionalEdgesFromHexagon", "h"),
    ("h3UnidirectionalEdgeIsValid", "e"),
    ("h3GetUnidirectionalEdgeBoundary", "e"),
    ("h3ExactEdgeLengthRads", "e"),
    ("h3ExactEdgeLengthKm", "e"),
    ("h3ExactEdgeLengthM", "e"),
):
    _kernel_builder(_name, _params)


@chfn("s2CellsIntersect")
def s2CellsIntersect(a, b) -> Column:
    """S2 cell ids intersect iff one contains the other: each id's coverage
    is [id - (lsb-1), id + (lsb-1)] along the Hilbert curve (s2geometry
    S2CellId::range_min/range_max — pure bit math, no projection needed)."""
    aa, bb = col(a).cast("long"), col(b).cast("long")
    lsb_a = aa.bitwiseAND(-aa)
    lsb_b = bb.bitwiseAND(-bb)
    return (
        ((bb >= aa - (lsb_a - 1)) & (bb <= aa + (lsb_a - 1)))
        | ((aa >= bb - (lsb_b - 1)) & (aa <= bb + (lsb_b - 1)))
    ).cast("boolean")


# ---------------------------------------------------------------------------
# regionTo* — embedded geobase hierarchy
# ---------------------------------------------------------------------------

# RegionType (src/Dictionaries/Embedded/GeodataProviders/Types.h):
_CONTINENT, _COUNTRY, _DISTRICT, _AREA, _CITY = 1, 3, 4, 5, 6

_GEOBASE: dict[str, dict[int, int]] | None = None
_GEOBASE_NAMES: dict[int, str] | None = None


def register_geobase(df: DataFrame, names: DataFrame | None = None) -> None:
    """Configure the regions hierarchy (path_to_regions_hierarchy_file
    analogue). `df` columns: region_id, parent_id, type, population.
    `names` columns: region_id, name. Precomputes the same per-type closure
    vectors RegionsHierarchy::reload builds (RegionsHierarchy.cpp:84-140)."""
    global _GEOBASE, _GEOBASE_NAMES
    rows = {int(r["region_id"]): (int(r["parent_id"]), int(r["type"]), int(r["population"] or 0))
            for r in df.collect()}

    def closure(want_type: int, last: bool = False) -> dict[int, int]:
        out: dict[int, int] = {}
        for rid in rows:
            found, cur, hops = 0, rid, 0
            while cur and cur in rows and hops < 64:
                if rows[cur][1] == want_type:
                    found = cur
                    if not last:
                        break
                cur = rows[cur][0]
                hops += 1
            out[rid] = found
        return out

    _GEOBASE = {
        "city": closure(_CITY),
        "area": closure(_AREA),
        "district": closure(_DISTRICT),
        "country": closure(_COUNTRY),
        "continent": closure(_CONTINENT),
        "top_continent": closure(_CONTINENT, last=True),
        "parent": {rid: v[0] for rid, v in rows.items()},
        "population": {rid: v[2] for rid, v in rows.items()},
    }
    _GEOBASE_NAMES = (
        {int(r["region_id"]): str(r["name"]) for r in names.collect()} if names is not None else {}
    )


def drop_geobase() -> None:
    global _GEOBASE, _GEOBASE_NAMES
    _GEOBASE = None
    _GEOBASE_NAMES = None


def _region_lookup(kind: str, x) -> Column:
    if _GEOBASE is None:
        raise ValueError(
            "no geobase registered — call functions.geo.register_geobase(df) "
            "(the path_to_regions_hierarchy_file analogue) first"
        )
    m = _GEOBASE[kind]
    key = col(x).cast("long")
    if not m:
        return F.lit(0).cast("long")
    pairs: list[Column] = []
    for k, v in m.items():
        pairs.append(F.lit(k).cast("long"))
        pairs.append(F.lit(v).cast("long"))
    return F.coalesce(F.element_at(F.create_map(*pairs), key), F.lit(0).cast("long"))


@chfn("regionToCity")
def regionToCity(x) -> Column:
    return _region_lookup("city", x)


@chfn("regionToArea")
def regionToArea(x) -> Column:
    return _region_lookup("area", x)


@chfn("regionToDistrict")
def regionToDistrict(x) -> Column:
    return _region_lookup("district", x)


@chfn("regionToCountry")
def regionToCountry(x) -> Column:
    return _region_lookup("country", x)


@chfn("regionToContinent")
def regionToContinent(x) -> Column:
    return _region_lookup("continent", x)


@chfn("regionToTopContinent")
def regionToTopContinent(x) -> Column:
    return _region_lookup("top_continent", x)


@chfn("regionToPopulation")
def regionToPopulation(x) -> Column:
    return _region_lookup("population", x)


@chfn("regionToName")
def regionToName(x) -> Column:
    if _GEOBASE_NAMES is None:
        raise ValueError("no geobase registered — call register_geobase(df, names) first")
    key = col(x).cast("long")
    if not _GEOBASE_NAMES:
        return F.lit("")
    pairs: list[Column] = []
    for k, v in _GEOBASE_NAMES.items():
        pairs.append(F.lit(k).cast("long"))
        pairs.append(F.lit(v))
    return F.coalesce(F.element_at(F.create_map(*pairs), key), F.lit(""))


@chfn("regionHierarchy")
def regionHierarchy(x) -> Column:
    """Ancestor chain including self, root-terminated (regionHierarchy in
    FunctionsEmbeddedDictionaries.h — the FunctionRegionsHierarchy arrayJoin
    feed)."""
    if _GEOBASE is None:
        raise ValueError("no geobase registered")
    parent = _GEOBASE["parent"]
    chains: dict[int, list[int]] = {}
    for rid in parent:
        chain, cur, hops = [], rid, 0
        while cur and cur in parent and hops < 64:
            chain.append(cur)
            cur = parent[cur]
            hops += 1
        chains[rid] = chain
    key = col(x).cast("long")
    if not chains:
        return F.array().cast("array<bigint>")
    pairs = []
    for k, v in chains.items():
        pairs.append(F.lit(k).cast("long"))
        pairs.append(F.array(*[F.lit(c).cast("long") for c in v]))
    return F.coalesce(F.element_at(F.create_map(*pairs), key), F.array().cast("array<bigint>"))


@chfn("regionIn")
def regionIn(child, ancestor) -> Column:
    """regionIn(a, b): is b in a's ancestor chain (including a == b)."""
    return F.array_contains(regionHierarchy(child), col(ancestor).cast("long")).cast("boolean")


# -- S2 cell-id subset: DataFrame-level builders delegating to the pandas
# UDF kernels of s2_udfs.py, built by _kernel_builder (geometry re-derived
# from the public s2geometry spec in s2_core.py; reference parity:
# src/Functions/geoToS2.cpp, s2ToGeo.cpp, s2GetNeighbors.cpp,
# s2CellsIntersect.cpp, s2Cap*.cpp, s2Rect*.cpp).

for _name, _params in (
    ("geoToS2", "lon lat"),
    ("s2ToGeo", "cell"),
    ("s2GetNeighbors", "cell"),
    ("s2CapContains", "center degrees point"),
    ("s2CapUnion", "c1 r1 c2 r2"),
    ("s2RectContains", "lo hi point"),
    ("s2RectAdd", "lo hi point"),
    ("s2RectUnion", "lo1 hi1 lo2 hi2"),
    ("s2RectIntersection", "lo1 hi1 lo2 hi2"),
):
    _kernel_builder(_name, _params)
