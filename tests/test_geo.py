"""H3 index math + regionTo* geobase functions (src/Functions/h3*.cpp,
FunctionsEmbeddedDictionaries.h). Expected values are from the public H3 v3
spec/docs (known index 0x8928308280fffff = res-9 cell over San Francisco,
used throughout H3's own documentation)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions import geo as G
from tests.test_golden_corpus import BASE as REF_TESTS

SF_CELL = 0x8928308280FFFFF  # res 9, base cell 20
RES0 = 0x8029FFFFFFFFFFF  # base cell 20 at res 0
PENT = 0x8009FFFFFFFFFFF  # base cell 4 (pentagon) at res 0


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_h3_resolution_base_cell(spark):
    assert _one(spark, G.h3GetResolution(F.lit(SF_CELL))) == 9
    assert _one(spark, G.h3GetBaseCell(F.lit(SF_CELL))) == 20
    assert _one(spark, G.h3GetResolution(F.lit(RES0))) == 0


def test_h3_is_valid(spark):
    assert _one(spark, G.h3IsValid(F.lit(SF_CELL))) is True
    assert _one(spark, G.h3IsValid(F.lit(RES0))) is True
    assert _one(spark, G.h3IsValid(F.lit(0))) is False
    assert _one(spark, G.h3IsValid(F.lit(SF_CELL + 1))) in (True, False)  # total fn
    # mode != 1 invalid
    assert _one(spark, G.h3IsValid(F.lit(SF_CELL & ~(15 << 59)))) is False


def test_h3_pentagon(spark):
    assert _one(spark, G.h3IsPentagon(F.lit(PENT))) is True
    assert _one(spark, G.h3IsPentagon(F.lit(SF_CELL))) is False
    arr = _one(spark, G.h3GetPentagonIndexes(F.lit(0)))
    assert len(arr) == 12 and PENT in arr
    # pentagons at res 9: still 12, all valid, all pentagons
    arr9 = _one(spark, G.h3GetPentagonIndexes(F.lit(9)))
    assert len(arr9) == 12
    df = spark.createDataFrame([(int(x),) for x in arr9], "h long")
    checked = df.select(G.h3IsValid("h").alias("v"), G.h3IsPentagon("h").alias("p")).collect()
    assert all(r["v"] and r["p"] for r in checked)


def test_h3_parent_center_child_roundtrip(spark):
    parent = _one(spark, G.h3ToParent(F.lit(SF_CELL), F.lit(0)))
    assert parent == RES0
    # center child of the parent at res 9 has all digits 0 — re-parenting
    # any child back to res 0 recovers the base cell index
    cc = _one(spark, G.h3ToCenterChild(F.lit(RES0), F.lit(3)))
    assert _one(spark, G.h3GetResolution(F.lit(cc))) == 3
    assert _one(spark, G.h3ToParent(F.lit(cc), F.lit(0))) == RES0
    assert _one(spark, G.h3IsValid(F.lit(cc))) is True


def test_h3_children(spark):
    kids = _one(spark, G.h3ToChildren(F.lit(RES0), F.lit(1)))
    assert len(kids) == 7  # hexagon: 7 children
    df = spark.createDataFrame([(int(x),) for x in kids], "h long")
    assert all(r["v"] for r in df.select(G.h3IsValid("h").alias("v")).collect())
    back = df.select(G.h3ToParent("h", F.lit(0)).alias("p")).collect()
    assert all(r["p"] == RES0 for r in back)
    # pentagon: 6 children (K axis deleted)
    pkids = _one(spark, G.h3ToChildren(F.lit(PENT), F.lit(1)))
    assert len(pkids) == 6
    # two levels down: 7^2 = 49 for hexagon, 6*7 = ... pentagon subtree = 1
    # center (pentagon, 6 kids) + 5 hex subtrees... spec: 7^2 - 7 + 1... use
    # counts from libh3: children(pentagon, +2) = 41
    pkids2 = _one(spark, G.h3ToChildren(F.lit(PENT), F.lit(2)))
    assert len(pkids2) == 41


def test_h3_string_roundtrip(spark):
    s = _one(spark, G.h3ToString(F.lit(SF_CELL)))
    assert s == "8928308280fffff"
    assert _one(spark, G.stringToH3(F.lit(s))) == SF_CELL


def test_h3_tables(spark):
    assert _one(spark, G.h3NumHexagons(F.lit(0))) == 122
    assert _one(spark, G.h3NumHexagons(F.lit(15))) == 2 + 120 * 7**15
    assert len(_one(spark, G.h3GetRes0Indexes())) == 122
    assert _one(spark, G.h3EdgeLengthKm(F.lit(0))) == pytest.approx(1107.712591)
    assert _one(spark, G.h3EdgeLengthM(F.lit(5))) == pytest.approx(8544.408276)
    assert _one(spark, G.h3HexAreaKm2(F.lit(2))) == pytest.approx(86745.85403)
    assert _one(spark, G.h3EdgeAngle(F.lit(0))) == pytest.approx(
        8.99320592271288084e-6 * 1107712.591
    )


def test_s2_cells_intersect(spark):
    # a cell intersects itself, its parent (id ranges nest), not a sibling
    parent = (0x3 << 60) | (1 << 40)  # coarse cell, lsb at bit 40
    child = (0x3 << 60) | (1 << 40) - (1 << 38) + (1 << 30)  # inside parent range
    other = (0x2 << 60) | (1 << 40)
    assert _one(spark, G.s2CellsIntersect(F.lit(parent), F.lit(parent))) is True
    assert _one(spark, G.s2CellsIntersect(F.lit(parent), F.lit(child))) is True
    assert _one(spark, G.s2CellsIntersect(F.lit(child), F.lit(parent))) is True
    assert _one(spark, G.s2CellsIntersect(F.lit(parent), F.lit(other))) is False


@pytest.fixture()
def geobase(spark):
    # 10=Eurasia(continent) > 20=Russia(country) > 30=Moscow-area(area) >
    # 40=Moscow(city); 50=NAmerica(continent)
    rows = [
        (10, 0, 1, 5_000_000_000),
        (20, 10, 3, 140_000_000),
        (30, 20, 5, 20_000_000),
        (40, 30, 6, 12_000_000),
        (50, 0, 1, 600_000_000),
    ]
    df = spark.createDataFrame(rows, "region_id long, parent_id long, type int, population long")
    names = spark.createDataFrame(
        [(10, "Eurasia"), (20, "Russia"), (30, "Moscow area"), (40, "Moscow"), (50, "North America")],
        "region_id long, name string",
    )
    G.register_geobase(df, names)
    yield
    G.drop_geobase()


def test_region_functions(spark, geobase):
    df = spark.createDataFrame([(40,), (30,), (10,), (999,)], "r long")
    out = {
        r["r"]: r
        for r in df.select(
            "r",
            G.regionToCity("r").alias("city"),
            G.regionToCountry("r").alias("country"),
            G.regionToContinent("r").alias("cont"),
            G.regionToTopContinent("r").alias("top"),
            G.regionToPopulation("r").alias("pop"),
            G.regionToName("r").alias("name"),
        ).collect()
    }
    assert out[40]["city"] == 40 and out[40]["country"] == 20 and out[40]["cont"] == 10
    assert out[30]["city"] == 0 and out[30]["country"] == 20
    assert out[10]["country"] == 0 and out[10]["cont"] == 10 and out[10]["top"] == 10
    assert out[999]["city"] == 0 and out[999]["name"] == ""
    assert out[40]["pop"] == 12_000_000 and out[40]["name"] == "Moscow"


def test_region_hierarchy_in(spark, geobase):
    df = spark.createDataFrame([(40,)], "r long")
    row = df.select(
        G.regionHierarchy("r").alias("h"),
        G.regionIn("r", F.lit(10)).alias("in_eurasia"),
        G.regionIn("r", F.lit(50)).alias("in_na"),
    ).collect()[0]
    assert row["h"] == [40, 30, 20, 10]
    assert row["in_eurasia"] is True and row["in_na"] is False


def test_point_in_polygon_boundary_inclusive(spark):
    from pyspark.sql import functions as F

    from clickhouse_23_3_19_32_lts_spark.functions.registry import REGISTRY

    ring = F.array(
        *[
            F.struct(F.lit(float(x)).alias("_1"), F.lit(float(y)).alias("_2"))
            for x, y in [(0, 0), (8, 0), (4, 8), (0, 0)]
        ]
    )
    cases = [
        ((2.0, 2.0), True),   # interior
        ((4.0, 8.0), True),   # vertex
        ((6.0, 4.0), True),   # on the right edge y = -2x + 16
        ((2.0, 4.0), True),   # on the left edge y = 2x
        ((4.0, 0.0), True),   # on the bottom edge
        ((9.0, 0.0), False),  # outside right
        ((4.0, 8.5), False),  # above apex
    ]
    df = spark.createDataFrame([p for p, _ in cases], "x double, y double")
    point = F.struct(F.col("x").alias("_1"), F.col("y").alias("_2"))
    got = [bool(r[0]) for r in df.select(REGISTRY["pointInPolygon"](point, ring)).collect()]
    assert got == [w for _, w in cases]


# --- H3 projection core (h3_core.py) — validated against the reference's
# own stateless vectors (01042, 01906, 02006, 02292, 02293) ----------------


@pytest.mark.skipif(
    not os.path.isdir(REF_TESTS),
    reason="reference test corpus not present: libh3 reference-vector coverage lost",
)
def test_h3_core_kring_libh3_vectors():
    import re

    from clickhouse_23_3_19_32_lts_spark.functions import h3_core as h3

    base = "/root/reference/tests/queries/0_stateless/01042_h3_k_ring"
    sql = open(base + ".sql").read()
    ref = open(base + ".reference").read().strip().split("\n")
    pairs = sorted(
        (int(a), int(b))
        for a, b in re.findall(r"VALUES \((\d+),(\d+)\)", sql)
    )
    for (h, k), line in zip(pairs, ref[4:20]):
        exp = sorted(int(x) for x in line.strip("[]").split(","))
        assert sorted(h3.k_ring(h, k)) == exp, (h, k)


def test_h3_core_kring_pentagon_hash_order():
    # libh3 v3 _kRingInternal hash-slot order (02223 prints it raw)
    from clickhouse_23_3_19_32_lts_spark.functions import h3_core as h3

    got = h3.k_ring(579205133326352383, 1)
    assert got == [
        579275502070530047, 579768083279773695, 578888473977552895,
        579662530163507199, 579205133326352383, 578466261512486911,
        578712552117108735,
    ]


def test_h3_core_geo_roundtrip_and_neighbors():
    import math
    import random

    from clickhouse_23_3_19_32_lts_spark.functions import h3_core as h3

    random.seed(11)
    for _ in range(300):
        lat = math.degrees(math.asin(random.uniform(-1, 1)))
        lng = random.uniform(-180, 180)
        res = random.randint(0, 15)
        c = h3.geo_to_h3(lat, lng, res)
        la, lo = h3.h3_to_geo(c)
        assert h3.geo_to_h3(la, lo, res) == c
        # neighbor symmetry
        for dr in range(1, 7):
            try:
                nb, _ = h3._h3_neighbor_rotations(c, dr, 0)
            except h3.PentagonDistortion:
                continue
            back = set()
            for dr2 in range(1, 7):
                try:
                    back.add(h3._h3_neighbor_rotations(nb, dr2, 0)[0])
                except h3.PentagonDistortion:
                    continue
            assert c in back


@pytest.mark.skipif(
    not os.path.isdir(REF_TESTS),
    reason="reference test corpus not present: libh3 reference-vector coverage lost",
)
def test_h3_core_boundary_vectors():
    import re

    from clickhouse_23_3_19_32_lts_spark.functions import h3_core as h3

    base = "/root/reference/tests/queries/0_stateless/02006_h3_to_geo_boundary"
    cells = sorted(
        int(m)
        for m in re.findall(r"VALUES \((\d+)\)", open(base + ".sql").read())
    )
    for h, line in zip(cells, open(base + ".reference").read().split("\n")):
        exp = [
            (float(a), float(b))
            for a, b in re.findall(r"\(([-\d.]+),([-\d.]+)\)", line)
        ]
        got = h3.h3_to_geo_boundary(h)
        assert len(got) == len(exp)
        for g, e in zip(got, exp):
            assert abs(g[0] - e[0]) <= 0.011 and abs(g[1] - e[1]) <= 0.011


def test_h3_core_edges_and_distance():
    from clickhouse_23_3_19_32_lts_spark.functions import h3_core as h3

    e = 1248204388774707199
    assert h3.edge_origin(e) == 599686042433355775
    assert h3.edge_destination(e) == 599686043507097599
    assert h3.edge_destination(1248204388774707197) == 599686043507097597
    assert h3.edge_origin(599686042433355775) == 0  # cell mode -> 0
    assert h3.cells_to_edge(599686042433355775, 599686043507097599) == e
    assert h3.edge_is_valid(e) and not h3.edge_is_valid(e - 2)
    # 02293 vectors: CH h3Distance = gridPathCellsSize = distance + 1
    for a, b, want in (
        (0x830631FFFFFFFFF, 0x830780FFFFFFFFF, 7),
        (0x8301A6FFFFFFFFF, 0x830014FFFFFFFFF, 9),
        (0x8301A5FFFFFFFFF, 0x830B49FFFFFFFFF, 13),
    ):
        assert h3.grid_distance(a, b) + 1 == want
        assert len(h3.grid_path(a, b)) == want


def test_h3_core_pentagon_boundary_shape():
    from clickhouse_23_3_19_32_lts_spark.functions import h3_core as h3

    for bc in sorted(h3.PENTAGON_CELLS):
        for res in (0, 1, 2):
            hp = h3._make_h3(res, bc, [0] * 15)
            b = h3.h3_to_geo_boundary(hp)
            assert len(b) == (10 if res % 2 else 5), (bc, res)


def test_s2_core_reference_vectors():
    """Reference stateless vectors: 01849_geoToS2, 01851-01854."""
    from clickhouse_23_3_19_32_lts_spark.functions import s2_core as S

    # 01851_s2_to_geo
    assert S.s2_to_geo(4573520603753570041) == (55.779227241803866, 37.63098046233757)
    assert S.s2_to_geo(4573517609713934091) == (55.76324102676383, 37.660183005258276)
    # 01849_geoToS2 leaf round-trips (geoToS2(lon, lat) -> printed leaf id)
    for lon, lat, want in (
        (-19.826140, -41.192912, 145638248314527735),
        (125.938503, 25.519362, 3814912406305146887),
        (-89.810962, -57.013984, 13606307743304496003),
        (5.161979, -46.718242, 13251733624047612511),
    ):
        assert S.geo_to_s2(lon, lat) == want
    assert S.geo_to_s2(1.8446744073709552e19, 1.8446744073709552e19) == 4864204703484167331
    # 01852_s2_get_neighbours
    assert S.get_edge_neighbors(5074766849661468672) == [
        5074766987100422144, 5074766712222515200,
        5074767536856236032, 5074767261978329088,
    ]
    # 01853_s2_cells_intersect
    assert S.cells_intersect(9926595209846587392, 9926594385212866560)
    assert not S.cells_intersect(9926595209846587392, 9937259648002293760)
    # 01854 caps
    assert S.cap_contains(1157339245694594829, 1.0, 1157347770437378819)
    assert not S.cap_contains(1157339245694594829, 1.0, 1152921504606846977)
    assert S.cap_contains(1157339245694594829, 3.14, 1157339245694594829)
    assert S.cap_union(3814912406305146967, 1.0, 1157347770437378819, 1.0) == (
        4534655147792050737, 60.2088283994957,
    )
    assert S.cap_union(1157339245694594829, -1.0, 1152921504606846977, -1.0) == (
        1157339245694594829, -57.29577951308232,
    )
    # error paths (serverError 36 / 43 in the reference)
    import pytest

    with pytest.raises(ValueError):
        S.s2_to_geo((1 << 64) - 1)
    with pytest.raises(ValueError):
        S.cells_intersect(9926595209846587392, 9223372036854775806)
    with pytest.raises(ValueError):
        S.geo_to_s2(float("nan"), float("nan"))
    with pytest.raises(ValueError):
        S.geo_to_s2(float("-inf"), 1.1754943508222875e-38)


def test_s2_rect_functions():
    """s2Rect* sanity: add/contains/union/intersection are consistent."""
    from clickhouse_23_3_19_32_lts_spark.functions import s2_core as S

    lo = S.geo_to_s2(10.0, 10.0)
    hi = S.geo_to_s2(20.0, 20.0)
    inside = S.geo_to_s2(15.0, 15.0)
    outside = S.geo_to_s2(40.0, 40.0)
    assert S.rect_contains(lo, hi, inside)
    assert not S.rect_contains(lo, hi, outside)
    lo2, hi2 = S.rect_add(lo, hi, outside)
    assert S.rect_contains(lo2, hi2, outside)
    ulo, uhi = S.rect_union(lo, hi, lo2, hi2)
    assert S.rect_contains(ulo, uhi, inside) and S.rect_contains(ulo, uhi, outside)
    ilo, ihi = S.rect_intersection(lo, hi, lo2, hi2)
    assert S.rect_contains(ilo, ihi, inside)
