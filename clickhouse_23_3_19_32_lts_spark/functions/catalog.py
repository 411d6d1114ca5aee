"""The Python UDF catalog: every SQL-callable pandas UDF, by name.

ClickHouse registers each function once per server process
(REGISTER_FUNCTION into FunctionFactory, SURVEY §2.8), so a session costs
nothing per function. The kernels below have no closed-form Catalyst
expression, so they run as pandas UDFs that a Spark session must register
by name before SQL can call them — about 20 py4j round trips and one
cloudpickle each. A session therefore registers only the names its queries
use: ``dialect.translate``, ``dialect.ch_sql`` and ``udf.create_sql_function``
pass the names in the SQL they emit to ``ensure_udfs``, which registers those
the session still lacks. DataFrame builders need no registration: ``udf_call``
applies the UDF object itself, which resolves on any session.
"""

from __future__ import annotations

import importlib
import weakref

from pyspark.sql import Column, SparkSession
from pyspark.sql.udf import _create_udf

from clickhouse_23_3_19_32_lts_spark.functions.registry import col

_HASH_FAMILIES = (
    "cityhash64 siphash64 halfmd5 murmurhash2_32 murmurhash2_64 gccmurmurhash "
    "murmurhash3_32 murmurhash3_64 farmhash64 farmfingerprint64 metrohash64"
).split()

# module under functions/ -> the names its make_udfs() builds
_SOURCES: dict[str, list[str]] = {
    "sql_udfs": "geohashEncode geohashDecode geohashesInBox fuzzBits".split(),
    "chhash": [f"ch_{fam}_{part}" for fam in _HASH_FAMILIES
               for part in ("elems", "fold", "comb")]
    + """ch_inthash32 ch_inthash64 ch_siphash128_hex1 ch_siphash128_hex2
    ch_siphash128_hex3 ch_murmurhash3_128_hex1 ch_murmurhash3_128_hex2
    ch_murmurhash3_128_hex3 ch_javahash ch_hivehash ch_jumpconsistenthash""".split(),
    "h3_udfs": """ch_f64_str geoToH3 h3ToGeo h3ToGeoBoundary h3kRing h3HexRing
    h3Distance h3Line h3IndexesAreNeighbors h3GetFaces h3CellAreaRads2
    h3CellAreaM2 h3GetUnidirectionalEdge h3GetOriginIndexFromUnidirectionalEdge
    h3GetDestinationIndexFromUnidirectionalEdge h3GetIndexesFromUnidirectionalEdge
    h3GetUnidirectionalEdgesFromHexagon h3UnidirectionalEdgeIsValid
    h3GetUnidirectionalEdgeBoundary h3ExactEdgeLengthRads h3ExactEdgeLengthKm
    h3ExactEdgeLengthM""".split(),
    "s2_udfs": """geoToS2 s2ToGeo s2GetNeighbors s2GetNeighbours s2CellsIntersect
    s2CapContains s2CapUnion s2RectContains s2RectAdd s2RectUnion
    s2RectIntersection""".split(),
    "besteffort_udfs": """chParseDTBestEffort chParseDTBestEffortOrNull
    chParseDTBestEffortUS chParseDTBestEffortUSOrNull chParseDT64BestEffort
    chParseDT64BestEffortOrNull chParseDT64BestEffortUSOrNull
    chParseDT64BestEffortUS""".split(),
    "variants2": """ch_ipv6_expand ch_ipv6_ntoa ch_ipv6_aton ch_ipv6_cidr_range
    ch_base58_enc ch_base58_dec ch_base58_dec_strict ch_fmt_timedelta""".split(),
}

CATALOG: dict[str, str] = {n: mod for mod, names in _SOURCES.items() for n in names}
# Spark resolves function names case-insensitively
_BY_LOWER = {n.lower(): n for n in CATALOG}

_BUILT: dict[str, dict] = {}  # module -> its make_udfs(), built once per process
_UDFS: dict[str, object] = {}  # name -> its UDF object, named by its SQL name
# session -> names registered on it. Weak keys tie the memo to the live
# session object: a session built after stop() starts empty even when it
# reuses a dead session's id().
_REGISTERED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


class UdfRegistrationError(RuntimeError):
    """A catalog UDF could not be built or registered; names the UDF."""


def _udf(name: str):
    """The UDF object of catalog name ``name``. It carries that name, so a
    builder's Column renders to SQL that calls the catalog name."""
    u = _UDFS.get(name)
    if u is None:
        mod = CATALOG[name]
        try:
            if mod not in _BUILT:
                _BUILT[mod] = importlib.import_module(
                    f"clickhouse_23_3_19_32_lts_spark.functions.{mod}"
                ).make_udfs()
            k = _BUILT[mod][name]
            u = _create_udf(k.func, k.returnType, k.evalType, name=name,
                            deterministic=k.deterministic)
        except Exception as exc:
            raise UdfRegistrationError(f"building Python UDF {name!r} failed: {exc}") from exc
        _UDFS[name] = u
    return u


def catalog_names(names) -> set[str]:
    """The catalog names among ``names``, spelled as the catalog spells them
    (Spark resolves function names case-insensitively)."""
    return {_BY_LOWER[n.lower()] for n in names if n.lower() in _BY_LOWER}


def ensure_udfs(spark: SparkSession, names) -> None:
    """Register on ``spark`` the catalog UDFs among ``names`` it still lacks.
    Names outside the catalog are ignored."""
    done = _REGISTERED.setdefault(spark, set())
    for name in sorted(catalog_names(names) - done):
        u = _udf(name)
        try:
            spark.udf.register(name, u)
        except Exception as exc:
            raise UdfRegistrationError(f"registering Python UDF {name!r} failed: {exc}") from exc
        done.add(name)


def udf_call(name: str, *args) -> Column:
    """Column applying catalog UDF ``name`` to ``args``, on any session."""
    return _udf(name)(*[col(a) for a in args])
