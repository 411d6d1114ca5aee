"""The Python UDF catalog (functions/catalog.py): sessions start with none of
its UDFs, and a query registers the ones it names on first use."""

from __future__ import annotations

import gc
import json
import os
import subprocess
import sys
import weakref

import pytest

from clickhouse_23_3_19_32_lts_spark.engine import Engine
from clickhouse_23_3_19_32_lts_spark.functions import catalog

# The names get_spark registered eagerly before the catalog existed.
EAGER_NAMES = set("""
ch_base58_dec ch_base58_dec_strict ch_base58_enc ch_cityhash64_comb
ch_cityhash64_elems ch_cityhash64_fold ch_f64_str ch_farmfingerprint64_comb
ch_farmfingerprint64_elems ch_farmfingerprint64_fold ch_farmhash64_comb
ch_farmhash64_elems ch_farmhash64_fold ch_fmt_timedelta
ch_gccmurmurhash_comb ch_gccmurmurhash_elems ch_gccmurmurhash_fold
ch_halfmd5_comb ch_halfmd5_elems ch_halfmd5_fold ch_hivehash ch_inthash32
ch_inthash64 ch_ipv6_aton ch_ipv6_cidr_range ch_ipv6_expand ch_ipv6_ntoa
ch_javahash ch_jumpconsistenthash ch_metrohash64_comb ch_metrohash64_elems
ch_metrohash64_fold ch_murmurhash2_32_comb ch_murmurhash2_32_elems
ch_murmurhash2_32_fold ch_murmurhash2_64_comb ch_murmurhash2_64_elems
ch_murmurhash2_64_fold ch_murmurhash3_128_hex1 ch_murmurhash3_128_hex2
ch_murmurhash3_128_hex3 ch_murmurhash3_32_comb ch_murmurhash3_32_elems
ch_murmurhash3_32_fold ch_murmurhash3_64_comb ch_murmurhash3_64_elems
ch_murmurhash3_64_fold ch_siphash128_hex1 ch_siphash128_hex2
ch_siphash128_hex3 ch_siphash64_comb ch_siphash64_elems ch_siphash64_fold
chParseDT64BestEffort chParseDT64BestEffortOrNull chParseDT64BestEffortUS
chParseDT64BestEffortUSOrNull chParseDTBestEffort chParseDTBestEffortOrNull
chParseDTBestEffortUS chParseDTBestEffortUSOrNull fuzzBits geohashDecode
geohashEncode geohashesInBox geoToH3 geoToS2 h3CellAreaM2 h3CellAreaRads2
h3Distance h3ExactEdgeLengthKm h3ExactEdgeLengthM h3ExactEdgeLengthRads
h3GetDestinationIndexFromUnidirectionalEdge h3GetFaces
h3GetIndexesFromUnidirectionalEdge h3GetOriginIndexFromUnidirectionalEdge
h3GetUnidirectionalEdge h3GetUnidirectionalEdgeBoundary
h3GetUnidirectionalEdgesFromHexagon h3HexRing h3IndexesAreNeighbors h3kRing
h3Line h3ToGeo h3ToGeoBoundary h3UnidirectionalEdgeIsValid s2CapContains
s2CapUnion s2CellsIntersect s2GetNeighbors s2GetNeighbours s2RectAdd
s2RectContains s2RectIntersection s2RectUnion s2ToGeo
""".split())

# One function per former registrar, with the rows it returned when every
# UDF was registered eagerly.
QUERIES = {
    "SELECT cityHash64('abc', 1) AS h": "11074140453807316247",
    "SELECT geoToH3(37.79506683, 55.71290588, 15) AS h": "644325524701193974",
    "SELECT geoToS2(37.79506683, 55.71290588) AS s": "4704772434919038107",
    "SELECT parseDateTimeBestEffort('2019-02-03 10:11:12') AS t": "2019-02-03 10:11:12",
    "SELECT geohashEncode(-5.60302734375, 42.593994140625, 0) AS g": "ezs42d000000",
    "SELECT IPv6NumToString(IPv6StringToNum('2001:db8::1')) AS s": "2001:db8::1",
    "SELECT base58Encode('Hello World') AS b": "JxF12TrwUP45BMd",
    "SELECT jumpConsistentHash(256, 4) AS j": "3",
}


def test_catalog_holds_the_eager_names():
    assert len(catalog.CATALOG) == 97
    assert set(catalog.CATALOG) == EAGER_NAMES


def test_each_module_builds_its_catalog_names(spark):
    import importlib

    for mod in set(catalog.CATALOG.values()):
        built = importlib.import_module(
            f"clickhouse_23_3_19_32_lts_spark.functions.{mod}"
        ).make_udfs()
        assert set(built) == {n for n, m in catalog.CATALOG.items() if m == mod}, mod


@pytest.mark.parametrize("query", sorted(QUERIES))
def test_ch_sql_rows_unchanged(spark, query):
    rows = Engine(spark).ch_sql(query).collect()
    assert [str(v) for r in rows for v in r] == [QUERIES[query]]


def test_registration_is_per_session(spark):
    """A second session over the same context starts without the UDFs and
    registers them on its own first use."""
    other = spark.newSession()
    catalog.ensure_udfs(spark, ["geoToS2"])
    assert not other.catalog.functionExists("geoToS2")
    catalog.ensure_udfs(other, ["GEOTOS2", "not_in_catalog"])
    assert other.catalog.functionExists("geoToS2")
    assert [r[0] for r in other.sql("SELECT geoToS2(0.0, 0.0)").collect()] == [
        r[0] for r in spark.sql("SELECT geoToS2(0.0, 0.0)").collect()
    ]


def test_memo_dies_with_its_session(spark):
    """The memo holds no entry for a dead session, so a later session that
    reuses its id() starts unregistered.

    pyspark's RDD.toDF closes over the newest SparkSession object, so each
    new session stays alive until another is built; pointing toDF back at
    the fixture's session frees it. The gc.collect() before counting lets
    sessions earlier tests left in reference cycles die first, so the count
    moves only with ``other``."""
    from pyspark.sql.session import _monkey_patch_RDD

    _monkey_patch_RDD(spark)
    gc.collect()
    before = len(catalog._REGISTERED)
    other = spark.newSession()
    catalog.ensure_udfs(other, ["geoToS2"])
    assert len(catalog._REGISTERED) == before + 1
    dead = weakref.ref(other)
    del other
    _monkey_patch_RDD(spark)
    gc.collect()
    assert dead() is None
    assert len(catalog._REGISTERED) == before


def test_new_session_runs_ch_sql_and_builders(spark):
    """ch_sql registers on the session it runs on, not only on the active
    one, and a builder's UDF column resolves on any session."""
    from pyspark.sql import functions as F

    from clickhouse_23_3_19_32_lts_spark.functions.variants2 import (
        IPv6NumToString,
        IPv6StringToNum,
    )

    for query, want in QUERIES.items():
        other = spark.newSession()
        rows = Engine(other).ch_sql(query).collect()
        assert [str(v) for r in rows for v in r] == [want], query
    other = spark.newSession()
    df = other.range(1).select(IPv6NumToString(IPv6StringToNum(F.lit("2001:db8::1"))))
    assert df.first()[0] == "2001:db8::1"
    assert not other.catalog.functionExists("ch_ipv6_ntoa")


def test_failed_registration_names_the_udf(spark, monkeypatch):
    monkeypatch.setattr(catalog, "_UDFS", {})
    monkeypatch.setitem(catalog._BUILT, "sql_udfs", {"fuzzBits": object()})
    with pytest.raises(catalog.UdfRegistrationError, match="'fuzzBits'"):
        catalog.ensure_udfs(spark.newSession(), ["fuzzBits"])
    with pytest.raises(catalog.UdfRegistrationError, match="'fuzzBits'"):
        catalog.udf_call("fuzzBits", "x")


_FRESH_SESSIONS = r"""
import json, sys
from clickhouse_23_3_19_32_lts_spark.engine import Engine
from clickhouse_23_3_19_32_lts_spark.session import get_spark

out = []
for _ in range(2):
    spark = get_spark(app_name="udf-catalog", shuffle_partitions=2)
    fresh = spark.catalog.functionExists("geoToH3")
    rows = Engine(spark).ch_sql(sys.argv[1]).collect()
    out.append({"fresh": fresh, "rows": [str(v) for r in rows for v in r]})
    spark.stop()
print(json.dumps(out))
"""


def test_fresh_sessions_register_on_first_use():
    """get_spark registers nothing, and a session built after stop() gets
    the UDFs again on first use — in a JVM of its own, so the shared test
    session stays up."""
    query = "SELECT geoToH3(37.79506683, 55.71290588, 15) AS h"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g",
           "PYTHONPATH": repo}
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH_SESSIONS, query],
        capture_output=True, text=True, timeout=600, cwd=repo, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    runs = json.loads(proc.stdout.strip().splitlines()[-1])
    assert runs == [{"fresh": False, "rows": [QUERIES[query]]}] * 2
