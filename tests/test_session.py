"""Session settings: the Spark defaults the engine relies on, the codegen
cache sized to the benchmark queries, and the warnings logged when a
runtime conf set is refused."""

from __future__ import annotations

import logging
import os
import shutil
import uuid
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as papq

from bench import HEADLINE
from clickhouse_23_3_19_32_lts_spark import engine, queries
from clickhouse_23_3_19_32_lts_spark.pipeline.spread import _parse_bytes
from clickhouse_23_3_19_32_lts_spark.queries import all_queries

# The 7 pipeline queries (perfbench's llm_dedup); the rest of HEADLINE is
# perfbench's olap_mix.
PIPELINE = [
    "q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_simhash", "q_ngram_jaccard",
    "q_embedding_near_dup", "q_ann_topk", "q_text_metrics",
]
OLAP = [q for q in HEADLINE if q not in PIPELINE]


def test_spark_defaults_the_engine_relies_on(spark):
    """session.py does not restate these Spark 4.1 defaults; a Spark upgrade
    that flips one must fail here, not silently lose AQE or pruning."""
    conf = spark.newSession().conf
    for key in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.parquet.filterPushdown",
        "spark.sql.optimizer.dynamicPartitionPruning.enabled",
    ):
        assert conf.get(key) == "true", key
    # spread._estimated_scan_tasks falls back to the same 128 MiB
    assert _parse_bytes(conf.get("spark.sql.files.maxPartitionBytes")) == 128 << 20


def test_warm_pass_compiles_nothing(spark, sf_dir):
    """Every generated class of the 25 benchmark queries stays in Spark's
    codegen cache, so a second pass compiles none. With Spark's 100-entry
    cache the second pass compiles hundreds again."""
    assert len(OLAP) == 18
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    built = all_queries()
    compiled = []
    for _ in range(2):
        before = metric.getCount()
        for name in OLAP + PIPELINE:
            built[name](spark, sf_dir).collect()
        compiled.append(metric.getCount() - before)
    assert compiled[1] == 0, compiled
    # the counter is live: a fresh literal is a fresh class
    before = metric.getCount()
    spark.range(3).selectExpr(f"id * {uuid.uuid4().int % 10**12}L AS x").collect()
    assert metric.getCount() > before


class _LockedSession:
    """The real session, except that its runtime conf refuses every set, as
    a session handed over by a locked-down driver may."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self.conf = SimpleNamespace(get=spark.conf.get, set=self._refuse)

    @staticmethod
    def _refuse(key, value):
        raise RuntimeError(f"cannot modify the value of {key}")

    def __getattr__(self, name):
        return getattr(self._spark, name)


def _warnings(caplog, module) -> list[str]:
    return [
        r.getMessage() for r in caplog.records
        if r.levelno == logging.WARNING and r.pathname == module.__file__
    ]


def test_refused_conf_warns_in_table_read(spark, sf_dir, tmp_path, caplog):
    shutil.copy(os.path.join(sf_dir, "region.parquet"), tmp_path / "region.parquet")
    with caplog.at_level(logging.WARNING, logger="clickhouse_23_3_19_32_lts_spark"):
        df = queries._t(_LockedSession(spark), str(tmp_path), "region")
    assert df.count() == 5
    got = _warnings(caplog, queries)
    assert len(got) == 2, got
    assert "spark.sql.session.timeZone=UTC refused" in got[0] and "region" in got[0]
    assert "spark.sql.ansi.enabled=false refused" in got[1]


def test_refused_nanos_conf_warns_in_parquet_read(spark, tmp_path, caplog):
    path = str(tmp_path / "ns.parquet")
    papq.write_table(
        pa.table({"ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))}),
        path,
    )
    with caplog.at_level(logging.WARNING, logger="clickhouse_23_3_19_32_lts_spark"):
        df = engine.read_parquet_table(_LockedSession(spark), path)
    # the conf was already on in this session, so the read still works
    assert df.count() == 1
    got = _warnings(caplog, engine)
    assert len(got) == 1, got
    assert "spark.sql.legacy.parquet.nanosAsLong=true refused" in got[0]
    assert path in got[0] and "'ts'" in got[0]
