"""Unit tests for pipeline/spread.py guard hardening and the engine
read-path memo (round-10 VERDICT items 7/8 + ADVICE fixes)."""

from __future__ import annotations

import logging
import os
import shutil

import pytest

from clickhouse_23_3_19_32_lts_spark import engine
from clickhouse_23_3_19_32_lts_spark.engine import read_parquet_table
from clickhouse_23_3_19_32_lts_spark.pipeline.spread import (
    _estimated_scan_tasks,
    _parse_bytes,
    spread,
)


def test_parse_bytes_forms():
    assert _parse_bytes("134217728") == 128 * 1024 * 1024
    assert _parse_bytes("134217728b") == 128 * 1024 * 1024
    assert _parse_bytes("128m") == 128 * 1024 * 1024
    assert _parse_bytes("128MB") == 128 * 1024 * 1024
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("64k") == 64 * 1024
    # fractional sizes scale by the suffix instead of falling to the default
    assert _parse_bytes("1.5g") == 3 << 29
    assert _parse_bytes("0.5m") == 512 * 1024
    assert _parse_bytes("2.25K") == 2304
    # unrecognized input -> numeric default, never an exception
    assert _parse_bytes("whatever") == 128 * 1024 * 1024


def test_spread_inmemory_already_parallel_is_noop(spark):
    """df.inputFiles() is [] for in-memory sources; the guard must fall back
    to the exact partition count instead of unconditionally re-shuffling an
    already-parallel input (round-9 ADVICE)."""
    target = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, target + 2)
    out = spread(df, "id")
    assert out is df  # untouched: no repartition node added


def test_spread_fallback_warns(spark, caplog):
    df = spark.range(0, 10, 1, 1)
    with caplog.at_level(logging.WARNING, logger="clickhouse_23_3_19_32_lts_spark"):
        spread(df, "id")
    got = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert len(got) == 1, got
    assert "spread: scan-task estimate failed (no input files" in got[0]


def test_spread_inmemory_narrow_is_repartitioned(spark):
    target = spark.sparkContext.defaultParallelism
    if target <= 1:
        pytest.skip("needs parallelism > 1")
    df = spark.range(0, 1000, 1, 1)
    out = spread(df, "id")
    assert out is not df
    assert out.rdd.getNumPartitions() == target


def test_estimated_scan_tasks_early_exit(spark, sf_dir):
    df = read_parquet_table(spark, os.path.join(sf_dir, "lineitem.parquet"))
    # target=1: must return >= 1 immediately without walking every file
    assert _estimated_scan_tasks(df, 1) >= 1
    # empty-file-list inputs raise (caller falls back to partition count)
    with pytest.raises(Exception):
        _estimated_scan_tasks(spark.range(10), 8)


def test_read_memo_reinfers_on_rewrite(spark, sf_dir, tmp_path):
    """The read memo keys on the file stat: rewriting the file (new
    mtime/size) must re-infer — never serve the stale handle — and must
    replace the path's entry, not add one."""
    src = os.path.join(sf_dir, "region.parquet")
    p = str(tmp_path / "t.parquet")
    shutil.copyfile(src, p)
    n_entries = len(engine._READS)
    df1 = read_parquet_table(spark, p)
    assert read_parquet_table(spark, p) is df1  # stat unchanged -> same handle
    # rewrite with different content (nation has a different schema)
    shutil.copyfile(os.path.join(sf_dir, "nation.parquet"), p)
    os.utime(p, ns=(1, 1))  # force a distinct mtime even on coarse clocks
    df2 = read_parquet_table(spark, p)
    assert df2 is not df1
    assert df2.schema != df1.schema
    assert len(engine._READS) == n_entries + 1


def test_read_memo_other_session(spark, sf_dir, tmp_path):
    """Another session with the same stat gets its own handle (never one
    made by a different session) but reuses the memoized schema: no
    footer-reading inference job runs for it."""
    p = str(tmp_path / "t.parquet")
    shutil.copyfile(os.path.join(sf_dir, "region.parquet"), p)
    sc = spark.sparkContext

    def jobs(group, read):
        sc.setJobGroup(group, group)
        try:
            df = read()
        finally:
            sc._jsc.clearJobGroup()
        return df, list(sc.statusTracker().getJobIdsForGroup(group))

    df1, inferred = jobs("read-memo-first", lambda: read_parquet_table(spark, p))
    assert inferred  # inference runs a job, so its absence below means reuse
    other = spark.newSession()
    df2, reused = jobs("read-memo-other", lambda: read_parquet_table(other, p))
    assert df2 is not df1
    assert df2.sparkSession is other
    assert df2.schema == df1.schema
    assert reused == []


def test_read_memo_directory_part_rewrite(spark, sf_dir, tmp_path):
    """Directory tables: an in-place rewrite of a contained part file need
    not change the directory stat — the key folds in every part's stat
    (round-9 VERDICT item 8)."""
    d = tmp_path / "tbl"
    d.mkdir()
    shutil.copyfile(os.path.join(sf_dir, "region.parquet"), d / "part-0.parquet")
    os.utime(d, ns=(3, 3))  # pin the dir stat: only the part stat may differ
    df1 = read_parquet_table(spark, str(d))
    shutil.copyfile(os.path.join(sf_dir, "nation.parquet"), d / "part-0.parquet")
    os.utime(d / "part-0.parquet", ns=(2, 2))
    os.utime(d, ns=(3, 3))
    df2 = read_parquet_table(spark, str(d))
    assert df2 is not df1
    assert df2.schema != df1.schema


def test_read_memo_partitioned_append(spark, sf_dir, tmp_path):
    """A Hive-partitioned directory reads, and a file appended inside a
    partition is seen on the next read even though no directory mtime
    moves and the new file is neither newer nor larger than the old."""
    d = tmp_path / "tbl"
    part = d / "p=1"
    part.mkdir(parents=True)
    src = os.path.join(sf_dir, "region.parquet")
    shutil.copyfile(src, part / "part-0.parquet")
    for x in (part, d):
        os.utime(x, ns=(3, 3))
    df1 = read_parquet_table(spark, str(d))
    assert "p" in df1.columns
    n = df1.count()
    shutil.copyfile(src, part / "part-1.parquet")
    os.utime(part / "part-1.parquet", ns=(1, 1))
    for x in (part, d):
        os.utime(x, ns=(3, 3))
    df2 = read_parquet_table(spark, str(d))
    assert df2 is not df1
    assert df2.count() == 2 * n
