"""Scale-adaptive input spreading for CPU-heavy map stages.

The pipeline operators (shingle explode + md5, SimHash bit votes, vector
distances, text metrics) do orders of magnitude more CPU work per input row
than they do I/O. When the input scan yields fewer partitions than the
cluster has task slots — single-row-group parquet files, one fat gzip, a
tiny-but-expensive corpus sample — the whole map stage serializes onto one
core while the rest idle (guide §2.5 "input skew", §2.6 stragglers).

`spread()` repartitions such an input up to the default parallelism, keyed
on the row id (deterministic under task retry — guide §2.5 warns against
rand()-derived keys). Apply it where per-row work dominates by orders of
magnitude (shingle+md5 explode, centroid-distance batteries, regex-heavy
text metrics); skip it where the shuffle costs more than it parallelizes
(plain aggregations, broadcast-probe scorers like brute-force top-k —
measured 0.74s -> 0.97s WITH spread there). It is a NO-OP whenever the scan is already at least
as parallel as the cluster: at 100 TB a fact-table scan has thousands of
splits, so no payload shuffle is ever added at scale — this only moves
kilobytes-to-megabytes in the small-corpus regime where one straggler task
would otherwise own the whole stage.

Deliberately NOT applied to cheap-per-row scans (TPC-H aggregations):
shuffling rows whose downstream work is a comparison and an add costs more
than the decode itself (measured r9: lineitem agg 0.27s single-task vs
1.43s repartitioned — the payload shuffle dominates; shingle+md5 explode
2.09s single-task vs 0.39s spread).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark import log

_SIZE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(conf: str, default: int = 128 * 1024 * 1024) -> int:
    """Parse a Spark size conf ('134217728', '134217728b', '128m', '1g',
    '128MB', '1.5g'). Returns `default` on anything unrecognized rather than
    falling through to an expensive plan-conversion fallback."""
    m = re.fullmatch(r"\s*(\d+(?:\.\d*)?|\.\d+)\s*([kmgt]?)b?\s*", conf, re.IGNORECASE)
    if not m:
        return default
    return int(float(m.group(1)) * _SIZE_SUFFIX.get(m.group(2).lower(), 1))


def _estimated_scan_tasks(df: DataFrame, target: int) -> int:
    """Upper-bound estimate of the scan's parallelism from its input files:
    sum(ceil(file_size / maxPartitionBytes)). Cheap (one py4j call + stat;
    `.rdd.getNumPartitions()` would cost ~200 ms of plan conversion per
    query build). Errs high for single-row-group files bigger than one
    split — acceptable: the guard then skips the repartition, which is the
    conservative direction at scale. Short-circuits at `target`: at 100 TB
    the file list has 10^5-10^6 entries and the answer is known after the
    first handful, so the stat loop must not walk (or even materialize
    per-entry work over) the whole list. An EMPTY file list (in-memory
    sources: createDataFrame, range) is reported as "unknown" via
    ValueError so the caller uses the exact partition count instead of
    pointlessly re-shuffling an already-parallel input."""
    import os

    spark = df.sparkSession
    max_pb = _parse_bytes(
        spark.conf.get(
            "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
        )
    )
    files = df.inputFiles()
    if not files:
        raise ValueError("no input files — parallelism unknown")
    tasks = 0
    for f in files:
        path = f[len("file:"):] if f.startswith("file:") else f
        try:
            size = os.path.getsize(path)
        except OSError:
            return 1 << 30  # non-local storage: assume parallel enough
        tasks += max(1, -(-size // max_pb))
        if tasks >= target:  # early exit: answer already decided
            return tasks
    return tasks


def _spread_target(df: DataFrame) -> int | None:
    """The partition count to spread `df` to, or None when its input files
    already yield at least the session's default parallelism in scan
    tasks."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if _estimated_scan_tasks(df, target) >= target:
            return None
    except Exception as e:  # noqa: BLE001 — non-file plans: fall back to the exact count
        log.warning("spread: scan-task estimate failed (%s); counting partitions instead", e)
        if df.rdd.getNumPartitions() >= target:
            return None
    return target


def spread(df: DataFrame, key: str | Column | None = None) -> DataFrame:
    """Repartition `df` to the session's default parallelism when (and only
    when) its input files yield fewer scan tasks — the cheap-input /
    expensive-map case. Keyed on `key` when given (deterministic placement
    under retries); round-robin otherwise."""
    target = _spread_target(df)
    if target is None:
        return df
    if key is not None:
        return df.repartition(target, F.col(key) if isinstance(key, str) else key)
    return df.repartition(target)


def spread_sql(df: DataFrame, key: str, rel: str) -> str:
    """The SQL relation `rel` (which reads `df`) spread as spread(df, key)
    spreads `df`: under a REPARTITION hint, which plans the same
    repartition without building an intermediate DataFrame, or `rel`
    itself when no spread is needed."""
    target = _spread_target(df)
    if target is None:
        return rel
    return f"(SELECT /*+ REPARTITION({target}, `{key}`) */ * FROM {rel})"
