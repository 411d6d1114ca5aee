"""SparkSession construction tuned for this engine.

Local test profile: one JVM, ``local[N]`` threads. Cluster profile: the same
settings minus driver-memory. ``DEFAULT_CONFS`` holds only what differs from
Spark 4.1's defaults: UTC session time zone (oracle comparability), ANSI off
(ClickHouse wraps integer overflow silently — SURVEY.md §1.3), Arrow enabled
for the pandas-UDF path, and a generated-class cache sized to the engine's
codegen working set. AQE, predicate pushdown and dynamic partition pruning
are Spark's defaults; ``tests/test_session.py`` fails if a Spark upgrade
flips one of them.

``spark.sql.codegen.cache.maxEntries`` is a static conf: it takes effect only
when the session (and its JVM) is built here. A session built elsewhere — the
driver's own, handed to ``__spark_entry__`` — keeps Spark's 100-entry cache,
so its warm queries compile again; the runtime-settable confs still apply.

Reference analogue: ``max_threads`` / settings profile and
``compiled_expression_cache_size`` (src/Core/Settings.h) — here everything
maps onto Spark conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Only settings that differ from Spark 4.1's defaults are declared here;
# shuffle partitioning and driver memory come from the machine (get_spark).
DEFAULT_CONFS: dict[str, str] = {
    # ClickHouse integer arithmetic wraps (C++ semantics); ANSI would raise.
    "spark.sql.ansi.enabled": "false",
    # ClickHouse count() takes zero args (AggregateFunctionCount.cpp).
    "spark.sql.legacy.allowParameterlessCount": "true",
    # DuckDB oracle compares naive-UTC timestamps.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for pandas UDFs (the minhash/funnel/ANN path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet TIMESTAMP(NANOS) (events.ts) is unreadable as TimestampType in
    # Spark 4 — read as long and convert at load (engine.read_parquet_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Broadcast threshold: dims (region/nation/supplier/customer at test SF)
    # should broadcast; AQE also converts at runtime.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet: answer MIN/MAX/COUNT from row-group footers (off by default).
    "spark.sql.parquet.aggregatePushdown": "true",
    # Generated-class cache (static). Spark's 100 entries hold less than one
    # pass of the benchmark queries, so each warm pass would compile ~420
    # classes again. Census at sf0.01 with the cache opened up, entries
    # after one pass (stage id in class names / out of them, below): the 18
    # OLAP headline queries 254 / 228, the 7 pipeline queries 151 / 125, all
    # 25 in one JVM 325 with it out. In local mode a class is cached twice:
    # the key is (context class loader, source), and the driver's
    # whole-stage compile check and the executor tasks run under different
    # loaders, so the 254 OLAP entries hold 165 distinct sources. Guava
    # splits maximumSize over 4 segments that evict on their own; 1000 gives
    # each segment about 3x its share of the 325.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Without the CodegenStageN suffix, identical whole-stage sources at
    # different stage positions are one cache entry (runtime conf).
    "spark.sql.codegen.useIdInClassName": "false",
}


def default_driver_memory() -> str:
    """One eighth of physical memory (MemTotal), between 1 and 4 GiB — the
    rule perfbench/run.py sizes its runs with. In local mode the driver heap
    is the whole executor; a larger fixed default lets the heap outgrow a
    small or shared host before the collector runs."""
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1024, min(4096, mem_kb // 1024 // 8)) // 256 * 256}m"


def get_spark(
    app_name: str = "clickhouse_23_3_19_32_lts_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` (driver env) controls local parallelism; shuffle
    partitions default to the same number — on a real cluster you would set
    this to ~2-3x total cores instead and let AQE coalesce.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    # Python workers must import this package (exact-hash pandas UDFs pickle
    # by reference). Workers inherit the JVM's environment, which inherits
    # ours — export the package root on PYTHONPATH before the JVM launches.
    # On a real cluster the equivalent is shipping the wheel via --py-files.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
        )

    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if master.startswith("local"):
        confs.setdefault(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        confs.setdefault("spark.ui.enabled", "false")
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Python UDFs (functions/catalog.py) register on first use, not here.
    return spark
