"""Contention-robust measurement harness for the optimization rounds.

The engine is measured on a shared 4-core, 15 GB host whose speed follows
its neighbours' load (calib_sec once swung 0.58 -> 3.35 within minutes on
a shared 32-core host), so a single bench.py pass can show phantom 5-10x
"regressions" on whichever queries happened to run during a contention
burst. This harness runs each headline query K times inside one session
and reports the MIN per query — the min is the least-contended observation
and tracks plan cost, not neighbor load. It also reports the classes Spark
compiled in each pass (``compiled``, from ``CodegenMetrics``): the first
pass pays the codegen working set, and a later pass that compiles anything
means the codegen cache no longer holds it. It changes nothing about
bench.py (the driver contract artifact); it exists so optimization
decisions are made against stable numbers.

Usage: python tools/bench_stable.py [K] [--plans DIR --suffix _before]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from clickhouse_23_3_19_32_lts_spark.queries import all_queries  # noqa: E402
from clickhouse_23_3_19_32_lts_spark.session import get_spark  # noqa: E402


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 3
    plans_dir = None
    suffix = "_before"
    if "--plans" in sys.argv:
        plans_dir = sys.argv[sys.argv.index("--plans") + 1]
        os.makedirs(plans_dir, exist_ok=True)
    if "--suffix" in sys.argv:
        suffix = sys.argv[sys.argv.index("--suffix") + 1]
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench_stable")
    queries = all_queries()
    names = [n for n in HEADLINE if n in queries and (only is None or n in only)]
    if not names:
        sys.exit(f"--only matched no headline queries (have: {', '.join(HEADLINE)})")

    def _run(df):
        df.write.format("noop").mode("overwrite").save()

    def calib() -> float:
        t0 = time.perf_counter()
        spark.range(0, 400_000_000, 1, 32).selectExpr(
            "sum(id * 2 + (id % 7))"
        ).collect()
        return round(time.perf_counter() - t0, 4)

    # Warm-up + plan capture.
    for name in names:
        df = queries[name](spark, sf_dir)
        if plans_dir:
            with open(os.path.join(plans_dir, f"{name}{suffix}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
    _run(queries[names[0]](spark, sf_dir))

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    calibs = [calib()]
    results: dict[str, list[float]] = {n: [] for n in names}
    compiled: list[int] = []
    for rep in range(k):
        before = compiles.getCount()
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.perf_counter()
            _run(queries[name](spark, sf_dir))
            results[name].append(round(time.perf_counter() - t0, 4))
        spark.sparkContext.setJobDescription(None)
        compiled.append(compiles.getCount() - before)
        calibs.append(calib())

    mins = {n: min(v) for n, v in results.items()}
    out = {
        "metric": "headline_min_of_k",
        "k": k,
        "value": round(sum(mins.values()), 4),
        "queries": mins,
        "all_runs": results,
        "compiled": compiled,
        "calibs": calibs,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
