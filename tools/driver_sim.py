"""Simulate the driver's t2 oracle gate at sf0.01 over a given list of queries.

Column sort + row sort + 6-dp float rounding, then EXACT equality (a
stand-in for the driver's value hash): the compare of tests/oracle_check.py,
which tests/test_queries_oracle.py runs over every registry query.

Usage: python tools/driver_sim.py [name ...]   (default: all registered)

The summary names the five slowest queries with their wall times, so that
a query that became slower shows in the output.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_check import compare, duck_views, normalize

SF_DIR = os.environ.get("SPARK_GRAFT_SIM_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    from clickhouse_23_3_19_32_lts_spark.queries import all_oracles, all_queries
    from clickhouse_23_3_19_32_lts_spark.session import get_spark

    queries = all_queries()
    oracles = all_oracles()
    names = sys.argv[1:] or list(queries)

    spark = get_spark(app_name="driver_sim", shuffle_partitions=16)
    con = duck_views(SF_DIR)

    n_ok = n_bad = n_noorc = 0
    walls: dict[str, float] = {}
    for name in names:
        t0 = time.time()
        try:
            got = normalize(queries[name](spark, SF_DIR).toPandas())
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {exc!r}")
            n_bad += 1
            continue
        if name not in oracles:
            print(f"NOOR {name}: {len(got)} rows (no oracle)")
            n_noorc += 1
            continue
        try:
            want = normalize(con.sql(oracles[name]).df())
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {exc!r}")
            n_bad += 1
            continue
        dt = walls[name] = time.time() - t0
        ok, msg = compare(got, want)
        if ok:
            print(f"ok   {name} ({len(got)} rows, {dt:.1f}s)")
            n_ok += 1
        else:
            print(f"FAIL {name}: {msg}")
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} bad, {n_noorc} no-oracle of {len(names)}")
    slowest = sorted(walls, key=walls.get, reverse=True)[:5]
    print("slowest: " + ", ".join(f"{n} {walls[n]:.1f}s" for n in slowest))
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
