"""Generate FUNCTIONS.md: the ClickHouse-name → Spark-mapping coverage table
from the live registry (SURVEY.md §2.8's 'full name-by-name mapping table').

Run: python tools/gen_functions_md.py > FUNCTIONS.md
"""

from __future__ import annotations

import inspect
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_23_3_19_32_lts_spark.functions import REGISTRY  # noqa: E402
from clickhouse_23_3_19_32_lts_spark.functions.registry import (  # noqa: E402
    CASE_INSENSITIVE,
)


def main() -> None:
    by_module: dict[str, list[tuple[str, str]]] = defaultdict(list)
    seen_fn = {}
    for name, fn in sorted(REGISTRY.items()):
        if CASE_INSENSITIVE.get(name.lower()) == name:
            name += "*"
        mod = fn.__module__.rsplit(".", 1)[-1]
        doc = (inspect.getdoc(fn) or "").splitlines()
        summary = doc[0] if doc else ""
        key = id(fn)
        if key in seen_fn:
            seen_fn[key][1].append(name)
            continue
        seen_fn[key] = (mod, [name], summary)
    for mod, names, summary in seen_fn.values():
        by_module[mod].append((" / ".join(names), summary))

    total = len(REGISTRY)
    uniq = len(seen_fn)
    print("# FUNCTIONS — ClickHouse name → Spark mapping (generated)")
    print()
    print(f"{total} registered ClickHouse function names ({uniq} distinct builders)")
    print("from `clickhouse_23_3_19_32_lts_spark/functions/`. Regenerate with")
    n_ci = len(CASE_INSENSITIVE)
    print(f"`python tools/gen_functions_md.py > FUNCTIONS.md`. The {n_ci} names marked")
    print("`*` are case-insensitive: ClickHouse resolves them in any case, and")
    print("`translate` renders every case as the spelling shown.")
    print()
    for mod in sorted(by_module):
        rows = by_module[mod]
        print(f"## {mod} ({len(rows)} builders)")
        print()
        print("| ClickHouse name(s) | mapping |")
        print("|---|---|")
        for names, summary in rows:
            esc = summary.replace("|", "\\|")
            print(f"| `{names}` | {esc} |")
        print()


if __name__ == "__main__":
    main()
