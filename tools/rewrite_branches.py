"""Count dialect's handler-table keys over registry names.

`dialect._HANDLERS` maps a function name to the one handler `_rewrite`
tries for a call of it before the generic rules and the registry bridge. A
key counts when the registry resolves it, or when it lower-cases to a
registry name: its handler may render a call before the bridge, so the
registry is not that call's one definition.

Run: python tools/rewrite_branches.py [-v]   (-v lists the names)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_23_3_19_32_lts_spark import dialect  # noqa: E402
from clickhouse_23_3_19_32_lts_spark.functions import REGISTRY, resolve  # noqa: E402


def count() -> set[str]:
    """The handler keys over registry names."""
    lowered = {n.lower() for n in REGISTRY}
    return {n for n in dialect._HANDLERS if resolve(n) or n.lower() in lowered}


if __name__ == "__main__":
    names = count()
    print(f"{len(names)} handler keys over registry names (of {len(dialect._HANDLERS)} keys)")
    if "-v" in sys.argv:
        print(" ".join(sorted(names)))
