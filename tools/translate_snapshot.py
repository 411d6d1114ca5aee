"""Record translate()'s output for a corpus of statements, or check it.

The corpus:
  - every string literal that starts with SELECT or WITH in tests/, tools/,
    the package and perfbench/workloads.py;
  - one synthetic call per key of dialect's handler table, at arities 0-3,
    over column, numeric, string and (first argument) lambda arguments.

Each statement renders under three option sets: translate's defaults, the
golden runner's retry set, and the legacy GROUPING setting. A render is
its output, or the exception's class and message. Renders run on a live
get_spark() session, so registry-bridge renders are included; a render
that changes between two runs (a builder that draws a random seed) has its
long integers masked.

Run:
  python tools/translate_snapshot.py record PATH   # PATH: a JSON file
  python tools/translate_snapshot.py check PATH    # lists differing renders

`record` keeps the statements already in PATH, so a statement list taken
on one commit can be re-recorded on another. `check` renders the
statements in PATH, prints each one whose render differs, and exits 1 if
any does.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from clickhouse_23_3_19_32_lts_spark import dialect  # noqa: E402

SOURCES = ("tests/**/*.py", "tools/**/*.py", "clickhouse_23_3_19_32_lts_spark/**/*.py", "perfbench/workloads.py")
_STATEMENT = re.compile(r"(?is)\s*(select|with)\b")
OPTION_SETS = {
    "default": {},
    "golden": {
        "safe_subscript": True,
        "inline_aliases": True,
        "bool_ops": True,
        "totals_marker": True,
        "dt_best_effort": True,
        "nullable_cols": {"n"},
        "col_ch_types": {"number": "UInt64", "dummy": "UInt8", "zero": "UInt8"},
    },
    "legacy_grouping": "SETTINGS force_grouping_standard_compatibility = 0",
}
_ARGS = {
    "col": ["x", "y", "z"],
    "num": ["-1", "2", "3"],
    "str": ["'abc'", "'UTC'", "'%Y'"],
    "lambda": ["v -> v", "y", "z"],
}


def corpus_statements() -> list[str]:
    out: set[str] = set()
    for pattern in SOURCES:
        for path in glob.glob(os.path.join(ROOT, pattern), recursive=True):
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Constant) and isinstance(node.value, str) and _STATEMENT.match(node.value):
                    out.add(node.value)
    return sorted(out)


def synthetic_statements() -> list[str]:
    out = []
    for name in sorted(getattr(dialect, "_HANDLERS", ())):
        out.append(f"SELECT {name}() AS v FROM t")
        for kind, pool in _ARGS.items():
            for n in (1, 2, 3):
                out.append(f"SELECT {name}({', '.join(pool[:n])}) AS v FROM t")
    return out


def _render_once(stmt: str, opts) -> str:
    try:
        if isinstance(opts, str):
            return dialect.translate(f"{stmt} {opts}")
        return dialect.translate(stmt, **opts)
    except Exception as e:  # noqa: BLE001 - the exception is the render
        return f"!{type(e).__name__}: {e}"


def render(stmt: str) -> dict[str, str]:
    out = {}
    for label, opts in OPTION_SETS.items():
        first = _render_once(stmt, opts)
        if _render_once(stmt, opts) != first:
            first = re.sub(r"-?\d{6,}", "<n>", first)
        out[label] = first
    return out


def render_all(stmts) -> dict[str, dict[str, str]]:
    from clickhouse_23_3_19_32_lts_spark.session import get_spark

    spark = get_spark(app_name="translate_snapshot")
    with dialect._on_session(spark):
        return {s: render(s) for s in stmts}


def main(argv: list[str]) -> int:
    if len(argv) != 2 or argv[0] not in ("record", "check"):
        print(__doc__)
        return 2
    mode, path = argv
    old = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            old = json.load(f)
    if mode == "record":
        stmts = sorted(set(old) | set(corpus_statements()) | set(synthetic_statements()))
        snap = render_all(stmts)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(snap, f, indent=0, sort_keys=True)
        print(f"recorded {len(snap)} statements, {sum(map(len, snap.values()))} renders")
        return 0
    snap = render_all(sorted(old))
    differ = 0
    for stmt, renders in snap.items():
        for label, got in renders.items():
            if got != old[stmt].get(label):
                differ += 1
                print(f"--- {label}: {stmt!r}\n  was: {old[stmt].get(label)}\n  now: {got}")
    print(f"{differ} of {sum(map(len, snap.values()))} renders differ ({len(snap)} statements)")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
