"""Count dialect._rewrite's exact-name branches over registry names.

An `if` inside `_rewrite` is an exact-name branch when its test compares
the call's name (`t`, `tl`, `t.lower()` or `t.upper()`) with string
constants: `==` a constant, or `in` a literal tuple, set or list, or in a
name bound to one (in the module or in `_rewrite`; the dialect tables are
not counted, they are `tests/test_registry_parity.py`'s). A name counts
when the registry resolves it, or when it lower-cases to a registry name.
Such a branch renders a call before the registry bridge, so the registry
is not that call's one definition.

Run: python tools/rewrite_branches.py [-v]   (-v lists the names)
"""

from __future__ import annotations

import ast
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_23_3_19_32_lts_spark import dialect  # noqa: E402
from clickhouse_23_3_19_32_lts_spark.functions import REGISTRY, resolve  # noqa: E402

TABLES = {"NAME_MAP", "TEMPLATES", "ARITY_TEMPLATES", "PARAMETRIC"}


def _string_sets(nodes) -> dict[str, set[str]]:
    """name -> the strings of a literal collection (or of frozenset(...))
    bound to it by a plain assignment among ``nodes``."""
    out = {}
    for n in nodes:
        if not (isinstance(n, ast.Assign) and len(n.targets) == 1):
            continue
        target, value = n.targets[0], n.value
        if not isinstance(target, ast.Name) or target.id in TABLES:
            continue
        if isinstance(value, ast.Call) and value.args:
            value = value.args[0]
        try:
            v = ast.literal_eval(value)
        except (ValueError, SyntaxError, TypeError):
            continue
        if isinstance(v, (set, frozenset, tuple, list, dict)):
            out[target.id] = {x for x in v if isinstance(x, str)}
    return out


def _is_call_name(e) -> bool:
    if isinstance(e, ast.Name):
        return e.id in ("t", "tl")
    return (
        isinstance(e, ast.Call)
        and isinstance(e.func, ast.Attribute)
        and e.func.attr in ("lower", "upper")
        and isinstance(e.func.value, ast.Name)
        and e.func.value.id == "t"
    )


def _names(test, sets) -> set[str]:
    out = set()
    for node in ast.walk(test):
        if not (isinstance(node, ast.Compare) and _is_call_name(node.left)):
            continue
        for op, c in zip(node.ops, node.comparators):
            if isinstance(op, ast.Eq) and isinstance(c, ast.Constant) and isinstance(c.value, str):
                out.add(c.value)
            elif isinstance(op, ast.In) and isinstance(c, (ast.Tuple, ast.Set, ast.List)):
                out |= {x.value for x in c.elts if isinstance(x, ast.Constant) and isinstance(x.value, str)}
            elif isinstance(op, ast.In) and isinstance(c, ast.Name):
                out |= sets.get(c.id, set())
    return out


def count() -> tuple[int, set[str]]:
    """(exact-name branches over registry names, the names they test)."""
    tree = ast.parse(open(dialect.__file__).read())
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "_rewrite")
    sets = {**_string_sets(tree.body), **_string_sets(ast.walk(fn))}
    lowered = {n.lower() for n in REGISTRY}
    branches, names = 0, set()
    for node in ast.walk(fn):
        if isinstance(node, ast.If):
            hit = {n for n in _names(node.test, sets) if resolve(n) or n.lower() in lowered}
            branches += bool(hit)
            names |= hit
    return branches, names


if __name__ == "__main__":
    branches, names = count()
    print(f"{branches} exact-name branches over {len(names)} registry names")
    if "-v" in sys.argv:
        print(" ".join(sorted(names)))
