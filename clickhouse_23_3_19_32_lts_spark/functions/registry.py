"""Function registry: ClickHouse name (+ aliases) -> Column builder."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

REGISTRY: dict[str, Callable[..., Column]] = {}
# lower-cased name -> registered spelling, for the names registered
# case-insensitively
CASE_INSENSITIVE: dict[str, str] = {}


def chfn(*names: str, case_insensitive: bool = False):
    """Register a builder under one or more ClickHouse function names.

    ClickHouse resolves a name exactly, and a name registered
    case-insensitively in any case (src/Functions/FunctionFactory.cpp);
    `resolve` does the same. A name has one definition: registering it
    again, or a second case of a case-insensitive name, raises, as
    FunctionFactory::registerFunction does, and registers none of `names`.
    """

    def deco(fn: Callable[..., Column]) -> Callable[..., Column]:
        folded = set(CASE_INSENSITIVE)
        if case_insensitive:
            folded |= {r.lower() for r in REGISTRY}
        taken = [n for n in names if n in REGISTRY or n.lower() in folded]
        if case_insensitive and len({n.lower() for n in names}) < len(names):
            taken = list(names)
        if taken:
            raise ValueError(f"functions {taken} are registered twice")
        for n in names:
            REGISTRY[n] = fn
            if case_insensitive:
                CASE_INSENSITIVE[n.lower()] = n
        return fn

    return deco


def resolve(name: str) -> str | None:
    """The registered spelling of ``name``: the name itself, else the
    case-insensitive name it lower-cases to (FunctionFactory::tryGet),
    else None."""
    if name in REGISTRY:
        return name
    return CASE_INSENSITIVE.get(name.lower())


def fn_names() -> list[str]:
    return sorted(REGISTRY)


def col(x) -> Column:
    """Accept str column names or Columns or Python literals."""
    if isinstance(x, Column):
        return x
    if isinstance(x, str):
        return F.col(x)
    return F.lit(x)


def lit_or_col(x) -> Column:
    """Like col() but strings are literals (for value args, not refs)."""
    if isinstance(x, Column):
        return x
    return F.lit(x)
