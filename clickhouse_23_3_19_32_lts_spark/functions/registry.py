"""Function registry: ClickHouse name (+ aliases) -> Column builder."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

REGISTRY: dict[str, Callable[..., Column]] = {}


def chfn(*names: str):
    """Register a builder under one or more ClickHouse function names.

    ClickHouse resolves names case-sensitively with explicit aliases
    (src/Functions/FunctionFactory.cpp); we register each alias literally.
    A name has one definition: registering it again raises, as
    FunctionFactory::registerFunction does.
    """

    def deco(fn: Callable[..., Column]) -> Callable[..., Column]:
        taken = [n for n in names if n in REGISTRY]
        if taken:
            raise ValueError(f"functions {taken} are registered twice")
        for n in names:
            REGISTRY[n] = fn
        return fn

    return deco


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
