"""ClickHouse scalar-function surface as Spark Column builders.

Reference: /root/reference/src/Functions/ (604 REGISTER_FUNCTION sites,
~916 registered symbols + aliases via FunctionFactory). Each ClickHouse
function name is re-expressed over pyspark.sql.functions builtins so every
expression stays inside Catalyst (whole-stage codegen, except higher-order
functions such as transform and aggregate, which Spark interprets); pandas
UDFs appear only where Spark has no vectorized equivalent (documented per
function).

Usage:
    from clickhouse_23_3_19_32_lts_spark import functions as CH
    df.select(CH.intDiv(F.col("a"), F.col("b")), CH.toStartOfMonth("ts"))

`REGISTRY` maps every ClickHouse name (and alias) to its builder — the
SQL-dialect translation layer and the coverage report read it. Every
registered name is also a module attribute, in any case for a
case-insensitive name (`CH.POSITION` is `CH.position`).
"""

from __future__ import annotations

from clickhouse_23_3_19_32_lts_spark.functions.registry import REGISTRY, chfn, fn_names, resolve

# Import order only matters for readability of the generated coverage table.
from clickhouse_23_3_19_32_lts_spark.functions.arithmetic import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.conditional import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.mathfns import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.conversion import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.strings import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.datetime import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.arrays import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.jsonfns import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.hashing import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.maps_tuples import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.urls import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.ipfns import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.bits import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.encoding import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.randomfns import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.distance import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.dictfns import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.variants3 import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.misc import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.aggregates import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.states import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.compat import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.variants import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.variants2 import *  # noqa: F401,F403
from clickhouse_23_3_19_32_lts_spark.functions.geo import *  # noqa: F401,F403


def __getattr__(name: str):
    """The builder of a registered name that no module defines: a
    loop-registered name (toUInt32OrZero) or another case of a
    case-insensitive one."""
    found = resolve(name)
    if found is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return REGISTRY[found]
