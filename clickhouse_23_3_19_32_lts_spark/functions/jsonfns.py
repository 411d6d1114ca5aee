"""JSON family.

Reference: src/Functions/FunctionsJSON.cpp:1622 (JSONExtract*, JSONHas,
JSONLength, JSONType), FunctionSQLJSON.cpp + src/Functions/JSONPath/
(JSON_VALUE/JSON_QUERY/JSON_EXISTS), visitParam (simdjson-free fast path).

ClickHouse paths are (key_or_index, ...) varargs; SQL/JSONPath uses $.a[0].b.
We normalize both to Spark's get_json_object JSONPath.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col

__all__ = [
    "JSONExtractString", "JSONExtractInt",
    "JSONExtractFloat", "JSONExtractBool", "JSONExtractRaw",
    "JSONExtractArrayRaw", "JSONExtractKeys", "JSONHas", "JSONLength",
    "JSONType", "JSON_VALUE", "JSON_QUERY", "JSON_EXISTS",
    "visitParamExtractString", "visitParamExtractInt", "visitParamExtractUInt",
    "visitParamExtractFloat", "visitParamExtractBool", "visitParamExtractRaw",
    "visitParamHas", "isValidJSON", "toJSONString",
]


def _path(*keys) -> str:
    """ClickHouse varargs (keys / 1-based indices) -> JSONPath string."""
    out = "$"
    for k in keys:
        if isinstance(k, int):
            out += f"[{k - 1}]"  # ClickHouse JSON indices are 1-based
        else:
            out += f".{k}"
    return out


@chfn("JSONExtractString")
def JSONExtractString(j, *keys: str | int) -> Column:
    return F.get_json_object(col(j), _path(*keys))


@chfn("JSONExtractInt", "JSONExtractUInt")
def JSONExtractInt(j, *keys: str | int) -> Column:
    return F.get_json_object(col(j), _path(*keys)).cast("long")


@chfn("JSONExtractFloat")
def JSONExtractFloat(j, *keys: str | int) -> Column:
    return F.get_json_object(col(j), _path(*keys)).cast("double")


@chfn("JSONExtractBool")
def JSONExtractBool(j, *keys: str | int) -> Column:
    return F.get_json_object(col(j), _path(*keys)).cast("boolean")


@chfn("JSONExtractRaw")
def JSONExtractRaw(j, *keys: str | int) -> Column:
    return F.get_json_object(col(j), _path(*keys))


@chfn("JSONExtractArrayRaw")
def JSONExtractArrayRaw(j, *keys: str | int) -> Column:
    """Array elements as raw JSON strings."""
    return F.from_json(
        F.get_json_object(col(j), _path(*keys)), "array<string>"
    )


@chfn("JSONExtractKeys")
def JSONExtractKeys(j, *keys: str | int) -> Column:
    target = F.get_json_object(col(j), _path(*keys)) if keys else col(j)
    return F.json_object_keys(target)


@chfn("JSONHas")
def JSONHas(j, *keys: str | int) -> Column:
    return F.get_json_object(col(j), _path(*keys)).isNotNull()


@chfn("JSONLength")
def JSONLength(j, *keys: str | int) -> Column:
    target = F.get_json_object(col(j), _path(*keys)) if keys else col(j)
    return F.coalesce(
        F.json_array_length(target),
        F.size(F.json_object_keys(target)).cast("int"),
    ).cast("long")


@chfn("JSONType")
def JSONType(j, *keys: str | int) -> Column:
    v = F.get_json_object(col(j), _path(*keys)) if keys else col(j)
    t = F.trim(v)
    return (
        F.when(v.isNull(), F.lit(None))
        .when(t.startswith("{"), F.lit("Object"))
        .when(t.startswith("["), F.lit("Array"))
        .when(t.isin("true", "false"), F.lit("Bool"))
        .when(t == "null", F.lit("Null"))
        .when(t.rlike(r"^-?\d+$"), F.lit("Int64"))
        .when(t.rlike(r"^-?\d*\.?\d+([eE][+-]?\d+)?$"), F.lit("Double"))
        .otherwise(F.lit("String"))
    )


@chfn("JSON_VALUE")
def JSON_VALUE(j, path: str) -> Column:
    return F.get_json_object(col(j), path)


@chfn("JSON_QUERY")
def JSON_QUERY(j, path: str) -> Column:
    return F.get_json_object(col(j), path)


@chfn("JSON_EXISTS")
def JSON_EXISTS(j, path: str) -> Column:
    return F.get_json_object(col(j), path).isNotNull()


# visitParam* — the legacy fast-path names (same semantics at our level)
visitParamExtractString = chfn("visitParamExtractString", "simpleJSONExtractString")(JSONExtractString)
visitParamExtractInt = chfn("visitParamExtractInt", "simpleJSONExtractInt")(JSONExtractInt)
visitParamExtractUInt = chfn("visitParamExtractUInt", "simpleJSONExtractUInt")(JSONExtractInt)
visitParamExtractFloat = chfn("visitParamExtractFloat", "simpleJSONExtractFloat")(JSONExtractFloat)
visitParamExtractBool = chfn("visitParamExtractBool", "simpleJSONExtractBool")(JSONExtractBool)
visitParamExtractRaw = chfn("visitParamExtractRaw", "simpleJSONExtractRaw")(JSONExtractRaw)
visitParamHas = chfn("visitParamHas", "simpleJSONHas")(JSONHas)


@chfn("isValidJSON")
def isValidJSON(j) -> Column:
    c = col(j)
    return F.when(
        F.trim(c).startswith("{"), F.json_object_keys(c).isNotNull()
    ).otherwise(
        F.when(F.trim(c).startswith("["), F.json_array_length(c).isNotNull()).otherwise(
            F.lit(False)
        )
    )


@chfn("toJSONString")
def toJSONString(x) -> Column:
    return F.to_json(col(x))
