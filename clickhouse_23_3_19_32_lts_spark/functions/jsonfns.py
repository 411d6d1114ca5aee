"""JSON family.

Reference: src/Functions/FunctionsJSON.cpp:1622 (JSONExtract*, JSONHas,
JSONLength, JSONType), FunctionSQLJSON.cpp + src/Functions/JSONPath/
(JSON_VALUE/JSON_QUERY/JSON_EXISTS), visitParam (simdjson-free fast path).

ClickHouse paths are (key_or_index, ...) varargs; SQL/JSONPath uses $.a[0].b.
Every function that takes them walks the varargs with `_node`.
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


# A JSON node is a pair: its text, exact for an object or an array (which
# is what a further step parses), and its value as a VARIANT, which keeps
# the JSON type. Spark's from_json keeps an object's members in document
# order in a map, so the n-th member is the n-th map entry; a VARIANT
# object sorts its keys, so stepping goes through the text.


def _node(j, keys) -> tuple[Column, Column]:
    """(text, VARIANT) of the value at ``keys`` in the JSON document ``j``
    (FunctionsJSON.h, "indices_or_keys"): a string selects an object
    member by key; a positive integer n the n-th array element or object
    member, a negative one counts from the end, and 0 selects nothing. A
    missing value has a NULL VARIANT; JSON null is a VARIANT null."""
    text, value = col(j), None
    for k in keys:
        # a step's text of a string member is the bare string: parse only
        # a container's text
        inner = text if value is None else F.when(
            F.schema_of_variant(value).rlike("^(OBJECT|ARRAY)"), text
        )
        texts = F.from_json(inner, "map<string,string>")
        values = F.from_json(inner, "map<string,variant>")
        if isinstance(k, int):
            if k == 0:
                return F.lit(None).cast("string"), F.lit(None).cast("variant")
            n = F.lit(k)
            text = F.coalesce(
                F.try_element_at(F.from_json(inner, "array<string>"), n),
                F.try_element_at(F.map_values(texts), n),
            )
            value = F.coalesce(
                F.try_element_at(F.from_json(inner, "array<variant>"), n),
                F.try_element_at(F.map_values(values), n),
            )
        else:
            text, value = texts[k], values[k]
    return text, F.try_parse_json(text) if value is None else value


def _extract(j, keys, pick, default) -> Column:
    """pick(text, JSON type, VARIANT) of the value at ``keys``, or
    ``default`` where the value is missing or ``pick`` gives NULL (a wrong
    type); NULL for a NULL document (functions of NULL are NULL)."""
    text, value = _node(j, keys)
    kind = F.schema_of_variant(value)
    return F.when(col(j).isNotNull(), F.coalesce(pick(text, kind, value), default))


def _as(kinds: str, spark_type: str):
    """A pick: the value as ``spark_type`` where its JSON type matches the
    regex ``kinds``."""
    return lambda t, kind, v: F.when(kind.rlike(kinds), F.try_variant_get(v, "$", spark_type))


_NUMBER = "^(BIGINT|DOUBLE|DECIMAL)"


@chfn("JSONExtractString")
def JSONExtractString(j, *keys: str | int) -> Column:
    """The string at ``keys``; '' for a missing value or another type."""
    return _extract(j, keys, lambda t, kind, v: F.when(kind == "STRING", t), F.lit(""))


@chfn("JSONExtractInt", "JSONExtractUInt")
def JSONExtractInt(j, *keys: str | int) -> Column:
    """The number at ``keys`` as an integer; 0 for a missing value or
    another type (a string is one)."""
    return _extract(j, keys, _as(_NUMBER, "bigint"), F.lit(0).cast("bigint"))


@chfn("JSONExtractFloat")
def JSONExtractFloat(j, *keys: str | int) -> Column:
    return _extract(j, keys, _as(_NUMBER, "double"), F.lit(0.0))


@chfn("JSONExtractBool")
def JSONExtractBool(j, *keys: str | int) -> Column:
    return _extract(j, keys, _as("^BOOLEAN$", "boolean"), F.lit(False))


@chfn("JSONExtractRaw")
def JSONExtractRaw(j, *keys: str | int) -> Column:
    """The value's JSON text: a string keeps its quotes, a container its
    members in document order; '' for a missing value."""
    return _extract(
        j, keys,
        lambda t, kind, v: F.when(kind.rlike("^(STRING|VOID)"), F.to_json(v)).otherwise(t),
        F.lit(""),
    )


@chfn("JSONExtractArrayRaw")
def JSONExtractArrayRaw(j, *keys: str | int) -> Column:
    """The elements of the array at ``keys`` as raw JSON text; [] for a
    missing value or another type."""

    def pick(t, kind, v):
        raw = F.zip_with(
            F.from_json(t, "array<string>"), F.from_json(t, "array<variant>"),
            lambda et, ev: F.when(F.schema_of_variant(ev).rlike("^(STRING|VOID)"), F.to_json(ev)).otherwise(et),
        )
        return F.when(kind.startswith("ARRAY"), raw)

    return _extract(j, keys, pick, F.array().cast("array<string>"))


@chfn("JSONExtractKeys")
def JSONExtractKeys(j, *keys: str | int) -> Column:
    """The keys of the object at ``keys`` in document order; [] for a
    missing value or another type."""
    return _extract(
        j, keys,
        lambda t, kind, v: F.when(kind.startswith("OBJECT"), F.json_object_keys(t)),
        F.array().cast("array<string>"),
    )


@chfn("JSONHas")
def JSONHas(j, *keys: str | int) -> Column:
    """Whether a value, JSON null included, is at ``keys``."""
    return _extract(j, keys, lambda t, kind, v: v.isNotNull(), F.lit(False))


@chfn("JSONLength")
def JSONLength(j, *keys: str | int) -> Column:
    """The number of elements or members of the array or object at
    ``keys``; 0 for a scalar or a missing value."""
    return _extract(
        j, keys,
        lambda t, kind, v: F.when(kind.startswith("ARRAY"), F.json_array_length(t))
        .when(kind.startswith("OBJECT"), F.size(F.json_object_keys(t)))
        .cast("bigint"),
        F.lit(0).cast("bigint"),
    )


# a VARIANT's type (schema_of_variant) -> ClickHouse's JSON type name
_JSON_TYPES = (
    ("^OBJECT", "Object"), ("^ARRAY", "Array"), ("^BOOLEAN$", "Bool"), ("^VOID$", "Null"),
    ("^BIGINT$", "Int64"), ("^(DOUBLE|DECIMAL)", "Double"), ("^STRING$", "String"),
)


@chfn("JSONType")
def JSONType(j, *keys: str | int) -> Column:
    """The JSON type of the value at ``keys``; 'Null' for a missing value."""

    def pick(t, kind, v):
        out = F
        for pattern, name in _JSON_TYPES:
            out = out.when(kind.rlike(pattern), F.lit(name))
        return out

    return _extract(j, keys, pick, F.lit("Null"))


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
