"""Golden-corpus runner: execute reference stateless tests
(/root/reference/tests/queries/0_stateless/*.sql) through the dialect layer
and diff against their .reference files — the reference's own test method
(SURVEY §5.1: run the .sql, literally diff stdout).

Output formatting mirrors ClickHouse TSV: tab-separated values, one row per
line; strings bare at top level but single-quoted inside arrays/tuples;
floats in shortest form (12300, 0.1, 1e-7); NULL as \\N; booleans as 1/0.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import re

from clickhouse_23_3_19_32_lts_spark.dialect import (
    ChSqlError,
    _blank_strings as _blank,
    _depth_at,
    ch_type_to_spark,
    translate,
)


_BOOL_AS_TEXT = False


def _sub_ident(name: str, rep: str, expr: str) -> str:
    """Replace bare identifier `name` with `rep` in `expr`, locating matches
    on a string-literal-blanked copy so a column name inside another
    column's DEFAULT string literal ('n/a' vs column n) is never touched —
    same protocol as dialect._sub_blank."""
    pat = re.compile(rf"(?<![\w.`]){re.escape(name)}(?![\w.`(])")
    blank = _blank(expr)
    out, last = [], 0
    for m in pat.finditer(blank):
        out.append(expr[last : m.start()])
        out.append(rep)
        last = m.end()
    out.append(expr[last:])
    return "".join(out)


def _fmt_float(f: float) -> str:
    if math.isnan(f):
        return "nan"
    if math.isinf(f):
        return "inf" if f > 0 else "-inf"
    if f == int(f) and abs(f) < 1e16:
        return str(int(f))
    s = repr(f)
    # ClickHouse (double-conversion ToShortest, decimal_in_shortest_low=-6)
    # prints fixed notation down to 1e-6; Python repr flips to exponential
    # below 1e-4 — expand exponents -5/-6 back to fixed digits
    em = re.match(r"(-?)(\d)(?:\.(\d+))?e-0?([56])$", s)
    if em:
        sign, lead, frac, exp = em.group(1), em.group(2), em.group(3) or "", int(em.group(4))
        return f"{sign}0.{'0' * (exp - 1)}{lead}{frac}"
    s = s.replace("e+", "e")
    s = re.sub(r"e(-?)0(\d)", r"e\1\2", s)
    return s


_CH_INT_TYPES = {
    "Int8", "Int16", "Int32", "Int64", "Int128", "Int256",
    "UInt8", "UInt16", "UInt32", "UInt64", "UInt128", "UInt256",
    "Float32", "Float64", "String", "Date", "Date32", "DateTime",
    "UUID", "IPv4", "IPv6", "Bool",
}


def _spark_to_ch_type(dt) -> str:
    """Best-effort Spark type → ClickHouse type name (meta fallback)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return "Int64"
    if isinstance(dt, T.IntegerType):
        return "Int32"
    if isinstance(dt, T.ShortType):
        return "Int16"
    if isinstance(dt, T.ByteType):
        return "Int8"
    if isinstance(dt, T.DoubleType):
        return "Float64"
    if isinstance(dt, T.FloatType):
        return "Float32"
    if isinstance(dt, T.BooleanType):
        return "UInt8"
    if isinstance(dt, T.DateType):
        return "Date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "DateTime"
    if isinstance(dt, T.DecimalType):
        return f"Decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"Array({_spark_to_ch_type(dt.elementType)})"
    if isinstance(dt, T.MapType):
        return (
            f"Map({_spark_to_ch_type(dt.keyType)},"
            f" {_spark_to_ch_type(dt.valueType)})"
        )
    if isinstance(dt, T.StructType):
        return "Tuple(" + ", ".join(
            _spark_to_ch_type(f.dataType) for f in dt.fields
        ) + ")"
    return "String"


def _ch_int_literal_type(n: int) -> str:
    if n >= 0:
        for t, lim in (("UInt8", 1 << 8), ("UInt16", 1 << 16), ("UInt32", 1 << 32)):
            if n < lim:
                return t
        return "UInt64"
    for t, lim in (("Int8", 1 << 7), ("Int16", 1 << 15), ("Int32", 1 << 31)):
        if -n <= lim:
            return t
    return "Int64"


def _ch_expr_type(e: str, cols: dict | None) -> "str | None":
    """Heuristic ClickHouse type of a SELECT item (for FORMAT JSON meta).
    Mirrors the reference's common-literal and to<T>() typing rules; None
    when unknown (caller falls back to the Spark schema)."""
    e = e.strip()
    am = re.match(r"(?is)(.+?)\s+AS\s+`?[A-Za-z_]\w*`?\s*$", e)
    if am:
        e = am.group(1).strip()
    while True:
        mm = re.match(r"(?is)^materialize\s*\((.*)\)\s*$", e)
        if not mm:
            break
        e = mm.group(1).strip()
    tm = re.match(r"(?i)^to([A-Za-z]\w*?)(?:OrZero|OrNull)?\s*\(", e)
    if tm and tm.group(1) in _CH_INT_TYPES:
        return tm.group(1)
    if re.match(r"(?i)^toDateTime64\s*\(", e):
        sm = re.search(r",\s*(\d)\s*\)$", e)
        return f"DateTime64({sm.group(1)})" if sm else "DateTime64(3)"
    if re.match(r"(?i)^(count|uniq\w*|length|char_length|octet_length|rand64)\s*\(", e):
        return "UInt64"
    if re.match(r"(?i)^rand\s*\(", e):
        return "UInt32"
    if e.upper() == "NULL":
        return "Nullable(Nothing)"
    if e.lower() in ("nan", "inf", "-inf", "infinity"):
        return "Float64"
    if re.match(r"^-?\d+$", e):
        return _ch_int_literal_type(int(e))
    if re.match(r"^-?(\d+\.\d*|\.\d+|\d+[eE]-?\d+)", e):
        return "Float64"
    if re.match(r"^'(?:[^'\\]|\\.)*'$", e):
        return "String"
    cm = re.match(r"(?is)^CAST\s*\(.*,\s*'([^']+)'\s*\)$", e)
    if cm:
        return cm.group(1)
    jm = re.match(r"(?is)^arrayJoin\s*\(\s*\[(.*)\]\s*\)$", e)
    if jm:
        elems = [x.strip() for x in jm.group(1).split(",") if x.strip()]
        ets = [_ch_expr_type(x, cols) for x in elems]
        if ets and all(t == ets[0] for t in ets) and ets[0]:
            return ets[0]
        if ets and all(t and t.startswith("UInt") for t in ets):
            return max(ets, key=lambda t: int(t[4:]))
        return None
    lm = re.match(r"(?s)^\[(.*)\]$", e)
    if lm:
        elems = [x.strip() for x in _split_top_level_commas(lm.group(1)) if x.strip()]
        ets = [_ch_expr_type(x, cols) for x in elems]
        if ets and all(t for t in ets):
            if all(t == ets[0] for t in ets):
                return f"Array({ets[0]})"
            if all(t.startswith("UInt") for t in ets):
                return f"Array({max(ets, key=lambda t: int(t[4:]))})"
        return None
    pm = re.match(r"(?s)^\((.*)\)$", e)
    if pm and "," in pm.group(1):
        elems = [x.strip() for x in _split_top_level_commas(pm.group(1))]
        ets = [_ch_expr_type(x, cols) for x in elems]
        if all(t for t in ets):
            return "Tuple(" + ", ".join(ets) + ")"
        return None
    if cols and re.match(r"^`?[A-Za-z_]\w*`?$", e):
        return cols.get(e.strip("`"))
    return None


def _select_item_meta(stmt: str, fields, cols: dict | None):
    """[(name, ch_type)] for FORMAT JSON meta: item alias (or raw item
    text) + heuristic CH type, Spark-schema fallback."""
    items: list[str] = []
    sm = re.search(r"(?is)\bSELECT\s+(?:DISTINCT\s+)?(.*)$", stmt)
    if sm:
        body = sm.group(1)
        blank = _blank(body)
        end = len(body)
        for fm in re.finditer(r"(?i)\bFROM\b|\bFORMAT\b|\bLIMIT\b|\bGROUP\b|\bORDER\b|\bSETTINGS\b|\bWHERE\b", blank):
            d = blank[:fm.start()].count("(") - blank[:fm.start()].count(")")
            if d == 0:
                end = fm.start()
                break
        items = [x.strip() for x in _split_top_level_commas(body[:end]) if x.strip()]
    meta = []
    for j, f in enumerate(fields):
        name = f.name
        cht = None
        if j < len(items) and len(items) == len(fields):
            it = items[j]
            am = re.search(r"(?is)\s+AS\s+`?([A-Za-z_]\w*)`?\s*$", it)
            name = am.group(1) if am else re.sub(r"\s+", " ", it.strip())
            if name.lower() == "null":
                name = "NULL"  # the AST formatter prints the keyword upper
            cht = _ch_expr_type(it, cols)
        meta.append((name, cht or _spark_to_ch_type(f.dataType)))
    return meta


def _json_scalar(v, dt, quote64: bool, esc: bool) -> str:
    import json as _json

    from pyspark.sql import types as T

    if v is None:
        return "null"
    if isinstance(dt, T.ArrayType) or isinstance(v, list):
        et = dt.elementType if isinstance(dt, T.ArrayType) else None
        return "[" + ",".join(_json_scalar(x, et, quote64, esc) for x in v) + "]"
    if isinstance(dt, T.StructType) or hasattr(v, "__fields__") or isinstance(v, tuple):
        ets = [f.dataType for f in dt.fields] if isinstance(dt, T.StructType) else [None] * len(v)
        return "[" + ",".join(
            _json_scalar(x, ets[j] if j < len(ets) else None, quote64, esc)
            for j, x in enumerate(v)
        ) + "]"
    if isinstance(dt, T.MapType) or isinstance(v, dict):
        vt = dt.valueType if isinstance(dt, T.MapType) else None
        return "{" + ",".join(
            f"{_json_scalar(str(k), None, False, esc)}:{_json_scalar(x, vt, quote64, esc)}"
            for k, x in v.items()
        ) + "}"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, int):
        big = isinstance(dt, (T.LongType, T.DecimalType)) if dt is not None else (
            abs(v) > (1 << 31)
        )
        return f'"{v}"' if big and quote64 else str(v)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return "null"
        return _fmt_float(v)
    import decimal as _dec

    if isinstance(v, _dec.Decimal):
        s = str(int(v)) if v == v.to_integral_value() else _fmt_float(float(v))
        return f'"{s}"' if quote64 else s
    if isinstance(v, _dt.datetime):
        return '"' + v.strftime("%Y-%m-%d %H:%M:%S") + '"'
    if isinstance(v, _dt.date):
        return '"' + v.isoformat() + '"'
    s = _json.dumps(str(v), ensure_ascii=False)
    if esc:
        s = s.replace("/", "\\/")
    return s


def _render_json_doc(
    kind, data_rows, totals_rows, schema, settings, ch_meta,
    rows_before_limit=None, extremes=False,
):
    """FORMAT JSON / JSONCompact document (JSONRowOutputFormat.cpp /
    JSONCompactRowOutputFormat.cpp), tab-indented like the reference."""
    import json as _json

    st = settings or {}
    quote64 = str(st.get("output_format_json_quote_64bit_integers", "1")) != "0"
    esc = str(st.get("output_format_json_escape_forward_slashes", "1")) != "0"
    compact = kind in ("jsoncompact", "jsoncompactstrings")
    stringify = kind in ("jsonstrings", "jsoncompactstrings")
    flds = schema.fields
    if stringify:
        # JSONStrings: every value renders as its TEXT form in a JSON
        # string; NULL prints the unicode marker (JSONStringsRowOutputFormat)
        def _json_scalar(v, dt, q64, e2):  # noqa: F811 — local shadow
            if v is None:
                return '"ᴺᵁᴸᴸ"'
            s2 = _json.dumps(_fmt_top(v), ensure_ascii=False)
            if e2:
                s2 = s2.replace("/", "\\/")
            return s2
    else:
        _json_scalar = globals()["_json_scalar"]
    out = ["{", '\t"meta":', "\t["]
    for j, (nm, tp) in enumerate(ch_meta):
        out += ["\t\t{", f'\t\t\t"name": "{nm}",', f'\t\t\t"type": "{tp}"',
                "\t\t}" + ("," if j < len(ch_meta) - 1 else "")]
    out += ["\t],", "", '\t"data":', "\t["]

    def _row_obj(r, indent):
        t = "\t" * indent
        lines = [t + "{"]
        for j, v in enumerate(r):
            sep = "," if j < len(r) - 1 else ""
            lines.append(
                f'{t}\t"{ch_meta[j][0]}": '
                f"{_json_scalar(v, flds[j].dataType, quote64, esc)}{sep}"
            )
        lines.append(t + "}")
        return lines

    def _row_arr(r):
        return "[" + ", ".join(
            _json_scalar(v, flds[j].dataType, quote64, esc)
            for j, v in enumerate(r)
        ) + "]"

    for i, r in enumerate(data_rows):
        if compact:
            out.append("\t\t" + _row_arr(r) + ("," if i < len(data_rows) - 1 else ""))
        else:
            rl = _row_obj(r, 2)
            if i < len(data_rows) - 1:
                rl[-1] += ","
            out += rl
    out.append("\t],")
    if totals_rows:
        tr = totals_rows[0]
        out.append("")
        if compact:
            out.append(f'\t"totals": {_row_arr(tr)},')
        else:
            out.append('\t"totals":')
            tl = _row_obj(tr, 1)
            tl[0] = "\t{"
            tl[-1] = "\t},"
            out += tl
    if extremes and data_rows:
        mn, mx = [], []
        for j in range(len(flds)):
            vals = [r[j] for r in data_rows if r[j] is not None]
            try:
                mn.append(min(vals) if vals else None)
                mx.append(max(vals) if vals else None)
            except TypeError:
                mn.append(vals[0] if vals else None)
                mx.append(vals[-1] if vals else None)
        out.append("")
        out.append('\t"extremes":')
        out.append("\t{")
        if compact:
            out.append(f'\t\t"min": {_row_arr(mn)},')
            out.append(f'\t\t"max": {_row_arr(mx)}')
        else:
            out.append('\t\t"min":')
            ml = _row_obj(mn, 2)
            ml[-1] += ","
            out += ml
            out.append('\t\t"max":')
            out += _row_obj(mx, 2)
        out.append("\t},")
    out.append("")
    tail_comma = "," if rows_before_limit is not None else ""
    out.append(f'\t"rows": {len(data_rows)}{tail_comma}')
    if rows_before_limit is not None:
        out.append("")
        out.append(f'\t"rows_before_limit_at_least": {rows_before_limit}')
    out.append("}")
    return out


def _spark_type_default(dt):
    """Type-default value for a totals-row key column (ClickHouse renders
    the totals keys as defaults, not NULL — TotalsHavingTransform)."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return 0
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return 0.0
    if isinstance(dt, T.BooleanType):
        return False
    if isinstance(dt, T.StringType):
        return ""
    if isinstance(dt, T.DateType):
        return _dt.date(1970, 1, 1)
    if isinstance(dt, T.TimestampType):
        return _dt.datetime(1970, 1, 1)
    if isinstance(dt, T.ArrayType):
        return []
    if isinstance(dt, T.MapType):
        return {}
    return ""


def _fmt_nested(v) -> str:
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, str):
        escaped = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{escaped}'"
    if isinstance(v, float):
        return _fmt_float(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return _fmt_float(float(v))
    if hasattr(v, "__fields__"):  # Row (struct) → tuple syntax
        return "(" + ",".join(_fmt_nested(x) for x in v) + ")"
    if isinstance(v, tuple):
        return "(" + ",".join(_fmt_nested(x) for x in v) + ")"
    if isinstance(v, list):
        return "[" + ",".join(_fmt_nested(x) for x in v) + "]"
    if isinstance(v, dict):  # Map type → {'k':v,...}
        return "{" + ",".join(f"{_fmt_nested(k)}:{_fmt_nested(x)}" for k, x in v.items()) + "}"
    if isinstance(v, _dt.datetime):  # quoted inside arrays/tuples (CH TSV)
        return "'" + v.strftime("%Y-%m-%d %H:%M:%S") + "'"
    if isinstance(v, _dt.date):
        return "'" + v.isoformat() + "'"
    return str(v)


def _fmt_top(v) -> str:
    import decimal

    if v is None:
        return "\\N"
    if isinstance(v, bool):
        # UInt8 comparisons print 1/0, but the Bool TYPE prints true/false
        # (SerializationBool) — the runner toggles per statement
        if _BOOL_AS_TEXT:
            return "true" if v else "false"
        return "1" if v else "0"
    if isinstance(v, float):
        return _fmt_float(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return _fmt_float(float(v))
    if isinstance(v, str):
        # TSV escaping incl. single quotes (WriteHelpers.h
        # writeEscapedString escapes \\ \t \n and ')
        return (
            v.replace("\\", "\\\\")
            .replace("\t", "\\t")
            .replace("\n", "\\n")
            .replace("'", "\\'")
            .replace("\x00", "\\0")
        )
    if isinstance(v, (bytes, bytearray)):
        # FixedString/unhex results are raw bytes; ClickHouse prints them
        # as their (escaped) byte string
        return _fmt_top(v.decode("utf-8", "replace"))
    if isinstance(v, list):
        return "[" + ",".join(_fmt_nested(x) for x in v) + "]"
    if isinstance(v, dict):  # Map type → {'k':v,...}
        return "{" + ",".join(f"{_fmt_nested(k)}:{_fmt_nested(x)}" for k, x in v.items()) + "}"
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if hasattr(v, "__fields__"):  # Row (struct)
        return "(" + ",".join(_fmt_nested(x) for x in v) + ")"
    if isinstance(v, tuple):
        return "(" + ",".join(_fmt_nested(x) for x in v) + ")"
    return str(v)


def _float32_positions(schema) -> set[int]:
    """Column indexes whose type is (or contains only) FloatType — those
    format with float32 shortest-roundtrip (ClickHouse prints Float32 as
    toString(float), not the double widening)."""
    from pyspark.sql import types as T

    out = set()
    for j, f in enumerate(schema.fields):
        dt = f.dataType
        if isinstance(dt, T.FloatType):
            out.add(j)
        elif isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.FloatType):
            out.add(j)
    return out


def _fmt_f32(f) -> str:
    import numpy as np

    if f is None or not isinstance(f, float):
        return _fmt_top(f)
    if math.isnan(f) or math.isinf(f) or f == int(f):
        return _fmt_float(f)
    return repr(np.float32(f)).rstrip(")").split("(")[-1]


def _fmt_top_f32(v) -> str:
    if isinstance(v, list):
        return "[" + ",".join(_fmt_f32(x) for x in v) + "]"
    return _fmt_f32(v)


def _dt64_scales(stmt: str, schema, dt64_hint: dict[str, dict[str, int]]) -> dict[int, int]:
    """Per-output-column DateTime64 fractional scale (see caller)."""
    m = re.search(r"(?i)^\s*SELECT\s+(?:DISTINCT\s+)?(.*?)(?:\s+FROM\b|$)", stmt, re.DOTALL)
    if m is None:
        return {}
    items = _split_top_level_commas(m.group(1))
    if len(items) != len(schema.fields):
        return {}
    known: dict[str, int] = {}
    for cols in dt64_hint.values():
        if re.search(rf"\b{re.escape(cols['__table__'])}\b", stmt):
            known.update({k: v for k, v in cols.items() if k != "__table__"})
    out: dict[int, int] = {}
    for j, item in enumerate(items):
        im = re.search(r"toDateTime64\w*\s*\(.*,\s*(\d+)\s*[,)]", item)
        if im:
            out[j] = int(im.group(1))
            continue
        im = re.search(r"(?:::|AS)\s*DateTime64\s*\(\s*(\d+)", item)
        if im:
            out[j] = int(im.group(1))
            continue
        # toDateTime(x, <int>) is the DateTime64-scale form
        im = re.search(r"toDateTime\s*\([^()]*,\s*(\d+)\s*\)", item)
        if im:
            out[j] = int(im.group(1))
            continue
        im = re.search(r"parseDateTime64BestEffort\w*\s*\(", item)
        if im:
            # scale is the optional second argument, default 3
            sm2 = re.search(
                r"parseDateTime64BestEffort\w*\s*\([^()]*?,\s*(\d+)", item
            )
            out[j] = int(sm2.group(1)) if sm2 else 3
            continue
        bare = re.fullmatch(
            r"([A-Za-z_][A-Za-z0-9_]*)(?:\s+AS\s+[A-Za-z_][A-Za-z0-9_]*)?",
            item.strip(),
            re.IGNORECASE,
        )
        if bare and bare.group(1) in known:
            out[j] = known[bare.group(1)]
    return out


def _strip_comments(text: str) -> str:
    from clickhouse_23_3_19_32_lts_spark.dialect import _strip_block_comments

    lines = []
    for line in text.splitlines():
        # strip -- comments not inside quotes (simple heuristic: no quote after)
        idx = line.find("--")
        if idx >= 0 and line[:idx].count("'") % 2 == 0:
            line = line[:idx]
        lines.append(line)
    return _strip_block_comments("\n".join(lines))


def split_statements_raw(sql_text: str) -> list[str]:
    """Split on ';' outside quotes and outside -- comments, KEEPING each
    statement's raw text (leading comments included) — the raw chunk is what
    clickhouse-client --echo prints for `-- {{ echoOn }}` tests."""
    stmts, cur = [], []
    in_str = in_comment = False
    i = 0
    while i < len(sql_text):
        c = sql_text[i]
        if in_comment:
            cur.append(c)
            if c == "\n":
                in_comment = False
        elif in_str:
            cur.append(c)
            if c == "\\" and i + 1 < len(sql_text):
                cur.append(sql_text[i + 1])
                i += 2
                continue
            if c == "'":
                in_str = False
        elif c == "'":
            in_str = True
            cur.append(c)
        elif c == "-" and sql_text[i : i + 2] == "--":
            in_comment = True
            cur.append(c)
        elif c == ";":
            # a same-line trailing `-- { serverError N }` comment belongs to
            # THIS statement (clickhouse-test annotation placement)
            j = i + 1
            while j < len(sql_text) and sql_text[j] in " \t":
                j += 1
            if sql_text[j : j + 2] == "--":
                eol = sql_text.find("\n", j)
                eol = len(sql_text) if eol < 0 else eol
                cur.append(" " + sql_text[j:eol])
                i = eol
            stmts.append("".join(cur))
            cur = []
            i += 1
            continue
        else:
            cur.append(c)
        i += 1
    stmts.append("".join(cur))
    return [s for s in stmts if _strip_comments(s).strip()]


def split_statements(sql_text: str) -> list[str]:
    """Split on ';' outside quotes; strip -- comments."""
    return [
        _strip_comments(s).strip()
        for s in split_statements_raw(sql_text)
        if _strip_comments(s).strip()
    ]


# --- DDL support: CREATE TABLE / INSERT / DROP on the Spark catalog --------
# ClickHouse type → Spark SQL type for CREATE TABLE column lists: the
# recursive mapper lives in dialect.ch_type_to_spark (shared with CAST/::).

_ch_type_to_spark = ch_type_to_spark


def _split_top_level_commas(s: str) -> list[str]:
    parts, depth, cur = [], 0, []
    in_str = False
    for c in s:
        if in_str:
            cur.append(c)
            if c == "'":
                in_str = False
        elif c == "'":
            in_str = True
            cur.append(c)
        elif c in "([{":
            depth += 1
            cur.append(c)
        elif c in ")]}":
            depth -= 1
            cur.append(c)
        elif c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur))
    return [p for p in (p.strip() for p in parts) if p]


_CREATE_HEAD_RE = re.compile(
    r"^CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"([A-Za-z_][A-Za-z0-9_.]*)\s*\(",
    re.IGNORECASE | re.DOTALL,
)


def _match_create(stmt: str):
    """(table_name, column_list_sql) — balanced-paren extraction, so
    old-style `ENGINE = MergeTree(d, key, 8192)` tails never leak into the
    column list the way a greedy regex would."""
    m = _CREATE_HEAD_RE.match(stmt)
    if not m:
        return None
    depth, in_str = 1, False
    i = m.end()
    start = i
    while i < len(stmt) and depth:
        c = stmt[i]
        if in_str:
            if c == "\\":
                i += 2
                continue
            if c == "'":
                in_str = False
        elif c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        i += 1
    if depth:
        return None
    return m.group(1), stmt[start : i - 1]
_DROP_RE = re.compile(
    r"^DROP\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_.]*)",
    re.IGNORECASE,
)


def _translate_create(stmt: str) -> tuple[str, str]:
    """CH CREATE TABLE → (Spark schema DDL string, table name). Strips
    ENGINE/ORDER BY/PARTITION BY/SETTINGS tails, DEFAULT/CODEC/TTL column
    attributes."""
    m = _match_create(stmt.strip())
    if not m:
        raise ChSqlError(f"unparsed CREATE TABLE: {stmt[:80]}")
    name = m[0].split(".")[-1]
    cols = []
    nullable: set[str] = set()
    nested: dict[str, int] = {}
    enums: dict[str, dict[int, str]] = {}
    for cdef in _split_top_level_commas(m[1]):
        cm = re.match(r"([A-Za-z_][A-Za-z0-9_]*|`[^`]+`)\s+(.+)$", cdef.strip(), re.DOTALL)
        if not cm:
            raise ChSqlError(f"unparsed column def: {cdef[:60]}")
        cname = cm.group(1)
        ctype = cm.group(2)
        if cname.upper() in ("INDEX", "PROJECTION", "CONSTRAINT"):
            # skip-index / projection / constraint declarations are storage
            # hints (MergeTreeIndices.h) — no bearing on query results here
            continue
        dm = re.match(r"(?i)(?:DEFAULT|MATERIALIZED|ALIAS|EPHEMERAL)\s+(.+)$", ctype.strip(), re.DOTALL)
        if dm:
            # typeless `x DEFAULT expr` (ParserCreateQuery: type optional when
            # a default exists) — infer the storage type from the literal
            expr = dm.group(1).strip()
            if re.fullmatch(r"-?\d+", expr):
                ctype = "Int64"
            elif re.fullmatch(r"-?\d*\.\d+(e-?\d+)?", expr, re.IGNORECASE):
                ctype = "Float64"
            elif expr.startswith("'"):
                ctype = "String"
            elif expr.startswith("["):
                ctype = "Array(String)"
            elif re.search(r"[+\-*/%]| div | intDiv", expr):
                ctype = "Int64"  # arithmetic over integer columns
            else:
                ctype = "String"
        else:
            # drop column attributes after the type
            ctype = re.split(
                r"\s+(DEFAULT|MATERIALIZED|ALIAS|EPHEMERAL|CODEC\s*\(|TTL|COMMENT)\b", ctype, flags=re.IGNORECASE
            )[0]
        if re.search(r"(?i)\bNullable\s*\(", ctype) or re.search(
            r"(?i)\bNULL\s*$", ctype.strip()
        ) and not re.search(r"(?i)\bNOT\s+NULL\s*$", ctype.strip()):
            # top-level Nullable OR nested (Array(Nullable(…)), Map values),
            # or the `x String NULL` modifier form (ParserCreateQuery):
            # either way the column legitimately carries NULLs and must not
            # be default-filled
            nullable.add(cname.strip("`").lower())
        nm2 = re.match(r"Nested\s*\((.*)\)\s*$", ctype.strip(), re.IGNORECASE | re.DOTALL)
        if nm2:
            nested[cname.strip("`")] = len(_split_top_level_commas(nm2.group(1)))
        em = re.match(
            r"(?:Nullable\s*\(\s*)?Enum(?:8|16)?\s*\((.*?)\)\s*\)?\s*$",
            ctype.strip(),
            re.IGNORECASE | re.DOTALL,
        )
        if em:
            # Enum number→name map (DataTypeEnum.cpp): INSERTed numbers
            # resolve to names; the type-default is the lowest-numbered name
            emap = {}
            for pair in _split_top_level_commas(em.group(1)):
                pm = re.match(r"\s*'((?:[^'\\]|\\.)*)'\s*=\s*(-?\d+)\s*$", pair)
                if pm:
                    emap[int(pm.group(2))] = pm.group(1).replace("\\'", "'")
            if emap:
                enums[cname.strip("`").lower()] = emap
        cols.append(f"{cname} {_ch_type_to_spark(ctype)}")
    return ", ".join(cols), name, nullable, nested, enums


_UINT_BITS = {"UInt8": 8, "UInt16": 16, "UInt32": 32, "UInt64": 64}


_VIRTUAL_RE = re.compile(r"(?<![\w.`])_(?:part|partition_id|partition_value|sample_factor)\b")


def _sub_virtual_cols(spark, stmt: str, mem_tables: dict, table_meta: dict,
                      created: list) -> str:
    """When a statement references MergeTree virtual columns (_part,
    _partition_id, _partition_value, _sample_factor — MergeTreeData
    getVirtuals), swap the FROM table for a view that materializes them.
    Part naming follows the reference: one part per (insert, partition),
    block numbers table-global in partition order within each insert
    (<partition_id>_<block>_<block>_0; 'all' when unpartitioned);
    _partition_id is the rendered PARTITION BY value, _sample_factor 1."""
    if not _VIRTUAL_RE.search(_blank(stmt)):
        return stmt
    if not re.search(r"(?<![\w.`])_(?:part|partition_id|partition_value)\b", _blank(stmt)):
        # only _sample_factor referenced: it is constantly 1 here (no SAMPLE
        # narrowing in flight) — no view swap needed, works through merge()
        return re.sub(r"(?<![\w.`])_sample_factor\b", "CAST(1. AS DOUBLE)", stmt)
    parts_store = mem_tables.get("__parts__") or {}
    subbed = []

    def _rep(mm):
        tname = mm.group(2).split(".")[-1]
        parts = parts_store.get(tname)
        if not parts:
            return mm.group(0)
        from pyspark.sql import functions as F

        meta = table_meta.get(tname) or (None, [], None, None)
        part_expr = meta[3] if len(meta) > 3 else None
        pid_sql = None
        if part_expr:
            try:
                pid_sql = f"CAST(({_expr_sql(part_expr)}) AS STRING)"
            except Exception:  # noqa: BLE001
                pid_sql = None
        dfs, block = [], 0
        for p in parts:
            if pid_sql:
                pidc = F.expr(pid_sql)
                pids = sorted(
                    r[0] for r in p.select(pidc.alias("__p")).distinct().collect()
                    if r[0] is not None
                )
                name_map = {}
                for pv in pids:
                    block += 1
                    name_map[pv] = f"{pv}_{block}_{block}_0"
                if name_map:
                    kv = []
                    for k, v in name_map.items():
                        kv += [F.lit(k), F.lit(v)]
                    pname = F.element_at(F.create_map(*kv), pidc)
                else:
                    pname = F.lit("all_0_0_0")
            else:
                block += 1
                pidc = F.lit("all")
                pname = F.lit(f"all_{block}_{block}_0")
            dfs.append(
                p.withColumn("_part", pname)
                .withColumn("_partition_id", pidc)
                .withColumn("_partition_value", pidc)
                .withColumn("_sample_factor", F.lit(1.0))
            )
        aug = dfs[0]
        for d in dfs[1:]:
            aug = aug.unionAll(d)
        vname = f"__virt_{tname}"
        aug.createOrReplaceTempView(vname)
        created.append(vname)
        subbed.append(tname)
        return mm.group(1) + vname + (mm.group(3) or "")

    out = re.sub(
        r"(?i)\b(FROM\s+)([A-Za-z_][\w.]*)(\s+(?:AS\s+)?(?!WHERE|GROUP|ORDER|"
        r"LIMIT|SETTINGS|FORMAT|HAVING|UNION|JOIN|LEFT|RIGHT|INNER|FULL|CROSS|"
        r"PREWHERE|SAMPLE|FINAL)[A-Za-z_]\w*)?",
        _rep, stmt,
    )
    if subbed:
        # the reference hides virtuals from `*` expansion
        out = re.sub(
            r"(^|[\s,(])\*(?=$|[\s,)])",
            r"\1* EXCEPT(_part, _partition_id, _partition_value,"
            r" _sample_factor)",
            out,
            count=1,
        )
    return out


def _sub_file_tf(spark, stmt: str, file_store: dict, created: list) -> str:
    """Substitute `file(name, fmt, 'structure')` reads whose name was
    written by an earlier INSERT INTO FUNCTION file(...) in this test:
    decode the stored bytes through the spec codec into a typed temp view.
    A stored ext value (UUID) read into a non-UUID column raises the
    reference's ILLEGAL_COLUMN (MsgPackRowInputFormat.cpp insertion check).
    """
    if not file_store or not re.search(r"(?i)\bFROM\s+file\s*\(", stmt):
        return stmt

    def _rep(mm):
        args = _split_top_level_commas(mm.group(2))
        fpath = args[0].strip().strip("'").split("/")[-1]
        data = file_store.get(fpath)
        if data is None:
            return mm.group(0)
        fmt = (args[1].strip().strip("'").lower() if len(args) > 1 else "auto")
        if fmt == "auto":
            fmt = fpath.rsplit(".", 1)[-1].lower()
        structure = args[2].strip().strip("'") if len(args) > 2 else None
        if fmt != "msgpack" or not structure:
            return mm.group(0)
        from clickhouse_23_3_19_32_lts_spark.sources.binary_formats import (
            schema_from_ch,
        )
        from clickhouse_23_3_19_32_lts_spark.sources.msgpack_bson import (
            MpExt,
            decode_msgpack,
        )

        pairs = []
        for pdef in _split_top_level_commas(structure):
            nm, _, ty = pdef.strip().partition(" ")
            pairs.append((nm.strip("`"), ty.strip()))
        rows = decode_msgpack(data, len(pairs))
        conv = []
        for r in rows:
            outr = []
            for v, (_cn, ct) in zip(r, pairs):
                if isinstance(v, MpExt):
                    if ct.strip().rstrip(")").split("(")[0] not in ("UUID", "Nullable"):
                        raise ChSqlError(
                            f"ILLEGAL_COLUMN: msgpack ext value into {ct}"
                        )
                    import uuid as _uuid

                    v = str(_uuid.UUID(bytes=v.data))
                outr.append(v)
            conv.append(outr)
        df = spark.createDataFrame(conv, schema=schema_from_ch(pairs))
        vname = f"__file_tf_{abs(hash(fpath)) % 10**8}"
        df.createOrReplaceTempView(vname)
        created.append(vname)
        return mm.group(1) + vname

    return re.sub(
        r"(?is)\b(FROM\s+)file\s*\(((?:[^()']|'[^']*'|\([^()]*\))*)\)",
        _rep, stmt,
    )


def _parse_sampling_key(stmt: str, cols: list) -> "tuple[str, int] | None":
    """(sampling column, domain bits) from a CREATE TABLE statement:
    new-style `SAMPLE BY col` or old-style `MergeTree(date, col, key, gran)`
    (4-arg deprecated syntax, sampling is the 2nd argument). Only bare
    unsigned-integer columns register — hash-expression keys would need
    bit-exact CH hashes to byte-match and are left untranslated."""
    key = None
    sm = re.search(r"(?i)\bSAMPLE\s+BY\s+([A-Za-z_]\w*)\b", stmt)
    if sm:
        key = sm.group(1)
    else:
        em = re.search(
            r"(?i)\bENGINE\s*=\s*\w*MergeTree\s*\(((?:[^()]|\([^()]*\))*)\)",
            stmt,
        )
        if em:
            args = [a.strip() for a in _split_top_level_commas(em.group(1))]
            if len(args) == 4 and re.fullmatch(r"[A-Za-z_]\w*", args[1]):
                key = args[1]
    if not key:
        return None
    for cn, ct in cols:
        if cn == key:
            bits = _UINT_BITS.get(ct.strip())
            return (key, bits) if bits else None
    return None


_SQL_TYPE_ALIASES = {
    # DataTypesNumber.cpp / DataTypeString.cpp registerAlias (MySQL compat)
    "TINYINT": "Int8", "INT1": "Int8", "BYTE": "Int8",
    "SMALLINT": "Int16", "MEDIUMINT": "Int32", "INT": "Int32",
    "INTEGER": "Int32", "BIGINT": "Int64",
    "FLOAT": "Float32", "REAL": "Float32", "SINGLE": "Float32",
    "DOUBLE": "Float64", "DOUBLE PRECISION": "Float64",
    "TINYINT SIGNED": "Int8", "INT1 SIGNED": "Int8",
    "SMALLINT SIGNED": "Int16", "MEDIUMINT SIGNED": "Int32",
    "INT SIGNED": "Int32", "INTEGER SIGNED": "Int32",
    "BIGINT SIGNED": "Int64",
    "TINYINT UNSIGNED": "UInt8", "INT1 UNSIGNED": "UInt8",
    "SMALLINT UNSIGNED": "UInt16", "MEDIUMINT UNSIGNED": "UInt32",
    "INT UNSIGNED": "UInt32", "INTEGER UNSIGNED": "UInt32",
    "BIGINT UNSIGNED": "UInt64",
    "BIT": "UInt64", "YEAR": "UInt16", "TIME": "Int64",
    "CHAR": "String", "NCHAR": "String", "CHARACTER": "String",
    "VARCHAR": "String", "NVARCHAR": "String", "VARCHAR2": "String",
    "TEXT": "String", "TINYTEXT": "String", "MEDIUMTEXT": "String",
    "LONGTEXT": "String", "BLOB": "String", "TINYBLOB": "String",
    "MEDIUMBLOB": "String", "LONGBLOB": "String", "CLOB": "String",
    "BINARY LARGE OBJECT": "String", "BINARY VARYING": "String",
    "CHAR LARGE OBJECT": "String", "CHAR VARYING": "String",
    "CHARACTER LARGE OBJECT": "String", "CHARACTER VARYING": "String",
    "NCHAR LARGE OBJECT": "String", "NCHAR VARYING": "String",
    "NATIONAL CHAR": "String", "NATIONAL CHARACTER": "String",
    "BOOLEAN": "Bool",
}


def _norm_sql_compat_type(ctype: str) -> str:
    """Canonical CH spelling of SQL-compatibility type aliases
    (DataTypeFactory registerAlias, case-insensitive), with a trailing
    NOT NULL modifier dropped (ParserCreateQuery: non-Nullable default)."""
    t = ctype.strip()
    t = re.sub(r"(?i)\s+NOT\s+NULL$", "", t)
    base = re.match(r"([A-Za-z][A-Za-z0-9 ]*?)(\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?$", t)
    if base:
        canon = _SQL_TYPE_ALIASES.get(re.sub(r"\s+", " ", base.group(1)).upper())
        if canon:
            return canon
    return t


def _parse_create_meta(stmt: str):
    """CREATE TABLE metadata for DDL statements that need more than the
    Spark schema: ordered (name, CH-type) pairs for DESCRIBE, the engine
    family + sorting key + version column for OPTIMIZE FINAL merges
    (ReplacingMergeTree/SummingMergeTree — MergeTreeData.cpp merge
    algorithms), and per-column DEFAULT expressions."""
    m = _match_create(stmt.strip())
    if not m:
        return None
    cols: list[tuple[str, str]] = []
    defaults: dict[str, str] = {}
    for cdef in _split_top_level_commas(m[1]):
        cm = re.match(
            r"([A-Za-z_][A-Za-z0-9_]*|`[^`]+`)\s+(.+)$", cdef.strip(), re.DOTALL
        )
        if not cm:
            continue
        cname = cm.group(1).strip("`")
        if cname.upper() in ("INDEX", "PROJECTION", "CONSTRAINT"):
            continue
        rest = cm.group(2).strip()
        dm = re.search(
            r"(?i)\b(DEFAULT|MATERIALIZED|ALIAS|EPHEMERAL)\s+(.+?)"
            r"(?:\s+(?:CODEC\s*\(|TTL|COMMENT)\b.*)?$",
            rest, re.DOTALL,
        )
        if dm:
            defaults[cname] = (dm.group(1).upper(), dm.group(2).strip())
        ctype = re.split(
            r"(?:^|\s+)(DEFAULT|MATERIALIZED|ALIAS|EPHEMERAL|CODEC\s*\(|TTL|COMMENT)\b",
            rest, flags=re.IGNORECASE,
        )[0].strip()
        ctype = _norm_sql_compat_type(ctype)
        if not ctype and dm:
            # typeless defaulted column: infer like the reference does
            # (ParserCreateQuery — literal/expression type deduction)
            expr = dm.group(2).strip()
            if re.fullmatch(r"-?\d+", expr):
                ctype = "UInt8" if expr.isdigit() and int(expr) < 256 else "Int64"
            elif re.fullmatch(r"-?\d*\.\d+(e-?\d+)?", expr, re.IGNORECASE):
                ctype = "Float64"
            elif expr.startswith("'"):
                ctype = "String"
            elif re.search(r"(?i)\b(today|yesterday)\s*\(", expr):
                ctype = "Date"
            elif re.search(r"(?i)\bnow\s*\(", expr):
                ctype = "DateTime"
            else:
                # integer arithmetic promotes to 64 bits in the reference
                # (rand() UInt32 * UInt8 → UInt64, length() → UInt64)
                ctype = "UInt64"
        cols.append((cname, re.sub(r"\s*,\s*", ", ", ctype)))
    engine = None
    eargs = ""
    em = re.search(r"(?i)\bENGINE\s*=\s*(\w+)\s*(\(((?:[^()]|\([^()]*\))*)\))?", stmt)
    if em:
        engine = em.group(1)
        eargs = em.group(3) or ""
    keys: list[str] = []
    km = re.search(
        r"(?i)\bORDER\s+BY\s+(\(((?:[^()]|\([^()]*\))*)\)|[A-Za-z_][\w.]*)", stmt
    )
    if km:
        inner = km.group(2) if km.group(2) is not None else km.group(1)
        keys = [k.strip() for k in _split_top_level_commas(inner) if k.strip()]
    elif eargs.strip():
        # old-style engine args: MergeTree(date, [sampling,] (k1, k2), 8192)
        # — the parenthesized tuple is the primary/sorting key
        tm = re.search(r"\(((?:[^()]|\([^()]*\))*)\)", eargs)
        if tm:
            keys = [k.strip() for k in _split_top_level_commas(tm.group(1)) if k.strip()]
        else:
            args = [a.strip() for a in _split_top_level_commas(eargs)]
            named = [a for a in args if not re.fullmatch(r"\d+", a)]
            if engine and engine.startswith(("Summing", "Replacing")) and len(named) > 1:
                keys = [named[1]]  # (date, key, granularity) short form
    part_expr = None
    pm = re.search(
        r"(?i)\bPARTITION\s+BY\s+(.+?)\s*"
        r"(?=\b(?:ORDER|PRIMARY|SAMPLE|SETTINGS|TTL|AS\s+SELECT)\b|$)",
        stmt,
        re.DOTALL,
    )
    if pm:
        part_expr = pm.group(1).strip().rstrip(",")
    elif engine and "MergeTree" in engine and eargs.strip():
        # deprecated 3/4-arg syntax partitions by MONTH of the date column
        # (MergeTreeData: old-style is implicitly PARTITION BY toYYYYMM(d))
        args0 = [a.strip() for a in _split_top_level_commas(eargs)]
        if args0 and re.fullmatch(r"[A-Za-z_]\w*", args0[0]):
            part_expr = f"toYYYYMM({args0[0]})"
    version = None
    if engine and engine.startswith("Replacing") and eargs.strip():
        args = [a.strip() for a in _split_top_level_commas(eargs)]
        # new-style ReplacingMergeTree(ver); old-style args end with the
        # index granularity number — a trailing bare identifier is the ver
        if args and re.fullmatch(r"[A-Za-z_]\w*", args[-1]):
            version = args[-1]
    return cols, defaults, engine, keys, version, part_expr


def _describe_lines(
    ch_cols: list[tuple[str, str]], defaults: dict | None = None
) -> list[str]:
    """DESCRIBE TABLE rows: name, type, default_type, default_expression +
    3 empty attribute columns (comment, codec, ttl) — TSV render of
    InterpreterDescribeQuery. Nested(A T1, …) flattens to col.A Array(T1)
    (NestedUtils.cpp flatten)."""
    out = []
    defaults = defaults or {}
    for cname, ctype in ch_cols:
        nm = re.match(r"(?i)Nested\s*\((.*)\)\s*$", ctype, re.DOTALL)
        if nm:
            for sub in _split_top_level_commas(nm.group(1)):
                sm = re.match(r"(\w+)\s+(.+)$", sub.strip(), re.DOTALL)
                if sm:
                    out.append(
                        f"{cname}.{sm.group(1)}\tArray({sm.group(2).strip()})\t\t\t\t\t"
                    )
        else:
            kind, expr = defaults.get(cname) or ("", "")
            out.append(f"{cname}\t{ctype}\t{kind}\t{expr}\t\t\t")
    return out


def _expr_sql(ch_expr: str) -> str:
    """Translate a scalar ClickHouse expression to Spark SQL."""
    out = translate("SELECT " + ch_expr)
    return out[len("SELECT "):].strip()


_CH_DEFAULT_BY_KIND = [
    (re.compile(r"(?i)^Array"), "array()"),
    (re.compile(r"(?i)^(String|FixedString|LowCardinality\(String)"), "''"),
    (re.compile(r"(?i)^Date"), "DATE '1970-01-01'"),
    (re.compile(r"(?i)^DateTime"), "timestamp_seconds(0)"),
    (re.compile(r"(?i)^(Float|Decimal)"), "0.0"),
]


def _ch_default_sql(ctype: str) -> str:
    for pat, lit in _CH_DEFAULT_BY_KIND:
        if pat.search(ctype.strip()):
            return lit
    return "0"


def _optimize_final(spark, df, engine, keys, version, dedup: bool):
    """OPTIMIZE TABLE … FINAL merge semantics on the in-memory table:
    ReplacingMergeTree keeps the last row (max version) per sorting key,
    SummingMergeTree sums numeric non-key columns, DEDUPLICATE drops
    identical rows (MergeTreeDataMergerMutator). Returns None for engines
    whose merge is a physical no-op (plain MergeTree, Memory, …)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if dedup:
        return df.dropDuplicates()
    if not engine or not engine.startswith(("Replacing", "Summing")):
        return None
    try:
        key_exprs = [_expr_sql(k) for k in keys if k.strip() not in ("tuple()",)]
    except Exception:  # noqa: BLE001 — unsupported key expression
        return None
    if engine.startswith("Replacing"):
        if not key_exprs:
            return df.dropDuplicates()
        ordered = df.withColumn("__ord", F.monotonically_increasing_id())
        order = ([F.expr(_expr_sql(version)).desc()] if version else []) + [
            F.col("__ord").desc()
        ]
        w = Window.partitionBy(*[F.expr(k) for k in key_exprs]).orderBy(*order)
        out = (
            ordered.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        return out.orderBy(*[F.expr(k) for k in key_exprs]).drop("__ord")
    # Summing: aggregate numeric non-key columns per key (key columns must
    # be plain names for the groupBy to also project them)
    plain_keys = [k for k in keys if re.fullmatch(r"[A-Za-z_]\w*", k.strip())]
    if len(plain_keys) != len(keys):
        return None
    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString() in
        ("tinyint", "smallint", "int", "bigint", "float", "double")
        or f.dataType.simpleString().startswith("decimal")
    }
    aggs = []
    for f in df.schema.fields:
        if f.name in plain_keys:
            continue
        if f.name in numeric:
            aggs.append(F.sum(f.name).alias(f.name))
        else:
            aggs.append(F.last(f.name).alias(f.name))
    if not aggs:  # every column is part of the key: merge keeps one row
        out = df.dropDuplicates()
        return out.orderBy(*plain_keys) if plain_keys else out
    out = df.groupBy(*plain_keys).agg(*aggs).select(*[f.name for f in df.schema.fields])
    summed = [f.name for f in df.schema.fields
              if f.name in numeric and f.name not in plain_keys]
    if summed:
        # rows whose every summed value is zero are dropped by the merge
        # (SummingSortedAlgorithm::Row::isZero)
        out = out.where(" OR ".join(f"`{c}` <> 0" for c in summed))
    return out.orderBy(*plain_keys) if plain_keys else out


def _alter_nested(spark, df, schema_list, dotted, rest, after, drop):
    """ADD/DROP of a Nested sub-column `base.sub` — the flattened Nested
    maps to a STRUCT of ARRAYs here, so rebuild the struct with the field
    added (empty-array default) or removed, and patch the Nested(...) type
    text that DESCRIBE renders (NestedUtils.cpp)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    base, sub = dotted.split(".", 1)
    ctype = re.split(r"(?i)\s+(DEFAULT|CODEC\s*\(|TTL|COMMENT)\b", rest)[0].strip()
    im = re.match(r"(?i)Array\s*\((.*)\)\s*$", ctype, re.DOTALL)
    inner_ch = im.group(1).strip() if im else ctype
    existing = next((f for f in df.schema.fields if f.name == base), None)
    if drop:
        if existing is None or not isinstance(existing.dataType, T.StructType):
            return df.drop(dotted)
        keep = [f.name for f in existing.dataType.fields if f.name != sub]
        if keep:
            df = df.withColumn(
                base,
                F.struct(*[F.col(f"{base}.{k}").alias(k) for k in keep]),
            )
        else:
            df = df.drop(base)
        for i2, (c, t) in enumerate(schema_list):
            nm3 = re.match(r"(?i)Nested\s*\((.*)\)\s*$", t, re.DOTALL)
            if c == base and nm3:
                subs = [
                    s for s in _split_top_level_commas(nm3.group(1))
                    if not s.strip().startswith(sub + " ")
                ]
                if subs:
                    schema_list[i2] = (c, f"Nested({', '.join(x.strip() for x in subs)})")
                else:
                    del schema_list[i2]
                break
        return df
    spark_inner = _ch_type_to_spark(ctype)
    default = f"CAST(array() AS {spark_inner})"
    if existing is not None and isinstance(existing.dataType, T.StructType):
        names = [f.name for f in existing.dataType.fields]
        if sub in names:
            return df
        pos = len(names)
        if after and "." in after and after.split(".", 1)[0] == base:
            asub = after.split(".", 1)[1]
            if asub in names:
                pos = names.index(asub) + 1
        fields = [F.col(f"{base}.{n}").alias(n) for n in names]
        fields.insert(pos, F.expr(default).alias(sub))
        df = df.withColumn(base, F.struct(*fields))
    else:
        df = df.withColumn(base, F.struct(F.expr(default).alias(sub)))
    for i2, (c, t) in enumerate(schema_list):
        nm3 = re.match(r"(?i)Nested\s*\((.*)\)\s*$", t, re.DOTALL)
        if c == base and nm3:
            subs = [s.strip() for s in _split_top_level_commas(nm3.group(1))]
            pos = len(subs)
            if after and "." in after:
                asub = after.split(".", 1)[1]
                for k2, s in enumerate(subs):
                    if s.startswith(asub + " "):
                        pos = k2 + 1
            subs.insert(pos, f"{sub} {inner_ch}")
            schema_list[i2] = (c, f"Nested({', '.join(subs)})")
            break
    else:
        schema_list.append((base, f"Nested({sub} {inner_ch})"))
    return df


def _exec_alter(spark, stmt, mem_tables, ch_schemas, col_defaults, table_meta=None) -> None:
    """ALTER TABLE column DDL + mutations on the in-memory tables:
    ADD/DROP/MODIFY/RENAME/CLEAR/COMMENT COLUMN, UPDATE … WHERE, DELETE
    WHERE (InterpreterAlterQuery / MutationsInterpreter). Unsupported
    actions raise, which the runner reports as a test failure."""
    from pyspark.sql import functions as F

    m = re.match(r"(?i)ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+(.*)$",
                 stmt.strip(), re.DOTALL)
    if not m:
        raise ChSqlError(f"unparsed ALTER: {stmt[:60]}")
    tname = m.group(1).split(".")[-1]
    df = mem_tables.get(tname)
    if df is None:
        raise ChSqlError(f"ALTER: unknown table {tname}")
    schema_list = ch_schemas.setdefault(tname, [])
    defaults = col_defaults.setdefault(tname, {})

    def _typed_default(ctype, dflt_ch):
        spark_t = _ch_type_to_spark(ctype)
        if dflt_ch is not None:
            src = _expr_sql(dflt_ch)
        else:
            from pyspark.sql.types import _parse_datatype_string

            try:
                src = _sql_default_lit(_parse_datatype_string(spark_t))
            except Exception:  # noqa: BLE001 — fall back to scalar default
                src = _ch_default_sql(ctype)
        return f"CAST(({src}) AS {spark_t})"

    for act in _split_top_level_commas(m.group(2)):
        a = act.strip()
        au = a.upper()
        if au.startswith("ADD COLUMN"):
            am = re.match(
                r"(?i)ADD\s+COLUMN\s+(?:IF\s+NOT\s+EXISTS\s+)?`?([A-Za-z_][\w.]*)`?"
                r"\s+(.+?)(?:\s+AFTER\s+`?([\w.]+)`?|\s+(FIRST))?\s*$",
                a, re.DOTALL,
            )
            if not am:
                raise ChSqlError(f"unparsed ADD COLUMN: {a[:60]}")
            cname, rest, after, first = am.group(1), am.group(2).strip(), am.group(3), am.group(4)
            if "." in cname:
                df = _alter_nested(
                    spark, df, schema_list, cname, rest, after, drop=False
                )
                continue
            if any(c == cname for c, _ in schema_list) or cname in df.columns:
                continue  # IF NOT EXISTS semantics; CH errors without it
            dm = re.search(
                r"(?i)\b(DEFAULT|MATERIALIZED|ALIAS|EPHEMERAL)\s+(.+?)"
                r"(?:\s+(?:CODEC\s*\(|TTL|COMMENT)\b.*)?$",
                rest, re.DOTALL,
            )
            ctype = re.split(r"(?i)\s+(DEFAULT|MATERIALIZED|ALIAS|EPHEMERAL|CODEC\s*\(|TTL|COMMENT)\b",
                             rest)[0].strip()
            dflt = dm.group(2).strip() if dm else None
            if dflt is not None:
                defaults[cname] = (dm.group(1).upper(), dflt)
            names = [f.name for f in df.schema.fields]
            if first:
                order = [cname] + names
            elif after and after in names:
                k = names.index(after) + 1
                order = names[:k] + [cname] + names[k:]
            else:
                order = names + [cname]
            df = df.withColumn(cname, F.expr(_typed_default(ctype, dflt))).select(*order)
            # schema position mirrors the dataframe order
            entry = (cname, re.sub(r"\s*,\s*", ", ", ctype))
            pos = order.index(cname)
            schema_list.insert(min(pos, len(schema_list)), entry)
        elif au.startswith("DROP COLUMN"):
            dm2 = re.match(r"(?i)DROP\s+COLUMN\s+(?:IF\s+EXISTS\s+)?`?([\w.]+)`?", a)
            if not dm2:
                raise ChSqlError(f"unparsed DROP COLUMN: {a[:60]}")
            cname = dm2.group(1)
            if "." in cname:
                df = _alter_nested(
                    spark, df, schema_list, cname, "", None, drop=True
                )
                continue
            df = df.drop(cname)
            schema_list[:] = [(c, t) for c, t in schema_list if c != cname]
            defaults.pop(cname, None)
        elif au.startswith("RENAME COLUMN"):
            rm2 = re.match(
                r"(?i)RENAME\s+COLUMN\s+(?:IF\s+EXISTS\s+)?`?(\w+)`?\s+TO\s+`?(\w+)`?", a
            )
            if not rm2:
                raise ChSqlError(f"unparsed RENAME COLUMN: {a[:60]}")
            old, new = rm2.group(1), rm2.group(2)
            df = df.withColumnRenamed(old, new)
            schema_list[:] = [
                (new if c == old else c, t) for c, t in schema_list
            ]
        elif au.startswith("MODIFY COLUMN"):
            mm2 = re.match(
                r"(?i)MODIFY\s+COLUMN\s+(IF\s+EXISTS\s+)?`?(\w+)`?\s+(.+)$",
                a, re.DOTALL,
            )
            if not mm2:
                raise ChSqlError(f"unparsed MODIFY COLUMN: {a[:60]}")
            if_exists, cname, rest = mm2.group(1), mm2.group(2), mm2.group(3).strip()
            if cname not in df.columns:
                if if_exists:
                    continue
                raise ChSqlError(f"MODIFY COLUMN: no column {cname}")
            dm3 = re.match(r"(?i)(DEFAULT|MATERIALIZED)\s+(.+)$", rest, re.DOTALL)
            if dm3:
                defaults[cname] = (dm3.group(1).upper(), dm3.group(2).strip())
                continue
            if re.match(r"(?i)REMOVE\s", rest):
                defaults.pop(cname, None)
                continue
            dm4 = re.search(
                r"(?i)\b(DEFAULT|MATERIALIZED)\s+(.+?)"
                r"(?:\s+(?:CODEC\s*\(|TTL|COMMENT)\b.*)?$",
                rest, re.DOTALL,
            )
            if dm4:
                defaults[cname] = (dm4.group(1).upper(), dm4.group(2).strip())
            ctype = re.split(r"(?i)\s+(DEFAULT|MATERIALIZED|CODEC\s*\(|TTL|COMMENT)\b",
                             rest)[0].strip()
            df = df.withColumn(
                cname, F.col(cname).cast(_ch_type_to_spark(ctype))
            ).select(*[f.name for f in df.schema.fields])
            schema_list[:] = [
                (c, re.sub(r"\s*,\s*", ", ", ctype) if c == cname else t)
                for c, t in schema_list
            ]
        elif au.startswith("CLEAR COLUMN"):
            cm2 = re.match(r"(?i)CLEAR\s+COLUMN\s+(?:IF\s+EXISTS\s+)?`?(\w+)`?", a)
            if not cm2:
                raise ChSqlError(f"unparsed CLEAR COLUMN: {a[:60]}")
            cname = cm2.group(1)
            ctype = next((t for c, t in schema_list if c == cname), "String")
            dpair = defaults.get(cname)
            df = df.withColumn(
                cname, F.expr(_typed_default(ctype, dpair[1] if dpair else None))
            )
        elif au.startswith("COMMENT COLUMN"):
            continue
        elif au.startswith("UPDATE "):
            um = re.match(r"(?i)UPDATE\s+(.+)\s+WHERE\s+(.+)$", a, re.DOTALL)
            if not um:
                raise ChSqlError(f"unparsed ALTER UPDATE: {a[:60]}")
            cond = f"coalesce(CAST(({_expr_sql(um.group(2))}) AS BOOLEAN), false)"
            assigns = {}
            for one in _split_top_level_commas(um.group(1)):
                em2 = re.match(r"\s*`?(\w+)`?\s*=\s*(.+)$", one, re.DOTALL)
                if not em2:
                    raise ChSqlError(f"unparsed assignment: {one[:60]}")
                assigns[em2.group(1)] = _expr_sql(em2.group(2))
            items = []
            for f in df.schema.fields:
                if f.name in assigns:
                    t = f.dataType.simpleString()
                    items.append(
                        f"CASE WHEN {cond} THEN CAST(({assigns[f.name]}) AS {t})"
                        f" ELSE `{f.name}` END AS `{f.name}`"
                    )
                else:
                    items.append(f"`{f.name}`")
            df = df.selectExpr(*items)
        elif au.startswith("DELETE WHERE"):
            cond = _expr_sql(a[len("DELETE WHERE"):].strip())
            df = df.where(f"NOT coalesce(CAST(({cond}) AS BOOLEAN), false)")
        elif re.match(
            r"(?i)(ADD|DROP|CLEAR|MATERIALIZE)\s+(INDEX|PROJECTION)\b", a
        ) or au.startswith((
            "FREEZE", "UNFREEZE", "MODIFY SETTING", "RESET SETTING",
            "MATERIALIZE COLUMN", "MODIFY TTL", "MATERIALIZE TTL",
            "REMOVE TTL", "MODIFY ORDER BY", "MODIFY SAMPLE BY",
        )):
            # storage-layer hints (skip indexes, projections, TTL schedules,
            # merge settings — InterpreterAlterQuery): no row-visible effect
            # in this engine, where every read scans current rows
            continue
        elif au.startswith("MOVE PARTITION") and " TO TABLE " in au:
            mm2 = re.match(
                r"(?i)MOVE\s+PARTITION\s+(?:ID\s+)?(.+?)\s+TO\s+TABLE\s+"
                r"([A-Za-z_][\w.]*)\s*$", a, re.DOTALL,
            )
            if not mm2:
                raise ChSqlError(f"unparsed MOVE PARTITION: {a[:60]}")
            dest = mm2.group(2).split(".")[-1]
            lit = mm2.group(1).strip()
            part_expr = (table_meta or {}).get(tname, (None, [], None, None))
            part_expr = part_expr[3] if len(part_expr) > 3 else None
            if part_expr is None:
                cond = "true"
            else:
                pe = part_expr.strip()
                if pe.startswith("(") and pe.endswith(")") and "," not in pe:
                    pe = pe[1:-1]
                pes = _expr_sql(pe)
                cond = (
                    f"CAST(({pes}) AS STRING) = CAST(({_expr_sql(lit)}) AS STRING)"
                )
            moved = df.where(f"coalesce(CAST(({cond}) AS BOOLEAN), false)")
            dd = mem_tables.get(dest)
            if dd is None:
                raise ChSqlError(f"MOVE PARTITION: unknown table {dest}")
            dd = dd.unionByName(moved.select(*dd.columns))
            dd.createOrReplaceTempView(dest)
            mem_tables[dest] = dd
            df = df.where(f"NOT coalesce(CAST(({cond}) AS BOOLEAN), false)")
        elif au.startswith(("DROP PARTITION", "DROP PART ")):
            # delete rows whose partition key equals the literal
            # (MergeTreeData::dropPartition); partition ids for simple keys
            # are the key value itself
            pm2 = re.match(r"(?i)DROP\s+(?:PARTITION|PART)\s+(?:ID\s+)?(.+)$", a, re.DOTALL)
            part_expr = (table_meta or {}).get(tname, (None, [], None, None))
            part_expr = part_expr[3] if len(part_expr) > 3 else None
            lit = pm2.group(1).strip()
            if part_expr is None or lit.lower() in ("tuple()", "()", "'all'"):
                df = df.limit(0)
            else:
                pe = part_expr.strip()
                if pe.startswith("(") and pe.endswith(")") and "," not in pe:
                    pe = pe[1:-1]
                # Date partition columns get YYYYMMDD partition ids
                # (MergeTreePartition::getID) — match either rendering
                pes = _expr_sql(pe)
                cond = (
                    f"CAST(({pes}) AS STRING) = CAST(({_expr_sql(lit)}) AS STRING)"
                    f" OR (CAST(({pes}) AS DATE) IS NOT NULL AND"
                    f" date_format(CAST(({pes}) AS DATE), 'yyyyMMdd')"
                    f" = CAST(({_expr_sql(lit)}) AS STRING))"
                )
                try:
                    df = df.where(f"NOT coalesce(CAST(({cond}) AS BOOLEAN), false)")
                except Exception:  # noqa: BLE001 — non-date key: the
                    # YYYYMMDD disjunct's DATE cast doesn't analyze
                    df = df.where(
                        f"NOT coalesce(CAST((CAST(({pes}) AS STRING) ="
                        f" CAST(({_expr_sql(lit)}) AS STRING)) AS BOOLEAN), false)"
                    )
        else:
            raise ChSqlError(f"unsupported ALTER action: {a[:60]}")
    df.createOrReplaceTempView(tname)
    mem_tables[tname] = df


_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?:TABLE\s+(?!FUNCTION))?"
    r"(?:[A-Za-z_][A-Za-z0-9_]*\.)?`?([A-Za-z_][A-Za-z0-9_]*)`?"
    r"\s*(\((?:[^()]|\([^()]*\))*\))?\s*"
    r"(?:SETTINGS\s+(?:[^'\s,]+\s*=\s*(?:'[^']*'|\S+)\s*,?\s*)+)?"
    r"(?:FORMAT\s+Values\s*)?(VALUES|SELECT|WITH)\b(.*)$",
    re.IGNORECASE | re.DOTALL,
)

# INSERT with inline-format payload: clickhouse-client reads the data that
# follows `FORMAT <name>` verbatim (ClientBase.cpp sendDataFrom* — stateless
# tests inline JSONEachRow/TSV/CSV rows after the clause).
_INSERT_FMT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?:[A-Za-z_][A-Za-z0-9_]*\.)?([A-Za-z_][A-Za-z0-9_]*)"
    r"\s*(\((?:[^()]|\([^()]*\))*\))?\s*FORMAT\s+([A-Za-z]+)\s?(.*)$",
    re.IGNORECASE | re.DOTALL,
)


def _sql_lit_of(v) -> str:
    """Render a parsed payload value as a Spark SQL literal."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, list):
        return "array(" + ", ".join(_sql_lit_of(x) for x in v) + ")"
    if isinstance(v, dict):
        items = []
        for k, val in v.items():
            items.append(_sql_lit_of(k))
            items.append(_sql_lit_of(val))
        return "map(" + ", ".join(items) + ")"
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


_TSV_UNESC = {"t": "\t", "n": "\n", "r": "\r", "\\": "\\", "'": "'", "0": "\0", "b": "\b", "f": "\f"}


def _tsv_field(s: str):
    """Decode one TabSeparated field (TabSeparatedRowInputFormat.cpp
    escaping rules): \\N is NULL, backslash escapes otherwise."""
    if s == "\\N":
        return None
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            out.append(_TSV_UNESC.get(s[i + 1], s[i + 1]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _inline_format_rows(fmt: str, payload: str):
    """Parse an inline INSERT payload. Returns (names_or_None, rows):
    names is the per-row key list for by-name formats (JSONEachRow/TSKV),
    None for positional ones; rows are lists (or dicts) of Python values."""
    import csv as _csv
    import io
    import json

    f = fmt.lower()
    if f in ("jsonasstring", "jsonasobject"):
        # the whole payload becomes ONE String/Object row
        # (JSONAsStringRowInputFormat.cpp)
        return False, [[payload.strip()]]
    if f == "jsoneachrow":
        dec = json.JSONDecoder()
        rows, i, n = [], 0, len(payload)
        while i < n:
            while i < n and payload[i] in " \t\r\n,;":
                i += 1
            if i >= n:
                break
            obj, end = dec.raw_decode(payload, i)
            rows.append(obj)
            i = end
        return True, rows
    if f in ("tabseparated", "tsv", "tabseparatedraw", "tsvraw"):
        raw = f in ("tabseparatedraw", "tsvraw")
        lines = [ln for ln in payload.strip("\n").split("\n") if ln != ""]
        return False, [
            [fld if raw else _tsv_field(fld) for fld in ln.split("\t")]
            for ln in lines
        ]
    if f == "csv":
        text = payload.strip("\n")
        rows = []
        for rec in _csv.reader(io.StringIO(text)):
            if rec:
                rows.append([None if c == "\\N" else c for c in rec])
        return False, rows
    if f == "tskv":
        rows = []
        for ln in payload.strip("\n").split("\n"):
            if not ln.strip():
                continue
            d = {}
            for pair in ln.split("\t"):
                if "=" in pair:
                    k, v = pair.split("=", 1)
                    d[k] = _tsv_field(v)
            rows.append(d)
        return True, rows
    raise ChSqlError(f"unsupported inline INSERT format {fmt!r}")


def _sub_default_kw(
    row: str, collist, target, col_defaults, tname: str
) -> str:
    """Replace the bare DEFAULT keyword in a VALUES row (ConstantExpression
    with use_default flag, ValuesBlockInputFormat) with the column's DEFAULT
    expression, or NULL so the insert_null_as_default pass fills the type
    default."""
    if not re.search(r"(?i)\bDEFAULT\b", _blank(row)):
        return row
    if collist:
        listed = [c.strip().strip("`") for c in collist.strip("()").split(",")]
    else:
        listed = [f.name for f in target.schema.fields]
    dflts = (col_defaults or {}).get(tname) or {}
    parts = _split_top_level_commas(row)
    for i, p in enumerate(parts):
        if p.strip().upper() == "DEFAULT":
            cn = listed[i] if i < len(listed) else None
            kd, ed = dflts.get(cn) or ("", "") if cn else ("", "")
            parts[i] = f"({ed})" if ed else "NULL"
    return ", ".join(parts)


def _values_rows(tail: str) -> list[str]:
    """Split a VALUES tail `(a, b), (c, d)` into per-row expression lists."""
    rows, depth, cur, in_str = [], 0, [], False
    for c in tail:
        if in_str:
            cur.append(c)
            if c == "'":
                in_str = False
        elif c == "'":
            in_str = True
            cur.append(c)
        elif c == "(":
            if depth:
                cur.append(c)
            depth += 1
        elif c == ")":
            depth -= 1
            if depth:
                cur.append(c)
            else:
                rows.append("".join(cur).strip())
                cur = []
        elif depth:
            cur.append(c)
    return rows


_DATE_NORM = (
    "to_date(regexp_replace(regexp_replace(translate(substring_index({0},"
    " ' ', 1), '/', '-'), '^([0-9]{{4}})-([0-9])-', '$1-0$2-'),"
    " '-([0-9])$', '-0$1'))"
)


def _cast_lit(lit: str, dt) -> str:
    """CAST a rendered literal to the column type; Date goes through the
    flexible-separator normalizer (readDateTextFallback accepts 2017/1/2)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.DateType) and lit.startswith("'"):
        return _DATE_NORM.format(lit)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        # DateTime accepts unix-timestamp NUMBERS and numeric strings
        # (DataTypeDateTime deserialization; reference 00567)
        if re.fullmatch(r"'[0-9]+'", lit):
            return f"timestamp_seconds(CAST({lit[1:-1]} AS BIGINT))"
        if re.fullmatch(r"-?[0-9]+", lit):
            return f"timestamp_seconds({lit})"
    return f"CAST({lit} AS {dt.simpleString()})"


def _sql_default_lit(dt) -> str:
    """ClickHouse type-default as a SQL literal (addMissingDefaults.cpp)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return f"CAST(array() AS {dt.simpleString()})"
    if isinstance(dt, T.MapType):
        return "map()"
    if isinstance(dt, T.StructType):
        inner = ", ".join(
            f"'{f.name}', {_sql_default_lit(f.dataType)}" for f in dt.fields
        )
        return f"named_struct({inner})"
    if isinstance(dt, T.StringType):
        return "''"
    if isinstance(dt, T.BooleanType):
        return "FALSE"
    if isinstance(dt, T.DateType):
        return "DATE'1970-01-01'"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "TIMESTAMP'1970-01-01 00:00:00'"
    return "0"


_JOIN_ENGINE_RE = re.compile(
    r"ENGINE\s*=?\s*Join\s*\(\s*\w+\s*,\s*(\w+)\s*,\s*([\w\s,]+?)\)", re.IGNORECASE
)


def _rewrite_joinget(stmt: str, join_keys: dict) -> str:
    """joinGet[OrNull](table, 'col', k1[, k2…]) → correlated scalar subquery
    `(SELECT first(col) FROM table WHERE key1 = (k1) AND …)` using the key
    columns recorded from the table's ENGINE = Join(any, left, k…) clause
    (StorageJoin.cpp). ANY-join keeps the first inserted row per key; a NULL
    key compares NULL and therefore never matches, as in HashJoin."""
    i = 0
    while True:
        m = re.search(r"\bjoinGet(?:OrNull)?\s*\(", stmt[i:])
        if not m:
            return stmt
        start = i + m.start()
        open_p = i + m.end() - 1
        depth, j, in_str = 0, open_p, False
        while j < len(stmt):
            c = stmt[j]
            if in_str:
                if c == "\\":
                    j += 2
                    continue
                if c == "'":
                    in_str = False
            elif c == "'":
                in_str = True
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth:
            return stmt
        args = _split_top_level_commas(stmt[open_p + 1 : j])
        tbl = args[0].strip().strip("'").split(".")[-1] if args else ""
        entry = join_keys.get(tbl)
        if not entry or len(args) != 2 + len(entry[0]):
            i = open_p + 1
            continue
        keys, agg = entry
        col = args[1].strip().strip("'")
        if not col:
            i = open_p + 1
            continue
        # rename key/value columns so correlated outer references with the
        # same name (SELECT … AS user_id WHERE joinGet(t,'c',user_id)) don't
        # capture the inner table's columns
        inner_cols = ", ".join(
            [f"{k} AS __jg_k{n}" for n, k in enumerate(keys)]
            + [f"{col} AS __jg_v"]
        )
        preds = " AND ".join(
            f"__jg_k{n} = ({v.strip()})" for n, v in enumerate(args[2:])
        )
        repl = (
            f"(SELECT {agg}(__jg_v) FROM"
            f" (SELECT {inner_cols} FROM {tbl}) WHERE {preds})"
        )
        stmt = stmt[:start] + repl + stmt[j + 1 :]
        i = start + len(repl)


def _null_producer_free(stmt: str, nullable_cols: dict) -> bool:
    """True when the statement cannot legitimately produce NULL in ClickHouse:
    no NULL-producing construct in its text (NULL literal, nullIf, *OrNull,
    Nullable casts — all contain 'null') and no Nullable column declared in
    any table it could read. Under the reference defaults (join_use_nulls=0,
    src/Core/Settings.h) ClickHouse fills outer-join misses, out-of-range
    arr[i], and empty-set aggregates with TYPE DEFAULTS where Spark yields
    NULL; when this predicate holds, every NULL in the Spark result is such
    a site and must render as the default, not \\N."""
    if re.search(r"null", stmt, re.IGNORECASE):
        return False
    # Nullable-returning functions whose names don't contain 'null'
    if re.search(r"(?i)\bJSON_?Array_?Length\b", stmt):
        return False
    # CASE without ELSE yields NULL for unmatched rows in ClickHouse too
    if re.search(r"\bCASE\b", stmt, re.IGNORECASE) and not re.search(
        r"\bELSE\b", stmt, re.IGNORECASE
    ):
        return False
    if any(nullable_cols.values()):
        # declared-Nullable columns legitimately carry NULL; the caller
        # fills only the other output columns (matched by name)
        return True
    return True


def _fill_null_defaults(df, skip: "set[str] | None" = None):
    """coalesce() every nullable output column with its ClickHouse type
    default (see _null_producer_free), except names in `skip` (declared
    Nullable — their NULLs are real). Columns are addressed by ordinal so
    duplicate output names are safe."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    skip_l = {s.lower() for s in (skip or ())}
    fields = df.schema.fields
    tmp = df.toDF(*[f"__c{i}" for i in range(len(fields))])  # positional —
    # uniquified names sidestep duplicate/ambiguous output columns
    cols = []
    for i, f in enumerate(fields):
        c = tmp[f"__c{i}"]
        fill = (
            f.nullable
            and f.name.lower() not in skip_l
            and not isinstance(f.dataType, (T.NullType, T.BinaryType))
        )
        if fill and skip_l and not re.match(r"^[A-Za-z_]\w*$", f.name):
            # Nullable sources exist and this output is an expression
            # column: its NULL may come from the Nullable input — keep it
            fill = False
        if fill:
            if isinstance(f.dataType, T.ArrayType) and not isinstance(
                f.dataType.elementType,
                (T.ArrayType, T.StructType, T.MapType, T.BinaryType, T.NullType),
            ):
                # NULL elements inside a non-Nullable array render as the
                # element type default too (arrayResize/arrayPadding sites)
                et = f.dataType.elementType
                c = F.transform(c, lambda x: F.coalesce(x, _type_default(et)))
            c = F.coalesce(c, _type_default(f.dataType))
        cols.append(c.alias(f.name))
    wrapped = tmp.select(*cols)
    wrapped.schema  # force analysis NOW so type errors hit our try/except
    return wrapped


def _type_default(dt):
    """ClickHouse default value for a type (addMissingDefaults.cpp)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return F.array().cast(dt)
    if isinstance(dt, T.MapType):
        return F.map_from_arrays(F.array(), F.array()).cast(dt)
    if isinstance(dt, T.StructType):
        return F.struct(
            *[_type_default(f.dataType).alias(f.name) for f in dt.fields]
        )
    if isinstance(dt, T.StringType):
        return F.lit("")
    if isinstance(dt, T.BooleanType):
        return F.lit(False)
    if isinstance(dt, T.DateType):
        return F.lit("1970-01-01").cast("date")
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return F.lit("1970-01-01 00:00:00").cast(dt)
    return F.lit(0).cast(dt)


def _exec_insert(spark, stmt: str, mem_tables: dict, nullable_cols: dict | None = None, nested_cols: dict | None = None, enum_cols: dict | None = None, col_defaults: dict | None = None, ch_schemas: dict | None = None) -> None:
    """INSERT INTO a memory-backed golden table, PRESERVING insertion order
    (ClickHouse Memory/Log engines append in order and the reference diffs
    output literally; a parquet round-trip loses order because Spark packs
    scan splits by file size). Rows become local relations unioned in
    order — collect order is deterministic."""
    from pyspark.sql import functions as F

    nf = re.match(
        r"^\s*INSERT\s+INTO\s+FUNCTION\s+null\s*\(\s*'[^']*'\s*\)\s*(SELECT|WITH)\b(.*)$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if nf:
        # INSERT INTO FUNCTION null('schema') — TableFunctionNull.cpp: run
        # the source query, discard every row
        spark.sql(translate(nf.group(1) + nf.group(2))).count()
        return
    m = _INSERT_RE.match(stmt)
    if m:
        name, collist, kw, tail = m.group(1), m.group(2), m.group(3).upper(), m.group(4)
        if name not in mem_tables:
            raise ChSqlError(f"INSERT into unknown golden table {name!r}")
        target = mem_tables[name]
        if kw == "VALUES":
            selects = " UNION ALL ".join(
                f"SELECT {_sub_default_kw(row, collist, target, col_defaults, name)}"
                for row in _values_rows(tail)
                if row
            )
            src = spark.sql(translate(selects))
        else:
            src = spark.sql(translate(kw + tail))
    else:
        fm = _INSERT_FMT_RE.match(stmt)
        if not fm:
            raise ChSqlError(f"unparsed INSERT: {stmt[:80]}")
        name, collist, fmt, payload = (
            fm.group(1), fm.group(2), fm.group(3), fm.group(4),
        )
        if name not in mem_tables:
            raise ChSqlError(f"INSERT into unknown golden table {name!r}")
        target = mem_tables[name]
        if fmt.lower() == "values":
            selects = " UNION ALL ".join(
                f"SELECT {_sub_default_kw(row, collist, target, col_defaults, name)}"
                for row in _values_rows(payload)
                if row
            )
            src = spark.sql(translate(selects))
            rows = None
        else:
            by_name, rows = _inline_format_rows(fmt, payload)
            if not rows:
                return
        null_set0 = (nullable_cols or {}).get(name, set())
        if rows is None:
            pass  # src already built from the Values payload
        elif by_name:
            keys_seen = {k.lower() for r in rows for k in r}
            listed0 = [f for f in target.schema.fields if f.name.lower() in keys_seen]
            collist = "(" + ", ".join(f.name for f in listed0) + ")"
            dflts0 = (col_defaults or {}).get(name) or {}

            def _default_ctx_sql(f) -> str:
                # input-format defaults evaluate dependent expressions in
                # the DEFAULTS context (sibling column -> its own default,
                # not the row value): {"n": 2} with s DEFAULT
                # concat('test', toString(n)), n DEFAULT 42 gives 'test42'
                kd, ed = dflts0.get(f.name) or ("", "")
                if not ed:
                    return _cast_lit(_sql_default_lit(f.dataType), f.dataType)
                esql = _expr_sql(ed)
                for g in target.schema.fields:
                    if g.name == f.name:
                        continue
                    kd2, ed2 = dflts0.get(g.name) or ("", "")
                    rep = (
                        f"({_expr_sql(ed2)})" if ed2
                        else _sql_default_lit(g.dataType)
                    )
                    esql = _sub_ident(g.name, rep, esql)
                return f"CAST(({esql}) AS {f.dataType.simpleString()})"

            sel = []
            for r in rows:
                lower = {k.lower(): v for k, v in r.items()}
                lits = []
                for f in listed0:
                    if f.name.lower() in lower:
                        lits.append(
                            _cast_lit(_sql_lit_of(lower[f.name.lower()]), f.dataType)
                        )
                    elif f.name.lower() in null_set0:
                        lits.append(f"CAST(NULL AS {f.dataType.simpleString()})")
                    else:
                        lits.append(_default_ctx_sql(f))
                sel.append("SELECT " + ", ".join(lits))
        else:
            if collist:
                by_lower = {f.name.lower(): f for f in target.schema.fields}
                flds = [
                    by_lower.get(c.strip().strip("`").lower())
                    for c in collist.strip("()").split(",")
                ]
            else:
                flds = list(target.schema.fields)
            sel = []
            for r in rows:
                lits = []
                for j, v in enumerate(r):
                    dt = flds[j].dataType if j < len(flds) and flds[j] else None
                    lits.append(_cast_lit(_sql_lit_of(v), dt) if dt else _sql_lit_of(v))
                sel.append("SELECT " + ", ".join(lits))
        if rows is not None:
            src = spark.sql(" UNION ALL ".join(sel))
    cl = (collist or "").strip("()").strip()
    star = re.match(r"(?:([A-Za-z_][A-Za-z0-9_]*)\.)?\*(\s|$)", cl)
    colsm = re.match(r"COLUMNS\s*\(\s*'([^']*)'\s*\)", cl, re.IGNORECASE)
    if collist and (star or colsm):
        # `INSERT INTO t(* EXCEPT (a, b))` / `t.* EXCEPT` / `COLUMNS('re')`
        # — asterisk column list (ColumnsTransformers EXCEPT/COLUMNS)
        if star and star.group(1) and star.group(1).lower() != name.lower():
            raise ChSqlError(
                f"unknown qualified asterisk {star.group(1)}.* in INSERT into {name}"
            )
        if colsm:
            pat = re.compile(colsm.group(1))
            base = [f.name for f in target.schema.fields if pat.search(f.name)]
        else:
            base = [f.name for f in target.schema.fields]
        exm = re.search(r"EXCEPT\s*\(([^)]*)\)", collist, re.IGNORECASE)
        drop = (
            {c.strip().strip("`").lower() for c in exm.group(1).split(",")}
            if exm
            else set()
        )
        listed = [c for c in base if c.lower() not in drop]
    elif collist:
        listed = [c.strip().strip("`") for c in collist.strip("()").split(",")]
    else:
        listed = [f.name for f in target.schema.fields]
    pos = {n.lower(): i for i, n in enumerate(listed)}
    nest = (nested_cols or {}).get(name, {})
    if nest and not collist:
        # Nested columns consume one source slot per sub-array and pack
        # into the struct; recompute positions with the expansion
        pos, cursor = {}, 0
        for f in target.schema.fields:
            pos[f.name.lower()] = cursor
            cursor += nest.get(f.name, 1)
    # positional rename first — VALUES like (1,1,'a') yield duplicate column
    # names (ambiguous by-name), and literal-derived names like `2.4` parse
    # as nested field references
    src = src.toDF(*[f"__c{i}" for i in range(len(src.columns))])
    src_cols = src.columns
    out = []
    null_set = (nullable_cols or {}).get(name, set())
    for f in target.schema.fields:
        i = pos.get(f.name.lower())
        if i is None or i >= len(src_cols):
            # ClickHouse fills omitted columns with TYPE DEFAULTS, not NULL
            # (0 / '' / [] — addMissingDefaults.cpp) — except Nullable
            # columns, whose default IS NULL
            emap0 = (enum_cols or {}).get(name, {}).get(f.name.lower())
            if f.name.lower() in null_set:
                out.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif emap0:
                # Enum default = the lowest-numbered name (DataTypeEnum.cpp)
                out.append(F.lit(emap0[min(emap0)]).alias(f.name))
            else:
                out.append(_type_default(f.dataType).alias(f.name))
        elif f.name in nest and not collist:
            k = nest[f.name]
            sub = [
                F.col(src_cols[i + j]).cast(sf.dataType).alias(sf.name)
                for j, sf in enumerate(f.dataType.fields)
                if i + j < len(src_cols)
            ]
            out.append(F.struct(*sub).alias(f.name))
        else:
            from pyspark.sql import types as T

            c = F.col(src_cols[i])
            if isinstance(f.dataType, T.DateType) and isinstance(
                src.schema[src_cols[i]].dataType, T.StringType
            ):
                # flexible date parse ('2017/1/2' — readDateTextFallback)
                c = F.expr(_DATE_NORM.format(f"`{src_cols[i]}`"))
            elif isinstance(f.dataType, T.DateType) and isinstance(
                src.schema[src_cols[i]].dataType,
                (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
            ):
                # integer into Date = days since epoch (DataTypeDate is a
                # UInt16 day number)
                c = F.date_add(F.lit("1970-01-01").cast("date"), c.cast("int"))
            elif isinstance(
                f.dataType, (T.TimestampType, T.TimestampNTZType)
            ) and isinstance(
                src.schema[src_cols[i]].dataType,
                (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
            ):
                # integer into DateTime = unix seconds
                c = F.timestamp_seconds(c)
            elif isinstance(
                f.dataType, (T.TimestampType, T.TimestampNTZType)
            ) and isinstance(src.schema[src_cols[i]].dataType, T.StringType):
                # numeric STRING into DateTime is also unix seconds
                # (DataTypeDateTime text deserialization; reference 00567)
                c = F.when(
                    c.rlike("^[0-9]+$"),
                    F.timestamp_seconds(c.cast("bigint")),
                ).otherwise(F.to_timestamp(c))
            emap = (enum_cols or {}).get(name, {}).get(f.name.lower())
            if emap:
                # numeric values resolve to enum names (DataTypeEnum.cpp)
                num_map = F.create_map(
                    *[F.lit(x) for k, v in emap.items() for x in (str(k), v)]
                )
                s = c.cast("string")
                c = F.when(
                    s.rlike("^-?[0-9]+$"), F.element_at(num_map, s)
                ).otherwise(s)
            out.append(c.cast(f.dataType).alias(f.name))
    new_rows = src.select(*out)
    # DEFAULT/MATERIALIZED/ALIAS expressions for columns the INSERT omitted
    # (addMissingDefaults.cpp computes them from the sibling columns)
    filled = {
        f.name.lower()
        for f in target.schema.fields
        if pos.get(f.name.lower()) is not None
        and pos[f.name.lower()] < len(src_cols)
    }
    _all_dflts = (col_defaults or {}).get(name) or {}
    _aliases = {
        cn3: e3 for cn3, (k3, e3) in _all_dflts.items()
        if (k3 or "").upper() == "ALIAS" and e3
    }
    for cname2, (kind2, expr2) in _all_dflts.items():
        if cname2.lower() in filled or cname2 not in new_rows.columns:
            continue
        for _ in range(2):
            # DEFAULT exprs may reference ALIAS columns (virtual — not in
            # the stored schema): inline their expressions first
            for an3, ae3 in _aliases.items():
                expr2 = _sub_ident(an3, f"({ae3})", expr2)
        try:
            dtype2 = target.schema[cname2].dataType.simpleString()
            new_rows = new_rows.withColumn(
                cname2,
                F.expr(f"CAST(({_expr_sql(expr2)}) AS {dtype2})"),
            )
        except Exception:  # noqa: BLE001 — keep the type default
            pass
    # insert_null_as_default (on by default since 22.x, Core/Settings.h):
    # a NULL selected into a non-Nullable column becomes the column DEFAULT
    # (or the type default) instead of erroring
    null_ok4 = {
        c.lower() for c in (nullable_cols or {}).get(name) or set()
    }
    dflts4 = (col_defaults or {}).get(name) or {}
    for _pass in range(3):  # DEFAULT exprs may chain (b DEFAULT c - 500)
        for f4 in target.schema.fields:
            if f4.name.lower() in null_ok4 or f4.name not in new_rows.columns:
                continue
            kind4, expr4 = dflts4.get(f4.name) or ("", "")
            try:
                if expr4:
                    fill4 = F.expr(
                        f"CAST(({_expr_sql(expr4)}) AS {f4.dataType.simpleString()})"
                    )
                else:
                    fill4 = _type_default(f4.dataType)
                new_rows = new_rows.withColumn(
                    f4.name, F.coalesce(F.col(f4.name), fill4)
                )
            except Exception:  # noqa: BLE001 — leave the NULL
                pass
        if not any(
            dflts4.get(f4.name, ("", ""))[1] for f4 in target.schema.fields
        ):
            break
    for cname7, ctype7 in (ch_schemas or {}).get(name) or []:
        if ctype7.strip() in ("IPv4", "Nullable(IPv4)") and cname7 in new_rows.columns:
            # numeric input into an IPv4 column stores the UInt32 value
            # (implicit conversion, FunctionsCodingIP) — render dotted
            c7 = F.col(cname7).cast("string")
            n7 = c7.cast("long").bitwiseAND(F.lit(4294967295))
            dotted7 = F.concat_ws(
                ".",
                F.shiftrightunsigned(n7, 24).bitwiseAND(F.lit(255)).cast("string"),
                F.shiftrightunsigned(n7, 16).bitwiseAND(F.lit(255)).cast("string"),
                F.shiftrightunsigned(n7, 8).bitwiseAND(F.lit(255)).cast("string"),
                n7.bitwiseAND(F.lit(255)).cast("string"),
            )
            new_rows = new_rows.withColumn(
                cname7,
                F.when(c7.rlike("^[0-9]+$"), dotted7).otherwise(F.col(cname7)),
            )
    for cname6, ctype6 in (ch_schemas or {}).get(name) or []:
        if ctype6.strip() in ("UUID", "Nullable(UUID)") and cname6 in new_rows.columns:
            # the reference accepts the 32-hex separator-less UUID spelling
            # on input and stores the canonical 8-4-4-4-12 form
            h6 = F.lower(F.regexp_replace(F.col(cname6), "-", ""))
            canon6 = F.concat_ws(
                "-",
                F.substring(h6, 1, 8), F.substring(h6, 9, 4),
                F.substring(h6, 13, 4), F.substring(h6, 17, 4),
                F.substring(h6, 21, 12),
            )
            new_rows = new_rows.withColumn(
                cname6,
                F.when(h6.rlike("^[0-9a-f]{32}$"), canon6).otherwise(F.col(cname6)),
            )
    mem_tables[name] = target.unionAll(new_rows)
    mem_tables[name].createOrReplaceTempView(name)
    # part bookkeeping for the _part/_partition_id virtual columns: each
    # INSERT is one part, named like an unpartitioned MergeTree block
    # (MergeTreeData part naming all_<block>_<block>_0)
    parts = mem_tables.setdefault("__parts__", {}).setdefault(name, [])
    parts.append(new_rows)


def _csv_cell(j, v, fmt_cell, null_rep="\\N") -> str:
    """CSV output cell (CSVRowOutputFormat): strings/dates double-quoted
    with \"\" doubling, numerics bare, NULL as format_csv_null_representation
    (default \\N, Settings.h)."""
    if v is None:
        return null_rep
    if isinstance(v, bool):
        return "1" if v else "0"
    import decimal as _dec

    if isinstance(v, (int, float, _dec.Decimal)):
        return fmt_cell(j, v)
    s = fmt_cell(j, v) if not isinstance(v, str) else v
    return '"' + s.replace('"', '""') + '"'


_BOLD, _RESET = "\x1b[1m", "\x1b[0m"


def _vis_width(s: str) -> int:
    """Visible width: East-Asian wide/full chars count 2 (UTF8::computeWidth)."""
    import unicodedata

    return sum(
        2 if unicodedata.east_asian_width(ch) in ("W", "F") else 1 for ch in s
    )


def _right_aligned_type(dt) -> bool:
    """shouldAlignRightInPrettyFormats: numbers, dates, datetimes."""
    from pyspark.sql import types as T

    return isinstance(
        dt,
        (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType,
            T.DateType, T.TimestampType, T.TimestampNTZType,
        ),
    )


def _render_pretty(ofmt_low: str, rows, schema, fmt_cell, settings):
    """Pretty family (PrettyBlockOutputFormat.cpp, PrettyCompact*,
    PrettySpace*): per-block tables, right-aligned numeric columns, bold
    column names in the escape variants, UTF-8 or ASCII grid charset,
    output_format_pretty_max_rows truncation with the 'Showed first N.'
    footer. Layouts pinned by 00405_pretty_formats / 00476_…_widths."""
    ascii_grid = (
        str(settings.get("output_format_pretty_grid_charset", "UTF-8")).upper()
        == "ASCII"
    )
    max_rows = int(settings.get("output_format_pretty_max_rows", 10000))
    block_size = int(settings.get("max_block_size", 65409))
    max_value_width = int(
        settings.get("output_format_pretty_max_value_width", 10000)
    )
    row_numbers = str(
        settings.get("output_format_pretty_row_numbers", "0")
    ).lower() in ("1", "true")
    color = "noescapes" not in ofmt_low
    compact = "compact" in ofmt_low
    space = "space" in ofmt_low
    mono = "monoblock" in ofmt_low
    names = [f.name for f in schema.fields]
    aligns = [_right_aligned_type(f.dataType) for f in schema.fields]
    null_s = "NULL" if ascii_grid else "ᴺᵁᴸᴸ"

    def cell_str(j, v):
        if v is None:
            return null_s
        if isinstance(v, str):
            return v  # Pretty writes strings raw, no TSV escaping
        return fmt_cell(j, v)

    def pad(s, w, right):
        fill = " " * (w - _vis_width(s))
        return fill + s if right else s + fill

    def bold(s):
        return _BOLD + s + _RESET if color else s

    if ascii_grid:
        bar, hbar = "|", "|"
        top = ("+", "-", "+", "+")
        hsep = ("+", "-", "+", "+")
        rsep = ("+", "-", "+", "+")
        bot = ("+", "-", "+", "+")
        cdash = "-"
    else:
        bar, hbar = "│", "┃"
        top = ("┏", "━", "┳", "┓")
        hsep = ("┡", "━", "╇", "┩")
        rsep = ("├", "─", "┼", "┤")
        bot = ("└", "─", "┴", "┘")
        cdash = "─"

    def border(widths, sym):
        left, dash, mid, right = sym
        return left + mid.join(dash * (w + 2) for w in widths) + right

    cut_mark = ("\x1b[31;1m⋯\x1b[0m" if color else "⋯") if not ascii_grid else (
        "\x1b[31;1m~\x1b[0m" if color else "~"
    )

    def cut_vis(s):
        """Truncate to max_value_width visible columns."""
        w = 0
        for i, ch in enumerate(s):
            import unicodedata

            w += 2 if unicodedata.east_asian_width(ch) in ("W", "F") else 1
            if w > max_value_width:
                return s[:i], True
        return s, False

    out: list[str] = []
    num_w = 0

    def numbered(i):
        return f"{i:>{num_w}}. " if row_numbers else ""

    blocks = (
        [rows]
        if mono or not rows
        else [rows[i : i + block_size] for i in range(0, len(rows), block_size)]
    )
    remaining = max_rows
    truncated = len(rows) > max_rows
    row_no = 0
    for blk in blocks:
        if remaining <= 0:
            break
        blk = blk[:remaining]
        remaining -= len(blk)
        # row-number gutter width is per block: digits of the block's last
        # row number (01509: max_block_size=1 blocks show '1.' … '10.')
        num_w = len(str(row_no + len(blk))) if row_numbers else 0
        pre_grid = " " * (num_w + 2) if row_numbers else ""
        cells = []
        cuts = []
        for r in blk:
            cs, ct = [], []
            for j, v in enumerate(r):
                s, cut = cut_vis(cell_str(j, v))
                cs.append(s)
                ct.append(cut)
            cells.append(cs)
            cuts.append(ct)
        widths = [
            max([_vis_width(n)] + [_vis_width(c[j]) for c in cells])
            for j, n in enumerate(names)
        ]

        def field(j, c, ct):
            """One w+2-wide cell field incl. surrounding spaces; a cut
            value's ⋯ mark consumes the first trailing space."""
            w = widths[j]
            if ct[j]:
                return " " + c[j] + cut_mark + " " * (w - _vis_width(c[j]))
            return f" {pad(c[j], w, aligns[j])} "

        if space:
            out.append(
                pre_grid
                + " "
                + "   ".join(
                    (
                        " " * (w - _vis_width(n)) + bold(n)
                        if right
                        else bold(n) + " " * (w - _vis_width(n))
                    )
                    for n, w, right in zip(names, widths, aligns)
                )
            )
            out.append("")
            for c, ct in zip(cells, cuts):
                row_no += 1
                out.append(
                    numbered(row_no)
                    + " ".join(field(j, c, ct) for j in range(len(names)))
                )
        elif compact:
            # names embedded in the top border, on the aligned side
            segs = []
            for n, w, right in zip(names, widths, aligns):
                fill = cdash * (w - _vis_width(n) + 1)
                segs.append(
                    (fill + bold(n) + cdash)
                    if right
                    else (cdash + bold(n) + fill)
                )
            left, _d, mid, rgt = (
                ("+", "-", "+", "+") if ascii_grid else ("┌", "─", "┬", "┐")
            )
            out.append(pre_grid + left + mid.join(s for s in segs) + rgt)
            for c, ct in zip(cells, cuts):
                row_no += 1
                out.append(
                    numbered(row_no)
                    + bar
                    + bar.join(field(j, c, ct) for j in range(len(names)))
                    + bar
                )
            out.append(pre_grid + border(widths, bot))
        else:  # full Pretty
            out.append(pre_grid + border(widths, top))
            out.append(
                pre_grid
                + hbar
                + hbar.join(
                    " " + bold(pad(n, w, right)) + " "
                    for n, w, right in zip(names, widths, aligns)
                )
                + hbar
            )
            out.append(pre_grid + border(widths, hsep))
            for i, (c, ct) in enumerate(zip(cells, cuts)):
                if i:
                    out.append(pre_grid + border(widths, rsep))
                row_no += 1
                out.append(
                    numbered(row_no)
                    + bar
                    + bar.join(field(j, c, ct) for j in range(len(names)))
                    + bar
                )
            out.append(pre_grid + border(widths, bot))
    if truncated:
        if space:
            out.append("")
            out.append(f"Showed first {max_rows}.")
        else:
            out.append(f"  Showed first {max_rows}.")
    return out


def _render_output(ofmt: str, rows, schema, fmt_cell, settings=None, ch_meta=None):
    """Render collected rows in a ClickHouse output format. Returns a list
    of lines, or None if the format isn't supported (caller falls back to
    TSV). Reference: src/Processors/Formats/Impl/*RowOutputFormat.cpp."""
    if ofmt.lower().startswith("pretty"):
        return _render_pretty(ofmt.lower(), rows, schema, fmt_cell, settings or {})
    import json as _json

    names = [f.name for f in schema.fields]
    low = ofmt.lower()
    if low == "bsoneachrow":
        from clickhouse_23_3_19_32_lts_spark.sources.msgpack_bson import (
            encode_bson_each_row,
        )

        meta = ch_meta or [
            (f.name, _spark_to_ch_type(f.dataType)) for f in schema.fields
        ]
        st = settings or {}
        as_str = str(st.get("output_format_bson_string_as_string", "0")) != "0"
        blob = encode_bson_each_row(
            [list(r) for r in rows], meta, as_string=as_str
        )
        # the reference file is read as UTF-8 with errors=replace; apply
        # the identical transform so byte-exact payloads compare equal
        return [blob.decode("utf-8", errors="replace")]
    if low == "msgpack":
        from clickhouse_23_3_19_32_lts_spark.sources.msgpack_bson import (
            encode_msgpack,
        )

        blob = encode_msgpack([list(r) for r in rows])
        return [blob.decode("utf-8", errors="replace")]
    if low in ("tabseparated", "tsv"):
        return ["\t".join(fmt_cell(j, v) for j, v in enumerate(r)) for r in rows]
    if low in ("tabseparatedwithnames", "tsvwithnames"):
        return ["\t".join(names)] + [
            "\t".join(fmt_cell(j, v) for j, v in enumerate(r)) for r in rows
        ]
    if low in ("tabseparatedwithnamesandtypes", "tsvwithnamesandtypes"):
        meta = ch_meta or [
            (f.name, _spark_to_ch_type(f.dataType)) for f in schema.fields
        ]
        return (
            ["\t".join(n for n, _ in meta), "\t".join(t for _, t in meta)]
            + ["\t".join(fmt_cell(j, v) for j, v in enumerate(r)) for r in rows]
        )
    if low in ("csv", "csvwithnames"):
        st = settings or {}
        nrep = str(st.get("format_csv_null_representation", "\\N"))
        # the SET value is a CH string literal body: decode its escapes
        nrep = nrep.replace("\\\\", "\\")
        head = (
            ['"' + '","'.join(n.replace('"', '""') for n in names) + '"']
            if low == "csvwithnames"
            else []
        )
        return head + [
            ",".join(_csv_cell(j, v, fmt_cell, nrep) for j, v in enumerate(r))
            for r in rows
        ]
    if low == "lineasstring":
        # raw value, no escaping (LineAsStringRowOutputFormat)
        return [
            "\t".join(str(v) for v in r) for r in rows
        ]
    if low == "jsoneachrow":
        st = settings or {}
        quote64 = str(st.get("output_format_json_quote_64bit_integers", "1")) != "0"
        esc_slash = str(st.get("output_format_json_escape_forward_slashes", "1")) != "0"
        out = []
        for r in rows:
            obj = {}
            for j, v in enumerate(r):
                if v is None:
                    obj[names[j]] = None
                elif isinstance(v, bool):
                    obj[names[j]] = 1 if v else 0
                elif isinstance(v, int):
                    # 64-bit ints quote by default
                    # (output_format_json_quote_64bit_integers)
                    from pyspark.sql import types as T

                    big = isinstance(schema.fields[j].dataType, (T.LongType, T.DecimalType))
                    obj[names[j]] = str(v) if big and quote64 else v
                elif isinstance(v, float):
                    obj[names[j]] = v
                elif isinstance(v, str):
                    obj[names[j]] = v
                else:
                    obj[names[j]] = _json.loads(_json.dumps(v, default=lambda x: fmt_cell(j, x)))
            line = _json.dumps(obj, ensure_ascii=False, separators=(",", ":"))
            if esc_slash:
                # JSONRowOutputFormat escapes '/' by default
                # (output_format_json_escape_forward_slashes = 1); '/' only
                # occurs inside JSON strings, so a global replace is safe
                line = line.replace("/", "\\/")
            out.append(line)
        return out
    if low == "vertical":
        if not rows:
            return []
        width = max(len(n) for n in names)
        out = []
        for i, r in enumerate(rows):
            if i:
                out.append("")
            out.append(f"Row {i + 1}:")
            out.append("─" * 6)
            for j, v in enumerate(r):
                pad = " " * (width - len(names[j]) + 1)
                # Vertical writes values RAW (no TSV escaping) — embedded
                # newlines continue on their own output lines
                val = v if isinstance(v, str) else fmt_cell(j, v)
                out.extend(f"{names[j]}:{pad}{val}".split("\n"))
        return out
    if low == "values":
        return [
            ",".join(
                "(" + ",".join(_fmt_nested(v) for v in r) + ")" for r in rows
            )
        ] if rows else []
    return None


_ANTI_JOIN_RE = re.compile(
    r"(?i)\bFROM\s+([A-Za-z_]\w*)\s+(?:GLOBAL\s+)?ANTI\s+(LEFT|RIGHT)\s+"
    r"(?:OUTER\s+)?JOIN\s+([A-Za-z_]\w*)(?:\s+(?:AS\s+)?(?!USING\b)"
    r"([A-Za-z_]\w*))?\s+USING\s*\(?\s*"
    r"([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\)?"
)


def _rewrite_anti_join(spark, stmt: str) -> str:
    """ANTI LEFT/RIGHT JOIN (JoinStrictness::Anti): probe-side rows WITHOUT
    a match; the build side's columns are type defaults (join_use_nulls=0),
    except ANTI LEFT's USING keys which unify with the probe side. Needs
    the build table's schema, so this runs in the harness, not the dialect
    (supports the bare-table USING shape the reference tests use)."""
    m = _ANTI_JOIN_RE.search(stmt)
    if m is None:
        return stmt
    lt, side, rt, ralias, keys_s = (
        m.group(1), m.group(2).upper(), m.group(3), m.group(4), m.group(5),
    )
    keys = [k.strip() for k in keys_s.split(",")]
    rname = ralias or rt
    try:
        lschema = spark.table(lt).schema
        rschema = spark.table(rt).schema
    except Exception:  # noqa: BLE001 — unknown relation: leave untouched
        return stmt

    def defaults(schema, qualifier_for_keys=None):
        items = []
        for f in schema.fields:
            if f.name in keys and qualifier_for_keys:
                items.append(f"{qualifier_for_keys}.{f.name} AS {f.name}")
            else:
                items.append(f"{_sql_default_lit(f.dataType)} AS {f.name}")
        return ", ".join(items)

    if side == "LEFT":
        # keep left rows without a match; right cols default, keys unify
        join_sql = f"FROM {lt} LEFT ANTI JOIN {rt} USING ({', '.join(keys)})"
        gone, gone_schema, keep, key_src = rname, rschema, lt, lt
        star = (
            f"{lt}.*, "
            + ", ".join(
                f"{_sql_default_lit(f.dataType)} AS {f.name}"
                for f in rschema.fields
                if f.name not in keys
            )
        )
    else:
        # keep right rows without a match; ALL left cols default; the
        # reference's bare * keeps CH column order: keys, left-rest, right-rest
        join_sql = f"FROM {rt} LEFT ANTI JOIN {lt} USING ({', '.join(keys)})"
        if ralias:
            join_sql = (
                f"FROM {rt} AS {rname} LEFT ANTI JOIN {lt}"
                f" USING ({', '.join(keys)})"
            )
        gone, gone_schema, keep, key_src = lt, lschema, rname, None
        star = ", ".join(
            [f"{rname}.{k} AS {k}" for k in keys]
            + [
                f"{_sql_default_lit(f.dataType)} AS {f.name}"
                for f in lschema.fields
                if f.name not in keys
            ]
            + [
                f"{rname}.{f.name}"
                for f in rschema.fields
                if f.name not in keys
            ]
        )
    out = stmt[: m.start()] + join_sql + stmt[m.end() :]
    # SELECT-list surgery for the bare star and the defaulted side's star
    sel = re.match(r"(?is)^(\s*SELECT\s+)(.*?)(\sFROM\s)", out)
    if sel:
        items = sel.group(2)
        if items.strip() == "*":
            items = star
        items = items.replace(f"{gone}.*", defaults(gone_schema, key_src))
        out = sel.group(1) + items + sel.group(3) + out[sel.end() :]
    # the vanished side's qualified references elsewhere (ORDER BY …):
    # keys unify with the surviving side (ANTI LEFT) or default (ANTI RIGHT)
    for f in gone_schema.fields:
        if f.name in keys and key_src:
            repl = f"{key_src}.{f.name}"
        else:
            # wrapped in a function call so a bare 0 isn't read as an
            # ORDER BY ordinal (parens alone don't prevent that in Spark)
            lit = _sql_default_lit(f.dataType)
            repl = f"coalesce({lit}, {lit})"
        out = re.sub(rf"\b{re.escape(gone)}\.{re.escape(f.name)}\b", repl, out)
    return out


def run_golden(spark, sql_path: str, reference_path: str) -> tuple[bool, str]:
    """Run every statement; compare concatenated formatted output to the
    .reference file. Returns (ok, detail). Handles CREATE TABLE / INSERT /
    DROP TABLE statements against the Spark session catalog (parquet
    tables), mirroring clickhouse-test's stateful-statement support."""
    sql_text = open(sql_path, errors="replace").read()
    want = open(reference_path, errors="replace").read().rstrip("\n")
    # (lines, order_insensitive) per result-producing statement: a SELECT
    # with no top-level ORDER BY has no defined row order in EITHER engine
    # (ClickHouse happens to emit Memory-table insertion order; Spark's
    # parallel join order is arbitrary) — compare those blocks as multisets
    blocks: list[tuple[list[str], bool]] = []
    created: list[str] = []
    session_settings: dict = {}
    mem_tables: dict = {}
    nullable_cols: dict[str, set] = {}
    nested_cols: dict[str, dict] = {}
    enum_cols: dict[str, dict] = {}
    join_keys: dict[str, list] = {}
    dt64_hint: dict[str, str] = {}
    ch_schemas: dict[str, list] = {}  # table → ordered (name, CH type)
    sampling_keys: dict[str, tuple] = {}  # table → (col, domain bits)
    file_store: dict[str, bytes] = {}  # file() TF writes (basename → bytes)
    col_defaults: dict[str, dict] = {}  # table → col → DEFAULT expr (CH SQL)
    table_meta: dict[str, tuple] = {}  # table → (engine, sort keys, version)
    table_alias: dict[str, str] = {}  # Buffer table → destination table
    dist_meta: dict[str, tuple] = {}  # Distributed table → (target, shard key)
    # ClickHouse coerces INSERT literals to column types ('2016-01-01' →
    # Date); Spark's default store-assignment policy rejects string→date
    prev_policy = spark.conf.get("spark.sql.storeAssignmentPolicy", "ANSI")
    spark.conf.set("spark.sql.storeAssignmentPolicy", "LEGACY")
    echo = False
    try:
        queue = list(split_statements_raw(sql_text))
        qi = 0
        while qi < len(queue):
            raw = queue[qi]
            qi += 1
            stmt = _strip_comments(raw).strip()
            # clickhouse-client multiquery ends inline INSERT data at the
            # end of the line (ClientBase::analyzeMultiQueryText) — anything
            # after the first data line is the next statement
            fm0 = _INSERT_FMT_RE.match(stmt)
            if fm0 and fm0.group(3).lower() not in ("values", "select", "with"):
                payload = fm0.group(4)
                head, nl, rest = payload.partition("\n")
                if nl and head.strip() and rest.strip():
                    stmt = stmt[: len(stmt) - len(payload)] + head
                    queue[qi:qi] = split_statements_raw(rest)
            # clickhouse-test echo directives: from `-- { echoOn }` on, each
            # statement's RAW text (leading comments, trailing ';') precedes
            # its results in the reference output (tests/clickhouse-test).
            if re.search(r"--\s*\{\s*echo(On)?\s*\}", raw):
                echo = True
            elif re.search(r"--\s*\{\s*echoOff\s*\}", raw):
                # stop echoing but still EXECUTE the statement the directive
                # comment is attached to (clickhouse-test only toggles echo)
                echo = False
                if not stmt.strip():
                    continue
            if echo and re.search(r"--\s*\{\s*clientError\s+62\b", raw):
                # SYNTAX_ERROR (62): the client never finds a statement to
                # send, so nothing is echoed — skip the echo but still run
                # the expected-error machinery below
                pass
            elif echo:
                # a ';' that sat on its own line in the source is echoed on
                # its own line (the client prints the raw statement text)
                semi_own_line = raw.rstrip(" \t").endswith("\n")
                chunk = raw.strip("\n")
                while chunk.startswith("\n"):
                    chunk = chunk[1:]
                # the client prints the ';' where it sat in the input:
                # before any trailing same-line comment. Scan quote-aware —
                # `--` inside a string literal is not a comment.
                cpos = -1
                in_q = False
                k5 = 0
                while k5 < len(chunk):
                    c5 = chunk[k5]
                    if in_q:
                        if c5 == "\\":
                            k5 += 2
                            continue
                        if c5 == "'":
                            in_q = False
                    elif c5 == "'":
                        in_q = True
                    elif c5 == "\n":
                        cpos = -1
                    elif c5 == "-" and chunk[k5 : k5 + 2] == "--" and cpos < 0:
                        cpos = k5
                    k5 += 1
                if cpos > 0 and chunk[:cpos].strip():
                    chunk = chunk[:cpos].rstrip() + ";" + " " + chunk[cpos:]
                elif semi_own_line:
                    chunk = chunk + "\n;"
                else:
                    chunk = chunk + ";"
                blocks.append((chunk.split("\n"), False))
            if re.search(r"(?i)\bgenerateRandom\s*\(", stmt):
                try:
                    stmt = _rewrite_generate_random(spark, stmt, ch_schemas)
                except ChSqlError:
                    # malformed structure / arity: the reference errors too —
                    # honor an expected-error annotation, else surface it
                    if re.search(r"--\s*\{\s*(?:server|client)Error", raw):
                        continue
                    raise
            if "joinGet" in stmt:
                stmt = _rewrite_joinget(stmt, join_keys)
            if re.search(r"(?i)\bANTI\s+(LEFT|RIGHT)\s", stmt):
                stmt = _rewrite_anti_join(spark, stmt)
            up = stmt.lstrip().upper()
            global _BOOL_AS_TEXT
            _BOOL_AS_TEXT = bool(re.search(
                r"(?i)::\s*(?:Nullable\s*\(\s*)?Bool\b|\bAS\s+(?:Nullable\s*\(\s*)?Bool\s*[,)]?|"
                r"\btoBool\s*\(|'(?:Nullable\s*\(\s*)?Bool\s*\)?'|\bx\s+Bool\b",
                stmt,
            ))
            # `-- { serverError N }` / `{ clientError }` directives: the
            # statement MUST fail (clickhouse-test contract); it produces no
            # output. A statement that unexpectedly succeeds fails the test.
            expect_error = bool(
                re.search(r"--\s*\{\s*(?:server|client)Error", raw)
            )
            if expect_error:
                try:
                    if up.startswith(("SET ", "DROP ", "CREATE", "INSERT INTO")):
                        continue  # DDL paths are laxer here; don't judge them
                    stmt = _sub_file_tf(spark, stmt, file_store, created)
                    # Template output with a missing template file errors in
                    # ClickHouse before any rows are produced
                    tfm = re.search(
                        r"(?i)\bformat_template_(?:row|resultset)\s*=\s*'([^']+)'",
                        stmt,
                    )
                    if tfm and re.search(r"(?i)\bFORMAT\s+Template\b", stmt):
                        tp = os.path.join(
                            os.path.dirname(sql_path), tfm.group(1)
                        )
                        # CH restricts template paths to user_files and
                        # rejects missing/empty templates
                        if (
                            os.path.isabs(tfm.group(1))
                            or not os.path.exists(tp)
                            or os.path.getsize(tp) == 0
                        ):
                            raise FileNotFoundError(tfm.group(1))
                    # max_rows_to_read enforcement (approximate: result rows)
                    mrr = re.search(
                        r"(?i)\bmax_rows_to_read\s*=\s*(\d+)", stmt
                    )
                    from clickhouse_23_3_19_32_lts_spark.dialect import (
                        apply_fill,
                        parse_fill_query,
                    )

                    if (
                        str(session_settings.get("cross_to_inner_join_rewrite", "")) == "2"
                        and re.search(r"(?i)\bFROM\s+[\w.]+(\s+AS\s+\w+)?\s*,\s*[\w.]+", stmt)
                    ):
                        wm0 = re.search(
                            r"(?is)\bWHERE\b(.*?)(\bGROUP\b|\bORDER\b|\bLIMIT\b|\bSETTINGS\b|$)",
                            stmt,
                        )
                        if wm0 and "=" not in wm0.group(1):
                            # CrossToInnerJoinPass INCORRECT_QUERY
                            raise ChSqlError("comma join without equality")
                    parsed = parse_fill_query(stmt)
                    if parsed is not None:
                        got_rows = apply_fill(spark, parsed).collect()
                    else:
                        got_rows = spark.sql(
                            translate(
                                stmt,
                                dt_best_effort=session_settings.get(
                                    "date_time_input_format", ""
                                )
                                == "best_effort",
                            )
                        ).collect()
                    if mrr:
                        # reads-counting approximation: an order-matching
                        # LIMIT scan reads ~LIMIT rows (optimize_read_in_
                        # order); a WHERE filter forces a full read
                        frm = re.search(r"(?i)\bFROM\s+([A-Za-z_][\w]*)\b", stmt)
                        if re.search(r"(?i)\bWHERE\b", stmt) and frm:
                            # a filter forces a full table read
                            rows_read = spark.sql(
                                f"SELECT count(*) FROM {frm.group(1)}"
                            ).collect()[0][0]
                        else:
                            rows_read = len(got_rows)
                        if rows_read > int(mrr.group(1)):
                            raise ValueError("max_rows_to_read exceeded")
                    return False, f"expected error but succeeded: {stmt[:80]}"
                except Exception:  # noqa: BLE001 — failure is the expectation
                    continue
            try:
                if up.startswith("SET "):
                    # most session settings are pinned by the engine; the
                    # Pretty-rendering knobs feed _render_output
                    for sm in re.finditer(
                        r"(\w+)\s*=\s*('[^']*'|\S+?)(?:\s*,|\s*$)", stmt[4:].strip()
                    ):
                        session_settings[sm.group(1).lower()] = sm.group(2).strip("'")
                    continue
                if up.startswith("CHECK TABLE"):
                    blocks.append((["1"], False))  # CHECK always healthy here
                    continue
                if up.startswith("OPTIMIZE TABLE"):
                    om = re.match(
                        r"(?i)OPTIMIZE\s+TABLE\s+([A-Za-z_][\w.]*)(.*)$",
                        stmt.strip(), re.DOTALL,
                    )
                    if om:
                        tname = om.group(1).split(".")[-1]
                        tail = om.group(2) or ""
                        df0 = mem_tables.get(tname)
                        engine, keys, ver = table_meta.get(tname, (None, [], None, None))[:3]
                        if df0 is not None:
                            df1 = _optimize_final(
                                spark, df0, engine, keys, ver,
                                dedup=bool(re.search(r"(?i)\bDEDUPLICATE\b", tail)),
                            )
                            if df1 is not None:
                                df1.createOrReplaceTempView(tname)
                                mem_tables[tname] = df1
                    continue
                if up.startswith("TRUNCATE"):
                    tm2 = re.match(
                        r"(?i)TRUNCATE\s+(?:TABLE\s+)?(?:IF\s+EXISTS\s+)?"
                        r"([A-Za-z_][\w.]*)", stmt.strip(),
                    )
                    if tm2:
                        tname = tm2.group(1).split(".")[-1]
                        df0 = mem_tables.get(tname)
                        if df0 is not None:
                            df1 = df0.limit(0)
                            df1.createOrReplaceTempView(tname)
                            mem_tables[tname] = df1
                    continue
                if re.match(r"(?i)DESC(?:RIBE)?\b", up):
                    dfm = re.match(
                        r"(?is)DESC(?:RIBE)?\s+(?:TABLE\s+)?format\s*\(\s*"
                        r"(\w+)\s*,\s*('(?:[^'\\]|\\.|'')*')\s*\)\s*;?\s*$",
                        stmt.strip(),
                    )
                    if dfm:
                        payload = (
                            dfm.group(2)[1:-1]
                            .replace("\\'", "'")
                            .replace("''", "'")
                            .replace("\\\\", "\\")
                            .replace("\\n", "\n")
                            .replace("\\t", "\t")
                        )
                        pairs = _infer_format_schema(
                            dfm.group(1), payload, session_settings
                        )
                        blocks.append((_describe_lines(pairs, None), False))
                        continue
                    dm2 = re.match(
                        r"(?i)DESC(?:RIBE)?\s+(?:TABLE\s+)?([A-Za-z_][\w.]*)",
                        stmt.strip(),
                    )
                    if dm2:
                        tname = dm2.group(1).split(".")[-1]
                        cols_ch = ch_schemas.get(tname)
                        if cols_ch is None:
                            raise ChSqlError(f"DESCRIBE: unknown table {tname}")
                        blocks.append(
                            (_describe_lines(cols_ch, col_defaults.get(tname)), False)
                        )
                    continue
                if up.startswith("ALTER TABLE"):
                    _exec_alter(
                        spark, stmt, mem_tables, ch_schemas, col_defaults,
                        table_meta,
                    )
                    continue
                cvm = re.match(
                    r"(?i)CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+"
                    r"(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*"
                    r"(?:\(([^()]*)\)\s*)?AS\s+(.*)$",
                    stmt.strip(), re.DOTALL,
                )
                if cvm and cvm.group(2) is not None:
                    # view with an explicit column list: rename positionally
                    # (ParserCreateViewQuery columns clause)
                    vname = cvm.group(1).split(".")[-1]
                    vnames = [
                        re.match(r"\s*(`[^`]+`|[A-Za-z_]\w*)", c).group(1).strip("`")
                        for c in _split_top_level_commas(cvm.group(2))
                    ]
                    df = spark.sql(translate(cvm.group(3))).toDF(*vnames)
                    df.createOrReplaceTempView(vname)
                    mem_tables[vname] = df
                    created.append(vname)
                    continue
                if cvm:
                    vname = cvm.group(1).split(".")[-1]
                    # a SQL-text temp view stays live against later inserts
                    # into its base tables (unlike a captured DataFrame)
                    spark.sql(
                        f"CREATE OR REPLACE TEMPORARY VIEW {vname} AS "
                        + translate(cvm.group(3))
                    )
                    created.append(vname)
                    continue
                if up.startswith(("DROP TABLE", "DROP TEMPORARY TABLE")):
                    dm = _DROP_RE.match(stmt.strip())
                    if dm:
                        tname = dm.group(1).split(".")[-1]
                        mem_tables.pop(tname, None)
                        (mem_tables.get("__parts__") or {}).pop(tname, None)
                        spark.catalog.dropTempView(tname)
                    continue
                if up.startswith("CREATE"):
                    cas = re.match(
                        r"CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?TABLE\s+"
                        r"(?:IF\s+NOT\s+EXISTS\s+)?"
                        r"([A-Za-z_][A-Za-z0-9_.]*)\s*"
                        # optional explicit column list (names rename the
                        # SELECT output positionally)
                        r"(?:\(((?:[^()']|'[^']*'|\([^()]*\))*)\)\s*)?"
                        # engine/order/partition tail before AS (ParserCreateQuery
                        # puts the storage clause first in CREATE … AS SELECT)
                        r"((?:ENGINE|ORDER|PARTITION|PRIMARY|SAMPLE|TTL|SETTINGS)\b.*?)?"
                        r"\bAS\s*(\(\s*)?(SELECT|WITH)\b(.*)$",
                        stmt.strip(),
                        re.IGNORECASE | re.DOTALL,
                    )
                    if cas:  # CREATE TABLE … AS SELECT …
                        name = cas.group(1).split(".")[-1]
                        collist_cas = cas.group(2)
                        body = cas.group(5) + cas.group(6)
                        if cas.group(4):
                            # parenthesized body: `AS (SELECT …)` — strip the
                            # balanced outer close
                            body = body.rstrip()
                            if body.endswith(")"):
                                body = body[:-1]
                        df = spark.sql(translate(body))
                        if collist_cas:
                            cnames = [
                                re.match(r"\s*(`[^`]+`|[A-Za-z_]\w*)", c)
                                .group(1).strip("`")
                                for c in _split_top_level_commas(collist_cas)
                            ]
                            if len(cnames) == len(df.columns):
                                df = df.toDF(*cnames)
                        df.createOrReplaceTempView(name)
                        mem_tables[name] = df
                        created.append(name)
                        meta = _parse_create_meta(stmt)
                        if meta:
                            ch_schemas.setdefault(name, meta[0] or [])
                            table_meta[name] = (meta[2], meta[3], meta[4], meta[5])
                        # the AS SELECT rowset is the table's first part
                        mem_tables.setdefault("__parts__", {})[name] = [df]
                        continue
                    clone_fn = re.match(
                        r"CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?TABLE\s+"
                        r"(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s+AS\s+"
                        r"((?:[A-Za-z_][\w.]*\s*\((?:[^()']|'[^']*'|\([^()]*\))*\))|system\.\w+)\s*"
                        r"(ENGINE\b.*)?$",
                        stmt.strip(), re.IGNORECASE | re.DOTALL,
                    )
                    if clone_fn:
                        # CREATE TABLE t AS numbers(1000) — the table IS the
                        # function's rowset; with an ENGINE clause it clones
                        # structure only (empty table)
                        name = clone_fn.group(1).split(".")[-1]
                        df = spark.sql(
                            translate(f"SELECT * FROM {clone_fn.group(2)}")
                        )
                        if clone_fn.group(3):
                            df = df.limit(0)
                        df.createOrReplaceTempView(name)
                        mem_tables[name] = df
                        created.append(name)
                        continue
                    clone = re.match(
                        r"CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
                        r"([A-Za-z_][\w.]*)\s+AS\s+([A-Za-z_][\w.]*)\s*"
                        r"(?:ENGINE\s*=.*)?$",
                        stmt.strip(), re.IGNORECASE | re.DOTALL,
                    )
                    if clone:  # CREATE TABLE a AS b: clone b's structure
                        name = clone.group(1).split(".")[-1]
                        src = clone.group(2).split(".")[-1]
                        bm = re.search(
                            r"(?i)ENGINE\s*=\s*Buffer\s*\(\s*[^,]+,\s*(\w+)",
                            stmt,
                        )
                        dm3 = re.search(
                            r"(?i)ENGINE\s*=\s*Distributed\s*\(\s*[^,]+,"
                            r"\s*[^,]+,\s*['\"`]?(\w+)['\"`]?"
                            r"(?:\s*,\s*([A-Za-z_]\w*))?", stmt,
                        )
                        if dm3 and dm3.group(1).split(".")[-1] in mem_tables:
                            # Distributed proxies its target table
                            # (StorageDistributed: reads fan out to every
                            # shard; test_cluster_two_shards* points both
                            # shards at the same local table → rows double)
                            tgt = dm3.group(1).split(".")[-1]
                            body = f"SELECT * FROM {tgt}"
                            if re.search(r"(?i)two_shards", stmt):
                                body = f"{body} UNION ALL {body}"
                                if dm3.group(2):
                                    dist_meta[name] = (tgt, dm3.group(2))
                            spark.sql(
                                f"CREATE OR REPLACE TEMPORARY VIEW {name} AS"
                                f" {body}"
                            )
                            table_alias[name] = tgt
                            created.append(name)
                            continue
                        if bm and bm.group(1).split(".")[-1] == src and src in mem_tables:
                            # Buffer proxies its destination table: reads
                            # see destination + buffered rows, inserts
                            # flush through (StorageBuffer.cpp) — alias it
                            spark.sql(
                                f"CREATE OR REPLACE TEMPORARY VIEW {name} AS"
                                f" SELECT * FROM {src}"
                            )
                            table_alias[name] = src
                            created.append(name)
                            continue
                        if src in mem_tables:
                            df = mem_tables[src].limit(0)
                            df.createOrReplaceTempView(name)
                            mem_tables[name] = df
                            created.append(name)
                            for store in (ch_schemas, col_defaults, table_meta,
                                          nullable_cols, nested_cols, enum_cols):
                                if src in store:
                                    store[name] = store[src]
                            continue
                    schema_ddl, name, nullset, nestset, enumset = _translate_create(stmt)
                    mgm = re.search(
                        r"(?i)\bENGINE\s*=\s*Merge\s*\(\s*[^,]+,\s*"
                        r"'((?:[^'\\]|\\.)*)'\s*\)", stmt,
                    )
                    if mgm:
                        # Merge ENGINE table (StorageMerge): a live union of
                        # the tables whose name matches the regex
                        rx2 = re.compile(mgm.group(1).replace("\\\\", "\\"))
                        pool2 = set(mem_tables) | set(created)
                        names2 = sorted(t for t in pool2 if rx2.search(t))
                        if names2:
                            spark.sql(
                                f"CREATE OR REPLACE TEMPORARY VIEW {name} AS "
                                + " UNION ALL ".join(
                                    f"SELECT * FROM {t}" for t in names2
                                )
                            )
                            mem_tables[name] = spark.table(name)
                            created.append(name)
                            continue
                    jm = _JOIN_ENGINE_RE.search(stmt)
                    if jm and jm.group(1).upper() == "LEFT":
                        # joinGet only works on LEFT-kind Join tables
                        # (StorageJoin.cpp joinGet check — else error 264);
                        # join_any_take_last_row=1 → later inserts overwrite
                        last_row = re.search(
                            r"join_any_take_last_row\s*=\s*1", stmt, re.IGNORECASE
                        )
                        join_keys[name] = (
                            [k.strip() for k in jm.group(2).split(",") if k.strip()],
                            "last" if last_row else "first",
                        )
                    if enumset:
                        enum_cols[name] = enumset
                    if "DateTime64" in stmt:
                        cols: dict = {"__table__": name}
                        for cm2 in re.finditer(
                            r"([A-Za-z_][A-Za-z0-9_]*)\s+(?:Nullable\s*\(\s*)?DateTime64\s*\(\s*(\d+)",
                            stmt,
                        ):
                            cols[cm2.group(1)] = int(cm2.group(2))
                        dt64_hint[name] = cols
                    df = spark.createDataFrame([], schema=schema_ddl)
                    df.createOrReplaceTempView(name)
                    mem_tables[name] = df
                    nullable_cols[name] = nullset
                    nested_cols[name] = nestset
                    created.append(name)
                    meta = _parse_create_meta(stmt)
                    if meta:
                        ch_schemas[name] = meta[0]
                        col_defaults[name] = meta[1]
                        table_meta[name] = (meta[2], meta[3], meta[4], meta[5])
                        samp = _parse_sampling_key(stmt, meta[0])
                        if samp:
                            sampling_keys[name] = samp
                    continue
                ffm = re.match(
                    r"(?is)^\s*INSERT\s+INTO\s+(?:TABLE\s+)?FUNCTION\s+file\s*\(\s*"
                    r"('[^']*'|[\w.]+)\s*(?:,\s*('?\w+'?))?\s*(?:,\s*'([^']*)')?\s*\)\s*"
                    r"(SELECT|WITH)\b(.*)$",
                    stmt,
                )
                if ffm:
                    # INSERT INTO FUNCTION file(path[, fmt]) — serialize the
                    # SELECT through the spec codecs into an in-memory store
                    # (the sandbox never writes the reference's user_files)
                    fpath = ffm.group(1).strip("'").split("/")[-1]
                    ffmt = (ffm.group(2) or "").strip("'").lower()
                    if not ffmt:
                        ffmt = fpath.rsplit(".", 1)[-1].lower()
                    body = ffm.group(4) + ffm.group(5)
                    rows0 = spark.sql(translate(body)).collect()
                    if ffmt == "msgpack":
                        from clickhouse_23_3_19_32_lts_spark.sources.msgpack_bson import (
                            MpExt,
                            encode_msgpack,
                        )

                        uuid_ext = (
                            str(session_settings.get(
                                "output_format_msgpack_uuid_representation", ""
                            )).lower() == "ext"
                            or re.search(
                                r"(?i)output_format_msgpack_uuid_representation\s*=\s*'ext'",
                                stmt,
                            )
                            is not None
                        )
                        uuid_re = re.compile(
                            r"^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-"
                            r"[0-9a-f]{4}-[0-9a-f]{12}$",
                            re.IGNORECASE,
                        )

                        def _mp_cell(v):
                            if uuid_ext and isinstance(v, str) and uuid_re.match(v):
                                import uuid as _uuid

                                return MpExt(2, _uuid.UUID(v).bytes)
                            return v

                        file_store[fpath] = encode_msgpack(
                            [[_mp_cell(v) for v in r] for r in rows0]
                        )
                    else:
                        raise ChSqlError(f"file() sink format: {ffmt}")
                    continue
                if up.startswith("INSERT INTO"):
                    for buf, dst in table_alias.items():
                        stmt = re.sub(
                            rf"(?i)^(\s*INSERT\s+INTO\s+)(?:\w+\.)?{buf}\b",
                            rf"\g<1>{dst}", stmt,
                        )
                    _exec_insert(
                        spark, stmt, mem_tables, nullable_cols, nested_cols,
                        enum_cols, col_defaults, ch_schemas,
                    )
                    continue
                # optimize_skip_unused_shards: a literal equality/IN on the
                # sharding key prunes the fan-out to the matching shards
                # (StorageDistributed skipUnusedShards); two equal-weight
                # shards route by key % 2 — a single-shard literal set reads
                # exactly one copy of the (shared) local table
                if dist_meta and session_settings.get(
                    "optimize_skip_unused_shards", "0"
                ) not in ("0", "false", ""):
                    for dname, (tgt2, skey) in dist_meta.items():
                        if not re.search(
                            rf"(?i)\bFROM\s+(?:\w+\.)?{dname}\b", stmt
                        ):
                            continue
                        pm = re.search(
                            rf"(?i)\b{skey}\s+IN\s*\(([^()]*)\)"
                            rf"|\b{skey}\s*=\s*(-?\d+)",
                            stmt,
                        )
                        vals = None
                        if pm:
                            vals = (
                                [pm.group(2)] if pm.group(2) is not None
                                else [v.strip() for v in pm.group(1).split(",")]
                            )
                        if vals and all(
                            re.fullmatch(r"-?\d+", v) for v in vals
                        ) and len({int(v) % 2 for v in vals}) == 1:
                            stmt = re.sub(
                                rf"(?i)\b(FROM\s+)(?:\w+\.)?{dname}\b",
                                rf"\g<1>{tgt2}", stmt,
                            )
                from clickhouse_23_3_19_32_lts_spark.dialect import (
                    apply_fill,
                    parse_fill_query,
                )

                # MATERIALIZED/ALIAS columns are hidden from SELECT *
                # (InterpreterSelectQuery asterisk expansion) but stay
                # addressable by name — expand the leading star explicitly
                frm2 = re.search(r"(?i)\bFROM\s+([A-Za-z_]\w*)", stmt)
                if frm2 and re.match(r"(?is)\s*SELECT\s+\*", stmt):
                    tbl2 = frm2.group(1)
                    dmap2 = col_defaults.get(tbl2) or {}
                    hid = {c for c, (k, _) in dmap2.items()
                           if k in ("MATERIALIZED", "ALIAS")}
                    if hid and tbl2 in ch_schemas:
                        vis = [c for c, _ in ch_schemas[tbl2] if c not in hid]
                        if vis:
                            stmt = re.sub(
                                r"(?is)^(\s*SELECT\s+)\*",
                                lambda mm: mm.group(1) + ", ".join(vis),
                                stmt, count=1,
                            )

                # merge('db', 'regex') table function (StorageMerge /
                # TableFunctionMerge.cpp): union of the created tables whose
                # name matches; the _table virtual column is added only when
                # the statement references it (SELECT * must not show it)
                if re.search(r"(?i)\bFROM\s+merge\s*\(", stmt):
                    want_vt = re.search(r"\b_table\b", stmt) is not None

                    def _merge_rep(mm):
                        parts = [
                            a.strip().strip("'").replace("\\\\", "\\")
                            for a in _split_top_level_commas(mm.group(2))
                        ]
                        rx = re.compile(parts[-1])
                        names = sorted(
                            t for t in mem_tables
                            if not t.startswith("__") and rx.search(t)
                        )
                        if not names:
                            raise ChSqlError("merge(): no matching tables")
                        sel = " UNION ALL ".join(
                            f"SELECT * FROM {t}"
                            # a real column named _table shadows the virtual
                            # one (StorageMerge virtual-column resolution)
                            if not want_vt or "_table" in mem_tables[t].columns
                            else f"SELECT *, '{t}' AS _table FROM {t}"
                            for t in names
                        )
                        return f"{mm.group(1)}({sel}) __merged"

                    stmt = re.sub(
                        r"(?is)\b(FROM\s+)merge\s*\(((?:[^()]|\([^()]*\))*)\)",
                        _merge_rep, stmt,
                    )

                # cross_to_inner_join_rewrite = 2: a comma join whose WHERE
                # carries no equality cannot rewrite to INNER and errors
                # (CrossToInnerJoinPass INCORRECT_QUERY)
                if (
                    str(session_settings.get("cross_to_inner_join_rewrite", "")) == "2"
                    and re.search(r"(?i)\bFROM\s+[\w.]+(\s+AS\s+\w+)?\s*,\s*[\w.]+", stmt)
                ):
                    wm2 = re.search(r"(?is)\bWHERE\b(.*?)(\bGROUP\b|\bORDER\b|\bLIMIT\b|\bSETTINGS\b|$)", stmt)
                    if wm2 and "=" not in wm2.group(1):
                        raise ChSqlError(
                            "comma join without equality under "
                            "cross_to_inner_join_rewrite=2"
                        )

                # format(Fmt[, 'structure'], payload) table function
                # (TableFunctionFormat.cpp): parse the inline payload —
                # text formats through the INSERT inline parser, binary
                # (BSONEachRow/MsgPack/Native) through the spec codecs —
                # and substitute a typed temp view
                stmt = _sub_file_tf(spark, stmt, file_store, created)
                stmt = _sub_virtual_cols(spark, stmt, mem_tables, table_meta, created)
                # ALIAS columns are computed on read (ColumnDefault::Alias,
                # never stored): substitute references with the expression
                for _t5 in re.findall(r"(?i)\bFROM\s+([A-Za-z_][\w]*)", _blank(stmt)):
                    for _cn5, (_k5, _e5) in (col_defaults.get(_t5) or {}).items():
                        if (_k5 or "").upper() != "ALIAS" or not _e5:
                            continue
                        rep5 = f"({_e5})"
                        for _cn6, _ct6 in ch_schemas.get(_t5) or []:
                            if _cn6 == _cn5:
                                t6 = _ct6.split(" ALIAS ")[0].split(" alias ")[0].strip()
                                if re.fullmatch(r"[A-Za-z_][\w() ,]*", t6):
                                    # the declared alias TYPE wins over the
                                    # expression's inferred type
                                    rep5 = f"CAST(({_e5}), '{t6}')"
                                break
                        if re.search(rf"(?<![\w.`]){re.escape(_cn5)}(?![\w.`(])", _blank(stmt)):
                            blank5 = _blank(stmt)
                            out5, last5 = [], 0
                            for m5 in re.finditer(
                                rf"(?<![\w.`]){re.escape(_cn5)}(?![\w.`(])", blank5
                            ):
                                out5.append(stmt[last5 : m5.start()])
                                out5.append(rep5)
                                last5 = m5.end()
                            out5.append(stmt[last5:])
                            stmt = "".join(out5)
                if re.search(r"(?i)\bFROM\s+format\s*\(", stmt):

                    def _format_rep(mm):
                        inner = mm.group(2)
                        args3 = _split_top_level_commas(inner)
                        if len(args3) < 2:
                            raise ChSqlError(f"format() TF: {inner[:50]}")
                        fmt_name = args3[0].strip().strip("'\"").lower()
                        structure = None
                        if len(args3) >= 3:
                            structure = args3[1].strip().strip("'")
                        pay_raw = args3[-1].strip()
                        hexm = re.fullmatch(
                            r"(?is)x'([0-9a-f]*)'", pay_raw
                        )
                        if hexm:
                            data3 = bytes.fromhex(hexm.group(1))
                            payload = None
                        elif pay_raw.startswith("'"):
                            payload = (
                                pay_raw[1:-1]
                                .replace("\\n", "\n").replace("\\t", "\t")
                                .replace("\\'", "'").replace("\\\\", "\\")
                            )
                            data3 = payload.encode("utf-8", "surrogateescape")
                        else:
                            raise ChSqlError(f"format() TF payload: {pay_raw[:40]}")
                        pairs3 = None
                        if structure:
                            pairs3 = []
                            for p3 in _split_top_level_commas(structure):
                                nm3, _, ty3 = p3.strip().partition(" ")
                                pairs3.append((nm3.strip("`"), ty3.strip()))
                        from pyspark.sql import functions as F
                        from clickhouse_23_3_19_32_lts_spark.sources import (
                            msgpack_bson as _mb,
                        )
                        from clickhouse_23_3_19_32_lts_spark.sources.binary_formats import (
                            schema_from_ch as _sch,
                        )

                        sc2 = spark.sparkContext
                        dfx = None
                        try:
                            if fmt_name == "bsoneachrow":
                                if not pairs3:
                                    raise ChSqlError("BSONEachRow needs a structure")
                                rows3 = _mb.decode_bson_each_row(data3)
                                pdf3 = _mb.bson_rows_to_pandas(
                                    rows3, [n for n, _ in pairs3]
                                )
                                dfx = spark.createDataFrame(
                                    pdf3.astype(object).where(pdf3.notna(), None)
                                    if len(pdf3) else pdf3,
                                    schema=_sch(pairs3),
                                )
                            elif fmt_name == "msgpack":
                                if not pairs3:
                                    raise ChSqlError("MsgPack needs a structure")
                                rows3 = _mb.decode_msgpack(data3, len(pairs3))
                                dfx = spark.createDataFrame(
                                    rows3, schema=_sch(pairs3)
                                )
                            elif fmt_name == "native":
                                from clickhouse_23_3_19_32_lts_spark.sources.binary_formats import (
                                    decode_native as _dn,
                                )
                                pdf3 = _dn(data3)
                                dfx = spark.createDataFrame(pdf3)
                        except (ChSqlError,):
                            raise
                        except Exception as ex3:  # noqa: BLE001 — malformed
                            raise ChSqlError(f"format() parse: {ex3}") from ex3
                        if dfx is None:
                            if payload is None:
                                payload = data3.decode("utf-8", "replace")
                            lines2 = [
                                ln for ln in payload.split("\n") if ln.strip()
                            ]
                            if fmt_name in (
                                "jsoneachrow", "ndjson", "jsonlines",
                            ):
                                dfx = spark.read.json(sc2.parallelize(lines2))
                                if pairs3:
                                    want3 = _sch(pairs3)
                                    dfx = dfx.select(*[
                                        F.col(f3.name).cast(f3.dataType).alias(f3.name)
                                        for f3 in want3.fields
                                    ])
                            elif fmt_name in (
                                "csv", "tsv", "tabseparated",
                                "csvwithnames", "tsvwithnames",
                                "tabseparatedwithnames",
                            ):
                                sep = "," if fmt_name.startswith("csv") else "\t"
                                header = fmt_name.endswith("withnames")
                                dfx = spark.read.csv(
                                    sc2.parallelize(lines2), sep=sep,
                                    header=header,
                                    inferSchema=pairs3 is None,
                                    schema=_sch(pairs3) if pairs3 else None,
                                )
                                if not pairs3 and not header:
                                    dfx = dfx.toDF(*[
                                        f"c{j+1}" for j in range(len(dfx.columns))
                                    ])
                            else:
                                raise ChSqlError(f"format() TF: {fmt_name}")
                        vname2 = f"__fmt_tf_{abs(hash(inner)) % 10**8}"
                        dfx.createOrReplaceTempView(vname2)
                        created.append(vname2)
                        return f"{mm.group(1)}{vname2}"

                    stmt = re.sub(
                        r"(?is)\b(FROM\s+)format\s*\(((?:[^()']|[xX]?'(?:[^'\\]|\\.)*'|\([^()]*\))*)\)",
                        _format_rep, stmt,
                    )

                _jds = str(session_settings.get("join_default_strictness", ""))
                _sm_jds = re.search(
                    r"(?i)join_default_strictness\s*=\s*'?(\w+)'?", stmt
                )
                if _sm_jds:
                    _jds = _sm_jds.group(1)
                if _jds.upper() == "ANY" and re.search(r"(?i)\bJOIN\b", stmt):
                    # join_default_strictness='ANY' (Core/Settings.h): a
                    # strictness-less [LEFT|INNER] JOIN means ANY JOIN
                    stmt = re.sub(
                        r"(?i)(?<!ANY\s)(?<!ALL\s)(?<!SEMI\s)"
                        r"(?<!ANTI\s)(?<!ASOF\s)(?<!CROSS\s)(?<!ARRAY\s)"
                        r"\b((?:LEFT|INNER)\s+(?:OUTER\s+)?JOIN)\b",
                        r"ANY \1", stmt,
                    )

                parsed = parse_fill_query(stmt)

                # WITH TOTALS (TotalsHavingTransform): tag the totals row in
                # the same aggregation pass and split it out at render time
                # (data rows, blank separator, totals row with type-default
                # keys). Only for the default TSV output path.
                fmt0 = re.search(r"\bFORMAT\s+([A-Za-z]+)\s*$", stmt, re.IGNORECASE)
                want_totals = bool(
                    re.search(r"(?i)\bWITH\s+TOTALS\b", stmt)
                    and parsed is None
                    and (
                        fmt0 is None
                        or fmt0.group(1).lower()
                        in ("tabseparated", "tsv", "json", "jsoncompact", "jsonstrings", "jsoncompactstrings")
                    )
                )

                # TOTALS + LIMIT: ClickHouse limits the DATA stream only,
                # the totals row always ships (TotalsHavingTransform is
                # upstream of LimitTransform) — strip the limit from the
                # marker query and re-apply it to the data rows post-split
                totals_limit = None
                if want_totals:
                    bl8 = _blank(stmt)
                    for lm8 in re.finditer(
                        r"(?i)\bLIMIT\s+(\d+)\s*"
                        r"(?:,\s*(\d+)|OFFSET\s+(\d+))?"
                        r"(?!\s*,?\s*(?:BY|WITH)\b)",
                        bl8,
                    ):
                        if _depth_at(bl8, lm8.start()) != 0:
                            continue
                        if lm8.group(2) is not None:
                            off8, n8 = int(lm8.group(1)), int(lm8.group(2))
                        else:
                            off8 = int(lm8.group(3) or 0)
                            n8 = int(lm8.group(1))
                        totals_limit = (off8, n8)
                        stmt = stmt[: lm8.start()] + stmt[lm8.end():]
                        break

                # declared CH column types (canonical comma spacing) so
                # toTypeName(column) folds statically in the dialect
                col_ch_types: dict = {}
                for _sch in ch_schemas.values():
                    for _cn, _ct in _sch:
                        col_ch_types[_cn] = re.sub(r",\s*", ", ", _ct)
                # system-table columns every test can reference
                col_ch_types.setdefault("number", "UInt64")
                col_ch_types.setdefault("dummy", "UInt8")
                col_ch_types.setdefault("zero", "UInt8")

                def _build(safe: bool = False, inline: bool = False,
                           boolw: bool = False, src: str | None = None):
                    if parsed is not None:
                        df = apply_fill(spark, parsed)
                    else:
                        df = spark.sql(
                            translate(
                                src or stmt,
                                safe_subscript=safe,
                                inline_aliases=inline,
                                bool_ops=boolw,
                                totals_marker=want_totals,
                                nullable_cols=set().union(
                                    *nullable_cols.values()
                                )
                                if nullable_cols
                                else None,
                                col_ch_types=col_ch_types,
                                table_schemas=ch_schemas,
                                table_sampling=sampling_keys,
                                dt_best_effort=session_settings.get(
                                    "date_time_input_format", ""
                                )
                                == "best_effort",
                            )
                        )
                    if str(
                        session_settings.get("join_use_nulls", "0")
                    ) in ("1", "'1'") and re.search(r"(?i)\bJOIN\b", stmt):
                        # join_use_nulls=1: outer-join misses really are
                        # NULL (Core/Settings.h) — don't default-fill
                        pass
                    elif _null_producer_free(stmt, nullable_cols):
                        try:
                            df = _fill_null_defaults(
                                df,
                                set().union(*nullable_cols.values())
                                if nullable_cols else None,
                            )
                        except Exception:  # noqa: BLE001 — keep unwrapped
                            pass
                    return df

                def _subscript_err(ex) -> bool:
                    s = str(ex)
                    return "INVALID_INDEX_OF_ZERO" in s or (
                        "DATATYPE_MISMATCH" in s and "element_at" in s
                    )

                def _bool_err(ex) -> bool:
                    # numeric truthiness under infix AND/OR/NOT — retry with
                    # CAST(… AS BOOLEAN) operand wrapping
                    s = str(ex)
                    return (
                        "BINARY_OP_DIFF_TYPES" in s
                        or "BINARY_OP_WRONG_TYPE" in s
                        or ('"BOOLEAN"' in s and "DATATYPE_MISMATCH" in s)
                        or "INVALID_LAMBDA_FUNCTION_CALL" in s
                        or "FILTER_EXPRESSION_NOT_BOOLEAN" in s
                        or ("UNEXPECTED_INPUT_TYPE" in s and '"(NOT ' in s)
                    ) and re.search(r"\b(AND|OR|NOT)\b", s) is not None

                def _ambig_fix(src: str, ex) -> str | None:
                    # ClickHouse binds an ambiguous unqualified column to
                    # the first (left) table (IdentifierSemantic); qualify
                    # it with Spark's first candidate and retry
                    am = re.search(
                        r"Reference `([^`]+)` is ambiguous, could be: "
                        r"\[`([^`]+)`\.`([^`]+)`", str(ex),
                    )
                    if not am or am.group(1) != am.group(3):
                        return None
                    name, qual = am.group(1), am.group(2)
                    if qual.startswith("__"):
                        return None
                    blank0 = _blank(src)
                    out_s = []
                    last = 0
                    for om in re.finditer(
                        rf"(?<![\w.`])({re.escape(name)})(?![\w(`])", blank0
                    ):
                        head = blank0[:om.start()].rstrip()
                        if re.search(r"(?i)\bAS$", head):
                            continue  # alias definition, not a reference
                        out_s.append(src[last:om.start()])
                        out_s.append(f"{qual}.{name}")
                        last = om.end()
                    out_s.append(src[last:])
                    fixed0 = "".join(out_s)
                    return fixed0 if fixed0 != src else None

                def _build_ambig(ex):
                    cur = stmt
                    for _ in range(4):
                        cur2 = _ambig_fix(cur, ex)
                        if cur2 is None:
                            raise ex
                        cur = cur2
                        try:
                            return _build(src=cur)
                        except Exception as ex2:  # noqa: BLE001
                            if "AMBIGUOUS_REFERENCE" not in str(ex2):
                                raise
                            ex = ex2
                    raise ex

                def _unres_fix(src: str, ex) -> str | None:
                    # ClickHouse binds an unqualified column that exists in
                    # several joined relations to the FIRST (left) one
                    # (IdentifierSemantic); Spark reports it unresolved when
                    # the bare name collides with a table alias or the join
                    # was lowered away from USING — left-qualify and retry
                    um = re.search(
                        r"name `([\w]+)` cannot be resolved\. Did you mean"
                        r" one of the following\? \[([^\]]*)\]", str(ex)
                    )
                    if not um:
                        return None
                    uname = um.group(1)
                    if uname.startswith("__"):
                        return None
                    cands = re.findall(r"`([^`]+)`\.`([^`]+)`", um.group(2))
                    quals = [
                        q for q, c in cands
                        if c == uname and not q.startswith("__")
                        and re.fullmatch(r"[A-Za-z_]\w*", q)
                    ]
                    if not quals:
                        return None
                    blank0 = _blank(src)
                    ordered = []
                    for rm in re.finditer(
                        r"(?i)\b(?:FROM|JOIN)\s+([A-Za-z_]\w*)"
                        r"(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?", blank0
                    ):
                        al0 = rm.group(2)
                        if al0 and re.match(
                            r"(?i)(ON|USING|LEFT|RIGHT|INNER|FULL|CROSS|"
                            r"JOIN|WHERE|GROUP|ORDER|ANY|ALL|ASOF|SEMI|ANTI|"
                            r"GLOBAL|SETTINGS|FINAL|SAMPLE|PREWHERE|HAVING|"
                            r"LIMIT|UNION|ARRAY|AS)$", al0,
                        ):
                            al0 = None
                        ordered.append(al0 or rm.group(1))
                    pick = next((a for a in ordered if a in quals), quals[0])
                    out_s, last, changed = [], 0, False
                    for om in re.finditer(
                        rf"(?<![\w.`])({re.escape(uname)})(?![\w(.`])", blank0
                    ):
                        head = blank0[: om.start()].rstrip()
                        if re.search(r"(?i)\bAS$", head):
                            continue  # alias definition, not a reference
                        out_s.append(src[last : om.start()])
                        out_s.append(f"{pick}.{uname}")
                        last = om.end()
                        changed = True
                    out_s.append(src[last:])
                    return "".join(out_s) if changed else None

                def _retry_flags(ex) -> dict:
                    s2 = str(ex)
                    flags = {}
                    if _subscript_err(ex):
                        flags["safe"] = True
                    if (
                        "LATERAL_COLUMN_ALIAS_IN_WINDOW" in s2
                        or "INVALID_LAMBDA_FUNCTION_CALL" in s2
                        or "UNRESOLVED_COLUMN" in s2
                        or "LATERAL_COLUMN_ALIAS_IN_AGGREGATE" in s2
                        or "UNEXPECTED_INPUT_TYPE" in s2
                        # sibling alias of an aggregate reused in a scalar
                        # expression (CH inlines; Spark wants GROUP BY)
                        or "MISSING_GROUP_BY" in s2
                        or "MISSING_AGGREGATION" in s2
                    ):
                        flags["inline"] = True
                    if _bool_err(ex):
                        flags["boolw"] = True
                    return flags

                def _gbpos_fix(src: str, ex) -> str | None:
                    # enable_positional_arguments: ClickHouse reads an int
                    # in GROUP/ORDER BY as a position only when it lands on
                    # a plain select item; out-of-range or aggregate-item
                    # ints stay CONSTANTS. Spark always reads ordinals —
                    # de-literalize the offending int so it groups/sorts as
                    # a constant.
                    pm = re.search(
                        r"(?:GROUP|ORDER) BY position (-?\d+)|GROUP BY (\d+) refers",
                        str(ex),
                    )
                    if not pm:
                        return None
                    pos = pm.group(1) or pm.group(2)
                    blank0 = _blank(src)
                    gm = re.search(r"(?i)\b(GROUP|ORDER)\s+BY\s+", blank0)
                    if not gm:
                        return None
                    seg = src[gm.end():]
                    fixed_seg, nsub = re.subn(
                        rf"(?<![\w.])({re.escape(pos)})(?![\w.])",
                        f"CAST({pos} AS BIGINT)",
                        seg,
                        count=1,
                    )
                    if not nsub:
                        return None
                    return src[: gm.end()] + fixed_seg

                def _build_retry(ex):
                    """Cascading retries: each failure may suggest another
                    translate flag; accumulate up to 4 before giving up."""
                    if "AMBIGUOUS_REFERENCE" in str(ex):
                        return _build_ambig(ex)
                    if "GROUP_BY_POS" in str(ex) or "ORDER_BY_POS" in str(ex):
                        cur = stmt
                        for _ in range(3):
                            cur2 = _gbpos_fix(cur, ex)
                            if cur2 is None:
                                break
                            cur = cur2
                            try:
                                return _build(src=cur)
                            except Exception as ex2:  # noqa: BLE001
                                if (
                                    "GROUP_BY_POS" not in str(ex2)
                                    and "ORDER_BY_POS" not in str(ex2)
                                ):
                                    raise
                                ex = ex2
                    kwargs: dict = {}
                    for _ in range(4):
                        new = {
                            k: v
                            for k, v in _retry_flags(ex).items()
                            if k not in kwargs
                        }
                        if not new:
                            break
                        kwargs.update(new)
                        try:
                            return _build(**kwargs)
                        except Exception as ex2:  # noqa: BLE001
                            if "AMBIGUOUS_REFERENCE" in str(ex2):
                                return _build_ambig(ex2)
                            ex = ex2
                    if "UNRESOLVED_COLUMN" in str(ex):
                        cur = stmt
                        for _ in range(4):
                            cur2 = _unres_fix(cur, ex)
                            if cur2 is None:
                                break
                            cur = cur2
                            try:
                                return _build(src=cur, **kwargs)
                            except Exception as ex2:  # noqa: BLE001
                                if "UNRESOLVED_COLUMN" not in str(ex2):
                                    raise
                                ex = ex2
                    raise ex

                try:
                    res_df = _build()
                except Exception as ex:  # noqa: BLE001
                    res_df = _build_retry(ex)
                if re.search(r"\bFORMAT\s+`?Null`?(\s|;|$)", stmt, re.IGNORECASE):
                    res_df.collect()  # execute for effects; output discarded
                    continue
                def _collect_ordered(df):
                    """collect(), with top-level Map columns read through
                    map_entries() — PySpark's dict conversion does NOT
                    preserve Spark map entry order (hash order), while
                    ClickHouse Maps are ordered pair arrays. Returns
                    (rows, positions-of-map-columns)."""
                    from pyspark.sql import functions as F
                    from pyspark.sql import types as T

                    mcols = {
                        i2
                        for i2, f2 in enumerate(df.schema.fields)
                        if isinstance(f2.dataType, T.MapType)
                    }
                    if not mcols:
                        return df.collect(), mcols
                    tmp2 = df.toDF(*[f"__m{i2}" for i2 in range(len(df.schema.fields))])
                    sel2 = [
                        (
                            F.map_entries(tmp2[f"__m{i2}"])
                            if i2 in mcols
                            else tmp2[f"__m{i2}"]
                        ).alias(f2.name)
                        for i2, f2 in enumerate(df.schema.fields)
                    ]
                    return tmp2.select(*sel2).collect(), mcols

                # empty_result_for_aggregation_by_empty_set=1: a global
                # aggregate over zero input rows yields NO row instead of
                # the default-value row (Core/Settings.h)
                if str(session_settings.get(
                    "empty_result_for_aggregation_by_empty_set", "0"
                )).strip("'") == "1":
                    em6 = re.match(
                        r"(?is)^\s*SELECT\s+count\s*\(\s*\*?\s*\)\s+"
                        r"FROM\s+([A-Za-z_]\w*)\s*$",
                        translate(stmt) if False else stmt.strip().rstrip(";"),
                    )
                    if em6 and em6.group(1) in mem_tables:
                        try:
                            if mem_tables[em6.group(1)].limit(1).count() == 0:
                                blocks.append(([], False))
                                continue
                        except Exception:  # noqa: BLE001
                            pass
                # SET limit/offset session settings cap the result set on
                # top of the query's own LIMIT (LimitsMode in the reference)
                _lim = session_settings.get("limit")
                _off = session_settings.get("offset")
                if _off and str(_off).strip("'").isdigit() and int(str(_off).strip("'")):
                    res_df = res_df.offset(int(str(_off).strip("'")))
                if _lim and str(_lim).strip("'").isdigit() and int(str(_lim).strip("'")):
                    res_df = res_df.limit(int(str(_lim).strip("'")))
                try:
                    rows, map_cols = _collect_ordered(res_df)
                except Exception as ex:
                    # arr[i] hit index 0 at runtime — ClickHouse returns the
                    # type default there; retry with the guarded subscript.
                    # Analysis errors can surface here too (spark.sql defers
                    # analysis to the first action), so the lateral-alias
                    # lambda retry applies as well.
                    res_df = _build_retry(ex)
                    rows, map_cols = _collect_ordered(res_df)
                f32_cols = _float32_positions(res_df.schema)
                # DateTime64(N) renders with N fractional digits; Spark's
                # schema can't carry the scale, so recover it per column:
                # an inline toDateTime64(..., N) in the item, or a bare
                # reference to a created DateTime64(N) column
                ts_scales = _dt64_scales(stmt, res_df.schema, dt64_hint)
            except ChSqlError as ex:
                return False, f"translate error: {ex}"
            except Exception as ex:  # noqa: BLE001 — report engine errors as diffs
                first = next(
                    (ln for ln in str(ex).splitlines() if ln.strip()), repr(ex)
                )
                return False, f"exec error: {first[:220]}"
            def _fmt_cell(j, v):
                if j in map_cols and isinstance(v, list):
                    # entry-array view of a Map column (see _collect_ordered)
                    return "{" + ",".join(
                        f"{_fmt_nested(e[0])}:{_fmt_nested(e[1])}" for e in v
                    ) + "}"
                if j in f32_cols:
                    return _fmt_top_f32(v)
                sc = ts_scales.get(j)
                if sc and isinstance(v, _dt.datetime):
                    frac = f"{v.microsecond:06d}"[: min(sc, 6)]
                    return v.strftime("%Y-%m-%d %H:%M:%S") + "." + frac
                return _fmt_top(v)

            fmt_m = re.search(r"\bFORMAT\s+([A-Za-z]+)\s*$", stmt, re.IGNORECASE)
            lines = None
            if fmt_m and fmt_m.group(1).lower() not in ("tabseparated", "tsv"):
                stmt_settings = dict(session_settings)
                setm = re.search(
                    r"(?is)\bSETTINGS\s+(.*?)(?:\bFORMAT\s+[A-Za-z]+\s*)?$",
                    stmt,
                )
                if setm:
                    for sm in re.finditer(
                        r"(\w+)\s*=\s*('[^']*'|\S+?)(?:\s*,|\s*$)",
                        setm.group(1).strip(),
                    ):
                        stmt_settings[sm.group(1).lower()] = sm.group(2).strip("'")
                if fmt_m.group(1).lower() == "template":
                    # Template output needs its template files (CH errors
                    # on a missing format_template_row/resultset file)
                    for k in ("format_template_row", "format_template_resultset"):
                        tf = stmt_settings.get(k)
                        if tf and not os.path.exists(
                            os.path.join(os.path.dirname(sql_path), tf)
                        ):
                            raise FileNotFoundError(f"{k}: {tf}")
                if fmt_m.group(1).lower() in ("json", "jsoncompact", "jsonstrings", "jsoncompactstrings"):
                    from pyspark.sql import types as _T

                    flds0 = res_df.schema.fields
                    if flds0 and flds0[-1].name == "__ch_totals":
                        tidx = len(flds0) - 1
                        d_rows = [tuple(r)[:tidx] for r in rows if not r[tidx]]
                        t_rows = [
                            tuple(
                                v if v is not None
                                else _spark_type_default(flds0[j].dataType)
                                for j, v in enumerate(tuple(r)[:tidx])
                            )
                            for r in rows if r[tidx]
                        ]
                        schema_j = _T.StructType(flds0[:tidx])
                    else:
                        d_rows = [tuple(r) for r in rows]
                        t_rows = []
                        schema_j = res_df.schema
                    all_cols: dict = {}
                    for _cols in ch_schemas.values():
                        all_cols.update(dict(_cols))
                    ch_meta = _select_item_meta(stmt, schema_j.fields, all_cols)
                    rbl = None
                    blank_s = _blank(stmt)
                    top_lim = any(
                        blank_s[:lm2.start()].count("(")
                        == blank_s[:lm2.start()].count(")")
                        for lm2 in re.finditer(r"(?i)\bLIMIT\s+\d+", blank_s)
                    )
                    if top_lim:
                        try:
                            stmt2 = re.sub(
                                r"(?is)\bLIMIT\s+\d+(\s*,\s*\d+)?"
                                r"(\s+OFFSET\s+\d+)?", " ", stmt,
                            )
                            rows2 = spark.sql(
                                translate(stmt2, totals_marker=want_totals)
                            ).collect()
                            if want_totals and rows2 and len(rows2[0]) > len(schema_j.fields):
                                rbl = sum(1 for r in rows2 if not r[-1])
                            else:
                                rbl = len(rows2)
                        except Exception:  # noqa: BLE001 — omit the field
                            rbl = None
                    elif re.search(r"(?i)\bLIMIT\s+\d+", blank_s):
                        # LIMIT only in a subquery: rows_before_limit counts
                        # the rows reaching the outer pipeline — the
                        # aggregation input (IProcessor rows_before_limit)
                        try:
                            fm2 = next(
                                fm for fm in re.finditer(r"(?i)\bFROM\b", blank_s)
                                if blank_s[:fm.start()].count("(")
                                == blank_s[:fm.start()].count(")")
                            )
                            tail2 = stmt[fm2.start():]
                            tail2 = re.sub(
                                r"(?is)\b(GROUP\s+BY|ORDER\s+BY|SETTINGS|FORMAT)\b.*$",
                                "", tail2,
                            )
                            rbl = spark.sql(
                                translate(f"SELECT count(*) AS c {tail2}")
                            ).collect()[0][0]
                        except Exception:  # noqa: BLE001
                            rbl = None
                    lines = _render_json_doc(
                        fmt_m.group(1).lower(), d_rows, t_rows, schema_j,
                        stmt_settings, ch_meta, rbl,
                        str(stmt_settings.get("extremes", "0")) == "1",
                    )
                else:
                    all_cols2: dict = {}
                    for _cols in ch_schemas.values():
                        all_cols2.update(dict(_cols))
                    lines = _render_output(
                        fmt_m.group(1), rows, res_df.schema, _fmt_cell,
                        stmt_settings,
                        ch_meta=_select_item_meta(
                            stmt, res_df.schema.fields, all_cols2
                        )
                        if fmt_m.group(1).lower().endswith("withnamesandtypes")
                        else None,
                    )
            if lines is not None:
                # multi-line / headered formats compare strictly in order
                blocks.append((lines, False))
            else:
                flds = res_df.schema.fields
                tot_idx = (
                    len(flds) - 1
                    if flds and flds[-1].name == "__ch_totals"
                    else None
                )
                if tot_idx is not None:
                    data_rows = [r for r in rows if not r[tot_idx]]
                    tot_rows = [r for r in rows if r[tot_idx]]
                    if totals_limit is not None:
                        off8, n8 = totals_limit
                        data_rows = data_rows[off8 : off8 + n8]

                    def _fmt_tot(j, v):
                        if v is None:
                            v = _spark_type_default(flds[j].dataType)
                        return _fmt_cell(j, v)

                    blocks.append(
                        (
                            [
                                "\t".join(
                                    _fmt_cell(j, v)
                                    for j, v in enumerate(r[:tot_idx])
                                )
                                for r in data_rows
                            ],
                            "ORDER BY" not in up,
                        )
                    )
                    blocks.append(
                        (
                            [""]
                            + [
                                "\t".join(
                                    _fmt_tot(j, v)
                                    for j, v in enumerate(r[:tot_idx])
                                )
                                for r in tot_rows
                            ],
                            False,
                        )
                    )
                else:
                    blocks.append(
                        (
                            [
                                "\t".join(_fmt_cell(j, v) for j, v in enumerate(r))
                                for r in rows
                            ],
                            "ORDER BY" not in up,
                        )
                    )
                if (
                    str(session_settings.get("extremes", "0")) == "1"
                    and rows
                    and (tot_idx is None or tot_idx == len(flds) - 1)
                ):
                    # extremes = 1: blank line, then min and max rows
                    # (IOutputFormat::setExtremes protocol)
                    ncols = tot_idx if tot_idx is not None else len(flds)
                    base = (
                        [r for r in rows if not r[tot_idx]]
                        if tot_idx is not None else rows
                    )
                    mn, mx = [], []
                    for j in range(ncols):
                        vals = [r[j] for r in base if r[j] is not None]
                        try:
                            mn.append(min(vals) if vals else None)
                            mx.append(max(vals) if vals else None)
                        except TypeError:
                            mn.append(vals[0] if vals else None)
                            mx.append(vals[-1] if vals else None)
                    blocks.append(
                        (
                            [""]
                            + [
                                "\t".join(
                                    _fmt_cell(j, v) for j, v in enumerate(r2)
                                )
                                for r2 in (mn, mx)
                            ],
                            False,
                        )
                    )
    finally:
        spark.conf.set("spark.sql.storeAssignmentPolicy", prev_policy)
        for name in created:
            try:
                spark.catalog.dropTempView(name)
            except Exception:  # noqa: BLE001
                pass
    out_lines = [line for lines, _ in blocks for line in lines]
    got = "\n".join(out_lines)
    # `want` is rstripped of trailing newlines at load; mirror that so
    # all-empty-line outputs (7 rows of '') still compare equal
    if got.rstrip("\n") == want:
        return True, "ok"
    # second chance: segment the reference by per-statement line counts and
    # sort both sides of any block whose statement had no ORDER BY
    want_lines = want.split("\n") if want else []
    if len(want_lines) == len(out_lines):
        got2, want2, pos = [], [], 0
        for lines, unordered in blocks:
            ref = want_lines[pos : pos + len(lines)]
            pos += len(lines)
            got2 += sorted(lines) if unordered else lines
            want2 += sorted(ref) if unordered else ref
        if got2 == want2:
            return True, "ok"
    lim = int(os.environ.get("GOLDEN_DIFF_LIMIT", "2000"))
    return False, f"mismatch:\n--got--\n{got[:lim]}\n--want--\n{want[:lim]}"


# --- generateRandom table function (TableFunctionGenerateRandom.cpp) --------
# Replaces `generateRandom('structure'[, seed[, max_str[, max_arr]]])` (or
# the no-arg form, whose structure comes from the INSERT target) with a temp
# view of xxhash64-derived pseudo-random rows. Values are plausible, not
# bit-identical to the reference's pcg RNG — the passing tests assert
# structure/cardinality (count, uniq thresholds, type checks), not bytes.

_GENRAND_SEQ = [0]


def _genrand_expr(ch_type: str, key: str, salt: int, max_str: int, max_arr: int, depth: int = 0) -> str:
    t = ch_type.strip().strip("`")
    h = f"abs(xxhash64({key}, {salt}))"

    def inner(t2: str, extra: int) -> str:
        return _genrand_expr(t2, key, salt * 31 + extra + 7, max_str, max_arr, depth + 1)

    m = re.match(r"(?i)LowCardinality\s*\((.*)\)$", t)
    if m:
        return inner(m.group(1), 1)
    m = re.match(r"(?i)Nullable\s*\((.*)\)$", t)
    if m:
        return f"if(pmod({h}, 10) = 0, NULL, {inner(m.group(1), 2)})"
    m = re.match(r"(?i)Array\s*\((.*)\)$", t)
    if m:
        if depth > 3:
            return "array()"
        el = _genrand_expr(
            m.group(1), f"xxhash64({key}, {salt}, __e{depth})", salt * 17 + 3,
            max_str, max_arr, depth + 1,
        )
        return (
            f"transform(sequence(1, CAST(pmod({h}, {max_arr + 1}) AS INT)),"
            f" __e{depth} -> {el})"
        )
    m = re.match(r"(?i)Tuple\s*\((.*)\)$", t)
    if m:
        parts = _split_top_level_commas(m.group(1))
        fields = []
        for k, p in enumerate(parts):
            p = p.strip()
            nm = re.match(r"(`[^`]+`|\w+)\s+(.+)$", p)
            if nm and not re.match(
                r"(?i)(U?Int|Float|String|Fixed|Date|Enum|Decimal|Array|Tuple|Map|Nullable|LowCardinality|UUID|IPv|Bool)", nm.group(1)
            ):
                name, p2 = nm.group(1).strip("`"), nm.group(2)
            else:
                name, p2 = f"_{k + 1}", p
            fields.append(f"'{name}', {inner(p2, 10 + k)}")
        return "named_struct(" + ", ".join(fields) + ")"
    m = re.match(r"(?i)Map\s*\((.*)\)$", t)
    if m:
        kv = _split_top_level_commas(m.group(1))
        if len(kv) == 2:
            kx = _genrand_expr(kv[0], f"xxhash64({key}, {salt}, __m{depth})", salt + 11, max_str, max_arr, depth + 1)
            vx = _genrand_expr(kv[1], f"xxhash64({key}, {salt}, __m{depth})", salt + 13, max_str, max_arr, depth + 1)
            return (
                f"map_from_arrays(array_distinct(transform(sequence(1, CAST(1 + pmod({h}, 3) AS INT)), __m{depth} -> {kx})),"
                f" slice(transform(sequence(1, CAST(1 + pmod({h}, 3) AS INT)), __m{depth} -> {vx}), 1,"
                f" size(array_distinct(transform(sequence(1, CAST(1 + pmod({h}, 3) AS INT)), __m{depth} -> {kx})))))"
            )
    m = re.match(r"(?i)Enum(?:8|16)?\s*\((.*)\)$", t)
    if m:
        names = re.findall(r"'((?:[^'\\]|\\.)*)'\s*=", m.group(1))
        arr = ", ".join(f"'{n}'" for n in names)
        return f"element_at(array({arr}), CAST(1 + pmod({h}, {len(names)}) AS INT))"
    m = re.match(r"(?i)FixedString\s*\(\s*(\d+)\s*\)$", t)
    if m:
        n = int(m.group(1))
        return f"substr(repeat(hex(xxhash64({key}, {salt})), {n // 16 + 1}), 1, {n})"
    m = re.match(r"(?i)Decimal(?:32|64|128|256)?\s*\(", t)
    if m:
        sm = re.search(r",\s*(\d+)\s*\)$", t) or re.search(r"\(\s*(\d+)\s*\)$", t)
        scale = int(sm.group(1)) if sm else 2
        return f"CAST(pmod({h}, 1000000) / {10 ** scale} AS DECIMAL(20, {scale}))"
    tl = t.lower()
    if tl.startswith("uint8"):
        return f"CAST(pmod({h}, 256) AS INT)"
    if tl.startswith("int8"):
        return f"CAST(pmod({h}, 256) - 128 AS INT)"
    if tl.startswith("uint16"):
        return f"CAST(pmod({h}, 65536) AS INT)"
    if tl.startswith("int16"):
        return f"CAST(pmod({h}, 65536) - 32768 AS INT)"
    if tl.startswith("uint32") or tl.startswith("ipv4"):
        return f"pmod({h}, 4294967296)"
    if tl.startswith("int32"):
        return f"CAST(pmod({h}, 4294967296) - 2147483648 AS BIGINT)"
    if tl.startswith(("uint64", "uint128", "uint256")):
        return h
    if tl.startswith(("int64", "int128", "int256")):
        return f"xxhash64({key}, {salt})"
    if tl.startswith("float32"):
        return f"CAST(pmod({h}, 1000000) / 1000.0 AS FLOAT)"
    if tl.startswith("float64"):
        return f"pmod({h}, 100000000) / 1000.0"
    if tl.startswith("bool"):
        return f"(pmod({h}, 2) = 1)"
    if tl.startswith("uuid"):
        hx = f"concat(hex(xxhash64({key}, {salt})), hex(xxhash64({key}, {salt + 1})))"
        return (
            f"lower(concat(substr({hx},1,8),'-',substr({hx},9,4),'-',"
            f"substr({hx},13,4),'-',substr({hx},17,4),'-',substr({hx},21,12)))"
        )
    if tl.startswith("ipv6"):
        hx = f"lower(concat(hex(xxhash64({key}, {salt})), hex(xxhash64({key}, {salt + 1}))))"
        return (
            f"concat_ws(':', substr({hx},1,4), substr({hx},5,4), substr({hx},9,4),"
            f" substr({hx},13,4), substr({hx},17,4), substr({hx},21,4),"
            f" substr({hx},25,4), substr({hx},29,4))"
        )
    if tl.startswith("datetime64") or tl.startswith("datetime"):
        return f"timestamp_seconds(pmod({h}, 1600000000))"
    if tl.startswith("date32") or tl.startswith("date"):
        return f"date_add(DATE '1970-01-01', CAST(pmod({h}, 30000) AS INT))"
    if tl.startswith("string"):
        return (
            f"substr(repeat(hex(xxhash64({key}, {salt})), {max_str // 16 + 1}),"
            f" 1, CAST(pmod(abs(xxhash64({key}, {salt + 5})), {max_str + 1}) AS INT))"
        )
    raise ChSqlError(f"generateRandom: unsupported type {t!r}")


def _rewrite_generate_random(spark, stmt: str, ch_schemas: dict) -> str:
    """Replace generateRandom(...) calls with temp views of random rows."""
    while True:
        m = re.search(r"(?i)\bgenerateRandom\s*\(", stmt)
        if m is None:
            return stmt
        # find matching close paren
        depth, j, in_str = 0, m.end() - 1, False
        while j < len(stmt):
            c = stmt[j]
            if in_str:
                if c == "'":
                    in_str = False
            elif c == "'":
                in_str = True
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        argstr = stmt[m.end():j]
        args = [a.strip() for a in _split_top_level_commas(argstr)] if argstr.strip() else []
        seed = 42
        max_str, max_arr = 10, 10
        cols: list[tuple[str, str]] = []
        if args and args[0].startswith("'"):
            structure = args[0][1:-1].replace("\\'", "'")
            for cdef in _split_top_level_commas(structure):
                cm = re.match(r"\s*(`[^`]+`|\w+)\s+(.+?)\s*$", cdef, re.DOTALL)
                if cm:
                    cols.append((cm.group(1).strip("`"), cm.group(2)))
            rest = args[1:]
        else:
            # no structure: the INSERT target's schema defines it
            tm = re.match(r"(?is)\s*INSERT\s+INTO\s+(?:TABLE\s+)?`?(\w+)`?", stmt)
            if tm and tm.group(1) in ch_schemas:
                cols = list(ch_schemas[tm.group(1)])
            rest = args
        if len(rest) > 3:
            raise ChSqlError("generateRandom: too many arguments")  # CH 42
        if rest and re.fullmatch(r"\d+", rest[0] or ""):
            seed = int(rest[0])
        if len(rest) > 1 and re.fullmatch(r"\d+", rest[1] or ""):
            max_str = int(rest[1])
        if len(rest) > 2 and re.fullmatch(r"\d+", rest[2] or ""):
            max_arr = int(rest[2])
        if not cols:
            raise ChSqlError("generateRandom: no structure available")
        lm = re.search(r"(?i)\bLIMIT\s+(\d+)", stmt)
        n = min(int(lm.group(1)), 200000) if lm else 65536
        exprs = []
        for k, (name, ctype) in enumerate(cols):
            exprs.append(
                _genrand_expr(ctype, "id", seed * 1000 + k * 97 + 1, max_str, max_arr)
                + f" AS `{name}`"
            )
        _GENRAND_SEQ[0] += 1
        view = f"__genrand_{_GENRAND_SEQ[0]}"
        spark.sql(
            f"SELECT {', '.join(exprs)} FROM range({n})"
        ).createOrReplaceTempView(view)
        stmt = stmt[:m.start()] + view + stmt[j + 1:]


# --- schema inference for DESC format(...) ----------------------------------
# Mirrors src/Formats/SchemaInferenceUtils.cpp with 23.3 defaults:
# try_infer_integers/dates/datetimes = 1, json_try_infer_numbers_from_strings
# = 1 (numbers win over dates — 02536), json_read_objects_as_strings = 1 as
# the fallback when object values don't unify. Scalars wrap in Nullable();
# mixed scalar types collapse per transformInferredTypesIfNeeded (numbers
# widen, anything+String = String, heterogeneous arrays become Tuples).

def _infer_scalar_from_string(s: str) -> str:
    if s == "":
        return "Nullable(String)"
    if re.fullmatch(r"[+-]?\d+", s):
        try:
            v = int(s)
            if -(2**63) <= v < 2**64:
                return "Nullable(Int64)"
        except ValueError:
            pass
        return "Nullable(Float64)"
    if re.fullmatch(r"[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?", s):
        return "Nullable(Float64)"
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}", s):
        return "Nullable(Date)"
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}[ T]\d{1,2}:\d{2}:\d{2}(\.\d+)?", s):
        return "Nullable(DateTime64(9))"
    return "Nullable(String)"


def _unify_inferred(a: str | None, b: str | None) -> str | None:
    if a is None:
        return b
    if b is None:
        return a
    if a == b:
        return a
    na = a[9:-1] if a.startswith("Nullable(") else a
    nb = b[9:-1] if b.startswith("Nullable(") else b
    if na == "Nothing":
        return b if not b.startswith("Nullable(") and not b.startswith("Array(") else b
    if nb == "Nothing":
        return a
    if {na, nb} == {"Int64", "Float64"}:
        return "Nullable(Float64)"
    if na.startswith("Array(") and nb.startswith("Array("):
        inner = _unify_inferred(na[6:-1], nb[6:-1])
        return f"Array({inner})" if inner else None
    if na == "Date" and nb.startswith("DateTime"):
        return f"Nullable({nb})"
    if nb == "Date" and na.startswith("DateTime"):
        return f"Nullable({na})"
    if not na.startswith(("Array(", "Tuple(", "Map(")) and not nb.startswith(
        ("Array(", "Tuple(", "Map(")
    ):
        return "Nullable(String)"
    return None


def _infer_json_value(v, settings: dict) -> str | None:
    if v is None:
        return "Nullable(Nothing)"
    if isinstance(v, bool):
        return "Nullable(Bool)"
    if isinstance(v, int):
        return "Nullable(Int64)"
    if isinstance(v, float):
        return "Nullable(Float64)"
    if isinstance(v, str):
        return _infer_scalar_from_string(v)
    if isinstance(v, list):
        if not v:
            return "Array(Nullable(Nothing))"
        els = [_infer_json_value(x, settings) for x in v]
        uni = els[0]
        for e in els[1:]:
            uni = _unify_inferred(uni, e)
            if uni is None:
                break
        if uni is not None:
            if uni == "Nullable(Nothing)":
                uni = "Nullable(Nothing)"
            return f"Array({uni})"
        return "Tuple(" + ", ".join(els) + ")"
    if isinstance(v, dict):
        if str(settings.get("allow_experimental_object_type", "0")) in ("1", "true"):
            return "Object(Nullable(\\'json\\'))"  # TSV-escaped quotes
        vals = [_infer_json_value(x, settings) for x in v.values()]
        uni = vals[0] if vals else "Nullable(Nothing)"
        for e in vals[1:]:
            uni = _unify_inferred(uni, e)
            if uni is None:
                break
        if uni is not None:
            return f"Map(String, {uni})"
        if str(settings.get("input_format_json_read_objects_as_strings", "1")) not in ("0", "false"):
            return "Nullable(String)"
        raise ChSqlError("cannot infer JSON object type")  # CH 652
    return None


def _split_csv_fields(line: str) -> list[str]:
    out, cur, i, q = [], "", 0, False
    while i < len(line):
        c = line[i]
        if q:
            if c == '"':
                if i + 1 < len(line) and line[i + 1] == '"':
                    cur += '"'
                    i += 1
                else:
                    q = False
            else:
                cur += c
        elif c == '"':
            q = True
            cur += "\x00Q"  # mark quoted
        elif c == ",":
            out.append(cur)
            cur = ""
        else:
            cur += c
        i += 1
    out.append(cur)
    return out


def _infer_ch_literal(s: str) -> str | None:
    """Type of a ClickHouse text literal (CSV-quoted payloads, Values)."""
    s = s.strip()
    if not s:
        return "Nullable(String)"
    if s.upper() == "NULL":
        return "Nullable(Nothing)"
    if s.startswith("[") and s.endswith("]"):
        inner = s[1:-1].strip()
        if not inner:
            return "Array(Nullable(Nothing))"
        els = [_infer_ch_literal(p) for p in _split_top_level_commas(inner)]
        uni = els[0]
        for e in els[1:]:
            uni = _unify_inferred(uni, e)
            if uni is None:
                return None
        return f"Array({uni})"
    if s.startswith("(") and s.endswith(")"):
        els = [_infer_ch_literal(p) for p in _split_top_level_commas(s[1:-1])]
        if len(els) == 1:
            return els[0]
        return "Tuple(" + ", ".join(e or "Nullable(String)" for e in els) + ")"
    if s.startswith("'") and s.endswith("'"):
        return "Nullable(String)"
    return _infer_scalar_from_string(s)


def _infer_format_schema(fmt: str, payload: str, settings: dict) -> list:
    """(name, CH type) pairs for DESC format(fmt, payload)."""
    fl = fmt.lower()
    if fl in ("jsoneachrow", "ndjson", "jsonlines"):
        import json as _json

        dec = _json.JSONDecoder()
        i, objs = 0, []
        while i < len(payload):
            while i < len(payload) and payload[i] in " \t\r\n,;":
                i += 1
            if i >= len(payload):
                break
            obj, j = dec.raw_decode(payload, i)
            objs.append(obj)
            i = j
        cols: dict[str, str | None] = {}
        order: list[str] = []
        for o in objs:
            if not isinstance(o, dict):
                continue
            for k, v in o.items():
                if k not in cols:
                    cols[k] = None
                    order.append(k)
                cols[k] = _unify_inferred(cols[k], _infer_json_value(v, settings))
        out = []
        for k in order:
            t = cols[k]
            if t is None:
                t = "Nullable(String)"
            out.append((k, t))
        return out
    if fl == "csv":
        rows = [r for r in payload.split("\n") if r != ""]
        cols2: list = []
        for r in rows:
            fields = _split_csv_fields(r)
            for j, f in enumerate(fields):
                while len(cols2) <= j:
                    cols2.append(None)
                if f.startswith("\x00Q"):
                    body = f[2:]
                    t = _infer_ch_literal(body)
                    if t in (None,) or (
                        t and t.startswith("Nullable(") and not body.startswith(("[", "("))
                    ):
                        t = "Nullable(String)" if not body.startswith(("[", "(")) else t
                else:
                    t = _infer_scalar_from_string(f)
                cols2[j] = _unify_inferred(cols2[j], t) or "Nullable(String)"
        return [(f"c{j + 1}", t or "Nullable(String)") for j, t in enumerate(cols2)]
    if fl == "values":
        rows = _split_top_level_commas(payload)
        cols3: list = []
        for r in rows:
            r = r.strip()
            if not (r.startswith("(") and r.endswith(")")):
                continue
            for j, f in enumerate(_split_top_level_commas(r[1:-1])):
                while len(cols3) <= j:
                    cols3.append(None)
                cols3[j] = _unify_inferred(cols3[j], _infer_ch_literal(f)) or "Nullable(String)"
        return [(f"c{j + 1}", t or "Nullable(String)") for j, t in enumerate(cols3)]
    if fl in ("tsv", "tabseparated"):
        rows = [r for r in payload.split("\n") if r != ""]
        cols4: list = []
        for r in rows:
            for j, f in enumerate(r.split("\t")):
                while len(cols4) <= j:
                    cols4.append(None)
                cols4[j] = _unify_inferred(cols4[j], _infer_scalar_from_string(f)) or "Nullable(String)"
        return [(f"c{j + 1}", t or "Nullable(String)") for j, t in enumerate(cols4)]
    raise ChSqlError(f"DESC format(): unsupported format {fmt}")
