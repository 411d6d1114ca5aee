"""Static ClickHouse type inference for toTypeName().

Implements the reference's literal-typing and binary-op promotion rules
(src/Parsers/ExpressionElementParsers.cpp literal inference;
src/DataTypes/NumberTraits.h Construct/nextSize;
src/DataTypes/getLeastSupertype.cpp for if/array element unification) so
`toTypeName(expr)` can fold to a constant string at translate time for
the expression shapes the stateless corpus uses. Returns None whenever
the expression isn't statically inferable — callers fall back to the
runtime typeof() mapping.
"""

from __future__ import annotations

import re

_INT_W = {
    "UInt8": (False, 1), "UInt16": (False, 2), "UInt32": (False, 4),
    "UInt64": (False, 8), "UInt128": (False, 16), "UInt256": (False, 32),
    "Int8": (True, 1), "Int16": (True, 2), "Int32": (True, 4),
    "Int64": (True, 8), "Int128": (True, 16), "Int256": (True, 32),
}
_W_INT = {(s, w): n for n, (s, w) in _INT_W.items()}
_FLOATS = {"Float32": 4, "Float64": 8}


def _construct(signed: bool, floating: bool, size: int) -> str | None:
    if floating:
        return "Float32" if size <= 4 else "Float64"
    return _W_INT.get((signed, size if size >= 1 else 1))


def _next_size(size: int) -> int:
    return size * 2 if size < 8 else size


def _is_num(t: str) -> bool:
    return t in _INT_W or t in _FLOATS


def _nullable_inner(t: str) -> tuple[str, bool]:
    if t.startswith("Nullable(") and t.endswith(")"):
        return t[9:-1], True
    return t, False


def _arith(op: str, a: str, b: str) -> str | None:
    """NumberTraits.h result types for +,-,*,/,intDiv,%."""
    a, na = _nullable_inner(a)
    b, nb = _nullable_inner(b)
    if not (_is_num(a) and _is_num(b)):
        return None
    fa, fb = a in _FLOATS, b in _FLOATS
    sa, wa = (True, _FLOATS[a]) if fa else _INT_W[a]
    sb, wb = (True, _FLOATS[b]) if fb else _INT_W[b]
    if op == "/":
        r = "Float64"
    elif op in ("+", "*"):
        r = _construct(sa or sb, fa or fb, _next_size(max(wa, wb)))
    elif op == "-":
        r = _construct(True, fa or fb, _next_size(max(wa, wb)))
    elif op == "intDiv":
        if fa or fb:
            return None
        r = _construct(sa or sb, False, wa)
    elif op == "%":
        if fa or fb:
            r = "Float64"
        else:
            r = _construct(sa, False, _next_size(wb) if sa else wb)
    else:
        return None
    if r is None:
        return None
    return f"Nullable({r})" if (na or nb) else r


def _super2(a: str | None, b: str | None) -> str | None:
    """getLeastSupertype for the shapes we infer (numeric, Nullable, Array,
    String; NULL literal = Nullable(Nothing))."""
    if a is None or b is None:
        return None
    if a == b:
        return a
    if a == "Nothing":
        return b
    if b == "Nothing":
        return a
    ai, na = _nullable_inner(a)
    bi, nb = _nullable_inner(b)
    if na or nb:
        if ai == "Nothing":
            inner = bi
        elif bi == "Nothing":
            inner = ai
        else:
            inner = _super2(ai, bi)
        return None if inner is None else f"Nullable({inner})"
    if a.startswith("Array(") and b.startswith("Array("):
        inner = _super2(a[6:-1], b[6:-1])
        return None if inner is None else f"Array({inner})"
    if _is_num(a) and _is_num(b):
        fa, fb = a in _FLOATS, b in _FLOATS
        if fa or fb:
            if a == "Float64" or b == "Float64":
                return "Float64"
            other = b if fa else a
            if other in _FLOATS:
                return "Float32"
            return "Float32" if _INT_W[other][1] <= 2 else "Float64"
        (sa, wa), (sb, wb) = _INT_W[a], _INT_W[b]
        if sa == sb:
            return _W_INT[(sa, max(wa, wb))]
        sw = wa if sa else wb
        uw = wb if sa else wa
        w = max(sw, uw * 2)
        return _W_INT.get((True, w))
    return None


_INT_TOK = re.compile(r"\d+$")
_FLOAT_TOK = re.compile(r"(?:\d+\.\d+(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+[eE][+-]?\d+)$")

# fixed-result functions (arg types don't matter)
_FIXED = {
    "toString": "String", "concat": "String", "upper": "String",
    "lower": "String", "substring": "String", "substr": "String",
    "reverse": None,  # polymorphic
    "toDate": "Date", "toDate32": "Date32", "toDateTime": "DateTime",
    "today": "Date", "yesterday": "Date", "now": "DateTime",
    "toUUID": "UUID", "generateUUIDv4": "UUID",
    "toIPv4": "IPv4", "toIPv6": "IPv6",
    "length": "UInt64", "count": "UInt64", "uniq": "UInt64",
    "uniqExact": "UInt64", "lengthUTF8": "UInt64",
    "toUnixTimestamp": "UInt32", "toTimeZone": "DateTime",
    "toTimezone": "DateTime",
    "rand": "UInt32", "rand64": "UInt64", "range": "Array(UInt64)",
    "materialize": None, "identity": None,
    "e": "Float64", "pi": "Float64", "exp": "Float64", "log": "Float64",
    "sqrt": "Float64", "cbrt": "Float64", "sin": "Float64", "cos": "Float64",
    "tan": "Float64", "asin": "Float64", "acos": "Float64", "atan": "Float64",
    "pow": "Float64", "power": "Float64", "exp2": "Float64",
    "log2": "Float64", "exp10": "Float64", "log10": "Float64",
}
for _n in ("toInt8", "toInt16", "toInt32", "toInt64", "toInt128", "toInt256",
           "toUInt8", "toUInt16", "toUInt32", "toUInt64", "toUInt128",
           "toUInt256", "toFloat32", "toFloat64"):
    _FIXED[_n] = _n[2:]

_DEC_PREC = {"toDecimal32": 9, "toDecimal64": 18, "toDecimal128": 38, "toDecimal256": 76}

# comparison / logic → UInt8
_CMP_FUNCS = {
    "equals", "notEquals", "less", "greater", "lessOrEquals",
    "greaterOrEquals", "and", "or", "not", "xor", "isNull", "isNotNull",
    "in", "notIn", "like", "notLike", "ilike", "notILike", "empty",
    "notEmpty", "has", "hasAll", "hasAny", "startsWith", "endsWith",
}


def _split_top(tokens: list[str], seps: set[str]) -> list[list[str]]:
    parts: list[list[str]] = [[]]
    depth = 0
    for t in tokens:
        if t in ("(", "["):
            depth += 1
        elif t in (")", "]"):
            depth -= 1
        if depth == 0 and t in seps:
            parts.append([])
        else:
            parts[-1].append(t)
    return parts


def _find_top_ops(tokens: list[str], ops: set[str]) -> list[int]:
    """Indices of top-level binary operator tokens (skipping a leading
    unary sign and operators that directly follow another operator)."""
    idxs = []
    depth = 0
    for i, t in enumerate(tokens):
        if t in ("(", "["):
            depth += 1
        elif t in (")", "]"):
            depth -= 1
        elif depth == 0 and t in ops:
            if i == 0:
                continue
            prev = tokens[i - 1]
            if prev in ("+", "-", "*", "/", "%", "(", ",", "["):
                continue
            idxs.append(i)
    return idxs


# Spark and SQL type names -> the ClickHouse type (DataTypeFactory's
# case-insensitive aliases, and the type a Spark value of each comes from)
CH_TYPE_NAMES = {
    "bigint": "Int64", "int": "Int32", "integer": "Int32", "smallint": "Int16", "tinyint": "Int8",
    "double": "Float64", "float": "Float32", "real": "Float32",
    "string": "String", "varchar": "String", "text": "String", "binary": "String",
    "date": "Date", "timestamp": "DateTime", "boolean": "Bool",
}


def _norm_type_tokens(toks: list[str]) -> str:
    """Join type tokens the way CH canonically prints them, an alias
    (BIGINT) under ClickHouse's name (Int64)."""
    s = "".join(toks)
    s = s.replace(",", ", ")
    return CH_TYPE_NAMES.get(s.lower(), s)


def resolve_function(name: str) -> str | None:
    """The registered spelling of a function name (functions.resolve), or
    None, also while the package is still importing."""
    try:
        from clickhouse_23_3_19_32_lts_spark.functions import resolve
    except ImportError:  # circular import during bootstrap
        return None
    return resolve(name)


def static_type(
    tokens: list[str],
    col_types: dict[str, str] | None = None,
    state: dict | None = None,
) -> str | None:
    """CH type name of the expression, or None if not statically known.
    `state` (optional dict) records constness clues: state["col"] set when
    a column reference was consulted, state["materialize"] when a
    materialize() call appears — toColumnTypeName prints Const(T) only for
    fully-constant expressions (IColumn::isConst)."""
    if state is None:
        state = {}
    toks = [t for t in tokens if t.strip()]
    if not toks:
        return None
    # strip redundant outer parens
    while (
        len(toks) >= 2
        and toks[0] == "("
        and _matching_paren(toks, 0) == len(toks) - 1
        # not a tuple literal: no top-level comma inside
        and len(_split_top(toks[1:-1], {","})) == 1
    ):
        toks = toks[1:-1]
    if not toks:
        return None
    ct = col_types or {}

    # top-level :: cast
    cc = _find_top_ops(toks, {"::"})
    if cc:
        return _norm_type_tokens(toks[cc[-1] + 1:])

    # top-level binary arithmetic (lowest precedence last: + -)
    for opset, prec in (({"+", "-"}, 0), ({"*", "/", "%"}, 1)):
        idxs = _find_top_ops(toks, opset)
        if idxs:
            i = idxs[-1]
            lt = static_type(toks[:i], ct, state)
            rt = static_type(toks[i + 1:], ct, state)
            if lt is None or rt is None:
                return None
            return _arith(toks[i], lt, rt)

    # single token
    if len(toks) == 1:
        t = toks[0]
        if _INT_TOK.match(t):
            v = int(t)
            for name, hi in (("UInt8", 255), ("UInt16", 65535),
                             ("UInt32", 4294967295),
                             ("UInt64", 18446744073709551615)):
                if v <= hi:
                    return name
            return None
        if _FLOAT_TOK.match(t):
            return "Float64"
        if t.startswith("'"):
            return "String"
        tl = t.lower()
        if tl == "null":
            return "Nullable(Nothing)"
        if tl in ("true", "false"):
            return "Bool"
        if tl in ("inf", "nan"):
            return "Float64"
        if t in ct:
            state["col"] = True
            return ct[t]
        return None

    # qualified column reference tbl.col → the bare column's declared type
    if (
        len(toks) == 3
        and toks[1] == "."
        and re.fullmatch(r"[A-Za-z_]\w*", toks[0])
        and re.fullmatch(r"[A-Za-z_]\w*", toks[2])
        and toks[2] in ct
    ):
        state["col"] = True
        return ct[toks[2]]

    # unary minus literal
    if toks[0] == "-" and len(toks) == 2:
        t = toks[1]
        if _INT_TOK.match(t):
            v = -int(t)
            for name, lo in (("Int8", -128), ("Int16", -32768),
                             ("Int32", -2147483648),
                             ("Int64", -9223372036854775808)):
                if v >= lo:
                    return name
            return None
        if _FLOAT_TOK.match(t) or t.lower() in ("inf", "nan"):
            return "Float64"
        return None

    # array literal
    if toks[0] == "[" and _matching_bracket(toks, 0) == len(toks) - 1:
        inner = toks[1:-1]
        if not inner:
            return "Array(Nothing)"
        elem: str | None = "Nothing"
        for part in _split_top(inner, {","}):
            elem = _super2(elem, static_type(part, ct, state))
            if elem is None:
                return None
        return f"Array({elem})"

    # tuple literal (a, b, ...)
    if toks[0] == "(" and _matching_paren(toks, 0) == len(toks) - 1:
        parts = _split_top(toks[1:-1], {","})
        if len(parts) > 1:
            els = [static_type(p, ct, state) for p in parts]
            if any(e is None for e in els):
                return None
            return "Tuple(" + ", ".join(els) + ")"  # type: ignore[arg-type]
        return None

    # function call f(args)
    if re.match(r"[A-Za-z_][A-Za-z0-9_]*$", toks[0]) and len(toks) >= 3 and toks[1] == "(":
        if _matching_paren(toks, 1) != len(toks) - 1:
            return None
        f = resolve_function(toks[0]) or toks[0]
        args = _split_top(toks[2:-1], {","}) if len(toks) > 3 else []
        if args == [[]]:
            args = []
        fl = f.lower()
        if f in _FIXED and _FIXED[f] is not None:
            return _FIXED[f]
        if fl in ("cast", "accuratecast"):
            if len(args) == 2 and args[1] and args[1][0].startswith("'"):
                return _norm_type_tokens([args[1][0][1:-1]])
            if len(args) == 1:
                # CAST(x AS T) — AS kept inside the single arg
                up = [i for i, tk in enumerate(args[0]) if tk.upper() == "AS"]
                if up:
                    return _norm_type_tokens(args[0][up[-1] + 1:])
            return None
        if f in _DEC_PREC and len(args) == 2 and args[1] and _INT_TOK.match(args[1][0]):
            return f"Decimal({_DEC_PREC[f]}, {int(args[1][0])})"
        if f == "toFixedString" and len(args) == 2 and _INT_TOK.match(args[1][0]):
            return f"FixedString({int(args[1][0])})"
        if f == "toDateTime64" and len(args) >= 2 and _INT_TOK.match(args[1][0]):
            return f"DateTime64({int(args[1][0])})"
        if f == "toNullable" and len(args) == 1:
            inner = static_type(args[0], ct, state)
            if inner is None:
                return None
            return inner if inner.startswith("Nullable(") else f"Nullable({inner})"
        if f == "assumeNotNull" and len(args) == 1:
            inner = static_type(args[0], ct, state)
            if inner is None:
                return None
            base, _ = _nullable_inner(inner)
            return base
        if f == "materialize" and len(args) == 1:
            state["materialize"] = True
            return static_type(args[0], ct, state)
        if f in ("toTypeName", "toColumnTypeName"):
            return "String"
        if f in ("avgWeighted", "avgWeightedIf"):
            # Float64, Nullable when either the value or the weight is
            # Nullable (AggregateFunctionAvgWeighted + Null combinator)
            for part in args[:2]:
                pt = static_type(part, ct, state)
                if (pt and pt.startswith("Nullable(")) or any(
                    tk.lower() in ("null", "tonullable")
                    or tk.lower().endswith("ornull")
                    for tk in part
                ):
                    return "Nullable(Float64)"
            return "Float64"
        if f.endswith("OrNull") and f[:-6] in _FIXED and _FIXED[f[:-6]] is not None:
            return f"Nullable({_FIXED[f[:-6]]})"
        if f.endswith("OrZero") and f[:-6] in _FIXED and _FIXED[f[:-6]] is not None:
            return _FIXED[f[:-6]]
        if f in ("array",):
            elem: str | None = "Nothing"
            for part in args:
                elem = _super2(elem, static_type(part, ct, state))
                if elem is None:
                    return None
            return f"Array({elem})"
        if f == "map" and len(args) % 2 == 0:
            kv: list[str | None] = ["Nothing", "Nothing"]
            for j, part in enumerate(args):
                kv[j % 2] = _super2(kv[j % 2], static_type(part, ct, state))
                if kv[j % 2] is None:
                    return None
            return f"Map({kv[0]}, {kv[1]})"
        if f in ("tuple",):
            els = [static_type(p, ct, state) for p in args]
            if any(e is None for e in els):
                return None
            return "Tuple(" + ", ".join(els) + ")"  # type: ignore[arg-type]
        if f == "if" and len(args) == 3:
            return _super2(static_type(args[1], ct, state), static_type(args[2], ct, state))
        if f in ("plus", "multiply", "minus", "divide", "intDiv", "modulo") and len(args) == 2:
            op = {"plus": "+", "multiply": "*", "minus": "-", "divide": "/",
                  "intDiv": "intDiv", "modulo": "%"}[f]
            lt = static_type(args[0], ct, state)
            rt = static_type(args[1], ct, state)
            if lt is None or rt is None:
                return None
            return _arith(op, lt, rt)
        if f in _CMP_FUNCS:
            return None  # UInt8, but arg nullability lifts — not worth risk
        return None

    # comparison chains etc. — unsupported
    return None


def _matching_paren(toks: list[str], i: int) -> int:
    depth = 0
    for j in range(i, len(toks)):
        if toks[j] == "(":
            depth += 1
        elif toks[j] == ")":
            depth -= 1
            if depth == 0:
                return j
    return -1


def _matching_bracket(toks: list[str], i: int) -> int:
    depth = 0
    for j in range(i, len(toks)):
        if toks[j] == "[":
            depth += 1
        elif toks[j] == "]":
            depth -= 1
            if depth == 0:
                return j
    return -1
