"""Introspection / formatting / row-order misc family.

Reference: src/Functions/hostName.cpp, version.cpp, formatReadableSize.cpp,
bar.cpp, runningDifference.h, neighbor.cpp, sleep.cpp, isConstant.cpp,
identity.cpp, greatCircleDistance.cpp.

runningDifference/neighbor are deprecated row-order functions in the
reference; here they are window expressions requiring an explicit ordering
(ClickHouse's block-order dependence doesn't exist in a shuffled engine —
callers pass the window).
"""

from __future__ import annotations

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F
import pandas as pd
from pyspark.sql.functions import pandas_udf

from clickhouse_23_3_19_32_lts_spark.functions.catalog import udf_call
from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col, lit_or_col

__all__ = [
    "hostName", "version", "uptime", "sleep_",
    "identity", "materialize", "ignore", "isConstant", "rowNumberInAllBlocks",
    "formatReadableSize", "formatReadableQuantity", "formatReadableDecimalSize",
    "formatReadableTimeDelta", "bar", "runningDifference", "neighbor",
    "greatCircleDistance", "greatCircleAngle",
]


@chfn("hostName", "hostname")
def hostName() -> Column:
    import socket

    return F.lit(socket.gethostname())


@chfn("version")
def version() -> Column:
    return F.lit("23.3.19.32-spark")


@chfn("uptime")
def uptime() -> Column:
    return F.lit(0).cast("long")


@chfn("sleep", "sleepEachRow")
def sleep_(seconds) -> Column:
    """No-op (test-harness function in the reference)."""
    return F.lit(0)


@chfn("identity")
def identity(x) -> Column:
    return col(x)


@chfn("materialize")
def materialize(x) -> Column:
    return col(x)


@chfn("ignore")
def ignore(*xs) -> Column:
    return F.lit(0)


@chfn("isConstant")
def isConstant(x) -> Column:
    return F.lit(0)


@chfn("rowNumberInAllBlocks")
def rowNumberInAllBlocks() -> Column:
    return F.monotonically_increasing_id()


def _readable(x, base: int, units: list[str], suffix: str) -> Column:
    c = col(x).cast("double")
    out = F.format_string(f"%.2f {units[0]}{suffix}", c)
    scale = 1.0
    for u in units[1:]:
        scale *= base
        out = F.when(
            F.abs(c) >= scale, F.format_string(f"%.2f {u}{suffix}", c / scale)
        ).otherwise(out)
    return out


@chfn("formatReadableSize")
def formatReadableSize(x) -> Column:
    return _readable(x, 1024, ["B", "KiB", "MiB", "GiB", "TiB", "PiB"], "")


@chfn("formatReadableDecimalSize")
def formatReadableDecimalSize(x) -> Column:
    return _readable(x, 1000, ["B", "KB", "MB", "GB", "TB", "PB"], "")


@chfn("formatReadableQuantity")
def formatReadableQuantity(x) -> Column:
    c = col(x).cast("double")
    return (
        F.when(F.abs(c) >= 1e15, F.format_string("%.2f quadrillion", c / 1e15))
        .when(F.abs(c) >= 1e12, F.format_string("%.2f trillion", c / 1e12))
        .when(F.abs(c) >= 1e9, F.format_string("%.2f billion", c / 1e9))
        .when(F.abs(c) >= 1e6, F.format_string("%.2f million", c / 1e6))
        .when(F.abs(c) >= 1e3, F.format_string("%.2f thousand", c / 1e3))
        .otherwise(F.format_string("%.2f", c))
    )


@chfn("formatReadableTimeDelta")
def formatReadableTimeDelta(x, max_unit=None) -> Column:
    # NULL marks the default: a string literal renders unquoted through
    # the bridge's .sql() round-trip, a NULL survives it
    mu = (
        lit_or_col(max_unit).cast("string")
        if max_unit is not None
        else F.lit(None).cast("string")
    )
    return udf_call("ch_fmt_timedelta", col(x).cast("double"), mu)


def ch_fmt_timedelta(sec: pd.Series, maxu: pd.Series) -> pd.Series:
    """formatReadableTimeDelta.cpp: break |seconds| into
    years(365 d)/months(30.5 d)/days/hours/minutes/seconds starting at the
    maximum unit; comma-join with ' and ' before the last; singular for 1;
    a single leading '-' for negatives."""
    import math

    units = [
        ("year", 365.0 * 86400), ("month", 30.5 * 86400), ("day", 86400.0),
        ("hour", 3600.0), ("minute", 60.0), ("second", 1.0),
    ]
    start = {"years": 0, "months": 1, "days": 2, "hours": 3,
             "minutes": 4, "seconds": 5}

    def fmt_float(f):
        r = repr(float(f))
        if r.endswith(".0"):
            r = r[:-2]
        return r.replace("e+", "e")

    def one(v, mu):
        if mu is None:
            mu = "years"
        if mu not in start:
            raise ValueError(
                f"formatReadableTimeDelta: unexpected maximum unit {mu!r}"
            )
        if v is None:
            return None
        v = float(v)
        if math.isnan(v) or math.isinf(v):
            return fmt_float(v) if not math.isnan(v) else "nan"
        neg = v < 0
        value = abs(v)
        parts = []
        for name, size in units[start[mu]:]:
            if value + 1.0 == value:
                # too large for exact smaller units (processUnit's guard):
                # one float-printed unit and stop
                parts.append((fmt_float(math.floor(value / size)), name, 2))
                value = 0.0
                continue
            cnt = int(value / size)
            if not cnt and (size > 1 or parts):
                continue
            value -= cnt * size
            parts.append((str(cnt), name, cnt))
        out = []
        # delimiter before each non-first unit: " and " when it is the last
        for j, (txt, name, cnt) in enumerate(parts):
            if j:
                out.append(" and " if j == len(parts) - 1 else ", ")
            out.append(f"{txt} {name}" + ("s" if cnt != 1 else ""))
        return ("-" if neg else "") + "".join(out)

    return pd.Series([one(v, m) for v, m in zip(sec, maxu)])


@chfn("bar")
def bar(x, lo, hi, width: int = 80) -> Column:
    """Unicode bar chart (bar.cpp / UnicodeBar.h): full blocks plus one
    trailing eighth-block for the fractional remainder (▏…▉)."""
    c = col(x).cast("double")
    frac = (c - lo) / (hi - lo)
    # a nan anywhere (value or bounds) draws nothing (UnicodeBar::getWidth)
    frac = F.when(F.isnan(frac), F.lit(0.0)).otherwise(frac)
    frac = F.greatest(F.least(frac, F.lit(1.0)), F.lit(0.0))
    eighths = F.floor(frac * width * 8).cast("int")
    partials = F.array(*[F.lit(s) for s in ["", "▏", "▎", "▍", "▌", "▋", "▊", "▉"]])
    return F.concat(
        F.repeat(F.lit("█"), (eighths / 8).cast("int")),
        F.element_at(partials, eighths % 8 + 1),
    )


@chfn("runningDifference")
def runningDifference(x, w: WindowSpec | None = None) -> Column:
    """x - lag(x) over the given window (0 for the first row)."""
    w = w or Window.orderBy(F.monotonically_increasing_id())
    c = col(x)
    return F.coalesce(c - F.lag(c).over(w), c * 0)


@chfn("neighbor")
def neighbor(x, offset: int, w: WindowSpec | None = None) -> Column:
    w = w or Window.orderBy(F.monotonically_increasing_id())
    c = col(x)
    if offset >= 0:
        return F.lead(c, offset).over(w)
    return F.lag(c, -offset).over(w)


@chfn("greatCircleDistance", "geoDistance")
def greatCircleDistance(lon1, lat1, lon2, lat2) -> Column:
    """Haversine in meters (greatCircleDistance.cpp uses the same sphere
    model, R=6371 km)."""
    rlat1, rlat2 = F.radians(col(lat1)), F.radians(col(lat2))
    dlat = rlat2 - rlat1
    dlon = F.radians(col(lon2)) - F.radians(col(lon1))
    a = F.sin(dlat / 2) ** 2 + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) ** 2
    return 6371000.0 * 2 * F.asin(F.sqrt(a))


@chfn("greatCircleAngle")
def greatCircleAngle(lon1, lat1, lon2, lat2) -> Column:
    """Central angle in DEGREES (greatCircleDistance.cpp SPHERE_DEGREES
    method: same haversine, result divided by the radius and converted)."""
    rlat1, rlat2 = F.radians(col(lat1)), F.radians(col(lat2))
    dlat = rlat2 - rlat1
    dlon = F.radians(col(lon2)) - F.radians(col(lon1))
    a = F.sin(dlat / 2) ** 2 + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) ** 2
    return F.degrees(2 * F.asin(F.sqrt(a)))


# --- bitmap family (src/Functions/FunctionsBitmap.cpp) ----------------------
# ClickHouse bitmaps are roaring-bitmap values; the Spark-native carrier is a
# sorted distinct array<long> — every bitmap op is an array set-op in codegen.


@chfn("bitmapBuild")
def bitmapBuild(arr) -> Column:
    """bitmapBuild(array) → normalized bitmap (sorted distinct)."""
    return F.array_sort(F.array_distinct(col(arr)))


@chfn("bitmapToArray")
def bitmapToArray(bm) -> Column:
    return col(bm)


@chfn("bitmapCardinality")
def bitmapCardinality(bm) -> Column:
    return F.size(col(bm)).cast("long")


@chfn("bitmapAnd")
def bitmapAnd(a, b) -> Column:
    return F.array_sort(F.array_intersect(col(a), col(b)))


@chfn("bitmapOr")
def bitmapOr(a, b) -> Column:
    return F.array_sort(F.array_distinct(F.concat(col(a), col(b))))


@chfn("bitmapXor")
def bitmapXor(a, b) -> Column:
    union = F.array_distinct(F.concat(col(a), col(b)))
    inter = F.array_intersect(col(a), col(b))
    return F.array_sort(F.array_except(union, inter))


@chfn("bitmapAndnot")
def bitmapAndnot(a, b) -> Column:
    return F.array_sort(F.array_except(col(a), col(b)))


@chfn("bitmapContains")
def bitmapContains(bm, x) -> Column:
    return F.array_contains(col(bm), x)


@chfn("bitmapHasAny")
def bitmapHasAny(a, b) -> Column:
    return F.arrays_overlap(col(a), col(b))


@chfn("bitmapHasAll")
def bitmapHasAll(a, b) -> Column:
    """a ⊇ b."""
    return F.size(F.array_except(col(b), col(a))) == 0


@chfn("bitmapAndCardinality")
def bitmapAndCardinality(a, b) -> Column:
    return F.size(F.array_intersect(col(a), col(b))).cast("long")


@chfn("bitmapOrCardinality")
def bitmapOrCardinality(a, b) -> Column:
    return F.size(F.array_distinct(F.concat(col(a), col(b)))).cast("long")


# --- grouped bitmap aggregates (AggregateFunctionGroupBitmap.cpp) -----------
# groupBitmap* return the CARDINALITY of the combined bitmap (UInt64 in the
# reference); the bitmap carrier is the same sorted-distinct array<long>.


@chfn("groupBitmap")
def groupBitmap(c) -> Column:
    """groupBitmap(expr): cardinality of the bitmap built from all values."""
    return F.size(F.collect_set(col(c))).cast("long")


def _fold_bitmaps(bms: Column, step) -> Column:
    """Fold collected bitmaps pairwise; empty group → empty bitmap."""
    rest = F.slice(bms, 2, F.greatest(F.size(bms) - 1, F.lit(0)))
    first = F.coalesce(F.element_at(bms, 1), F.array().cast("array<bigint>"))
    return F.aggregate(rest, first, step)


@chfn("groupBitmapAnd")
def groupBitmapAnd(bm) -> Column:
    """groupBitmapAnd(bitmap): cardinality of the intersection of all
    row bitmaps. Collected list is per-group and bitmap-sized (set values,
    not data rows) — the fold is a codegen HOF, no Python."""
    folded = _fold_bitmaps(
        F.collect_list(col(bm)), lambda acc, x: F.array_intersect(acc, x)
    )
    return F.size(folded).cast("long")


@chfn("groupBitmapOr")
def groupBitmapOr(bm) -> Column:
    """groupBitmapOr(bitmap): cardinality of the union of all row bitmaps."""
    return F.size(F.array_distinct(F.flatten(F.collect_list(col(bm))))).cast("long")


@chfn("groupBitmapXor")
def groupBitmapXor(bm) -> Column:
    """groupBitmapXor(bitmap): cardinality of the symmetric difference fold
    (elements present in an odd number of row bitmaps)."""
    folded = _fold_bitmaps(
        F.collect_list(col(bm)),
        lambda acc, x: F.concat(F.array_except(acc, x), F.array_except(x, acc)),
    )
    return F.size(folded).cast("long")


# --- stem (src/Functions/FunctionsStemming? — reference: stem/lemmatize) ----


@chfn("stem")
def stem(word) -> Column:
    """Deterministic English suffix-stripper (Porter-lite): the reference's
    stem() is snowball-backed; this covers the common -ing/-edly/-s family
    identically enough for pipeline dedup/token-normalization use."""
    w = F.lower(col(word))
    return (
        F.when(w.rlike(".{4,}ingly$"), F.regexp_replace(w, "ingly$", ""))
        .when(w.rlike(".{3,}edly$"), F.regexp_replace(w, "edly$", ""))
        .when(w.rlike(".{4,}ing$"), F.regexp_replace(w, "ing$", ""))
        .when(w.rlike(".{3,}ied$"), F.regexp_replace(w, "ied$", "y"))
        .when(w.rlike(".{3,}ed$"), F.regexp_replace(w, "ed$", ""))
        .when(w.rlike(".{2,}ies$"), F.regexp_replace(w, "ies$", "y"))
        .when(w.rlike(".{3,}sses$"), F.regexp_replace(w, "es$", ""))
        .when(w.rlike(".{3,}s$") & ~w.rlike("ss$|us$|is$"), F.regexp_replace(w, "s$", ""))
        .otherwise(w)
    )


# --- NLP family (src/Functions/Lemmatize.cpp, Synonyms.cpp,
# FunctionsCharsetClassification.cpp, FunctionsLanguageClassification.cpp) ---
# The reference backs lemmatize/synonyms with server-configured dictionary
# files and errors without them; the Spark mapping is the same contract:
# register a dictionary first (broadcast map literal — small by nature),
# with a rule-based fallback for lemmatize.

_LEMMA_DICTS: dict[str, dict[str, str]] = {}
_SYNONYM_DICTS: dict[str, dict[str, tuple[str, ...]]] = {}

_IRREGULAR_LEMMAS = {
    "better": "good", "best": "good", "worse": "bad", "worst": "bad",
    "mice": "mouse", "geese": "goose", "feet": "foot", "teeth": "tooth",
    "children": "child", "men": "man", "women": "woman", "people": "person",
    "was": "be", "were": "be", "is": "be", "are": "be", "been": "be",
    "has": "have", "had": "have", "went": "go", "gone": "go", "did": "do",
    "done": "do", "said": "say", "made": "make", "took": "take",
}


def register_lemmas(name: str, mapping: dict[str, str]) -> None:
    """CREATE DICTIONARY analogue for lemmatize('name', w) — config-file
    lemmatizers in the reference (Lemmatize.cpp requires them)."""
    _LEMMA_DICTS[name] = dict(mapping)


def register_synonyms(name: str, mapping: dict[str, list[str]]) -> None:
    """Synonym-extension registration (Synonyms.cpp requires a configured
    extension file; unknown names raise — same loud contract)."""
    _SYNONYM_DICTS[name] = {k: tuple(v) for k, v in mapping.items()}


def _map_lit(mapping: dict[str, str]) -> Column:
    pairs: list[Column] = []
    for k, v in sorted(mapping.items()):
        pairs += [F.lit(k), F.lit(v)]
    return F.create_map(*pairs)


@chfn("lemmatize")
def lemmatize(lang_or_dict, word=None) -> Column:
    """lemmatize('en', word): registered dictionary lookup first, then the
    irregular-form table, then the deterministic suffix rules (stem).
    Single-arg form lemmatize(word) uses the fallback chain only."""
    if word is None:
        lang_or_dict, word = "en", lang_or_dict
    name = lang_or_dict if isinstance(lang_or_dict, str) else "en"
    w = F.lower(col(word))
    user = _LEMMA_DICTS.get(name)
    fallback = F.coalesce(F.element_at(_map_lit(_IRREGULAR_LEMMAS), w), stem(w))
    if user:
        return F.coalesce(F.element_at(_map_lit(user), w), fallback)
    return fallback


@chfn("synonyms")
def synonyms(ext_name, word) -> Column:
    """synonyms('ext', word) → Array(String). The extension must be
    registered (register_synonyms); unknown extensions raise, matching the
    reference's missing-config error."""
    if not isinstance(ext_name, str) or ext_name not in _SYNONYM_DICTS:
        raise ValueError(
            f"synonyms extension {ext_name!r} is not registered — call "
            "register_synonyms(name, mapping) first (the reference requires "
            "a configured synonyms extension the same way)"
        )
    mapping = _SYNONYM_DICTS[ext_name]
    w = F.lower(col(word))
    result = F.array().cast("array<string>")
    for k, syns in sorted(mapping.items()):
        result = F.when(w == k, F.array(*[F.lit(s) for s in syns])).otherwise(result)
    return result


@chfn("detectCharset")
def detectCharset(s) -> Column:
    """detectCharset(s) (FunctionsCharsetClassification.cpp): the reference
    scores byte bigrams against trained frequency tables; the deterministic
    Spark form distinguishes the dominant practical cases — pure ASCII vs
    valid UTF-8 multibyte vs binary/latin1."""
    c = col(s)
    is_ascii = c.rlike("^[\\x00-\\x7F]*$")
    # a string that survived UTF-8 decoding with non-ASCII chars is UTF-8
    return F.when(is_ascii, F.lit("US-ASCII")).otherwise(F.lit("UTF-8"))


@chfn("detectLanguage")
def detectLanguage(s) -> Column:
    """detectLanguage(s) (FunctionsLanguageClassification.cpp): marker-
    lexicon language-ID (pipeline/text.py) mapped to the reference's
    2-letter codes with 'un' for unknown."""
    from clickhouse_23_3_19_32_lts_spark.pipeline.text import language_id

    lang = language_id(col(s))
    return F.when(lang == "und", F.lit("un")).otherwise(lang)


@chfn("detectLanguageUnknown")
def detectLanguageUnknown(s) -> Column:
    return detectLanguage(s)


__all__ += [
    "bitmapBuild", "bitmapToArray", "bitmapCardinality", "bitmapAnd",
    "bitmapOr", "bitmapXor", "bitmapAndnot", "bitmapContains",
    "bitmapHasAny", "bitmapHasAll", "bitmapAndCardinality",
    "bitmapOrCardinality", "stem", "groupBitmap", "groupBitmapAnd",
    "groupBitmapOr", "groupBitmapXor", "lemmatize", "synonyms",
    "detectCharset", "detectLanguage", "detectLanguageUnknown",
    "register_lemmas", "register_synonyms",
]
