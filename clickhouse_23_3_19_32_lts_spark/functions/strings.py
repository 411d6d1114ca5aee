"""String manipulation / search / replace / split families.

Reference: src/Functions/lower.cpp:20, substring.cpp:183, concat.cpp:230,
position.cpp:20, match.cpp:20, replaceRegexpAll.cpp:20,
FunctionsStringArray.cpp:29, FunctionsStringSimilarity.cpp:541, trim.cpp,
padString.cpp, repeat.cpp, reverse.cpp, startsWith.cpp, endsWith.cpp.

ClickHouse strings are byte strings; ours are UTF-8 StringType. The *UTF8
variants therefore coincide with the base forms (length vs lengthUTF8
differ in ClickHouse only for non-ASCII: we provide byte length via
octet_length).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col, lit_or_col

__all__ = [
    "empty", "notEmpty", "length", "lengthUTF8", "octet_length", "lower",
    "upper", "lowerUTF8", "upperUTF8", "repeat", "reverse", "concat",
    "concatWithSeparator", "substring", "substringUTF8", "left", "right",
    "startsWith", "endsWith", "trimBoth", "trimLeft", "trimRight",
    "leftPad", "rightPad", "space", "ascii_", "initcap", "soundex",
    "appendTrailingCharIfAbsent", "toValidUTF8", "normalizeQuery",
    "position", "positionCaseInsensitive", "locate", "instr", "match",
    "like", "notLike", "ilike", "notILike", "countSubstrings", "hasToken",
    "hasTokenCaseInsensitive", "multiSearchAny", "multiSearchAnyCaseInsensitive",
    "extract",
    "extractAll", "extractGroups", "countMatches", "replaceOne", "replaceAll",
    "replaceRegexpOne", "replaceRegexpAll", "translate", "splitByChar",
    "splitByString", "splitByRegexp", "splitByWhitespace", "alphaTokens",
    "arrayStringConcat", "ngrams", "tokens", "levenshteinDistance",
    "ngramDistance", "format_",
]


@chfn("empty")
def empty(s) -> Column:
    return F.length(col(s)) == 0


@chfn("notEmpty")
def notEmpty(s) -> Column:
    return F.length(col(s)) > 0


@chfn("length", "lengthUTF8", "char_length", "CHAR_LENGTH", "character_length", "CHARACTER_LENGTH")
def length(s) -> Column:
    return F.length(col(s)).cast("long")


lengthUTF8 = length


@chfn("octet_length", "OCTET_LENGTH")
def octet_length(s) -> Column:
    return F.octet_length(col(s)).cast("long")


@chfn("lower", "lcase", "lowerUTF8")
def lower(s) -> Column:
    return F.lower(col(s))


lowerUTF8 = lower


@chfn("upper", "ucase", "upperUTF8")
def upper(s) -> Column:
    return F.upper(col(s))


upperUTF8 = upper


@chfn("repeat")
def repeat(s, n) -> Column:
    return F.repeat(col(s), col(n) if isinstance(n, Column) else n)


@chfn("reverse", "reverseUTF8")
def reverse(s) -> Column:
    return F.reverse(col(s))


@chfn("concat")
def concat(*xs) -> Column:
    return F.concat(*[col(x) for x in xs])


@chfn("concatWithSeparator", "concat_ws")
def concatWithSeparator(sep: str, *xs) -> Column:
    return F.concat_ws(sep, *[col(x) for x in xs])


@chfn("substring", "substr", "mid", "SUBSTRING", "subString")
def substring(s, start, length_=None) -> Column:
    """1-based, negative start counts from the end (both engines agree)."""
    if length_ is None:
        return _substr_nolen(s, start)
    if isinstance(start, Column) or isinstance(length_, Column):
        return col(s).substr(col(start) if isinstance(start, Column) else F.lit(start),
                             col(length_) if isinstance(length_, Column) else F.lit(length_))
    return F.substring(col(s), start, length_)


def _substr_nolen(s, start) -> Column:
    c = col(s)
    st = F.lit(start) if not isinstance(start, Column) else start
    return c.substr(st, F.length(c))


substringUTF8 = substring


@chfn("left")
def left(s, n: int) -> Column:
    return F.substring(col(s), 1, n)


@chfn("right")
def right(s, n: int) -> Column:
    c = col(s)
    return F.substring(c, -n, n)


@chfn("startsWith")
def startsWith(s, prefix) -> Column:
    return col(s).startswith(lit_or_col(prefix))


@chfn("endsWith")
def endsWith(s, suffix) -> Column:
    return col(s).endswith(lit_or_col(suffix))


@chfn("trim", "trimBoth")
def trimBoth(s) -> Column:
    return F.trim(col(s))


@chfn("trimLeft")
def trimLeft(s) -> Column:
    return F.ltrim(col(s))


@chfn("trimRight")
def trimRight(s) -> Column:
    return F.rtrim(col(s))


@chfn("leftPad", "lpad", "leftPadUTF8")
def leftPad(s, n: Column | int, pad: Column | str = " ") -> Column:
    return F.lpad(col(s), n, pad)


@chfn("rightPad", "rpad", "rightPadUTF8")
def rightPad(s, n: Column | int, pad: Column | str = " ") -> Column:
    return F.rpad(col(s), n, pad)


@chfn("space")
def space(n) -> Column:
    return F.repeat(F.lit(" "), col(n) if isinstance(n, Column) else n)


@chfn("ascii")
def ascii_(s) -> Column:
    return F.ascii(col(s))


@chfn("initcap", "initcapUTF8")
def initcap(s) -> Column:
    return F.initcap(col(s))


@chfn("soundex")
def soundex(s) -> Column:
    return F.soundex(col(s))


@chfn("appendTrailingCharIfAbsent")
def appendTrailingCharIfAbsent(s, c: str) -> Column:
    # empty input stays empty (appendTrailingCharIfAbsent.cpp)
    sc = col(s)
    return F.when(
        (F.length(sc) == 0) | sc.endswith(c), sc
    ).otherwise(F.concat(sc, F.lit(c)))


@chfn("toValidUTF8")
def toValidUTF8(s) -> Column:
    return col(s)  # StringType is always valid UTF-8 in Spark


@chfn("normalizeQuery")
def normalizeQuery(s) -> Column:
    """Replace literals with placeholders (queryNormalization.h): string and
    numeric literals, and UUID-like backquoted identifiers, become `?`."""
    c = F.regexp_replace(col(s), r"'[^']*'", "?")
    c = F.regexp_replace(
        c,
        r"`[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}`",
        "`?`",
    )
    c = F.regexp_replace(c, r"\b\d+(\.\d+)?\b", "?")
    return c


@chfn("normalizedQueryHash", "normalizedQueryHashKeepNames")
def normalizedQueryHash(s) -> Column:
    """Hash of the normalized query text — the portable 60-bit engine hash
    (equal normalized forms hash equal, which is the tested property)."""
    return F.abs(F.xxhash64(normalizeQuery(s)))


# -- search -----------------------------------------------------------------


@chfn("position", "locate", "POSITION")
def position(haystack, needle) -> Column:
    """1-based; 0 when absent (both engines agree on locate/position)."""
    if isinstance(needle, str):
        return F.locate(needle, col(haystack)).cast("long")
    return F.position(lit_or_col(needle), col(haystack)).cast("long")


locate = position
instr = position


@chfn("positionCaseInsensitive")
def positionCaseInsensitive(haystack, needle: str) -> Column:
    return F.locate(needle.lower(), F.lower(col(haystack))).cast("long")


@chfn("match", "REGEXP_MATCHES")
def match(s, pattern: Column | str) -> Column:
    return F.rlike(col(s), lit_or_col(pattern))


@chfn("like", "LIKE")
def like(s, pattern: Column | str) -> Column:
    return F.like(col(s), lit_or_col(pattern))


@chfn("notLike", "NOT LIKE")
def notLike(s, pattern: Column | str) -> Column:
    return ~like(s, pattern)


@chfn("ilike", "ILIKE")
def ilike(s, pattern: Column | str) -> Column:
    return F.ilike(col(s), lit_or_col(pattern))


@chfn("notILike")
def notILike(s, pattern: Column | str) -> Column:
    return ~ilike(s, pattern)


@chfn("countSubstrings")
def countSubstrings(haystack, needle: str) -> Column:
    c = col(haystack)
    return F.when(F.length(c) == 0, F.lit(0)).otherwise(
        ((F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit("")))) / len(needle)).cast("long")
    )


@chfn("hasToken")
def hasToken(haystack, token: str) -> Column:
    return col(haystack).rlike(rf"(^|[^A-Za-z0-9_]){_re_escape(token)}([^A-Za-z0-9_]|$)")


@chfn("hasTokenCaseInsensitive")
def hasTokenCaseInsensitive(haystack, token: str) -> Column:
    return F.lower(col(haystack)).rlike(
        rf"(^|[^a-z0-9_]){_re_escape(token.lower())}([^a-z0-9_]|$)"
    )


def _re_escape(s: str) -> str:
    import re

    return re.escape(s)


@chfn("multiSearchAny")
def multiSearchAny(haystack, needles: list[str]) -> Column:
    c = col(haystack)
    out = c.contains(needles[0])
    for n in needles[1:]:
        out = out | c.contains(n)
    return out


@chfn("multiSearchAnyCaseInsensitive")
def multiSearchAnyCaseInsensitive(haystack, needles: list[str]) -> Column:
    return multiSearchAny(F.lower(col(haystack)), [n.lower() for n in needles])


@chfn("extract")
def extract(s, pattern: str) -> Column:
    """First match of re group 1 (or whole match if no groups)."""
    import re as _re

    group = 1 if _re.compile(pattern).groups else 0
    return F.regexp_extract(col(s), pattern, group)


@chfn("extractAll")
def extractAll(s, pattern: str) -> Column:
    import re as _re

    group = 1 if _re.compile(pattern).groups else 0
    return F.regexp_extract_all(col(s), F.lit(pattern), F.lit(group))


@chfn("extractGroups")
def extractGroups(s, pattern: str) -> Column:
    import re as _re

    n = _re.compile(pattern).groups
    return F.array(*[F.regexp_extract(col(s), pattern, i + 1) for i in range(n)])


@chfn("countMatches")
def countMatches(s, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col(s), F.lit(pattern), F.lit(0))).cast("long")


# -- replace / split --------------------------------------------------------


@chfn("replaceOne")
def replaceOne(s, needle: str, repl: str) -> Column:
    """First occurrence only: splice at locate()."""
    c = col(s)
    pos = F.locate(needle, c)
    return F.when(pos == 0, c).otherwise(
        F.concat(
            c.substr(F.lit(1), pos - 1),
            F.lit(repl),
            c.substr(pos + len(needle), F.length(c)),
        )
    )


@chfn("replaceAll", "replace", "REPLACE")
def replaceAll(s, needle: Column | str, repl: Column | str) -> Column:
    return F.replace(col(s), lit_or_col(needle), lit_or_col(repl))


@chfn("replaceRegexpOne")
def replaceRegexpOne(s, pattern: str, repl: str) -> Column:
    """ClickHouse repl uses \\1 backrefs; Java uses $1."""
    c = col(s)
    java_repl = _ch_repl_to_java(repl)
    # emulate replace-first: split at first match via regexp_extract of prefix
    return F.when(
        c.rlike(pattern),
        F.concat(
            F.regexp_replace(
                F.regexp_extract(c, f"^((?s:.*?)(?:{pattern}))", 1), pattern, java_repl
            ),
            F.regexp_replace(c, f"^(?s:.*?)(?:{pattern})", "", ),
        ),
    ).otherwise(c)


def _ch_repl_to_java(repl: str) -> str:
    out = []
    i = 0
    while i < len(repl):
        if repl[i] == "\\" and i + 1 < len(repl) and repl[i + 1].isdigit():
            out.append("$" + repl[i + 1])
            i += 2
        elif repl[i] == "$":
            out.append("\\$")
            i += 1
        else:
            out.append(repl[i])
            i += 1
    return "".join(out)


@chfn("replaceRegexpAll", "REGEXP_REPLACE")
def replaceRegexpAll(s, pattern: str, repl: str) -> Column:
    return F.regexp_replace(col(s), pattern, _ch_repl_to_java(repl))


@chfn("translate")
def translate(s, from_chars: str, to_chars: str) -> Column:
    return F.translate(col(s), from_chars, to_chars)


@chfn("splitByChar")
def splitByChar(sep: str, s) -> Column:
    import re as _re

    return F.split(col(s), _re.escape(sep), -1)


@chfn("splitByString")
def splitByString(sep: str, s) -> Column:
    import re as _re

    if sep == "":
        return F.split(col(s), "(?!^)(?=.)", -1)
    return F.split(col(s), _re.escape(sep), -1)


@chfn("splitByRegexp")
def splitByRegexp(pattern: str, s) -> Column:
    if isinstance(pattern, str) and pattern == "":
        # empty pattern = split into characters, no empties
        # (SplitByRegexpImpl: empty regex falls back to per-char)
        return F.filter(F.split(col(s), "", -1), lambda t: t != "")
    return F.split(col(s), pattern, -1)


@chfn("splitByWhitespace")
def splitByWhitespace(s) -> Column:
    # splits ONLY on whitespace; punctuation stays inside tokens
    # (FunctionsStringArray.h SplitByWhitespaceImpl)
    return F.filter(F.split(col(s), r"\s+"), lambda t: t != "")


@chfn("alphaTokens")
def alphaTokens(s) -> Column:
    return F.array_remove(F.split(col(s), r"[^A-Za-z]+", -1), "")


@chfn("arrayStringConcat")
def arrayStringConcat(arr, sep: str = "") -> Column:
    return F.array_join(col(arr), sep)


@chfn("ngrams")
def ngrams(s, n: int) -> Column:
    """Character n-grams as an array (FunctionsStringSimilarity support)."""
    c = col(s)
    # sequence(1, 0) descends [1, 0] in Spark — guard the too-short case
    return F.when(F.length(c) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (n - 1)),
            lambda i: c.substr(i, F.lit(n)),
        )
    )


@chfn("tokens")
def tokens(s) -> Column:
    # token chars are ASCII alphanumerics OR any non-ASCII byte
    # (SplitTokenExtractor::nextInString) — split only on ASCII punct/space
    return F.array_remove(
        F.split(col(s), r"[\x00-\x2F\x3A-\x40\x5B-\x60\x7B-\x7F]+", -1), ""
    )


@chfn("levenshteinDistance", "editDistance")
def levenshteinDistance(a, b) -> Column:
    return F.levenshtein(col(a), col(b)).cast("long")


@chfn("ngramDistance")
def ngramDistance(a, b, n: int = 4) -> Column:
    """Symmetric n-gram set distance in [0,1] (FunctionsStringSimilarity.cpp:541)."""
    ga, gb = F.array_distinct(ngrams(a, n)), F.array_distinct(ngrams(b, n))
    inter = F.size(F.array_intersect(ga, gb))
    total = F.size(ga) + F.size(gb)
    return F.when(total == 0, F.lit(0.0)).otherwise(1.0 - (2.0 * inter) / total)


@chfn("format")
def format_(fmt: str, *args) -> Column:
    """ClickHouse format('{} {}', a, b) — positional substitution; indexed
    refs {0} {1} may repeat and interleave with auto-numbered {}
    (formatString.h)."""
    import re as _re

    toks = _re.split(r"(\{\d*\})", fmt)
    cols: list[Column] = []
    auto = 0
    for t in toks:
        m = _re.fullmatch(r"\{(\d*)\}", t)
        if m:
            idx = int(m.group(1)) if m.group(1) else auto
            if not m.group(1):
                auto += 1
            if idx < len(args):
                cols.append(col(args[idx]).cast("string"))
        elif t:
            cols.append(F.lit(t))
    if not cols:
        return F.lit("")
    return F.concat(*cols)
