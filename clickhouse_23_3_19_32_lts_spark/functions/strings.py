"""String manipulation / search / replace / split families.

Reference: src/Functions/lower.cpp:20, substring.cpp:183, concat.cpp:230,
position.cpp:20, match.cpp:20, replaceRegexpAll.cpp:20,
FunctionsStringArray.cpp:29, FunctionsStringSimilarity.cpp:541, trim.cpp,
padString.cpp, repeat.cpp, reverse.cpp, startsWith.cpp, endsWith.cpp.

ClickHouse strings are byte strings; Spark's STRING is UTF-8 text. The
plain `length`, `position`/`locate` and `positionCaseInsensitive` count
bytes, as ClickHouse's do: `length` is the octet length, and a position is
the byte offset of the character match (`_byte_offset`). Their *UTF8 forms
count characters, which is Spark's own counting. For ASCII the two agree.

One departure: `substring`/`substr`/`mid` and the `start_pos` of the
position family take character offsets where ClickHouse takes bytes. A
Spark STRING cannot hold half a character, so a byte slice through one has
no value here; for ASCII the two agree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col, lit_or_col

__all__ = [
    "empty", "notEmpty", "length", "lengthUTF8", "lower", "upper", "repeat",
    "reverse", "concat", "concatWithSeparator", "substring", "left", "right",
    "startsWith", "endsWith", "trimBoth", "trimLeft", "trimRight",
    "leftPad", "rightPad", "space", "ascii_", "initcap", "soundex",
    "appendTrailingCharIfAbsent", "toValidUTF8", "normalizeQuery",
    "position", "positionCaseInsensitive", "positionUTF8",
    "positionCaseInsensitiveUTF8", "match",
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


@chfn("length", "octet_length", case_insensitive=True)
def length(s) -> Column:
    """Bytes (lengthString): length('Привет') = 12."""
    return F.octet_length(col(s)).cast("long")


@chfn("lengthUTF8")
@chfn("char_length", "character_length", case_insensitive=True)
def lengthUTF8(s) -> Column:
    return F.length(col(s)).cast("long")


@chfn("lower", "lcase", "lowerUTF8")
def lower(s) -> Column:
    return F.lower(col(s))


@chfn("upper", "ucase", "upperUTF8")
def upper(s) -> Column:
    return F.upper(col(s))


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


_INT_MAX = 2**31 - 1


@chfn("substring", "substr", "mid", case_insensitive=True)
def substring(s, start, length_=None) -> Column:
    """Characters from the 1-based start (substring.cpp).

    A negative start counts from the end, a negative length drops that many
    characters from the end, and a start of 0 gives '' (the non-constant
    offset path)."""
    c, off = col(s), lit_or_col(start)
    if length_ is None:
        out = c.substr(off, F.lit(_INT_MAX))
    else:
        n = lit_or_col(length_)
        first = F.when(off < 0, F.length(c) + off + 1).otherwise(off)
        out = c.substr(
            off, F.when(n >= 0, n).otherwise(F.greatest(F.lit(0), F.length(c) - first + 1 + n))
        )
    return F.when(off == 0, F.lit("")).otherwise(out)


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


def _locate(haystack, needle, start_pos, fold: bool) -> Column:
    """The 1-based character position of needle in haystack, searching from
    character start_pos; 0 when absent. fold compares lower-cased."""
    h, n = col(haystack), lit_or_col(needle)
    if fold:
        h, n = F.lower(h), F.lower(n)
    return F.position(n, h, None if start_pos is None else lit_or_col(start_pos))


def _byte_offset(haystack, pos: Column) -> Column:
    """The byte offset of character position pos in haystack: the octet
    length of the prefix before it, plus 1; 0 (absent) stays 0."""
    prefix = col(haystack).substr(F.lit(1), pos - 1)
    return F.when(pos == 0, F.lit(0)).otherwise(F.octet_length(prefix) + 1).cast("long")


@chfn("position", "locate", case_insensitive=True)
def position(haystack, needle, start_pos=None) -> Column:
    """The byte offset of needle, haystack first (FunctionsStringSearch.h:20).

    position('Привет, мир!', '!') = 21."""
    return _byte_offset(haystack, _locate(haystack, needle, start_pos, fold=False))


@chfn("positionCaseInsensitive")
@chfn("instr", case_insensitive=True)
def positionCaseInsensitive(haystack, needle, start_pos=None) -> Column:
    return _byte_offset(haystack, _locate(haystack, needle, start_pos, fold=True))


@chfn("positionUTF8")
def positionUTF8(haystack, needle, start_pos=None) -> Column:
    return _locate(haystack, needle, start_pos, fold=False).cast("long")


@chfn("positionCaseInsensitiveUTF8")
def positionCaseInsensitiveUTF8(haystack, needle, start_pos=None) -> Column:
    return _locate(haystack, needle, start_pos, fold=True).cast("long")


@chfn("match", "REGEXP_MATCHES")
def match(s, pattern: Column | str) -> Column:
    return F.rlike(col(s), lit_or_col(pattern))


@chfn("like", case_insensitive=True)
def like(s, pattern: Column | str) -> Column:
    return F.like(col(s), lit_or_col(pattern))


@chfn("notLike", "NOT LIKE")
def notLike(s, pattern: Column | str) -> Column:
    return ~like(s, pattern)


@chfn("ilike", case_insensitive=True)
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


def needle_array(needles) -> Column:
    """An array column, or a literal list of needles or patterns."""
    if isinstance(needles, (list, tuple)):
        return F.array(*[F.lit(n) for n in needles])
    return col(needles)


@chfn("multiSearchAny")
def multiSearchAny(haystack, needles) -> Column:
    h = col(haystack)
    return F.exists(needle_array(needles), lambda n: F.position(n, h) > 0)


@chfn("multiSearchAnyCaseInsensitive")
def multiSearchAnyCaseInsensitive(haystack, needles) -> Column:
    h = F.lower(col(haystack))
    return F.exists(needle_array(needles), lambda n: F.position(F.lower(n), h) > 0)


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
def replaceOne(s, needle: Column | str, repl: Column | str) -> Column:
    """The first occurrence only (ReplaceStringImpl replace_one).

    An empty needle leaves the haystack as it is."""
    c, n = col(s), lit_or_col(needle)
    pos = F.position(n, c)
    return F.when((F.length(n) == 0) | (pos == 0), c).otherwise(
        F.concat(
            c.substr(F.lit(1), pos - 1),
            lit_or_col(repl),
            c.substr(pos + F.length(n), F.lit(_INT_MAX)),
        )
    )


@chfn("replaceAll")
@chfn("replace", case_insensitive=True)
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


def _literal_split(s, sep) -> Column:
    """s split at the literal text sep (Spark's split takes a regex)."""
    return F.split(col(s), F.concat(F.lit("\\Q"), lit_or_col(sep), F.lit("\\E")), -1)


def _first(parts: Column, max_substrings) -> Column:
    """The first max_substrings parts when that is positive, else all.
    ClickHouse after 23.3 has a setting,
    splitby_max_substrings_includes_remaining_string, whose default 0 drops
    the rest of the string; 23.3 is taken to do the same."""
    if max_substrings is None:
        return parts
    m = lit_or_col(max_substrings).cast("int")
    return F.slice(parts, 1, F.when(m > 0, m).otherwise(F.lit(_INT_MAX)))


def _chars(s) -> Column:
    """The characters of s; none for ''."""
    return F.filter(F.split(col(s), "", -1), lambda t: t != "")


@chfn("splitByChar")
def splitByChar(sep, s, max_substrings=None) -> Column:
    return _first(_literal_split(s, sep), max_substrings)


@chfn("splitByString")
def splitByString(sep, s, max_substrings=None) -> Column:
    """An empty separator splits into characters (SplitByStringImpl).

    splitByString('', '') is [] (FunctionsStringArray.h)."""
    parts = F.when(lit_or_col(sep) == "", _chars(s)).otherwise(_literal_split(s, sep))
    return _first(parts, max_substrings)


@chfn("splitByRegexp")
def splitByRegexp(pattern: str, s) -> Column:
    if isinstance(pattern, str) and pattern == "":
        # empty pattern = split into characters, no empties
        # (SplitByRegexpImpl: empty regex falls back to per-char)
        return _chars(s)
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
