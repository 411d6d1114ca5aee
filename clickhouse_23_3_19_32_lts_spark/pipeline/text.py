"""Text analysis for corpus pipelines: language-ID, quality scoring, token
counting, document fingerprinting.

Reference: detectLanguage/detectCharset (src/Functions/
FunctionsLanguageClassification.cpp, FunctionsTextClassification.h), tokens/
stem (src/Functions/FunctionsStringArray.cpp). The reference backs these
with compiled models; here they are deterministic heuristics expressed as
column expressions so they run JVM-side (their higher-order functions
interpreted, not compiled) AND are reproducible by the SQL oracle — the
shape a 100 TB filter pass wants (a model-based scorer slots in later as a
pandas_udf with the same signature).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.pipeline.dedup import _q
from clickhouse_23_3_19_32_lts_spark.pipeline.hashing import spark_sql_hash28

# Tiny per-language marker lexicons (language-ID heuristic). Deterministic
# and oracle-reproducible; precision is what the test corpus supports.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es": ("el", "la", "los", "las", "es", "y", "en", "por"),
    "fr": ("le", "la", "les", "est", "et", "dans", "pour", "une"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}

STOPWORDS = LANG_MARKERS["en"]

_FP_MOD = (1 << 31) - 1  # Mersenne prime 2^31-1: keeps the rolling hash
# in 31 bits so acc*31+h never overflows BIGINT in either engine.


# Build-cost note: every F.* call and every HOF lambda is a py4j round
# trip, and every DataFrame step one more analysis; the combinator form of
# this battery cost ~0.3 s of build time per q_text_metrics build
# (more than its sf0.1 execution). Each metric is therefore defined ONCE, as
# a Spark SQL fragment over the SQL of a text expression (`*_sql(t)`):
# q_text_metrics splices the fragments into its one SQL statement, and the
# public functions below apply them to a column NAME through one F.expr
# parse. Only language_id keeps a Column path, for detectLanguage, which
# receives Columns from the dialect. The SQL fragments are oracle-proven
# by q_text_metrics' hash check; tests/test_pipeline.py checks that both
# language_id paths agree.


def token_count_sql(t: str) -> str:
    """Whitespace token count."""
    return f"size(split({t}, '\\\\s+'))"


def bpe_ish_token_count_sql(t: str) -> str:
    """Token count under the BPE-ish regex: letter runs | digit runs |
    single non-space symbol."""
    return f"size(regexp_extract_all({t}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0))"


def punct_ratio_sql(t: str) -> str:
    """Fraction of non-alphanumeric, non-space characters."""
    return (
        f"cast(length(regexp_replace({t}, '[A-Za-z0-9\\\\s]', '')) as double)"
        f" / greatest(length({t}), 1)"
    )


def _in_list(words: tuple[str, ...]) -> str:
    return ", ".join("'" + w.replace("'", "''") + "'" for w in words)


def _lower_words_sql(t: str) -> str:
    return f"split(lower({t}), '\\\\s+')"


def _hits_sql(words: str, markers: tuple[str, ...]) -> str:
    return f"size(filter({words}, x -> x in ({_in_list(markers)})))"


def stopword_ratio_sql(t: str, stopwords: tuple[str, ...] = STOPWORDS) -> str:
    """Fraction of whitespace tokens that are (lowercase) stopwords."""
    w = _lower_words_sql(t)
    return f"cast({_hits_sql(w, stopwords)} as double) / greatest(size({w}), 1)"


def mean_word_len_sql(t: str) -> str:
    w = f"split({t}, '\\\\s+')"
    return (
        f"cast(aggregate({w}, 0, (acc, x) -> acc + length(x)) as double)"
        f" / greatest(size({w}), 1)"
    )


def quality_score_sql(t: str) -> str:
    """Heuristic quality in [0,1]: length band + word-length band + low
    punctuation + some stopword signal. The standard pre-filter shape for
    corpus curation (cf. C4/Gopher rules) as one expression."""
    n_tok = token_count_sql(t)
    mwl = mean_word_len_sql(t)
    return (
        f"cast(({n_tok} >= 10 and {n_tok} <= 10000) as double) * 0.4d"
        f" + cast((({mwl}) >= 2.0d and ({mwl}) <= 12.0d) as double) * 0.3d"
        f" + cast(({punct_ratio_sql(t)}) <= 0.2d as double) * 0.2d"
        f" + cast(({stopword_ratio_sql(t)}) >= 0.01d as double) * 0.1d"
    )


# Language-ID picks the winner from one array of (hits, order, language)
# structs: array_max compares hits first, then order, where order falls
# with the language code so ties go to the first code, and 'und' carries
# (0, 1, 'und') so it wins when no language has a hit. Each language's
# hits appear once, so the expression grows linearly with the languages.
_LANGS = sorted(LANG_MARKERS)


def language_id_sql(t: str) -> str:
    w = _lower_words_sql(t)
    entries = ["named_struct('n', 0, 'o', 1, 'lang', 'und')"] + [
        f"named_struct('n', {_hits_sql(w, LANG_MARKERS[lang])}, 'o', {-i}, 'lang', '{lang}')"
        for i, lang in enumerate(_LANGS)
    ]
    return f"array_max(array({', '.join(entries)})).lang"


def doc_fingerprint_sql(t: str) -> str:
    """Order-sensitive 31-bit rolling-hash fingerprint over tokens:
    fp = fold(tokens, 0, (acc, w) -> (acc*31 + h(w)) mod (2^31-1)).

    Robust content identity for shift-detection / fast exact-dup checks;
    same value computable in the DuckDB oracle.
    """
    return (
        f"aggregate(split({t}, '\\\\s+'), cast(0 as bigint),"
        f" (acc, x) -> (acc * 31 + {spark_sql_hash28('x')}) % {_FP_MOD})"
    )


def token_count(text: str) -> Column:
    return F.expr(token_count_sql(_q(text)))


def bpe_ish_token_count(text: str) -> Column:
    return F.expr(bpe_ish_token_count_sql(_q(text)))


def quality_score(text: str) -> Column:
    return F.expr(quality_score_sql(_q(text)))


def doc_fingerprint(text: str) -> Column:
    return F.expr(doc_fingerprint_sql(_q(text)))


def language_id(text: Column | str) -> Column:
    """Best-scoring language by marker-lexicon hit count; 'und' if no hits.

    Ties break by language-code order (deterministic, oracle-matching).
    """
    if isinstance(text, str):
        return F.expr(language_id_sql(_q(text)))
    w = F.split(F.lower(text), "\\s+")

    def hits(markers: tuple[str, ...]) -> Column:
        # single-arg closure: a 2-param lambda would be parsed as (elem, idx)
        return F.size(F.filter(w, lambda x: x.isin(*markers)))

    entries = [F.struct(F.lit(0).alias("n"), F.lit(1).alias("o"), F.lit("und").alias("lang"))]
    for i, lang in enumerate(_LANGS):
        entries.append(
            F.struct(hits(LANG_MARKERS[lang]).alias("n"), F.lit(-i).alias("o"), F.lit(lang).alias("lang"))
        )
    return F.array_max(F.array(*entries)).getField("lang")
