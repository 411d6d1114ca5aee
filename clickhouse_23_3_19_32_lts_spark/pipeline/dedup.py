"""Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Reference: ngramMinHash*/wordShingleMinHash*/ngramSimHash*/wordShingleSimHash*
(src/Functions/FunctionsStringHash.cpp:766-793) compute the sketches; the
reference leaves candidate generation to the user. Here the full pipeline is
provided: sketch (map-only, interpreted HOFs — no Python, no shuffle) →
candidate blocking (one shuffle on band/block key) → verify (pair join).

Scale design:
  - Sketches are per-row expressions: at 100 TB this is a map stage fused
    into the scan by whole-stage codegen.
  - LSH banding shuffles (doc_id, band_key) pairs — ~n_bands rows per doc,
    NOT the text — then self-joins within buckets. Bucket skew (a band key
    shared by k docs) costs k² pairs; the `max_bucket` guard drops
    degenerate buckets exactly like production LSH dedup pipelines.
  - SimHash blocking uses the pigeonhole principle: hamming(a,b) <= d and
    nblocks > d ⇒ some block equal — candidates come from nblocks equality
    joins (shuffle on 15-bit block key), never a cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.pipeline.hashing import spark_sql_hash28, spark_sql_hash64
from clickhouse_23_3_19_32_lts_spark.pipeline.spread import spread_sql


def _q(name: str) -> str:
    return f"`{name}`"


def _bind(stmt: str, **frames: DataFrame) -> DataFrame:
    """`stmt` with each `{name}` bound to `frames[name]` (`queries._sql`).
    Each operator's `*_sql` renders it as one statement over the SQL of its
    inputs, which a registered query splices into its own statement; the
    DataFrame form binds that statement to its input DataFrames."""
    from clickhouse_23_3_19_32_lts_spark.queries import _sql

    return _sql(next(iter(frames.values())).sparkSession, None, stmt, **frames)


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup on `cols`: one canonical row per distinct value tuple
    (minimum id — deterministic), `dup_count` = group size.

    Hash-groupBy on the dedup key: single shuffle; the md5 digest (not the
    full text) is the shuffle key, so wide text columns don't inflate the
    exchange — we group by the digest and keep min(id) + count only.
    """
    return _bind(exact_dedup_sql("{df}", cols, id_col), df=df)


def exact_dedup_sql(df: str, cols: list[str], id_col: str) -> str:
    """exact_dedup over the relation SQL `df`."""
    key = ", ".join(_q(c) for c in cols)
    return f"""SELECT min({_q(id_col)}) AS canonical_id, count(1) AS dup_count
        FROM (SELECT {_q(id_col)}, md5(concat_ws('\\u0000', {key})) AS __digest FROM {df})
        GROUP BY __digest"""


# ---------------------------------------------------------------------------
# shingling + minhash
# ---------------------------------------------------------------------------


def _shingles_sql(t: str, k: int, distinct: bool = True) -> str:
    w = f"split({t}, ' ')"
    sh = (
        f"transform(sequence(1, greatest(size({w}) - {k - 1}, 1)),"
        f" i -> concat_ws(' ', slice({w}, i, {k})))"
    )
    return f"array_distinct({sh})" if distinct else sh


def word_shingles(text: str, k: int = 3, distinct: bool = True) -> Column:
    """k-word shingles of the space-tokenized text column `text`.

    Short docs (< k words) produce one shingle = the whole doc, matching
    the oracle's concat_ws-with-null-skip behavior.
    """
    return F.expr(_shingles_sql(_q(text), k, distinct))


# Universal-hash family over a 28-bit base hash: h_i(x) = (a_i·h0(x) + b_i)
# mod P.  ONE md5 per shingle; the 16 permutations are integer mixes —
# products stay < 2^59, no BIGINT overflow in either engine.
MINHASH_P = (1 << 31) - 1
_MIX = [((2 * i + 1) * 2654435761 % MINHASH_P, (i * 40503 + 12345) % MINHASH_P) for i in range(64)]


def shingle_base_hash(s: Column) -> Column:
    """28-bit portable base hash of one shingle (first 7 md5 hex chars)."""
    return F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long")


def minhash_signature(shingles: Column, n_hashes: int = 16) -> Column:
    """MinHash signature: array of n_hashes mins over the universal-hash
    family. Pure expression — no UDF, no shuffle. (For corpus-
    scale runs minhash_lsh_pairs uses the explode+agg form instead: same
    math, vectorized partial aggregation.)
    """
    base = F.transform(shingles, shingle_base_hash)
    mins = [
        F.array_min(
            F.transform(base, (lambda a, b: lambda h: (h * a + b) % MINHASH_P)(a, b))
        )
        for a, b in _MIX[:n_hashes]
    ]
    return F.array(*mins)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs: (id_a, id_b, est_jaccard).

    shingle → signature (map-only) → band keys → bucket self-join →
    positionwise signature agreement >= threshold. Pairs surface once
    (min band index) so downstream dedup sees no duplicates.
    """
    # small-input / expensive-map: parallelize the shingle+md5 explode
    # across all task slots (no-op at scale — see pipeline/spread.py)
    return _bind(
        minhash_lsh_pairs_sql(
            spread_sql(df, id_col, "{docs}"), id_col, text_col, k, n_hashes, bands,
            threshold, max_bucket,
        ),
        docs=df,
    )


def minhash_lsh_pairs_sql(
    docs: str,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> str:
    """minhash_lsh_pairs over the relation SQL `docs`."""
    if n_hashes % bands:
        raise ValueError("bands must divide n_hashes")
    rows = n_hashes // bands
    # hashed: explode + partial-agg signature — ONE md5 per (doc, shingle)
    # row, the 16 permuted mins fold map-side, so the shuffle carries
    # |docs|×n_hashes longs, never the shingles. (The expression-form
    # minhash_signature() computes identical values; this form guarantees
    # the single hash pass.)
    #
    # banded: degenerate-bucket guard — skip band keys shared by >
    # max_bucket docs. A window count over (band, key) instead of groupBy +
    # join-back: the join form re-planned the whole signature subtree (scan
    # + md5 pass) once per side PLUS once per bucket-count build — 4 full
    # MinHash passes over the corpus in the join-back plan. The window (a)
    # needs no second copy of the subtree, and (b) leaves the rows
    # hash-partitioned and sorted on exactly the self-join key, so the pair
    # join plans one Exchange whose other side is a ReusedExchange: ONE md5
    # pass total.
    #
    # The estimate is taken per matched bucket row, BEFORE the pair dedup:
    # a pair's signatures are identical in every band it collides in, so
    # first() over the per-row estimate equals carrying the arrays and
    # estimating after — but the (id_a, id_b) exchange moves one double
    # instead of two 16-long arrays, and a double agg buffer keeps the
    # dedup in a HashAggregate (an array-typed first() plans a
    # SortAggregate).
    mins = ", ".join(f"min((__h * {a} + {b}) % {MINHASH_P})" for a, b in _MIX[:n_hashes])
    return f"""WITH hashed AS (
          SELECT __id, {spark_sql_hash28('__s')} AS __h
          FROM (SELECT {_q(id_col)} AS __id, explode({_shingles_sql(_q(text_col), k)}) AS __s
                FROM {docs})),
        banded AS (
          SELECT __id, __sig, __band, __key FROM (
            SELECT *, count(1) OVER (PARTITION BY __band, __key) AS __bn FROM (
              SELECT __id, __sig,
                     posexplode(transform(sequence(0, {bands - 1}),
                       b -> concat_ws(',', transform(slice(__sig, b * {rows} + 1, {rows}),
                         v -> cast(v as string))))) AS (__band, __key)
              FROM (SELECT __id, array({mins}) AS __sig FROM hashed GROUP BY __id)))
          WHERE __bn <= {max_bucket})
        SELECT id_a, id_b, est_jaccard FROM (
          SELECT id_a, id_b, first(est_jaccard) AS est_jaccard FROM (
            SELECT a.__id AS id_a, b.__id AS id_b,
                   cast(aggregate(zip_with(a.__sig, b.__sig, (x, y) -> cast((x = y) as int)),
                     0, (acc, v) -> acc + v) as double) / {n_hashes} AS est_jaccard
            FROM banded a JOIN banded b
              ON a.__band = b.__band AND a.__key = b.__key AND a.__id < b.__id)
          GROUP BY id_a, id_b)
        WHERE est_jaccard >= {float(threshold)}D"""


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

# 2^j as a literal lookup array: shiftleft() needs a compile-time shift
# amount, but j is a lambda variable — element_at on a const array keeps
# the whole expression in codegen.
_POWERS = "array(" + ", ".join(f"{1 << j}L" for j in range(60)) + ")"


def _token_hashes_sql(t: str) -> str:
    """Portable 60-bit hash per whitespace token (one md5 per token)."""
    return f"transform(split({t}, ' '), w -> {spark_sql_hash64('w')})"


def _simhash60_sql(hashes: str) -> str:
    """60-bit SimHash fold over the token-hash array `hashes`.

    bit_j(simhash) = majority of bit_j over token hashes. The fold walks
    the array 60 times (once per bit), so in a pipeline `hashes` MUST be a
    materialized attribute, not an inlined expression — higher-order
    functions are interpreted (CodegenFallback), and an inlined
    md5-transform would be re-evaluated on every one of the 60 walks
    (measured ~20 s vs ~2 s on 5k docs at sf0.1). Null input folds to 0
    (CASE WHEN null>0 falls to the 0 branch on every bit).
    """
    return (
        f"aggregate(sequence(0, 59), cast(0 as bigint), (acc, j) -> acc + CASE"
        f" WHEN aggregate({hashes}, 0, (a, h) -> a + CASE WHEN"
        f" (h & element_at({_POWERS}, j + 1)) != 0 THEN 1 ELSE -1 END) > 0"
        f" THEN element_at({_POWERS}, j + 1) ELSE cast(0 as bigint) END)"
    )


def simhash60(text: str) -> Column:
    """60-bit SimHash over the whitespace tokens of column `text`
    (wordShingleSimHash analogue).

    Single-Column convenience form: the token-hash transform is inlined,
    so the 60-walk fold re-hashes every token per bit — fine for tests
    and ad-hoc use. The pipeline path (simhash_pairs) materializes the
    hash array in its own projection instead and pays one md5 per token.
    60 bits (not 64) because the portable hash is 60-bit; avoids
    signed-overflow on bit 63 in both engines.
    """
    return F.expr(_simhash60_sql(_token_hashes_sql(_q(text))))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    n_blocks: int = 10,
) -> DataFrame:
    """SimHash near-duplicate pairs: (id_a, id_b, hamming).

    Pigeonhole blocking: split the 60-bit hash into n_blocks equal-width
    blocks; if hamming <= max_hamming < n_blocks then at least one block
    matches exactly, so candidates = union of n_blocks equality self-joins
    (one shuffle), never a cross join. Exact for max_hamming < n_blocks;
    callers wanting larger radii raise n_blocks.
    """
    return _bind(
        simhash_pairs_sql(spread_sql(df, id_col, "{docs}"), id_col, text_col, max_hamming, n_blocks),
        docs=df,
    )


def simhash_pairs_sql(
    docs: str, id_col: str, text_col: str, max_hamming: int = 6, n_blocks: int = 10
) -> str:
    """simhash_pairs over the relation SQL `docs`."""
    if max_hamming >= n_blocks:
        raise ValueError("exactness requires max_hamming < n_blocks")
    width = 60 // n_blocks
    # Two-projection sketch: materialize the per-token hash array FIRST
    # (__hs), then fold it into the 60-bit simhash (__sh). The fold walks the
    # array 60 times; with the md5 transform inlined (the simhash60(text)
    # form) every walk re-hashes every token — 60x the md5 work, measured
    # ~20 s vs ~2 s at sf0.1. Three deliberate properties of __sh:
    #  - the IS NULL branch is a SECOND reference to __hs, which stops
    #    CollapseProject from re-inlining the transform into the fold (an
    #    alias referenced more than once is never inlined);
    #  - the CASE/coalesce make __sh NON-NULLABLE, so the hamming join
    #    condition cannot spawn an inferred isnotnull(__sh) constraint —
    #    profiling caught such a constraint being pushed to the
    #    scan with the whole fold (and its 60x md5) substituted back in,
    #    a 20x slowdown hidden below an innocent-looking Filter;
    #  - null text still folds to 0, matching the inlined form.
    # No barrier/shuffle involved, so all three hold at cluster scale
    # where spread() is a no-op.
    #
    # hamming is a function of the PAIR (same value in every colliding
    # block), so the radius filter commutes with the pair dedup — it is
    # applied BEFORE the DISTINCT (guide §2.3 filter-before-the-exchange):
    # the dedup exchange then carries only within-radius pairs instead of
    # every block collision (measured 19.5s -> ~2s at sf0.1, where the 12
    # block joins emit ~5M collision rows but few survive hamming<=10).
    blocks = ", ".join(
        f"shiftrightunsigned(__sh, {b * width}) & {(1 << width) - 1}L" for b in range(n_blocks)
    )
    return f"""WITH blocked AS (
          SELECT __id, __sh, posexplode(array({blocks})) AS (__blk, __key) FROM (
            SELECT __id, CASE WHEN __hs IS NULL THEN 0L
                              ELSE coalesce({_simhash60_sql('__hs')}, 0L) END AS __sh
            FROM (SELECT {_q(id_col)} AS __id, {_token_hashes_sql(_q(text_col))} AS __hs
                  FROM {docs})))
        SELECT DISTINCT * FROM (
          SELECT a.__id AS id_a, b.__id AS id_b, bit_count(a.__sh ^ b.__sh) AS hamming
          FROM blocked a JOIN blocked b
            ON a.__blk = b.__blk AND a.__key = b.__key AND a.__id < b.__id)
        WHERE hamming <= {max_hamming}"""


# ---------------------------------------------------------------------------
# n-gram Jaccard (inverted-index join)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    threshold: float = 0.4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Exact word-k-gram Jaccard pairs >= threshold: (id_a, id_b, jaccard).

    Candidate/verify plan: the inverted index (explode distinct shingles →
    self-join keyed on shingle) only GENERATES candidate pairs, and drops
    shingles shared by > max_bucket docs first — one boilerplate shingle
    (license header, nav text) shared by k docs would otherwise emit k²
    join rows. Verification then recomputes the EXACT Jaccard over the full
    shingle sets of candidates only, so the guard affects which pairs are
    considered (those sharing ≥1 non-hot shingle — for near-dup thresholds
    a pair sharing ONLY ubiquitous shingles is far below threshold anyway)
    but never the reported similarity values.
    """
    return _bind(
        ngram_jaccard_pairs_sql(
            spread_sql(df, id_col, "{docs}"), id_col, text_col, k, threshold, max_bucket
        ),
        docs=df,
    )


def ngram_jaccard_pairs_sql(
    docs: str,
    id_col: str,
    text_col: str,
    k: int = 2,
    threshold: float = 0.4,
    max_bucket: int = 1000,
) -> str:
    """ngram_jaccard_pairs over the relation SQL `docs`."""
    # shf: hot-shingle guard as a window count over __sh rather than
    # groupBy + join-back: one copy of the exploded-shingle subtree instead
    # of two, and the rows come out hash-partitioned on __sh — exactly the
    # inverted-index self-join key, so the candidate join reuses the same
    # exchange for both sides (the join-back plan re-ran the scan+explode per use).
    #
    # pairs: candidate pairs WITH their common-shingle count in one
    # aggregation. Per-doc shingles are distinct, so the index self-join
    # emits exactly one row per (pair, common non-hot shingle) and count(1)
    # IS |A ∩ B ∩ non-hot|. The earlier `distinct` + re-join both docs'
    # full shingle arrays + array_intersect paid ~110 string hashes per
    # surviving pair (36.5M join rows → 12.5M pairs × 54-element arrays at
    # sf0.1); the GROUP BY rides the identical exchange the distinct used
    # and replaces the array verify with integer math. The DISTRIBUTE BY
    # before it looks redundant but is a measured 1.7x on the whole query
    # (9.7s -> 5.7s at sf0.1): a pair's collision rows live in different
    # __sh partitions, so map-side partial aggregation achieves ~zero
    # reduction while paying a multi-million-entry hash build per task.
    # Pre-shuffling the raw (id_a, id_b) rows moves the same bytes but lets
    # both aggregate phases run fused after the exchange. The same scatter
    # argument holds at corpus scale.
    #
    # meta: exactness correction for the shingles the index guard dropped:
    # |A ∩ B| = |A ∩ B ∩ non-hot| + |A_hot ∩ B_hot|, where the per-doc hot
    # sets hold only shingles shared by > max_bucket docs — a set bounded
    # by (total shingle rows / max_bucket), i.e. tiny (empty at the test
    # SFs) — so the intersect is over near-empty arrays, never the full
    # shingle sets. Doc sizes |A|, |B| ride along on the same per-doc row,
    # counted from the exploded rows already in hand (the shingles are
    # distinct per doc), so the documents are scanned and shingled once.
    # The meta joins are keyed on the doc id and left to the planner
    # (broadcast locally; plain shuffle joins at corpus scale).
    c = "cast(p.__c + size(array_intersect(ma.__hot, mb.__hot)) as double)"
    return f"""WITH shf AS (
          SELECT __id, __sh, count(1) OVER (PARTITION BY __sh) AS __f
          FROM (SELECT {_q(id_col)} AS __id, explode({_shingles_sql(_q(text_col), k)}) AS __sh
                FROM {docs})),
        idx AS (SELECT __id, __sh FROM shf WHERE __f <= {max_bucket}),
        pairs AS (
          SELECT id_a, id_b, count(1) AS __c FROM (
            SELECT ia.__id AS id_a, ib.__id AS id_b
            FROM idx ia JOIN idx ib ON ia.__sh = ib.__sh AND ia.__id < ib.__id
            DISTRIBUTE BY id_a, id_b)
          GROUP BY id_a, id_b),
        meta AS (
          SELECT __id, count(1) AS __n,
                 collect_set(CASE WHEN __f > {max_bucket} THEN __sh END) AS __hot
          FROM shf GROUP BY __id)
        SELECT * FROM (
          SELECT p.id_a, p.id_b, {c} / (ma.__n + mb.__n - {c}) AS jaccard
          FROM pairs p JOIN meta ma ON p.id_a = ma.__id JOIN meta mb ON p.id_b = mb.__id)
        WHERE jaccard >= {float(threshold)}D"""
