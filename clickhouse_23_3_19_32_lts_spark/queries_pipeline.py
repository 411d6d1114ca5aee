"""Training-data pipeline queries: dedup / similarity / text analysis over
the `documents` and `embeddings` fixtures, each proven against a DuckDB
oracle that recomputes the same algorithm (bit-identical portable hashes).

The approximate/engine-specific ones (IVF ANN) register rows-only; their
quality bound (recall vs brute force) is asserted in tests/test_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.pipeline import dedup as D
from clickhouse_23_3_19_32_lts_spark.pipeline import similarity as S
from clickhouse_23_3_19_32_lts_spark.pipeline import text as T
from clickhouse_23_3_19_32_lts_spark.pipeline.hashing import sql_hash64
from clickhouse_23_3_19_32_lts_spark.pipeline.spread import spread_sql
from clickhouse_23_3_19_32_lts_spark.queries import _sql, _t, query

# DuckDB fragments mirroring pipeline.hashing / pipeline.dedup primitives.
_SHINGLES3 = (
    "list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 1)),"
    " i -> concat_ws(' ', w[i], w[i+1], w[i+2])))"
)
_SHINGLES2 = (
    "list_distinct(list_transform(generate_series(1, greatest(len(w)-1, 1)),"
    " i -> concat_ws(' ', w[i], w[i+1])))"
)


# Each pipeline query is ONE statement: the operator's statement
# (pipeline/*_sql) over the tables it reads, sorted, so that its build is
# one parse and one analysis.
def _sorted(body: str, by: str) -> str:
    return f"SELECT * FROM ({body}) ORDER BY {by}"


@query(
    "q_dedup_exact",
    oracle="""
    SELECT min(event_id) AS canonical_id, count(*) AS dup_count
    FROM events
    GROUP BY user_id, event_type
    ORDER BY canonical_id
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy): canonical row + multiplicity per key.

    Groups by md5 digest of the key tuple — the shuffle key is 16 bytes
    regardless of how wide the dedup columns are.
    """
    return _sql(spark, sf_dir, _sorted(
        D.exact_dedup_sql("{events}", ["user_id", "event_type"], "event_id"), "canonical_id"
    ))


def _minhash_sig_sql() -> str:
    mins = ", ".join(
        f"min((h0 * {a} + {b}) % {D.MINHASH_P})" for a, b in D._MIX[:16]
    )
    return f"[{mins}]"


@query(
    "q_dedup_minhash_lsh",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (SELECT doc_id, unnest({SH3}) AS s FROM words),
    h AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 7)) AS BIGINT) AS h0 FROM sh),
    sig AS (SELECT doc_id, {SIG} AS sig FROM h GROUP BY doc_id),
    banded AS (SELECT doc_id, sig, b AS band,
                      array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), ',') AS key
               FROM sig, unnest([0, 1, 2, 3]) AS t(b)),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     any_value(a.sig) AS sa, any_value(b.sig) AS sb
              FROM banded a
              JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b, est_jaccard FROM (
      SELECT id_a, id_b,
             CAST(list_sum(list_transform(generate_series(1, 16),
               i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16 AS est_jaccard
      FROM pairs)
    WHERE est_jaccard >= 0.5
    ORDER BY id_a, id_b
    """.replace("{SH3}", _SHINGLES3).replace("{SIG}", _minhash_sig_sql()),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) near-dup pairs (FunctionsStringHash.cpp:766).

    Sketches are map-only codegen; the only shuffles are the band-bucket
    join and the pair groupBy — the 100 TB-safe LSH shape.
    """
    docs = _t(spark, sf_dir, "documents")
    return _sql(spark, sf_dir, _sorted(
        D.minhash_lsh_pairs_sql(
            spread_sql(docs, "doc_id", "{documents}"), "doc_id", "text",
            k=3, n_hashes=16, bands=4, threshold=0.5,
        ),
        "id_a, id_b",
    ), documents=docs)


@query(
    "q_dedup_simhash",
    oracle="""
    WITH h AS (SELECT doc_id,
                      list_transform(string_split(text, ' '), w -> {HW}) AS hs
               FROM documents),
    sh AS (SELECT doc_id,
                  CAST(list_sum(list_transform(generate_series(0, 59), j ->
                    CASE WHEN CAST(list_sum(list_transform(hs, x ->
                           CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0
                         THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS sh
           FROM h)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 10
    ORDER BY id_a, id_b
    """.replace("{HW}", sql_hash64("w")),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (ngramSimHash analogue) with pigeonhole
    blocking: 12 blocks of 5 bits ⇒ hamming<=10 pairs are found exactly
    via 12 equality joins — the oracle brute-forces and must agree."""
    docs = _t(spark, sf_dir, "documents")
    return _sql(spark, sf_dir, _sorted(
        D.simhash_pairs_sql(
            spread_sql(docs, "doc_id", "{documents}"), "doc_id", "text",
            max_hamming=10, n_blocks=12,
        ),
        "id_a, id_b",
    ), documents=docs)


@query(
    "q_ngram_jaccard",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    s AS (SELECT doc_id, unnest({SH2}) AS sh FROM words),
    sizes AS (SELECT doc_id, count(*) AS n FROM s GROUP BY 1),
    idx AS (SELECT * FROM s WHERE sh IN (SELECT sh FROM s GROUP BY sh
                                         HAVING count(*) <= 1000)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id),
    common AS (SELECT id_a, id_b, count(*) AS c
               FROM cand JOIN s a ON a.doc_id = id_a
                         JOIN s b ON b.doc_id = id_b AND a.sh = b.sh
               GROUP BY 1, 2)
    SELECT id_a, id_b, jaccard FROM (
      SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
      FROM common JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
    WHERE jaccard >= 0.4
    ORDER BY id_a, id_b
    """.replace("{SH2}", _SHINGLES2),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-gram Jaccard similarity join (guarded candidate/verify
    inverted-index plan — hot shingles capped at max_bucket=1000)."""
    docs = _t(spark, sf_dir, "documents")
    return _sql(spark, sf_dir, _sorted(
        D.ngram_jaccard_pairs_sql(
            spread_sql(docs, "doc_id", "{documents}"), "doc_id", "text", k=2, threshold=0.4
        ),
        "id_a, id_b",
    ), documents=docs)


@query(
    "q_embedding_near_dup",
    oracle="""
    WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings
               WHERE vec_id % 50 = 0),
    a AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    d AS (SELECT a.vec_id, cid, list_distance(v, cv) AS dist FROM a, c),
    r AS (SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM d),
    blk AS (SELECT vec_id, cid FROM r WHERE rn <= 2),
    cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
             FROM blk x JOIN blk y ON x.cid = y.cid AND x.vec_id < y.vec_id)
    SELECT id_a, id_b,
           CAST(list_cosine_similarity(a1.v, a2.v) AS DOUBLE) AS cos_sim
    FROM cand JOIN a a1 ON cand.id_a = a1.vec_id JOIN a a2 ON cand.id_b = a2.vec_id
    WHERE list_cosine_similarity(a1.v, a2.v) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, IVF-blocked (the 100 TB path): candidates from a
    keyed equi-join on each vector's 2 nearest deterministic centroids
    (every 50th vector), then exact cosine on candidates only. The oracle
    recomputes the identical blocking, so the check is exact; recall vs the
    all-pairs scan is measured in tests/test_pipeline.py (71% on fixtures —
    the exact tier is q_embedding_near_dup_exact)."""
    emb = _t(spark, sf_dir, "embeddings")
    vectors = spread_sql(emb, "vec_id", "{embeddings}")
    return _sql(spark, sf_dir, f"""WITH cents AS (
          SELECT vec_id AS centroid_id, embedding AS centroid_vec FROM {{embeddings}}
          WHERE vec_id % 50 = 0),
        blocks AS ({S.nearest_centroid_blocks_sql(vectors, "cents", nprobe=2)})
        {_sorted(S.embedding_near_dup_pairs_sql(vectors, 0.4, blocks="blocks"), "id_a, id_b")}""",
        embeddings=emb)


@query(
    "q_embedding_near_dup_exact",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS DOUBLE) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def q_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, exact all-pairs tier (ground truth for the
    blocked variant; O(n²) — small corpora / per-bucket verification only)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs(emb, threshold=0.4).orderBy("id_a", "id_b")


@query(
    "q_ann_topk",
    oracle="""
    WITH probes AS (SELECT vec_id AS probe_id, embedding::DOUBLE[] AS p
                    FROM embeddings WHERE vec_id < 5),
    scored AS (SELECT probe_id, vec_id,
                      CAST(list_cosine_similarity(e.embedding::DOUBLE[], p) AS DOUBLE) AS score
               FROM embeddings e, probes),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, vec_id) AS rank
               FROM scored)
    SELECT probe_id, vec_id, score, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
    ORDER BY probe_id, rank
    """,
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the ANN baseline; MergeTreeIndexAnnoy.h:21).

    Probe set broadcast → map-side scoring → per-probe top-k."""
    probes = "(SELECT vec_id AS probe_id, embedding AS probe_vec FROM {embeddings} WHERE vec_id < 5)"
    return _sql(spark, sf_dir, _sorted(
        S.brute_force_topk_sql("{embeddings}", probes, k=10), "probe_id, `rank`"
    ))


@query(
    "q_ann_ivf",
    oracle="""
    SELECT vec_id AS probe_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5
    ORDER BY probe_id
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: centroids = deterministic corpus sample
    (vec_id % 50 == 0), nprobe=8. Self-verifying: the query computes both
    the IVF result and the in-query brute-force ground truth, and returns
    per probe the ASSERTION recall@10 >= 0.8 — the DuckDB oracle emits
    literal TRUE per probe, making the approximate index hash-matchable.
    The raw IVF ranking itself stays covered by tests/test_pipeline.py."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    ivf_ids = (
        S.ivf_topk(emb, probes, centroids, k=10, nprobe=8)
        .groupBy("probe_id")
        .agg(F.collect_set("vec_id").alias("ivf_ids"))
    )
    exact_ids = (
        S.brute_force_topk(emb, probes, k=10)
        .groupBy("probe_id")
        .agg(F.collect_set("vec_id").alias("exact_ids"))
    )
    return (
        exact_ids.join(ivf_ids, "probe_id", "left")
        .select(
            "probe_id",
            (
                F.size(F.array_intersect(F.col("ivf_ids"), F.col("exact_ids")))
                / F.greatest(F.size("exact_ids"), F.lit(1))
                >= 0.8
            ).alias("recall_ok"),
        )
        .orderBy("probe_id")
    )


_LANG_SQL = """
    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
         WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
         WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         ELSE 'zh' END
"""


@query(
    "q_text_metrics",
    oracle="""
    WITH base AS (
      SELECT doc_id, text,
             string_split_regex(text, '\\s+') AS w,
             string_split_regex(lower(text), '\\s+') AS wl
      FROM documents WHERE doc_id < 200),
    scored AS (
      SELECT doc_id,
             len(w) AS n_tok,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(w, x -> CAST(('0x' || substr(md5(x), 1, 7)) AS BIGINT))),
                  (a, b) -> (a * 31 + b) % 2147483647) AS BIGINT) AS fp,
             len(list_filter(wl, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein'], x))) AS s_de,
             len(list_filter(wl, x -> list_contains(['the','a','of','and','to','in','is','for'], x))) AS s_en,
             len(list_filter(wl, x -> list_contains(['el','la','los','las','es','y','en','por'], x))) AS s_es,
             len(list_filter(wl, x -> list_contains(['le','la','les','est','et','dans','pour','une'], x))) AS s_fr,
             len(list_filter(wl, x -> list_contains(['的','是','了','在','我','有','和','不'], x))) AS s_zh,
             CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS pr,
             CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / greatest(len(w), 1) AS mwl,
             CAST(len(list_filter(wl, x -> list_contains(['the','a','of','and','to','in','is','for'], x))) AS DOUBLE)
               / greatest(len(wl), 1) AS sr
      FROM base)
    SELECT doc_id, n_tok, n_bpe, fp,
           {LANG} AS pred_lang,
           CAST(CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 0.4 ELSE 0 END
              + CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 0.3 ELSE 0 END
              + CASE WHEN pr <= 0.2 THEN 0.2 ELSE 0 END
              + CASE WHEN sr >= 0.01 THEN 0.1 ELSE 0 END AS DOUBLE) AS quality
    FROM scored
    ORDER BY doc_id
    """.replace("{LANG}", _LANG_SQL),
)
def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis battery: token counts (whitespace + BPE-ish), rolling-
    hash fingerprint, heuristic language-ID, quality score — one codegen'd
    pass, the shape of a corpus-curation filter stage.

    The docs are sorted BEFORE the battery: the range sort's sampling job
    then reads only the filtered scan, where a sort above the battery ran
    the whole regex/lambda battery a second time to sample its keys. No
    spread(): adaptive execution coalesces the sorted 200 docs into one
    task, which runs the battery as fast as a range sort over four tasks
    did (0.29 s either way at sf0.01, 4 cores)."""
    t = "text"
    return _sql(
        spark, sf_dir,
        f"""SELECT doc_id,
               cast({T.token_count_sql(t)} as bigint) AS n_tok,
               cast({T.bpe_ish_token_count_sql(t)} as bigint) AS n_bpe,
               {T.doc_fingerprint_sql(t)} AS fp,
               {T.language_id_sql(t)} AS pred_lang,
               {T.quality_score_sql(t)} AS quality
        FROM (SELECT doc_id, text FROM {{documents}} WHERE doc_id < 200 ORDER BY doc_id)""",
    )
