"""Training-data pipeline operators: dedup, similarity search, text analysis,
multimodal plumbing — the operations a 100 TB LLM-corpus pipeline needs,
expressed Spark-first (JVM-side higher-order functions, which Spark
interprets rather than compiles; shuffles only where a distributed algorithm
genuinely requires them).

Reference anchors (what the reference ships natively):
  - ngramMinHash* / wordShingleMinHash* / ngramSimHash* families:
    src/Functions/FunctionsStringHash.cpp:766-793
  - ngramDistance/ngramSearch: src/Functions/FunctionsStringSimilarity.cpp:541
  - vector distances: src/Functions/array/arrayDistance.cpp:514-519
  - ANN index (annoy): src/Storages/MergeTree/MergeTreeIndexAnnoy.h:21
  - language/charset detection: src/Functions/FunctionsLanguageClassification.cpp
"""

from clickhouse_23_3_19_32_lts_spark.pipeline.hashing import spark_sql_hash64, sql_hash64
from clickhouse_23_3_19_32_lts_spark.pipeline.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash60,
    simhash_pairs,
    word_shingles,
)
from clickhouse_23_3_19_32_lts_spark.pipeline.similarity import (
    brute_force_topk,
    build_ivf_index,
    embedding_near_dup_pairs,
    ivf_index_topk,
    ivf_topk,
)
from clickhouse_23_3_19_32_lts_spark.pipeline.text import (
    bpe_ish_token_count,
    doc_fingerprint,
    language_id,
    quality_score,
    token_count,
)

__all__ = [
    "spark_sql_hash64",
    "sql_hash64",
    "exact_dedup",
    "word_shingles",
    "minhash_signature",
    "minhash_lsh_pairs",
    "simhash60",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    "brute_force_topk",
    "build_ivf_index",
    "embedding_near_dup_pairs",
    "ivf_index_topk",
    "ivf_topk",
    "token_count",
    "bpe_ish_token_count",
    "quality_score",
    "language_id",
    "doc_fingerprint",
]
