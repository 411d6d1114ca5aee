"""Similarity search over embedding columns (array<float>).

Reference: vector distances at src/Functions/array/arrayDistance.cpp:514-519
(L1/L2/cosine/dot); ANN index at src/Storages/MergeTree/MergeTreeIndexAnnoy.h:21.

Spark-first design:
  - distances are zip_with/aggregate expressions — JVM-side, no Python
    (Spark interprets these higher-order functions: CodegenFallback);
  - brute-force top-k: broadcast the (small) probe set, map-side distance,
    per-probe top-k via window. The shuffle carries only (probe, candidate,
    score) tuples that survive an optional score floor — at 100 TB with P
    probes the exchange is O(P·n) scores, never the vectors themselves.
  - IVF: deterministic k-means-free variant (centroids = a fixed sample of
    the corpus), cluster assignment is a broadcast-join + argmin (map-only),
    probing restricts search to nprobe clusters → scan cost drops by
    ~n_centroids/nprobe. The cluster id doubles as a partition key so a
    materialized index co-locates each cluster's vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.pipeline.dedup import _bind, _q
from clickhouse_23_3_19_32_lts_spark.pipeline.spread import spread, spread_sql

# Vector kernels as Spark SQL over two array expressions (the SQL of one
# column each): one definition for the SQL operators and the Column forms.


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " 0.0D, (acc, e) -> acc + e)"
    )


def _l2_norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (acc, e) -> acc + cast(e as double) * cast(e as double)))"


def _cosine_sql(a: str, b: str) -> str:
    return f"{_dot_sql(a, b)} / ({_l2_norm_sql(a)} * {_l2_norm_sql(b)})"


def _l2_sq_sql(a: str, b: str) -> str:
    """Squared L2 distance."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> power(cast(x as double) - cast(y as double), 2)),"
        " 0.0D, (acc, e) -> acc + e)"
    )


def brute_force_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbors per probe: (probe_id, vec_id, score, rank).

    Baseline the approximate variants are measured against. Probe set is
    broadcast; ranking shuffles on probe_id only.

    Two-phase top-k: partition-local rank first (keys = probe × source
    partition, so no single reducer ever sorts all n scores for a probe),
    then the global per-probe rank over only k × n_partitions survivors.
    """
    return _bind(
        brute_force_topk_sql(
            "{vectors}", "{probes}", k, id_col, vec_col, probe_id_col, probe_vec_col, metric
        ),
        vectors=vectors,
        probes=probes,
    )


def brute_force_topk_sql(
    vectors: str,
    probes: str,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    metric: str = "cosine",
) -> str:
    """brute_force_topk over the relation SQLs `vectors` and `probes`."""
    v, p = f"v.{_q(vec_col)}", f"p.{_q(probe_vec_col)}"
    score = {
        "cosine": _cosine_sql(v, p),
        "dot": _dot_sql(v, p),
        "l2": f"-sqrt({_l2_sq_sql(v, p)})",
    }[metric]
    pid, vid = _q(probe_id_col), _q(id_col)
    order = f"ORDER BY score DESC, {vid} ASC"
    return f"""SELECT {pid}, {vid}, score, `rank` FROM (
          SELECT *, row_number() OVER (PARTITION BY {pid} {order}) AS `rank` FROM (
            SELECT * FROM (
              SELECT *, row_number() OVER (PARTITION BY {pid}, __part {order}) AS __lr FROM (
                SELECT /*+ BROADCAST(p) */ p.{pid}, v.{vid}, {score} AS score,
                       spark_partition_id() AS __part
                FROM {vectors} v CROSS JOIN {probes} p))
            WHERE __lr <= {k}))
        WHERE `rank` <= {k}"""


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
) -> DataFrame:
    """IVF assignment: nearest centroid per vector (broadcast + argmin).

    Map-only: centroids broadcast, min_by picks the closest — no shuffle
    of the vector table.
    """
    d2 = F.expr(_l2_sq_sql(_q(vec_col), _q(centroid_vec_col)))
    return (
        spread(vectors, id_col).crossJoin(F.broadcast(centroids))
        .groupBy(id_col)
        .agg(
            F.min_by(centroid_id_col, d2).alias("cluster"),
            F.first(vec_col).alias(vec_col),
        )
    )


def _probe_clusters(
    centroids: DataFrame, probes: DataFrame, nprobe: int, probe_id_col: str, probe_vec_col: str
) -> DataFrame:
    """(probe_id, cluster): each probe's nprobe nearest centroids (L2)."""
    pid = _q(probe_id_col)
    nearest = brute_force_topk_sql(
        "(SELECT centroid_id AS vec_id, centroid_vec AS embedding FROM {centroids})",
        "{probes}", nprobe, probe_id_col=probe_id_col, probe_vec_col=probe_vec_col, metric="l2",
    )
    return _bind(
        f"SELECT {pid}, vec_id AS cluster FROM ({nearest})", centroids=centroids, probes=probes
    )


def _rank(
    candidates: DataFrame, k: int, id_col: str, vec_col: str, probe_id_col: str, probe_vec_col: str
) -> DataFrame:
    """Top-k candidates per probe by cosine: (probe_id, vec_id, score, rank)."""
    pid, vid = _q(probe_id_col), _q(id_col)
    return _bind(
        f"""SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY {pid} ORDER BY score DESC, {vid} ASC) AS `rank`
          FROM (SELECT {pid}, {vid}, {_cosine_sql(_q(vec_col), _q(probe_vec_col))} AS score
                FROM {{candidates}}))
        WHERE `rank` <= {k}""",
        candidates=candidates,
    )


def ivf_topk(
    vectors: DataFrame,
    probes: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
) -> DataFrame:
    """IVF approximate top-k: search only the nprobe nearest clusters.

    centroids: (centroid_id, centroid_vec) — e.g. a deterministic corpus
    sample, or precomputed k-means. Returns (probe_id, vec_id, score, rank);
    recall vs brute_force_topk rises with nprobe (tested in unit tests).
    """
    assigned = assign_clusters(vectors, centroids, id_col, vec_col)
    probe_clusters = _probe_clusters(centroids, probes, nprobe, probe_id_col, probe_vec_col)
    candidates = assigned.join(
        F.broadcast(probe_clusters), on="cluster"
    ).join(F.broadcast(probes), on=probe_id_col)
    return _rank(candidates, k, id_col, vec_col, probe_id_col, probe_vec_col)


def build_ivf_index(
    vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index: vectors written as parquet hive-partitioned
    by cluster id (MergeTreeIndexAnnoy.h:21 analogue, but storage-native).

    Each cluster's vectors are co-located in its own partition directory, so
    a search touching nprobe clusters reads exactly those directories —
    partition pruning does the index lookup. Rebuild = recompute + overwrite
    (the same lifecycle as the reference's index rebuild on merge)."""
    assigned = assign_clusters(vectors, centroids, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(path)


def ivf_index_topk(
    spark,
    index_path: str,
    probes: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
) -> DataFrame:
    """Search a materialized IVF index: pick nprobe clusters per probe, read
    ONLY those partitions (partition-pruned scan — asserted in tests), score
    and rank. At 100 TB the scan cost is |index|·nprobe/n_centroids."""
    probe_clusters = _probe_clusters(centroids, probes, nprobe, probe_id_col, probe_vec_col)

    wanted = [r["cluster"] for r in probe_clusters.select("cluster").distinct().collect()]
    index = spark.read.parquet(index_path).filter(F.col("cluster").isin(wanted))

    candidates = index.join(F.broadcast(probe_clusters), on="cluster").join(
        F.broadcast(probes), on=probe_id_col
    )
    return _rank(candidates, k, id_col, vec_col, probe_id_col, probe_vec_col)


def nearest_centroid_blocks(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
) -> DataFrame:
    """Multi-probe IVF block assignment: each vector → its `nprobe` nearest
    centroids (L2, centroid-id tiebreak). Returns (id_col, block).

    Centroids broadcast; ranking is a per-vector window over n_centroids
    rows — map-side work only, no shuffle of the vector table. Deterministic
    (no RNG), so an external engine can recompute identical blocks.
    """
    return _bind(
        nearest_centroid_blocks_sql(
            spread_sql(vectors, id_col, "{vectors}"), "{centroids}", nprobe, id_col, vec_col,
            centroid_id_col, centroid_vec_col,
        ),
        vectors=vectors,
        centroids=centroids,
    )


def nearest_centroid_blocks_sql(
    vectors: str,
    centroids: str,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
) -> str:
    """nearest_centroid_blocks over the relation SQLs `vectors` and
    `centroids`."""
    vid = _q(id_col)
    d2 = _l2_sq_sql(f"v.{_q(vec_col)}", f"c.{_q(centroid_vec_col)}")
    return f"""SELECT {vid}, block FROM (
          SELECT *, row_number() OVER (PARTITION BY {vid} ORDER BY __d2 ASC, block ASC) AS __rn
          FROM (SELECT /*+ BROADCAST(c) */ v.{vid}, c.{_q(centroid_id_col)} AS block, {d2} AS __d2
                FROM {vectors} v CROSS JOIN {centroids} c))
        WHERE __rn <= {nprobe}"""


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim).

    `blocks` ((id_col, block), possibly several blocks per id — e.g. from
    nearest_centroid_blocks) is the scale path: candidate pairs come from a
    keyed equi-join on block (shuffles (id, block) tuples, never n²/2
    pairs), deduped, then scored by joining the vectors back. Default
    (no blocks) is the exact O(n²) pair scan — verification tiers only.
    """
    return _bind(
        embedding_near_dup_pairs_sql(
            spread_sql(vectors, id_col, "{vectors}"), threshold, id_col, vec_col,
            None if blocks is None else "{blocks}",
        ),
        vectors=vectors,
        blocks=blocks,
    )


def embedding_near_dup_pairs_sql(
    vectors: str,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: str | None = None,
) -> str:
    """embedding_near_dup_pairs over the relation SQLs `vectors` and
    `blocks`."""
    vid, vec = _q(id_col), _q(vec_col)
    if blocks is None:
        return f"""SELECT * FROM (
              SELECT a.{vid} AS id_a, b.{vid} AS id_b,
                     {_cosine_sql(f"a.{vec}", f"b.{vec}")} AS cos_sim
              FROM {vectors} a JOIN {vectors} b ON a.{vid} < b.{vid})
            WHERE cos_sim >= {float(threshold)}D"""
    # Attach each vector to its block rows ONCE, score inline on the keyed
    # block join, then dedup pairs on a double: a pair's cosine is
    # identical in every shared block, so first() after the (id_a, id_b)
    # GROUP BY equals a distinct-then-score form, which shuffled the vector
    # table twice more and planned an SMJ on the candidate ids.
    # The L2 norm rides along from a projection BELOW the block join: one
    # norm per vector instead of two norm folds per candidate pair (the HOF
    # aggregates are interpreted, so per-pair folds are the dominant cost).
    # Same doubles: dot/(norm_a*norm_b) is the exact cosine expression with
    # the norms evaluated on the identical vectors.
    # The cosine is bound once per candidate row by a one-element
    # LATERAL VIEW: a plain WHERE on it would be pushed into the join
    # condition and the dot fold evaluated there and again in the
    # projection. The threshold filter commutes with the pair dedup, so it
    # runs BEFORE the GROUP BY and the dedup exchange carries only matches
    # (guide §2.3 filter-before-the-exchange).
    return f"""WITH bv AS (
          SELECT b.__id, b.block, v.__v, v.__n
          FROM (SELECT {vid} AS __id, block FROM {blocks}) b
          JOIN (SELECT {vid} AS __id, {vec} AS __v, {_l2_norm_sql(vec)} AS __n
                FROM {vectors}) v ON b.__id = v.__id)
        SELECT id_a, id_b, first(cos_sim) AS cos_sim FROM (
          SELECT x.__id AS id_a, y.__id AS id_b,
                 {_dot_sql("x.__v", "y.__v")} / (x.__n * y.__n) AS __cos
          FROM bv x JOIN bv y ON x.block = y.block AND x.__id < y.__id)
        LATERAL VIEW explode(array(__cos)) AS cos_sim
        WHERE cos_sim >= {float(threshold)}D
        GROUP BY id_a, id_b"""
