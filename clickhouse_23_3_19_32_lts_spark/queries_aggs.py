"""Aggregate-function families from SURVEY.md §2.4: quantiles, argMin/Max
(covered in queries.py), groupArray/groupUniqArray, topK, -If combinators,
avgWeighted, corr/covar, bitwise aggs, histogram, and the event-analytics
family (retention / windowFunnel / sequenceMatch / deltaSum / EMA) that the
reference implements as dedicated C++ aggregates
(src/AggregateFunctions/AggregateFunctionRetention.cpp,
AggregateFunctionWindowFunnel.cpp, AggregateFunctionSequenceMatch.cpp,
AggregateFunctionDeltaSum.cpp, AggregateFunctionExponentialMovingAverage.cpp).

Spark-first: every one of these is expressible with built-in aggregates +
windows + conditional expressions — no UDAFs, no pandas, fully codegen'd,
and all two-phase (partial/final) under the hood, so they scale as plain
shuffles on the group keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.queries import _t, query


@query(
    "q_quantiles",
    oracle="""
    SELECT o_orderstatus,
           CAST(quantile_cont(o_totalprice, 0.25) AS DOUBLE) AS p25,
           CAST(quantile_cont(o_totalprice, 0.50) AS DOUBLE) AS p50,
           CAST(quantile_cont(o_totalprice, 0.75) AS DOUBLE) AS p75,
           CAST(quantile_cont(o_totalprice, 0.95) AS DOUBLE) AS p95
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantile/quantiles/median (AggregateFunctionQuantile*.cpp) — exact
    continuous-interpolation percentile, same definition as quantile_cont."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.percentile("o_totalprice", 0.25).alias("p25"),
            F.percentile("o_totalprice", 0.50).alias("p50"),
            F.percentile("o_totalprice", 0.75).alias("p75"),
            F.percentile("o_totalprice", 0.95).alias("p95"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_uniq_approx",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS within_5pct
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_uniq_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uniq/uniqHLL12/uniqCombined (AggregateFunctionUniq.cpp) →
    approx_count_distinct (HLL++). Self-verifying: the query returns the
    exact distinct count plus the ASSERTION that the sketch estimate is
    within 5% of it (rsd=0.01, so 5% is a wide margin) — the DuckDB oracle
    computes the same exact side and emits literal TRUE, making the sketch
    hash-matchable despite being engine-specific."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
            F.countDistinct("l_orderkey").alias("exact_orders"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                / F.greatest(F.col("exact_orders"), F.lit(1))
                <= 0.05
            ).alias("within_5pct"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_group_array",
    oracle="""
    SELECT o_orderstatus,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS prios,
           len(list(DISTINCT o_orderpriority)) AS n_prios
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_group_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupArray/groupUniqArray (collect_list/collect_set). Serialized to a
    sorted CSV string so the compare is order-insensitive (ClickHouse makes
    no cross-block order promise either)."""
    orders = _t(spark, sf_dir, "orders")
    uniq = F.sort_array(F.collect_set("o_orderpriority"))
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.concat_ws(",", uniq.cast("array<string>")).alias("prios"),
            F.size(F.collect_set("o_orderpriority")).cast("long").alias("n_prios"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_topk",
    oracle="""
    WITH counts AS (
      SELECT event_type, user_id, count(*) AS n
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT event_type, user_id, n,
             row_number() OVER (PARTITION BY event_type ORDER BY n DESC, user_id) AS rk
      FROM counts)
    SELECT event_type, user_id AS top_user, CAST(n AS BIGINT) AS n, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3
    ORDER BY event_type, rk
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topK(3) (AggregateFunctionTopK.cpp) — exact two-pass form: count,
    rank, keep k. (The reference's topK is itself approximate space-saving;
    exact-on-shuffle is the Spark-native equivalent and strictly stronger.)"""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("event_type").orderBy(F.desc("n"), F.asc("user_id"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("event_type", F.col("user_id").alias("top_user"), "n", "rk")
        .orderBy("event_type", "rk")
    )


@query(
    "q_agg_if_combinators",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS sum_if,
           count(*) FILTER (WHERE l_quantity > 25)                               AS count_if,
           CAST(avg(l_extendedprice) FILTER (WHERE l_tax > 0.04) AS DOUBLE)      AS avg_if,
           CAST(min(l_shipdate) FILTER (WHERE l_linestatus = 'F') AS TIMESTAMP)  AS min_if
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_agg_if_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-If combinator (registerAggregateFunctions.cpp:85-96): agg(when(cond,
    x)) — NULLs are ignored by Spark aggregates, exactly FILTER semantics."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))).alias("sum_if"),
            F.count(F.when(F.col("l_quantity") > 25, F.lit(1))).alias("count_if"),
            F.avg(F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice"))).alias("avg_if"),
            F.min(F.when(F.col("l_linestatus") == "F", F.col("l_shipdate"))).alias("min_if"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_avg_weighted_corr",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(l_extendedprice * l_quantity) / sum(l_quantity) AS DOUBLE) AS avg_weighted,
           CAST(corr(l_quantity, l_extendedprice) AS DOUBLE)       AS cor,
           CAST(covar_pop(l_quantity, l_extendedprice) AS DOUBLE)  AS cov_pop,
           CAST(covar_samp(l_quantity, l_extendedprice) AS DOUBLE) AS cov_samp
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_avg_weighted_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avgWeighted + corr/covar* (AggregateFunctionStatisticsSimple)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            (F.sum(F.col("l_extendedprice") * F.col("l_quantity")) / F.sum("l_quantity")).alias("avg_weighted"),
            F.corr("l_quantity", "l_extendedprice").alias("cor"),
            F.covar_pop("l_quantity", "l_extendedprice").alias("cov_pop"),
            F.covar_samp("l_quantity", "l_extendedprice").alias("cov_samp"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_bitwise_aggs",
    oracle="""
    SELECT l_returnflag,
           CAST(bit_and(l_linenumber) AS BIGINT) AS band,
           CAST(bit_or(l_linenumber)  AS BIGINT) AS bor,
           CAST(bit_xor(l_linenumber) AS BIGINT) AS bxor
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_bitwise_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBitAnd/Or/Xor (AggregateFunctionBitwise.cpp) → bit_and/or/xor."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.bit_and("l_linenumber").cast("long").alias("band"),
            F.bit_or("l_linenumber").cast("long").alias("bor"),
            F.bit_xor("l_linenumber").cast("long").alias("bxor"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_histogram",
    oracle="""
    SELECT CAST(floor(value / 10) AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(min(value) AS DOUBLE) AS lo,
           CAST(max(value) AS DOUBLE) AS hi
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram(n) analogue: fixed-width bucketing (the deterministic form;
    the reference's adaptive histogram is seed-dependent)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 10).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Event analytics family
# ---------------------------------------------------------------------------


@query(
    "q_retention",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             max(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-02' THEN 1 ELSE 0 END) AS d0,
             max(CASE WHEN ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03' THEN 1 ELSE 0 END) AS d1,
             max(CASE WHEN ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-09' THEN 1 ELSE 0 END) AS d7
      FROM events GROUP BY user_id)
    SELECT CAST(sum(d0) AS BIGINT)      AS r0,
           CAST(sum(d0 * d1) AS BIGINT) AS r1,
           CAST(sum(d0 * d7) AS BIGINT) AS r7
    FROM per_user
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retention(cond0, cond1, ...) (AggregateFunctionRetention.cpp): users
    satisfying cond0 who also satisfied cond_i — conditional max per user,
    then sums; two shuffles total (user agg, global agg)."""
    ev = _t(spark, sf_dir, "events")

    def day(d: str, nxt: str):
        return F.max(
            F.when(
                (F.col("ts") >= F.lit(d).cast("timestamp"))
                & (F.col("ts") < F.lit(nxt).cast("timestamp")),
                1,
            ).otherwise(0)
        )

    per_user = ev.groupBy("user_id").agg(
        day("2024-01-01", "2024-01-02").alias("d0"),
        day("2024-01-02", "2024-01-03").alias("d1"),
        day("2024-01-08", "2024-01-09").alias("d7"),
    )
    return per_user.agg(
        F.sum("d0").alias("r0"),
        F.sum(F.col("d0") * F.col("d1")).alias("r1"),
        F.sum(F.col("d0") * F.col("d7")).alias("r7"),
    )


@query(
    "q_window_funnel",
    oracle="""
    WITH t1 AS (SELECT user_id, min(ts) AS ts1 FROM events WHERE event_type = 'signup' GROUP BY user_id),
    t2 AS (SELECT e.user_id, min(e.ts) AS ts2
           FROM events e JOIN t1 ON e.user_id = t1.user_id
           WHERE e.event_type = 'view' AND e.ts > t1.ts1 AND e.ts <= t1.ts1 + INTERVAL 7 DAY
           GROUP BY e.user_id),
    t3 AS (SELECT e.user_id, min(e.ts) AS ts3
           FROM events e JOIN t1 ON e.user_id = t1.user_id
                         JOIN t2 ON e.user_id = t2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > t2.ts2 AND e.ts <= t1.ts1 + INTERVAL 7 DAY
           GROUP BY e.user_id),
    levels AS (
      SELECT t1.user_id,
             CASE WHEN ts3 IS NOT NULL THEN 3 WHEN ts2 IS NOT NULL THEN 2 ELSE 1 END AS level
      FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id LEFT JOIN t3 ON t1.user_id = t3.user_id)
    SELECT level, count(*) AS n_users FROM levels GROUP BY level ORDER BY level
    """,
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel(7d)(ts, signup, view, purchase)
    (AggregateFunctionWindowFunnel.cpp): deepest chain signup→view→purchase
    within 7 days of the signup.

    Single-pass shape (round 9; the reference's own design — windowFunnel
    keeps per-key event lists in its aggregate state): ONE scan and ONE
    user_id shuffle carrying (min signup ts, view/purchase ts lists), then
    the level logic is array math. The previous level-by-level join form
    scanned events 3× and shuffled each level's join (7 scans / 15
    exchanges in the audited plan → 1 scan / 2 exchanges). Level math is
    identical: ts2 = min view ts in (ts1, ts1+7d], ts3 = min purchase ts in
    (ts2, ts1+7d] — null ts2 nulls the ts3 predicate, so the chain gates
    exactly like the join form. Skew note: one user's lists are bounded by
    their own event count — the same state the reference holds per key."""
    ev = _t(spark, sf_dir, "events")
    per = (
        ev.select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("ts1"),
            # when() without otherwise yields NULL for other types and
            # collect_list drops NULLs: each list holds just that type's ts
            F.collect_list(F.when(F.col("event_type") == "view", F.col("ts"))).alias("__v"),
            F.collect_list(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("__p"),
        )
        .filter(F.col("ts1").isNotNull())
    )
    deadline = F.col("ts1") + F.expr("INTERVAL 7 DAY")
    ts2 = F.array_min(
        F.filter("__v", lambda t: (t > F.col("ts1")) & (t <= deadline))
    )
    per = per.withColumn("ts2", ts2)
    ts3 = F.array_min(
        F.filter("__p", lambda t: (t > F.col("ts2")) & (t <= deadline))
    )
    levels = per.select(
        F.when(ts3.isNotNull(), 3)
        .when(F.col("ts2").isNotNull(), 2)
        .otherwise(1)
        .alias("level")
    )
    return levels.groupBy("level").agg(F.count(F.lit(1)).alias("n_users")).orderBy("level")


@query(
    "q_sequence_match",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END)   AS first_signup,
             max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
      FROM events GROUP BY user_id)
    SELECT count(*) AS n_matched
    FROM per_user
    WHERE first_signup IS NOT NULL AND last_purchase IS NOT NULL
      AND first_signup < last_purchase
    """,
)
def q_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequenceMatch('(?1).*(?2)') (AggregateFunctionSequenceMatch.cpp):
    exists signup strictly before some purchase — conditional min/max."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase"),
    )
    return (
        per_user.filter(
            F.col("first_signup").isNotNull()
            & F.col("last_purchase").isNotNull()
            & (F.col("first_signup") < F.col("last_purchase"))
        )
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )


@query(
    "q_delta_sum",
    oracle="""
    WITH ordered AS (
      SELECT user_id, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events WHERE user_id < 20)
    SELECT user_id,
           CAST(sum(CASE WHEN prev IS NULL OR value - prev < 0 THEN 0 ELSE value - prev END) AS DOUBLE) AS delta_sum
    FROM ordered GROUP BY user_id ORDER BY user_id
    """,
)
def q_delta_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deltaSum (AggregateFunctionDeltaSum.cpp): sum of positive increments
    in (ts, event_id) order — lag window + conditional sum."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    delta = F.col("value") - F.lag("value").over(w)
    return (
        ev.select("user_id", F.when(delta > 0, delta).otherwise(F.lit(0.0)).alias("d"))
        .groupBy("user_id")
        .agg(F.sum(F.coalesce("d", F.lit(0.0))).alias("delta_sum"))
        .orderBy("user_id")
    )


@query(
    "q_time_decayed_sum",
    oracle="""
    WITH base AS (
      SELECT user_id, ts, event_id, value,
             epoch(ts - TIMESTAMP '2024-01-01') / 3600.0 AS th
      FROM events WHERE user_id < 5),
    acc AS (
      SELECT user_id, ts, event_id,
             sum(value * exp(th / 24.0)) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
             th
      FROM base)
    SELECT user_id, ts, CAST(exp(-th / 24.0) * s AS DOUBLE) AS decayed_sum
    FROM acc ORDER BY user_id, ts, event_id
    """,
)
def q_time_decayed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exponentialTimeDecayedSum(tau=24h) (WindowTransform.cpp:2460-2537):
    sum_i v_i·exp(-(t_now - t_i)/tau) for events at-or-before each row.
    Factored as exp(-t/tau)·cumsum(v·exp(t/tau)) — one window pass, no
    per-row rescan; t normalized to hours-since-epoch-start so the exp stays
    in range (documented bound: 30 days/tau=24h → exp(30))."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    t0 = F.lit("2024-01-01").cast("timestamp")
    # timestamp→double keeps microseconds (unix_timestamp() truncates to s);
    # the ts column may be TIMESTAMP_NTZ in some parquet files (not directly
    # castable to double) — hop through TIMESTAMP_LTZ first (UTC session, so
    # wall-clock is preserved and the NTZ/LTZ distinction cancels in the diff).
    th = (
        F.col("ts").cast("timestamp_ltz").cast("double") - t0.cast("double")
    ) / 3600.0
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        ev.withColumn("__th", th)
        .withColumn("__s", F.sum(F.col("value") * F.exp(F.col("__th") / 24.0)).over(w))
        .select(
            "user_id",
            "ts",
            (F.exp(-F.col("__th") / 24.0) * F.col("__s")).alias("decayed_sum"),
        )
        .orderBy("user_id", "ts")
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
           count(*) AS n,
           CAST(grouping(l_returnflag) AS INT) + 2 * CAST(grouping(l_linestatus) AS INT) AS gid
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping() markers (AggregatingStep.h:34)."""
    li = _t(spark, sf_dir, "lineitem")
    gid = (
        F.grouping("l_returnflag").cast("int") + 2 * F.grouping("l_linestatus").cast("int")
    ).alias("gid")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"), gid)
        .orderBy("gid", F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus"))
    )


@query(
    "q_state_merge",
    oracle="""
    WITH sampled AS (
      SELECT o_orderstatus, o_totalprice
      FROM orders
      WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
            % 100 < 20)
    SELECT o.o_orderstatus,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           count(*) AS n,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean,
           count(DISTINCT o.o_custkey) AS n_cust,
           (SELECT CAST(lst[greatest(1, CAST(ceil(0.5 * len(lst)) AS INT))] AS DOUBLE)
            FROM (SELECT list_sort(list(o_totalprice)) AS lst FROM sampled s
                  WHERE s.o_orderstatus = o.o_orderstatus)) AS approx_median
    FROM orders o
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
)
def q_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-State / -Merge combinators over AggregateFunction-style columns
    (AggregateFunctionState.cpp / AggregateFunctionMerge.cpp §2.4): build
    partial states in THREE separate batches (simulating
    AggregatingMergeTree parts), union the partials, merge — results must
    equal a one-shot aggregation, which is exactly what the DuckDB oracle
    computes. uniq uses the exact set state here (oracle-comparable); the
    constant-size HLL sketch state is asserted separately in
    tests/test_projections.py (sketch merge == one-shot sketch)."""
    from clickhouse_23_3_19_32_lts_spark.functions import states as S

    orders = _t(spark, sf_dir, "orders")
    parts = [
        orders.filter(F.pmod("o_orderkey", F.lit(3)) == i).groupBy("o_orderstatus").agg(
            # decimal partials: exact merge, so the 3-way split sums to the
            # bit-identical total a one-shot aggregation (the oracle) computes
            S.sumState(F.col("o_totalprice").cast("decimal(18,2)")).alias("st_sum"),
            S.countState(F.lit(1)).alias("st_cnt"),
            S.avgState("o_totalprice").alias("st_avg"),
            S.uniqExactState("o_custkey").alias("st_uniq"),
            S.quantileState("o_totalprice", "o_orderkey").alias("st_q"),
        )
        for i in range(3)
    ]
    partials = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return (
        partials.groupBy("o_orderstatus")
        .agg(
            S.sumMerge("st_sum").cast("double").alias("total"),
            S.countMerge("st_cnt").alias("n"),
            S.avgMerge("st_avg").cast("double").alias("__mean_merged"),
            S.uniqExactMerge("st_uniq").cast("long").alias("n_cust"),
            S.quantileMerge("st_q", 0.5).cast("double").alias("approx_median"),
        )
        # mean from the exact decimal total (same IEEE double / bigint divide
        # the oracle performs) — avgMerge over doubles drifts in the last ulp
        # depending on partial-merge order, which breaks the driver's hash
        .withColumn("mean", F.col("total") / F.col("n"))
        .drop("__mean_merged")
        .select("o_orderstatus", "total", "n", "mean", "n_cust", "approx_median")
        .orderBy("o_orderstatus")
    )


@query(
    "q_compat_aggs",
    oracle="""
    WITH expanded AS (
      SELECT o.o_orderstatus, o.o_totalprice
      FROM orders o, unnest(generate_series(1, 3)) AS t(i)
      WHERE t.i <= o.o_orderkey % 3 + 1),
    counts AS (
      SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
      FROM orders GROUP BY 1, 2),
    heavy AS (
      SELECT o_orderstatus, o_orderpriority AS heavy
      FROM (SELECT o_orderstatus, o_orderpriority, row_number() OVER (
              PARTITION BY o_orderstatus
              ORDER BY cnt DESC, o_orderpriority DESC) AS rn
            FROM counts) WHERE rn = 1)
    SELECT o.o_orderstatus,
           any_value(h.heavy) AS heavy,
           (SELECT CAST(quantile_disc(e.o_totalprice, 0.5) AS DOUBLE) FROM expanded e
             WHERE e.o_orderstatus = o.o_orderstatus) AS wmedian,
           CAST(sum(o.o_totalprice) AS DOUBLE) AS total
    FROM orders o JOIN heavy h ON h.o_orderstatus = o.o_orderstatus
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
)
def q_compat_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compat aggregate family (§2.4 long tail): anyHeavy — gated as the
    exact heavy hitter with a deterministic (count, value) tie-break, since
    both anyHeavy (AggregateFunctionAnyHeavy) and DuckDB's mode() leave ties
    unspecified — medianExactWeighted (the first value whose cumulative
    weight reaches half the total, QuantileExactWeighted.h: DuckDB's
    quantile_disc over the rows repeated by weight), sumKahan."""
    from clickhouse_23_3_19_32_lts_spark import functions as CH

    orders = _t(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    heavy = counts.groupBy("o_orderstatus").agg(
        F.max_by("o_orderpriority", F.struct("cnt", "o_orderpriority")).alias("heavy")
    )
    rest = (
        orders.withColumn("w", F.pmod("o_orderkey", F.lit(3)) + 1)
        .groupBy("o_orderstatus")
        .agg(
            CH.medianExactWeighted("o_totalprice", "w").cast("double").alias("wmedian"),
            CH.sumKahan("o_totalprice").cast("double").alias("total"),
        )
    )
    return (
        rest.join(F.broadcast(heavy), "o_orderstatus")
        .select("o_orderstatus", "heavy", "wmedian", "total")
        .orderBy("o_orderstatus")
    )


@query(
    "q_categorical_iv",
    oracle="""
    WITH stats AS (
      SELECT o_orderpriority AS cat,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::DOUBLE AS g,
             sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)::DOUBLE AS b
      FROM orders GROUP BY 1),
    tot AS (SELECT sum(g) AS gt, sum(b) AS bt FROM stats)
    SELECT round(CAST(sum(CASE WHEN g > 0 AND b > 0
                     THEN (g/gt - b/bt) * ln((g/gt) / (b/bt)) ELSE 0 END) AS DOUBLE), 10) AS iv
    FROM stats, tot
    """,
)
def q_categorical_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """categoricalInformationValue (AggregateFunctionCategoricalIV.cpp):
    predictive power of o_orderpriority for the order-finished flag."""
    from clickhouse_23_3_19_32_lts_spark import functions as CH

    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.round(
            CH.categoricalInformationValue(
                "o_orderpriority", (F.col("o_orderstatus") == "F").cast("int")
            ),
            10,
        ).alias("iv")
    )


@query(
    "q_sequence_next_node",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    starts AS (
      SELECT a.user_id, min(a.rn) AS first_start
      FROM ordered a JOIN ordered b ON b.user_id = a.user_id AND b.rn = a.rn + 1
      WHERE a.event_type = 'view' AND b.event_type = 'click'
      GROUP BY a.user_id)
    SELECT u.user_id, o.event_type AS next_ev
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN starts s ON s.user_id = u.user_id
    LEFT JOIN ordered o ON o.user_id = u.user_id AND o.rn = s.first_start + 2
    ORDER BY u.user_id
    """,
)
def q_sequence_next_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequenceNextNode (AggregateFunctionSequenceNextNode.cpp): the event
    right after the first view→click chain per user. Tie-break on
    (ts, event_id) to keep the chain deterministic."""
    from clickhouse_23_3_19_32_lts_spark import functions as CH

    ev = _t(spark, sf_dir, "events")
    arr_ts = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("user_id")
        .agg(CH.sequenceNextNode(arr_ts, "event_type", "view", "click").alias("next_ev"))
        .orderBy("user_id")
    )
