"""The benchmark's workloads.

Each workload prepares its inputs from the seed, then yields passes of ops.
An op is ``(name, kind, fn, after)``: ``fn()`` is the timed call and
returns ``(value, df_or_None, rows)``; ``after(value)`` runs once the timer
has stopped and returns whether the answer was right.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

import datagen
from oracle import duck_connect, normalize, same_answer

# bench.py's headline set without its three pipeline queries.
OLAP_QUERIES = [
    "q01_pricing_summary", "q03_shipping_priority", "q05_regional_revenue",
    "q06_revenue_change", "q09_product_profit", "q10_returned_items",
    "q13_customer_distribution", "q18_large_volume_customers",
    "q_window_order_rank", "q_limit_by", "q_count_distinct", "q_events_tumble",
    "q_events_json", "q_asof_join", "ssb_q1_1", "ssb_q2_1", "ssb_q3_1", "ssb_q4_1",
]
PIPELINE_QUERIES = [
    "q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_simhash", "q_ngram_jaccard",
    "q_embedding_near_dup", "q_ann_topk", "q_text_metrics",
]


class Context:
    """What a workload needs from the runner."""

    def __init__(self, spark, tracer, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.seed = seed
        self.data_dir = os.path.join(work_dir, "data")


class Workload:
    name = ""
    sf = 0.01
    min_warm_passes = 1  # traced runs make at least two

    def prepare(self, ctx: Context) -> None:
        """Set-up work a user pays before the first query (timed)."""
        shutil.rmtree(ctx.data_dir, ignore_errors=True)
        datagen.write_tables(datagen.generate_tables(self.sf, ctx.seed), ctx.data_dir)

    def start_checks(self, ctx: Context) -> None:
        self.duck = duck_connect(ctx.data_dir)

    def pass_ops(self, ctx: Context, rng: np.random.Generator) -> list:
        raise NotImplementedError

    def detail(self) -> dict:
        return {}

    def close(self) -> None:
        self.duck.close()


def _collect(tracer, df):
    with tracer.span("spark.collect"):
        pdf = df.toPandas()
    return pdf, df, len(pdf)


class QueryMix(Workload):
    """Registry queries, checked against the registry's own DuckDB oracles,
    and optionally ad-hoc ClickHouse-dialect statements through
    ``Engine.ch_sql``, each checked against a DuckDB rendering with the
    same literals. Every pass runs all of them in a seeded order; every
    ad-hoc statement gets fresh seeded literals, so it is a new plan."""

    def __init__(self, name: str, queries: list[str], templates: list[str],
                 min_warm_passes: int) -> None:
        self.name = name
        self.queries = queries
        self.templates = templates
        self.min_warm_passes = min_warm_passes
        self.expected: dict[str, pd.DataFrame] = {}

    def prepare(self, ctx: Context) -> None:
        super().prepare(ctx)
        if self.templates:
            from clickhouse_23_3_19_32_lts_spark.engine import Engine

            self.engine = Engine(ctx.spark, ctx.data_dir)

    def start_checks(self, ctx: Context) -> None:
        super().start_checks(ctx)
        from clickhouse_23_3_19_32_lts_spark.queries import all_oracles, all_queries

        self.builders = all_queries()
        oracles = all_oracles()
        for q in self.queries:
            self.expected[q] = normalize(self.duck.sql(oracles[q]).df())

    def _registry_op(self, ctx: Context, q: str):
        def fn():
            with ctx.tracer.span("queries.build", query=q):
                df = self.builders[q](ctx.spark, ctx.data_dir)
            return _collect(ctx.tracer, df)

        return q, "query", fn, lambda pdf: same_answer(normalize(pdf), self.expected[q])

    def _adhoc_op(self, ctx: Context, template: str, rng: np.random.Generator):
        name, ch, duck = _render(template, rng)

        def fn():
            with ctx.tracer.span("engine.ch_sql"):
                df = self.engine.ch_sql(ch)
            return _collect(ctx.tracer, df)

        def after(pdf):
            return same_answer(normalize(pdf), normalize(self.duck.sql(duck).df()))

        return name, "query", fn, after

    def pass_ops(self, ctx: Context, rng: np.random.Generator) -> list:
        ops = [self._registry_op(ctx, q) for q in self.queries]
        ops += [self._adhoc_op(ctx, t, rng) for t in self.templates]
        return [ops[i] for i in rng.permutation(len(ops))]


# ---------------------------------------------------------------------------
# Ad-hoc ClickHouse SQL
# ---------------------------------------------------------------------------


def _day(rng, lo="1995-03-01", span=2_200) -> str:
    return str(np.datetime64(lo) + int(rng.integers(0, span)))


def _render(template: str, rng: np.random.Generator) -> tuple[str, str, str]:
    """(template name, ClickHouse SQL, DuckDB SQL) with seeded literals."""
    r = rng
    if template == "li_filter_agg":
        d, x = _day(r), int(r.integers(0, 9)) / 100
        return template, (
            "SELECT l_returnflag, l_linestatus, count() AS n, sum(l_quantity) AS q,"
            " avg(l_extendedprice) AS p FROM lineitem"
            f" WHERE l_shipdate < toDateTime('{d} 00:00:00') AND l_discount >= {x}"
            " GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
        ), (
            "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q,"
            " avg(l_extendedprice) AS p FROM lineitem"
            f" WHERE l_shipdate < TIMESTAMP '{d} 00:00:00' AND l_discount >= {x}"
            " GROUP BY l_returnflag, l_linestatus"
        )
    if template == "orders_by_year":
        s, x = "FOP"[int(r.integers(0, 3))], int(r.integers(1_000, 400_000))
        return template, (
            f"SELECT toYear(o_orderdate) AS y, countIf(o_orderstatus = '{s}') AS f,"
            f" uniqExact(o_custkey) AS u FROM orders WHERE o_totalprice > {x}"
            " GROUP BY y ORDER BY y"
        ), (
            f"SELECT year(o_orderdate) AS y, count(*) FILTER (WHERE o_orderstatus = '{s}') AS f,"
            f" count(DISTINCT o_custkey) AS u FROM orders WHERE o_totalprice > {x} GROUP BY y"
        )
    if template == "richest_by_segment":
        keys = ", ".join(str(k) for k in sorted(r.choice(25, 3, replace=False)))
        return template, (
            "SELECT c_mktsegment, argMax(c_name, c_acctbal) AS top, max(c_acctbal) AS bal"
            f" FROM customer WHERE c_nationkey IN ({keys})"
            " GROUP BY c_mktsegment ORDER BY c_mktsegment"
        ), (
            "SELECT c_mktsegment, arg_max(c_name, c_acctbal) AS top, max(c_acctbal) AS bal"
            f" FROM customer WHERE c_nationkey IN ({keys}) GROUP BY c_mktsegment"
        )
    if template == "events_limit_by":
        v, k = int(r.integers(1, 120)), int(r.integers(1, 4))
        return template, (
            "SELECT user_id, event_type, count() AS n FROM events"
            f" WHERE value > {v} GROUP BY user_id, event_type"
            f" ORDER BY user_id, n DESC, event_type LIMIT {k} BY user_id"
        ), (
            "SELECT user_id, event_type, count(*) AS n FROM events"
            f" WHERE value > {v} GROUP BY user_id, event_type"
            " QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type)"
            f" <= {k}"
        )
    if template == "hourly_revenue":
        day = int(r.integers(1, 31))
        e = datagen.EVENT_TYPES[int(r.integers(0, 5))]
        return template, (
            f"SELECT toStartOfHour(ts) AS h, sumIf(value, event_type = '{e}') AS rev,"
            f" count() AS n FROM events WHERE toDayOfMonth(ts) = {day}"
            " GROUP BY h ORDER BY h"
        ), (
            "SELECT date_trunc('hour', ts) AS h,"
            f" coalesce(sum(CASE WHEN event_type = '{e}' THEN value END), 0) AS rev,"
            f" count(*) AS n FROM events WHERE dayofmonth(ts) = {day} GROUP BY h"
        )
    if template == "supplier_bands":
        lo = int(r.integers(-500, 4_000))
        hi = lo + int(r.integers(500, 5_000))
        return template, (
            f"SELECT n_name, multiIf(s_acctbal < {lo}, 'low', s_acctbal < {hi}, 'mid', 'high')"
            " AS band, count() AS n FROM supplier INNER JOIN nation ON s_nationkey = n_nationkey"
            " GROUP BY n_name, band ORDER BY n_name, band"
        ), (
            f"SELECT n_name, CASE WHEN s_acctbal < {lo} THEN 'low' WHEN s_acctbal < {hi}"
            " THEN 'mid' ELSE 'high' END AS band, count(*) AS n"
            " FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name, band"
        )
    if template == "brand_median_price":
        lo = int(r.integers(1, 40))
        hi = lo + int(r.integers(1, 11))
        return template, (
            "SELECT p_brand, quantileExact(0.5)(p_retailprice) AS med, count() AS n"
            f" FROM part WHERE p_size BETWEEN {lo} AND {hi} GROUP BY p_brand ORDER BY p_brand"
        ), (
            "SELECT p_brand, list_sort(list(p_retailprice))"
            "[CAST(floor(count(p_retailprice) * 0.5) AS BIGINT) + 1] AS med, count(*) AS n"
            f" FROM part WHERE p_size BETWEEN {lo} AND {hi} GROUP BY p_brand"
        )
    if template == "priority_revenue":
        d, m = _day(r, "1995-01-01", 2_000), int(r.integers(1, 13))
        return template, (
            "SELECT o_orderpriority, sum(l_extendedprice * (1 - l_discount)) AS rev"
            " FROM lineitem INNER JOIN orders ON l_orderkey = o_orderkey"
            f" WHERE o_orderdate >= toDate('{d}') AND o_orderdate < addMonths(toDate('{d}'), {m})"
            " GROUP BY o_orderpriority ORDER BY o_orderpriority"
        ), (
            "SELECT o_orderpriority, sum(l_extendedprice * (1 - l_discount)) AS rev"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            f" WHERE o_orderdate >= DATE '{d}' AND o_orderdate < DATE '{d}' + INTERVAL {m} MONTH"
            " GROUP BY o_orderpriority"
        )
    if template == "doc_word_scan":
        n = int(r.integers(50, 400))
        w = datagen.VOCAB[int(r.integers(0, len(datagen.VOCAB)))].upper()
        return template, (
            "SELECT doc_id, length(splitByChar(' ', text)) AS w,"
            f" positionCaseInsensitive(text, '{w}') AS pos FROM documents"
            f" WHERE n_chars > {n} ORDER BY doc_id LIMIT 20"
        ), (
            "SELECT doc_id, len(string_split(text, ' ')) AS w,"
            f" instr(lower(text), lower('{w}')) AS pos FROM documents"
            f" WHERE n_chars > {n} ORDER BY doc_id LIMIT 20"
        )
    if template == "json_buckets":
        m = int(r.integers(3, 12))
        e = datagen.EVENT_TYPES[int(r.integers(0, 5))]
        return template, (
            f"SELECT JSONExtractInt(props, 'k') % {m} AS b, count() AS n, avg(value) AS v"
            f" FROM events WHERE event_type = '{e}' GROUP BY b ORDER BY b"
        ), (
            f"SELECT CAST(regexp_extract(props, '[0-9]+') AS BIGINT) % {m} AS b,"
            f" count(*) AS n, avg(value) AS v FROM events WHERE event_type = '{e}' GROUP BY b"
        )
    raise KeyError(template)


AD_HOC_TEMPLATES = [
    "li_filter_agg", "orders_by_year", "richest_by_segment", "events_limit_by",
    "hourly_revenue", "supplier_bands", "brand_median_price", "priority_revenue",
    "doc_word_scan", "json_buckets",
]


# ---------------------------------------------------------------------------
# Upserts with FINAL reads
# ---------------------------------------------------------------------------

USER_BYTES_PER_ROW = 8 + 8 + 8 + 4  # k, ver, val (int64) and p (int32)


def _dir_usage(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class UpsertFinal(Workload):
    """Upsert batches into a replacing ``PolicyTable``, FINAL reads between
    them and ``optimize()`` once per pass. Answers are checked against the
    latest version of every key, kept in memory."""

    name = "upsert_final"
    initial_keys = 40_000
    batch_rows = 10_000
    batches_per_pass = 4
    partitions = 8
    range_keys = 500

    def prepare(self, ctx: Context) -> None:
        from clickhouse_23_3_19_32_lts_spark.policies import PolicyTable

        self.path = os.path.join(ctx.work_dir, "upsert_table")
        shutil.rmtree(self.path, ignore_errors=True)
        self.rng = np.random.default_rng(ctx.seed)
        self.ver = np.zeros(0, dtype=np.int64)
        self.val = np.zeros(0, dtype=np.int64)
        self.key_space = 0
        self.next_ver = 1
        self.table = PolicyTable(
            ctx.spark, self.path, order_by=["k"], partition_by=["p"],
            policy="replacing", keys=["k"], version="ver",
        )
        batch = self._batch(self._new_keys(self.initial_keys))
        self.table.insert(ctx.spark.createDataFrame(batch))
        self._apply(batch)
        self.stored_rows = len(batch)
        self.user_bytes = len(batch) * USER_BYTES_PER_ROW
        self.disk_bytes = self.bytes_written = _dir_usage(self.path)[1]
        self.compact_bytes_per_row = self.disk_bytes / len(batch)

    def start_checks(self, ctx: Context) -> None:
        pass

    def close(self) -> None:
        pass

    # -- input generation and the answer model -----------------------------
    def _new_keys(self, n: int) -> np.ndarray:
        keys = np.arange(self.key_space, self.key_space + n)
        self.key_space += n
        return keys

    def _recent_keys(self, n: int) -> np.ndarray:
        back = self.rng.exponential(self.key_space * 0.1, n).astype(np.int64)
        return np.clip(self.key_space - 1 - back, 0, self.key_space - 1)

    def _batch(self, keys: np.ndarray) -> pd.DataFrame:
        ver = np.arange(self.next_ver, self.next_ver + len(keys), dtype=np.int64)
        self.next_ver += len(keys)
        return pd.DataFrame({
            "k": keys.astype(np.int64),
            "ver": ver,
            "val": self.rng.integers(0, 1_000_000, len(keys)),
            "p": (keys % self.partitions).astype(np.int32),
        })

    def _apply(self, batch: pd.DataFrame) -> None:
        grow = self.key_space - len(self.ver)
        if grow > 0:
            self.ver = np.concatenate([self.ver, np.zeros(grow, np.int64)])
            self.val = np.concatenate([self.val, np.zeros(grow, np.int64)])
        keys = batch["k"].to_numpy()
        # versions increase along the batch, so the last row of a key wins
        self.ver[keys] = batch["ver"].to_numpy()
        self.val[keys] = batch["val"].to_numpy()

    def _storage(self) -> dict:
        files, size = _dir_usage(self.path)
        live = int(np.count_nonzero(self.ver))
        return {
            "files_on_disk": files,
            "storage_amp": size / (live * self.compact_bytes_per_row),
            "read_amp": self.stored_rows / live,
        }

    # -- ops ---------------------------------------------------------------
    def _insert(self, ctx: Context):
        n_new = self.batch_rows // 4
        batch = self._batch(np.concatenate([
            self._recent_keys(self.batch_rows - n_new), self._new_keys(n_new),
        ]))

        def fn():
            sdf = ctx.spark.createDataFrame(batch)
            with ctx.tracer.span("policies.insert"):
                self.table.insert(sdf)
            return None, None, len(batch)

        def after(_):
            self._apply(batch)
            size = _dir_usage(self.path)[1]
            self.bytes_written += size - self.disk_bytes
            self.disk_bytes = size
            self.stored_rows += len(batch)
            self.user_bytes += len(batch) * USER_BYTES_PER_ROW
            return True, {}

        return "insert", "write", fn, after

    def _optimize(self, ctx: Context):
        def fn():
            with ctx.tracer.span("policies.optimize"):
                self.table.optimize()
            return None, None, 0

        def after(_):
            size = _dir_usage(self.path)[1]
            live = int(np.count_nonzero(self.ver))
            self.bytes_written += size
            self.disk_bytes = size
            self.stored_rows = live
            self.compact_bytes_per_row = size / live
            return True, {}

        return "optimize", "write", fn, after

    def _read_partitions(self, ctx: Context):
        from pyspark.sql import functions as F

        def fn():
            with ctx.tracer.span("policies.final"):
                df = self.table.final()
            df = df.groupBy("p").agg(
                F.count("*").alias("n"), F.sum("val").alias("s"), F.max("ver").alias("mv")
            )
            return _collect(ctx.tracer, df)

        def after(pdf):
            live = np.flatnonzero(self.ver)
            want = pd.DataFrame({
                "p": live % self.partitions, "val": self.val[live], "ver": self.ver[live],
            }).groupby("p").agg(n=("val", "size"), s=("val", "sum"), mv=("ver", "max"))
            got = pdf.set_index("p").sort_index()
            ok = got.index.tolist() == want.index.tolist() and all(
                (got[c].to_numpy() == want[c].to_numpy()).all() for c in ("n", "s", "mv")
            )
            return ok, self._storage()

        return "final_by_partition", "read", fn, after

    def _read_range(self, ctx: Context):
        from pyspark.sql import functions as F

        lo = int(self._recent_keys(1)[0])
        hi = lo + self.range_keys

        def fn():
            with ctx.tracer.span("policies.final"):
                df = self.table.final()
            df = df.filter((F.col("k") >= lo) & (F.col("k") < hi)).select("k", "ver", "val")
            return _collect(ctx.tracer, df)

        def after(pdf):
            keys = np.arange(lo, min(hi, len(self.ver)))
            keys = keys[self.ver[keys] > 0]
            got = pdf.sort_values("k")
            ok = (
                got["k"].tolist() == keys.tolist()
                and got["ver"].tolist() == self.ver[keys].tolist()
                and got["val"].tolist() == self.val[keys].tolist()
            )
            return ok, self._storage()

        return "final_key_range", "read", fn, after

    def pass_ops(self, ctx: Context, rng: np.random.Generator) -> list:
        ops = []
        for _ in range(self.batches_per_pass):
            ops += [self._insert(ctx), self._read_partitions(ctx), self._read_range(ctx)]
        return ops + [self._optimize(ctx), self._read_partitions(ctx)]

    def detail(self) -> dict:
        return {"write_amp": self.bytes_written / self.user_bytes}


def make(name: str) -> Workload:
    if name == "olap_mix":
        return QueryMix("olap_mix", OLAP_QUERIES, [], min_warm_passes=2)
    if name == "llm_dedup":
        return QueryMix("llm_dedup", PIPELINE_QUERIES, [], min_warm_passes=2)
    if name == "adhoc_ch_sql":
        return QueryMix("adhoc_ch_sql", [], AD_HOC_TEMPLATES, min_warm_passes=3)
    if name == "upsert_final":
        return UpsertFinal()
    raise SystemExit(f"unknown workload {name!r}")
