"""Seeded generator for the engine's table layout.

Writes one parquet file per table (``region nation customer supplier part
orders lineitem events documents embeddings``) with the column names and
types the query registry and its DuckDB oracles expect. Row counts depend
only on the scale factor; the seed changes every value, so two seeds give
the same work with different data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
DATE_SPAN_DAYS = 2_405  # 1995-01-01 .. 2001-08-03
EVENTS_START = np.datetime64("2024-01-01", "us").astype(np.int64)
EMBED_DIM = 64


def table_rows(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (lineitem = 6M x sf)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(int(150_000 * sf), 10),
        "supplier": max(int(10_000 * sf), 5),
        "part": max(int(200_000 * sf), 10),
        "orders": max(int(1_500_000 * sf), 20),
        "lineitem": max(int(6_000_000 * sf), 50),
        "events": max(int(1_000_000 * sf), 50),
        "documents": max(int(50_000 * sf), 20),
        "embeddings": max(int(50_000 * sf), 20),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int) -> pa.Array:
    us = EPOCH_1995 + rng.integers(0, DATE_SPAN_DAYS, n) * DAY_US
    return pa.array(us.astype("datetime64[us]"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts. Every eighth text is a near copy of an earlier
    one (one word changed plus a ``dup`` marker), so the dedup operators
    find pairs. The lengths are a shuffle of one fixed spread, so every
    seed gives the same amount of text."""
    lengths = rng.permutation(8 + (np.arange(n) * 82) // n)
    texts: list[str] = []
    for i in range(n):
        if i % 8 == 7:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.append("dup")
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(lengths[i]))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors scattered around ten labelled centres of equal size.
    Members of one centre have a cosine near 0.6, clear of the 0.4 the
    near-duplicate queries use, so the pair count barely moves with the
    seed."""
    centres = rng.normal(size=(10, EMBED_DIM))
    label = rng.permutation(np.arange(n) % 10)
    vecs = centres[label] + rng.normal(scale=0.8, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def generate_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, fully determined by ``seed``."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    nc, ns = n["customer"], n["supplier"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, npart)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, npart)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)),
    })
    no, nl = n["orders"], n["lineitem"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": _days(rng, no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(rng.integers(0, npart, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, nl),
    })
    ne = n["events"]
    ts = EVENTS_START + np.sort(rng.integers(0, 30 * DAY_US, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(ne // 66, 5), ne)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write each table as ``<out_dir>/<name>.parquet``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
