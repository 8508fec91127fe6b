"""Seeded generator for the query workloads' input tables.

Writes the ten tables the checked queries read (``region nation
customer supplier part orders lineitem events documents embeddings``)
as one parquet file each under ``out_dir``, with the column names and
types of the repository's fixture tables, so ``__spark_entry__``
queries and their ``oracle_sql()`` twins run on them unchanged.

Columns are independent draws, as in the fixtures. Two shapes are
kept on purpose because operators depend on them:

* documents carry near-duplicate chains: a copy drops the parent's
  first word and appends `` dup``, and a copy can itself be copied.
  The longest chain sets the diameter of the dedup graph, which is
  what ``connected_components`` cost follows.
* embeddings carry near-duplicate vectors (a base vector plus small
  noise), so the sign-LSH near-dup join has pairs to verify.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS = ["en", "zh", "es", "de", "fr"]
# Default sizes: those of the sf0.01 fixture tables (15,000 orders,
# ~60,000 line items, 10,000 events, 500 documents, 500 vectors).
N_ORDERS = 15_000
N_EVENTS = 10_000
N_DOCS = 500
N_VECS = 500
EMBED_DIM = 64
VEC_DUP_SHARE = 0.05
MAX_CHAIN = 3


def _write(out_dir: str, name: str, df: pd.DataFrame, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _days(base: str, offsets: np.ndarray) -> pd.Series:
    return pd.Series(pd.Timestamp(base) + pd.to_timedelta(offsets, unit="D"))


def documents(rng: np.random.Generator, n_docs: int, dup_share: float, vocab_size: int) -> pd.DataFrame:
    """Random bag-of-words documents plus near-duplicate chains of at
    most ``MAX_CHAIN`` copies. With the fixtures' 31-word vocabulary
    most random documents are near-duplicates of each other; a larger
    ``vocab_size`` leaves the chains as the only near-duplicates."""
    vocab = VOCAB + [f"w{i}" for i in range(vocab_size - len(VOCAB))]
    texts: list[str] = []
    depth: list[int] = []
    parents: list[int] = []  # documents that may still be copied
    for _ in range(n_docs):
        if parents and rng.random() < dup_share:
            p = parents[int(rng.integers(len(parents)))]
            texts.append(texts[p].split(" ", 1)[1] + " dup")
            depth.append(depth[p] + 1)
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(vocab, size=n)))
            depth.append(0)
        if depth[-1] < MAX_CHAIN and len(texts[-1]) > 40:
            parents.append(len(texts) - 1)
    lang = rng.choice(LANGS, size=n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n_vecs: int) -> pd.DataFrame:
    dim = EMBED_DIM
    labels = rng.integers(0, 10, size=n_vecs)
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = 0.15 * centers[labels] + rng.normal(size=(n_vecs, dim)) / np.sqrt(dim)
    for i in range(1, n_vecs):
        if rng.random() < VEC_DUP_SHARE:
            j = int(rng.integers(i))
            x[i] = x[j] + rng.normal(scale=0.3 / np.sqrt(dim), size=dim)
            labels[i] = labels[j]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(x.astype(np.float32)),
        "label": labels.astype(np.int32),
    })


def generate(
    out_dir: str,
    seed: int,
    n_orders: int = N_ORDERS,
    n_events: int = N_EVENTS,
    n_docs: int = N_DOCS,
    n_vecs: int = N_VECS,
    dup_share: float = 0.05,
    vocab_size: int = len(VOCAB),
) -> None:
    """Write all ten tables under ``out_dir``; same seed, same bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    n_cust = max(10, n_orders // 10)
    _write(out_dir, "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, size=n_cust),
    }), pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))

    n_supp = max(10, n_orders // 150)
    _write(out_dir, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n_supp), 2),
    }), pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))

    n_part = max(10, n_orders * 2 // 15)
    pkey = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", pd.DataFrame({
        "p_partkey": pkey,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, size=(n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], size=n_part),
        "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pkey % 1000) * 0.1, 2),
    }), pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]))

    # every 7th customer places no order, so the anti-join has answers
    buyers = np.array([c for c in range(n_cust) if c % 7], dtype=np.int64)
    odate = rng.integers(0, 2405, size=n_orders)
    _write(out_dir, "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.choice(buyers, size=n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, size=n_orders), 2),
        "o_orderdate": _days("1995-01-01", odate),
        "o_orderpriority": rng.choice(PRIORITIES, size=n_orders),
    }), pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))

    lines = rng.integers(1, 8, size=n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(okey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    lpart = rng.integers(0, n_part, size=n_li)
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    _write(out_dir, "lineitem", pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": lpart.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, size=n_li).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (lpart % 1000) * 0.1), 2),
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], size=n_li),
        "l_linestatus": rng.choice(["O", "F"], size=n_li),
        "l_shipdate": _days("1995-01-02", odate[okey] + rng.integers(0, 122, size=n_li)),
    }), pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                   ("l_linestatus", s), ("l_shipdate", ts)]))

    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, size=n_events))
    _write(out_dir, "events", pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pd.Series(pd.Timestamp("2024-01-01") + pd.to_timedelta(micros, unit="us")),
        "user_id": rng.integers(0, max(2, n_events * 3 // 200), size=n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=n_events),
        "value": np.round(rng.exponential(50.0, size=n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)],
    }), pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]))

    _write(out_dir, "documents", documents(rng, n_docs, dup_share, vocab_size),
           pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))
    _write(out_dir, "embeddings", embeddings(rng, n_vecs),
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))
