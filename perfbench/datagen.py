"""Seeded input tables for the benchmark.

Every table is a pure function of ``(seed, scale)``.  Schemas and
value domains follow the relational test tables the declared queries
and their DuckDB oracles were written against (a TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``), so a query
and its oracle read the same generated files.  Nothing here calls the
engine: the program under test only ever sees the written parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "en", "zh", "es", "fr", "de"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "green", "cold"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe",
             "cap"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64


def documents_pdf(rng: np.random.Generator, n: int,
                  dup_rate: float = 0.1
                  ) -> tuple[pd.DataFrame, np.ndarray]:
    """``n`` word-salad documents over a 31-word vocabulary.  A share
    ``dup_rate`` are copies of an earlier document with at most two
    words replaced, so every dedup operator has clusters to find.
    Also returns, per document, the id it is an exact copy of (-1
    when it is not one)."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    exact_dup_of = np.full(n, -1, dtype=np.int64)
    for i in range(n):
        if i > 0 and rng.random() < dup_rate:
            src = int(rng.integers(0, i))
            words = texts[src].split(" ")
            n_edit = int(rng.integers(0, 3))
            for _ in range(n_edit):
                words[int(rng.integers(0, len(words)))] = str(
                    vocab[rng.integers(0, len(vocab))])
            if n_edit == 0:
                exact_dup_of[i] = src
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    doc_id = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": doc_id,
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), exact_dup_of


def embeddings_pdf(rng: np.random.Generator, n: int,
                   dup_rate: float = 0.05) -> pd.DataFrame:
    """Unit vectors in 64 dimensions with 10 labels; a share
    ``dup_rate`` are small perturbations (cosine ~0.99) of an earlier
    vector, the near-duplicates embedding dedup must drop."""
    vecs = rng.normal(size=(n, EMB_DIM))
    for i in range(1, n):
        if rng.random() < dup_rate:
            src = int(rng.integers(0, i))
            vecs[i] = vecs[src] / np.linalg.norm(vecs[src]) \
                + rng.normal(scale=0.01, size=EMB_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def _ts(base: str, seconds: np.ndarray) -> np.ndarray:
    return (np.datetime64(base, "us")
            + (seconds * 1e6).astype("timedelta64[us]"))


def relational_tables(rng: np.random.Generator, scale: float
                      ) -> dict[str, pd.DataFrame]:
    """region / nation / customer / supplier / part / orders /
    lineitem / events at ``scale`` (1.0 ~ 6M lineitem rows)."""
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 200)
    n_ev = max(int(1_000_000 * scale), 500)
    day = 86400.0

    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                           "r_name": REGIONS})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000)
                                  / 10.0, 2),
    })
    order_day = rng.integers(0, 2400, n_ord)
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", order_day * day),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines_per = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(l_ord)
    l_num = (np.arange(n_li) - np.repeat(np.cumsum(lines_per) - lines_per,
                                         lines_per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li),
                                    2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-01", (np.repeat(order_day, lines_per)
                                         + rng.integers(1, 122, n_li))
                          * day),
    })
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * day, n_ev))),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev)
        .astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events}


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    """One parquet file, timestamps at microsecond precision."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    if "embedding" in pdf.columns:
        table = table.set_column(
            table.schema.get_field_index("embedding"), "embedding",
            pa.array([v.tolist() for v in pdf["embedding"]],
                     type=pa.list_(pa.float32())))
    pq.write_table(table, path, coerce_timestamps="us")
