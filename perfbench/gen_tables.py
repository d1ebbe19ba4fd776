"""Seeded analytics tables for the `analytics` workload.

Writes lineitem, orders, events, documents and embeddings as one parquet
file each, with the column names and physical types the engine's table
readers expect, and value distributions shaped like the TPC-H-style test
tables the engine's queries were written against:

  - lineitem/orders: uniform keys, dates, flags and 2-dp prices;
  - events: a one-month µs timestamp window, Exp(mean 50) values rounded to
    2 dp, uniform event types and `{"k": 0..99}` JSON props;
  - documents: uniform draws over a 31-token vocabulary, 10..100 tokens,
    `en` twice as likely as each other language, 20 sources and a small
    share of planted exact duplicates;
  - embeddings: uniform random unit 64-d float32 vectors, labels 0..9.

`scale` multiplies every row count (1.0 is the size of the sf0.1 tables).
The same seed always yields byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
US_PER_DAY = 86_400_000_000


def _days(rng, first, last, n):
    """Midnight µs timestamps drawn uniformly from [first, last]."""
    a = np.datetime64(first, "D").astype(np.int64)
    b = np.datetime64(last, "D").astype(np.int64)
    return pa.array(rng.integers(a, b + 1, n) * US_PER_DAY, pa.timestamp("us"))


def _cents(rng, lo, hi, n):
    return pa.array(rng.integers(lo * 100, hi * 100, n) / 100.0, pa.float64())


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def lineitem(rng, n, n_orders, n_parts):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": _cents(rng, 900, 105_000, n),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })


def orders(rng, n, n_customers):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _cents(rng, 1000, 500_000, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })


def events(rng, n):
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(n * 0.015)), n), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def documents(rng, n):
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # plant exact duplicates: ~0.16% of documents copy an earlier text
    for i in rng.choice(np.arange(1, n), max(1, n * 16 // 10_000), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    weights = np.array([1.0, 2.0, 1.0, 1.0, 1.0])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=weights / weights.sum()),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out_dir, seed, scale, doc_scale):
    """Write the five tables under `out_dir`; returns their names."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = max(100, int(150_000 * scale))
    tables = {
        "lineitem": lineitem(rng, int(600_000 * scale), n_orders, max(100, int(20_000 * scale))),
        "orders": orders(rng, n_orders, max(100, int(15_000 * scale))),
        "events": events(rng, int(100_000 * scale)),
        "documents": documents(rng, int(5_000 * doc_scale)),
        "embeddings": embeddings(rng, int(2_000 * doc_scale)),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return list(tables)
