"""Seeded input tables for the benchmark.

Writes one parquet file per table into a directory, with the same column
names and types graft's `Tables` loaders read. The same seed always gives
byte-identical inputs.

The tables follow the repository's sf0.1 test fixture at SCALE of its
rows, with every key space scaled the same way, so per-key densities
(edges per part, events per user, orders per customer) match sf0.1:

- documents: 5000 rows; text of 10-100 tokens (uniform), drawn uniformly
  from 30 words; 5% of the documents are another document's text plus the
  token "dup" (two of them with the same source give an exact duplicate).
- events: 100000 rows over 1500 users and 30 days; 5 event types, uniform;
  value exponential with mean 50.
- lineitem: 600000 rows; part keys uniform over 20000, supplier keys
  uniform over 1000, so the part -> supplier graph has 30 out-edges per
  part and every supplier key is also a part key.
- orders: 150000 rows over 15000 customers; status uniform over F/O/P,
  price uniform in 1000-500000, order dates in 1995-01-01..2001-08-01.
- embeddings: 2000 unit vectors of dimension 64 around 10 labels.

sf0.1 stores each table as a single row group, under which scan split
sizing cannot change a scan's task count. Here each table is written as
ROW_GROUPS row groups so that split sizing has row groups to divide.

    python3 perfbench/gen.py <out_dir> <seed>
"""
import json
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.2
ROW_GROUPS = 8


def _n(sf01_rows):
    return int(sf01_rows * SCALE)


SIZES = {
    "documents": _n(5000),
    "events": _n(100000),
    "event_users": _n(1500),
    "lineitem": _n(600000),
    "parts": _n(20000),
    "suppliers": _n(1000),
    "orders": _n(150000),
    "customers": _n(15000),
    "embeddings": _n(2000),
}
EMBEDDING_DIM = 64
LABELS = 10
NEAR_DUP_SHARE = 0.05

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def _documents(rng):
    n = SIZES["documents"]
    texts = []
    for _ in range(n):
        ln = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), ln)))
    # near duplicates for the dedup and curation stages
    dups = rng.choice(n, int(n * NEAR_DUP_SHARE), replace=False)
    sources = np.setdiff1d(np.arange(n), dups)
    for i in dups:
        texts[i] = texts[int(rng.choice(sources))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _events(rng):
    n = SIZES["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 24 * 3600 * 10**6
    ts = np.sort(start + rng.integers(0, span, n))
    types = np.array(["signup", "purchase", "view", "click", "error"])
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, SIZES["event_users"], n).astype(np.int64)),
        "event_type": pa.array(types[rng.integers(0, len(types), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _lineitem(rng):
    n = SIZES["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, SIZES["orders"], n)).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, SIZES["parts"], n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, SIZES["suppliers"], n).astype(np.int64)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
    })


def _orders(rng):
    n = SIZES["orders"]
    day0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    span = int(np.datetime64("2001-08-01", "D").astype(np.int64) - day0) + 1
    days = day0 + rng.integers(0, span, n)
    status = np.array(["F", "O", "P"])
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, SIZES["customers"], n).astype(np.int64)),
        "o_orderstatus": pa.array(status[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": pa.array((days * 86400 * 10**6).astype("datetime64[us]")),
    })


def _embeddings(rng):
    n = SIZES["embeddings"]
    centers = rng.normal(size=(LABELS, EMBEDDING_DIM))
    label = rng.integers(0, LABELS, n)
    v = centers[label] + rng.normal(scale=1.5, size=(n, EMBEDDING_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


TABLES = {
    "documents": _documents,
    "events": _events,
    "lineitem": _lineitem,
    "orders": _orders,
    "embeddings": _embeddings,
}


def generate(out_dir, seed):
    """Write every table for `seed` into out_dir; returns per-table sizes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for i, (name, fn) in enumerate(TABLES.items()):
        # one stream per table: a table's rows do not depend on the others
        rng = np.random.default_rng([seed, i])
        table = fn(rng)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path,
                       row_group_size=math.ceil(table.num_rows / ROW_GROUPS))
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path),
                       "row_groups": pq.ParquetFile(path).metadata.num_row_groups}
    li = pq.read_table(os.path.join(out_dir, "lineitem.parquet"), columns=["l_partkey", "l_suppkey"])
    edges = set(zip(li["l_partkey"].to_pylist(), li["l_suppkey"].to_pylist()))
    sizes["lineitem"].update(edges=len(edges),
                             vertices=len({v for e in edges for v in e}))
    return sizes


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]))))
