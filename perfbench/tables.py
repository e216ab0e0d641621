"""Seeded generator for the tables the headline queries read.

Same schemas, column types and file layout (one parquet file per table,
one row group) as the repository's TPC-H-like test tables, so every
headline query and its DuckDB oracle run unchanged. Only the six tables
those queries read are written: lineitem, orders, customer, events,
documents, embeddings. Content is a pure function of (seed, sizes).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]

# rows per table; the text tables set the cost of most headline queries
SIZES = {
    "customer": 1500,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            k = int(rng.integers(10, 90))
            texts.append(" ".join(rng.choice(_VOCAB, size=k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, size=n, p=_LANG_P).tolist()),
            "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    centers = rng.standard_normal((n_labels, dim))
    labels = rng.integers(0, n_labels, n).astype(np.int32)
    vecs = centers[labels] + 0.8 * rng.standard_normal((n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def make_tables(seed: int, sizes: dict[str, int] = SIZES) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_c, n_o, n_l = sizes["customer"], sizes["orders"], sizes["lineitem"]
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_c), 2)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, size=n_c).tolist()),
        }
    )
    orderdate = _days(rng, n_o, "1995-01-01", 2404)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n_o).tolist()),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_o), 2)),
            "o_orderdate": pa.array(orderdate),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, size=n_o).tolist()),
        }
    )
    l_order = rng.integers(0, n_o, n_l).astype(np.int64)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order),
            "l_partkey": pa.array(rng.integers(0, 2000, n_l).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 100, n_l).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(
                np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n_l).tolist()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], size=n_l).tolist()),
            "l_shipdate": pa.array(
                orderdate[l_order]
                + rng.integers(1, 122, n_l).astype("timedelta64[D]")
            ),
        }
    )
    n_e = sizes["events"]
    ev_ts = np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86400 * 10**6, n_e
    ).astype("timedelta64[us]")
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
            "ts": pa.array(np.sort(ev_ts)),
            "user_id": pa.array(rng.integers(0, 150, n_e).astype(np.int64)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, size=n_e).tolist()),
            "value": pa.array(np.round(rng.exponential(50.0, n_e), 2) + 0.01),
            "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_e)]),
        }
    )
    return {
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng, sizes["documents"]),
        "embeddings": _embeddings(rng, sizes["embeddings"]),
    }


def write_tables(seed: int, out_dir: str) -> int:
    """Write every table as `<out_dir>/<name>.parquet`; returns total rows."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        total += table.num_rows
    return total
