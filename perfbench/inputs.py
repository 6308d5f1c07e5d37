"""Seeded inputs: fixture tables written as parquet, and generated envelope
batches.

Everything here is a pure function of the seed, so the same seed gives the
same inputs. The program under test only ever sees the generated data.
"""

from __future__ import annotations

import os
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENT_TYPE_P = [0.45, 0.3, 0.1, 0.05, 0.1]
SEGMENTS = np.array(["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
WORDS = np.array(
    "a the key value row scan slow fast table part hash merge batch spark line sort "
    "window data column agg join small big order query customer stream filter group "
    "vector".split()
)
LANGS = np.array(["en", "de", "fr", "es"])
EMB_DIM = 64
EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def _skewed(rng: np.random.Generator, n: int, size: int, a: float = 1.1) -> np.ndarray:
    """``size`` draws from 0..n-1 with power-law popularity (rank^-a)."""
    p = 1.0 / np.arange(1, n + 1) ** a
    return rng.choice(n, size=size, p=p / p.sum())


def _dates(rng: np.random.Generator, size: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi_d - lo_d).astype(int)), size)
    return (lo_d + days).astype("datetime64[us]")


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    n_users = max(100, n // 20)
    gaps_us = rng.exponential(20e6, n).astype(np.int64) + 1
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(EPOCH + np.cumsum(gaps_us).astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": _skewed(rng, n_users, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n, p=EVENT_TYPE_P),
            "value": np.round(rng.gamma(2.0, 12.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def key_value_pool(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Keys and payloads to draw generated envelope rows from: ``n`` user
    keys with power-law popularity, as in the events table, and small JSON
    payloads."""
    keys = _skewed(rng, max(100, n // 20), n).astype(str).astype(object)
    values = np.array([f'{{"k": {k}}}'.encode() for k in rng.integers(0, 100, n)], dtype=object)
    return keys, values


def relational_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    """customer / orders / lineitem in the TPC-H-like fixture schemas; row
    counts follow TPC-H at ``scale``."""
    n_cust = max(100, int(150_000 * scale))
    n_ord = max(400, int(1_500_000 * scale))
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    odate = _dates(rng, n_ord, "1995-01-01", "1998-12-31")
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
            "o_totalprice": np.round(rng.uniform(900, 500_000, n_ord), 2),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, max(200, int(200_000 * scale)), n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, max(10, int(10_000 * scale)), n_li).astype(np.int64),
            "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; one in ten is a near-copy of an earlier one
    with a few words replaced, so near-duplicate detection has work."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(20, 80))))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=[0.7, 0.1, 0.1, 0.1]),
            "source": [f"src{i % 5}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, n_labels: int = 8) -> pa.Table:
    centroids = rng.normal(0, 1, (n_labels, EMB_DIM))
    labels = rng.integers(0, n_labels, n)
    vecs = centroids[labels] + rng.normal(0, 1.5, (n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def write_fixtures(out_dir: str, seed: int, scale: float, tables: tuple[str, ...]) -> dict[str, int]:
    """Write the named fixture tables as ``<out_dir>/<name>.parquet``;
    returns row counts. ``scale`` is the TPC-H scale factor: events,
    documents and embeddings follow the fixtures' own per-sf sizes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    out: dict[str, pa.Table] = {}
    if "events" in tables:
        out["events"] = events_table(rng, int(1_000_000 * scale))
    if {"customer", "orders", "lineitem"} & set(tables):
        out.update(relational_tables(rng, scale))
    if "documents" in tables:
        out["documents"] = documents_table(rng, int(50_000 * scale))
    if "embeddings" in tables:
        out["embeddings"] = embeddings_table(rng, int(50_000 * scale))
    for name in tables:
        pq.write_table(out[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: out[name].num_rows for name in tables}


class EnvelopeSource:
    """Builds envelope batches (pandas) from a pool of producer names.

    Each row's key and payload is a uniform draw from ``keys``/``values``
    (rows of the stored envelope, whose keys are already unevenly
    distributed); each batch spreads its rows over ``per_batch`` names of
    the pool, each name with its own gap-free sequence ids, so the
    broker's per-producer dedup sees many producers."""

    def __init__(self, seed: int, names: list[str], keys: np.ndarray, values: np.ndarray, per_batch: int,
                 publish_start: np.datetime64 = EPOCH):
        self.rng = np.random.default_rng(seed)
        self.names = np.array(names, dtype=object)
        self.next_seq = {n: 0 for n in names}
        self.keys, self.values = keys, values
        self.per_batch = min(per_batch, len(names))
        self.publish_start = publish_start.astype("datetime64[us]")
        self.publish_us = 0

    def batch(self, n: int) -> pd.DataFrame:
        rng = self.rng
        idx = rng.integers(0, len(self.keys), n)
        chosen = self.names[rng.choice(len(self.names), self.per_batch, replace=False)]
        owner = chosen[np.sort(rng.integers(0, self.per_batch, n))]
        seq = np.empty(n, dtype=np.int64)
        for name in chosen:
            rows = np.flatnonzero(owner == name)
            seq[rows] = self.next_seq[name] + np.arange(len(rows))
            self.next_seq[name] += len(rows)
        pt = self.publish_start + (self.publish_us + np.arange(n)).astype("timedelta64[us]")
        self.publish_us += n
        return pd.DataFrame(
            {
                "key": self.keys[idx],
                "value": self.values[idx],
                "event_time": pt,
                "publish_time": pt,
                "producer_name": owner,
                "sequence_id": seq,
            }
        )
