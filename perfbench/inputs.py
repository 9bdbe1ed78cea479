"""Seeded input generator: the ten tables the engine reads, at a given scale.

The shapes and value domains follow the engine's test data (a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``), so every
registry query and its DuckDB oracle run unchanged on the output; like
the test data, ``events.ts`` is parquet TIMESTAMP(MICROS), so the engine
reads it through the same plan the oracle gate runs. Every
table is drawn from its own child of one ``numpy`` seed sequence, so the
same seed writes byte-identical parquet files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# rows per unit of scale factor (TPC-H convention: sf 1 = 6M lineitems)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
# the corpus tables never shrink below the smallest test tier
MIN_ROWS = {"documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "small", "green", "cold", "red", "old"]
PART_NOUN = ["ring", "bolt", "anvil", "widget", "gear", "nut", "pipe", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EMBED_DIM = 64
N_LABELS = 10
NEAR_DUP_FRAC = 0.05

_EPOCH = np.datetime64("1970-01-01", "D")


def _rows(table: str, sf: float) -> int:
    return max(MIN_ROWS.get(table, 1), int(round(ROWS_PER_SF[table] * sf)))


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = (np.datetime64(start, "D") - _EPOCH).astype(np.int64)
    hi = (np.datetime64(end, "D") - _EPOCH).astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _region(rng, sf):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })


def _nation(rng, sf):
    keys = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": keys,
        "n_name": [f"NATION_{k}" for k in keys],
        "n_regionkey": keys % 5,
    })


def _customer(rng, sf):
    n = _rows("customer", sf)
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })


def _supplier(rng, sf):
    n = _rows("supplier", sf)
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "s_suppkey": keys,
        "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def _part(rng, sf):
    n = _rows("part", sf)
    keys = np.arange(n, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return pa.table({
        "p_partkey": keys,
        "p_name": rng.choice(names, n),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })


def _orders(rng, sf):
    n = _rows("orders", sf)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, _rows("customer", sf), n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n, rng),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def _lineitem(rng, sf):
    n = _rows("lineitem", sf)
    return pa.table({
        "l_orderkey": rng.integers(0, _rows("orders", sf), n),
        "l_partkey": rng.integers(0, _rows("part", sf), n),
        "l_suppkey": rng.integers(0, _rows("supplier", sf), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n, rng),
    })


def _events(rng, sf):
    n = _rows("events", sf)
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us - n, n))
    # strictly increasing: event time is unique, so the trip natural key is
    offs = np.maximum.accumulate(offs - np.arange(n)) + np.arange(n)
    ts = np.datetime64(datetime(2024, 1, 1), "us") + offs.astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, int(150_000 * sf)), n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, sf):
    n = _rows("documents", sf)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lengths]
    # near-duplicates: another document's text with one marker word appended
    for i in np.flatnonzero(rng.random(n) < NEAR_DUP_FRAC):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, sf):
    n = _rows("embeddings", sf)
    centroids = rng.normal(size=(N_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n)
    x = 0.58 * centroids[labels] + rng.normal(scale=EMBED_DIM**-0.5, size=(n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


_MAKERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every table."""
    os.makedirs(out_dir, exist_ok=True)
    children = np.random.SeedSequence(seed).spawn(len(TABLES))
    for name, ss in zip(TABLES, children):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(_MAKERS[name](np.random.default_rng(ss), sf), path)


def split_batches(
    events_path: str, out_dir: str, seed: int, k: int, redeliver: float
) -> list[str]:
    """Cut ``events`` into ``k`` ingest batches by a seeded hash of
    ``event_id``, except that the newest day goes to the last batch. Batch
    ``i`` holds slice ``i`` plus a seeded ``redeliver`` share of slice
    ``i - 1``, re-sent unchanged. Returns the batch paths.

    With the newest observations always in the last batch, its stream
    drain always moves the watermark on and runs the extra batch that
    evicts state; left to the hash, about half the seeds would skip it and
    drain in half the time."""
    events = pq.read_table(events_path)
    ids = events.column("event_id").to_numpy()
    ts = events.column("ts").to_numpy()
    rng = np.random.default_rng([seed, k])
    slot = rng.permutation(len(ids)) % k
    slot[ts >= ts.max() - np.timedelta64(1, "D")] = k - 1
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(k):
        take = slot == i
        if i:
            prev = np.flatnonzero(slot == i - 1)
            again = rng.choice(prev, int(round(redeliver * len(prev))), replace=False)
            take[again] = True
        path = os.path.join(out_dir, f"batch_{i:02d}.parquet")
        pq.write_table(events.filter(pa.array(take)), path)
        paths.append(path)
    return paths
