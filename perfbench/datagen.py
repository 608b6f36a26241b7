"""Deterministic parquet fixtures for the benchmark.

The tables follow the shape of the repository's TPC-H-like test fixtures
(FIXTURES.md): uniform keys, a 30-word text vocabulary with 5% planted
near-duplicates, and an `events` stream over 30 days. Rows are a pure
function of (seed, scale), so every checkout regenerates identical files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
STATUSES = ["P", "O", "F"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - _EPOCH).total_seconds() * 1_000_000)


def _ts(values_us):
    return pa.array(values_us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def nation():
    keys = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": keys,
        "n_name": [f"NATION_{k}" for k in keys],
        "n_regionkey": (keys % 5).astype(np.int32),
    })


def orders(rng, sf):
    n = int(1_500_000 * sf)
    day0 = _us(dt.datetime(1995, 1, 1))
    days = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, n // 10), n, dtype=np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(day0 + rng.integers(0, days + 1, n) * 86_400_000_000),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def lineitem(rng, sf):
    n = int(6_000_000 * sf)
    n_orders = int(1_500_000 * sf)
    day0 = _us(dt.datetime(1995, 1, 2))
    days = (dt.datetime(2001, 11, 4) - dt.datetime(1995, 1, 2)).days
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n, dtype=np.int64),
        "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), n, dtype=np.int64),
        "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(day0 + rng.integers(0, days + 1, n) * 86_400_000_000),
    })


def documents(rng, sf):
    n = int(50_000 * sf)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
             for _ in range(n)]
    # plant near-duplicates: 5% of docs copy another doc and append "dup"
    for i in sorted(rng.choice(n, size=n // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def events(rng, sf):
    n = int(1_000_000 * sf)
    t0 = _us(dt.datetime(2024, 1, 1))
    span = 30 * 86_400_000_000
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(np.sort(t0 + rng.integers(0, span, n))),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _money(rng, 0.01, 500.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


TABLES = {"nation": None, "orders": orders, "lineitem": lineitem,
          "documents": documents, "events": events}


def generate(out_dir, sf, tables, seed=42):
    """Write `<table>.parquet` for each name in `tables` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    for name in sorted(tables):
        rng = np.random.default_rng([seed, sorted(TABLES).index(name)])
        t = nation() if name == "nation" else TABLES[name](rng, sf)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
