"""Synthetic input tables for the benchmark.

The tables follow the shapes of the engine's test data (FIXTURES.md):
a TPC-H-like star (``customer``, ``orders``, ``lineitem``) for cohort
queries and a ``documents`` text table for the LLM-data operators. Each
table is written as ONE parquet file with ONE row group, like the test
data, so every scan is one task.

All generation is numpy-vectorised and seeded: the same arguments give
byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
RETURNFLAGS = ["A", "N", "R"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# Order dates span 1995-01-01 .. 2001-08-01 (days since the epoch).
_ORDER_DAY0 = 9131
_ORDER_DAYS = 2404
_US_PER_DAY = 86_400_000_000


def _write(table: pa.Table, path: str) -> None:
    """Write one parquet file with a single row group, atomically."""
    tmp = f"{path}.tmp{os.getpid()}"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    return rng.integers(lo_cents, hi_cents + 1, n) / 100.0


def star_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """customer / orders / lineitem at scale factor ``sf``; returns row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)

    cust = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -99_999, 999_999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    o_days = _ORDER_DAY0 + rng.integers(0, _ORDER_DAYS + 1, n_ord)
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 100_000, 50_000_000, n_ord),
        "o_orderdate": pa.array(o_days * _US_PER_DAY, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = l_order.size
    starts = np.cumsum(lines) - lines
    l_num = (np.arange(n_li) - np.repeat(starts, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_days = np.repeat(o_days, lines) + rng.integers(1, 95, n_li)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, int(200_000 * sf), n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, int(10_000 * sf), n_li).astype(np.int64),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 90_000, 210_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(RETURNFLAGS)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship_days * _US_PER_DAY, pa.timestamp("us")),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, t in (("customer", cust), ("orders", orders), ("lineitem", lineitem)):
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_li}


def documents(out_dir: str, n_docs: int, seed: int, first_id: int = 0) -> int:
    """``documents``: space-separated tokens from a 30-word vocabulary,
    10-100 tokens each. Doc ids are ``first_id .. first_id + n_docs - 1``."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n_docs)
    toks = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.cumsum(lengths)
    texts = [" ".join(t) for t in np.split(toks, bounds[:-1])]
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    return n_docs
