"""Seeded stand-ins for the star-schema query tables.

The query catalog reads ``<dir>/<table>.parquet``.  This module writes
the five tables the ``query_mix`` workload touches (lineitem, orders,
events, documents, embeddings) with the same column names, types and
value shapes as the sf0.x test tables, scaled by ``sf`` (sf=1.0 means
6M lineitem rows).  Each table is one parquet file with one row group,
like the test tables, so scan parallelism matches them.

Same ``(sf, seed)`` gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("lineitem", "orders", "events", "documents", "embeddings")

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64

_DAY_US = 86_400 * 10**6


def _days(rng, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, size=n) * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def lineitem(rng, sf: float) -> pa.Table:
    n = int(6_000_000 * sf)
    return pa.table({
        "l_orderkey": rng.integers(0, int(1_500_000 * sf), size=n),
        "l_partkey": rng.integers(0, int(200_000 * sf), size=n),
        "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), size=n),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n), pa.int32()),
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, size=n)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, size=n)],
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
    })


def orders(rng, sf: float) -> pa.Table:
    n = int(1_500_000 * sf)
    prio = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
    )
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, int(150_000 * sf), size=n),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, size=n)],
        "o_totalprice": _money(rng, n, 1_000.0, 500_000.0),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, size=n)],
    })


def events(rng, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * _DAY_US, size=n))
    kinds = np.array(["click", "error", "purchase", "signup", "view"], dtype=object)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), size=n),
        "event_type": kinds[rng.integers(0, 5, size=n)],
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], dtype=object),
    })


def documents(rng, sf: float) -> pa.Table:
    """Random-word documents; 5% are a copy of an earlier document with
    " dup" appended and a few are exact copies, so the dedup queries
    find near-duplicate and duplicate pairs."""
    n = int(50_000 * sf)
    words = np.array(WORDS, dtype=object)
    lens = rng.integers(8, 100, size=n)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lens]
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in range(n)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, sf: float) -> pa.Table:
    n = int(20_000 * sf)
    v = rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(v.ravel(), DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, name in enumerate(TABLES):
        rng = np.random.default_rng([seed, i])
        tbl = globals()[name](rng, sf)
        pq.write_table(
            tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=tbl.num_rows or 1
        )
        rows[name] = tbl.num_rows
    return rows
