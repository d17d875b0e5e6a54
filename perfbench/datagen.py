"""Seeded generator for the ten input tables the registry reads.

The tables follow the shapes the query registry and its DuckDB oracles
expect: TPC-H-like ``region nation customer supplier part orders
lineitem``, an ``events`` click stream, a ``documents`` corpus over a
31-word vocabulary with a share of near-duplicate copies, and unit-norm
64-dimensional ``embeddings`` with a weak per-label cluster structure.
Row counts scale with ``sf`` the way the TPC-H tables do; the document
and embedding corpora have fixed sizes.

Everything is drawn from one ``numpy`` generator, so a seed always gives
byte-identical Parquet files. A ``Profile`` names the input sizes of one
benchmark configuration, the DAG's event batches included.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Rows per unit of scale factor.
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["cold", "small", "large", "blue", "red", "green", "shiny", "tiny"]
PART_NOUN = ["widget", "bolt", "rod", "gear", "valve", "spring", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "the a join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
N_DOCS = 500
N_EMB = 500
EMB_DIM = 64
NEAR_DUP_SHARE = 0.05


@dataclass(frozen=True)
class Profile:
    """Input sizes. ``bench`` is what the benchmark measures; ``smoke``
    runs every code path on tiny inputs. The DAG lands ``batches``
    hourly batches of ``batch_events`` fresh events each."""

    sf: float
    batches: int
    batch_events: int


PROFILES = {
    "bench": Profile(sf=0.01, batches=2, batch_events=2000),
    "smoke": Profile(sf=0.001, batches=2, batch_events=300),
}


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < NEAR_DUP_SHARE:
            # near-duplicate: an earlier document with one marker token
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, 10, N_EMB)
    centroids = rng.normal(0.0, 1.0, (10, EMB_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    x = 0.14 * centroids[labels] + rng.normal(0.0, 0.125, (N_EMB, EMB_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n = {t: max(int(r * sf), 1) for t, r in ROWS_PER_SF.items()}
    n["supplier"] = max(n["supplier"], 10)
    n_users = max(n["events"] // 66, 15)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": pa.array(_money(rng, c, -999.99, 9999.99), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, c), pa.string()),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": pa.array(_money(rng, s, -999.99, 9999.99), pa.float64()),
        }
    )
    p = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, p), rng.choice(PART_NOUN, p))],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)], pa.string()),
            "p_type": pa.array(rng.choice(PART_TYPES, p), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(p) % 200) / 10.0, 2), pa.float64()
            ),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o), pa.string()),
            "o_totalprice": pa.array(_money(rng, o, 1000.0, 500000.0), pa.float64()),
            "o_orderdate": pa.array(_days(rng, o, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, o), pa.string()),
        }
    )
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(
                np.round(qty * rng.uniform(900.0, 2100.0, li), 2), pa.float64()
            ),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], li), pa.string()),
            "l_linestatus": pa.array(rng.choice(["O", "F"], li), pa.string()),
            "l_shipdate": pa.array(_days(rng, li, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
        }
    )
    e = n["events"]
    offsets_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + offsets_us.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n_users, e), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, e), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, e), 2) + 0.01, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string()),
        }
    )
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def write(out_dir: str, sf: float, seed: int) -> str:
    """Write the tables as ``<out_dir>/<table>.parquet`` unless a complete
    set is already there, and return ``out_dir``. A marker file written
    last makes a half-written directory look incomplete."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(f"sf={sf} seed={seed}\n")
    return out_dir
