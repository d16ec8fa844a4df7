"""Seeded catalog tables for the ``catalog_mix`` workload.

Writes the ten relations the catalog queries read (``region`` ...
``embeddings``) as one parquet file each, with the column names and
Arrow types of the engine's fixture tables, so every registered query
and its DuckDB oracle run unchanged. Values come only from
``numpy.random.default_rng(seed)``: the same (seed, scale) always writes
the same bytes' worth of rows.

Row counts follow the TPC-H ratios at ``scale`` (0.01 -> 60k lineitem
rows); the corpus tables (``documents``, ``embeddings``) stay at 500
rows, and ~5% of documents are near-duplicates of an earlier one so the
dedup families find candidates.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["blue", "red", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_VOCAB = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter key agg scan slow table part merge window "
    "order column join vector"
).split()

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _days(rng, n: int, start: datetime, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array((base + offs).astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten relations as Arrow tables (see module docstring)."""
    rng = np.random.default_rng(seed)
    k = scale / 0.01
    n_cust, n_supp, n_part = int(1500 * k), max(10, int(100 * k)), int(2000 * k)
    n_orders, n_events = int(15000 * k), int(10000 * k)
    n_docs = 500

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, n_orders, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_orders, datetime(1995, 1, 1), 2400),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    })

    lines = rng.integers(1, 8, n_orders)
    okeys = np.repeat(np.arange(n_orders), lines)
    n_li = len(okeys)
    linenos = np.concatenate([np.arange(1, c + 1) for c in lines])
    qty = rng.integers(1, 51, n_li).astype(float)
    partkeys = rng.integers(0, n_part, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(partkeys, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenos, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (partkeys % 1000) * 0.1 + 1.0), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, datetime(1995, 1, 2), 2500),
    })

    ev_start = np.datetime64(datetime(2024, 1, 1), "us")
    ev_ts = ev_start + np.sort(
        rng.integers(0, int(timedelta(days=30).total_seconds() * 1e6), n_events)
    ).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": _money(rng, n_events, 0.01, 490.0),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)],
    })

    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document with a marker word appended
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(8, 90)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })

    centers = rng.normal(0.0, 0.12, (10, 64))
    labels = rng.integers(0, 10, n_docs)
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n_docs, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
