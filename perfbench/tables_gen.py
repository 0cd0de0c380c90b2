"""Deterministic fixture tables for the catalog workload.

Writes the ten tables the query catalog reads (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``) as one parquet file
each, with the column names, types and value domains the catalog entries
and their DuckDB oracles expect. Row counts follow the scale factor
(sf 0.01: 60k lineitem rows). The data depends only on ``sf``; the
workload seed changes the order in which entries run, not the tables.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small big customer query filter "
    "group stream vector"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = (("red", "blue", "small", "large", "hot", "old", "new", "green"),
              ("ring", "widget", "bolt", "plate", "rod", "gear", "nut", "pin"))
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = ("en", "es", "de", "fr", "zh")
DATE_LO = np.datetime64("1992-01-01", "us")
DAY_US = 86_400_000_000


def _write(root: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(root, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i % 20 == 19:
            # near-duplicate of an earlier original: one word changed. As
            # in the fixture tables, about one document in twenty, in
            # clusters of two or three (no chains of duplicates)
            words = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(20, 80)))]
            if i % 4 == 0:
                words[-1] += "."
            if i % 6 == 0:
                words[len(words) // 2] += ","
            originals.append(i)
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i % 5] if i % 3 else "en" for i in range(n)]),
        "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write_tables(root: str, sf: float) -> None:
    """Write every table for scale factor ``sf`` under ``root``."""
    rng = np.random.default_rng(20_240_101)
    os.makedirs(root, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(100, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(root, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    }))
    _write(root, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }))
    _write(root, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]),
    }))
    _write(root, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }))
    _write(root, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([
            f"{PART_WORDS[0][a]} {PART_WORDS[1][b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    }))
    order_days = rng.integers(0, 3650, n_ord)
    _write(root, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(DATE_LO + order_days * DAY_US, pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]),
    }))
    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(root, "lineitem", pa.table({
        "l_orderkey": pa.array(l_order.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, 900.0, 2000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(
            DATE_LO + (order_days[l_order] + rng.integers(1, 122, n_line)) * DAY_US,
            pa.timestamp("us"),
        ),
    }))
    ev_ts = np.datetime64("2024-01-01", "us") + np.cumsum(rng.integers(0, 300_000_000, n_ev))
    _write(root, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(50, n_ev // 200), n_ev).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)]),
        "value": pa.array(_money(rng, 0.0, 20.0, n_ev)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
    }))
    _write(root, "documents", _documents(rng, n_doc))
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).astype(np.float32)
    _write(root, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    }))


def cached_tables(cache_dir: str, sf: float) -> str:
    """Build (or reuse) the tables for ``sf``; returns their directory. The
    directory name holds a hash of this file, so a changed generator never
    reuses tables an older one wrote."""
    with open(__file__, "rb") as fh:
        key = hashlib.sha1(fh.read()).hexdigest()[:12]
    root = os.path.join(cache_dir, f"tables_sf{sf}-{key}")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        write_tables(root, sf)
        with open(done, "w") as fh:
            fh.write("ok\n")
    return root
