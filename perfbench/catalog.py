"""Seeded synthetic catalog with the schemas and value domains of the
engine's TPC-H-ish test catalog (lineitem, orders, customer, supplier,
part, nation, region, events, documents, embeddings).

Row counts scale with ``sf`` the way the test catalog does (lineitem is
6M x sf rows); each table is one parquet file ``<dir>/<name>.parquet``,
which is the layout ``sources.readers.load_tables`` reads.

One deliberate difference: order dates span April 2016, not 1995-2001.
Orders stand in for the reference's I-94 arrivals, which cover that one
month, so the star pipeline's calendar dim (partitioned by
year/month/week) lands in the reference's five partitions instead of
420. That keeps a pipeline run near 2 s, short enough to warm the JVM
and take several timed runs in one process.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "D").astype("int64")


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _keyed(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def event_table(rng: np.random.Generator, first_id: int, n: int, duplicates: int = 0) -> pa.Table:
    """``n`` events with ids ``first_id…first_id+n-1`` spread over January
    2024, plus ``duplicates`` extra rows that repeat ids already in the
    table (the redelivered events a dedup sink must absorb)."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    if duplicates:
        ids = np.concatenate([ids, rng.choice(ids, duplicates)])
    m = len(ids)
    # 25.92 s apart: 100k events span the 30 days of the test catalog
    ts_us = _EPOCH_2024 * _DAY_US + (ids * 25_920_000) % (30 * _DAY_US) + rng.integers(0, 1_000_000, m)
    return pa.table(
        {
            "event_id": pa.array(ids),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, m)),
            "event_type": _pick(rng, EVENT_TYPES, m),
            "value": pa.array(np.round(rng.exponential(50.0, m), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, m)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; one in twenty is a near-copy (one word
    replaced) of an earlier document, so the dedup stages find work."""
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 0:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, len(words)))]
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(8, 100)))])
        texts.append(" ".join(toks))
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(5, n, p=lang_p)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    return {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(range(n_cust)),
                "c_name": pa.array(_keyed("Customer", n_cust)),
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(range(n_supp)),
                "s_name": pa.array(_keyed("Supplier", n_supp)),
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(range(n_part)),
                "p_name": pa.array(
                    [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, n_part) / 10.0),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(range(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
                "o_orderdate": _days(rng, "2016-04-01", "2016-04-30", n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
                "l_partkey": i64(rng.integers(0, n_part, n_li)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
                "l_linenumber": i32(rng.integers(1, 8, n_li)),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
                "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_li), 2)),
                "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_li), 2)),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _pick(rng, ["F", "O"], n_li),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
            }
        ),
        "events": event_table(rng, 0, int(1_000_000 * sf)),
        "documents": _documents(rng, int(50_000 * sf)),
        "embeddings": _embeddings(rng, int(20_000 * sf)),
    }


def write_catalog(out_dir: str, sf: float, seed: int) -> dict[str, pa.Table]:
    """Write the catalog under ``out_dir``; returns the tables written."""
    os.makedirs(out_dir, exist_ok=True)
    tables = build_tables(sf, seed)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables
