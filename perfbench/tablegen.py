"""Seeded generator for the analytics workload's input tables and its
image table.

Writes the ten tables the query registry and its DuckDB oracles read
(``region nation customer supplier part orders lineitem events documents
embeddings``), one parquet file each, with the row counts, column names,
types and value shapes of the repo's sf0.1 or sf0.01 test data: two-decimal
money and event values, midnight order/ship dates, events over 30 days,
10-100 word documents over a 31-word vocabulary with 8 exact duplicate
texts, and unit-norm 64-dim float32 embeddings. perfbench/NOTES.md compares
the sf0.1 tables and every headline query's result size and time with that
data. The same seed and scale always write the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table, and distinct event users, at each scale
SCALES = {
    "0.1": {
        "customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000,
        "documents": 5_000, "embeddings": 2_000, "event_users": 1_500,
    },
    "0.01": {
        "customer": 1_500, "supplier": 100, "part": 2_000,
        "orders": 15_000, "lineitem": 60_000, "events": 10_000,
        "documents": 500, "embeddings": 500, "event_users": 150,
    },
}
EVENT_SPAN_US = 30 * 86_400 * 10**6
DUP_TEXTS = 8
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIMS = 64


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: str = "0.1") -> int:
    """Write all ten tables at scale ``sf`` under ``out_dir``; returns the
    bytes written."""
    ROWS = SCALES[sf]
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    n = ROWS["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })
    n = ROWS["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = ROWS["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1),
    })
    n = ROWS["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })
    n = ROWS["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", 2500, n),
    })
    n = ROWS["events"]
    gaps_us = rng.exponential(EVENT_SPAN_US / n, n).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n), i64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype(
            "timedelta64[us]"
        ),
        "user_id": pa.array(rng.integers(0, ROWS["event_users"], n), i64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = ROWS["documents"]
    texts = [
        " ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 100, n)
    ]
    step = n // DUP_TEXTS  # a few exact duplicates for the dedup query
    for i in range(0, step * DUP_TEXTS, step):
        texts[i + step // 2] = texts[i]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    n = ROWS["embeddings"]
    vecs = rng.standard_normal((n, EMB_DIMS)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32),
    })
    return sum(
        os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)
    )


def write_images(path: str, seed: int, n_pages: int) -> int:
    """Write the encoded photos of ``n_pages`` listing pages × 64 cards per
    portal, with the generator's own (w, h, fmt) for each, the decode
    check's expectation; returns the number of images."""
    from realestate_scraper_spark.sources.synth import (
        image_blob,
        image_spec_rows,
        make_offers,
    )

    cols = {"image_id": [], "bytes": [], "w": [], "h": [], "fmt": []}
    offers = make_offers(seed=seed, n_pages=n_pages, cards_per_page=64)
    for image_id, img_seed, ordinal, k in image_spec_rows(offers, seed=seed):
        data, w, h, fmt = image_blob(img_seed, ordinal, k)
        for col, v in zip(cols, (image_id, data, w, h, fmt)):
            cols[col].append(v)
    pq.write_table(pa.table({
        **cols,
        "bytes": pa.array(cols["bytes"], pa.binary()),
        "w": pa.array(cols["w"], pa.int32()),
        "h": pa.array(cols["h"], pa.int32()),
    }), path)
    return len(cols["image_id"])
