"""Seeded input generator.

Writes the ten tables the engine's registry queries read
(`<dir>/<table>.parquet`, one file each) with the schemas and value
domains of the engine's reference fixtures. The seed fixes every value
and the row order of every file; the size is a parameter of the
workload, not of the seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMB_DIM = 64
N_LABELS = 10

# epoch micros of 1995-01-01 and 2024-01-01
_US_1995 = 788918400 * 1_000_000
_US_2024 = 1704067200 * 1_000_000
_DAY_US = 86400 * 1_000_000
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_SHIP_DAYS = 2499  # 1995-01-02 .. 2001-11-04


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict, rng) -> int:
    table = pa.table(cols)
    order = rng.permutation(table.num_rows)  # the seed sets the row order
    pq.write_table(table.take(pa.array(order)), os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _documents(rng, n: int) -> dict:
    """Random word sequences; every 16th document is a near-duplicate of
    an earlier one (a word swapped and a `dup` marker), so the dedup
    operators always find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 16 and i % 16 == 0:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.append("dup")
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def _embeddings(rng, n: int) -> dict:
    """Unit-scale vectors around one centre per label, so the IVF cells
    carry real structure and recall is a meaningful property."""
    centres = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = (centres[labels] + rng.normal(0.0, 1.6, (n, EMB_DIM))) / 8.0
    vecs = vecs.astype("float32")
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(labels.astype("int32")),
    }


def generate(out_dir: str, seed: int, lineitem_rows: int, documents: int,
             embeddings: int, events: int) -> dict:
    """Write all ten tables into `out_dir`; return {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = max(lineitem_rows // 4, 10)
    n_cust = max(n_orders // 10, 10)
    n_part = max(n_orders // 7, 10)
    n_supp = max(n_orders // 150, 5)
    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(REGIONS),
    }, rng)
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    }, rng)
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]),
    }, rng)
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }, rng)
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, len(PART_ADJ), n_part),
                            rng.integers(0, len(PART_NOUN), n_part))
        ]),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    }, rng)
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype("int64")),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders)),
        "o_orderdate": _ts(_US_1995 + rng.integers(0, _ORDER_DAYS, n_orders) * _DAY_US),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_orders)]),
    }, rng)
    lines_per = rng.integers(1, 8, n_orders)
    okeys = np.repeat(np.arange(n_orders), lines_per)[:lineitem_rows]
    linenos = (np.concatenate([np.arange(1, k + 1) for k in lines_per]))[:lineitem_rows]
    n_li = len(okeys)
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]
    status = np.array(["F", "O"])[rng.integers(0, 2, n_li)]
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okeys.astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array(linenos.astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(flags),
        "l_linestatus": pa.array(status),
        "l_shipdate": _ts(_US_1995 + (1 + rng.integers(0, _SHIP_DAYS, n_li)) * _DAY_US),
    }, rng)
    gaps = rng.integers(1, 2 * (30 * _DAY_US // max(events, 1)), events)
    n_users = max(events // 66, 10)
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(events, dtype="int64")),
        "ts": _ts(_US_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, events).astype("int64")),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, events)]),
        "value": pa.array(np.round(rng.exponential(60.0, events), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, events)]),
    }, rng)
    rows["documents"] = _write(out_dir, "documents", _documents(rng, documents), rng)
    rows["embeddings"] = _write(out_dir, "embeddings", _embeddings(rng, embeddings), rng)
    return rows


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except FileNotFoundError:
                pass  # removed while walking
    return total
