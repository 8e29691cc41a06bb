"""Seeded generator of the star-schema, events, documents and embeddings
tables the engine's catalog reads (``catalog.EXPECTED_SCHEMAS``).

The shapes follow the TPC-H-ish test data the engine is developed against:
uniform keys, 1995-2001 order dates, four lines per order on average, a
31-word document vocabulary with about 5% near-duplicate documents and
64-dimensional unit-norm embeddings.  The same ``(seed, scale)`` always
writes the same bytes of table content.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("ring", "widget", "bolt", "plate", "gear", "nut", "pipe", "valve")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
DUP_SHARE = 0.05

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "D")


def _days_us(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    lo = (np.datetime64(first, "D") - _EPOCH_1995).astype(int)
    hi = (np.datetime64(last, "D") - _EPOCH_1995).astype(int)
    days = rng.integers(lo, hi + 1, n)
    us = (_EPOCH_1995.astype("datetime64[us]").astype(np.int64)) + days * _DAY_US
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            # near duplicate: an earlier document with one word added or dropped
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5 and len(words) > 10:
                del words[int(rng.integers(0, len(words)))]
            else:
                words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            k = int(rng.integers(10, 101))
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), k)]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
    })


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Every catalog table for one seed at ``scale`` (1.0 = 6M lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_000, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_evt = max(1_000, int(1_000_000 * scale))
    n_doc = max(200, int(50_000 * scale))
    n_vec = max(200, int(50_000 * scale))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    })
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)], pa.string()),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500_000.0)),
        "o_orderdate": _days_us(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105_000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _days_us(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    ts0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(ts0 + rng.integers(0, 30 * _DAY_US, n_evt))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_cust, n_evt), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": pa.array(_money(rng, n_evt, 0.0, 560.0)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], pa.string()),
    })
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_vec)
    return out


def write(out_dir: str, tabs: dict[str, pa.Table]) -> int:
    """Write one ``<name>.parquet`` per table; returns total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tab in tabs.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path)
        total += os.path.getsize(path)
    return total
