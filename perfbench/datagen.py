"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's query keys read (``region`` ...
``embeddings``, one parquet file each) with the same schemas and
value domains as the engine's reference test tables, at one of two
fixed sizes. The seed changes every value and never a row count, so two
seeds give the same amount of work.

The inputs plant a signal for the three reference Random Forest
pipelines, so that a correct pipeline beats the majority class by a
wide margin: an order's priority follows its customer's segment, its
status follows its priority, and a customer's balance falls in a band
per segment. Each rule holds for only part of the rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the reference tables at TPC-H scale factor 0.1
#: (600 000 ``lineitem`` rows, the order of the reference script's
#: 309 355-row CSV). The engine workload reads these, so per-row work
#: in operators, functions and sources weighs as it does at that scale.
SF0_1 = {
    "supplier": 1_000,
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
#: Row counts for the Random Forest pipelines, about a hundredth of
#: SF0_1. Those pipelines are bound by job scheduling (about 490 jobs a
#: pass), and at SF0_1 one run of them would not fit the benchmark's
#: time limit. Four times the customers and twice the orders of a plain
#: hundredth: the USE pipeline keeps one row per customer with a
#: finished order, and its 20% test split needs about a hundred rows for
#: the accuracy check to tell a working pipeline from chance (with 150
#: customers a split of 17 rows once read 0.47 against a 0.59 majority).
SMALL = {
    "supplier": 10,
    "customer": 600,
    "part": 200,
    "orders": 3_000,
    "lineitem": 6_000,
    "events": 2_000,
    "documents": 500,
    "embeddings": 500,
}
#: Event users per customer, as in the reference tables (1 500 users at
#: scale factor 0.1).
EVENT_USERS_PER_CUSTOMER = 0.1
EMBED_DIM = 64
EMBED_LABELS = 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
DUP_SHARE = 0.05
#: Shares of rows that follow the planted rules.
SEGMENT_BAND_SHARE = 0.7
PRIORITY_SHARE = 0.5
STATUS_SHARE = 0.6
#: Order status that each priority leads to.
STATUS_BY_PRIORITY = np.array(["F", "F", "O", "O", "P"], dtype=object)

_US = np.int64(1_000_000)


def _epoch_us(d: dt.datetime) -> np.int64:
    return np.int64(int(d.replace(tzinfo=dt.timezone.utc).timestamp())) * _US


def _days(rng: np.random.Generator, n: int, start: dt.datetime, end: dt.datetime) -> pa.Array:
    span = (end - start).days
    us = _epoch_us(start) + rng.integers(0, span + 1, n).astype(np.int64) * 86_400 * _US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = rng.choice(len(VOCAB), int(rng.integers(10, 100)))
        texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, EMBED_LABELS, n).astype(np.int32)
    centres = rng.standard_normal((EMBED_LABELS, EMBED_DIM)) * 0.2
    vecs = rng.standard_normal((n, EMBED_DIM)) + centres[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _follow(rng: np.random.Generator, share: float, rule: np.ndarray, k: int) -> np.ndarray:
    """``rule`` for a ``share`` of the rows, a uniform draw from
    ``range(k)`` for the rest."""
    return np.where(rng.random(len(rule)) < share, rule, rng.integers(0, k, len(rule)))


def tables(seed: int, sizes: dict[str, int]) -> dict[str, pa.Table]:
    """Every input table at ``sizes`` (SF0_1 or SMALL), generated from
    ``seed``."""
    rng = np.random.default_rng(seed)
    n = sizes
    segment = rng.integers(0, len(SEGMENTS), n["customer"])
    band = _follow(rng, SEGMENT_BAND_SHARE, segment, len(SEGMENTS))
    acctbal = np.round(-999.99 + band * 2200.0 + rng.uniform(0, 2200.0, n["customer"]), 2)
    o_cust = rng.integers(0, n["customer"], n["orders"])
    priority = _follow(rng, PRIORITY_SHARE, segment[o_cust], len(PRIORITIES))
    status = np.where(
        rng.random(n["orders"]) < STATUS_SHARE,
        STATUS_BY_PRIORITY[priority],
        np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n["orders"])],
    )
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": pa.array(acctbal),
            "c_mktsegment": pa.array(np.asarray(SEGMENTS, dtype=object)[segment], pa.string()),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n["part"], 2))], pa.string()
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])], pa.string()),
            "p_type": _pick(rng, PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(o_cust, pa.int64()),
            "o_orderstatus": pa.array(status, pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n["orders"])),
            "o_orderdate": _days(rng, n["orders"], dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
            "o_orderpriority": pa.array(np.asarray(PRIORITIES, dtype=object)[priority], pa.string()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n["lineitem"]).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n["lineitem"])),
            "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
            "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
            "l_shipdate": _days(rng, n["lineitem"], dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n["events"]), pa.int64()),
            "ts": pa.array(
                np.sort(_epoch_us(dt.datetime(2024, 1, 1)) + rng.integers(0, 30 * 86_400 * _US, n["events"])),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, int(n["customer"] * EVENT_USERS_PER_CUSTOMER), n["events"]), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n["events"]),
            "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n["events"]), 2))),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])], pa.string()),
        }),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return out


def write(seed: int, sizes: dict[str, int], out_dir: str) -> dict[str, str]:
    """Write every table to ``out_dir``; returns name -> file path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables(seed, sizes).items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
