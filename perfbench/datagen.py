"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the column names and types of the repository's fixture
tables (see FIXTURES.md). The same ``(seed, sizes)`` gives byte-identical
files. Value distributions follow the fixtures: uniform keys and flags,
one to thirteen line items per order, exponential event gaps over January
2024, documents drawn from a 30-word vocabulary with one document in
twenty an exact copy of an earlier one plus the token ``dup``, and unit
64-dimensional embedding vectors.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]

DAY_US = 86_400_000_000
ORDER_EPOCH = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_EPOCH = np.datetime64("2024-01-01", "us")
EVENT_SPAN_US = 30 * DAY_US


@dataclass(frozen=True)
class Sizes:
    """Row counts of the scaled tables; ``region``/``nation`` are fixed."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    events: int
    users: int
    documents: int
    embeddings: int


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    return ORDER_EPOCH + rng.integers(0, ORDER_DAYS + 1, n) * np.timedelta64(1, "D")


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    vocab = np.asarray(VOCAB, dtype=object)
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.fromiter(map(len, texts), np.int64, n)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vec = rng.standard_normal((n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.reshape(-1))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32)), flat
        ),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def build_tables(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    """All ten tables for ``seed``; each table draws from its own stream so
    resizing one table leaves the others unchanged."""
    streams = np.random.SeedSequence(seed).spawn(len(TABLES))
    rng = {t: np.random.default_rng(s) for t, s in zip(TABLES, streams)}
    s = sizes
    nations = np.arange(25, dtype=np.int32)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nations),
            "n_name": pa.array([f"NATION_{i}" for i in nations]),
            "n_regionkey": pa.array(nations % 5),
        }),
    }
    r = rng["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(s.customers, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(s.customers)]),
        "c_nationkey": pa.array(r.integers(0, 25, s.customers).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, s.customers)),
        "c_mktsegment": _pick(r, SEGMENTS, s.customers),
    })
    r = rng["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s.suppliers, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s.suppliers)]),
        "s_nationkey": pa.array(r.integers(0, 25, s.suppliers).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, s.suppliers)),
    })
    r = rng["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(s.parts, dtype=np.int64)),
        "p_name": _pick(r, names, s.parts),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, s.parts)]),
        "p_type": _pick(r, PART_TYPES, s.parts),
        "p_size": pa.array(r.integers(1, 51, s.parts).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(s.parts) % 1000) / 10, 1)),
    })
    r = rng["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(s.orders, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, s.customers, s.orders)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], s.orders),
        "o_totalprice": pa.array(_money(r, 1000, 500000, s.orders)),
        "o_orderdate": pa.array(_days(r, s.orders)),
        "o_orderpriority": _pick(r, PRIORITIES, s.orders),
    })
    r = rng["lineitem"]
    per_order = np.minimum(r.poisson(4, s.orders), 13)
    n = int(per_order.sum())
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(s.orders, dtype=np.int64), per_order)),
        "l_partkey": pa.array(r.integers(0, s.parts, n)),
        "l_suppkey": pa.array(r.integers(0, s.suppliers, n)),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900, 105000, n)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100),
        "l_tax": pa.array(r.integers(0, 9, n) / 100),
        "l_returnflag": _pick(r, ["A", "N", "R"], n),
        "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": pa.array(_days(r, n)),
    })
    r = rng["events"]
    gaps = r.exponential(1.0, s.events)
    offs = (np.cumsum(gaps) / gaps.sum() * (EVENT_SPAN_US - 60_000_000)).astype(np.int64)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(s.events, dtype=np.int64)),
        "ts": pa.array(EVENT_EPOCH + offs.astype("timedelta64[us]")),
        "user_id": pa.array(r.integers(0, s.users, s.events)),
        "event_type": _pick(r, EVENT_TYPES, s.events),
        "value": pa.array(np.maximum(np.round(r.exponential(50.0, s.events), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, s.events)]),
    })
    tables["documents"] = _documents(rng["documents"], s.documents)
    tables["embeddings"] = _embeddings(rng["embeddings"], s.embeddings)
    return tables


def write_tables(dest: str, seed: int, sizes: Sizes) -> str:
    """Write every table to ``dest/<name>.parquet``; returns a SHA-256 over
    the files so a caller can tell two builds apart."""
    os.makedirs(dest, exist_ok=True)
    digest = hashlib.sha256()
    for name, table in build_tables(seed, sizes).items():
        path = os.path.join(dest, f"{name}.parquet")
        pq.write_table(table, path)
        with open(path, "rb") as f:
            digest.update(f.read())
    return digest.hexdigest()
