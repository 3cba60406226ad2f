"""Seeded input generation for the benchmark.

``star(dst, seed, scale)`` writes the ten parquet tables the registry's
builders read (``catalog.TABLES``): a TPC-H-ish star, an ``events`` click
stream, a ``documents`` text corpus and an ``embeddings`` table. Schemas,
key ranges and value distributions follow the engine's own test tables
(uniform keys, 5 regions x 25 nations, events in January 2024,
31-token document vocabulary, near-duplicates planted as ``<text> dup``),
so every chosen query runs unmodified on them.

``olist(dst, seed, n_orders)`` writes the Olist-shaped CSVs of
``tests/fixtures_gen.generate`` for the medallion pipeline.

The same seed gives byte-identical files; nothing reads the wall clock.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000


def _epoch_us(d: datetime) -> int:
    return int((d - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng: np.random.Generator, lo: datetime, hi: datetime, n: int) -> pa.Array:
    span = (hi - lo).days
    us = _epoch_us(lo) + rng.integers(0, span + 1, size=n) * _US_PER_DAY
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _write(dst: str, name: str, table: dict) -> None:
    pq.write_table(pa.table(table), os.path.join(dst, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    words = np.array(VOCAB)
    lens = rng.integers(10, 101, size=n)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lens]
    langs = np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)].tolist()
    # ~5% near-duplicates: an earlier document with one or two " dup" tokens.
    for j in sorted(rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False)):
        k = int(rng.integers(0, j))
        texts[j] = texts[k] + " dup" * int(rng.integers(1, 3))
        langs[j] = langs[k]
    return {
        "doc_id": pa.array(range(n), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs, type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(range(n), type=pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), type=pa.float32()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), type=pa.int32()),
    }


def star(dst: str, seed: int, scale: float, n_docs: int, n_vecs: int) -> None:
    """Write the ten tables at ``scale`` (1.0 = 1.5M orders; the engine's
    test sets are 0.001 / 0.01 / 0.1) plus a corpus of ``n_docs`` documents
    and ``n_vecs`` embeddings."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = 10 * n_cust
    n_line = 4 * n_ord
    n_evt = max(1000, int(1_000_000 * scale))
    n_user = max(15, n_cust // 10)

    _write(dst, "region", {
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(dst, "nation", {
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })
    _write(dst, "customer", {
        "c_custkey": pa.array(range(n_cust), type=pa.int64()),
        "c_name": pa.array(_names("Customer", n_cust)),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), type=pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, size=n_cust)]),
    })
    _write(dst, "supplier", {
        "s_suppkey": pa.array(range(n_supp), type=pa.int64()),
        "s_name": pa.array(_names("Supplier", n_supp)),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), type=pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = rng.integers(0, len(PART_ADJ), size=n_part)
    noun = rng.integers(0, len(PART_NOUN), size=n_part)
    _write(dst, "part", {
        "p_partkey": pa.array(range(n_part), type=pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, size=n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, size=n_part)]),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), type=pa.int32()),
        "p_retailprice": pa.array([900 + (k % 1000) / 10 for k in range(n_part)]),
    })
    _write(dst, "orders", {
        "o_orderkey": pa.array(range(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), type=pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, size=n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), n_ord),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, size=n_ord)]),
    })
    _write(dst, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_line), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_line), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_line), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_line), type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, size=n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, size=n_line), 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, size=n_line)]),
        "l_shipdate": _days(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), n_line),
    })
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, size=n_evt)) + _epoch_us(datetime(2024, 1, 1))
    _write(dst, "events", {
        "event_id": pa.array(range(n_evt), type=pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, size=n_evt), type=pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, size=n_evt)]),
        "value": pa.array(np.maximum(0.01, np.round(rng.lognormal(3.4, 0.9, size=n_evt), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_evt)]),
    })
    _write(dst, "documents", _documents(rng, n_docs))
    _write(dst, "embeddings", _embeddings(rng, n_vecs))


def olist(dst: str, seed: int, n_orders: int) -> None:
    """Olist-shaped CSVs from the repository's own seeded generator, with
    Olist's ratio of 9 customers per 10 orders."""
    from tests.fixtures_gen import generate

    generate(dst, n_customers=max(150, n_orders * 9 // 10), n_orders=n_orders, seed=seed)
