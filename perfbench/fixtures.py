"""Seeded generator of the engine's fixture tables.

Writes the ten tables the query catalog reads (TPC-H-shaped ``region`` ..
``lineitem``, the ``events`` stream and the ``documents``/``embeddings``
corpus) as one parquet file each, with the schemas and value domains of the
catalog's reference fixtures. The same ``(seed, sf)`` always gives the same
bytes, so a run's inputs are fixed by its seed alone.
"""

from __future__ import annotations

import os

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
CORPUS_TABLES = ("documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "pin", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]  # en weighted 2 of 6
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_EMBED_DIM = 64


def table_rows(sf: float) -> dict[str, int]:
    """Row count of every table at scale factor ``sf``. The corpus tables
    grow only at sf >= 0.1, like the reference fixtures."""
    big_corpus = sf >= 0.1
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": 5000 if big_corpus else 500,
        "embeddings": 2000 if big_corpus else 500,
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        for _ in range(n)
    ]
    # 5 % near-duplicates (an earlier text plus one token) and a few exact
    # copies, so the dedup operators have pairs to find
    for i in rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, _EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(x.ravel()), _EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every fixture table at ``sf``, drawn from one seeded generator."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    i32, i64 = np.int32, np.int64
    parts = np.arange(n["part"], dtype=i64)
    events_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us").astype(i64)
        + rng.integers(0, 30 * 86_400_000_000, n["events"])
    ).astype("datetime64[us]")
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=i32)),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"], dtype=i64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(i32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": _pick(rng, _SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=i64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(i32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
        }),
        "part": pa.table({
            "p_partkey": pa.array(parts),
            "p_name": pa.array([
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n["part"], 2))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
            "p_type": _pick(rng, _PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(i32)),
            "p_retailprice": pa.array(np.round(900.0 + (parts % 1000) / 10.0, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=i64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]).astype(i64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n["orders"])),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n["orders"])),
            "o_orderpriority": _pick(rng, _PRIORITIES, n["orders"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]).astype(i64)),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]).astype(i64)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]).astype(i64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]).astype(i32)),
            "l_quantity": pa.array(rng.integers(1, 51, n["lineitem"]).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n["lineitem"])),
            "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
            "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n["lineitem"])),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n["events"], dtype=i64)),
            "ts": pa.array(events_ts),
            "user_id": pa.array(
                rng.integers(0, max(15, round(15_000 * sf)), n["events"]).astype(i64)
            ),
            "event_type": _pick(rng, _EVENT_TYPES, n["events"]),
            "value": pa.array(np.round(rng.exponential(50.0, n["events"]), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]),
        }),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
