"""Seeded generator of the benchmark's input tables.

Writes the ten tables the registered queries read (``region nation
customer supplier part orders lineitem events documents embeddings``),
one parquet file each, with the column names, types and value domains
of the engine's test fixtures. The row counts are fixed (the shapes
below); the seed changes only the values, so every seed gives the same
amount of work and the same result cardinalities up to the data.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

#: Rows per table. The fixture scale the query oracles were written
#: against at "sf0.01" — small enough that a pass over a workload is a
#: few seconds, large enough that every query returns rows.
SHAPE = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "event_users": 150,
    "documents": 500,
    "embeddings": 500,
}
EMBED_DIM = 64
EMBED_LABELS = 10

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)
DUP_RATE = 0.05


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def tables(seed: int) -> dict[str, pd.DataFrame]:
    """All ten tables for ``seed`` as pandas frames."""
    rng = np.random.default_rng(seed)
    s = SHAPE
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": list(REGIONS),
    })
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    n = s["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype("int32"),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })
    n = s["supplier"]
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype("int32"),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n),
    })
    n = s["part"]
    keys = np.arange(n, dtype="int64")
    out["part"] = pd.DataFrame({
        "p_partkey": keys,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, n), rng.choice(PART_NOUN, n))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype("int32"),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })
    n = s["orders"]
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, s["customer"], n).astype("int64"),
        "o_orderstatus": rng.choice(("F", "O", "P"), n),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })
    n = s["lineitem"]
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, s["orders"], n).astype("int64"),
        "l_partkey": rng.integers(0, s["part"], n).astype("int64"),
        "l_suppkey": rng.integers(0, s["supplier"], n).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n),
        "l_linestatus": rng.choice(("F", "O"), n),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n),
    })
    n = s["events"]
    gaps = np.maximum(rng.exponential(259.0e6, n).astype("int64"), 1)
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": np.datetime64("2024-01-01", "us")
        + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, s["event_users"], n).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = s["documents"]
    texts = [
        " ".join(rng.choice(WORDS, int(k)))
        for k in rng.integers(10, 100, n)
    ]
    # Near-duplicates: a share of documents repeat another document's
    # text with one trailing token, the pairs the dedup operators find.
    for i in np.flatnonzero(rng.random(n) < DUP_RATE):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    n = s["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": list(vecs.astype("float32")),
        "label": rng.integers(0, EMBED_LABELS, n).astype("int32"),
    })
    return out


def write(seed: int, out_dir: str) -> str:
    """Write every table for ``seed`` to ``out_dir/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir
