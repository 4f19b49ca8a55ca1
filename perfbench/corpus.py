"""Seeded generator for the ten registry tables.

The registry entries read ``{sf_dir}/{table}.parquet`` for the tables in
``polario_spark.sources.tables.TABLES``. This module writes those tables
with the same schemas and value domains as the shared test corpus, at the
row counts of its sf0.01 scale, from a seed alone: the same seed gives
byte-identical files, so a run needs no data from outside its checkout.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the sf0.01 corpus.
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EMBED_DIM = 64
_USERS = 150  # distinct user ids in events

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _days(rng: np.random.Generator, start: np.int64, n_days: int, n: int) -> pa.Array:
    us = start + rng.integers(0, n_days, n) * _US_PER_DAY
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, _EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), _EMBED_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; a pure function of ``seed``."""
    rng = np.random.default_rng(seed)
    n = ROWS
    ids = {k: np.arange(v) for k, v in n.items()}
    part_names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": ids["customer"],
                "c_name": [f"Customer#{i:09d}" for i in ids["customer"]],
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]).tolist(),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": ids["supplier"],
                "s_name": [f"Supplier#{i:09d}" for i in ids["supplier"]],
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": ids["part"],
                "p_name": rng.choice(part_names, n["part"]).tolist(),
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                "p_type": rng.choice(_PART_TYPES, n["part"]).tolist(),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
                "p_retailprice": np.round(900.0 + (ids["part"] % 1000) / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": ids["orders"],
                "o_custkey": rng.integers(0, n["customer"], n["orders"]),
                "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
                "o_orderdate": _days(rng, _EPOCH_1995, 2405, n["orders"]),
                "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]).tolist(),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
                "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
                "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
                "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]).tolist(),
                "l_linestatus": rng.choice(["F", "O"], n["lineitem"]).tolist(),
                "l_shipdate": _days(rng, _EPOCH_1995 + _US_PER_DAY, 2499, n["lineitem"]),
            }
        ),
        "events": pa.table(
            {
                "event_id": ids["events"],
                "ts": pa.array(
                    _EPOCH_2024
                    + np.cumsum(rng.exponential(26e6, n["events"]).astype(np.int64)),
                    pa.timestamp("us"),
                ),
                "user_id": rng.integers(0, _USERS, n["events"]),
                "event_type": rng.choice(_EVENT_TYPES, n["events"]).tolist(),
                "value": np.round(rng.exponential(50.0, n["events"]), 2),
                "props": [
                    json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n["events"])
                ],
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return out


def write_corpus(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table to ``out_dir/{name}.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts
