"""Seeded generator for the benchmark's input tables.

Writes the engine's ten catalog tables (schemas.TABLE_SCHEMAS) as one parquet
file each, with the value domains the suite's queries filter on: TPC-H-style
keys, flags, dates 1995-2001, 2-dp prices, a 30-day `events` stream with five
`event_type` QC series, word-salad `documents` with planted " dup" near-copies
and unit-norm 64-d `embeddings`. The same seed always gives the same files.

Sizes are fixed (see SIZES): `events` matches the 100k rows of the sf0.1 test
data, the other tables the sf0.01 row counts, so every workload stays
latency-bound and fits one benchmark run.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 100_000,
    "users": 1_500,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "plate", "gear", "rod", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a the join hash row batch scan customer column filter small slow merge "
    "order vector line data table agg value key stream window spark group "
    "part big sort query fast"
).split()

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
_MARKER = "_COMPLETE"


def _days(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    span = (hi - lo).days
    base = np.datetime64(lo, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
        }
    )
    nparts = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(nparts, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, nparts), rng.choice(PART_NOUN, nparts)
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, nparts)],
            "p_type": rng.choice(PART_TYPES, nparts),
            "p_size": rng.integers(1, 51, nparts).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(nparts) % 1000) * 0.1, 2),
        }
    )
    norders = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(norders, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], norders).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], norders),
            "o_totalprice": _money(rng, norders, 1000.0, 500000.0),
            "o_orderdate": _days(rng, norders, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(PRIORITIES, norders),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, norders, nl).astype(np.int64),
            "l_partkey": rng.integers(0, nparts, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    ne = n["events"]
    span_us = EVENTS_DAYS * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, ne))
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(np.datetime64(EVENTS_START, "us") + offsets, pa.timestamp("us")),
            "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    texts: list[str] = []
    for i in range(n["documents"]):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, len(texts), p=LANG_P),
            "source": [f"src{i}" for i in rng.integers(0, 20, len(texts))],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n["embeddings"], 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n["embeddings"], dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n["embeddings"]).astype(np.int32),
        }
    )
    return t


def generate(seed: int, out_dir: str) -> str:
    """Write every table for ``seed`` under ``out_dir`` (reused if complete)."""
    if os.path.exists(os.path.join(out_dir, _MARKER)):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    open(os.path.join(out_dir, _MARKER), "w").close()
    return out_dir
