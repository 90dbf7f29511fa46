"""Seeded generator for the star-schema tables the query workloads scan.

Writes the ten tables the plan registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one Parquet
file each, with the column names, types and value domains of the engine's
test fixtures (FIXTURES.md section B). Row counts scale with ``sf`` the
same way: 6,000,000 * sf lineitem rows, 1,500,000 * sf orders, and so on.

The tables are a pure function of ``(sf, seed)``; the benchmark writes
them under its own run directory, so it never reads data from outside
its checkout. Measures are exact to 2 decimals (the registry's oracle
parity rules rely on it) and timestamps are tz-naive microseconds.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gate import TABLES

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "old", "red")
_PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_STATUSES = ("F", "O", "P")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_RETURN_FLAGS = ("A", "N", "R")
_LINE_STATUS = ("F", "O")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_TS = pa.timestamp("us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts in [lo, hi], exact to the cent."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def build_table(name: str, sf: float, seed: int) -> pa.Table:
    """One table at scale ``sf``, drawn from its own stream of ``seed``."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    size = _sizes(sf)
    n = size.get(name, 0)

    def pick(options: tuple[str, ...]) -> np.ndarray:
        return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]

    if name == "region":
        return pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
        )
    if name == "nation":
        return pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        )
    if name == "customer":
        return pa.table(
            {
                "c_custkey": pa.array(np.arange(n), pa.int64()),
                "c_name": _keyed_names("Customer", n),
                "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n),
                "c_mktsegment": pick(_SEGMENTS),
            }
        )
    if name == "supplier":
        return pa.table(
            {
                "s_suppkey": pa.array(np.arange(n), pa.int64()),
                "s_name": _keyed_names("Supplier", n),
                "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n),
            }
        )
    if name == "part":
        pk = np.arange(n)
        return pa.table(
            {
                "p_partkey": pa.array(pk, pa.int64()),
                "p_name": [f"{a} {b}" for a, b in zip(pick(_PART_ADJ), pick(_PART_NOUN))],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
                "p_type": pick(_PART_TYPES),
                "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
                "p_retailprice": 900.0 + (pk % 1000) / 10.0,
            }
        )
    if name == "orders":
        return pa.table(
            {
                "o_orderkey": pa.array(np.arange(n), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, size["customer"], n), pa.int64()),
                "o_orderstatus": pick(_STATUSES),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n),
                "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n), _TS),
                "o_orderpriority": pick(_PRIORITIES),
            }
        )
    if name == "lineitem":
        # (l_orderkey, l_linenumber) is deliberately not unique, as in the
        # fixtures: the dedup stages of the star queries have work to do
        return pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, size["orders"], n), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, size["part"], n), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, size["supplier"], n), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": pick(_RETURN_FLAGS),
                "l_linestatus": pick(_LINE_STATUS),
                "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n), _TS),
            }
        )
    if name == "events":
        # events arrive in time order over January 2024
        span_us = 30 * 24 * 3600 * 10**6
        ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64("2024-01-01", "us")
        return pa.table(
            {
                "event_id": pa.array(np.arange(n), pa.int64()),
                "ts": pa.array(ts.astype("datetime64[us]"), _TS),
                "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
                "event_type": pick(_EVENT_TYPES),
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
            }
        )
    if name == "documents":
        return pa.table(_documents(rng, n))
    if name == "embeddings":
        # unit vectors around ten label centres
        labels = rng.integers(0, 10, n)
        centres = rng.standard_normal((10, 64)).astype(np.float32)
        emb = rng.standard_normal((n, 64)).astype(np.float32) + 0.5 * centres[labels]
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        return pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        )
    raise ValueError(f"unknown table {name!r}")


def _documents(rng: np.random.Generator, n: int) -> dict[str, list]:
    """Random-vocabulary documents with planted duplicates: about 5% are a
    copy of an earlier document plus the token ``dup`` (near duplicates)
    and a few are byte-identical copies (exact duplicates), so the dedup
    and near-dup curation queries have real work to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.asarray(_VOCAB)[rng.integers(0, len(_VOCAB), k)]))
    langs = np.asarray(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": list(langs),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in TABLES:
        table = build_table(name, sf, seed)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts

