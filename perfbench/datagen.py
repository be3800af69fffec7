"""Deterministic synthetic TPC-H-ish tables for the benchmark.

The engine's KG view (``kg.triples.TRIPLES_VIEW_SQL``) reads orders,
lineitem, supplier and customer; ``datasets.register_views`` also opens
region, nation, part, events, documents and embeddings, so every table
is written with the column names and parquet types the engine expects.
Row counts follow the shape of TPC-H at scale factor ``sf``: 150k*sf
customers, 1.5M*sf orders, 6M*sf line items, 200k*sf parts, 10k*sf
suppliers, 25 nations.  Every foreign key is drawn uniformly from one
NumPy stream (seed 42), in the same order as the repository's test
tables (TESTDATA.md) were made, so the key columns the KG reads
(``o_custkey``, ``l_orderkey``, ``l_partkey``, ``l_suppkey``,
``c_nationkey``, ``s_nationkey``) equal those tables' columns value for
value: at sf0.1 the KG has the same 186,025 entities and the same
triples.  The other columns have the test tables' names and types but
not their values; the KG never reads them.

The same (sf, seed) always gives byte-identical tables.  Generation is
NumPy + pyarrow only (no Spark), and writes into a temporary directory
that is renamed into place, so an interrupted run never leaves a
half-written dataset behind.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generated content changes, so cached datasets rebuild
VERSION = 2

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EPOCH_1995_US = 788_918_400 * 1_000_000
_DAY_US = 86_400 * 1_000_000
_ORDER_DAYS = 2405  # order dates fall in 1995-01-01 .. 2001-08-01


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(3, round(150_000 * sf)),
        "supplier": max(2, round(10_000 * sf)),
        "part": max(2, round(200_000 * sf)),
        "orders": max(3, round(1_500_000 * sf)),
        "lineitem": max(3, round(6_000_000 * sf)),
    }


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _ts(rng: np.random.Generator, n: int, days: int = 7 * 365) -> pa.Array:
    days = rng.integers(0, days, n, dtype=np.int64)
    return pa.array(_EPOCH_1995_US + days * _DAY_US, pa.timestamp("us"))


def _choice(rng: np.random.Generator, words: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(words, dtype=object)[rng.integers(0, len(words), n)], pa.string())


def build_tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    size = table_sizes(sf)
    nc, ns, npart, no, nl = (
        size["customer"], size["supplier"], size["part"], size["orders"], size["lineitem"]
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(N_NATIONS, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(N_NATIONS)], pa.string()),
            "n_regionkey": pa.array(np.arange(N_NATIONS, dtype=np.int32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, nc).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
            "c_mktsegment": _choice(rng, _SEGMENTS, nc),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, N_NATIONS, ns).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2)),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": _names("Part", npart),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 56, npart)], pa.string()),
            "p_type": _choice(rng, ["ECONOMY", "STANDARD", "PROMO", "LARGE"], npart),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": pa.array(np.round(rng.uniform(900, 2100, npart), 2)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], no),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, no), 2)),
            "o_orderdate": _ts(rng, no, _ORDER_DAYS),
            "o_orderpriority": _choice(rng, _PRIORITIES, no),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, nl), 2)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": _choice(rng, ["A", "N", "R"], nl),
            "l_linestatus": _choice(rng, ["F", "O"], nl),
            "l_shipdate": _ts(rng, nl),
        }
    )
    # tables the KG never reads: a few rows, the engine's schema
    small = 100
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(small, dtype=np.int64)),
            "ts": _ts(rng, small),
            "user_id": pa.array(rng.integers(0, 50, small, dtype=np.int64)),
            "event_type": _choice(rng, ["click", "view", "error"], small),
            "value": pa.array(np.round(rng.uniform(0, 10, small), 2)),
            "props": pa.array(['{"k": 1}'] * small, pa.string()),
        }
    )
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(small, dtype=np.int64)),
            "text": pa.array(["a row scan of the table"] * small, pa.string()),
            "lang": pa.array(["en"] * small, pa.string()),
            "source": pa.array(["src0"] * small, pa.string()),
            "n_chars": pa.array(np.full(small, 23, dtype=np.int64)),
        }
    )
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(small, dtype=np.int64)),
            "embedding": pa.array(
                list(rng.standard_normal((small, 8)).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 3, small).astype(np.int32)),
        }
    )
    return t


def dataset_dir(root: Path, sf: float, seed: int = 42) -> Path:
    """Generate the dataset under ``root`` once; later calls reuse it."""
    out = root / f"v{VERSION}_sf{sf:g}_seed{seed}"
    if out.is_dir():
        return out
    tmp = root / f".{out.name}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    try:
        tmp.rename(out)
    except OSError:
        # a concurrent run renamed its copy first; keep that one
        shutil.rmtree(tmp, ignore_errors=True)
        if not out.is_dir():
            raise
    return out
