"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-like star schema of the engine's test data
(``<dir>/<table>.parquet``, the layout ``testdata_catalog`` reads) with
the column names, Arrow types and value domains of the fixtures described
in FIXTURES.md.  The same ``(sf, seed)`` always produces the same values.

``write_parts`` writes a table as a directory of several files with small
row groups, so that its scans have more than one split.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds


def _rows(sf: float, base: int) -> int:
    return max(int(round(base * sf)), 5)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(sf: float, seed: int) -> dict:
    """Return ``{table: pyarrow.Table}`` for scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )

    n_cust = _rows(sf, 150_000)
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )

    n_supp = _rows(sf, 10_000)
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )

    n_part = _rows(sf, 200_000)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )

    n_ord = _rows(sf, 1_500_000)
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US  # to 2001-08
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(odate),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_ok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[rng.integers(0, n_part, n_li)], 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(odate[l_ok] + rng.integers(1, 122, n_li) * _DAY_US),
        }
    )
    return out


def write_parts(table: pa.Table, path: str, files: int, row_group_rows: int) -> None:
    """Write ``table`` as a directory of ``files`` parquet part files whose
    row groups hold ``row_group_rows``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=row_group_rows)


def write_all(tables: dict, dest: str) -> dict:
    """Write every table under ``dest`` as ``<table>.parquet``; returns
    ``{table: row count}``."""
    os.makedirs(dest, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(dest, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
