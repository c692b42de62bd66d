"""File-level data skipping: per-file min/max stats + pruned scans.

The Delta/Iceberg data-skipping pattern, self-contained: after a
clustered write (``sinks.write_parquet(cluster_by=...)`` — each file
covers a narrow band of the cluster columns), ``write_file_stats``
reads every part file's parquet FOOTER once and records per-file
min/max for the requested columns into a single ``_file_stats.json``
sidecar next to the data.  ``skipping_scan`` then answers a range
predicate by consulting the sidecar alone — files whose band cannot
intersect are never listed, opened, or scheduled.

Why this matters at 100 TB: Spark's parquet reader already skips ROW
GROUPS via footer stats, but it must still open every file to read the
footer — on a 100k-file table that is 100k driver/executor round trips
before the first byte of data.  The sidecar is the transaction-log
trick: scan-time pruning costs ONE small JSON read regardless of file
count (in a production lakehouse this metadata lives in the Delta log /
Iceberg manifest; the mechanism is identical).

Freshness: the sidecar is written immediately after the clustered
materialization, inside a directory keyed on the SOURCE SIGNATURE
(``signature.py``) — regenerated testdata rebuilds directory and
sidecar together, so they cannot drift apart.

The reference has no storage layer at all (SURVEY §2.4); this is
extension surface alongside partitioned sources and bucketed tables.
"""

from __future__ import annotations

import datetime
import json
import os
from typing import Optional, Sequence, Tuple

from .parquet_read import read_parquet

__all__ = [
    "write_file_stats",
    "select_files",
    "skipping_scan",
    "write_file_blooms",
    "select_files_eq",
    "skipping_scan_eq",
    "dynamic_skip_scan",
    "STATS_NAME",
]

STATS_NAME = "_file_stats.json"


def _enc(v):
    """JSON-encode a footer statistic, tagging non-JSON-native types."""
    if isinstance(v, datetime.datetime):
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"t": "date", "v": v.isoformat()}
    if isinstance(v, bytes):
        return {"t": "bytes", "v": v.decode("utf-8", "replace")}
    return v


def _dec(v):
    if isinstance(v, dict):
        if v.get("t") == "ts":
            return datetime.datetime.fromisoformat(v["v"])
        if v.get("t") == "date":
            return datetime.date.fromisoformat(v["v"])
        if v.get("t") == "bytes":
            return v["v"]
    return v


def _norm(v):
    """Comparable form: user bounds and footer stats may mix datetime
    and date (timestamp_ntz columns surface datetimes)."""
    v = _dec(v)
    if isinstance(v, datetime.datetime):
        return v
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day)
    return v


def _part_files(path: str) -> list[str]:
    return sorted(
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def write_file_stats(path: str, columns: Sequence[str]) -> dict:
    """Read each part file's footer ONCE (write time, driver-side) and
    persist per-file min/max for ``columns``.  Min/max fold over row
    groups; a column with no usable statistics records ``null`` (that
    file is then never skipped on that column — conservative)."""
    import pyarrow.parquet as pq

    files = {}
    for fname in _part_files(path):
        md = pq.ParquetFile(os.path.join(path, fname)).metadata
        bands = {}
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            for ci in range(rg.num_columns):
                col = rg.column(ci)
                name = col.path_in_schema
                if name not in columns:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    bands[name] = None
                    continue
                prev = bands.get(name)
                if prev is None and name in bands:
                    continue  # an earlier row group lacked stats
                lo, hi = st.min, st.max
                if prev is not None:
                    lo = min(prev[0], lo)
                    hi = max(prev[1], hi)
                bands[name] = (lo, hi)
        files[fname] = {
            c: ([_enc(b[0]), _enc(b[1])] if b is not None else None)
            for c, b in bands.items()
        }
    doc = {"columns": list(columns), "files": files}
    with open(os.path.join(path, STATS_NAME), "w") as f:
        json.dump(doc, f)
    return doc


def _load_stats(path: str) -> Optional[dict]:
    p = os.path.join(path, STATS_NAME)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def select_files(
    path: str, column: str, lower=None, upper=None
) -> Tuple[list[str], int]:
    """Part files whose [min,max] band on ``column`` can intersect
    [lower, upper] (either bound may be None = unbounded), plus the
    total file count.  Files without a sidecar entry or without stats
    for the column are kept — skipping must never be load-bearing for
    correctness, only for cost."""
    stats = _load_stats(path)
    all_files = _part_files(path)
    if stats is None:
        return [os.path.join(path, f) for f in all_files], len(all_files)
    lo_b = _norm(lower) if lower is not None else None
    hi_b = _norm(upper) if upper is not None else None
    selected = []
    for fname in all_files:
        band = stats["files"].get(fname, {}).get(column)
        if band is None:
            selected.append(os.path.join(path, fname))
            continue
        fmin, fmax = _norm(band[0]), _norm(band[1])
        if lo_b is not None and fmax < lo_b:
            continue
        if hi_b is not None and fmin > hi_b:
            continue
        selected.append(os.path.join(path, fname))
    return selected, len(all_files)


# -- Bloom-filter skipping (point lookups on UNCLUSTERED columns) ----------
#
# Min/max bands only prune when the layout clusters the predicate column;
# a point lookup on any OTHER column sees every file's full-range band.
# Per-file Bloom filters close that gap: ~1 KB of sidecar bits per file
# answers "could value v be in this file?" with no false negatives.
# The parquet format itself has optional column bloom filters; keeping
# ours in the sidecar makes them readable without opening files — the
# same one-JSON-read scan-time story as the min/max bands.


def _bloom_canon(value) -> str:
    """Canonical string for Bloom hashing.  Write-side values come from
    pyarrow ``to_pylist()`` while probe-side values are caller-supplied,
    so numerically-equal but differently-typed values (``7`` vs ``7.0``
    vs ``Decimal("7")``) and temporals must collapse to ONE repr on both
    paths — otherwise a file containing matches can be pruned, a false
    NEGATIVE that breaks the documented no-false-negatives contract."""
    import datetime
    import decimal

    if isinstance(value, bool):
        # bool is an int subclass; fold into the numeric repr so a
        # probe with 1/0 and a stored True/False agree either way
        return "1" if value else "0"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return str(int(value)) if value.is_integer() else repr(value)
    if isinstance(value, decimal.Decimal):
        if value == value.to_integral_value():
            return str(int(value))
        return str(value.normalize())
    if isinstance(value, datetime.datetime):
        return value.isoformat(sep="T")
    if isinstance(value, datetime.date):
        return value.isoformat()
    return str(value)


def _bloom_positions(value, n_bits: int, k: int):
    """k deterministic bit positions for ``value`` — md5 over the
    canonical string (``_bloom_canon``, shared by write and probe
    paths) with a per-probe seed, so any engine (or a test) can
    reproduce the filter bit-for-bit."""
    import hashlib

    canon = _bloom_canon(value)
    for i in range(k):
        h = hashlib.md5(f"{canon}|{i}".encode()).hexdigest()
        yield int(h[:15], 16) % n_bits


def write_file_blooms(
    path: str, columns: Sequence[str], n_bits: int = 8192, k: int = 4
) -> dict:
    """Build per-file Bloom filters for ``columns`` and merge them into
    the sidecar under ``"blooms"``.  Built at WRITE time from each part
    file's column values (here driver-side via one pyarrow column read;
    in a production writer the executor that wrote the file computes its
    bitset as a byproduct).  ~n_bits/8 bytes per file per column."""
    import pyarrow.parquet as pq

    blooms: dict = {"n_bits": n_bits, "k": k, "files": {}}
    for fname in _part_files(path):
        per_col = {}
        tbl = pq.read_table(
            os.path.join(path, fname), columns=list(columns)
        )
        for c in columns:
            bits = 0
            for v in tbl.column(c).to_pylist():
                if v is None:
                    continue
                for pos in _bloom_positions(v, n_bits, k):
                    bits |= 1 << pos
            per_col[c] = f"{bits:x}"
        blooms["files"][fname] = per_col
    doc = _load_stats(path) or {"columns": [], "files": {}}
    doc["blooms"] = blooms
    with open(os.path.join(path, STATS_NAME), "w") as f:
        json.dump(doc, f)
    return doc


def select_files_eq(path: str, column: str, values) -> Tuple[list[str], int]:
    """Part files that might contain ANY of ``values`` in ``column``
    per the sidecar Bloom filters (no false negatives; false positives
    only cost a wasted file read).  Files without a bloom are kept."""
    stats = _load_stats(path)
    all_files = _part_files(path)
    blooms = (stats or {}).get("blooms")
    if not blooms:
        return [os.path.join(path, f) for f in all_files], len(all_files)
    n_bits, k = blooms["n_bits"], blooms["k"]
    probes = [list(_bloom_positions(v, n_bits, k)) for v in values]
    selected = []
    for fname in all_files:
        hex_bits = blooms["files"].get(fname, {}).get(column)
        if hex_bits is None:
            selected.append(os.path.join(path, fname))
            continue
        bits = int(hex_bits, 16)
        if any(
            all((bits >> pos) & 1 for pos in plist) for plist in probes
        ):
            selected.append(os.path.join(path, fname))
    return selected, len(all_files)


def skipping_scan_eq(spark, path: str, column: str, values):
    """DataFrame over only the files whose Bloom filter admits at least
    one of ``values``; the caller re-applies the exact IN predicate."""
    files, _total = select_files_eq(path, column, values)
    if not files:
        return read_parquet(spark, path).filter("1=0")
    return read_parquet(spark, *files)


def skipping_scan(spark, path: str, column: str, lower=None, upper=None):
    """DataFrame over only the files that can satisfy
    ``lower <= column <= upper``.  The caller still applies the exact
    predicate (selected files are a superset); Spark's row-group pruning
    then narrows further WITHIN each kept file."""
    files, _total = select_files(path, column, lower, upper)
    if not files:
        # empty relation with the right schema
        return read_parquet(spark, path).filter("1=0")
    return read_parquet(spark, *files)


def dynamic_skip_scan(
    spark, path: str, column: str, keys_df, key_col: str,
    max_keys: int = 100_000,
):
    """RUNTIME file skipping by JOIN KEY — dynamic partition pruning at
    file granularity (the Spark DPP / runtime-filter idea applied to
    the sidecar Bloom filters): the small (dim) side's distinct join
    keys are collected and probed against the fact table's per-file
    Blooms, so only files that can contain matching keys are ever
    listed or opened.  When the fact layout clusters the join key
    (repartition-by-key at write), this skips the bulk of a 100 TB
    fact for a selective dim.

    The driver-side key collect is bounded by the same contract that
    makes the join broadcast-able at all — Spark collects that side to
    build the broadcast hash table; gathering its distinct keys is the
    same cost class.  Above ``max_keys`` the function falls back to the
    full scan (correct, just unpruned).

    Returns ``(DataFrame, kept_files, total_files)``; the caller still
    applies the exact join (kept files are a superset — Bloom false
    positives only cost a file read)."""
    rows = keys_df.select(key_col).distinct().limit(max_keys + 1).collect()
    all_files = _part_files(path)
    if len(rows) > max_keys:
        return read_parquet(spark, path), len(all_files), len(all_files)
    keys = [r[0] for r in rows]
    files, total = select_files_eq(path, column, keys)
    if not files:
        return read_parquet(spark, path).filter("1=0"), 0, total
    return read_parquet(spark, *files), len(files), total
