"""Catalog column statistics from one read per table version.

``Catalog._column_ndv`` computes ndv, numeric min/max, ``top_count`` and
equi-height histograms from the footers, one DuckDB
``approx_count_distinct`` query and Arrow/numpy kernels over one column
at a time.  The oracle below is the per-column DuckDB SQL the catalog
ran before (one ``GROUP BY`` per scalar column for ``top_count``, one
``quantile_cont`` per numeric column for the histogram); every field of
every ``ColumnStatistics`` must match it exactly.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_dolomite_spark.lru import LruCache
from datafusion_dolomite_spark.operators.properties import ColumnStatistics
from datafusion_dolomite_spark.sources import catalog as catalog_mod
from datafusion_dolomite_spark.sources.catalog import (
    TESTDATA_TABLES,
    Catalog,
)
from datafusion_dolomite_spark.sources.catalog import (
    testdata_catalog as _testdata_catalog,
)
from datafusion_dolomite_spark.sources.parquet_read import table_stamp

from .conftest import SF_DIR

_BINS = catalog_mod._HISTOGRAM_BINS


def _oracle(files):
    """Per-column statistics of ``files`` by per-column DuckDB queries."""
    md0 = pq.read_metadata(files[0])
    arrow_schema = md0.schema.to_arrow_schema()

    def _scalar(t):
        return not (
            pa.types.is_list(t) or pa.types.is_large_list(t)
            or pa.types.is_struct(t) or pa.types.is_map(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t)
        )

    scalar_cols = [f.name for f in arrow_schema if _scalar(f.type)]
    numeric_cols = {
        f.name for f in arrow_schema
        if pa.types.is_integer(f.type) or pa.types.is_floating(f.type)
    }
    vmin, vmax, ndv = {}, {}, {}
    for i, f in enumerate(files):
        md = pq.read_metadata(f)
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                st, path = col.statistics, col.path_in_schema
                if st is None:
                    continue
                if path in numeric_cols and st.has_min_max:
                    lo, hi = float(st.min), float(st.max)
                    vmin[path] = min(vmin.get(path, lo), lo)
                    vmax[path] = max(vmax.get(path, hi), hi)
                if i == 0 and st.has_distinct_count and st.distinct_count:
                    ndv[path] = ndv.get(path, 0.0) + float(st.distinct_count)
    flist = ", ".join(f"'{f}'" for f in files)
    missing = [c for c in scalar_cols if c not in ndv]
    if missing:
        exprs = ", ".join(f'approx_count_distinct("{c}")' for c in missing)
        row = duckdb.sql(f"SELECT {exprs} FROM read_parquet([{flist}])").fetchone()
        ndv.update((c, float(v or 0.0)) for c, v in zip(missing, row))
    probes = "[" + ", ".join(f"{i / _BINS!r}" for i in range(_BINS + 1)) + "]"
    out = []
    for c in scalar_cols:
        top = duckdb.sql(
            f'SELECT max(n) FROM (SELECT count(*) AS n '
            f'FROM read_parquet([{flist}]) GROUP BY "{c}")'
        ).fetchone()[0]
        hist = ()
        if c in numeric_cols:
            edges = duckdb.sql(
                f'SELECT quantile_cont("{c}", {probes}) '
                f"FROM read_parquet([{flist}])"
            ).fetchone()[0]
            if edges and all(e is not None for e in edges):
                hist = tuple(float(e) for e in edges)
        out.append((c, ColumnStatistics(
            ndv=ndv[c], min=vmin.get(c), max=vmax.get(c),
            top_count=float(top or 0.0), histogram=hist,
        )))
    return tuple(out)


def _cold_store(monkeypatch):
    """An empty table store for the catalog, for the test's duration."""
    monkeypatch.setattr(
        catalog_mod, "TABLE_STORE", LruCache(catalog_mod.TABLE_STORE.bound)
    )


def _fresh_stats(monkeypatch, path):
    """Cold per-column statistics of the table at ``path``."""
    _cold_store(monkeypatch)
    cat = Catalog({"t": path})
    return cat.statistics("t").columns


@pytest.mark.parametrize("table", TESTDATA_TABLES)
def test_testdata_stats_match_duckdb_oracle(monkeypatch, table):
    path = os.path.join(SF_DIR, f"{table}.parquet")
    got = _fresh_stats(monkeypatch, path)
    assert got and got == _oracle([path])


def test_four_file_table_matches_duckdb_oracle(monkeypatch, tmp_path):
    src = pq.read_table(os.path.join(SF_DIR, "lineitem.parquet"))
    d = tmp_path / "lineitem_parts"
    d.mkdir()
    step = -(-src.num_rows // 4)
    for i in range(4):
        pq.write_table(src.slice(i * step, step), str(d / f"part-{i}.parquet"))
    got = _fresh_stats(monkeypatch, str(d))
    assert len(got) == 11
    assert got == _oracle(sorted(str(f) for f in d.iterdir()))
    assert Catalog({"t": str(d)}).statistics("t").row_count == src.num_rows


def test_deletion_vector_sidecar_is_not_table_data(monkeypatch, tmp_path):
    """A version dir carrying a ``_dv/`` sidecar: ``row_count`` counts
    the data files only, and the column statistics are the data files'
    (the sidecar, which sorts first, has another schema)."""
    d = tmp_path / "v1"
    (d / "_dv").mkdir(parents=True)
    data = pa.table({"k": np.arange(100, dtype=np.int64),
                     "v": np.arange(100, dtype=np.float64) / 4})
    pq.write_table(data, str(d / "part-00000.parquet"))
    pq.write_table(
        pa.table({"file_name": ["part-00000.parquet"] * 5,
                  "row_index": np.arange(5, dtype=np.int64)}),
        str(d / "_dv" / "part-00000.parquet"),
    )
    got = _fresh_stats(monkeypatch, str(d))
    assert got and got == _oracle([str(d / "part-00000.parquet")])
    assert Catalog({"t": str(d)}).statistics("t").row_count == 100


def _crafted(n=240, seed=7):
    rng = np.random.default_rng(seed)

    def masked(values, p=0.1):
        return [None if rng.random() < p else v for v in values]

    doubles = rng.choice([-0.0, 0.0, 1.5, -2.25, 7.0, 1e300, -1e-300], n)
    # NaN is the largest group, so top_count must group NaNs together
    with_nan = [float("nan") if rng.random() < 0.4 else float(v) for v in doubles]
    # float32 across magnitudes: DuckDB interpolates floats differently
    # from doubles, and only wide ranges show the difference
    f32 = rng.choice([-1.0, 1.0], n) * np.exp(rng.uniform(-20, 20, n))
    ts0 = datetime.datetime(2024, 1, 1)
    return pa.table({
        "d_nan": pa.array(masked(with_nan), pa.float64()),
        "d_zero": pa.array(masked([float(v) for v in doubles]), pa.float64()),
        "d_price": pa.array(masked(np.round(rng.uniform(900, 1e5, n), 2).tolist()),
                            pa.float64()),
        "f32": pa.array(masked(f32.astype(np.float32).tolist()), pa.float32()),
        "i32": pa.array(masked(rng.integers(-5, 5, n).tolist()), pa.int32()),
        "big": pa.array(masked((rng.integers(0, 50, n) * (2**55 + 3)).tolist()),
                        pa.int64()),
        "u8": pa.array(rng.integers(0, 255, n).tolist(), pa.uint8()),
        "all_null": pa.array([None] * n, pa.int64()),
        "flag": pa.array(masked(rng.random(n) < 0.3), pa.bool_()),
        "dec": pa.array(masked([decimal.Decimal(int(v)) / 100
                                for v in rng.integers(0, 40, n)]),
                        pa.decimal128(10, 2)),
        "ts": pa.array(masked([ts0 + datetime.timedelta(minutes=int(v))
                               for v in rng.integers(0, 60, n)]),
                       pa.timestamp("us")),
        "s": pa.array(masked([f"k{v}" for v in rng.integers(0, 9, n)], 0.3),
                      pa.string()),
    })


def _nan_last_edges(values):
    """Equi-height edges with NaNs ordered after every number, as
    ``np.sort`` (and DuckDB's ORDER BY) place them."""
    vals = sorted((v for v in values if v is not None),
                  key=lambda v: (math.isnan(v), v))
    n = len(vals)
    out = []
    for i in range(_BINS + 1):
        rn = (n - 1) * (i / _BINS)
        lo, hi = math.floor(rn), math.ceil(rn)
        d = rn - lo
        out.append(vals[lo] if lo == hi else vals[lo] * (1 - d) + vals[hi] * d)
    return out


def _same_float(a, b):
    return (math.isnan(a) and math.isnan(b)) or a == b


def test_crafted_types_and_edge_values_match_duckdb_oracle(monkeypatch, tmp_path):
    table = _crafted()
    path = str(tmp_path / "crafted.parquet")
    pq.write_table(table, path)
    got = dict(_fresh_stats(monkeypatch, path))
    want = dict(_oracle([path]))
    assert list(got) == list(want) == table.column_names
    for c in table.column_names:
        if c == "d_nan":
            continue
        assert got[c] == want[c], c
    assert got["all_null"].top_count == table.num_rows
    assert got["all_null"].histogram == ()
    # NaN: ndv, bounds and top_count (NaNs form one group) match DuckDB.
    # DuckDB's quantile_cont is not order-consistent over NaNs (a probe
    # list and the same probes one at a time disagree), so the edges are
    # checked against the NaN-last order instead.
    g, w = got["d_nan"], want["d_nan"]
    assert (g.ndv, g.min, g.max, g.top_count) == (w.ndv, w.min, w.max, w.top_count)
    expected = _nan_last_edges(table.column("d_nan").to_pylist())
    assert len(g.histogram) == _BINS + 1
    assert all(_same_float(a, b) for a, b in zip(g.histogram, expected))
    assert math.isnan(g.histogram[-1])


def test_zero_row_file_matches_duckdb_oracle(monkeypatch, tmp_path):
    path = str(tmp_path / "empty.parquet")
    pq.write_table(_crafted().slice(0, 0), path)
    got = _fresh_stats(monkeypatch, path)
    assert got == _oracle([path])
    assert all(s.top_count == 0.0 and s.histogram == () for _, s in got)


def _count_duckdb_queries(monkeypatch):
    calls = []
    real = duckdb.sql

    def counting(*args, **kwargs):
        calls.append(args[0] if args else kwargs)
        return real(*args, **kwargs)

    monkeypatch.setattr(duckdb, "sql", counting)
    return calls


def test_cold_column_stats_make_one_duckdb_query(monkeypatch):
    _cold_store(monkeypatch)
    cat = _testdata_catalog(SF_DIR)
    calls = _count_duckdb_queries(monkeypatch)
    columns = cat.statistics("lineitem").columns
    assert len(columns) == 11
    assert len(calls) == 1 and "approx_count_distinct" in calls[0]
    # warm: served from the process-wide table store, no query at all
    _testdata_catalog(SF_DIR).statistics("lineitem")
    assert len(calls) == 1


def test_footer_distinct_counts_need_no_duckdb_query(monkeypatch, tmp_path):
    # DuckDB's writer records distinct_count for dictionary-encoded
    # string columns, so every column of this file carries one
    path = str(tmp_path / "dict.parquet")
    duckdb.sql(
        "COPY (SELECT 'k' || (range % 3) AS a, 'v' || (range % 5) AS b "
        f"FROM range(100)) TO '{path}' (FORMAT PARQUET)"
    )
    md = pq.read_metadata(path)
    assert all(
        md.row_group(0).column(i).statistics.has_distinct_count
        for i in range(md.num_columns)
    )
    _cold_store(monkeypatch)
    calls = _count_duckdb_queries(monkeypatch)
    cols = dict(Catalog({"t": path}).statistics("t").columns)
    assert calls == []
    assert (cols["a"].ndv, cols["a"].top_count) == (3.0, 34.0)
    assert (cols["b"].ndv, cols["b"].top_count) == (5.0, 20.0)


def _write_plain(path, g):
    """Fixed-width, uncompressed, statistics-free: a rewrite with the
    same row count has the same size."""
    pq.write_table(
        pa.table({"id": pa.array(range(len(g)), pa.int64()),
                  "g": pa.array(g, pa.int64())}),
        path, compression="none", use_dictionary=False, write_statistics=False,
    )


def test_analyze_recomputes_after_same_stamp_rewrite(tmp_path):
    path = str(tmp_path / "t.parquet")
    _write_plain(path, [i % 7 for i in range(140)])
    cat = Catalog({"t": path})
    before = dict(cat.statistics("t").columns)["g"]
    assert (before.ndv, before.top_count) == (7.0, 20.0)
    stamp = table_stamp(path)
    st = os.stat(path)
    _write_plain(path, [i % 2 for i in range(140)])
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    # the rewrite is invisible to the stamp: only ANALYZE can see it
    assert table_stamp(path) == stamp
    assert dict(cat.statistics("t").columns)["g"] == before
    after = dict(cat.analyze("t").columns)["g"]
    assert (after.ndv, after.top_count) == (2.0, 70.0)
    # ANALYZE refreshed the process-wide entry every catalog reads
    assert dict(Catalog({"t": path}).statistics("t").columns)["g"] == after


def test_new_catalog_sees_in_place_rewrite(tmp_path):
    d = tmp_path / "t"
    d.mkdir()
    for i in range(2):
        _write_plain(str(d / f"part-{i}.parquet"), [i % 7 for i in range(140)])
    assert dict(Catalog({"t": str(d)}).statistics("t").columns)["g"].top_count == 40
    _write_plain(str(d / "part-1.parquet"), [0] * 300)
    fresh = Catalog({"t": str(d)}).statistics("t")
    assert fresh.row_count == 440
    assert dict(fresh.columns)["g"].top_count == 320


def test_statistics_follow_in_place_rewrite(tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": np.arange(100, dtype=np.int64)}), path)
    cat = Catalog({"t": path})
    assert cat.statistics("t").row_count == 100
    pq.write_table(pa.table({"k": np.arange(250, dtype=np.int64),
                             "v": np.arange(250, dtype=np.float64)}), path)
    assert [f.name for f in cat.schema("t").fields] == ["k", "v"]
    st = cat.statistics("t")
    assert st.row_count == 250
    assert dict(st.columns)["v"].ndv > 0
    # ANALYZE still recomputes: a cold fill, not the stored entry
    before = cat.stats_seconds
    assert cat.analyze("t").row_count == 250
    assert cat.stats_seconds > before


def test_csv_directory_statistics_follow_in_place_rewrite(tmp_path):
    d = tmp_path / "t"
    d.mkdir()
    (d / "a.csv").write_text("k\n" + "".join(f"{i}\n" for i in range(100)))
    cat = Catalog()
    cat.register("t", str(d), format="csv")
    assert cat.statistics("t").row_count == 100
    (d / "a.csv").write_text("k\n" + "".join(f"{i}\n" for i in range(250)))
    assert cat.statistics("t").row_count == 250


def test_cascades_reports_cold_catalog_stats_seconds(monkeypatch):
    from datafusion_dolomite_spark.optimizer.cascades.optimizer import (
        CascadesOptimizer,
    )
    from datafusion_dolomite_spark.optimizer.rule import OptimizerContext
    from datafusion_dolomite_spark.planner import default_cascades_rules
    from datafusion_dolomite_spark.sql import parse_sql

    _cold_store(monkeypatch)
    cat = _testdata_catalog(SF_DIR)
    plan = parse_sql(
        "select n_name, count(*) from customer join nation "
        "on c_nationkey = n_nationkey group by n_name", cat)

    def stats():
        opt = CascadesOptimizer(default_cascades_rules(), OptimizerContext(cat))
        opt.find_best_plan(plan)
        return opt.planning_stats

    cold = stats()
    assert 0 < cold["catalog_stats_seconds"] <= cold["seconds"]
    assert stats()["catalog_stats_seconds"] == 0.0
