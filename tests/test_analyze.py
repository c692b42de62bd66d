"""ANALYZE TABLE (r7): on-demand statistics refresh.

The catalog derives statistics automatically (footer row counts,
ndv/min/max/top_count) and keeps them per table version; ``analyze()``
is the user-facing refresh — recompute past the table store, clear the
table's adaptive selectivity corrections, and surface the numbers
through the SQL front door the way Spark's ``ANALYZE TABLE … COMPUTE
STATISTICS`` does."""

from __future__ import annotations

import pytest

from datafusion_dolomite_spark import QueryPlanner
from datafusion_dolomite_spark.sources.catalog import Catalog


def _write(spark, path, n):
    spark.createDataFrame(
        [(i, i % 7) for i in range(n)], "id bigint, g bigint"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def test_analyze_refreshes_stale_cached_stats(spark, tmp_path):
    path = str(tmp_path / "t")
    _write(spark, path, 100)
    cat = Catalog()
    cat.register("t", path)
    assert cat.statistics("t").row_count == 100
    _write(spark, path, 250)
    # the rewrite changed the table stamp: statistics follow it
    assert cat.statistics("t").row_count == 250
    st = cat.analyze("t")
    assert st.row_count == 250
    assert cat.statistics("t").row_count == 250


def test_analyze_clears_adaptive_corrections(spark, tmp_path):
    path = str(tmp_path / "t")
    _write(spark, path, 100)
    cat = Catalog()
    cat.register("t", path)
    cat.record_selectivity_correction("t", "(g = 1)", 42.0)
    cat.record_selectivity_correction("other", "(x = 1)", 7.0)
    assert cat.selectivity_correction("t", "(g = 1)") == 42.0
    cat.analyze("t")
    assert cat.selectivity_correction("t", "(g = 1)") == 1.0
    # other tables' corrections survive
    assert cat.selectivity_correction("other", "(x = 1)") == 7.0


def test_sql_analyze_table_surface(spark, tmp_path):
    path = str(tmp_path / "t")
    _write(spark, path, 140)
    cat = Catalog()
    cat.register("t", path)
    qp = QueryPlanner(spark, cat)
    rows = {
        r["column_name"]: r
        for r in qp.sql("ANALYZE TABLE t COMPUTE STATISTICS").collect()
    }
    assert rows["__table__"]["ndv"] == 140
    assert rows["g"]["ndv"] == 7
    assert rows["g"]["top_count"] == 20
    assert rows["id"]["min_v"] == 0.0 and rows["id"]["max_v"] == 139.0
