"""Single-stage regime: a small statement runs as one interpreted Spark
stage on the caller's companion session.

``QueryPlanner.dataframe`` picks the regime per statement from the
catalog row counts of its scanned tables (``SINGLE_STAGE_INPUT_ROWS``).
These tests pin the lowering (one job, no exchange, no whole-stage
codegen), the rows of both regimes against DuckDB on the 22 TPC-H
shapes, that a plain ``LIMIT`` read stays on the caller, and that the
companion follows the caller's SQL conf without ever writing it.
"""

from __future__ import annotations

import os
import random
import sys

import duckdb
import pytest

from datafusion_dolomite_spark import QueryPlanner
from datafusion_dolomite_spark.optimizer.cascades import cost
from datafusion_dolomite_spark.sources.catalog import (
    testdata_catalog as load_catalog,
)
from datafusion_dolomite_spark.sql import parse_sql

from .conftest import SF_DIR_ORACLE

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")
)
import tpch_shapes  # noqa: E402
from workloads import same_rows  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem")


@pytest.fixture(scope="module")
def catalog01():
    return load_catalog(SF_DIR_ORACLE)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("set TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from "
            f"read_parquet('{SF_DIR_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


def _force(monkeypatch, single: bool):
    monkeypatch.setattr(
        cost, "SINGLE_STAGE_INPUT_ROWS", float("inf") if single else -1
    )


def _query(shape: str, catalog) -> str:
    n_cust = int(catalog.statistics("customer").row_count)
    return tpch_shapes.render(
        shape, tpch_shapes.draw_params(random.Random(shape), n_cust)
    )


def _jobs_of(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_eligible_shape_runs_as_one_stage(spark, catalog01):
    qp = QueryPlanner(spark, catalog01)
    df = qp.sql(_query("q5", catalog01))
    stats = qp.last_planning_stats
    assert stats["regime"] == "single_stage"
    assert 0 < stats["regime_input_rows"] <= cost.SINGLE_STAGE_INPUT_ROWS
    rows, jobs = _jobs_of(spark, "single-stage-q5", df.collect)
    assert rows
    assert jobs == 1
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in executed
    assert "WholeStageCodegen" not in executed
    assert df.sparkSession is not spark
    plan = parse_sql(_query("q5", catalog01), catalog01)
    assert "single_stage (input rows" in qp.explain(plan)


@pytest.mark.parametrize("shape", list(tpch_shapes.SHAPES))
def test_both_regimes_match_duckdb(spark, catalog01, duck, monkeypatch, shape):
    query = _query(shape, catalog01)
    rel = duck.sql(query)
    want_cols, want = rel.columns, rel.fetchall()
    for single in (True, False):
        _force(monkeypatch, single)
        qp = QueryPlanner(spark, catalog01)
        df = qp.sql(query)
        regime = qp.last_planning_stats["regime"]
        assert regime == ("single_stage" if single else "multi_stage")
        got = [tuple(r) for r in df.collect()]
        assert same_rows(df.columns, got, want_cols, want), (
            f"{shape} {regime}: {got[:5]} != {want[:5]}"
        )


def test_limit_read_stays_on_the_caller(spark, catalog01):
    qp = QueryPlanner(spark, catalog01)
    df = qp.sql("select * from lineitem limit 1")
    assert qp.last_planning_stats["regime"] == "multi_stage"
    assert df.sparkSession is spark
    assert len(df.collect()) == 1
    assert "CollectLimit" in df._jdf.queryExecution().executedPlan().toString()


def test_caller_conf_is_followed_and_never_written(spark, catalog01):
    # fresh planners: the prepared-DataFrame cache keeps a frame analyzed
    # under the conf of its first build; the companion is per session
    query = "select max(cast(n_name as int)) as x from nation group by n_regionkey"
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)

    def run():
        qp = QueryPlanner(spark, catalog01)
        df = qp.sql(query)
        assert qp.last_planning_stats["regime"] == "single_stage"
        assert df.sparkSession is not spark
        return df

    try:
        spark.conf.set(key, "false")
        assert run().collect()[0][0] is None  # the companion exists now
        caller_conf = dict(spark.conf.getAll)
        # set on the caller after the companion exists: honored
        spark.conf.set(key, "true")
        caller_conf[key] = "true"
        df = run()
        assert df.sparkSession.conf.get(key) == "true"
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            df.collect()
        spark.conf.set(key, "false")
        caller_conf[key] = "false"
        df = run()
        assert df.collect()[0][0] is None
        assert df.sparkSession.conf.get("spark.sql.codegen.wholeStage") == "false"
        # the caller's conf holds exactly what the caller set
        assert dict(spark.conf.getAll) == caller_conf
        assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"
    finally:
        spark.conf.set(key, before)


def test_codegen_cache_sized_to_the_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
