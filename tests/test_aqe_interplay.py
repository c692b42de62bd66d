"""AQE interplay: adaptive execution must not undo the engine's choices.

The engine pins join strategies (broadcast/merge hints from the
cascades winner) and relies on bucketed layouts to elide shuffles;
``spark.sql.adaptive.enabled`` is true throughout (session.py:28).  AQE
replans between stages, so these tests assert — on the FINAL adaptive
plan, after execution — that (a) a bucketed co-located join still runs
with zero Exchange and (b) a cost-chosen broadcast join is still a
broadcast after any AQE replanning.  Catching either regression here is
cheaper than discovering at 100 TB that every "shuffle-free" join
quietly re-acquired an Exchange.
"""

from __future__ import annotations

import contextlib
import io

from datafusion_dolomite_spark.optimizer.cascades import cost

from .conftest import SF_DIR


def _final_plan(df) -> str:
    """The formatted plan AFTER an action: AQE's final plan section."""
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    # keep only the final-plan section when AQE printed both
    if "== Initial Plan ==" in text:
        text = text.split("== Initial Plan ==")[0]
    return text


def test_bucketed_join_shuffle_free_under_aqe(spark):
    from datafusion_dolomite_spark.sources.sinks import ensure_bucketed_table

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    ensure_bucketed_table(
        spark, "aqe_orders_bkt", f"{SF_DIR}/orders.parquet", ["o_custkey"], 4
    )
    ensure_bucketed_table(
        spark, "aqe_cust_bkt", f"{SF_DIR}/customer.parquet", ["c_custkey"], 4
    )
    o = spark.table("aqe_orders_bkt").select("o_orderkey", "o_custkey")
    c = spark.table("aqe_cust_bkt").select("c_custkey", "c_mktsegment")
    joined = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    plan = _final_plan(joined)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, (
        "AQE reintroduced an Exchange into the bucketed co-located join:\n"
        + plan
    )


def test_cost_chosen_broadcast_survives_aqe(spark, catalog, monkeypatch):
    from datafusion_dolomite_spark import (
        JoinType,
        LogicalPlanBuilder,
        QueryPlanner,
        col,
    )

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # pins the multi-stage lowering: force it at this input size
    monkeypatch.setattr(cost, "SINGLE_STAGE_INPUT_ROWS", -1)
    qp = QueryPlanner(spark, catalog)
    plan = (
        LogicalPlanBuilder()
        .scan("orders")
        .join(
            LogicalPlanBuilder().scan("nation"),
            JoinType.INNER,
            col("o_custkey").eq(col("n_nationkey")),
        )
        .projection([col("o_orderkey"), col("n_name")])
        .build()
    )
    # the cascades winner must be a broadcast (nation is tiny)
    assert "PhysicalBroadcastHashJoin" in qp.explain(plan)
    df = qp.dataframe(plan)
    final = _final_plan(df)
    assert "BroadcastHashJoin" in final, (
        "AQE replanning dropped the cost-chosen broadcast:\n" + final
    )
    assert "SortMergeJoin" not in final


def test_runtime_bloom_filter_injects_into_emitted_shuffle_join(spark):
    """Spark's runtime row-level Bloom-filter join (on by default,
    thresholds sized for real scans) INJECTS into the shuffle joins this
    engine emits: with the at-scale conditions simulated (no broadcast,
    application-side threshold lowered), the optimized plan gains a
    might_contain(bloom) filter on the fact side built from the
    selective dim side — free row-level runtime filtering on top of our
    file-level skipping, for every shuffle join we plan at 100 TB."""
    from datafusion_dolomite_spark import QueryPlanner, testdata_catalog
    from datafusion_dolomite_spark.execute import to_spark
    from datafusion_dolomite_spark.optimizer.cascades.cost import (
        SparkCostModel,
    )
    from datafusion_dolomite_spark.sql import parse_sql

    from .conftest import SF_DIR_ORACLE

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cat = testdata_catalog(SF_DIR_ORACLE)
        qp = QueryPlanner(
            spark,
            cat,
            cost_model=SparkCostModel(
                broadcast_row_threshold=0, broadcast_bytes_threshold=0
            ),
        )
        sql = (
            "select count(*) as n from lineitem join orders "
            "on l_orderkey = o_orderkey "
            "where o_orderdate >= '1996-01-01' and o_orderdate < '1996-03-01'"
        )
        df = to_spark(qp.optimize(parse_sql(sql, cat)), spark, cat)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        # and the filtered plan still computes the right answer
        import duckdb

        con = duckdb.connect()
        for t in ("lineitem", "orders"):
            con.sql(
                f"create view {t} as select * from "
                f"read_parquet('{SF_DIR_ORACLE}/{t}.parquet')"
            )
        assert df.collect()[0]["n"] == con.sql(sql).fetchone()[0]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_exchange_on_other_sides_key_is_not_unwrapped(spark, catalog):
    """Tightened `_side_df_skipping_redundant_exchange` (r8, VERDICT r7
    item 8): an Exchange under a shuffle join is unwrapped ONLY when its
    hash columns are THIS side's join keys, resolved against the
    child's ACTUAL schema — hashed on any other column of the child
    (hand-built plans can do this), the repartition must survive into
    the emitted plan; hashed on a column the child doesn't even carry,
    the unwrap must not silently hide the invalid plan."""
    from datafusion_dolomite_spark.execute import SparkExecutor
    from datafusion_dolomite_spark.expr import BinOp, Col
    from datafusion_dolomite_spark.operators.logical import JoinType
    from datafusion_dolomite_spark.operators.physical import (
        Exchange,
        PhysicalHashJoin,
        PhysicalTableScan,
    )
    from datafusion_dolomite_spark.operators.properties import (
        DistributionSpec,
    )
    from datafusion_dolomite_spark.plans.plan import Plan, PlanNode

    cond = BinOp("=", Col("o_custkey"), Col("c_custkey"))

    def plan(exchange_cols):
        orders = PlanNode(PhysicalTableScan("orders"))
        cust = PlanNode(PhysicalTableScan("customer"))
        left = PlanNode(
            Exchange(DistributionSpec.hashed(tuple(exchange_cols))), [orders]
        )
        return Plan(
            PlanNode(PhysicalHashJoin(JoinType.INNER, cond), [left, cust])
        )

    ex = SparkExecutor(spark, catalog)
    # own join key → unwrapped: no RepartitionByExpression in the plan
    own = ex.execute(plan(["o_custkey"]))
    assert "RepartitionByExpression" not in own._jdf.queryExecution().logical().toString()
    # a non-key column of the child → NOT unwrapped
    other = ex.execute(plan(["o_orderkey"]))
    assert "RepartitionByExpression" in other._jdf.queryExecution().logical().toString()
    # hashed on the OTHER side's key name (not in this child at all) →
    # not unwrapped either; Spark then rejects the invalid repartition
    # instead of the unwrap masking it
    import pytest as _pytest

    with _pytest.raises(Exception, match="c_custkey"):
        ex.execute(plan(["c_custkey"])).collect()
