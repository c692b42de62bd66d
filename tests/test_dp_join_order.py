"""Exact join enumeration (DP) versus its greedy pass, and the memo caps.

``cascades/join_order.py`` fills the memo with every connected relation
set of an inner-join graph (DPccp, the DP of these tests' names); above
``MAX_EXACT_PAIRS`` csg-cmp pairs it takes one greedy pass instead
(forced here by setting the bound to 0).  ``TaskRunner`` keeps memo
group/expression caps as the safety valve and ``CascadesOptimizer``
records planning-time stats.

The comparison queries use comma joins whose TEXTUAL adjacency is
disconnected: the written plan keeps a cross join that only the
enumeration removes.
"""

from __future__ import annotations

import pytest

from datafusion_dolomite_spark import QueryPlanner
from datafusion_dolomite_spark import testdata_catalog as _testdata_catalog
from datafusion_dolomite_spark.execute import to_spark
from datafusion_dolomite_spark.expr import Lit
from datafusion_dolomite_spark.optimizer.cascades import join_order
from datafusion_dolomite_spark.optimizer.cascades.cost import static_plan_cost
from datafusion_dolomite_spark.planner import default_cascades_rules
from datafusion_dolomite_spark.sql import parse_sql

from .conftest import SF_DIR_ORACLE

#: cyclic join graph (the Q5 customer–supplier nationkey cycle) with a
#: DISCONNECTED textual adjacency (customer, region share no predicate),
#: so the enumeration must place the cycle's three conjuncts
CYCLIC_Q = (
    "select n_name, count(*) as n "
    "from customer, region, supplier, nation "
    "where c_nationkey = s_nationkey and s_nationkey = n_nationkey "
    "and c_nationkey = n_nationkey and n_regionkey = r_regionkey "
    "group by n_name"
)


def test_dp_beats_written_order_on_cyclic_graph(
    spark, monkeypatch
):
    """The exact enumeration is cheaper than the written order, and at
    least as cheap as its own greedy pass (which, cost-aware, finds the
    same plan on this graph)."""
    cat = _testdata_catalog(SF_DIR_ORACLE)
    qp_dp = QueryPlanner(spark, cat)
    qp_gr = QueryPlanner(spark, cat)
    qp_wr = QueryPlanner(
        spark,
        cat,
        cascades_rules=default_cascades_rules(enable_join_exploration=False),
    )
    p_dp = qp_dp.optimize(parse_sql(CYCLIC_Q, cat))
    p_wr = qp_wr.optimize(parse_sql(CYCLIC_Q, cat))
    monkeypatch.setattr(join_order, "MAX_EXACT_PAIRS", 0)
    p_gr = qp_gr.optimize(parse_sql(CYCLIC_Q, cat))
    cm = qp_dp.cost_model
    c_dp = static_plan_cost(p_dp, cm, qp_dp.ctx)
    c_gr = static_plan_cost(p_gr, cm, qp_gr.ctx)
    c_wr = static_plan_cost(p_wr, cm, qp_wr.ctx)
    assert c_dp < c_wr, (
        f"DP {c_dp} vs written {c_wr}\n{p_dp.explain()}\n{p_wr.explain()}"
    )
    assert c_dp <= c_gr, (
        f"DP {c_dp} vs greedy {c_gr}\n{p_dp.explain()}\n{p_gr.explain()}"
    )
    # same answer every way
    rows_dp = sorted(map(tuple, to_spark(p_dp, spark, cat).collect()))
    rows_gr = sorted(map(tuple, to_spark(p_gr, spark, cat).collect()))
    rows_wr = sorted(map(tuple, to_spark(p_wr, spark, cat).collect()))
    assert rows_dp == rows_gr == rows_wr and rows_dp


def test_dp_matches_duckdb_oracle(spark):
    import duckdb

    cat = _testdata_catalog(SF_DIR_ORACLE)
    qp = QueryPlanner(spark, cat)
    got = sorted(map(tuple, qp.dataframe(parse_sql(CYCLIC_Q, cat)).collect()))
    con = duckdb.connect()
    for t in ("customer", "region", "supplier", "nation"):
        con.sql(
            f"create view {t} as select * from "
            f"read_parquet('{SF_DIR_ORACLE}/{t}.parquet')"
        )
    want = sorted(tuple(r) for r in con.sql(CYCLIC_Q).fetchall())
    assert got == want


def test_dp_collapses_dims_before_fact(spark):
    """Disconnected comma join over a dim chain + fact: the enumerated
    plan joins region→nation→supplier first and probes lineitem ONCE
    (the written order starts from the fact instead)."""
    cat = _testdata_catalog(SF_DIR_ORACLE)
    qp = QueryPlanner(spark, cat)
    sql = (
        "select n_name, count(*) as n from lineitem, region, supplier, nation "
        "where l_suppkey = s_suppkey and s_nationkey = n_nationkey "
        "and n_regionkey = r_regionkey group by n_name"
    )
    lg = qp.optimize(parse_sql(sql, cat))

    def tables(node):
        out = set()
        if hasattr(node.operator, "table_name"):
            out.add(node.operator.table_name)
        for c in node.inputs:
            out |= tables(c)
        return out

    joins = []

    def walk(node):
        if "Join" in type(node.operator).__name__:
            joins.append((tables(node.inputs[0]), tables(node.inputs[1])))
        for c in node.inputs:
            walk(c)

    walk(lg.root)
    li = [(l, r) for l, r in joins if "lineitem" in l or "lineitem" in r]
    assert len(li) == 1, lg.explain()
    other = li[0][1] if "lineitem" in li[0][0] else li[0][0]
    assert other == {"supplier", "nation", "region"}, lg.explain()


def test_dp_is_hep_fixpoint_stable(spark):
    """The Hep phase leaves the written cross join to the DP in Cascades,
    and re-optimizing its own output must not rewrite again: the hep
    fixed point terminates."""
    cat = _testdata_catalog(SF_DIR_ORACLE)
    qp = QueryPlanner(spark, cat)
    lg1 = qp.optimize_logical(parse_sql(CYCLIC_Q, cat))
    lg2 = qp.optimize_logical(lg1)
    assert lg1.explain() == lg2.explain()


def test_planning_stats_and_memo_budget(spark):
    """CascadesOptimizer reports planning time + memo size, and the
    task runner's memo caps exist as the exploration safety valve."""
    from datafusion_dolomite_spark.optimizer.cascades.tasks import TaskRunner

    cat = _testdata_catalog(SF_DIR_ORACLE)
    qp = QueryPlanner(spark, cat)
    qp.optimize(parse_sql(CYCLIC_Q, cat))
    st = qp.last_planning_stats
    assert 0 < st["seconds"] < 30
    assert 0 < st["groups"] < TaskRunner.MAX_MEMO_GROUPS
    assert 0 < st["exprs"] < TaskRunner.MAX_MEMO_EXPRS
    # commutation mirrored the enumerated joins
    assert st["transformations"] > 0


def test_memo_cap_halts_exploration_but_still_plans(spark, monkeypatch):
    """With the expression cap forced to 1, transformations stop but
    implementation rules still produce a correct physical plan."""
    from datafusion_dolomite_spark.optimizer.cascades.tasks import TaskRunner

    monkeypatch.setattr(TaskRunner, "MAX_MEMO_EXPRS", 1)
    cat = _testdata_catalog(SF_DIR_ORACLE)
    qp = QueryPlanner(spark, cat)
    plan = qp.optimize(parse_sql(CYCLIC_Q, cat))
    assert plan is not None
    assert qp.last_planning_stats["transformations"] == 0
    rows = sorted(map(tuple, to_spark(plan, spark, cat).collect()))
    assert rows  # executes correctly without exploration


def test_nine_leaves_falls_back_to_greedy(spark, tmp_path, monkeypatch):
    """Above MAX_EXACT_PAIRS the enumeration must take its greedy pass
    rather than enumerate every csg-cmp pair: a 9-relation star (1024
    pairs) still plans, cross joins eliminated, with the exact
    enumeration declining."""
    cat = _testdata_catalog(SF_DIR_ORACLE)
    # 9 leaves: nation + region + 7 distinct-alias copies via SQL self
    # joins would collide on names; build a synthetic star instead
    from datafusion_dolomite_spark.sources.catalog import Catalog

    cat2 = Catalog()
    base = tmp_path / "star"
    import os

    os.makedirs(base, exist_ok=True)
    hub_cols = {}
    for i in range(8):
        spark.createDataFrame(
            [(k, k * (i + 2)) for k in range(20)], f"k{i} bigint, p{i} bigint"
        ).coalesce(1).write.mode("overwrite").parquet(str(base / f"d{i}"))
        cat2.register(f"d{i}", str(base / f"d{i}"))
        hub_cols[f"h{i}"] = None
    spark.createDataFrame(
        [tuple([k] * 8) for k in range(200)],
        ", ".join(f"h{i} bigint" for i in range(8)),
    ).coalesce(1).write.mode("overwrite").parquet(str(base / "hub"))
    cat2.register("hub", str(base / "hub"))

    calls = {"greedy": 0}
    orig = join_order._JoinGraph._greedy

    def spy(self, comp):
        calls["greedy"] += 1
        return orig(self, comp)

    monkeypatch.setattr(join_order._JoinGraph, "_greedy", spy)
    qp = QueryPlanner(spark, cat2)
    # hub first, then a disconnected dim (d7 shares nothing with the
    # preceding tables until its conjunct): the written plan has cross
    # joins the greedy pass must remove
    sql = (
        "select count(*) as n from hub, d7, d0, d1, d2, d3, d4, d5, d6 "
        "where " + " and ".join(f"h{i} = k{i}" for i in range(8))
    )
    lg = qp.optimize_logical(parse_sql(sql, cat2))
    assert "Join" in lg.explain()
    phys = qp.optimize_physical(lg)
    assert all(
        getattr(n.operator, "condition", None) != Lit(True)
        for n in phys.bfs_iterator()
    )
    rows = to_spark(phys, spark, cat2).collect()
    assert rows[0]["n"] == 20  # hub keys 0..19 match every dim once
    # 9 leaves, 1024 pairs: the exact enumeration declined
    assert calls["greedy"] == 1
