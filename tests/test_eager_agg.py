"""EagerAggregationRule: cost-based partial-aggregate pushdown below joins.

Three things must hold:

1. PREFERENCE — eager aggregation wins only where it should: against a
   shuffle join whose pushed side collapses well (rows >> ndv(join
   key)), never against a broadcast join (there it would add a shuffle
   where none existed — the map-side-combine bound in the cost model is
   what encodes this).
2. CORRECTNESS — the eager plan computes the same result as the plain
   plan (exact for counts/min/max; float sums agree to summation-order
   tolerance).
3. TERMINATION — the rewritten shape matches the rule's own pattern
   again; the ``__ea`` guard must stop re-application.
"""

from __future__ import annotations

import math

import pytest

from datafusion_dolomite_spark import JoinType, LogicalPlanBuilder, col
from datafusion_dolomite_spark.expr import Alias, Col, Func


def _agg_join_plan(aggs, group=("c_nationkey",)):
    b = (
        LogicalPlanBuilder()
        .scan("orders")
        .join(
            LogicalPlanBuilder().scan("customer"),
            JoinType.INNER,
            col("o_custkey").eq(col("c_custkey")),
        )
    )
    return b.aggregate([Col(g) for g in group], list(aggs)).build()


AGGS = [
    Alias(Func("sum", (Col("o_totalprice"),)), "total"),
    Alias(Func("count", ()), "n"),
    Alias(Func("min", (Col("o_orderdate"),)), "first_order"),
]


@pytest.fixture(scope="module")
def shuffle_qp(spark, catalog):
    """A planner whose world has no broadcast joins — the regime where
    eager aggregation pays (the join must shuffle its inputs anyway)."""
    from datafusion_dolomite_spark import QueryPlanner
    from datafusion_dolomite_spark.optimizer.cascades.cost import SparkCostModel

    return QueryPlanner(
        spark,
        catalog,
        cost_model=SparkCostModel(
            broadcast_row_threshold=1, broadcast_bytes_threshold=1
        ),
    )


def test_eager_chosen_under_shuffle_join(shuffle_qp):
    plan = shuffle_qp.explain(_agg_join_plan(AGGS))
    phys = plan.split("== Physical Plan ==")[1]
    assert phys.count("PhysicalHashAggregate") == 2, phys
    # partial below the join carries decomposed aggs; final recombines
    assert "__ea0" in phys and "sum(__ea0) as total" in phys
    assert "sum(__ea1) as n" in phys  # count -> sum of partial counts
    assert "min(__ea2) as first_order" in phys


def test_eager_reuses_partial_partitioning(shuffle_qp):
    """The partial aggregate's output is hash-partitioned on the join
    key, so the join must NOT re-exchange that side (partitioning
    reuse is half the point of the transform)."""
    phys = shuffle_qp.explain(_agg_join_plan(AGGS)).split("== Physical Plan ==")[1]
    # exactly one Exchange: the customer side; the partial-agg side
    # arrives already Hashed(o_custkey)
    assert phys.count("Exchange") == 1, phys
    assert "Hashed(c_custkey)" in phys


def test_plain_agg_kept_under_broadcast_join(planner):
    """Default cost model broadcasts customer; adding a pre-join
    aggregate would introduce a shuffle where none existed and must
    lose the cost race."""
    phys = planner.explain(_agg_join_plan(AGGS)).split("== Physical Plan ==")[1]
    assert "PhysicalBroadcastHashJoin" in phys
    assert phys.count("PhysicalHashAggregate") == 1, phys


def test_eager_blocked_for_nondecomposable_aggs(shuffle_qp):
    """count_distinct cannot be recombined from partials — the plan must
    stay single-aggregate."""
    plan = _agg_join_plan(
        [Alias(Func("count_distinct", (Col("o_orderpriority"),)), "x")]
    )
    phys = shuffle_qp.explain(plan).split("== Physical Plan ==")[1]
    assert phys.count("PhysicalHashAggregate") == 1, phys


def test_avg_decomposes_to_sum_count(spark, planner, shuffle_qp):
    """avg pushes as sum+count partials with a final division; values
    agree with the plain plan to float tolerance."""
    plan = _agg_join_plan([Alias(Func("avg", (Col("o_totalprice"),)), "avg_p")])
    phys = shuffle_qp.explain(plan).split("== Physical Plan ==")[1]
    assert phys.count("PhysicalHashAggregate") == 2, phys
    assert "__ea0s" in phys and "__ea0c" in phys, phys
    eager = {r[0]: r[1] for r in shuffle_qp.dataframe(plan).collect()}
    plain = {r[0]: r[1] for r in planner.dataframe(plan).collect()}
    assert set(eager) == set(plain) and eager
    for k in eager:
        assert math.isclose(eager[k], plain[k], rel_tol=1e-9), k


def test_eager_blocked_for_outer_join(shuffle_qp):
    b = (
        LogicalPlanBuilder()
        .scan("orders")
        .join(
            LogicalPlanBuilder().scan("customer"),
            JoinType.LEFT,
            col("o_custkey").eq(col("c_custkey")),
        )
    )
    plan = b.aggregate([Col("c_nationkey")], AGGS[:1]).build()
    phys = shuffle_qp.explain(plan).split("== Physical Plan ==")[1]
    assert phys.count("PhysicalHashAggregate") == 1, phys


def test_eager_plan_matches_plain_plan(spark, planner, shuffle_qp):
    """Same query, both physical shapes, same answer (termination is
    implicit: planning completes despite the rewritten shape matching
    the rule's pattern again)."""
    plan = _agg_join_plan(AGGS)
    eager = {
        r["c_nationkey"]: r
        for r in shuffle_qp.dataframe(plan).collect()
    }
    plain = {
        r["c_nationkey"]: r for r in planner.dataframe(plan).collect()
    }
    assert set(eager) == set(plain) and eager
    for k, e in eager.items():
        p = plain[k]
        assert e["n"] == p["n"]
        assert e["first_order"] == p["first_order"]
        assert math.isclose(e["total"], p["total"], rel_tol=1e-9)


def test_eager_agg_fuzz_vs_duckdb(spark, shuffle_qp):
    """Differential mini-fuzz for the rewrite itself: random agg-over-
    join configurations planned in the shuffle-join regime (where eager
    aggregation fires whenever legal) must match DuckDB on the same
    parquet.  Covers: group keys from either/both sides, decomposable
    aggs over either side (which blocks the push for the wrong side),
    count(*), expression-valued agg inputs, and the no-group-key case."""
    import random

    import duckdb

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in ("orders", "customer", "lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{sf}/{t}.parquet')"
        )
    joins = [
        ("orders", "customer", "o_custkey", "c_custkey"),
        ("lineitem", "part", "l_partkey", "p_partkey"),
    ]
    group_pool = {
        ("orders", "customer"): ["c_nationkey", "c_mktsegment", "o_orderstatus"],
        ("lineitem", "part"): ["p_brand", "l_returnflag", "l_linestatus"],
    }
    agg_pool = {
        ("orders", "customer"): [
            "count(*) AS a0",
            "cast(sum(cast(floor(o_totalprice) as bigint)) as bigint) AS a1",
            "min(o_orderkey) AS a2",
            "max(c_acctbal) AS a3",
            "cast(sum(cast(floor(c_acctbal * 10) as bigint)) as bigint) AS a4",
        ],
        ("lineitem", "part"): [
            "count(*) AS a0",
            "cast(sum(cast(l_quantity as bigint) * (1 + l_linenumber)) as bigint) AS a1",
            "max(p_size) AS a2",
            "min(l_orderkey) AS a3",
        ],
    }
    rng = random.Random(20260814)
    for _ in range(25):
        lt, rt, lk, rk = rng.choice(joins)
        keys = rng.sample(group_pool[(lt, rt)], rng.randint(0, 2))
        aggs = rng.sample(agg_pool[(lt, rt)], rng.randint(1, 3))
        sel = ", ".join(keys + aggs)
        sql = f"SELECT {sel} FROM {lt} JOIN {rt} ON {lk} = {rk}"
        if keys:
            sql += f" GROUP BY {', '.join(keys)}"
        # DuckDB sum(BIGINT) is HUGEINT -> the ::BIGINT casts above keep
        # both engines' dtypes identical for the tuple compare
        got = sorted(tuple(r) for r in shuffle_qp.sql(sql).collect())
        want = sorted(tuple(r) for r in con.execute(sql).fetchall())
        assert got == want, sql


def test_global_agg_pushes_partial(spark, planner, shuffle_qp):
    """No GROUP BY at all: the partial still groups by the join key and
    the final collapses to one row."""
    plan = _agg_join_plan(AGGS[:2], group=())
    phys = shuffle_qp.explain(plan).split("== Physical Plan ==")[1]
    assert phys.count("PhysicalHashAggregate") == 2, phys
    (e,) = shuffle_qp.dataframe(plan).collect()
    (p,) = planner.dataframe(plan).collect()
    assert e["n"] == p["n"] and math.isclose(e["total"], p["total"], rel_tol=1e-9)


def test_global_count_over_empty_join_is_zero(spark, catalog):
    """Regression (r8, found by the hypothesis differential): a GLOBAL
    count whose eager-decomposed final is sum(partial_count) must
    coalesce to 0 when the join output is empty — the raw plan returns
    0, sum over no rows is NULL."""
    from datafusion_dolomite_spark import (
        JoinType,
        LogicalPlanBuilder,
        QueryPlanner,
        col,
        lit,
    )
    from datafusion_dolomite_spark.expr import Alias, BinOp, Func
    from datafusion_dolomite_spark.optimizer.cascades.cost import (
        SparkCostModel,
    )

    plan = (
        LogicalPlanBuilder()
        .scan("orders")
        .join(
            LogicalPlanBuilder().scan("customer"),
            JoinType.INNER,
            col("o_custkey").eq(col("c_custkey")),
        )
        .filter(BinOp("<", col("o_orderkey"), lit(-1.0)))  # empty
        .aggregate([], [Alias(Func("count", ()), "n")])
        .build()
    )
    qp = QueryPlanner(
        spark,
        catalog,
        cost_model=SparkCostModel(
            broadcast_row_threshold=1, broadcast_bytes_threshold=1
        ),  # shuffle regime: eager aggregation fires whenever legal
    )
    assert qp.dataframe(plan).collect() == [(0,)]


def test_right_first_equality_gets_eager_alternative(ctx):
    """A join condition naming the right input first (``c_custkey =
    o_custkey`` over ``(orders ⋈ lineitem, customer)``) still offers the
    partial aggregate below the join: the rule orients the equi pairs
    by input membership.  Without commutation or join enumeration the
    written orientation is the only one in the memo."""
    from datafusion_dolomite_spark.operators.logical import LogicalAggregate
    from datafusion_dolomite_spark.optimizer.cascades.optimizer import (
        CascadesOptimizer,
    )
    from datafusion_dolomite_spark.optimizer.rules.agg import (
        EagerAggregationRule,
    )
    from datafusion_dolomite_spark.planner import default_cascades_rules

    plan = (
        LogicalPlanBuilder()
        .scan("orders")
        .join(
            LogicalPlanBuilder().scan("lineitem"),
            JoinType.INNER,
            col("o_orderkey").eq(col("l_orderkey")),
        )
        .join(
            LogicalPlanBuilder().scan("customer"),
            JoinType.INNER,
            col("c_custkey").eq(col("o_custkey")),
        )
        .aggregate(
            [Col("c_nationkey")],
            [Alias(Func("sum", (Col("l_quantity"),)), "qty")],
        )
        .build()
    )
    opt = CascadesOptimizer(
        default_cascades_rules(enable_join_exploration=False)
        + [EagerAggregationRule()],
        ctx,
    )
    opt.find_best_plan(plan)
    partial_groups = {
        tuple(g.name for g in e.operator.group_exprs)
        for grp in opt.memo.groups.values()
        for e in grp.logical_exprs
        if isinstance(e.operator, LogicalAggregate)
        and any(a.name.startswith("__ea") for a in e.operator.agg_exprs)
    }
    assert ("o_custkey",) in partial_groups
