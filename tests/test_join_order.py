"""Stats-driven multi-join ORDER search (VERDICT r5 item 1).

The memo holds every join order of an inner-join graph (the DPccp
enumeration in ``cascades/join_order.py``, plus CommutateJoinRule) and
real ndv/selectivity statistics since r5; these tests prove
the COMPOSITION: on multi-join TPC-H shapes cascades picks a join order
that DIFFERS from the textual order exactly where the stats say it
should — smallest intermediates first, broadcast leaves pinned — and the
chosen plan is cheaper under the very cost model that chose it, moves
fewer real rows through exchanges in the shuffle regime, and is at least
as fast warm.

Reference anchor: this is the one capability the reference's memo exists
to enable (``dolomite/src/cascades/memo.rs:331-366``) but never fed with
statistics (``memo.rs:781`` ``todo!()``).

Why the wall-clock assertion is a NOISE BOUND, not a speedup claim: at
test scale every dim side is broadcastable and Spark's whole-stage
codegen fuses a broadcast-join CHAIN into one pass over the fact table,
so textual-vs-explored differences live in hash-table build sizes and
shuffled bytes, not in sub-100ms wall-clock.  The shuffle-regime test
below therefore counts ACTUAL rows entering exchanges — the quantity
that scales with data size — and shows the explored order moves <½ the
rows (one fact shuffle instead of three).
"""

from __future__ import annotations

import time

import pytest

from datafusion_dolomite_spark import QueryPlanner
from datafusion_dolomite_spark import testdata_catalog as _testdata_catalog
from datafusion_dolomite_spark.execute import to_spark
from datafusion_dolomite_spark.operators import physical as P
from datafusion_dolomite_spark.optimizer.cascades.cost import (
    SparkCostModel,
    static_plan_cost,
)
from datafusion_dolomite_spark.optimizer.rules.agg import EagerAggregationRule
from datafusion_dolomite_spark.planner import default_cascades_rules
from datafusion_dolomite_spark.plans.plan import Plan
from datafusion_dolomite_spark.sql import parse_sql

from .conftest import SF_DIR_ORACLE

CHAIN_Q = (
    "select n_name, count(*) as n from lineitem "
    "join supplier on l_suppkey = s_suppkey "
    "join nation on s_nationkey = n_nationkey "
    "join region on n_regionkey = r_regionkey "
    "where r_name = 'ASIA' group by n_name"
)

Q5 = (
    "select n_name, "
    "cast(sum(cast(l_extendedprice as decimal(12,2)) "
    "         * (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2)))) as double) as revenue "
    "from customer "
    "join orders on c_custkey = o_custkey "
    "join lineitem on l_orderkey = o_orderkey "
    "join supplier on l_suppkey = s_suppkey and c_nationkey = s_nationkey "
    "join nation on s_nationkey = n_nationkey "
    "join region on n_regionkey = r_regionkey "
    "where r_name = 'ASIA' "
    "and o_orderdate >= '1996-01-01' and o_orderdate < '1997-01-01' "
    "group by n_name"
)


def _no_eager_rules():
    """Full join exploration WITHOUT EagerAggregationRule, so the plans
    under test differ by join ORDER alone (eager agg is proved
    separately in test_eager_agg.py)."""
    return [
        r
        for r in default_cascades_rules()
        if not isinstance(r, EagerAggregationRule)
    ]


def _planners(spark, sf_dir, cost_model=None):
    cat = _testdata_catalog(sf_dir)
    explored = QueryPlanner(
        spark, cat, cost_model=cost_model, cascades_rules=_no_eager_rules()
    )
    textual = QueryPlanner(
        spark,
        cat,
        cost_model=cost_model,
        cascades_rules=default_cascades_rules(enable_join_exploration=False),
    )
    return cat, explored, textual


def _join_sig(plan) -> list:
    """(left-leaf-set, right-leaf-set) per join, preorder — captures the
    join ORDER independent of physical strategy / exchange placement."""

    def leaves(node):
        op = node.operator
        if isinstance(op, P.PhysicalTableScan):
            return frozenset([op.table_name])
        out = frozenset()
        for c in node.inputs:
            out |= leaves(c)
        return out

    sigs = []

    def walk(node):
        op = node.operator
        if isinstance(
            op,
            (P.PhysicalHashJoin, P.PhysicalBroadcastHashJoin, P.PhysicalSortMergeJoin),
        ):
            sigs.append((leaves(node.inputs[0]), leaves(node.inputs[1])))
        for c in node.inputs:
            walk(c)

    walk(plan.root)
    return sigs


def test_chain_collapses_dims_bushy(spark):
    """Dim-chain shape: textual order probes the lineitem-sized
    intermediate through three successive joins; the explored winner
    collapses region→nation→supplier into the small build side and
    probes lineitem ONCE (smallest intermediate first)."""
    cat, qp_e, qp_t = _planners(spark, SF_DIR_ORACLE)
    pt = qp_t.optimize(parse_sql(CHAIN_Q, cat))
    pe = qp_e.optimize(parse_sql(CHAIN_Q, cat))
    sig_t, sig_e = _join_sig(pt), _join_sig(pe)
    assert sig_t != sig_e, "exploration should change the join order here"
    # textual: lineitem appears on the left of EVERY join (left-deep)
    assert all("lineitem" in left for left, _ in sig_t)
    # explored: exactly ONE join touches lineitem, and its other side is
    # the fully collapsed dim tree
    li_joins = [
        (l, r) for l, r in sig_e if "lineitem" in l or "lineitem" in r
    ]
    assert len(li_joins) == 1
    other = li_joins[0][1] if "lineitem" in li_joins[0][0] else li_joins[0][0]
    assert other == frozenset({"supplier", "nation", "region"})
    # and nation⋈region collapses below supplier (innermost first)
    assert (frozenset({"nation"}), frozenset({"region"})) in sig_e or (
        frozenset({"region"}),
        frozenset({"nation"}),
    ) in sig_e
    # the model that chose it agrees it is cheaper
    cm = qp_e.cost_model
    assert static_plan_cost(pe, cm, qp_e.ctx) < static_plan_cost(
        pt, cm, qp_t.ctx
    )


def test_q5_explored_beats_textual_cost(spark):
    """TPC-H Q5 (6 tables, cross-side condition): the explored winner
    must differ from the textual order and cost less under the same
    statistics."""
    cat, qp_e, qp_t = _planners(spark, SF_DIR_ORACLE)
    pt = qp_t.optimize(parse_sql(Q5, cat))
    pe = qp_e.optimize(parse_sql(Q5, cat))
    assert _join_sig(pt) != _join_sig(pe)
    cm = qp_e.cost_model
    cost_t = static_plan_cost(pt, cm, qp_t.ctx)
    cost_e = static_plan_cost(pe, cm, qp_e.ctx)
    assert cost_e < cost_t
    # both orders compute the same answer
    rows_t = sorted(map(tuple, to_spark(pt, spark, cat).collect()))
    rows_e = sorted(map(tuple, to_spark(pe, spark, cat).collect()))
    assert rows_t == rows_e


def _exchange_input_rows(plan, spark, cat) -> int:
    """ACTUAL rows entering every Exchange of ``plan`` — each exchange
    child subplan executed and counted.  This is the quantity a join
    order controls at scale: shuffled rows, measured, not modeled."""
    total = 0

    def walk(node):
        nonlocal total
        if isinstance(node.operator, P.Exchange):
            total += to_spark(Plan(node.inputs[0]), spark, cat).count()
        for c in node.inputs:
            walk(c)

    walk(plan.root)
    return total


def test_chain_shuffle_regime_moves_fewer_rows(spark):
    """When no side is broadcastable (the 100 TB regime, forced here by
    a zero broadcast budget) the textual order shuffles the fact-sized
    intermediate at every join; the explored order shuffles the fact
    ONCE.  Counted with real executed row counts, the explored plan
    must move less than half the rows."""
    cm = SparkCostModel(broadcast_row_threshold=0, broadcast_bytes_threshold=0)
    cat, qp_e, qp_t = _planners(spark, SF_DIR_ORACLE, cost_model=cm)
    pt = qp_t.optimize(parse_sql(CHAIN_Q, cat))
    pe = qp_e.optimize(parse_sql(CHAIN_Q, cat))
    rows_t = _exchange_input_rows(pt, spark, cat)
    rows_e = _exchange_input_rows(pe, spark, cat)
    assert rows_e < rows_t / 2, (rows_e, rows_t)
    # modeled cost agrees with the measured direction
    assert static_plan_cost(pe, cm, qp_e.ctx) < static_plan_cost(
        pt, cm, qp_t.ctx
    )


def test_chain_timing_noise_bound(spark):
    """Warm, interleaved wall-clock per the bench protocol: the chosen
    order must be at least as fast as textual up to noise.  At test
    scale both broadcast chains fuse into one codegen pass over
    lineitem, so the honest expectation is parity (see module
    docstring); the 1.5x bound guards against a genuine regression."""
    cat, qp_e, qp_t = _planners(spark, SF_DIR_ORACLE)
    df_t = to_spark(qp_t.optimize(parse_sql(CHAIN_Q, cat)), spark, cat)
    df_e = to_spark(qp_e.optimize(parse_sql(CHAIN_Q, cat)), spark, cat)
    df_t.collect()
    df_e.collect()
    ts, es = [], []
    for _ in range(3):
        t0 = time.time()
        df_t.collect()
        ts.append(time.time() - t0)
        t0 = time.time()
        df_e.collect()
        es.append(time.time() - t0)
    assert min(es) <= min(ts) * 1.5, (min(es), min(ts))
