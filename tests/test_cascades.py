"""Cascades optimizer: memo construction, rule application, end-to-end
plan choice (tier-1 analog of ``cascades/memo.rs:851-994``,
``cascades/task.rs:620-694``, ``cascades/optimizer.rs:97-137``)."""

import pytest

from datafusion_dolomite_spark import JoinType, LogicalPlanBuilder, col
from datafusion_dolomite_spark.operators.physical import (
    PhysicalBroadcastHashJoin,
    PhysicalHashJoin,
    PhysicalTableScan,
    PhysicalTopK,
)
from datafusion_dolomite_spark.optimizer.cascades.cost import (
    SimpleCostModel,
    SparkCostModel,
)
from datafusion_dolomite_spark.optimizer.cascades.memo import Memo
from datafusion_dolomite_spark.optimizer.cascades.optimizer import CascadesOptimizer
from datafusion_dolomite_spark.optimizer.rules.impl_rules import IMPLEMENTATION_RULES
from datafusion_dolomite_spark.optimizer.rules.join import (
    CommutateJoinRule,
    Join2BroadcastHashJoinRule,
    Join2HashJoinRule,
)
from datafusion_dolomite_spark.optimizer.rules.impl_rules import Scan2TableScanRule
from datafusion_dolomite_spark.planner import default_cascades_rules


def _join_plan():
    return (
        LogicalPlanBuilder()
        .scan("customer")
        .join(
            LogicalPlanBuilder().scan("nation"),
            JoinType.INNER,
            col("c_nationkey").eq(col("n_nationkey")),
        )
        .build()
    )


# --- memo construction (ref memo.rs:851-994) ------------------------------

def test_build_memo_from_plan(ctx):
    memo = Memo.from_plan(_join_plan(), ctx)
    # one group per distinct (operator, inputs): 2 scans + join = 3 groups
    assert len(memo.groups) == 3
    root = memo.group(memo.root_group_id)
    assert len(root.logical_exprs) == 1
    assert root.logical_exprs[0].operator.operator_name() == "Join"


def test_memo_dedups_identical_subtrees(ctx):
    # same scan twice → same group (GroupExprKey dedup, memo.rs:713-719)
    plan = (
        LogicalPlanBuilder()
        .scan("nation")
        .join(
            LogicalPlanBuilder().scan("nation"),
            JoinType.INNER,
            col("n_nationkey").eq(col("n_regionkey")),
        )
        .build()
    )
    memo = Memo.from_plan(plan, ctx)
    assert len(memo.groups) == 2  # nation group shared by both join inputs


def test_memo_group_stats_from_parquet(ctx):
    memo = Memo.from_plan(_join_plan(), ctx)
    stats = {
        g.logical_exprs[0].operator.operator_name(): g.stats.row_count
        for g in memo.groups.values()
    }
    assert stats["Scan"] in (25.0, 150.0)  # nation=25, customer=150 @sf0.001


# --- rule application inside the memo (ref task.rs:620-694) ---------------

def test_commutate_join_adds_second_group_expr(ctx):
    opt = CascadesOptimizer(
        [Scan2TableScanRule(), Join2HashJoinRule(), CommutateJoinRule()],
        ctx,
        cost_model=SimpleCostModel(),
    )
    opt.find_best_plan(_join_plan())
    root = opt.memo.group(opt.memo.root_group_id)
    # commutated join appears as a 2nd logical expr with swapped inputs
    assert len(root.logical_exprs) == 2
    e1, e2 = root.logical_exprs
    assert e1.inputs == tuple(reversed(e2.inputs))


# --- end-to-end optimize (ref cascades/optimizer.rs:97-137) ---------------

def test_optimize_join_reference_parity(ctx):
    """Reference rule set + trivial cost → PhysicalHashJoin over two
    PhysicalTableScans, exactly like ``test_optimize_join``."""
    opt = CascadesOptimizer(
        [Scan2TableScanRule(), Join2HashJoinRule(), CommutateJoinRule()],
        ctx,
        cost_model=SimpleCostModel(),
    )
    best = opt.find_best_plan(_join_plan())
    ops = [type(n.operator) for n in best.bfs_iterator()
           if n.operator.operator_name() != "Exchange"]
    assert ops[0] is PhysicalHashJoin
    assert ops[1] is PhysicalTableScan and ops[2] is PhysicalTableScan


def test_spark_cost_picks_broadcast_for_small_dim(ctx):
    """nation is 25 rows — broadcasting beats shuffling both sides."""
    opt = CascadesOptimizer(
        default_cascades_rules(), ctx, cost_model=SparkCostModel()
    )
    best = opt.find_best_plan(_join_plan())
    assert isinstance(best.root.operator, PhysicalBroadcastHashJoin)
    # broadcast join needs no exchanges at all
    assert all(n.operator.operator_name() != "Exchange" for n in best.bfs_iterator())


def test_never_broadcast_big_table(ctx):
    """Build side over the byte budget must not be broadcast (INF cost).
    Parquet-backed tables have a known width, so the BYTE threshold is
    the operative one (row threshold is only the unknown-width
    fallback)."""
    opt = CascadesOptimizer(
        default_cascades_rules(),
        ctx,
        cost_model=SparkCostModel(broadcast_bytes_threshold=10),
    )
    best = opt.find_best_plan(_join_plan())
    assert not isinstance(best.root.operator, PhysicalBroadcastHashJoin)


def test_row_threshold_fallback_when_width_unknown():
    """Schema-only tables (no files → avg_row_bytes 0.0) fall back to the
    row-count threshold."""
    best = CascadesOptimizer(
        default_cascades_rules(),
        _width_ctx(0.0),
        cost_model=SparkCostModel(broadcast_row_threshold=10_000),
    ).find_best_plan(_width_plan())
    assert not isinstance(best.root.operator, PhysicalBroadcastHashJoin)


def _width_ctx(avg_row_bytes):
    from datafusion_dolomite_spark.operators.properties import Field, Schema
    from datafusion_dolomite_spark.optimizer.rule import OptimizerContext
    from datafusion_dolomite_spark.sources.catalog import Catalog

    cat = Catalog()
    cat.register_schema(
        "fact",
        Schema((Field("k", "bigint", False, qualifier="fact"),)),
        row_count=10_000_000.0,
    )
    cat.register_schema(
        "dim",
        Schema((Field("dk", "bigint", False, qualifier="dim"),
                Field("emb", "array<float>", True, qualifier="dim"))),
        row_count=100_000.0,  # well under the 1M row fallback threshold
        avg_row_bytes=avg_row_bytes,
    )
    return OptimizerContext(cat)


def _width_plan():
    return (
        LogicalPlanBuilder()
        .scan("fact")
        .join(
            LogicalPlanBuilder().scan("dim"),
            JoinType.INNER,
            col("k").eq(col("dk")),
        )
        .build()
    )


def test_byte_threshold_blocks_wide_broadcast():
    """Broadcast budgets BYTES when row width is known: 100k rows x 4 KiB
    (array<float> embeddings) ≈ 400 MB blows the 64 MB budget even though
    the row count passes the row-threshold fallback — must shuffle."""
    best = CascadesOptimizer(
        default_cascades_rules(), _width_ctx(4096.0), cost_model=SparkCostModel()
    ).find_best_plan(_width_plan())
    assert not isinstance(best.root.operator, PhysicalBroadcastHashJoin)


def test_byte_threshold_allows_narrow_broadcast():
    """Same table at 16 bytes/row ≈ 1.6 MB — broadcast wins again."""
    best = CascadesOptimizer(
        default_cascades_rules(), _width_ctx(16.0), cost_model=SparkCostModel()
    ).find_best_plan(_width_plan())
    assert isinstance(best.root.operator, PhysicalBroadcastHashJoin)


def test_sort_limit_fuses_to_topk(ctx):
    from datafusion_dolomite_spark.expr import SortKey

    plan = (
        LogicalPlanBuilder()
        .scan("customer")
        .sort([SortKey(col("c_acctbal"), asc=False)])
        .limit(10)
        .build()
    )
    best = CascadesOptimizer(
        default_cascades_rules(), ctx, cost_model=SparkCostModel()
    ).find_best_plan(plan)
    assert isinstance(best.root.operator, PhysicalTopK)
    assert best.root.operator.limit == 10


def test_cascades_implements_every_operator(ctx):
    """The reference cannot implement Limit (no impl rule, SURVEY §2.2).
    We must be able to implement every logical operator."""
    from datafusion_dolomite_spark.expr import Alias, Func, SortKey

    plan = (
        LogicalPlanBuilder()
        .scan("lineitem")
        .filter(col("l_quantity").lt(30.0))
        .aggregate(
            [col("l_returnflag")],
            [Alias(Func("sum", (col("l_quantity"),)), "sum_qty")],
        )
        .sort([SortKey(col("l_returnflag"))])
        .limit(5)
        .build()
    )
    best = CascadesOptimizer(
        default_cascades_rules(), ctx, cost_model=SimpleCostModel()
    ).find_best_plan(plan)
    assert best.root is not None
    names = {n.operator.operator_name() for n in best.bfs_iterator()}
    assert "HashAggregate" in names


def test_cascades_implements_set_ops(ctx):
    """INTERSECT/EXCEPT get physical forms (extension — absent in ref)."""
    plan = (
        LogicalPlanBuilder()
        .scan("customer")
        .projection([col("c_nationkey")])
        .intersect(
            LogicalPlanBuilder().scan("supplier").projection([col("s_nationkey")])
        )
        .build()
    )
    best = CascadesOptimizer(
        default_cascades_rules(), ctx, cost_model=SimpleCostModel()
    ).find_best_plan(plan)
    names = {n.operator.operator_name() for n in best.bfs_iterator()}
    assert "Intersect" in names
    plan2 = (
        LogicalPlanBuilder()
        .scan("nation")
        .projection([col("n_nationkey")])
        .except_(
            LogicalPlanBuilder().scan("customer").projection([col("c_nationkey")])
        )
        .build()
    )
    best2 = CascadesOptimizer(
        default_cascades_rules(), ctx, cost_model=SimpleCostModel()
    ).find_best_plan(plan2)
    names2 = {n.operator.operator_name() for n in best2.bfs_iterator()}
    assert "Except" in names2


def test_cascades_implements_ngram_jaccard(ctx):
    plan = (
        LogicalPlanBuilder()
        .scan("documents")
        .ngram_jaccard("doc_id", "text", n=12, max_df=3, threshold_1000=500)
        .build()
    )
    best = CascadesOptimizer(
        default_cascades_rules(), ctx, cost_model=SimpleCostModel()
    ).find_best_plan(plan)
    names = {n.operator.operator_name() for n in best.bfs_iterator()}
    assert "NgramJaccard" in names


def test_join_enumeration_puts_right_deep_order_in_memo(ctx):
    """Join order enumeration puts x ⋈ (y ⋈ z) into the memo alongside
    the left-deep original — the cost model then picks among real join
    orders (beyond the reference, which only commutes)."""
    plan = (
        LogicalPlanBuilder()
        .scan("lineitem")
        .join(
            LogicalPlanBuilder().scan("supplier"),
            JoinType.INNER,
            col("l_suppkey").eq(col("s_suppkey")),
        )
        .join(
            LogicalPlanBuilder().scan("nation"),
            JoinType.INNER,
            col("s_nationkey").eq(col("n_nationkey")),
        )
        .build()
    )
    opt = CascadesOptimizer(
        default_cascades_rules(), ctx, cost_model=SparkCostModel()
    )
    best = opt.find_best_plan(plan)
    assert best.root is not None
    # somewhere in the memo: a Join expr whose RIGHT input group holds a
    # Join (the right-deep supplier ⋈ nation variant)
    found = False
    for g in opt.memo.groups.values():
        for e in g.logical_exprs:
            if e.operator.operator_name() != "Join":
                continue
            rg = opt.memo.groups.get(e.inputs[1])
            if rg and any(
                x.operator.operator_name() == "Join" for x in rg.logical_exprs
            ):
                found = True
    assert found, "associated (right-deep) join order missing from memo"


def test_memo_winner_per_property_reused(ctx):
    opt = CascadesOptimizer(
        default_cascades_rules(), ctx, cost_model=SparkCostModel()
    )
    opt.find_best_plan(_join_plan())
    # every group has a winner for the default property
    from datafusion_dolomite_spark.operators.properties import PhysicalPropertySet

    default = PhysicalPropertySet()
    for g in opt.memo.groups.values():
        assert g.winner(default) is not None


def test_range_join_strategy_by_interval_side_size(planner):
    """CBO chooses broadcast for a tiny interval side, bucketed for a
    large one (quadratic broadcast probe term takes over)."""
    from datafusion_dolomite_spark.expr import Alias, BinOp, Cast
    from datafusion_dolomite_spark.operators.extensions import (
        PhysicalBroadcastRangeJoin,
        PhysicalBucketedRangeJoin,
    )

    from datafusion_dolomite_spark import lit

    def bands(table, key, price):
        return (
            LogicalPlanBuilder()
            .scan(table)
            .projection(
                [
                    Alias(col(key), "k"),
                    Alias(Cast(col(price), "double"), "lo"),
                    Alias(Cast(BinOp("+", col(price), lit(10.0)), "double"), "hi"),
                ]
            )
        )

    small = (
        LogicalPlanBuilder()
        .scan("events")
        .range_join(bands("region", "r_regionkey", "r_regionkey"),
                    point="value", lo="lo", hi="hi", right_cols=["k"], bucket_width=3)
        .build()
    )
    big = (
        LogicalPlanBuilder()
        .scan("events")
        .range_join(bands("orders", "o_orderkey", "o_totalprice"),
                    point="value", lo="lo", hi="hi", right_cols=["k"], bucket_width=100)
        .build()
    )
    assert isinstance(
        planner.optimize(small).root.operator, PhysicalBroadcastRangeJoin
    )
    # at test scale orders is small enough that broadcast legitimately
    # wins; pin the broadcast budget below it to exercise the guard
    from datafusion_dolomite_spark import QueryPlanner
    from datafusion_dolomite_spark.optimizer.cascades.cost import SparkCostModel

    capped = QueryPlanner(
        planner.spark,
        planner.catalog,
        cost_model=SparkCostModel(broadcast_bytes_threshold=100),
    )
    assert isinstance(
        capped.optimize(big).root.operator, PhysicalBucketedRangeJoin
    )


def _star_ctx(fact_k_ndv, fact_j_ndv):
    """Schema-only star schema with injected ndv (ref stat.rs:6-21 —
    declared there, populated here)."""
    from datafusion_dolomite_spark.operators.properties import (
        ColumnStatistics,
        Field,
        Schema,
    )
    from datafusion_dolomite_spark.optimizer.rule import OptimizerContext
    from datafusion_dolomite_spark.sources.catalog import Catalog

    cat = Catalog()
    cat.register_schema(
        "fact",
        Schema((Field("k", "bigint", False, qualifier="fact"),
                Field("j", "bigint", False, qualifier="fact"))),
        row_count=1_000_000.0,
        columns=(("k", ColumnStatistics(ndv=fact_k_ndv)),
                 ("j", ColumnStatistics(ndv=fact_j_ndv))),
    )
    cat.register_schema(
        "da", Schema((Field("dk", "bigint", False, qualifier="da"),)),
        row_count=1000.0, columns=(("dk", ColumnStatistics(ndv=1000.0)),),
    )
    cat.register_schema(
        "db", Schema((Field("dj", "bigint", False, qualifier="db"),)),
        row_count=1000.0, columns=(("dj", ColumnStatistics(ndv=1000.0)),),
    )
    return OptimizerContext(cat)


def _star_plan():
    return (
        LogicalPlanBuilder()
        .scan("fact")
        .join(LogicalPlanBuilder().scan("da"), JoinType.INNER,
              col("k").eq(col("dk")))
        .join(LogicalPlanBuilder().scan("db"), JoinType.INNER,
              col("j").eq(col("dj")))
        .build()
    )


def _first_join_partner(plan):
    """Table name of the scan joined directly with 'fact' (deepest join)."""
    def walk(node):
        op = node.operator
        if "Join" in op.operator_name():
            names = set()
            for c in node.inputs:
                if c.operator.operator_name() == "TableScan":
                    names.add(c.operator.table_name)
            if "fact" in names:
                names.discard("fact")
                if names:
                    return names.pop()
            for c in node.inputs:
                r = walk(c)
                if r:
                    return r
        else:
            for c in node.inputs:
                r = walk(c)
                if r:
                    return r
        return None
    return walk(plan.root)


def test_ndv_stats_flip_join_order():
    """System-R equi-key selectivity from per-column ndv drives join
    ordering: the most selective dimension joins the fact table first.
    Flipping which fact column has high ndv flips the chosen order
    (the enumeration holds both fact ⋈ da and fact ⋈ db as groups, which
    a star schema needs: every condition there touches the fact table)."""
    results = {}
    for kndv, jndv in ((1_000_000.0, 100.0), (100.0, 1_000_000.0)):
        ctx = _star_ctx(kndv, jndv)
        opt = CascadesOptimizer(
            default_cascades_rules(), ctx, cost_model=SparkCostModel()
        )
        best = opt.find_best_plan(_star_plan())
        results[(kndv, jndv)] = _first_join_partner(best)
    assert results[(1_000_000.0, 100.0)] == "da"
    assert results[(100.0, 1_000_000.0)] == "db"


def test_join_enumeration_puts_swapped_dimension_in_memo():
    """The memo contains the (fact ⋈ db) ⋈ da variant after exploration."""
    ctx = _star_ctx(100.0, 1_000_000.0)
    opt = CascadesOptimizer(
        default_cascades_rules(), ctx, cost_model=SparkCostModel()
    )
    opt.find_best_plan(_star_plan())
    conds = set()
    for g in opt.memo.groups.values():
        for e in g.logical_exprs:
            if e.operator.operator_name() == "Join":
                conds.add(e.operator.condition.pretty())
    assert any("j = dj" in c or "dj = j" in c for c in conds)
    assert any("k = dk" in c or "dk = k" in c for c in conds)
    # the swapped lower join (fact, db) exists in some group as a direct
    # join between the fact group and the db group
    assert len(opt.memo.groups) > 5  # the fact ⋈ db group exists too
