"""Join order enumeration into the Cascades memo (``join_order.py``).

Every connected relation set of an inner-join tree gets exactly one memo
group, and every csg-cmp pair (a connected set plus a connected
complement that a conjunct joins to it) is a ``LogicalJoin`` expression
in the group of its union.  The expected sets and pairs are computed
here by brute force over all subsets, independently of DPccp.  Graphs
are built with the plan builder over the testdata catalog; no Spark job
runs except for the hinted-plan test's planner.
"""

from __future__ import annotations

from itertools import combinations

from datafusion_dolomite_spark import JoinType, LogicalPlanBuilder, col
from datafusion_dolomite_spark.expr import Lit
from datafusion_dolomite_spark.operators.logical import LogicalJoin
from datafusion_dolomite_spark.optimizer.cascades import join_order
from datafusion_dolomite_spark.optimizer.cascades.cost import SparkCostModel
from datafusion_dolomite_spark.optimizer.cascades.optimizer import CascadesOptimizer
from datafusion_dolomite_spark.planner import default_cascades_rules
from datafusion_dolomite_spark.sql import parse_sql

B = LogicalPlanBuilder

TABLE_COLS = {
    "part": ("p_partkey", "p_name"),
    "supplier": ("s_suppkey", "s_nationkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "orders": ("o_orderkey", "o_custkey"),
    "customer": ("c_custkey", "c_nationkey"),
    "nation": ("n_nationkey", "n_regionkey"),
    "region": ("r_regionkey", "r_name"),
}


def _rel(name, table=None, prefix=None):
    """A relation for the graph: a scan, or (``prefix``) a scan whose
    columns are renamed so that one table can appear twice.  Returns
    (builder, its column names)."""
    table = table or name
    cols = TABLE_COLS[table]
    if prefix is None:
        return B().scan(table), set(cols)
    renamed = [col(c).alias(prefix + c) for c in cols]
    return B().scan(table).projection(renamed), {prefix + c for c in cols}


def _eq(a, b):
    return col(a).eq(col(b))


def _and(*conds):
    out = conds[0]
    for c in conds[1:]:
        out = out.and_(c)
    return out


def _graph(rels, joins):
    """Left-deep plan over ``rels`` (name → (builder, cols)) in order:
    ``joins[i]`` is the condition (None = cross join) joining the
    (i+2)-th relation to the tree so far."""
    names = list(rels)
    b = rels[names[0]][0]
    for name, cond in zip(names[1:], joins):
        b = b.join(rels[name][0], JoinType.INNER, cond if cond is not None else Lit(True))
    return b.build()


def _connected(s, edges):
    s = set(s)
    seen, todo = set(), [next(iter(s))]
    while todo:
        r = todo.pop()
        if r in seen:
            continue
        seen.add(r)
        todo.extend(b for a, b in edges if a == r and b in s)
        todo.extend(a for a, b in edges if b == r and a in s)
    return seen == s


def _expected(names, edges):
    sets = [
        frozenset(c)
        for k in range(1, len(names) + 1)
        for c in combinations(names, k)
        if _connected(c, edges)
    ]
    pairs = set()
    for s in sets:
        for k in range(1, len(s)):
            for s1 in map(frozenset, combinations(sorted(s), k)):
                s2 = s - s1
                if (
                    s1 in sets
                    and s2 in sets
                    and any((a in s1 and b in s2) or (a in s2 and b in s1) for a, b in edges)
                ):
                    pairs.add(frozenset((s1, s2)))
    return set(sets), pairs


def _optimize(ctx, plan, rules=None):
    opt = CascadesOptimizer(
        rules if rules is not None else default_cascades_rules(),
        ctx,
        cost_model=SparkCostModel(),
    )
    best = opt.find_best_plan(plan)
    return opt, best


def _memo_relation_sets(memo, rels):
    """group id → the relations whose columns its schema holds."""

    def relset(gid):
        names = set(memo.group(gid).logical_prop.schema.names())
        return frozenset(r for r, (_, cols) in rels.items() if cols <= names)

    return {gid: relset(gid) for gid in memo.groups}


def _check_memo(ctx, rels, joins, edges):
    sets, pairs = _expected(list(rels), edges)
    opt, best = _optimize(ctx, _graph(rels, joins))
    memo = opt.memo
    relset = _memo_relation_sets(memo, rels)
    join_groups = {
        gid: relset[gid]
        for gid, g in memo.groups.items()
        if any(isinstance(e.operator, LogicalJoin) for e in g.logical_exprs)
    }
    # one group per connected set of two or more relations, none other
    multi = {s for s in sets if len(s) > 1}
    assert sorted(map(sorted, join_groups.values())) == sorted(map(sorted, multi))
    # every csg-cmp pair is a join expression in its union's group, and
    # every join expression is one
    found = set()
    for gid in join_groups:
        for e in memo.group(gid).logical_exprs:
            if isinstance(e.operator, LogicalJoin):
                found.add(frozenset(relset[i] for i in e.inputs))
    assert found == pairs
    assert best.root is not None
    return sets, pairs


def test_q5_shaped_cyclic_graph_one_group_per_connected_set(ctx):
    """customer–orders–lineitem–supplier–nation–region with the
    customer–supplier nationkey edge closing a cycle (TPC-H Q5)."""
    rels = {
        n: _rel(n)
        for n in ("customer", "orders", "lineitem", "supplier", "nation", "region")
    }
    joins = [
        _eq("c_custkey", "o_custkey"),
        _eq("l_orderkey", "o_orderkey"),
        _and(_eq("l_suppkey", "s_suppkey"), _eq("c_nationkey", "s_nationkey")),
        _eq("s_nationkey", "n_nationkey"),
        _eq("n_regionkey", "r_regionkey"),
    ]
    edges = [
        ("customer", "orders"), ("lineitem", "orders"), ("lineitem", "supplier"),
        ("customer", "supplier"), ("supplier", "nation"), ("nation", "region"),
    ]
    sets, pairs = _check_memo(ctx, rels, joins, edges)
    assert (len(sets), len(pairs)) == (30, 68)


def test_q8_shaped_graph_one_group_per_connected_set(ctx):
    """Eight relations as in TPC-H Q8, nation twice (renamed), with the
    textual part × supplier cross join the enumeration must not keep."""
    rels = {
        "part": _rel("part"),
        "supplier": _rel("supplier"),
        "lineitem": _rel("lineitem"),
        "orders": _rel("orders"),
        "customer": _rel("customer"),
        "n1": _rel("n1", "nation", "n1_"),
        "n2": _rel("n2", "nation", "n2_"),
        "region": _rel("region"),
    }
    joins = [
        None,
        _and(_eq("p_partkey", "l_partkey"), _eq("s_suppkey", "l_suppkey")),
        _eq("l_orderkey", "o_orderkey"),
        _eq("o_custkey", "c_custkey"),
        _eq("c_nationkey", "n1_n_nationkey"),
        _eq("s_nationkey", "n2_n_nationkey"),
        _eq("n1_n_regionkey", "r_regionkey"),
    ]
    edges = [
        ("part", "lineitem"), ("supplier", "lineitem"), ("lineitem", "orders"),
        ("orders", "customer"), ("customer", "n1"), ("supplier", "n2"),
        ("n1", "region"),
    ]
    sets, pairs = _check_memo(ctx, rels, joins, edges)
    assert (len(sets), len(pairs)) == (44, 116)


def _cross_joins(plan) -> int:
    return sum(
        1
        for n in plan.bfs_iterator()
        if "Join" in type(n.operator).__name__
        and getattr(n.operator, "condition", None) == Lit(True)
    )


def test_disconnected_graph_keeps_at_most_the_textual_cross_joins(ctx):
    # part shares no predicate with the rest: one cross join is needed
    rels = {n: _rel(n) for n in ("part", "nation", "supplier", "region")}
    plan = _graph(
        rels, [None, _eq("s_nationkey", "n_nationkey"), _eq("n_regionkey", "r_regionkey")]
    )
    assert _cross_joins(plan) == 1
    _, best = _optimize(ctx, plan)
    assert _cross_joins(best) == 1
    scanned = {getattr(n.operator, "table_name", None) for n in best.bfs_iterator()}
    assert scanned - {None} == set(rels)
    # connected through nation, but written with customer × region first
    rels = {n: _rel(n) for n in ("customer", "region", "nation")}
    plan = _graph(
        rels, [None, _and(_eq("c_nationkey", "n_nationkey"), _eq("n_regionkey", "r_regionkey"))]
    )
    assert _cross_joins(plan) == 1
    _, best = _optimize(ctx, plan)
    assert _cross_joins(best) == 0


def test_large_graph_takes_the_greedy_pass(ctx, monkeypatch):
    """A 10-relation star has 2304 csg-cmp pairs, above the bound: one
    greedy pass adds one group per join (9), and a plan comes out."""
    calls = []
    greedy = join_order._JoinGraph._greedy

    def spy(self, comp):
        calls.append(comp)
        return greedy(self, comp)

    monkeypatch.setattr(join_order._JoinGraph, "_greedy", spy)
    rels = {"lineitem": _rel("lineitem")}
    joins = []
    for i in range(3):
        for table, hub_col, key in (
            ("part", "l_partkey", "p_partkey"),
            ("supplier", "l_suppkey", "s_suppkey"),
            ("orders", "l_orderkey", "o_orderkey"),
        ):
            prefix = f"d{i}_"
            rels[prefix + table] = _rel(prefix + table, table, prefix)
            joins.append(_eq(hub_col, prefix + key))
    assert len(rels) == 10
    opt, best = _optimize(ctx, _graph(rels, joins))
    assert len(calls) == 1
    join_groups = [
        g for g in opt.memo.groups.values()
        if any(isinstance(e.operator, LogicalJoin) for e in g.logical_exprs)
    ]
    assert len(join_groups) == 9
    joins_in_plan = [n for n in best.bfs_iterator() if "Join" in type(n.operator).__name__]
    assert len(joins_in_plan) == 9 and _cross_joins(best) == 0


def _shape(node):
    """Join tree of a plan as nested frozensets of table names, so two
    plans compare equal up to commutation and non-join nodes."""
    op = node.operator
    if "Join" in type(op).__name__:
        return frozenset(_shape(c) for c in node.inputs)
    if getattr(op, "table_name", None) and not node.inputs:
        return op.table_name
    kids = [_shape(c) for c in node.inputs]
    return kids[0] if len(kids) == 1 else frozenset(kids)


def test_hinted_plan_keeps_textual_shape(planner):
    """A hint suspends enumeration: the written customer × region cross
    join stays, while the same query without the hint loses it."""
    sql = (
        "select {hint} c_name, r_name from customer, region, nation "
        "where c_nationkey = n_nationkey and n_regionkey = r_regionkey"
    )
    cat = planner.catalog
    hinted = planner.optimize_logical(
        parse_sql(sql.format(hint="/*+ BROADCAST(region) */"), cat)
    )
    best = planner.optimize_physical(hinted)
    assert _shape(best.root) == _shape(hinted.root)
    assert _cross_joins(best) == _cross_joins(hinted) == 1
    plain = planner.optimize(parse_sql(sql.format(hint=""), cat))
    assert _cross_joins(plain) == 0
