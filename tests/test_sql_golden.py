"""SQL front door + YAML golden-plan corpus.

Tier-2 analog of the reference's ``TestCaseRunner``
(``datafusion-dolomite-integration/tests/utils/mod.rs:20-84``): parse
SQL, optimize with the configured rules, string-compare the explain
output against ``expected_optimized_plan``."""

import os

import pytest
import yaml

from datafusion_dolomite_spark import Catalog, JoinType, col
from datafusion_dolomite_spark.operators.properties import Field, Schema
from datafusion_dolomite_spark.optimizer.cascades import cost
from datafusion_dolomite_spark.optimizer.heuristic import HepOptimizer
from datafusion_dolomite_spark.optimizer.rule import OptimizerContext
from datafusion_dolomite_spark.optimizer.rules.limit import (
    PushLimitOverProjectionRule,
    PushLimitToTableScanRule,
    RemoveLimitRule,
)
from datafusion_dolomite_spark.sql import SqlError, parse_sql

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")


@pytest.fixture()
def t1_catalog():
    """t1(f1 int, f2 string, last_name string, state string) — FIXTURES A2,
    ref limit_test.rs:20-24; schema-only like the reference's EmptyTable."""
    cat = Catalog()
    cat.register_schema(
        "t1",
        Schema(
            (
                Field("f1", "int", False, qualifier="t1"),
                Field("f2", "string", False, qualifier="t1"),
                Field("last_name", "string", False, qualifier="t1"),
                Field("state", "string", False, qualifier="t1"),
            )
        ),
    )
    return cat


def _load_corpus(fname):
    with open(os.path.join(GOLDEN_DIR, fname)) as f:
        return yaml.safe_load(f)


@pytest.mark.parametrize("case", _load_corpus("limit.yaml"), ids=lambda c: c["name"])
def test_limit_yaml_golden(case, t1_catalog):
    ctx = OptimizerContext(t1_catalog)
    plan = parse_sql(case["sql"], t1_catalog)
    optimized = HepOptimizer(
        [RemoveLimitRule(), PushLimitOverProjectionRule(), PushLimitToTableScanRule()],
        ctx,
    ).find_best_plan(plan)
    assert optimized.explain() == case["expected_optimized_plan"].rstrip("\n")


# --- parser unit tests ----------------------------------------------------

def test_parse_join_where_group_order_limit():
    plan = parse_sql(
        "select l_returnflag, sum(l_quantity) as sum_qty, count(*) as cnt "
        "from lineitem join orders on l_orderkey = o_orderkey "
        "where l_quantity < 10 and o_totalprice > 1000 "
        "group by l_returnflag order by l_returnflag limit 3"
    )
    names = [n.operator.operator_name() for n in plan.bfs_iterator()]
    assert names == ["Limit", "Sort", "Aggregate", "Filter", "Join", "Scan", "Scan"]


def test_parse_expressions():
    plan = parse_sql(
        "select cast(l_quantity as decimal(12,2)) * (1 - l_discount) as x from lineitem"
    )
    proj = plan.root.operator
    assert proj.exprs[0].name == "x"
    assert "decimal(12,2)" in proj.exprs[0].expr.pretty()


def test_parse_count_distinct_and_qualified_cols():
    plan = parse_sql(
        "select count(distinct c.c_custkey) as n from customer c_x join nation on a = b "
        "group by n_name"
    ) if False else parse_sql(
        "select n_name, count(distinct c_custkey) as n from customer "
        "join nation on c_nationkey = n_nationkey group by n_name"
    )
    agg = plan.root.operator
    assert agg.agg_exprs[0].expr.name == "count_distinct"


def test_parse_semi_join():
    plan = parse_sql(
        "select c_custkey from customer left semi join orders on c_custkey = o_custkey"
    )
    join = plan.root.inputs[0].operator
    assert join.join_type is JoinType.LEFT_SEMI


def test_parse_set_ops():
    plan = parse_sql(
        "select r_name as name from region union all select n_name as name from nation"
    )
    assert plan.root.operator.operator_name() == "Union"
    plan = parse_sql(
        "select r_name as name from region union select n_name as name from nation"
    )
    # UNION (distinct) = Distinct over Union
    names = [n.operator.operator_name() for n in plan.bfs_iterator()]
    assert names[:2] == ["Distinct", "Union"]
    plan = parse_sql(
        "select c_nationkey from customer intersect select s_nationkey from supplier"
    )
    assert plan.root.operator.operator_name() == "Intersect"
    plan = parse_sql(
        "select n_nationkey from nation except select c_nationkey from customer"
    )
    assert plan.root.operator.operator_name() == "Except"


def test_parse_between():
    plan = parse_sql("select l_orderkey from lineitem where l_discount between 1 and 2")
    pred = plan.root.inputs[0].operator.predicate
    assert pred.op == "and" and pred.left.op == ">=" and pred.right.op == "<="
    plan = parse_sql(
        "select l_orderkey from lineitem where l_discount not between 1 and 2"
    )
    pred = plan.root.inputs[0].operator.predicate
    assert pred.op == "or" and pred.left.op == "<" and pred.right.op == ">"


def test_parse_having():
    plan = parse_sql(
        "select n_name, count(*) as n from customer "
        "join nation on c_nationkey = n_nationkey group by n_name having n > 10"
    )
    names = [n.operator.operator_name() for n in plan.bfs_iterator()]
    # HAVING = Filter ABOVE the Aggregate (below the final projection-less root)
    assert "Filter" in names and "Aggregate" in names
    assert names.index("Filter") < names.index("Aggregate")


def test_parse_in_subquery_rewrites_to_semi_join():
    plan = parse_sql(
        "select c_custkey from customer where c_custkey in "
        "(select o_custkey from orders)"
    )
    join = plan.root.inputs[0].operator
    assert join.join_type is JoinType.LEFT_SEMI
    plan = parse_sql(
        "select c_custkey from customer where c_custkey not in "
        "(select o_custkey from orders)"
    )
    # r13: NOT IN is three-valued — the anti join sits under the
    # null-aware post-filter (empty-subquery / NULL-row counts)
    filt = plan.root.inputs[0].operator
    assert filt.operator_name() == "Filter"
    join = plan.root.inputs[0].inputs[0].operator
    assert join.join_type is JoinType.LEFT_ANTI


def test_parse_exists_decorrelates():
    from datafusion_dolomite_spark.sources.catalog import testdata_catalog

    cat = testdata_catalog("/root/testdata/sf0.001")
    plan = parse_sql(
        "select c_custkey from customer where exists "
        "(select 1 from orders where o_custkey = c_custkey and o_totalprice > 10)",
        cat,
    )
    join = plan.root.inputs[0].operator
    assert join.join_type is JoinType.LEFT_SEMI
    # the correlated conjunct became the join condition...
    assert "o_custkey = c_custkey" in join.condition.pretty()
    # ...and the local conjunct stayed below as a filter
    explains = plan.explain()
    assert "o_totalprice > 10" in explains
    # an uncorrelated EXISTS is one global count(*) row joined on TRUE
    plan = parse_sql(
        "select c_custkey from customer where exists (select 1 from orders)",
        cat,
    )
    assert "count() as __na1_cnt" in plan.explain()
    assert "(__na1_cnt > 0)" in plan.explain()


def test_parse_cte_inlines_fresh_subtrees():
    plan = parse_sql(
        "with t as (select o_custkey from orders where o_totalprice > 5) "
        "select o_custkey from t union all select o_custkey from t"
    )
    scans = [
        n for n in plan.bfs_iterator() if n.operator.operator_name() == "Scan"
    ]
    assert len(scans) == 2  # two independent copies, not a shared node
    assert scans[0].id != scans[1].id


def test_parse_scalar_subquery_rewrites_to_join():
    plan = parse_sql(
        "select c_custkey from customer "
        "where c_acctbal > (select avg(c_acctbal) as a from customer)"
    )
    names = [n.operator.operator_name() for n in plan.bfs_iterator()]
    assert "Join" in names and "Aggregate" in names


def test_parse_in_value_list():
    plan = parse_sql("select n_name from nation where n_regionkey in (0, 1)")
    pred = plan.root.inputs[0].operator.predicate
    assert pred.op == "or"
    # IN-subquery under OR lowers via the LEFT membership-flag join
    # (r12) — it parses, and the plan carries the flag join
    plan2 = parse_sql(
        "select c_custkey from customer where c_acctbal > 0 or "
        "c_custkey in (select o_custkey from orders)"
    )
    joins = [
        n
        for n in plan2.nodes_bottom_up()
        if n.operator.operator_name() == "Join"
    ]
    assert any(j.operator.join_type.name == "LEFT" for j in joins)


def test_parse_errors():
    with pytest.raises(SqlError):
        parse_sql("select from t")
    with pytest.raises(SqlError):
        parse_sql("select a from t limit")
    with pytest.raises(SqlError):
        parse_sql("select sum(*) from t")


def test_sql_executes_end_to_end(planner):
    df = planner.sql(
        "select l_returnflag, count(*) as cnt from lineitem "
        "where l_quantity < 10 group by l_returnflag order by l_returnflag"
    )
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == 3
    assert rows[0][0] == "A"


def test_sql_select_star(planner):
    df = planner.sql("select * from region order by r_regionkey")
    assert df.columns == ["r_regionkey", "r_name"]
    assert df.count() == 5


def test_correlated_scalar_decorrelates(catalog):
    """x > (SELECT agg FROM t WHERE t.k = outer.k) becomes a per-key
    aggregate joined on the correlation key; the correlated filter is
    gone from the subplan."""
    plan = parse_sql(
        "select c_custkey from customer where c_acctbal > "
        "(select 1.5 * avg(s_acctbal) from supplier where s_nationkey = c_nationkey)",
        catalog,
    )
    ops = [n.operator.operator_name() for n in plan.bfs_iterator()]
    assert "Join" in ops and "Aggregate" in ops
    for n in plan.bfs_iterator():
        if n.operator.operator_name() == "Join":
            # correlation key renamed __ck0 so the per-key aggregate can
            # never collide with an outer column of the same name
            assert "(__ck0 = c_nationkey)" == n.operator.condition.pretty()
        if n.operator.operator_name() == "Aggregate":
            assert [g.pretty() for g in n.operator.group_exprs] == [
                "s_nationkey as __ck0"
            ]
        if n.operator.operator_name() == "Filter":
            # no correlated conjunct survives below the join
            assert "c_nationkey" not in n.operator.predicate.pretty() or (
                "avg" not in n.operator.predicate.pretty()
            )


def test_correlated_count_rejected(catalog):
    with pytest.raises(SqlError):
        parse_sql(
            "select c_custkey from customer where c_acctbal > "
            "(select count(*) from supplier where s_nationkey = c_nationkey)",
            catalog,
        )


def test_sql_case_like_is_null(planner):
    df = planner.sql(
        "select count(*) as n from part "
        "where p_name like 'red%' and p_retailprice is not null"
    )
    rows = [tuple(r) for r in df.collect()]
    assert rows[0][0] > 0
    df2 = planner.sql(
        "select case when r_regionkey = 0 then 'zero' else 'other' end as k "
        "from region order by r_regionkey limit 1"
    )
    assert [tuple(r) for r in df2.collect()] == [("zero",)]


def test_sql_derived_table(planner):
    df = planner.sql(
        "select c_count, count(*) as custdist from "
        "(select c_custkey, count(o_orderkey) as c_count "
        " from customer left join orders on c_custkey = o_custkey "
        " group by c_custkey) t "
        "group by c_count order by custdist desc, c_count desc limit 3"
    )
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == 3 and rows[0][1] >= rows[1][1]


@pytest.mark.parametrize(
    "case", _load_corpus("rewrites.yaml"), ids=lambda c: c["name"]
)
def test_rewrites_yaml_golden(case, catalog):
    """Golden plans after the FULL default rewrite phase over the real
    testdata catalog — pins comma-join merge, filter split, subquery
    decorrelation, and HAVING placement."""
    from datafusion_dolomite_spark.planner import default_rewrite_rules

    ctx = OptimizerContext(catalog)
    plan = parse_sql(case["sql"], catalog)
    optimized = HepOptimizer(default_rewrite_rules(), ctx).find_best_plan(plan)
    assert optimized.explain() == case["expected_optimized_plan"].rstrip("\n")


def test_cross_join_keyword(planner):
    df = planner.sql(
        "select r_name, n_name from region cross join nation "
        "where r_regionkey = n_regionkey and r_name = 'ASIA'"
    )
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == 5 and all(r[0] == "ASIA" for r in rows)


def test_sql_window_parses_to_logical_window(catalog):
    plan = parse_sql(
        "select o_custkey, "
        "rank() over (partition by o_custkey order by o_totalprice desc) as rk "
        "from orders",
        catalog,
    )
    assert plan.explain() == (
        "LogicalProjection { expr: [o_custkey, rk] }\n"
        "└── LogicalWindow { exprs: [rank() over (partition by [o_custkey] "
        "order by [o_totalprice desc nulls_last]) as rk] }\n"
        '    └── LogicalScan { table_name: "orders" }'
    )


def test_sql_window_frame_and_nested_cast(catalog):
    plan = parse_sql(
        "select cast(sum(o_totalprice) over (partition by o_custkey "
        "order by o_orderkey rows between unbounded preceding and current row) "
        "as double) as run_total from orders",
        catalog,
    )
    text = plan.explain()
    assert "rows between unbounded preceding and current row" in text
    assert "cast(_w0 as double) as run_total" in text


def test_sql_window_range_frame_and_count_star(catalog):
    plan = parse_sql(
        "select count(*) over (partition by o_custkey order by o_totalprice "
        "range between 100 preceding and 2 following) as c from orders",
        catalog,
    )
    assert "range between 100 preceding and 2 following" in plan.explain()


def test_explain_statement_returns_engine_plan(planner):
    rows = [
        r[0]
        for r in planner.sql(
            "EXPLAIN select n_name from nation where n_regionkey = 1"
        ).collect()
    ]
    text = "\n".join(rows)
    assert "== Optimized Logical Plan ==" in text
    assert "== Physical Plan ==" in text
    assert "PhysicalTableScan" in text and "n_regionkey" in text


def test_qualify_requires_window(catalog):
    with pytest.raises(SqlError):
        parse_sql("select c_name from customer qualify c_custkey > 3", catalog)
    # ...including when the only window candidate is in a grouped query
    with pytest.raises(SqlError):
        parse_sql(
            "select c_nationkey, count(*) as n from customer "
            "group by c_nationkey qualify n > 3",
            catalog,
        )


def test_window_with_cube_parses(catalog):
    # rejected until r11; r12 extends lift-then-lower to grouping sets
    plan = parse_sql(
        "select c_mktsegment, count(*) as n, "
        "rank() over (order by count(*)) as r "
        "from customer group by cube (c_mktsegment)",
        catalog,
    )
    text = plan.explain()
    assert text.index("LogicalWindow") < text.index("LogicalAggregate")


def test_create_only_table_or_mv(catalog):
    with pytest.raises(SqlError):
        parse_sql("create index foo as select 1 as x from nation", catalog)
    with pytest.raises(SqlError):
        parse_sql(
            "create materialized table t as select n_name from nation", catalog
        )


def test_sql_window_over_group_by_parses(catalog):
    """Formerly rejected; now supported via the lift-then-lower path
    (see test_window_over_agg.py for execution differentials)."""
    plan = parse_sql(
        "select o_custkey, sum(o_totalprice) as s, "
        "rank() over (order by o_custkey) as rk "
        "from orders group by o_custkey",
        catalog,
    )
    text = plan.explain()
    assert "LogicalWindow" in text and "LogicalAggregate" in text
    assert text.index("LogicalWindow") < text.index("LogicalAggregate")


def test_sql_window_executes_end_to_end(planner):
    df = planner.sql(
        "select o_custkey, o_orderkey, "
        "row_number() over (partition by o_custkey order by o_orderkey) as rn "
        "from orders where o_totalprice > 100000 order by o_custkey, o_orderkey limit 10"
    )
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == 10
    assert rows[0][2] == 1


def test_sql_outer_keyword_and_nulls_ordering(catalog):
    plan = parse_sql(
        "select c_custkey, o_orderkey from customer "
        "left outer join orders on c_custkey = o_custkey "
        "order by o_orderkey desc nulls first, c_custkey nulls last",
        catalog,
    )
    text = plan.explain()
    assert "join_type: Left" in text
    assert "o_orderkey desc" in text and "c_custkey asc nulls_last" in text


def test_sql_limit_offset(catalog):
    plan = parse_sql(
        "select r_name from region order by r_name limit 2 offset 1", catalog
    )
    assert "LogicalLimit { limit: 2, offset: 1 }" in plan.explain()


def test_sql_offset_executes(planner):
    full = [
        tuple(r)
        for r in planner.sql(
            "select c_custkey from customer order by c_custkey limit 12"
        ).collect()
    ]
    page = [
        tuple(r)
        for r in planner.sql(
            "select c_custkey from customer order by c_custkey limit 5 offset 7"
        ).collect()
    ]
    assert page == full[7:12]


def test_offset_not_fused_into_scan_or_topk(catalog):
    from datafusion_dolomite_spark.optimizer.rule import OptimizerContext
    from datafusion_dolomite_spark.planner import (
        default_cascades_rules,
        default_rewrite_rules,
    )
    from datafusion_dolomite_spark.optimizer.heuristic import HepOptimizer
    from datafusion_dolomite_spark.optimizer.cascades.optimizer import (
        CascadesOptimizer,
    )

    ctx = OptimizerContext(catalog)
    plan = parse_sql(
        "select r_name from region order by r_name limit 2 offset 1", catalog
    )
    rewritten = HepOptimizer(default_rewrite_rules(), ctx).find_best_plan(plan)
    assert "offset: 1" in rewritten.explain()  # survived the rewrites
    phys = CascadesOptimizer(default_cascades_rules(), ctx).find_best_plan(rewritten)
    text = phys.explain()
    assert "PhysicalTopK" not in text  # TopK would drop the wrong rows
    assert "PhysicalLimit { limit: 2, offset: 1 }" in text


# -- table aliases / self-joins / correlated decorrelation upgrades --------

def test_self_join_alias_renames_second_occurrence(catalog):
    """`nation n1, nation n2` — the repeated scan's columns are renamed
    n2_* via a projection so the joined plan has unique names; qualified
    refs resolve through the alias frame."""
    plan = parse_sql(
        "select n1.n_name as a, n2.n_name as b "
        "from nation n1, nation n2 "
        "where n1.n_regionkey = n2.n_regionkey and n1.n_nationkey < n2.n_nationkey",
        catalog,
    )
    text = plan.explain()
    assert "n2_n_name" in text and "n2_n_regionkey" in text
    # first occurrence keeps scan names
    assert "n1_n_name" not in text


def test_self_join_alias_executes(planner):
    """Pairs of nations in the same region — oracle check by pure python."""
    rows = [
        tuple(r)
        for r in planner.sql(
            "select n1.n_name as a, n2.n_name as b "
            "from nation n1, nation n2 "
            "where n1.n_regionkey = n2.n_regionkey and n1.n_nationkey < n2.n_nationkey "
            "order by a, b"
        ).collect()
    ]
    base = [tuple(r) for r in planner.sql("select n_nationkey, n_name, n_regionkey from nation").collect()]
    want = sorted(
        (x[1], y[1])
        for x in base
        for y in base
        if x[2] == y[2] and x[0] < y[0]
    )
    assert rows == want and len(rows) > 0


def test_exists_self_join_correlation_via_outer_marker(catalog):
    """EXISTS correlated through the SAME table as the outer scan
    (TPC-H Q21 shape): @outer marking classifies the conjuncts, inner
    refs get __sub_* renames, and the non-equi conjunct survives in the
    semi-join condition."""
    plan = parse_sql(
        "select l1.l_orderkey from lineitem l1 "
        "where exists (select * from lineitem l2 "
        "              where l2.l_orderkey = l1.l_orderkey "
        "                and l2.l_suppkey <> l1.l_suppkey)",
        catalog,
    )
    join = next(
        n for n in plan.bfs_iterator() if n.operator.operator_name() == "Join"
    )
    cond = join.operator.condition.pretty()
    assert "__sub_l_orderkey = l_orderkey" in cond
    assert "__sub_l_suppkey != l_suppkey" in cond
    assert join.operator.join_type.name == "LEFT_SEMI"


def test_exists_self_join_executes(planner):
    """Orders that have at least two distinct suppliers among their lines."""
    rows = [
        tuple(r)
        for r in planner.sql(
            "select distinct l1.l_orderkey from lineitem l1 "
            "where exists (select * from lineitem l2 "
            "              where l2.l_orderkey = l1.l_orderkey "
            "                and l2.l_suppkey <> l1.l_suppkey) "
            "order by l_orderkey"
        ).collect()
    ]
    base = [tuple(r) for r in planner.sql("select l_orderkey, l_suppkey from lineitem").collect()]
    from collections import defaultdict

    supps = defaultdict(set)
    for ok, sk in base:
        supps[ok].add(sk)
    want = sorted((ok,) for ok, s in supps.items() if len(s) >= 2)
    assert rows == want and len(rows) > 0


def test_in_exists_under_or_not(planner):
    """Membership tests embedded under OR/NOT (r12): LEFT flag joins
    against deduplicated subquery keys + isnotnull(probe) in the full
    predicate — replayed imperatively."""
    rows = {
        r.c_custkey
        for r in planner.sql(
            "select c_custkey from customer "
            "where c_acctbal < -900 "
            "   or c_custkey in (select o_custkey from orders "
            "                    where o_totalprice > 200000)"
        ).collect()
    }
    bal = {
        r.c_custkey: r.c_acctbal
        for r in planner.sql(
            "select c_custkey, c_acctbal from customer"
        ).collect()
    }
    big = {
        r.o_custkey
        for r in planner.sql(
            "select o_custkey from orders where o_totalprice > 200000"
        ).collect()
    }
    want = {k for k, b in bal.items() if b < -900 or k in big}
    assert rows == want and rows
    # NOT-wrapped disjunction of a marker — De Morgan replay
    rows2 = {
        r.c_custkey
        for r in planner.sql(
            "select c_custkey from customer "
            "where not (c_custkey in (select o_custkey from orders "
            "                         where o_totalprice > 200000) "
            "           or c_acctbal > 0)"
        ).collect()
    }
    want2 = {k for k, b in bal.items() if k not in big and b <= 0}
    assert rows2 == want2
    # correlated EXISTS under OR
    has_order = {
        r.o_custkey
        for r in planner.sql("select o_custkey from orders").collect()
    }
    rows3 = {
        r.c_custkey
        for r in planner.sql(
            "select c_custkey from customer "
            "where c_acctbal > 9900 or not exists "
            "  (select 1 from orders where o_custkey = c_custkey)"
        ).collect()
    }
    want3 = {
        k for k, b in bal.items() if b > 9900 or k not in has_order
    }
    assert rows3 == want3
    # SELECT * never sees the internal probe columns
    cols = planner.sql(
        "select * from nation where n_regionkey > 3 or "
        "n_nationkey in (select c_nationkey from customer)"
    ).columns
    assert cols == ["n_nationkey", "n_name", "n_regionkey"]
    # non-equality correlated EXISTS under OR (r13, VERDICT r12
    # item 2): supported via the rowid-aggregation lowering (formerly
    # a clean rejection) — cross-checked against a Python replay
    max_tp = {}
    for r in planner.sql(
        "select o_custkey, max(o_totalprice) as m "
        "from orders group by o_custkey"
    ).collect():
        max_tp[r.o_custkey] = r.m
    rows4 = {
        r.c_custkey
        for r in planner.sql(
            "select c_custkey from customer where c_acctbal < 0 or "
            "exists (select 1 from orders where o_custkey = c_custkey "
            "        and o_totalprice > c_acctbal)"
        ).collect()
    }
    want4 = {
        k
        for k, b in bal.items()
        if b < 0 or max_tp.get(k, float("-inf")) > b
    }
    assert rows4 == want4 and rows4
    # markers (and scalar subqueries) inside CASE branches lower too
    case_rows = {
        r.n_nationkey
        for r in planner.sql(
            "select n_nationkey from nation where case when "
            "n_nationkey in (select c_nationkey from customer "
            "                where c_acctbal > 9000) "
            "then true else n_regionkey > 3 end"
        ).collect()
    }
    rich = {
        r.c_nationkey
        for r in planner.sql(
            "select c_nationkey from customer where c_acctbal > 9000"
        ).collect()
    }
    all_n = {
        r.n_nationkey: r.n_regionkey
        for r in planner.sql(
            "select n_nationkey, n_regionkey from nation"
        ).collect()
    }
    want_case = {
        k for k, rk in all_n.items() if (k in rich) or (k not in rich and rk > 3)
    }
    assert case_rows == want_case


def test_correlated_in_and_aggregate_aliases(planner):
    """r12: correlated IN decorrelates like EXISTS; and an aggregate
    alias inside an IN/EXISTS subquery (TPC-H Q20's HAVING ``qty``)
    must NOT read as outer correlation."""
    got = {
        r.o_orderkey
        for r in planner.sql(
            "select o_orderkey from orders where o_orderkey in "
            "(select l_orderkey from lineitem "
            " where l_suppkey = o_custkey % 100 + 1)"
        ).collect()
    }
    pairs = {
        (r.l_orderkey, r.l_suppkey)
        for r in planner.sql(
            "select l_orderkey, l_suppkey from lineitem"
        ).collect()
    }
    want = {
        r.o_orderkey
        for r in planner.sql(
            "select o_orderkey, o_custkey from orders"
        ).collect()
        if False
    }
    orders = planner.sql(
        "select o_orderkey, o_custkey from orders"
    ).collect()
    want = {
        o.o_orderkey
        for o in orders
        if (o.o_orderkey, o.o_custkey % 100 + 1) in pairs
    }
    assert got == want and got
    # aggregate-alias HAVING inside IN: uncorrelated, plain semi join
    q20ish = planner.sql(
        "select s_suppkey from supplier where s_suppkey in ("
        "  select l_suppkey from lineitem group by l_suppkey"
        "  having sum(l_quantity) > 50)"
    ).collect()
    hav = planner.sql(
        "select l_suppkey from lineitem group by l_suppkey "
        "having sum(l_quantity) > 50"
    ).collect()
    assert {r.s_suppkey for r in q20ish} == {
        r.l_suppkey for r in hav
    } & {
        r.s_suppkey
        for r in planner.sql("select s_suppkey from supplier").collect()
    }
    # ... and inside correlated EXISTS
    eh = {
        r.c_custkey
        for r in planner.sql(
            "select c_custkey from customer where exists ("
            "  select o_custkey, count(*) as n from orders"
            "  where o_custkey = c_custkey group by o_custkey"
            "  having count(*) > 12)"
        ).collect()
    }
    cnt = planner.sql(
        "select o_custkey, count(*) as n from orders group by o_custkey"
    ).collect()
    assert eh == {r.o_custkey for r in cnt if r.n > 12}


def test_prefix_not(planner):
    """Prefix NOT at standard precedence (r12): NOT a = 5 is
    NOT (a = 5); NOT a AND b is (NOT a) AND b."""
    got = {
        r.n_nationkey
        for r in planner.sql(
            "select n_nationkey from nation where not n_regionkey = 2"
        ).collect()
    }
    want = {
        r.n_nationkey
        for r in planner.sql(
            "select n_nationkey from nation where n_regionkey <> 2"
        ).collect()
    }
    assert got == want and got
    dbl = planner.sql(
        "select n_nationkey from nation "
        "where not not n_nationkey < 5 and not n_regionkey = 0"
    ).collect()
    assert {r.n_nationkey for r in dbl} == {
        r.n_nationkey
        for r in planner.sql(
            "select n_nationkey from nation "
            "where n_nationkey < 5 and n_regionkey <> 0"
        ).collect()
    }


def test_having_scalar_subquery(planner):
    """HAVING threshold from an uncorrelated scalar subquery (TPC-H Q11
    shape) — 1-row broadcast join below the filter, helper column
    projected away."""
    df = planner.sql(
        "select o_custkey, count(*) as n from orders group by o_custkey "
        "having n > 2 * (select avg(o_totalprice) / avg(o_totalprice) from orders) "
        "order by o_custkey"
    )
    assert df.columns == ["o_custkey", "n"]
    rows = [tuple(r) for r in df.collect()]
    base = [
        tuple(r)
        for r in planner.sql(
            "select o_custkey, count(*) as n from orders group by o_custkey order by o_custkey"
        ).collect()
    ]
    want = [r for r in base if r[1] > 2]
    assert rows == want and len(rows) > 0


def _hep_then_cascades(catalog, sql):
    from datafusion_dolomite_spark.optimizer.cascades.cost import SparkCostModel
    from datafusion_dolomite_spark.optimizer.cascades.optimizer import (
        CascadesOptimizer,
    )
    from datafusion_dolomite_spark.optimizer.heuristic import HepOptimizer
    from datafusion_dolomite_spark.optimizer.rule import OptimizerContext
    from datafusion_dolomite_spark.planner import (
        default_cascades_rules,
        default_rewrite_rules,
    )

    ctx = OptimizerContext(catalog)
    logical = HepOptimizer(default_rewrite_rules(), ctx).find_best_plan(
        parse_sql(sql, catalog)
    )
    return CascadesOptimizer(
        default_cascades_rules(), ctx, cost_model=SparkCostModel()
    ).find_best_plan(logical)


def test_reorder_join_graph_eliminates_cross_join(catalog):
    """FROM a, b, c with predicates connecting each to c: the left-deep
    merge makes a×b a cartesian; the Cascades join order enumeration
    joins only connected sets, leaving zero True-condition joins."""
    text = _hep_then_cascades(
        catalog,
        "select n_name, r_name, c_name from customer, region, nation "
        "where n_regionkey = r_regionkey and c_nationkey = n_nationkey",
    ).explain()
    assert "expr: True" not in text  # no cartesian survives
    assert text.count("Join") == 2
    # nation sits between its two partners: customer⋈(nation⋈region)
    assert text.index('"customer"') < text.index('"nation"') < text.index('"region"')


def test_reorder_join_graph_keeps_genuine_cross(planner, catalog):
    """A genuinely unconnected table stays a cross join (no predicate
    can link it) and results remain correct."""
    text = _hep_then_cascades(
        catalog,
        "select r_name, n_name, c_name from region, nation, customer "
        "where c_nationkey = n_nationkey",
    ).explain()
    assert text.count("expr: True") == 1
    rows = [
        tuple(r)
        for r in planner.sql(
            "select r_name, n_name, count(*) as n from region, nation, customer "
            "where c_nationkey = n_nationkey group by r_name, n_name "
            "order by r_name, n_name limit 5"
        ).collect()
    ]
    assert len(rows) == 5


def test_group_by_rollup_cube_grouping_sets(planner):
    """ROLLUP/CUBE/GROUPING SETS parse onto the multi-set aggregate and
    match a hand-computed union of grouped counts."""
    base = {
        tuple(r): r[2]
        for r in planner.sql(
            "select l_returnflag as rf, l_linestatus as st, count(*) as n "
            "from lineitem group by l_returnflag, l_linestatus"
        ).collect()
    }
    n_total = sum(base.values())
    key = lambda t: tuple((v is None, v if v is not None else "") for v in t[:2])
    rollup = sorted(
        (
            tuple(r)
            for r in planner.sql(
                "select l_returnflag as rf, l_linestatus as st, count(*) as n "
                "from lineitem group by rollup(l_returnflag, l_linestatus)"
            ).collect()
        ),
        key=key,
    )
    n_rf = len({rf for rf, _st, _n in base})
    assert len(rollup) == len(base) + n_rf + 1
    assert sum(1 for rf, st, _n in rollup if rf is None and st is None) == 1
    gsets = sorted(
        (
            tuple(r)
            for r in planner.sql(
                "select l_returnflag as rf, l_linestatus as st, count(*) as n "
                "from lineitem group by grouping sets ((l_returnflag), (l_linestatus), ())"
            ).collect()
        ),
        key=key,
    )
    assert (None, None, n_total) in gsets


def test_ctas_roundtrip(planner):
    """CREATE TABLE AS writes to the warehouse, registers the table, and
    the returned rows are the persisted ones."""
    df = planner.sql(
        "create table _t_nations as "
        "select n_regionkey, count(*) as n from nation group by n_regionkey"
    )
    rows = sorted(tuple(r) for r in df.collect())
    want = sorted(
        tuple(r)
        for r in planner.sql(
            "select n_regionkey, count(*) as n from nation group by n_regionkey"
        ).collect()
    )
    assert rows == want
    # registered: query the new table through the same planner
    again = sorted(tuple(r) for r in planner.sql("select n_regionkey, n from _t_nations").collect())
    assert again == want


def test_values_inline_relation(planner):
    """VALUES parses to a LogicalValues leaf, optimizes to
    PhysicalValues, executes as a LocalRelation, and handles negatives,
    escaped quotes, NULL cells, and default column names."""
    import pytest

    from datafusion_dolomite_spark.sql import SqlError, parse_sql

    rows = sorted(
        (tuple(r) for r in planner.sql(
            "select * from (values (1, 'a'), (-2, 'b''c'), (null, 'd')) as v(a, b)"
        ).collect()),
        key=lambda t: (t[0] is None, t[0] or 0),
    )
    assert rows == [(-2, "b'c"), (1, "a"), (None, "d")]
    # default column names col0..colN
    named = planner.sql("select col0, col1 from (values (7, 'x')) t")
    assert [tuple(r) for r in named.collect()] == [(7, "x")]
    # the optimized plan carries the PhysicalValues leaf
    text = planner.explain(
        parse_sql("select * from (values (1, 'a')) v(a, b)", planner.catalog)
    )
    assert "PhysicalValues" in text
    with pytest.raises(SqlError):
        parse_sql("select * from (values (1, 2), (3)) t(a, b)", planner.catalog)
    with pytest.raises(SqlError):
        parse_sql("select * from (values (n_name)) t(a)", planner.catalog)


def test_values_join_broadcasts(planner, monkeypatch):
    """A VALUES dim joined to a catalog table must take the broadcast
    side — never shuffle the real table against a 5-row literal."""
    # pins the multi-stage lowering: force it at this input size
    monkeypatch.setattr(cost, "SINGLE_STAGE_INPUT_ROWS", -1)
    df = planner.sql(
        "select tier, count(*) as n from nation "
        "join (values (0, 'americas'), (1, 'emea')) as t(rk, tier) "
        "on n_regionkey = rk group by tier"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert df.count() == 2
