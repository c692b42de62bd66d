"""One decorrelator and one membership lowering for every subquery form.

``sql._decorrelate`` lifts the outer-referencing conjuncts of IN,
EXISTS, ANY/ALL, scalar and LATERAL subqueries alike, resolving inner
names against the subquery's scans AND its derived outputs, so a
correlation through a derived-table column works in every form.
``sql._lower_membership`` lowers IN/EXISTS/ANY/ALL, uncorrelated EXISTS
included, to joins plus one three-valued value.  Each query here runs
through the engine and through DuckDB on the same parquet files.

The lint at the bottom keeps it that way: exactly one function in
``sql.py`` lifts conjuncts and exactly one builds the three-valued CASE.
"""

from __future__ import annotations

import ast
import os

import duckdb
import pytest

import datafusion_dolomite_spark
from datafusion_dolomite_spark.sql import parse_sql

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("customer", "orders", "supplier", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _check(planner, duck, sql):
    mine = [tuple(r) for r in planner.sql(sql).collect()]
    theirs = duck.execute(sql).fetchall()
    assert mine == theirs, (
        f"spark={mine[:8]} ({len(mine)} rows) != "
        f"duckdb={theirs[:8]} ({len(theirs)} rows)\n{sql}"
    )
    return mine


#: orders seen through a derived table: ``ck``/``t2`` exist only as its
#: outputs, never on a scan
DERIVED = "(SELECT o_custkey AS ck, o_totalprice * 2 AS t2 FROM orders) s"


def test_correlated_scalar_over_derived_table(planner, duck):
    rows = _check(
        planner,
        duck,
        "SELECT c_custkey FROM customer WHERE c_acctbal * 40 < "
        f"(SELECT max(t2) FROM {DERIVED} WHERE s.ck = c_custkey AND t2 > 3) "
        "ORDER BY c_custkey",
    )
    assert rows


def test_uncorrelated_scalar_over_derived_table(planner, duck):
    rows = _check(
        planner,
        duck,
        "SELECT c_custkey FROM customer WHERE c_acctbal * 100 > "
        f"(SELECT min(t2) FROM {DERIVED} WHERE t2 > 3) ORDER BY c_custkey",
    )
    assert rows


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT c_custkey FROM customer WHERE EXISTS (SELECT 1 FROM "
        f"{DERIVED} WHERE s.ck = c_custkey AND t2 > 400000) "
        "ORDER BY c_custkey",
        "SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT ck FROM "
        f"{DERIVED} WHERE s.ck = c_custkey AND t2 > 400000) "
        "ORDER BY c_custkey",
        "SELECT c_custkey FROM customer WHERE c_acctbal * 30 < (SELECT "
        f"avg(t2) FROM {DERIVED} WHERE s.ck = c_custkey) ORDER BY c_custkey",
        "SELECT c_custkey FROM customer WHERE c_acctbal * 30 < ANY (SELECT "
        f"t2 FROM {DERIVED} WHERE s.ck = c_custkey) ORDER BY c_custkey",
        "SELECT c_custkey, m FROM customer, LATERAL (SELECT max(t2) AS m "
        f"FROM {DERIVED} WHERE s.ck = c_custkey) l ORDER BY c_custkey",
    ],
    ids=["exists", "in", "scalar", "any", "lateral"],
)
def test_correlation_through_derived_column(planner, duck, sql):
    assert _check(planner, duck, sql)


BIG = "(SELECT 1 FROM orders WHERE o_totalprice > 1000)"
NONE = "(SELECT 1 FROM orders WHERE o_totalprice < 0)"


@pytest.mark.parametrize(
    "sql",
    [
        f"SELECT c_custkey FROM customer WHERE EXISTS {BIG} "
        "AND c_custkey < 20 ORDER BY c_custkey",
        f"SELECT count(*) AS n FROM customer WHERE NOT EXISTS {BIG}",
        f"SELECT c_custkey FROM customer WHERE c_custkey < 5 OR EXISTS {NONE} "
        "ORDER BY c_custkey",
        f"SELECT c_custkey FROM customer WHERE NOT (EXISTS {BIG} "
        "AND c_custkey > 10) ORDER BY c_custkey",
        f"SELECT c_custkey, EXISTS {BIG} AS e, NOT EXISTS {NONE} AS f "
        "FROM customer ORDER BY c_custkey LIMIT 5",
        f"SELECT count(*) AS n FROM customer WHERE EXISTS {NONE}",
        f"SELECT count(*) AS n FROM customer WHERE NOT EXISTS {NONE}",
    ],
    ids=["top", "top-not", "or", "not", "select-list", "empty", "not-empty"],
)
def test_uncorrelated_exists(planner, duck, sql):
    assert _check(planner, duck, sql)


def test_exponent_literal(planner, duck):
    rows = _check(
        planner,
        duck,
        "SELECT o_orderkey, 1e3 AS k FROM orders WHERE o_totalprice > 2.5e5 "
        "ORDER BY o_orderkey",
    )
    assert rows and rows[0][1] == 1000.0


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT c_custkey, coalesce(c_custkey IN (SELECT o_custkey FROM orders), "
        "false) AS f FROM customer ORDER BY c_custkey",
        "SELECT c_custkey, coalesce(c_custkey NOT IN (SELECT o_custkey FROM orders "
        "WHERE o_totalprice > 100000), true) AS f FROM customer ORDER BY c_custkey",
        "SELECT c_custkey, greatest((SELECT max(o_custkey) FROM orders), c_custkey)"
        " AS g FROM customer ORDER BY c_custkey",
    ],
    ids=["in", "not-in", "scalar"],
)
def test_subquery_as_function_argument(planner, duck, sql):
    assert _check(planner, duck, sql)


def test_exists_in_inner_join_on(planner, duck):
    assert _check(
        planner,
        duck,
        "SELECT c_custkey, o_orderkey FROM customer JOIN orders "
        "ON o_custkey = c_custkey AND EXISTS (SELECT 1 FROM nation "
        "WHERE n_nationkey = c_nationkey AND n_regionkey = 1) "
        "ORDER BY c_custkey, o_orderkey",
    )


def test_exists_in_outer_join_on_is_an_error(catalog):
    with pytest.raises(datafusion_dolomite_spark.sql.SqlError, match="INNER"):
        parse_sql(
            "SELECT c_custkey, o_orderkey FROM customer LEFT JOIN orders "
            "ON o_custkey = c_custkey AND EXISTS (SELECT 1 FROM nation "
            "WHERE n_nationkey = c_nationkey)",
            catalog,
        )


def test_uncorrelated_exists_is_one_count_row(catalog):
    plan = parse_sql(f"SELECT c_custkey FROM customer WHERE EXISTS {BIG}", catalog)
    joins = [
        n.operator for n in plan.bfs_iterator()
        if n.operator.operator_name() == "Join"
    ]
    assert [j.join_type.name for j in joins] == ["INNER"]
    assert "count() as __na1_cnt" in plan.explain()


# -- lint: one decorrelator, one three-valued CASE -------------------------


def _is_null_boolean(node) -> bool:
    """``Cast(Lit(None), "boolean")``: the NULL branch of a 3VL CASE."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "Cast"
        and len(node.args) == 2
        and isinstance(node.args[0], ast.Call)
        and isinstance(node.args[0].func, ast.Name)
        and node.args[0].func.id == "Lit"
        and [getattr(a, "value", 0) for a in node.args[0].args] == [None]
        and getattr(node.args[1], "value", None) == "boolean"
    )


def subquery_lint(source: str):
    """``(lifters, case_builders)``: the top-level functions and methods
    of ``source`` that call ``_is_lifted``, and those that build a
    ``CaseWhen`` and a NULL boolean."""
    tree = ast.parse(source)
    fns = [n for n in tree.body if isinstance(n, ast.FunctionDef)]
    for cls in tree.body:
        if isinstance(cls, ast.ClassDef):
            fns += [n for n in cls.body if isinstance(n, ast.FunctionDef)]
    lifters, cases = [], []
    for fn in fns:
        nodes = list(ast.walk(fn))
        called = {
            n.func.id for n in nodes
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
        }
        if "_is_lifted" in called:
            lifters.append(fn.name)
        if "CaseWhen" in called and any(_is_null_boolean(n) for n in nodes):
            cases.append(fn.name)
    return lifters, cases


ONE_COPY = (
    "def _decorrelate(sub):\n"
    "    def rebuild(n):\n"
    "        return _is_lifted(n, set())\n"
    "    return rebuild(sub)\n"
    "def _three_valued(w, e, n, p):\n"
    "    return CaseWhen(((w, Lit(True)), (n, Cast(Lit(None), 'boolean'))))\n"
    "def _count(x):\n"
    "    return CaseWhen(((x, Lit(1)),), None)\n"
)


def test_lint_flags_a_second_copy():
    assert subquery_lint(ONE_COPY) == (["_decorrelate"], ["_three_valued"])
    second = ONE_COPY + (
        "class _Parser:\n"
        "    def _cmp(self, c):\n"
        "        null_b = Cast(Lit(None), 'boolean')\n"
        "        return _is_lifted(c, set()), CaseWhen(((c, null_b),))\n"
    )
    assert subquery_lint(second) == (
        ["_decorrelate", "_cmp"], ["_three_valued", "_cmp"],
    )


def test_one_decorrelator_and_one_three_valued_case():
    path = os.path.join(
        os.path.dirname(datafusion_dolomite_spark.__file__), "sql.py"
    )
    with open(path) as f:
        assert subquery_lint(f.read()) == (["_decorrelate"], ["_three_valued"])
