"""The statement parser (``sql.parse_statement``), without Spark: one
example of every statement kind the planner dispatches on, with the
fields each record carries.  Literals holding keywords and comments
around a statement must never change what is extracted."""

from __future__ import annotations

import ast
import os

import pytest

import datafusion_dolomite_spark
from datafusion_dolomite_spark.sql import SqlError, parse_sql, parse_statement

MERGE = (
    "merge into orders as t using stg0 s on t.o_orderkey = s.o_orderkey "
    "when matched and s.flag = 'when matched then delete' then "
    "update set o_comment = 'a, b', o_totalprice = s.o_totalprice "
    "when not matched by source then delete "
    "when not matched then insert *"
)

CASES = [
    ("explain analyze select k from t", "explain",
     {"analyze": True, "query": "select k from t"}),
    ("explain select k from t -- why", "explain",
     {"analyze": False, "query": "select k from t"}),
    ("explain delete from t where tag = 'a where b'", "explain_dml",
     {"table": "t", "pred_text": "tag = 'a where b'", "kind": "DELETE"}),
    ("EXPLAIN UPDATE t SET v = 1", "explain_dml",
     {"table": "t", "pred_text": None, "kind": "UPDATE"}),
    ("create or replace vector index on docs (emb) "
     "with (m = 4, location = '/w/a, b', residual = false)",
     "create_vector_index",
     {"replace": True, "table": "docs", "vec_col": "emb",
      "options": {"m": "4", "location": "/w/a, b", "residual": "false"}}),
    ("drop vector index on docs (emb)", "drop_vector_index",
     {"table": "docs", "vec_col": "emb"}),
    ("create tokenizer on docs (body)", "create_tokenizer",
     {"replace": False, "table": "docs", "text_col": "body"}),
    ("drop tokenizer on docs (body)", "drop_tokenizer",
     {"table": "docs", "text_col": "body"}),
    ("describe table t", "describe", {"table": "t"}),
    ("desc t", "describe", {"table": "t"}),
    ("describe history t", "describe_history", {"table": "t"}),
    ("describe detail t", "describe_detail", {"table": "t"}),
    ("analyze table t compute statistics", "analyze", {"table": "t"}),
    ("create function f(x, y) as x + y * 2", "create_function",
     {"name": "f", "params": "x, y", "body": "x + y * 2"}),
    ("create or replace view v as select k from t where tag = 'as'",
     "create_view",
     {"replace": True, "name": "v", "body": "select k from t where tag = 'as'"}),
    ("drop view if exists v", "drop_view", {"if_exists": True, "name": "v"}),
    ("show views", "show_views", {}),
    ("select * from t version as of 3", "select_as_of",
     {"table": "t", "version": 3}),
    ("select * from t timestamp as of '2024-01-02 03:04:05'", "select_as_of",
     {"table": "t", "timestamp": "2024-01-02 03:04:05"}),
    ("select * from table_changes('t', 1, 4)", "table_changes",
     {"table": "t", "v1": 1, "v2": 4}),
    ("select * from table_changes(t, 0, 2)", "table_changes",
     {"table": "t", "v1": 0, "v2": 2}),
    ("/* c */ delete from t where k = 1", "delete",
     {"table": "t", "where": "k = 1"}),
    ("delete from t", "delete", {"table": "t"}),
    ("delete from t where k = 1;", "delete",
     {"table": "t", "where": "k = 1"}),
    ("update t set v = 1;", "update", {"table": "t", "sets": {"v": "1"}}),
    ("show tables ;", "show_tables", {}),
    ("update t set tag = 'a where b', v = (v + 1) where k in (1, 2) -- end",
     "update",
     {"table": "t", "sets": {"tag": "'a where b'", "v": "(v + 1)"},
      "where": "k in (1, 2)"}),
    ("update t set tag = 'a,b', v = 1 where k = 1", "update",
     {"table": "t", "sets": {"tag": "'a,b'", "v": "1"}, "where": "k = 1"}),
    ("update t set v = case when k = 1 then 0 else v end where k > 0",
     "update",
     {"sets": {"v": "case when k = 1 then 0 else v end"}, "where": "k > 0"}),
    ("update t set tag = tag || 'y'", "update",
     {"table": "t", "sets": {"tag": "tag || 'y'"}}),
    ("insert into t (k, tag) values (1, 'then, when')", "insert",
     {"table": "t", "columns": "k, tag",
      "source": "values (1, 'then, when')", "values": True}),
    ("insert into t with s as (select 1) select * from s", "insert",
     {"table": "t", "source": "with s as (select 1) select * from s",
      "values": False}),
    ("insert overwrite table t select * from u", "insert_overwrite",
     {"table": "t", "source": "select * from u", "values": False}),
    (MERGE, "merge",
     {"target": "orders", "t_alias": "t", "source": "stg0", "s_alias": "s",
      "on": "t.o_orderkey = s.o_orderkey",
      "clauses": [
          ("m", "s.flag = 'when matched then delete'",
           {"o_comment": "'a, b'", "o_totalprice": "s.o_totalprice"}),
          ("nms", None, None),
          ("nmt", None, None),
      ],
      "keys": ("o_orderkey", "o_orderkey"),
      "prune_keys": ("o_orderkey", "o_orderkey")}),
    ("merge into t a using s b on a.k = b.k "
     "when matched and b.v > case when b.w then 1 end then update set * ",
     "merge", {"clauses": [("m", "b.v > case when b.w then 1 end", "*")]}),
    ("show tables", "show_tables", {}),
    ("show tblproperties t", "show_tblproperties", {"table": "t"}),
    ("show constraints for t", "show_constraints", {"table": "t"}),
    ("show materialized views", "show_materialized_views", {}),
    ("drop materialized view mv1", "drop_materialized_view", {"name": "mv1"}),
    ("truncate table t", "truncate", {"table": "t"}),
    ("alter table t set tblproperties ('delete_mode' = 'mor', 'a,b' = 'c')",
     "set_tblproperties",
     {"table": "t", "properties": {"delete_mode": "mor", "a,b": "c"}}),
    ("alter table t add constraint pos check (v > 0 and tag <> ')')",
     "add_constraint",
     {"table": "t", "name": "pos", "expr_text": "v > 0 and tag <> ')'"}),
    ("alter table t drop constraint pos", "drop_constraint",
     {"table": "t", "name": "pos"}),
    ("alter table t add column price decimal(10, 2)", "add_column",
     {"table": "t", "column": "price", "dtype": "decimal(10, 2)"}),
    ("alter table t drop column price", "drop_column",
     {"table": "t", "column": "price"}),
    ("optimize table t where k > 1 zorder by (a, b)", "optimize",
     {"table": "t", "where": "k > 1", "zorder": "a, b"}),
    ("vacuum t retain 1.5 hours dry run", "vacuum",
     {"table": "t", "retain_hours": 1.5, "dry_run": True}),
    ("vacuum table t", "vacuum", {"table": "t", "dry_run": False}),
    ("restore table t to version as of 2", "restore",
     {"table": "t", "version": 2}),
    ("restore table t to timestamp as of '2024-01-02'", "restore",
     {"table": "t", "timestamp": "2024-01-02"}),
    ("create table c shallow clone t version as of 1", "shallow_clone",
     {"clone": "c", "source": "t", "ver": 1}),
    ("select k from t where tag = 'from t version as of 0'", "query", {}),
    ("create table c as select * from t", "query", {}),
    # near misses fall through to the query parser, as before
    ("vacuum t retain many hours", "query", {}),
    ("insert into t (select 1)", "query", {}),
]


@pytest.mark.parametrize("text, kind, fields", CASES,
                         ids=[c[0][:40] for c in CASES])
def test_statement_record(text, kind, fields):
    st = parse_statement(text)
    assert st.kind == kind
    for name, want in fields.items():
        assert st.args.get(name) == want, name
    if kind == "query":
        assert st.args == {"query": text}


@pytest.mark.parametrize("text", [
    "select 1;",
    "select k from t where tag = ';' ;",
    "select /*+ BROADCAST(t) */ k from t;",
])
def test_query_with_trailing_semicolon_parses(text):
    """One trailing ``;`` ends a query too; a ``;`` inside a literal is
    text."""
    plan = parse_sql(text)
    assert plan.explain() == parse_sql(text.rstrip(" ;")).explain()


@pytest.mark.parametrize("text, value", [
    ("1e3", 1000.0), ("2.5E-2", 0.025), ("1e+2", 100.0), ("7", 7), ("1.5", 1.5),
])
def test_number_literal(text, value):
    """An exponent lexes into the number, and makes it a double."""
    item = parse_sql(f"select {text} as v from region").root.operator.exprs[0]
    assert item.name == "v"
    assert item.expr.value == value and type(item.expr.value) is type(value)


def test_exponent_in_a_predicate():
    plan = parse_sql("select o_orderkey from orders where o_totalprice > 1e5")
    assert "(o_totalprice > 100000.0)" in plan.explain()
    assert parse_statement("delete from t where v < 2e-3").args["where"] == "v < 2e-3"


def test_statement_tokens_parse_the_query():
    """``parse_sql`` takes the tokens and hints ``parse_statement`` made
    (the planner's path), with the plan and hints of a fresh parse."""
    text = "select /*+ BROADCAST(t) */ k from t where tag = 'x;'"
    st = parse_statement(text)
    assert st.kind == "query"
    plan = parse_sql(st.args["query"], lexed=st.lexed)
    fresh = parse_sql(text)
    assert plan.explain() == fresh.explain()
    assert plan.hints == fresh.hints == {
        "broadcast": {"t"}, "merge": set(), "shuffle_hash": set()}


def test_time_travel_references():
    q = ("select * from t version as of 3 join u VERSION AS OF 1 on a = b "
         "where x = 'from v version as of 2' -- from w version as of 4")
    st = parse_statement(q)
    assert st.kind == "query"
    assert [(q[a:b], t, n) for a, b, t, n in st.versions] == [
        ("t version as of 3", "t", 3), ("u VERSION AS OF 1", "u", 1)]


@pytest.mark.parametrize("on, prune", [
    ("a.k = b.k", ("k", "k")),
    ("b.k2 = a.k", ("k", "k2")),
    ("(a.k = b.k) and b.v > 150", ("k", "k")),
    ("(a.x = 1 or a.y = 2) and a.k = b.k", ("k", "k")),
    ("a.k = b.k and b.tag <> 'x or y'", ("k", "k")),
    ("a.k = b.k or a.alt = b.alt", None),
    # AND binds tighter: the equality is a conjunct of one disjunct only
    ("a.k = b.k and a.x = 1 or a.alt = b.alt", None),
    ("a.k + 1 = b.k and a.j = b.j", ("j", "j")),
])
def test_merge_prune_gate(on, prune):
    """``prune_keys`` is set only when ON is a pure conjunction with a
    ``t.x = s.y`` top-level conjunct; ``keys`` is the first such
    equality anywhere."""
    st = parse_statement(
        f"merge into t a using s b on {on} when matched then delete")
    assert st.args["on"] == on
    assert st.args["prune_keys"] == prune
    assert st.args["keys"] is not None


@pytest.mark.parametrize("text, match", [
    ("merge into t a using s b on a.k = b.k "
     "when matched by source then delete", "BY SOURCE"),
    ("merge into t a using s b on a.k = b.k "
     "when not matched then update set v = 1", r"INSERT \*"),
    ("merge into t a using s b on a.k = b.k "
     "when not matched by source then update set *", "BY SOURCE"),
    ("merge into t a using s b on a.k > b.k when matched then delete",
     "equality"),
    ("merge into t a using s b on a.k = b.k", "WHEN"),
    ("update t set v where k = 1", "name = value"),
    ("alter table t set tblproperties (delete_mode = 'mor')",
     "'key'='value'"),
])
def test_malformed_statement_errors(text, match):
    with pytest.raises(SqlError, match=match):
        parse_statement(text)


# -- lint: the statement front door reads text only through the lexer ------

#: helpers of the old regex front door; they must not come back
_DELETED = ("_top_level_mask", "_on_conjunction_parts", "_strip_outer_parens",
            "_parse_set_clause", "_parse_merge_clauses",
            "_rewrite_time_travel")


def front_door_regex_uses(source: str) -> list:
    """``name:line`` of each ``re`` use inside ``QueryPlanner.sql`` or a
    statement handler named in ``QueryPlanner._STATEMENT_HANDLERS``, and
    ``name`` of each deleted helper defined anywhere in ``source``."""
    tree = ast.parse(source)
    aliases = {"re"} | {
        a.asname or a.name
        for node in ast.walk(tree) if isinstance(node, ast.Import)
        for a in node.names if a.name == "re"
    }
    cls = next(n for n in tree.body
               if isinstance(n, ast.ClassDef) and n.name == "QueryPlanner")
    handlers = {"sql"}
    for node in cls.body:
        if (isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name)
                        and t.id == "_STATEMENT_HANDLERS"
                        for t in node.targets)):
            handlers |= {v.value for v in node.value.values}
    bad = [n.name for n in ast.walk(tree)
           if isinstance(n, ast.FunctionDef) and n.name in _DELETED]
    for fn in cls.body:
        if not (isinstance(fn, ast.FunctionDef) and fn.name in handlers):
            continue
        for node in ast.walk(fn):
            if (isinstance(node, ast.Import)
                    and any(a.name == "re" for a in node.names)
                    or isinstance(node, ast.ImportFrom) and node.module == "re"
                    or isinstance(node, ast.Name) and node.id in aliases):
                bad.append(f"{fn.name}:{node.lineno}")
    return bad


def test_lint_flags_a_regex_handler():
    src = (
        "import re as _r\n"
        "def _top_level_mask(t):\n"
        "    return t\n"
        "class QueryPlanner:\n"
        "    _STATEMENT_HANDLERS = {'delete': '_delete'}\n"
        "    def sql(self, q):\n"
        "        return q\n"
        "    def _delete(self, table, where=None):\n"
        "        return _r.match('x', where)\n"
        "    def _other(self, q):\n"
        "        import re\n"
        "        return re.match('x', q)\n"
    )
    assert front_door_regex_uses(src) == ["_top_level_mask", "_delete:9"]


def test_front_door_has_no_regex():
    path = os.path.join(os.path.dirname(datafusion_dolomite_spark.__file__),
                        "planner.py")
    with open(path) as f:
        assert front_door_regex_uses(f.read()) == []
