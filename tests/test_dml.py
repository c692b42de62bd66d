"""SQL DML on warehouse tables (r7): DELETE / UPDATE / INSERT INTO as
copy-on-write rewrites (versioned dirs — a rewrite never writes into the
files it reads), plus SHOW TABLES / DESCRIBE."""

from __future__ import annotations

import pytest

from datafusion_dolomite_spark import QueryPlanner
from datafusion_dolomite_spark.sources.catalog import Catalog


@pytest.fixture()
def qp(spark, tmp_path):
    cat = Catalog(warehouse=str(tmp_path / "wh"))
    spark.createDataFrame(
        [(i, i * 10, None if i == 5 else "x") for i in range(10)],
        "k bigint, v bigint, tag string",
    ).coalesce(1).write.parquet(str(tmp_path / "t0"))
    cat.register("t", str(tmp_path / "t0"))
    return QueryPlanner(spark, cat)


def test_delete_update_insert_chain(qp):
    assert qp.sql("delete from t where k >= 7").count() == 7
    rows = {r["k"]: r["v"] for r in qp.sql(
        "update t set v = v + 1 where k < 3"
    ).collect()}
    assert rows == {0: 1, 1: 11, 2: 21, 3: 30, 4: 40, 5: 50, 6: 60}
    out = qp.sql(
        "insert into t select cast(100 as bigint) as k, "
        "cast(0 as bigint) as v, 'new' as tag from t where k = 0"
    )
    assert sorted(r["k"] for r in out.collect()) == [0, 1, 2, 3, 4, 5, 6, 100]


def test_delete_null_predicate_keeps_row(qp):
    """SQL DELETE removes rows where the predicate is TRUE; a NULL
    predicate (tag = 'x' on the NULL-tag row) must KEEP the row."""
    out = qp.sql("delete from t where tag = 'x'")
    assert sorted(r["k"] for r in out.collect()) == [5]


def test_update_without_where_updates_all(qp):
    out = qp.sql("update t set v = 0")
    assert {r["v"] for r in out.collect()} == {0}


def test_update_preserves_column_types(qp):
    out = qp.sql("update t set v = v + 0.0 where k = 0")
    assert dict(out.dtypes)["v"] == "bigint"  # cast back to the schema


def test_show_and_describe(qp):
    assert [r["table_name"] for r in qp.sql("show tables").collect()] == ["t"]
    desc = {r["col_name"]: r["data_type"] for r in qp.sql("describe t").collect()}
    assert desc == {"k": "bigint", "v": "bigint", "tag": "string"}


def test_cow_never_touches_read_files(qp, spark):
    """Chained rewrites land in fresh version dirs: the files backing
    the PREVIOUS registration still read back unchanged."""
    before_path = qp.catalog.path("t")
    qp.sql("delete from t where k = 0").count()
    after_path = qp.catalog.path("t")
    assert before_path != after_path
    assert spark.read.parquet(before_path).count() == 10  # untouched


def test_version_as_of_time_travel(qp):
    """VERSION AS OF reads any point in the COW lineage: v0 = before
    the first rewrite, one version per DML."""
    qp.sql("delete from t where k >= 7").count()       # v1: 7 rows
    qp.sql("update t set v = 0 where k = 0").count()   # v2
    assert qp.sql("select * from t version as of 0").count() == 10
    assert qp.sql("select * from t version as of 1").count() == 7
    v2 = {r["k"]: r["v"] for r in qp.sql("select * from t version as of 2").collect()}
    assert v2[0] == 0 and v2[1] == 10
    with pytest.raises(Exception):
        qp.sql("select * from t version as of 9")


def test_macro_expansion_skips_string_literals(qp):
    """A macro name appearing inside a quoted literal must NOT expand."""
    qp.sql("create function double_it(x) as (x + x)").count()
    out = qp.sql(
        "select k, double_it(v) as dv, 'double_it(9)' as label "
        "from t where k <= 1"
    )
    rows = sorted((r["k"], r["dv"], r["label"]) for r in out.collect())
    assert rows == [(0, 0, "double_it(9)"), (1, 20, "double_it(9)")]


def test_macro_arg_with_comma_in_string_literal(qp):
    """A case NO textual expander survives (VERDICT r7 item 5): the
    argument contains a comma inside a string literal — a balanced-paren
    text splitter sees two arguments and bails (arity mismatch →
    unresolved function).  Parser-level expansion parses the argument as
    one expression."""
    qp.sql("create function tagit(x) as concat(x, '!')").count()
    rows = qp.sql(
        "select tagit(concat('a,b', tag)) as s from t where k = 0"
    ).collect()
    assert rows[0]["s"] == "a,bx!"


def test_macro_name_as_column_alias(qp):
    """A macro name used as a COLUMN ALIAS (and in ORDER BY through that
    alias) must not confuse expansion — the parser only expands at call
    sites."""
    qp.sql("create function double_it(x) as (x + x)").count()
    rows = qp.sql(
        "select k, double_it(v) as double_it from t where k <= 1 "
        "order by double_it"
    ).collect()
    assert [(r["k"], r["double_it"]) for r in rows] == [(0, 0), (1, 20)]


def test_macro_calls_macro_frozen_at_definition(qp):
    """Nested macros expand at DEFINITION time (the body is parsed to IR
    once), so redefining the inner macro later does not retroactively
    change the outer one — and cycles are impossible."""
    qp.sql("create function inc(x) as x + 1").count()
    qp.sql("create function inc2(x) as inc(inc(x))").count()
    qp.sql("create or replace function inc(x) as x + 100").count()
    rows = qp.sql("select inc2(k) as a, inc(k) as b from t where k = 0").collect()
    assert rows[0]["a"] == 2 and rows[0]["b"] == 100


def test_insert_values_and_column_list(qp):
    """INSERT INTO … VALUES (r8) and explicit column lists: VALUES
    lowers to a parsed inline relation; unlisted columns fill NULL;
    everything casts to the table schema."""
    out = qp.sql("insert into t values (100, 0, 'new'), (101, 1, 'new2')")
    got = {r["k"]: (r["v"], r["tag"]) for r in out.collect()}
    assert got[100] == (0, "new") and got[101] == (1, "new2")
    out = qp.sql("insert into t (k, tag) values (200, 'partial')")
    row = [r for r in out.collect() if r["k"] == 200][0]
    assert row["v"] is None and row["tag"] == "partial"
    out = qp.sql("insert into t (tag, k) select 'sel' as a, 300 as b from t where k = 0")
    row = [r for r in out.collect() if r["k"] == 300][0]
    assert row["tag"] == "sel" and row["v"] is None
    with pytest.raises(Exception, match="unknown column"):
        qp.sql("insert into t (nope) values (1)")
    with pytest.raises(Exception, match="column"):
        qp.sql("insert into t (k, v) values (1, 2, 3)")


def test_delete_without_where_empties_table(qp):
    out = qp.sql("delete from t")
    assert out.count() == 0
    assert qp.sql("select * from t version as of 0").count() == 10


def test_describe_history(qp):
    """DESCRIBE HISTORY (r8): version lineage with operation tags,
    surviving the persisted log."""
    qp.sql("delete from t where k >= 7").count()
    qp.sql("insert into t values (100, 0, 'n')").count()
    rows = [(r["version"], r["operation"]) for r in qp.sql(
        "describe history t"
    ).collect()]
    assert rows == [(0, "base"), (1, "delete"), (2, "insert")]
    # and a fresh planner over the same warehouse reads the same lineage
    from datafusion_dolomite_spark import QueryPlanner as _QP

    cat2 = type(qp.catalog)(warehouse=qp.catalog.warehouse_root())
    cat2.register("t", qp._table_history["t"][0])
    qp2 = _QP(qp.spark, cat2)
    rows2 = [(r["version"], r["operation"]) for r in qp2.sql(
        "describe history t"
    ).collect()]
    assert rows2 == rows


def test_alter_table_add_and_drop_column(qp, spark):
    """ALTER TABLE (r8): metadata-only schema evolution — ADD COLUMN
    null-fills on files written before it; later DML materializes it;
    DROP COLUMN stops reading a physical column; the evolved schema
    rides the persisted version log across planners."""
    qp.sql("alter table t add column score double").count()
    rows = {r["k"]: r["score"] for r in qp.sql(
        "select k, score from t where k <= 1"
    ).collect()}
    assert rows == {0: None, 1: None}
    # DML writes the evolved schema physically
    qp.sql("update t set score = cast(k as double) where k < 3").count()
    got = {r["k"]: r["score"] for r in qp.sql(
        "select k, score from t where k <= 3"
    ).collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 2.0, 3: None}
    # INSERT without the column fills NULL; with it, keeps it
    qp.sql("insert into t (k, v, tag, score) values (50, 0, 'n', 9.5)").count()
    assert [r["score"] for r in qp.sql(
        "select score from t where k = 50"
    ).collect()] == [9.5]
    # evolved schema survives a NEW planner over the same warehouse
    from datafusion_dolomite_spark import QueryPlanner as _QP

    cat2 = type(qp.catalog)(warehouse=qp.catalog.warehouse_root())
    cat2.register("t", qp._table_history["t"][0])
    qp2 = _QP(qp.spark, cat2)
    assert "score" in [
        r["col_name"] for r in qp2.sql("describe t").collect()
    ]
    assert qp2.sql("select score from t where k = 50").collect()[0][0] == 9.5
    # drop: the column disappears from reads (files untouched)
    qp.sql("alter table t drop column tag").count()
    assert "tag" not in [
        r["col_name"] for r in qp.sql("describe t").collect()
    ]
    assert qp.sql("select * from t where k = 50").columns == ["k", "v", "score"]
    with pytest.raises(Exception, match="already exists"):
        qp.sql("alter table t add column v bigint")
    with pytest.raises(Exception, match="no column"):
        qp.sql("alter table t drop column nope")


def test_truncate_table(qp):
    out = qp.sql("truncate table t")
    assert out.count() == 0
    assert qp.sql("select * from t version as of 0").count() == 10
    hist = [r["operation"] for r in qp.sql("describe history t").collect()]
    assert hist == ["base", "delete"]


# -- statement text: literals and comments are never syntax ----------------


def _rows(qp):
    return {r["k"]: (r["v"], r["tag"]) for r in qp.sql("select * from t").collect()}


def test_update_literal_holding_where(qp):
    qp.sql("update t set tag = 'a where b' where k = 1").count()
    rows = _rows(qp)
    assert rows[1] == (10, "a where b") and rows[2] == (20, "x")


def test_update_literal_holding_comma(qp):
    qp.sql("update t set tag = 'a,b', v = 1 where k = 1").count()
    rows = _rows(qp)
    assert rows[1] == (1, "a,b") and rows[2] == (20, "x")


def test_delete_after_leading_comment(qp):
    assert qp.sql("/* c */ delete from t where k = 1 -- trailing").count() == 9
    assert 1 not in _rows(qp)


def test_literal_holding_version_as_of_is_not_time_travel(qp):
    assert qp.sql("select k from t where tag = 'from t version as of 0'").count() == 0
    qp.sql("update t set tag = 'from t version as of 0' where k = 4").count()
    got = qp.sql("select k from t where tag = 'from t version as of 0'").collect()
    assert [r["k"] for r in got] == [4]


def test_update_expression_only_spark_parses(qp):
    """``||`` is no token of the engine's grammar: the SET expression
    reaches Spark's parser through the ``F.expr`` fallback."""
    qp.sql("update t set tag = tag || 'y' where k = 0").count()
    assert _rows(qp)[0] == (0, "xy")


def test_explain_dml_executes_nothing(qp):
    path, before = qp.catalog.path("t"), _rows(qp)
    row = qp.sql(
        "/* plan only */ explain update t set tag = 'a where b' where k = 1"
    ).collect()[0]
    assert (row["statement"], row["table_name"], row["predicate"]) == (
        "UPDATE", "t", "k = 1")
    row = qp.sql("explain delete from t where tag = 'x, where' -- why").collect()[0]
    assert (row["statement"], row["predicate"]) == ("DELETE", "tag = 'x, where'")
    assert qp.catalog.path("t") == path and _rows(qp) == before
