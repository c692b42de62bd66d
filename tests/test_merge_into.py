"""SQL MERGE INTO (r7): upsert surface on the front door — full-outer
join + per-column CASE, copy-on-write + re-register."""

from __future__ import annotations

import os

import pytest

from datafusion_dolomite_spark import QueryPlanner
from datafusion_dolomite_spark.sources import dml
from datafusion_dolomite_spark.sources.catalog import Catalog


@pytest.fixture()
def qp(spark, tmp_path):
    cat = Catalog(warehouse=str(tmp_path / "wh"))
    spark.createDataFrame(
        [(1, 100, 0), (2, 200, 0), (3, 300, 0)], "k bigint, v bigint, n bigint"
    ).coalesce(1).write.parquet(str(tmp_path / "target"))
    spark.createDataFrame(
        [(2, 999, 0), (3, 888, 0), (9, 111, 0)], "k bigint, v bigint, n bigint"
    ).coalesce(1).write.parquet(str(tmp_path / "source"))
    cat.register("target", str(tmp_path / "target"))
    cat.register("source", str(tmp_path / "source"))
    return QueryPlanner(spark, cat)


def test_update_and_insert(qp):
    out = qp.sql(
        "merge into target t using source s on t.k = s.k "
        "when matched then update set v = s.v, n = t.n + 1 "
        "when not matched then insert *"
    )
    rows = {r["k"]: (r["v"], r["n"]) for r in out.collect()}
    assert rows == {1: (100, 0), 2: (999, 1), 3: (888, 1), 9: (111, 0)}


def test_matched_delete(qp):
    out = qp.sql(
        "merge into target t using source s on t.k = s.k "
        "when matched then delete "
        "when not matched then insert *"
    )
    rows = {r["k"]: (r["v"], r["n"]) for r in out.collect()}
    assert rows == {1: (100, 0), 9: (111, 0)}  # 2, 3 deleted; 9 inserted


def test_merge_persists_and_chains(qp):
    """The merge re-registers the target at the merged files; a SECOND
    merge reads the merged state (copy-on-write chaining)."""
    qp.sql(
        "merge into target t using source s on t.k = s.k "
        "when matched then update set v = s.v, n = t.n + 1 "
        "when not matched then insert *"
    ).count()
    out2 = qp.sql(
        "merge into target t using source s on t.k = s.k "
        "when matched then update set v = s.v, n = t.n + 1 "
        "when not matched then insert *"
    )
    rows = {r["k"]: (r["v"], r["n"]) for r in out2.collect()}
    # second pass bumps matched counters again; 9 now matches too
    assert rows == {1: (100, 0), 2: (999, 2), 3: (888, 2), 9: (111, 1)}


def test_update_expressions_mix_both_sides(qp):
    out = qp.sql(
        "merge into target t using source s on t.k = s.k "
        "when matched then update set v = t.v + s.v "
        "when not matched then insert *"
    )
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert rows == {1: 100, 2: 1199, 3: 1188, 9: 111}


def test_insert_star_names_missing_source_columns(qp, spark, tmp_path):
    """INSERT * fills every target column from the source: a source
    without some of them is rejected up front, naming the columns (not
    with Spark's unresolved ``s.<col>``), and the target keeps its
    version.  Without an INSERT arm the narrower source merges fine."""
    spark.createDataFrame([(2, 5), (9, 7)], "k bigint, v bigint").coalesce(
        1
    ).write.parquet(str(tmp_path / "narrow"))
    qp.catalog.register("narrow", str(tmp_path / "narrow"))
    before = qp.catalog.path("target")
    with pytest.raises(ValueError, match=r"lacks \['n'\]"):
        qp.sql(
            "merge into target t using narrow s on t.k = s.k "
            "when matched then update set v = s.v "
            "when not matched then insert *"
        )
    assert qp.catalog.path("target") == before
    out = qp.sql(
        "merge into target t using narrow s on t.k = s.k "
        "when matched then update set v = s.v"
    )
    rows = {r["k"]: (r["v"], r["n"]) for r in out.collect()}
    assert rows == {1: (100, 0), 2: (5, 0), 3: (300, 0)}


def test_disjunctive_on_carries_no_file(qp, spark, tmp_path):
    """Source-range file pruning is sound only when ON's equality is a
    necessary condition.  Under ``t.k = s.k OR t.v = s.v`` the k=50
    file lies outside the source's k range [2, 3] yet holds a row
    matched through ``v``: no file may be carried forward."""
    qp.sql("insert into target values (50, 777, 7)").count()  # 2nd file
    spark.createDataFrame(
        [(2, 999, 0), (3, 777, 0)], "k bigint, v bigint, n bigint"
    ).coalesce(1).write.parquet(str(tmp_path / "src2"))
    qp.catalog.register("src2", str(tmp_path / "src2"))

    def inodes():
        return {os.stat(f).st_ino
                for f in dml.data_files(qp.catalog.path("target"))}

    before = inodes()
    assert len(before) == 2
    out = qp.sql(
        "merge into target t using src2 s on t.k = s.k or t.v = s.v "
        "when matched then update set n = s.k"
    )
    assert {r["k"]: r["n"] for r in out.collect()} == {1: 0, 2: 2, 3: 3, 50: 3}
    assert not inodes() & before
