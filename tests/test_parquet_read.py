"""The one parquet read path (sources/parquet_read.py): every engine read
passes Spark the schema Spark would infer, derived from the parquet
footer in the Python process, so building a scan starts no Spark job.

Pins: (a) building plain reads through ``QueryPlanner.sql()`` starts zero
Spark jobs, in a fresh session and right after a DML commit; (b) the
footer-derived schema equals ``spark.read.parquet(p).schema`` (names,
types, nullability) across the fixture tables and every kind of version
the engine writes; a data file rewritten in place is seen by the next
``sql()`` (one table stamp); and a lint that keeps every parquet read in
the engine's core on the schema-passing path."""

from __future__ import annotations

import ast
import glob
import os
import shutil
import uuid

import pytest

from datafusion_dolomite_spark import QueryPlanner
from datafusion_dolomite_spark.sources import dml
from datafusion_dolomite_spark.sources.catalog import TESTDATA_TABLES, Catalog
from datafusion_dolomite_spark.sources.catalog import (
    testdata_catalog as fixture_catalog,
)
from datafusion_dolomite_spark.sources.parquet_read import (
    SPARK_ROW_METADATA,
    read_parquet,
    spark_schema,
)

from .conftest import SF_DIR

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                   "datafusion_dolomite_spark")


def _jobs_during(spark, fn):
    """Spark job ids started while ``fn`` runs (job group + status
    tracker; the listener bus is drained so no started job is missed)."""
    sc = spark.sparkContext
    group = f"read-guard-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "building reads")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _copy_testdata(dst):
    os.makedirs(dst)
    for t in TESTDATA_TABLES:
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), dst)
    return fixture_catalog(str(dst))


READS = (
    "select l_orderkey, l_quantity from lineitem where l_quantity > 10",
    "select c_name, n_name from customer join nation "
    "on c_nationkey = n_nationkey where n_regionkey = 1",
    "select event_type, count(*) from events group by event_type",
)


def test_job_counter_sees_jobs(spark):
    """The guard below is not vacuous: an action inside the group is
    counted."""
    assert _jobs_during(spark, lambda: spark.range(3).count())


def test_building_reads_starts_no_job_in_fresh_session(spark, tmp_path):
    session = spark.newSession()
    qp = QueryPlanner(session, _copy_testdata(tmp_path / "data"))
    assert _jobs_during(session, lambda: [qp.sql(q) for q in READS]) == []
    # the reads still run, and each table's scan was built once
    assert qp.sql(READS[0]).count() > 0


def test_building_reads_starts_no_job_after_dml_commit(spark, tmp_path):
    session = spark.newSession()
    os.makedirs(tmp_path / "nation")
    shutil.copy(os.path.join(SF_DIR, "nation.parquet"),
                tmp_path / "nation" / "part-0.parquet")
    cat = Catalog(warehouse=str(tmp_path / "wh"))
    cat.register("nation", str(tmp_path / "nation"))
    qp = QueryPlanner(session, cat)
    qp.sql("insert into nation values (99, 'ATLANTIS', 0)").count()
    assert cat.path("nation") != str(tmp_path / "nation")  # new version
    # a reader in another session builds its own scan of the new version
    # (the writer's session already holds one, built by the INSERT)
    reader = spark.newSession()
    qp2 = QueryPlanner(reader, cat)
    read = "select n_name from nation where n_nationkey > 20"
    assert _jobs_during(reader, lambda: qp2.sql(read)) == []
    assert {r[0] for r in qp2.sql(read).collect()} >= {"ATLANTIS"}


# -- (b) footer schema == Spark's inferred schema ---------------------------


def _assert_same_schema(spark, *paths, base=None):
    mine = spark_schema(*paths, base=base)
    rd = spark.read if base is None else spark.read.option("basePath", base)
    theirs = rd.parquet(*paths).schema
    assert mine is not None, paths
    assert mine == theirs, (paths, mine.simpleString(), theirs.simpleString())
    assert [f.nullable for f in mine] == [f.nullable for f in theirs]


def _physical_types(path, column):
    import pyarrow.parquet as pq

    out = set()
    for f in dml.data_files(path):
        md = pq.read_metadata(f)
        for i in range(len(md.schema)):
            if md.schema.column(i).path == column:
                out.add(md.schema.column(i).physical_type)
    return out


@pytest.mark.parametrize("table", TESTDATA_TABLES)
def test_fixture_table_schema_matches_spark(spark, table):
    path = os.path.join(SF_DIR, f"{table}.parquet")
    _assert_same_schema(spark, path)
    # the planner's catalog types are the ones Spark reads
    cat = fixture_catalog(SF_DIR)
    assert [(f.name, f.dtype) for f in cat.schema(table).fields] == [
        (f.name, f.dataType.simpleString())
        for f in spark.read.parquet(path).schema
    ]


def test_int96_versions_match_spark(spark, tmp_path):
    """Spark writes ``timestamp`` columns as INT96, which pyarrow reports
    as ``timestamp[ns]``: the footer's Spark schema names it for files
    Spark wrote (every DML version), and the INT96 rule names it for
    files other writers produced."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = str(tmp_path / "events_ltz")
    spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).repartition(2).write.parquet(src)
    cat = Catalog(warehouse=str(tmp_path / "wh"))
    cat.register("events", src)
    qp = QueryPlanner(spark, cat)
    qp.sql("update events set value = value + 1 where event_id % 2 = 0").count()
    head = cat.path("events")
    assert head != src
    assert _physical_types(head, "ts") == {"INT96"}
    _assert_same_schema(spark, head)
    assert dict((f.name, f.dtype) for f in cat.schema("events").fields)[
        "ts"
    ] == "timestamp"
    # the same INT96 column written by pyarrow, without Spark's footer
    # schema: the Arrow rules must still say timestamp, not bigint
    f0 = dml.data_files(head)[0]
    other = str(tmp_path / "arrow_int96.parquet")
    pq.write_table(
        pq.read_table(f0).replace_schema_metadata(None), other,
        use_deprecated_int96_timestamps=True,
    )
    assert _physical_types(other, "ts") == {"INT96"}
    assert SPARK_ROW_METADATA.encode() not in pq.read_metadata(other).metadata
    _assert_same_schema(spark, other)


def test_deletion_vector_version_matches_spark(spark, tmp_path):
    spark.createDataFrame(
        [(i, i % 7, float(i)) for i in range(100)],
        "k bigint, g int, v double",
    ).repartition(3).write.parquet(str(tmp_path / "t0"))
    cat = Catalog(warehouse=str(tmp_path / "wh"))
    cat.register("t", str(tmp_path / "t0"))
    qp = QueryPlanner(spark, cat)
    qp.sql(
        "alter table t set tblproperties ('delete_mode'='merge-on-read')"
    ).count()
    qp.sql("delete from t where g = 3").count()
    head = cat.path("t")
    assert dml.has_dv(head)
    _assert_same_schema(spark, head)
    _assert_same_schema(spark, dml.dv_path(head))
    files = dml.data_files(head)
    _assert_same_schema(spark, *files[1:], base=head)


def test_merge_evolved_version_matches_spark(spark, tmp_path):
    """A MERGE with schema evolution and source-range file pruning
    leaves a version whose new files carry the added column and whose
    carried files do not: Spark infers from the first file by path."""
    spark.createDataFrame(
        [(k, k * 10) for k in range(40)], "k bigint, v bigint"
    ).repartitionByRange(4, "k").write.parquet(str(tmp_path / "target"))
    spark.createDataFrame(
        [(1, 999, "b"), (2, 111, "i")], "k bigint, v bigint, tag string"
    ).coalesce(1).write.parquet(str(tmp_path / "source"))
    cat = Catalog(warehouse=str(tmp_path / "wh"))
    cat.register("target", str(tmp_path / "target"))
    cat.register("source", str(tmp_path / "source"))
    qp = QueryPlanner(spark, cat)
    qp.sql(
        "alter table target set tblproperties ('schema_evolution'='auto')"
    ).count()
    qp.sql(
        "merge into target t using source s on t.k = s.k "
        "when matched then update set v = s.v "
        "when not matched then insert *"
    ).count()
    head = cat.path("target")
    widths = {
        len(spark_schema(f)) for f in dml.data_files(head)
    }
    assert widths == {2, 3}  # carried files lack the evolved column
    _assert_same_schema(spark, head)


def test_partitioned_sink_keeps_spark_inference(spark, tmp_path):
    """A hive-partitioned directory names partition columns in its
    directory names: the footer cannot describe it, so the read keeps
    Spark's inference, and the catalog still agrees with Spark."""
    from datafusion_dolomite_spark.sources.sinks import write_parquet

    out = str(tmp_path / "cust_part")
    base = spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))
    write_parquet(base, out, partition_by=["c_nationkey"])
    assert spark_schema(out) is None
    theirs = spark.read.parquet(out).schema
    assert read_parquet(spark, out).schema == theirs
    cat = Catalog()
    cat.register("cust_part", out)
    assert sorted((f.name, f.dtype) for f in cat.schema("cust_part").fields) == (
        sorted((f.name, f.dataType.simpleString()) for f in theirs)
    )


# -- one table stamp ----------------------------------------------------------


def test_data_file_rewritten_in_place_is_seen(spark, tmp_path):
    """Rewriting one data file in place changes neither the table path
    nor its root directory's mtime; the table stamp still covers it, so
    the next ``sql()`` misses every cache and returns the new rows and
    the new schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, i * 10) for i in range(30)], "k bigint, v bigint"
    ).repartition(3).write.parquet(path)
    first = dml.data_files(path)[0]
    # Hadoop's checksum of the old bytes would fail the rewritten file
    os.remove(os.path.join(path, f".{os.path.basename(first)}.crc"))
    cat = Catalog()
    cat.register("t", path)
    qp = QueryPlanner(spark, cat)
    before = sorted(tuple(r) for r in qp.sql("select * from t").collect())
    assert len(before) == 30
    root_mtime = os.stat(path).st_mtime_ns
    old_first = set(pq.read_table(first, columns=["k"]).column(0).to_pylist())
    with open(first, "wb") as f:  # same inode, same name
        pq.write_table(
            pa.table({
                "k": pa.array([100, 101], pa.int64()),
                "v": pa.array([1, 2], pa.int64()),
                "extra": pa.array(["x", "y"]),
            }),
            f,
        )
    assert os.stat(path).st_mtime_ns == root_mtime
    df = qp.sql("select * from t")
    assert df.columns == ["k", "v", "extra"]
    after = sorted(tuple(r) for r in df.collect())
    want = sorted(
        [(k, v, None) for k, v in before if k not in old_first]
        + [(100, 1, "x"), (101, 2, "y")]
    )
    assert after == want


# -- lint: every core parquet read passes a schema ----------------------------

_HELPER = ("parquet_read.py", "read_parquet")


def _receiver_names(node):
    """Attribute and root names along a call's receiver chain
    (``a.b().c`` → c, b, a)."""
    names = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            if isinstance(node, ast.Name):
                names.append(node.id)
            return names


def schemaless_parquet_reads(source: str, filename: str) -> list:
    """Line numbers of ``.parquet(`` READ calls in ``source`` that pass
    no schema: not a writer chain (``.write``/``_writer``, directly or
    through a local variable assigned one), no ``.schema(`` in the
    chain, and not inside the read helper itself."""
    tree = ast.parse(source)
    parents = {}
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            parents[child] = node
    bad = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            continue
        fn = parents.get(node)
        while fn is not None and not isinstance(
            fn, (ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            fn = parents.get(fn)
        if fn is not None and (filename, fn.name) == _HELPER:
            continue
        names = _receiver_names(node.func.value)
        if fn is not None and names:
            for a in ast.walk(fn):
                if isinstance(a, ast.Assign) and any(
                    isinstance(t, ast.Name) and t.id == names[-1]
                    for t in a.targets
                ):
                    names += _receiver_names(a.value)
        if any(n in ("write", "writeStream") or n.endswith("writer")
               for n in names):
            continue
        if "schema" in names:
            continue
        bad.append(node.lineno)
    return bad


def test_lint_flags_a_schemaless_read():
    src = (
        "def f(spark, df, p):\n"
        "    w = df.write.mode('overwrite')\n"
        "    w.parquet(p)\n"
        "    spark.read.schema(s).parquet(p)\n"
        "    return spark.read.parquet(p)\n"
    )
    assert schemaless_parquet_reads(src, "x.py") == [5]


def test_core_parquet_reads_pass_a_schema():
    files = [
        os.path.join(PKG, "execute.py"),
        os.path.join(PKG, "planner.py"),
        *sorted(glob.glob(os.path.join(PKG, "sources", "*.py"))),
    ]
    offenders = []
    for path in files:
        with open(path) as f:
            src = f.read()
        offenders += [
            f"{os.path.relpath(path, PKG)}:{line}"
            for line in schemaless_parquet_reads(src, os.path.basename(path))
        ]
    assert offenders == [], (
        "parquet reads without a schema — use "
        "sources.parquet_read.read_parquet: " + ", ".join(offenders)
    )
