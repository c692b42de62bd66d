"""Sinks + physical-plan quality checks (.explain-driven).

The plan-quality tests pin the SCALE-CRITICAL properties of what Spark
actually executes: broadcast joins for small dims, TakeOrderedAndProject
for top-k, no Python (BatchEvalPython) in JVM-only pipelines."""

import contextlib
import io
import os
import tempfile

import pytest

from datafusion_dolomite_spark import JoinType, LogicalPlanBuilder, col, lit
from datafusion_dolomite_spark.expr import SortKey
from datafusion_dolomite_spark.optimizer.cascades import cost


def _spark_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_write_and_reread_parquet(planner, spark, tmp_path):
    from datafusion_dolomite_spark.sources.sinks import write_parquet

    plan = (
        LogicalPlanBuilder()
        .scan("nation")
        .filter(col("n_regionkey").le(lit(2)))
        .build()
    )
    df = planner.dataframe(plan)
    out = os.path.join(str(tmp_path), "nation_subset")
    write_parquet(df, out, partition_by=["n_regionkey"])
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    # hive-style partition dirs exist → downstream partition pruning works
    assert any(d.startswith("n_regionkey=") for d in os.listdir(out))


def test_csv_json_sources_roundtrip(planner, spark, tmp_path):
    """CSV/JSON SOURCES: sink → register in catalog (format-aware, schema
    sniffed via DuckDB) → scan through the FULL optimizer pipeline →
    join against a parquet table; rows must match the all-parquet run."""
    from datafusion_dolomite_spark import Catalog, QueryPlanner
    from datafusion_dolomite_spark.sources.catalog import testdata_catalog
    from datafusion_dolomite_spark.sources.sinks import write_csv, write_json

    sf = "/root/testdata/sf0.001"
    base = planner.dataframe(LogicalPlanBuilder().scan("nation").build())
    csv_path = os.path.join(str(tmp_path), "nation_csv")
    json_path = os.path.join(str(tmp_path), "nation_json")
    write_csv(base, csv_path)
    write_json(base, json_path)

    cat = testdata_catalog(sf)
    cat.register("nation_csv", csv_path, format="csv")
    cat.register("nation_json", json_path, format="json")
    qp = QueryPlanner(spark, cat)

    want = sorted(
        tuple(r)
        for r in planner.dataframe(
            LogicalPlanBuilder()
            .scan("region")
            .join(
                LogicalPlanBuilder().scan("nation"),
                JoinType.INNER,
                col("r_regionkey").eq(col("n_regionkey")),
            )
            .projection([col("n_name"), col("r_name")])
            .build()
        ).collect()
    )
    for tbl in ("nation_csv", "nation_json"):
        got = sorted(
            tuple(r)
            for r in qp.dataframe(
                LogicalPlanBuilder()
                .scan("region")
                .join(
                    LogicalPlanBuilder().scan(tbl),
                    JoinType.INNER,
                    col("r_regionkey").eq(col("n_regionkey")),
                )
                .projection([col("n_name"), col("r_name")])
                .build()
            ).collect()
        )
        assert got == want, tbl
        # schema sniffing got real types, not all-strings
        assert cat.schema(tbl).field("n_nationkey").dtype == "bigint"
        # stats flow into the cost model for non-parquet sources too
        assert cat.statistics(tbl).row_count == 25.0


def test_write_csv_json(planner, spark, tmp_path):
    from datafusion_dolomite_spark.sources.sinks import write_csv, write_json

    df = planner.dataframe(LogicalPlanBuilder().scan("region").build())
    csv_path = os.path.join(str(tmp_path), "region_csv")
    json_path = os.path.join(str(tmp_path), "region_json")
    write_csv(df, csv_path)
    write_json(df, json_path)
    assert spark.read.option("header", "true").csv(csv_path).count() == 5
    assert spark.read.json(json_path).count() == 5


def test_small_dim_join_is_broadcast_in_spark_plan(planner, monkeypatch):
    # pins the multi-stage lowering: force it at this input size
    monkeypatch.setattr(cost, "SINGLE_STAGE_INPUT_ROWS", -1)
    plan = (
        LogicalPlanBuilder()
        .scan("customer")
        .join(
            LogicalPlanBuilder().scan("nation"),
            JoinType.INNER,
            col("c_nationkey").eq(col("n_nationkey")),
        )
        .build()
    )
    text = _spark_plan(planner.dataframe(plan))
    assert "BroadcastHashJoin" in text
    # the big (customer) side must NOT be exchanged for this join
    assert "BroadcastExchange" in text


def test_topk_is_take_ordered(planner):
    plan = (
        LogicalPlanBuilder()
        .scan("customer")
        .sort([SortKey(col("c_acctbal"), asc=False), SortKey(col("c_custkey"))])
        .limit(5)
        .build()
    )
    text = _spark_plan(planner.dataframe(plan))
    assert "TakeOrderedAndProject" in text
    # a global Sort exec would indicate the fusion failed
    assert "+- Sort" not in text


def test_jvm_only_pipelines_have_no_python_eval(planner):
    """Text analysis + dedup stages must stay in codegen land — a
    BatchEvalPython/ArrowEvalPython node means a Python UDF leaked in."""
    import __spark_entry__ as entry

    for q in ("q_text_stats", "q_minhash_pairs", "q_simhash", "q_knn_brute"):
        df = entry.queries()[q](planner.spark, "/root/testdata/sf0.001")
        text = _spark_plan(df)
        assert "EvalPython" not in text, f"{q} fell off the JVM path"


def test_multimodal_is_arrow_batched(planner):
    import __spark_entry__ as entry

    df = entry.queries()["q_multimodal_features"](planner.spark, "/root/testdata/sf0.001")
    text = _spark_plan(df)
    # mapInPandas → MapInPandas (Arrow), NOT row-wise BatchEvalPython
    assert "MapInPandas" in text
    assert "BatchEvalPython" not in text


def test_orc_source_roundtrip(planner, spark, tmp_path):
    """ORC sink → catalog registration (pyarrow-sniffed schema + row
    stats) → scan through the full pipeline; matches the parquet run."""
    from datafusion_dolomite_spark import QueryPlanner
    from datafusion_dolomite_spark.sources.catalog import testdata_catalog
    from datafusion_dolomite_spark.sources.sinks import write_orc

    sf = "/root/testdata/sf0.001"
    base = planner.dataframe(LogicalPlanBuilder().scan("nation").build())
    orc_path = os.path.join(str(tmp_path), "nation_orc")
    write_orc(base, orc_path)

    cat = testdata_catalog(sf)
    cat.register("nation_orc", orc_path, format="orc")
    qp = QueryPlanner(spark, cat)
    assert cat.statistics("nation_orc").row_count == 25

    got = sorted(
        tuple(r)
        for r in qp.dataframe(
            LogicalPlanBuilder()
            .scan("nation_orc")
            .filter(col("n_regionkey").eq(lit(0)))
            .projection([col("n_nationkey"), col("n_name")])
            .build()
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in planner.dataframe(
            LogicalPlanBuilder()
            .scan("nation")
            .filter(col("n_regionkey").eq(lit(0)))
            .projection([col("n_nationkey"), col("n_name")])
            .build()
        ).collect()
    )
    assert got == want and len(got) > 0


def test_clustered_parquet_sink(planner, spark, tmp_path):
    """cluster_by range-partitions + sorts so each output file covers a
    narrow key band (file-skipping layout); n_files compacts."""
    import pyarrow.parquet as pq
    import glob

    from datafusion_dolomite_spark.sources.sinks import write_parquet

    base = planner.dataframe(LogicalPlanBuilder().scan("orders").build())
    out = os.path.join(str(tmp_path), "orders_clustered")
    write_parquet(base, out, cluster_by=["o_totalprice"], n_files=4)
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    assert len(files) == 4
    # non-overlapping min/max bands across files = the pruning property
    bands = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = [md.schema.column(i).name for i in range(md.num_columns)].index(
            "o_totalprice"
        )
        stats = md.row_group(0).column(idx).statistics
        bands.append((stats.min, stats.max))
    bands.sort()
    for (lo1, hi1), (lo2, hi2) in zip(bands, bands[1:]):
        assert hi1 <= lo2
    # row count preserved
    assert sum(pq.ParquetFile(f).metadata.num_rows for f in files) == base.count()


def test_zorder_parquet_sink(planner, spark, tmp_path):
    """layout="zorder" Morton-interleaves the cluster columns so every
    file covers a narrow band of EVERY clustered dimension — multi-dim
    file skipping, not just the first range column."""
    import pyarrow.parquet as pq
    import glob

    from datafusion_dolomite_spark.sources.sinks import write_parquet

    base = planner.dataframe(LogicalPlanBuilder().scan("orders").build())
    out = os.path.join(str(tmp_path), "orders_zorder")
    write_parquet(
        base, out, cluster_by=["o_custkey", "o_totalprice"], n_files=8,
        layout="zorder",
    )
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    assert len(files) == 8
    # helper column must not leak into the written schema
    schema = pq.ParquetFile(files[0]).schema_arrow
    assert "_zorder" not in schema.names

    def bands(col):
        out_bands, glo = [], [None, None]
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = [md.schema.column(i).name for i in range(md.num_columns)].index(col)
            lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
            out_bands.append((lo, hi))
            glo[0] = lo if glo[0] is None else min(glo[0], lo)
            glo[1] = hi if glo[1] is None else max(glo[1], hi)
        return out_bands, glo

    # every file's band in EACH dimension must be materially narrower
    # than the global span (a random layout covers ~the full span; a
    # range layout narrows only the first column)
    for c in ("o_custkey", "o_totalprice"):
        bs, (glo, ghi) = bands(c)
        span = float(ghi - glo)
        mean_frac = sum((hi - lo) / span for lo, hi in bs) / len(bs)
        assert mean_frac < 0.8, (c, mean_frac)
    assert sum(pq.ParquetFile(f).metadata.num_rows for f in files) == base.count()


def test_partition_pruning_on_reread(planner, spark, tmp_path):
    """A filter on the hive-partition column must become a
    PartitionFilter (directory pruning — at 100 TB this skips whole
    prefixes, not just row groups)."""
    from datafusion_dolomite_spark import QueryPlanner
    from datafusion_dolomite_spark.sources.catalog import testdata_catalog
    from datafusion_dolomite_spark.sources.sinks import write_parquet

    base = planner.dataframe(LogicalPlanBuilder().scan("customer").build())
    out = os.path.join(str(tmp_path), "cust_part")
    write_parquet(base, out, partition_by=["c_nationkey"])

    cat = testdata_catalog("/root/testdata/sf0.001")
    cat.register("cust_part", out)
    qp = QueryPlanner(spark, cat)
    df = qp.dataframe(
        LogicalPlanBuilder()
        .scan("cust_part")
        .filter(col("c_nationkey").eq(lit(3)))
        .projection([col("c_custkey")])
        .build()
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    txt = buf.getvalue()
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", txt)
    assert m and "c_nationkey" in m.group(1), txt[:800]
    assert df.count() == base.filter("c_nationkey = 3").count()


def test_asof_join_is_window_not_join(planner, spark):
    """The as-of join must execute as union + window — NO join operator,
    no per-key cross product (the naive inequality-join formulation
    would show BroadcastNestedLoopJoin / CartesianProduct)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_asof_join(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "Union" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    # the only join-free formulation: no SortMergeJoin on the asof path
    assert "SortMergeJoin" not in plan


def test_kmeans_ivf_improves_recall_and_is_deterministic(spark):
    """One Lloyd refinement of the hash-seeded IVF centroids must not
    hurt recall@10 vs brute (it improves it: 0.6 → 0.7 @sf0.001,
    0.50 → 0.56 @sf0.1), and the refined pipeline must be fully
    deterministic (quantized-integer means), i.e. two runs identical."""
    from datafusion_dolomite_spark import LogicalPlanBuilder, QueryPlanner
    from datafusion_dolomite_spark.sources.catalog import testdata_catalog

    SF = "/root/testdata/sf0.001"
    qp = QueryPlanner(spark, testdata_catalog(SF))

    def topk(method, iters):
        plan = (
            LogicalPlanBuilder()
            .scan("embeddings")
            .knn("vec_id", "embedding", n_queries=5, k=10, method=method,
                 ncells=8, nprobe=3, kmeans_iters=iters)
            .build()
        )
        out = {}
        for r in qp.dataframe(plan).collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    brute = topk("brute", 0)
    hash_ivf = topk("ivf", 0)
    kmeans_ivf = topk("ivf", 1)

    def recall(approx):
        return sum(
            len(approx.get(q, set()) & b) / len(b) for q, b in brute.items()
        ) / len(brute)

    assert recall(kmeans_ivf) >= recall(hash_ivf)
    # every query returns exactly k refined neighbors
    assert all(len(v) == 10 for v in kmeans_ivf.values())
    # determinism: a second run is identical
    assert topk("ivf", 1) == kmeans_ivf


_SF001 = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_exchange_on_join_keys(spark, tmp_path):
    """Two tables bucketed on their join key with the same bucket count
    must sort-merge-join WITHOUT any Exchange: each task reads the
    matching bucket from both sides.  The unbucketed control join over
    the same data DOES shuffle — proving the absence above comes from
    the bucket layout, not from plan simplification."""
    import contextlib
    import io

    from datafusion_dolomite_spark.sources.sinks import ensure_bucketed_table

    spark.sql("DROP TABLE IF EXISTS t_orders_bkt")
    spark.sql("DROP TABLE IF EXISTS t_cust_bkt")
    ensure_bucketed_table(
        spark, "t_orders_bkt", f"{_SF001}/orders.parquet", ["o_custkey"], 4
    )
    ensure_bucketed_table(
        spark, "t_cust_bkt", f"{_SF001}/customer.parquet", ["c_custkey"], 4
    )
    o = spark.table("t_orders_bkt").select("o_orderkey", "o_custkey")
    c = spark.table("t_cust_bkt").select("c_custkey", "c_mktsegment")
    joined = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    plan = plan_of(joined)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan

    # control: same join over the raw (unbucketed) parquet shuffles
    o2 = spark.read.parquet(f"{_SF001}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    c2 = spark.read.parquet(f"{_SF001}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    control = plan_of(o2.join(c2.hint("merge"), o2.o_custkey == c2.c_custkey))
    assert "Exchange" in control

    # correctness: bucketed join result equals the unbucketed join
    got = sorted(tuple(r) for r in joined.collect())
    want = sorted(
        tuple(r)
        for r in o2.join(c2, o2.o_custkey == c2.c_custkey).collect()
    )
    assert got == want


def test_zorder_scan_pushes_both_range_dimensions(spark):
    """q_zorder_scan's whole point is file skipping on BOTH clustered
    dimensions — that only works if every range bound reaches the
    parquet scan as a pushed filter.  Guard the plan shape."""
    import contextlib
    import io
    import re

    import __spark_entry__ as entry

    df = entry.queries()["q_zorder_scan"](spark, _SF001)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    m = re.search(r"PushedFilters: \[[^\]]*\]", buf.getvalue())
    assert m, "no PushedFilters section in the scan"
    pushed = m.group(0)
    for frag in (
        "GreaterThanOrEqual(o_custkey",
        "LessThanOrEqual(o_custkey",
        "GreaterThanOrEqual(o_totalprice",
        "LessThanOrEqual(o_totalprice",
    ):
        assert frag in pushed, f"{frag} not pushed: {pushed}"
