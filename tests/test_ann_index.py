"""Persisted ANN index (functions/ann_index.py): build-once/probe-many
must be BIT-EQUAL to the inline knn_pq chain with the same parameters —
the property that makes the persisted index oracle-able by the existing
DuckDB replay machinery."""

import pytest

from datafusion_dolomite_spark.plans.plan import LogicalPlanBuilder


@pytest.fixture()
def emb(planner):
    return planner.dataframe(LogicalPlanBuilder().scan("embeddings").build())


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_probe_bit_equal_to_inline_chain(tmp_path, emb):
    from datafusion_dolomite_spark.functions.ann_index import (
        ann_index_build,
        ann_index_probe,
    )
    from datafusion_dolomite_spark.functions.similarity import knn_pq

    idx = str(tmp_path / "annidx")
    params = dict(m=8, ksub=16, ncells=16, residual=True, kmeans_iters=2)
    ann_index_build(emb, idx, "vec_id", "embedding", **params)
    q = emb.filter("vec_id < 6")
    got = ann_index_probe(
        q, idx, "vec_id", "embedding", k=8, nprobe=3, refine=40,
        corpus_df=emb,
    )
    want = knn_pq(
        emb, "vec_id", "embedding", n_queries=6, k=8, refine=40,
        nprobe=3, **params,
    )
    assert _rows(got) == _rows(want)


def test_probe_bit_equal_trained_books(tmp_path, emb):
    from datafusion_dolomite_spark.functions.ann_index import (
        ann_index_build,
        ann_index_probe,
        read_ann_meta,
    )
    from datafusion_dolomite_spark.functions.similarity import knn_pq

    idx = str(tmp_path / "annidx_t")
    params = dict(
        m=8, ksub=16, ncells=16, residual=True, kmeans_iters=1,
        train_iters=1,
    )
    meta = ann_index_build(emb, idx, "vec_id", "embedding", **params)
    # the meta JSON round-trip must be exact
    assert read_ann_meta(idx)["cents"] == [
        [c, v] for c, v in meta["cents"]
    ] or read_ann_meta(idx)["cents"] == meta["cents"]
    got = ann_index_probe(
        q := emb.filter("vec_id < 4"), idx, "vec_id", "embedding",
        k=5, nprobe=3, refine=30, corpus_df=emb,
    )
    want = knn_pq(
        emb, "vec_id", "embedding", n_queries=4, k=5, refine=30,
        nprobe=3, **params,
    )
    assert _rows(got) == _rows(want)


def test_add_batch_then_probe_sees_it(tmp_path, emb):
    from pyspark.sql import functions as F

    from datafusion_dolomite_spark.functions.ann_index import (
        ann_index_add,
        ann_index_build,
        ann_index_probe,
        read_ann_meta,
    )

    idx = str(tmp_path / "annidx_add")
    half1 = emb.filter("vec_id % 2 = 0")
    half2 = emb.filter("vec_id % 2 = 1 and vec_id >= 10")
    ann_index_build(
        half1, idx, "vec_id", "embedding", m=8, ksub=16, ncells=8,
        residual=True, kmeans_iters=1,
    )
    n = ann_index_add(half2, idx, "vec_id", "embedding", "b2")
    assert n == half2.count()
    assert read_ann_meta(idx)["batches"] == ["base", "b2"]
    # re-adding the same batch label is rejected (idempotency guard)
    with pytest.raises(ValueError, match="already in the index"):
        ann_index_add(half2, idx, "vec_id", "embedding", "b2")
    res = ann_index_probe(
        emb.filter("vec_id < 4"), idx, "vec_id", "embedding", k=10,
        nprobe=4,
    )
    ids = {r["neighbor_id"] for r in res.collect()}
    assert any(i % 2 == 1 for i in ids)  # added batch is probe-visible


def test_add_accepts_deprecated_corpus_rows(tmp_path, emb):
    """``corpus_rows=`` (the keyword's old name) still works as an
    alias of ``batch_rows`` and warns; passing both is an error."""
    from datafusion_dolomite_spark.functions.ann_index import (
        ann_index_add,
        ann_index_build,
        read_ann_meta,
    )

    idx = str(tmp_path / "annidx_alias")
    ann_index_build(
        emb.filter("vec_id % 2 = 0"), idx, "vec_id", "embedding", m=8,
        ksub=16, ncells=8, residual=True, kmeans_iters=1,
    )
    batch = emb.filter("vec_id % 2 = 1")
    with pytest.raises(TypeError, match="batch_rows only"):
        ann_index_add(batch, idx, "vec_id", "embedding", "b2",
                      batch_rows=10, corpus_rows=10)
    with pytest.warns(DeprecationWarning, match="batch_rows"):
        n = ann_index_add(batch, idx, "vec_id", "embedding", "b2",
                          corpus_rows=batch.count())
    assert n == batch.count()
    assert read_ann_meta(idx)["batches"] == ["base", "b2"]


def test_probe_requires_index_and_matching_params(tmp_path, emb):
    from datafusion_dolomite_spark.functions.ann_index import (
        ann_index_build,
        ann_index_probe,
        ann_meta_matches,
        read_ann_meta,
    )

    with pytest.raises(ValueError, match="build first"):
        ann_index_probe(emb, str(tmp_path / "nope"), "vec_id", "embedding")
    idx = str(tmp_path / "annidx_m")
    ann_index_build(
        emb, idx, "vec_id", "embedding", m=8, ksub=16, ncells=8,
        residual=True, kmeans_iters=0,
    )
    meta = read_ann_meta(idx)
    assert ann_meta_matches(meta, 8, 16, 8, True)
    assert not ann_meta_matches(meta, 8, 16, 32, True)
    assert not ann_meta_matches(meta, 8, 16, 8, False)
    assert not ann_meta_matches(None, 8, 16, 8, True)
    # ADVICE r11: differently-TRAINED centroids/codebooks are a
    # different index even at identical geometry
    assert not ann_meta_matches(meta, 8, 16, 8, True, kmeans_iters=2)
    assert not ann_meta_matches(meta, 8, 16, 8, True, train_iters=1)
    assert ann_meta_matches(meta, 8, 16, 8, True, kmeans_iters=0,
                            train_iters=0)


def test_adaptive_nprobe(tmp_path, emb, planner):
    """r12: pq_nprobe=0 resolves from the index's cell-occupancy stats
    (ascending cumulative coverage, conservative under skew) and the
    probe is bit-equal to an explicit probe at the resolved value."""
    from datafusion_dolomite_spark.functions.ann_index import (
        ann_adaptive_nprobe,
        ann_index_build,
        read_ann_meta,
    )

    # pure resolution rule: balanced → ceil(c·ncells); skew pushes UP
    assert ann_adaptive_nprobe(
        {"ncells": 32, "cell_counts": [10] * 32}
    ) == 8
    assert ann_adaptive_nprobe(
        {"ncells": 4, "cell_counts": [97, 1, 1, 1]}, coverage=0.5
    ) == 4  # three tiny cells + part of the big one
    assert ann_adaptive_nprobe({"ncells": 32}) == 8  # no stats fallback
    idx = str(tmp_path / "adidx")
    meta = ann_index_build(
        emb, idx, "vec_id", "embedding", m=8, ksub=16, ncells=16,
        residual=True, kmeans_iters=1,
    )
    assert len(meta["cell_counts"]) == 16
    assert sum(meta["cell_counts"]) == emb.count()
    auto_p = ann_adaptive_nprobe(read_ann_meta(idx))
    common = dict(
        n_queries=4, k=5, method="pq", pq_m=8, pq_ksub=16,
        pq_refine=30, pq_ncells=16, pq_residual=True, kmeans_iters=1,
    )
    auto_plan = (
        LogicalPlanBuilder()
        .scan("embeddings")
        .knn("vec_id", "embedding", index_dir=idx, pq_nprobe=0, **common)
        .build()
    )
    spine = planner.explain(auto_plan)
    assert f"probe: {auto_p}" in spine and "PhysicalKnnIndexProbe" in spine
    explicit = (
        LogicalPlanBuilder()
        .scan("embeddings")
        .knn("vec_id", "embedding", index_dir=idx, pq_nprobe=auto_p,
             **common)
        .build()
    )
    assert _rows(planner.dataframe(auto_plan)) == _rows(
        planner.dataframe(explicit)
    )


def test_auto_attach_requires_bare_scan(tmp_path, planner):
    """ADVICE r11: the persisted codes cover the FULL table — a knn
    over a filtered corpus must NOT probe them (it would return
    neighbors the inline chain excludes)."""
    from datafusion_dolomite_spark.expr import BinOp, Col, Lit

    idx = str(tmp_path / "bare_idx")
    planner.sql(
        "create vector index on embeddings (embedding) with "
        f"(m=8, ksub=16, ncells=16, residual=true, kmeans_iters=1, "
        f"location='{idx}')"
    ).collect()
    common = dict(
        n_queries=4, k=5, method="pq", pq_m=8, pq_ksub=16,
        pq_refine=30, pq_ncells=16, pq_nprobe=3, pq_residual=True,
        kmeans_iters=1,
    )
    try:
        bare = (
            LogicalPlanBuilder()
            .scan("embeddings")
            .knn("vec_id", "embedding", **common)
            .build()
        )
        assert "PhysicalKnnIndexProbe" in planner.explain(bare)
        # filtered corpus → inline chain over the narrowed rows
        filt = (
            LogicalPlanBuilder()
            .scan("embeddings")
            .filter(BinOp("<", Col("vec_id"), Lit(400)))
            .knn("vec_id", "embedding", **common)
            .build()
        )
        spine = planner.explain(filt)
        assert "PhysicalKnnIndexProbe" not in spine
        assert "PhysicalKnnPq" in spine
    finally:
        planner.sql("drop vector index on embeddings (embedding)")


def test_cost_race_prefers_matching_index(tmp_path, emb, planner):
    from datafusion_dolomite_spark.functions.ann_index import ann_index_build

    idx = str(tmp_path / "raceidx")
    ann_index_build(
        emb, idx, "vec_id", "embedding", m=8, ksub=16, ncells=16,
        residual=True, kmeans_iters=1,
    )
    common = dict(
        n_queries=4, k=5, method="pq", pq_m=8, pq_ksub=16,
        pq_refine=30, pq_ncells=16, pq_nprobe=3, pq_residual=True,
        kmeans_iters=1,
    )
    with_idx = (
        LogicalPlanBuilder()
        .scan("embeddings")
        .knn("vec_id", "embedding", index_dir=idx, **common)
        .build()
    )
    spine = planner.explain(with_idx)
    assert "PhysicalKnnIndexProbe" in spine
    # no index named → inline chain
    without = (
        LogicalPlanBuilder()
        .scan("embeddings")
        .knn("vec_id", "embedding", **common)
        .build()
    )
    assert "PhysicalKnnPq" in planner.explain(without)
    # parameter mismatch (different ncells) → guard refuses the index
    mism = dict(common, pq_ncells=8)
    plan = (
        LogicalPlanBuilder()
        .scan("embeddings")
        .knn("vec_id", "embedding", index_dir=idx, **mism)
        .build()
    )
    assert "PhysicalKnnPq" in planner.explain(plan)
    # and the chosen probe path returns the same rows as the inline one
    got = _rows(planner.dataframe(with_idx))
    want = _rows(planner.dataframe(without))
    assert got == want


def test_compact_retention(tmp_path, emb, spark):
    from datafusion_dolomite_spark.functions.ann_index import (
        ann_index_add,
        ann_index_build,
        ann_index_compact,
        ann_index_probe,
        read_ann_meta,
    )

    idx = str(tmp_path / "annidx_gc")
    b0 = emb.filter("vec_id % 3 = 0")
    b1 = emb.filter("vec_id % 3 = 1")
    b2 = emb.filter("vec_id % 3 = 2")
    ann_index_build(
        b0, idx, "vec_id", "embedding", m=8, ksub=16, ncells=8,
        residual=True, kmeans_iters=1, batch_label="b0",
    )
    ann_index_add(b1, idx, "vec_id", "embedding", "b1")
    ann_index_add(b2, idx, "vec_id", "embedding", "b2")
    n0, n1, n2 = b0.count(), b1.count(), b2.count()
    dropped = ann_index_compact(spark, idx, retain_batches=2)
    assert dropped == n0
    assert read_ann_meta(idx)["batches"] == ["b1", "b2"]
    assert spark.read.parquet(idx).count() == n1 + n2
    # retained batches still probe; the model is untouched
    res = ann_index_probe(
        emb.filter("vec_id < 3"), idx, "vec_id", "embedding", k=5,
        nprobe=4,
    )
    ids = {r["neighbor_id"] for r in res.collect()}
    assert ids and all(i % 3 in (1, 2) for i in ids)
    # already-within-retention is a no-op
    assert ann_index_compact(spark, idx, retain_batches=5) == 0


def test_sql_ddl_and_auto_attach(tmp_path, planner, spark):
    idx = str(tmp_path / "ddl_idx")
    st = planner.sql(
        "create vector index on embeddings (embedding) with "
        f"(m=8, ksub=16, ncells=16, residual=true, kmeans_iters=1, "
        f"location='{idx}')"
    ).collect()[0]
    assert st["action"] == "built" and st["index_dir"] == idx
    # idempotent re-create registers without rebuilding
    st2 = planner.sql(
        "create vector index on embeddings (embedding) with "
        f"(m=8, ksub=16, ncells=16, residual=true, kmeans_iters=1, "
        f"location='{idx}')"
    ).collect()[0]
    assert st2["action"] == "exists"
    # a kNN plan WITHOUT index_dir now auto-attaches and probes
    plan = (
        LogicalPlanBuilder()
        .scan("embeddings")
        .knn(
            "vec_id", "embedding", n_queries=4, k=5, method="pq",
            pq_m=8, pq_ksub=16, pq_refine=30, pq_ncells=16,
            pq_nprobe=3, pq_residual=True, kmeans_iters=1,
        )
        .build()
    )
    spine = planner.explain(plan)
    assert "PhysicalKnnIndexProbe" in spine
    # mismatched query params -> no attach, inline chain
    plan2 = (
        LogicalPlanBuilder()
        .scan("embeddings")
        .knn(
            "vec_id", "embedding", n_queries=4, k=5, method="pq",
            pq_m=8, pq_ksub=16, pq_refine=30, pq_ncells=8,
            pq_nprobe=3, pq_residual=True,
        )
        .build()
    )
    assert "PhysicalKnnPq" in planner.explain(plan2)
    # results equal inline chain
    got = _rows(planner.dataframe(plan))
    from datafusion_dolomite_spark.functions.similarity import knn_pq

    emb2 = planner.dataframe(
        LogicalPlanBuilder().scan("embeddings").build()
    )
    want = _rows(
        knn_pq(
            emb2, "vec_id", "embedding", n_queries=4, k=5, refine=30,
            nprobe=3, m=8, ksub=16, ncells=16, residual=True,
            kmeans_iters=1,
        )
    )
    assert got == want
    # DROP deregisters: a FRESH plan (hep rewrites mutate in place, so
    # the attached one keeps its filled index_dir) goes back inline
    planner.sql("drop vector index on embeddings (embedding)")
    plan3 = (
        LogicalPlanBuilder()
        .scan("embeddings")
        .knn(
            "vec_id", "embedding", n_queries=4, k=5, method="pq",
            pq_m=8, pq_ksub=16, pq_refine=30, pq_ncells=16,
            pq_nprobe=3, pq_residual=True, kmeans_iters=1,
        )
        .build()
    )
    assert "PhysicalKnnPq" in planner.explain(plan3)


def test_cell2_runner_up_and_multiprobe(tmp_path, emb, planner):
    """r13 (VERDICT r12 item 4): the v2 index persists ``cell2`` — the
    RUNNER-UP coarse cell under the same (sim DESC, cell ASC) ranking —
    and ``semantic_dedup_cc(multiprobe=2)`` recovers boundary pairs
    single-cell confinement misses while staying cell-bucketed."""
    from pyspark.sql import functions as F

    from datafusion_dolomite_spark.functions.ann_index import (
        ann_index_build,
        read_ann_meta,
    )
    from datafusion_dolomite_spark.functions.similarity import (
        _assign_cells_pandas,
        semantic_dedup_cc,
    )

    idx = str(tmp_path / "annidx_mp")
    meta = ann_index_build(
        emb, idx, "vec_id", "embedding",
        m=8, ksub=16, ncells=16, residual=True, kmeans_iters=1,
    )
    codes = emb.sparkSession.read.parquet(idx)
    assert "cell2" in codes.columns
    rows = codes.select("neighbor_id", "cell", "cell2").collect()
    # runner-up is always a DIFFERENT cell (ncells >= 2)
    assert all(r.cell != r.cell2 for r in rows)
    # cell2 == rank 2 of the full ranked assignment (reference replay
    # via the shared Arrow core on the persisted centroids)
    cents = [(int(c), list(map(float, v))) for c, v in meta["cents"]]
    want2 = {
        r.neighbor_id: (r._cell, r._cell2)
        for r in _assign_cells_pandas(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("_cv"),
            ),
            "_cv", cents, top2=True,
        ).collect()
    }
    assert {r.neighbor_id: (r.cell, r.cell2) for r in rows} == want2

    cells = codes.select(
        F.col("neighbor_id").alias("vec_id"), "cell", "cell2"
    )
    d1 = semantic_dedup_cc(
        emb, cells.select("vec_id", "cell"), "vec_id", "embedding",
        threshold_1000=300,
    )
    d2 = semantic_dedup_cc(
        emb, cells, "vec_id", "embedding", threshold_1000=300,
        multiprobe=2,
    )
    n1 = d1.filter("NOT kept").count()
    n2 = d2.filter("NOT kept").count()
    # multiprobe is a candidate SUPERSET: it can only drop more
    assert n2 >= n1
    # every mp1 drop stays dropped under mp2 (same threshold, more
    # candidates -> components can only merge/grow)
    dropped1 = {r.vec_id for r in d1.filter("NOT kept").collect()}
    dropped2 = {r.vec_id for r in d2.filter("NOT kept").collect()}
    assert dropped1 <= dropped2
    # output stays one row per id
    assert d2.count() == emb.count()
    # multiprobe=2 against a 2-column cells_df is a clean error
    with pytest.raises(ValueError, match="cell2"):
        semantic_dedup_cc(
            emb, cells.select("vec_id", "cell"), "vec_id", "embedding",
            multiprobe=2,
        )


def test_build_rows_hint_identical(tmp_path, emb):
    """r13 optimization (guide §2, batch-9 discipline): the size-derived
    parallelism hint (``corpus_rows``) changes only the partition count of
    the build — the persisted codes AND the persisted model must be
    bit-identical with and without it."""
    from datafusion_dolomite_spark.functions.ann_index import ann_index_build

    spark = emb.sparkSession
    params = dict(m=8, ksub=16, ncells=16, residual=True, kmeans_iters=2)
    a = str(tmp_path / "no_hint")
    b = str(tmp_path / "hinted")
    meta_a = ann_index_build(emb, a, "vec_id", "embedding", **params)
    meta_b = ann_index_build(
        emb, b, "vec_id", "embedding", corpus_rows=emb.count(), **params
    )
    for key in ("cents", "books", "scales", "cell_counts"):
        assert meta_a[key] == meta_b[key], key
    ra = sorted(tuple(r) for r in spark.read.parquet(a).collect())
    rb = sorted(tuple(r) for r in spark.read.parquet(b).collect())
    assert ra == rb
