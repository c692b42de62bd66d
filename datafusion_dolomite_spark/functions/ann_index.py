"""Persisted ANN index: train once, probe many (r11, VERDICT r10
item 1).

Mirrors FAISS's ``train()`` / ``add()`` / ``search()`` lifecycle on
Spark tables, and the repo's signature-index persistence pattern
(``functions/dedup.py``: parquet artifact + ``_meta.json``
parameterization guard + batch-labeled idempotent ingest):

* ``ann_index_build`` runs the IVF-PQ build phase EXACTLY as the
  inline ``knn_pq`` chain does — Lloyd-trained coarse centroids
  (``_train_cents``), residual-RMS scales, optionally Lloyd-trained
  codebooks (``_pq_train_books``), Arrow-vectorized encoding
  (``_pq_encode_pandas``) — then persists the CODES as parquet at
  ``index_dir`` and the MODEL (centroids, codebooks, scales — a few KB
  of floats) in ``_meta.json``.  JSON float round-trips are exact
  (repr-based), so a probe against the persisted model is bit-equal to
  the inline chain.
* ``ann_index_add`` encodes a NEW batch with the persisted model (no
  retrain) and appends batch-labeled code rows — FAISS ``add()``; a
  duplicate batch label is rejected so re-running an ingest is safe.
* ``ann_index_probe`` is the query phase alone: per-query LUTs, the
  Arrow cell probe, the ADC equi-join on the cell over CODES ONLY, and
  the optional exact re-rank fetching just the candidate vectors from
  the corpus table.

100 TB shape: the build is the one pass that touches every vector; the
index stores ``m`` small ints + a cell id per vector (64 doubles →
8 codes here); every probe moves only (queries × nprobe) rows into
cell buckets and scans codes.  The probe path is what
``PhysicalKnnIndexProbe`` lowers to when the cost race finds a
matching index.

Reference: the reference has no similarity surface at all (SURVEY
§2.4); this extends the north-star ANN stack.
"""

from __future__ import annotations

__all__ = [
    "ann_index_build",
    "ann_adaptive_nprobe",
    "ann_index_add",
    "ann_index_probe",
    "ann_index_compact",
    "read_ann_meta",
    "ann_meta_matches",
]

#: v2 (r13): codes carry `cell2` (runner-up coarse cell) for
#: multi-probe candidate generation; a v1 index fails the meta
#: guard and rebuilds idempotently
_META_VERSION = 2


def _meta_path(index_dir: str) -> str:
    import os

    return os.path.join(index_dir, "_meta.json")


def read_ann_meta(index_dir: str):
    """The persisted index model + parameterization, or None when the
    directory holds no (readable) index."""
    import json

    try:
        with open(_meta_path(index_dir)) as f:
            m = json.load(f)
        if int(m.get("version", -1)) != _META_VERSION:
            return None
        return m
    except (OSError, ValueError, TypeError):
        return None


def ann_meta_matches(meta, m: int, ksub: int, ncells: int,
                     residual: bool, kmeans_iters: int = 0,
                     train_iters: int = 0) -> bool:
    """Does a persisted index serve this query parameterization?
    A mismatched probe would score against the wrong codebooks —
    validate loudly, like the signature index's bands/num_hashes
    guard.  ``kmeans_iters``/``train_iters`` are part of the contract
    too (ADVICE r11): the same cell/codebook GEOMETRY trained for a
    different number of iterations yields different centroids, so a
    probe against them would not be bit-equal to the inline chain."""
    return (
        meta is not None
        and int(meta["m"]) == m
        and int(meta["ksub"]) == ksub
        and int(meta["ncells"]) == ncells
        and bool(meta["residual"]) == bool(residual)
        and int(meta.get("kmeans_iters", 0)) == int(kmeans_iters)
        and int(meta.get("train_iters", 0)) == int(train_iters)
    )


def ann_adaptive_nprobe(meta, coverage: float = 0.25) -> int:
    """Pick nprobe from the index's CELL-OCCUPANCY stats (r12, VERDICT
    r11 item 6): the smallest probe count whose WORST-CASE corpus
    coverage — the sum of the ``p`` SMALLEST cell populations — reaches
    ``coverage`` of the indexed rows.  On a balanced index this is
    ⌈coverage·ncells⌉; occupancy skew pushes the answer UP (a query
    landing in small cells must probe more of them to see the same
    fraction of the corpus), never down — the conservative direction
    for a recall target.  Deterministic from ``_meta.json`` alone, so
    an oracle can replay the choice from the same cell assignment."""
    ncells = int(meta["ncells"])
    counts = meta.get("cell_counts")
    if not counts or sum(counts) <= 0:
        import math

        return max(1, min(ncells, math.ceil(coverage * ncells)))
    total = sum(counts)
    acc = 0
    for p, c in enumerate(sorted(counts), start=1):
        acc += c
        if acc >= coverage * total:
            return p
    return ncells


def _cell_counts(codes_df, ncells: int):
    """Occupancy list indexed by cell id (model-scale: ncells ints)."""
    from pyspark.sql import functions as F

    got = {
        int(r["cell"]): int(r["n"])
        for r in codes_df.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return [got.get(i, 0) for i in range(ncells)]


def _model_from_meta(meta):
    """(cents, books, scales) in the list-of-pairs shapes the
    similarity helpers take."""
    cents = [(int(c), list(map(float, v))) for c, v in meta["cents"]]
    books = [
        [(int(c), list(map(float, bv))) for c, bv in bj]
        for bj in meta["books"]
    ]
    scales = (
        [float(s) for s in meta["scales"]]
        if meta.get("scales") is not None
        else None
    )
    return cents, books, scales


def ann_index_build(
    corpus_df,
    index_dir: str,
    id_col: str,
    vec_col: str,
    *,
    m: int = 8,
    ksub: int = 16,
    ncells: int = 32,
    residual: bool = True,
    kmeans_iters: int = 2,
    train_iters: int = 0,
    batch_label: str = "base",
    corpus_rows: float | int | None = None,
):
    """FAISS train()+add() as one job: fit the model on the corpus,
    encode it, persist codes + model.  Overwrites any existing index at
    ``index_dir``.  Returns the meta dict (also written to
    ``_meta.json``).

    Every step is the EXACT code path of the inline ``knn_pq`` build
    phase, so a probe of this index is bit-equal to
    ``knn_pq(..., ncells=ncells, residual=residual,
    kmeans_iters=kmeans_iters, train_iters=train_iters)`` — and the
    existing DuckDB ``_ivfpq_ctes`` oracle machinery replays it.
    """
    import json
    import os

    from pyspark.sql import functions as F

    from ._parallel import ensure_min_parallelism
    from .similarity import (
        DIM,
        _assign_cells_pandas,
        _hash_vec,
        _pq_books,
        _pq_encode_pandas,
        _pq_residual_scales,
        _pq_train_books,
        _train_cents,
    )

    if ncells <= 0:
        raise ValueError("ann_index_build needs ncells > 0 (IVF-PQ)")
    sw = DIM // m
    # corpus_rows (r13, guide §2 — size-derived parallelism, the batch-9
    # discipline): callers that know the corpus row count (catalog
    # parquet-footer statistics) pass it so a small corpus trains/encodes
    # on ceil(rows/512) partitions instead of (session cores) × ~64-row
    # Arrow batches; a billion-row corpus still fans out to every core.
    # Row placement is never semantically visible (all folds keyed or
    # order-independent) — index contents are bit-identical either way
    # (test_build_rows_hint_identical).
    c = ensure_min_parallelism(corpus_df, rows=corpus_rows).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    cents = (
        _train_cents(c, "_cv", ncells, kmeans_iters)
        if kmeans_iters
        else [(i, _hash_vec(f"c{i}")) for i in range(ncells)]
    )
    scales = None
    books = None
    if residual:
        a = _assign_cells_pandas(
            c, "_cv", cents, resid_sq=(m, sw), top2=True
        ).persist()
        scales = _pq_residual_scales(a, m, sw)
        if train_iters:
            init = [
                [(cc, [v * scales[j] for v in bv]) for cc, bv in bj]
                for j, bj in enumerate(_pq_books(m, sw, ksub))
            ]
            books = _pq_train_books(
                a.drop("_sq"), "_cv", "_cell", m, sw, ksub,
                cents, init, train_iters,
            )
            codes = _pq_encode_pandas(
                a.drop("_sq"), "_cv", m, sw, ksub, cents=cents, books=books
            )
        else:
            books = [
                [(cc, [v * scales[j] for v in bv]) for cc, bv in bj]
                for j, bj in enumerate(_pq_books(m, sw, ksub))
            ]
            codes = _pq_encode_pandas(
                a.drop("_sq"), "_cv", m, sw, ksub, cents=cents, scales=scales
            )
    else:
        a = _assign_cells_pandas(c, "_cv", cents, top2=True)
        books = _pq_books(m, sw, ksub)
        codes = _pq_encode_pandas(a, "_cv", m, sw, ksub)
    out = codes.select(
        "neighbor_id",
        F.col("_cell").alias("cell"),
        F.col("_cell2").alias("cell2"),
        F.col("_codes").alias("codes"),
        F.lit(batch_label).alias("_batch"),
    )
    out.write.mode("overwrite").parquet(index_dir)
    if residual:
        a.unpersist()
    cell_counts = _cell_counts(
        corpus_df.sparkSession.read.parquet(index_dir), ncells
    )
    meta = {
        "version": _META_VERSION,
        "dim": DIM,
        "m": m,
        "ksub": ksub,
        "ncells": ncells,
        "residual": bool(residual),
        "kmeans_iters": kmeans_iters,
        "train_iters": train_iters,
        "vec_col": vec_col,
        "cents": cents,
        "books": books,
        "scales": scales,
        "batches": [batch_label],
        #: occupancy per cell (r12) — the adaptive-nprobe input; updated
        #: by add()/compact() so the stats track the live code rows
        "cell_counts": cell_counts,
    }
    path = _meta_path(index_dir)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)
    return meta


def ann_index_add(batch_df, index_dir: str, id_col: str, vec_col: str,
                  batch_label: str, batch_rows: float | int | None = None,
                  corpus_rows: float | int | None = None) -> int:
    """FAISS add(): encode a new batch with the PERSISTED model — no
    retraining, the build-once contract — and append batch-labeled code
    rows.  A batch label already in the ingest history raises (the
    idempotency guard the signature index uses); the history rides the
    meta so retention policies can count batches.  Returns rows
    appended.  ``corpus_rows`` is the deprecated name of ``batch_rows``
    (accepted with a ``DeprecationWarning``)."""
    import json
    import os
    import warnings

    if corpus_rows is not None:
        if batch_rows is not None:
            raise TypeError(
                "ann_index_add: pass batch_rows only (corpus_rows is its "
                "deprecated name)"
            )
        warnings.warn(
            "ann_index_add(corpus_rows=...) is deprecated; use batch_rows=",
            DeprecationWarning,
            stacklevel=2,
        )
        batch_rows = corpus_rows

    from pyspark.sql import functions as F

    from ._parallel import ensure_min_parallelism
    from .similarity import DIM, _assign_cells_pandas, _pq_encode_pandas

    meta = read_ann_meta(index_dir)
    if meta is None:
        raise ValueError(f"no ANN index at {index_dir} — build first")
    if batch_label in meta.get("batches", []):
        raise ValueError(
            f"batch {batch_label!r} is already in the index at "
            f"{index_dir} — appending again would duplicate its rows"
        )
    m, ksub = int(meta["m"]), int(meta["ksub"])
    sw = DIM // m
    cents, books, scales = _model_from_meta(meta)
    # batch_rows (ADVICE r13): the INCREMENTAL batch's own row count —
    # not the indexed table's total — same size-derived parallelism as
    # ann_index_build but sized to what this add() actually encodes
    c = ensure_min_parallelism(batch_df, rows=batch_rows).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    if meta["residual"]:
        a = _assign_cells_pandas(c, "_cv", cents, top2=True)
        codes = _pq_encode_pandas(
            a, "_cv", m, sw, ksub, cents=cents, books=books
        )
    else:
        a = _assign_cells_pandas(c, "_cv", cents, top2=True)
        codes = _pq_encode_pandas(a, "_cv", m, sw, ksub, books=books)
    out = codes.select(
        "neighbor_id",
        F.col("_cell").alias("cell"),
        F.col("_cell2").alias("cell2"),
        F.col("_codes").alias("codes"),
        F.lit(batch_label).alias("_batch"),
    )
    n = out.count()
    out.write.mode("append").parquet(index_dir)
    meta["batches"] = list(meta.get("batches", [])) + [batch_label]
    meta["cell_counts"] = _cell_counts(
        batch_df.sparkSession.read.parquet(index_dir), int(meta["ncells"])
    )
    path = _meta_path(index_dir)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)
    return int(n)


def ann_index_compact(spark, index_dir: str, retain_batches: int) -> int:
    """Retention GC — VACUUM…RETAIN for the ANN index, the same policy
    knob as ``compact_signature_index``: keep only the code rows of the
    ``retain_batches`` most recent ingest batches (the meta's ordered
    history is the clock), rewrite the codes table, trim the history.
    The MODEL (centroids/books/scales) is untouched — it was trained at
    build time and stays valid for every future probe/add.  Bounds
    index growth for rolling-window corpora.  Returns rows dropped."""
    import json
    import os

    from pyspark.sql import functions as F

    meta = read_ann_meta(index_dir)
    if meta is None:
        raise ValueError(f"no ANN index at {index_dir} — build first")
    if retain_batches < 1:
        raise ValueError("retain_batches must be >= 1")
    batches = list(meta.get("batches", []))
    keep = batches[-retain_batches:]
    if keep == batches:
        return 0
    codes = spark.read.parquet(index_dir)
    n_before = codes.count()
    kept = codes.filter(F.col("_batch").isin(keep))
    # rewrite through a temp dir: the source files are being replaced
    tmp_dir = index_dir.rstrip("/") + ".compact.tmp"
    kept.write.mode("overwrite").parquet(tmp_dir)
    n_after = spark.read.parquet(tmp_dir).count()
    import shutil

    for f in os.listdir(index_dir):
        if not f.startswith("_meta"):
            p = os.path.join(index_dir, f)
            (shutil.rmtree if os.path.isdir(p) else os.remove)(p)
    for f in os.listdir(tmp_dir):
        os.replace(os.path.join(tmp_dir, f), os.path.join(index_dir, f))
    shutil.rmtree(tmp_dir, ignore_errors=True)
    meta["batches"] = keep
    meta["cell_counts"] = _cell_counts(
        spark.read.parquet(index_dir), int(meta["ncells"])
    )
    path = _meta_path(index_dir)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)
    return int(n_before - n_after)


def ann_index_probe(
    queries_df,
    index_dir: str,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nprobe: int = 3,
    refine: int = 0,
    corpus_df=None,
):
    """search(): the ``knn_pq`` QUERY phase against the persisted
    index — per-query LUT over the persisted codebooks, Arrow cell
    probe against the persisted centroids, ADC equi-join on the cell
    over the CODES table (the corpus vectors are never read), exact
    re-rank of the ADC top-``refine`` by joining only those candidate
    ids back to ``corpus_df``.  The expressions are copied verbatim
    from ``knn_pq`` so results are bit-equal to the inline chain with
    the same parameters (pinned by tests/test_ann_index.py)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .similarity import DIM, _cos_sql, _dvec, _probe_cells_pandas

    meta = read_ann_meta(index_dir)
    if meta is None:
        raise ValueError(f"no ANN index at {index_dir} — build first")
    m, ksub, ncells = int(meta["m"]), int(meta["ksub"]), int(meta["ncells"])
    use_residual = bool(meta["residual"])
    sw = DIM // m
    cents, books, _scales = _model_from_meta(meta)
    spark = queries_df.sparkSession
    codes = spark.read.parquet(index_dir).select(
        "neighbor_id", F.col("cell").alias("_cell"),
        F.col("codes").alias("_codes"),
    )
    q = queries_df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_dqv", F.expr(_dvec("_qv")))
    lut_terms = []
    for j in range(m):
        qs = f"slice(_dqv, {j * sw + 1}, {sw})"
        for cc, bv in books[j]:
            lit = "array(" + ", ".join(f"{v!r}D" for v in bv) + ")"
            lut_terms.append(
                f"aggregate(zip_with({qs}, {lit}, (x, y) -> x * y), "
                f"cast(0.0 as double), (acc, v) -> acc + v)"
            )
    q = q.withColumn("_lut", F.expr("array(" + ", ".join(lut_terms) + ")"))
    score = " + ".join(
        f"element_at(_lut, {j * ksub} + element_at(_codes, {j + 1}) + 1)"
        for j in range(m)
    )
    if use_residual:
        q = _probe_cells_pandas(
            q, "_qv", ncells, nprobe, with_offsets=True, cents=cents
        )
        q = q.select(
            "query_id", "_lut", "_qv",
            F.explode(F.arrays_zip("_probe", "_poff")).alias("_pz"),
        ).select(
            "query_id", "_lut", "_qv",
            F.col("_pz._probe").alias("_cell"),
            F.col("_pz._poff").alias("_coff"),
        )
        scored = (
            codes.join(F.broadcast(q), ["_cell"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("_score", F.expr(f"_coff + {score}"))
        )
    else:
        q = _probe_cells_pandas(q, "_qv", ncells, nprobe, cents=cents)
        q = q.select(
            "query_id", "_lut", "_qv", F.explode("_probe").alias("_cell")
        )
        scored = (
            codes.join(F.broadcast(q), ["_cell"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("_score", F.expr(score))
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_score").desc(), F.col("neighbor_id").asc()
    )
    if refine and refine > k:
        if corpus_df is None:
            raise ValueError("refine > k needs corpus_df for exact re-rank")
        cand = scored.withColumn("_pr", F.row_number().over(w)).filter(
            F.col("_pr") <= refine
        )
        vecs = corpus_df.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
        )
        cand = cand.join(vecs, "neighbor_id").withColumn(
            "_sim", F.expr(_cos_sql(_dvec("_qv"), _dvec("_cv")))
        )
        w2 = Window.partitionBy("query_id").orderBy(
            F.col("_sim").desc(), F.col("neighbor_id").asc()
        )
        return (
            cand.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank")
        )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
