"""Physical plan → ``pyspark.sql.DataFrame``.

Plays the role of ``to_df_physical`` in the reference
(``datafusion-dolomite-integration/src/conversion/physical.rs:48-113``):
walk the optimized plan bottom-up and build the executor's native plan.
Our executor is Spark itself — we compose declarative DataFrame lineage
(``spark.read.parquet → .filter → .select → .join → ...``) and let
Catalyst/Tungsten do physical planning, codegen and AQE on top.  Golden
tests assert OUR plan; oracle tests assert the DATA (SURVEY §7 risk
register: Spark re-optimizes our emitted plan, and that is by design).

Scale notes, per operator:
* Scan: pruned columns + pushed filters are applied adjacent to the read
  so Catalyst turns them into parquet ``PushedFilters``/``ReadSchema`` —
  verified by ``tests/test_execute.py::test_scan_pushdown_reaches_parquet``.
  Every parquet read passes an explicit schema (``sources.parquet_read``:
  the one Spark would infer, read from the footer in this process), so
  building a scan starts no schema-inference job; the unpruned scan is
  kept per session and table stamp, which saves the file-index listing.
* BroadcastHashJoin → ``F.broadcast`` (no shuffle of the probe side).
* HashJoin → ``shuffle_hash`` hint; SortMergeJoin → ``merge`` hint.
* TopK → ``.orderBy().limit()`` which Spark executes as
  ``TakeOrderedAndProject`` (per-partition top-k + driver merge, no global
  sort shuffle).
* Exchange → ``.repartition(cols)`` (Spark elides redundant exchanges).
"""

from __future__ import annotations

from typing import Optional

from .expr import cached_column
from .operators import logical as L
from .operators import physical as P
from .operators.logical import JoinType
from .plans.plan import Plan, PlanNode
from .sources.catalog import Catalog
from .sources.parquet_read import read_parquet, table_stamp

#: (session id, fmt, table stamp, schema override) → (session, base
#: DataFrame); see Executor._base_scan.  Bounded; cleared wholesale when
#: it outgrows any realistic catalog (the entries are tiny plan handles,
#: the bound exists only to keep dead sessions from pinning the gateway).
_SCAN_CACHE: dict = {}


def dv_row_key():
    """(file_name, row_index) key expressions identifying a physical row
    for deletion vectors — the merge-on-read identity.  ``file_name``
    is the BASENAME of ``_metadata.file_path``, verbatim: part files
    carry globally-unique UUID names, hardlink carries preserve them,
    and ``link_files`` resolves the rare basename collision with a
    ``-linked{i}`` suffix BEFORE the extension, so the basename is
    stable across every version dir a file is carried into (the full
    path is NOT — each version links the file under a new dir) and two
    distinct files never share a key (r9 ADVICE fix: the old strippable
    ``linked-{i}-`` prefix made a collision pair indistinguishable and
    mis-keyed legitimately-named ``linked-*`` files).
    ``row_index`` is parquet's in-file ordinal (``_metadata.row_index``)
    — immutable because data files are immutable by the copy-on-write
    contract."""
    from pyspark.sql import functions as F

    fn = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    return fn, F.col("_metadata.row_index")


def apply_dv(spark, df, path):
    """Filter out deletion-vector-marked rows from a parquet scan —
    merge-on-read (Delta's deletion vectors, stored as a parquet
    sidecar of (file_name, row_index) under ``<version>/_dv``).  The DV
    is broadcast: its size is bounded by the merge-on-read contract (a
    DV-mode DELETE marks few rows per statement and OPTIMIZE compacts
    DVs away); the LEFT side stays the streaming side, so filters and
    column pruning still push into the parquet scan below the
    anti-join.  ``df`` must carry ``__dv_file``/``__dv_row`` columns
    (scan_with_rowid); they are consumed and dropped here.  ``path`` is
    the version dir whose ``_dv`` sidecar applies."""
    from pyspark.sql import functions as F

    from .sources.dml import dv_path, has_dv

    if not has_dv(path):
        return df.drop("__dv_file", "__dv_row")
    dv = read_parquet(spark, dv_path(path)).select(
        F.col("file_name").alias("__dv_file"),
        F.col("row_index").alias("__dv_row"),
    )
    return (
        df.join(F.broadcast(dv), ["__dv_file", "__dv_row"], "left_anti")
        .drop("__dv_file", "__dv_row")
    )


def _dv_file_names(dvp):
    """Distinct ``file_name`` values of a DV sidecar.  Preferred source
    is the ``_files.json`` manifest the DV writer records (O(file
    count), no sidecar read — the shape that holds when the DV itself
    is big); sidecars without one (older versions, external copies)
    fall back to a driver-side pyarrow column read.  None = unreadable,
    caller must treat every file as dirty."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    from .sources.dml import read_dv_file_manifest

    names = read_dv_file_manifest(dvp)
    if names is not None:
        return names
    names = set()
    try:
        for f in sorted(
            _glob.glob(_os.path.join(dvp, "*.parquet"))
        ):
            col = pq.read_table(f, columns=["file_name"]).column(0)
            names.update(col.unique().to_pylist())
    except Exception:
        return None
    return names


def dv_scan(spark, path, schema=None):
    """Merge-on-read scan of a version dir with the anti-join CONFINED
    to dirty files: files not named in the DV sidecar scan plainly — no
    metadata columns, no per-row key computation, no join probe (the
    probe costs ~0.15 µs/row, the whole per-scan read tax; a clustered
    DELETE marks a few files, so most of a big table reads tax-free).
    Dirty files go through scan_with_rowid + apply_dv as before; the
    two branches union by name.  Falls back to the all-dirty shape when
    the sidecar's file list is unreadable."""
    import os as _os

    from .sources.dml import data_files, dv_path, has_dv

    def _plain(rd_files=None):
        if rd_files is None:
            return read_parquet(spark, path, schema=schema)
        return read_parquet(spark, *rd_files, base=path, schema=schema)

    if not has_dv(path):
        return _plain()
    names = _dv_file_names(dv_path(path))
    files = data_files(path)
    if names is None:
        clean, dirty = [], files
    else:
        clean = [f for f in files if _os.path.basename(f) not in names]
        dirty = [f for f in files if _os.path.basename(f) in names]
    tagged = (
        apply_dv(
            spark,
            scan_with_rowid(
                spark, path, schema=schema, files=dirty, base=path
            ),
            path,
        )
        if dirty
        else None
    )
    if not clean:
        return tagged if tagged is not None else _plain()
    clean_df = _plain(clean)
    return clean_df if tagged is None else clean_df.unionByName(tagged)


def scan_with_rowid(spark, path, schema=None, files=None, base=None):
    """Parquet scan carrying the DV row identity as ``__dv_file`` /
    ``__dv_row`` columns (dv_row_key).  With ``files``, scans that
    explicit list (basePath = ``base`` keeps hive partition-column
    derivation).  The caller either applies the DV (apply_dv) or uses
    the key columns to WRITE a DV (the merge-on-read DELETE)."""
    if files is not None:
        df = read_parquet(spark, *files, base=base, schema=schema)
    else:
        df = read_parquet(spark, path, schema=schema)
    fn, ri = dv_row_key()
    return df.select(
        "*", fn.alias("__dv_file"), ri.alias("__dv_row")
    )

__all__ = ["to_spark", "SparkExecutor"]


_JOIN_HOW = {
    JoinType.INNER: "inner",
    JoinType.LEFT: "left",
    JoinType.RIGHT: "right",
    JoinType.FULL: "full",
    JoinType.LEFT_SEMI: "left_semi",
    JoinType.LEFT_ANTI: "left_anti",
}


class SparkExecutor:
    def __init__(self, spark, catalog: Catalog):
        from .session import configure_session

        configure_session(spark)
        self.spark = spark
        self.catalog = catalog
        #: name → current-iteration frontier DataFrame for recursive
        #: CTEs (set by _recursive_cte while lowering its step subtree)
        self._cte_frames: dict = {}

    def execute(self, plan: Plan):
        return self._node(plan.root)

    # ------------------------------------------------------------------
    def _node(self, node: PlanNode):
        op = node.operator
        handler = _HANDLERS.get(type(op))
        if handler is None:
            raise NotImplementedError(f"no Spark execution for {op.pretty()}")
        return handler(self, node)

    # -- leaves ---------------------------------------------------------
    def _scan(self, node: PlanNode):
        op = node.operator
        fmt = self.catalog.format(op.table_name)
        df = self._base_scan(op.table_name, fmt)
        # Filter/prune adjacent to the read → Catalyst pushes them into the
        # parquet scan (PushedFilters / ReadSchema).
        for f in op.filters:
            df = df.filter(cached_column(f))
        if op.columns is not None:
            df = df.select(*op.columns)
        if op.limit is not None:
            df = df.limit(op.limit)
        return df

    def _values(self, node: PlanNode):
        """Inline relation → Spark LocalRelation (createDataFrame with an
        explicit schema — no inference pass, no type drift)."""
        from pyspark.sql.types import StructType

        op = node.operator
        ddl = ", ".join(f"{n} {t}" for n, t in zip(op.names, op.dtypes))
        return self.spark.createDataFrame(
            [tuple(r) for r in op.rows], StructType.fromDDL(ddl)
        )

    def _base_scan(self, table_name: str, fmt: str):
        """The unpruned source DataFrame, cached per (session, table
        stamp, schema override): ``spark.read`` still builds a JVM file
        index per call (~50 ms locally), pure constant overhead when the
        same tables are scanned by every query in a run.  DataFrames are
        immutable so reuse is safe; the stamp (``table_stamp``: root and
        data files' ns-mtime and size) invalidates the entry when any
        backing file is rewritten.  Parquet reads carry the schema Spark
        would infer, derived from the footer in this process
        (``sources.parquet_read``), so building a scan starts no Spark
        job."""
        path = self.catalog.path(table_name)
        override = (
            self.catalog.schema_override(table_name)
            if hasattr(self.catalog, "schema_override")
            else None
        )
        key = (id(self.spark), fmt, table_stamp(path), override)
        hit = _SCAN_CACHE.get(key)
        if hit is not None and hit[0] is self.spark:
            return hit[1]
        if fmt == "parquet":
            from .sources.dml import has_dv

            # schema evolution (ALTER TABLE): an override wins — files
            # written before an ADD COLUMN null-fill the new column,
            # dropped columns are ignored
            schema = override.to_struct_type() if override else None
            if has_dv(path):
                # merge-on-read: the version carries a deletion vector —
                # marked rows filter out via a broadcast anti-join on
                # the physical row identity, CONFINED to the files the
                # sidecar names; clean files scan plainly (dv_scan)
                df = dv_scan(self.spark, path, schema=schema)
            else:
                df = read_parquet(self.spark, path, schema=schema)
        else:
            # explicit schema (sniffed at registration) — no Spark
            # inference pass, no type drift vs the oracle engine
            df = (
                self.spark.read.format(fmt)
                .schema(self.catalog.schema(table_name).to_struct_type())
                .options(**self.catalog.read_options(table_name))
                .load(path)
            )
        if len(_SCAN_CACHE) > 256:
            _SCAN_CACHE.clear()
        _SCAN_CACHE[key] = (self.spark, df)
        return df

    def _side_df_skipping_redundant_exchange(self, node: PlanNode, keys):
        """Build one join side's DataFrame, unwrapping a child Exchange
        hashed on a subset of THIS side's join keys (the keyed shuffle
        join's own exchange supersedes it, and the explicit
        RepartitionByExpression would block Spark's runtime Bloom-filter
        injection).  Tightened (VERDICT r7 item 8): the side's key names
        resolve against the child's ACTUAL columns — an Exchange hashed
        on the OTHER side's key name is NOT unwrapped (pinned in
        tests/test_aqe_interplay.py).  The child DataFrame is built once
        and reused either way (plans below a join may carry bounded
        driver work, e.g. the DPP skipping scan — never run it twice)."""
        from .operators.physical import Exchange
        from .operators.properties import DistributionKind

        op = node.operator
        if not (
            isinstance(op, Exchange)
            and op.dist is not None
            and op.dist.kind is DistributionKind.HASHED
        ):
            return self._node(node)
        child = self._node(node.inputs[0])
        if set(op.dist.columns) <= _join_side_key_names(
            keys, set(child.columns)
        ):
            return child
        return child.repartition(*op.dist.columns)

    # -- unary ----------------------------------------------------------
    def _filter(self, node: PlanNode):
        op = node.operator
        df = self._node(node.inputs[0]).filter(cached_column(op.predicate))
        if op.projected_columns:
            df = df.select(*op.projected_columns)
        return df

    def _projection(self, node: PlanNode):
        op = node.operator
        return self._node(node.inputs[0]).select(*[cached_column(e) for e in op.exprs])

    def _limit(self, node: PlanNode):
        df = self._node(node.inputs[0])
        offset = getattr(node.operator, "offset", 0)
        if offset:
            df = df.offset(offset)
        return df.limit(node.operator.limit)

    def _aggregate(self, node: PlanNode):
        op = node.operator
        df = self._node(node.inputs[0])
        aggs = [cached_column(a) for a in op.agg_exprs]
        mode = getattr(op, "mode", "groupby")
        if op.group_exprs:
            # plain GROUP BY: alias every group key to ITS IR output
            # name — Spark's own generated names for expression keys
            # (e.g. it strips quotes from string-literal args) need not
            # match output_name(e), and every downstream reference
            # resolves by that name.  rollup/cube/groupingSets keep the
            # raw columns: Spark matches the per-set column lists to
            # the grouping columns BY EXPRESSION, and an alias wrapper
            # breaks that match (every key read as "not in this set").
            from .operators.logical import output_name as _oname

            keys = [
                cached_column(e).alias(_oname(e))
                if mode == "groupby"
                else cached_column(e)
                for e in op.group_exprs
            ]
            if mode == "grouping_sets":
                sets = [
                    [keys[i] for i in idxs]
                    for idxs in op.grouping_sets
                ]
                return df.groupingSets(sets, *keys).agg(*aggs)
            grouped = {
                "groupby": df.groupBy,
                "rollup": df.rollup,
                "cube": df.cube,
            }[mode](*keys)
            return grouped.agg(*aggs)
        return df.agg(*aggs)

    def _cte_ref(self, node: PlanNode):
        op = node.operator
        df = self._cte_frames.get(op.name)
        if df is None:
            raise ValueError(
                f"CTE reference {op.name!r} outside its recursive scope"
            )
        return df

    def _recursive_cte(self, node: PlanNode):
        """WITH RECURSIVE fixpoint loop (semi-naive).

        UNION (distinct): the working table each iteration is the NEW
        distinct rows only (Postgres/DuckDB semantics) — recursion over
        a cyclic graph terminates because revisited rows add nothing.
        UNION ALL: the whole previous iteration feeds forward; the step
        must bottom out on its own (a depth guard caps runaways).

        Driver-side per-iteration emptiness checks are the documented
        bounded-scalar pattern (like PageRank's node count): one small
        action per iteration, ≤ max_iter of them, never data-sized.
        Lineage is truncated with a lazy localCheckpoint every few
        rounds so long recursions don't grow an unbounded DAG."""
        op = node.operator
        base_node, step_node = node.inputs
        cols = list(op.col_names)
        base = self._node(base_node).toDF(*cols)
        if op.distinct:
            base = base.distinct()
        acc, frontier = base, base
        for i in range(op.max_iter):
            self._cte_frames[op.name] = frontier
            try:
                nxt = self._node(step_node).toDF(*cols)
            finally:
                self._cte_frames.pop(op.name, None)
            if op.distinct:
                new = nxt.subtract(acc)  # distinct EXCEPT — fresh rows only
            else:
                new = nxt
            if new.isEmpty():
                break
            acc = acc.unionAll(new)
            frontier = new
            if i % 8 == 7:
                acc = acc.localCheckpoint(eager=False)
                frontier = frontier.localCheckpoint(eager=False)
        else:
            raise RuntimeError(
                f"recursive CTE {op.name!r} exceeded max_iter={op.max_iter}"
            )
        return acc

    def _salted_aggregate(self, node: PlanNode):
        """Two-stage skew-proof aggregate (PhysicalSaltedHashAggregate):
        stage 1 groups by (keys + salt) — the hot key fans out over
        ``n_salts`` reducers — stage 2 merges partials by the true keys.
        Same salt source as ``functions/skew.py::salted_aggregate``; the
        rule guarantees plain-Col keys and salt-mergeable aggregates."""
        from pyspark.sql import functions as F

        from .expr import Alias, Cast, Func
        from .optimizer.rules.agg import _SALT_MERGE

        op = node.operator
        df = self._node(node.inputs[0])
        salted = df.withColumn(
            "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(op.n_salts))
        )
        key_names = [g.name for g in op.group_exprs]
        partials, finals = [], []
        for i, a in enumerate(op.agg_exprs):
            inner = a.expr
            casts = []
            while isinstance(inner, Cast):
                casts.append(inner.to_type)
                inner = inner.expr
            p = f"_p{i}"
            merge = _SALT_MERGE[inner.name]
            if merge == "avg_pair":
                # avg partials are a (sum, count) pair; final Σsum/Σcount —
                # same decomposition EagerAggregationRule uses, and the same
                # NULL semantics: an all-NULL group is sum NULL / count 0,
                # and NULL/0 divides to NULL = avg
                partials.append(cached_column(Alias(Func("sum", inner.args), f"{p}s")))
                partials.append(cached_column(Alias(Func("count", inner.args), f"{p}c")))
                fin = F.sum(F.col(f"{p}s")) / F.sum(F.col(f"{p}c"))
            elif merge == "flatten":
                partials.append(cached_column(Alias(inner, p)))
                fin = F.flatten(F.collect_list(F.col(p)))
            elif merge == "flatten_distinct":
                partials.append(cached_column(Alias(inner, p)))
                fin = F.array_distinct(F.flatten(F.collect_list(F.col(p))))
            else:
                partials.append(cached_column(Alias(inner, p)))
                fin = getattr(F, merge)(F.col(p))
            for t in reversed(casts):
                fin = fin.cast(t)
            finals.append(fin.alias(a.name))
        stage1 = salted.groupBy(
            *[cached_column(g) for g in op.group_exprs], F.col("_salt")
        ).agg(*partials)
        return stage1.groupBy(*[F.col(k) for k in key_names]).agg(*finals)

    def _sort(self, node: PlanNode):
        op = node.operator
        return self._node(node.inputs[0]).orderBy(*[cached_column(k) for k in op.keys])

    def _topk(self, node: PlanNode):
        op = node.operator
        # orderBy().limit() compiles to TakeOrderedAndProject — per
        # partition top-k, merged on the driver; no global sort.
        return (
            self._node(node.inputs[0])
            .orderBy(*[cached_column(k) for k in op.keys])
            .limit(op.limit)
        )

    def _distinct(self, node: PlanNode):
        op = node.operator
        df = self._node(node.inputs[0])
        if op.columns:
            return df.dropDuplicates(list(op.columns))
        return df.distinct()

    def _exchange(self, node: PlanNode):
        from .operators.properties import DistributionKind

        op = node.operator
        df = self._node(node.inputs[0])
        if op.dist.kind is DistributionKind.HASHED:
            return df.repartition(*op.dist.columns)
        if op.dist.kind is DistributionKind.SINGLETON:
            return df.coalesce(1)
        return df

    # -- binary ---------------------------------------------------------
    def _join(self, node: PlanNode, hint: Optional[str] = None, broadcast: bool = False):
        from pyspark.sql import functions as F

        op = node.operator
        lin, rin = node.inputs
        if hint in ("shuffle_hash", "merge"):
            # a child Exchange hashed on this side's join keys is
            # REDUNDANT under a keyed shuffle join (EnsureRequirements
            # inserts the identical exchange) — and worse, the explicit
            # RepartitionByExpression node BLOCKS Spark's
            # InjectRuntimeFilter, so the emitted shuffle joins would
            # never get runtime row-level Bloom filters (pinned in
            # tests/test_aqe_interplay.py).  Skip it at lowering time;
            # the optimizer's plan (and its costing, where the enforcer
            # correctly charges the shuffle the join performs) is
            # unchanged.
            keys = op.equi_keys() if hasattr(op, "equi_keys") else None
            if keys:
                left = self._side_df_skipping_redundant_exchange(lin, keys)
                right = self._side_df_skipping_redundant_exchange(rin, keys)
            else:
                left, right = self._node(lin), self._node(rin)
        else:
            left, right = self._node(lin), self._node(rin)
        srp = getattr(op, "stream_repartition", "")
        if srp and srp in left.columns:
            # non-equi correlation join (rowid-agg lowering): Spark
            # sizes the BNLJ stream side by bytes and AQE coalesces a
            # small outer to ONE task while the compute is
            # |outer|×|inner|; hashing on the unique rowid spreads the
            # quadratic work and pre-satisfies the post-join rowid
            # re-aggregation, so no net exchange is added.  The
            # partition count must be EXPLICIT — a column-only
            # repartition is user-unspecified, so AQE coalesces the
            # small-by-bytes exchange right back to one task
            n = int(
                self.spark.conf.get("spark.sql.shuffle.partitions")
            )
            left = left.repartition(n, F.col(srp))
        if broadcast:
            right = F.broadcast(right)
        elif hint:
            right = right.hint(hint)
        cond = _join_condition(op, left, right)
        return left.join(right, on=cond, how=_JOIN_HOW[op.join_type])

    def _hash_join(self, node: PlanNode):
        return self._join(node, hint="shuffle_hash")

    def _broadcast_join(self, node: PlanNode):
        return self._join(node, broadcast=True)

    def _smj(self, node: PlanNode):
        return self._join(node, hint="merge")

    def _salted_replicate_join(self, node: PlanNode):
        """Skew-proof salted/replicated inner equi-join
        (PhysicalSaltedReplicateJoin): the probe side gets a per-row
        salt (same source as the salted aggregate), the build side is
        exploded ``n_salts``×, and the join adds ``salt`` to the equi
        keys — the hot probe key fans out over ``n_salts`` reducers.
        Same shape as ``functions/skew.py::salted_broadcast_replicate_join``
        but with the rule-guaranteed INNER equi contract and a
        row-position salt (independent of any column, so it spreads a
        hot key no matter what the payload looks like)."""
        from pyspark.sql import functions as F

        op = node.operator
        left = self._node(node.inputs[0])
        right = self._node(node.inputs[1])
        n = op.n_salts
        sl = left.withColumn(
            "__srj_salt",
            F.pmod(F.monotonically_increasing_id(), F.lit(n)).cast("int"),
        )
        # shuffle_hash hint: the replicated side must not be broadcast
        # (Spark would happily broadcast n_salts small copies, silently
        # turning this into a worse broadcast join), and at scale the
        # point is a (keys, salt) shuffle with bounded reducers.
        rep = right.withColumn(
            "__srj_salt", F.explode(F.array(*[F.lit(i) for i in range(n)]))
        ).hint("shuffle_hash")
        cond = _join_condition(op, sl, rep) & (
            sl["__srj_salt"] == rep["__srj_salt"]
        )
        return sl.join(rep, on=cond, how="inner").drop("__srj_salt")

    def _logical_join(self, node: PlanNode):
        # Unoptimized logical plan: let Spark's JoinSelection decide.
        return self._join(node)

    def _window(self, node: PlanNode):
        from pyspark.sql import Window as W

        df = self._node(node.inputs[0])
        for wdef in node.operator.window_exprs:
            spec = W.partitionBy(*[cached_column(e) for e in wdef.partition_by])
            if wdef.order_by:
                spec = spec.orderBy(*[cached_column(k) for k in wdef.order_by])
            frame = getattr(wdef, "frame", None)
            if frame is not None:
                kind, start, end = frame
                lo = W.unboundedPreceding if start is None else start
                hi = W.unboundedFollowing if end is None else end
                spec = (
                    spec.rowsBetween(lo, hi)
                    if kind == "rows"
                    else spec.rangeBetween(lo, hi)
                )
            df = df.withColumn(wdef.name, cached_column(wdef.func).over(spec))
        return df

    def _union(self, node: PlanNode):
        dfs = [self._node(c) for c in node.inputs]
        out = dfs[0]
        by_name = getattr(node.operator, "by_name", False)
        for d in dfs[1:]:
            out = (
                out.unionByName(d, allowMissingColumns=True)
                if by_name
                else out.unionAll(d)
            )
        return out

    def _intersect(self, node: PlanNode):
        left, right = (self._node(c) for c in node.inputs)
        if getattr(node.operator, "all", False):
            return left.intersectAll(right)
        return left.intersect(right)

    def _except(self, node: PlanNode):
        left, right = (self._node(c) for c in node.inputs)
        if getattr(node.operator, "all", False):
            return left.exceptAll(right)
        # EXCEPT DISTINCT (SQL set semantics) — Spark's subtract()
        return left.subtract(right)

    # -- LLM-pipeline extension operators -------------------------------
    def _exact_dedup(self, node: PlanNode):
        from .functions.dedup import exact_dedup

        op = node.operator
        return exact_dedup(self._node(node.inputs[0]), list(op.key_cols), op.id_col)

    def _doc_chunk(self, node: PlanNode):
        from .functions.chunking import doc_chunks

        op = node.operator
        return doc_chunks(
            self._node(node.inputs[0]),
            op.id_col,
            op.text_col,
            op.chunk_size,
            op.overlap,
        )

    def _stratified_sample(self, node: PlanNode):
        from .functions.sampling import stratified_sample

        op = node.operator
        return stratified_sample(
            self._node(node.inputs[0]), list(op.stratum_cols), op.id_col, op.k
        )

    def _sink(self, node: PlanNode):
        from .sources.sinks import write_csv, write_json, write_orc, write_parquet

        op = node.operator
        df = self._node(node.inputs[0])
        path = self.catalog.warehouse_path(op.table_name)
        writer = {
            "parquet": write_parquet,
            "orc": write_orc,
            "csv": write_csv,
            "json": write_json,
        }[op.format]
        writer(df, path)
        self.catalog.register(op.table_name, path, format=op.format)
        if getattr(op, "mv", False):
            self._register_mv_metadata(op.table_name, node.inputs[0])
        # downstream reads the PERSISTED bytes, not the live pipeline
        if op.format == "parquet":
            return read_parquet(self.spark, path)
        return (
            self.spark.read.format(op.format)
            .schema(df.schema)
            .options(**self.catalog.read_options(op.table_name))
            .load(path)
        )

    def _register_mv_metadata(self, name: str, child) -> None:
        """CREATE MATERIALIZED VIEW: if the persisted child is a plain
        rollup — Aggregate over an unfiltered, unlimited Scan, all group
        keys plain columns, every aggregate a bare decomposable Func
        (no output casts: a cast partial stores post-cast values, which
        would not recombine exactly) — register MV metadata so
        ``RewriteAggOnMaterializedViewRule`` can answer later queries
        from it.  Anything else persists as a plain table."""
        from .expr import Alias, Col, Func
        from .operators import logical as L
        from .operators import physical as P
        from .optimizer.rules.agg import _DECOMPOSE
        from .optimizer.rules.mv import MaterializedView

        agg = child.operator
        if isinstance(agg, P.PhysicalHashAggregate) or isinstance(
            agg, L.LogicalAggregate
        ):
            if getattr(agg, "mode", "groupby") != "groupby":
                return
        else:
            return
        if not all(isinstance(g, Col) for g in agg.group_exprs):
            return
        defs = []
        for a in agg.agg_exprs:
            if (
                not isinstance(a, Alias)
                or not isinstance(a.expr, Func)
                or a.expr.name not in _DECOMPOSE
            ):
                return
            defs.append((a.name, a.expr))
        # scan-rooted rollup → source_table matching (cascades rule);
        # anything else (a join tree) relies on the stashed normalized
        # definition subtree and the Hep subtree-matching rule
        below = child.inputs[0]
        while isinstance(below.operator, P.Exchange):
            below = below.inputs[0]
        scan = below.operator
        source = ""
        if (
            isinstance(scan, (P.PhysicalTableScan, L.LogicalScan))
            and not scan.filters
            and scan.limit is None
        ):
            source = scan.table_name
        definition = None
        if hasattr(self.catalog, "pop_view_definition"):
            definition = self.catalog.pop_view_definition(name)
        if source:
            # scan-rooted rollups are matched by the CASCADES rule, which
            # races all applicable MVs by cost (smallest applicable wins);
            # stashing the subtree too would let the first-match Hep
            # subtree rule short-circuit that race in registration order.
            # Only join-tree definitions (no single source table) keep
            # the subtree-matching path.
            definition = None
        if not source and definition is None:
            return  # neither matching mechanism can ever fire
        self.catalog.register_materialized_view(
            MaterializedView(
                name=name,
                source_table=source,
                group_cols=tuple(g.name for g in agg.group_exprs),
                agg_defs=tuple(defs),
                definition_root=definition,
            )
        )

    def _sequence_pack(self, node: PlanNode):
        from .functions.packing import sequence_pack

        op = node.operator
        return sequence_pack(
            self._node(node.inputs[0]),
            op.id_col,
            op.tokens_col,
            op.budget,
            op.n_shards,
            list(op.partition_cols),
        )

    def _bpe_tokens(self, node: PlanNode):
        """Inline chain: train on THIS input's word vocab, then count."""
        from .functions.bpe import bpe_token_counts, bpe_train

        op = node.operator
        base = self._node(node.inputs[0])
        merges = bpe_train(
            base, op.text_col, num_merges=op.num_merges,
            max_vocab=op.max_vocab,
        )
        return bpe_token_counts(base, op.id_col, op.text_col, merges)

    def _bpe_model_probe(self, node: PlanNode):
        """Apply the persisted merge table — zero training jobs."""
        from .functions.bpe import bpe_token_counts, bpe_tokenizer_merges

        op = node.operator
        merges = bpe_tokenizer_merges(op.tokenizer_dir)
        return bpe_token_counts(
            self._node(node.inputs[0]), op.id_col, op.text_col, merges
        )

    def _minhash_dedup(self, node: PlanNode):
        from .functions.dedup import minhash_verified_pairs

        op = node.operator
        return minhash_verified_pairs(
            self._node(node.inputs[0]),
            op.id_col,
            op.text_col,
            op.shingle_k,
            op.num_hashes,
            op.bands,
            op.threshold_1000,
        )

    def _ngram_jaccard(self, node: PlanNode):
        from .functions.dedup import ngram_jaccard_pairs

        op = node.operator
        return ngram_jaccard_pairs(
            self._node(node.inputs[0]),
            op.id_col,
            op.text_col,
            op.n,
            op.max_df,
            op.threshold_1000,
        )

    def _unpivot(self, node: PlanNode):
        """Spark-native melt: one Generate, map-only, no shuffle.

        Standard SQL / DuckDB UNPIVOT excludes rows whose value cell is
        NULL; Spark's ``DataFrame.unpivot`` keeps them, so the
        standard-compliant default filters them out (still map-only —
        the filter fuses into the same codegen stage as the Generate).
        ``include_nulls=True`` opts back into the keep-all behavior."""
        from pyspark.sql import functions as F

        op = node.operator
        out = self._node(node.inputs[0]).unpivot(
            list(op.id_cols), list(op.value_cols), op.name_col, op.value_col
        )
        if not op.include_nulls:
            out = out.filter(F.col(op.value_col).isNotNull())
        return out

    def _set_sim_join(self, node: PlanNode):
        from .functions.dedup import set_sim_join_pairs

        op = node.operator
        return set_sim_join_pairs(
            self._node(node.inputs[0]),
            op.id_col,
            op.text_col,
            op.side_col,
            op.gram,
            op.threshold_1000,
        )

    def _simhash(self, node: PlanNode):
        from pyspark.sql import functions as F

        from .functions.dedup import simhash_fingerprint

        op = node.operator
        out = simhash_fingerprint(
            self._node(node.inputs[0]), op.id_col, op.text_col, op.bits
        )
        return out.select(F.col("_id").alias(op.id_col), "simhash")

    @staticmethod
    def _input_rows(node: PlanNode):
        """Optimizer-derived row estimate of the node's input — feeds
        size-derived parallelism in the similarity functions (r13,
        guide §2: partition count from data size, not a constant).
        None when the stats pipeline didn't populate it."""
        try:
            rc = node.inputs[0].stats.row_count
            return int(rc) if rc and rc > 0 else None
        except Exception:
            return None

    def _knn_brute(self, node: PlanNode):
        from .functions.similarity import knn_brute

        op = node.operator
        return knn_brute(
            self._node(node.inputs[0]), op.id_col, op.vec_col, op.n_queries, op.k,
            corpus_rows=self._input_rows(node),
        )

    def _knn_pandas(self, node: PlanNode):
        from .functions.similarity import knn_pandas

        op = node.operator
        return knn_pandas(
            self._node(node.inputs[0]), op.id_col, op.vec_col, op.n_queries, op.k,
            corpus_rows=self._input_rows(node),
        )

    def _knn_ivf(self, node: PlanNode):
        from .functions.similarity import knn_ivf

        op = node.operator
        return knn_ivf(
            self._node(node.inputs[0]),
            op.id_col,
            op.vec_col,
            op.n_queries,
            op.k,
            op.ncells,
            op.nprobe,
            getattr(op, "kmeans_iters", 0),
            corpus_rows=self._input_rows(node),
        )

    def _knn_pq(self, node: PlanNode):
        from .functions.similarity import knn_pq

        op = node.operator
        return knn_pq(
            self._node(node.inputs[0]),
            op.id_col,
            op.vec_col,
            op.n_queries,
            op.k,
            op.pq_m,
            op.pq_ksub,
            op.pq_refine,
            getattr(op, "pq_ncells", 0),
            getattr(op, "pq_nprobe", 3),
            getattr(op, "pq_residual", False),
            kmeans_iters=getattr(op, "kmeans_iters", 0),
            train_iters=getattr(op, "train_iters", 0),
            corpus_rows=self._input_rows(node),
        )

    def _knn_index_probe(self, node: PlanNode):
        from pyspark.sql import functions as F

        from .functions.ann_index import (
            ann_adaptive_nprobe,
            ann_index_probe,
            read_ann_meta,
        )

        op = node.operator
        base = self._node(node.inputs[0])
        q = base.filter(F.col(op.id_col) < op.n_queries)
        nprobe = op.nprobe
        if nprobe == 0:
            # adaptive sentinel survived to execution (direct logical
            # dispatch) — resolve the same way the impl rule does
            nprobe = ann_adaptive_nprobe(read_ann_meta(op.index_dir))
        return ann_index_probe(
            q, op.index_dir, op.id_col, op.vec_col, k=op.k,
            nprobe=nprobe, refine=op.pq_refine, corpus_df=base,
        )

    def _knn_logical(self, node: PlanNode):
        return (
            self._knn_ivf(node) if node.operator.method == "ivf" else self._knn_brute(node)
        )

    def _embed_quantize_sql(self, node: PlanNode):
        from .functions.embedding import embed_quantize_sql

        op = node.operator
        return embed_quantize_sql(
            self._node(node.inputs[0]), op.id_col, op.vec_col, op.prefix_dim
        )

    def _embed_quantize_pandas(self, node: PlanNode):
        from .functions.embedding import embed_quantize_pandas

        op = node.operator
        return embed_quantize_pandas(
            self._node(node.inputs[0]), op.id_col, op.vec_col, op.prefix_dim
        )

    def _cosine_near_dup(self, node: PlanNode):
        from .functions.similarity import cosine_near_dup

        op = node.operator
        return cosine_near_dup(
            self._node(node.inputs[0]),
            op.id_col,
            op.vec_col,
            op.nbits,
            op.threshold_1000,
        )

    # -- time-series joins (operators/extensions.py) --------------------
    def _asof_join(self, node: PlanNode):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        op = node.operator
        direction = getattr(op, "direction", "backward")
        strict = bool(getattr(op, "strict", False))
        left = self._node(node.inputs[0])
        right = self._node(node.inputs[1])
        keys = [f"__k{i}" for i in range(len(op.left_keys))]
        ltypes, rtypes = dict(left.dtypes), dict(right.dtypes)
        left_cols = left.columns
        # tag + align both sides, then window pass(es).  __ord breaks
        # equal-ts ties: inclusive match -> right rows sort before left
        # (visible to last() up to the current row); strict -> after
        # (an equal-ts right row is NOT a match).  The same __ord works
        # for the forward pass because its ordering flips only __ts.
        r_ord, l_ord = (1, 0) if strict else (0, 1)
        l = left.select(
            *left_cols,
            *[F.col(k).alias(a) for k, a in zip(op.left_keys, keys)],
            F.col(op.left_ts).alias("__ts"),
            F.lit(1).alias("__side"),
            F.lit(l_ord).alias("__ord"),
            *[F.lit(None).cast(rtypes[c]).alias(c) for c in op.right_cols],
        )
        r = right.select(
            *[F.lit(None).cast(ltypes[c]).alias(c) for c in left_cols],
            *[F.col(k).alias(a) for k, a in zip(op.right_keys, keys)],
            F.col(op.right_ts).alias("__ts"),
            F.lit(0).alias("__side"),
            F.lit(r_ord).alias("__ord"),
            *[F.col(c) for c in op.right_cols],
        )
        u = l.unionByName(r)
        tol = getattr(op, "tolerance", None)

        def _window(backward: bool):
            ts = F.col("__ts").asc() if backward else F.col("__ts").desc()
            return (
                Window.partitionBy(*keys)
                .orderBy(ts, F.col("__ord").asc())
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )

        def _matched_ts(w):
            # matched right ts rides along for tolerance / nearest math
            return F.last(
                F.when(F.col("__side") == 0, F.col("__ts")),
                ignorenulls=True,
            ).over(w)

        if direction in ("backward", "forward"):
            w = _window(direction == "backward")
            for c in op.right_cols:
                u = u.withColumn(c, F.last(c, ignorenulls=True).over(w))
            if tol is not None:
                u = u.withColumn("__mts", _matched_ts(w))
                diff = (
                    F.col("__ts") - F.col("__mts")
                    if direction == "backward"
                    else F.col("__mts") - F.col("__ts")
                )
                within = diff <= F.lit(tol)
                for c in op.right_cols:
                    u = u.withColumn(c, F.when(within, F.col(c)))
            return u.filter(F.col("__side") == 1).select(
                *left_cols, *op.right_cols
            )
        # NEAREST (r10): backward AND forward passes over the SAME
        # keyed union — both windows share the hash partitioning, so
        # ONE Exchange and two sorts — then per row take the side with
        # the smaller |left_ts - matched_ts|; ties take backward
        # (pandas merge_asof's rule).
        wb, wf = _window(True), _window(False)
        for c in op.right_cols:
            u = u.withColumn(f"__b_{c}", F.last(c, ignorenulls=True).over(wb))
            u = u.withColumn(f"__f_{c}", F.last(c, ignorenulls=True).over(wf))
        u = u.withColumn("__bts", _matched_ts(wb)).withColumn(
            "__fts", _matched_ts(wf)
        )
        bdiff = F.col("__ts") - F.col("__bts")
        fdiff = F.col("__fts") - F.col("__ts")
        take_b = F.col("__bts").isNotNull() & (
            F.col("__fts").isNull() | (bdiff <= fdiff)
        )
        take_f = F.col("__fts").isNotNull()
        if tol is not None:
            take_b = take_b & (bdiff <= F.lit(tol))
            take_f = take_f & (fdiff <= F.lit(tol))
        for c in op.right_cols:
            u = u.withColumn(
                c,
                F.when(take_b, F.col(f"__b_{c}")).when(
                    take_f, F.col(f"__f_{c}")
                ),
            )
        return u.filter(F.col("__side") == 1).select(*left_cols, *op.right_cols)

    def _unnest(self, node: PlanNode):
        from pyspark.sql import functions as F

        op = node.operator
        df = self._node(node.inputs[0])
        keep = [c for c in df.columns if c != op.array_col]
        return df.select(
            *keep, F.posexplode(op.array_col).alias(op.pos_col, op.val_col)
        )

    def _broadcast_range_join(self, node: PlanNode):
        from pyspark.sql import functions as F

        op = node.operator
        left = self._node(node.inputs[0])
        right = F.broadcast(self._node(node.inputs[1]))
        hi_ok = (
            F.col(op.point) <= right[op.hi]
            if getattr(op, "inclusive_hi", False)
            else F.col(op.point) < right[op.hi]
        )
        cond = (F.col(op.point) >= right[op.lo]) & hi_ok
        for lk, rk in zip(op.left_keys, op.right_keys):
            cond = (left[lk] == right[rk]) & cond
        joined = left.join(right, on=cond, how="inner")
        return joined.select(*left.columns, *op.right_cols)

    def _broadcast_overlap_join(self, node: PlanNode):
        """Broadcast overlap strategy: right side broadcast, overlap
        predicate evaluated in place (Spark plans it as a
        broadcast-vs-tiny nested loop) — no explode, no left-side
        shuffle.  The cost model only picks this for small interval
        sides (same race as _broadcast_range_join)."""
        from pyspark.sql import functions as F

        op = node.operator
        left = self._node(node.inputs[0])
        right = F.broadcast(self._node(node.inputs[1]))
        lr_ok = (
            left[op.l_lo] <= right[op.r_hi]
            if op.incl_lr
            else left[op.l_lo] < right[op.r_hi]
        )
        rl_ok = (
            right[op.r_lo] <= left[op.l_hi]
            if op.incl_rl
            else right[op.r_lo] < left[op.l_hi]
        )
        cond = lr_ok & rl_ok
        for lk, rk in zip(op.left_keys, op.right_keys):
            cond = (left[lk] == right[rk]) & cond
        joined = left.join(right, on=cond, how="inner")
        return joined.select(*left.columns, *op.right_cols)

    @staticmethod
    def _bucket(c, width: int):
        """Exact bucket id for non-negative values: floats floor to ints
        first, then decimal integer division (double division is lossy
        above 2^53 — nanosecond timestamps exceed that)."""
        from pyspark.sql import functions as F

        return (
            F.floor(c).cast("decimal(38,0)")
            / F.lit(int(width)).cast("decimal(38,0)")
        ).cast("long")

    #: max buckets one interval may explode into on the fine stride;
    #: longer intervals take the coarse leg (stride × this) instead
    _RANGE_EXPLODE_CAP = 64

    def _range_join(self, node: PlanNode):
        """Bucketed interval join, SKEW-SAFE via two-level bucketing
        (r10, VERDICT item 7): the stats-derived width sizes buckets
        for the TYPICAL interval, so one giant interval (a catch-all
        band, an open-ended validity range) would explode across every
        bucket — span/width rows from a single input row.  Instead,
        intervals wider than ``_RANGE_EXPLODE_CAP`` buckets explode on
        a CAP×-coarser stride and the left side probes BOTH strides —
        two equi-join legs (no nested loop anywhere), each with the
        exact residual filter, unioned.  Per-row explode is ≤ CAP on
        the fine leg and CAP× smaller than the naive count on the
        coarse leg; a handful of giant intervals no longer dominate
        the shuffle.  scripts/range_regime_bench.py measures the
        skewed regime."""
        from pyspark.sql import functions as F

        op = node.operator
        left = self._node(node.inputs[0])
        right = self._node(node.inputs[1])
        width = int(op.bucket_width)
        cap = self._RANGE_EXPLODE_CAP
        coarse = width * cap
        keys = [f"__k{i}" for i in range(len(op.left_keys))]
        left_cols = left.columns
        r0 = right.select(
            *[F.col(k).alias(a) for k, a in zip(op.right_keys, keys)],
            F.col(op.lo).alias("__lo"),
            F.col(op.hi).alias("__hi"),
            *[F.col(c) for c in op.right_cols],
        )
        n_fine = self._bucket(F.col("__hi"), width) - self._bucket(
            F.col("__lo"), width
        )

        def leg(rf, stride):
            r = rf.withColumn(
                "__bucket",
                F.explode(
                    F.sequence(
                        self._bucket(F.col("__lo"), stride),
                        self._bucket(F.col("__hi"), stride),
                    )
                ),
            )
            l = left.select(
                *left_cols,
                *[F.col(k).alias(a) for k, a in zip(op.left_keys, keys)],
            ).withColumn("__bucket", self._bucket(F.col(op.point), stride))
            hi_ok = (
                F.col(op.point) <= F.col("__hi")
                if getattr(op, "inclusive_hi", False)
                else F.col(op.point) < F.col("__hi")
            )
            return (
                l.join(r, on=keys + ["__bucket"], how="inner")
                .filter((F.col(op.point) >= F.col("__lo")) & hi_ok)
                .select(*left_cols, *op.right_cols)
            )

        short = leg(r0.filter(n_fine < F.lit(cap)), width)
        long_ = leg(r0.filter(n_fine >= F.lit(cap)), coarse)
        return short.unionByName(long_)

    def _overlap_join(self, node: PlanNode):
        """Interval OVERLAP join (r10, interval×interval): both sides
        explode into width-``w`` buckets, equi-join on (keys, bucket)
        with the MEET-AT rule — a matching pair is kept only in the
        bucket of ``greatest(l_lo, r_lo)``, a point every overlapping
        pair contains, and contains ONCE — so the join is dedup-free
        without a distinct.  The exact residual filter keeps bucket
        width a pure performance knob.  Skew: intervals wider than
        ``_RANGE_EXPLODE_CAP`` fine buckets ride the coarse stride
        (cap× wider); the four side-classification legs (F×F fine,
        F×L / L×F / L×L coarse) are all equi-joins, unioned — a short
        interval spans at most cap+1 fine or 2 coarse buckets, so
        per-row explode stays bounded on every leg.

        Formulation race (r10, same-session, sf0.1 orders×nation):
        plain fine-only 1.37 s; THIS four-leg scheme 1.77 s (the skew
        insurance costs ~30% when no long intervals exist — the empty
        legs still plan scans/joins AQE collapses to zero rows); a
        level-TAGGED single-scan variant (one explode emitting
        (lvl, bucket) structs, one join — eliminating the re-scan) ran
        6.8 s: the struct-array transform/concat/explode falls out of
        whole-stage codegen and its per-row cost swamps the scan it
        saves.  Both effects scale linearly with rows, so the 4×
        expression tax beats the 2× scan tax at every size; the
        four-leg shape stays — but since r11 the coarse legs are
        STATS-GATED: OverlapJoinFromConditionRule proves a side free of
        cap-exceeding intervals (constant-width affine bounds, or
        footer min/max through affine projections) and the executor
        then plans fine-only for it, reclaiming that ~30%."""
        from pyspark.sql import functions as F

        op = node.operator
        left = self._node(node.inputs[0])
        right = self._node(node.inputs[1])
        width = int(op.bucket_width)
        cap = self._RANGE_EXPLODE_CAP
        coarse = width * cap
        keys = [f"__k{i}" for i in range(len(op.left_keys))]
        left_cols = left.columns
        l0 = left.select(
            *left_cols,
            *[F.col(k).alias(a) for k, a in zip(op.left_keys, keys)],
        )
        r0 = right.select(
            *[F.col(k).alias(a) for k, a in zip(op.right_keys, keys)],
            F.col(op.r_lo).alias("__rlo"),
            F.col(op.r_hi).alias("__rhi"),
            *[F.col(c) for c in op.right_cols],
        )
        l_n = self._bucket(F.col(op.l_hi), width) - self._bucket(
            F.col(op.l_lo), width
        )
        r_n = self._bucket(F.col("__rhi"), width) - self._bucket(
            F.col("__rlo"), width
        )
        lr_ok = (
            F.col(op.l_lo) <= F.col("__rhi")
            if op.incl_lr
            else F.col(op.l_lo) < F.col("__rhi")
        )
        rl_ok = (
            F.col("__rlo") <= F.col(op.l_hi)
            if op.incl_rl
            else F.col("__rlo") < F.col(op.l_hi)
        )

        def leg(lf, rf, stride):
            l = lf.withColumn(
                "__bucket",
                F.explode(
                    F.sequence(
                        self._bucket(F.col(op.l_lo), stride),
                        self._bucket(F.col(op.l_hi), stride),
                    )
                ),
            )
            r = rf.withColumn(
                "__bucket",
                F.explode(
                    F.sequence(
                        self._bucket(F.col("__rlo"), stride),
                        self._bucket(F.col("__rhi"), stride),
                    )
                ),
            )
            meet = self._bucket(
                F.greatest(F.col(op.l_lo), F.col("__rlo")), stride
            )
            return (
                l.join(r, on=keys + ["__bucket"], how="inner")
                .filter(
                    (F.col("__bucket") == meet) & lr_ok & rl_ok
                )
                .select(*left_cols, *op.right_cols)
            )

        # stats-gated skew legs (r11): a side proven free of
        # cap-exceeding intervals skips its classification filter AND
        # its coarse legs entirely — with both sides short the plan is
        # the single fine leg (the four-leg insurance measured ~30%
        # over fine-only on the all-short corpus).  The split is pure
        # performance: a long interval mis-classed fine still joins
        # exactly, just with a larger explode.
        long_l = bool(getattr(op, "long_left", True))
        long_r = bool(getattr(op, "long_right", True))
        lf, ll = (
            (l0.filter(l_n < F.lit(cap)), l0.filter(l_n >= F.lit(cap)))
            if long_l
            else (l0, None)
        )
        rf, rl = (
            (r0.filter(r_n < F.lit(cap)), r0.filter(r_n >= F.lit(cap)))
            if long_r
            else (r0, None)
        )
        out = leg(lf, rf, width)
        for a, b in ((lf, rl), (ll, rf), (ll, rl)):
            if a is not None and b is not None:
                out = out.unionByName(leg(a, b, coarse))
        return out


def _join_side_key_names(keys, side_cols):
    """The key names that belong to THIS side of an equi join: each
    (lk, rk) pair contributes whichever of its names the side's schema
    actually carries (the condition may be written right-side-first, so
    pair position is not trustworthy — column membership is)."""
    return {k for pair in keys for k in pair if k in side_cols}


def _join_condition(op, left_df, right_df):
    """Build the join condition resolving each side's columns against the
    correct DataFrame (needed when both sides share column names)."""
    keys = op.equi_keys() if hasattr(op, "equi_keys") else None
    if keys is None and hasattr(op, "left_keys") and op.left_keys:
        keys = tuple(zip(op.left_keys, op.right_keys))
    if keys is not None and keys:
        lcols, rcols = set(left_df.columns), set(right_df.columns)
        conds = None
        for lk, rk in keys:
            # orient by membership — the condition may be written
            # right-side-first (e.g. a decorrelated EXISTS lifts
            # `o_custkey = c_custkey` with the outer column on the right)
            if lk not in lcols and lk in rcols and rk in lcols:
                lk, rk = rk, lk
            c = left_df[lk] == right_df[rk]
            conds = c if conds is None else (conds & c)
        return conds
    return cached_column(op.condition)


def _extract_equi(op):
    """equi_keys for physical joins (same shape as LogicalJoin's)."""
    return L.LogicalJoin(op.join_type, op.condition).equi_keys()


# Give physical joins an equi_keys() so _join_condition can resolve sides.
for _cls in (P.PhysicalHashJoin, P.PhysicalBroadcastHashJoin,
             P.PhysicalSortMergeJoin, P.PhysicalSaltedReplicateJoin):
    _cls.equi_keys = _extract_equi  # type: ignore[attr-defined]


from .operators import extensions as X  # noqa: E402  (avoids import cycle)

_HANDLERS = {
    # LLM-pipeline extensions (logical fallback executes the same pipeline)
    X.PhysicalExactDedup: SparkExecutor._exact_dedup,
    X.LogicalExactDedup: SparkExecutor._exact_dedup,
    X.PhysicalMinHashDedup: SparkExecutor._minhash_dedup,
    X.LogicalMinHashDedup: SparkExecutor._minhash_dedup,
    X.PhysicalSimHash: SparkExecutor._simhash,
    X.LogicalSimHash: SparkExecutor._simhash,
    X.PhysicalKnnBrute: SparkExecutor._knn_brute,
    X.PhysicalKnnPandas: SparkExecutor._knn_pandas,
    X.PhysicalKnnIvf: SparkExecutor._knn_ivf,
    X.PhysicalKnnPq: SparkExecutor._knn_pq,
    X.PhysicalKnnIndexProbe: SparkExecutor._knn_index_probe,
    X.LogicalKnn: SparkExecutor._knn_logical,
    X.PhysicalEmbedQuantizeSql: SparkExecutor._embed_quantize_sql,
    X.PhysicalEmbedQuantizePandas: SparkExecutor._embed_quantize_pandas,
    X.LogicalEmbedQuantize: SparkExecutor._embed_quantize_sql,
    X.PhysicalCosineNearDup: SparkExecutor._cosine_near_dup,
    X.LogicalCosineNearDup: SparkExecutor._cosine_near_dup,
    X.PhysicalNgramJaccard: SparkExecutor._ngram_jaccard,
    X.LogicalNgramJaccard: SparkExecutor._ngram_jaccard,
    X.PhysicalSetSimJoin: SparkExecutor._set_sim_join,
    X.LogicalSetSimJoin: SparkExecutor._set_sim_join,
    X.PhysicalUnpivot: SparkExecutor._unpivot,
    X.LogicalUnpivot: SparkExecutor._unpivot,
    X.PhysicalAsofJoinUnion: SparkExecutor._asof_join,
    X.LogicalAsofJoin: SparkExecutor._asof_join,
    X.PhysicalBucketedRangeJoin: SparkExecutor._range_join,
    X.PhysicalOverlapJoin: SparkExecutor._overlap_join,
    X.PhysicalBroadcastOverlapJoin: SparkExecutor._broadcast_overlap_join,
    X.LogicalIntervalOverlapJoin: SparkExecutor._overlap_join,
    X.PhysicalBroadcastRangeJoin: SparkExecutor._broadcast_range_join,
    X.LogicalRangeJoin: SparkExecutor._range_join,
    X.PhysicalGenerate: SparkExecutor._unnest,
    X.PhysicalDocChunk: SparkExecutor._doc_chunk,
    X.LogicalDocChunk: SparkExecutor._doc_chunk,
    X.PhysicalStratifiedSample: SparkExecutor._stratified_sample,
    X.LogicalStratifiedSample: SparkExecutor._stratified_sample,
    X.PhysicalSequencePack: SparkExecutor._sequence_pack,
    X.LogicalSequencePack: SparkExecutor._sequence_pack,
    X.PhysicalBpeTokens: SparkExecutor._bpe_tokens,
    X.PhysicalBpeModelProbe: SparkExecutor._bpe_model_probe,
    X.LogicalBpeTokens: SparkExecutor._bpe_tokens,
    X.PhysicalSink: SparkExecutor._sink,
    X.LogicalSink: SparkExecutor._sink,
    X.LogicalUnnest: SparkExecutor._unnest,
    # physical
    P.PhysicalTableScan: SparkExecutor._scan,
    P.PhysicalValues: SparkExecutor._values,
    P.PhysicalFilter: SparkExecutor._filter,
    P.PhysicalProjection: SparkExecutor._projection,
    P.PhysicalLimit: SparkExecutor._limit,
    P.PhysicalHashAggregate: SparkExecutor._aggregate,
    P.PhysicalSaltedHashAggregate: SparkExecutor._salted_aggregate,
    X.PhysicalRecursiveCTE: SparkExecutor._recursive_cte,
    X.LogicalRecursiveCTE: SparkExecutor._recursive_cte,
    X.PhysicalCTERef: SparkExecutor._cte_ref,
    X.LogicalCTERef: SparkExecutor._cte_ref,
    P.PhysicalSort: SparkExecutor._sort,
    P.PhysicalTopK: SparkExecutor._topk,
    P.PhysicalDistinct: SparkExecutor._distinct,
    P.PhysicalHashJoin: SparkExecutor._hash_join,
    P.PhysicalSaltedReplicateJoin: SparkExecutor._salted_replicate_join,
    P.PhysicalBroadcastHashJoin: SparkExecutor._broadcast_join,
    P.PhysicalSortMergeJoin: SparkExecutor._smj,
    P.PhysicalWindow: SparkExecutor._window,
    L.LogicalWindow: SparkExecutor._window,
    P.PhysicalUnion: SparkExecutor._union,
    P.PhysicalIntersect: SparkExecutor._intersect,
    P.PhysicalExcept: SparkExecutor._except,
    P.Exchange: SparkExecutor._exchange,
    # logical fallbacks — lets UNOPTIMIZED plans execute for differential
    # testing (optimized vs unoptimized row sets must match).
    L.LogicalScan: SparkExecutor._scan,
    L.LogicalValues: SparkExecutor._values,
    L.LogicalFilter: SparkExecutor._filter,
    L.LogicalProjection: SparkExecutor._projection,
    L.LogicalLimit: SparkExecutor._limit,
    L.LogicalAggregate: SparkExecutor._aggregate,
    L.LogicalSort: SparkExecutor._sort,
    L.LogicalDistinct: SparkExecutor._distinct,
    L.LogicalJoin: SparkExecutor._logical_join,
    L.LogicalUnion: SparkExecutor._union,
    L.LogicalIntersect: SparkExecutor._intersect,
    L.LogicalExcept: SparkExecutor._except,
}


def to_spark(plan: Plan, spark, catalog: Catalog):
    """Execute a (physical or logical) plan, returning a DataFrame."""
    return SparkExecutor(spark, catalog).execute(plan)
