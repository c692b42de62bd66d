"""End-to-end query planner facade.

Mirrors the reference's two embedding adapters
(``datafusion-dolomite-integration/src/planner.rs:22-56`` — cascades as
the physical planner; ``src/rule.rs:18-56`` — the heuristic embedded as a
rewrite pass): a query goes

    builder/SQL → logical Plan
      → HepOptimizer (rewrite: limit pushdown, filter pushdown, pruning)
      → CascadesOptimizer (implementation + exploration, cost-based)
      → to_spark → DataFrame   (Spark = our DataFusion)

``QueryPlanner.dataframe(plan)`` is what ``__spark_entry__.queries()``
calls for every declared query.
"""

from __future__ import annotations

from typing import Optional, Sequence

from .execute import to_spark
from .lru import LruCache
from .optimizer.cascades.cost import CostModel, SparkCostModel
from .optimizer.cascades.join_order import JoinEnumeration
from .optimizer.cascades.optimizer import CascadesOptimizer
from .optimizer.heuristic import HepOptimizer, MatchOrder
from .optimizer.rule import OptimizerContext, Rule
from .optimizer.rules.impl_rules import IMPLEMENTATION_RULES
from .optimizer.rules.join import (
    CommutateJoinRule,
    Join2BroadcastHashJoinRule,
    Join2HashJoinRule,
    Join2SaltedReplicateJoinRule,
    Join2SortMergeJoinRule,
)
from .optimizer.rules.agg import Agg2SaltedHashAggregateRule, EagerAggregationRule
from .optimizer.rules.mv import (
    RewriteAggOnMaterializedViewRule,
    RewriteAggOnViewSubtreeRule,
)
from .optimizer.rules.limit import (
    PushLimitOverProjectionRule,
    PushLimitThroughUnionRule,
    PushLimitToTableScanRule,
    RemoveLimitRule,
)
from .optimizer.rules.extensions import (
    EXTENSION_RULES,
    AttachAnnIndexRule,
    AttachBpeTokenizerRule,
    PruneScanUnderBpeTokensRule,
    PruneUnnestInputRule,
    PushFilterThroughLeftPreservingJoinRule,
    OverlapJoinFromConditionRule,
    PushFilterThroughUnnestRule,
    RangeJoinFromConditionRule,
)
from .optimizer.rules.pushdown import PUSHDOWN_RULES
from .plans.plan import Plan
from .sources.catalog import Catalog
from .sources.parquet_read import read_parquet, table_stamp

__all__ = ["QueryPlanner", "default_rewrite_rules", "default_cascades_rules"]


def default_rewrite_rules() -> list[Rule]:
    """Heuristic (rewrite) phase rules — the reference's three limit rules
    plus our pushdown/pruning set."""
    return [
        RemoveLimitRule(),
        PushLimitOverProjectionRule(),
        PushLimitToTableScanRule(),
        PushLimitThroughUnionRule(),
        *PUSHDOWN_RULES,
        PushFilterThroughLeftPreservingJoinRule(),
        PushFilterThroughUnnestRule(),
        PruneUnnestInputRule(),
        RangeJoinFromConditionRule(),
        OverlapJoinFromConditionRule(),
        AttachAnnIndexRule(),
        AttachBpeTokenizerRule(),
        PruneScanUnderBpeTokensRule(),
        RewriteAggOnViewSubtreeRule(),
    ]


def default_cascades_rules(enable_join_exploration: bool = True) -> list[Rule]:
    """Cascades phase: implementation rules for every operator + join
    strategy alternatives + (optional) exploration: join order
    enumeration, join commutation, eager aggregation and the
    materialized-view rewrite."""
    rules: list[Rule] = [*IMPLEMENTATION_RULES, *EXTENSION_RULES,
                         Join2HashJoinRule(),
                         Join2BroadcastHashJoinRule(), Join2SortMergeJoinRule(),
                         Join2SaltedReplicateJoinRule(),
                         Agg2SaltedHashAggregateRule()]
    if enable_join_exploration:
        rules.append(JoinEnumeration())
        rules.append(CommutateJoinRule())
        rules.append(EagerAggregationRule())
        rules.append(RewriteAggOnMaterializedViewRule())
    return rules


def _with_options(what: str, given: Optional[dict], defaults: dict) -> dict:
    """``defaults`` overridden by a statement's ``WITH (k = v, ...)``
    options (``given``, values as text): ``location`` stays text,
    ``residual`` is a boolean, every other option an integer."""
    opts = dict(defaults)
    for k, v in (given or {}).items():
        if k not in opts:
            raise ValueError(
                f"unknown {what} option {k!r} (known: {sorted(opts)})"
            )
        if k == "location":
            opts[k] = v
        elif k == "residual":
            opts[k] = v.lower() in ("true", "1")
        else:
            opts[k] = int(v)
    return opts


#: prepared statements one planner keeps
PREPARED_ENTRIES = 512


class QueryPlanner:
    def __init__(
        self,
        spark,
        catalog: Catalog,
        cost_model: Optional[CostModel] = None,
        rewrite_rules: Optional[Sequence[Rule]] = None,
        cascades_rules: Optional[Sequence[Rule]] = None,
    ):
        from .session import configure_session

        configure_session(spark)
        self.spark = spark
        self.catalog = catalog
        self.ctx = OptimizerContext(catalog)
        self.cost_model = cost_model or SparkCostModel()
        self.rewrite_rules = list(rewrite_rules or default_rewrite_rules())
        self.cascades_rules = list(cascades_rules or default_cascades_rules())
        #: CREATE FUNCTION macros: name → (params, body expr)
        self._sql_macros: dict = {}
        #: CREATE VIEW registry: lowercase name → SQL text, expanded
        #: late at each reference (sql.py); persisted as
        #: ``<warehouse>/_views.json`` so views survive sessions
        self._sql_views: dict = {}
        #: copy-on-write DML/MERGE version counters per table
        self._cow_versions: dict = {}
        #: per-table snapshot lineage: version 0 = the path registered
        #: before the first rewrite, then one entry per DML/MERGE —
        #: what SELECT … VERSION AS OF reads (parquet lineage).  Backed
        #: by the persisted version log (sources/dml.py VersionLog) so
        #: the lineage survives sessions (VERDICT r7 item 4).
        self._table_history: dict = {}
        #: parallel per-table operation tags ("base", "delete", ...)
        #: for DESCRIBE HISTORY
        self._table_ops: dict = {}
        #: parallel per-table commit timestamps (epoch seconds) —
        #: what TIMESTAMP AS OF resolves against; persisted in the log
        self._table_commit_ts: dict = {}
        #: per-table lineage token (uuid, persisted in the log):
        #: optimistic concurrency — two planners sharing one lineage
        #: detect each other's commits instead of clobbering them
        self._table_lineage: dict = {}
        #: per-table CHECK constraints: table → {name: expr_text};
        #: enforced on the DELTA each DML writes (O(delta), never a
        #: table re-scan) and persisted in the version log
        self._table_constraints: dict = {}
        #: per-table properties (ALTER TABLE … SET TBLPROPERTIES):
        #: table → {key: value}; ``delete_mode='merge-on-read'`` turns
        #: DELETE/UPDATE into deletion-vector writes
        self._table_props: dict = {}
        #: prepared statements (``optimize``, ``dataframe``)
        self._prepared = LruCache(PREPARED_ENTRIES)
        self._load_version_log()
        self._load_views()

    def _views_path(self):
        """Path of the persisted view registry, or None on a temp
        warehouse (session-only views, mirroring the version log)."""
        import os

        if getattr(self.catalog, "_warehouse", None) is None:
            return None
        return os.path.join(self.catalog.warehouse_root(), "_views.json")

    def _load_views(self) -> None:
        import json

        p = self._views_path()
        if p is None:
            return
        try:
            with open(p) as f:
                doc = json.load(f)
        except (OSError, ValueError):
            return
        if isinstance(doc, dict):
            self._sql_views.update(
                {k: v for k, v in doc.items() if isinstance(v, str)}
            )

    def _save_views(self) -> None:
        import json
        import os

        p = self._views_path()
        if p is None:
            return
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._sql_views, f)
        os.replace(tmp, p)

    def _load_version_log(self) -> None:
        """Reload persisted DML lineage for tables registered at their
        recorded version-0 path: seed the in-session history, continue
        the version counter, and point the registration at the LATEST
        version (the Delta convention — the log IS the table).  A table
        re-registered somewhere else since the log was written has a
        dead lineage and is skipped (the first DML resets it)."""
        import os

        from .sources.dml import VersionLog

        if getattr(self.catalog, "_warehouse", None) is None:
            return  # temp warehouse = fresh per process; nothing persisted
        try:
            vlog = VersionLog(self.catalog.warehouse_root())
            for t in vlog.tables():
                try:
                    base = self.catalog.path(t)
                except KeyError:
                    continue
                hist = vlog.load(t)
                if not hist or hist[0] != base:
                    continue
                if not all(os.path.exists(p) for p in hist):
                    continue
                self._table_history[t] = list(hist)
                ops = vlog.load_ops(t)
                self._table_ops[t] = (
                    list(ops)
                    if ops is not None and len(ops) == len(hist)
                    else ["base"] + ["write"] * (len(hist) - 1)
                )
                self._cow_versions[t] = len(hist) - 1
                cts = vlog.load_commit_ts(t)
                self._table_commit_ts[t] = (
                    list(cts)
                    if cts is not None and len(cts) == len(hist)
                    else [os.path.getmtime(p) for p in hist]
                )
                tok = vlog.load_lineage(t)
                if tok:
                    self._table_lineage[t] = tok
                cons = vlog.load_constraints(t)
                if cons:
                    self._table_constraints[t] = dict(cons)
                props = vlog.load_properties(t)
                if props:
                    self._table_props[t] = dict(props)
                sch = vlog.load_schema(t)
                if sch is not None and hasattr(
                    self.catalog, "set_schema_override"
                ):
                    from .operators.properties import Field, Schema

                    self.catalog.set_schema_override(
                        t,
                        Schema(
                            tuple(
                                Field(n, d, bool(nl), qualifier=t)
                                for n, d, nl in sch
                            )
                        ),
                    )
                self.catalog.register(t, hist[-1], keep_schema_override=True)
        except OSError:
            pass

    def _persist_versions(self, table: str) -> None:
        from .sources.dml import VersionLog

        try:
            override = (
                self.catalog.schema_override(table)
                if hasattr(self.catalog, "schema_override")
                else None
            )
            VersionLog(self.catalog.warehouse_root()).save(
                table,
                self._table_history[table],
                ops=self._table_ops.get(table),
                schema=(
                    [[f.name, f.dtype, f.nullable] for f in override.fields]
                    if override is not None
                    else None
                ),
                lineage=self._table_lineage.get(table),
                constraints=self._table_constraints.get(table),
                properties=self._table_props.get(table),
                commit_ts=self._table_commit_ts.get(table),
            )
        except OSError:
            pass  # read-only warehouse: lineage stays session-scoped

    def _alter_table(self, table: str, add=None, drop=None):
        """``ALTER TABLE t ADD COLUMN c type`` / ``DROP COLUMN c`` —
        METADATA-ONLY schema evolution (Delta's contract): no file is
        touched; the catalog records an explicit schema that parquet
        scans read with, so files written before an ADD null-fill the
        new column and dropped columns are simply not read.  Later DML
        materializes the evolved schema physically in the files it
        writes.  The override rides in the persisted version log, so
        the evolved schema survives sessions; it dies with a fresh
        registration of the table (new lineage).  Note: ``VERSION AS
        OF`` reads old versions as written (pre-evolution schema) —
        schema here is a TABLE property, not a versioned one.  Returns
        DESCRIBE output of the new schema."""
        from .operators.properties import Field, Schema

        cur = self.catalog.schema(table)
        fields = list(cur.fields)
        if add is not None:
            col, dtype = add
            if any(f.name == col for f in fields):
                raise ValueError(
                    f"ALTER TABLE {table}: column {col!r} already exists"
                )
            fields.append(Field(col, dtype, True, qualifier=table))
        if drop is not None:
            if not any(f.name == drop for f in fields):
                raise ValueError(
                    f"ALTER TABLE {table}: no column {drop!r}"
                )
            if len(fields) == 1:
                raise ValueError(
                    f"ALTER TABLE {table}: cannot drop the only column"
                )
            fields = [f for f in fields if f.name != drop]
        self.catalog.set_schema_override(table, Schema(tuple(fields)))
        if table in self._table_history:
            self._persist_versions(table)  # evolved schema rides the log
        return self.spark.createDataFrame(
            [(f.name, f.dtype, f.nullable) for f in fields],
            "col_name string, data_type string, nullable boolean",
        )

    def _maybe_auto_compact(self, table: str) -> None:
        """Opt-in AUTO-COMPACTION (Delta's autoOptimize.autoCompact):
        with tblproperty ``auto_compact_files``=N, a DML statement that
        leaves the head version with MORE than N data files triggers an
        immediate OPTIMIZE as a further op-tagged version
        (``auto-compact`` in DESCRIBE HISTORY).  Off by default —
        compaction is an O(table) pass, and the threshold amortizes it
        across ≥N delta appends (a stream of small INSERTs pays one
        compaction per N files, never one per statement).  Time travel
        to the fragmented versions still works; the streaming ingest's
        crash-replay drops only the HEAD version, so a stream table
        using this property should size N well above its batch count
        between checkpoints (documented trade)."""
        raw = self._table_props.get(table, {}).get("auto_compact_files")
        if not raw:
            return
        try:
            limit = int(raw)
        except (TypeError, ValueError):
            return
        if limit <= 0:
            return
        from .sources.dml import data_files

        if len(data_files(self.catalog.path(table))) > limit:
            self._optimize_table(table, op_label="auto-compact")

    def _optimize_table(self, table: str, zorder=None, n_files=None,
                        op_label=None, where=None):
        """``OPTIMIZE TABLE t [WHERE pred] [ZORDER BY (c1, c2)]`` —
        file compaction
        (Delta's OPTIMIZE): a lineage of small DML deltas fragments the
        table into many small files; this rewrites the CURRENT rows
        into size-appropriate files (REBALANCE + AQE coalescing) as a
        NEW version, so time travel to the fragmented versions still
        works and readers never see a partial table.  With ZORDER BY,
        rows Morton-interleave on the given columns (sinks._zvalue) so
        every file covers a narrow band of EVERY clustered column, and
        the min/max skipping sidecar is rewritten for those columns —
        compaction feeds straight into file-level skipping (scan-time
        AND the DML pruner's footer bands).  One O(table) pass — the
        price of compaction anywhere — unless ``WHERE <pred>`` SCOPES
        it: then only files whose footer/partition bands can satisfy
        the predicate are compacted, every other file carries forward
        as a hardlink (with its DV entries) — the "compact only the
        fragmented partitions" shape a 100 TB table needs, O(matching
        files) not O(table).  The WHERE picks FILES, never rows: no row
        is dropped.  Returns a one-row summary."""
        from .execute import SparkExecutor
        from .sources.dml import data_files, partition_columns

        ex = SparkExecutor(self.spark, self.catalog)
        fmt = self.catalog.format(table)
        path = self.catalog.path(table)
        all_files = data_files(path)
        kept: list = []
        if where is not None and fmt == "parquet" and all_files:
            from .sources.dml import (
                file_bands,
                file_excluded,
                prune_conjuncts,
            )

            conj = prune_conjuncts(where, macros=self._sql_macros)
            if not conj:
                raise ValueError(
                    f"OPTIMIZE {table} WHERE: no provable col-op-literal "
                    f"conjunct in {where!r} — scope by a clustered or "
                    "partition column"
                )
            bands = file_bands(
                all_files, {c[0] for c in conj}, table_path=path
            )
            kept = [f for f in all_files if file_excluded(bands[f], conj)]
        if kept:
            from .execute import apply_dv, scan_with_rowid
            from .sources.dml import has_dv

            rewrite = [f for f in all_files if f not in set(kept)]
            override = (
                self.catalog.schema_override(table)
                if hasattr(self.catalog, "schema_override")
                else None
            )
            sch = override.to_struct_type() if override else None
            if rewrite and has_dv(path):
                cur = apply_dv(
                    self.spark,
                    scan_with_rowid(
                        self.spark, path, schema=sch,
                        files=rewrite, base=path,
                    ),
                    path,
                )
            elif rewrite:
                cur = read_parquet(
                    self.spark, *rewrite, base=path, schema=sch
                )
            else:
                cur = ex._base_scan(table, fmt).limit(0)
        else:
            cur = ex._base_scan(table, fmt)
        files_before = len(all_files)
        pcols = partition_columns(path) if fmt == "parquet" else []
        dest = self._cow_dest(
            table,
            op=op_label
            or (
                f"optimize zorder({zorder.strip()})" if zorder else "optimize"
            ),
        )
        if zorder:
            from .sources.sinks import write_parquet
            from .sources.skipping import write_file_stats

            zcols = [c.strip() for c in zorder.split(",") if c.strip()]
            known = {f.name for f in cur.schema.fields}
            bad = [c for c in zcols if c not in known]
            if bad:
                raise ValueError(
                    f"OPTIMIZE {table} ZORDER BY: unknown column(s) {bad}"
                )
            write_parquet(
                cur, dest, cluster_by=zcols, layout="zorder",
                partition_by=pcols or None, n_files=n_files,
            )
            if kept:
                from .sources.dml import link_files

                link_files(kept, dest, base=path)
                self._carry_dv(path, dest, kept)
            write_file_stats(dest, zcols)  # after links: stats cover all
        else:
            w = cur.hint("rebalance").write.mode("overwrite")
            if pcols:
                w = w.partitionBy(*pcols)
            w.parquet(dest)
            if kept:
                from .sources.dml import link_files

                link_files(kept, dest, base=path)
                self._carry_dv(path, dest, kept)
        self.catalog.register(table, dest, keep_schema_override=True)
        self._persist_versions(table)
        files_after = len(data_files(dest))
        return self.spark.createDataFrame(
            [(table, files_before, files_after)],
            "table_name string, files_before int, files_after int",
        )

    def _vacuum_table(self, table: str, dry_run: bool = False,
                      retain_hours=None):
        """``VACUUM t [RETAIN n HOURS] [DRY RUN]`` — garbage-collect version dirs of
        ``table``'s DML lineage (Delta's VACUUM with retention 0): only
        directories THIS engine created under the warehouse
        (``<table>__v<n>``, recorded in the persisted log) are removed —
        never the user's original registration (version 0's base path).
        Hardlink refcounting makes this safe and cheap: a file the head
        still carries survives via its link in the head dir; only bytes
        no live version references are freed.  Time travel to vacuumed
        versions is gone (that is the point); the head keeps reading
        exactly, and version numbering continues.  ``DRY RUN`` reports
        the dirs and bytes WITHOUT removing anything (Delta's VACUUM
        DRY RUN).  ``RETAIN n HOURS`` keeps every version committed
        within the window (plus the head): time travel inside the
        retention window keeps working — the lineage trims to the
        retained suffix, so version numbers re-base (this engine's
        post-vacuum numbering contract, same as the full vacuum's reset
        to the head).  Returns a one-row summary (dirs
        removed/removable, bytes actually/would-be freed)."""
        import os
        import shutil

        from .sources.dml import data_files

        hist = self._table_history.get(table)
        head = self.catalog.path(table)
        if hist is not None and hist[-1] != head:
            hist = None  # stale lineage — nothing of ours to collect
        removed = 0
        freed = 0
        keep_from = None
        if hist:
            if retain_hours is not None:
                import time as _time

                cts = self._table_commit_ts.get(table)
                if not cts or len(cts) != len(hist):
                    cts = [os.path.getmtime(p) for p in hist]
                cutoff = _time.time() - float(retain_hours) * 3600.0
                keep_from = len(hist) - 1  # the head always survives
                for i, t in enumerate(cts):
                    if t >= cutoff:
                        keep_from = min(keep_from, i)
                        break
                candidates = hist[:keep_from]
            else:
                candidates = hist[:-1]
            wh = self.catalog.warehouse_root()
            victims = [
                p
                for p in candidates
                if p.startswith(wh + os.sep)
                and os.path.basename(p).startswith(f"{table}__v")
                and os.path.isdir(p)
            ]
            # bytes-freed accounting (r9 ADVICE): sweep DV sidecars too
            # (data_files skips `_`-prefixed dirs), and count an inode
            # hardlinked by SEVERAL victim dirs once — it frees when the
            # LAST victim referencing it goes, i.e. when its total link
            # count is covered by the victims' references.
            from .sources.dml import dv_path

            inode_refs: dict = {}  # (dev, ino) -> [size, nlink, refs]
            for p in victims:
                sweep = list(data_files(p))
                dvp = dv_path(p)
                if os.path.isdir(dvp):
                    sweep += [
                        os.path.join(dvp, f)
                        for f in os.listdir(dvp)
                        if f.endswith(".parquet")
                    ]
                for f in sweep:
                    try:
                        st = os.stat(f)
                    except OSError:
                        continue
                    key = (st.st_dev, st.st_ino)
                    if key in inode_refs:
                        inode_refs[key][2] += 1
                    else:
                        inode_refs[key] = [st.st_size, st.st_nlink, 1]
            freed = sum(
                sz for sz, nlink, refs in inode_refs.values() if nlink <= refs
            )
            for p in victims:
                if not dry_run:
                    shutil.rmtree(p, ignore_errors=True)
                removed += 1
            if not dry_run:
                if keep_from is not None:
                    # retention: the retained suffix IS the lineage now
                    ops = self._table_ops.get(table)
                    cts0 = self._table_commit_ts.get(table)
                    self._table_history[table] = hist[keep_from:]
                    self._table_ops[table] = (
                        list(ops[keep_from:])
                        if ops and len(ops) == len(hist)
                        else ["base"] + ["write"] * (len(hist) - keep_from - 1)
                    )
                    self._table_commit_ts[table] = (
                        list(cts0[keep_from:])
                        if cts0 and len(cts0) == len(hist)
                        else [
                            os.path.getmtime(p) for p in hist[keep_from:]
                        ]
                    )
                else:
                    self._table_history[table] = [head]
                    prior = self._table_ops.get(table)
                    self._table_ops[table] = [
                        (prior[-1] if prior else "base") + " (post-vacuum)"
                    ]
                    cts = self._table_commit_ts.get(table)
                    # keep the surviving head's commit instant so
                    # TIMESTAMP AS OF keeps resolving after the GC
                    self._table_commit_ts[table] = [cts[-1]] if cts else []
                self._persist_versions(table)
        return self.spark.createDataFrame(
            [(table, removed, freed)],
            "table_name string, versions_removed int, bytes_freed bigint",
        )

    def _checked_history(self, table: str, what: str) -> list:
        """The table's live version lineage, or raise: a lineage whose
        head no longer matches the registration (table re-created since)
        is DEAD and unusable for version-addressed operations."""
        hist = self._table_history.get(table)
        if hist is not None and hist[-1] != self.catalog.path(table):
            hist = None
        if hist is None:
            raise ValueError(
                f"table {table!r} has no version history — {what} needs a "
                "recorded DML/MERGE lineage for its current registration"
            )
        return hist

    def _version_at_timestamp(self, table: str, ts_text: str) -> int:
        """The LATEST version committed at or before ``ts_text`` —
        ``TIMESTAMP AS OF`` resolution.  Naive literals are UTC (the
        session timezone is pinned UTC).  Commit times come from the
        planner state / persisted log; lineages recorded before
        timestamping fall back to version-dir mtimes.  An instant
        before the earliest recorded commit errors (Delta's
        contract)."""
        import datetime as _dt
        import os

        hist = self._checked_history(table, "TIMESTAMP AS OF")
        ts_list = self._table_commit_ts.get(table)
        if not ts_list or len(ts_list) != len(hist):
            ts_list = [os.path.getmtime(p) for p in hist]
        try:
            dt = _dt.datetime.fromisoformat(ts_text)
        except ValueError:
            raise ValueError(
                f"TIMESTAMP AS OF: cannot parse {ts_text!r} "
                "(ISO date or timestamp expected)"
            )
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=_dt.timezone.utc)
        epoch = dt.timestamp()
        ver = None
        for i, t in enumerate(ts_list):
            if t <= epoch:
                ver = i
        if ver is None:
            earliest = _dt.datetime.fromtimestamp(
                ts_list[0], _dt.timezone.utc
            ).isoformat()
            raise ValueError(
                f"table {table!r}: no version at or before {ts_text!r} "
                f"(earliest commit {earliest})"
            )
        return ver

    def _add_constraint(self, table: str, name: str, expr_text: str):
        """``ALTER TABLE t ADD CONSTRAINT n CHECK (expr)`` — Delta's
        CHECK constraint: existing rows are validated ONCE here (the
        one unavoidable O(table) pass, same as Delta's), after which
        every INSERT / UPDATE / MERGE validates only the DELTA it
        writes (``_enforce_constraints``) — enforcement cost scales
        with the statement, not the table.  SQL semantics: a row
        violates only when the expression is FALSE; NULL passes.  The
        constraint persists in the version log and copies into shallow
        clones."""
        from pyspark.sql import functions as F

        from .execute import SparkExecutor

        expr_text = expr_text.strip()
        col = self._sql_expr_column(expr_text)  # parse/macro check now
        ex = SparkExecutor(self.spark, self.catalog)
        cur = ex._base_scan(table, self.catalog.format(table))
        bad = cur.filter(col.eqNullSafe(F.lit(False))).limit(1).count()
        if bad:
            raise ValueError(
                f"cannot add CHECK constraint {name!r} to {table!r}: "
                f"existing rows violate ({expr_text})"
            )
        self._table_constraints.setdefault(table, {})[name] = expr_text
        if table in self._table_history:
            self._persist_versions(table)  # constraint rides the log
        return self.spark.createDataFrame(
            [(table, name, expr_text)],
            "table_name string, constraint_name string, check_expr string",
        )

    def _enforce_constraints(self, table: str, delta_df) -> None:
        """Validate the rows a DML statement is ABOUT to write against
        the table's CHECK constraints — called on the delta only
        (inserted rows, the rewritten slice, the merged slice), before
        any version dir is created, so a violation aborts the statement
        with the lineage untouched (atomic reject).  One combined
        filter pass finds any violation; the per-constraint probe runs
        only on failure, to name the culprit."""
        cons = self._table_constraints.get(table)
        if not cons:
            return
        from pyspark.sql import functions as F

        viol = None
        for text in cons.values():
            c = self._sql_expr_column(text).eqNullSafe(F.lit(False))
            viol = c if viol is None else (viol | c)
        if delta_df.filter(viol).limit(1).count() == 0:
            return
        for name, text in sorted(cons.items()):
            c = self._sql_expr_column(text).eqNullSafe(F.lit(False))
            if delta_df.filter(c).limit(1).count():
                raise ValueError(
                    f"CHECK constraint {name!r} violated on {table!r}: "
                    f"({text}) — statement aborted, no version written"
                )

    def _set_tblproperties(self, table: str, properties: dict):
        """``ALTER TABLE t SET TBLPROPERTIES ('k'='v', …)`` — the
        per-table knob store (persisted in the version log, copied into
        shallow clones).  The one property the engine interprets today:
        ``delete_mode`` = ``merge-on-read``/``mor`` switches
        DELETE/UPDATE from copy-on-write file rewrites to
        deletion-vector writes (``_dml_mor``); ``copy-on-write`` (or
        unsetting) restores the default."""
        self._table_props.setdefault(table, {}).update(properties)
        if table in self._table_history:
            self._persist_versions(table)
        return self.spark.createDataFrame(
            [(table, k, v) for k, v in properties.items()],
            "table_name string, key string, value string",
        )

    def _dv_mode(self, table: str) -> bool:
        """True when the table's ``delete_mode`` property selects
        merge-on-read (deletion vectors) for DELETE/UPDATE."""
        v = self._table_props.get(table, {}).get("delete_mode", "")
        return v.strip().lower() in ("merge-on-read", "mor")

    def _carry_dv(self, old_path: str, dest: str, carried_files) -> None:
        """Carry deletion-vector entries forward into a new version:
        entries for carried files stay valid (same basename, same
        immutable bytes); entries for rewritten/dropped files are
        DROPPED — their replacement files already materialized the
        deletes.  Full carries (every data file linked) hardlink the DV
        sidecar itself — O(1), no Spark job; partial carries filter the
        DV to the carried basenames."""
        import os

        from pyspark.sql import functions as F

        from .sources.dml import (
            data_files,
            dv_path,
            has_dv,
            link_files,
        )

        if not has_dv(old_path) or not carried_files:
            return
        dvp = dv_path(old_path)
        dv_parts = sorted(
            os.path.join(dvp, f)
            for f in os.listdir(dvp)
            if f.endswith(".parquet")
        )
        from .sources.dml import (
            DV_FILES_MANIFEST,
            read_dv_file_manifest,
            write_dv_file_manifest,
        )

        if set(carried_files) >= set(data_files(old_path)):
            link_files(dv_parts, dv_path(dest))
            man = os.path.join(dvp, DV_FILES_MANIFEST)
            if os.path.exists(man):
                # full carry: same marks, same dirty-file set
                link_files([man], dv_path(dest))
            return
        # DV identity is the basename verbatim (execute.dv_row_key):
        # carries preserve basenames, collision renames re-key the file
        names = sorted({os.path.basename(f) for f in carried_files})
        ndf = self.spark.createDataFrame(
            [(n,) for n in names], "file_name string"
        )
        dv = read_parquet(self.spark, dvp).join(ndf, "file_name", "left_semi")
        if dv.limit(1).count():
            dv.coalesce(1).write.mode("overwrite").parquet(dv_path(dest))
            old_names = read_dv_file_manifest(dvp)
            write_dv_file_manifest(
                dv_path(dest),
                names=(
                    sorted(old_names & set(names))
                    if old_names is not None
                    else None  # no old manifest: derive from the sidecar
                ),
            )

    def _dml_mor(self, table, delete_where=None, sets=None, where=None):
        """Merge-on-read DELETE/UPDATE — deletion vectors instead of
        file rewrites (Delta's DVs; opted in per table via
        ``delete_mode='merge-on-read'``).  DELETE: mark the matched
        rows' physical identities (file basename, parquet row index) in
        a tiny ``_dv`` parquet sidecar; every data file carries forward
        as a hardlink — O(matched rows) written, ZERO data files
        rewritten, the shape that survives a scattered DELETE touching
        a few rows in EVERY file of a 100 TB table (file-pruned
        copy-on-write degenerates to a full rewrite there).  UPDATE:
        DV-mark the old rows + append the updated rows as new files —
        O(delta) both sides.  Scans apply the DV as a broadcast
        anti-join (execute.apply_dv); OPTIMIZE TABLE compacts DVs away
        (its scan materializes the deletes, its output has no ``_dv``),
        and the engine ALSO self-bounds: when the merged DV exceeds
        ``dv_max_fraction`` (tblproperty, default 0.25) of the table's
        physical rows it is folded into data files immediately
        (``_materialize_dv``), so the broadcast can never grow past a
        fixed fraction of the table.  Time travel is exact: the
        DV rides the version dir, and every version's sidecar describes
        exactly that version's deletes."""
        from pyspark.sql import functions as F

        from .execute import apply_dv, scan_with_rowid
        from .plans.plan import LogicalPlanBuilder
        from .sources.dml import (
            data_files,
            dv_path,
            has_dv,
            link_files,
            partition_columns,
        )

        old_path = self.catalog.path(table)
        override = (
            self.catalog.schema_override(table)
            if hasattr(self.catalog, "schema_override")
            else None
        )
        # the match-finding scan prunes to files the predicate can
        # touch (same footer-band proof as the CoW rewrite): a
        # clustered DELETE on a 100 TB table reads only the overlapping
        # files to find its marks, not the whole table.  Zero
        # overlapping files keeps one (the filter yields no rows —
        # correctness is the filter's, pruning is only a scan bound).
        from .sources.dml import file_bands, file_excluded, prune_conjuncts

        pred_for_prune = delete_where if delete_where is not None else where
        all_files = data_files(old_path)
        scan_files = None
        conj = prune_conjuncts(pred_for_prune, macros=self._sql_macros)
        if all_files and conj:
            bands = file_bands(
                all_files, {c[0] for c in conj}, table_path=old_path
            )
            overlapping = [
                f for f in all_files if not file_excluded(bands[f], conj)
            ]
            if len(overlapping) < len(all_files):
                scan_files = overlapping or all_files[:1]
        df = scan_with_rowid(
            self.spark,
            old_path,
            schema=override.to_struct_type() if override else None,
            files=scan_files,
            base=old_path if scan_files is not None else None,
        )
        # rows already DV-marked are GONE from this statement's view —
        # keep the identity columns (the anti-join here is inlined so
        # the keys survive for the matches projection below)
        if has_dv(old_path):
            dv0 = read_parquet(self.spark, dv_path(old_path)).select(
                F.col("file_name").alias("__dv_file"),
                F.col("row_index").alias("__dv_row"),
            )
            df = df.join(
                F.broadcast(dv0), ["__dv_file", "__dv_row"], "left_anti"
            )
        pred_text = delete_where if delete_where is not None else where
        cond = self._sql_expr_column(pred_text).eqNullSafe(F.lit(True))
        matched = df.filter(cond)
        matches = matched.select(
            F.col("__dv_file").alias("file_name"),
            F.col("__dv_row").alias("row_index"),
        )
        data_cols = [c for c in df.columns if c not in ("__dv_file",
                                                        "__dv_row")]
        new_rows = None
        if sets is not None:
            new_rows = matched.select(
                *[
                    (
                        self._sql_expr_column(sets[c])
                        if c in sets
                        else F.col(c)
                    )
                    .cast(df.schema[c].dataType)
                    .alias(c)
                    for c in data_cols
                ]
            )
            self._enforce_constraints(table, new_rows)
        dest = self._cow_dest(
            table,
            op="delete (dv)" if sets is None else "update (dv)",
        )
        files = data_files(old_path)
        pcols = partition_columns(old_path) if files else []
        if new_rows is not None:
            w = new_rows.hint("rebalance").write.mode("overwrite")
            if pcols:
                w = w.partitionBy(*pcols)
            w.parquet(dest)
        else:
            import os

            os.makedirs(dest, exist_ok=True)
        link_files(files, dest, base=old_path)
        if has_dv(old_path):
            merged = read_parquet(
                self.spark, dv_path(old_path)
            ).unionByName(matches)
        else:
            merged = matches
        # ONE job: write the sidecar, then read row counts from the
        # written footers (local metadata, no Spark job) — a separate
        # emptiness probe would re-scan the matches
        merged.coalesce(1).write.mode("overwrite").parquet(dv_path(dest))
        from .sources.dml import parquet_rows

        dv_rows = parquet_rows(dv_path(dest))
        if dv_rows > 0:
            # record the dirty-file manifest ONCE here (O(DV) column
            # read at write time) so scans never re-derive it
            from .sources.dml import write_dv_file_manifest

            write_dv_file_manifest(dv_path(dest))
        if dv_rows == 0:
            import shutil

            # no-match DELETE: drop the empty sidecar so has_dv stays
            # false and future scans skip the anti-join entirely
            shutil.rmtree(dv_path(dest), ignore_errors=True)
        elif dv_rows > 0:
            # bounded DV growth: apply_dv BROADCASTS the sidecar, so an
            # ever-accumulating DV would eventually ship a meaningful
            # fraction of a 100 TB table to every executor on every
            # scan.  When dead rows exceed dv_max_fraction of the
            # footer row count (physical rows, deleted included), fold
            # the DV into data files now — O(live rows) once per
            # ~1/frac of delete volume, amortized, instead of an
            # unbounded per-scan read tax until a manual OPTIMIZE.
            total = parquet_rows(dest)
            try:
                frac = float(
                    self._table_props.get(table, {}).get(
                        "dv_max_fraction", "0.25"
                    )
                )
            except (TypeError, ValueError):
                frac = 0.25
            if total > 0 and dv_rows > frac * total:
                self._materialize_dv(dest, pcols, override)
        self.catalog.register(table, dest, keep_schema_override=True)
        self._persist_versions(table)
        self._maybe_auto_compact(table)
        return self.dataframe(LogicalPlanBuilder().scan(table).build())

    def _materialize_dv(self, dest: str, pcols, override=None) -> None:
        """Fold an oversized deletion vector back into data files IN
        PLACE (same just-written, not-yet-registered version dir): scan
        ``dest`` minus its DV, rewrite the survivors, drop the sidecar.
        Called by ``_dml_mor`` when the merged DV exceeds
        ``dv_max_fraction`` (tblproperty, default 0.25) of the
        version's physical rows — the bound that keeps
        ``execute.apply_dv``'s broadcast anti-join small.  Prior
        versions are untouched: removing ``dest`` only drops hardlink
        NAMES; every older version dir keeps its own links and its own
        sidecar, so time travel across the materialization stays
        exact."""
        import os
        import shutil

        from .execute import dv_scan

        df = dv_scan(
            self.spark,
            dest,
            schema=override.to_struct_type() if override else None,
        )
        tmp = dest + ".__mat"
        w = df.hint("rebalance").write.mode("overwrite")
        if pcols:
            w = w.partitionBy(*pcols)
        w.parquet(tmp)
        shutil.rmtree(dest)
        os.replace(tmp, dest)

    def _restore_table(self, table: str, ver: int):
        """``RESTORE TABLE t TO VERSION AS OF n`` — roll the CURRENT
        state back to a recorded version, as a NEW head version (Delta's
        RESTORE): the restored file set carries forward as hardlinks —
        O(files) metadata syscalls, ZERO data bytes rewritten — and the
        lineage keeps every version (the restore is itself version N+1,
        op-tagged for DESCRIBE HISTORY, so time travel to the
        in-between versions still works and the restore itself can be
        undone by another RESTORE).  On an object store the same design
        re-lists version n's files in the new manifest."""
        from .sources.dml import data_files, link_files

        hist = self._checked_history(table, "RESTORE")
        if ver >= len(hist):
            raise ValueError(
                f"table {table!r} has versions 0..{len(hist) - 1}, "
                f"asked to restore {ver}"
            )
        src = hist[ver]
        files = data_files(src)
        dest = self._cow_dest(table, op=f"restore v{ver}")
        linked = link_files(files, dest, base=src)
        self._carry_dv(src, dest, files)
        self.catalog.register(table, dest, keep_schema_override=True)
        self._persist_versions(table)
        return self.spark.createDataFrame(
            [(table, ver, self._cow_versions[table], len(linked))],
            "table_name string, restored_version int, new_version int, "
            "files_linked int",
        )

    def _shallow_clone(self, clone: str, source: str, ver=None):
        """``CREATE TABLE c SHALLOW CLONE t [VERSION AS OF n]`` —
        ZERO-COPY table copy (Delta's shallow clone): the clone's
        version-0 file set is hardlinks of the source's current (or
        version-n) files — O(files) metadata, no data read or written.
        The clone starts a FRESH lineage (own version log, own lineage
        token, own CHECK constraints copied from the source), so DML on
        either side never touches the other: copy-on-write means shared
        files are immutable by contract, and the first rewrite on
        either side diverges into that side's own version dirs.
        VACUUM safety: bytes are freed only when the LAST name drops
        (st_nlink==1), so a clone still referencing a file keeps it
        alive through the source's vacuum."""
        import uuid

        from .sources.dml import data_files, link_files

        if ver is None:
            src_path = self.catalog.path(source)
        else:
            hist = self._checked_history(source, "SHALLOW CLONE")
            if ver >= len(hist):
                raise ValueError(
                    f"table {source!r} has versions 0..{len(hist) - 1}, "
                    f"asked to clone {ver}"
                )
            src_path = hist[ver]
        files = data_files(src_path)
        if not files:
            raise ValueError(
                f"SHALLOW CLONE: source {source!r} has no data files"
            )
        import os

        dest = self.catalog.warehouse_path(f"{clone}__v0")
        if os.path.exists(dest):
            dest = self.catalog.warehouse_path(
                f"{clone}__v0-{uuid.uuid4().hex[:8]}"
            )
        linked = link_files(files, dest, base=src_path)
        self._carry_dv(src_path, dest, files)
        # the clone inherits the source's EVOLVED schema (metadata-only
        # ALTERs must read identically on the shared files)
        override = (
            self.catalog.schema_override(source)
            if hasattr(self.catalog, "schema_override")
            else None
        )
        self.catalog.register(clone, dest, format=self.catalog.format(source))
        if override is not None:
            self.catalog.set_schema_override(clone, override)
        self._table_history[clone] = [dest]
        self._table_ops[clone] = [
            f"clone {source}" + ("" if ver is None else f"@v{ver}")
        ]
        self._cow_versions[clone] = 0
        self._table_lineage[clone] = uuid.uuid4().hex
        if source in self._table_constraints:
            self._table_constraints[clone] = dict(
                self._table_constraints[source]
            )
        if source in self._table_props:
            self._table_props[clone] = dict(self._table_props[source])
        self._persist_versions(clone)
        return self.spark.createDataFrame(
            [(clone, source, -1 if ver is None else ver, len(linked))],
            "clone string, source string, source_version int, "
            "files_linked int",
        )

    def _table_changes(self, table: str, v1: int, v2: int):
        """``SELECT * FROM table_changes(t, v1, v2)`` — the row-level
        CHANGE FEED between two recorded versions (Delta's CDF surface,
        computed from manifests instead of CDC files): a version is an
        immutable file set and a carried-forward file is the SAME file
        (hardlink → same inode), so files shared by both manifests
        provably contribute no change and are NEVER read — only the
        version-unique files on each side are scanned, then
        ``exceptAll`` both ways yields inserts (in v2, not v1) and
        deletes (in v1, not v2), tagged ``_change_type``.  Updates
        surface as delete+insert pairs — the same signed-retraction
        convention the CDC MV maintenance consumes
        (streaming/pipeline.py).  Cost: O(changed files) scan + one
        shuffle over changed rows, not O(table) — the shape that
        survives a 100 TB table with a 1 GB delta.

        Deletion vectors: a shared file's LOGICAL rows are files minus
        that version's DV, so inode-sharing alone no longer proves
        no-change — shared files whose DV entries differ between the
        versions join the scan lists on BOTH sides (each side applying
        its own DV), which the position-set diff of the two sidecars
        identifies without reading any data file."""
        import os

        from pyspark.sql import functions as F

        hist = self._checked_history(table, "table_changes")
        if not (0 <= v1 <= v2 < len(hist)):
            raise ValueError(
                f"table_changes({table}, {v1}, {v2}): need "
                f"0 <= v1 <= v2 <= {len(hist) - 1}"
            )
        from .execute import apply_dv, scan_with_rowid
        from .sources.dml import data_files, dv_path, has_dv

        def keyed(path):
            out = {}
            for f in data_files(path):
                st = os.stat(f)
                out[(st.st_dev, st.st_ino)] = f
            return out

        a, b = keyed(hist[v1]), keyed(hist[v2])
        only_a = sorted(f for k, f in a.items() if k not in b)
        only_b = sorted(f for k, f in b.items() if k not in a)
        if has_dv(hist[v1]) or has_dv(hist[v2]):
            # shared files whose DV entries CHANGED must be diffed too:
            # the position-set symmetric difference of the two sidecars
            # names them (bounded driver collect — one row per file
            # name, never row positions)
            def dvdf(path):
                if has_dv(path):
                    return read_parquet(self.spark, dv_path(path)).select(
                        "file_name", "row_index"
                    )
                return self.spark.createDataFrame(
                    [], "file_name string, row_index bigint"
                )

            dv1, dv2 = dvdf(hist[v1]), dvdf(hist[v2])
            changed_names = {
                r[0]
                for r in dv1.exceptAll(dv2)
                .unionByName(dv2.exceptAll(dv1))
                .select("file_name")
                .distinct()
                .collect()
            }

            def dv_name(f):
                # DV identity = basename verbatim (execute.dv_row_key)
                return os.path.basename(f)

            shared_a = {k: f for k, f in a.items() if k in b}
            only_a = sorted(
                set(only_a)
                | {f for f in shared_a.values() if dv_name(f) in changed_names}
            )
            shared_b = {k: f for k, f in b.items() if k in a}
            only_b = sorted(
                set(only_b)
                | {f for f in shared_b.values() if dv_name(f) in changed_names}
            )
        # align both sides to the NEWER version's column set (schema
        # evolution between the versions: missing columns null-fill,
        # exactly how the evolved scan reads old files)
        schema = read_parquet(self.spark, hist[v2]).schema

        def side(files, base):
            if not files:
                return self.spark.createDataFrame([], schema)
            if has_dv(base):
                df = apply_dv(
                    self.spark,
                    scan_with_rowid(
                        self.spark, base, files=files, base=base
                    ),
                    base,
                )
            else:
                df = read_parquet(self.spark, *files, base=base)
            have = set(df.columns)
            return df.select(
                *[
                    (F.col(f.name) if f.name in have else F.lit(None))
                    .cast(f.dataType)
                    .alias(f.name)
                    for f in schema.fields
                ]
            )

        da, db = side(only_a, hist[v1]), side(only_b, hist[v2])
        ins = db.exceptAll(da).withColumn("_change_type", F.lit("insert"))
        del_ = da.exceptAll(db).withColumn("_change_type", F.lit("delete"))
        return ins.unionByName(del_)

    def optimize_logical(self, plan: Plan) -> Plan:
        hep = HepOptimizer(self.rewrite_rules, self.ctx, MatchOrder.TOP_DOWN)
        out = hep.find_best_plan(plan)
        out.hints = getattr(plan, "hints", None)  # survive the rewrite
        return out

    def optimize_physical(self, plan: Plan) -> Plan:
        # join-strategy hints from the SQL front door steer the race
        hints = getattr(plan, "hints", None)
        self.ctx.hints = hints
        rules = self.cascades_rules
        if hints and any(hints.values()):
            # a hint pins the user's TEXTUAL join shape; shape-changing
            # exploration (eager aggregation, join order enumeration)
            # would move the hinted relation out of its side and unbind
            # the pin — standard hint semantics: the user's word
            # suspends the rewrites that would second-guess it.
            # Commutation stays: BROADCAST(left_table) needs it.
            from .optimizer.rules.agg import EagerAggregationRule as _EA

            rules = [
                r
                for r in rules
                if not isinstance(r, (_EA, JoinEnumeration))
            ]
        try:
            cascades = CascadesOptimizer(
                rules, self.ctx, cost_model=self.cost_model
            )
            out = cascades.find_best_plan(plan)
            self.last_planning_stats = cascades.planning_stats
            return out
        finally:
            self.ctx.hints = None

    def _catalog_fingerprint(self):
        """Cheap structural snapshot of every catalog input an
        optimization decision can read (registrations, formats, schema
        overrides, declared keys, ANN/BPE/MV registries, adaptive
        selectivity corrections).  Computed per optimize() call — O(a
        few dozen dict items) — so the prepared-statement store can
        never serve a plan across a catalog change; a fingerprint beats
        instrumenting every mutator because a forgotten mutator is a
        correctness bug, a changed fingerprint is just a cache miss."""
        c = self.catalog
        sch = tuple(
            (t, tuple((f.name, f.dtype) for f in s.fields))
            for t, s in sorted(getattr(c, "_schema_overrides", {}).items())
        )
        return (
            tuple(sorted(getattr(c, "_paths", {}).items())),
            tuple(sorted(getattr(c, "_formats", {}).items())),
            tuple(
                (t, tuple(sorted(o.items())))
                for t, o in sorted(getattr(c, "_options", {}).items())
            ),
            sch,
            tuple(
                (t, tuple(sorted(v)))
                for t, v in sorted(getattr(c, "_unique_keys", {}).items())
            ),
            tuple(sorted(map(repr, getattr(c, "_ann_indexes", {}).items()))),
            tuple(
                sorted(map(repr, getattr(c, "_bpe_tokenizers", {}).items()))
            ),
            tuple(getattr(m, "name", repr(m)) for m in getattr(c, "_mvs", [])),
            tuple(sorted(getattr(c, "_sel_corrections", {}).items())),
        )

    def optimize(self, plan: Plan) -> Plan:
        """Optimize through the planner's PREPARED-STATEMENT STORE (r13
        optimization): the (logical plan, catalog state) → physical plan
        mapping is pure, so re-optimizing a structurally identical plan
        (every warm bench run; any repeated application query) returns
        the stored physical plan instead of re-running Hep + Cascades
        (30-350 ms on multi-join shapes).  This keeps PLANS, never data
        or results — execution below the plan always recomputes from
        the inputs, and `to_spark` re-resolves table paths through the
        catalog at conversion time.  Keyed on (catalog fingerprint,
        per-node operator tuple, deterministic explain text): operators
        hash structurally (the cascades-memo contract) and the explain
        text disambiguates literal type/sign edge cases (True vs 1,
        -0.0 vs 0.0) that Python equality folds.  Hinted plans bypass
        the store (hints ride on the plan OBJECT, not its structure)."""
        hints = getattr(plan, "hints", None)
        if hints and any(hints.values()):  # ACTIVE hints pin the plan
            return self.optimize_physical(self.optimize_logical(plan))
        try:
            key = (
                self._catalog_fingerprint(),
                tuple(n.operator for n in plan.bfs_iterator()),
                plan.explain(),
            )
            hash(key)
        except Exception:
            return self.optimize_physical(self.optimize_logical(plan))
        return self._prepared.get_or_put(
            key, lambda: self.optimize_physical(self.optimize_logical(plan))
        )

    #: physical operator types whose ``to_spark`` lowering is a PURE
    #: DataFrame build — no jobs, no writes, no ``cache()``/``persist``
    #: marks, no driver collects, no executor state (``execute.py``
    #: handlers that only compose DataFrame expressions).  Plans made of
    #: these may keep their DataFrame with the prepared plan (below);
    #: anything else (sinks, recursive CTEs, model-fitting kNN/BPE
    #: chains, index probes, the cache-marking dedup family) bypasses.
    _PURE_SPARK_LOWERING = None  # built lazily (avoids import at load)

    @classmethod
    def _pure_lowering_types(cls):
        if cls._PURE_SPARK_LOWERING is None:
            from .operators import extensions as X
            from .operators import physical as P

            cls._PURE_SPARK_LOWERING = frozenset(
                {
                    P.PhysicalTableScan,
                    P.PhysicalValues,
                    P.PhysicalFilter,
                    P.PhysicalProjection,
                    P.PhysicalLimit,
                    P.PhysicalHashAggregate,
                    P.PhysicalSaltedHashAggregate,
                    P.PhysicalSort,
                    P.PhysicalTopK,
                    P.PhysicalDistinct,
                    P.PhysicalHashJoin,
                    P.PhysicalSaltedReplicateJoin,
                    P.PhysicalBroadcastHashJoin,
                    P.PhysicalSortMergeJoin,
                    P.PhysicalWindow,
                    P.PhysicalUnion,
                    P.PhysicalIntersect,
                    P.PhysicalExcept,
                    P.Exchange,
                    X.PhysicalExactDedup,
                    X.PhysicalSimHash,
                    X.PhysicalGenerate,
                    X.PhysicalUnpivot,
                    X.PhysicalDocChunk,
                    X.PhysicalStratifiedSample,
                    X.PhysicalSequencePack,
                    X.PhysicalEmbedQuantizeSql,
                    X.PhysicalEmbedQuantizePandas,
                    X.PhysicalAsofJoinUnion,
                    X.PhysicalBucketedRangeJoin,
                    X.PhysicalBroadcastRangeJoin,
                    X.PhysicalOverlapJoin,
                    X.PhysicalBroadcastOverlapJoin,
                }
            )
        return cls._PURE_SPARK_LOWERING

    #: (core relational operators a single-stage statement may hold,
    #: the subset Spark would shuffle for); built lazily
    _SINGLE_STAGE_TYPES = None

    @classmethod
    def _single_stage_types(cls):
        if cls._SINGLE_STAGE_TYPES is None:
            from .operators import physical as P

            shuffling = frozenset(
                {
                    P.PhysicalHashAggregate,
                    P.PhysicalSort,
                    P.PhysicalDistinct,
                    P.PhysicalHashJoin,
                    P.PhysicalBroadcastHashJoin,
                    P.PhysicalSortMergeJoin,
                    P.PhysicalWindow,
                    P.PhysicalUnion,
                    P.PhysicalIntersect,
                    P.PhysicalExcept,
                }
            )
            core = shuffling | {
                P.PhysicalTableScan,
                P.PhysicalValues,
                P.PhysicalFilter,
                P.PhysicalProjection,
                P.PhysicalLimit,
                P.PhysicalTopK,
                P.Exchange,
            }
            cls._SINGLE_STAGE_TYPES = (core, shuffling)
        return cls._SINGLE_STAGE_TYPES

    def _execution_regime(self, phys: Plan):
        """How ``dataframe`` runs ``phys``: ``("single_stage", rows)``
        when the plan is made of core relational operators, holds one
        Spark would shuffle for, and the catalog row counts of its
        scanned table references sum to at most
        ``SINGLE_STAGE_INPUT_ROWS``; otherwise ``("multi_stage", rows)``.
        ``rows`` is that sum, or None when it was not needed or a table
        has no statistics (which keeps the multi-stage lowering)."""
        from .operators.physical import PhysicalTableScan
        from .optimizer.cascades import cost

        core, shuffling = self._single_stage_types()
        types, tables = set(), []
        for n in phys.bfs_iterator():
            types.add(type(n.operator))
            if isinstance(n.operator, PhysicalTableScan):
                tables.append(n.operator.table_name)
        if not types <= core or not types & shuffling:
            return "multi_stage", None
        try:
            rows = sum(
                float(self.catalog.statistics(t).row_count) for t in tables
            )
        except Exception:
            return "multi_stage", None
        if rows <= cost.SINGLE_STAGE_INPUT_ROWS:
            return "single_stage", rows
        return "multi_stage", rows

    def dataframe(self, plan: Plan):
        """Full pipeline: optimize then hand to Spark, reusing the
        DataFrame kept with the prepared statement (r14, guide §4 — the
        Python boundary).

        ``to_spark`` costs ~30-40 py4j round-trips + one Spark analysis
        pass per DataFrame operation, every time the same query is
        re-planned (warm bench runs, repeated application queries).  A
        DataFrame is an immutable plan handle, but not a stateless one:
        once an action ran it, the handle keeps its finished adaptive
        plan, and a second action re-runs that plan — stages whose
        shuffle files still exist are skipped and broadcast relations
        are reused.  Reuse is therefore only as fresh as the inputs
        those shuffle files were built from.  The physical plan that
        ``optimize`` returns from the prepared-statement store (keyed on
        the catalog fingerprint: every registration / DDL / correction
        mutation misses) keeps the DataFrame last lowered from it, keyed
        on the execution regime, the SparkSession (a restarted session
        misses) and each PHYSICAL scan's ``table_stamp`` (an MV rewrite
        can change which tables are scanned), so a data file rewritten
        in place misses too.  Only plans made ENTIRELY of pure-lowering
        operators keep a DataFrame (``_pure_lowering_types``): any
        operator whose lowering runs jobs, writes, collects model state,
        or marks ``cache()`` bypasses, so eager work is never skipped.
        A hinted plan is optimized afresh, so its DataFrame is not kept.

        The regime is chosen per statement (``_execution_regime``): a
        small statement is lowered into one Spark stage with interpreted
        expressions and runs on the caller's single-stage companion
        session (``session.single_stage_session``), which removes the
        per-exchange and per-compile fixed costs that dominate small
        inputs.  ``last_planning_stats`` reports the regime and the row
        sum that decided it.
        """
        from .session import single_stage_session

        phys = self.optimize(plan)
        regime, rows = self._execution_regime(phys)
        self.last_planning_stats = {
            **(getattr(self, "last_planning_stats", None) or {}),
            "regime": regime,
            "regime_input_rows": rows,
        }
        single = regime == "single_stage"
        spark = single_stage_session(self.spark) if single else self.spark
        ops = [n.operator for n in phys.bfs_iterator()]
        # an impure plan is never single-stage: core ⊂ pure
        if not {type(op) for op in ops} <= self._pure_lowering_types():
            return to_spark(phys, self.spark, self.catalog)
        c = self.catalog
        stamps = tuple(
            table_stamp(c.path(op.table_name), "." + c.format(op.table_name))
            for op in ops if type(op).__name__ == "PhysicalTableScan"
        )
        key = (regime, self.spark, stamps)
        lowered = getattr(phys, "lowered", None)
        if lowered is not None and lowered[0] == key:
            return lowered[1]
        df = to_spark(phys, spark, self.catalog, single_stage=single)
        phys.lowered = (key, df)
        return df

    def _version_path(self, table: str, ver: int) -> str:
        """Validated version-dir path for time travel (the
        whole-statement ``SELECT * … AS OF`` form and the general
        FROM/JOIN splice): history must exist for the current
        registration and the version must be recorded.  A recorded
        version whose directory no longer exists was VACUUMED (possibly
        by a concurrent planner racing this reader's stale lineage) —
        deterministic ``VersionVacuumedError`` instead of whatever
        filesystem error the scan would have surfaced."""
        import os

        from .sources.dml import VersionVacuumedError

        hist = self._checked_history(table, "time travel")
        if ver >= len(hist):
            raise ValueError(
                f"table {table!r} has versions 0..{len(hist) - 1}, "
                f"asked for {ver}"
            )
        path = hist[ver]
        if not os.path.exists(path):
            raise VersionVacuumedError(
                f"table {table!r} version {ver} ({path}) was removed by "
                f"VACUUM — time travel to it is gone; keep versions "
                f"readable longer with 'VACUUM {table} RETAIN n HOURS' "
                f"(the retention window keeps every version committed "
                f"inside it)"
            )
        return path

    def _splice_time_travel(self, query: str, versions) -> str:
        """GENERAL time travel: each ``FROM/JOIN t VERSION AS OF n``
        reference (``Statement.versions``, found by the lexer, so never
        inside a literal or comment) is replaced by a catalog
        registration of that version dir (``__tt_<t>_v<n>``), so
        projections, joins, aggregates and CTEs compose with time
        travel.  DV-carrying versions keep requiring the
        whole-statement ``SELECT * FROM t VERSION AS OF n`` form (their
        content is files MINUS the sidecar — a plain registration would
        resurrect deleted rows)."""
        from .sources.dml import has_dv

        out, prev = [], 0
        for start, end, name, ver in versions:
            path = self._version_path(name, ver)
            if has_dv(path):
                raise ValueError(
                    f"table {name!r} version {ver} carries deletion "
                    "vectors — read it with the dedicated "
                    f"'SELECT * FROM {name} VERSION AS OF {ver}' form "
                    "(the general rewrite cannot apply the DV sidecar)"
                )
            alias = f"__tt_{name}_v{ver}"
            self.catalog.register(alias, path)
            out += [query[prev:start], alias]
            prev = end
        return "".join(out) + query[prev:]

    def _create_vector_index(self, replace: bool, table: str,
                             vec_col: str, options: Optional[dict] = None):
        """``CREATE [OR REPLACE] VECTOR INDEX ON t (col) [WITH (m=8,
        ksub=16, ncells=32, residual=true, kmeans_iters=2,
        train_iters=0, location='<dir>')]`` (r11) — the SQL front door
        of ``functions/ann_index.py``: train + encode + persist ONCE,
        register in the catalog, and every later kNN query over the
        table auto-attaches the index (``AttachAnnIndexRule``) so the
        cost race picks the probe.  Idempotent: an existing index whose
        ``_meta.json`` matches the requested parameterization is
        registered without rebuilding (CREATE TABLE IF NOT EXISTS
        discipline); ``OR REPLACE`` forces the rebuild.  Default
        location: ``<warehouse>/vector_index/<table>__<col>``."""
        import os

        from .functions.ann_index import (
            ann_index_build,
            ann_meta_matches,
            read_ann_meta,
        )
        from .plans.plan import LogicalPlanBuilder

        opts = _with_options("VECTOR INDEX", options, {
            "m": 8, "ksub": 16, "ncells": 32, "residual": True,
            "kmeans_iters": 2, "train_iters": 0, "location": None})
        idx = opts["location"] or os.path.join(
            self.catalog.warehouse_root(), "vector_index",
            f"{table}__{vec_col}",
        )
        meta = read_ann_meta(idx)
        action = "exists"
        if replace or not ann_meta_matches(
            meta, opts["m"], opts["ksub"], opts["ncells"], opts["residual"],
            opts["kmeans_iters"], opts["train_iters"],
        ):
            df = self.dataframe(
                LogicalPlanBuilder().scan(table).build()
            )
            id_col = next(iter(self.catalog.unique_keys(table)), None)
            if id_col is None:
                raise ValueError(
                    f"CREATE VECTOR INDEX needs a declared unique key "
                    f"on {table!r} (register_unique_key)"
                )
            # size-derived build parallelism (r13, guide §2): the exact
            # corpus row count is free from the catalog's parquet-footer
            # statistics — no job, no data read
            try:
                nrows = self.catalog.statistics(table).row_count or None
            except Exception:
                nrows = None
            ann_index_build(
                df, idx, id_col, vec_col,
                m=opts["m"], ksub=opts["ksub"], ncells=opts["ncells"],
                residual=opts["residual"],
                kmeans_iters=opts["kmeans_iters"],
                train_iters=opts["train_iters"],
                corpus_rows=nrows,
            )
            action = "replaced" if meta is not None else "built"
        self.catalog.register_ann_index(table, vec_col, idx)
        return self.spark.createDataFrame(
            [(table, vec_col, idx, action)],
            "table: string, vec_col: string, index_dir: string, "
            "action: string",
        )

    def _create_tokenizer(self, replace: bool, table: str,
                          text_col: str, options: Optional[dict] = None):
        """``CREATE [OR REPLACE] TOKENIZER ON t (col) [WITH (merges=16,
        max_vocab=65536, location='<dir>')]`` (r12, VERDICT r11 item
        1) — the SQL front door of the persisted BPE tokenizer
        (``functions/bpe.py``): train the merge table ONCE, persist it
        + ``_meta.json`` guard, register in the catalog, and every
        later ``bpe_tokens`` query over a bare scan of the table
        auto-attaches the artifact (``AttachBpeTokenizerRule``) so the
        cost race picks the train-free probe.  Idempotent like CREATE
        VECTOR INDEX: an existing artifact whose _meta.json matches is
        registered without retraining; ``OR REPLACE`` forces it.
        Default location: ``<warehouse>/tokenizer/<table>__<col>``."""
        import os

        from .functions.bpe import (
            bpe_meta_matches,
            bpe_tokenizer_build,
            read_bpe_meta,
        )
        from .plans.plan import LogicalPlanBuilder

        opts = _with_options("TOKENIZER", options, {
            "merges": 16, "max_vocab": 65536, "location": None})
        tok = opts["location"] or os.path.join(
            self.catalog.warehouse_root(), "tokenizer",
            f"{table}__{text_col}",
        )
        meta = read_bpe_meta(tok)
        action = "exists"
        if replace or not bpe_meta_matches(
            meta, opts["merges"], opts["max_vocab"]
        ):
            df = self.dataframe(
                LogicalPlanBuilder().scan(table).build()
            )
            bpe_tokenizer_build(
                df, tok, text_col, num_merges=opts["merges"],
                max_vocab=opts["max_vocab"],
            )
            action = "replaced" if meta is not None else "built"
        self.catalog.register_bpe_tokenizer(table, text_col, tok)
        return self.spark.createDataFrame(
            [(table, text_col, tok, action)],
            "table: string, text_col: string, tokenizer_dir: string, "
            "action: string",
        )

    #: statement kind (``sql.parse_statement``) → handler method, called
    #: with the statement's fields as keyword arguments
    _STATEMENT_HANDLERS = {
        "query": "_query",
        "explain": "_explain",
        "explain_dml": "_explain_dml",
        "create_vector_index": "_create_vector_index",
        "drop_vector_index": "_drop_vector_index",
        "create_tokenizer": "_create_tokenizer",
        "drop_tokenizer": "_drop_tokenizer",
        "describe": "_describe",
        "describe_history": "_describe_history",
        "describe_detail": "_describe_detail",
        "analyze": "_analyze_table",
        "create_function": "_create_function",
        "create_view": "_create_view",
        "drop_view": "_drop_view",
        "show_views": "_show_views",
        "select_as_of": "_select_as_of",
        "table_changes": "_table_changes",
        "delete": "_delete",
        "update": "_update",
        "insert": "_insert",
        "insert_overwrite": "_insert_overwrite",
        "merge": "_merge_into",
        "show_tables": "_show_tables",
        "show_materialized_views": "_show_materialized_views",
        "drop_materialized_view": "_drop_materialized_view",
        "truncate": "_truncate",
        "set_tblproperties": "_set_tblproperties",
        "show_tblproperties": "_show_tblproperties",
        "add_constraint": "_add_constraint",
        "drop_constraint": "_drop_constraint",
        "show_constraints": "_show_constraints",
        "add_column": "_add_column",
        "drop_column": "_drop_column",
        "optimize": "_optimize_table",
        "vacuum": "_vacuum_table",
        "restore": "_restore",
        "shallow_clone": "_shallow_clone",
    }

    def sql(self, query: str):
        """SQL front door (entry point A of the reference, SURVEY §3).
        ``sql.parse_statement`` runs the one lexer over the text once and
        returns a ``Statement`` record; its ``kind`` picks the handler
        from ``_STATEMENT_HANDLERS``.  A query (kind ``query``) goes
        parse → optimize → execute through ``parse_sql``; DDL, DML and
        utility statements go to their handlers with fields cut from the
        source at token boundaries, so a quoted literal or a comment is
        never taken for syntax.  ``FROM/JOIN t VERSION AS OF n`` inside
        any statement other than the whole-statement ``SELECT * FROM t
        VERSION AS OF n`` is spliced to a registration of that version
        first (``_splice_time_travel``).  A query is parsed from the
        statement's tokens, not lexed a second time."""
        from .sql import parse_statement

        st = parse_statement(query)
        if st.versions and st.kind != "select_as_of":
            st = parse_statement(self._splice_time_travel(query, st.versions))
        handler = getattr(self, self._STATEMENT_HANDLERS[st.kind])
        if st.kind == "query":
            return handler(**st.args, lexed=st.lexed)
        return handler(**st.args)

    def _query(self, query: str, lexed=None):
        from .operators.extensions import LogicalSink
        from .sql import parse_sql

        plan = parse_sql(query, self.catalog, macros=self._sql_macros,
                         views=self._sql_views, lexed=lexed)
        # re-CREATE of a MATERIALIZED VIEW: drop the old metadata BEFORE
        # optimizing, or the rewrite rule could answer the definition
        # query from the very table the sink is about to overwrite
        root_op = plan.root.operator
        if isinstance(root_op, LogicalSink) and root_op.mv:
            if hasattr(self.catalog, "drop_materialized_view"):
                self.catalog.drop_materialized_view(root_op.table_name)
            # capture the Hep-normalized definition subtree for
            # join-aware view matching (RewriteAggOnViewSubtreeRule)
            from .operators.logical import LogicalAggregate

            logical = self.optimize_logical(plan)
            agg_node = logical.root.inputs[0]
            if isinstance(agg_node.operator, LogicalAggregate) and hasattr(
                self.catalog, "stash_view_definition"
            ):
                self.catalog.stash_view_definition(
                    root_op.table_name, agg_node.inputs[0]
                )
            return to_spark(
                self.optimize_physical(logical), self.spark, self.catalog
            )
        return self.dataframe(plan)

    def _explain(self, query: str, analyze: bool):
        """``EXPLAIN [ANALYZE] <query>`` — THIS engine's optimized
        logical + physical plan (with ANALYZE: annotated with actual
        rows) as a one-column DataFrame; Spark's own plan is a
        ``df.explain()`` away."""
        from .sql import parse_sql

        plan = parse_sql(query, self.catalog, macros=self._sql_macros,
                         views=self._sql_views)
        text = self.explain_analyze(plan) if analyze else self.explain(plan)
        return self.spark.createDataFrame(
            [(line,) for line in text.splitlines()], "plan: string"
        )

    def _drop_vector_index(self, table: str, vec_col: str):
        self.catalog.deregister_ann_index(table, vec_col)
        return self.spark.createDataFrame(
            [(table, vec_col, "dropped")],
            "table: string, vec_col: string, action: string",
        )

    def _drop_tokenizer(self, table: str, text_col: str):
        self.catalog.deregister_bpe_tokenizer(table, text_col)
        return self.spark.createDataFrame(
            [(table, text_col, "dropped")],
            "table: string, text_col: string, action: string",
        )

    def _describe(self, table: str):
        """``DESCRIBE [TABLE] t`` — the catalog's schema as a DataFrame
        (Spark DDL type strings, the engine's lingua franca)."""
        sch = self.catalog.schema(table)
        return self.spark.createDataFrame(
            [(f.name, f.dtype, bool(f.nullable)) for f in sch.fields],
            "col_name: string, data_type: string, nullable: boolean",
        )

    def _analyze_table(self, table: str):
        """``ANALYZE TABLE t [COMPUTE STATISTICS]`` — force-refresh the
        catalog's statistics for ``t`` and return them as a DataFrame
        (column-level ndv / top_count / min / max, plus a __table__ row
        carrying row count and avg width).  The same stats the cost
        model plans on — surfaced to the user the way Spark/metastore
        ANALYZE does."""
        st = (
            self.catalog.analyze(table)
            if hasattr(self.catalog, "analyze")
            else self.catalog.statistics(table)
        )
        rows = [
            (
                "__table__",
                int(st.row_count),
                0,
                None,
                None,
                float(st.avg_row_bytes),
            )
        ] + [
            (
                c,
                int(cs.ndv),
                int(cs.top_count),
                None if cs.min is None else float(cs.min),
                None if cs.max is None else float(cs.max),
                None,
            )
            for c, cs in st.columns
        ]
        return self.spark.createDataFrame(
            rows,
            "column_name string, ndv bigint, top_count bigint, "
            "min_v double, max_v double, avg_row_bytes double",
        )

    def _create_function(self, name: str, body: str, params: str = ""):
        """``CREATE [OR REPLACE] FUNCTION name(p1, p2) AS <expr>`` — a
        SQL MACRO (DuckDB's CREATE MACRO).  The body is parsed to
        expression IR HERE, once (nested macro calls freeze at
        definition time, so expansion can never cycle); every later
        call site substitutes its parsed arguments into the body
        structurally inside the parser (sql.py ``_call`` /
        ``_substitute_params``).  Macros cost nothing at run time."""
        from .sql import _Parser

        name = name.lower()
        params = [p.strip() for p in params.split(",") if p.strip()]
        bp = _Parser(body, self.catalog, macros=self._sql_macros)
        expr = bp._expr()
        if bp.peek().kind != "eof":
            raise ValueError(
                f"CREATE FUNCTION {name}: trailing input after body"
            )
        self._sql_macros[name] = (params, expr)
        return self.spark.createDataFrame(
            [(name, len(params))], "function string, n_args int"
        )

    def _create_view(self, replace: bool, name: str, body: str):
        """``CREATE [OR REPLACE] VIEW name AS <query>`` — a LOGICAL view
        (vs the engine's MATERIALIZED views): the text re-parses at each
        reference (late binding, standard SQL), costs nothing until
        queried, and pushes filters/pruning through because the
        reference inlines the view's plan subtree.  Persisted in
        <warehouse>/_views.json across sessions."""
        from .operators.extensions import LogicalSink
        from .sql import parse_statement, parse_sql

        name = name.lower()
        if name in self._sql_views and not replace:
            raise ValueError(
                f"view {name!r} already exists "
                "(use CREATE OR REPLACE VIEW)"
            )
        try:
            self.catalog.path(name)
        except Exception:
            pass
        else:
            raise ValueError(
                f"view name {name!r} collides with a registered table"
            )
        # validate NOW, with the view itself invisible (a view cannot
        # reference itself; replace-cycles through other views are
        # caught by the parser's nesting bound)
        plan = None
        if parse_statement(body).kind == "query":
            probe = dict(self._sql_views)
            probe.pop(name, None)
            plan = parse_sql(body, self.catalog, macros=self._sql_macros,
                             views=probe)
        if plan is None or isinstance(plan.root.operator, LogicalSink):
            raise ValueError(
                f"CREATE VIEW {name}: body must be a query, not DDL"
            )
        self._sql_views[name] = body.strip()
        self._save_views()
        return self.spark.createDataFrame([(name,)], "view string")

    def _drop_view(self, if_exists: bool, name: str):
        name = name.lower()
        if name in self._sql_views:
            del self._sql_views[name]
            self._save_views()
        elif not if_exists:
            raise ValueError(f"view {name!r} does not exist")
        return self.spark.createDataFrame([(name,)], "view string")

    def _show_views(self):
        return self.spark.createDataFrame(
            sorted(self._sql_views.items()),
            "view string, definition string",
        )

    def _select_as_of(self, table: str, version: Optional[int] = None,
                      timestamp: Optional[str] = None):
        """``SELECT * FROM t VERSION AS OF n`` / ``TIMESTAMP AS OF 'ts'``
        — TIME TRAVEL over the copy-on-write lineage: version 0 is the
        snapshot before the first rewrite, each DML/MERGE adds one.  Old
        version dirs are never touched by later rewrites (the COW
        contract), so any recorded version reads back exactly — Delta's
        VERSION AS OF over our version dirs, DV-aware.  TIMESTAMP AS OF
        reads the latest version committed at or before the instant
        (``_version_at_timestamp``).  DV-carrying versions read only
        through this form."""
        from .sources.dml import has_dv

        if timestamp is not None:
            version = self._version_at_timestamp(table, timestamp)
        path = self._version_path(table, version)
        if has_dv(path):
            # a DV'd version's content is files MINUS its sidecar;
            # dv_scan confines the anti-join to the sidecar's files
            from .execute import dv_scan

            return dv_scan(self.spark, path)
        return read_parquet(self.spark, path)

    def _delete(self, table: str, where: Optional[str] = None):
        """``DELETE FROM t [WHERE p]`` — without WHERE every row goes
        (SQL semantics)."""
        return self._retry_dml(
            table,
            lambda: self._dml_rewrite(table, delete_all=where is None,
                                      delete_where=where),
            pred_text=where,
        )

    def _update(self, table: str, sets: dict, where: Optional[str] = None):
        return self._retry_dml(
            table,
            lambda: self._dml_rewrite(table, sets=sets, where=where),
            pred_text=where,
        )

    def _insert(self, table: str, source: str, values: bool,
                columns: Optional[str] = None):
        return self._retry_dml(
            table,
            lambda: self._dml_insert(table, source, columns=columns,
                                     values=values),
            append_only=True,
        )

    def _insert_overwrite(self, table: str, source: str, values: bool,
                          columns: Optional[str] = None):
        return self._retry_dml(
            table,
            lambda: self._dml_insert(table, source, columns=columns,
                                     overwrite=True, values=values),
        )

    def _show_tables(self):
        rows = sorted(
            (t, self.catalog.format(t), self.catalog.path(t))
            for t in self.catalog.table_names()
        ) if hasattr(self.catalog, "table_names") else []
        return self.spark.createDataFrame(
            rows or [("", "", "")],
            "table_name string, format string, location string",
        ).filter("table_name <> ''")

    def _describe_history(self, table: str):
        """``DESCRIBE HISTORY t`` — the version lineage from the
        (persisted) log: version number, operation tag, commit time,
        location.  Delta's DESCRIBE HISTORY surface over our version
        dirs."""
        import datetime as _dt
        import os as _os

        hist = self._table_history.get(table)
        if hist is not None and hist[-1] != self.catalog.path(table):
            hist = None  # stale lineage
        if hist is None:
            hist = [self.catalog.path(table)]  # raises if unregistered
            ops = ["base"]
        else:
            ops = self._table_ops.get(table) or ["base"] + ["write"] * (
                len(hist) - 1
            )
        cts = self._table_commit_ts.get(table)
        if not cts or len(cts) != len(hist):
            cts = [_os.path.getmtime(p) for p in hist]
        iso = [
            _dt.datetime.fromtimestamp(t, _dt.timezone.utc)
            .isoformat(timespec="seconds")
            for t in cts
        ]
        return self.spark.createDataFrame(
            [
                (i, o, ts, p)
                for i, (p, o, ts) in enumerate(zip(hist, ops, iso))
            ],
            "version int, operation string, commit_ts string, "
            "location string",
        )

    def _describe_detail(self, table: str):
        """``DESCRIBE DETAIL t`` (Delta's surface): one row of table
        metadata, all from LOCAL file/state inspection — no scan."""
        import json as _json
        import os as _os

        from .sources.dml import data_files, has_dv, partition_columns

        path = self.catalog.path(table)  # raises if unregistered
        files = data_files(path)
        size = 0
        for f in files:
            try:
                size += _os.path.getsize(f)
            except OSError:
                pass
        hist = self._table_history.get(table)
        if hist is not None and hist[-1] != path:
            hist = None
        return self.spark.createDataFrame(
            [
                (
                    table,
                    self.catalog.format(table),
                    path,
                    len(files),
                    size,
                    len(hist) if hist else 1,
                    ",".join(partition_columns(path)),
                    has_dv(path),
                    _json.dumps(
                        self._table_props.get(table, {}), sort_keys=True
                    ),
                    _json.dumps(
                        self._table_constraints.get(table, {}),
                        sort_keys=True,
                    ),
                )
            ],
            "table_name string, format string, location string, "
            "num_files int, size_bytes bigint, num_versions int, "
            "partition_columns string, has_dv boolean, "
            "properties string, constraints string",
        )

    def _show_materialized_views(self):
        rows = [
            (
                mv.name,
                mv.source_table or "<subtree>",
                ", ".join(mv.group_cols),
                ", ".join(c for c, _ in mv.agg_defs),
            )
            for mv in getattr(self.catalog, "materialized_views", tuple)()
        ]
        return self.spark.createDataFrame(
            rows,
            "name: string, source: string, group_cols: string, partials: string",
        )

    def _drop_materialized_view(self, name: str):
        # metadata-only: the rewrite rule stops matching; the backing
        # table files stay (a warehouse would garbage-collect them)
        if hasattr(self.catalog, "drop_materialized_view"):
            self.catalog.drop_materialized_view(name)
        return self.spark.range(0)

    def _truncate(self, table: str):
        """``TRUNCATE TABLE t`` = versioned delete-all (time travel keeps
        the pre-truncate versions, exactly like DELETE FROM t)."""
        return self._dml_rewrite(table, delete_all=True)

    def _show_tblproperties(self, table: str):
        rows = sorted(self._table_props.get(table, {}).items())
        return self.spark.createDataFrame(
            rows or [("", "")], "key string, value string"
        ).filter("key <> ''")

    def _drop_constraint(self, table: str, name: str):
        cons = self._table_constraints.get(table, {})
        if name not in cons:
            raise ValueError(f"table {table!r} has no constraint {name!r}")
        del cons[name]
        if table in self._table_history:
            self._persist_versions(table)
        return self.spark.createDataFrame(
            [(table, name)], "table_name string, dropped string"
        )

    def _show_constraints(self, table: str):
        rows = sorted(self._table_constraints.get(table, {}).items())
        return self.spark.createDataFrame(
            rows or [("", "")],
            "constraint_name string, check_expr string",
        ).filter("constraint_name <> ''")

    def _add_column(self, table: str, column: str, dtype: str):
        return self._alter_table(table, add=(column, dtype.strip().lower()))

    def _drop_column(self, table: str, column: str):
        return self._alter_table(table, drop=column)

    def _restore(self, table: str, version: Optional[int] = None,
                 timestamp: Optional[str] = None):
        """``RESTORE TABLE t TO VERSION AS OF n`` / ``TO TIMESTAMP AS OF
        'ts'`` — an instant resolves like TIMESTAMP AS OF, then the
        version-addressed restore does the rest."""
        if timestamp is not None:
            version = self._version_at_timestamp(table, timestamp)
        return self._restore_table(table, version)

    def _retry_dml(self, table, stmt_fn, pred_text=None,
                   append_only=False):
        """Run a DML statement; on a ``ConcurrentWriteError``, attempt
        Delta-style RETRY-WITH-REBASE (VERDICT r8 item 5): when the
        other writer's commits are provably DISJOINT from this
        statement's touch set, adopt their lineage suffix and re-execute
        the statement against the new head — statement-level
        serialization (them, then us), a linear history, no lost work.
        A provable overlap (or an unprovable one) re-raises: the user
        must re-read and decide, exactly as before."""
        from .sources.dml import ConcurrentWriteError

        try:
            return stmt_fn()
        except ConcurrentWriteError:
            if not self._rebase_lineage(table, pred_text, append_only):
                raise
            return stmt_fn()

    def _rebase_lineage(self, table, pred_text=None,
                        append_only=False) -> bool:
        """Try to adopt another writer's committed lineage suffix so a
        conflicting statement can re-execute (the rebase of
        ``_retry_dml``).  Safe — returns True and fast-forwards the
        planner's in-memory lineage + catalog registration to the
        persisted head — iff:

        * our recorded history is a strict PREFIX of the persisted log
          (the other writer only appended; anything else is divergence),
        * the foreign commits did not change any DELETION-VECTOR
          sidecar (a DV write marks rows inside carried files — file
          identity alone can't prove disjointness), and
        * the set of data files the foreign commits REMOVED or
          REWROTE (inode diff of consecutive version dirs, the same
          proof ``_table_changes`` uses) is disjoint from this
          statement's touch set: nothing for an append-only INSERT,
          the footer-band overlap of ``pred_text``'s conjuncts for a
          pruned DELETE/UPDATE, every file otherwise.

        The touch set is evaluated against OUR stale head — the foreign
        ``removed`` set is relative to the same snapshot, so the
        intersection is exact, not heuristic."""
        import os

        from .sources.dml import (
            VersionLog,
            data_files,
            dv_path,
            file_bands,
            file_excluded,
            has_dv,
            prune_conjuncts,
        )

        if not getattr(self.catalog, "_warehouse", None):
            return False
        vlog = VersionLog(self.catalog.warehouse_root())
        persisted = vlog.load(table)
        ours = self._table_history.get(table)
        if (
            not persisted
            or not ours
            or len(persisted) <= len(ours)
            or persisted[: len(ours)] != ours
        ):
            return False  # divergent or unreadable — no safe rebase

        def inodes(path):
            out = {}
            for f in data_files(path):
                try:
                    st = os.stat(f)
                except OSError:
                    continue
                out[(st.st_dev, st.st_ino)] = f
            return out

        def dv_names(path):
            if not has_dv(path):
                return frozenset()
            dvp = dv_path(path)
            try:
                return frozenset(
                    f for f in os.listdir(dvp) if f.endswith(".parquet")
                )
            except OSError:
                return frozenset({"__unreadable__"})

        removed: set = set()
        prev = persisted[len(ours) - 1]
        for nxt in persisted[len(ours):]:
            if dv_names(prev) != dv_names(nxt):
                return False  # DV changed: row-level marks, can't prove
            a, b = inodes(prev), inodes(nxt)
            removed |= {f for k, f in a.items() if k not in b}
            prev = nxt
        if removed and not append_only:
            touched = None  # None = all files (no provable pruning)
            if pred_text is not None:
                conj = prune_conjuncts(pred_text, macros=self._sql_macros)
                if conj:
                    head_files = data_files(ours[-1])
                    bands = file_bands(
                        head_files, {c[0] for c in conj},
                        table_path=ours[-1],
                    )
                    touched = {
                        f
                        for f in head_files
                        if not file_excluded(bands[f], conj)
                    }
            if touched is None:
                return False
            # compare by inode: the foreign version carries our head's
            # untouched files as hardlinks under NEW paths
            def inoset(paths):
                out = set()
                for f in paths:
                    try:
                        st = os.stat(f)
                    except OSError:
                        continue
                    out.add((st.st_dev, st.st_ino))
                return out

            if inoset(touched) & inoset(removed):
                return False
        # fast-forward: adopt the persisted lineage wholesale
        self._table_history[table] = list(persisted)
        ops = vlog.load_ops(table)
        self._table_ops[table] = (
            list(ops)
            if ops and len(ops) == len(persisted)
            else ["base"] + ["write"] * (len(persisted) - 1)
        )
        cts = vlog.load_commit_ts(table)
        if cts and len(cts) == len(persisted):
            self._table_commit_ts[table] = list(cts)
        else:
            self._table_commit_ts.pop(table, None)
        self._cow_versions[table] = len(persisted) - 1
        self.catalog.register(
            table, persisted[-1], keep_schema_override=True
        )
        return True

    def _cow_dest(self, table: str, op: str = "write") -> str:
        """Next copy-on-write destination for a DML/MERGE rewrite of
        ``table``: version dirs increment so a rewrite NEVER writes into
        the files it is reading (the chained-DML self-overwrite trap).
        Old versions linger for time-travel/GC — a warehouse concern,
        same as Delta's vacuum.  A table whose registration no longer
        matches its recorded head (re-created by CTAS, re-registered at
        new data) starts a FRESH lineage — the old log is dead.  ``op``
        tags the version for DESCRIBE HISTORY."""
        import uuid

        from .sources.dml import ConcurrentWriteError, VersionLog

        cur = self.catalog.path(table)
        hist = self._table_history.get(table)
        if hist is None or hist[-1] != cur:
            hist = [cur]
            self._table_history[table] = hist
            self._table_ops[table] = ["base"]
            import time as _time

            self._table_commit_ts[table] = [_time.time()]
            self._cow_versions[table] = 0
            # fresh lineage → fresh token (a persisted log from a
            # re-created table's DEAD lineage carries a different one)
            self._table_lineage[table] = uuid.uuid4().hex
        else:
            # optimistic concurrency (Delta-style commit check): if the
            # persisted log carries OUR lineage token but a version set
            # we don't know about, another writer advanced the lineage
            # since we last saw it — fail the statement instead of
            # silently overwriting their version dir
            tok = self._table_lineage.get(table)
            if tok is not None and getattr(self.catalog, "_warehouse", None):
                try:
                    vlog = VersionLog(self.catalog.warehouse_root())
                    if (
                        vlog.load_lineage(table) == tok
                        and (vlog.load(table) or hist) != hist
                    ):
                        raise ConcurrentWriteError(
                            f"table {table!r}: another writer advanced "
                            "this lineage — re-read and retry"
                        )
                except OSError:
                    pass
        n = self._cow_versions[table] + 1
        self._cow_versions[table] = n
        dest = self.catalog.warehouse_path(f"{table}__v{n}")
        hist.append(dest)
        self._table_ops.setdefault(table, ["base"] * (len(hist) - 1)).append(op)
        import time as _time

        self._table_commit_ts.setdefault(
            table, [0.0] * (len(hist) - 1)
        ).append(_time.time())
        return dest

    def _sql_expr_column(self, text: str):
        """A scalar SQL expression from DML text → a Spark Column, via
        this engine's parser so CREATE FUNCTION macros expand (the DML
        statements never reach ``parse_sql``; this is their expression
        front door).  Any shape the parser doesn't model falls back to
        ``F.expr`` verbatim — macros can't appear there, plain Spark SQL
        can."""
        from pyspark.sql import functions as F

        try:
            from .expr import Col
            from .sql import _Parser, _rewrite_cols

            p = _Parser(text, self.catalog, macros=self._sql_macros)
            e = p._expr()
            if p.peek().kind != "eof":
                raise ValueError("trailing input")
            # keep alias qualifiers (MERGE's `s.v`): Col.to_column drops
            # the qualifier, F.col("s.v") resolves it on the joined DF
            e = _rewrite_cols(
                e,
                lambda c: Col(f"{c.qualifier}.{c.name}")
                if c.qualifier
                else c,
            )
            return e.to_column()
        except Exception:
            return F.expr(text)

    def _explain_dml(self, table, pred_text, kind):
        """The DML pruner's verdict as a DataFrame, nothing executed:
        total data files, how many the predicate provably cannot touch
        (carried forward as links), how many would be rewritten, and
        whether pruning applied at all ("full rewrite" = no usable
        conjuncts / no stats / not parquet)."""
        from .execute import SparkExecutor
        from .sources.dml import data_files

        ex = SparkExecutor(self.spark, self.catalog)
        fmt = self.catalog.format(table)
        schema = ex._base_scan(table, fmt).schema
        files = data_files(self.catalog.path(table))
        kept, _ = self._prune_rewrite_set(table, fmt, schema, pred_text)
        n_kept = len(kept) if kept else 0
        mode = "pruned rewrite" if kept else "full rewrite"
        return self.spark.createDataFrame(
            [
                (
                    kind,
                    table,
                    pred_text or "<all rows>",
                    mode,
                    len(files),
                    n_kept,
                    len(files) - n_kept,
                )
            ],
            "statement string, table_name string, predicate string, "
            "mode string, data_files int, files_carried int, "
            "files_rewritten int",
        )

    def _prune_rewrite_set(self, table, fmt, schema, pred_text):
        """File-level pruning for a predicated rewrite (VERDICT r7 item
        3): returns ``(kept_files, rewrite_df)`` where ``kept_files``
        provably contain no row matching the predicate (parquet-footer
        min/max vs the predicate's col-op-literal conjuncts,
        sources/dml.py) and ``rewrite_df`` scans ONLY the remaining
        files.  ``(None, None)`` means pruning does not apply (not
        parquet, no usable conjuncts, no stats) — caller rewrites the
        whole table, exactly the r7 behavior."""
        from .sources.dml import (
            data_files,
            file_bands,
            file_excluded,
            prune_conjuncts,
        )

        if fmt != "parquet" or not pred_text:
            return None, None
        path = self.catalog.path(table)
        files = data_files(path)
        cols_present = {f.name for f in schema.fields}
        conj = [
            c
            for c in prune_conjuncts(pred_text, macros=self._sql_macros)
            if c[0] in cols_present
        ]
        if not files or not conj:
            return None, None
        # table_path lets hive partition values contribute exact point
        # bands — a predicate on the partition column prunes perfectly
        bands = file_bands(files, {c[0] for c in conj}, table_path=path)
        kept = [f for f in files if file_excluded(bands[f], conj)]
        if not kept:
            return None, None  # nothing provable — plain full rewrite
        kept_set = set(kept)
        rewrite = [f for f in files if f not in kept_set]
        if rewrite:
            from .sources.dml import has_dv

            if has_dv(path):
                # rows already deletion-vector-marked must not
                # resurrect in the rewrite output
                from .execute import apply_dv, scan_with_rowid

                df = apply_dv(
                    self.spark,
                    scan_with_rowid(
                        self.spark, path, schema=schema,
                        files=rewrite, base=path,
                    ),
                    path,
                )
            else:
                # basePath keeps partition-column derivation from the
                # key=value dirs when reading an explicit file list
                df = read_parquet(
                    self.spark, *rewrite, base=path, schema=schema
                )
        else:
            df = self.spark.createDataFrame([], schema)
        return kept, df

    def _dml_rewrite(
        self, table, delete_where=None, sets=None, where=None,
        delete_all=False,
    ):
        """``DELETE FROM t WHERE …`` / ``UPDATE t SET … [WHERE …]`` —
        COPY-ON-WRITE like MERGE INTO: compute the surviving/updated
        rows for the files the predicate can touch, write those to a
        fresh warehouse dir, carry every provably-untouched file
        forward as a hardlink (``_prune_rewrite_set``), re-register the
        name, and return a scan of the persisted table (the read files
        are never touched mid-rewrite).  A selective DELETE on
        clustered data rewrites only the overlapping files — O(delta),
        not O(table); no stats / no provable conjuncts falls back to
        the full rewrite."""
        from pyspark.sql import functions as F

        from .execute import SparkExecutor
        from .plans.plan import LogicalPlanBuilder
        from .sources.dml import link_files

        from .sources.dml import partition_columns

        ex = SparkExecutor(self.spark, self.catalog)
        fmt = self.catalog.format(table)
        old_path = self.catalog.path(table)
        if (
            fmt == "parquet"
            and not delete_all
            and (delete_where is not None or where is not None)
            and self._dv_mode(table)
        ):
            # merge-on-read: write a deletion vector, rewrite nothing
            # (predicate-less UPDATE falls through — rewriting every
            # row is the honest cost there, and CoW does it in place)
            return self._dml_mor(table, delete_where, sets, where)
        pcols = partition_columns(old_path) if fmt == "parquet" else []
        df = ex._base_scan(table, fmt)
        pred_text = delete_where if delete_where is not None else where
        kept, pruned_df = self._prune_rewrite_set(
            table, fmt, df.schema, pred_text
        )
        if pruned_df is not None:
            df = pruned_df
        if delete_all:
            out = df.filter(F.lit(False))  # empty, schema preserved
        elif delete_where is not None:
            out = df.filter(
                ~self._sql_expr_column(delete_where).eqNullSafe(F.lit(True))
            )
        else:
            cond = self._sql_expr_column(where) if where else F.lit(True)
            out = df.select(
                *[
                    (
                        F.when(cond, self._sql_expr_column(sets[f.name]))
                        .otherwise(F.col(f.name))
                        .cast(f.dataType)
                        if f.name in sets
                        else F.col(f.name)
                    ).alias(f.name)
                    for f in df.schema.fields
                ]
            )
        if sets is not None:
            # UPDATE can break a CHECK; DELETE never can — validate the
            # rewritten slice (the only rows whose values change)
            self._enforce_constraints(table, out)
        dest = self._cow_dest(
            table, op="delete" if delete_where is not None or delete_all else "update"
        )
        if kept:
            # pruned rewrite: right-size the (small) rewritten slice
            out = out.hint("rebalance")
        w = out.write.mode("overwrite")
        if pcols:
            w = w.partitionBy(*pcols)  # preserve the hive layout
        w.parquet(dest)
        if kept:
            link_files(kept, dest, base=old_path)
            self._carry_dv(old_path, dest, kept)
        self.catalog.register(table, dest, keep_schema_override=True)
        self._persist_versions(table)
        return self.dataframe(LogicalPlanBuilder().scan(table).build())

    def _dml_insert(self, table, select_sql, columns=None,
                    overwrite=False, values=False):
        """``INSERT INTO t [(c1, …)] SELECT …|VALUES (…), …`` —
        DELTA-SIZED append (VERDICT r7 item 2): the source query runs
        through the full optimizer pipeline and its rows are written as
        NEW parquet files in the next version dir; every existing data
        file is carried forward as a hardlink (sources/dml.py
        link_files) — O(delta) bytes written, O(files) link syscalls,
        the original files never touched (time travel keeps reading
        them).  A VALUES list lowers to ``select * from (values …)``
        over the target columns; an explicit column list maps the
        source positionally and fills the remaining columns with NULL.
        New rows are cast to the table schema so mixed-provenance files
        stay read-compatible.  Non-parquet sources fall back to the
        full union rewrite (their files cannot share a parquet
        directory).

        ``overwrite=True`` is ``INSERT OVERWRITE [TABLE] t`` (r10 —
        Spark SQL's static overwrite / Delta's replace): the result
        REPLACES the table's contents as a new ``overwrite``-tagged
        version — no previous file is carried forward, previous
        versions stay time-travelable, and the same positional column
        mapping / NULL fill / schema cast applies.  ``values`` says
        ``select_sql`` is a ``VALUES (…), …`` list."""
        from .execute import SparkExecutor
        from .sql import parse_sql

        ex = SparkExecutor(self.spark, self.catalog)
        fmt = self.catalog.format(table)
        cur = ex._base_scan(table, fmt)
        names = [f.name for f in cur.schema.fields]
        target = (
            [c.strip() for c in columns.split(",") if c.strip()]
            if columns
            else names
        )
        # unknown-column validation happens in insert_dataframe, which
        # also owns the schema_evolution='auto' path (r9) — explicitly
        # listed new columns auto-ADD there instead of erroring here
        if values:
            select_sql = (
                f"select * from ({select_sql}) __ins({', '.join(target)})"
            )
        new_rows = self.dataframe(
            parse_sql(select_sql, self.catalog, macros=self._sql_macros,
                      views=self._sql_views)
        )
        if len(new_rows.columns) != len(target):
            raise ValueError(
                f"INSERT INTO {table}: {len(target)} target column(s) "
                f"but the source produces {len(new_rows.columns)}"
            )
        if overwrite:
            return self.overwrite_dataframe(table, new_rows, columns=target)
        return self.insert_dataframe(table, new_rows, columns=target)

    def overwrite_dataframe(self, table, new_rows, columns=None):
        """Replace a versioned table's contents with ``new_rows`` as a
        NEW version — the body of ``INSERT OVERWRITE`` (r10).  Columns
        map positionally onto ``columns`` (remaining table columns fill
        NULL), rows cast to the table schema, constraints validate the
        FULL new contents (they ARE the delta here).  No file of the
        previous version is carried or touched; DESCRIBE HISTORY shows
        an ``overwrite`` version and time travel keeps reading the old
        ones.  Returns a scan of the persisted table."""
        from pyspark.sql import functions as F

        from .execute import SparkExecutor
        from .plans.plan import LogicalPlanBuilder
        from .sources.dml import partition_columns

        ex = SparkExecutor(self.spark, self.catalog)
        fmt = self.catalog.format(table)
        cur = ex._base_scan(table, fmt)
        names = [f.name for f in cur.schema.fields]
        target = list(columns) if columns else names
        unknown = [c for c in target if c not in names]
        if unknown:
            raise ValueError(
                f"INSERT OVERWRITE {table}: unknown column(s) {unknown} "
                "— overwrite replaces contents, not schema; evolve via "
                "INSERT with schema_evolution='auto' or CREATE TABLE AS"
            )
        by_name = new_rows.toDF(*target)
        aligned = by_name.select(
            *[
                (F.col(f.name) if f.name in target else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
                for f in cur.schema.fields
            ]
        )
        self._enforce_constraints(table, aligned)
        old_path = self.catalog.path(table)
        pcols = partition_columns(old_path) if fmt == "parquet" else []
        dest = self._cow_dest(table, op="overwrite")
        w = aligned.write.mode("overwrite")
        if pcols:
            w = w.partitionBy(*pcols)
        w.parquet(dest)
        self.catalog.register(table, dest, keep_schema_override=True)
        self._persist_versions(table)
        self._maybe_auto_compact(table)
        return self.dataframe(LogicalPlanBuilder().scan(table).build())

    def insert_dataframe(self, table, new_rows, columns=None, op="insert"):
        """Delta-append a DataFrame to a versioned table — the body of
        ``INSERT INTO`` and the append the streaming versioned-ingest
        sink calls per micro-batch (streaming/pipeline.py).  ``columns``
        maps the source positionally onto those target columns
        (remaining table columns fill NULL); rows cast to the table
        schema.  Returns a scan of the persisted table.

        AUTOMATIC SCHEMA EVOLUTION (r9): with table property
        ``schema_evolution='auto'`` (Delta's mergeSchema), explicitly
        listed INSERT columns the table doesn't have yet are ADDED via
        the metadata-only ALTER machinery (type from the source
        DataFrame) instead of erroring — old files null-fill the new
        columns on read, the delta file materializes them physically,
        and the evolved schema rides the persisted version log exactly
        like a hand-written ALTER TABLE ADD COLUMN."""
        from pyspark.sql import functions as F

        from .execute import SparkExecutor
        from .plans.plan import LogicalPlanBuilder
        from .sources.dml import data_files, link_files, partition_columns

        ex = SparkExecutor(self.spark, self.catalog)
        fmt = self.catalog.format(table)
        cur = ex._base_scan(table, fmt)
        names = [f.name for f in cur.schema.fields]
        target = list(columns) if columns else names
        unknown = [c for c in target if c not in names]
        if unknown:
            auto = (
                self._table_props.get(table, {})
                .get("schema_evolution", "")
                .strip()
                .lower()
                == "auto"
            )
            if not auto or columns is None:
                raise ValueError(
                    f"INSERT INTO {table}: unknown column(s) {unknown}"
                    + (
                        ""
                        if auto
                        else " — set table property "
                        "schema_evolution='auto' (and list the insert "
                        "columns) to auto-add them"
                    )
                )
            src_types = dict(
                zip(target, (f.dataType for f in new_rows.schema.fields))
            )
            for c in unknown:
                self._alter_table(
                    table, add=(c, src_types[c].simpleString())
                )
            cur = ex._base_scan(table, fmt)  # re-open with the evolution
            names = [f.name for f in cur.schema.fields]
        by_name = new_rows.toDF(*target)  # positional → target names
        aligned = by_name.select(
            *[
                (
                    F.col(f.name) if f.name in target else F.lit(None)
                )
                .cast(f.dataType)
                .alias(f.name)
                for f in cur.schema.fields
            ]
        )
        self._enforce_constraints(table, aligned)
        old_path = self.catalog.path(table)
        files = data_files(old_path) if fmt == "parquet" else []
        pcols = partition_columns(old_path) if files else []
        dest = self._cow_dest(table, op=op)
        # REBALANCE before writing: a tiny delta filtered from a
        # many-partition scan would otherwise write one (mostly empty)
        # file per task — the small-files problem that kills listing
        # and footer costs at 100 TB.  AQE coalesces the rebalance
        # shuffle to size-appropriate partitions (Delta's "optimized
        # write"); the shuffle is O(delta)
        if files:
            w = aligned.hint("rebalance").write.mode("overwrite")
            if pcols:
                w = w.partitionBy(*pcols)
            w.parquet(dest)
            link_files(files, dest, base=old_path)
            self._carry_dv(old_path, dest, files)
        else:
            cur.unionByName(aligned).write.mode("overwrite").parquet(dest)
        self.catalog.register(table, dest, keep_schema_override=True)
        self._persist_versions(table)
        self._maybe_auto_compact(table)
        return self.dataframe(LogicalPlanBuilder().scan(table).build())

    def drop_head_version(self, table: str) -> None:
        """Roll the lineage back ONE version (drop the head) — the
        streaming ingest's crash-replay primitive: a micro-batch that
        appended its version but died before the stream checkpoint
        committed is an ORPHAN; the replay drops it and re-appends, so
        versions stay exactly-once (the same predecessor-read
        discipline as the CDC upsert's versioned snapshots)."""
        hist = self._table_history.get(table)
        if not hist or len(hist) < 2:
            raise ValueError(f"table {table!r} has no head version to drop")
        hist.pop()
        ops = self._table_ops.get(table)
        if ops:
            ops.pop()
        cts = self._table_commit_ts.get(table)
        if cts:
            cts.pop()
        self._cow_versions[table] -= 1
        self.catalog.register(table, hist[-1], keep_schema_override=True)
        self._persist_versions(table)

    def _merge_into(self, target, t_alias, source, s_alias, on, clauses,
                    keys, prune_keys):
        """SQL ``MERGE INTO`` — the Delta/Iceberg upsert surface, built
        from the engine's primitives: ONE full-outer equi-join between
        target and source, per-column CASE (matched → UPDATE SET exprs
        or DELETE; target-only → keep; source-only → INSERT *), written
        COPY-ON-WRITE to a fresh warehouse dir and re-registered under
        the target's name (the original files are never touched while
        being read — the same discipline as the streaming CDC upsert's
        versioned snapshots).  Returns a scan of the PERSISTED merged
        table.  Contract: the ON condition's key columns are non-null
        (they define row presence), and INSERT * requires the source to
        carry every target column by name.  ``clauses`` is the ordered
        multi-clause WHEN list of ``(kind, cond, sets)`` (sql.py
        ``_merge_clause``, Delta's grammar): any number of ``WHEN
        MATCHED [AND cond] THEN UPDATE
        SET … | DELETE`` — first applicable clause wins, a matched row
        no clause covers keeps its values — ``WHEN NOT MATCHED [AND
        cond] THEN INSERT *`` — a source-only row no clause covers is
        NOT inserted (omit the NOT MATCHED arm for update-only merges)
        — and (r9) ``WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE
        SET … | DELETE`` — target rows with no source match (Delta's
        sync-deletion arm; its presence disables source-range file
        pruning, since every file can hold unmatched rows).  ``keys``
        is the ``(target, source)`` column pair of ON's first
        cross-alias equality, which defines row presence;
        ``prune_keys`` is such a pair only when it is a necessary
        condition of ON (sql.py ``_merge_on``), else None."""
        from pyspark.sql import functions as F

        from .execute import SparkExecutor
        from .plans.plan import LogicalPlanBuilder

        from .sources.dml import (
            data_files,
            file_bands,
            file_excluded,
            link_files,
        )

        ex = SparkExecutor(self.spark, self.catalog)
        tfmt = self.catalog.format(target)
        tbase = ex._base_scan(target, tfmt)
        tschema = tbase.schema  # before alias — the ADVICE fix: the
        # column list comes from the already-opened format-aware scan,
        # never a parquet re-read of a csv/orc/json-registered table
        sbase = ex._base_scan(source, self.catalog.format(source))
        # INSERT * fills every target column from the source by name
        # (Spark resolves names case-insensitively)
        s_cols = {f.name.lower() for f in sbase.schema.fields}
        s_missing = [
            f.name for f in tschema.fields if f.name.lower() not in s_cols
        ]
        if s_missing and any(kind == "nmt" for kind, _c, _a in clauses):
            raise ValueError(
                f"MERGE INTO {target}: WHEN NOT MATCHED THEN INSERT * "
                f"needs every target column in the source, but {source} "
                f"lacks {s_missing} — add them to the source (e.g. NULL "
                f"columns of the target's types)"
            )
        # MERGE-TIME AUTOMATIC SCHEMA EVOLUTION (r10, VERDICT item 1):
        # with table property ``schema_evolution='auto'`` (Delta's
        # mergeSchema-for-MERGE), source columns the target lacks are
        # ADDED through the metadata-only ALTER machinery when the
        # statement can write them — an ``INSERT *`` arm (new source
        # columns ride the insert), ``UPDATE SET *``, or an explicit
        # ``UPDATE SET new_col = …`` assignment.  Old files null-fill
        # the new columns on read; the merge's copy-on-write output
        # materializes them physically; the evolved schema rides the
        # persisted version log — identical contract to the INSERT
        # path (insert_dataframe above).
        auto_evolve = (
            self._table_props.get(target, {})
            .get("schema_evolution", "")
            .strip()
            .lower()
            == "auto"
        )
        if auto_evolve:
            tcols = {f.name for f in tschema.fields}
            s_types = {f.name: f.dataType for f in sbase.schema.fields}
            wanted: list = []
            if any(kind == "nmt" for kind, _c, _a in clauses):
                wanted += [c for c in s_types if c not in tcols]
            for kind, _c, sets in clauses:
                if kind not in ("m", "nms") or sets is None:
                    continue
                if sets == "*":
                    wanted += [c for c in s_types if c not in tcols]
                else:
                    for key in sets:
                        bare = key.split(".")[-1].strip()
                        if bare not in tcols and bare in s_types:
                            wanted.append(bare)
            added = False
            for c in dict.fromkeys(wanted):  # ordered dedup
                self._alter_table(target, add=(c, s_types[c].simpleString()))
                added = True
            if added:
                tbase = ex._base_scan(target, tfmt)
                tschema = tbase.schema
        tk, sk = keys
        # file pruning by the SOURCE's key range (VERDICT r7 item 3):
        # a target file whose key band cannot intersect [min(sk),
        # max(sk)] has no matched row, and inserts only create NEW
        # files — it carries forward untouched as a hardlink.  The
        # range agg is a bounded driver scalar (one row); upserts are
        # typically key-clustered deltas, so this confines the
        # full-outer join to the overlapping slice of the target.
        #
        # SAFETY GATE (r9, ADVICE): ``prune_keys`` is None unless ON is
        # a pure conjunction with a ``t.x = s.y`` top-level conjunct —
        # under a disjunctive ON a file outside the k-band can still
        # hold matched rows; pruning it would silently skip their
        # UPDATE/DELETE.
        prune_tk, prune_sk = prune_keys or (None, None)
        if any(kind == "nms" for kind, _c, _a in clauses):
            # WHEN NOT MATCHED BY SOURCE touches target rows with NO
            # source match — every file can hold them, so source-range
            # pruning is unsound for this statement shape
            prune_tk = None
        from .sources.dml import partition_columns

        kept: list = []
        t_path = self.catalog.path(target)
        pcols = partition_columns(t_path) if tfmt == "parquet" else []
        if tfmt == "parquet" and prune_tk is not None:
            tfiles = data_files(t_path)
            if tfiles:
                r0 = sbase.agg(
                    F.min(prune_sk).alias("lo"),
                    F.max(prune_sk).alias("hi"),
                ).collect()[0]
                if r0["lo"] is not None:
                    bands = file_bands(tfiles, {prune_tk}, table_path=t_path)
                    rng = [
                        (prune_tk, ">=", r0["lo"]),
                        (prune_tk, "<=", r0["hi"]),
                    ]
                    kept = [
                        f for f in tfiles if file_excluded(bands[f], rng)
                    ]
                if kept:
                    kset = set(kept)
                    rfiles = [f for f in tfiles if f not in kset]
                    if not rfiles:
                        tbase = self.spark.createDataFrame([], tschema)
                    else:
                        from .sources.dml import has_dv

                        if has_dv(t_path):
                            # DV-marked rows must not re-enter via the
                            # explicit overlap-slice read
                            from .execute import apply_dv, scan_with_rowid

                            tbase = apply_dv(
                                self.spark,
                                scan_with_rowid(
                                    self.spark, t_path, schema=tschema,
                                    files=rfiles, base=t_path,
                                ),
                                t_path,
                            )
                        else:
                            tbase = read_parquet(
                                self.spark, *rfiles, base=t_path,
                                schema=tschema,
                            )
        tdf = tbase.alias(t_alias)
        sdf = sbase.alias(s_alias)
        matched = (
            F.expr(f"{t_alias}.{tk}").isNotNull()
            & F.expr(f"{s_alias}.{sk}").isNotNull()
        )
        in_target = F.expr(f"{t_alias}.{tk}").isNotNull()
        joined = tdf.join(sdf, on=F.expr(on), how="full_outer")

        # ordered clause dispatch (first applicable wins — a chained
        # WHEN is exactly that): per matched clause, its parsed SET map
        # (None = DELETE); per not-matched clause, its condition.
        def ccond(cond):
            # through the engine's expression front door so CREATE
            # FUNCTION macros expand (falls back to F.expr for shapes
            # the parser doesn't model, e.g. alias-qualified refs)
            return (
                self._sql_expr_column(cond).eqNullSafe(F.lit(True))
                if cond is not None
                else F.lit(True)
            )

        def _set_map(sets):
            # UPDATE SET * (Delta): every target column the source
            # carries by name takes the source value; target-only
            # columns keep
            if sets != "*":
                return sets
            tcols_now = {f.name for f in tschema.fields}
            return {
                f.name: f"{s_alias}.{f.name}"
                for f in sbase.schema.fields
                if f.name in tcols_now
            }

        m_clauses = []  # (cond Column, sets dict | None-for-delete)
        nm_conds = []  # insert-clause conditions, in order
        nms_clauses = []  # not-matched-BY-SOURCE: (cond, sets|None)
        for kind, cond, sets in clauses:
            if kind == "m":
                m_clauses.append((ccond(cond), _set_map(sets)))
            elif kind == "nms":
                nms_clauses.append((ccond(cond), _set_map(sets)))
            else:
                nm_conds.append(ccond(cond))

        # row dropped ⇔ its first applicable MATCHED clause is DELETE,
        # or (target-only) its first applicable BY SOURCE clause is
        def _delete_chain(cls):
            chain = None
            for c, sets in cls:
                chain = (
                    F.when(c, F.lit(sets is None))
                    if chain is None
                    else chain.when(c, F.lit(sets is None))
                )
            return chain

        del_chain = _delete_chain(m_clauses)
        deleted = (
            matched & F.coalesce(del_chain, F.lit(False))
            if del_chain is not None
            else F.lit(False)
        )
        nms_del_chain = _delete_chain(nms_clauses)
        if nms_del_chain is not None:
            deleted = deleted | (
                in_target
                & ~matched
                & F.coalesce(nms_del_chain, F.lit(False))
            )
        # source-only row inserted ⇔ some NOT MATCHED clause applies
        ins_chain = None
        for c in nm_conds:
            ins_chain = (
                F.when(c, F.lit(True))
                if ins_chain is None
                else ins_chain.when(c, F.lit(True))
            )
        inserted = (
            F.coalesce(ins_chain, F.lit(False))
            if ins_chain is not None
            else F.lit(False)
        )

        cols = []
        for f in tschema.fields:
            c = f.name
            keep = F.expr(f"{t_alias}.{c}")
            # a column the source lacks is never inserted (checked above)
            insert = (
                F.lit(None) if c in s_missing else F.expr(f"{s_alias}.{c}")
            )

            def _value_chain(cls):
                chain = None
                for cc, sets in cls:
                    v = (
                        keep  # DELETE clause: value irrelevant, dropped
                        if sets is None
                        else (
                            self._sql_expr_column(sets[c])
                            if c in sets
                            else keep
                        )
                    )
                    chain = (
                        F.when(cc, v) if chain is None else chain.when(cc, v)
                    )
                return F.coalesce(chain, keep) if chain is not None else keep

            merged = (
                F.when(matched, _value_chain(m_clauses))
                .when(in_target, _value_chain(nms_clauses))
                .otherwise(insert)
            )
            cols.append(merged.cast(f.dataType).alias(c))
        out = joined.filter(
            ~deleted & (matched | in_target | inserted)
        ).select(*cols)
        self._enforce_constraints(target, out)
        dest = self._cow_dest(target, op="merge")
        if kept:
            out = out.hint("rebalance")
        w = out.write.mode("overwrite")
        if pcols:
            w = w.partitionBy(*pcols)
        w.parquet(dest)
        if kept:
            link_files(kept, dest, base=t_path)
            self._carry_dv(t_path, dest, kept)
        self.catalog.register(target, dest, keep_schema_override=True)
        self._persist_versions(target)
        return self.dataframe(
            LogicalPlanBuilder().scan(target).build()
        )

    def explain_analyze(self, plan: Plan) -> str:
        """EXPLAIN ANALYZE: the optimized physical plan with each
        operator annotated ``est=<modeled rows> act=<actual rows>
        <ms>`` — the estimate-vs-reality diff that tells you WHICH
        cardinality guess sent the optimizer wrong (the tool DuckDB's
        EXPLAIN ANALYZE gives its users; the reference has neither
        statistics nor execution to compare).

        Profiling semantics: operators are executed bottom-up, each
        node's DataFrame cached before its count so every operator's
        work runs ONCE (children are served from cache via Spark's
        canonicalized-plan matching) — one materialized pass overall,
        like pipeline-breaking profilers.  A node that cannot execute
        standalone (the step inside a recursive CTE, whose CTE ref only
        binds inside the fixpoint loop) is annotated ``act=-``."""
        import time as _time

        from .execute import SparkExecutor
        from .optimizer.cascades.cost import derive_stats

        phys = self.optimize(plan)
        ex = SparkExecutor(self.spark, self.catalog)
        acts: dict = {}
        ms: dict = {}
        stats: dict = {}
        cached: list = []

        def walk(node):
            for c in node.inputs:
                walk(c)
            stats[id(node)] = derive_stats(
                node.operator,
                [stats[id(c)] for c in node.inputs],
                self.ctx,
            )
            try:
                df = ex._node(node)
                df.cache()
                cached.append(df)
                t0 = _time.perf_counter()
                acts[id(node)] = df.count()
                ms[id(node)] = (_time.perf_counter() - t0) * 1000.0
            except Exception:
                acts[id(node)] = None

        walk(phys.root)
        for df in cached:
            try:
                df.unpersist()
            except Exception:
                pass

        # ADAPTIVE FEEDBACK (VERDICT r6 item 8): a filtered scan whose
        # actual row count misses the estimate by >=10x either way
        # records a per-(table, predicate-class) correction on the
        # catalog; the NEXT optimization of the same shape estimates
        # with it (cost.py scan branch) — the session-scoped
        # reoptimization analog of the statistics the reference never
        # populates (memo.rs:781).  The estimate here already includes
        # any prior correction, so repeated observations converge
        # (new factor = prior x residual ratio).
        from .operators import physical as _P
        from .optimizer.cascades.cost import filters_class

        def learn(node):
            for c in node.inputs:
                learn(c)
            opn = node.operator
            act = acts.get(id(node))
            if (
                isinstance(opn, _P.PhysicalTableScan)
                and opn.filters
                and act is not None
                and hasattr(self.catalog, "record_selectivity_correction")
            ):
                est = max(stats[id(node)].row_count, 1e-9)
                ratio = max(float(act), 1.0) / est
                if ratio >= 10.0 or ratio <= 0.1:
                    key = filters_class(opn.filters)
                    prior = self.catalog.selectivity_correction(
                        opn.table_name, key
                    )
                    self.catalog.record_selectivity_correction(
                        opn.table_name, key, prior * ratio
                    )

        learn(phys.root)

        lines: list = []

        def render(node, prefix, is_last, is_root):
            act = acts.get(id(node))
            est = stats[id(node)].row_count
            note = (
                f"  [rows est={est:.0f} act={act} {ms[id(node)]:.0f} ms]"
                if act is not None
                else f"  [rows est={est:.0f} act=-]"
            )
            if is_root:
                lines.append(node.operator.pretty() + note)
                child_prefix = ""
            else:
                branch = "└── " if is_last else "├── "
                lines.append(prefix + branch + node.operator.pretty() + note)
                child_prefix = prefix + ("    " if is_last else "│   ")
            for i, c in enumerate(node.inputs):
                render(c, child_prefix, i == len(node.inputs) - 1, False)

        render(phys.root, "", True, True)
        return "\n".join(lines)

    def explain(self, plan: Plan) -> str:
        logical = self.optimize_logical(plan)
        physical = self.optimize_physical(logical)
        regime, rows = self._execution_regime(physical)
        if rows is not None:
            regime += f" (input rows {rows:.0f})"
        return (
            "== Optimized Logical Plan ==\n"
            + logical.explain()
            + "\n== Physical Plan ==\n"
            + physical.explain()
            + "\n== Execution ==\n"
            + regime
        )
