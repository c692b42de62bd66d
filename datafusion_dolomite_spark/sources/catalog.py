"""Catalog: table name → parquet path + schema + statistics.

Plays the role of DataFusion's ``SchemaProvider`` inside
``OptimizerContext`` (``dolomite/src/optimizer.rs:10-22``): scans resolve
table names at property-derivation time and fail if missing
(``operator/table_scan.rs:61-63``).

Unlike the reference (statistics ``todo!()``, ``cascades/memo.rs:781``),
we read row counts straight from parquet footers — zero data scan, exact
counts — because the cost model's broadcast-vs-shuffle decision depends on
them.  On a real cluster the same numbers come from the metastore or
``ANALYZE TABLE``; the interface is the same.
"""

from __future__ import annotations

import os
import time
from typing import Dict, Optional

import numpy as np

from ..operators.properties import (
    ColumnStatistics,
    Field,
    LogicalProperty,
    Schema,
    Statistics,
)
from .dml import data_files
from .parquet_read import footer_schema, spark_schema, spark_type, table_stamp

__all__ = ["Catalog", "testdata_catalog", "TESTDATA_TABLES"]

#: process-wide per-column statistics cache, keyed on ``table_stamp`` —
#: testdata_catalog() builds a fresh Catalog per query, but a table
#: version's files (and so their statistics) don't change.
_NDV_CACHE: Dict[tuple, tuple] = {}

#: equi-height histogram bins per numeric column (B+1 quantile edges);
#: 32 bins resolve a selectivity to ~3% granularity, plenty for the
#: broadcast-vs-shuffle and join-order decisions they feed
_HISTOGRAM_BINS = 32

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _arrow_to_ddl(t) -> str:
    """Spark's DDL type name for an Arrow type (``parquet_read.spark_type``,
    the rules scans read with); ``string`` for a type it cannot name."""
    try:
        return spark_type(t).simpleString()
    except Exception:
        return "string"


def _longest_run(values) -> int:
    """Length of the longest run of equal values in a sorted numpy array
    without NULLs — the largest group a ``GROUP BY`` would form.  NaNs,
    which ``np.sort`` puts last, count as equal to each other."""
    nans = int(np.isnan(values).sum()) if values.dtype.kind == "f" else 0
    values = values[: len(values) - nans]
    if not len(values):
        return nans
    cuts = np.flatnonzero(values[1:] != values[:-1])
    runs = np.diff(np.concatenate(([-1], cuts, [len(values) - 1])))
    return max(int(runs.max()), nans)


def _equi_height_edges(values) -> tuple:
    """The ``_HISTOGRAM_BINS + 1`` quantiles at 0, 1/B, …, 1 of a sorted,
    non-empty numpy array, computed exactly as DuckDB's ``quantile_cont``
    does: position ``rn = (n-1)·q``, the value there when ``rn`` is
    whole, else interpolation between its neighbours ``lo``/``hi`` with
    ``d = rn - floor(rn)`` — ``lo·(1-d) + hi·d`` in double precision for
    doubles and integers, ``lo + (hi-lo)·d`` for floats, with ``hi-lo``
    and the result rounded to float.  (``np.quantile`` differs from both
    in the last ulp.)"""
    n = len(values)
    rn = (n - 1) * (np.arange(_HISTOGRAM_BINS + 1) / _HISTOGRAM_BINS)
    lo_i = np.floor(rn).astype(np.int64)
    hi_i = np.ceil(rn).astype(np.int64)
    d = rn - lo_i
    with np.errstate(invalid="ignore", over="ignore"):
        if values.dtype == np.float32:
            lo = values[lo_i]
            step = (values[hi_i] - lo).astype(np.float64)
            mid = (lo + step * d).astype(np.float32)
        else:
            lo = values[lo_i].astype(np.float64)
            mid = lo * (1.0 - d) + values[hi_i].astype(np.float64) * d
    return tuple(float(e) for e in np.where(lo_i == hi_i, lo, mid))


_DUCK_TO_DDL = {
    "TINYINT": "tinyint", "SMALLINT": "smallint", "INTEGER": "int",
    "BIGINT": "bigint", "HUGEINT": "bigint", "FLOAT": "float",
    "DOUBLE": "double", "BOOLEAN": "boolean", "DATE": "date",
    "TIMESTAMP": "timestamp_ntz", "VARCHAR": "string", "BLOB": "binary",
}


class Catalog:
    """Dict-backed catalog over parquet/csv/json files or directories.

    Non-parquet formats sniff their schema through DuckDB at registration
    time (no Spark session needed during planning); the executor then
    passes the EXPLICIT schema to ``spark.read`` so the scan never pays
    Spark's inference pass and types can't drift between engines.
    """

    def __init__(
        self,
        tables: Optional[Dict[str, str]] = None,
        warehouse: Optional[str] = None,
    ):
        self._paths: Dict[str, str] = dict(tables or {})
        self._formats: Dict[str, str] = {}
        self._options: Dict[str, Dict[str, str]] = {}
        self._schemas: Dict[str, Schema] = {}
        #: table → table_stamp its footer-derived parquet schema was
        #: read under; a data file rewritten in place re-derives it
        self._schema_stamps: Dict[str, tuple] = {}
        self._stats: Dict[str, Statistics] = {}
        #: wall seconds spent filling ``_stats`` (cold statistics);
        #: Cascades reports its share as ``catalog_stats_seconds``
        self.stats_seconds = 0.0
        self._warehouse = warehouse
        #: (table, vec_col) → persisted ANN index dir (r11)
        self._ann_indexes: Dict = {}
        #: explicit table schemas from ALTER TABLE (schema evolution):
        #: wins over file sniffing; parquet scans read with it so files
        #: written before an ADD COLUMN null-fill the new column.
        #: Lifetime: survives the DML lineage's re-registrations
        #: (keep_schema_override=True), dies with a fresh registration.
        self._schema_overrides: Dict[str, "Schema"] = {}
        self._mvs: list = []
        self._unique_keys: Dict[str, set] = {}
        #: (table, predicate-class) → actual/estimated row factor learned
        #: from EXPLAIN ANALYZE (adaptive reoptimization feedback,
        #: VERDICT r6 item 8) — see record_selectivity_correction
        self._sel_corrections: Dict[tuple, float] = {}
        self._sel_corrections_loaded = False

    # -- adaptive statistics feedback ------------------------------------
    def _corrections_path(self) -> Optional[str]:
        """Persisted corrections file, or None on a session-scoped
        (temp) warehouse — corrections then live and die with the
        catalog object, exactly the pre-r9 behavior."""
        if self._warehouse is None:
            return None
        return os.path.join(self._warehouse, "_stats", "corrections.json")

    def _load_corrections_once(self) -> None:
        if self._sel_corrections_loaded:
            return
        self._sel_corrections_loaded = True
        path = self._corrections_path()
        if path is None:
            return
        import json

        try:
            with open(path) as f:
                for table, pred, factor in json.load(f):
                    self._sel_corrections.setdefault(
                        (str(table), str(pred)), float(factor)
                    )
        except (OSError, ValueError, TypeError):
            pass

    def _persist_corrections(self) -> None:
        path = self._corrections_path()
        if path is None:
            return
        import json

        try:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    [
                        [t, p, factor]
                        for (t, p), factor in sorted(
                            self._sel_corrections.items()
                        )
                    ],
                    f,
                )
            os.replace(tmp, path)
        except OSError:
            pass  # read-only warehouse: corrections stay session-scoped

    def record_selectivity_correction(
        self, table: str, pred_class: str, factor: float
    ) -> None:
        """Learn a per-(table, predicate-class) cardinality correction
        from observed execution: ``factor`` = actual rows / estimated
        rows of a filtered scan, recorded by ``QueryPlanner.
        explain_analyze`` when the misestimate is gross (≥10x either
        way).  The NEXT plan over the same table + predicate class
        multiplies its selectivity estimate by this factor — the
        adaptive-reoptimization analog of the statistics the
        reference's memo declares but never populates (``memo.rs:781``).
        Clamped so a pathological observation can never zero out or
        explode a plan's cost.  On a real (non-temp) warehouse the
        corrections PERSIST (r9): ``<warehouse>/_stats/corrections.json``
        rides across sessions the way the version log does, so one
        session's EXPLAIN ANALYZE keeps improving every later
        session's plans."""
        self._load_corrections_once()
        self._sel_corrections[(table, pred_class)] = min(
            1e4, max(1e-4, float(factor))
        )
        self._persist_corrections()

    def selectivity_correction(self, table: str, pred_class: str) -> float:
        self._load_corrections_once()
        return self._sel_corrections.get((table, pred_class), 1.0)

    def analyze(self, name: str) -> Statistics:
        """ANALYZE TABLE: force-recompute this table's statistics (row
        count, per-column ndv/min/max/top_count, row width), bypassing
        both the per-catalog cache and the process-wide ndv cache.  The
        process-wide cache is keyed on ``table_stamp`` (ns-mtime and size
        of the root and its data files), so this matters when a catalog
        instance holds statistics from before an in-place rewrite, or
        when the user wants stats refreshed on demand — the same
        contract as Spark's ``ANALYZE TABLE … COMPUTE STATISTICS``
        against a metastore.  Also clears this table's adaptive
        selectivity corrections: fresh statistics supersede learned
        patches."""
        self._stats.pop(name, None)
        _NDV_CACHE.pop(table_stamp(self.path(name)), None)
        self._load_corrections_once()
        stale = [k for k in self._sel_corrections if k[0] == name]
        for k in stale:
            del self._sel_corrections[k]
        if stale:
            self._persist_corrections()
        return self.statistics(name)

    # -- declared constraints (metastore-style) --------------------------
    def register_unique_key(self, table: str, column: str) -> None:
        """Declare ``column`` unique in ``table`` (a PRIMARY KEY).  A
        DECLARED constraint, not a derived one: uniqueness drives
        row-preserving rewrites (redundant-join elimination), where a
        wrong guess silently changes results — so it must come from the
        owner, like a metastore constraint, never from approximate ndv."""
        self._unique_keys.setdefault(table, set()).add(column)

    def unique_keys(self, table: str) -> set:
        return self._unique_keys.get(table, set())

    # -- vector (ANN) indexes (r11) --------------------------------------
    def register_ann_index(self, table: str, vec_col: str,
                           index_dir: str) -> None:
        """Declare a persisted ANN index (functions/ann_index.py) over
        ``table.vec_col``.  ``AttachAnnIndexRule`` then auto-fills
        ``LogicalKnn.index_dir`` for kNN queries over the table, and
        the cost race prefers the probe whenever the index's _meta.json
        parameterization matches the query — a registered-but-
        mismatched index simply never attaches."""
        if not hasattr(self, "_ann_indexes"):
            self._ann_indexes = {}
        self._ann_indexes[(table, vec_col)] = index_dir

    def deregister_ann_index(self, table: str, vec_col: str) -> None:
        getattr(self, "_ann_indexes", {}).pop((table, vec_col), None)

    def ann_index_for(self, table: str, vec_col: str):
        """The registered index dir for ``table.vec_col``, or None."""
        return getattr(self, "_ann_indexes", {}).get((table, vec_col))

    # -- persisted BPE tokenizers (r12) -----------------------------------
    def register_bpe_tokenizer(self, table: str, text_col: str,
                               tok_dir: str) -> None:
        """Declare a persisted BPE tokenizer (functions/bpe.py) trained
        on ``table.text_col``.  ``AttachBpeTokenizerRule`` then
        auto-fills ``LogicalBpeTokens.tokenizer_dir`` for token-count
        queries over a bare scan of the table, and the cost race picks
        the train-free probe whenever the artifact's _meta.json
        parameterization matches — same discipline as the ANN index."""
        if not hasattr(self, "_bpe_tokenizers"):
            self._bpe_tokenizers = {}
        self._bpe_tokenizers[(table, text_col)] = tok_dir

    def deregister_bpe_tokenizer(self, table: str, text_col: str) -> None:
        getattr(self, "_bpe_tokenizers", {}).pop((table, text_col), None)

    def bpe_tokenizer_for(self, table: str, text_col: str):
        """The registered tokenizer dir for ``table.text_col``, or None."""
        return getattr(self, "_bpe_tokenizers", {}).get((table, text_col))

    def register_materialized_view(self, mv) -> None:
        """Register MV metadata (a ``MaterializedView``) for the
        optimizer's aggregate-rewrite rule.  The MV's partial table must
        ALSO be registered as a normal source (``register``); freshness
        is the materializer's contract (our query glue keys the files on
        the source signature, a warehouse would use its own staleness
        tracking)."""
        self._mvs = [m for m in self._mvs if m.name != mv.name]
        self._mvs.append(mv)

    def materialized_views_for(self, source_table: str):
        return tuple(m for m in self._mvs if m.source_table == source_table)

    def materialized_views(self):
        return tuple(self._mvs)

    def drop_materialized_view(self, name: str) -> None:
        self._mvs = [m for m in self._mvs if m.name != name]

    # CREATE MATERIALIZED VIEW: the planner stashes the Hep-normalized
    # LOGICAL subtree below the definition's aggregate here; the sink
    # executor pops it into the registered MV metadata (the physical
    # child it sees cannot be compared against later logical plans)
    def stash_view_definition(self, name: str, subtree) -> None:
        if not hasattr(self, "_pending_defs"):
            self._pending_defs: dict = {}
        self._pending_defs[name] = subtree

    def pop_view_definition(self, name: str):
        return getattr(self, "_pending_defs", {}).pop(name, None)

    def warehouse_root(self) -> str:
        """The warehouse directory itself (lazily created).  Besides
        managed table dirs it holds the persisted DML version log
        (``_versions/``, sources/dml.py) — a catalog constructed with an
        explicit ``warehouse=`` therefore keeps time-travel lineage
        across sessions."""
        if self._warehouse is None:
            import tempfile

            self._warehouse = tempfile.mkdtemp(prefix="ddspark_warehouse_")
        return self._warehouse

    def warehouse_path(self, table_name: str) -> str:
        """Managed location for tables this engine CREATEs (CTAS sink).
        Defaults to a per-process temp warehouse; on a cluster this is
        the metastore's warehouse dir."""
        return os.path.join(self.warehouse_root(), table_name)

    def register(
        self,
        name: str,
        path: str,
        format: str = "parquet",
        options: Optional[Dict[str, str]] = None,
        keep_schema_override: bool = False,
    ) -> None:
        if format not in ("parquet", "orc", "csv", "json"):
            raise ValueError(f"unsupported source format {format!r}")
        self._paths[name] = path
        self._formats[name] = format
        if format == "csv":
            self._options[name] = {"header": "true", **(options or {})}
        elif options:
            self._options[name] = dict(options)
        self._schemas.pop(name, None)
        self._schema_stamps.pop(name, None)
        self._stats.pop(name, None)
        if not keep_schema_override:
            # a FRESH registration replaces the table wholesale; only
            # the DML lineage's own re-registrations carry the evolved
            # schema forward
            self._schema_overrides.pop(name, None)

    def set_schema_override(self, name: str, schema: Schema) -> None:
        self._schema_overrides[name] = schema
        self._schemas.pop(name, None)

    def schema_override(self, name: str) -> Optional[Schema]:
        return self._schema_overrides.get(name)

    def format(self, name: str) -> str:
        return self._formats.get(name, "parquet")

    def read_options(self, name: str) -> Dict[str, str]:
        return self._options.get(name, {})

    def register_schema(
        self,
        name: str,
        schema: Schema,
        row_count: float = 0.0,
        columns: tuple = (),
        avg_row_bytes: float = 0.0,
    ) -> None:
        """Register a schema-only table (no files) — the analog of the
        reference tests' ``EmptyTable`` fixtures (``test_utils.rs:36-43``):
        plan-level tests need binding, not data.  ``columns`` optionally
        injects per-column ``ColumnStatistics`` (ndv), and
        ``avg_row_bytes`` a row width, for cost-model tests."""
        self._schemas[name] = schema
        self._schema_stamps.pop(name, None)
        self._stats[name] = Statistics(
            row_count=row_count,
            columns=tuple(columns),
            avg_row_bytes=avg_row_bytes,
        )
        self._paths.setdefault(name, f"<schema-only:{name}>")

    def path(self, name: str) -> str:
        if name not in self._paths:
            raise KeyError(f"table {name!r} not registered in catalog")
        return self._paths[name]

    def table_names(self):
        return tuple(self._paths)

    def schema(self, name: str) -> Schema:
        override = self._schema_overrides.get(name)
        if override is not None:
            return override
        stamp = self._schema_stamps.get(name)
        if stamp is not None and stamp != table_stamp(self.path(name)):
            self._schemas.pop(name, None)
        if name not in self._schemas:
            fmt = self.format(name)
            if fmt == "parquet":
                self._schema_stamps[name] = table_stamp(self.path(name))
                self._schemas[name] = self._parquet_schema(name)
            elif fmt == "orc":
                import pyarrow.orc as po

                arrow = po.ORCFile(self._first_file(name)).schema
                self._schemas[name] = Schema(
                    tuple(
                        Field(f.name, _arrow_to_ddl(f.type), f.nullable, qualifier=name)
                        for f in arrow
                    )
                )
            else:
                self._schemas[name] = self._sniff_schema(name, fmt)
        return self._schemas[name]

    def _parquet_schema(self, name: str) -> Schema:
        """The schema Spark reads the table with: the footer-derived
        ``StructType`` the executor's scans pass to Spark
        (``parquet_read.spark_schema``), so planner and executor agree
        on every type.  Hive-partitioned directories, whose partition
        columns live in directory names, go through Arrow's dataset
        discovery; their data columns still take the footer's types."""
        path = self.path(name)
        struct = spark_schema(path)
        if struct is None:
            import pyarrow.dataset as ds

            files = data_files(path)
            try:
                footer = {f.name: f.dataType for f in footer_schema(files[0])}
            except Exception:
                footer = {}
            arrow = ds.dataset(path, format="parquet", partitioning="hive")
            return Schema(
                tuple(
                    Field(
                        f.name,
                        footer[f.name].simpleString()
                        if f.name in footer
                        else _arrow_to_ddl(f.type),
                        True,
                        qualifier=name,
                    )
                    for f in arrow.schema
                )
            )
        return Schema(
            tuple(
                Field(f.name, f.dataType.simpleString(), True, qualifier=name)
                for f in struct
            )
        )

    def _sniff_schema(self, name: str, fmt: str) -> Schema:
        import duckdb

        f = self._first_file(name)
        reader = "read_csv_auto" if fmt == "csv" else "read_json_auto"
        rows = duckdb.sql(f"describe select * from {reader}('{f}')").fetchall()
        return Schema(
            tuple(
                Field(col, _DUCK_TO_DDL.get(dtype.split("(")[0], "string"), True, qualifier=name)
                for col, dtype, *_ in rows
            )
        )

    def logical_prop(self, name: str) -> LogicalProperty:
        return LogicalProperty(self.schema(name))

    def statistics(self, name: str) -> Statistics:
        """Exact row count — parquet footers (no data read) or a DuckDB
        count for csv/json (cheap at catalog scale, cached).  A parquet
        table's footers are read once and shared with ``_column_ndv``.
        The time spent filling this per-instance cache accumulates in
        ``stats_seconds``."""
        if name not in self._stats:
            t0 = time.perf_counter()
            fmt = self.format(name)
            files = self._files(name)
            raw_bytes = 0.0
            columns = ()
            if fmt == "parquet":
                import pyarrow.parquet as pq

                footers = [pq.read_metadata(f) for f in files]
                rows = sum(md.num_rows for md in footers)
                # uncompressed in-memory size from the footer — what a
                # broadcast of this table would actually cost
                raw_bytes = float(
                    sum(
                        md.row_group(rg).total_byte_size
                        for md in footers
                        for rg in range(md.num_row_groups)
                    )
                )
                columns = self._column_ndv(name, footers, files)
            elif fmt == "orc":
                import pyarrow.orc as po

                rows = sum(po.ORCFile(f).nrows for f in files)
            else:
                import duckdb

                reader = "read_csv_auto" if fmt == "csv" else "read_json_auto"
                rows = sum(
                    duckdb.sql(f"select count(*) from {reader}('{f}')").fetchone()[0]
                    for f in files
                )
            if not raw_bytes:
                # csv/json/orc: file size on disk approximates row width
                try:
                    raw_bytes = float(
                        sum(os.path.getsize(f) for f in files)
                    )
                except OSError:
                    raw_bytes = 0.0
            self._stats[name] = Statistics(
                row_count=float(rows),
                columns=columns,
                avg_row_bytes=(raw_bytes / rows) if rows else 0.0,
            )
            self.stats_seconds += time.perf_counter() - t0
        return self._stats[name]

    def _column_ndv(self, name: str, footers=None, files=None):
        """Per-column statistics of a parquet table's scalar columns
        (ndv, numeric min/max, top_count, equi-height histogram) from one
        read of the table version:

        * the footers (``footers`` of ``files``, as ``statistics`` read
          them, else read here) give numeric min/max over the first 64 files and
          the first file's ``distinct_count`` where the writer recorded
          it;
        * one DuckDB ``approx_count_distinct`` query fills the ndv of
          every other column;
        * each column is then read alone through ``pyarrow.dataset``, so
          peak memory is one column: a numeric column is sorted once for
          its ``top_count`` and histogram edges, any other takes
          ``top_count`` from ``value_counts``.

        Cached process-wide under the table's ``table_stamp`` — on a
        cluster these numbers come from ANALYZE/metastore, the interface
        is identical."""
        if self.format(name) != "parquet":
            return ()
        try:
            if files is None:
                files = self._files(name)
            if not files or not os.path.isfile(files[0]):
                return ()
        except OSError:
            return ()
        key = table_stamp(self.path(name))
        cached = _NDV_CACHE.get(key)
        if cached is not None:
            return cached

        import pyarrow as pa
        import pyarrow.parquet as pq

        if footers is None:
            footers = [pq.read_metadata(f) for f in files[:64]]
        arrow_schema = footers[0].schema.to_arrow_schema()

        def _scalar(t):
            return not (
                pa.types.is_list(t) or pa.types.is_large_list(t)
                or pa.types.is_struct(t) or pa.types.is_map(t)
                or pa.types.is_binary(t) or pa.types.is_large_binary(t)
            )

        scalar_cols = [f.name for f in arrow_schema if _scalar(f.type)]
        numeric_cols = {
            f.name
            for f in arrow_schema
            if pa.types.is_integer(f.type) or pa.types.is_floating(f.type)
        }
        ndv: Dict[str, float] = {}
        # numeric min/max folded over every file's footer (free at
        # catalog time; feeds range-predicate selectivity in the cost
        # model — on a cluster, ANALYZE/metastore serves the same role),
        # plus the first file's distinct_count (exact, free) where the
        # writer recorded it
        vmin: Dict[str, float] = {}
        vmax: Dict[str, float] = {}
        for i, md in enumerate(footers[:64]):
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(md.num_columns):
                    col = row_group.column(ci)
                    st = col.statistics
                    if st is None:
                        continue
                    path = col.path_in_schema
                    if path in numeric_cols and st.has_min_max:
                        lo, hi = float(st.min), float(st.max)
                        vmin[path] = min(vmin.get(path, lo), lo)
                        vmax[path] = max(vmax.get(path, hi), hi)
                    if i == 0 and st.has_distinct_count and st.distinct_count:
                        ndv[path] = ndv.get(path, 0.0) + float(st.distinct_count)
        missing = [c for c in scalar_cols if c not in ndv]
        if missing and len(files) <= 64:  # bounded catalog-time work
            try:
                import duckdb

                exprs = ", ".join(
                    f'approx_count_distinct("{c}") AS "{c}"' for c in missing
                )
                flist = ", ".join(f"'{f}'" for f in files)
                row = duckdb.sql(
                    f"SELECT {exprs} FROM read_parquet([{flist}])"
                ).fetchone()
                for c, v in zip(missing, row):
                    ndv[c] = float(v or 0.0)
            except Exception:
                pass
        # mode counts (top-key frequency) — the SKEW signal the salted
        # aggregate alternative is cost-picked on — and equi-height
        # histograms (r9): quantiles at 0, 1/B, …, 1 of numeric columns,
        # so range selectivity reads the value DISTRIBUTION instead of
        # assuming uniform [min, max].  Same bound as the ndv fill.
        topc: Dict[str, float] = {}
        hists: Dict[str, tuple] = {}
        if len(files) <= 64:
            try:
                import pyarrow.compute as pc
                import pyarrow.dataset as ds

                dataset = ds.dataset(files, format="parquet")
                for c in scalar_cols:
                    if c not in ndv:
                        continue
                    column = dataset.to_table(columns=[c]).column(0)
                    if c not in numeric_cols:
                        # value_counts counts NULL as one group, as
                        # GROUP BY does
                        counts = pc.value_counts(column).field("counts")
                        topc[c] = float(pc.max(counts).as_py() or 0)
                        continue
                    values = np.sort(column.drop_null().to_numpy())
                    topc[c] = float(
                        max(_longest_run(values), column.null_count)
                    )
                    if len(values):
                        hists[c] = _equi_height_edges(values)
            except Exception:
                pass
        out = tuple(
            (
                c,
                ColumnStatistics(
                    ndv=ndv[c],
                    min=vmin.get(c),
                    max=vmax.get(c),
                    top_count=topc.get(c, 0.0),
                    histogram=hists.get(c, ()),
                ),
            )
            for c in scalar_cols
            if c in ndv
        )
        _NDV_CACHE[key] = out
        return out

    def _files(self, name: str):
        """The table's data files (``dml.data_files``: hidden paths such
        as deletion-vector sidecars are not table data; recursive, so
        hive-partitioned sinks' ``key=value`` dirs are listed)."""
        p = self.path(name)
        if os.path.isdir(p):
            return data_files(p, "." + self.format(name))
        return [p]

    def _first_file(self, name: str) -> str:
        files = self._files(name)
        if not files:
            raise FileNotFoundError(f"no data files for table {name!r}")
        return files[0]


def testdata_catalog(sf_dir: str) -> Catalog:
    """Catalog over the driver's synthetic tables (TESTDATA.md).
    Primary keys are declared as unique constraints (the TPC-H spec's
    PKs plus the synthetic tables' id columns) — lineitem and events
    have no single-column key."""
    cat = Catalog(
        {t: os.path.join(sf_dir, f"{t}.parquet") for t in TESTDATA_TABLES}
    )
    for table, pk in (
        ("region", "r_regionkey"),
        ("nation", "n_nationkey"),
        ("customer", "c_custkey"),
        ("supplier", "s_suppkey"),
        ("part", "p_partkey"),
        ("orders", "o_orderkey"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ):
        cat.register_unique_key(table, pk)
    return cat
