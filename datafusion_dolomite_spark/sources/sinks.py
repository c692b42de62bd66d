"""Sinks: write a plan's result to parquet / orc / csv / json.

The reference has NO sinks at all (SURVEY §2.4 'no sinks'); this is
extension surface.  Scale defaults: parquet + snappy, optional
``partition_by`` (hive-style directory partitioning — the layout that
makes downstream partition pruning work), optional bucketing via
``bucket_by`` for co-located joins on re-read (requires ``table_name``
since Spark bucketing goes through the table catalog)."""

from __future__ import annotations

from typing import Optional, Sequence

from .parquet_read import read_parquet

__all__ = [
    "write_parquet",
    "write_csv",
    "write_json",
    "write_orc",
    "write_bucketed_table",
    "ensure_bucketed_table",
]


def write_bucketed_table(
    df,
    table_name: str,
    bucket_by: Sequence[str],
    n_buckets: int = 32,
    sort_by: Optional[Sequence[str]] = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table (goes through the session catalog —
    Spark persists bucketing metadata only for tables, not raw paths).

    The 100 TB payoff: two tables bucketed on their join key with the
    same bucket count join WITHOUT any Exchange — each task reads the
    matching bucket from both sides.  For a fact table joined repeatedly
    on the same key, that amortizes the shuffle across every future
    query.  ``sort_by`` additionally pre-sorts each bucket so sort-merge
    joins skip their sort step."""
    w = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(int(n_buckets), *bucket_by)
    )
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table_name)


def ensure_bucketed_table(
    spark,
    name: str,
    src_parquet: str,
    bucket_by: Sequence[str],
    n_buckets: int = 8,
    sort_by: Optional[Sequence[str]] = None,
) -> str:
    """Materialize ``src_parquet`` as a bucketed table ONCE and make it
    resolvable in the current session.

    Spark's default session catalog is in-memory: the FILES survive under
    the warehouse dir across sessions but the bucketing METADATA doesn't.
    First call writes via ``write_bucketed_table``; later sessions
    re-attach the existing files with a ``CREATE TABLE … CLUSTERED BY …
    LOCATION`` DDL (bucket ids live in the file names, so the layout is
    fully recoverable).  On a real cluster the metastore makes the DDL
    step unnecessary; the write path is identical.

    Staleness is decided by the SOURCE SIGNATURE (signature.py), not by
    table/dir existence alone: testdata regenerated in place under the
    same path drops and rebuilds the bucketed copy instead of silently
    serving stale buckets while the oracle reads the fresh source."""
    import os
    import shutil

    from .signature import read_marker, source_signature, write_marker

    sig = source_signature(src_parquet)
    wh = spark.conf.get("spark.sql.warehouse.dir")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            wh = wh[len(prefix):]
            break
    loc = os.path.join(wh, name.lower())
    fresh = read_marker(loc) == sig
    if spark.catalog.tableExists(name):
        if fresh:
            return name
        spark.sql(f"DROP TABLE {name}")
    if not fresh and os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)
    if fresh and os.path.isdir(loc) and any(
        f.startswith("part-") for f in os.listdir(loc)
    ):
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in read_parquet(spark, loc).schema
        )
        sort_clause = f" SORTED BY ({', '.join(sort_by)})" if sort_by else ""
        spark.sql(
            f"CREATE TABLE {name} ({ddl}) USING parquet "
            f"CLUSTERED BY ({', '.join(bucket_by)}){sort_clause} "
            f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
        )
        return name
    write_bucketed_table(
        read_parquet(spark, src_parquet), name, bucket_by, n_buckets, sort_by
    )
    write_marker(loc, sig)
    return name


def _writer(df, mode: str, partition_by: Optional[Sequence[str]]):
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w


def _zvalue(df, cols: Sequence[str], bits: int = 16):
    """Morton (Z-order) value of ``cols`` as a JVM expression column.

    One tiny min/max aggregate normalizes each column to ``bits``-bit
    ints, then bit-interleaving folds them into a single sortable key —
    pure shifts/ands, whole-stage codegen.  Rows close in z-value are
    close in EVERY clustered dimension, so each written file covers a
    narrow band of all of them (Delta/Iceberg OPTIMIZE ZORDER layout)."""
    from pyspark.sql import functions as F

    row = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).first()
    scale = (1 << bits) - 1
    quantized = []
    for i, c in enumerate(cols):
        mn, mx = row[f"mn_{i}"], row[f"mx_{i}"]
        span = (mx - mn) if (mx is not None and mn is not None and mx > mn) else 1.0
        q = F.floor(
            (F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * F.lit(float(scale))
        ).cast("bigint")
        quantized.append(F.greatest(F.lit(0), F.least(F.lit(scale), q)))
    z = F.lit(0).cast("bigint")
    for bit in range(bits):
        for j, q in enumerate(quantized):
            z = z + F.shiftleft(
                F.shiftright(q, bit).bitwiseAND(F.lit(1)),
                bit * len(cols) + j,
            ).cast("bigint")
    return z


def write_parquet(
    df,
    path: str,
    mode: str = "overwrite",
    partition_by: Optional[Sequence[str]] = None,
    compression: str = "snappy",
    cluster_by: Optional[Sequence[str]] = None,
    n_files: Optional[int] = None,
    layout: str = "range",
) -> None:
    """Parquet sink with layout controls that matter at 100 TB:

    * ``cluster_by`` + ``layout="range"`` — range-repartition +
      sort-within-partitions on the given columns, so each file covers a
      narrow min/max band of the FIRST column and later range-predicate
      scans skip whole files (row-group pruning).
    * ``cluster_by`` + ``layout="zorder"`` — Morton-interleave the
      columns so every file covers a narrow band of EVERY clustered
      column; the layout for multi-dimension point/range predicates.
    * ``n_files`` — compaction: coalesce/repartition to a target file
      count (the small-files problem kills listing + scheduling at
      scale; one file per ~128-512 MB is the usual target).
    """
    if cluster_by and layout == "zorder":
        z = _zvalue(df, cluster_by)
        df = df.withColumn("_zorder", z)
        if n_files:
            df = df.repartitionByRange(n_files, "_zorder")
        else:
            df = df.repartitionByRange("_zorder")
        df = df.sortWithinPartitions("_zorder").drop("_zorder")
    elif cluster_by:
        if n_files:
            df = df.repartitionByRange(n_files, *cluster_by)
        else:
            df = df.repartitionByRange(*cluster_by)
        df = df.sortWithinPartitions(*cluster_by)
    elif n_files:
        df = df.repartition(n_files)
    _writer(df, mode, partition_by).option("compression", compression).parquet(path)


def write_orc(
    df,
    path: str,
    mode: str = "overwrite",
    partition_by: Optional[Sequence[str]] = None,
    compression: str = "zlib",
) -> None:
    _writer(df, mode, partition_by).option("compression", compression).orc(path)


def write_csv(
    df,
    path: str,
    mode: str = "overwrite",
    partition_by: Optional[Sequence[str]] = None,
    header: bool = True,
) -> None:
    _writer(df, mode, partition_by).option("header", str(header).lower()).csv(path)


def write_json(
    df,
    path: str,
    mode: str = "overwrite",
    partition_by: Optional[Sequence[str]] = None,
) -> None:
    _writer(df, mode, partition_by).json(path)
