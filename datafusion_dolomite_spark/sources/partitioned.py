"""Hive-partitioned table materialization + pruned re-read.

The reference's scan fuses limits into the read
(``operator/table_scan.rs:14-32``); the same push-the-work-to-the-scan
principle extended to PARTITIONS: data written under ``key=value``
directories lets a filter on the partition column skip every other
directory at FILE LISTING time — no footer is even opened.  At 100 TB a
date/event_type-partitioned layout turns a full-corpus scan into a
single-partition read, which is the single biggest scan win available.

``write_parquet(partition_by=...)`` (sinks.py) produces this layout; this
module closes the loop: materialize once, register in the catalog, and
query through the engine with the pushed filter pruning directories
(proved at runtime by the pytest: a corrupt file planted in a
non-matching partition doesn't break the query, because the pruned scan
never opens it — ``DataFrame.inputFiles()`` can't serve as the probe
since it lists the relation's root files BEFORE pruning).
"""

from __future__ import annotations

import os

from .parquet_read import read_parquet

__all__ = ["ensure_partitioned"]


def ensure_partitioned(
    spark,
    src_path: str,
    dest_dir: str,
    partition_by: str,
) -> str:
    """Materialize ``src_path`` (parquet) as a hive-partitioned directory
    under ``dest_dir``, once — idempotent on the _SUCCESS marker.

    One output file per partition value (maxRecordsPerFile-style
    compaction is the writer's job at real scale; at test scale one file
    per partition keeps the pruning assertion crisp).

    Idempotency is keyed on the SOURCE SIGNATURE (mtime+size, directory
    aware — signature.py), not just a _SUCCESS marker: testdata
    regenerated in place under the same path invalidates the
    materialization instead of silently serving the stale copy while
    the oracle reads the fresh source."""
    from .signature import read_marker, source_signature, write_marker

    sig = source_signature(src_path)
    if (
        os.path.exists(os.path.join(dest_dir, "_SUCCESS"))
        and read_marker(dest_dir) == sig
    ):
        return dest_dir
    df = read_parquet(spark, src_path)
    (
        df.repartition(partition_by)  # one task → one file per partition value
        .write.mode("overwrite")
        .partitionBy(partition_by)
        .parquet(dest_dir)
    )
    write_marker(dest_dir, sig)
    return dest_dir
