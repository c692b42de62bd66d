"""The engine's one parquet read path: every read hands Spark a schema.

``spark.read.parquet(path)`` without a schema makes Spark infer one, and
Spark infers a parquet schema by running a job that opens a footer
(``ParquetFileFormat.mergeSchemasInParallel``) — one job per table a
session first touches and again per table version a DML commit
creates, before the query's own action.  The catalog already reads the
same footers locally (row counts, bands), so this module derives the
schema Spark would infer from the footer in this process and passes it to
``spark.read.schema(...)``; the file listing is unchanged.

The derivation reproduces Spark's inference rules
(``ParquetUtils.inferSchema`` with ``mergeSchema=false``):

* the footer read is the first data file by path, after Spark's hidden
  file filter (``_``/``.`` prefixes), summary files, and empty files;
* a footer carrying ``org.apache.spark.sql.parquet.row.metadata`` (every
  file Spark wrote — every DML version) yields that stored schema;
* otherwise Spark's parquet-to-Spark rules apply to the footer: INT96 is
  ``timestamp``, TIMESTAMP(NANOS) is ``bigint`` (``nanosAsLong``, pinned
  by ``session.configure_session``), UTC-adjusted timestamps are
  ``timestamp`` and local ones ``timestamp_ntz``;
* every field is nullable (``HadoopFsRelation`` reads ``asNullable``).

Spark's own inference is kept where the footer alone cannot name the
schema: hive-partitioned or nested directories (partition columns come
from directory names), summary files, and types the mapping cannot name
(``spark_schema`` returns None and ``read_parquet`` reads without one).
"""

from __future__ import annotations

import functools
import json
import os
from typing import Optional

from .dml import data_files

__all__ = ["SPARK_ROW_METADATA", "footer_schema", "read_parquet",
           "spark_schema", "spark_type", "table_stamp"]

#: footer key under which Spark stores the writing DataFrame's schema
SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"

#: (base, per-path stamps) → StructType | None; see spark_schema
_SCHEMA_CACHE: dict = {}


def table_stamp(path: str) -> tuple:
    """The one staleness stamp of a table (version) path: the root's
    ns-mtime and size, plus the data files' count, newest ns-mtime and
    total size (``dml.data_files``).  A file rewritten in place inside
    a directory changes only its own mtime/size, never the root's, so
    the root alone cannot see it.  The scan cache, the prepared-DataFrame
    cache and the footer-schema cache all key on this."""
    try:
        st = os.stat(path)
    except OSError:
        return (path, -1, -1, 0, -1, -1)
    newest = total = 0
    files = data_files(path)
    for f in files:
        try:
            fst = os.stat(f)
        except OSError:
            continue
        newest = max(newest, fst.st_mtime_ns)
        total += fst.st_size
    return (path, st.st_mtime_ns, st.st_size, len(files), newest, total)


def read_parquet(spark, *paths: str, base: Optional[str] = None,
                 schema=None):
    """``spark.read.parquet(*paths)`` with an explicit schema: ``schema``
    when given (a schema override wins), else the one Spark would infer
    (``spark_schema``).  ``base`` sets ``basePath``, which keeps hive
    partition columns when reading an explicit file list.  Only a read
    the footer cannot describe falls back to Spark's inference."""
    if schema is None:
        schema = spark_schema(*paths, base=base)
    rd = spark.read if schema is None else spark.read.schema(schema)
    if base is not None:
        rd = rd.option("basePath", base)
    return rd.parquet(*paths)


def spark_schema(*paths: str, base: Optional[str] = None):
    """The ``StructType`` Spark infers for ``spark.read.parquet(*paths)``
    (with ``basePath=base``), from one footer read in this process and
    cached under the paths' ``table_stamp``.  None when Spark's own
    inference must decide: partitioned or nested directories, summary
    files, no data files, or a type the mapping cannot name."""
    key = (base, tuple(table_stamp(p) for p in paths))
    if key in _SCHEMA_CACHE:
        return _SCHEMA_CACHE[key]
    files = _listed_files(paths, base)
    out = None
    if files:
        first = min(files, key=os.path.abspath)
        try:
            out = footer_schema(first)
        except Exception:  # unnamed type, unreadable footer: Spark decides
            out = None
    if len(_SCHEMA_CACHE) > 1024:
        _SCHEMA_CACHE.clear()
    _SCHEMA_CACHE[key] = out
    return out


def _hidden(name: str) -> bool:
    # Spark's InMemoryFileIndex.shouldFilterOutPathName
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _listed_files(paths, base):
    """The non-empty data files Spark lists for ``paths``, or None when
    its listing would discover partitions (a visible subdirectory, or a
    file below ``base``'s top level) or find summary files."""
    files = []
    for p in paths:
        if os.path.isfile(p):
            files.append(p)
            continue
        try:
            entries = list(os.scandir(p))
        except OSError:
            return None
        for e in entries:
            if e.name.startswith(("_metadata", "_common_metadata")):
                return None
            if _hidden(e.name):
                continue
            if e.is_dir():
                return None
            files.append(e.path)
    if base is not None:
        root = os.path.abspath(base)
        if any(os.path.dirname(os.path.abspath(f)) != root for f in files):
            return None
    return [f for f in files if os.path.getsize(f) > 0]


class _Unnamed(Exception):
    """A parquet type the mapping does not name (Spark's inference
    decides it, or rejects it)."""


def footer_schema(path: str):
    """Spark's schema for one parquet file, from its footer alone."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructField, StructType

    md = pq.read_metadata(path)
    stored = (md.metadata or {}).get(SPARK_ROW_METADATA.encode())
    if stored:
        try:
            dt = StructType.fromJson(json.loads(stored))
        except Exception:
            dt = None  # Spark also falls back to the footer on bad JSON
        if dt is not None:
            return _as_nullable(dt)
    leaves = iter([md.schema.column(i) for i in range(len(md.schema))])
    return StructType(
        [
            StructField(f.name, spark_type(f.type, leaves), True)
            for f in md.schema.to_arrow_schema()
        ]
    )


def spark_type(t, leaves=None):
    """Spark's type for Arrow type ``t`` under Spark's parquet rules.
    ``leaves`` iterates the footer's leaf ``ColumnSchema``s in schema
    order (their physical types tell INT96 from INT64 timestamps, which
    Arrow reports alike); without it, timestamps map by unit and zone
    only.  Raises ``_Unnamed`` for a type the mapping does not name."""
    import pyarrow as pa
    from pyspark.sql import types as T

    leaves = iter(()) if leaves is None else leaves
    if pa.types.is_struct(t):
        return T.StructType(
            [T.StructField(f.name, spark_type(f.type, leaves), True)
             for f in t]
        )
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return T.ArrayType(spark_type(t.value_type, leaves), True)
    if pa.types.is_map(t):
        key = spark_type(t.key_type, leaves)
        return T.MapType(key, spark_type(t.item_type, leaves), True)
    leaf = next(leaves, None)
    if pa.types.is_timestamp(t):
        if leaf is not None and leaf.physical_type == "INT96":
            return T.TimestampType()
        if t.unit == "ns":
            return T.LongType()  # spark.sql.legacy.parquet.nanosAsLong
        return T.TimestampNTZType() if t.tz is None else T.TimestampType()
    if pa.types.is_decimal(t) and t.precision <= 38:
        return T.DecimalType(t.precision, t.scale)
    if pa.types.is_fixed_size_binary(t) and (
        leaf is None or leaf.logical_type.type != "NONE"
    ):
        raise _Unnamed(str(t))  # UUID/INTERVAL: Spark's own rules
    for test, spark in _scalars():
        if test(t):
            return spark()
    raise _Unnamed(str(t))


@functools.lru_cache(maxsize=None)
def _scalars():
    import pyarrow as pa
    from pyspark.sql import types as T

    return (
        (pa.types.is_boolean, T.BooleanType),
        (pa.types.is_int8, T.ByteType),
        (pa.types.is_int16, T.ShortType),
        (pa.types.is_int32, T.IntegerType),
        (pa.types.is_int64, T.LongType),
        # unsigned annotations widen (ParquetToSparkSchemaConverter)
        (pa.types.is_uint8, T.ShortType),
        (pa.types.is_uint16, T.IntegerType),
        (pa.types.is_uint32, T.LongType),
        (pa.types.is_uint64, lambda: T.DecimalType(20, 0)),
        (pa.types.is_float32, T.FloatType),
        (pa.types.is_float64, T.DoubleType),
        (pa.types.is_date32, T.DateType),
        (pa.types.is_string, T.StringType),
        (pa.types.is_large_string, T.StringType),
        (pa.types.is_binary, T.BinaryType),
        (pa.types.is_large_binary, T.BinaryType),
        (pa.types.is_fixed_size_binary, T.BinaryType),
    )



def _as_nullable(dt):
    """Spark's ``DataType.asNullable``: every field, array element and
    map value nullable, recursively; metadata kept."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _as_nullable(f.dataType), True,
                              f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt
