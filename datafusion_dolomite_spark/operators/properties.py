"""Plan properties: logical (schema), physical (distribution/order), statistics.

Reference parity:
* ``LogicalProperty`` wraps a schema — ``dolomite/src/properties/logical.rs:3-20``.
* ``DistributionSpec = Singleton | Hashed(cols) | Random`` —
  ``dolomite/src/properties/distribution.rs:6-14``; maps 1:1 to Spark's
  ``SinglePartition`` / hash partitioning / ``UnknownPartitioning``.
* ``OrderSpec {column, asc, null_first}`` — ``dolomite/src/properties/order.rs:5-25``.
* ``PhysicalPropertySet {dist, orders}`` — ``dolomite/src/properties/physical.rs:5-9``.
* ``Statistics {row_count, ndv per column}`` — ``dolomite/src/stat.rs:6-21``
  (declared but never populated there; we DO populate from parquet metadata,
  because the cost model needs real row counts to pick broadcast joins at
  100 TB scale).

Unlike the reference — whose ``satisfies`` is stubbed ``true``
(``distribution.rs:16-20``, ``order.rs:21-25``) and whose enforcer list is
empty (``properties/physical.rs:18-24``) — we implement ``satisfies`` for
real, since the Spark executor genuinely cares about partitioning.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field
from typing import Optional, Tuple

__all__ = [
    "Schema",
    "Field",
    "LogicalProperty",
    "DistributionKind",
    "DistributionSpec",
    "OrderSpec",
    "PhysicalPropertySet",
    "Statistics",
    "ColumnStatistics",
]


@dataclass(frozen=True)
class Field:
    """One output column: name + Spark SQL type string + nullability.

    Mirrors DataFusion's ``DFField`` (qualified name + arrow type);
    we use Spark DDL type strings ("bigint", "string", "array<float>", ...)
    so a full ``pyspark.sql.types.StructType`` can be built with
    ``StructType.fromDDL`` when needed.
    """

    name: str
    dtype: str = "string"
    nullable: bool = True
    qualifier: Optional[str] = None

    def qualified_name(self) -> str:
        return f"{self.qualifier}.{self.name}" if self.qualifier else self.name


@dataclass(frozen=True)
class Schema:
    fields: Tuple[Field, ...] = ()

    def names(self) -> Tuple[str, ...]:
        return tuple(f.name for f in self.fields)

    def field(self, name: str) -> Field:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(f"column {name!r} not in schema {self.names()}")

    def index_of(self, name: str) -> int:
        for i, f in enumerate(self.fields):
            if f.name == name:
                return i
        raise KeyError(name)

    def select(self, names) -> "Schema":
        return Schema(tuple(self.field(n) for n in names))

    def concat(self, other: "Schema") -> "Schema":
        return Schema(self.fields + other.fields)

    def to_struct_type(self):
        from pyspark.sql.types import StructField, StructType

        return StructType(
            [
                StructField(f.name, _parse_dtype(f.dtype), f.nullable)
                for f in self.fields
            ]
        )


def _parse_dtype(ddl: str):
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(ddl)


@dataclass(frozen=True)
class LogicalProperty:
    """Derived bottom-up for every plan node (ref ``properties/logical.rs``)."""

    schema: Schema


class DistributionKind(enum.Enum):
    SINGLETON = "Singleton"
    HASHED = "Hashed"
    RANDOM = "Random"


@dataclass(frozen=True)
class DistributionSpec:
    kind: DistributionKind = DistributionKind.RANDOM
    columns: Tuple[str, ...] = ()

    @staticmethod
    def singleton() -> "DistributionSpec":
        return DistributionSpec(DistributionKind.SINGLETON)

    @staticmethod
    def hashed(cols) -> "DistributionSpec":
        return DistributionSpec(DistributionKind.HASHED, tuple(cols))

    @staticmethod
    def random() -> "DistributionSpec":
        return DistributionSpec(DistributionKind.RANDOM)

    def satisfies(self, required: "DistributionSpec") -> bool:
        """Real implementation (the reference stubs this to ``true``,
        ``distribution.rs:16-20``)."""
        if required.kind is DistributionKind.RANDOM:
            return True
        if required.kind is DistributionKind.SINGLETON:
            return self.kind is DistributionKind.SINGLETON
        # Hashed(required cols): satisfied by hashing on a subset-equal set
        # or by a singleton (all rows co-located trivially).
        if self.kind is DistributionKind.SINGLETON:
            return True
        return self.kind is DistributionKind.HASHED and set(self.columns) == set(
            required.columns
        )

    def pretty(self) -> str:
        if self.kind is DistributionKind.HASHED:
            return f"Hashed({', '.join(self.columns)})"
        return self.kind.value


@dataclass(frozen=True)
class OrderSpec:
    """(column, asc, nulls_first) ordering property."""

    keys: Tuple[Tuple[str, bool, bool], ...] = ()

    def satisfies(self, required: "OrderSpec") -> bool:
        if not required.keys:
            return True
        return self.keys[: len(required.keys)] == required.keys

    def pretty(self) -> str:
        if not self.keys:
            return "[]"
        return "[" + ", ".join(
            f"{c} {'asc' if a else 'desc'}{'' if nf else ' nulls_last'}"
            for c, a, nf in self.keys
        ) + "]"


@dataclass(frozen=True)
class PhysicalPropertySet:
    dist: DistributionSpec = field(default_factory=DistributionSpec.random)
    order: OrderSpec = field(default_factory=OrderSpec)

    # the Cascades search keys winners and scheduled tasks by property
    # set; hashing the nested specs on every lookup was a tenth of its
    # time, so the hash is computed once
    def __post_init__(self):
        object.__setattr__(self, "_hash", hash((self.dist, self.order)))

    def __hash__(self) -> int:
        return self._hash

    def satisfies(self, required: "PhysicalPropertySet") -> bool:
        return self.dist.satisfies(required.dist) and self.order.satisfies(
            required.order
        )

    def pretty(self) -> str:
        return f"{{dist: {self.dist.pretty()}, order: {self.order.pretty()}}}"


@dataclass(frozen=True)
class ColumnStatistics:
    ndv: float = 0.0
    #: numeric value bounds from the parquet footers (None = unknown /
    #: non-numeric).  Feed range-predicate selectivity: the fraction of
    #: [min,max] a pushed ``col < lit`` keeps is a far better estimate
    #: than a constant 1/4 — at 100 TB that difference decides whether a
    #: filtered fact side is broadcastable.
    min: object = None
    max: object = None
    #: rows held by the MOST FREQUENT value (the mode count; 0 =
    #: unknown).  The skew signal: when top_count far exceeds
    #: rows/ndv, a shuffle keyed on this column hands one reducer a
    #: straggler partition — the cost model then prefers the salted
    #: two-stage aggregate (Agg2SaltedHashAggregateRule).  Derived by
    #: the catalog's ANALYZE-equivalent pass alongside ndv.
    top_count: float = 0.0
    #: EQUI-HEIGHT histogram (r9): B+1 ascending numeric bin edges
    #: (exact quantiles at 0, 1/B, …, 1), each bin holding 1/B of the
    #: rows.  Range-predicate selectivity reads the VALUE DISTRIBUTION
    #: instead of assuming uniformity over [min, max] — on skewed data
    #: (90% of a fact table under value 10, a tail to 1e6) the linear
    #: interpolation is off by 1000x, which at 100 TB is the difference
    #: between broadcasting a filtered side and shuffling the world.
    #: () = not collected (non-numeric column, or stats-lite catalog).
    histogram: tuple = ()


@dataclass(frozen=True)
class Statistics:
    """Row count + per-column NDV (ref ``stat.rs:6-21``).

    The reference never populates these (``derive_statistics`` is
    ``todo!()``, ``cascades/memo.rs:781-783``).  We populate row counts
    from parquet file metadata — at 100 TB the difference between a
    broadcast and a shuffle join is the whole ballgame, and that decision
    needs real cardinalities.
    """

    row_count: float = 0.0
    columns: Tuple[Tuple[str, ColumnStatistics], ...] = ()
    #: average UNCOMPRESSED bytes per row (0.0 = unknown).  Derived from
    #: parquet footer total_byte_size at the scan and propagated up so
    #: the broadcast decision can budget BYTES, not rows — a 1M-row
    #: array<float> table is not broadcastable even though a 1M-row
    #: (int, int) dim is.
    avg_row_bytes: float = 0.0

    def ndv(self, column: str) -> float:
        for name, cs in self.columns:
            if name == column:
                return cs.ndv
        return 0.0

    def col(self, column: str) -> "ColumnStatistics | None":
        for name, cs in self.columns:
            if name == column:
                return cs
        return None
