"""Tiny immutable expression IR.

The reference borrows DataFusion's ``Expr`` wholesale (re-exported at
``dolomite/src/lib.rs:47``; join conditions are DF ``Expr``,
``dolomite/src/operator/join.rs:17``).  We cannot reuse
``pyspark.sql.Column`` the same way because ``Column`` is neither hashable
nor comparable, and the cascades memo dedups group expressions by hash
(``dolomite/src/cascades/memo.rs:713-719``).  So we keep a minimal frozen
dataclass IR that

* implements stable ``__hash__`` / ``__eq__`` (memo requirement),
* converts to a ``pyspark.sql.Column`` for execution, and
* pretty-prints deterministically for golden explain tests.

Only the surface the engine needs is modelled: column refs, literals,
binary ops, scalar/aggregate function calls, casts and aliases.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Tuple

from .lru import LruCache

__all__ = [
    "Expr",
    "Col",
    "Lit",
    "BinOp",
    "Func",
    "Cast",
    "Alias",
    "SortKey",
    "col",
    "lit",
]


#: Column-construction memo (r13 optimization, guide §4 — the Python
#: boundary): building a pyspark Column costs one py4j round-trip PER
#: IR node (~0.5 ms each), and plan construction re-builds identical
#: expression trees constantly (bench warm runs re-plan every query;
#: TPC-H projections share subtrees).  Unresolved Columns are immutable,
#: context-free JVM expression handles — reusing one across DataFrames
#: and plans is exactly as safe as calling F.col twice.  Keys are
#: type-tagged recursive tuples (NOT dataclass equality: Python's
#: True == 1 and -0.0 == 0.0 would alias literals with different Spark
#: types/values).  Trees containing field types outside the known-safe
#: set (e.g. embedded subquery plans) BYPASS the memo — their repr is
#: address-based and a freed address could collide.  Bounded, as each
#: Column pins a JVM object and fresh literals keep adding keys.
#: Cleared when the py4j gateway changes (new JVM ⇒ stale handles).
COLUMN_STORE_ENTRIES = 4096
COLUMN_STORE = LruCache(COLUMN_STORE_ENTRIES)
_MEMO_GATEWAY = [None]
_MEMO_SAFE_TYPES = (str, int, float, bool, bytes, type(None))


def _memo_key(e):
    """Type-tagged structural key, or None if the tree holds a field
    type we can't key safely."""
    if isinstance(e, Expr):
        import dataclasses

        if not dataclasses.is_dataclass(e):
            return None
        parts = [e.__class__.__name__]
        for f in dataclasses.fields(e):
            k = _memo_key(getattr(e, f.name))
            if k is None:
                return None
            parts.append(k)
        return tuple(parts)
    if isinstance(e, tuple):
        parts = ["()"]
        for x in e:
            k = _memo_key(x)
            if k is None:
                return None
            parts.append(k)
        return tuple(parts)
    if type(e) in _MEMO_SAFE_TYPES:
        return (type(e).__name__, repr(e))
    import datetime
    import decimal

    if type(e) in (datetime.date, datetime.datetime, decimal.Decimal):
        return (type(e).__name__, repr(e))
    return None


def cached_column(e: "Expr"):
    """``e.to_column()`` through the process-wide ``COLUMN_STORE``."""
    try:
        from pyspark import SparkContext

        gw = getattr(SparkContext, "_gateway", None)
    except Exception:
        gw = None
    if gw is None:
        return e.to_column()
    if _MEMO_GATEWAY[0] is not gw:
        COLUMN_STORE.clear()
        _MEMO_GATEWAY[0] = gw
    k = _memo_key(e)
    if k is None:
        return e.to_column()
    return COLUMN_STORE.get_or_put(k, e.to_column)


class Expr:
    """Base class for all expression nodes."""

    # -- builder sugar --------------------------------------------------
    def _bin(self, op: str, other: "Expr | Any") -> "BinOp":
        return BinOp(op, self, _wrap(other))

    def __eq__(self, other: object):  # type: ignore[override]
        # dataclass subclasses override with field equality; this base
        # method is only reached via the fluent builder on the class.
        return NotImplemented

    def eq(self, other: "Expr | Any") -> "BinOp":
        return self._bin("=", other)

    def ne(self, other: "Expr | Any") -> "BinOp":
        return self._bin("!=", other)

    def lt(self, other: "Expr | Any") -> "BinOp":
        return self._bin("<", other)

    def le(self, other: "Expr | Any") -> "BinOp":
        return self._bin("<=", other)

    def gt(self, other: "Expr | Any") -> "BinOp":
        return self._bin(">", other)

    def ge(self, other: "Expr | Any") -> "BinOp":
        return self._bin(">=", other)

    def and_(self, other: "Expr | Any") -> "BinOp":
        return self._bin("and", other)

    def or_(self, other: "Expr | Any") -> "BinOp":
        return self._bin("or", other)

    def add(self, other: "Expr | Any") -> "BinOp":
        return self._bin("+", other)

    def sub(self, other: "Expr | Any") -> "BinOp":
        return self._bin("-", other)

    def mul(self, other: "Expr | Any") -> "BinOp":
        return self._bin("*", other)

    def div(self, other: "Expr | Any") -> "BinOp":
        return self._bin("/", other)

    def alias(self, name: str) -> "Alias":
        return Alias(self, name)

    def cast(self, to_type: str) -> "Cast":
        return Cast(self, to_type)

    # -- interface ------------------------------------------------------
    def to_column(self):
        """Convert to a ``pyspark.sql.Column`` (imported lazily so plan
        construction works without a JVM)."""
        raise NotImplementedError

    def columns(self) -> Tuple[str, ...]:
        """All column names referenced by this expression."""
        raise NotImplementedError

    def pretty(self) -> str:
        raise NotImplementedError


def _wrap(v: "Expr | Any") -> "Expr":
    return v if isinstance(v, Expr) else Lit(v)


@dataclass(frozen=True)
class Col(Expr):
    """Qualified column reference (reference: DF ``Expr::Column``)."""

    name: str
    qualifier: str | None = None

    def to_column(self):
        from pyspark.sql import functions as F

        return F.col(self.name)

    def columns(self) -> Tuple[str, ...]:
        return (self.name,)

    def pretty(self) -> str:
        return f"{self.qualifier}.{self.name}" if self.qualifier else self.name


@dataclass(frozen=True)
class Lit(Expr):
    value: Any = None

    def to_column(self):
        from pyspark.sql import functions as F

        return F.lit(self.value)

    def columns(self) -> Tuple[str, ...]:
        return ()

    def pretty(self) -> str:
        if isinstance(self.value, str):
            return f"'{self.value}'"
        return repr(self.value)


_SPARK_BIN = {
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "and": lambda a, b: a & b,
    "or": lambda a, b: a | b,
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b,
    "%": lambda a, b: a % b,
    # integer division — float "/" loses precision above 2^53, which
    # nanosecond timestamps exceed; decimal division is exact and the
    # long cast truncates (== floor for non-negative operands)
    # null-safe equality (IS [NOT] DISTINCT FROM lowers through these)
    "<=>": lambda a, b: a.eqNullSafe(b),
    "div": lambda a, b: (
        a.cast("decimal(38,0)") / b.cast("decimal(38,0)")
    ).cast("long"),
}


@dataclass(frozen=True)
class BinOp(Expr):
    op: str
    left: Expr = field(default=None)  # type: ignore[assignment]
    right: Expr = field(default=None)  # type: ignore[assignment]

    def __post_init__(self):
        if self.op not in _SPARK_BIN:
            raise ValueError(f"unsupported binary op {self.op!r}")

    def to_column(self):
        return _SPARK_BIN[self.op](self.left.to_column(), self.right.to_column())

    def columns(self) -> Tuple[str, ...]:
        return tuple(dict.fromkeys(self.left.columns() + self.right.columns()))

    def pretty(self) -> str:
        return f"({self.left.pretty()} {self.op} {self.right.pretty()})"

    def conjuncts(self) -> Tuple["Expr", ...]:
        """Split a conjunction into its AND-ed parts."""
        if self.op == "and":
            out: list[Expr] = []
            for side in (self.left, self.right):
                if isinstance(side, BinOp):
                    out.extend(side.conjuncts())
                else:
                    out.append(side)
            return tuple(out)
        return (self,)


#: scalar/aggregate function names → pyspark.sql.functions factory.
#: Everything stays JVM-side (whole-stage codegen); no Python UDFs here.
_AGG_FUNCS = {
    "sum", "avg", "count", "min", "max", "count_distinct", "sum_distinct",
    "max_by", "min_by", "string_agg_ord",
    "approx_count_distinct", "stddev", "first",
    # ordered-set aggregates (r13): percentile_cont → Spark's exact
    # interpolating percentile; percentile_disc via sorted-array index
    "percentile", "percentile_disc_ord",
    # mergeable-sketch aggregates (re-aggregable rollups, mv.py)
    "hll_sketch_agg", "hll_union_agg",
}


@dataclass(frozen=True)
class Func(Expr):
    """Scalar or aggregate function call, resolved against
    ``pyspark.sql.functions`` at execution time (JVM-side, codegen'd)."""

    name: str
    args: Tuple[Expr, ...] = ()

    def __post_init__(self):
        object.__setattr__(self, "args", tuple(_wrap(a) for a in self.args))

    @property
    def is_aggregate(self) -> bool:
        return self.name in _AGG_FUNCS

    #: arg positions that must be passed as raw Python values, not Columns
    #: (the PySpark API wants plain int/str there)
    _RAW_ARGS = {
        "conv": (1, 2),
        "get_json_object": (1,),
        "substring": (1, 2),
        "lag": (1,),
        "lead": (1,),
        "ntile": (0,),
        "nth_value": (1,),
        "nth_value_ign": (1,),
        "array_join": (1,),
        "from_json": (1,),
        "element_at": (1,),
        "lpad": (1, 2),
        "rpad": (1, 2),
        "timestamp_add": (0,),
        "translate": (1, 2),
        "regexp_extract": (1, 2),
        "regexp_replace": (1, 2),
    }

    def to_column(self):
        from pyspark.sql import functions as F

        raw_positions = self._RAW_ARGS.get(self.name, ())
        cols = []
        for i, a in enumerate(self.args):
            if i in raw_positions:
                if not isinstance(a, Lit):
                    raise ValueError(
                        f"{self.name} argument {i} must be a literal, got {a!r}"
                    )
                cols.append(a.value)
            else:
                cols.append(a.to_column())
        if self.name == "not":
            (c,) = cols
            return ~c
        if self.name == "getfield":
            # struct field access (no pyspark.sql.functions entry):
            # args = (struct_expr, Lit(field_name))
            if not isinstance(self.args[1], Lit):
                raise ValueError("getfield field name must be a literal")
            return cols[0][self.args[1].value]
        if self.name == "count_distinct":
            return F.count_distinct(*cols)
        if self.name == "last_value_ign":
            return F.last(cols[0], ignorenulls=True)
        if self.name == "first_value_ign":
            return F.first(cols[0], ignorenulls=True)
        if self.name == "nth_value_ign":
            return F.nth_value(cols[0], cols[1], True)
        if self.name == "percentile_disc_ord":
            # percentile_disc(p) WITHIN GROUP (ORDER BY x [DESC]):
            # smallest x (in the requested direction) whose cume_dist
            # reaches p — sorted-array indexing over the non-null
            # values (collect_list skips NULLs; empty group → NULL via
            # NULL-safe get).  args = (x, Lit(p), Lit(asc)).
            p, asc = self.args[1], self.args[2]
            if not isinstance(p, Lit) or not isinstance(asc, Lit):
                raise ValueError(
                    "percentile_disc fraction/direction must be literals"
                )
            arr = F.array_sort(F.collect_list(cols[0]))
            nsz = F.size(arr)
            k = F.greatest(
                F.ceil(F.lit(float(p.value)) * nsz), F.lit(1)
            ).cast("int")
            idx = k if asc.value else nsz - k + F.lit(1)
            return F.get(arr, idx - F.lit(1))
        if self.name == "string_agg_ord":
            # string_agg(x, sep ORDER BY k [DESC]) — deterministic
            # ordered concatenation: collect (k, v) structs, sort with
            # an explicit comparator (JVM lambda, codegen-able): key in
            # the requested direction with NULLS LAST (DuckDB's default
            # null order for BOTH directions), ties broken value-ASC
            # regardless of direction (ADVICE r11: F.reverse flipped
            # the tiebreak too), then join.
            x, sep = self.args[0], self.args[1]
            if not isinstance(sep, Lit) or not isinstance(sep.value, str):
                raise ValueError("string_agg separator must be a string literal")
            # (key, asc) pairs flattened into the arg tail
            pairs = [
                (self.args[i], bool(self.args[i + 1].value))
                for i in range(2, len(self.args), 2)
            ]

            def _cmp3(a, b, lt, gt, tie):
                return (
                    F.when(a.isNull() & b.isNull(), tie)
                    .when(a.isNull(), F.lit(1))   # NULLS LAST
                    .when(b.isNull(), F.lit(-1))
                    .when(a < b, F.lit(lt))
                    .when(a > b, F.lit(gt))
                    .otherwise(tie)
                )

            def _comparator(sa, sb):
                # fold keys right-to-left; final tie broken value-ASC
                # regardless of key direction
                cmp = _cmp3(sa["_v"], sb["_v"], -1, 1, F.lit(0))
                for i, (_, is_asc) in reversed(list(enumerate(pairs))):
                    cmp = _cmp3(
                        sa[f"_k{i}"], sb[f"_k{i}"],
                        -1 if is_asc else 1,
                        1 if is_asc else -1,
                        cmp,
                    )
                return cmp

            arr = F.array_sort(
                F.collect_list(
                    F.struct(
                        *[
                            k.to_column().alias(f"_k{i}")
                            for i, (k, _) in enumerate(pairs)
                        ],
                        x.to_column().alias("_v"),
                    )
                ),
                _comparator,
            )
            return F.array_join(F.transform(arr, lambda s_: s_["_v"]), sep.value)
        if self.name == "count" and not cols:
            return F.count(F.lit(1))
        if self.name == "substring" and len(cols) == 2:
            # two-arg form (DuckDB/standard): from pos to end of string
            return F.substring(cols[0], cols[1], 2**31 - 1)
        if self.name == "mod":
            a, b = cols
            return a % b
        fn = getattr(F, self.name, None)
        if fn is None:
            raise ValueError(f"unknown function {self.name!r}")
        return fn(*cols)

    def columns(self) -> Tuple[str, ...]:
        out: list[str] = []
        for a in self.args:
            out.extend(a.columns())
        return tuple(dict.fromkeys(out))

    def pretty(self) -> str:
        return f"{self.name}({', '.join(a.pretty() for a in self.args)})"


@dataclass(frozen=True)
class Cast(Expr):
    expr: Expr = field(default=None)  # type: ignore[assignment]
    to_type: str = "string"
    #: TRY_CAST semantics — NULL on conversion failure instead of an
    #: ANSI error (Spark ``Column.try_cast``; DuckDB ``TRY_CAST``)
    safe: bool = False

    def to_column(self):
        c = self.expr.to_column()
        return c.try_cast(self.to_type) if self.safe else c.cast(self.to_type)

    def columns(self) -> Tuple[str, ...]:
        return self.expr.columns()

    def pretty(self) -> str:
        fn = "try_cast" if self.safe else "cast"
        return f"{fn}({self.expr.pretty()} as {self.to_type})"


@dataclass(frozen=True)
class Alias(Expr):
    expr: Expr = field(default=None)  # type: ignore[assignment]
    name: str = ""

    def to_column(self):
        return self.expr.to_column().alias(self.name)

    def columns(self) -> Tuple[str, ...]:
        return self.expr.columns()

    def pretty(self) -> str:
        return f"{self.expr.pretty()} as {self.name}"

    def output_name(self) -> str:
        return self.name


@dataclass(frozen=True)
class CaseWhen(Expr):
    """CASE WHEN c1 THEN v1 [WHEN c2 THEN v2 ...] ELSE e END."""

    branches: Tuple[Tuple[Expr, Expr], ...] = ()
    otherwise: Expr = field(default=None)  # type: ignore[assignment]

    def to_column(self):
        from pyspark.sql import functions as F

        col = None
        for cond, val in self.branches:
            col = (
                F.when(cond.to_column(), val.to_column())
                if col is None
                else col.when(cond.to_column(), val.to_column())
            )
        if self.otherwise is not None:
            col = col.otherwise(self.otherwise.to_column())
        return col

    def columns(self) -> Tuple[str, ...]:
        out: list[str] = []
        for cond, val in self.branches:
            out.extend(cond.columns())
            out.extend(val.columns())
        if self.otherwise is not None:
            out.extend(self.otherwise.columns())
        return tuple(dict.fromkeys(out))

    def pretty(self) -> str:
        parts = " ".join(
            f"when {c.pretty()} then {v.pretty()}" for c, v in self.branches
        )
        tail = f" else {self.otherwise.pretty()}" if self.otherwise is not None else ""
        return f"case {parts}{tail} end"


@dataclass(frozen=True)
class RawSql(Expr):
    """Escape hatch: a Spark SQL expression string (rendered via
    ``F.expr``).  Used for constructs the tiny IR doesn't model — higher-
    order functions with lambdas (``transform``, ``aggregate``,
    ``filter``), generators (``posexplode``).  Still fully JVM-side /
    codegen'd; referenced columns must be listed for pruning rules."""

    sql: str = ""
    refs: Tuple[str, ...] = ()

    def to_column(self):
        from pyspark.sql import functions as F

        return F.expr(self.sql)

    def columns(self) -> Tuple[str, ...]:
        return self.refs

    def pretty(self) -> str:
        return self.sql


@dataclass(frozen=True)
class SortKey:
    """Sort key: expression + direction + null ordering.

    Mirrors the reference's physical ``OrderSpec {column, asc, null_first}``
    (``dolomite/src/properties/order.rs:5-25``) but is usable as a logical
    sort operator field too (the reference has no Sort operator; we add one
    — SURVEY §2.4 'sorts absent').
    """

    expr: Expr
    asc: bool = True
    nulls_first: bool = True

    def to_column(self):
        c = self.expr.to_column()
        if self.asc:
            return c.asc_nulls_first() if self.nulls_first else c.asc_nulls_last()
        return c.desc_nulls_first() if self.nulls_first else c.desc_nulls_last()

    def pretty(self) -> str:
        d = "asc" if self.asc else "desc"
        n = "nulls_first" if self.nulls_first else "nulls_last"
        return f"{self.expr.pretty()} {d} {n}"


def col(name: str, qualifier: str | None = None) -> Col:
    return Col(name, qualifier)


def lit(value: Any) -> Lit:
    return Lit(value)


def output_name(e: Expr) -> str:
    """Name a projection/aggregation output column gets in Spark."""
    if isinstance(e, Alias):
        return e.name
    if isinstance(e, Col):
        return e.name
    return e.pretty()
