"""SQL front door: SQL text → logical ``Plan``.

Mirrors the reference's Entry point A (SURVEY §3): ``sqlparser`` parse →
DataFusion ``SqlToRel`` bind → ``from_df_logical`` convert
(``datafusion-dolomite-integration/tests/utils/mod.rs:78-83``,
``src/conversion/logical.rs:33-153``).  No SQL parser library ships in
this environment, so this is a small hand-written tokenizer + recursive-
descent parser for the engine's SQL subset — which already EXCEEDS the
reference's conversion surface (there, only Projection/Limit/TableScan
convert; join conversion is commented out,
``conversion/logical.rs:119-135``):

    SELECT [DISTINCT] exprs FROM t [JOIN t2 ON cond]* [WHERE pred]
    [GROUP BY exprs] [HAVING pred] [ORDER BY expr [ASC|DESC] ...] [LIMIT n]
    [UNION [ALL] | INTERSECT | EXCEPT <select>]

Expressions: qualified columns, numeric/string literals, arithmetic,
comparisons, AND/OR, function calls (incl. aggregates), ``COUNT(*)``,
``expr AS alias``, parentheses.  ``SELECT *`` expands through the
catalog like the reference's scan binding (``operator/table_scan.rs:61``).

``parse_statement`` reads the same tokens for the planner's front door:
DDL, DML and utility statements match a table of statement forms
(``_STATEMENT_FORMS``); anything else is a query for ``parse_sql``.
"""

from __future__ import annotations

import re
from typing import List, NamedTuple, Optional, Tuple

from .expr import Alias, BinOp, Cast, Col, Expr, Func, Lit, SortKey
from .operators.logical import JoinType, LogicalFilter, WindowExprDef
from .plans.plan import LogicalPlanBuilder, Plan

__all__ = ["parse_sql", "parse_statement", "Statement", "SqlError"]


class SqlError(ValueError):
    pass


# ``other`` is the catch-all: a quoted identifier or any one character the
# grammar has no token for (``|``, ``;``, ...).  No parser rule accepts it,
# so a query holding one is rejected, while a DML expression holding one
# still reaches Spark's own parser through ``F.expr``.
_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>--[^\n]*|/\*.*?\*/)
  | (?P<number>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<string>'(?:[^']|'')*')
  | (?P<ident>[A-Za-z_][A-Za-z_0-9]*)
  | (?P<op><=>|<=|>=|<>|!=|::|=|<|>|\(|\)|,|\.|\*|\+|-|/|%)
  | (?P<other>"(?:[^"]|"")*"|`[^`]*`|\S)
    """,
    re.VERBOSE | re.DOTALL,
)


def _number(text: str):
    """A number token's value: an int, or a double when it has a
    fraction or an exponent (``1.5``, ``1e5``)."""
    return int(text) if text.isdigit() else float(text)


_KEYWORDS = {
    "select", "distinct", "from", "join", "inner", "left", "right", "full",
    "semi", "anti", "on", "where", "group", "by", "order", "limit", "as",
    "and", "or", "asc", "desc", "cast", "having", "union", "all",
    "intersect", "except", "between", "not", "in", "exists", "with",
    "like", "case", "when", "then", "else", "end", "is", "null", "cross",
    "over", "partition", "rows", "range", "unbounded", "preceding",
    "following", "current", "row", "outer", "offset", "nulls", "first",
    "last", "values", "qualify", "recursive", "asof",
}


class _Subquery:
    """Parser-internal marker for a membership test over a subquery:
    ``[NOT] EXISTS (S)`` has no probe; ``x IN (S)`` is ``x = ANY (S)``;
    ``x NOT IN (S)`` is ``x != ALL (S)``; ``x op ANY|ALL (S)``.  Never
    enters the plan: ``_lower_membership`` decorrelates S and replaces
    the marker by joins and its (three-valued) value."""

    __slots__ = ("probe", "op", "quant", "subplan", "negated")

    def __init__(self, probe, op, quant, subplan, negated=False):
        self.probe = probe
        self.op = op
        self.quant = quant
        self.subplan = subplan
        self.negated = negated

    def negate(self) -> "_Subquery":
        return _Subquery(
            self.probe, self.op, self.quant, self.subplan, not self.negated
        )


class _ScalarSubquery:
    """Parser-internal marker: ``(<select>)`` used as a VALUE (e.g.
    ``x > (select avg(...) ...)``).  ``_join_scalars`` joins the
    subquery (a 1-row aggregate, or in WHERE a correlated aggregate per
    key) and the node becomes a column reference."""

    __slots__ = ("subplan",)

    def __init__(self, subplan):
        self.subplan = subplan


class _IntervalLit:
    """Parser-internal marker: ``INTERVAL '90' DAY`` (r11).  Only legal
    directly under ``+``/``-`` — with a date/timestamp operand,
    ``_date_arith`` rewrites the pair into nested ``timestamp_add``
    calls, whose Spark semantics (clamping month/year arithmetic,
    time-of-day preserved, DATE input → midnight TIMESTAMP) match
    DuckDB's native ``date ± INTERVAL`` exactly — so the same query
    string is its own oracle.  Escaping to any other position raises
    at parse time (``_mul``/``::``/``_add`` all check — ADVICE r11).

    Components normalize to DuckDB's internal (months, days, seconds)
    triple (r12): ``INTERVAL 1 QUARTER + INTERVAL 1 MONTH`` is ONE
    4-month add, not two chained clamping adds — chained clamps diverge
    from DuckDB at month ends (2024-01-31 +1mo +1mo = 03-29, +2mo =
    03-31).  Application order months → days → seconds, exactly
    DuckDB's interval addition."""

    __slots__ = ("months", "days", "seconds")

    _UNITS = {
        "day": "DAY", "days": "DAY", "week": "WEEK", "weeks": "WEEK",
        "month": "MONTH", "months": "MONTH", "quarter": "QUARTER",
        "quarters": "QUARTER", "year": "YEAR", "years": "YEAR",
        "hour": "HOUR", "hours": "HOUR", "minute": "MINUTE",
        "minutes": "MINUTE", "second": "SECOND", "seconds": "SECOND",
    }
    _TO = {
        "YEAR": ("months", 12), "QUARTER": ("months", 3),
        "MONTH": ("months", 1), "WEEK": ("days", 7), "DAY": ("days", 1),
        "HOUR": ("seconds", 3600), "MINUTE": ("seconds", 60),
        "SECOND": ("seconds", 1),
    }

    def __init__(self, n=0, unit=None, months=0, days=0, seconds=0):
        self.months, self.days, self.seconds = months, days, seconds
        if unit is not None:
            field, scale = self._TO[unit]
            setattr(self, field, getattr(self, field) + n * scale)

    def merged(self, other: "_IntervalLit", sign: int) -> "_IntervalLit":
        return _IntervalLit(
            months=self.months + sign * other.months,
            days=self.days + sign * other.days,
            seconds=self.seconds + sign * other.seconds,
        )

    def parts(self):
        """Non-zero (n, unit) components, coarse → fine (the DuckDB
        application order); a zero interval keeps one 0-day part so
        ``date + INTERVAL 0 DAY`` still promotes like DuckDB."""
        ps = [
            (n, u)
            for n, u in (
                (self.months, "MONTH"),
                (self.days, "DAY"),
                (self.seconds, "SECOND"),
            )
            if n
        ]
        return ps or [(0, "DAY")]


class _WindowExpr(Expr):
    """Parser-internal marker: ``func OVER (...)``.  Never enters the
    plan — ``_select`` lowers each into a ``WindowExprDef`` on a
    ``LogicalWindow`` node (window evaluation sits between WHERE and the
    final projection, matching SQL semantics).

    Subclasses ``Expr`` (r13) so it can sit INSIDE a ``Func`` argument
    list without ``_wrap`` turning it into a ``Lit`` — the lag/lead
    IGNORE-NULLS rewrite (``_expand_ign_window``) builds
    ``get(collect_list(x) OVER w, …)`` composites, and the select-list
    window lowering substitutes each occurrence with its hidden window
    column before any ``to_column`` call."""

    __slots__ = ("func", "partition_by", "order_by", "frame", "ref")

    def __init__(self, func, partition_by, order_by, frame, ref=None):
        # ref: name of a WINDOW-clause spec this OVER refers to; bound
        # (and cleared) by _bind_named_windows before lowering
        self.func = func
        self.partition_by = partition_by
        self.order_by = order_by
        self.frame = frame
        self.ref = ref

    def to_column(self):  # pragma: no cover - lowering bug guard
        raise SqlError(
            "window expression was not lowered — OVER is only valid in "
            "the select list / QUALIFY"
        )

    def columns(self):
        return self.func.columns()

    def pretty(self) -> str:
        return f"{self.func.pretty()} over (...)"


def _expand_ign_window(func, partition_by, order_by, frame):
    """Post-parse window normalization (r13): ``lag/lead … IGNORE
    NULLS`` has no direct ``pyspark.sql.functions`` form, so it
    rewrites into frame arithmetic over the SAME window —

    * offset 1 (the gap-filling idiom): ``last_value IGNORE NULLS``
      over ROWS(unbounded, 1 preceding) / ``first_value`` over
      ROWS(1 following, unbounded) — a running aggregate, O(1) state;
    * offset n > 1: the n-th-from-the-frame-edge element of
      ``collect_list`` (which skips NULLs and preserves frame order)
      via NULL-safe ``get`` — O(frame) state, documented cost of the
      rare general case.

    Everything else passes through unchanged."""
    if not (
        isinstance(func, Func) and func.name in ("lag_ign", "lead_ign")
    ):
        return _WindowExpr(func, tuple(partition_by), tuple(order_by), frame)
    if frame is not None:
        raise SqlError("lag/lead take no frame clause")
    if not order_by:
        raise SqlError("lag/lead IGNORE NULLS require ORDER BY in the window")
    x = func.args[0]
    n = 1
    if len(func.args) > 1:
        if not isinstance(func.args[1], Lit):
            raise SqlError("lag/lead offset must be a literal")
        n = int(func.args[1].value)
    if len(func.args) > 2:
        raise SqlError("lag/lead IGNORE NULLS do not take a default value")
    if n < 1:
        raise SqlError("lag/lead IGNORE NULLS offset must be >= 1")
    pb, ob = tuple(partition_by), tuple(order_by)
    if func.name == "lag_ign":
        f = ("rows", None, -1)
        if n == 1:
            return _WindowExpr(Func("last_value_ign", (x,)), pb, ob, f)
        arr = _WindowExpr(Func("collect_list", (x,)), pb, ob, f)
        return Func("get", (arr, BinOp("-", Func("size", (arr,)), Lit(n))))
    f = ("rows", 1, None)
    if n == 1:
        return _WindowExpr(Func("first_value_ign", (x,)), pb, ob, f)
    arr = _WindowExpr(Func("collect_list", (x,)), pb, ob, f)
    return Func("get", (arr, Lit(n - 1)))


class _Tok:
    __slots__ = ("kind", "value", "pos")

    def __init__(self, kind: str, value: str, pos: int):
        self.kind = kind
        self.value = value
        #: offset of the token's first character in the source text
        self.pos = pos

    def __repr__(self):
        return f"{self.kind}:{self.value}"


def _tokenize(sql: str) -> Tuple[List[_Tok], dict]:
    """The engine's one SQL lexer: the tokens of ``sql`` and its join
    strategy hints.  Comments are dropped; the hints of a ``/*+ ... */``
    comment (the Spark hint surface: ``BROADCAST(t)``, ``MERGE(t)`` /
    ``SHUFFLEMERGE(t)``, ``SHUFFLE_HASH(t)``) are collected.  A
    quote inside a comment, or a comment marker inside a literal, is
    never syntax: each is part of one token.  One trailing ``;`` ends
    the statement and is dropped."""
    out: List[_Tok] = []
    hints = {"broadcast": set(), "merge": set(), "shuffle_hash": set()}
    for m in _TOKEN_RE.finditer(sql):
        kind, v = m.lastgroup, m.group()
        if kind == "ws":
            continue
        if kind == "comment":
            if v.startswith("/*+"):
                for hm in re.finditer(
                    r"(broadcast|shufflemerge|merge|shuffle_hash)\s*\(([^)]*)\)",
                    v,
                    re.IGNORECASE,
                ):
                    hk = hm.group(1).lower()
                    hk = "merge" if hk == "shufflemerge" else hk
                    for t in hm.group(2).split(","):
                        if t.strip():
                            hints[hk].add(t.strip().lower())
            continue
        if kind == "ident" and v.lower() in _KEYWORDS:
            out.append(_Tok("kw", v.lower(), m.start()))
        else:
            out.append(_Tok(kind, v, m.start()))
    if out and out[-1].kind == "other" and out[-1].value == ";":
        out.pop()
    out.append(_Tok("eof", "", len(sql)))
    return out, hints


class _Parser:
    def __init__(self, sql: str, catalog=None, macros=None, views=None,
                 view_depth=0, lexed=None):
        self.toks, self.hints = lexed if lexed is not None else _tokenize(sql)
        self.i = 0
        self.catalog = catalog
        self.ctes: dict[str, Plan] = {}
        #: CREATE VIEW registry (lowercase name → SQL text), expanded
        #: LATE at each reference like standard SQL views: the text
        #: re-parses per reference, so a view always reflects the
        #: current definition of the views it references.  CTEs shadow
        #: views; ``view_depth`` bounds nesting (a replace-cycle would
        #: otherwise recurse forever).
        self.views: dict = dict(views) if views else {}
        self.view_depth = view_depth
        # alias frames: one dict per lexically-enclosing SELECT, innermost
        # last; maps table alias (or bare table name) → column-rename
        # prefix ("" when columns keep their scan names)
        self.frames: List[dict] = []
        #: CREATE FUNCTION macros (name → (params, body Expr)) expanded
        #: IN THE PARSER at each call site (``_call``): the r7 textual
        #: pre-pass could mis-expand a macro name inside a quoted
        #: identifier, split arguments on a comma inside a string
        #: literal, or re-capture substituted text — expansion in the
        #: expression IR removes that class of bug (VERDICT r7 item 5).
        self.macros: dict = dict(macros) if macros else {}

    # -- token helpers --------------------------------------------------
    def peek(self) -> _Tok:
        return self.toks[self.i]

    def next(self) -> _Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept(self, kind: str, value: Optional[str] = None) -> Optional[_Tok]:
        t = self.peek()
        if t.kind == kind and (value is None or t.value == value):
            return self.next()
        return None

    def expect(self, kind: str, value: Optional[str] = None) -> _Tok:
        t = self.accept(kind, value)
        if t is None:
            raise SqlError(f"expected {value or kind}, got {self.peek()!r}")
        return t

    # -- grammar --------------------------------------------------------
    def parse(self) -> Plan:
        # CREATE TABLE name [USING format] AS <query> — lowers onto a
        # LogicalSink above the query plan (the reference has no DDL or
        # sinks at all; SURVEY §2.4)
        t = self.peek()
        if t.kind == "ident" and t.value.lower() == "create":
            from .operators.extensions import LogicalSink

            self.next()
            t2 = self.next()
            is_mv = False
            if t2.kind == "ident" and t2.value.lower() == "materialized":
                t3 = self.next()
                if not (t3.kind == "ident" and t3.value.lower() == "view"):
                    raise SqlError("expected VIEW after MATERIALIZED")
                is_mv = True
            elif not (t2.kind == "ident" and t2.value.lower() == "table"):
                raise SqlError(
                    "only CREATE [MATERIALIZED VIEW | TABLE] ... AS SELECT "
                    "is supported"
                )
            name = self.expect("ident").value
            fmt = "parquet"
            t3 = self.peek()
            if t3.kind == "ident" and t3.value.lower() == "using":
                self.next()
                fmt = self.expect("ident").value.lower()
            self.expect("kw", "as")
            sub = self.parse()
            return (
                LogicalPlanBuilder(sub.root)
                ._push(LogicalSink(name, fmt, is_mv), [sub.root])
                .build()
            )
        plan = self._query()
        self.expect("eof")
        return plan

    _CTE_MISSING = object()

    def _with_clause(self) -> dict:
        """Consume a ``WITH [RECURSIVE] name [(cols)] AS (...), ...``
        block if present, defining the CTEs for the CURRENT query
        scope.  Returns ``{name: previous_binding_or_sentinel}`` so the
        caller (``_query``) can restore the enclosing scope — a CTE
        defined inside a subquery (derived table, LATERAL, IN/EXISTS/
        scalar subquery — DuckDB allows WITH in all of them, r11) must
        neither leak out nor permanently shadow an outer CTE of the
        same name."""
        saved: dict = {}
        if not self.accept("kw", "with"):
            return saved
        recursive = bool(self.accept("kw", "recursive"))
        while True:
            name = self.expect("ident").value
            col_names = None
            if self.accept("op", "("):
                col_names = [self.expect("ident").value]
                while self.accept("op", ","):
                    col_names.append(self.expect("ident").value)
                self.expect("op", ")")
            self.expect("kw", "as")
            self.expect("op", "(")
            saved.setdefault(
                name, self.ctes.get(name, self._CTE_MISSING)
            )
            if recursive and col_names:
                self.ctes[name] = self._recursive_cte_body(name, col_names)
            else:
                self.ctes[name] = self._query()
            self.expect("op", ")")
            if not self.accept("op", ","):
                break
        return saved

    def _recursive_cte_body(self, name: str, col_names) -> Plan:
        """``WITH RECURSIVE name(cols) AS (base UNION [ALL] step)``:
        a placeholder CTE reference is registered BEFORE parsing the
        body, so the step member's ``FROM name`` resolves to a
        ``LogicalCTERef`` leaf; the parsed union is then split into
        (base, step) under a ``LogicalRecursiveCTE`` operator whose
        executor iterates to the fixpoint (execute.py; DuckDB runs the
        same SQL natively, which is the oracle)."""
        from .operators.extensions import LogicalCTERef, LogicalRecursiveCTE
        from .operators.logical import LogicalDistinct, LogicalUnion

        cols = tuple(col_names)
        self.ctes[name] = (
            LogicalPlanBuilder()
            ._push(LogicalCTERef(name, cols), [])
            .build()
        )
        body = self._query()
        root = body.root
        distinct = False
        if isinstance(root.operator, LogicalDistinct) and root.inputs and isinstance(
            root.inputs[0].operator, LogicalUnion
        ):
            distinct = True
            union = root.inputs[0]
        elif isinstance(root.operator, LogicalUnion):
            union = root
        else:
            raise SqlError(
                "recursive CTE body must be 'base UNION [ALL] step'"
            )
        base_n, step_n = union.inputs

        def _has_ref(n) -> bool:
            if isinstance(n.operator, LogicalCTERef) and n.operator.name == name:
                return True
            return any(_has_ref(c) for c in n.inputs)

        if _has_ref(base_n):
            raise SqlError(
                f"recursive CTE {name!r}: the base member must not "
                "reference the CTE"
            )
        if not _has_ref(step_n):
            raise SqlError(
                f"recursive CTE {name!r}: the step member must reference "
                "the CTE"
            )
        return (
            LogicalPlanBuilder()
            ._push(
                LogicalRecursiveCTE(name, cols, distinct), [base_n, step_n]
            )
            .build()
        )

    def _query(self) -> Plan:
        """[WITH ...] select [(UNION [ALL] | INTERSECT | EXCEPT)
        select]* — left-associative, equal precedence (like the
        reference's sqlparser would reject mixed chains anyway; ours
        folds them).  A leading WITH defines CTEs scoped to THIS query
        (so subqueries at any depth can open one; see _with_clause)."""
        from .operators.logical import LogicalExcept, LogicalIntersect, LogicalUnion

        saved_ctes = self._with_clause()
        try:
            return self._query_body()
        finally:
            for name, prev in saved_ctes.items():
                if prev is self._CTE_MISSING:
                    self.ctes.pop(name, None)
                else:
                    self.ctes[name] = prev

    def _query_body(self) -> Plan:
        from .operators.logical import LogicalExcept, LogicalIntersect, LogicalUnion

        plan = self._select()
        while True:
            if self.accept("kw", "union"):
                distinct = self.accept("kw", "all") is None
                # UNION [ALL] BY NAME (DuckDB, r11): match columns by
                # name, null-filling ones a side lacks
                by_name = False
                t_b = self.peek()
                n_b = (
                    self.toks[self.i + 1]
                    if self.i + 1 < len(self.toks)
                    else None
                )
                if (
                    t_b.kind == "kw"
                    and t_b.value == "by"
                    and n_b is not None
                    and n_b.kind == "ident"
                    and n_b.value.lower() == "name"
                ):
                    self.next()
                    self.next()
                    by_name = True
                rhs = self._select()
                b = LogicalPlanBuilder(plan.root)._push(
                    LogicalUnion(by_name), [plan.root, rhs.root]
                )
                if distinct:
                    b = b.distinct()
                plan = b.build()
            elif self.accept("kw", "intersect"):
                is_all = self.accept("kw", "all") is not None
                rhs = self._select()
                plan = LogicalPlanBuilder(plan.root)._push(
                    LogicalIntersect(is_all), [plan.root, rhs.root]
                ).build()
            elif self.accept("kw", "except"):
                is_all = self.accept("kw", "all") is not None
                rhs = self._select()
                plan = LogicalPlanBuilder(plan.root)._push(
                    LogicalExcept(is_all), [plan.root, rhs.root]
                ).build()
            else:
                return plan

    def _select(self) -> Plan:
        self.expect("kw", "select")
        distinct = self.accept("kw", "distinct") is not None
        # DISTINCT ON (c1, ...) — Postgres/DuckDB: first row per key
        # group by ORDER BY; lowered in _finish_select as a row_number
        # window + rn=1 filter
        distinct_on: List[str] = []
        if distinct and self.accept("kw", "on"):
            self.expect("op", "(")
            distinct_on.append(self.expect("ident").value)
            while self.accept("op", ","):
                distinct_on.append(self.expect("ident").value)
            self.expect("op", ")")
        star = False
        star_exclude: set = set()
        star_replace: dict = {}
        items: List[Expr] = []
        if self.accept("op", "*"):
            star = True
            # * EXCLUDE (c, ...) / * REPLACE (expr AS c, ...) — DuckDB
            # star modifiers, applied when the star expands
            while True:
                t_m = self.peek()
                n_m = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
                if (
                    t_m.kind != "ident"
                    or t_m.value.lower() not in ("exclude", "replace")
                    or n_m is None
                    or n_m.kind != "op"
                    or n_m.value != "("
                ):
                    break
                kind_m = self.next().value.lower()
                self.expect("op", "(")
                if kind_m == "exclude":
                    star_exclude.add(self.expect("ident").value)
                    while self.accept("op", ","):
                        star_exclude.add(self.expect("ident").value)
                else:
                    while True:
                        e_m = self._expr()
                        self.expect("kw", "as")
                        star_replace[self.expect("ident").value] = e_m
                        if not self.accept("op", ","):
                            break
                self.expect("op", ")")
        else:
            items.append(self._select_item())
            while self.accept("op", ","):
                items.append(self._select_item())

        frame: dict = {}
        seen_bases: set = set()
        self.frames.append(frame)
        if not self.accept("kw", "from"):
            # FROM-less SELECT (`select 1`, `select cast(null as int)`):
            # a one-row dummy relation carries the literal projection —
            # the DUAL convention
            if star:
                raise SqlError("SELECT * needs a FROM clause")
            builder = LogicalPlanBuilder().values(
                [[1]], ["__dual__"], ["int"]
            )
        else:
            builder = self._from_item(frame, seen_bases)
            # comma joins (textbook TPC-H style): cross join now, WHERE
            # equalities merge into the condition via
            # MergeFilterIntoJoinRule
            while self.accept("op", ","):
                if self._lateral_ahead():
                    builder = self._lateral_join(builder, frame, JoinType.INNER)
                    continue
                builder = builder.join(
                    self._from_item(frame, seen_bases), JoinType.INNER,
                    Lit(True)
                )

        # joins
        while True:
            if self.accept("kw", "cross"):
                self.expect("kw", "join")
                if self._lateral_ahead():
                    builder = self._lateral_join(builder, frame, JoinType.INNER)
                    continue
                builder = builder.join(
                    self._from_item(frame, seen_bases), JoinType.INNER, Lit(True)
                )
                continue
            if self.accept("kw", "asof"):
                # ASOF [NEAREST] [LEFT] JOIN (r9; directions r10 —
                # DuckDB's grammar): equality conjuncts plus exactly
                # one ts inequality → the engine's LogicalAsofJoin.
                # The inequality's operator picks the direction:
                # ``l.ts >= r.ts`` backward (DuckDB's default), ``>``
                # backward strict, ``<=`` forward, ``<`` forward
                # strict; the NEAREST qualifier (our extension —
                # DuckDB has no nearest) takes the closer of the two.
                # Plain ASOF JOIN is INNER (unmatched left rows drop);
                # ASOF LEFT JOIN keeps them with NULLs.
                nearest = False
                t = self.peek()
                if t.kind == "ident" and t.value.lower() == "nearest":
                    self.next()
                    nearest = True
                outer = bool(self.accept("kw", "left"))
                self.expect("kw", "join")
                right = self._from_item(frame, seen_bases)
                self.expect("kw", "on")
                cond = self._resolve(self._expr())
                builder = self._asof_join(
                    builder, right, cond, outer, nearest
                )
                continue
            jt = self._join_type()
            if jt is None:
                break
            if self._lateral_ahead():
                if jt not in (JoinType.INNER, JoinType.LEFT):
                    raise SqlError(
                        "LATERAL joins support INNER and LEFT only "
                        f"(got {jt.name})"
                    )
                builder = self._lateral_join(builder, frame, jt, with_on=True)
                continue
            right = self._from_item(frame, seen_bases)
            t_u = self.peek()
            if (
                t_u.kind == "ident"
                and t_u.value.lower() == "using"
            ):
                # JOIN USING (c, ...) — both sides carry c; the output
                # keeps ONE copy: the left's for INNER/LEFT, and
                # COALESCE(left, right) for RIGHT/FULL (r12 — the
                # standard USING output rule; on RIGHT the coalesce
                # degenerates to the right's copy since matched rows
                # agree).  The right side's copies rename to
                # __using_<c> so the equality compiles against
                # globally-unique names, then a post-join projection
                # drops them.
                self.next()
                self.expect("op", "(")
                ucols = [self.expect("ident").value]
                while self.accept("op", ","):
                    ucols.append(self.expect("ident").value)
                self.expect("op", ")")
                lnames = self._schema_names(builder)
                rnames = self._schema_names(right)
                missing = [
                    c for c in ucols
                    if c not in lnames or c not in rnames
                ]
                if missing:
                    raise SqlError(
                        f"USING columns {missing} must exist on both "
                        "sides"
                    )
                right = right.projection(
                    [
                        Alias(Col(c), f"__using_{c}")
                        if c in ucols
                        else Col(c)
                        for c in rnames
                    ]
                )
                cond = _and_all(
                    [
                        BinOp("=", Col(c), Col(f"__using_{c}"))
                        for c in ucols
                    ]
                )
                out_cols: List[Expr] = [
                    Alias(
                        Func("coalesce", (Col(c), Col(f"__using_{c}"))), c
                    )
                    if c in ucols
                    and jt in (JoinType.RIGHT, JoinType.FULL)
                    else Col(c)
                    for c in lnames
                ]
                builder = builder.join(right, jt, cond).projection(
                    out_cols
                    + [Col(c) for c in rnames if c not in ucols]
                )
                continue
            self.expect("kw", "on")
            cond = self._resolve(self._expr())
            if _contains_membership(cond):
                # an inner join's ON conjuncts filter the joined rows
                # exactly as WHERE conjuncts would; an outer join's
                # would change which rows are NULL-extended
                if jt is not JoinType.INNER:
                    raise SqlError(
                        "IN/EXISTS/ANY/ALL subqueries in a JOIN ... ON "
                        f"condition are supported for INNER joins only "
                        f"(got {jt.name}); move the test into WHERE or "
                        "a derived table"
                    )
                plain, _, _ = _split_in_conjuncts(cond)
                builder = _filter_lowering_markers(
                    builder.join(
                        right, jt, plain if plain is not None else Lit(True)
                    ),
                    _and_all(
                        c for c in _conjuncts(cond)
                        if _contains_membership(c)
                    ),
                    self.catalog,
                )
                continue
            builder = builder.join(right, jt, cond)

        # -- COLUMNS('regex') star expressions (DuckDB, r11) ------------
        # a top-level select item COLUMNS('re') expands to every input
        # column whose name MATCHES the pattern anywhere (re.search —
        # DuckDB's rule: 'quantity|discount' matches l_quantity), in
        # schema order.  Nested forms (min(COLUMNS(...))) are rejected
        # explicitly rather than mis-expanded.
        if any(
            isinstance(x, Func) and x.name == "columns"
            for e in items
            for x in _walk_exprs(e)
        ):
            import re as _re

            new_cols_items: List[Expr] = []
            for e in items:
                if not (isinstance(e, Func) and e.name == "columns"):
                    if any(
                        isinstance(x, Func) and x.name == "columns"
                        for x in _walk_exprs(e)
                    ):
                        raise SqlError(
                            "COLUMNS(...) is only supported as a "
                            "top-level select item — list the matched "
                            "columns explicitly inside expressions"
                        )
                    new_cols_items.append(e)
                    continue
                if len(e.args) != 1 or not (
                    isinstance(e.args[0], Lit)
                    and isinstance(e.args[0].value, str)
                ):
                    raise SqlError(
                        "COLUMNS takes one string-literal regex"
                    )
                pat = _re.compile(e.args[0].value)
                matched = [
                    c.name
                    for c in self._expand_star(builder)
                    if pat.search(c.name)
                ]
                if not matched:
                    raise SqlError(
                        f"COLUMNS({e.args[0].value!r}) matched no "
                        "input columns"
                    )
                new_cols_items.extend(Col(c) for c in matched)
            items = new_cols_items

        items = [self._resolve(e) for e in items]

        # -- scalar subqueries in the SELECT LIST ------------------------
        # ``SELECT (SELECT max(x) FROM t2) AS m, ...`` — same lowering as
        # the WHERE-side scalars: each (uncorrelated, one-row aggregate)
        # subquery joins below on TRUE (Spark broadcasts the single row)
        # and the select item references its ``_scalar_N`` column.  With
        # GROUP BY, the constant column rides along as an extra group key
        # — same groups, standard semantics (deviation: a global
        # aggregate over an EMPTY input then yields 0 rows, not 1).
        sel_scalars: List = []
        if not star:
            new_items = []
            for e in items:
                ne, sc = _extract_scalars(e)
                if _contains_membership(ne):
                    # IN/EXISTS/ANY/ALL as select-list VALUES
                    # (``x IN (...) AS flag``): the same three-valued
                    # lowering as markers under OR/NOT
                    builder, ne = _lower_embedded_subqueries(
                        ne, builder, self.catalog
                    )
                new_items.append(ne)
                sel_scalars.extend(sc)
            items = new_items
        builder = _join_scalars(builder, sel_scalars)

        if self.accept("kw", "where"):
            pred = self._resolve(self._expr())
            pred, scalars = _extract_scalars(pred)
            builder = _join_scalars(builder, scalars, self.catalog)
            builder = _filter_lowering_markers(builder, pred, self.catalog)

        group_exprs: List[Expr] = []
        group_mode = "groupby"
        grouping_sets: List[tuple] = []
        if self.accept("kw", "group"):
            self.expect("kw", "by")
            # GROUP BY ALL (DuckDB extension): every non-aggregate select
            # item is a group key, in select-list order
            if self.accept("kw", "all"):
                if star:
                    raise SqlError("GROUP BY ALL cannot follow SELECT *")
                for e in items:
                    base_e = e.expr if isinstance(e, Alias) else e
                    if _contains_window(base_e):
                        # a window item is neither an aggregate nor a
                        # group key — classifying it as a key would fail
                        # later with an obscure non-SqlError
                        raise SqlError(
                            "GROUP BY ALL cannot classify a window-"
                            "function select item — list the group "
                            "keys explicitly"
                        )
                    if not _contains_aggregate(base_e):
                        group_exprs.append(base_e)
                if not group_exprs:
                    raise SqlError(
                        "GROUP BY ALL needs at least one non-aggregate item"
                    )
                t = None  # keys fixed; skip the explicit-list branches
            else:
                t = self.peek()
            nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None

            def _is(tok, val):
                return tok is not None and tok.kind == "ident" and tok.value.lower() == val

            if t is None:
                pass
            elif (
                t.kind == "ident"
                and t.value.lower() in ("rollup", "cube")
                and nxt is not None
                and nxt.kind == "op"
                and nxt.value == "("
            ):
                group_mode = self.next().value.lower()
                self.expect("op", "(")
                group_exprs.append(self._resolve(self._expr()))
                while self.accept("op", ","):
                    group_exprs.append(self._resolve(self._expr()))
                self.expect("op", ")")
            elif _is(t, "grouping") and _is(nxt, "sets"):
                self.next()
                self.next()
                group_mode = "grouping_sets"
                self.expect("op", "(")
                # each set: (e1, e2, ...) or () — exprs dedup into
                # group_exprs; sets are index tuples into it
                while True:
                    self.expect("op", "(")
                    idxs: List[int] = []
                    if not self.accept("op", ")"):
                        while True:
                            e = self._resolve(self._expr())
                            if e not in group_exprs:
                                group_exprs.append(e)
                            idxs.append(group_exprs.index(e))
                            if not self.accept("op", ","):
                                break
                        self.expect("op", ")")
                    grouping_sets.append(tuple(idxs))
                    if not self.accept("op", ","):
                        break
                self.expect("op", ")")
            else:
                group_exprs.append(self._resolve(self._expr()))
                while self.accept("op", ","):
                    group_exprs.append(self._resolve(self._expr()))
                # GROUP BY ordinals (standard SQL; DuckDB and Spark both
                # resolve them): a bare integer names the select item at
                # that 1-based position.  GROUP BY <alias> (DuckDB)
                # resolves a name no input column carries to the
                # matching select-item alias — real columns take
                # precedence, DuckDB's rule.
                group_exprs = [
                    self._group_ordinal(g, items, star) for g in group_exprs
                ]
                alias_refs = [
                    g for g in group_exprs
                    if isinstance(g, Col) and g.qualifier is None
                ]
                if alias_refs and not star:
                    amap_g = {
                        e.name: e.expr for e in items if isinstance(e, Alias)
                    }
                    if any(g.name in amap_g for g in alias_refs):
                        in_names = set(self._schema_names(builder))
                        group_exprs = [
                            amap_g[g.name]
                            if (
                                isinstance(g, Col)
                                and g.qualifier is None
                                and g.name not in in_names
                                and g.name in amap_g
                                and not _contains_aggregate(amap_g[g.name])
                                and not _contains_window(amap_g[g.name])
                            )
                            else g
                            for g in group_exprs
                        ]

        # -- WINDOW clause: named window specs (standard SQL; DuckDB
        # grammar order GROUP BY → HAVING → WINDOW → QUALIFY).  HAVING
        # belongs to the aggregate branches below, so when the clause
        # follows a HAVING (``GROUP BY k HAVING ... WINDOW w AS ...``)
        # it cannot be at the current position yet — the item binding
        # defers until the aggregate branch has consumed HAVING and
        # parsed the clause from its grammar slot.
        named_windows: dict = self._parse_window_clause()
        deferred_window = not named_windows and self._window_clause_upcoming()
        if not deferred_window:
            # binds OVER <name> refs now; with no clause parsed an
            # undefined ref errors here
            items = [self._bind_named_windows(e, named_windows) for e in items]

        # -- QUALIFY: filter over window outputs (DuckDB/Snowflake
        # extension) — parsed here (it follows GROUP BY position in the
        # grammar; windows don't mix with aggregation in this dialect so
        # HAVING can never precede it), lowered below as a LogicalFilter
        # between the window node and the final projection.
        qpred: Optional[Expr] = None
        if self.accept("kw", "qualify"):
            qpred = self._resolve(
                self._bind_named_windows(self._expr(), named_windows)
            )
            if star:
                raise SqlError("SELECT * cannot be combined with QUALIFY")
            if not (
                any(_contains_window(e) for e in items) or _contains_window(qpred)
            ):
                raise SqlError("QUALIFY requires a window function")

        # -- window functions OVER AGGREGATE OUTPUT ---------------------
        # ``SELECT k, count(*) AS n, rank() OVER (ORDER BY count(*) DESC)
        # FROM t GROUP BY k`` — SQL evaluates windows AFTER grouping, so
        # every aggregate call (select list, window args, partition/order
        # keys, HAVING) is lifted into an aggregate output column first,
        # then the windows are lowered over the aggregate's result.
        if (
            any(_contains_window(e) for e in items)
            or (qpred is not None and _contains_window(qpred))
            or self._upcoming_qualify()
        ) and (group_exprs or any(_contains_aggregate(e) for e in items)):
            if star:
                raise SqlError("SELECT * cannot be combined with window functions")
            if not group_exprs:
                raise SqlError(
                    "window functions over a global aggregate need GROUP BY"
                )
            # ROLLUP/CUBE/GROUPING SETS output feeds windows like plain
            # GROUP BY output (r12, VERDICT r11 item 3): subtotal rows
            # carry NULL keys and partition/order like any other row —
            # identically in DuckDB.  GROUPING(k) lifts into the
            # aggregate list (it computes DURING aggregation, like an
            # aggregate call).
            aggs: List[Alias] = []

            def _lift(x):
                if isinstance(x, Func) and (
                    x.is_aggregate
                    or (x.name == "grouping" and group_mode != "groupby")
                ):
                    for a in aggs:
                        if a.expr == x:
                            return Col(a.name)
                    name = f"_a{len(aggs)}"
                    aggs.append(Alias(x, name))
                    return Col(name)
                if isinstance(x, _WindowExpr):
                    # the window FUNCTION itself stays (sum(...) OVER ()
                    # is a window call, not a group aggregate) — only its
                    # ARGUMENTS and the partition/order keys are lifted
                    f = x.func
                    if isinstance(f, Func):
                        f = Func(f.name, tuple(_lift(a) for a in f.args))
                    return _WindowExpr(
                        f,
                        tuple(_lift(p) for p in x.partition_by),
                        tuple(
                            SortKey(_lift(k.expr), k.asc, k.nulls_first)
                            for k in x.order_by
                        ),
                        x.frame,
                    )
                if isinstance(x, Alias):
                    return Alias(_lift(x.expr), x.name)
                if isinstance(x, BinOp):
                    return BinOp(x.op, _lift(x.left), _lift(x.right))
                if isinstance(x, Cast):
                    return Cast(_lift(x.expr), x.to_type, x.safe)
                if isinstance(x, Func):
                    return Func(x.name, tuple(_lift(a) for a in x.args))
                return x

            hpred_raw = None
            if self.accept("kw", "having"):
                hpred_raw = self._resolve(self._expr())
            if deferred_window:
                # GROUP BY → HAVING → WINDOW (DuckDB grammar): the
                # clause parses from its slot after HAVING, then the
                # deferred item binding runs
                named_windows.update(self._parse_window_clause())
                items = [
                    self._bind_named_windows(e, named_windows) for e in items
                ]
            items = [_lift(e) for e in items]
            hpred = None if hpred_raw is None else _lift(hpred_raw)
            # QUALIFY follows HAVING in the grammar; when HAVING was
            # present, the clause could not have been consumed by the
            # earlier accept — pick it up here.  Its aggregate calls
            # compute in the same aggregate (lift), its window calls
            # become hidden window columns (lower, below).
            if qpred is None and self.accept("kw", "qualify"):
                qpred = self._resolve(
                    self._bind_named_windows(self._expr(), named_windows)
                )
                if not _contains_window(qpred) and not any(
                    _contains_window(e) for e in items
                ):
                    raise SqlError("QUALIFY requires a window function")
            if qpred is not None:
                qpred = _lift(qpred)
            builder = builder.aggregate(
                list(group_exprs),
                tuple(aggs),
                mode=group_mode,
                grouping_sets=tuple(grouping_sets),
            )
            if hpred is not None:
                builder = builder.filter(hpred)
            defs: List[WindowExprDef] = []

            def _lower_w(x):
                if isinstance(x, _WindowExpr):
                    name = f"_w{len(defs)}"
                    defs.append(
                        WindowExprDef(
                            x.func, x.partition_by, x.order_by, name, x.frame
                        )
                    )
                    return Col(name)
                if isinstance(x, Alias):
                    if isinstance(x.expr, _WindowExpr):
                        w = x.expr
                        defs.append(
                            WindowExprDef(
                                w.func, w.partition_by, w.order_by, x.name, w.frame
                            )
                        )
                        return Col(x.name)
                    return Alias(_lower_w(x.expr), x.name)
                if isinstance(x, BinOp):
                    return BinOp(x.op, _lower_w(x.left), _lower_w(x.right))
                if isinstance(x, Cast):
                    return Cast(_lower_w(x.expr), x.to_type, x.safe)
                if isinstance(x, Func):
                    return Func(x.name, tuple(_lower_w(a) for a in x.args))
                return x

            items = [_lower_w(e) for e in items]
            # lower the QUALIFY predicate BEFORE the window node is
            # built: window calls inside it add hidden defs
            if qpred is not None:
                qpred = _lower_w(qpred)
            builder = builder.window(defs)
            if qpred is not None:
                amap = {
                    e.name: e.expr for e in items if isinstance(e, Alias)
                }

                def _subst_a(x):
                    if isinstance(x, Col) and x.name in amap:
                        return amap[x.name]
                    if isinstance(x, BinOp):
                        return BinOp(x.op, _subst_a(x.left), _subst_a(x.right))
                    if isinstance(x, Func):
                        return Func(x.name, tuple(_subst_a(a) for a in x.args))
                    if isinstance(x, Cast):
                        return Cast(_subst_a(x.expr), x.to_type, x.safe)
                    if isinstance(x, Alias):
                        return Alias(_subst_a(x.expr), x.name)
                    return x

                builder = builder.filter(_subst_a(qpred))
            builder = builder.projection(items)
            if distinct:
                if distinct_on:
                    raise SqlError(
                        "DISTINCT ON does not mix with aggregation/windows"
                    )
                builder = builder.distinct()
            return self._finish_select(builder)

        # -- window functions: lower OVER items onto a LogicalWindow ----
        # Each _WindowExpr anywhere in a select item becomes a
        # WindowExprDef column on a LogicalWindow node (evaluated after
        # WHERE, before the final projection); the item's residual
        # expression references it by name.  An item that IS an aliased
        # window takes the alias as the window column name directly.
        if any(_contains_window(e) for e in items) or qpred is not None:
            if star:
                raise SqlError("SELECT * cannot be combined with window functions")
            if group_exprs or any(_contains_aggregate(e) for e in items):
                raise SqlError(
                    "window functions over GROUP BY output are not supported; "
                    "compute the aggregate in a derived table first"
                )
            defs: List[WindowExprDef] = []

            def _lower_window(x):
                if isinstance(x, _WindowExpr):
                    name = f"_w{len(defs)}"
                    defs.append(
                        WindowExprDef(
                            x.func, x.partition_by, x.order_by, name, x.frame
                        )
                    )
                    return Col(name)
                if isinstance(x, Alias):
                    if isinstance(x.expr, _WindowExpr):
                        w = x.expr
                        defs.append(
                            WindowExprDef(
                                w.func, w.partition_by, w.order_by, x.name, w.frame
                            )
                        )
                        return Col(x.name)
                    return Alias(_lower_window(x.expr), x.name)
                if isinstance(x, BinOp):
                    return BinOp(x.op, _lower_window(x.left), _lower_window(x.right))
                if isinstance(x, Cast):
                    return Cast(_lower_window(x.expr), x.to_type, x.safe)
                if isinstance(x, Func):
                    return Func(x.name, tuple(_lower_window(a) for a in x.args))
                return x

            items = [_lower_window(e) for e in items]
            if qpred is not None:
                # window calls inside QUALIFY get their own hidden
                # window columns; select-list ALIASES referenced by the
                # predicate are substituted with their (lowered)
                # defining expressions so the filter can sit BELOW the
                # final projection (window-column aliases already name
                # real window outputs and need no substitution)
                qpred = _lower_window(qpred)
                amap = {
                    e.name: e.expr for e in items if isinstance(e, Alias)
                }

                def _subst(x):
                    if isinstance(x, Col) and x.name in amap:
                        return amap[x.name]
                    if isinstance(x, BinOp):
                        return BinOp(x.op, _subst(x.left), _subst(x.right))
                    if isinstance(x, Func):
                        return Func(x.name, tuple(_subst(a) for a in x.args))
                    if isinstance(x, Cast):
                        return Cast(_subst(x.expr), x.to_type, x.safe)
                    if isinstance(x, Alias):
                        return Alias(_subst(x.expr), x.name)
                    return x

                qpred = _subst(qpred)
            builder = builder.window(defs)
            if qpred is not None:
                builder = builder.filter(qpred)

        has_agg = any(_contains_aggregate(e) for e in items)
        if group_exprs or has_agg:
            if star:
                raise SqlError("SELECT * cannot be combined with aggregation")
            # SELECT-list scalar subqueries under explicit GROUP BY: the
            # ``_scalar_N`` column joined below is constant, so grouping
            # by it additionally preserves the groups while carrying the
            # value through the aggregate (the re-projection below trims
            # the output back to the select-list shape)
            if sel_scalars and group_exprs and group_mode == "groupby":
                item_refs: set = set()
                for e in items:
                    item_refs.update(e.columns())
                for alias, _ in sel_scalars:
                    if alias in item_refs and not any(
                        isinstance(g, Col) and g.name == alias
                        for g in group_exprs
                    ):
                        group_exprs.append(Col(alias))
            aggs, plain = [], []
            for e in items:
                # GROUPING(k) computes DURING aggregation (Spark and
                # DuckDB agree) — classify it with the aggregates when
                # the mode has grouping sets (r12)
                if _contains_aggregate(e) or (
                    group_mode != "groupby" and _contains_grouping_fn(e)
                ):
                    if not isinstance(e, Alias):
                        e = Alias(e, e.pretty())
                    aggs.append(e)
                else:
                    plain.append(e)
            # parse HAVING BEFORE building the aggregate: the predicate
            # may contain raw aggregate calls (``HAVING min(x) > 1``) —
            # including ones not in the SELECT list — which standard SQL
            # computes as part of the same aggregate.  Each such call is
            # lifted into a hidden aggregate output (``_h<i>``) unless it
            # already matches a SELECT-list aggregate, whose alias is
            # reused; the hidden columns are projected away afterwards.
            hpred = None
            hidden: List[str] = []
            if self.accept("kw", "having"):
                hpred = self._resolve(self._expr())

                def _lift_aggs(x):
                    if isinstance(x, Func) and x.is_aggregate:
                        for a in aggs:
                            if isinstance(a, Alias) and a.expr == x:
                                return Col(a.name)
                        name = f"_h{len(hidden)}"
                        hidden.append(name)
                        aggs.append(Alias(x, name))
                        return Col(name)
                    if isinstance(x, Func):
                        return Func(x.name, tuple(_lift_aggs(a) for a in x.args))
                    if isinstance(x, BinOp):
                        return BinOp(x.op, _lift_aggs(x.left), _lift_aggs(x.right))
                    if isinstance(x, Cast):
                        return Cast(_lift_aggs(x.expr), x.to_type, x.safe)
                    if isinstance(x, Alias):
                        return Alias(_lift_aggs(x.expr), x.name)
                    return x

                hpred = _lift_aggs(hpred)
            if deferred_window:
                # a WINDOW clause after HAVING with no OVER refs in the
                # items (else the window-over-aggregate branch above
                # took the query) — consume it; the specs are unused
                self._parse_window_clause()
            if group_exprs and plain:
                # clean parse-time rejection of ungrouped plain items
                # (both engines reject; without this check the error
                # surfaces as a raw Spark AnalysisException deep in
                # execution — found by the r11 fresh-seed fuzz hunt on
                # a GROUPING SETS shape whose sets covered neither key)
                gkeys = {
                    x.name for g in group_exprs for x in _cols_of(g)
                }
                for e in plain:
                    base_e = e.expr if isinstance(e, Alias) else e
                    if base_e in group_exprs:
                        continue
                    bad = [
                        c.name
                        for c in _cols_of(base_e)
                        if c.name not in gkeys
                    ]
                    if bad:
                        raise SqlError(
                            f"select item {base_e.pretty()} references "
                            f"{bad} outside the GROUP BY keys — add it "
                            "to GROUP BY (or a grouping set) or wrap "
                            "it in an aggregate"
                        )
            builder = builder.aggregate(
                group_exprs or plain,
                tuple(aggs),
                mode=group_mode,
                grouping_sets=tuple(grouping_sets),
            )
            if hpred is not None:
                # HAVING over the aggregate's OUTPUT — a plain filter
                # above the agg.  Uncorrelated scalar subqueries (TPC-H
                # Q11's threshold) become a 1-row broadcast cross join
                # below the filter, membership markers their joins.
                hpred, hscalars = _extract_scalars(hpred)
                builder = _join_scalars(builder, hscalars)
                has_marker = _contains_membership(hpred)
                if has_marker:
                    builder, hpred = _lower_embedded_subqueries(
                        hpred, builder, self.catalog
                    )
                builder = builder.filter(hpred)
                if hscalars or hidden or has_marker:
                    # drop the _scalar_* / _h* helper columns
                    from .operators.logical import output_name as _hname

                    builder = builder.projection(
                        [Col(_hname(g)) for g in (group_exprs or plain)]
                        + [
                            Col(a.name)
                            for a in aggs
                            if a.name not in hidden
                        ]
                    )
            # aliased group keys in the SELECT list (``o_custkey AS x``,
            # ``year(d) AS y``) aren't part of the aggregate's natural
            # output — re-project to the select-list shape when they differ
            from .operators.logical import output_name as _oname

            def _as_output_ref(e):
                """Select-list item -> expr over the aggregate's output,
                or None if not expressible."""
                if _contains_aggregate(e):
                    return Col(e.name) if isinstance(e, Alias) else None
                if isinstance(e, Col):
                    return e
                if isinstance(e, Alias):
                    if isinstance(e.expr, Col):
                        return e
                    if e.expr in group_exprs:
                        return Alias(Col(_oname(e.expr)), e.name)
                return None

            wanted = [
                (e.name if isinstance(e, (Alias, Col)) else None) for e in items
            ]
            natural = [
                (_oname(e) if not isinstance(e, str) else e)
                for e in (group_exprs or plain)
            ] + [a.name for a in aggs]
            refs = [_as_output_ref(e) for e in items]
            if all(wanted) and wanted != natural and all(r is not None for r in refs):
                builder = builder.projection(refs)
        elif star:
            cols = self._expand_star(builder)
            if star_exclude or star_replace:
                names = {c.name for c in cols}
                unknown = sorted((star_exclude | set(star_replace)) - names)
                if unknown:
                    raise SqlError(
                        f"star EXCLUDE/REPLACE references unknown "
                        f"columns: {unknown}"
                    )
                cols = [
                    Alias(self._resolve(star_replace[c.name]), c.name)
                    if c.name in star_replace
                    else c
                    for c in cols
                    if c.name not in star_exclude
                ]
                if not cols:
                    raise SqlError("star EXCLUDE removed every column")
            builder = builder.projection(cols)
        else:
            builder = builder.projection(items)

        if distinct and not distinct_on:
            builder = builder.distinct()

        return self._finish_select(builder, distinct_on=distinct_on)

    @staticmethod
    def _group_ordinal(g, items, star):
        """Resolve a bare-integer GROUP BY key to the select item at
        that 1-based position (its base expression, alias stripped)."""
        if not (isinstance(g, Lit) and isinstance(g.value, int)
                and not isinstance(g.value, bool)):
            return g
        if star:
            raise SqlError("GROUP BY ordinals cannot follow SELECT *")
        n = g.value
        if not 1 <= n <= len(items):
            raise SqlError(
                f"GROUP BY position {n} is out of range "
                f"(select list has {len(items)} items)"
            )
        e = items[n - 1]
        e = e.expr if isinstance(e, Alias) else e
        if _contains_aggregate(e) or _contains_window(e):
            raise SqlError(
                f"GROUP BY position {n} names an aggregate/window item"
            )
        return e

    def _parse_window_clause(self) -> dict:
        """Parse ``WINDOW <name> AS (spec), ...`` at the current
        position (contextual keyword like ROLLUP/CUBE); returns
        ``{name: spec}``, empty when no clause is present."""
        named: dict = {}
        t_w = self.peek()
        nxt_w = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
        if (
            t_w.kind == "ident"
            and t_w.value.lower() == "window"
            and nxt_w is not None
            and nxt_w.kind == "ident"
        ):
            self.next()
            while True:
                wname = self.expect("ident").value.lower()
                self.expect("kw", "as")
                # resolve the spec's exprs now — select items were
                # already frame-resolved before this clause parsed
                named[wname] = self._resolve(
                    self._window_spec(Func("_named_window", ()))
                )
                if not self.accept("op", ","):
                    break
        return named

    def _window_clause_upcoming(self) -> bool:
        """Lookahead: a WINDOW clause of THIS select lies ahead (after a
        HAVING, before any QUALIFY / set-op / ORDER / LIMIT / closing
        paren at depth 0) — binding of OVER <name> refs must defer
        until the aggregate branch parses it from its grammar slot."""
        depth = 0
        for j, t in enumerate(self.toks[self.i:]):
            if t.kind == "op" and t.value == "(":
                depth += 1
            elif t.kind == "op" and t.value == ")":
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0:
                if t.kind == "ident" and t.value.lower() == "window":
                    k = self.i + j + 1
                    nt = self.toks[k] if k < len(self.toks) else None
                    if nt is not None and nt.kind == "ident":
                        return True
                if t.kind == "kw" and t.value in (
                    "qualify", "union", "intersect", "except", "order", "limit"
                ):
                    break
        return False

    def _upcoming_qualify(self) -> bool:
        """Lookahead: a QUALIFY clause of THIS select lies ahead (before
        any set-op / ORDER / LIMIT / closing paren at depth 0).  Needed
        when HAVING precedes it — the clause can't have been consumed by
        the post-GROUP-BY accept yet, but the aggregate build must know
        a window filter is coming."""
        depth = 0
        for t in self.toks[self.i:]:
            if t.kind == "op" and t.value == "(":
                depth += 1
            elif t.kind == "op" and t.value == ")":
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0 and t.kind == "kw":
                if t.value == "qualify":
                    return True
                if t.value in ("union", "intersect", "except", "order", "limit"):
                    break
        return False

    def _finish_select(self, builder, distinct_on=()) -> Plan:
        """Shared SELECT tail: ORDER BY / LIMIT [OFFSET], frame pop.
        ``distinct_on``: DISTINCT ON keys — lowered here because the
        semantics need the ORDER BY (first row per key group by those
        keys, Postgres rules)."""
        if self.accept("kw", "order"):
            self.expect("kw", "by")
            # ORDER BY ALL [DESC] (DuckDB extension): every output column
            # left-to-right; NULLS LAST pinned (DuckDB's default — Spark's
            # ASC default is NULLS FIRST, so be explicit)
            if self.accept("kw", "all"):
                asc = not self.accept("kw", "desc")
                self.accept("kw", "asc")
                keys = [
                    SortKey(Col(c.name), asc=asc, nulls_first=False)
                    for c in self._expand_star(builder)
                ]
            else:
                keys = [self._resolve(self._sort_key())]
                while self.accept("op", ","):
                    keys.append(self._resolve(self._sort_key()))
            if any(
                isinstance(k.expr, Lit)
                and isinstance(k.expr.value, int)
                and not isinstance(k.expr.value, bool)
                for k in keys
            ):
                # ORDER BY ordinals (standard SQL; DuckDB and Spark both
                # resolve them): a bare integer names the output column
                # at that 1-based position
                out_o = [c.name for c in self._expand_star(builder)]

                def _ord(k):
                    if not (
                        isinstance(k.expr, Lit)
                        and isinstance(k.expr.value, int)
                        and not isinstance(k.expr.value, bool)
                    ):
                        return k
                    n = k.expr.value
                    if not 1 <= n <= len(out_o):
                        raise SqlError(
                            f"ORDER BY position {n} is out of range "
                            f"(output has {len(out_o)} columns)"
                        )
                    return SortKey(Col(out_o[n - 1]), k.asc, k.nulls_first)

                keys = [_ord(k) for k in keys]
            for k in keys:
                if _contains_window(k.expr):
                    # inline OVER specs and OVER <name> refs alike: the
                    # sort runs above the projection, where no window
                    # lowering happens — reject cleanly instead of
                    # failing deep in execution
                    raise SqlError(
                        "window functions are not allowed in ORDER BY — "
                        "alias the window in the select list and order "
                        "by the alias"
                    )
            if distinct_on:
                out_names = [c.name for c in self._expand_star(builder)]
                missing = sorted(set(distinct_on) - set(out_names))
                if missing:
                    raise SqlError(
                        f"DISTINCT ON keys must be output columns: {missing}"
                    )
                bad_keys = sorted(
                    {
                        k.expr.name
                        for k in keys
                        if isinstance(k.expr, Col) and k.expr.name not in out_names
                    }
                )
                if bad_keys:
                    raise SqlError(
                        "DISTINCT ON: ORDER BY keys must be output columns "
                        f"(the tie-break window runs above the projection): "
                        f"{bad_keys}"
                    )
                builder = builder.window(
                    [
                        WindowExprDef(
                            Func("row_number", ()),
                            tuple(Col(c) for c in distinct_on),
                            tuple(keys),
                            "_don",
                            None,
                        )
                    ]
                )
                builder = builder.filter(BinOp("=", Col("_don"), Lit(1)))
                builder = builder.projection([Col(n) for n in out_names])
            builder = builder.sort(keys)
        elif distinct_on:
            raise SqlError(
                "DISTINCT ON requires an ORDER BY (it defines which row "
                "per key group is kept)"
            )

        if self.accept("kw", "limit"):
            n = self.expect("number")
            offset = 0
            if self.accept("kw", "offset"):
                offset = int(self.expect("number").value)
            builder = builder.limit(int(n.value), offset)
        elif self._fetch_or_offset_ahead():
            # standard-SQL spelling (r13):
            #   [OFFSET n {ROW|ROWS}] FETCH {FIRST|NEXT} [n] {ROW|ROWS} ONLY
            offset = 0
            if self.accept("kw", "offset"):
                offset = int(self.expect("number").value)
                if not (self.accept("kw", "row") or self.accept("kw", "rows")):
                    raise SqlError("expected ROW or ROWS after OFFSET n")
            n = 1
            if self._peek_ident("fetch"):
                self.next()
                if not (
                    self.accept("kw", "first") or self._accept_ident("next")
                ):
                    raise SqlError("expected FIRST or NEXT after FETCH")
                if self.peek().kind == "number":
                    n = int(self.next().value)
                if not (self.accept("kw", "row") or self.accept("kw", "rows")):
                    raise SqlError("expected ROW or ROWS in FETCH clause")
                if not self._accept_ident("only"):
                    raise SqlError("expected ONLY to close the FETCH clause")
                builder = builder.limit(n, offset)
            elif offset:
                # bare OFFSET n ROWS without FETCH: skip-only — lower
                # as a limit with the max JVM-int n (both engines cap
                # at the row count; Spark requires limit+offset to fit
                # a 32-bit int)
                builder = builder.limit(2**31 - 1 - offset, offset)

        self.frames.pop()
        return builder.build()

    def _peek_ident(self, word: str) -> bool:
        t = self.peek()
        return t.kind == "ident" and t.value.lower() == word

    def _accept_ident(self, word: str) -> bool:
        if self._peek_ident(word):
            self.next()
            return True
        return False

    def _fetch_or_offset_ahead(self) -> bool:
        """FETCH FIRST/NEXT … or OFFSET n ROW[S] (the standard-SQL
        LIMIT spelling) starts here.  OFFSET is only consumed when ROW/
        ROWS follows the count — a bare ``LIMIT n OFFSET m`` is handled
        by the LIMIT branch, and OFFSET in any other position is not
        valid SQL anyway."""
        if self._peek_ident("fetch"):
            return True
        if self.peek().kind == "kw" and self.peek().value == "offset":
            n1 = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
            n2 = self.toks[self.i + 2] if self.i + 2 < len(self.toks) else None
            return (
                n1 is not None
                and n1.kind == "number"
                and n2 is not None
                and n2.kind == "kw"
                and n2.value in ("row", "rows")
            )
        return False

    def _join_type(self) -> Optional[JoinType]:
        if self.accept("kw", "join"):
            return JoinType.INNER
        for kw, jt, then in (
            ("inner", JoinType.INNER, None),
            ("left", JoinType.LEFT, ("semi", JoinType.LEFT_SEMI, "anti", JoinType.LEFT_ANTI)),
            ("right", JoinType.RIGHT, None),
            ("full", JoinType.FULL, None),
        ):
            if self.accept("kw", kw):
                if then is not None:
                    if self.accept("kw", then[0]):
                        self.expect("kw", "join")
                        return then[1]
                    if self.accept("kw", then[2]):
                        self.expect("kw", "join")
                        return then[3]
                self.accept("kw", "outer")  # LEFT/RIGHT/FULL [OUTER] JOIN
                self.expect("kw", "join")
                return jt
        return None

    def _window_clause_ahead(self) -> bool:
        """True when the cursor sits on a named-WINDOW clause
        (``WINDOW <name> AS``) — keeps the bare-alias rule in _table from
        swallowing the contextual keyword (``FROM t WINDOW w AS (...)``)."""
        t = self.peek()
        if t.kind != "ident" or t.value.lower() != "window":
            return False
        n1 = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
        n2 = self.toks[self.i + 2] if self.i + 2 < len(self.toks) else None
        return (
            n1 is not None
            and n1.kind == "ident"
            and n2 is not None
            and n2.kind == "kw"
            and n2.value == "as"
        )

    def _pivot_clause_ahead(self) -> bool:
        """True when the cursor sits on ``PIVOT (`` / ``UNPIVOT (`` —
        contextual keywords, kept out of the bare-alias rule."""
        t = self.peek()
        if t.kind != "ident" or t.value.lower() not in ("pivot", "unpivot"):
            return False
        n1 = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
        if n1 is not None and n1.kind == "op" and n1.value == "(":
            return True
        # UNPIVOT INCLUDE NULLS ( / UNPIVOT EXCLUDE NULLS (
        return (
            t.value.lower() == "unpivot"
            and n1 is not None
            and n1.kind == "ident"
            and n1.value.lower() in ("include", "exclude")
        )

    def _pivot_item(self, b: LogicalPlanBuilder) -> LogicalPlanBuilder:
        """``PIVOT (agg(vcol) FOR kcol IN (lit [AS name], ...))`` — pure
        plan-algebra lowering: GROUP BY every remaining column with one
        filtered aggregate per IN value (``agg(CASE WHEN kcol = lit THEN
        vcol END)``), the same rewrite Catalyst applies to
        ``RelationalGroupedDataset.pivot`` — no new operator, and the
        aggregate is a single shuffle with map-side partials."""
        from .expr import CaseWhen

        kind = self.next().value.lower()
        include_nulls = False
        if kind == "unpivot":
            # UNPIVOT [INCLUDE | EXCLUDE NULLS] — standard/DuckDB
            # default EXCLUDEs rows whose value cell is NULL
            t_n = self.peek()
            if t_n.kind == "ident" and t_n.value.lower() in (
                "include", "exclude",
            ):
                include_nulls = self.next().value.lower() == "include"
                self.expect("kw", "nulls")
        self.expect("op", "(")
        if kind == "unpivot":
            value_col = self.expect("ident").value
            self._expect_ident("for")
            name_col = self.expect("ident").value
            self.expect("kw", "in")
            self.expect("op", "(")
            vcols = [self.expect("ident").value]
            while self.accept("op", ","):
                vcols.append(self.expect("ident").value)
            self.expect("op", ")")
            self.expect("op", ")")
            out_cols = [c.name for c in self._expand_star(b)]
            ids = [c for c in out_cols if c not in vcols]
            return b.unpivot(ids, vcols, name_col, value_col, include_nulls)
        # PIVOT
        aggname = self.expect("ident").value.lower()
        self.expect("op", "(")
        vcol = self.expect("ident").value
        self.expect("op", ")")
        self._expect_ident("for")
        kcol = self.expect("ident").value
        self.expect("kw", "in")
        self.expect("op", "(")
        cells: List[tuple] = []  # (literal, output name)
        while True:
            e = self._expr()
            if not isinstance(e, Lit):
                raise SqlError("PIVOT IN list takes literals")
            name = None
            if self.accept("kw", "as"):
                name = self.expect("ident").value
            elif self.peek().kind == "ident":
                name = self.next().value
            cells.append((e, name if name is not None else str(e.value)))
            if not self.accept("op", ","):
                break
        self.expect("op", ")")
        self.expect("op", ")")
        out_cols = [c.name for c in self._expand_star(b)]
        group = [Col(c) for c in out_cols if c not in (vcol, kcol)]
        aggs = [
            Alias(
                Func(
                    aggname,
                    (CaseWhen(((BinOp("=", Col(kcol), lit_), Col(vcol)),), None),),
                ),
                name,
            )
            for lit_, name in cells
        ]
        return b.aggregate(group, tuple(aggs))

    def _expect_ident(self, word: str) -> None:
        t = self.next()
        if t.kind != "ident" or t.value.lower() != word:
            raise SqlError(f"expected {word.upper()}, got {t!r}")

    def _tablesample_ahead(self) -> bool:
        """Lookahead: ``TABLESAMPLE (`` or ``USING (`` — contextual
        like WINDOW/PIVOT, so these idents followed by ``(`` never
        parse as a bare table alias (``JOIN region USING (k)`` must
        not alias region to ``using`` — r12)."""
        t = self.peek()
        nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
        return (
            t.kind == "ident"
            and t.value.lower() in ("tablesample", "using")
            and nxt is not None
            and nxt.kind == "op"
            and nxt.value == "("
        )

    def _table(self):
        """One FROM item → (builder, base_table_or_None, alias_or_None).
        A trailing bare identifier (or ``AS ident``) is a table alias."""
        if self.accept("op", "("):
            if self.accept("kw", "values"):
                # inline relation: FROM (VALUES (...), (...)) [AS] t(a, b)
                b, alias = self._values_table()
                return b, None, alias
            # derived table: FROM (SELECT ...) [AS] alias — columns keep
            # their subquery output names
            sub = self._query()
            self.expect("op", ")")
            alias = None
            had_as = self.accept("kw", "as")
            if self.peek().kind == "ident" and (
                had_as
                or not (
                    self._window_clause_ahead()
                    or self._pivot_clause_ahead()
                    or self._tablesample_ahead()
                )
            ):
                alias = self.next().value
            return LogicalPlanBuilder(sub.root), None, alias
        name = self.expect("ident").value
        alias = None
        had_as = self.accept("kw", "as")
        if self.peek().kind == "ident" and (
            had_as
            or not (
                self._window_clause_ahead()
                or self._pivot_clause_ahead()
                or self._tablesample_ahead()
            )
        ):
            alias = self.next().value
        if name in self.ctes:
            # fresh copy per reference — the heuristic rewrites in place,
            # so a shared subtree would alias edits across references
            return LogicalPlanBuilder(_clone_subtree(self.ctes[name].root)), name, alias
        if name.lower() in self.views:
            if self.view_depth >= 12:
                raise SqlError(
                    f"view nesting deeper than 12 resolving {name!r} — "
                    "definition cycle?"
                )
            sub = _Parser(
                self.views[name.lower()],
                self.catalog,
                macros=self.macros,
                views=self.views,
                view_depth=self.view_depth + 1,
            )
            # parse(), not _query(): a view body may open with WITH
            plan = sub.parse()
            return LogicalPlanBuilder(_clone_subtree(plan.root)), name, alias
        return LogicalPlanBuilder().scan(name), name, alias

    def _values_table(self):
        """``VALUES (lit, ...), ... ) [AS] t(c1, c2)`` → LogicalValues.
        Cells are literals (optionally ``-``-signed numbers or NULL);
        column types infer from the first non-NULL cell per column
        (int → bigint, float → double, str → string)."""

        def cell():
            if self.accept("kw", "null"):
                return None
            neg = bool(self.accept("op", "-"))
            tok = self.next()
            if tok.kind == "number":
                v = _number(tok.value)
                return -v if neg else v
            if neg:
                raise SqlError("'-' in VALUES must prefix a number")
            if tok.kind == "string":
                return tok.value[1:-1].replace("''", "'")
            raise SqlError(f"VALUES cell must be a literal, got {tok.value!r}")

        rows = []
        while True:
            self.expect("op", "(")
            row = [cell()]
            while self.accept("op", ","):
                row.append(cell())
            self.expect("op", ")")
            rows.append(tuple(row))
            if not self.accept("op", ","):
                break
        self.expect("op", ")")
        alias = None
        names = None
        self.accept("kw", "as")
        if self.peek().kind == "ident":
            alias = self.next().value
            if self.accept("op", "("):
                names = [self.expect("ident").value]
                while self.accept("op", ","):
                    names.append(self.expect("ident").value)
                self.expect("op", ")")
        ncols = len(rows[0])
        if any(len(r) != ncols for r in rows):
            raise SqlError("VALUES rows have differing arity")
        if names is None:
            names = [f"col{i}" for i in range(ncols)]
        if len(names) != ncols:
            raise SqlError("VALUES column alias arity mismatch")
        dtypes = []
        for i in range(ncols):
            sample = next((r[i] for r in rows if r[i] is not None), "")
            if isinstance(sample, bool):
                dtypes.append("boolean")
            elif isinstance(sample, int):
                dtypes.append("bigint")
            elif isinstance(sample, float):
                dtypes.append("double")
            else:
                dtypes.append("string")
        return LogicalPlanBuilder().values(rows, names, dtypes), alias

    def _schema_names(self, builder: LogicalPlanBuilder):
        """Output column names of a builder's plan, derived bottom-up
        (scans bind against the catalog) — the side-membership test the
        ASOF JOIN condition decomposition needs."""

        def derive(node):
            op = node.operator
            inputs = tuple(derive(c) for c in node.inputs)
            if op.operator_name() == "Scan":
                return op.derive_logical_prop(inputs, catalog=self.catalog)
            return op.derive_logical_prop(inputs)

        return list(derive(builder._require_root()).schema.names())

    def _asof_join(self, builder, right, cond, outer=False, nearest=False):
        """Lower ``left ASOF [NEAREST] [LEFT] JOIN right ON <cond>``
        (DuckDB's grammar; directions r10) to the engine's
        ``LogicalAsofJoin``: the ON condition must be a conjunction of
        ``l.k = r.k`` equalities plus EXACTLY ONE ts inequality, whose
        operator picks the match direction — ``l.ts >= r.ts`` backward
        inclusive (DuckDB's default), ``>`` backward strict, ``<=``
        forward inclusive, ``<`` forward strict (right-side-first
        spellings normalize).  With the NEAREST qualifier the
        inequality only designates the ts pair (and strictness) and
        the closer of the backward/forward matches wins, backward on
        ties.  Output = every left column plus the right columns not
        consumed as keys/timestamp — alias colliding names away in a
        subquery if needed.  The operator itself is outer-shaped
        (NULLs on no match = ASOF LEFT JOIN); plain ASOF JOIN adds an
        is-not-null filter on an internal duplicate of the right
        timestamp (never NULL in a real match) and projects it away —
        DuckDB's inner default."""
        left_names = set(self._schema_names(builder))
        right_schema = self._schema_names(right)
        right_names = set(right_schema)

        def side(col):
            n = col.name
            if n in left_names and n not in right_names:
                return "l"
            if n in right_names and n not in left_names:
                return "r"
            raise SqlError(
                f"ASOF JOIN: column {n!r} must belong to exactly one "
                "side (alias the duplicate away in a subquery)"
            )

        lks, rks = [], []
        ts_pair = None
        tol_conjs = []  # (left_col, right_col, bound) from l.ts - r.ts <= N
        for c in (
            cond.conjuncts() if isinstance(cond, BinOp) else (cond,)
        ):
            if (
                isinstance(c, BinOp)
                and c.op == "<="
                and isinstance(c.left, BinOp)
                and c.left.op == "-"
                and isinstance(c.left.left, Col)
                and isinstance(c.left.right, Col)
                and isinstance(c.right, Lit)
                and isinstance(c.right.value, (int, float))
                and not isinstance(c.right.value, bool)
            ):
                # TOLERANCE conjunct: l.ts - r.ts <= N (inclusive, same
                # units as the ts columns) — matches farther back null
                # out (outer) / drop (inner)
                tol_conjs.append(
                    (c.left.left.name, c.left.right.name, c.right.value)
                )
                continue
            if not (
                isinstance(c, BinOp)
                and isinstance(c.left, Col)
                and isinstance(c.right, Col)
                and c.op in ("=", ">=", "<=", ">", "<")
            ):
                raise SqlError(
                    "ASOF JOIN ON supports column equality conjuncts, "
                    "one ts inequality, and optionally one "
                    "``l.ts - r.ts <= N`` tolerance; got "
                    f"{c.pretty() if hasattr(c, 'pretty') else c!r}"
                )
            l, r = c.left, c.right
            op = c.op
            if op != "=" and side(l) == "r":
                l, r = r, l
                op = {">=": "<=", "<=": ">=", ">": "<", "<": ">"}[op]
            if op == "=":
                if side(l) == "r":
                    l, r = r, l
                lks.append(l.name)
                rks.append(r.name)
            else:
                if side(l) != "l" or side(r) != "r":
                    raise SqlError(
                        "ASOF JOIN ts inequality must compare a left "
                        "column to a right column"
                    )
                if ts_pair is not None:
                    raise SqlError(
                        "ASOF JOIN takes exactly one ts inequality"
                    )
                ts_pair = (l.name, r.name)
                ts_op = op
        if ts_pair is None:
            raise SqlError(
                "ASOF JOIN needs a ts inequality conjunct in ON "
                "(l.ts >=|>|<=|< r.ts)"
            )
        direction = "backward" if ts_op in (">=", ">") else "forward"
        strict = ts_op in (">", "<")
        if nearest:
            direction = "nearest"
        tolerance = None
        if tol_conjs:
            if len(tol_conjs) > 1:
                raise SqlError("ASOF JOIN takes at most one tolerance")
            ta, tb, tolerance = tol_conjs[0]
            # either orientation designates the pair — the engine
            # bounds the direction-appropriate (non-negative) gap
            if (ta, tb) != ts_pair and (tb, ta) != ts_pair:
                raise SqlError(
                    "ASOF JOIN tolerance must bound the SAME timestamp "
                    f"pair as the inequality ({ts_pair[0]} - "
                    f"{ts_pair[1]} <= N)"
                )
        consumed = set(rks) | {ts_pair[1]}
        right_cols = [n for n in right_schema if n not in consumed]
        collide = [n for n in right_cols if n in left_names]
        if collide:
            raise SqlError(
                f"ASOF JOIN: right column(s) {collide} collide with "
                "left names — alias them in a subquery"
            )
        if outer:
            return builder.asof_join(
                right, lks, rks, ts_pair[0], ts_pair[1], right_cols,
                tolerance=tolerance, direction=direction, strict=strict,
            )
        # inner: carry a duplicate of the right ts through the join as
        # the match witness, filter on it, project it away (a
        # tolerance nulls the witness out with the rest of the carried
        # columns, so out-of-tolerance matches drop here too)
        witness = "__asof_rts"
        right = right.projection(
            [Col(n) for n in right_schema] + [Alias(Col(ts_pair[1]), witness)]
        )
        joined = builder.asof_join(
            right, lks, rks, ts_pair[0], ts_pair[1],
            right_cols + [witness],
            tolerance=tolerance, direction=direction, strict=strict,
        )
        out_cols = list(self._schema_names(joined))
        out_cols.remove(witness)
        return joined.filter(Func("isnotnull", (Col(witness),))).projection(
            [Col(n) for n in out_cols]
        )

    def _from_item(self, frame, seen_bases):
        """Parse one FROM item, register its alias in ``frame`` and
        auto-rename columns on a repeated base table (self-join): the
        2nd+ occurrence gets every column ``c`` projected to
        ``<alias>_c`` so the joined plan has globally-unique names
        (``Col.to_column`` is unqualified — Spark would see ambiguous
        references otherwise)."""
        b, base, alias = self._table()
        while self._pivot_clause_ahead():
            b = self._pivot_item(b)
            base = None  # derived relation now — self-join renaming n/a
            had_as = self.accept("kw", "as")
            if self.peek().kind == "ident" and (
                had_as
                or not (
                    self._window_clause_ahead() or self._pivot_clause_ahead()
                )
            ):
                alias = self.next().value
        if base is not None and base in seen_bases and base not in self.ctes:
            if alias is None:
                raise SqlError(
                    f"self-join on {base!r} requires a table alias on the "
                    "repeated occurrence"
                )
            if self.catalog is None:
                raise SqlError("self-join renaming requires a catalog")
            prefix = f"{alias}_"
            b = b.projection(
                [
                    Alias(Col(c), prefix + c)
                    for c in self.catalog.schema(base).names()
                ]
            )
            frame[alias] = prefix
        else:
            if alias is not None:
                frame[alias] = ""
            if base is not None:
                frame.setdefault(base, "")
                seen_bases.add(base)
        # TABLESAMPLE (r12): DETERMINISTIC hash sampling in the FROM
        # slot — ``t TABLESAMPLE (n ROWS)`` keeps the n rows with the
        # smallest md5-hash of the table's unique key (global top-n →
        # TakeOrdered, per-partition heaps); ``(p PERCENT)`` keeps the
        # hash-bucket share (map-only filter, zero shuffles).  Unlike
        # engine-native TABLESAMPLE (partition-layout- and
        # seed-dependent), the selected set is a pure function of the
        # DATA — reproducible across runs, clusters, and engines (the
        # same functions/sampling.py argument; the DuckDB oracle
        # computes the identical hash).
        t_ts = self.peek()
        if t_ts.kind == "ident" and t_ts.value.lower() == "tablesample":
            self.next()
            self.expect("op", "(")
            n_ts = int(self.expect("number").value)
            unit_t = self.next()
            unit = (
                unit_t.value.lower()
                if unit_t.kind in ("ident", "kw")
                else ""
            )
            if unit not in ("rows", "percent"):
                raise SqlError(
                    "TABLESAMPLE supports (n ROWS) or (n PERCENT), got "
                    f"{unit_t.value!r}"
                )
            self.expect("op", ")")
            names = self._schema_names(b)
            key = None
            if base is not None and self.catalog is not None:
                uk = sorted(self.catalog.unique_keys(base))
                key = uk[0] if uk else None
            if key is None or key not in names:
                # no declared unique key: the first column (the
                # testdata convention — every table leads with its key)
                key = names[0]
            h = _hash60_expr(Col(key))
            if unit == "percent":
                if not 0 <= n_ts <= 100:
                    raise SqlError("TABLESAMPLE percent must be 0..100")
                b = b.filter(
                    BinOp("<", BinOp("%", h, Lit(100)), Lit(n_ts))
                )
            else:
                b = b.sort(
                    [SortKey(h, True, False), SortKey(Col(key), True, False)]
                ).limit(n_ts)
        return b

    def _lateral_ahead(self) -> bool:
        """Lookahead: the next FROM item is ``LATERAL (SELECT ...)``.
        LATERAL is a contextual identifier (like ROLLUP/PIVOT) so a
        table named ``lateral`` would shadow it — acceptable."""
        t = self.peek()
        nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
        return (
            t.kind == "ident"
            and t.value.lower() == "lateral"
            and nxt is not None
            and nxt.kind == "op"
            and nxt.value == "("
        )

    def _lateral_join(self, builder, frame, jt, with_on: bool = False):
        """``FROM outer, LATERAL (SELECT ...) alias`` / ``[LEFT] JOIN
        LATERAL (...) alias ON cond`` — the per-outer-row derived table
        (Postgres/DuckDB LATERAL).  Lowered WITHOUT any nested-loop
        re-execution: ``_decorrelate_lateral`` rewrites the subquery so
        its correlation keys surface as join keys —

        * top-N-per-group (``... WHERE k = outer.k ORDER BY s LIMIT n``)
          becomes an inner-side ``row_number`` window partitioned by the
          correlation key + an ``rn <= n`` filter + a hash join — the
          same one-window plan DISTINCT ON lowers to, and the shape that
          scales (the window shuffles once on the key; no outer×inner
          cartesian ever exists);
        * correlated GLOBAL aggregates become group-by-key + LEFT join
          (an aggregate subquery always returns exactly one row, even
          over zero matches) with COUNT outputs coalesced to 0;
        * correlated GROUP BY aggregates add the correlation key to the
          group keys and inner-join (empty group ⇒ zero rows — exactly
          the LATERAL semantics).

        The post-join projection drops the internal ``__lk*`` key
        columns so ``SELECT *`` and downstream resolution see only
        outer + subquery output columns.  DuckDB runs the same text
        natively, so every shape is fully oracle-able.

        Reference: no subquery surface exists in the reference (SURVEY
        §2.4); extension alongside EXISTS/IN/scalar decorrelation.
        """
        self.next()  # LATERAL
        self.expect("op", "(")
        sub = self._query()
        self.expect("op", ")")
        alias = None
        had_as = self.accept("kw", "as")
        if self.peek().kind == "ident" and (
            had_as
            or not (self._window_clause_ahead() or self._pivot_clause_ahead())
        ):
            alias = self.next().value
        if alias is not None:
            frame[alias] = ""
        on_cond = None
        if with_on:
            self.expect("kw", "on")
            on_cond = self._resolve(self._expr())
        outer_names = self._schema_names(builder)
        (
            lat_b,
            conds,
            out_names,
            count_cols,
            force_left,
            post_distinct,
        ) = _decorrelate_lateral(sub, self.catalog)
        clash = sorted(set(out_names) & set(outer_names))
        if clash:
            raise SqlError(
                f"LATERAL subquery output columns collide with outer "
                f"columns: {clash} — alias them in the subquery select list"
            )
        eff_jt = JoinType.LEFT if (force_left or jt == JoinType.LEFT) else jt
        if on_cond is not None:
            conds = conds + [on_cond]
        rid = None
        if post_distinct:
            # LATERAL DISTINCT whose correlated non-equality conjuncts
            # reference non-output inner columns (r13, VERDICT r12
            # item 3): dedup AFTER the join over outer-row identity +
            # the visible output columns — a rowid names each outer
            # row so two outer rows with identical values keep their
            # own DISTINCT sets
            rid = f"__lat{_next_gensym()}_rid"
            builder = builder.projection(
                [Col(n) for n in outer_names]
                + [Alias(Func("monotonically_increasing_id"), rid)]
            )
        has_eq = any(
            isinstance(c, BinOp) and c.op == "=" for c in conds
        )
        builder = builder.join(
            lat_b,
            eff_jt,
            _and_all(conds) or Lit(True),
            # keyless condition → BNLJ: spread the quadratic work over
            # the rowid hash (see LogicalJoin.stream_repartition)
            stream_repartition=rid if rid and not has_eq else "",
        )
        if post_distinct:
            builder = builder.distinct([rid] + list(out_names))
        proj = [Col(n) for n in outer_names] + [
            Alias(Func("coalesce", (Col(n), Lit(0))), n)
            if n in count_cols and eff_jt == JoinType.LEFT
            else Col(n)
            for n in out_names
        ]
        return builder.projection(proj)

    def _resolve(self, e):
        """Resolve qualified column refs against the alias frames:
        ``a.c`` → the (possibly renamed) local column, or — when ``a``
        belongs to an ENCLOSING select — ``Col(c, "@outer")``, the
        marker the decorrelators use to classify correlation even when
        the name also exists in the subquery's own scans (self-join
        correlation, TPC-H Q21 shape)."""
        if isinstance(e, Col):
            q = e.qualifier
            if q is None or q == "@outer":
                return e
            for depth, frame in enumerate(reversed(self.frames)):
                if q in frame:
                    resolved = frame[q] + e.name
                    if depth == 0:
                        return Col(resolved)
                    return Col(resolved, "@outer")
            return Col(e.name)
        if isinstance(e, BinOp):
            return BinOp(e.op, self._resolve(e.left), self._resolve(e.right))
        if isinstance(e, Alias):
            return Alias(self._resolve(e.expr), e.name)
        if isinstance(e, Cast):
            return Cast(self._resolve(e.expr), e.to_type, e.safe)
        if isinstance(e, Func):
            return Func(e.name, tuple(self._resolve(a) for a in e.args))
        if isinstance(e, SortKey):
            return SortKey(
                self._resolve(e.expr), asc=e.asc, nulls_first=e.nulls_first
            )
        if isinstance(e, _WindowExpr):
            return _WindowExpr(
                self._resolve(e.func),
                type(e.partition_by)(self._resolve(p) for p in e.partition_by),
                type(e.order_by)(self._resolve(k) for k in e.order_by),
                e.frame,
                ref=e.ref,
            )
        if isinstance(e, _Subquery) and e.probe is not None:
            return _Subquery(
                self._resolve(e.probe), e.op, e.quant, e.subplan, e.negated
            )
        from .expr import CaseWhen

        if isinstance(e, CaseWhen):
            return CaseWhen(
                tuple(
                    (self._resolve(c), self._resolve(v)) for c, v in e.branches
                ),
                None if e.otherwise is None else self._resolve(e.otherwise),
            )
        return e

    def _select_item(self) -> Expr:
        e = self._expr()
        if self.accept("kw", "as"):
            alias = self.expect("ident").value
            return Alias(e, alias)
        # bare trailing identifier = implicit alias
        if self.peek().kind == "ident":
            return Alias(e, self.next().value)
        return e

    def _sort_key(self) -> SortKey:
        e = self._expr()
        asc = True
        if self.accept("kw", "desc"):
            asc = False
        else:
            self.accept("kw", "asc")
        # default matches Spark: asc → nulls first, desc → nulls last;
        # explicit NULLS FIRST/LAST overrides
        nulls_first = asc
        if self.accept("kw", "nulls"):
            if self.accept("kw", "first"):
                nulls_first = True
            else:
                self.expect("kw", "last")
                nulls_first = False
        return SortKey(e, asc=asc, nulls_first=nulls_first)

    # expression precedence: or < and < cmp < add < mul < unary/primary
    def _expr(self, allow_interval: bool = False) -> Expr:
        # allow_interval: a PARENTHESIZED interval expression may flow
        # back up as a marker for an enclosing +/- to consume
        # (``d + (INTERVAL 1 QUARTER + INTERVAL 1 MONTH)``); everywhere
        # else a bare interval raises at parse time
        return self._or(allow_interval)

    def _or(self, allow_interval: bool = False) -> Expr:
        e = self._and(allow_interval)
        while self.accept("kw", "or"):
            self._no_interval(e, "OR")
            e = BinOp("or", e, self._no_interval(self._and(), "OR"))
        return e

    def _and(self, allow_interval: bool = False) -> Expr:
        e = self._not_prefix(allow_interval)
        while self.accept("kw", "and"):
            self._no_interval(e, "AND")
            e = BinOp("and", e, self._no_interval(self._not_prefix(), "AND"))
        return e

    def _not_prefix(self, allow_interval: bool = False) -> Expr:
        """Prefix ``NOT <predicate>`` (r12) — binds between AND and the
        comparison level, standard SQL precedence (``NOT a = 5`` is
        ``NOT (a = 5)``; ``NOT a AND b`` is ``(NOT a) AND b``).  ``NOT
        EXISTS`` stays with ``_primary`` (its marker carries the
        negation so the top-conjunct anti-join fast path still
        fires)."""
        t = self.peek()
        nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
        if (
            t.kind == "kw"
            and t.value == "not"
            and not (nxt is not None and nxt.kind == "kw"
                     and nxt.value == "exists")
        ):
            self.next()
            inner = self._not_prefix()
            # a BARE subquery marker is not an Expr (Func would wrap it
            # in a Lit and lose it) — flip its negation instead, which
            # also keeps the top-conjunct anti-join fast path
            if isinstance(inner, _Subquery):
                return inner.negate()
            return Func("not", (inner,))
        return self._cmp(allow_interval)

    _CMP = {"=": "=", "!=": "!=", "<>": "!=", "<": "<", "<=": "<=", ">": ">", ">=": ">="}

    def _cmp(self, allow_interval: bool = False) -> Expr:
        e = self._add(allow_interval)
        if isinstance(e, _IntervalLit):
            # the marker survived _add only because a paren context
            # allowed it — nothing at comparison level may consume it
            t_iv = self.peek()
            if (
                (t_iv.kind == "kw" and t_iv.value in
                 ("not", "between", "in", "like", "is"))
                or (t_iv.kind == "op" and t_iv.value in self._CMP)
                or (t_iv.kind == "ident" and t_iv.value.lower() == "ilike")
            ):
                self._no_interval(e, "a comparison")
            return e
        negate = self.accept("kw", "not") is not None
        if self.accept("kw", "between"):
            lo = self._add()
            self.expect("kw", "and")
            hi = self._add()
            rng = BinOp("and", BinOp(">=", e, lo), BinOp("<=", e, hi))
            if negate:
                rng = BinOp("or", BinOp("<", e, lo), BinOp(">", e, hi))
            return rng
        if self.accept("kw", "in"):
            self.expect("op", "(")
            if self.peek().kind == "kw" and self.peek().value in ("select", "with"):
                sub = self._query()
                self.expect("op", ")")
                if negate:
                    return _Subquery(e, "!=", "all", sub)
                return _Subquery(e, "=", "any", sub)
            vals = [self._expr()]
            while self.accept("op", ","):
                vals.append(self._expr())
            self.expect("op", ")")
            if negate:
                cond = BinOp("!=", e, vals[0])
                for v in vals[1:]:
                    cond = BinOp("and", cond, BinOp("!=", e, v))
            else:
                cond = BinOp("=", e, vals[0])
                for v in vals[1:]:
                    cond = BinOp("or", cond, BinOp("=", e, v))
            return cond
        if self.accept("kw", "like"):
            pat = self._add()
            if not isinstance(pat, Lit) or not isinstance(pat.value, str):
                raise SqlError("LIKE pattern must be a string literal")
            liked = Func("like", (e, pat))
            return Func("not", (liked,)) if negate else liked
        if self.accept("kw", "is"):
            isneg = self.accept("kw", "not") is not None
            if self.accept("kw", "distinct"):
                # IS [NOT] DISTINCT FROM — null-safe (in)equality;
                # lowers through eqNullSafe (<=>)
                self.expect("kw", "from")
                base = BinOp("<=>", e, self._add())
                return base if isneg else Func("not", (base,))
            self.expect("kw", "null")
            return Func("isnotnull" if isneg else "isnull", (e,))
        t_il = self.peek()
        if t_il.kind == "ident" and t_il.value.lower() == "ilike":
            # case-insensitive LIKE (DuckDB/Postgres): lower both sides
            self.next()
            pat = self._add()
            if not isinstance(pat, Lit) or not isinstance(pat.value, str):
                raise SqlError("ILIKE pattern must be a string literal")
            liked = Func(
                "like", (Func("lower", (e,)), Lit(pat.value.lower()))
            )
            return Func("not", (liked,)) if negate else liked
        if negate:
            raise SqlError("NOT only supported before BETWEEN / IN / LIKE")
        t = self.peek()
        if t.kind == "op" and t.value in self._CMP:
            self.next()
            op = self._CMP[t.value]
            tq = self.peek()
            nq = (
                self.toks[self.i + 1]
                if self.i + 1 < len(self.toks)
                else None
            )
            if (
                tq.kind in ("ident", "kw")
                and tq.value.lower() in ("any", "all", "some")
                and nq is not None
                and nq.kind == "op"
                and nq.value == "("
            ):
                # QUANTIFIED comparison ``x op ANY|SOME|ALL (S)``:
                # one membership marker, lowered three-valued like IN
                quant = self.next().value.lower()
                self.expect("op", "(")
                if not (
                    self.peek().kind == "kw"
                    and self.peek().value in ("select", "with")
                ):
                    raise SqlError(
                        f"{quant.upper()} requires a subquery"
                    )
                sub = self._query()
                self.expect("op", ")")
                return _Subquery(
                    e, op, "all" if quant == "all" else "any", sub
                )
            return BinOp(op, e, self._add())
        return e

    def _add(self, allow_interval: bool = False) -> Expr:
        e = self._mul()
        while True:
            if self.accept("op", "+"):
                e = self._date_arith("+", e, self._mul())
            elif self.accept("op", "-"):
                e = self._date_arith("-", e, self._mul())
            else:
                if isinstance(e, _IntervalLit) and not allow_interval:
                    raise SqlError(
                        "INTERVAL literals are only valid in "
                        "date/timestamp + or - arithmetic"
                    )
                return e

    @staticmethod
    def _date_arith(op: str, l, r):
        """``x ± INTERVAL ...`` → nested ``timestamp_add(UNIT, ±n, x)``
        applied months → days → seconds — Spark's clamping month/year
        arithmetic and DATE-→-midnight-TIMESTAMP promotion match
        DuckDB's native interval arithmetic exactly (see _IntervalLit).
        ``INTERVAL ± INTERVAL`` merges component-wise (r12)."""
        if isinstance(r, _IntervalLit):
            if isinstance(l, _IntervalLit):
                return l.merged(r, 1 if op == "+" else -1)
            sign = 1 if op == "+" else -1
            e = l
            for n, u in r.parts():
                e = Func("timestamp_add", (Lit(u), Lit(sign * n), e))
            return e
        if isinstance(l, _IntervalLit):
            if op == "+":  # INTERVAL + x commutes
                return _Parser._date_arith("+", r, l)
            raise SqlError("INTERVAL - <expr> is not valid")
        return BinOp(op, l, r)

    @staticmethod
    def _no_interval(e, where: str):
        """The _IntervalLit marker may only meet ``+``/``-`` — anywhere
        else it must fail AT PARSE TIME, not as a raw error deep in
        resolution (ADVICE r11)."""
        if isinstance(e, _IntervalLit):
            raise SqlError(
                "INTERVAL literals are only valid in date/timestamp "
                f"+ or - arithmetic, not under {where}"
            )
        return e

    def _mul(self) -> Expr:
        e = self._postfix()
        while True:
            if self.accept("op", "*"):
                self._no_interval(e, "'*'")
                e = BinOp("*", e, self._no_interval(self._postfix(), "'*'"))
            elif self.accept("op", "/"):
                self._no_interval(e, "'/'")
                e = BinOp("/", e, self._no_interval(self._postfix(), "'/'"))
            elif self.accept("op", "%"):
                self._no_interval(e, "'%'")
                e = BinOp("%", e, self._no_interval(self._postfix(), "'%'"))
            else:
                return e

    def _postfix(self) -> Expr:
        """Primary plus the ``expr::type`` cast shorthand (DuckDB,
        r11) — binds tighter than any operator, chains left."""
        e = self._primary()
        while self.accept("op", "::"):
            e = Cast(self._no_interval(e, "'::' cast"), self._type_name())
        return e

    def _type_name(self) -> str:
        """``ident`` or ``ident(n[, m])`` (decimal(12,2))."""
        ty = self.expect("ident").value
        if self.accept("op", "("):
            args = [self.expect("number").value]
            while self.accept("op", ","):
                args.append(self.expect("number").value)
            self.expect("op", ")")
            ty = f"{ty}({','.join(args)})"
        elif ty.lower() in ("varchar", "text"):
            # DuckDB's unbounded string types; Spark's CAST needs the
            # length-free spelling
            ty = "string"
        return ty

    def _primary(self) -> Expr:
        t0 = self.peek()
        if t0.kind == "kw" and t0.value == "exists":
            self.next()
            self.expect("op", "(")
            sub = self._query()
            self.expect("op", ")")
            return _Subquery(None, None, "any", sub)
        if (
            t0.kind == "kw"
            and t0.value == "not"
            and self.toks[self.i + 1].kind == "kw"
            and self.toks[self.i + 1].value == "exists"
        ):
            self.next()
            self.next()
            self.expect("op", "(")
            sub = self._query()
            self.expect("op", ")")
            return _Subquery(None, None, "any", sub, True)
        if self.accept("op", "("):
            if self.peek().kind == "kw" and self.peek().value in ("select", "with"):
                sub = self._query()
                self.expect("op", ")")
                return _ScalarSubquery(sub)
            e = self._expr(allow_interval=True)
            self.expect("op", ")")
            return e
        if self.accept("op", "-"):
            inner = self._primary()
            if isinstance(inner, Lit) and isinstance(inner.value, (int, float)):
                return Lit(-inner.value)
            return BinOp("-", Lit(0), inner)
        t = self.peek()
        if t.kind == "number":
            self.next()
            return Lit(_number(t.value))
        if t.kind == "string":
            self.next()
            return Lit(t.value[1:-1].replace("''", "'"))
        if t.kind == "kw" and t.value == "null":
            # bare NULL literal (`cast(null as bigint)`, `coalesce(x,
            # null)`); typing comes from context exactly as in Spark
            self.next()
            return Lit(None)
        if t.kind == "kw" and t.value == "case":
            self.next()
            # simple CASE (``CASE x WHEN v THEN r``): an operand before
            # the first WHEN turns each branch into ``x = v``
            operand = None
            if not (self.peek().kind == "kw" and self.peek().value == "when"):
                operand = self._expr()
            branches = []
            while self.accept("kw", "when"):
                cond = self._expr()
                if operand is not None:
                    cond = BinOp("=", operand, cond)
                self.expect("kw", "then")
                branches.append((cond, self._expr()))
            otherwise = self._expr() if self.accept("kw", "else") else None
            self.expect("kw", "end")
            if not branches:
                raise SqlError("CASE requires at least one WHEN branch")
            from .expr import CaseWhen

            return CaseWhen(tuple(branches), otherwise)
        if t.kind == "kw" and t.value == "cast":
            self.next()
            self.expect("op", "(")
            e = self._expr()
            self.expect("kw", "as")
            ty = self._type_name()
            self.expect("op", ")")
            return Cast(e, ty)
        if t.kind == "ident":
            name = self.next().value
            low = name.lower()
            nt = self.peek()
            # typed literals (contextual, like ROLLUP/PIVOT): DATE
            # 'yyyy-mm-dd' / TIMESTAMP '...' — lowered as a cast, which
            # both engines evaluate identically
            if low in ("date", "timestamp") and nt.kind == "string":
                s = self.next().value
                return Cast(Lit(s[1:-1].replace("''", "'")), low)
            # INTERVAL '90' DAY / INTERVAL 3 MONTH — a marker only
            # ``_add`` may consume (see _IntervalLit)
            if low == "try_cast" and nt.kind == "op" and nt.value == "(":
                # TRY_CAST(x AS t) — NULL on conversion failure (r13);
                # identical semantics on Spark (Column.try_cast) and
                # DuckDB (TRY_CAST)
                self.next()
                e = self._expr()
                self.expect("kw", "as")
                ty = self._type_name()
                self.expect("op", ")")
                return Cast(e, ty, safe=True)
            if low == "interval" and nt.kind in ("string", "number"):
                tok = self.next()
                raw = tok.value if tok.kind == "number" else tok.value[1:-1]
                try:
                    n = int(raw)
                except ValueError:
                    raise SqlError(
                        f"INTERVAL quantity must be an integer, got {raw!r}"
                    )
                ut = self.expect("ident").value.lower()
                unit = _IntervalLit._UNITS.get(ut)
                if unit is None:
                    raise SqlError(f"unknown INTERVAL unit {ut!r}")
                return _IntervalLit(n, unit)
            if self.accept("op", "("):
                return self._call(name)
            if self.accept("op", "."):
                colname = self.expect("ident").value
                return Col(colname, qualifier=name)
            if low in ("true", "false"):
                # boolean literals lex as idents (not reserved, so a
                # column named `true` would shadow — as in Spark SQL)
                return Lit(low == "true")
            return Col(name)
        raise SqlError(f"unexpected token {t!r}")

    _EXTRACT_UNITS = {
        "year": "year", "month": "month", "day": "dayofmonth",
        "hour": "hour", "minute": "minute", "second": "second",
        "quarter": "quarter", "week": "weekofyear",
        "dayofyear": "dayofyear", "doy": "dayofyear",
    }

    def _call(self, name: str) -> Expr:
        fname = name.lower()
        if fname == "extract":
            # EXTRACT(unit FROM x) — standard; each unit maps to the
            # field function both engines compute identically (dow is
            # deliberately absent: the engines number weekdays
            # differently)
            unit = self.expect("ident").value.lower()
            fn = self._EXTRACT_UNITS.get(unit)
            if fn is None:
                raise SqlError(
                    f"EXTRACT unit {unit!r} is not supported "
                    f"(known: {sorted(self._EXTRACT_UNITS)})"
                )
            self.expect("kw", "from")
            e = self._expr()
            self.expect("op", ")")
            return Func(fn, (e,))
        if fname == "position":
            # POSITION(needle IN haystack) — 1-based, 0 when absent
            # (instr semantics on both engines)
            needle = self._add()
            self.expect("kw", "in")
            hay = self._expr()
            self.expect("op", ")")
            return Func("instr", (hay, needle))
        if self.accept("op", "*"):
            self.expect("op", ")")
            if fname != "count":
                raise SqlError(f"'*' argument only valid for count, got {name}")
            func = self._maybe_filter_clause(Func("count", ()))
            if self.accept("kw", "over"):
                return self._over(func)
            return func
        if self.accept("kw", "distinct"):
            arg = self._expr()
            self.expect("op", ")")
            if fname == "count":
                return Func("count_distinct", (arg,))
            if fname == "sum":
                return Func("sum_distinct", (arg,))
            if fname in ("min", "max"):
                # DISTINCT under min/max is the identity
                return Func(fname, (arg,))
            raise SqlError(
                "DISTINCT is supported inside count()/sum()/min()/max()"
            )
        args: List[Expr] = []
        agg_order = None
        if not self.accept("op", ")"):
            args.append(self._expr())
            if fname == "substring" and self.accept("kw", "from"):
                # SUBSTRING(x FROM a [FOR b]) — the standard spelling
                args.append(self._expr())
                if self.peek().kind == "ident" and (
                    self.peek().value.lower() == "for"
                ):
                    self.next()
                    args.append(self._expr())
                self.expect("op", ")")
                return Func("substring", tuple(args))
            while self.accept("op", ","):
                args.append(self._expr())
            # IGNORE/RESPECT NULLS inside the parens (DuckDB placement,
            # r13): last_value(x IGNORE NULLS), lag(x, 2 IGNORE NULLS)
            if self._peek_ident("ignore") or self._peek_ident("respect"):
                word = self.next().value.lower()
                self.expect("kw", "nulls")
                allowed = (
                    "first_value", "last_value", "nth_value", "lag", "lead",
                )
                if fname not in allowed:
                    raise SqlError(
                        f"{word.upper()} NULLS is supported for "
                        f"{'/'.join(allowed)}, not {fname}"
                    )
                if word == "ignore":
                    fname += "_ign"
            # ORDER BY inside an aggregate call (DuckDB):
            # string_agg(x, sep ORDER BY k [DESC]) — the only aggregate
            # whose result depends on input order, so the only one that
            # takes the clause
            if self.accept("kw", "order"):
                self.expect("kw", "by")
                if fname != "string_agg":
                    raise SqlError(
                        "ORDER BY inside an aggregate is only supported "
                        "for string_agg"
                    )
                keys = []
                while True:
                    key = self._expr()
                    asc = not self.accept("kw", "desc")
                    self.accept("kw", "asc")
                    keys.append((key, asc))
                    if not self.accept("op", ","):
                        break
                agg_order = tuple(keys)
            self.expect("op", ")")
        if fname == "string_agg":
            if len(args) != 2:
                raise SqlError("string_agg takes (expr, separator)")
            if agg_order is None:
                raise SqlError(
                    "string_agg requires ORDER BY (an unordered "
                    "concatenation is nondeterministic across engines)"
                )
            tail: list = []
            for key, asc in agg_order:
                tail.extend((key, Lit(asc)))
            return Func("string_agg_ord", (args[0], args[1], *tail))
        if fname in ("arg_max", "arg_min"):
            # DuckDB names for Spark's max_by/min_by
            fname = "max_by" if fname == "arg_max" else "min_by"
        if fname in ("percentile_cont", "percentile_disc"):
            # ordered-set aggregates (r13): p WITHIN GROUP (ORDER BY x
            # [ASC|DESC]).  cont → Spark's exact interpolating
            # ``percentile`` (DESC = the (1-p) ascending quantile);
            # disc → the smallest value whose cume_dist ≥ p, computed
            # as sorted-array indexing (``percentile_disc_ord``)
            if len(args) != 1 or not isinstance(args[0], Lit):
                raise SqlError(f"{fname} takes one literal fraction")
            p = float(args[0].value)
            if not 0.0 <= p <= 1.0:
                raise SqlError(f"{fname} fraction must be in [0, 1]")
            if not self._accept_ident("within"):
                raise SqlError(
                    f"{fname} requires WITHIN GROUP (ORDER BY ...)"
                )
            self.expect("kw", "group")
            self.expect("op", "(")
            self.expect("kw", "order")
            self.expect("kw", "by")
            x = self._expr()
            asc = not self.accept("kw", "desc")
            self.accept("kw", "asc")
            self.expect("op", ")")
            if fname == "percentile_cont":
                return Func("percentile", (x, Lit(p if asc else 1.0 - p)))
            return Func("percentile_disc_ord", (x, Lit(p), Lit(asc)))
        mac = self.macros.get(fname)
        if mac is not None and len(mac[0]) == len(args):
            # SQL macro call: substitute the parsed argument exprs for
            # the parameter columns in the (pre-parsed) body IR — no
            # textual rewriting, so string literals, quoted identifiers
            # and argument commas can never confuse the expansion
            mapping = {p.lower(): a for p, a in zip(mac[0], args)}
            return _substitute_params(mac[1], mapping)
        func = Func(fname, tuple(args))
        if func.is_aggregate:
            func = self._maybe_filter_clause(func)
        if self.accept("kw", "over"):
            return self._over(func)
        return func

    def _maybe_filter_clause(self, func: Func) -> Func:
        """Standard aggregate ``FILTER (WHERE pred)`` — lowered to the
        CASE the aggregate already ignores: ``count(*) FILTER (WHERE p)``
        → ``count(CASE WHEN p THEN 1 END)``; ``agg(x) FILTER (WHERE p)``
        → ``agg(CASE WHEN p THEN x END)`` (sum/min/max/avg skip NULLs, so
        semantics are exact).  Contextual keyword — ``filter`` stays a
        valid identifier elsewhere."""
        t = self.peek()
        n1 = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
        if (
            t.kind != "ident"
            or t.value.lower() != "filter"
            or n1 is None
            or n1.kind != "op"
            or n1.value != "("
        ):
            return func
        from .expr import CaseWhen

        self.next()
        self.expect("op", "(")
        self.expect("kw", "where")
        pred = self._expr()
        self.expect("op", ")")
        if not func.args:
            if func.name != "count":
                raise SqlError(
                    f"FILTER on zero-argument aggregate {func.name}()"
                )
            return Func("count", (CaseWhen(((pred, Lit(1)),), None),))
        if len(func.args) != 1:
            raise SqlError("FILTER supports single-argument aggregates")
        return Func(func.name, (CaseWhen(((pred, func.args[0]),), None),))

    def _over(self, func: Func) -> "_WindowExpr":
        """After OVER: inline ``(spec)`` or a WINDOW-clause name ref."""
        if self.peek().kind == "ident":
            return _WindowExpr(func, (), (), None, ref=self.next().value.lower())
        return self._window_spec(func)

    def _bind_named_windows(self, e, named: dict):
        """Replace every ``OVER <name>`` reference (``_WindowExpr.ref``)
        with its WINDOW-clause spec; error on undefined names."""
        b = lambda x: self._bind_named_windows(x, named)  # noqa: E731
        if isinstance(e, _WindowExpr):
            if e.ref is not None:
                spec = named.get(e.ref)
                if spec is None:
                    raise SqlError(
                        f"OVER {e.ref} references no WINDOW-clause spec"
                    )
                return _expand_ign_window(
                    b(e.func), spec.partition_by, spec.order_by, spec.frame
                )
            return _WindowExpr(b(e.func), e.partition_by, e.order_by, e.frame)
        if isinstance(e, Alias):
            return Alias(b(e.expr), e.name)
        if isinstance(e, BinOp):
            return BinOp(e.op, b(e.left), b(e.right))
        if isinstance(e, Cast):
            return Cast(b(e.expr), e.to_type, e.safe)
        if isinstance(e, Func):
            return Func(e.name, tuple(b(a) for a in e.args))
        if isinstance(e, SortKey):
            return SortKey(b(e.expr), asc=e.asc, nulls_first=e.nulls_first)
        from .expr import CaseWhen

        if isinstance(e, CaseWhen):
            return CaseWhen(
                tuple((b(c), b(v)) for c, v in e.branches),
                None if e.otherwise is None else b(e.otherwise),
            )
        return e

    def _window_spec(self, func: Func) -> "_WindowExpr":
        """``OVER (PARTITION BY e, ... ORDER BY k, ...
        [ROWS|RANGE BETWEEN <bound> AND <bound>])``"""
        self.expect("op", "(")
        partition_by: List[Expr] = []
        if self.accept("kw", "partition"):
            self.expect("kw", "by")
            partition_by.append(self._expr())
            while self.accept("op", ","):
                partition_by.append(self._expr())
        order_by: List[SortKey] = []
        if self.accept("kw", "order"):
            self.expect("kw", "by")
            order_by.append(self._sort_key())
            while self.accept("op", ","):
                order_by.append(self._sort_key())
        frame = None
        kind = None
        if self.accept("kw", "rows"):
            kind = "rows"
        elif self.accept("kw", "range"):
            kind = "range"
        if kind is not None:
            self.expect("kw", "between")
            start = self._frame_bound()
            self.expect("kw", "and")
            end = self._frame_bound()
            frame = (kind, start, end)
        self.expect("op", ")")
        return _expand_ign_window(func, partition_by, order_by, frame)

    def _frame_bound(self) -> Optional[int]:
        """UNBOUNDED PRECEDING/FOLLOWING | CURRENT ROW | n PRECEDING |
        n FOLLOWING → None / 0 / -n / +n (WindowExprDef encoding)."""
        if self.accept("kw", "unbounded"):
            if not (self.accept("kw", "preceding") or self.accept("kw", "following")):
                raise SqlError("expected PRECEDING or FOLLOWING after UNBOUNDED")
            return None
        if self.accept("kw", "current"):
            self.expect("kw", "row")
            return 0
        n = self.expect("number")
        if "." in n.value:
            raise SqlError("frame offset must be an integer")
        if self.accept("kw", "preceding"):
            return -int(n.value)
        self.expect("kw", "following")
        return int(n.value)

    def _expand_star(self, builder: LogicalPlanBuilder) -> List[Expr]:
        """Expand ``*`` through the catalog (scan binding, like the
        reference's ``DFField::from_qualified`` expansion).  The walk
        descends only through operators that PASS COLUMNS THROUGH
        (filter/limit/sort/distinct, and joins concatenate); anything
        that determines its own output set — a projection, an
        aggregate, a set-op, an inlined VIEW body — contributes its
        DERIVED schema instead of the scans underneath it (``select *``
        over a view must see the view's columns, not its base
        table's)."""
        if self.catalog is None:
            raise SqlError("SELECT * requires a catalog to expand columns")

        def derive(node):
            op = node.operator
            inputs = tuple(derive(c) for c in node.inputs)
            if op.operator_name() == "Scan":
                return op.derive_logical_prop(inputs, catalog=self.catalog)
            return op.derive_logical_prop(inputs)

        def collect(node) -> List[Expr]:
            op = node.operator
            name = op.operator_name()
            if name == "Scan":
                schema = self.catalog.schema(op.table_name)
                return [
                    Col(f.name, qualifier=op.table_name)
                    for f in schema.fields
                ]
            if name == "Values":
                return [Col(n) for n in op.names]
            if name == "Join":
                # semi/anti joins emit the LEFT side only; and the
                # right sides of subquery-lowering joins contribute
                # only internal helper columns (_scalar_N membership
                # probes, __mN_* flag keys) that ``*`` must never see
                jt = getattr(op, "join_type", None)
                kids = (
                    node.inputs[:1]
                    if jt in (JoinType.LEFT_SEMI, JoinType.LEFT_ANTI)
                    else node.inputs
                )
                cols = [c for ch in kids for c in collect(ch)]
                return [
                    c
                    for c in cols
                    if not re.match(
                        r"_scalar_\d+$|__m\d+_|__in\d+_key$|__na\d+_",
                        c.name,
                    )
                ]
            if name in ("Filter", "Limit", "Sort", "Distinct"):
                return [c for ch in node.inputs for c in collect(ch)]
            try:
                prop = derive(node)
            except Exception:
                return [c for ch in node.inputs for c in collect(ch)]
            return [Col(f.name) for f in prop.schema.fields]

        return collect(builder._require_root())


def _split_in_conjuncts(pred):
    """Split a WHERE tree into (plain predicate | None, [top-conjunct
    membership markers...], [conjuncts with EMBEDDED markers...]).  A
    bare top-level AND conjunct marker may lower to a semi/anti join
    (``_lower_membership(top=True)``); a marker embedded under OR/NOT
    lowers to joins plus its three-valued value inside the full
    conjunct."""
    if isinstance(pred, _Subquery):
        return None, [pred], []
    if isinstance(pred, BinOp) and pred.op == "and":
        lp, ls, le = _split_in_conjuncts(pred.left)
        rp, rs, re_ = _split_in_conjuncts(pred.right)
        if lp is None:
            plain = rp
        elif rp is None:
            plain = lp
        else:
            plain = BinOp("and", lp, rp)
        return plain, ls + rs, le + re_
    if _contains_membership(pred):
        return None, [], [pred]
    return pred, [], []


def _filter_lowering_markers(builder, pred, catalog):
    """``builder`` filtered by ``pred``, whose membership markers are
    lowered: a bare top-level conjunct marker may become a semi/anti
    join, a marker under OR/NOT joins its subquery and the full
    conjunct filters over its value."""
    plain, subs, embedded = _split_in_conjuncts(pred)
    if plain is not None:
        builder = builder.filter(plain)
    for s in subs:
        builder, val = _lower_membership(builder, s, catalog, top=True)
        if val is not None:
            builder = builder.filter(val)
    for conj in embedded:
        builder, new_conj = _lower_embedded_subqueries(conj, builder, catalog)
        builder = builder.filter(new_conj)
    return builder


#: per-parse counter behind every generated helper name (``__in3_key``,
#: ``__na3_cnt``, ``__m3_k``, ``_scalar_3``, ``__lat3_rid``)
_gensym = [0]


def _next_gensym() -> int:
    _gensym[0] += 1
    return _gensym[0]


#: ``a op b`` ⟺ ``b _FLIP_CMP[op] a``
_FLIP_CMP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "=", "!=": "!="}
#: ``NOT (a op b)`` ⟺ ``a _NOT_CMP[op] b``, NULL staying NULL
_NOT_CMP = {"<": ">=", "<=": ">", ">": "<=", ">=": "<", "=": "!=", "!=": "="}


def _three_valued(witness, empty, has_null, probe):
    """The standard value of ``probe op ANY (S)`` from three facts about
    the (correlated) group of S: TRUE when a row witnesses the
    comparison; FALSE when the group is empty; NULL when the probe is
    NULL or the group holds a NULL; FALSE otherwise."""
    from .expr import CaseWhen

    return CaseWhen(
        (
            (witness, Lit(True)),
            (empty, Lit(False)),
            (
                BinOp("or", Func("isnull", (probe,)), has_null),
                Cast(Lit(None), "boolean"),
            ),
        ),
        Lit(False),
    )


def _eq_inner_outer(c, inner) -> bool:
    """Is ``c`` an ``inner_col = outer_expr`` equality: exactly one side a
    bare Col named in ``inner`` and no ``inner`` name on the other?"""
    if not (isinstance(c, BinOp) and c.op == "="):
        return False
    sides = [x for x in (c.left, c.right) if isinstance(x, Col) and x.name in inner]
    if len(sides) != 1:
        return False
    other = c.right if sides[0] is c.left else c.left
    return not any(x.name in inner for x in _cols_of(other))


def _inner_first(c, inner):
    """An ``_eq_inner_outer`` equality written inner column first."""
    if isinstance(c.left, Col) and c.left.name in inner:
        return c
    return BinOp("=", c.right, c.left)


def _ordering(c, inner):
    """``(inner_expr, cmp, outer_expr)`` when ``c`` is an ordering
    comparison with every ``inner`` name on one side and none on the
    other — the shape a min/max aggregate decides hash-only
    (``EXISTS(ie > oe)`` over a group ⟺ ``max(ie) > oe``).  None
    otherwise."""
    if not (isinstance(c, BinOp) and c.op in ("<", "<=", ">", ">=")):
        return None
    l_in = any(x.name in inner for x in _cols_of(c.left))
    r_in = any(x.name in inner for x in _cols_of(c.right))
    if l_in and not r_in:
        return c.left, c.op, c.right
    if r_in and not l_in:
        return c.right, _FLIP_CMP[c.op], c.left
    return None


def _eq_join_legs(eqs, prefix):
    """For ``_eq_inner_outer`` equalities written inner column first:
    deduplicated ``[Alias(inner_col, group_name)]`` plus the join
    conjuncts ``group_name = outer_expr``."""
    groups: dict = {}
    conds: list = []
    for c in eqs:
        gname = groups.setdefault(c.left.name, f"{prefix}g{len(groups)}")
        conds.append(BinOp("=", Col(gname), c.right))
    return [Alias(Col(ic), gn) for ic, gn in groups.items()], conds


def _rowid_outer(builder, catalog, rid):
    """Project a ``monotonically_increasing_id`` row-id column onto the
    outer plan, returning ``(builder, outer_col_names)``.  The id is
    computed ONCE, before the correlation join, so the post-join
    re-aggregation (group by rid + passthrough outer columns) restores
    exactly one row per outer row."""
    outer_names = _plan_schema_names(builder._require_root(), catalog)
    return (
        builder.projection(
            [Col(c) for c in outer_names]
            + [Alias(Func("monotonically_increasing_id"), rid)]
        ),
        outer_names,
    )


def _membership_side(s: "_Subquery", catalog, op):
    """Decorrelate a membership marker's subquery.  Returns ``(side, y,
    conds, inner)``: the subquery side as a builder; the expression
    over it compared with the probe (None for EXISTS); the lifted
    correlation conjuncts (empty when uncorrelated); and the side's
    ``__sub_*`` columns those conjuncts read, in first-use order.

    EXISTS ignores the select list.  A correlated IN/ANY/ALL needs a
    plain ``SELECT <expr>`` root (a DISTINCT over it is kept), whose
    expression becomes the key column ``__in<n>_key``.  Uncorrelated,
    an IN (``op`` ``=``) over a named output column uses the subquery
    as written; any other comparison reads the select-list expression
    straight off the projection's input."""
    root = s.subplan.root
    distinct = s.probe is not None and root.operator.operator_name() == "Distinct"
    if distinct:
        root = root.inputs[0]
    proj = None
    if root.operator.operator_name() == "Projection":
        proj = root.operator.exprs
    below, conds, renames = _decorrelate(
        s.subplan, catalog, root.inputs[0] if proj is not None else root
    )
    whole = LogicalPlanBuilder(s.subplan.root)
    cols = [Alias(Col(c), r) for c, r in renames.items()]
    y = None
    if s.probe is not None:
        if proj is None or len(proj) != 1:
            if not conds:
                return whole, Col(_single_output_col(s.subplan)), [], []
            if proj is None:
                raise SqlError(
                    "correlated IN supports a plain SELECT <expr> subquery "
                    "(no aggregation) — rewrite as EXISTS"
                )
            raise SqlError("IN subquery must produce exactly one column")
        y = proj[0].expr if isinstance(proj[0], Alias) else proj[0]
        if not conds:
            if op == "=" and isinstance(proj[0], (Alias, Col)):
                return whole, Col(_single_output_col(s.subplan)), [], []
            return LogicalPlanBuilder(below), y, [], []
        if any(x.qualifier == "@outer" for x in _cols_of(y)):
            raise SqlError(
                "IN subquery select list cannot reference the outer query"
            )
        key = f"__in{_next_gensym()}_key"
        cols.insert(0, Alias(y, key))
        y = Col(key)
    elif not conds:
        return whole, None, [], []
    side = LogicalPlanBuilder(below)
    if cols:
        side = side.projection(cols)
    return side.distinct() if distinct else side, y, conds, list(renames.values())


def _lower_membership(b, s: "_Subquery", catalog, top: bool = False):
    """Lower one membership marker against the outer builder ``b``.
    Returns ``(builder, value)``: the builder with the subquery joined
    in, and the marker's value over the joined columns — TRUE, FALSE or
    NULL for IN/ANY/ALL (``_three_valued``), TRUE or FALSE for EXISTS.
    ``x op ALL (S)`` lowers as ``NOT (x op' ANY (S))`` with ``op'`` the
    complement, so NOT IN is ``NOT (x = ANY (S))``.

    ``top`` says the marker is a top-level WHERE conjunct.  Correlated
    EXISTS and positive IN then become a LEFT SEMI/ANTI join on the
    lifted conjuncts, and the value is None (nothing left to filter).
    NOT IN over shape (a) becomes an anti join plus a null-aware
    post-filter.

    The physical shape follows the lifted conjuncts:

    (a) none, or ``inner_col = outer`` equalities only: a null-aware
        stats row ``count(*)``, ``count(key)`` (and ``min``/``max`` of
        the key for an ordering ANY) grouped by the correlation keys —
        one global row when uncorrelated — plus, for IN and correlated
        EXISTS, a LEFT join against the deduplicated key and correlation
        columns whose non-NULL probe column is the witness;
    (b) equalities plus one ordering comparison ``ie cmp oe`` (EXISTS
        and IN): ``agg(ie) cmp oe`` over aggregates grouped by the
        equalities' keys, agg = max for >/>=, min for </<= (IN adds an
        aggregate grouped by the key too);
    (c) anything else: a row id on the outer side, a LEFT join on the
        full condition, and a re-aggregation per row id that counts the
        matching rows and their non-NULL keys and finds a witness.

    Every join keeps at most one right row per outer row, so the value
    composes under the surrounding OR/NOT/CASE."""
    from .expr import CaseWhen

    op, neg = (s.op, s.negated) if s.quant == "any" else (_NOT_CMP[s.op], not s.negated)
    x = s.probe
    side, y, conds, inner = _membership_side(s, catalog, op)
    match = [BinOp("=", x, y)] if op == "=" else []
    if top and (match and not neg if x is not None else conds):
        # a semi/anti join keeps exactly the rows whose value is TRUE
        jt = JoinType.LEFT_ANTI if neg else JoinType.LEFT_SEMI
        return b.join(side, jt, _and_all(match + conds)), None
    n = _next_gensym()
    eqs = [_inner_first(c, inner) for c in conds if _eq_inner_outer(c, inner)]
    rest = [c for c in conds if not _eq_inner_outer(c, inner)]
    ineq = _ordering(rest[0], inner) if len(rest) == 1 and op in (None, "=") else None
    if not rest and (x is not None or not conds):
        # (a) the null-aware stats row
        cnt, nn = Col(f"__na{n}_cnt"), Col(f"__na{n}_nn")
        mn, mx = Col(f"__na{n}_mn"), Col(f"__na{n}_mx")
        stats = [Alias(Func("count"), cnt.name)]
        if x is not None:
            stats.append(Alias(Func("count", (y,)), nn.name))
        if op in ("<", "<=", "!="):
            stats.append(Alias(Func("max", (y,)), mx.name))
        if op in (">", ">=", "!="):
            stats.append(Alias(Func("min", (y,)), mn.name))
        groups, legs = _eq_join_legs(eqs, f"__na{n}_")
        b = b.join(
            side.aggregate(groups, stats),
            JoinType.LEFT if legs else JoinType.INNER,
            _and_all(legs) or Lit(True),
        )
        empty = BinOp("=", Func("coalesce", (cnt, Lit(0))), Lit(0))
        has_null = BinOp("<", nn, cnt)
        if top and match:
            # NOT IN: the anti join removes the matches; a survivor is
            # TRUE when its group is empty, or when the probe is
            # non-NULL and the group holds no NULL
            b = b.join(side, JoinType.LEFT_ANTI, _and_all(match + conds))
            keep = BinOp("and", Func("isnotnull", (x,)), BinOp("=", nn, cnt))
            return b.filter(BinOp("or", empty, keep)), None
        if x is None:
            witness = BinOp(">", cnt, Lit(0))
        elif op == "!=":
            witness = BinOp("or", BinOp("!=", x, mn), BinOp("!=", x, mx))
        elif op != "=":
            witness = BinOp(op, x, mx if op in ("<", "<=") else mn)
    if not rest and (match or conds and x is None):
        # (a) the witness: a LEFT join against the deduplicated key and
        # correlation columns, renamed per marker so that two markers
        # over the same inner column cannot collide
        ren = {c: f"__m{n}{c[5:]}" for c in inner}
        cols = [Alias(Col(c), r) for c, r in ren.items()]
        on = [_rewrite_cols(c, lambda c: Col(ren.get(c.name, c.name))) for c in conds]
        if match:
            cols.insert(0, Alias(y, f"__m{n}_k"))
            on.insert(0, BinOp("=", x, Col(f"__m{n}_k")))
        b = b.join(side.projection(cols).distinct(), JoinType.LEFT, _and_all(on))
        witness = Func("isnotnull", (Col(cols[0].name),))
    elif ineq is not None:
        # (b) min/max aggregates grouped by the equalities' keys
        ie, cmp_, oe = ineq
        aggf = "max" if cmp_ in (">", ">=") else "min"

        def holds(m):
            return Func("coalesce", (BinOp(cmp_, Col(m), oe), Lit(False)))

        groups, legs = _eq_join_legs(eqs, f"__m{n}s_")
        aggs = [Alias(Func(aggf, (ie,)), f"__m{n}_all")]
        if y is not None:
            nil = CaseWhen(((Func("isnull", (y,)), ie),), None)
            aggs.append(Alias(Func(aggf, (nil,)), f"__m{n}_nil"))
        b = b.join(
            side.aggregate(groups, aggs),
            JoinType.LEFT,
            _and_all(legs) or Lit(True),
        )
        witness = holds(f"__m{n}_all")
        if y is not None:
            hgroups, hlegs = _eq_join_legs(eqs, f"__m{n}h_")
            hit = side.aggregate(
                [Alias(y, f"__m{n}_k")] + hgroups,
                [Alias(Func(aggf, (ie,)), f"__m{n}_mk")],
            )
            on = _and_all([BinOp("=", Col(f"__m{n}_k"), x)] + hlegs)
            b = b.join(hit, JoinType.LEFT, on)
            empty = Func("not", (witness,))
            has_null = holds(f"__m{n}_nil")
            witness = holds(f"__m{n}_mk")
    elif rest:
        # (c) row id, LEFT join on the full condition, re-aggregation
        ren = {c: f"__m{n}{c[5:]}" for c in inner}
        one, k, cnt, nn = (Col(f"__m{n}_{t}") for t in ("one", "k", "cnt", "nn"))
        cols = [Alias(Col(c), r) for c, r in ren.items()] + [Alias(Lit(1), one.name)]
        aggs = [Alias(Func("count", (one,)), cnt.name)]
        if y is not None:
            cols.insert(0, Alias(y, k.name))
            hit = CaseWhen(((BinOp(_FLIP_CMP[op], k, x), Lit(1)),), None)
            aggs += [
                Alias(Func("count", (k,)), nn.name),
                Alias(Func("max", (hit,)), f"__m{n}_hit"),
            ]
        rid = f"__m{n}_rid"
        b, outer_names = _rowid_outer(b, catalog, rid)
        on = [_rewrite_cols(c, lambda c: Col(ren.get(c.name, c.name))) for c in conds]
        has_eq = any(isinstance(c, BinOp) and c.op == "=" for c in conds)
        b = b.join(
            side.projection(cols),
            JoinType.LEFT,
            _and_all(on),
            # pure-inequality condition → BNLJ: spread the quadratic work
            # over the rowid hash (see LogicalJoin.stream_repartition)
            stream_repartition="" if has_eq else rid,
        ).aggregate([Col(rid)] + [Col(c) for c in outer_names], aggs)
        witness = BinOp(">", cnt, Lit(0))
        if y is not None:
            empty = BinOp("=", Func("coalesce", (cnt, Lit(0))), Lit(0))
            has_null = BinOp("<", nn, cnt)
            witness = Func("isnotnull", (Col(f"__m{n}_hit"),))
    val = witness if x is None else _three_valued(witness, empty, has_null, x)
    return b, Func("not", (val,)) if neg else val


def _lower_embedded_subqueries(e, builder, catalog):
    """Lower every membership marker inside ``e`` (under OR/NOT/CASE, in
    a select item or HAVING) left to right: each joins its subquery into
    ``builder`` and is replaced by its value.  Returns (new_builder,
    rewritten expression)."""
    out = [builder]

    def lower(s):
        out[0], val = _lower_membership(out[0], s, catalog)
        return val

    e = _rewrite_cols(e, lower, _Subquery)
    return out[0], e


def _contains_window(e) -> bool:
    if isinstance(e, _WindowExpr):
        return True
    if isinstance(e, BinOp):
        return _contains_window(e.left) or _contains_window(e.right)
    if isinstance(e, (Alias, Cast)):
        return _contains_window(e.expr)
    if isinstance(e, Func):
        return any(_contains_window(a) for a in e.args)
    return False


def _contains_membership(e) -> bool:
    """Does ``e`` hold a membership marker (IN/EXISTS/ANY/ALL)?"""
    return any(isinstance(x, _Subquery) for x in _walk_exprs(e))


def _extract_scalars(e):
    """Replace every ``_ScalarSubquery`` in the expression tree with a
    fresh column reference; return (new expr, [(alias, subplan)...]).
    Markers are deduplicated by identity so an expression referencing
    the same marker object twice joins its subquery once."""
    found: list = []
    seen: dict = {}

    def alias(x):
        if id(x) not in seen:
            seen[id(x)] = f"_scalar_{_next_gensym()}"
            found.append((seen[id(x)], x.subplan))
        return Col(seen[id(x)])

    return _rewrite_cols(e, alias, _ScalarSubquery), found


def _join_scalars(builder, scalars, catalog=None):
    """Join each ``(alias, subplan)`` of ``_extract_scalars`` so that
    ``alias`` names its value: a single-row subquery as an INNER join on
    TRUE (Spark broadcasts the row), and — only with ``catalog``, i.e.
    in WHERE, where an empty group's NULL drops the row anyway — a
    correlated aggregate as its per-key aggregate joined on the
    correlation keys (``_decorrelate_scalar``)."""
    for alias, sub in scalars:
        dec = _decorrelate_scalar(sub, catalog, alias) if catalog is not None else None
        if dec is not None:
            builder = builder.join(dec[0], JoinType.INNER, dec[1])
            continue
        _require_one_row_subplan(sub)
        renamed = LogicalPlanBuilder(sub.root).projection(
            [Alias(Col(_single_output_col(sub)), alias)]
        )
        builder = builder.join(renamed, JoinType.INNER, Lit(True))
    return builder


def _clone_subtree(node):
    from .plans.plan import PlanNode

    return PlanNode(node.operator, [_clone_subtree(c) for c in node.inputs])


def _walk_exprs(e):
    """Every node of an expression tree, root first."""
    from .expr import CaseWhen

    yield e
    if isinstance(e, BinOp):
        yield from _walk_exprs(e.left)
        yield from _walk_exprs(e.right)
    elif isinstance(e, (Alias, Cast)):
        yield from _walk_exprs(e.expr)
    elif isinstance(e, Func):
        for a in e.args:
            yield from _walk_exprs(a)
    elif isinstance(e, CaseWhen):
        for c, v in e.branches:
            yield from _walk_exprs(c)
            yield from _walk_exprs(v)
        if e.otherwise is not None:
            yield from _walk_exprs(e.otherwise)
    elif isinstance(e, Lit) and isinstance(e.value, _Subquery):
        # a marker passed as a function argument (``Func`` wraps it)
        yield from _walk_exprs(e.value)
    elif isinstance(e, _WindowExpr):
        yield from _walk_exprs(e.func)
        for p in e.partition_by:
            yield from _walk_exprs(p)
        for k in e.order_by:
            yield from _walk_exprs(k.expr)


def _conjuncts(e: Expr):
    return e.conjuncts() if isinstance(e, BinOp) else (e,)


def _and_all(parts):
    out = None
    for p in parts:
        out = p if out is None else BinOp("and", out, p)
    return out


def _cols_of(e):
    """All Col nodes in an expression tree (qualifiers preserved)."""
    from .expr import CaseWhen

    if isinstance(e, Col):
        return [e]
    if isinstance(e, BinOp):
        return _cols_of(e.left) + _cols_of(e.right)
    if isinstance(e, (Alias, Cast)):
        return _cols_of(e.expr)
    if isinstance(e, Func):
        return [c for a in e.args for c in _cols_of(a)]
    if isinstance(e, CaseWhen):
        out = [c for br in e.branches for x in br for c in _cols_of(x)]
        if e.otherwise is not None:
            out += _cols_of(e.otherwise)
        return out
    return []


def _inner_avail(sub: Plan, catalog) -> set:
    """Names available INSIDE a subquery: scan schemas plus every
    derived output name (projections/aggregates/windows/values) — a
    conjunct over a derived alias must NOT read as outer correlation."""
    from .operators.logical import output_name

    avail: set = set()
    for n in sub.nodes_bottom_up():
        op_n = n.operator
        kind_n = op_n.operator_name()
        if kind_n == "Scan":
            try:
                avail |= set(catalog.schema(op_n.table_name).names())
            except KeyError:
                raise SqlError(
                    f"unknown table {op_n.table_name!r} in subquery"
                )
        elif kind_n == "Projection":
            avail |= {output_name(e) for e in op_n.exprs}
        elif kind_n == "Aggregate":
            avail |= {output_name(g) for g in op_n.group_exprs}
            avail |= {a.name for a in op_n.agg_exprs}
        elif kind_n == "Window":
            avail |= {w.name for w in op_n.window_exprs}
        elif kind_n == "Values":
            avail |= set(op_n.names)
    return avail


def _is_lifted(c, avail) -> bool:
    """A conjunct lifts out of the subquery when it references the outer
    query: an ``@outer``-marked qualified ref (self-join correlation —
    the name ALSO exists on the inner scans), or a name no inner source
    provides."""
    cols = _cols_of(c)
    if any(x.qualifier == "@outer" for x in cols):
        return True
    return not set(x.name for x in cols) <= avail


def _decorrelate(sub: Plan, catalog, below=None, name: str = "__sub_{c}"):
    """The one dependent-join elimination every subquery form shares.

    Lifts each filter conjunct of ``below`` (a node of ``sub``, default
    its root) that references the outer query (``_is_lifted`` against
    ``_inner_avail(sub)``) out of the subquery.  Returns ``(node,
    conds, renames)``: ``below`` without those conjuncts; the lifted
    conjuncts, with outer refs unmarked and every inner column they read
    renamed per ``name`` (formatted with the column ``c`` and its
    first-use index ``i``), so that a self-join correlation (TPC-H Q21:
    ``l2.l_orderkey = l1.l_orderkey``) compiles to unambiguous names;
    and ``{inner_col: new_name}`` in first-use order, which the caller
    projects or groups by.  Uncorrelated (or without a catalog to
    resolve names against), ``below`` comes back as is with no
    conjuncts."""
    from .plans.plan import PlanNode

    below = sub.root if below is None else below
    if catalog is None:
        return below, [], {}
    avail = _inner_avail(sub, catalog)
    lifted: list = []

    def rebuild(node):
        op = node.operator
        if op.operator_name() == "Filter":
            keep = []
            for c in _conjuncts(op.predicate):
                (lifted if _is_lifted(c, avail) else keep).append(c)
            child = rebuild(node.inputs[0])
            if keep:
                return PlanNode(
                    LogicalFilter(_and_all(keep), op.projected_columns), [child]
                )
            return child
        if node.inputs:
            return PlanNode(op, [rebuild(c) for c in node.inputs])
        return node

    new = rebuild(below)
    if not lifted:
        return below, [], {}
    renames: dict = {}
    for c in lifted:
        for x in _cols_of(c):
            if x.qualifier != "@outer" and x.name in avail and x.name not in renames:
                renames[x.name] = name.format(i=len(renames), c=x.name)

    def fix(x):
        if x.qualifier == "@outer":
            return Col(x.name)
        return Col(renames.get(x.name, x.name))

    return new, [_rewrite_cols(c, fix) for c in lifted], renames


def _decorrelate_scalar(sub: Plan, catalog, alias: str):
    """Decorrelate a correlated scalar aggregate subquery
    (``x > (SELECT agg(...) FROM t WHERE t.k = outer.k)``) into
    (aggregate-per-key subplan builder, equi-join condition) — the
    rewrite the reference never implemented (its subquery surface is
    empty, SURVEY §2.4).  Returns None when the subquery is
    uncorrelated (caller keeps the 1-row broadcast-join path).

    Each lifted conjunct must be ``inner_col = outer_expr``; the inner
    columns, renamed ``__ck<i>`` so the per-key aggregate never collides
    with an outer column of the same name (TPC-H Q17), become the group
    keys.  NULL-for-empty scalar semantics (row filtered out) ==
    inner-join-drops-missing-keys; COUNT(*)-over-empty (which yields 0,
    not NULL) is rejected."""
    from .operators.logical import LogicalAggregate
    from .plans.plan import PlanNode

    root = sub.root
    agg = root.operator
    if agg.operator_name() != "Aggregate" or agg.group_exprs or len(agg.agg_exprs) != 1:
        return None
    child, conds, keys = _decorrelate(sub, catalog, root.inputs[0], "__ck{i}")
    if not conds:
        return None
    if "count" in agg.agg_exprs[0].pretty().lower().split("(")[0]:
        raise SqlError(
            "correlated COUNT subquery is not decorrelatable by inner join "
            "(COUNT over empty is 0, not NULL)"
        )
    inner = set(keys.values())
    for c in conds:
        if not _eq_inner_outer(c, inner):
            raise SqlError(
                f"correlated scalar subquery conjunct {c.pretty()} must be "
                "inner_col = outer_col"
            )
    grouped = PlanNode(
        LogicalAggregate(
            tuple(Alias(Col(c), k) for c, k in keys.items()),
            # re-alias the aggregate to the scalar's marker name directly
            # (the auto-pretty name can contain dots, which F.col parses
            # as struct access)
            (Alias(agg.agg_exprs[0].expr, alias),),
            "groupby",
        ),
        [child],
    )
    cond = _and_all([_inner_first(c, inner) for c in conds])
    return LogicalPlanBuilder(grouped), cond


def _decorrelate_lateral(sub: Plan, catalog):
    """Rewrite a LATERAL derived table into a join-able subplan.

    Returns ``(builder, join_conds, out_names, count_cols, force_left,
    post_distinct)``: the decorrelated right side (the inner columns of
    the correlation surfaced as hidden ``__lk{i}`` columns), the join
    conjuncts binding them to the outer columns, the subquery's visible
    output names, the output names that are COUNT aggregates (coalesced
    to 0 after a LEFT join — SQL's count-over-empty-is-0), whether the
    join must be LEFT regardless of spelling (global-aggregate
    subqueries return exactly one row per outer row, never zero), and
    whether the caller must dedup after the join.

    Supported shapes (each chosen for a shuffle-minimal lowering):

    * plain correlated SELECT (filter/projection): equality conjuncts
      referencing the outer query lift into join keys; non-equality
      correlated conjuncts move to the join condition;
    * ``ORDER BY ... LIMIT n [OFFSET m]`` (top-N-per-group): an
      inner-side ``row_number`` window partitioned by the correlation
      keys — ONE shuffle on the key, no per-outer-row re-execution;
    * aggregates (global or GROUP BY), optionally under HAVING and an
      ORDER BY/LIMIT: the correlation keys join the group keys; a
      trailing LIMIT becomes the same per-key window above the
      aggregate.

    Correlation may only appear in WHERE conjuncts (the same contract
    as EXISTS/scalar decorrelation); ``@outer`` refs anywhere else
    raise ``SqlError``.
    """
    from .operators.logical import LogicalAggregate, output_name
    from .plans.plan import PlanNode

    if catalog is None:
        raise SqlError("LATERAL requires a catalog to resolve correlation")

    def _no_outer(exprs, where):
        for e in exprs:
            if e is None:
                continue
            ex = e.expr if isinstance(e, SortKey) else e
            if any(c.qualifier == "@outer" for c in _cols_of(ex)):
                raise SqlError(
                    f"LATERAL correlation is only supported in WHERE "
                    f"conjuncts, not in the {where}"
                )

    root = sub.root
    limit = None
    offset = 0
    sort_keys: tuple = ()
    if root.operator.operator_name() == "Limit":
        limit, offset = root.operator.limit, root.operator.offset
        root = root.inputs[0]
    if root.operator.operator_name() == "Sort":
        sort_keys = root.operator.keys
        root = root.inputs[0]
    _no_outer(sort_keys, "ORDER BY")

    p_exprs = None
    having = None
    node = root
    want_distinct = False
    if node.operator.operator_name() == "Distinct":
        # SELECT DISTINCT inside LATERAL: dedup over (outputs + the
        # hidden correlation keys) below the join IS the per-outer-key
        # distinct the subquery means; a trailing LIMIT ranks the
        # already-deduped rows (SQL applies LIMIT after DISTINCT).
        want_distinct = True
        node = node.inputs[0]
    if node.operator.operator_name() == "Projection":
        p_exprs = node.operator.exprs
        _no_outer(p_exprs, "select list")
        node = node.inputs[0]
    if (
        node.operator.operator_name() == "Filter"
        and node.inputs
        and node.inputs[0].operator.operator_name() == "Aggregate"
    ):
        having = node.operator.predicate
        _no_outer((having,), "HAVING clause")
        node = node.inputs[0]
    is_agg = node.operator.operator_name() == "Aggregate"

    child, lifted, renames = _decorrelate(
        sub, catalog, node.inputs[0] if is_agg else node, "__lk{i}"
    )
    # inner = outer equalities become join KEYS; anything else rides the
    # join condition (plain path only — with a window or an aggregate
    # the conjunct must run BEFORE ranking/grouping, which a join-side
    # predicate cannot)
    inner = set(renames.values())
    eqs = [_inner_first(c, inner) for c in lifted if _eq_inner_outer(c, inner)]
    extras = [c for c in lifted if not _eq_inner_outer(c, inner)]
    if extras and (is_agg or limit is not None):
        raise SqlError(
            "LATERAL with ORDER BY/LIMIT or aggregation supports only "
            "inner_col = outer_col correlation; got "
            + ", ".join(c.pretty() for c in extras)
        )
    key_names = list(dict.fromkeys(c.left.name for c in eqs))
    key_cols = tuple(Col(k) for k in key_names)
    # every inner column the correlation reads, under its __lk name
    hidden = tuple(Alias(Col(c), k) for c, k in renames.items())
    conds = eqs + extras
    # ORDER BY binds select-list aliases first (DuckDB rules); the
    # aliased exprs compute from the pre-projection schema, so they
    # substitute directly into the window sort keys
    amap = {a.name: a.expr for a in (p_exprs or ()) if isinstance(a, Alias)}

    def _subst_keys(keys):
        return tuple(
            SortKey(
                amap.get(k.expr.name, k.expr)
                if isinstance(k.expr, Col)
                else k.expr,
                k.asc,
                k.nulls_first,
            )
            for k in keys
        )

    def _topn(b, part_cols, subst=True):
        if not sort_keys:
            raise SqlError(
                "LATERAL ... LIMIT needs an ORDER BY (deterministic top-N)"
            )
        b = b.window(
            [
                WindowExprDef(
                    Func("row_number", ()),
                    tuple(part_cols),
                    _subst_keys(sort_keys) if subst else tuple(sort_keys),
                    "_lrn",
                    None,
                )
            ]
        )
        pred = BinOp("<=", Col("_lrn"), Lit(offset + limit))
        if offset:
            pred = BinOp("and", BinOp(">", Col("_lrn"), Lit(offset)), pred)
        return b.filter(pred)

    count_cols: set = set()
    force_left = False
    if is_agg:
        agg_op = node.operator
        if agg_op.mode != "groupby":
            raise SqlError(
                "LATERAL does not support ROLLUP/CUBE/GROUPING SETS "
                "subqueries"
            )
        _no_outer(agg_op.group_exprs, "GROUP BY")
        _no_outer(agg_op.agg_exprs, "aggregate list")
        groups = tuple(agg_op.group_exprs) + hidden
        b = LogicalPlanBuilder(
            PlanNode(
                LogicalAggregate(groups, agg_op.agg_exprs, "groupby"), [child]
            )
        )
        if having is not None:
            b = b.filter(having)
        if limit is not None:
            b = _topn(b, key_cols)
        agg_out = [output_name(g) for g in agg_op.group_exprs] + [
            a.name for a in agg_op.agg_exprs
        ]
        for a in agg_op.agg_exprs:
            if isinstance(a.expr, Func) and a.expr.name.lower().startswith(
                "count"
            ):
                count_cols.add(a.name)
        if p_exprs is not None:
            proj_renames = {}
            for e in p_exprs:
                if isinstance(e, Alias) and isinstance(e.expr, Col):
                    proj_renames[e.name] = e.expr.name
                elif not isinstance(e, Col):
                    raise SqlError(
                        "LATERAL aggregate select list must be plain "
                        "column refs / aliases (compute in the outer "
                        f"select instead): {e.pretty()}"
                    )
            b = b.projection(tuple(p_exprs) + key_cols)
            out_names = [output_name(e) for e in p_exprs]
            count_cols = {
                n for n in out_names if proj_renames.get(n, n) in count_cols
            }
        else:
            out_names = agg_out
        force_left = not agg_op.group_exprs
    else:
        b = LogicalPlanBuilder(child)
        if p_exprs is None:
            p_exprs = tuple(Col(n) for n in _plan_schema_names(child, catalog))
        out_names = [output_name(e) for e in p_exprs]
        # a hidden inner column that mirrors a visible bare-column output
        # (e.g. SELECT DISTINCT c_acctbal AS bal ... WHERE c_acctbal >
        # @outer) is functionally determined by the visible tuple, so
        # including it in the dedup cannot split groups
        visible_bare_cols = {
            e.expr.name
            for e in p_exprs
            if isinstance(e, Alias) and isinstance(e.expr, Col)
        } | {e.name for e in p_exprs if isinstance(e, Col)}
        unsound_extras = [
            c for c, k in renames.items()
            if k not in key_names and c not in visible_bare_cols
        ]
        post_distinct = False
        if want_distinct and unsound_extras:
            # a dedup below the join over a projection that still
            # carries hidden pass-through columns would re-emit one
            # copy of each visible tuple PER distinct hidden value
            # passing the join predicate — no sound PRE-join dedup
            # exists: dedup AFTER the join instead, over outer-row
            # identity + the visible output columns — the caller adds
            # a rowid to the outer side and a post-join distinct
            if limit is not None:
                raise SqlError(
                    "LATERAL DISTINCT ... LIMIT with correlated "
                    "non-equality conjuncts referencing non-output "
                    f"inner columns {unsound_extras} is not supported "
                    "— add them to the SELECT list or drop DISTINCT"
                )
            post_distinct = True
            want_distinct = False
        if want_distinct:
            b = b.projection(tuple(p_exprs) + hidden).distinct()
            if limit is not None:
                # ranking runs over the deduped output: sort keys must
                # bind to select-list columns (standard SELECT DISTINCT
                # ... ORDER BY rule), no alias substitution
                for k in sort_keys:
                    for c in _cols_of(k.expr):
                        if c.name not in out_names:
                            raise SqlError(
                                "LATERAL DISTINCT ... ORDER BY must use "
                                f"select-list columns; {c.name!r} is "
                                "not in the output"
                            )
                b = _topn(b, key_cols, subst=False)
                b = b.projection(tuple(Col(n) for n in out_names) + key_cols)
        else:
            if limit is not None:
                # partition directly by the INNER key columns (present
                # in the pre-projection schema); ranking runs before the
                # projection so sort keys may be non-output columns too
                orig = {k: c for c, k in renames.items()}
                b = _topn(b, [Col(orig[k]) for k in key_names])
            b = b.projection(tuple(p_exprs) + hidden)
        return b, conds, out_names, count_cols, force_left, post_distinct
    if want_distinct:
        b = b.distinct()
    return b, conds, out_names, count_cols, force_left, False


def _plan_schema_names(node, catalog):
    """Output column names of a plan subtree (scans bind via catalog)."""

    def derive(n):
        op = n.operator
        inputs = tuple(derive(c) for c in n.inputs)
        if op.operator_name() == "Scan":
            return op.derive_logical_prop(inputs, catalog=catalog)
        return op.derive_logical_prop(inputs)

    return list(derive(node).schema.names())


def _require_one_row_subplan(plan: Plan) -> None:
    """Scalar subqueries lower to an INNER join on TRUE, so a multi-row
    subplan would silently MULTIPLY the outer rows instead of raising
    the SQL-mandated more-than-one-row error.  Accept only shapes whose
    row count is provably ≤ 1: a global aggregate (possibly under
    Projection/Filter/Distinct, which never add rows) or LIMIT ≤ 1."""
    op = plan.root.operator
    name = op.operator_name()
    if name in ("Projection", "Filter", "Distinct"):
        _require_one_row_subplan(Plan(plan.root.inputs[0]))
        return
    if name == "Aggregate" and not getattr(op, "group_exprs", ()):
        return
    if name == "Limit" and op.offset == 0 and op.limit <= 1:
        return
    if name == "Values" and len(getattr(op, "rows", ())) == 1:
        return  # 1-row inline relation (FROM-less SELECT, 1-row CTE)
    if name in ("Join",) and len(plan.root.inputs) == 2:
        # a join of two provably-1-row sides is 1 row (the shape the
        # scalar-in-scalar lowering itself produces)
        try:
            _require_one_row_subplan(Plan(plan.root.inputs[0]))
            _require_one_row_subplan(Plan(plan.root.inputs[1]))
            return
        except SqlError:
            pass
    raise SqlError(
        "scalar subquery must be a single-row (global aggregate or "
        "LIMIT 1) query"
    )


def _single_output_col(plan: Plan) -> str:
    """Name of the subquery's single output column (IN requires one)."""
    op = plan.root.operator
    name = op.operator_name()
    if name in ("Distinct", "Filter"):
        return _single_output_col(Plan(plan.root.inputs[0]))
    if name == "Projection":
        exprs = op.exprs
        if len(exprs) == 1:
            e = exprs[0]
            if isinstance(e, Alias):
                return e.name
            if isinstance(e, Col):
                return e.name
    if name == "Aggregate" and not op.agg_exprs and len(op.group_exprs) == 1:
        g = op.group_exprs[0]
        if isinstance(g, Col):
            return g.name
    if name == "Aggregate" and not op.group_exprs and len(op.agg_exprs) == 1:
        return op.agg_exprs[0].name
    raise SqlError("subquery must produce exactly one named column")


def _hash60_expr(e: Expr) -> Expr:
    """The repo's shared 60-bit hash convention as IR: Spark
    ``conv(substr(md5(cast(x as string)), 1, 15), 16, 10)`` ≡ DuckDB
    ``('0x' || substr(md5(x::VARCHAR), 1, 15))::BIGINT`` (see
    functions/sampling.py::_hash64)."""
    return Cast(
        Func(
            "conv",
            (
                Func(
                    "substring",
                    (Func("md5", (Cast(e, "string"),)), Lit(1), Lit(15)),
                ),
                Lit(16),
                Lit(10),
            ),
        ),
        "bigint",
    )


def _contains_grouping_fn(e) -> bool:
    """Does the expression call ``GROUPING(...)``?  (Only meaningful
    under ROLLUP/CUBE/GROUPING SETS — it computes during aggregation,
    so classification treats it like an aggregate call.)"""
    if isinstance(e, Func):
        if e.name.lower() == "grouping":
            return True
        return any(_contains_grouping_fn(a) for a in e.args)
    if isinstance(e, (Alias, Cast)):
        return _contains_grouping_fn(e.expr)
    if isinstance(e, BinOp):
        return _contains_grouping_fn(e.left) or _contains_grouping_fn(e.right)
    return False


def _contains_aggregate(e: Expr) -> bool:
    if isinstance(e, Func) and e.is_aggregate:
        return True
    if isinstance(e, Alias):
        return _contains_aggregate(e.expr)
    if isinstance(e, Cast):
        return _contains_aggregate(e.expr)
    if isinstance(e, BinOp):
        return _contains_aggregate(e.left) or _contains_aggregate(e.right)
    if isinstance(e, Func):
        return any(_contains_aggregate(a) for a in e.args)
    return False


def _rewrite_cols(e, fn, kind=None):
    """Structural bottom-up rebuild of an expression, replacing every
    ``Col`` (or every node of type ``kind``) with ``fn(node)`` (return
    the node unchanged to keep it).
    Works over any Expr dataclass (BinOp/Func/Cast/Alias/CaseWhen/...),
    SortKey, and the parser-internal ``_WindowExpr``.  Unchanged
    subtrees are returned as-is (no needless copies)."""
    import dataclasses

    from .expr import Col

    def sub(v):
        if isinstance(v, kind or Col):
            return fn(v)
        if isinstance(v, Lit) and isinstance(v.value, kind or Col):
            # a parse-time marker passed as a function argument, which
            # ``Func`` wrapped as a literal: the marker IS the argument
            return fn(v.value)
        if isinstance(v, _WindowExpr):
            return _WindowExpr(
                sub(v.func),
                type(v.partition_by)(sub(x) for x in v.partition_by),
                type(v.order_by)(sub(x) for x in v.order_by),
                v.frame,
                ref=v.ref,
            )
        if isinstance(v, tuple):
            nv = tuple(sub(x) for x in v)
            return nv if any(a is not b for a, b in zip(nv, v)) else v
        if dataclasses.is_dataclass(v) and not isinstance(v, type):
            changes = {}
            for f in dataclasses.fields(v):
                old = getattr(v, f.name)
                new = sub(old)
                if new is not old:
                    changes[f.name] = new
            return dataclasses.replace(v, **changes) if changes else v
        return v

    return sub(e)


def _substitute_params(e, mapping: dict):
    """Macro-parameter substitution: every ``Col`` whose (lowercased)
    name is a parameter becomes the caller's argument expression —
    structural, so string literals / quoted identifiers / argument
    commas can never confuse the expansion (unlike a textual
    pre-pass)."""
    return _rewrite_cols(e, lambda c: mapping.get(c.name.lower(), c))


def parse_sql(sql: str, catalog=None, macros=None, views=None,
              lexed=None) -> Plan:
    """Parse a SQL query into an (unoptimized) logical Plan.  Join
    strategy hints (``/*+ BROADCAST(t) */`` etc.) ride on the returned
    plan as ``plan.hints`` and steer the cascades race.  ``macros`` is
    the planner's CREATE FUNCTION registry (name → (params, body
    Expr)), expanded at each call site inside the parser; ``views`` is
    its CREATE VIEW registry (lowercase name → SQL text), expanded late
    at each relation reference.  ``lexed`` is ``sql``'s tokens and hints
    when the caller already has them (``Statement.lexed``)."""
    # Internal gensym'd names (scalar-subquery aliases, IN/EXISTS flag
    # keys, null-aware branch tags, LATERAL row ids) only need
    # uniqueness WITHIN one top-level parse: nested view/CTE expansion
    # goes through ``_Parser`` directly (never back through here), so
    # resetting at this entry keeps every name in one plan distinct
    # while making repeated parses of the same text produce IDENTICAL
    # plans — without this, every subquery-bearing query misses the
    # planner's prepared statements (r14, guide §4).
    _gensym[0] = 0
    p = _Parser(sql, catalog, macros=macros, views=views, lexed=lexed)
    plan = p.parse()
    plan.hints = p.hints
    return plan


# -- statements ---------------------------------------------------------


class Statement(NamedTuple):
    """One parsed statement.  ``kind`` selects the planner's handler and
    ``args`` are its keyword arguments.  Text fields (predicates,
    expressions, queries) are spans of the source cut at token
    boundaries.  ``versions`` lists each ``FROM/JOIN t VERSION AS OF n``
    reference as ``(start, end, t, n)``, with the character offsets of
    ``t VERSION AS OF n``.  ``lexed`` is the statement's tokens and
    join strategy hints, which ``parse_sql`` takes instead of lexing the
    text again."""

    kind: str
    args: dict
    versions: tuple = ()
    lexed: Optional[tuple] = None


# Statement forms, tried in order: the first that matches the whole token
# stream wins, and a statement no form matches is a query for
# ``parse_sql``.  A lowercase word matches that keyword or identifier
# (``a|b``: either); ``( ) , = *`` match themselves; ``[ ... ]`` is
# optional, and ``[name: ... ]`` also sets ``name`` to whether it was
# taken.  ``@x`` captures an identifier, ``#x`` an integer, ``%x`` a
# number, ``'x`` a string literal's contents, and ``*x`` the shortest
# non-empty span, balanced in parentheses and CASE ... END, that lets
# the rest of the form match.
_STATEMENT_FORMS = (
    ("explain", "explain [analyze: analyze ] *query"),
    ("create_vector_index", "create [replace: or replace ] vector index on "
     "@table ( @vec_col ) [ with ( *options ) ]"),
    ("drop_vector_index", "drop vector index on @table ( @vec_col )"),
    ("create_tokenizer", "create [replace: or replace ] tokenizer on "
     "@table ( @text_col ) [ with ( *options ) ]"),
    ("drop_tokenizer", "drop tokenizer on @table ( @text_col )"),
    ("describe", "desc|describe [ table ] @table"),
    ("analyze", "analyze table @table [ compute statistics ]"),
    ("create_function", "create [ or replace ] function @name "
     "( [ *params ] ) as *body"),
    ("create_view", "create [replace: or replace ] view @name as *body"),
    ("drop_view", "drop view [if_exists: if exists ] @name"),
    ("show_views", "show views"),
    ("select_as_of", "select * from @table timestamp as of 'timestamp"),
    ("select_as_of", "select * from @table version as of #version"),
    ("delete", "delete from @table [ where *where ]"),
    ("update", "update @table set *sets [ where *where ]"),
    ("insert", "insert into @table [ ( *columns ) ] *source"),
    ("insert_overwrite",
     "insert overwrite [ table ] @table [ ( *columns ) ] *source"),
    ("show_tables", "show tables"),
    ("describe_history", "describe history @table"),
    ("describe_detail", "describe detail @table"),
    ("merge", "merge into @target [ as ] @t_alias using @source [ as ] "
     "@s_alias on *on"),
    ("show_materialized_views", "show materialized views"),
    ("drop_materialized_view", "drop materialized view @name"),
    ("truncate", "truncate table @table"),
    ("set_tblproperties",
     "alter table @table set tblproperties ( *properties )"),
    ("show_tblproperties", "show tblproperties @table"),
    ("add_constraint",
     "alter table @table add constraint @name check ( *expr_text )"),
    ("drop_constraint", "alter table @table drop constraint @name"),
    ("show_constraints", "show constraints [ for ] @table"),
    ("add_column", "alter table @table add column @column *dtype"),
    ("drop_column", "alter table @table drop column @column"),
    ("optimize", "optimize table @table [ where *where ] "
     "[ zorder by ( *zorder ) ]"),
    ("vacuum", "vacuum [ table ] @table [ retain %retain_hours hour|hours ] "
     "[dry_run: dry run ]"),
    ("restore", "restore table @table to version as of #version"),
    ("restore", "restore table @table to timestamp as of 'timestamp"),
    ("shallow_clone", "create table @clone shallow clone @source "
     "[ version as of #ver ]"),
    ("table_changes",
     "select * from table_changes ( @table , #v1 , #v2 )"),
    ("table_changes",
     "select * from table_changes ( 'table , #v1 , #v2 )"),
)

_MERGE_CLAUSE = ("when [negated: not ] matched [ by @by ] [ and *cond ] "
                 "then *action")

_NEST = {("op", "("): 1, ("op", ")"): -1, ("kw", "case"): 1, ("kw", "end"): -1}


def _compile_form(form: str) -> list:
    out: list = []
    stack: list = []
    for w in form.split():
        if w.startswith("["):
            stack.append((out, w[1:-1] or None))
            out = []
        elif w == "]":
            group = out
            out, label = stack.pop()
            out.append((label, group))
        else:
            out.append(w)
    return out


_FORMS = tuple((kind, _compile_form(f)) for kind, f in _STATEMENT_FORMS)
_MERGE_CLAUSE_FORM = _compile_form(_MERGE_CLAUSE)


def _match(els, toks, src, i, caps):
    """The captures when form elements ``els`` match ``toks[i:]`` up to
    eof, else None.  A span is captured as a ``slice`` of token indexes."""
    if not els:
        return caps if toks[i].kind == "eof" else None
    e, rest = els[0], els[1:]
    if isinstance(e, tuple):
        label, group = e
        for taken, tail in ((True, group + rest), (False, rest)):
            got = _match(tail, toks, src, i,
                         {**caps, label: taken} if label else caps)
            if got is not None:
                return got
        return None
    t = toks[i]
    sigil, name = e[0], e[1:]
    if sigil == "*" and name:
        depth = 0
        for j in range(i, len(toks) - 1):
            depth += _NEST.get((toks[j].kind, toks[j].value), 0)
            if depth < 0:
                return None
            if depth == 0:
                got = _match(rest, toks, src, j + 1,
                             {**caps, name: slice(i, j + 1)})
                if got is not None:
                    return got
        return None
    if sigil == "@" and t.kind in ("ident", "kw"):
        caps = {**caps, name: _word(t, src)}
    elif sigil == "#" and t.kind == "number" and t.value.isdigit():
        caps = {**caps, name: int(t.value)}
    elif sigil == "%" and t.kind == "number":
        caps = {**caps, name: float(t.value)}
    elif sigil == "'" and t.kind == "string":
        caps = {**caps, name: _unquote(t)}
    elif not (t.value == e if t.kind == "op"
              else t.kind in ("ident", "kw")
              and t.value.lower() in e.split("|")):
        return None
    return _match(rest, toks, src, i + 1, caps)


def _word(t: _Tok, src: str) -> str:
    return src[t.pos:t.pos + len(t.value)]


def _unquote(t: _Tok) -> str:
    return t.value[1:-1].replace("''", "'")


def _is(t: _Tok, word: str) -> bool:
    return t.kind in ("ident", "kw") and t.value.lower() == word


def _text(toks, src, span: slice) -> str:
    if span.start >= span.stop:
        return ""
    return src[toks[span.start].pos:toks[span.stop - 1].pos
               + len(toks[span.stop - 1].value)]


def _literal(toks, src, span: slice) -> str:
    """A span's text, or a lone string literal's contents."""
    if span.stop - span.start == 1 and toks[span.start].kind == "string":
        return _unquote(toks[span.start])
    return _text(toks, src, span)


def _top_level(toks, i, j):
    """Indexes in ``[i, j)`` outside any parentheses or CASE ... END."""
    depth = 0
    for k in range(i, j):
        if depth == 0:
            yield k
        depth += _NEST.get((toks[k].kind, toks[k].value), 0)


def _assignments(toks, src, span: slice) -> list:
    """``k = v, ...`` → ``[(key span, value span)]``, cut at top-level
    commas and at each item's first ``=``."""
    cuts = [k for k in _top_level(toks, span.start, span.stop)
            if toks[k].kind == "op" and toks[k].value == ","]
    out = []
    for a, b in zip([span.start] + [c + 1 for c in cuts], cuts + [span.stop]):
        eq = next((k for k in range(a, b)
                   if toks[k].kind == "op" and toks[k].value == "="), None)
        if eq is None or eq == a or eq + 1 == b:
            raise SqlError(f"expected name = value, got "
                           f"{_text(toks, src, slice(a, b))!r}")
        out.append((slice(a, eq), slice(eq + 1, b)))
    return out


def _set_map(toks, src, span: slice) -> dict:
    """``SET c1 = e1, c2 = e2`` → ``{c1: e1 text, c2: e2 text}``."""
    return {_text(toks, src, k): _text(toks, src, v)
            for k, v in _assignments(toks, src, span)}


def _equality(toks, src, a, b, t_alias, s_alias):
    """``(target col, source col)`` when ``toks[a:b]`` is exactly
    ``t_alias.x = s_alias.y`` (either side first), else None."""
    if b - a != 7 or not all(
        toks[k].kind == "op" and toks[k].value == v
        for k, v in ((a + 1, "."), (a + 3, "="), (a + 5, "."))
    ) or not all(toks[k].kind in ("ident", "kw") for k in (a, a + 2, a + 4, a + 6)):
        return None
    l_alias, l_col = _word(toks[a], src).lower(), _word(toks[a + 2], src)
    r_alias, r_col = _word(toks[a + 4], src).lower(), _word(toks[a + 6], src)
    if (l_alias, r_alias) == (t_alias.lower(), s_alias.lower()):
        return l_col, r_col
    if (l_alias, r_alias) == (s_alias.lower(), t_alias.lower()):
        return r_col, l_col
    return None


def _merge_on(toks, src, on: slice, t_alias, s_alias):
    """MERGE's join keys: ``keys``, the first ``t.x = s.y`` anywhere in
    ON, which define row presence; and ``prune_keys``, the first such
    equality that is a top-level conjunct of an ON with no top-level OR,
    else None.  Only a necessary condition of ON may prune target files
    by the source's key range: under a disjunctive ON a file outside
    the key band can still hold matched rows."""
    keys = next(
        (kv for a in range(on.start, on.stop - 6)
         if (kv := _equality(toks, src, a, a + 7, t_alias, s_alias))),
        None,
    )
    if keys is None:
        raise SqlError("MERGE INTO needs an equality between target and "
                       f"source keys in ON (got {_text(toks, src, on)!r})")
    top = list(_top_level(toks, on.start, on.stop))
    if any(_is(toks[k], "or") for k in top):
        return keys, None
    cuts = [k for k in top if _is(toks[k], "and")]
    for a, b in zip([on.start] + [c + 1 for c in cuts], cuts + [on.stop]):
        while (b - a > 2 and toks[a].value == "(" and toks[a].kind == "op"
               and list(_top_level(toks, a, b))[-1] == a):
            a, b = a + 1, b - 1
        kv = _equality(toks, src, a, b, t_alias, s_alias)
        if kv:
            return keys, kv
    return keys, None


def _merge_clause(toks, src, a, b):
    """One ``WHEN [NOT] MATCHED [BY SOURCE|TARGET] [AND cond] THEN
    action`` → ``(kind, cond text or None, sets)``: kind ``m`` (matched),
    ``nmt`` (not matched by target) or ``nms`` (not matched by source);
    ``sets`` is None for DELETE and INSERT *, ``"*"`` for UPDATE SET *,
    else the SET map."""
    sub = toks[a:b] + [toks[-1]]
    caps = _match(_MERGE_CLAUSE_FORM, sub, src, 0, {})
    by = (caps or {}).get("by", "").lower()
    if caps is None or by not in ("", "source", "target"):
        raise SqlError(f"MERGE: cannot parse clause "
                       f"{_text(toks, src, slice(a, b))!r}")
    if not caps["negated"] and by:
        raise SqlError(f"MERGE: WHEN MATCHED takes no BY {by.upper()} "
                       "qualifier (only NOT MATCHED does)")
    kind = ("nms" if by == "source" else "nmt") if caps["negated"] else "m"
    act = caps["action"]
    words = [t.value.lower() for t in sub[act]]
    action = _text(sub, src, act)
    cond = _text(sub, src, caps["cond"]) if "cond" in caps else None
    if kind == "nmt":
        if words != ["insert", "*"]:
            raise SqlError("MERGE: WHEN NOT MATCHED supports INSERT *, "
                           f"got {action!r}")
        return kind, cond, None
    which = "WHEN MATCHED" if kind == "m" else "WHEN NOT MATCHED BY SOURCE"
    if words == ["delete"]:
        return kind, cond, None
    if words[:2] != ["update", "set"] or len(words) < 3:
        raise SqlError(f"MERGE: {which} supports UPDATE SET … or DELETE, "
                       f"got {action!r}")
    if words[2:] == ["*"]:
        if kind == "nms":
            raise SqlError("MERGE: WHEN NOT MATCHED BY SOURCE cannot "
                           "UPDATE SET * (no source row)")
        return kind, cond, "*"
    return kind, cond, _set_map(sub, src, slice(act.start + 2, act.stop))


def _merge(caps, toks, src):
    on = caps["on"]
    starts = [
        k for k in _top_level(toks, on.start, on.stop)
        if _is(toks[k], "when") and (
            _is(toks[k + 1], "matched")
            or _is(toks[k + 1], "not") and _is(toks[k + 2], "matched"))
    ]
    if not starts or starts[0] == on.start:
        raise SqlError("MERGE needs ON <condition> followed by WHEN "
                       "[NOT] MATCHED clauses")
    on = slice(on.start, starts[0])
    keys, prune_keys = _merge_on(toks, src, on, caps["t_alias"],
                                 caps["s_alias"])
    clauses = [_merge_clause(toks, src, a, b)
               for a, b in zip(starts, starts[1:] + [caps["on"].stop])]
    return {**caps, "on": on, "clauses": clauses, "keys": keys,
            "prune_keys": prune_keys}


def _explain(caps, toks, src):
    q = caps["query"]
    if not caps["analyze"]:
        inner = _statement(toks[q.start:], src)
        if inner.kind in ("delete", "update"):
            return "explain_dml", {"table": inner.args["table"],
                                   "pred_text": inner.args.get("where"),
                                   "kind": inner.kind.upper()}
    return "explain", caps


def _insert(caps, toks, src):
    head = toks[caps["source"].start]
    if head.kind != "kw" or head.value not in ("select", "with", "values"):
        return None
    return {**caps, "values": head.value == "values"}


def _options(caps, toks, src):
    if "options" in caps:
        caps = {**caps, "options": {
            _text(toks, src, k).lower(): _literal(toks, src, v)
            for k, v in _assignments(toks, src, caps["options"])}}
    return caps


def _tblproperties(caps, toks, src):
    props = {}
    for k, v in _assignments(toks, src, caps["properties"]):
        if not all(s.stop - s.start == 1 and toks[s.start].kind == "string"
                   for s in (k, v)):
            raise SqlError(
                "SET TBLPROPERTIES: expected 'key'='value' pairs, got "
                f"{_text(toks, src, caps['properties'])!r}")
        props[_unquote(toks[k.start])] = _unquote(toks[v.start])
    return {**caps, "properties": props}


#: per-kind refinement of a form's captures: returns the new args (or
#: ``(kind, args)``), or None when the statement is not of this form
_REFINE = {
    "explain": _explain,
    "update": lambda c, toks, src: {**c, "sets": _set_map(toks, src, c["sets"])},
    "insert": _insert,
    "insert_overwrite": _insert,
    "merge": _merge,
    "create_vector_index": _options,
    "create_tokenizer": _options,
    "set_tblproperties": _tblproperties,
}


def _statement(toks, src, versions=(), lexed=None) -> Statement:
    for kind, form in _FORMS:
        caps = _match(form, toks, src, 0, {})
        if caps is None:
            continue
        if kind in _REFINE:
            caps = _REFINE[kind](caps, toks, src)
            if caps is None:
                continue
            if isinstance(caps, tuple):
                kind, caps = caps
        return Statement(kind, {
            k: _text(toks, src, v) if isinstance(v, slice) else v
            for k, v in caps.items()
        }, versions, lexed)
    return Statement("query", {"query": src}, versions, lexed)


def parse_statement(sql: str) -> Statement:
    """Classify one SQL statement by its leading keywords and extract its
    fields (see ``_STATEMENT_FORMS``); anything that is not one of those
    statements is ``Statement("query", {"query": sql})``.  One pass of
    the lexer, so literals and comments are never taken for syntax."""
    lexed = _tokenize(sql)
    toks = lexed[0]
    versions = tuple(
        (toks[i + 1].pos, toks[i + 5].pos + len(toks[i + 5].value),
         _word(toks[i + 1], sql), int(toks[i + 5].value))
        for i in range(len(toks) - 6)
        if toks[i].kind == "kw" and toks[i].value in ("from", "join")
        and toks[i + 1].kind in ("ident", "kw") and _is(toks[i + 2], "version")
        and _is(toks[i + 3], "as") and _is(toks[i + 4], "of")
        and toks[i + 5].kind == "number" and toks[i + 5].value.isdigit()
    )
    return _statement(toks, sql, versions, lexed)
