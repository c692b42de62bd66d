"""Join rules.

* ``CommutateJoinRule`` (exploration) — swap inputs of an INNER join
  (ref ``dolomite/src/rules/join.rs:28-69``; inner-only check at
  ``join.rs:36-42``).  The only join transformation rule, as in the
  reference.  Join ORDER is not a rule: ``cascades/join_order.py``
  enumerates every connected relation set of an inner-join tree into
  the memo (DPccp) while the memo is built, and this rule adds each of
  those joins' mirror image.
* ``Join2HashJoinRule`` (implementation) — ``LogicalJoin →
  PhysicalHashJoin`` (ref ``join.rs:71-114``).
* ``Join2BroadcastHashJoinRule`` / ``Join2SortMergeJoinRule`` — our
  scale-aware extensions: alternative physical strategies the cost model
  chooses among.  The reference has exactly one join strategy; at 100 TB
  broadcasting the small side or merge-joining two huge sides is the
  difference between minutes and days, so the search space must contain
  them.
"""

from __future__ import annotations

from ...expr import BinOp
from ...operators.logical import JoinType, LogicalJoin
from ...operators.physical import (
    PhysicalBroadcastHashJoin,
    PhysicalHashJoin,
    PhysicalSortMergeJoin,
)
from ..pattern import Pattern, pattern_of
from ..rule import OptExpression, OptimizerContext, Rule, RulePromise, RuleResult

__all__ = [
    "CommutateJoinRule",
    "Join2HashJoinRule",
    "Join2BroadcastHashJoinRule",
    "Join2SaltedReplicateJoinRule",
    "Join2SortMergeJoinRule",
]


def _swap_condition(cond: BinOp) -> BinOp:
    """`l = r` → `r = l` so the condition still reads left-to-right after
    the inputs swap (the reference keeps the expr unchanged because DF
    equality is symmetric; our executor resolves sides positionally)."""
    if isinstance(cond, BinOp) and cond.op == "=":
        return BinOp("=", cond.right, cond.left)
    if isinstance(cond, BinOp) and cond.op == "and":
        return BinOp("and", _swap_condition(cond.left), _swap_condition(cond.right))
    return cond


class CommutateJoinRule(Rule):
    name = "CommutateJoinRule"
    transformation = True

    def pattern(self) -> Pattern:
        return pattern_of(LogicalJoin)  # single join node (ref join.rs:17-20)

    def promise(self) -> RulePromise:
        return RulePromise.LOW

    def apply(self, input: OptExpression, ctx: OptimizerContext, result: RuleResult) -> None:
        op: LogicalJoin = input.root.operator
        if op.join_type is not JoinType.INNER:
            return  # inner only (ref join.rs:36-42)
        left, right = input.root.inputs
        swapped = LogicalJoin(op.join_type, _swap_condition(op.condition))
        result.add(OptExpression.op(swapped, right, left))


def _keys(op: LogicalJoin, inputs=()):
    """Equi keys as (left_keys, right_keys), ORIENTED to the actual
    child schemas when the join's two input handles are given: a
    condition written right-side-first (``l_orderkey = o_orderkey``
    under ``(customer ⋈ orders) ⋈ lineitem``) must not make the hash
    join require ``Hashed(l_orderkey)`` of the LEFT child — the
    Exchange enforcer would reference a column the side doesn't have.
    (The executor's ``_join_condition`` orients by membership at
    execution time; the physical operator's derived requirements must
    agree with it.)"""
    pairs = op.equi_keys()
    if not pairs:
        return None, None
    if len(inputs) == 2:
        lp = getattr(inputs[0], "prop", None)
        rp = getattr(inputs[1], "prop", None)
        if lp is not None and rp is not None:
            lcols = set(lp.schema.names())
            rcols = set(rp.schema.names())
            oriented = []
            for lk, rk in pairs:
                if lk not in lcols and lk in rcols and rk in lcols:
                    lk, rk = rk, lk
                oriented.append((lk, rk))
            pairs = oriented
    return tuple(p[0] for p in pairs), tuple(p[1] for p in pairs)


def _pinned_strategy(ctx, input, op):
    """The hint kind that PINS this join's strategy, or None.  A pin
    only binds when the hinted strategy is actually emittable for this
    expression (broadcast needs the hinted relation on the build side
    and a broadcastable join type; merge needs equi keys) — otherwise
    the other rules stay live, so a join can never end up with no
    implementation.  Precedence mirrors Spark: BROADCAST > MERGE >
    SHUFFLE_HASH."""
    if _hint_matches(ctx, input, "broadcast", side=1) and op.join_type not in (
        JoinType.FULL,
        JoinType.RIGHT,
    ):
        return "broadcast"
    if _hint_matches(ctx, input, "merge") and op.equi_keys():
        return "merge"
    if _hint_matches(ctx, input, "shuffle_hash"):
        return "shuffle_hash"
    return None


def _hint_matches(ctx, input, kind, side=None) -> bool:
    """True when a ``kind`` hint names a relation this join's side IS:
    the side's schema must be a SUBSET of the named table's columns
    (a bare scan of it, possibly filtered/column-pruned) — containment
    the other way would let a tiny hinted dim force its whole joined
    fact subtree into the strategy.  ``side=None`` accepts either
    side (MERGE/SHUFFLE_HASH apply to the join as a whole); ``side=1``
    checks only the build (right) side (BROADCAST)."""
    hints = getattr(ctx, "hints", None)
    catalog = getattr(ctx, "catalog", None)
    if not hints or not hints.get(kind) or catalog is None:
        return False
    sides = (input.root.inputs[1],) if side == 1 else input.root.inputs
    for t in hints[kind]:
        try:
            cols = set(catalog.schema(t).names())
        except Exception:
            continue
        for h in sides:
            prop = getattr(h, "prop", None)
            if prop is None:
                continue
            sc = set(prop.schema.names())
            if sc and sc <= cols:
                return True
    return False


class Join2HashJoinRule(Rule):
    """Implementation rule (ref join.rs:71-114): same fields, physical op."""

    name = "Join2HashJoinRule"

    def pattern(self) -> Pattern:
        return pattern_of(LogicalJoin)

    def promise(self) -> RulePromise:
        return RulePromise.MEDIUM

    def apply(self, input: OptExpression, ctx: OptimizerContext, result: RuleResult) -> None:
        op: LogicalJoin = input.root.operator
        pin = _pinned_strategy(ctx, input, op)
        if pin not in (None, "shuffle_hash"):
            return  # another strategy is hint-pinned for this join
        lk, rk = _keys(op, input.root.inputs)
        phys = PhysicalHashJoin(
            op.join_type, op.condition, lk or (), rk or (),
            forced=pin == "shuffle_hash",
            stream_repartition=op.stream_repartition,
        )
        result.add(OptExpression.op(phys, *input.root.inputs))


class Join2BroadcastHashJoinRule(Rule):
    """Extension: broadcast the right (build) side.  Only emitted as an
    alternative; the cost model prefers it iff the build side's estimated
    rows are under ``broadcast_row_threshold``."""

    name = "Join2BroadcastHashJoinRule"

    def pattern(self) -> Pattern:
        return pattern_of(LogicalJoin)

    def promise(self) -> RulePromise:
        return RulePromise.MEDIUM

    def apply(self, input: OptExpression, ctx: OptimizerContext, result: RuleResult) -> None:
        op: LogicalJoin = input.root.operator
        # Broadcasting the right side is valid for inner/left/left_semi/
        # left_anti; full outer cannot broadcast either side.
        if op.join_type in (JoinType.FULL, JoinType.RIGHT):
            return
        pin = _pinned_strategy(ctx, input, op)
        if pin not in (None, "broadcast"):
            return
        phys = PhysicalBroadcastHashJoin(
            op.join_type, op.condition, forced=pin == "broadcast",
            stream_repartition=op.stream_repartition,
        )
        result.add(OptExpression.op(phys, *input.root.inputs))


class Join2SortMergeJoinRule(Rule):
    """Extension: sort-merge join for large-large equi-joins (spills
    gracefully; Spark's own default above the broadcast threshold)."""

    name = "Join2SortMergeJoinRule"

    def pattern(self) -> Pattern:
        return pattern_of(LogicalJoin)

    def promise(self) -> RulePromise:
        return RulePromise.LOW

    def apply(self, input: OptExpression, ctx: OptimizerContext, result: RuleResult) -> None:
        op: LogicalJoin = input.root.operator
        lk, rk = _keys(op, input.root.inputs)
        if not lk:
            return  # SMJ needs equi keys
        pin = _pinned_strategy(ctx, input, op)
        if pin not in (None, "merge"):
            return
        phys = PhysicalSortMergeJoin(
            op.join_type, op.condition, lk, rk, forced=pin == "merge"
        )
        result.add(OptExpression.op(phys, *input.root.inputs))


class Join2SaltedReplicateJoinRule(Rule):
    """Extension (VERDICT r6 item 4): skew-proof salted/replicated
    shuffle join as a cost-raced alternative.  INNER equi-joins only —
    salting replicates build rows, which is transparent to an inner
    match but would double-count non-matches under outer semantics.
    The cost model picks it exactly when the probe key's catalog mode
    frequency overhangs the fair reducer share by more than the
    ``n_salts``× build-replication cost AND the build side can't
    broadcast (see ``SparkCostModel``)."""

    name = "Join2SaltedReplicateJoinRule"

    def pattern(self) -> Pattern:
        return pattern_of(LogicalJoin)

    def promise(self) -> RulePromise:
        return RulePromise.LOW

    def apply(self, input: OptExpression, ctx: OptimizerContext, result: RuleResult) -> None:
        from ...operators.physical import PhysicalSaltedReplicateJoin

        op: LogicalJoin = input.root.operator
        if op.join_type is not JoinType.INNER:
            return
        lk, rk = _keys(op, input.root.inputs)
        if not lk:
            return
        if _pinned_strategy(ctx, input, op) is not None:
            return  # a hint pinned another strategy; never hint-forced itself
        result.add(
            OptExpression.op(
                PhysicalSaltedReplicateJoin(op.join_type, op.condition, lk, rk),
                *input.root.inputs,
            )
        )
