"""Cascades task scheduler.

Reference: ``dolomite/src/cascades/task.rs`` — a single-thread, stack
based (FILO) scheduler (``cascades/mod.rs:46-47``) over five task kinds
(task taxonomy at ``task.rs:58-80`` and SURVEY §3 Entry point B):

* ``OptimizeGroup``    — memoized per (group, required property); spawns
  ``OptimizeExpression`` per logical expr and ``OptimizeInputs`` per
  physical expr, physical first for cost upper bounds
  (``task.rs:543-583``).
* ``OptimizeExpression`` — spawns ``ApplyRule`` per not-yet-applied rule
  sorted by promise, plus ``ExploreGroup`` per input (``task.rs:167-207``).
* ``ExploreGroup``     — once per group (``explored`` flag,
  ``task.rs:594-617``).
* ``ApplyRule``        — enumerate pattern bindings against the memo
  (cartesian product across child groups, ``cascades/binding.rs:72-122``),
  apply, insert results; logical → ``OptimizeExpression``, physical →
  ``OptimizeInputs`` (``task.rs:90-153``).
* ``OptimizeInputs``   — the state machine Init → (per input, recurse via
  child ``OptimizeGroup``) → OptimizeSelf with accumulated cost and
  branch-and-bound pruning on the group's current best
  (``task.rs:211-511``; bound check ``task.rs:417-420``; enforcer hook
  ``task.rs:431-462``).

The stack discipline guarantees a continuation pushed BELOW its child
``OptimizeGroup`` tasks only runs after those fully complete.
"""

from __future__ import annotations

import itertools
from typing import List, Optional, Tuple

from ...operators.properties import PhysicalPropertySet
from ..pattern import Pattern
from ..rule import OptExpression, OptExprNode, Rule, RuleResult
from .memo import Group, GroupExpr, Memo, Winner

__all__ = ["TaskRunner"]

_DEFAULT_PROP = PhysicalPropertySet()


class Task:
    def execute(self, r: "TaskRunner") -> None:
        raise NotImplementedError


class TaskRunner:
    """Owns the stack + memo + rules + cost model."""

    #: safety valve on memo growth: past either cap, TRANSFORMATION
    #: rules stop firing (implementation rules continue, so every group
    #: still gets a physical plan).  Join order is enumerated before the
    #: search starts (``join_order.py``, itself bounded by
    #: ``MAX_EXACT_PAIRS``), so only commutation, eager aggregation and
    #: the materialized-view rewrite grow the memo here.
    MAX_MEMO_GROUPS = 5_000
    MAX_MEMO_EXPRS = 20_000

    def __init__(self, memo: Memo, rules: List[Rule], cost_model, ctx):
        self.memo = memo
        self.rules = sorted(rules, key=lambda r: -int(r.promise()))
        self.cost_model = cost_model
        self.ctx = ctx
        self.stack: List[Task] = []
        self._scheduled_groups: set[Tuple[int, PhysicalPropertySet]] = set()
        self.transformations_created = 0
        # rule patterns are pure values; building them fresh on every
        # (rule x expr) match attempt was a measurable slice of planning
        # time on 8-way joins — construct once per run
        self._patterns = {id(r): r.pattern() for r in self.rules}

    def pattern(self, rule: Rule) -> Pattern:
        return self._patterns[id(rule)]

    # -- scheduler loop (ref task.rs:58-80) -----------------------------
    def run(self, root_required: PhysicalPropertySet) -> None:
        self.push(OptimizeGroupTask(self.memo.root_group_id, root_required))
        steps = 0
        while self.stack:
            task = self.stack.pop()
            task.execute(self)
            steps += 1
            if steps > 2_000_000:
                raise RuntimeError("cascades task budget exceeded — runaway search")

    def push(self, task: Task) -> None:
        self.stack.append(task)

    def group(self, gid: int) -> Group:
        return self.memo.group(gid)


class OptimizeGroupTask(Task):
    def __init__(self, gid: int, required: PhysicalPropertySet):
        self.gid = gid
        self.required = required

    def execute(self, r: TaskRunner) -> None:
        group = r.group(self.gid)
        if self.required in group.winners:
            return  # memoization hit (ref task.rs:543-550)
        key = (self.gid, self.required)
        if key in r._scheduled_groups:
            return
        r._scheduled_groups.add(key)
        # FinalizeGroup runs LAST (pushed first): records explicit failure
        # (winner=None) if nothing produced a plan for this property.
        r.push(_FinalizeGroupTask(self.gid, self.required))
        # logical exprs pushed first / popped last; physical first for
        # upper bounds (ref task.rs:556-583)
        for e in list(group.logical_exprs):
            r.push(OptimizeExpressionTask(e, self.required))
        for e in list(group.physical_exprs):
            r.push(OptimizeInputsTask(e, self.required))


class _FinalizeGroupTask(Task):
    def __init__(self, gid: int, required: PhysicalPropertySet):
        self.gid = gid
        self.required = required

    def execute(self, r: TaskRunner) -> None:
        r.group(self.gid).winners.setdefault(self.required, None)


class OptimizeExpressionTask(Task):
    def __init__(self, expr: GroupExpr, required: PhysicalPropertySet):
        self.expr = expr
        self.required = required

    def execute(self, r: TaskRunner) -> None:
        # rules by promise, skipping already-applied (ref task.rs:167-207);
        # r.rules is sorted promise-desc, the stack pops in reverse, so
        # iterate reversed → highest-promise rule actually applies first
        if self.expr.rules is None:
            op = self.expr.operator
            self.expr.rules = [
                rule for rule in reversed(r.rules)
                if r.pattern(rule).matches_operator(op)
            ]
        for rule in self.expr.rules:
            if rule.rule_id() not in self.expr.applied_rules:
                r.push(ApplyRuleTask(self.expr, rule, self.required))
        for gid in self.expr.inputs:
            r.push(ExploreGroupTask(gid, self.required))


class ExploreGroupTask(Task):
    def __init__(self, gid: int, required: PhysicalPropertySet):
        self.gid = gid
        self.required = required

    def execute(self, r: TaskRunner) -> None:
        group = r.group(self.gid)
        if group.explored:
            return  # once per group (ref task.rs:594-617)
        group.explored = True
        for e in list(group.logical_exprs):
            r.push(OptimizeExpressionTask(e, self.required))


class ApplyRuleTask(Task):
    def __init__(self, expr: GroupExpr, rule: Rule, required: PhysicalPropertySet):
        self.expr = expr
        self.rule = rule
        self.required = required

    def execute(self, r: TaskRunner) -> None:
        if self.rule.rule_id() in self.expr.applied_rules:
            return
        if self.rule.transformation and (
            len(r.memo.groups) >= r.MAX_MEMO_GROUPS
            or r.memo.n_exprs >= r.MAX_MEMO_EXPRS
        ):
            return  # memo full — leave the rule re-appliable, skip now
        self.expr.applied_rules.add(self.rule.rule_id())
        for binding in _bindings(r.memo, r.pattern(self.rule), self.expr):
            result = RuleResult()
            self.rule.apply(OptExpression(binding), r.ctx, result)
            for produced in result.exprs:
                created = r.memo.insert_opt_expression(produced, self.expr.group_id)
                if self.rule.transformation:
                    r.transformations_created += len(created)
                for new_expr in created:
                    is_root = new_expr.group_id == self.expr.group_id
                    if new_expr.is_logical:
                        r.push(
                            OptimizeExpressionTask(
                                new_expr, self.required if is_root else _DEFAULT_PROP
                            )
                        )
                    else:
                        r.push(OptimizeInputsTask(new_expr, self.required))


class OptimizeInputsTask(Task):
    """Two-phase version of the reference's explicit state machine
    (``task.rs:211-511``): phase 'init' derives required child properties
    and schedules child ``OptimizeGroup``s with a continuation; phase
    'optimize_self' (the continuation) sums child winner costs, applies
    the branch-and-bound upper bound, derives the achieved output
    property, and records winners — with an ``Exchange`` enforcer when the
    required distribution isn't met (enforcer hook ``task.rs:431-462``)."""

    def __init__(
        self,
        expr: GroupExpr,
        required: PhysicalPropertySet,
        phase: str = "init",
        input_reqs: Optional[Tuple[PhysicalPropertySet, ...]] = None,
    ):
        self.expr = expr
        self.required = required
        self.phase = phase
        self.input_reqs = input_reqs

    def execute(self, r: TaskRunner) -> None:
        if self.phase == "init":
            defaults = tuple(_DEFAULT_PROP for _ in self.expr.inputs)
            input_reqs, _ = self.expr.operator.derive_properties(defaults)
            # continuation below children (stack: children pop first)
            r.push(
                OptimizeInputsTask(self.expr, self.required, "optimize_self", input_reqs)
            )
            for gid, req in zip(self.expr.inputs, input_reqs):
                r.push(OptimizeGroupTask(gid, req))
            return

        # -- optimize_self ------------------------------------------------
        group = r.group(self.expr.group_id)
        cur = group.winner(self.required)
        upper_bound = cur.cost if cur is not None else float("inf")
        # This task also memoizes under the default (unconstrained)
        # property; prune on the LOOSER of the two bounds so a candidate
        # that loses under `required` can still improve the default
        # winner (otherwise the default winner ends up overcosted).
        if self.required != _DEFAULT_PROP:
            cur_def = group.winner(_DEFAULT_PROP)
            def_bound = cur_def.cost if cur_def is not None else float("inf")
            upper_bound = max(upper_bound, def_bound)

        child_costs = 0.0
        for gid, req in zip(self.expr.inputs, self.input_reqs):
            w = r.group(gid).winner(req)
            if w is None:
                return  # child has no plan for required prop → expr fails
            child_costs += w.cost
            if child_costs >= upper_bound:
                return  # branch-and-bound prune (ref task.rs:417-420)

        # every child achieves exactly what it was required to
        if self.expr.costing is None:
            input_stats = [r.group(gid).stats for gid in self.expr.inputs]
            try:
                self_cost = r.cost_model.estimate_cost(
                    self.expr.operator, input_stats, r.ctx
                )
                _, out_prop = self.expr.operator.derive_properties(self.input_reqs)
            except ValueError:
                self_cost = out_prop = None
            self.expr.costing = (self_cost, out_prop)
        self_cost, out_prop = self.expr.costing
        if self_cost is None:
            return
        total = self_cost + child_costs

        if out_prop.satisfies(self.required):
            group.update_winner(
                self.required, Winner(self.expr, total, self.input_reqs, None)
            )
        else:
            # enforcer: Exchange to the required distribution
            rows = group.stats.row_count if group.stats else 1e6
            enforced = total + 3.0 * rows
            group.update_winner(
                self.required,
                Winner(self.expr, enforced, self.input_reqs, self.required.dist),
            )
        # always memoize under the default property too (any output
        # satisfies Random/unordered) so other parents reuse the work
        if self.required != _DEFAULT_PROP:
            group.update_winner(
                _DEFAULT_PROP, Winner(self.expr, total, self.input_reqs, None)
            )


def _bindings(memo: Memo, pattern: Pattern, expr: GroupExpr) -> List[OptExprNode]:
    """Enumerate bindings of ``pattern`` rooted at ``expr`` — cartesian
    product across child groups (ref ``cascades/binding.rs:72-122``)."""
    if not pattern.matches_operator(expr.operator):
        return []
    if pattern.children is None:
        return [
            OptExprNode(
                operator=expr.operator,
                inputs=[
                    OptExprNode(handle=gid, prop=memo.group(gid).logical_prop)
                    for gid in expr.inputs
                ],
            )
        ]
    if len(pattern.children) != len(expr.inputs):
        return []
    per_child: List[List[OptExprNode]] = []
    for cp, cgid in zip(pattern.children, expr.inputs):
        cands: List[OptExprNode] = []
        for ce in memo.group(cgid).logical_exprs:
            cands.extend(_bindings(memo, cp, ce))
        if not cands:
            return []
        per_child.append(cands)
    return [
        OptExprNode(operator=expr.operator, inputs=list(combo))
        for combo in itertools.product(*per_child)
    ]
