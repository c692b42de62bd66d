"""Cascades memo: groups, group expressions, winners.

Reference: ``dolomite/src/cascades/memo.rs`` —
* one group per distinct (operator, input-groups) key, built bottom-up
  from the initial plan (``Memo::from(Plan)``, ``memo.rs:331-366``);
* expression dedup via ``GroupExprKey`` (``memo.rs:713-719``) — this is
  why our expr IR is hashable (SURVEY §7 risk register);
* per-(group, required-property) winners (``memo.rs:507-508,605-629``);
* duplicate groups are DETECTED and marked, merging is implemented but
  disabled (``task.rs:146-149``, ``memo.rs:159-279``) — we keep the same
  mark-don't-merge behavior behind ``pending_merges``;
* ``best_plan`` rebuilds the physical plan from per-group winners
  (``memo.rs:66-82``, ``Group::best_plan_of`` ``memo.rs:669-709``).

One deviation, recorded honestly: winners may carry an ``enforcer``
distribution.  The reference declares the enforcer mechanism but returns
no enforcers (``properties/physical.rs:16-25``); ours emits a real
``Exchange`` so that required hash distributions (shuffle joins) are
satisfiable — and so that a child whose output is ALREADY hashed on the
join keys (e.g. an aggregate) skips the shuffle: partitioning reuse, the
big-cluster win.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

from ...operators.logical import Operator
from ...operators.properties import (
    DistributionSpec,
    PhysicalPropertySet,
    Statistics,
)
from ...plans.plan import Plan, PlanNode
from .cost import derive_stats

__all__ = ["GroupExpr", "Group", "Memo", "Winner"]


class GroupExpr:
    """Operator + input group ids (ref ``memo.rs`` GroupExpr)."""

    __slots__ = (
        "operator", "inputs", "group_id", "applied_rules", "rules", "costing",
    )

    def __init__(self, operator: Operator, inputs: Tuple[int, ...], group_id: int = -1):
        self.operator = operator
        self.inputs = inputs
        self.group_id = group_id
        self.applied_rules: set[str] = set()
        #: the rules whose pattern root matches ``operator``, in the task
        #: runner's order (filled by the first OptimizeExpression task)
        self.rules: Optional[list] = None
        #: a physical expr's (own cost, output property): neither depends
        #: on the property it is optimized for, so OptimizeInputs computes
        #: them once (cost None: the cost model refused the expr)
        self.costing: Optional[tuple] = None

    def key(self) -> Tuple[Operator, Tuple[int, ...]]:
        return (self.operator, self.inputs)

    @property
    def is_logical(self) -> bool:
        return self.operator.is_logical()

    def __repr__(self) -> str:
        return f"GroupExpr({self.operator.pretty()}, inputs={list(self.inputs)}, g{self.group_id})"


@dataclass
class Winner:
    expr: "GroupExpr"
    cost: float
    #: required property for each input (drives recursive extraction)
    input_props: Tuple[PhysicalPropertySet, ...]
    #: if set, an Exchange enforcing this distribution wraps the expr
    enforcer: Optional[DistributionSpec] = None


class Group:
    __slots__ = (
        "id", "logical_exprs", "physical_exprs", "winners", "explored",
        "stats", "logical_prop",
    )

    def __init__(self, gid: int):
        self.id = gid
        self.logical_exprs: List[GroupExpr] = []
        self.physical_exprs: List[GroupExpr] = []
        self.winners: Dict[PhysicalPropertySet, Optional[Winner]] = {}
        self.explored = False
        self.stats: Optional[Statistics] = None
        self.logical_prop = None  # derived schema, like stats

    def add(self, expr: GroupExpr) -> None:
        expr.group_id = self.id
        (self.logical_exprs if expr.is_logical else self.physical_exprs).append(expr)

    def winner(self, prop: PhysicalPropertySet) -> Optional[Winner]:
        return self.winners.get(prop)

    def update_winner(self, prop: PhysicalPropertySet, w: Winner) -> bool:
        """Keep min-cost (ref ``Group::update_winner`` memo.rs:605-629)."""
        cur = self.winners.get(prop)
        if cur is None or w.cost < cur.cost:
            self.winners[prop] = w
            return True
        return False

    def __repr__(self) -> str:
        return (
            f"Group#{self.id}(log={len(self.logical_exprs)}, "
            f"phys={len(self.physical_exprs)})"
        )


class Memo:
    def __init__(
        self, ctx=None, enable_group_merge: bool = False, join_enumeration=None
    ):
        self.ctx = ctx
        #: a ``join_order.JoinEnumeration``: inner-join trees are ingested
        #: as every connected relation set instead of as written
        self.join_enumeration = join_enumeration
        self.groups: Dict[int, Group] = {}
        self._next_gid = 0
        #: GroupExprKey → group id (dedup map, ref memo.rs:713-719)
        self.expr_index: Dict[Tuple[Operator, Tuple[int, ...]], int] = {}
        #: duplicate-group detections; marked but not merged by default
        #: (the reference implements merging but leaves it disabled,
        #: ``task.rs:146-149``/``memo.rs:159-279`` — flip the flag to run
        #: the merges eagerly)
        self.pending_merges: List[Tuple[int, int]] = []
        self.enable_group_merge = enable_group_merge
        self.root_group_id: int = -1
        #: total GroupExprs ever inserted — the size signal the task
        #: runner's memo budget watches (with group count)
        self.n_exprs: int = 0

    # -- construction ---------------------------------------------------
    @classmethod
    def from_plan(
        cls,
        plan: Plan,
        ctx=None,
        enable_group_merge: bool = False,
        join_enumeration=None,
    ) -> "Memo":
        memo = cls(ctx, enable_group_merge, join_enumeration)
        memo.root_group_id = memo._ingest(plan.root)
        return memo

    def _ingest(self, node: PlanNode) -> int:
        if self.join_enumeration is not None:
            gid = self.join_enumeration.ingest(self, node)
            if gid is not None:
                return gid
        input_gids = tuple(self._ingest(c) for c in node.inputs)
        expr, _created = self.insert_expr(node.operator, input_gids, target_group=None)
        return expr.group_id

    # -- core insert (ref memo.insert_opt_expression, memo.rs:96-125) ---
    def insert_expr(
        self,
        operator: Operator,
        input_gids: Tuple[int, ...],
        target_group: Optional[int],
    ) -> Tuple[GroupExpr, bool]:
        """Insert (operator, inputs); dedup by key.  Returns (expr, created).

        If the key already exists in a DIFFERENT group than requested,
        record a pending merge and reuse the existing expr (mark-don't-
        merge, ref ``task.rs:146-149``).
        """
        input_gids = tuple(self._resolve(g) for g in input_gids)
        if target_group is not None:
            target_group = self._resolve(target_group)
        key = (operator, input_gids)
        existing_gid = self.expr_index.get(key)
        if existing_gid is not None:
            existing_gid = self._resolve(existing_gid)
            if target_group is not None and target_group != existing_gid:
                if self.enable_group_merge:
                    existing_gid = self._merge_groups(target_group, existing_gid)
                    key = (operator, tuple(self._resolve(g) for g in input_gids))
                else:
                    self.pending_merges.append((target_group, existing_gid))
            group = self.groups[existing_gid]
            for e in group.logical_exprs + group.physical_exprs:
                if e.key() == key:
                    return e, False
            # index says it exists but list doesn't have it — re-add
            expr = GroupExpr(operator, input_gids)
            group.add(expr)
            self.n_exprs += 1
            return expr, True
        gid = target_group if target_group is not None else self._new_group()
        if gid not in self.groups:
            self.groups[gid] = Group(gid)
        expr = GroupExpr(operator, input_gids)
        self.groups[gid].add(expr)
        self.n_exprs += 1
        self.expr_index[key] = gid
        self._derive_group_stats(self.groups[gid], expr)
        self._derive_group_prop(self.groups[gid], expr)
        return expr, True

    def _new_group(self) -> int:
        gid = self._next_gid
        self._next_gid += 1
        self.groups[gid] = Group(gid)
        return gid

    # -- group merging (ref memo.rs:159-279, disabled there) ------------
    def _resolve(self, gid: int) -> int:
        """Follow merge forwarding (union-find style path walk)."""
        fwd = getattr(self, "_forward", None)
        if not fwd:
            return gid
        while gid in fwd:
            gid = fwd[gid]
        return gid

    def _merge_groups(self, a: int, b: int) -> int:
        """Merge group ``b``'s contents into ``a`` (lower id survives) —
        the mechanism the reference implements but never turns on
        (``memo.rs:159-279``, call site disabled at ``task.rs:146-149``).
        Rewrites every expr referencing the dropped id and cascades any
        merges that rewriting reveals."""
        if not hasattr(self, "_forward"):
            self._forward: Dict[int, int] = {}
        a, b = self._resolve(a), self._resolve(b)
        if a == b:
            return a
        keep, drop = (a, b) if a < b else (b, a)
        kg = self.groups[keep]
        dg = self.groups.pop(drop)
        self._forward[drop] = keep

        # move the dropped group's exprs (dedup against the survivor)
        existing_keys = {
            e.key() for e in kg.logical_exprs + kg.physical_exprs
        }
        for e in dg.logical_exprs + dg.physical_exprs:
            if e.key() in existing_keys:
                self.expr_index[e.key()] = keep
                continue
            e.group_id = keep
            (kg.logical_exprs if e.is_logical else kg.physical_exprs).append(e)
            self.expr_index[e.key()] = keep
            existing_keys.add(e.key())

        # survivors inherit missing stats/props; winners merge min-cost
        if kg.stats is None:
            kg.stats = dg.stats
        if kg.logical_prop is None:
            kg.logical_prop = dg.logical_prop
        for prop, w in dg.winners.items():
            if w is not None:
                kg.update_winner(prop, w)

        if self.root_group_id == drop:
            self.root_group_id = keep

        # rewrite exprs whose inputs referenced the dropped group; a
        # rewritten key can collide with an existing expr in a DIFFERENT
        # group — that is itself a merge, processed via worklist
        cascade: List[Tuple[int, int]] = []
        for g in list(self.groups.values()):
            for e in list(g.logical_exprs) + list(g.physical_exprs):
                if drop not in e.inputs:
                    continue
                old_key = e.key()
                e.inputs = tuple(self._resolve(i) for i in e.inputs)
                self.expr_index.pop(old_key, None)
                new_key = e.key()
                other = self.expr_index.get(new_key)
                if other is None:
                    self.expr_index[new_key] = e.group_id
                else:
                    other = self._resolve(other)
                    if other != self._resolve(e.group_id):
                        cascade.append((other, e.group_id))
        for x, y in cascade:
            self._merge_groups(x, y)
        return self._resolve(keep)

    def _derive_group_stats(self, group: Group, expr: GroupExpr) -> None:
        if group.stats is not None or not expr.is_logical:
            return
        input_stats = []
        for gid in expr.inputs:
            g = self.groups.get(gid)
            input_stats.append(g.stats if g else None)
        try:
            group.stats = derive_stats(expr.operator, input_stats, self.ctx)
        except Exception:
            group.stats = None

    def _derive_group_prop(self, group: Group, expr: GroupExpr) -> None:
        """Derive the group's logical property (schema) from the first
        logical expr — the analog of the reference's eager property
        derivation (``optimizer.rs:209-212``), memoized per group."""
        if group.logical_prop is not None or not expr.is_logical:
            return
        try:
            op = expr.operator
            if not expr.inputs:
                catalog = getattr(self.ctx, "catalog", None)
                group.logical_prop = op.derive_logical_prop((), catalog=catalog)
                return
            input_props = [self.groups[g].logical_prop for g in expr.inputs]
            if any(p is None for p in input_props):
                return
            group.logical_prop = op.derive_logical_prop(input_props)
        except Exception:
            group.logical_prop = None

    # -- OptExpression insertion (rule outputs) -------------------------
    def insert_opt_expression(self, opt_expr, target_group: int) -> List[GroupExpr]:
        """Insert a rule-produced tree.  Handles are group ids; interior
        new nodes get find-or-create groups; the ROOT lands in
        ``target_group``.  Returns newly created exprs (root last)."""
        created: List[GroupExpr] = []

        def walk(n, is_root: bool) -> int:
            if n.is_handle:
                return self._resolve(int(n.handle))
            input_gids = tuple(walk(c, False) for c in n.inputs)
            expr, was_new = self.insert_expr(
                n.operator, input_gids, target_group if is_root else None
            )
            if was_new:
                created.append(expr)
            return expr.group_id

        walk(opt_expr.root, True)
        return created

    # -- extraction (ref memo.rs:66-82, 669-709) ------------------------
    def best_plan(self, required: PhysicalPropertySet) -> Optional[Plan]:
        root = self._best_node(self.root_group_id, required)
        return Plan(root) if root is not None else None

    def _best_node(self, gid: int, required: PhysicalPropertySet) -> Optional[PlanNode]:
        from ...operators.physical import Exchange

        group = self.groups[self._resolve(gid)]
        w = group.winner(required)
        if w is None:
            return None
        children = []
        for cgid, cprop in zip(w.expr.inputs, w.input_props):
            c = self._best_node(cgid, cprop)
            if c is None:
                return None
            children.append(c)
        node = PlanNode(w.expr.operator, children, stats=group.stats)
        if w.enforcer is not None:
            node = PlanNode(Exchange(w.enforcer), [node], stats=group.stats)
        return node

    def group(self, gid: int) -> Group:
        # merged-away ids forward to their survivor
        return self.groups[self._resolve(gid)]
