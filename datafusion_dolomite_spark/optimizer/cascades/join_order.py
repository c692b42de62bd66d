"""Join order enumeration into the Cascades memo: the one place the
engine chooses a join order.

While the memo ingests a plan, each maximal tree of INNER joins is
flattened into its relations (the subtrees under it that are not inner
joins) and the conjuncts of its conditions; a conjunct over two
relations is an edge.  Every connected relation set gets exactly one
group, and every csg-cmp pair (a connected set plus a connected
complement an edge joins to it) one ``LogicalJoin`` in the group of its
union, carrying the conjuncts covered by the union but by neither side.
DPccp (Moerkotte & Neumann, VLDB 2006) visits exactly those pairs.
``SparkCostModel`` and branch-and-bound then choose as for any group;
``CommutateJoinRule`` adds each join's mirror image.

A component with more than ``MAX_EXACT_PAIRS`` pairs gets one greedy
pass instead (GOO: join the two connected sets with the smallest
estimated result, repeatedly).  Components are cross-joined left-deep in
textual order, so no plan has more cartesians than the written one.  A
conjunct over one relation becomes a filter on it; one over three or
more rides on the first join that covers it.  Trees of fewer than three
relations, relations sharing a column name, and conjuncts over no or an
unknown column are ingested as written; hinted plans never get here
(the planner drops ``JoinEnumeration`` from their rules).
"""

from __future__ import annotations

from itertools import chain, combinations, islice
from typing import Dict, Iterator, List, Optional, Tuple

from ...expr import BinOp, Col, Expr, Lit
from ...operators.logical import JoinType, LogicalFilter, LogicalJoin
from .cost import derive_stats

__all__ = ["JoinEnumeration", "MAX_EXACT_PAIRS", "csg_cmp_pairs"]

#: above this many csg-cmp pairs in one connected component the exact
#: enumeration gives way to one greedy pass.  A star of n relations has
#: (n-1)·2^(n-2) pairs: 448 for 8 relations, 1024 for 9; a chain has
#: (n³-n)/6.  Every TPC-H shape has at most 116 (q8).
MAX_EXACT_PAIRS = 512


class JoinEnumeration:
    """In a Cascades rule list, makes ``CascadesOptimizer`` build its
    memo through :meth:`ingest`.  Not a rule: it runs once per inner-join
    tree while the memo is built, not once per memo expression."""

    name = "JoinEnumeration"

    def __repr__(self) -> str:
        return self.name

    def ingest(self, memo, node) -> Optional[int]:
        """The group of all relations of the inner-join tree rooted at
        ``node``, or None: the memo then ingests ``node`` as usual."""
        if not _is_inner(node.operator):
            return None
        leaves: List = []
        conjuncts: List[Expr] = []
        written: set = set()
        _flatten(node, leaves, conjuncts, written)
        if len(leaves) < 3:
            return None
        gids = [memo._ingest(leaf) for leaf in leaves]
        graph = _JoinGraph(memo, gids, written)
        if not graph.add(conjuncts):
            return _ingest_as_written(memo, node, dict(zip(map(id, leaves), gids)))
        return graph.enumerate()


def _is_inner(op) -> bool:
    return (
        isinstance(op, LogicalJoin)
        and op.join_type is JoinType.INNER
        and not op.stream_repartition
    )


def _flatten(node, leaves: list, conjuncts: list, written: set) -> int:
    """Collect the tree's relations (numbered left to right), its
    conjuncts and, in ``written``, each join's (left, right) relation
    sets; returns ``node``'s relation set."""
    if not _is_inner(node.operator):
        leaves.append(node)
        return 1 << (len(leaves) - 1)
    left = _flatten(node.inputs[0], leaves, conjuncts, written)
    right = _flatten(node.inputs[1], leaves, conjuncts, written)
    written.add((left, right))
    cond = node.operator.condition
    for c in cond.conjuncts() if isinstance(cond, BinOp) else (cond,):
        if not (isinstance(c, Lit) and c.value is True):
            conjuncts.append(c)
    return left | right


def _ingest_as_written(memo, node, leaf_gids: Dict[int, int]) -> int:
    gid = leaf_gids.get(id(node))
    if gid is not None:
        return gid
    inputs = tuple(_ingest_as_written(memo, c, leaf_gids) for c in node.inputs)
    return memo.insert_expr(node.operator, inputs, target_group=None)[0].group_id


def _and(parts: List[Expr]) -> Expr:
    out: Optional[Expr] = None
    for p in parts:
        out = p if out is None else BinOp("and", out, p)
    return out if out is not None else Lit(True)


def _bits(mask: int) -> Iterator[int]:
    while mask:
        low = mask & -mask
        yield low.bit_length() - 1
        mask ^= low


def _subsets(mask: int) -> Iterator[int]:
    """Every non-empty subset of ``mask``."""
    sub = mask
    while sub:
        yield sub
        sub = (sub - 1) & mask


def _neighbours(adj: List[int], s: int) -> int:
    out = 0
    for i in _bits(s):
        out |= adj[i]
    return out & ~s


def _csg_rec(adj: List[int], s: int, excluded: int) -> Iterator[int]:
    """DPccp's EnumerateCsgRec: each connected superset of ``s`` grown
    through neighbours outside ``excluded``, once."""
    n = _neighbours(adj, s) & ~excluded
    for sub in _subsets(n):
        yield s | sub
    for sub in _subsets(n):
        yield from _csg_rec(adj, s | sub, excluded | n)


def csg_cmp_pairs(adj: List[int], component: int) -> Iterator[Tuple[int, int]]:
    """DPccp over a connected ``component`` (bitmask; ``adj[i]`` is
    relation ``i``'s neighbour mask): each csg-cmp pair once, as
    ``(s1, s2)`` with ``s1`` holding the lower relation."""
    for i in sorted(_bits(component), reverse=True):
        v = 1 << i
        for s1 in chain((v,), _csg_rec(adj, v, (v << 1) - 1)):
            # EnumerateCmp: complements whose lowest relation is above s1's
            low = s1 & -s1
            excluded = s1 | (low << 1) - 1
            n = _neighbours(adj, s1) & ~excluded
            for j in sorted(_bits(n), reverse=True):
                w = 1 << j
                for s2 in chain((w,), _csg_rec(adj, w, excluded | n & (w << 1) - 1)):
                    yield s1, s2


class _JoinGraph:
    """One flattened inner-join tree: relation groups, edges, conjuncts."""

    def __init__(self, memo, gids: List[int], written: set):
        self.memo = memo
        self.gids = gids
        #: the joins of the plan as written, as (left, right) relation sets
        self.written = written
        #: relation set (bitmask) → memo group
        self.groups: Dict[int, int] = {}
        #: column name → relation
        self.owner: Dict[str, int] = {}
        self.adj = [0] * len(gids)
        #: (relation set, conjunct) for every conjunct over 2+ relations
        self.conjuncts: List[Tuple[int, Expr]] = []

    def add(self, conjuncts: List[Expr]) -> bool:
        """Attribute the conjuncts to relations; False when ownership is
        undecidable (the tree is then not reordered)."""
        for i, gid in enumerate(self.gids):
            prop = self.memo.group(gid).logical_prop
            if prop is None:
                return False
            for name in prop.schema.names():
                if name in self.owner:
                    return False
                self.owner[name] = i
        local: Dict[int, List[Expr]] = {}
        for c in conjuncts:
            cols = c.columns()
            if not cols or any(name not in self.owner for name in cols):
                return False
            rels = 0
            for name in cols:
                rels |= 1 << self.owner[name]
            if not rels & (rels - 1):
                local.setdefault(rels, []).append(c)
                continue
            self.conjuncts.append((rels, c))
            if bin(rels).count("1") == 2:
                a, b = _bits(rels)
                self.adj[a] |= 1 << b
                self.adj[b] |= 1 << a
        for i, gid in enumerate(self.gids):
            preds = local.get(1 << i)
            if preds:
                gid = self.memo.insert_expr(LogicalFilter(_and(preds)), (gid,), None)
                gid = gid[0].group_id
            self.groups[1 << i] = gid
        return True

    def enumerate(self) -> int:
        """Fill the memo.  The joins of the plan as written go first into
        their groups, whose statistics then derive as written."""
        left, acc = (1 << len(self.adj)) - 1, 0
        while left:
            comp = frontier = left & -left
            while frontier:
                frontier = _neighbours(self.adj, comp) & ~comp
                comp |= frontier
            left &= ~comp
            pairs = list(islice(csg_cmp_pairs(self.adj, comp), MAX_EXACT_PAIRS + 1))
            if len(pairs) > MAX_EXACT_PAIRS:
                self._greedy(comp)
            else:
                # smaller unions first, so both sides' groups exist
                pairs.sort(key=lambda p: (bin(p[0] | p[1]).count("1"), p not in self.written))
                for s1, s2 in pairs:
                    self._join(s1, s2, as_written=(s1, s2) in self.written)
            if acc:  # components cross-joined in textual order
                self._join(acc, comp, as_written=True)
            acc |= comp
        return self.groups[acc]

    def _condition(self, s1: int, s2: int, as_written: bool = False) -> Expr:
        """The conjuncts ``s1 ⋈ s2`` connects.  Unless ``as_written``,
        each column equality reads left side first, as the strategy and
        eager-aggregation rules take a join's keys."""
        union, out = s1 | s2, []
        for rels, c in self.conjuncts:
            if (rels & union) != rels or (rels & s1) == rels or (rels & s2) == rels:
                continue
            if (
                not as_written
                and isinstance(c, BinOp)
                and c.op == "="
                and isinstance(c.left, Col)
                and isinstance(c.right, Col)
                and s2 >> self.owner[c.left.name] & 1
                and s1 >> self.owner[c.right.name] & 1
            ):
                c = BinOp("=", c.right, c.left)
            out.append(c)
        return _and(out)

    def _estimate(self, op, s1: int, s2: int):
        """``op``'s larger row estimate over the two orders of its sides
        (one without usable ndv is estimated at its left side's rows)."""
        sides = [self.memo.group(self.groups[s]).stats for s in (s1, s2)]
        if None in sides:
            return None
        return max(
            (derive_stats(op, order, self.memo.ctx) for order in (sides, sides[::-1])),
            key=lambda st: st.row_count,
        )

    def _join(self, s1: int, s2: int, as_written: bool = False) -> None:
        """Add ``s1 ⋈ s2`` to the group of their union (creating it).
        A group the written plan lacks keeps the largest row estimate of
        its joins: System-R estimates of one relation set differ by join
        order, and the plan is costed along whichever order wins."""
        op = LogicalJoin(JoinType.INNER, self._condition(s1, s2, as_written))
        expr, _ = self.memo.insert_expr(
            op, (self.groups[s1], self.groups[s2]), self.groups.get(s1 | s2)
        )
        self.groups[s1 | s2] = expr.group_id
        if any(a | b == s1 | s2 for a, b in self.written):
            return
        group, stats = self.memo.group(expr.group_id), self._estimate(op, s1, s2)
        if group.stats and stats and stats.row_count > group.stats.row_count:
            group.stats = stats

    def _greedy(self, comp: int) -> None:
        """GOO: join the two connected sets whose join is estimated
        smallest, until one set is left."""
        parts = [1 << i for i in _bits(comp)]
        while len(parts) > 1:
            best = None
            for s1, s2 in combinations(parts, 2):
                if _neighbours(self.adj, s1) & s2:
                    op = LogicalJoin(JoinType.INNER, self._condition(s1, s2))
                    stats = self._estimate(op, s1, s2)
                    rows = stats.row_count if stats else float("inf")
                    if best is None or rows < best[0]:
                        best = (rows, s1, s2)
            _, s1, s2 = best
            self._join(*sorted((s1, s2), key=lambda s: s & -s))
            parts = [p for p in parts if p not in (s1, s2)] + [s1 | s2]
