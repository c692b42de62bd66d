"""Rule framework: ``OptExpression``, ``Rule`` ABC, ``RuleResult``.

Reference parity:
* ``OptExpression`` — the tree a rule consumes/produces; nodes are either
  a new operator, a handle to an existing expression, or an opaque group
  handle (``dolomite/src/rules/opt_expr.rs:12-16,59-68``).  In the
  heuristic optimizer the handles are ``PlanNode``s; in cascades they are
  memo group ids.
* ``Rule`` trait — ``apply(input, ctx, result)`` + ``pattern()`` +
  ``rule_id()`` + ``rule_promise()`` (``rules/mod.rs:99-120``), promises
  ordered LOW/MEDIUM/HIGH (``rules/mod.rs:153-157``).
* ``RuleResult`` — accumulator of produced alternatives
  (``rules/mod.rs:75-97``).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field
from typing import Any, List, Optional, Sequence, Tuple

from ..operators.logical import Operator
from .pattern import Pattern

__all__ = [
    "OptExpression",
    "OptExprNode",
    "RulePromise",
    "Rule",
    "RuleResult",
    "OptimizerContext",
]


class OptExprNode:
    """One node of an ``OptExpression`` (ref ``opt_expr.rs:12-16``):

    * ``operator`` set, ``handle`` None  → new operator node
    * ``handle`` set                     → reference to an existing
      subtree: a ``PlanNode`` (heuristic) or a group id (cascades).
    """

    __slots__ = ("operator", "handle", "inputs", "prop")

    def __init__(
        self,
        operator: Optional[Operator] = None,
        handle: Any = None,
        inputs: Sequence["OptExprNode"] = (),
        prop: Any = None,
    ):
        if (operator is None) == (handle is None):
            raise ValueError("exactly one of operator/handle must be set")
        self.operator = operator
        self.handle = handle
        self.inputs: List[OptExprNode] = list(inputs)
        #: logical property of the subtree behind a handle (populated by
        #: the cascades binding enumeration; lets rules reason about
        #: child schemas, e.g. join-condition redistribution)
        self.prop = prop

    @property
    def is_handle(self) -> bool:
        return self.handle is not None

    def __repr__(self) -> str:
        if self.is_handle:
            return f"Handle({self.handle!r})"
        return f"OptExpr({self.operator.pretty()}, {self.inputs!r})"


class OptExpression:
    """Root wrapper with builder helpers."""

    def __init__(self, root: OptExprNode):
        self.root = root

    @staticmethod
    def op(operator: Operator, *inputs: "OptExpression | OptExprNode | Any") -> "OptExpression":
        nodes = []
        for i in inputs:
            if isinstance(i, OptExpression):
                nodes.append(i.root)
            elif isinstance(i, OptExprNode):
                nodes.append(i)
            else:
                nodes.append(OptExprNode(handle=i))
        return OptExpression(OptExprNode(operator=operator, inputs=nodes))

    @staticmethod
    def handle(h: Any) -> "OptExpression":
        return OptExpression(OptExprNode(handle=h))


class RulePromise(enum.IntEnum):
    """Application ordering (ref ``rules/mod.rs:153-157``)."""

    LOW = 1
    MEDIUM = 2
    HIGH = 3


@dataclass
class RuleResult:
    """Accumulator (ref ``rules/mod.rs:75-97``)."""

    exprs: List[OptExpression] = field(default_factory=list)

    def add(self, expr: OptExpression) -> None:
        self.exprs.append(expr)


class OptimizerContext:
    """Carries the catalog (ref ``OptimizerContext`` holds the
    ``SchemaProvider``, ``dolomite/src/optimizer.rs:10-22``)."""

    def __init__(self, catalog=None):
        self.catalog = catalog


class Rule:
    """ABC for all rules (ref ``rules/mod.rs:99-120``)."""

    #: subclasses override
    name: str = "Rule"

    #: True for pure exploration (transformation) rules — logical→logical
    #: alternatives like join commutation.  The cascades TaskRunner stops
    #: firing these once the memo reaches its size caps.
    transformation: bool = False

    def pattern(self) -> Pattern:
        raise NotImplementedError

    def promise(self) -> RulePromise:
        return RulePromise.MEDIUM

    def apply(
        self, input: OptExpression, ctx: OptimizerContext, result: RuleResult
    ) -> None:
        raise NotImplementedError

    def rule_id(self) -> str:
        return self.name

    def __repr__(self) -> str:
        return self.name


def match_pattern_node(pattern: Pattern, op: Operator, inputs_ops: Tuple[Operator, ...]) -> bool:
    """Shallow match helper: does ``op`` match and (if the pattern has
    children) does the child count line up?"""
    if not pattern.matches_operator(op):
        return False
    if pattern.children is not None and len(pattern.children) != len(inputs_ops):
        return False
    return True
