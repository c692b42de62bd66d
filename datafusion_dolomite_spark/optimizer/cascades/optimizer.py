"""Cascades optimizer entry point.

Reference: ``dolomite/src/cascades/optimizer.rs`` —
``CascadesOptimizer::new`` ingests the plan into the memo
(``memo.rs:331-366``); ``find_best_plan`` runs the task scheduler until
the stack drains (``optimizer.rs:39-52``) and extracts the min-cost
physical plan from per-group winners (``memo.rs:66-82``).
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from ...operators.properties import PhysicalPropertySet
from ...plans.plan import Plan
from ..rule import OptimizerContext, Rule
from .cost import CostModel, SimpleCostModel
from .join_order import JoinEnumeration
from .memo import Memo
from .tasks import TaskRunner

__all__ = ["CascadesOptimizer"]


class CascadesOptimizer:
    def __init__(
        self,
        rules: Sequence[Rule],
        ctx: Optional[OptimizerContext] = None,
        cost_model: Optional[CostModel] = None,
        required: Optional[PhysicalPropertySet] = None,
        enable_group_merge: bool = True,
    ):
        self.rules: List[Rule] = [
            r for r in rules if not isinstance(r, JoinEnumeration)
        ]
        #: join order comes from the enumerator when the rule list
        #: carries one (``join_order.py``), else joins stay as written
        self.join_enumeration = next(
            (r for r in rules if isinstance(r, JoinEnumeration)), None
        )
        self.ctx = ctx or OptimizerContext()
        self.cost_model = cost_model or SimpleCostModel()
        self.required = required or PhysicalPropertySet()
        #: execute duplicate-group merges eagerly.  DELIBERATE DEVIATION
        #: from the reference, which ships the merge mechanism disabled
        #: (``task.rs:146-149`` / ``memo.rs:159-279``): r4 added on-flag
        #: tests proving merge correctness with winners unchanged, and r5
        #: ran the full suite + all oracle queries merge-on (green, plans
        #: unchanged), so the default is now on — duplicate groups unify
        #: instead of accumulating as pending merges.
        self.enable_group_merge = enable_group_merge
        self.memo: Optional[Memo] = None  # exposed for tests / explain
        #: filled per find_best_plan call: planning seconds + memo size
        #: + transformation count — the planning-time observability the
        #: memo budget (tasks.TaskRunner.MAX_MEMO_*) is judged against.
        #: ``catalog_stats_seconds`` is the part of ``seconds`` spent
        #: computing cold table statistics (group stats derive lazily)
        self.planning_stats: dict = {}

    def find_best_plan(self, plan: Plan) -> Plan:
        import time as _time

        catalog = getattr(self.ctx, "catalog", None)
        stats0 = getattr(catalog, "stats_seconds", 0.0)
        t0 = _time.perf_counter()
        self.memo = Memo.from_plan(
            plan, self.ctx, self.enable_group_merge, self.join_enumeration
        )
        runner = TaskRunner(self.memo, self.rules, self.cost_model, self.ctx)
        runner.run(self.required)
        self.planning_stats = {
            "seconds": _time.perf_counter() - t0,
            "groups": len(self.memo.groups),
            "exprs": self.memo.n_exprs,
            "transformations": runner.transformations_created,
            "catalog_stats_seconds": getattr(catalog, "stats_seconds", 0.0)
            - stats0,
        }
        best = self.memo.best_plan(self.required)
        if best is None:
            raise ValueError(
                "cascades found no physical plan — is an implementation rule "
                "missing for some operator? (the reference has this exact gap "
                "for Limit, SURVEY §2.2; we ship impl rules for every operator)"
            )
        return best

    optimize = find_best_plan
