"""Cost models.

Reference: ``Cost`` = newtype f64 with INF sentinel
(``dolomite/src/cost/mod.rs:11-22``); ``CostModel::estimate_cost`` costs
one operator WITHOUT its children — children accumulate inside the
``OptimizeInputs`` task (``cost/mod.rs:30-35``).  The reference ships only
``SimpleCostModel``: every physical operator costs 1.0
(``cost/trivial.rs:12-30``), i.e. the CBO minimizes operator count.

We keep that trivial model as the default for golden-plan determinism and
add ``SparkCostModel``, a cardinality-aware model fed by parquet row
counts (the statistics the reference declares but never derives,
``cascades/memo.rs:781``).  Its job at 100 TB: prefer broadcast joins when
the build side is small, never broadcast a big table, charge shuffles by
rows moved, and make TopK beat Sort+Limit.
"""

from __future__ import annotations

import math
from typing import Optional

from ...operators import physical as P
from ...operators.logical import Operator
from ...operators.properties import Statistics

__all__ = [
    "INF",
    "CostModel",
    "SimpleCostModel",
    "SparkCostModel",
    "filters_class",
    "static_plan_cost",
]

INF = math.inf


class CostModel:
    def estimate_cost(self, op: Operator, input_stats, ctx=None) -> float:
        """Cost of ``op`` itself (children excluded, ref cost/mod.rs:30-35)."""
        raise NotImplementedError


class SimpleCostModel(CostModel):
    """Ref ``cost/trivial.rs``: physical op = 1.0; logical op = error."""

    def estimate_cost(self, op: Operator, input_stats, ctx=None) -> float:
        if op.is_logical():
            raise ValueError(f"cannot cost logical operator {op.pretty()}")
        return 1.0


#: rows below which a build side is broadcastable WHEN ROW WIDTH IS
#: UNKNOWN.  ~1M rows of a narrow dim table ≈ tens of MB serialized —
#: within the 64 MB budget we pin explicitly (session.py).  When the
#: catalog derived ``avg_row_bytes`` from parquet footers, the BYTE
#: threshold below decides instead — a 1M-row array<float> table blows
#: the budget even though its row count passes.
BROADCAST_ROW_THRESHOLD = 1_000_000

#: uncompressed bytes above which a build side must not be broadcast
#: (matches the session's spark.sql.autoBroadcastJoinThreshold budget).
BROADCAST_BYTES_THRESHOLD = 64 * 1024 * 1024

#: parallelism assumed when modeling map-side partial aggregation: each
#: of the N upstream partitions can hold at most ``ndv(group keys)``
#: partial rows, so an aggregate's shuffle moves
#: ``min(input_rows, out_rows × N)`` rows — with high-ndv keys there is
#: NO map-side reduction and the shuffle costs as much as the raw input.
#: Tracks the test bed's shuffle partitions; on a real cluster it only
#: has to be ORDER-correct (more partitions → less per-partition combine
#: → the same qualitative preference).
COMBINE_PARTITIONS = 32


class SparkCostModel(CostModel):
    """Cardinality-aware cost. Unit = 'row touches'.

    shuffle(n) costs 3·n (serialize + network + deserialize),
    broadcast(n) costs 3·n·log-ish penalty but saves shuffling the probe
    side entirely; sort adds n·log(n)/10.  Constants are crude but the
    ORDERING of plans is what matters: broadcast beats shuffle iff build
    side is small, TopK beats global sort, pushed-down scans beat wide
    scans.
    """

    def __init__(
        self,
        broadcast_row_threshold: int = BROADCAST_ROW_THRESHOLD,
        broadcast_bytes_threshold: int = BROADCAST_BYTES_THRESHOLD,
    ):
        self.broadcast_row_threshold = broadcast_row_threshold
        self.broadcast_bytes_threshold = broadcast_bytes_threshold

    def _too_big_to_broadcast(self, rows: float, stats) -> bool:
        """Byte budget when the row width is known (parquet footers),
        row-count fallback otherwise."""
        if stats is not None and stats.avg_row_bytes > 0:
            return rows * stats.avg_row_bytes > self.broadcast_bytes_threshold
        return rows > self.broadcast_row_threshold

    def estimate_cost(self, op: Operator, input_stats, ctx=None) -> float:
        if op.is_logical():
            raise ValueError(f"cannot cost logical operator {op.pretty()}")
        rows = [s.row_count if s is not None else 1e6 for s in input_stats]
        out = _output_rows(op, rows, ctx, input_stats)

        if getattr(op, "forced", False):
            # a user hint pinned this strategy (sql.py _tokenize →
            # join rules): near-zero cost wins the group's race — the
            # Spark-hint contract that the user's word beats the model,
            # including the broadcast byte budget
            return 1e-3
        if isinstance(op, P.PhysicalTableScan):
            return max(out, 1.0)
        if isinstance(op, (P.PhysicalFilter, P.PhysicalProjection)):
            return 0.1 * (rows[0] if rows else 1.0)
        if isinstance(op, P.PhysicalLimit):
            return 1.0
        # NOTE: shuffle cost for the join inputs is NOT charged here — the
        # required Hashed(child) properties surface as Exchange enforcers,
        # each costed 3·rows (see tasks.py).  A child that is ALREADY
        # hash-partitioned on the keys skips its Exchange: partitioning
        # reuse is rewarded exactly where it happens.
        if isinstance(op, P.PhysicalSaltedReplicateJoin):
            # skew-proof salted/replicated join: BOTH shuffles are internal
            # (the operator requires no child distribution — it joins on
            # (keys, salt)): probe shuffles once, build shuffles n_salts
            # replicas.  The hot probe key's reducer overhang divides by
            # n_salts.  Without probe-key skew the replication makes this
            # strictly worse than the plain shuffle join — by design.
            s_ = op.n_salts
            top = _probe_key_top_count(op, input_stats)
            residual = 3.0 * max(0.0, top / s_ - rows[0] / COMBINE_PARTITIONS)
            return (
                3.0 * rows[0]
                + 3.0 * s_ * rows[1]
                + 1.5 * (rows[0] + 2.0 * s_ * rows[1])
                + residual
            )
        if isinstance(op, P.PhysicalHashJoin):
            # build hash table on right (memory-pressure penalty) + probe,
            # plus the straggler overhang when the probe key's catalog mode
            # frequency exceeds the fair per-reducer share: a shuffle join
            # sends the whole hot key to ONE reducer (makespan in row
            # units — the thing wall-clock tracks on a cluster).  The
            # broadcast join never shuffles on the key, so it carries no
            # such term and stays the preferred escape whenever admissible.
            top = _probe_key_top_count(op, input_stats)
            straggler = 3.0 * max(0.0, top - rows[0] / COMBINE_PARTITIONS)
            return 1.5 * (rows[0] + 2.0 * rows[1]) + straggler
        if isinstance(op, P.PhysicalSortMergeJoin):
            # per-partition sorts (Spark inserts them) + linear merge;
            # same probe-key straggler as the hash join (it shuffles and
            # sorts on the same hot key)
            top = _probe_key_top_count(op, input_stats)
            straggler = 3.0 * max(0.0, top - rows[0] / COMBINE_PARTITIONS)
            n0, n1 = max(rows[0], 2.0), max(rows[1], 2.0)
            return (
                0.5 * (n0 + n1)
                + 0.2 * (n0 * math.log2(n0) + n1 * math.log2(n1))
                + straggler
            )
        if isinstance(op, P.PhysicalBroadcastHashJoin):
            build = rows[1]
            if self._too_big_to_broadcast(
                build, input_stats[1] if len(input_stats) > 1 else None
            ):
                return INF  # never broadcast a big table
            # ship the build side to every worker + probe in place.  The
            # ship factor is deliberately below the per-row shuffle cost
            # ratio: like Spark's own JoinSelection, any build side under
            # the threshold should win against shuffling the probe side —
            # including when the probe side is the smaller one (semi/anti
            # joins can't commute, so the build side may be the bigger of
            # the two and broadcasting it still beats two shuffles+sorts).
            return 2.0 * build + rows[0]
        if isinstance(op, P.PhysicalSaltedHashAggregate):
            # two-stage skew-proof aggregate: stage 1 shuffles on
            # (keys, salt) — the hot key's payload spreads over n_salts
            # reducers, so its straggler overhang divides by n_salts —
            # stage 2 shuffles out×n_salts partial rows and merges.
            # The extra stage means this LOSES to the plain aggregate
            # unless the straggler term below is paying for it.
            s_ = op.n_salts
            top = _group_top_count(op, input_stats)
            if _has_payload_aggs(op):
                # stage 1 divides the hot key's insertion work over
                # n_salts reducers — but for payload aggregates stage 2
                # RE-SHUFFLES THE FULL PAYLOAD (lists concatenate; the
                # per-salt partials carry every element) and still
                # concatenates the hot key's array on ONE task.
                # Measured r7 (BENCHNOTES_r07.md): at 20M rows with a
                # 43%-hot key the salted plan is 0.85x the plain one,
                # and 100M rows confirms it — the extra full-payload
                # pass is never paid back, so this branch charges it
                # honestly and the payload flip is gone (r6's
                # plan-shape argument did not survive the clock).
                stage1 = rows[0] + 3.0 * rows[0] + 3.0 * max(
                    0.0, top / s_ - rows[0] / COMBINE_PARTITIONS
                )
                stage2 = 3.0 * rows[0] + max(
                    0.0, top - rows[0] / COMBINE_PARTITIONS
                )
                return stage1 + stage2 + out
            stage1 = rows[0] + 3.0 * min(
                rows[0], out * s_ * COMBINE_PARTITIONS
            )
            return stage1 + 3.0 * out * s_ + out
        if isinstance(op, P.PhysicalHashAggregate):
            # map-side partial agg then shuffle the partials: each of the
            # ~COMBINE_PARTITIONS upstream partitions emits at most one
            # partial row per group, so high-ndv group keys defeat the
            # combine and the shuffle costs the full input.  Getting this
            # right is what keeps EagerAggregationRule honest: pushing an
            # aggregate below a broadcast join ADDS a (barely-combining)
            # shuffle where none existed, and must lose.
            if _has_payload_aggs(op):
                # payload aggregates (collect_*) concatenate under the
                # map-side combine — bytes don't shrink, so the shuffle
                # carries the FULL input, and the hot key's whole payload
                # lands on ONE reducer.  The straggler term charges that
                # reducer's overhang beyond the fair share: makespan in
                # row units — the thing wall-clock tracks on a cluster.
                top = _group_top_count(op, input_stats)
                straggler = 3.0 * max(
                    0.0, top - rows[0] / COMBINE_PARTITIONS
                )
                return rows[0] + 3.0 * rows[0] + straggler
            return rows[0] + 3.0 * min(rows[0], out * COMBINE_PARTITIONS)
        if isinstance(op, P.PhysicalSort):
            n = max(rows[0] if rows else 2.0, 2.0)
            return 3.0 * n + 0.2 * n * math.log2(n)
        if isinstance(op, P.PhysicalTopK):
            # per-partition heap: one pass, no shuffle
            return rows[0] if rows else 1.0
        if isinstance(op, P.PhysicalDistinct):
            # same partial-combine bound as the hash aggregate above
            return rows[0] + 3.0 * min(rows[0], out * COMBINE_PARTITIONS)
        if isinstance(op, P.PhysicalUnion):
            return 0.01 * sum(rows)
        if isinstance(op, (P.PhysicalIntersect, P.PhysicalExcept)):
            # both sides hash-shuffled on all columns (semi/anti agg)
            return 3.0 * sum(rows) + out
        if isinstance(op, P.Exchange):
            return 3.0 * (rows[0] if rows else 1.0)

        from ...operators import extensions as X

        if isinstance(op, X.PhysicalAsofJoinUnion):
            # union both sides + ONE window shuffle over the merge
            return 4.0 * (rows[0] + rows[1])
        if isinstance(op, X.PhysicalBucketedRangeJoin):
            # shuffle points once, shuffle ~8 exploded buckets per interval
            return 3.0 * (rows[0] + 8.0 * rows[1]) + rows[0]
        if isinstance(op, X.PhysicalOverlapJoin):
            # both sides explode (~8 buckets each) + four-leg equi join
            return 3.0 * 8.0 * (rows[0] + rows[1]) + rows[0] + rows[1]
        if isinstance(op, X.PhysicalBroadcastOverlapJoin):
            if self._too_big_to_broadcast(
                rows[1], input_stats[1] if len(input_stats) > 1 else None
            ):
                return INF
            # ship intervals everywhere + per-left-row probe degrading
            # with the broadcast interval count (same calibration as
            # the broadcast range join)
            return 2.0 * rows[1] + rows[0] * max(1.0, 0.0015 * rows[1])
        if isinstance(op, X.PhysicalBroadcastRangeJoin):
            if self._too_big_to_broadcast(
                rows[1], input_stats[1] if len(input_stats) > 1 else None
            ):
                return INF
            # ship intervals everywhere + per-point probe that degrades
            # with the number of broadcast intervals (nested-loop-ish).
            # Probe factor calibrated against the measured crossover
            # (scripts/range_regime_bench.py, 150k points: the NLJ
            # still wins at 1k intervals, loses 4× at 20k — codegen'd
            # compares are ~2 ns each, far cheaper than the old 0.01
            # factor implied): 0.0015 puts the modeled crossover at
            # ~2.7k intervals, inside the measured [1k, 20k] band.
            return 2.0 * rows[1] + rows[0] * max(1.0, 0.0015 * rows[1])
        if isinstance(op, X.PhysicalEmbedQuantizeSql):
            # HOF lambdas evaluate INTERPRETED per array element, and
            # the pipeline folds the vector several times per row
            return 2.0 * (rows[0] if rows else 1.0) * max(op.dim, 1)
        if isinstance(op, X.PhysicalEmbedQuantizePandas):
            # one vectorized numpy pass per Arrow batch + the fixed
            # Python-worker/transfer overhead; loses to the SQL path on
            # tiny rows x dim, wins as either grows (VERDICT r6 item 6)
            return 0.25 * (rows[0] if rows else 1.0) * max(op.dim, 1) + 2000.0
        if isinstance(op, X.PhysicalKnnPq):
            # inline chain: assignment + (optional Lloyd) + encode over
            # EVERY corpus row, per query plan — the price the
            # persisted index exists to amortize
            return 3.0 * (rows[0] if rows else 1.0)
        if isinstance(op, X.PhysicalKnnIndexProbe):
            # codes-only ADC scan + bounded probe; training/encoding
            # were paid at build time.  Strictly under PhysicalKnnPq at
            # any row count so the race prefers a matching index.
            return 0.5 * (rows[0] if rows else 1.0) + 100.0
        if isinstance(op, X.PhysicalBpeTokens):
            # inline: the word-count shuffle + (merges+1) driver-loop
            # jobs of stage overhead, then the map-only replace chain
            return 3.0 * (rows[0] if rows else 1.0) + 5000.0
        if isinstance(op, X.PhysicalBpeModelProbe):
            # persisted merge table: the replace-chain count alone.
            # Strictly under PhysicalBpeTokens so a matching artifact
            # always wins the race.
            return 1.0 * (rows[0] if rows else 1.0) + 100.0
        if isinstance(op, X.PhysicalGenerate):
            return rows[0] if rows else 1.0
        if isinstance(op, X.PhysicalDocChunk):
            # map-only split+explode, no shuffle
            return rows[0] if rows else 1.0
        if isinstance(op, X.PhysicalStratifiedSample):
            # one window shuffle on the strata
            return 3.0 * (rows[0] if rows else 1.0)
        return 1.0


#: aggregates whose map-side combine does NOT shrink the shuffled bytes
#: (lists concatenate; every input row's payload travels and the hot
#: key's payload lands on one reducer) — the shapes the salted
#: alternative exists for.
_PAYLOAD_AGGS = {"collect_list", "collect_set", "array_agg"}


def _has_payload_aggs(op) -> bool:
    from ...expr import Alias, Cast, Func

    for a in getattr(op, "agg_exprs", ()) or ():
        e = a.expr if isinstance(a, Alias) else a
        while isinstance(e, Cast):
            e = e.expr
        if isinstance(e, Func) and e.name in _PAYLOAD_AGGS:
            return True
    return False


def _group_top_count(op, input_stats) -> float:
    """Mode frequency of the combined group key: bounded above by the
    smallest per-column mode (adding a key can only split groups), so
    take the MIN over group columns with a known ``top_count``; 0 =
    unknown (the straggler term then vanishes — no stats, no bets)."""
    from ...expr import Col

    s = input_stats[0] if input_stats else None
    if s is None:
        return 0.0
    tops = []
    for g in getattr(op, "group_exprs", ()) or ():
        if not isinstance(g, Col):
            return 0.0
        cs = s.col(g.name)
        if cs is None or cs.top_count <= 0:
            return 0.0
        tops.append(cs.top_count)
    return min(tops) if tops else 0.0


def _probe_key_top_count(op, input_stats) -> float:
    """Mode frequency of the LEFT (probe) side's combined join key —
    same bound as ``_group_top_count``: the tuple key's mode is at most
    the smallest per-column mode, so take the MIN over the probe keys;
    0 = any key without catalog stats (no stats, no bets)."""
    keys = getattr(op, "left_keys", ()) or ()
    s = input_stats[0] if input_stats else None
    if s is None or not keys:
        return 0.0
    tops = []
    for k in keys:
        cs = s.col(k)
        if cs is None or cs.top_count <= 0:
            return 0.0
        tops.append(cs.top_count)
    return min(tops)


def _equi_key_ndv_selectivity(condition, left_stats, right_stats):
    """Join selectivity from per-column ndv: for each equi conjunct
    ``l = r``, selectivity 1/max(ndv_l, ndv_r) (the textbook System-R
    estimate; ref declares the ndv field at ``stat.rs:6-21`` but never
    fills it).  Returns None when no conjunct has usable ndv on a
    side-attributable column pair."""
    from ...expr import BinOp, Col

    if left_stats is None or right_stats is None or condition is None:
        return None
    lcols = {name for name, _ in left_stats.columns}
    rcols = {name for name, _ in right_stats.columns}
    if not lcols and not rcols:
        return None
    conjuncts = (
        condition.conjuncts() if isinstance(condition, BinOp) else (condition,)
    )
    sel = None
    for c in conjuncts:
        if not (
            isinstance(c, BinOp)
            and c.op == "="
            and isinstance(c.left, Col)
            and isinstance(c.right, Col)
        ):
            continue
        a, b = c.left.name, c.right.name
        # attribute each side; skip ambiguous (self-join) names
        if a in lcols and b in rcols and a not in rcols and b not in lcols:
            lk, rk = a, b
        elif b in lcols and a in rcols and b not in rcols and a not in lcols:
            lk, rk = b, a
        else:
            continue
        ndv = max(left_stats.ndv(lk), right_stats.ndv(rk))
        if ndv <= 0:
            continue
        sel = (sel if sel is not None else 1.0) / ndv
    return sel


def _pred_class(pred) -> str:
    """Canonical predicate string used as the adaptive-correction key
    (per-(table, predicate-class), literals included — value-specific
    skew is exactly what footer stats misestimate)."""
    from ...expr import BinOp, Col, Lit

    if (
        isinstance(pred, BinOp)
        and isinstance(pred.left, Lit)
        and isinstance(pred.right, Col)
    ):
        swap = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}.get(
            pred.op, pred.op
        )
        return f"({pred.right.pretty()} {swap} {pred.left.pretty()})"
    return pred.pretty()


def filters_class(filters) -> str:
    """Order-independent key for a scan's pushed-filter SET."""
    return " & ".join(sorted(_pred_class(f) for f in filters))


def _predicate_selectivity(pred, stats) -> float:
    """Selectivity of one predicate expression against ``stats``
    (a ``Statistics`` or None): System-R with real bounds.

    * ``col = lit`` → 1/ndv (any literal type);
    * ``col < / <= / > / >= numeric-lit`` → linear interpolation over
      the column's parquet-footer [min, max];
    * conjunctions multiply, disjunctions add (capped);
    * anything else → the classic 1/4.

    Clamped to [1e-4, 1.0] per leaf so a predicate can never zero out a
    plan's cost.  The reference's statistics are ``todo!()``
    (stat.rs:6-21); this is the piece that lets a filtered fact table
    earn a broadcast it would not get at full size."""
    from ...expr import BinOp, Col, Lit

    if isinstance(pred, BinOp):
        if pred.op == "and":
            return max(
                1e-4,
                _predicate_selectivity(pred.left, stats)
                * _predicate_selectivity(pred.right, stats),
            )
        if pred.op == "or":
            return min(
                1.0,
                _predicate_selectivity(pred.left, stats)
                + _predicate_selectivity(pred.right, stats),
            )
        op, l, r = pred.op, pred.left, pred.right
        if isinstance(l, Lit) and isinstance(r, Col):
            l, r = r, l
            op = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}.get(op, op)
        if isinstance(l, Col) and isinstance(r, Lit):
            cs = stats.col(l.name) if stats is not None else None
            if op == "=":
                if cs is not None and cs.ndv > 1:
                    return max(1e-4, 1.0 / cs.ndv)
                return 0.25
            if (
                op in ("<", "<=", ">", ">=")
                and cs is not None
                and isinstance(r.value, (int, float))
                and not isinstance(r.value, bool)
            ):
                # equi-height histogram first (r9): the value
                # DISTRIBUTION, not a uniformity assumption — on
                # skewed data the linear interpolation below is off
                # by orders of magnitude
                hist = getattr(cs, "histogram", ()) or ()
                if len(hist) >= 3:
                    frac = _histogram_frac_le(hist, float(r.value))
                    sel = frac if op in ("<", "<=") else 1.0 - frac
                    return min(1.0, max(1e-4, sel))
                if cs.min is not None and cs.max is not None:
                    lo, hi = float(cs.min), float(cs.max)
                    if hi > lo:
                        frac = (float(r.value) - lo) / (hi - lo)
                        frac = min(max(frac, 0.0), 1.0)
                        sel = frac if op in ("<", "<=") else 1.0 - frac
                        return min(1.0, max(1e-4, sel))
    return 0.25


def _histogram_frac_le(edges, v: float) -> float:
    """Fraction of rows with value ≤ ``v`` under an equi-height
    histogram (``edges`` = B+1 ascending quantiles; every bin holds
    1/B of the rows).  Duplicate edges — a heavy value spanning whole
    bins — are handled by bisecting to the LAST edge ≤ v: all the
    zero-width bins it covers count as fully passed."""
    import bisect

    if v <= edges[0]:
        return 0.0
    if v >= edges[-1]:
        return 1.0
    nb = len(edges) - 1
    i = bisect.bisect_right(edges, v) - 1
    width = edges[i + 1] - edges[i]
    partial = (v - edges[i]) / width if width > 0 else 1.0
    return (i + partial) / nb


def _output_rows(op: Operator, input_rows, ctx=None, input_stats=None) -> float:
    """Crude output-cardinality estimate; also used as the derived
    statistics for parent operators (the reference's ``derive_statistics``
    is ``todo!()`` — this is our working version).  Accepts logical OR
    physical operators (groups derive stats from their logical exprs).
    When ``input_stats`` carry per-column ndv, joins use the System-R
    equi-key estimate and grouped aggregates the group-key ndv product."""
    from ...operators import logical as L

    if isinstance(op, L.LogicalScan):
        op = P.PhysicalTableScan(op.table_name, op.limit, op.filters, op.columns)
    elif isinstance(op, L.LogicalFilter):
        op = P.PhysicalFilter(op.predicate, op.projected_columns)
    elif isinstance(op, L.LogicalProjection):
        op = P.PhysicalProjection(op.exprs)
    elif isinstance(op, L.LogicalJoin):
        op = P.PhysicalHashJoin(op.join_type, op.condition)
    elif isinstance(op, L.LogicalLimit):
        op = P.PhysicalLimit(op.limit)
    elif isinstance(op, L.LogicalAggregate):
        op = P.PhysicalHashAggregate(op.group_exprs, op.agg_exprs)
    elif isinstance(op, L.LogicalSort):
        op = P.PhysicalSort(op.keys)
    elif isinstance(op, L.LogicalDistinct):
        op = P.PhysicalDistinct(op.columns)
    elif isinstance(op, L.LogicalUnion):
        op = P.PhysicalUnion()
    elif isinstance(op, L.LogicalIntersect):
        op = P.PhysicalIntersect()
    elif isinstance(op, L.LogicalExcept):
        op = P.PhysicalExcept()
    if isinstance(op, (L.LogicalValues, P.PhysicalValues)):
        return max(1.0, float(len(op.rows)))  # exact — data is in the plan
    if isinstance(op, P.PhysicalTableScan):
        base = 1e6
        tstats = None
        if ctx is not None and getattr(ctx, "catalog", None) is not None:
            try:
                tstats = ctx.catalog.statistics(op.table_name)
                base = tstats.row_count
            except Exception:
                pass
        for f in op.filters or ():
            base *= _predicate_selectivity(f, tstats)
        if op.filters and ctx is not None and getattr(ctx, "catalog", None) is not None:
            # adaptive feedback (VERDICT r6 item 8): EXPLAIN ANALYZE
            # records actual/estimated factors for grossly misestimated
            # filtered scans; the next plan multiplies them back in here
            corr_fn = getattr(ctx.catalog, "selectivity_correction", None)
            if corr_fn is not None:
                base *= corr_fn(op.table_name, filters_class(op.filters))
                if tstats is not None and tstats.row_count > 0:
                    base = min(base, tstats.row_count)
        if op.limit is not None:
            base = min(base, float(op.limit))
        return max(base, 1.0)
    if isinstance(op, (P.PhysicalFilter,)):
        sel = _predicate_selectivity(
            op.predicate,
            input_stats[0] if input_stats else None,
        )
        return max((input_rows[0] if input_rows else 1.0) * sel, 1.0)
    if isinstance(op, (P.PhysicalProjection, P.PhysicalSort, P.Exchange)):
        return input_rows[0] if input_rows else 1.0
    if isinstance(op, P.PhysicalLimit):
        return min(input_rows[0] if input_rows else INF, float(op.limit))
    if isinstance(op, P.PhysicalTopK):
        return float(op.limit)
    if isinstance(
        op, (P.PhysicalHashJoin, P.PhysicalBroadcastHashJoin, P.PhysicalSortMergeJoin)
    ):
        if input_stats is not None and len(input_stats) == 2:
            sel = _equi_key_ndv_selectivity(
                getattr(op, "condition", None), input_stats[0], input_stats[1]
            )
            if sel is not None:
                return max(1.0, input_rows[0] * input_rows[1] * sel)
        # no ndv: assume FK→PK, output ≈ probe side
        return max(input_rows[0], 1.0)
    if isinstance(op, P.PhysicalHashAggregate):
        n = input_rows[0] if input_rows else 1.0
        if not op.group_exprs:
            return 1.0
        if input_stats is not None and input_stats and input_stats[0] is not None:
            from ...expr import Col

            ndvs = [
                input_stats[0].ndv(g.name) if isinstance(g, Col) else 0.0
                for g in op.group_exprs
            ]
            if all(v > 0 for v in ndvs):
                prod = 1.0
                for v in ndvs:
                    prod *= v
                return max(1.0, min(n, prod))
        return max(1.0, n ** 0.5)
    if isinstance(op, P.PhysicalDistinct):
        n = input_rows[0] if input_rows else 1.0
        return max(1.0, 0.5 * n)
    if isinstance(op, P.PhysicalUnion):
        return sum(input_rows) if input_rows else 1.0
    if isinstance(op, P.PhysicalIntersect):
        return max(1.0, 0.25 * min(input_rows)) if input_rows else 1.0
    if isinstance(op, P.PhysicalExcept):
        return max(1.0, 0.5 * input_rows[0]) if input_rows else 1.0

    from ...operators import extensions as X

    if isinstance(op, (X.LogicalAsofJoin, X.PhysicalAsofJoinUnion)):
        return input_rows[0] if input_rows else 1.0  # exactly one row per left row
    if isinstance(
        op,
        (X.LogicalRangeJoin, X.PhysicalBucketedRangeJoin, X.PhysicalBroadcastRangeJoin),
    ):
        return max(1.0, input_rows[0]) if input_rows else 1.0
    if isinstance(
        op,
        (X.LogicalIntervalOverlapJoin, X.PhysicalOverlapJoin,
         X.PhysicalBroadcastOverlapJoin),
    ):
        # nominal few overlaps per left interval
        return max(1.0, 2.0 * input_rows[0]) if input_rows else 1.0
    if isinstance(op, (X.LogicalUnnest, X.PhysicalGenerate)):
        # nominal array fan-out; real plans carry 32-64-wide embeddings
        return 32.0 * (input_rows[0] if input_rows else 1.0)
    if isinstance(op, (X.LogicalDocChunk, X.PhysicalDocChunk)):
        # nominal ~4 chunks per document
        return 4.0 * (input_rows[0] if input_rows else 1.0)
    if isinstance(op, (X.LogicalStratifiedSample, X.PhysicalStratifiedSample)):
        n = input_rows[0] if input_rows else 1.0
        return max(1.0, min(n, float(op.k) * max(1.0, n ** 0.25)))
    return input_rows[0] if input_rows else 1.0


def derive_stats(op: Operator, input_stats, ctx=None) -> Statistics:
    rows = [s.row_count if s is not None else 1e6 for s in input_stats]
    out_rows = _output_rows(op, rows, ctx, input_stats)
    return Statistics(
        row_count=out_rows,
        columns=_propagate_columns(op, input_stats, ctx, out_rows),
        avg_row_bytes=_propagate_width(op, input_stats, ctx),
    )


def _propagate_width(op: Operator, input_stats, ctx) -> float:
    """Carry avg_row_bytes up the plan: scans seed from the catalog
    (scaled down by column pruning), JOINS concatenate both sides'
    widths, set ops (union/intersect/except) keep ONE side's width
    (their output has one side's columns — summing would double-count
    and can make ``_too_big_to_broadcast`` refuse a genuinely small
    build side), projections narrow by their output column count.
    0.0 = unknown."""
    from ...operators import extensions as X
    from ...operators import logical as L

    table = getattr(op, "table_name", None)
    if table is not None and ctx is not None and getattr(ctx, "catalog", None):
        try:
            stats = ctx.catalog.statistics(table)
            width = stats.avg_row_bytes
            pruned = getattr(op, "columns", None)
            if width > 0 and pruned:
                total = len(ctx.catalog.schema(table).fields) or 1
                width *= max(1, len(pruned)) / total
            return width
        except Exception:
            return 0.0
    widths = [s.avg_row_bytes for s in input_stats if s is not None]
    if not widths:
        return 0.0
    if len(widths) >= 2:
        join_like = (
            L.LogicalJoin,
            P.PhysicalHashJoin,
            P.PhysicalBroadcastHashJoin,
            P.PhysicalSortMergeJoin,
            X.LogicalAsofJoin,
            X.PhysicalAsofJoinUnion,
            X.LogicalRangeJoin,
            X.PhysicalBucketedRangeJoin,
            X.PhysicalBroadcastRangeJoin,
            X.LogicalIntervalOverlapJoin,
            X.PhysicalOverlapJoin,
            X.PhysicalBroadcastOverlapJoin,
        )
        if isinstance(op, join_like):
            return sum(widths)
        return max(widths)
    width = widths[0]
    exprs = getattr(op, "exprs", None)
    if (
        isinstance(op, (L.LogicalProjection, P.PhysicalProjection))
        and exprs
        and input_stats[0] is not None
        and input_stats[0].columns
    ):
        total = len(input_stats[0].columns)
        if total > len(exprs):
            width *= len(exprs) / total
    return width


def affine_of(e):
    """Resolve an expression to ``(src_col, a, b)`` meaning value =
    ``a * src + b`` — the shape derived interval bounds take
    (``o_totalprice + 30000 AS e1``, ``n_nationkey * 40000 AS s2``).
    Unwraps Alias/Cast; composes ``+ - *`` with a numeric literal on
    either side (``-`` only literal-on-right).  None = not affine.

    Why it matters at 100 TB: min/max column stats die at the first
    projection that renames or shifts a column — and derived tables are
    where interval joins and range predicates actually live.  Affine
    tracking keeps the footer bounds alive through those projections,
    so stats-derived bucket widths and the overlap join's skew gate see
    real numbers instead of fallbacks."""
    from ...expr import Alias, BinOp, Cast, Col, Lit

    if isinstance(e, (Alias, Cast)):
        return affine_of(e.expr)
    if isinstance(e, Col):
        return (e.name, 1.0, 0.0)
    if isinstance(e, BinOp) and e.op in ("+", "-", "*"):
        l, r = e.left, e.right
        if isinstance(r, Lit) and isinstance(r.value, (int, float)):
            base = affine_of(l)
            if base is not None:
                s, a, b = base
                v = float(r.value)
                if e.op == "+":
                    return (s, a, b + v)
                if e.op == "-":
                    return (s, a, b - v)
                return (s, a * v, b * v)
        if isinstance(l, Lit) and isinstance(l.value, (int, float)) and e.op in (
            "+", "*",
        ):
            base = affine_of(r)
            if base is not None:
                s, a, b = base
                v = float(l.value)
                if e.op == "+":
                    return (s, a, b + v)
                return (s, a * v, b * v)
    return None


def _project_columns(exprs, in_cols):
    """Column stats THROUGH a projection: renames pass their source's
    stats, affine exprs map the [min, max] bounds (negative scale flips
    them); non-affine outputs carry no stats.  ndv/top_count are
    preserved (an injective affine map keeps both exactly)."""
    from ...operators.properties import ColumnStatistics
    from ...operators.logical import output_name

    src = dict(in_cols)
    out = []
    for e in exprs:
        aff = affine_of(e)
        if aff is None:
            continue
        s, a, b = aff
        cs = src.get(s)
        if cs is None:
            continue
        name = output_name(e)
        if a == 1.0 and b == 0.0:
            out.append((name, cs))
            continue
        if cs.min is None or cs.max is None or a == 0.0:
            out.append(
                (name, ColumnStatistics(ndv=cs.ndv, top_count=cs.top_count))
            )
            continue
        lo, hi = a * float(cs.min) + b, a * float(cs.max) + b
        if lo > hi:
            lo, hi = hi, lo
        out.append(
            (
                name,
                ColumnStatistics(
                    ndv=cs.ndv, min=lo, max=hi, top_count=cs.top_count
                ),
            )
        )
    return tuple(out)


def _propagate_columns(op: Operator, input_stats, ctx, out_rows: float):
    """Carry per-column ndv up the plan: scans seed from the catalog,
    joins union both sides, grouped aggregates/distincts keep their key
    columns; everything else passes its input through.  ndv is capped at
    the node's output row count (a column can't have more distinct values
    than rows)."""
    from ...expr import Col
    from ...operators.properties import ColumnStatistics

    table = getattr(op, "table_name", None)
    if table is not None and ctx is not None and getattr(ctx, "catalog", None):
        try:
            cols = ctx.catalog.statistics(table).columns
        except Exception:
            return ()
    elif len(input_stats) >= 2:
        seen: dict = {}
        for s in input_stats:
            if s is None:
                continue
            for name, cs in s.columns:
                seen.setdefault(name, cs)
        cols = tuple(seen.items())
    elif input_stats and input_stats[0] is not None:
        cols = input_stats[0].columns
        exprs = getattr(op, "exprs", None)
        if exprs is not None:  # Projection: rename/affine-map the stats
            cols = _project_columns(exprs, cols)
        group_exprs = getattr(op, "group_exprs", None)
        if group_exprs is not None:
            keep = {g.name for g in group_exprs if isinstance(g, Col)}
            cols = tuple((n, cs) for n, cs in cols if n in keep)
    else:
        return ()
    # direct construction instead of dataclasses.replace — this runs
    # once per memo expression per column and replace()'s field
    # introspection was ~10% of q8's total planning time
    return tuple(
        (
            n,
            ColumnStatistics(
                ndv=out_rows, min=cs.min, max=cs.max, top_count=cs.top_count
            )
            if cs.ndv > out_rows
            else cs,
        )
        for n, cs in cols
    )


def static_plan_cost(plan, cost_model: CostModel, ctx=None) -> float:
    """Total modeled cost of an EXTRACTED physical plan tree: bottom-up
    ``derive_stats`` + per-operator ``estimate_cost`` sum — the same two
    pieces the cascades search combines inside ``OptimizeInputs``
    (ref ``cost/mod.rs:30-35``: children accumulate outside the model).

    This exists so tests can compare two candidate plans' modeled costs
    OUTSIDE the memo — e.g. prove the explored join order is cheaper
    than the textual one under the very model that chose it.  Enforcer
    ``Exchange`` nodes are costed like any other operator (extracted
    plans carry them explicitly)."""

    def walk(node):
        kids = [walk(c) for c in node.inputs]
        stats = [k[1] for k in kids]
        cost = cost_model.estimate_cost(node.operator, stats, ctx) + sum(
            k[0] for k in kids
        )
        return cost, derive_stats(node.operator, stats, ctx)

    return walk(plan.root)[0]
