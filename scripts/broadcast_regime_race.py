"""Broadcast-regime join-order race (VERDICT r7 item 1).

Round 7 proved the DP join enumeration wins in the SHUFFLE regime
(shuffle_regime_bench.py: 3.87x on the dim chain), but its picks in the
DEFAULT broadcast regime — where every TPC-H query actually runs at
sf0.1 — were adopted on modeled cost alone, and the judge measured
q_sql_q8 ~1.5x SLOWER than the greedy (r6) order it replaced.

This script races the join order enumeration's greedy pass (GOO, forced
by setting ``join_order.MAX_EXACT_PAIRS`` to 0 while that variant is
planned) against its exact DPccp enumeration at DEFAULT thresholds on
the TPC-H comma-join queries that exercise join ordering (Q5-shape, Q7,
Q8, Q9, Q10), interleaved medians per the BENCHNOTES_r06 protocol.  It
prints each variant's physical join spine so a plan diff accompanies
every number.

The acceptance bar (VERDICT): the exact pick wins or ties on every raced
query — and where it loses, the cost constants get recalibrated so the
race keeps the incumbent.

Usage: python scripts/broadcast_regime_race.py [--sf-dir DIR] [--runs N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shuffle_regime_bench import noop, race  # noqa: E402


def join_spine(plan) -> str:
    """Compact rendering of the physical join tree: leaf table names and
    join strategy initials, parenthesized by structure."""
    from datafusion_dolomite_spark.operators import physical as P

    def walk(node):
        op = node.operator
        if isinstance(op, P.PhysicalTableScan):
            return op.table_name
        kids = [walk(c) for c in node.inputs]
        name = type(op).__name__
        if "Join" in name:
            tag = {
                "PhysicalBroadcastHashJoin": "B",
                "PhysicalHashJoin": "H",
                "PhysicalSortMergeJoin": "S",
                "PhysicalSaltedReplicateJoin": "R",
            }.get(name, "J")
            return f"({kids[0]} {tag} {kids[1]})"
        if len(kids) == 1:
            return kids[0]
        return "[" + " ".join(kids) + "]"

    return walk(plan.root)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=5)
    args = ap.parse_args()

    from datafusion_dolomite_spark import QueryPlanner
    from datafusion_dolomite_spark.execute import to_spark
    from datafusion_dolomite_spark.optimizer.cascades import join_order
    from datafusion_dolomite_spark.session import get_spark
    from datafusion_dolomite_spark.sources.catalog import Catalog
    from datafusion_dolomite_spark.sql import parse_sql

    spark = get_spark("broadcast-regime")
    cat = Catalog()
    for t in (
        "lineitem", "orders", "customer", "part",
        "supplier", "nation", "region",
    ):
        cat.register(t, os.path.join(args.sf_dir, f"{t}.parquet"))

    def greedy_optimize(plan):
        exact = join_order.MAX_EXACT_PAIRS
        join_order.MAX_EXACT_PAIRS = 0
        try:
            return qp_gr.optimize(plan)
        finally:
            join_order.MAX_EXACT_PAIRS = exact

    qp_dp = QueryPlanner(spark, cat)
    qp_gr = QueryPlanner(spark, cat)

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as E

    queries = {
        "q5": (
            "select n_name, count(*) as n "
            "from customer, orders, lineitem, supplier, nation, region "
            "where c_custkey = o_custkey and l_orderkey = o_orderkey "
            "and l_suppkey = s_suppkey and c_nationkey = s_nationkey "
            "and s_nationkey = n_nationkey and n_regionkey = r_regionkey "
            "and r_name = 'ASIA' group by n_name"
        ),
        "q7": E._SQL_Q7,
        "q8": E._SQL_Q8,
        "q9": E._SQL_Q9,
        "q10": E._SQL_Q10,
    }

    results: dict = {}
    rows: list = []
    for name, sql in queries.items():
        p_dp = qp_dp.optimize(parse_sql(sql, cat))
        p_gr = greedy_optimize(parse_sql(sql, cat))
        s_dp, s_gr = join_spine(p_dp), join_spine(p_gr)
        same = s_dp == s_gr
        print(f"{name}: greedy {s_gr}", file=sys.stderr)
        print(f"{name}: dp     {s_dp}{'  (SAME)' if same else ''}",
              file=sys.stderr)
        if same:
            results[name] = {"greedy": None, "dp": None, "same_plan": True}
            continue
        r = race(spark, {
            "greedy": lambda p=p_gr: noop(to_spark(p, spark, cat)),
            "dp": lambda p=p_dp: noop(to_spark(p, spark, cat)),
        }, args.runs)
        results[name] = {**r, "same_plan": False}
        rows.append((name, r["greedy"], r["dp"]))

    print("\n| query | greedy (s) | DP (s) | DP/greedy |")
    print("|---|---|---|---|")
    for name, g, d in rows:
        print(f"| {name} | {g:.3f} | {d:.3f} | {d / g:.2f}x |")
    print(json.dumps({"broadcast_regime_race": results}))


if __name__ == "__main__":
    main()
