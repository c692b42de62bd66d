"""Single-stage regime A/B: one interpreted Spark stage vs the multi-stage
lowering, per TPC-H shape and scale.

``QueryPlanner.dataframe`` runs a statement as one Spark stage with
interpreted expressions when the catalog row counts of its scanned tables
sum to at most ``SINGLE_STAGE_INPUT_ROWS`` (``optimizer/cascades/cost.py``).
This script measures where that pays: for each of the 22 TPC-H shapes of
``perfbench/tpch_shapes.py`` at each scale it runs both regimes in
alternating order (odd pairs single-stage first), forcing the regime by
setting the threshold to +inf or -1, on one SparkSession with a fresh
planner per statement (no prepared-plan or prepared-DataFrame cache hits)
and the same literals within a pair (fresh literals per pair).  One
untimed warm-up pair per shape runs first.

Per shape it reports the input rows that decide the regime, the median
wall ms of ``sql()`` + ``collect()``, Spark jobs and Janino compiles
(``CodegenMetrics``) per statement, whether both regimes returned the same
rows, and the regime the committed threshold picks.  The crossover is the
largest input where single-stage won and the smallest where it lost.

Usage:
    python scripts/single_stage_regime.py [--sf-dirs D1,D2] [--pairs N]
        [--shapes q1,q2] [--cpus N] [--seed S] [--out FILE]

Writes the JSON to ``--out`` (default ``SINGLE_STAGE_REGIME.json``) and
prints one line per shape.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


def run_one(spark, catalog, query: str, single: bool, tag: str):
    """(ms, jobs, compiles, input rows, sorted rows) of one statement run
    in the forced regime on a fresh planner."""
    from datafusion_dolomite_spark import QueryPlanner
    from datafusion_dolomite_spark.optimizer.cascades import cost

    sc = spark.sparkContext
    metrics = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    saved = cost.SINGLE_STAGE_INPUT_ROWS
    cost.SINGLE_STAGE_INPUT_ROWS = float("inf") if single else -1
    try:
        qp = QueryPlanner(spark, catalog)
        sc.setJobGroup(tag, tag)
        c0 = metrics.METRIC_COMPILATION_TIME().getCount()
        t0 = time.perf_counter()
        rows = qp.sql(query).collect()
        ms = (time.perf_counter() - t0) * 1000.0
        compiles = metrics.METRIC_COMPILATION_TIME().getCount() - c0
        jobs = len(sc.statusTracker().getJobIdsForGroup(tag))
        input_rows = (qp.last_planning_stats or {}).get("regime_input_rows")
    finally:
        cost.SINGLE_STAGE_INPUT_ROWS = saved
    return ms, jobs, compiles, input_rows, sorted(map(repr, rows))


def measure(spark, sf_dir: str, pairs: int, seed: int, shapes=None) -> list:
    import tpch_shapes as T

    from datafusion_dolomite_spark import testdata_catalog
    from datafusion_dolomite_spark.optimizer.cascades import cost

    catalog = testdata_catalog(sf_dir)
    n_cust = int(catalog.statistics("customer").row_count)
    rng = random.Random(seed)
    out = []
    for shape in shapes or T.SHAPES:
        runs = {True: [], False: []}
        same = True
        input_rows = None
        for i in range(pairs + 1):  # pair 0 is the untimed warm-up
            query = T.render(shape, T.draw_params(rng, n_cust))
            order = (True, False) if i % 2 else (False, True)
            got = {}
            for single in order:
                tag = f"{os.path.basename(sf_dir)}-{shape}-{i}-{int(single)}"
                ms, jobs, comp, rows_in, rows = run_one(
                    spark, catalog, query, single, tag
                )
                got[single] = rows
                input_rows = rows_in
                if i:
                    runs[single].append((ms, jobs, comp))
            same &= got[True] == got[False]

        def med(single, k):
            return statistics.median(r[k] for r in runs[single])

        eligible = input_rows is not None
        rec = {
            "shape": shape,
            "input_rows": input_rows,
            "eligible": eligible,
            "same_rows": same,
            "ms_single": round(med(True, 0), 1),
            "ms_multi": round(med(False, 0), 1),
            "jobs_single": med(True, 1),
            "jobs_multi": med(False, 1),
            "compiles_single": med(True, 2),
            "compiles_multi": med(False, 2),
            "chosen": (
                "single_stage"
                if eligible and input_rows <= cost.SINGLE_STAGE_INPUT_ROWS
                else "multi_stage"
            ),
        }
        print(json.dumps(rec), flush=True)
        out.append(rec)
    return out


def crossover(records) -> dict:
    """Largest input where single-stage won, smallest where it lost
    (eligible shapes only)."""
    won = [r["input_rows"] for r in records
           if r["eligible"] and r["ms_single"] < r["ms_multi"]]
    lost = [r["input_rows"] for r in records
            if r["eligible"] and r["ms_single"] >= r["ms_multi"]]
    return {
        "max_rows_single_won": max(won) if won else None,
        "min_rows_single_lost": min(lost) if lost else None,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--sf-dirs",
        default="/root/testdata/sf0.01,/root/testdata/sf0.1",
        help="comma-separated TPC-H parquet directories",
    )
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--shapes", default="", help="comma-separated subset")
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 4)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--out", default=os.path.join(ROOT, "SINGLE_STAGE_REGIME.json"))
    args = ap.parse_args()

    from datafusion_dolomite_spark.optimizer.cascades import cost
    from datafusion_dolomite_spark.session import get_spark

    spark = get_spark("single-stage-regime", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        legs = {}
        for sf_dir in args.sf_dirs.split(","):
            records = measure(
                spark, sf_dir, args.pairs, args.seed,
                [s for s in args.shapes.split(",") if s],
            )
            chosen = [r for r in records if r["chosen"] == "single_stage"]
            legs[os.path.basename(sf_dir)] = {
                "shapes": records,
                "total_ms_single": round(sum(r["ms_single"] for r in records), 1),
                "total_ms_multi": round(sum(r["ms_multi"] for r in records), 1),
                "total_ms_chosen": round(
                    sum(r["ms_single"] if r in chosen else r["ms_multi"]
                        for r in records), 1
                ),
                "chosen_single_slower": [
                    r["shape"] for r in chosen
                    if r["ms_single"] > r["ms_multi"]
                ],
                **crossover(records),
            }
        result = {
            "threshold": cost.SINGLE_STAGE_INPUT_ROWS,
            "pairs": args.pairs,
            "seed": args.seed,
            "cpus": args.cpus,
            "host": {
                "nproc": os.cpu_count(),
                "python": platform.python_version(),
                "spark": spark.version,
            },
            "legs": legs,
        }
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    for name, leg in result["legs"].items():
        print(name, {k: v for k, v in leg.items() if k != "shapes"})


if __name__ == "__main__":
    main()
