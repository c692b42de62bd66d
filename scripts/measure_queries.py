"""Per-query measurement harness for the optimization rounds (guide §1).

For each named query (default: all), measures separately:
  * plan_sec  — time for ``fn(spark, sf_dir)`` to RETURN a DataFrame
                (our Python optimizer: builder/SQL -> Hep -> Cascades ->
                to_spark, plus Spark analysis)
  * exec_sec  — warm noop-sink execution time (min of 2, after 1 warm-up)
  * static_plan_cost — modeled cost (``static_plan_cost``) of every
                physical plan Cascades produced while the query was
                built the first time, summed
  * cascades  — the Cascades ``planning_stats`` of those same plans,
                summed: ``groups``, ``exprs`` and ``seconds``
  * plan_digest — a hash of those plans' ``explain()`` text, with the
                numbers in generated helper names (``__in3_key``,
                ``_scalar_2``) normalized away, so two trees can be
                compared plan by plan
and optionally dumps ``explain('formatted')`` to ``plans/r13/<q>_<tag>.txt``.

Usage:
    python scripts/measure_queries.py [--plans TAG] [--runs N] [q_name ...]

``--runs 0`` skips execution entirely (planning figures only).  Each
query gets a fresh planner (the registry otherwise shares one per
session and data directory), so its figures do not depend on which
queries ran before it.
Prints one JSON line per query so runs can be diffed, plus a summary.
This script is measurement-only: it never changes what a query computes.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

#: an identifier starting with ``_`` (a parser-generated helper column
#: such as ``__na2_cnt`` or ``_scalar_1``): its digits are a counter
#: whose value depends on parse order, not on the plan
_HELPER = re.compile(r"\b_\w+")

#: the checkout root: plans that name a file under it (an ANN index in
#: the warehouse) name the same file in any checkout
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def plan_digest(plans) -> str:
    """Hash of the ``explain()`` text of ``plans``, in order, with the
    numbers inside generated helper names replaced by ``#`` and the
    checkout root by ``<repo>``."""
    h = hashlib.sha256()
    for p in plans:
        text = p.explain().replace(_REPO, "<repo>")
        text = _HELPER.sub(lambda m: re.sub(r"\d+", "#", m.group()), text)
        h.update(text.encode())
        h.update(b"\0")
    return h.hexdigest()[:16]


def main() -> None:
    args = [a for a in sys.argv[1:]]
    plans_tag = None
    runs = 2
    while args and args[0].startswith("--"):
        if args[0] == "--plans":
            plans_tag = args[1]
            args = args[2:]
        elif args[0] == "--runs":
            runs = int(args[1])
            args = args[2:]
        else:
            raise SystemExit(f"unknown flag {args[0]}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, _REPO)

    from datafusion_dolomite_spark.optimizer.cascades.cost import (
        static_plan_cost,
    )
    from datafusion_dolomite_spark.planner import QueryPlanner
    from datafusion_dolomite_spark.session import get_spark

    import __spark_entry__ as entry_mod

    # every physical plan Cascades returns while a query is built: its
    # modeled cost and the memo's size, summed per query below
    optimized: list = []
    optimize_physical = QueryPlanner.optimize_physical

    def recording_optimize_physical(self, plan):
        out = optimize_physical(self, plan)
        st = getattr(self, "last_planning_stats", None) or {}
        optimized.append(
            (static_plan_cost(out, self.cost_model, self.ctx), st, out)
        )
        return out

    QueryPlanner.optimize_physical = recording_optimize_physical

    spark = get_spark("ddspark-measure")
    qs = entry_mod.queries()
    names = args if args else list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    plans_dir = os.path.join(_REPO, "plans", os.environ.get("PLANS_ROUND", "r14"))
    if plans_tag:
        os.makedirs(plans_dir, exist_ok=True)

    out = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"measure:{name}")
        optimized.clear()
        entry_mod._PLANNERS.clear()
        try:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            plan_sec = time.perf_counter() - t0
            plan_rec = {
                "static_plan_cost": sum(c for c, _, _ in optimized),
                "plan_digest": plan_digest(p for _, _, p in optimized),
                "cascades": {
                    k: sum(st.get(k, 0) for _, st, _ in optimized)
                    for k in ("groups", "exprs", "seconds")
                },
            }
            plan_rec["cascades"]["seconds"] = round(
                plan_rec["cascades"]["seconds"], 4
            )
            if runs == 0:
                out[name] = {"plan_cold_sec": round(plan_sec, 4), **plan_rec}
                print(json.dumps({name: out[name]}), flush=True)
                continue
            if plans_tag:
                p = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                with open(
                    os.path.join(plans_dir, f"{name}_{plans_tag}.txt"), "w"
                ) as f:
                    f.write(p)
            # warm-up
            df.write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
            best = float("inf")
            replan = float("inf")
            for _ in range(runs):
                t0 = time.perf_counter()
                df2 = fn(spark, sf_dir)
                t1 = time.perf_counter()
                df2.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                replan = min(replan, t1 - t0)
                best = min(best, t2 - t1)
                spark.catalog.clearCache()
            rec = {
                "plan_cold_sec": round(plan_sec, 4),
                "plan_warm_sec": round(replan, 4),
                "exec_sec": round(best, 4),
                "total_sec": round(replan + best, 4),
                **plan_rec,
            }
        except Exception as e:
            rec = {"error": f"{type(e).__name__}: {e}"}
        finally:
            spark.catalog.clearCache()
            import gc

            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)

    ok = {n: r for n, r in out.items() if "error" not in r}
    print(
        json.dumps(
            {
                "summary": {
                    "n": len(out),
                    "n_err": len(out) - len(ok),
                    "plan_warm_total": round(
                        sum(r.get("plan_warm_sec", 0.0) for r in ok.values()), 2
                    ),
                    "exec_total": round(
                        sum(r.get("exec_sec", 0.0) for r in ok.values()), 2
                    ),
                    "total": round(
                        sum(r.get("total_sec", 0.0) for r in ok.values()), 2
                    ),
                    "static_plan_cost_total": sum(
                        r["static_plan_cost"] for r in ok.values()
                    ),
                    "cascades_seconds_total": round(
                        sum(r["cascades"]["seconds"] for r in ok.values()), 2
                    ),
                }
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
