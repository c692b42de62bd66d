#!/usr/bin/env python3
"""Benchmark of the engine, end to end and layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload tpch_adhoc --seed 1 --seconds 15 --trace 0

One process is one closed-loop client on a ``local[nproc]`` Spark session.
The run generates its inputs from ``--seed``, starts Spark, warms the
JVM up once on separate inputs, then sets up ``SETUPS`` times (new Spark
session on the running context, fresh temporary warehouse, new planner,
each over a fresh copy of the inputs at new paths) and keeps the last.  It sends whole passes of statements, as many
as take ``--seconds`` seconds on a 4-core host (a fixed amount of work, so
runs of faster or slower code stay comparable), checks every result
against DuckDB outside the timed section, and prints a run record line
followed by one JSON result line.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` first runs
the same untraced phase, sets up again over another fresh copy of the
inputs, then repeats the same statement
sequence with spans at every layer boundary, and reports the per-layer
metrics plus the tracing overhead (traced minus untraced median latency).
Everything the run writes lives under ``.bench_work/`` (removed at exit)
and ``.bench_out/`` (span dumps of traced runs) in the current directory.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3
HEAP = "2g"
#: units of the end-to-end figures the run record reports besides the
#: gated metrics of BENCHMARK.json
RECORD_UNITS = {
    "latency_p90_ms": "ms", "write_p50_ms": "ms", "write_p90_ms": "ms",
    "pipeline_p50_ms": "ms", "write_amp": "ratio", "space_amp": "ratio",
    "error_rate": "ratio", "latency_samples": "count", "write_samples": "count",
    "pipeline_samples": "count", "peak_rss_mb": "MB",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_ticks() -> tuple:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return (0, 0)
    return (fields[7], sum(fields))


def _steal_share(start: tuple) -> float:
    """The share of CPU time the hypervisor gave to other guests since
    ``start`` (a ``_cpu_ticks()`` reading)."""
    steal, total = (b - a for a, b in zip(start, _cpu_ticks()))
    return steal / total if total else 0.0


def _prepare_env(root: str, work: str) -> None:
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM spark-submit starts (launcher and driver) keeps its temp
    # files in the run directory and writes no perf-data file elsewhere
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    # Python workers import the engine's modules by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    for p in (BENCH_DIR, root):
        if p not in sys.path:
            sys.path.insert(0, p)


def _launch_jvm() -> float:
    from pyspark import SparkConf, SparkContext

    t0 = time.perf_counter()
    SparkContext._ensure_initialized(
        conf=SparkConf()
        .set("spark.driver.memory", HEAP)
        .set("spark.ui.showConsoleProgress", "false")
    )
    return time.perf_counter() - t0


def _stop_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


@dataclass(slots=True)
class Sample:
    kind: str
    ms: float
    ok: bool
    rows: int
    shape: str
    error: str | None
    steal: float = 0.0


def timed_phase(wl, spark, seconds: float, tracer=None, status=None) -> list:
    """Send ``round(seconds / wl.PASS_SECONDS)`` whole passes of statements
    (at least one).  Checks, replays and status-store reads run between
    statements and are not timed."""
    sc = spark.sparkContext
    samples = []
    n = max(1, round(seconds / wl.PASS_SECONDS)) * wl.PASS
    for i, st in enumerate(itertools.islice(wl.statements(wl.seed), n), 1):
        ok, error, df, rows = True, None, None, None
        if tracer is not None:
            tracer.stmt = i
            tracer.active = True
            sc.setJobGroup(f"s{i}-build", st.shape)
        ticks0 = _cpu_ticks()
        t0 = time.perf_counter()
        try:
            with _span(tracer, "statement"):
                with _span(tracer, "functions.build" if st.kind == "pipeline"
                           else "harness.build"):
                    df = wl.build(st)
                if df is not None:
                    if tracer is not None:
                        sc.setJobGroup(f"s{i}-action", st.shape)
                    with _span(tracer, "spark.action"):
                        rows = df.collect()
        except Exception as e:  # a failed statement counts, the run goes on
            ok, error = False, f"{type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t0
        steal = _steal_share(ticks0)
        if tracer is not None:
            tracer.active = False
            _record_spark(tracer, status, i, st)
        if ok:
            try:
                if st.kind == "write":
                    info = wl.after_write(st)
                    if tracer is not None:
                        for k, v in info.items():
                            tracer.count(f"dml.{k}", v)
                else:
                    ok = wl.check(st, list(df.columns), [tuple(r) for r in rows])
                    if not ok:
                        error = "result differs from DuckDB"
            except Exception as e:
                ok, error = False, f"check failed: {type(e).__name__}: {str(e)[:300]}"
        samples.append(Sample(st.kind, dt * 1000.0, ok, st.input_rows, st.shape, error, steal))
    return samples


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _record_spark(tracer, status, i, st) -> None:
    build = status.group(f"s{i}-build")
    action = status.group(f"s{i}-action")
    if st.kind != "write":
        tracer.count("functions.eager_jobs", build.get("jobs", 0))
        tracer.count("functions.eager_ms", build.get("job_ms", 0))
    for key in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
                "input_rows", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                "spill_bytes"):
        tracer.count(f"spark.{key}", action.get(key, 0))


def end_to_end(samples, setup_times, storage) -> tuple:
    """The gated end-to-end metrics, and the figures reported in the run
    record only."""
    reads = [s.ms for s in samples if s.kind == "read" and s.ok]
    writes = [s.ms for s in samples if s.kind == "write" and s.ok]
    busy_s = sum(s.ms for s in samples) / 1000.0
    done = [s for s in samples if s.ok]
    out = {
        "setup_s": statistics.median(setup_times),
        "latency_p50_ms": statistics.median(reads) if reads else float("nan"),
        "stmts_per_s": len(done) / busy_s,
        "input_rows_per_s": sum(s.rows for s in done) / busy_s,
    }
    extra = {"latency_samples": len(reads), "write_samples": len(writes),
             "error_rate": sum(not s.ok for s in samples) / len(samples)}
    if len(reads) >= 100:  # at least ten samples beyond the 90th percentile
        extra["latency_p90_ms"] = statistics.quantiles(reads, n=10)[-1]
    pipeline = [s.ms for s in samples if s.kind == "pipeline" and s.ok]
    if pipeline:
        extra["pipeline_p50_ms"] = statistics.median(pipeline)
        extra["pipeline_samples"] = len(pipeline)
    if writes:
        extra["write_p50_ms"] = statistics.median(writes)
        if len(writes) >= 100:
            extra["write_p90_ms"] = statistics.quantiles(writes, n=10)[-1]
    extra.update({k: storage[k] for k in ("write_amp", "space_amp") if k in storage})
    return out, extra


def per_layer(tracer, samples, untraced, storage, cores, persisted) -> dict:
    n = max(len(samples), 1)
    self_t = tracer.self_times()
    totals = {}
    for per in self_t.values():
        for name, sec in per.items():
            totals[name] = totals.get(name, 0.0) + sec
    counts = {}
    for per in tracer.counts.values():
        for k, v in per.items():
            counts[k] = counts.get(k, 0.0) + v

    def spans(name):
        return [i for i, s in enumerate(tracer.spans) if s[1] == name and s[3] is not None]

    def dur(idxs):
        return sum(tracer.spans[i][3] - tracer.spans[i][2] for i in idxs)

    opt, dfs = spans("planner.optimize"), spans("planner.dataframe")
    writes, actions = spans("dml.write"), spans("spark.action")
    children = {}
    for s in tracer.spans:
        children.setdefault(s[4], set()).add(s[1])
    plan_hits = sum("heuristic" not in children.get(i, ()) for i in opt)
    df_hits = sum("execute.lower" not in children.get(i, ()) for i in dfs)
    rule_calls = counts.get("heuristic.rule_calls", 0.0)
    action_s = dur(actions)
    n_writes = max(len(writes), 1)
    reads_t = [s.ms for s in samples if s.kind == "read" and s.ok]
    reads_u = [s.ms for s in untraced if s.kind == "read" and s.ok]
    writes_u = [s.ms for s in untraced if s.kind == "write" and s.ok]
    out = {
        "sql.parse_ms": totals.get("sql.parse", 0.0) * 1000 / n,
        "planner.front_door_ms": totals.get("planner.sql", 0.0) * 1000 / n,
        "planner.plan_cache_hit_ratio": plan_hits / len(opt) if opt else 0.0,
        "planner.df_cache_hit_ratio": df_hits / len(dfs) if dfs else 0.0,
        "heuristic.ms": totals.get("heuristic", 0.0) * 1000 / n,
        "heuristic.rule_calls": rule_calls / n,
        "heuristic.rule_hit_ratio": counts.get("heuristic.rule_hits", 0.0) / rule_calls
        if rule_calls else 0.0,
        "heuristic.plan_nodes": counts.get("heuristic.plan_nodes", 0.0) / n,
        "cascades.ms": totals.get("cascades", 0.0) * 1000 / n,
        "cascades.groups": counts.get("cascades.groups", 0.0) / n,
        "cascades.exprs": counts.get("cascades.exprs", 0.0) / n,
        "cascades.transformations": counts.get("cascades.transformations", 0.0) / n,
        "execute.lower_ms": totals.get("execute.lower", 0.0) * 1000 / n,
        "execute.py4j_calls": counts.get("execute.py4j_calls", 0.0) / n,
        "functions.eager_ms": counts.get("functions.eager_ms", 0.0) / n,
        "functions.eager_jobs": counts.get("functions.eager_jobs", 0.0) / n,
        "functions.persisted_rdds_left": float(persisted),
        "dml.commit_ms": dur(writes) * 1000 / n_writes,
        "dml.files_written": counts.get("dml.files_written", 0.0) / n_writes,
        "dml.bytes_written": counts.get("dml.bytes_written", 0.0) / n_writes,
        "dml.files_carried_ratio": storage.get("files_carried_ratio", 0.0),
        "dml.write_p50_ms": statistics.median(writes_u) if writes_u else 0.0,
        "dml.write_amp": storage.get("write_amp", 0.0),
        "dml.space_amp": storage.get("space_amp", 0.0),
        "spark.action_ms": action_s * 1000 / max(len(actions), 1),
        "spark.core_utilization": counts.get("spark.executor_run_ms", 0.0)
        / (action_s * 1000 * cores) if action_s else 0.0,
        "trace.overhead_ms": (statistics.median(reads_t) - statistics.median(reads_u))
        if reads_t and reads_u else 0.0,
    }
    for key in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
                "input_rows", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                "spill_bytes"):
        out[f"spark.{key}"] = counts.get(f"spark.{key}", 0.0) / n
    return out


def load_units() -> dict:
    """Metric name -> unit, as declared in BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def run(workload: str, seed: int, seconds: float, trace: bool, root: str,
        sf: float | None = None) -> tuple:
    """One benchmark run; returns ``(record, result)``."""
    work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    _prepare_env(root, work)
    load_start = os.getloadavg()
    ticks_start = _cpu_ticks()
    import workloads as W

    wl = W.WORKLOADS[workload](seed, work, sf)
    cores = _nproc()
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
              "nproc": cores, "cpu_model": _cpu_model(), "heap": HEAP,
              "loadavg_start": load_start}
    spark = None
    try:
        t0 = time.perf_counter()
        record["input_rows"] = wl.prepare()
        record["input_bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _s, fs in os.walk(wl.data_dir) for f in fs
        )
        record["datagen_s"] = time.perf_counter() - t0
        record["jvm_launch_s"] = _launch_jvm()
        from datafusion_dolomite_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{workload}", cpus=cores)
        record["spark_context_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        record["warmup_stmt_s"] = wl.warm_up(spark)
        record["warmup_s"] = time.perf_counter() - t0

        def set_up():
            """Drop what earlier sessions cached, then a new session on the
            running context, a new catalog with a fresh warehouse, and a
            new planner."""
            spark.catalog.clearCache()
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(True)
            session = spark.newSession()
            wl.setup(session)
            return session

        setup_times = []
        for _ in range(SETUPS):
            wl.stage()
            t0 = time.perf_counter()
            session = set_up()
            setup_times.append(time.perf_counter() - t0)
        wl.prepare_checks()
        record["setup_times_s"] = setup_times
        jvm = spark.sparkContext._jvm
        record["versions"] = {
            "spark": spark.version,
            "pyspark": __import__("pyspark").__version__,
            "java": jvm.System.getProperty("java.version"),
            "duckdb": __import__("duckdb").__version__,
            "python": platform.python_version(),
        }
        ticks_timed = _cpu_ticks()
        t0 = time.perf_counter()
        samples = timed_phase(wl, session, seconds)
        # wall time of the timed phase, the untimed checks between its
        # statements included
        record["timed_phase_s"] = time.perf_counter() - t0
        record["timed_steal_share"] = _steal_share(ticks_timed)
        t0 = time.perf_counter()
        final_ok = wl.final_check()
        record["final_check_s"] = time.perf_counter() - t0
        storage = wl.storage()
        e2e, extra = end_to_end(samples, setup_times, storage)
        all_samples = list(samples)
        if trace:
            import tracing as T

            wl.stage()
            session = set_up()
            wl.prepare_checks()
            tracer = T.Tracer()
            T.install(tracer, wl.planners())
            status = T.SparkStatus(session)
            try:
                traced = timed_phase(wl, session, seconds, tracer, status)
            finally:
                tracer.unwrap()
            final_ok &= wl.final_check()
            layer = per_layer(tracer, traced, samples, wl.storage(), cores,
                              status.persisted_rdds())
            layer["trace.bookkeeping_ms"] = tracer.overhead_s * 1000 / max(len(traced), 1)
            all_samples += traced
            out_dir = os.path.join(root, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{workload}-seed{seed}-spans.json"))
            record["layer_self_ms"] = _layer_self_ms(tracer, len(traced))
            record["traced_samples"] = len(traced)
        record["jvm_hwm_mb"] = _vm_hwm_mb(int(jvm.ProcessHandle.current().pid()))
        record["python_maxrss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        extra["peak_rss_mb"] = record["jvm_hwm_mb"] + record["python_maxrss_mb"]
        units = {**load_units(), **RECORD_UNITS}
        record["end_to_end"] = {k: {"value": v, "unit": units[k]}
                                for k, v in {**e2e, **extra}.items()}
        record["statements"] = len(samples)
        # shape, latency and the CPU steal share during the statement
        record["statement_ms"] = [[s.shape, round(s.ms, 1), round(s.steal, 3)] for s in samples]
        record["errors"] = [f"{s.shape}: {s.error}" for s in all_samples if not s.ok][:10]
        failed = sum(not s.ok for s in all_samples) + (0 if final_ok else 1)
        metrics = layer if trace else e2e
        result = {
            "correct": failed == 0,
            "attempted": len(all_samples),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        record["loadavg_end"] = os.getloadavg()
        # the share of CPU time the hypervisor gave to other guests during
        # the run (``timed_steal_share``: during the timed phase).  Idle
        # vCPUs count in the total, so statements slow down by more than
        # this share, about twice as much on a 4-core host.
        record["cpu_steal_share"] = _steal_share(ticks_start)
        return record, result
    finally:
        wl.close()
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _layer_self_ms(tracer, n) -> dict:
    import tracing as T

    out = {}
    for per in tracer.self_times().values():
        for name, sec in per.items():
            layer = T.SPAN_LAYER.get(name, name)
            out[layer] = out.get(layer, 0.0) + sec * 1000 / max(n, 1)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tpch_adhoc", "dml_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "datafusion_dolomite_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the repository root (datafusion_dolomite_spark/ "
              "and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    try:
        record, result = run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps({"record": record}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
