"""Per-layer tracing for the benchmark, done from outside the engine.

Spans are recorded by wrapping the engine's public layer boundaries in
place (module attributes and planner methods) for the life of a traced
run; nothing in the package is edited.  Spark work is attributed by
setting a job group per statement phase and reading Spark's status store
after the phase ends, which works with ``spark.ui.enabled=false``.

A span is ``(statement id, name, start, end, parent index)``.  Spans stay
in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

#: span name -> layer whose self time it counts towards
SPAN_LAYER = {
    "statement": "harness",
    "sql.parse": "sql",
    "planner.sql": "planner",
    "planner.optimize": "planner",
    "planner.dataframe": "planner",
    "heuristic": "heuristic",
    "cascades": "cascades",
    "execute.lower": "execute",
    "functions.build": "functions",
    "harness.build": "harness",
    "dml.write": "dml",
    "spark.action": "spark",
}


class Tracer:
    """Collects spans and counters for one traced run."""

    def __init__(self):
        self.spans: list = []
        self._stack: list = []
        self.stmt = -1
        #: per-statement counters: stmt id -> {name: value}
        self.counts: dict = defaultdict(lambda: defaultdict(float))
        self._restore: list = []
        self.active = False
        #: seconds spent in the tracer's own bookkeeping
        self.overhead_s = 0.0

    # -- spans -----------------------------------------------------------
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([self.stmt, name, time.perf_counter(), None, parent])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][3] = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def count(self, name: str, n: float = 1.0) -> None:
        self.counts[self.stmt][name] += n

    def current(self):
        return self.spans[self._stack[-1]][1] if self._stack else None

    # -- wrapping --------------------------------------------------------
    def wrap(self, owner, attr: str, name, after=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper until ``unwrap``.
        ``name`` is a span name or a callable of the call's arguments
        returning one; ``after(result, args)`` may record counters."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            t0 = time.perf_counter()
            idx = tracer.begin(name(*args) if callable(name) else name)
            tracer.overhead_s += time.perf_counter() - t0
            try:
                out = orig(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer.end(idx)
                tracer.overhead_s += time.perf_counter() - t1
            if after is not None:
                t2 = time.perf_counter()
                after(out, args)
                tracer.overhead_s += time.perf_counter() - t2
            return out

        had_own = attr in getattr(owner, "__dict__", {})
        self._restore.append((owner, attr, orig, had_own))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        for owner, attr, orig, had_own in reversed(self._restore):
            if had_own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._restore.clear()

    # -- reporting -------------------------------------------------------
    def self_times(self) -> dict:
        """stmt id -> {span name: self seconds}; a span's self time is its
        duration minus the durations of its direct children (spans of one
        thread nest, so children never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s[4] >= 0 and s[3] is not None:
                child[s[4]] += s[3] - s[2]
        out: dict = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            if s[3] is None:
                continue
            out[s[0]][s[1]] += (s[3] - s[2]) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["stmt", "name", "start", "end", "parent"],
                    "spans": self.spans,
                    "counts": {str(k): dict(v) for k, v in self.counts.items()},
                },
                f,
            )


def install(tracer: Tracer, planners) -> None:
    """Wrap the layer boundaries of the given ``QueryPlanner`` instances
    and of the module functions they call."""
    import py4j.clientserver
    import py4j.java_gateway

    from datafusion_dolomite_spark import planner as planner_mod
    from datafusion_dolomite_spark import sql as sql_mod

    tracer.wrap(sql_mod, "parse_sql", "sql.parse")
    tracer.wrap(planner_mod, "to_spark", "execute.lower")
    for cls in (py4j.clientserver.ClientServerConnection,
                py4j.java_gateway.GatewayConnection):
        orig_send = cls.send_command

        def send(self, command, *a, _orig=orig_send, **kw):
            if tracer.active and tracer.current() == "execute.lower":
                tracer.count("execute.py4j_calls")
            return _orig(self, command, *a, **kw)

        tracer._restore.append((cls, "send_command", orig_send, True))
        cls.send_command = send
    for planner in planners:
        _install_planner(tracer, planner)


def _install_planner(tracer: Tracer, planner) -> None:
    tracer.wrap(
        planner, "sql",
        lambda q, *a: "dml.write" if _is_write(q) else "planner.sql",
    )
    tracer.wrap(planner, "optimize", "planner.optimize")
    tracer.wrap(planner, "dataframe", "planner.dataframe")

    def after_logical(plan, _args):
        tracer.count("heuristic.plan_nodes", sum(1 for _ in plan.bfs_iterator()))

    def after_physical(_plan, _args):
        stats = getattr(planner, "last_planning_stats", None) or {}
        for key in ("groups", "exprs", "transformations"):
            tracer.count(f"cascades.{key}", stats.get(key, 0))

    tracer.wrap(planner, "optimize_logical", "heuristic", after_logical)
    tracer.wrap(planner, "optimize_physical", "cascades", after_physical)

    for rule in planner.rewrite_rules:
        if "apply" in rule.__dict__:
            continue  # a rule instance shared with a planner wrapped before
        orig = rule.apply

        def counted(inp, ctx, result, _orig=orig):
            before = len(result.exprs)
            _orig(inp, ctx, result)
            if tracer.active:
                tracer.count("heuristic.rule_calls")
                tracer.count("heuristic.rule_hits", len(result.exprs) > before)

        tracer._restore.append((rule, "apply", orig, False))
        rule.apply = counted


def _is_write(query: str) -> bool:
    head = query.lstrip().split(None, 1)[0].lower() if query.strip() else ""
    return head in ("insert", "update", "delete", "merge")


class SparkStatus:
    """Reads job and stage metrics of one job group from Spark's status
    store (``AppStatusStore``), after draining the listener bus so the
    group's task-end events have been applied."""

    STAGE_FIELDS = (
        ("executor_run_ms", "executorRunTime", 1.0),
        ("executor_cpu_ms", "executorCpuTime", 1e-6),
        ("gc_ms", "jvmGcTime", 1.0),
        ("input_rows", "inputRecords", 1.0),
        ("input_bytes", "inputBytes", 1.0),
        ("shuffle_write_bytes", "shuffleWriteBytes", 1.0),
        ("shuffle_read_bytes", "shuffleReadBytes", 1.0),
        ("spill_bytes", "diskBytesSpilled", 1.0),
        ("tasks", "numTasks", 1.0),
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.tracker = self.sc.statusTracker()

    def group(self, group: str) -> dict:
        """Totals over every job of ``group``: jobs, stages, summed job
        wall ms, and the summed stage metrics of ``STAGE_FIELDS``."""
        self.bus.waitUntilEmpty(10_000)
        out = defaultdict(float)
        for jid in self.tracker.getJobIdsForGroup(group):
            job = self.store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_ms"] += done.get().getTime() - sub.get().getTime()
            stage_ids = job.stageIds()
            for i in range(stage_ids.length()):
                try:
                    st = self.store.lastStageAttempt(stage_ids.apply(i))
                except Py4JJavaError:  # a stage that never ran has no attempt
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, getter, scale in self.STAGE_FIELDS:
                    out[key] += getattr(st, getter)() * scale
        return out

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())
