"""SparkSession factory with scale-aware defaults.

Single place where execution tuning lives.  Local testing runs
``local[N]``; on a real cluster the same settings apply (AQE re-plans at
runtime, skew joins get split, shuffle partitions coalesce) — the configs
below are the ones that matter at 100 TB, not local-only toys.

Small statements run elsewhere: ``single_stage_session`` gives each
caller session one companion (``spark.newSession()``, same SparkContext)
that carries a copy of the caller's SQL conf plus interpreted
expressions and no size-triggered re-shuffles.  ``QueryPlanner.dataframe``
sends a statement there when its catalog input rows are at most
``SINGLE_STAGE_INPUT_ROWS``; the caller's own conf is never written
for it.
"""

from __future__ import annotations

import os
import threading
import weakref

__all__ = [
    "get_spark",
    "stop_spark",
    "configure_session",
    "single_stage_session",
]

# Runtime-settable SQL confs the engine depends on regardless of which
# SparkSession it is handed.  The driver (and any embedding application)
# builds its own session without our builder configs, so every entry
# point re-asserts these defensively before the first read:
# * nanosAsLong — events.parquet stores TIMESTAMP(NANOS); without this
#   every events scan dies with PARQUET_TYPE_ILLEGAL (the single cause of
#   all 17 round-1 driver failures).
# * UTC session timezone + Arrow — oracle determinism of date/timestamp
#   queries and the pandas-UDF fast path assume them.
_REQUIRED_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
}

#: r13 optimization (guide §2.2 — shuffle/compute fewer bytes): Catalyst's
#: InferFiltersFromGenerate infers ``size(arr) > 0 AND isnotnull(arr)``
#: below every explode().  When the array is COMPUTED (our shingle/gram/
#: band pipelines: split + transform + array_distinct over text), the
#: inferred filter re-materializes the whole array expression a second
#: time — and after pushdown it lands BELOW the parallelism repartition,
#: serializing the most expensive map work of the dedup family onto the
#: single scan partition (measured: shingles-explode 4.05 s -> 0.37 s at
#: sf0.1 with the rule excluded; q_incremental_dedup 6.3 s -> 1.3 s).
#: Excluding the rule is results-identical by construction: Generate
#: (outer=false) already drops null/empty arrays itself; the filter it
#: infers is purely redundant work.  Stored-array explodes lose nothing:
#: isnotnull/size on a parquet LIST column never reaches PushedFilters.
_EXCLUDED_OPTIMIZER_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def _merge_excluded_rules(
    existing: str | None, rules: str = _EXCLUDED_OPTIMIZER_RULES
) -> str:
    """Append ``rules`` to whatever the session already excludes."""
    have = [r.strip() for r in (existing or "").split(",") if r.strip()]
    for r in rules.split(","):
        if r not in have:
            have.append(r)
    return ",".join(have)


def configure_session(spark) -> None:
    """Pin the runtime SQL confs the engine requires on an arbitrary,
    possibly externally-built SparkSession.  Idempotent and cheap; all
    keys are runtime-settable (no session restart needed).  Static confs
    ``get_spark`` sets, such as ``spark.sql.codegen.cache.maxEntries``,
    cannot be applied here: a session built elsewhere keeps its own."""
    for key, value in _REQUIRED_RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            # A conf unavailable on some Spark build must not take down
            # the query path; the read will surface any real problem.
            pass
    # merge (never clobber) the explode-filter-inference exclusion into
    # any exclusions the embedding application already set
    try:
        key = "spark.sql.optimizer.excludedRules"
        cur = spark.conf.get(key, None)
        merged = _merge_excluded_rules(cur)
        if merged != (cur or ""):
            spark.conf.set(key, merged)
    except Exception:
        pass
    # r13 optimization (guide §4, the Python boundary): PySpark 4's
    # DataFrame-debugging call-site capture wraps EVERY DataFrame/Column
    # API call with a conf.get + PySparkCurrentOrigin.set/clear — 2-3
    # extra py4j round-trips per call (measured ~3 ms/call in the
    # planning path; ~25% of a typical query's plan-construction time).
    # Purely a debugging aid (call-site lines in error messages), and a
    # STATIC conf, so on an externally-built session it cannot be set
    # via spark.conf — our own builder sets it (get_spark below), and
    # here we flip pyspark's process-wide cache directly so driver-built
    # sessions get the same fast path.  Guarded: if a future pyspark
    # renames the flag this silently degrades to the default behaviour.
    try:
        import pyspark.errors.utils as _eu

        _eu._enable_debugging_cache = False
    except Exception:
        pass


#: confs the single-stage companion session adds to the caller's copy.
#: * Interpreted expressions: a small statement compiles no Java class
#:   (whole-stage codegen off, expression factories interpreted).
#: * No size-triggered shuffle: ``EnsureRequirements`` re-shuffles two
#:   single-partition join inputs whose LOGICAL size estimate exceeds
#:   ``maxSinglePartitionBytes``.  Without CBO a join's estimate is the
#:   product of its inputs' sizes, which passes even the maximum bound
#:   over four or five scans (TPC-H q2, q8), so file scans are also
#:   estimated at a millionth of their bytes.
#: * No size-based broadcast: with those estimates every table would
#:   look broadcastable, and a broadcast is a job of its own.  Explicit
#:   broadcasts (joins without equi-keys, deletion vectors) still run.
_SINGLE_STAGE_CONFS = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    "spark.sql.maxSinglePartitionBytes": str(2**63 - 1),
    "spark.sql.sources.fileCompressionFactor": "0.000001",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}

#: optimizer rules the companion excludes on top of the caller's:
#: pushing a semi/anti join below the one-partition coalesce of its left
#: input leaves that input with an unknown partitioning, and Spark
#: shuffles both sides of the join again.
_SINGLE_STAGE_EXCLUDED_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.PushDownLeftSemiAntiJoin"
)


class _Companion:
    """The single-stage session of one caller session, and the snapshot
    of the caller's SQL conf its copy was taken from."""

    __slots__ = ("session", "caller_settings", "snapshot")

    def __init__(self, caller):
        self.session = caller.newSession()
        #: the caller's live ``SQLConf.settings`` map (a JVM handle)
        self.caller_settings = (
            caller._jsparkSession.sessionState().conf().settings()
        )
        self.snapshot = None

    def sync(self, caller) -> None:
        """Refresh the companion's copy when the caller's SQL conf
        differs from the last copy: one JVM map comparison.  The caller
        already carries the engine's required confs
        (``single_stage_session``), so the copy does too."""
        if self.snapshot is not None and self.caller_settings.equals(
            self.snapshot
        ):
            return
        jvm = caller.sparkContext._jvm
        self.snapshot = jvm.java.util.HashMap(self.caller_settings)
        want = dict(caller.conf.getAll)
        want.update(_SINGLE_STAGE_CONFS)
        rules = "spark.sql.optimizer.excludedRules"
        want[rules] = _merge_excluded_rules(
            want.get(rules), _SINGLE_STAGE_EXCLUDED_RULES
        )
        conf = self.session.conf
        have = conf.getAll
        for key, value in want.items():
            if have.get(key) != value:
                try:
                    conf.set(key, value)
                except Exception:
                    pass  # a static or core conf: the same on both sides
        for key in have.keys() - want.keys():
            try:
                conf.unset(key)
            except Exception:
                pass


_COMPANIONS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_COMPANIONS_LOCK = threading.Lock()


def single_stage_session(spark):
    """The companion session small statements run on: one per caller
    session, created under a lock, sharing the caller's SparkContext and
    cached data.  Its SQL conf is the caller's, refreshed whenever the
    caller's differs from the last copy, plus ``_SINGLE_STAGE_CONFS``.
    The single-stage confs are never written to the caller; like every
    entry point, this re-pins the engine's required confs there
    (``configure_session``) before copying."""
    configure_session(spark)
    with _COMPANIONS_LOCK:
        comp = _COMPANIONS.get(spark)
        if comp is None:
            comp = _COMPANIONS[spark] = _Companion(spark)
        comp.sync(spark)
        return comp.session


def get_spark(app_name: str = "datafusion-dolomite-spark", cpus: int | None = None):
    from pyspark.sql import SparkSession

    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime re-planning — coalesces shuffle partitions, converts
        # to broadcast when runtime stats allow, splits skewed partitions.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # One shuffle partition per core locally; a cluster deployment sets
        # this ~2-3x total cores (AQE coalesces the excess).
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Keep Python<->JVM transfers Arrow-vectorized (pandas UDF path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # local mode: driver == every executor, so this is the WHOLE
        # JVM.  16g on the 128 GiB test box keeps late-suite GC pressure
        # off the heavy text queries (150-query runs accumulate listener
        # state and codegen classes; with 8g the tail queries measured up
        # to ~1.7x slower than solo)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # see _REQUIRED_RUNTIME_CONFS: the per-call call-site capture is
        # pure py4j overhead for an engine; set at build time so the
        # process-wide pyspark cache reads it before the first call
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # see _EXCLUDED_OPTIMIZER_RULES: inferred explode-filters double
        # the dedup family's gram computation on the scan partition
        .config("spark.sql.optimizer.excludedRules", _EXCLUDED_OPTIMIZER_RULES)
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type —
        # read as bigint (nanoseconds since epoch) and convert explicitly
        # in queries that need event time.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark's codegen cache is JVM-wide and holds 100 classes by
        # default; the 22 TPC-H shapes alone need about 290, so every
        # statement recompiled (13 Janino compiles per statement).  A
        # STATIC conf: ``configure_session`` cannot set it on a session
        # built elsewhere, which keeps the default.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    return builder.getOrCreate()


def stop_spark() -> None:
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
