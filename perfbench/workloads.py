"""The benchmark's workloads.

Each workload owns its inputs (generated from the seed), its set-up, an
endless seeded statement sequence, and a DuckDB oracle that checks every
result outside the timed section.  A statement is sent through the
engine's public API by a single closed-loop client: the next statement is
sent only when the previous result has been fully consumed.

Why each workload exists:

* ``tpch_adhoc`` -- an analyst writing new queries: every statement text
  is new, so parse, Hep, Cascades and lowering run on every statement.
* ``dml_mixed``  -- a pipeline session: reads interleaved with
  INSERT/UPDATE/DELETE/MERGE on versioned tables, where every commit
  invalidates the caches, plus one eager registry pipeline query per
  cycle (a PageRank fixpoint loop) whose work is in Spark jobs started
  before the final action.
"""

from __future__ import annotations

import itertools
import math
import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import tpch_shapes

#: offset from the run's seed to the seed of its warm-up inputs
WARM_SEED = 1_000_003
_TABLE_REF = re.compile(r"\b(" + "|".join(datagen.TABLES) + r")\b")


@dataclass
class Statement:
    kind: str  # "read", "write" or "pipeline"
    text: str  # SQL text, or a registry query name for "pipeline"
    input_rows: int
    shape: str = ""
    #: DuckDB statements replaying a write
    replay: list = field(default_factory=list)


# -- result comparison ---------------------------------------------------
def _key(v):
    if v is None:
        return (0, "")
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return (1, "nan" if v != v else f"{float(v):.9g}")
    if isinstance(v, (list, tuple)):
        return (2, tuple(_key(x) for x in v))
    return (3, str(v))


def _same(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        if a != a or b != b:  # NaN
            return a != a and b != b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(cols_a, rows_a, cols_b, rows_b) -> bool:
    """Order-insensitive multiset equality, columns matched by name and
    numbers compared to a relative 1e-9."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    ia = sorted(range(len(cols_a)), key=lambda i: cols_a[i])
    ib = sorted(range(len(cols_b)), key=lambda i: cols_b[i])
    ra = sorted((tuple(r[i] for i in ia) for r in rows_a), key=lambda r: tuple(map(_key, r)))
    rb = sorted((tuple(r[i] for i in ib) for r in rows_b), key=lambda r: tuple(map(_key, r)))
    return all(_same(x, y) for a, b in zip(ra, rb) for x, y in zip(a, b))


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("set threads=2")
    con.execute("set memory_limit='1GB'")
    con.execute("set TimeZone='UTC'")
    return con


def _parquet_files(root: str, prefix: str) -> dict:
    """inode -> size of the parquet files under the directories of
    ``root`` whose name starts with ``prefix``."""
    out = {}
    for d in os.listdir(root):
        if d.startswith(prefix):
            out.update(_tree(os.path.join(root, d)))
    return out


def _tree(path: str) -> dict:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                out[st.st_ino] = st.st_size
    return out


# -- base ----------------------------------------------------------------
class Workload:
    name = ""
    sf = 0.01
    #: statements per pass, and the seconds a pass takes on a 4-core host.
    #: A timed phase runs round(seconds / PASS_SECONDS) whole passes, so
    #: every run sends the same amount and mix of work whatever its seed
    #: and whatever the speed of the code under test.
    PASS = 1
    PASS_SECONDS = 1.0

    def __init__(self, seed: int, work_dir: str, sf: float | None = None):
        self.seed = seed
        if sf is not None:
            self.sf = sf
        self.work_dir = work_dir
        #: the generated timed inputs; ``stage`` copies them to new paths
        self.src_dir = os.path.join(work_dir, f"data_{os.getpid()}_{seed}")
        #: the inputs the current set-up reads
        self.data_dir = self.src_dir
        self.stages = 0
        #: warm-up inputs: same sizes, other values, other paths, so that
        #: nothing the warm-up leaves in a cache can serve a timed statement
        self.warm_dir = os.path.join(work_dir, f"warm_{os.getpid()}_{seed}")
        self.rows: dict = {}
        self.planner = None
        self.duck = None

    # inputs ------------------------------------------------------------
    def prepare(self) -> dict:
        """Generate the timed and the warm-up inputs; returns the timed
        inputs' ``{table: rows}``."""
        self.generate(self.warm_dir, self.seed + WARM_SEED)
        self.rows = self.generate(self.src_dir, self.seed)
        return self.rows

    def stage(self) -> None:
        """Copy the timed inputs to new paths and read them from there from
        the next set-up on.  Process-wide caches keyed by file path (the
        catalog's statistics cache, Spark's file listings) then start cold
        in every set-up and every phase, as for a client meeting the data
        for the first time.  Not timed."""
        self.close()
        self.stages += 1
        self.data_dir = os.path.join(self.work_dir, f"inputs_{self.stages}")
        shutil.copytree(self.src_dir, self.data_dir)

    def generate(self, dest: str, seed: int) -> dict:
        return datagen.write_all(datagen.generate(self.sf, seed), dest)

    def warm_up(self, spark) -> list:
        """Run ``warmup_statements()`` on the warm-up inputs, so the JVM has
        loaded and compiled the code paths and Spark's Python workers run
        before anything is timed.  Returns ``[(shape, seconds)]``."""
        live = self.data_dir
        self.data_dir = self.warm_dir
        try:
            self.setup(spark)
            self.prepare_checks()
            times = []
            for st in self.warmup_statements():
                t0 = time.perf_counter()
                df = self.build(st)
                if df is not None:
                    df.collect()
                times.append((st.shape, time.perf_counter() - t0))
                if st.kind == "write":
                    self.after_write(st)
            return times
        finally:
            self.data_dir = live
            self.close()

    def warmup_statements(self):
        """The statements run once per process, on the warm-up inputs."""
        raise NotImplementedError

    def setup(self, spark) -> None:
        """A new planner over a new catalog; the catalog's warehouse is a
        fresh temporary directory, created on first use."""
        from datafusion_dolomite_spark import QueryPlanner
        from datafusion_dolomite_spark.sources.catalog import testdata_catalog

        self.planner = QueryPlanner(spark, testdata_catalog(self.data_dir))

    def analyze(self) -> None:
        """Gather the statistics of every input table in every planner's
        catalog, as ``ANALYZE TABLE`` would, so that they are part of the
        set-up and not of whichever statements happen to come first."""
        for planner in self.planners():
            for t in datagen.TABLES:
                planner.catalog.statistics(t)

    def prepare_checks(self) -> None:
        """Whatever the checks need besides the engine, built after the
        timed set-up."""

    def planners(self) -> list:
        """Every planner a statement can go through (traced runs wrap them)."""
        return [self.planner]

    def oracle(self):
        """DuckDB with a view per input table."""
        if self.duck is None:
            self.duck = _duck()
            for t in datagen.TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                self.duck.execute(f"create view {t} as select * from read_parquet('{path}')")
        return self.duck

    def close(self) -> None:
        if self.duck is not None:
            self.duck.close()
            self.duck = None

    # statements --------------------------------------------------------
    def statements(self, seed: int):
        """Endless statement sequence drawn from ``seed``."""
        raise NotImplementedError

    def build(self, st: Statement):
        """Everything up to the final action; returns the DataFrame, or
        None when the statement has no result to consume."""
        return self.planner.sql(st.text)

    def check(self, st: Statement, cols, rows) -> bool:
        rel = self.oracle().sql(st.text)
        return same_rows(cols, rows, list(rel.columns), rel.fetchall())

    def after_write(self, st: Statement) -> dict:
        return {}

    def final_check(self) -> bool:
        return True

    def storage(self) -> dict:
        return {}

    def table_rows(self, text: str) -> int:
        """Input rows a statement reads: every table reference counts."""
        return sum(self.rows.get(t, 0) for t in _TABLE_REF.findall(text))


class TpchAdhoc(Workload):
    """The 22 TPC-H shapes with fresh seeded literals on every statement."""

    name = "tpch_adhoc"
    PASS = len(tpch_shapes.SHAPES)
    PASS_SECONDS = 20.0

    def setup(self, spark) -> None:
        super().setup(spark)
        self.analyze()
        # One row of every input table.  A session's first scan of a table
        # builds its file index and reads its footers, and the engine then
        # keeps the scan for the session; without this, that cost lands
        # on whichever timed statements touch each table first, so it
        # moves with the seeded order.
        for t in datagen.TABLES:
            self.planner.sql(f"select * from {t} limit 1").collect()

    def warmup_statements(self):
        """Shapes that between them run most of the Spark operators the 22
        shapes use (multi-way joins, correlated scalar subqueries, EXISTS /
        NOT EXISTS, IN subqueries, an outer join, HAVING, count distinct),
        with their own literals.  With fewer (the four heaviest alone),
        the first five or six timed statements run up to twice as slow as
        the rest while the JVM compiles the remaining code paths."""
        rng = random.Random(self.seed + WARM_SEED)
        for shape in ("q8", "q2", "q21", "q13", "q22", "q7", "q11", "q16", "q20"):
            text = tpch_shapes.render(shape, tpch_shapes.draw_params(rng, self.rows["customer"]))
            yield Statement("read", text, self.table_rows(text), shape)

    def statements(self, seed: int):
        rng = random.Random(seed)
        seen = set()
        while True:  # one pass: every shape once, in seeded order
            order = list(tpch_shapes.SHAPES)
            rng.shuffle(order)
            for shape in order:
                # A run of more than one pass (--seconds of 30 or more)
                # draws each shape again; redraw the literals until the
                # text is new, accepting a repeat once they run out.
                for _ in range(50):
                    text = tpch_shapes.render(
                        shape, tpch_shapes.draw_params(rng, self.rows["customer"])
                    )
                    if text not in seen:
                        break
                seen.add(text)
                yield Statement("read", text, self.table_rows(text), shape)


class DmlMixed(Workload):
    """Reads and writes on multi-file copies of ``orders`` and ``lineitem``
    in a fresh warehouse, plus one registry pipeline query per cycle.
    Every write is replayed in a DuckDB replica, and every read is checked
    against the replayed state."""

    name = "dml_mixed"
    PASS = 11  # four writes, six reads, the pipeline query
    PASS_SECONDS = 7.0
    STAGING = 16
    TABLES = ("orders", "lineitem")
    #: the reads of a cycle.  Half are aggregates, so the median read of a
    #: run lies well inside one kind's latencies, not on the edge between
    #: two kinds, where it would jump with every seed; and in the lower
    #: half of that kind, away from the slower reads of the first cycle
    #: after a set-up.
    READS = ("agg", "agg", "agg", "lookup", "join", "travel")
    WRITES = ("insert", "update", "delete", "merge")
    #: registry query of the pipeline step, and the input table it reads
    PIPELINE = ("q_pagerank", "lineitem")

    def generate(self, dest: str, seed: int) -> dict:
        """The inputs, ``orders`` and ``lineitem`` also as directories
        ``<table>_parts`` of 4 files of small row groups, plus ``STAGING``
        MERGE sources of 30 orders rows each: 20 existing keys with new
        prices, 10 new keys."""
        rows = super().generate(dest, seed)
        for t in self.TABLES:
            table = pq.read_table(os.path.join(dest, f"{t}.parquet"))
            datagen.write_parts(table, os.path.join(dest, f"{t}_parts"),
                                files=4, row_group_rows=4096)
        orders = pq.read_table(os.path.join(dest, "orders.parquet"))
        rng = random.Random(seed + 1)
        n = orders.num_rows
        for j in range(self.STAGING):
            upd = sorted(rng.sample(range(n), 20))
            new = [5_000_000 + j * 1000 + x for x in range(10)]
            src = orders.take(upd + rng.sample(range(n), 10))
            src = src.set_column(0, "o_orderkey", pa.array(upd + new, pa.int64()))
            src = src.set_column(
                3, "o_totalprice", pa.array([round(rng.uniform(1000, 500000), 2) for _ in range(30)])
            )
            pq.write_table(src, os.path.join(dest, f"stg{j}.parquet"))
        return rows

    def setup(self, spark) -> None:
        import __spark_entry__ as entry
        from datafusion_dolomite_spark import QueryPlanner
        from datafusion_dolomite_spark.sources.catalog import testdata_catalog

        cat = testdata_catalog(self.data_dir)
        self.warehouse = cat.warehouse_root()
        for t in self.TABLES:
            cat.register(t, os.path.join(self.data_dir, f"{t}_parts"))
        for j in range(self.STAGING):
            cat.register(f"stg{j}", os.path.join(self.data_dir, f"stg{j}.parquet"))
        self.planner = QueryPlanner(spark, cat)
        # the registry's own planner for this session and input directory
        self.spark = spark
        self.pipeline_planner = entry._planner(spark, self.data_dir)
        self.pipeline_fn = entry.queries()[self.PIPELINE[0]]
        self.pipeline_sql = entry.oracle_sql()[self.PIPELINE[0]]
        self.version = 0
        self.n_merge = 0
        self.written = {"bytes": 0, "rows": 0}
        self.carried = []
        self.analyze()

    def prepare_checks(self) -> None:
        """Storage listings at start, and the DuckDB replica the writes are
        replayed in."""
        self.known = {t: self._table_files(t) for t in self.TABLES}
        self.start_bytes = sum(sum(f.values()) for f in self.known.values())
        self.replica = _duck()
        for t in self.TABLES:
            self.replica.execute(f"create table {t} as select * from "
                                 f"read_parquet('{os.path.join(self.data_dir, t + '.parquet')}')")
        self.replica.execute("create table orders_v0 as select * from orders")
        for j in range(self.STAGING):
            path = os.path.join(self.data_dir, f"stg{j}.parquet")
            self.replica.execute(f"create view stg{j} as select * from read_parquet('{path}')")

    def _table_files(self, table: str) -> dict:
        """inode -> size of every file of every version of ``table``: the
        base part files, and the version directories writes created in the
        warehouse (files carried into a version are hard links)."""
        return {**_tree(os.path.join(self.data_dir, f"{table}_parts")),
                **_parquet_files(self.warehouse, table + "_")}

    def planners(self) -> list:
        return [self.planner, self.pipeline_planner]

    def close(self) -> None:
        super().close()
        if getattr(self, "replica", None) is not None:
            self.replica.close()
            self.replica = None

    def warmup_statements(self):
        """One whole cycle: every kind of read and write, then the pipeline
        query.  The first timed cycle still runs slower than the second
        (its pipeline query about twice as slow), but a second warm-up
        cycle barely changes that: the pipeline query's first call after a
        set-up pays for work it caches, whatever ran before."""
        return itertools.islice(self.statements(self.seed + WARM_SEED), self.PASS)

    def _pipeline(self) -> Statement:
        return Statement("pipeline", self.PIPELINE[0], self.rows[self.PIPELINE[1]], "pipeline")

    def statements(self, seed: int):
        rng = random.Random(seed)
        i = 0
        for cycle in itertools.count():
            # one cycle: every write and every read alternating, then the
            # pipeline query -- the same mix of kinds in every cycle.  The
            # MERGE (into orders) comes first, so every VERSION AS OF read
            # has a version history to read.
            reads, writes = list(self.READS), [k for k in self.WRITES if k != "merge"]
            rng.shuffle(reads)
            rng.shuffle(writes)
            # one more kind writes orders, so each cycle writes each table
            # twice.  The kind rotates with the cycle, not with the seed, so
            # runs of as many cycles write the same tables in the same ways.
            on_orders = ("update", "delete", "insert")[cycle % 3]
            for w_kind, r_kind in itertools.zip_longest(["merge"] + writes, reads):
                if w_kind is not None:
                    i += 1
                    table = "orders" if w_kind in ("merge", on_orders) else "lineitem"
                    yield self._write(rng, w_kind, table, i)
                yield self._read(rng, r_kind)
            yield self._pipeline()

    def _read(self, rng, kind: str) -> Statement:
        n_ord = self.rows["orders"]
        if kind == "agg":
            y = rng.randint(1995, 2000)
            text = ("select o_orderpriority, count(*) as n, cast(sum(cast(o_totalprice "
                    "as decimal(12,2))) as double) as total from orders "
                    f"where o_orderdate >= '{y}-01-01' and o_orderdate < '{y + 1}-01-01' "
                    "group by o_orderpriority")
        elif kind == "lookup":
            k = rng.randrange(n_ord)
            text = ("select o_orderkey, o_custkey, o_orderstatus, o_totalprice from orders "
                    f"where o_orderkey between {k} and {k + 40}")
        elif kind == "join":
            c = rng.randrange(self.rows["customer"])
            text = ("select l_returnflag, count(*) as n, cast(sum(cast(l_quantity as "
                    "decimal(12,2))) as double) as qty from lineitem join orders "
                    f"on l_orderkey = o_orderkey where o_custkey between {c} and {c + 20} "
                    "group by l_returnflag")
        else:
            v = rng.randint(0, self.version)
            text = ("select count(*) as n, cast(sum(cast(o_totalprice as decimal(12,2))) "
                    f"as double) as total from orders version as of {v}")
        return Statement("read", text, self.table_rows(text), kind)

    def _write(self, rng, kind: str, table: str, i: int) -> Statement:
        k = rng.randrange(self.rows["orders"])
        if kind == "merge":
            j = self.n_merge % self.STAGING
            self.n_merge += 1
            text = (f"merge into orders as t using stg{j} as s on t.o_orderkey = s.o_orderkey "
                    "when matched then update set o_totalprice = s.o_totalprice "
                    "when not matched then insert *")
            # DuckDB 1.0.0 has no MERGE: the same effect as UPDATE + INSERT
            replay = [
                f"update orders set o_totalprice = s.o_totalprice from stg{j} s "
                "where orders.o_orderkey = s.o_orderkey",
                f"insert into orders select * from stg{j} s where not exists "
                "(select 1 from orders o where o.o_orderkey = s.o_orderkey)",
            ]
            return Statement("write", text, self.rows["orders"], kind, replay)
        if kind == "insert" and table == "orders":
            text = (f"insert into orders select o_orderkey + {10_000_000 * i}, o_custkey, "
                    "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority from orders "
                    f"where o_orderkey between {k} and {k + 9}")
        elif kind == "insert":
            text = (f"insert into lineitem select l_orderkey + {10_000_000 * i}, l_partkey, "
                    "l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, "
                    "l_returnflag, l_linestatus, l_shipdate from lineitem "
                    f"where l_orderkey between {k} and {k + 3}")
        elif kind == "update" and table == "orders":
            c = rng.randrange(self.rows["customer"])
            text = (f"update orders set o_totalprice = o_totalprice + {rng.randint(1, 99)}.5 "
                    f"where o_custkey = {c}")
        elif kind == "update":
            text = (f"update lineitem set l_discount = {rng.randint(0, 10) / 100} "
                    f"where l_orderkey between {k} and {k + 5}")
        elif table == "orders":
            text = f"delete from orders where o_orderkey between {k} and {k + 15}"
        else:
            text = f"delete from lineitem where l_orderkey between {k} and {k + 3}"
        return Statement("write", text, self.rows[table], kind, [text])

    def build(self, st: Statement):
        if st.kind == "pipeline":
            return self.pipeline_fn(self.spark, self.data_dir)
        df = self.planner.sql(st.text)
        return None if st.kind == "write" else df

    def after_write(self, st: Statement) -> dict:
        """Replay the write in DuckDB and measure what it did on disk."""
        table = re.match(r"(?:insert into|update|delete from|merge into) (\w+)", st.text)[1]
        changed = sum(self.replica.execute(q).fetchone()[0] for q in st.replay)
        if table == "orders":
            self.version += 1
            self.replica.execute(f"create table orders_v{self.version} as select * from orders")
        now = self._table_files(table)
        new = {ino: size for ino, size in now.items() if ino not in self.known[table]}
        live = set(_tree(self.planner.catalog.path(table)))
        self.known[table] = now
        info = {"files_written": len(new), "bytes_written": sum(new.values()),
                "rows_changed": changed}
        self.written["bytes"] += info["bytes_written"]
        self.written["rows"] += changed
        if live:
            self.carried.append(len(live - set(new)) / len(live))
        return info

    def check(self, st: Statement, cols, rows) -> bool:
        if st.kind == "pipeline":
            if not hasattr(self, "_pipeline_expected"):
                rel = self.oracle().sql(self.pipeline_sql)
                self._pipeline_expected = (list(rel.columns), rel.fetchall())
            return same_rows(cols, rows, *self._pipeline_expected)
        text = re.sub(r"from orders version as of (\d+)$", r"from orders_v\1", st.text)
        rel = self.replica.sql(text)
        return same_rows(cols, rows, list(rel.columns), rel.fetchall())

    def final_check(self) -> bool:
        """Both final tables against the replica: an exact multiset
        comparison in DuckDB, and the row-by-row comparison with numeric
        tolerance only for a table where that finds a difference."""
        import duckdb

        ok = True
        for t in self.TABLES:
            df = self.planner.sql(f"select * from {t}")
            got = df.toArrow()
            cols = ", ".join(f'"{c}"' for c in got.column_names)
            self.replica.register("engine_table", got)
            try:
                differ = self.replica.execute(
                    f"select count(*) from ((select {cols} from engine_table except all "
                    f"select {cols} from {t}) union all (select {cols} from {t} except all "
                    f"select {cols} from engine_table))"
                ).fetchone()[0]
            except duckdb.Error:
                differ = None
            finally:
                self.replica.unregister("engine_table")
            if differ == 0:
                continue
            rel = self.replica.sql(f"select * from {t}")
            ok &= same_rows(df.columns, [tuple(r) for r in df.collect()],
                            list(rel.columns), rel.fetchall())
        return ok

    def storage(self) -> dict:
        bytes_per_row = self.start_bytes / sum(self.rows[t] for t in self.TABLES)
        on_disk = sum(sum(self._table_files(t).values()) for t in self.TABLES)
        live = sum(sum(_tree(self.planner.catalog.path(t)).values()) for t in self.TABLES)
        return {
            "write_amp": self.written["bytes"] / (max(self.written["rows"], 1) * bytes_per_row),
            "space_amp": on_disk / live,
            "files_carried_ratio": sum(self.carried) / len(self.carried) if self.carried else 0.0,
        }


WORKLOADS = {w.name: w for w in (TpchAdhoc, DmlMixed)}
