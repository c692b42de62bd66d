"""The engine's one cache type (``lru.LruCache``) and its three instances.

Every store the engine keeps between statements — the process-wide table
store, each planner's prepared statements and the Column store — is an
``LruCache``: it holds at most ``bound`` entries and evicts the least
recently used one, so a long-lived session running ever-new statements
does not keep growing state.
"""

from __future__ import annotations

import sys
import threading

from datafusion_dolomite_spark import QueryPlanner, expr
from datafusion_dolomite_spark.lru import LruCache
from datafusion_dolomite_spark.sources import parquet_read
from datafusion_dolomite_spark.sources.catalog import (
    testdata_catalog as _catalog_for,
)

from .conftest import SF_DIR


def test_evicts_least_recently_used():
    c = LruCache(3)
    for k in "abc":
        c.put(k, k.upper())
    assert c.get("a") == "A"  # a is now the most recently used
    c.put("d", "D")
    assert [c.get(k) for k in "abcd"] == ["A", None, "C", "D"]
    # the reads above touched a, c, d in that order: a goes next
    c.put("e", "E")
    assert c.get("a") is None and len(c) == 3
    c.pop("d")
    c.pop("missing")
    assert c.get("d") is None and len(c) == 2


def test_counts_hits_and_misses_and_stores_none():
    c = LruCache(2)
    made = []

    def make():
        made.append(1)

    assert c.get_or_put("k", make) is None
    assert c.get_or_put("k", make) is None
    assert made == [1]  # a stored None is a hit, not a miss
    c.get("other")
    assert (c.hits, c.misses) == (1, 2)


def test_lowered_bound_shrinks_at_next_put():
    c = LruCache(8)
    for i in range(8):
        c.put(i, i)
    c.bound = 2
    c.put(8, 8)
    assert len(c) == 2 and c.get(7) == 7 and c.get(8) == 8


def test_threads_share_one_cache():
    c = LruCache(16)
    errors = []
    per_thread = 20_000

    def work(t):
        try:
            for i in range(per_thread):
                k = (t * 7 + i) % 40
                if c.get(k) is None:
                    c.put(k, k)
                assert len(c) <= c.bound
        except Exception as e:  # reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(c) <= 16
    assert c.hits + c.misses == 8 * per_thread


_TABLES = (
    ("nation", "n_nationkey", "n_name"),
    ("region", "r_regionkey", "r_name"),
    ("customer", "c_custkey", "c_name"),
    ("supplier", "s_suppkey", "s_name"),
    ("part", "p_partkey", "p_name"),
)


def _statement(i):
    table, key, name = _TABLES[i % len(_TABLES)]
    return (f"select {name}, {key} + {i} as k from {table} "
            f"where {key} < {i + 3}")


def test_engine_stores_stay_bounded(spark, monkeypatch):
    qp = QueryPlanner(spark, _catalog_for(SF_DIR))
    stores = {
        "table": (parquet_read.TABLE_STORE, 8),
        "prepared": (qp._prepared, 4),
        "column": (expr.COLUMN_STORE, 16),
    }
    for store, bound in stores.values():
        monkeypatch.setattr(store, "bound", bound)
        store.clear()  # a lowered bound applies at the next put
    frames = []
    for i in range(15):
        frames.append(qp.sql(_statement(i)))
        for name, (store, bound) in stores.items():
            assert len(store) <= bound, (name, i, len(store))
    # the most recent statement is still prepared: the same DataFrame
    hits = qp._prepared.hits
    assert qp.sql(_statement(14)) is frames[-1]
    assert qp._prepared.hits == hits + 1
    # ... while the oldest was evicted and is planned again
    assert qp.sql(_statement(0)) is not frames[0]
    # a fresh planner lowers the most recent statement again: its
    # table's entries and its Columns are still stored
    table_hits = parquet_read.TABLE_STORE.hits
    column_hits = expr.COLUMN_STORE.hits
    df = QueryPlanner(spark, qp.catalog).sql(_statement(14))
    assert parquet_read.TABLE_STORE.hits > table_hits
    assert expr.COLUMN_STORE.hits > column_hits
    assert sorted(r[1] for r in df.collect()) == list(range(14, 31))
