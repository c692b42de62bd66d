"""Cold table-statistics bench: what ``Catalog.statistics`` costs per table
when neither the catalog nor the process-wide column cache holds it.

For each testdata table at each scale it times the median of ``trials``
cold calls (a new catalog and an empty column-statistics cache each
time) and prints milliseconds, rows per second and the DuckDB queries
one call makes.  Rows dominate at sf0.1, where the per-row cost shows.

Run: python scripts/stats_bench.py TESTDATA_ROOT [trials] [sf ...]
     (TESTDATA_ROOT holds sf0.001/, sf0.01/, sf0.1/)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from datafusion_dolomite_spark.sources import catalog as catalog_mod  # noqa: E402


def _cold(sf_dir: str, table: str):
    """One cold ``statistics`` call: (seconds, rows, DuckDB queries)."""
    catalog_mod._NDV_CACHE.clear()
    cat = catalog_mod.testdata_catalog(sf_dir)
    queries = 0
    real = duckdb.sql

    def counting(*args, **kwargs):
        nonlocal queries
        queries += 1
        return real(*args, **kwargs)

    duckdb.sql = counting
    try:
        t0 = time.perf_counter()
        rows = cat.statistics(table).row_count
        return time.perf_counter() - t0, rows, queries
    finally:
        duckdb.sql = real


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    root = sys.argv[1]
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    scales = sys.argv[3:] or ["sf0.001", "sf0.01", "sf0.1"]
    _cold(os.path.join(root, scales[0]), "region")  # imports, DuckDB start
    print(f"{'scale':<8}{'table':<12}{'rows':>9}{'ms':>10}{'rows/s':>13}"
          f"{'queries':>9}")
    for sf in scales:
        total = 0.0
        for table in catalog_mod.TESTDATA_TABLES:
            runs = [_cold(os.path.join(root, sf), table) for _ in range(trials)]
            secs = statistics.median(r[0] for r in runs)
            rows, queries = runs[0][1], runs[0][2]
            total += secs
            print(f"{sf:<8}{table:<12}{rows:>9.0f}{secs * 1e3:>10.1f}"
                  f"{rows / secs:>13,.0f}{queries:>9}")
        print(f"{sf:<8}{'(all)':<12}{'':>9}{total * 1e3:>10.1f}")


if __name__ == "__main__":
    main()
