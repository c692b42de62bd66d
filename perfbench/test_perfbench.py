"""Self-test of the benchmark harness: one short traced run per workload
at sf0.001, each in its own process (every run starts and stops its own
JVM).  Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
SEED = 7


def _one_run(workload: str):
    with ProcessPoolExecutor(max_workers=1, mp_context=get_context("spawn")) as pool:
        return pool.submit(run.run, workload, SEED, 2.0, True, ROOT, 0.001).result(timeout=600)


@pytest.fixture(scope="module", params=[w["name"] for w in SPEC["workloads"]])
def traced(request):
    record, result = _one_run(request.param)
    spans_path = os.path.join(ROOT, ".bench_out", f"{request.param}-seed{SEED}-spans.json")
    with open(spans_path) as f:
        spans = json.load(f)["spans"]
    return record, result, spans


def test_every_metric_emitted_with_its_unit(traced):
    record, result, _spans = traced
    for m in SPEC["per_layer"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float | int)
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["end_to_end"]:
        got = record["end_to_end"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float | int)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}


def test_layer_self_times_within_statement_wall_time(traced):
    _record, _result, spans = traced
    child = {}
    for s in spans:
        if s[4] >= 0:
            child[s[4]] = child.get(s[4], 0.0) + s[3] - s[2]
    wall, inside = {}, {}
    for i, (stmt, name, start, end, _parent) in enumerate(spans):
        if name == "statement":
            wall[stmt] = end - start
        else:
            inside[stmt] = inside.get(stmt, 0.0) + (end - start) - child.get(i, 0.0)
    assert wall
    for stmt, total in inside.items():
        assert total <= wall[stmt] + 1e-6


def test_spans_closed_and_layers_present(traced):
    record, _result, spans = traced
    assert all(s[3] is not None for s in spans)
    if record["workload"] != "tpch_adhoc":
        return
    # every ad-hoc statement is new text, so it passes every planning layer
    seen = {}
    for stmt, name, start, end, _parent in spans:
        if end > start:
            seen.setdefault(stmt, set()).add(name)
    assert len(seen) == record["traced_samples"]
    for names in seen.values():
        assert {"sql.parse", "heuristic", "cascades", "execute.lower"} <= names


def test_error_rate_is_zero(traced):
    record, result, _spans = traced
    assert record["end_to_end"]["error_rate"]["value"] == 0.0, record["errors"]
    assert result["failed"] == 0 and result["correct"]
    assert result["attempted"] >= 1
