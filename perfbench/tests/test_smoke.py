"""Seconds-scale smoke of the benchmark harness: every workload at the tiny
scale, untraced and traced, in one Spark session, checked for a correct
result that carries exactly the metrics BENCHMARK.json declares.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import run as bench  # noqa: E402  (perfbench/run.py)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = bench.start_spark(work)
    yield spark, work
    bench.stop_spark(spark)


def test_spec_matches_code():
    from layers import PER_LAYER

    assert [m["name"] for m in SPEC["per_layer"]] == PER_LAYER
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(bench.WORKLOAD_NAMES)


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("name", ["ingest_scan", "mutate"])
def test_workload_tiny(session, name, trace):
    from workloads import TINY

    spark, work = session
    _description, result = bench.run_workload(
        spark, name, 3, 0.0, trace, TINY, os.path.join(work, f"{name}-{int(trace)}"))
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
