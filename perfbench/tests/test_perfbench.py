"""Tests of the benchmark itself, at tiny sizes.

Run from the repository root (each test starts its own Spark session):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run as bench  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY = {
    "bulk_encode": {"rows": 600},
    "train_scan": {"rows": 600},
    "append_lookup": {"rows": 400, "append_tokens": 5_000},
}


def _numbers(metrics: dict) -> bool:
    return all(isinstance(m["value"], (int, float)) and math.isfinite(m["value"])
               for m in metrics.values())


@pytest.mark.parametrize("workload", sorted(TINY))
def test_every_workload_runs_traced_and_checks_answers(workload):
    rec = bench.run(workload, seed=3, seconds=1, trace=True,
                    sizes=TINY[workload])
    line = bench.result_line(rec)
    assert line["correct"] and line["failed"] == 0
    assert line["attempted"] >= 3
    assert set(line["metrics"]) == set(bench.PER_LAYER)
    assert _numbers(line["metrics"])
    assert set(rec["end_to_end"]) == set(bench.END_TO_END)
    assert all(v > 0 for v in rec["end_to_end"].values())


def test_corrupted_expected_answer_counts_as_failed():
    def corrupt(oracle):
        oracle.token_sum += 1

    rec = bench.run("train_scan", seed=3, seconds=1, trace=False,
                    sizes=TINY["train_scan"], oracle_hook=corrupt)
    assert rec["detail"]["failed_ops_frac"] > 0
    assert not bench.result_line(rec)["correct"]


def test_benchmark_json_matches_what_the_runs_emit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # train_scan is run by hand only (README.md, "Workloads")
    assert [w["name"] for w in spec["workloads"]] == \
        [w for w in WORKLOADS if w != "train_scan"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} \
        == bench.PER_LAYER
