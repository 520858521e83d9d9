"""Tests of the benchmark itself (not of the library).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The run tests start Spark, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def test_generator_is_deterministic_per_seed():
    levels = inputs.price_levels(7, 5, 12)
    a = inputs.events_for_days(7, levels, range(12), 4, 0)
    b = inputs.events_for_days(7, inputs.price_levels(7, 5, 12), range(12),
                               4, 0)
    assert a.equals(b)
    other = inputs.events_for_days(8, inputs.price_levels(8, 5, 12),
                                   range(12), 4, 0)
    assert other.num_rows == a.num_rows and other.schema == a.schema
    assert not other.equals(a)


def test_catalog_tables_are_deterministic_per_seed():
    a = inputs.catalog_tables(3, 0.0005)
    b = inputs.catalog_tables(3, 0.0005)
    c = inputs.catalog_tables(4, 0.0005)
    assert list(a) == list(b) == list(c)
    for name in a:
        assert a[name].equals(b[name]), name
        assert a[name].num_rows == c[name].num_rows, name
        assert a[name].schema == c[name].schema, name
    assert not a["lineitem"].equals(c["lineitem"])


def test_workloads_match_benchmark_json():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(WORKLOADS)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_is_correct_and_prints_the_declared_metrics(workload,
                                                             trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    declared = {m["name"]: m["unit"]
                for m in SPEC["per_layer" if trace else "end_to_end"]}
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    assert printed == declared


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", ".out",
                                                  "__pycache__"))
    proc = subprocess.run(
        SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"],
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
