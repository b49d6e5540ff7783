"""Tests of the benchmark itself (not part of the package's suite):

    python -m pytest perfbench/test_perfbench.py -q

* every module-level ``_*CACHE`` dict in the package is either cleared
  before each query or deliberately kept warm, so a new memo cannot make
  the query mixes measure warm reruns without anyone deciding so;
* BENCHMARK.json names exactly the metrics and workloads run.py prints;
* every workload runs once at tiny scale, untraced and traced, and prints
  every metric of BENCHMARK.json by name with its unit.
"""

from __future__ import annotations

import importlib
import json
import os
import pkgutil
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
from queries import KEPT_CACHES, MEMO_CACHES, PKG  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def test_every_session_memo_is_cleared_or_kept():
    package = importlib.import_module(PKG)
    found = set()
    for info in pkgutil.walk_packages(package.__path__, PKG + "."):
        module = importlib.import_module(info.name)
        for name, value in vars(module).items():
            if re.fullmatch(r"_[A-Z0-9_]*CACHE", name) and isinstance(value, dict):
                found.add((info.name[len(PKG) + 1:], name))
    listed = set(MEMO_CACHES) | set(KEPT_CACHES)
    assert found - listed == set(), "new memo: add it to MEMO_CACHES or KEPT_CACHES"
    assert listed - found == set(), "listed memo no longer exists"


def test_benchmark_json_matches_run():
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())
