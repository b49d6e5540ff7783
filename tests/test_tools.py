"""The benchmarking tools' memo lists stay in step with the package's memos:
bench.py must attribute every operator memo's hits, and tools/qbench.py's
cold runs must start from an empty table-plan memo too."""

from __future__ import annotations

import importlib
import importlib.util
import os
import pkgutil
import re

import bench

PKG = "cl_tagger_batch_processing_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Memos bench.py deliberately leaves warm: fixture table plans and the
# scorer's per-session model handle.
BENCH_KEPT = {("sources.tables", "_TABLE_PLAN_CACHE"), ("kernels.scoring", "_SESSION_CACHE")}


def _package_memos() -> set[tuple[str, str]]:
    package = importlib.import_module(PKG)
    found = set()
    for info in pkgutil.walk_packages(package.__path__, PKG + "."):
        module = importlib.import_module(info.name)
        for name, value in vars(module).items():
            if re.fullmatch(r"_[A-Z0-9_]*CACHE", name) and isinstance(value, dict):
                found.add((info.name[len(PKG) + 1:], name))
    return found


def test_bench_attributes_every_operator_memo():
    assert set(bench.MEMO_CACHES) == _package_memos() - BENCH_KEPT


def test_qbench_clears_operator_memos_and_table_plans():
    spec = importlib.util.spec_from_file_location(
        "qbench", os.path.join(ROOT, "tools", "qbench.py")
    )
    qbench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(qbench)
    cleared = {id(c) for c in qbench._memo_caches()}
    for mod, attr in [*bench.MEMO_CACHES, ("sources.tables", "_TABLE_PLAN_CACHE")]:
        memo = getattr(importlib.import_module(f"{PKG}.{mod}"), attr)
        assert id(memo) in cleared, (mod, attr)
