"""The benchmarking tools find the package's memos by walking it:
tools/qbench.py's cold runs clear every session memo bench.py attributes
and the table-plan memo too."""

from __future__ import annotations

import importlib.util
import os

import bench
from cl_tagger_batch_processing_spark.kernels import scoring
from cl_tagger_batch_processing_spark.sources import tables

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_qbench_clears_operator_memos_and_table_plans():
    spec = importlib.util.spec_from_file_location(
        "qbench", os.path.join(ROOT, "tools", "qbench.py")
    )
    qbench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(qbench)
    cleared = {id(c) for c in qbench._memo_caches()}
    attributed = {id(getattr(module, name)) for module, name in bench.package_memos()}
    assert len(attributed) == 11  # the operator memos
    assert cleared == attributed | {id(tables._TABLE_PLAN_CACHE)}
    assert id(scoring._SESSION_CACHE) not in cleared
