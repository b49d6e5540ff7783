"""The session's registry record (conftest.registry_record) and the five
registry-wide checks that read it.

Each check is a function over the record, so each can be fed a synthetic
record with one planted violation and no Spark session. A check that
stops reporting its violation would pass the real registry vacuously.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from cl_tagger_batch_processing_spark.registry import QUERIES

from .conftest import REGISTRY_BUILDS, SWEEP_TIMEOUT_S, QueryRecord
from .test_oracle_parity import canonicalize_like_driver, nested_output_columns
from .test_plans import scale_killers, unallowlisted_unpartitioned_windows
from .test_vacuity import ALLOWLIST, vacuous_outputs

PLANTED = "planted_query"  # in no allowlist


class _FrameStub:
    """Stands in for a DataFrame whose driver-side pandas frame is given."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self.pdf


def _record(plan=None, rows=(), schema=None, df=None) -> dict[str, QueryRecord]:
    return {PLANTED: QueryRecord(df, schema, plan, list(rows))}


def _new_vacuous_outputs(record):
    return vacuous_outputs(record) - set(ALLOWLIST)


def _nested(record):
    return nested_output_columns(record[PLANTED].schema)


def _canonicalize_errors(record):
    try:
        canonicalize_like_driver(record[PLANTED].df)
    except TypeError as e:
        return str(e)
    return ""


# case -> (check, record with one planted violation, what the check reports)
PLANTED_CASES = {
    "cartesian_product": (
        scale_killers,
        _record(plan="CartesianProduct\n:- Scan a\n+- Scan b"),
        f"{PLANTED}: CartesianProduct",
    ),
    "batch_eval_python": (
        scale_killers,
        _record(plan="BatchEvalPython [f(x#1)#5], [pythonUDF0#6]"),
        f"{PLANTED}: row-at-a-time Python",
    ),
    "map_in_arrow_not_allowed": (
        scale_killers,
        _record(plan="MapInArrow f(x#1)#5, [y#7], false"),
        f"{PLANTED}: unexpected Python boundary",
    ),
    "unpartitioned_window": (
        unallowlisted_unpartitioned_windows,
        _record(
            plan="Window [row_number() windowspecdefinition(x#1 ASC NULLS FIRST, "
            "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) "
            "AS rn#9], [x#1 ASC NULLS FIRST]"
        ),
        f"{PLANTED}: ['x#1 ASC NULLS FIRST']",
    ),
    "array_output_column": (
        _nested,
        _record(
            schema=StructType(
                [
                    StructField("id", LongType()),
                    StructField("members", ArrayType(LongType())),
                ]
            )
        ),
        "members",
    ),
    "zero_rows": (_new_vacuous_outputs, _record(rows=[]), (PLANTED, "ZERO_ROWS", "")),
    "all_null_column": (
        _new_vacuous_outputs,
        _record(rows=[Row(id=1, score=None), Row(id=2, score=None)]),
        (PLANTED, "ALL_NULL", "score"),
    ),
    "unsortable_cells": (
        _canonicalize_errors,
        _record(df=_FrameStub(pd.DataFrame({"id": [1, 1], "members": [[1], [2]]}))),
        "unhashable type: 'list'",
    ),
}


@pytest.mark.parametrize("case", PLANTED_CASES)
def test_check_reports_planted_violation(case):
    check, record, expected = PLANTED_CASES[case]
    assert expected in check(record)


@pytest.mark.timeout(SWEEP_TIMEOUT_S)
def test_registry_record_builds_each_query_once(registry_record):
    assert list(registry_record) == list(QUERIES)
    assert REGISTRY_BUILDS == dict.fromkeys(QUERIES, 1)
