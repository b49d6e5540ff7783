"""Tag-dimension loader (the reference's S2, appV2.py:51-72).

The mapping JSON arrives in one of two layouts, detected by probing for the
``idx_to_tag`` key (appV2.py:54):

* ``{"idx_to_tag": {"0": "tag"}, "tag_to_category": {"tag": "cat"}}``
* ``{"0": {"tag": "tag", "category": "cat"}}``

String keys are cast to int (appV2.py:55,58). Unknown-tag categories default
to ``general`` (appV2.py:67); categories outside the known 8 are dropped
(appV2.py:68). The result is a small dimension DataFrame
``(tag_idx, tag_name, category)``, which ``tag_images`` folds into the
selection function with one driver collect (J1/J2 need no join).

This is driver-side work on a tiny file (the reference does the same), so
plain ``json.load`` is correct; the heavy side of the join is what Spark
distributes.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ..operators.tagging import CATEGORIES, tag_dim_frame

KNOWN_CATEGORIES = set(CATEGORIES)  # appV2.py:63


def normalize_tag_mapping(data: dict) -> list[tuple[int, str, str]]:
    """Dual-layout normalization → [(tag_idx, tag_name, category)]."""
    if isinstance(data, dict) and "idx_to_tag" in data:
        idx_to_tag = {int(k): v for k, v in data["idx_to_tag"].items()}
        tag_to_category = data["tag_to_category"]
    else:
        by_idx = {int(k): v for k, v in data.items()}
        idx_to_tag = {idx: row["tag"] for idx, row in by_idx.items()}
        tag_to_category = {row["tag"]: row["category"] for row in by_idx.values()}

    rows = []
    for idx, tag in sorted(idx_to_tag.items()):
        cat = tag_to_category.get(tag, "general").lower()  # appV2.py:67
        if cat in KNOWN_CATEGORIES:  # appV2.py:68 — silently drop unknown
            rows.append((idx, tag, cat))
    return rows


def load_tag_dim(spark: SparkSession, mapping_path: str) -> DataFrame:
    with open(mapping_path, encoding="utf-8") as f:
        data = json.load(f)
    return tag_dim_frame(spark, normalize_tag_mapping(data))
