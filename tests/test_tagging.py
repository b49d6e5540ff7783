"""Tag-selection semantics tests (SURVEY.md §5.2-5.3).

Pins the behaviors DuckDB-oracle checks alone would not localize: A1
tie-break, F2 thresholds, F3 substring blacklist, F4 missing-dimension
indices, P1 name cleanup, A2 deterministic ordering, empty-image handling.
The selection is a NumPy function, so most cases run it directly; one test
drives the long-form Spark adapter ``select_tags``.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cl_tagger_batch_processing_spark.operators import tagging

from .test_tagging_properties import select_sparse


def _select(rows, probs: dict[int, float]) -> str:
    """One image's tags_text for dimension ``rows`` and sparse ``probs``."""
    return select_sparse({i: (n, c) for i, n, c in rows}, {0: probs})[0]


def test_sigmoid_clip_edges(spark):
    df = spark.createDataFrame([(x,) for x in [-100.0, -30.0, 0.0, 30.0, 100.0]], "x double")
    vals = [r[0] for r in df.select(tagging.sigmoid_clip(F.col("x")).alias("p")).collect()]
    lo = 1.0 / (1.0 + math.exp(30.0))
    hi = 1.0 / (1.0 + math.exp(-30.0))
    assert vals[0] == pytest.approx(lo)  # clipped at -30 (appV2.py:174)
    assert vals[1] == pytest.approx(lo)
    assert vals[2] == pytest.approx(0.5)
    assert vals[3] == pytest.approx(hi)
    assert vals[4] == pytest.approx(hi)  # clipped at +30


def test_top1_tie_break_lowest_index():
    # np.argmax takes the FIRST max (appV2.py:80) → lowest tag_idx wins ties.
    rows = [(1, "r_b", "rating"), (2, "r_a", "rating"), (3, "q", "quality")]
    # idx 1 beats idx 2 on the tie; P1 cleans '_'
    assert _select(rows, {1: 0.9, 2: 0.9, 3: 0.5}) == "r b, q"


def test_threshold_boundaries_inclusive():
    # prob >= threshold (appV2.py:93) — boundary values are kept.
    rows = [
        (0, "r", "rating"),
        (1, "gen_at", "general"),
        (2, "gen_below", "general"),
        (3, "char_at", "character"),
        (4, "char_below", "character"),
    ]
    probs = {0: 0.1, 1: 0.55, 2: 0.549999, 3: 0.60, 4: 0.599999}
    assert _select(rows, probs) == "r, gen at, char at"


def test_meta_blacklist_is_substring_not_word():
    # 'holiday' contains 'id' → dropped; blacklist only applies to meta
    # (appV2.py:98-99).
    rows = [
        (0, "r", "rating"),
        (1, "holiday", "meta"),
        (2, "commentary_track", "meta"),
        (3, "clean_meta", "meta"),
        (4, "holiday", "general"),  # same name, non-meta → kept
    ]
    probs = {0: 0.9, 1: 0.99, 2: 0.99, 3: 0.99, 4: 0.99}
    assert _select(rows, probs) == "r, holiday, clean meta"


def test_output_category_order_and_index_order():
    # rating, quality, general, meta, model, character, copyright, artist;
    # ascending tag_idx within category (appV2.py:75-101).
    rows = [
        (10, "a_art", "artist"),
        (11, "c_char", "character"),
        (12, "cp", "copyright"),
        (13, "g2", "general"),
        (3, "g1", "general"),
        (14, "m_meta", "meta"),
        (15, "mdl", "model"),
        (16, "q", "quality"),
        (17, "r", "rating"),
    ]
    probs = {i: 0.99 for (i, _, _) in rows}
    assert _select(rows, probs) == "r, q, g1, g2, m meta, mdl, c char, cp, a art"


def test_missing_dim_index_ignored():
    # Indices absent from the dimension are never candidates (F4,
    # appV2.py:62-71): even a prob=1.0 unknown index contributes nothing.
    assert _select([(0, "r", "rating")], {0: 0.2, 999: 1.0}) == "r"


def test_images_with_no_tags_get_empty_string(spark):
    # The long-form Spark adapter: the reference writes an empty sidecar for
    # tagless images (appV2.py:101); an image without scores, or whose only
    # scores are NULL or outside the dimension, is such an image; a missing
    # index in a sparse image is absent, not zero.
    dim = spark.createDataFrame(
        [(0, "g", "general"), (1, "r0", "rating"), (2, "r1", "rating")],
        "tag_idx int, tag_name string, category string",
    )
    scores = spark.createDataFrame(
        [(1, 0, 0.99), (2, 0, 0.01), (4, 0, None), (4, 99, 1.0), (5, 2, 0.0)],
        "image_id bigint, tag_idx int, prob double",
    )
    images = spark.createDataFrame([(i,) for i in range(1, 6)], "image_id bigint")
    out = tagging.select_tags(scores, dim, images=images).collect()
    assert {r["image_id"]: r["tags_text"] for r in out} == {
        1: "g", 2: "", 3: "", 4: "", 5: "r1"
    }


def test_flagship_runs_on_fixtures(spark, sf_dir):
    df = tagging.flagship_tag_select(spark, sf_dir)
    assert df.columns == ["image_id", "tags_text"]
    n = df.count()
    assert n == 500  # one row per embeddings vec_id at sf0.001


def _fold_in_job_group(spark, group: str, make_dim):
    """``fold_tag_dim(make_dim())`` run inside job group ``group``, with the
    ids of the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "tag dimension fold")
    try:
        selector = tagging.fold_tag_dim(make_dim())
    finally:
        sc.setJobGroup(None, None)
    return selector, sc.statusTracker().getJobIdsForGroup(group)


def _assert_same_selector(got: tagging.TagSelector, want: tagging.TagSelector):
    import numpy as np

    for field in ("idx", "category", "tag", "threshold"):  # NaN == NaN here
        np.testing.assert_array_equal(getattr(got, field), getattr(want, field), field)
    assert (got.top1, got.kept) == (want.top1, want.kept)


def test_tag_dim_folds_without_a_job(spark, tmp_path):
    # Both tag dimensions are driver-local relations: folding one reads its
    # rows on the driver and starts no Spark job. The folded arrays are
    # those of the rows the dimension stands for: the oracle's TAG_DIM_CTE
    # mirror for the demo dimension, the normalized mapping for a file.
    import json

    import duckdb

    from cl_tagger_batch_processing_spark.oracles import TAG_DIM_CTE
    from cl_tagger_batch_processing_spark.sources.tag_mapping import (
        load_tag_dim,
        normalize_tag_mapping,
    )

    schema = "struct<tag_idx:int,tag_name:string,category:string>"
    assert tagging.demo_tag_dim(spark).schema.simpleString() == schema
    selector, jobs = _fold_in_job_group(
        spark, "tag-dim-fold-demo", lambda: tagging.demo_tag_dim(spark)
    )
    assert jobs == []
    oracle_rows = duckdb.sql(
        f"WITH {TAG_DIM_CTE.strip()} SELECT tag_idx, tag_name, category FROM tag_dim"
    ).fetchall()
    assert len(oracle_rows) == tagging.DEMO_TAG_COUNT
    _assert_same_selector(selector, tagging.TagSelector.fold(oracle_rows))

    mappings = {
        "mixed": {
            "idx_to_tag": {"3": "long_hair", "0": "safe", "7": "holiday", "9": "odd"},
            "tag_to_category": {
                "long_hair": "general", "safe": "Rating", "holiday": "meta", "odd": "bogus"
            },
        },
        "empty": {"0": {"tag": "x", "category": "bogus"}},
    }
    for name, data in mappings.items():
        path = tmp_path / f"{name}.json"
        path.write_text(json.dumps(data))
        assert load_tag_dim(spark, str(path)).schema.simpleString() == schema
        selector, jobs = _fold_in_job_group(
            spark, f"tag-dim-fold-{name}", lambda: load_tag_dim(spark, str(path))
        )
        assert jobs == [], name
        _assert_same_selector(selector, tagging.TagSelector.fold(normalize_tag_mapping(data)))
