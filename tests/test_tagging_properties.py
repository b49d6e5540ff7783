"""Property-based tests (SURVEY.md §5.3): the NumPy tag selection must agree
with a direct Python transcription of the reference semantics
(appV2.py:74-101) on arbitrary inputs, and selection invariants must hold.
The selection is a plain function of a score matrix, so no Spark session is
needed; tests/test_tagging.py keeps one Spark test of the long-form
adapter.

Probabilities are drawn from a discrete grid so exact ties (the argmax
tie-break path) occur frequently.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cl_tagger_batch_processing_spark.operators.tagging import (
    CATEGORIES,
    META_BLACKLIST,
    OUTPUT_CATEGORY_RANK,
    TagSelector,
    list_matrix,
)

GRID = [0.0, 0.1, 0.3, 0.5, 0.55, 0.6, 0.9, 1.0]
NAMES = ["alpha_x", "beta", "holiday", "commentary_y", "plain", "gamma_z"]


def reference_get_tags(probs: dict[int, float], dim: dict[int, tuple[str, str]], gen: float, char: float) -> str:
    """Direct transcription of appV2.py:74-101 over long-form inputs."""
    by_cat: dict[str, list[int]] = {c: [] for c in CATEGORIES}
    for idx in sorted(dim):
        by_cat[dim[idx][1]].append(idx)
    tags = []
    for cat in ["rating", "quality"]:
        idxs = [i for i in by_cat[cat] if i in probs]
        if idxs:
            best = max(idxs, key=lambda i: (probs[i], -i))  # first max wins
            tags.append(dim[best][0].replace("_", " "))
    thresholds = {"general": gen, "meta": gen, "model": gen,
                  "character": char, "copyright": char, "artist": char}
    for cat, thresh in thresholds.items():
        for i in by_cat[cat]:
            if i in probs and probs[i] >= thresh:
                tag = dim[i][0].replace("_", " ")
                if cat == "meta" and any(x in tag.lower() for x in META_BLACKLIST):
                    continue
                tags.append(tag)
    return ", ".join(tags)


@st.composite
def tag_problem(draw):
    n_tags = draw(st.integers(2, 10))
    dim = {}
    for i in range(n_tags):
        name = draw(st.sampled_from(NAMES)) + f"_{i}"
        cat = draw(st.sampled_from(CATEGORIES))
        dim[i] = (name, cat)
    n_images = draw(st.integers(1, 3))
    scores = {}
    for img in range(n_images):
        present = draw(st.lists(st.sampled_from(range(n_tags)), min_size=1, unique=True))
        scores[img] = {i: draw(st.sampled_from(GRID)) for i in present}
    return dim, scores


def select_sparse(
    dim: dict[int, tuple[str, str]],
    scores: dict[int, dict[int, float]],
    gen: float = 0.55,
    char: float = 0.60,
    dtype=np.float64,
) -> dict[int, str]:
    """The NumPy selection over sparse per-image scores: one matrix row per
    image, absent indices masked out."""
    selector = TagSelector.fold([(i, n, c) for i, (n, c) in dim.items()], gen, char)
    images = sorted(scores)
    width = 1 + max((i for by_idx in scores.values() for i in by_idx), default=-1)
    probs = np.zeros((len(images), width), dtype)
    present = np.zeros((len(images), width), bool)
    for row, img in enumerate(images):
        for i, p in scores[img].items():
            probs[row, i], present[row, i] = p, True
    return dict(zip(images, selector.texts(probs, present)))


@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
@given(tag_problem())
def test_matches_reference_semantics(problem):
    dim, scores = problem
    expected = {
        img: reference_get_tags(by_idx, dim, 0.55, 0.60) for img, by_idx in scores.items()
    }
    assert select_sparse(dim, scores) == expected


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(tag_problem())
def test_selection_invariants(problem):
    dim, scores = problem
    out = select_sparse(dim, scores)
    # names are unique per idx (suffix _{i}), so name → (idx, category) is a bijection
    by_name = {n.replace("_", " "): (i, c) for i, (n, c) in dim.items()}
    for img, text in out.items():
        tags = text.split(", ") if text else []
        assert len(tags) == len(set(tags))  # a tag appears at most once
        cats = [by_name[t][1] for t in tags]
        # ≤1 tag from each top-1 category (rating/quality emit at most one)
        assert cats.count("rating") <= 1 and cats.count("quality") <= 1
        # blacklisted meta names never appear
        for t in tags:
            idx, cat = by_name[t]
            if cat == "meta":
                assert not any(x in t.lower() for x in META_BLACKLIST)
            # thresholded categories only emit tags meeting their threshold
            if cat in ("general", "meta", "model"):
                assert scores[img][idx] >= 0.55
            elif cat in ("character", "copyright", "artist"):
                assert scores[img][idx] >= 0.60
        # output respects the reference's category-rank order, ascending idx
        keys = [(OUTPUT_CATEGORY_RANK[c], by_name[t][0]) for t, c in zip(tags, cats)]
        assert keys == sorted(keys)


def test_exact_ties_lowest_index_wins():
    # np.argmax takes the FIRST max (appV2.py:80), in every top-1 category
    dim = {1: ("r_b", "rating"), 2: ("r_a", "rating"), 3: ("q_b", "quality"), 4: ("q_a", "quality")}
    assert select_sparse(dim, {0: {1: 0.9, 2: 0.9, 3: 0.2, 4: 0.2}}) == {0: "r b, q b"}


def test_nan_is_top1_but_never_passes_a_threshold():
    # top-1 picks the first NaN, as np.argmax does; ``nan >= t`` is False
    # in the reference, so a NaN score never passes a threshold
    nan = float("nan")
    dim = {0: ("r0", "rating"), 1: ("r1", "rating"), 2: ("r2", "rating"), 3: ("g", "general"),
           4: ("c", "character")}
    got = select_sparse(dim, {0: {0: 0.9, 1: nan, 2: nan, 3: nan, 4: 0.7}})
    assert got == {0: "r1, c"}


def test_indices_past_the_vector_end_are_absent():
    # F4: candidates the score vector does not reach never select, and a
    # negative dimension index is never a candidate (no wrap-around)
    dim = {0: ("r0", "rating"), 9: ("r9", "rating"), 1: ("g1", "general"), 12: ("g12", "general"),
           -1: ("g_neg", "general")}
    selector = TagSelector.fold([(i, n, c) for i, (n, c) in dim.items()], 0.55, 0.60)
    probs = np.array([[0.1, 0.9, 0.95]])
    assert selector.texts(probs) == ["r0, g1"]
    assert selector.width == 13


def test_top1_category_without_candidate_contributes_nothing():
    dim = {0: ("g", "general"), 1: ("q", "quality")}
    assert select_sparse(dim, {0: {0: 0.9, 1: 0.1}}) == {0: "q, g"}
    # rating has candidates, but none this vector scores
    dim = {0: ("g", "general"), 5: ("r", "rating")}
    assert select_sparse(dim, {0: {0: 0.9}}) == {0: "g"}


def test_float32_score_compares_in_float64():
    # float32(0.7) = 0.69999998..., below the double threshold 0.7, so it
    # fails; float32(0.55) = 0.55000001... passes 0.55 (Spark's FLOAT→DOUBLE
    # cast, and the reference's numpy float32-vs-float comparison)
    dim = {0: ("r", "rating"), 1: ("g", "general"), 2: ("c", "character")}
    scores = {0: {0: 0.5, 1: 0.7, 2: 0.55}}
    assert select_sparse(dim, scores, gen=0.7, char=0.55, dtype=np.float32) == {0: "r, c"}
    assert np.float32(0.7) < 0.7 and np.float32(0.55) > 0.55


def test_arrow_null_lists_and_elements_are_absent():
    dim = {0: ("r0", "rating"), 1: ("r1", "rating"), 2: ("g", "general")}
    selector = TagSelector.fold([(i, n, c) for i, (n, c) in dim.items()])
    probs = pa.array([[0.1, None, 0.9], None, [0.2, 0.3], [None, 0.1, 0.99]],
                     pa.list_(pa.float32()))
    matrix, present = list_matrix(probs)
    assert present.tolist() == [[True, False, True], [False] * 3, [True, True, False],
                                [False, True, True]]
    assert selector.texts(matrix, present) == ["r0, g", "", "r1", "r1, g"]
