"""Registry-wide vacuity gate (VERDICT r9 ask #4, standing).

The r9 one-off audit found four vacuous gates in a registry that was 100%
hash-green — a query can "pass" forever while its output checks nothing
(all-NULL metric, zero rows, identically-zero flag). This gate re-runs
that audit every suite run: collect EVERY registry query at sf0.001 and
fail on any zero-row result, all-NULL column, or all-zero numeric column
that is not in the triaged allowlist below. The allowlist is
two-directional: a flag without an entry fails (new vacuous gate), and an
entry that no longer flags fails (stale triage — keep the list tight).

Every allowlist entry carries its triage: either the zero is REAL
(identity-checked estimator gaps, true minima, honest negatives on the
clean fixture — with the data-limited TRUE path pinned by a
synthetic-pathology pytest through the factored production expression),
or it is tiny-scale-only (verified non-vacuous at sf0.1 during r10
triage, noted per entry).
"""

from __future__ import annotations

import decimal

import pytest

from .conftest import SWEEP_TIMEOUT_S

# (query, kind, column) -> why it is benign AT sf0.001.
ALLOWLIST: dict[tuple[str, str, str], str] = {
    ("pipeline_score_tag", "ALL_NULL", "error"): (
        "success path: error is NULL for every record the scorer handled"
    ),
    ("privacy_generalization_sweep", "ALL_ZERO", "anonymous_frac"): (
        "no generalization level reaches k on 1.5k rows; 4/4 nonzero at sf0.1"
    ),
    ("stream_watchlist_cms", "ALL_ZERO", "overestimate"): (
        "identity-checked estimator gap (est - exact), pinned by equality tests"
    ),
    ("dedup_exact_incremental_bloom", "ALL_ZERO", "n_bloom_maybe"): (
        "no Bloom false positives on 500 docs; 4/5 nonzero at sf0.1"
    ),
    ("graph_components", "ALL_ZERO", "component_id"): (
        "single giant component labeled by min id 0 (self-similar fixture); "
        "nonzero ids at sf0.1"
    ),
    ("graph_modularity", "ALL_ZERO", "community"): (
        "single community labeled 0 at sf0.001; nonzero at sf0.1"
    ),
    ("graph_modularity", "ALL_ZERO", "contribution"): (
        "one community => Q = 0 by the formula (e_11 - a_1^2 = 0); the "
        "textbook cross-check pins the formula; nonzero at sf0.1"
    ),
    ("graph_modularity", "ALL_ZERO", "modularity_q"): (
        "same single-community Q = 0; nonzero at sf0.1"
    ),
    ("graph_lpa_communities", "ALL_ZERO", "community"): (
        "single label-0 community at sf0.001; nonzero at sf0.1"
    ),
    ("privacy_k_anonymity", "ALL_ZERO", "is_k_anonymous"): (
        "every group is under k on 1.5k rows; 1346/1375 pass at sf0.1"
    ),
    ("q7_volume_shipping", "ZERO_ROWS", ""): (
        "nation-pair x shipdate-range predicate empty at sf0.001 only; "
        "14 rows at sf0.01 (the driver compare scale), 14 at sf0.1"
    ),
    ("q8_market_share", "ALL_ZERO", "mkt_share"): (
        "target-nation share is a true 0 at sf0.001; 7/7 nonzero at sf0.1"
    ),
    ("corpus_pack_sequences", "ALL_ZERO", "window_id"): (
        "short docs pack into chunk 0 at sf0.001; 120/140 nonzero at sf0.1"
    ),
    ("stream_sink_parquet", "ALL_ZERO", "min_user_id"): "a real minimum of 0",
    ("dq_checks_report", "ALL_ZERO", "n_violations"): (
        "honest negative: the synthetic fixture is clean by construction"
    ),
    ("text_token_count", "ALL_ZERO", "n_digit_tokens"): (
        "clean-fixture zero; TRUE path pinned by "
        "test_token_count_classes_on_synthetic_text"
    ),
    ("text_token_count", "ALL_ZERO", "n_punct_tokens"): (
        "clean-fixture zero; TRUE path pinned by "
        "test_token_count_classes_on_synthetic_text"
    ),
    ("q21_waiting_suppliers", "ZERO_ROWS", ""): (
        "multi-supplier-order + late-supplier predicate empty at sf0.001 "
        "only; 3 rows at sf0.01 (driver scale), 31 at sf0.1"
    ),
    ("text_heavy_hitters_cms", "ALL_ZERO", "overestimate"): (
        "identity-checked estimator gap (est - exact), pinned by equality tests"
    ),
    ("er_blocking_pairs", "ALL_ZERO", "lev_dist"): (
        "whole-word name edits exceed the <=2 threshold by construction; "
        "the union-find cross-check pins the closure"
    ),
    # --- ALL_FALSE triage (ADVICE r10: identically-False boolean flags) ---
    ("text_gopher_flags", "ALL_FALSE", "flag_too_long"): (
        "clean-fixture honest negative; TRUE path pinned by "
        "test_gopher_flags_fire_on_synthetic_pathologies through the "
        "factored _gopher_flagged"
    ),
    ("text_gopher_flags", "ALL_FALSE", "flag_word_len"): (
        "clean-fixture honest negative; same synthetic-pathology pin"
    ),
    ("text_gopher_flags", "ALL_FALSE", "flag_repetition"): (
        "clean-fixture honest negative; same synthetic-pathology pin"
    ),
    # --- text and embedding QA triage ----------------------------------
    ("text_heaps_law_fit", "ALL_ZERO", "heaps_beta"): (
        "honest zero: the synthetic fixture vocabulary is CLOSED (~31-40 "
        "types, fully seen in the first checkpoint at every scale), so "
        "vocabulary growth is exactly flat; the growing-vocabulary TRUE "
        "path (beta = 1, r2 = 1) is pinned by "
        "test_heaps_fit_recovers_synthetic_growth"
    ),
    ("text_heaps_law_fit", "ALL_NULL", "r2"): (
        "honest NULL: with the closed fixture vocabulary the y-variance "
        "is exactly zero (V_k constant), so r2 is 0/0 and both engines "
        "guard it to NULL; the defined-r2 path is pinned by "
        "test_heaps_fit_recovers_synthetic_growth"
    ),
    ("embedding_isotropy_report", "ALL_ZERO", "n_zero_norm"): (
        "honest zero: every fixture embedding has a nonzero quantized "
        "norm at every scale; the zero-vector drop TRUE path is pinned "
        "by test_isotropy_cone_and_zero_norm_synthetic"
    ),
    ("embedding_intrinsic_dim", "ALL_ZERO", "n_degenerate"): (
        "honest zero: the fixture has no exact duplicate embeddings at "
        "any scale (r1 > 0 everywhere); the duplicate-drop TRUE path is "
        "pinned by test_intrinsic_dim_duplicates_synthetic"
    ),
}


def vacuous_outputs(record) -> set[tuple[str, str, str]]:
    """(query, kind, column) for every zero-row result, all-NULL column,
    all-zero numeric column and all-False column in the record."""
    flagged: set[tuple[str, str, str]] = set()
    for name, rec in record.items():
        rows = rec.rows
        if not rows:
            flagged.add((name, "ZERO_ROWS", ""))
            continue
        for col in rows[0].asDict():
            vals = [r[col] for r in rows]
            if all(v is None for v in vals):
                flagged.add((name, "ALL_NULL", col))
            elif all(
                isinstance(v, (int, float, decimal.Decimal))
                and not isinstance(v, bool)
                and v == 0
                for v in vals
            ):
                flagged.add((name, "ALL_ZERO", col))
            elif all(v is False for v in vals):
                # An identically-False boolean flag (reject_*, is_*,
                # *_guarantee) is the same vacuous-gate class as an
                # identically-zero integer flag (ADVICE r10).
                flagged.add((name, "ALL_FALSE", col))
    return flagged


@pytest.mark.timeout(SWEEP_TIMEOUT_S)
def test_registry_non_vacuity(registry_record):
    flagged = vacuous_outputs(registry_record)
    new = flagged - set(ALLOWLIST)
    stale = set(ALLOWLIST) - flagged
    assert not new, (
        f"vacuous outputs without a triaged allowlist entry: {sorted(new)} — "
        "either de-vacuize the query (the r9 AUC/ab-lift/max-drawdown/q20 "
        "precedent) or triage it here with a synthetic-pathology pin"
    )
    assert not stale, (
        f"stale allowlist entries (no longer flag at sf0.001): {sorted(stale)}"
    )
