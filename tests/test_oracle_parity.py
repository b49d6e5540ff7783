"""Mirror of the driver's t2 correctness gate: registry queries must
hash-match DuckDB on the sf0.001 fixtures. The DEFAULT run value-checks the
driver window + every optimization-touched operator (fits the verification
driver's pytest budget); SPARK_GRAFT_FULL_PARITY=1 sweeps every
oracle-backed registration. SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01
runs either set at the driver-scale fixtures. At the default sf0.001 the
cases compare the session's registry record (``conftest.registry_record``)
with DuckDB instead of building each query again."""

from __future__ import annotations

import os

import pytest

from cl_tagger_batch_processing_spark.oracles import ORACLE_SQL
from cl_tagger_batch_processing_spark.registry import NO_ORACLE, QUERIES

from .conftest import GUARD_SF_DIR, sweep_cases
from .oracle_harness import compare_query


def test_every_query_has_oracle_or_reason():
    missing = set(QUERIES) - set(ORACLE_SQL) - set(NO_ORACLE)
    assert not missing, f"queries lacking both oracle and reason: {sorted(missing)}"
    orphans = set(ORACLE_SQL) - set(QUERIES)
    assert not orphans, f"oracles without queries: {sorted(orphans)}"


DRIVER_WINDOW = 50


def test_driver_window_is_curated():
    # The correctness driver value-checks only the FIRST 50 registrations
    # (registry.py's load-bearing-order comment). Pin that every window slot
    # is oracle-backed and that each judge-graded extension family holds at
    # least one window slot — a careless re-registration must fail here, not
    # in next round's CORRECTNESS file.
    window = list(QUERIES)[:DRIVER_WINDOW]
    not_oracled = [n for n in window if n not in ORACLE_SQL]
    assert not not_oracled, f"driver window entries without oracles: {not_oracled}"
    for family_member in [
        # reference-core rows kept in the window permanently (S1/F1 + the
        # kernel pipeline + the flagship tagging surface)
        "tag_select",
        "pipeline_score_tag",
        "scan_extension_filter",
        # r14 rotation (VERDICT r13 ask #3): the operator paths the two
        # optimization rounds RESTRUCTURED — graph iterative family + CC
        # riders, dedup shingle/MinHash, statistics/ML loops, embedding
        # kernels, ANN referees, basket memo riders, text/LM checkpoints,
        # the concurrent-stream CMS. See registry.py for the full rationale.
        "graph_pagerank",
        "graph_personalized_pagerank",
        "graph_hits",
        "graph_components",
        "graph_betweenness_seeded",
        "graph_closeness_centrality",
        "graph_shortest_paths",
        "graph_lpa_communities",
        "graph_modularity",
        "graph_assortativity",
        "graph_rich_club",
        "graph_triangle_count",
        "graph_common_neighbors",
        "graph_adamic_adar",
        "text_textrank_keywords",
        "graph_effective_diameter",
        "dedup_clusters",
        "er_resolution_clusters",
        "embedding_dbscan_lite",
        "dedup_ngram_jaccard",
        "dedup_containment",
        "dedup_minhash_error_report",
        "dedup_minhash_band_sweep",
        "dedup_minhash_bbit_report",
        "dedup_exact_incremental_bloom",
        "events_logistic_regression",
        "events_permutation_test",
        "events_hmm_viterbi_decode",
        "events_dau_wau_mau",
        "embedding_intrinsic_dim",
        "embedding_covariance",
        "embedding_pca_power_iteration",
        "embedding_margin_report",
        "sim_ivf_probe_sweep",
        "sim_pq_adc_recall",
        "ann_recall_report",
        "orders_market_basket_rules",
        "part_affinity_lift",
        "part_cooccurrence",
        "source_overlap_matrix",
        "corpus_ccnet_buckets",
        "corpus_perplexity_filter_sweep",
        "text_ngram_novelty",
        "text_boilerplate_ngrams",
        "text_kneser_ney_bigram",
        "text_bigram_lm_perplexity",
        "stream_watchlist_cms",
    ]:
        assert family_member in window, f"{family_member} fell out of the window"


# The FULL value-level sweep (every oracle-backed registration) pushed the
# default suite past the verification driver's pytest budget (r13: the run
# was cut off at ~94% with zero failures — VERDICT r13 ask #2). Default =
# the driver's own 50-query window plus every operator family the two
# optimization rounds restructured (the names value-drift is most likely
# to hit); the complete sweep stays one env var away and is what the
# release gate runs:
#
#     SPARK_GRAFT_FULL_PARITY=1 python -m pytest tests/test_oracle_parity.py
#
FULL_PARITY = os.environ.get("SPARK_GRAFT_FULL_PARITY") == "1"

# Operator paths restructured by the r13/r14 optimization rounds —
# always value-checked even in the fast default run.
OPTIMIZATION_TOUCHED = [
    "embedding_intrinsic_dim",
    "embedding_covariance",
    "embedding_pca_power_iteration",
    "embedding_dbscan_lite",
    "embedding_margin_report",
    "events_permutation_test",
    "events_hmm_viterbi_decode",
    "events_logistic_regression",
    "events_dau_wau_mau",
    "sim_ivf_probe_sweep",
    "sim_pq_adc_recall",
    "ann_recall_report",
    "er_resolution_clusters",
    "dedup_minhash_band_sweep",
    "dedup_minhash_bbit_report",
    "dedup_minhash_error_report",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_exact_incremental_bloom",
    "source_overlap_matrix",
    "corpus_ccnet_buckets",
    "corpus_perplexity_filter_sweep",
    "orders_market_basket_rules",
    "part_affinity_lift",
    "part_cooccurrence",
    "text_ngram_novelty",
    "text_boilerplate_ngrams",
    "text_kneser_ney_bigram",
    "text_bigram_lm_perplexity",
    "graph_pagerank",
    "graph_personalized_pagerank",
    "graph_hits",
    "graph_components",
    "graph_betweenness_seeded",
    "graph_modularity",
    "graph_assortativity",
    "graph_rich_club",
    "graph_triangle_count",
    "graph_common_neighbors",
    "graph_adamic_adar",
    "graph_lpa_communities",
]


def test_optimization_touched_names_exist():
    gone = [n for n in OPTIMIZATION_TOUCHED if n not in QUERIES]
    assert not gone, f"touched-list names no longer registered: {gone}"


PARITY_NAMES = (
    sorted(ORACLE_SQL)
    if FULL_PARITY
    else sorted(
        (set(list(QUERIES)[:DRIVER_WINDOW]) | set(OPTIMIZATION_TOUCHED))
        & set(ORACLE_SQL)
    )
)


@pytest.fixture(scope="session")
def parity_record(request, sf_dir):
    """The registry record, which holds each query's schema and rows at
    GUARD_SF_DIR; None at any other scale, where each case builds its
    query."""
    return request.getfixturevalue("registry_record") if sf_dir == GUARD_SF_DIR else None


@pytest.mark.parametrize("name", sweep_cases(PARITY_NAMES))
def test_oracle_parity(spark, sf_dir, parity_record, name):
    recorded = parity_record[name] if parity_record else None
    ok, msg = compare_query(spark, name, sf_dir, recorded=recorded)
    assert ok, f"{name}: {msg}"


# The two driver-canonicalizer guards below read the session's registry
# record, built at GUARD_SF_DIR regardless of SPARK_GRAFT_TEST_SF_DIR:
# output schemas and cell sortability do not depend on the scale factor.


def nested_output_columns(schema) -> list[str]:
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def canonicalize_like_driver(df) -> None:
    pdf = df.toPandas()
    pdf.sort_values(by=list(pdf.columns))  # raises on unsortable cells


@pytest.mark.parametrize("name", sweep_cases(sorted(QUERIES)))
def test_no_nested_output_columns(registry_record, name):
    # The correctness driver canonicalizes results with a pandas
    # sort_values over ALL columns; array/map/struct cells make that crash
    # with "unhashable type: 'list'" (r6's one red row, mm_phash_dedup).
    # Registry queries must therefore emit scalar columns only — flatten
    # member lists to sorted joined strings, vectors to long (key, dim,
    # value) form.
    nested = nested_output_columns(registry_record[name].schema)
    assert not nested, (
        f"{name} emits nested output columns {nested}; the driver's pandas "
        "canonicalizer cannot sort them — flatten to scalars"
    )


@pytest.mark.parametrize("name", sweep_cases(list(QUERIES)[:DRIVER_WINDOW]))
def test_driver_window_canonicalizes(registry_record, name):
    # Round-trip every driver-window query through the DRIVER'S exact
    # canonicalization recipe (toPandas, then pandas sort_values over all
    # columns) so any schema regression fails at commit time, not at round
    # grading.
    canonicalize_like_driver(registry_record[name].df)
