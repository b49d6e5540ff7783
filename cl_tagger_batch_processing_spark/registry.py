"""Registry of named queries: name → callable(spark, sf_dir) → DataFrame.

One entry per implemented operator from SURVEY.md §2 (plus the LLM-pipeline
extensions). Each SQL-expressible entry has a same-named DuckDB oracle in
``oracles.ORACLE_SQL``; entries without an oracle get the driver's weaker
rows-only check and are listed in ``NO_ORACLE`` with a reason.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from .operators import tagging

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
NO_ORACLE: dict[str, str] = {}  # name -> why there is no SQL oracle


def register(name: str, fn: QueryFn, no_oracle: str | None = None) -> None:
    QUERIES[name] = fn
    if no_oracle:
        NO_ORACLE[name] = no_oracle


# --- tagging (reference core, appV2.py:74-101) -----------------------------

register("tag_select", tagging.flagship_tag_select)


def _tag_exploded(spark: SparkSession, sf_dir: str, top1: bool) -> DataFrame:
    """One row per tag the top-1 (A1) or the threshold (F2+F3) step
    selects: (image_id, category, tag_idx, tag). tag_idx is BIGINT: the
    oracle emits int64 and the driver hashes through Arrow, where an
    int32-vs-int64 width split is the same failure class as r12's HUGEINT
    fails (see tests/test_oracle_types)."""
    selector = tagging.fold_tag_dim(tagging.demo_tag_dim(spark))
    return tagging.explode_tags(tagging.embedding_probs(spark, sf_dir), selector, top1)


# r8 window refresh: tag_top1_rating_quality / tag_threshold_filter were
# driver-green all seven rounds — re-registered below the window so the
# highest-risk never-driver-verified families (k-means chain, graph
# fixpoints, GD regression, privacy audits, quantile sketches) get their
# first independent driver rows (VERDICT r7 ask #1).


def _pipeline_score_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import pipeline_score_tag

    return pipeline_score_tag(spark, sf_dir)


# Value-checked via a PARTIAL oracle: the float32 kernel's probs are handed
# off through pipeline.PIPELINE_SCORED_PATH and the oracle replays the whole
# relational tail from them (see oracles.py).
register("pipeline_score_tag", _pipeline_score_tag)

# ---------------------------------------------------------------------------
# REGISTRATION ORDER IS LOAD-BEARING. The correctness driver value-checks the
# FIRST 50 registrations only; everything after gets no driver row. Local
# pytest oracles cover only part of the rest by default:
# tests/test_oracle_parity.py value-checks the driver window plus its
# OPTIMIZATION_TOUCHED names at sf0.001. SPARK_GRAFT_FULL_PARITY=1 checks
# EVERY oracle-backed registration, and at sf0.01 on demand.
# The first 50 slots therefore hold the queries where driver verification
# adds the most information: the reference-core tagging surface, every
# oracle-backed dedup/similarity/text/streaming/multimodal extension, and
# the newest not-yet-driver-verified families (rotated in each round).
# Long-stable TPC-H shapes and low-information relational/scalar variants
# (cube/rollup/string-functions etc.) are registered after slot 50.
# ---------------------------------------------------------------------------

from .operators import relational  # noqa: E402

register("scan_extension_filter", relational.scan_extension_filter)

# --- dedup / similarity / text / multimodal / streaming (driver window) -----

from .operators import dedup, multimodal, similarity, text  # noqa: E402

from .operators import curation, graph  # noqa: E402
from .streaming import stateful as streaming_stateful  # noqa: E402
from .streaming import windows as streaming_windows  # noqa: E402

# --- r14 rotation (VERDICT r13 ask #3): the optimization rounds r13-r14
# RESTRUCTURED the compute of ~45 operator paths (Arrow kernels, complement
# algebra, the (x,y,cnt) GD histogram, census-fused superstep preparation,
# size-switched broadcast supersteps, eager-vs-lazy checkpoint placement,
# session memos). Almost none of them had a driver correctness row when the
# restructuring happened — exactly the highest-hash-risk set — so the 47
# non-permanent window slots now hold them: the whole graph iterative
# family + its CC riders, the dedup shingle/MinHash family, the
# statistics/ML loops, the embedding kernels, the ANN referees, the
# market-basket memo riders, the text/LM multi-consumer checkpoints, and
# the concurrent-stream CMS query. Displaced: the r12/r13 rotation blocks
# (driver-green one to two rounds each, machinery untouched since); all
# remain oracle-backed locally below slot 50.
register("graph_pagerank", graph.graph_pagerank)
register("graph_personalized_pagerank", graph.graph_personalized_pagerank)
register("graph_hits", graph.graph_hits)
register("graph_components", graph.graph_components)
register("graph_betweenness_seeded", graph.graph_betweenness_seeded)
register("graph_closeness_centrality", graph.graph_closeness_centrality)
register("graph_shortest_paths", graph.graph_shortest_paths)
register("graph_lpa_communities", graph.graph_lpa_communities)
register("graph_modularity", graph.graph_modularity)
register("graph_assortativity", graph.graph_assortativity)
register("graph_rich_club", graph.graph_rich_club)
register("graph_triangle_count", graph.graph_triangle_count)
register("graph_common_neighbors", graph.graph_common_neighbors)
register("graph_adamic_adar", graph.graph_adamic_adar)
register("text_textrank_keywords", text.text_textrank_keywords)
register("graph_effective_diameter", graph.graph_effective_diameter)
register("dedup_clusters", dedup.dedup_clusters)
register("er_resolution_clusters", relational.er_resolution_clusters)
register("embedding_dbscan_lite", similarity.embedding_dbscan_lite)
register("dedup_ngram_jaccard", dedup.dedup_ngram_jaccard)
register("dedup_containment", dedup.dedup_containment)
register("dedup_minhash_error_report", dedup.dedup_minhash_error_report)
register("dedup_minhash_band_sweep", dedup.dedup_minhash_band_sweep)
register("dedup_minhash_bbit_report", dedup.dedup_minhash_bbit_report)
register("dedup_exact_incremental_bloom", dedup.dedup_exact_incremental_bloom)
register("events_logistic_regression", relational.events_logistic_regression)
register("events_permutation_test", relational.events_permutation_test)
register("events_hmm_viterbi_decode", relational.events_hmm_viterbi_decode)
register("events_dau_wau_mau", relational.events_dau_wau_mau)
register("embedding_intrinsic_dim", similarity.embedding_intrinsic_dim)
register("embedding_covariance", similarity.embedding_covariance)
register("embedding_pca_power_iteration", similarity.embedding_pca_power_iteration)
register("embedding_margin_report", similarity.embedding_margin_report)
register("sim_ivf_probe_sweep", similarity.sim_ivf_probe_sweep)
register("sim_pq_adc_recall", similarity.sim_pq_adc_recall)
register("ann_recall_report", similarity.ann_recall_report)
register("orders_market_basket_rules", relational.orders_market_basket_rules)
register("part_affinity_lift", relational.part_affinity_lift)
register("part_cooccurrence", relational.part_cooccurrence)
register("source_overlap_matrix", text.source_overlap_matrix)
register("corpus_ccnet_buckets", text.corpus_ccnet_buckets)
register("corpus_perplexity_filter_sweep", text.corpus_perplexity_filter_sweep)
register("text_ngram_novelty", text.text_ngram_novelty)
register("text_boilerplate_ngrams", text.text_boilerplate_ngrams)
register("text_kneser_ney_bigram", text.text_kneser_ney_bigram)
register("text_bigram_lm_perplexity", text.text_bigram_lm_perplexity)
register("stream_watchlist_cms", streaming_windows.stream_watchlist_cms)


from .functions import scalar  # noqa: E402
from .sources import layout as sources_layout  # noqa: E402
from .sources import textfiles  # noqa: E402

# --------------------------- slot 51+ from here -----------------------------
# Everything below is OUTSIDE the driver's 50-entry window; each keeps its
# local DuckDB oracle in tests/test_oracle_parity.py (or a documented
# NO_ORACLE reason) as regression cover.

# Displaced by the r14 window refresh (see above): the r12/r13 rotation
# names, all driver-green and oracle-backed locally.
register("text_good_turing", text.text_good_turing)
register("text_js_divergence", text.text_js_divergence)
register("text_quality_kappa", text.text_quality_kappa)
register("text_quality_calibration", text.text_quality_calibration)
register("graph_kcore", graph.graph_kcore)
register("corpus_token_budget", curation.corpus_token_budget)
register("dedup_paragraphs", text.dedup_paragraphs)
register("corpus_temperature_mix", curation.corpus_temperature_mix)
register("text_heavy_hitters_cms", text.text_heavy_hitters_cms)
register("text_hashing_tf", text.text_hashing_tf)
register("text_word_pmi", text.text_word_pmi)
register("text_char_entropy", text.text_char_entropy)
register("text_token_count", text.text_token_count)
register("text_vocab_coverage_curve", text.text_vocab_coverage_curve)
register("corpus_dsir_weights", text.corpus_dsir_weights)
register("corpus_weighted_sample", curation.corpus_weighted_sample)
register("corpus_split_leakage_report", curation.corpus_split_leakage_report)
register("embedding_silhouette_report", similarity.embedding_silhouette_report)
register("mm_payload_dedup", multimodal.mm_payload_dedup)


# Displaced by the r13 window refresh (see above): the seven r9-rotation
# survivors (driver-green three-plus consecutive rounds) and the 20
# r11-rotation names (green r11-r12); all remain fully oracle-backed
# locally, swept at every commit.
register("stream_cdc_merge", streaming_windows.stream_cdc_merge)
register("sim_knn_graph", similarity.sim_knn_graph)
register("stream_sliding_counts", streaming_windows.stream_sliding_counts)
register("stream_sink_parquet", streaming_windows.stream_sink_parquet)
register("stream_enrich_static", streaming_windows.stream_enrich_static)
register("stream_trending_topk", streaming_windows.stream_trending_topk)
register("stream_hll_distinct", streaming_windows.stream_hll_distinct)
register("source_csv_roundtrip", textfiles.source_csv_roundtrip)
register("source_orc_roundtrip", textfiles.source_orc_roundtrip)
register("source_xml_roundtrip", textfiles.source_xml_roundtrip)
register("source_schema_evolution", textfiles.source_schema_evolution)
register("source_jsonl_corrupt_quarantine", textfiles.source_jsonl_corrupt_quarantine)
register("lateral_top_customers", relational.lateral_top_customers)
register("dedup_semantic_keep", similarity.dedup_semantic_keep)
register("string_functions", scalar.string_functions)
register("date_functions", scalar.date_functions)
register("math_functions", scalar.math_functions)
register("array_functions", scalar.array_functions)
register("map_functions", scalar.map_functions)
register("percentiles_by_priority", scalar.percentiles_by_priority)

# Displaced by the r12 window refresh (see above): the 20 r10-rotation
# names were driver-green two consecutive rounds (r10-r11); all remain
# fully oracle-backed locally.
register("sim_hybrid_rrf", similarity.sim_hybrid_rrf)
register("dedup_rouge_verify", dedup.dedup_rouge_verify)
register("sim_ann_graph_search", similarity.sim_ann_graph_search)
register("stream_session_counts", streaming_windows.stream_session_counts)
register("approx_distinct", relational.approx_distinct)
register("dedup_simhash_error_report", dedup.dedup_simhash_error_report)
register("corpus_stratified_split", curation.corpus_stratified_split)
register("corpus_health_report", curation.corpus_health_report)
register(
    "stream_first_touch_attribution",
    streaming_windows.stream_first_touch_attribution,
)
register("stream_quantile_histogram", streaming_windows.stream_quantile_histogram)

# Displaced by the r11 window refresh (see above): the eight r7 promotions
# were driver-green four consecutive rounds (r7-r10), the twelve r9
# promotions two (r9-r10); all remain fully oracle-backed locally.
register("dedup_minhash_lev_verify", dedup.dedup_minhash_lev_verify)
register("approx_distinct_hll", relational.approx_distinct_hll)
register("sim_mmr_diversify", similarity.sim_mmr_diversify)
register("text_bpe_train_merges", text.text_bpe_train_merges)
register("text_winnowing_fingerprints", text.text_winnowing_fingerprints)
register("text_bm25_topk", text.text_bm25_topk)
register("privacy_generalization_sweep", curation.privacy_generalization_sweep)

# Displaced by the r10 window refresh (see above): the ten r7-survivors were
# driver-green three consecutive rounds (r7-r9), the ten r8-survivors two
# (r8-r9); all remain fully oracle-backed locally.
register("dedup_substring_spans", dedup.dedup_substring_spans)
register("dedup_url_canonical", dedup.dedup_url_canonical)
register("corpus_dedup_funnel", dedup.corpus_dedup_funnel)
register("sim_range_search", similarity.sim_range_search)
register("mm_scene_cuts", multimodal.mm_scene_cuts)
register("crossmodal_curation_verdict", curation.crossmodal_curation_verdict)
register("embedding_kmeans", similarity.embedding_kmeans)
register("privacy_k_anonymity", curation.privacy_k_anonymity)

# Displaced by the r9 window refresh (see above): all 19 were driver-green
# three-to-eight consecutive rounds and remain fully oracle-backed locally.
register("dedup_minhash_lsh", dedup.dedup_minhash_lsh)
register("dedup_simhash", dedup.dedup_simhash)
register("stream_tumbling_counts", streaming_windows.stream_tumbling_counts)
register("sim_ann_lsh", similarity.sim_ann_lsh)
register("dedup_semantic", similarity.dedup_semantic)
register("text_pii_scrub", curation.text_pii_scrub)
register("text_gopher_flags", curation.text_gopher_flags)
register("cdc_merge_documents", curation.cdc_merge_documents)
register("layout_partition_prune", sources_layout.layout_partition_prune)
register("layout_bucketed_join", sources_layout.layout_bucketed_join)
register("source_jsonl_roundtrip", textfiles.source_jsonl_roundtrip)
register("stream_stream_join", streaming_windows.stream_stream_join)
register("stream_user_event_mix", streaming_stateful.stream_user_event_mix)
register("scd2_order_status", relational.scd2_order_status)
register("mm_audio_framing", multimodal.mm_audio_framing)
register("text_tfidf_topk", text.text_tfidf_topk)
register("mm_phash_dedup", multimodal.mm_phash_dedup)

# Displaced by the r8 window refresh (see above): all ten were driver-green
# five-to-seven consecutive rounds and remain fully oracle-backed locally.
register("tag_top1_rating_quality", partial(_tag_exploded, top1=True))
register("tag_threshold_filter", partial(_tag_exploded, top1=False))
register("dedup_exact", dedup.dedup_exact)
register("dedup_embedding_cosine", dedup.dedup_embedding_cosine)
register("sessionize", streaming_windows.sessionize)
register("stream_dedup_counts", streaming_windows.stream_dedup_counts)
register("stream_user_totals", streaming_stateful.stream_user_totals)
register("sim_topk_ivf", similarity.sim_topk_ivf)
register("corpus_source_mix", curation.corpus_source_mix)

# Displaced by the r7 window refresh (see above): all ten remain fully
# oracle-backed locally; the three graph/ANN families were driver-green in
# both r5 and r6, the rest since r3 or earlier.
from .operators import skew  # noqa: E402

register("asof_join_purchase_click", relational.asof_join_purchase_click)
register("range_join_events", relational.range_join_events)
register("skew_salted_join", skew.skew_salted_join)
register("mm_metadata", multimodal.mm_metadata)
register("mm_frame_sample", multimodal.mm_frame_sample)
register("text_unigram_loglik", text.text_unigram_loglik)
register("decontaminate_ngram_overlap", text.decontaminate_ngram_overlap)

# Displaced from the window by dedup_semantic (plain running-sum window;
# window_frames' local oracle covers the same frame machinery).
register("window_running", relational.window_running)

# TPC-H flagships displaced by the r6 window refresh (see above): local
# parity + plan tests keep their machinery pinned.
register("q1_pricing_summary", relational.q1_pricing_summary)
register("q3_shipping_priority", relational.q3_shipping_priority)
register("q5_local_supplier", relational.q5_local_supplier)
register("q18_large_orders", relational.q18_large_orders)
register("q22_idle_customers", relational.q22_idle_customers)

# Mid-tier TPC-H shapes displaced from the window by the r3 extension and
# curation/CDC/layout queries (the judge-graded LLM-pipeline families
# benefit more from driver verification; these keep their local oracles).
# q6/q19 displaced by stream_stream_join and layout_bucketed_join: their
# predicate/pushdown machinery stays pinned by test_plans.py + local oracle.
register("q6_forecast_revenue", relational.q6_forecast_revenue)
register("q19_disjunctive_revenue", relational.q19_disjunctive_revenue)
register("q2_min_cost_supplier", relational.q2_min_cost_supplier)
register("q4_order_priority", relational.q4_order_priority)
register("q7_volume_shipping", relational.q7_volume_shipping)
register("q8_market_share", relational.q8_market_share)
register("q9_product_profit", relational.q9_product_profit)
register("q11_important_parts", relational.q11_important_parts)
register("q12_late_priority", relational.q12_late_priority)
register("q13_customer_distribution", relational.q13_customer_distribution)
register("q14_promo_revenue", relational.q14_promo_revenue)
register("q15_top_supplier", relational.q15_top_supplier)
register("q16_supplier_counts", relational.q16_supplier_counts)
register("q17_small_quantity", relational.q17_small_quantity)
register("q20_bulk_suppliers", relational.q20_bulk_suppliers)

register("agg_rollup", relational.agg_rollup)
register("join_semi_anti", relational.join_semi_anti)
register("set_ops", relational.set_ops)
register("pivot_status", relational.pivot_status)
register("distinct_brand_stats", relational.distinct_brand_stats)
register("cube_agg", relational.cube_agg)
register("window_frames", relational.window_frames)
register("grouping_sets_agg", relational.grouping_sets_agg)
register("above_avg_parts", relational.above_avg_parts)
register("unpivot_measures", relational.unpivot_measures)
# approx_distinct (accuracy-contract oracle since r8) promoted into the
# driver window by the r10 rotation, and the whole scalar-functions family
# (string/date/math/array/map, percentiles_by_priority) plus the source_*
# roundtrips, remaining stream_* queries, VARIANT/LATERAL surfaces and the
# composed ANN/SemDeDup verdicts by the r11 rotation — all registered above.

# Lag analytics over the aggregated series, not the fact rows.
register("yoy_revenue_growth", relational.yoy_revenue_growth)
# Operational latency report (exact interpolated p90 over integers).
register("order_lead_times", relational.order_lead_times)
# Classifier-QA confusion matrix over the langid heuristic.
register("langid_confusion_matrix", text.langid_confusion_matrix)
# Incremental dedup: incoming batch vs the corpus hash store (anti join).
register("dedup_exact_incremental", dedup.dedup_exact_incremental)
# Per-cluster distance-outlier QA over the k-means assignment.
register("embedding_outliers", similarity.embedding_outliers)
# Power-of-two token-length histogram (exact integer log2 buckets).
register("doc_length_histogram", text.doc_length_histogram)

register("corpus_pack_sequences", curation.corpus_pack_sequences)
register("layout_compact_small_files", sources_layout.layout_compact_small_files)
# Composite gate→scrub→dedup→split pipeline: every map stage fuses into one
# scan; exactly two shuffles (dedup window + report agg) at any scale.
register("curation_pipeline_report", curation.curation_pipeline_report)
# Range-sorted write => tight per-row-group min/max => stats-based skipping.
register("layout_sorted_skipping", sources_layout.layout_sorted_skipping)
# Per-batch data-quality gate: one agg pass per table + key-only anti joins.
register("dq_checks_report", curation.dq_checks_report)
# RAG-style overlapping token chunking (chunk 16 / stride 8), zero-shuffle.
register("text_chunk_windows", text.text_chunk_windows)
# Hash-threshold mixture sampler (split-independent salt), scan-time filter.
register("corpus_mixture_sample", curation.corpus_mixture_sample)
# Exact binary-payload dedup (content-addressing; synthetic re-uploads).
# Two partition-pruned incremental runs merged == one-shot recompute.
register("incremental_daily_agg", sources_layout.incremental_daily_agg)
# Text gates AND semantic dedup joined into the final per-doc verdict.
register("embedding_dim_stats", similarity.embedding_dim_stats)
# Deterministic Lloyd's k-means (SemDeDup-style clustering stage): exact
# value oracle replaying both refinement iterations in SQL; also
# transitively driver-verified through dedup_semantic's windowed oracle.

register("dedup_fingerprint", text.dedup_fingerprint)
register("text_repetition", text.text_repetition)
register("text_vocab_topk", text.text_vocab_topk)
register("embedding_label_centroids", similarity.embedding_label_centroids)
# stream_session_counts (deterministic end-of-stream flush oracle since r8)
# promoted into the driver window by the r10 rotation — registered above.

# --- round-5 additions: lexical retrieval, C4-style span dedup, DSIR
# selection, BPE merge counting, perceptual-hash payload dedup -------------
register("text_bpe_pair_counts", text.text_bpe_pair_counts)

# --- round-5 additions, batch 2: flow/robust-stats/SCD2 analytics, shingle
# containment, scalar-quantized ANN, audio framing, entropy QA, budget
# planning ----------------------------------------------------------------
register("sim_scalar_quant_recall", similarity.sim_scalar_quant_recall)

# displaced from the window by the r5 refresh (local parity still covers)
register("q10_returned_items", relational.q10_returned_items)
register("q21_waiting_suppliers", relational.q21_waiting_suppliers)
register("topk_per_group", relational.topk_per_group)

register("graph_degree_stats", graph.graph_degree_stats)

register("text_keyword_rake", text.text_keyword_rake)


register("dedup_exact_keep_best", dedup.dedup_exact_keep_best)


register("dedup_minhash_incremental", dedup.dedup_minhash_incremental)


register("layout_zorder_skipping", sources_layout.layout_zorder_skipping)


register("corpus_dsir_sample", text.corpus_dsir_sample)


register("corpus_length_filter_sweep", curation.corpus_length_filter_sweep)

register("source_jsd_matrix", text.source_jsd_matrix)


# --- round-6 additions kept below the window (the other ten r6 additions
# were promoted into the driver window by the r7 refresh above) -------------
register("token_zipf_fit", text.token_zipf_fit)
register("dedup_exact_incremental_bucketed", sources_layout.dedup_exact_incremental_bucketed)
register("mm_tile_grid", multimodal.mm_tile_grid)
register("text_html_strip", text.text_html_strip)

# --- round-7 additions: k-core backbone, corpus novelty curve, VAD-style
# energy segmentation ------------------------------------------------------
register("mm_audio_energy_segments", multimodal.mm_audio_energy_segments)
register("mm_keyframe_select", multimodal.mm_keyframe_select)
register("corpus_near_dup_rate_by_source", dedup.corpus_near_dup_rate_by_source)
register("corpus_fertility_by_lang", text.corpus_fertility_by_lang)
register("dedup_cluster_quality_report", dedup.dedup_cluster_quality_report)
register("brand_price_regression", relational.brand_price_regression)
register("er_blocking_pairs", relational.er_blocking_pairs)
# displaced from the driver window by the r7 second refresh — still
# oracle-backed and locally parity-checked every commit
register("text_simhash", dedup.simhash_signatures)
register("sim_topk_cosine", similarity.sim_topk_cosine)
register("text_quality_score", text.text_quality_score)
register("text_langid", text.text_langid)
register("text_fingerprint", text.text_fingerprint)
register("text_blocklist_filter", text.text_blocklist_filter)
register("text_stats", text.text_stats)
register("mm_byte_histogram", multimodal.mm_byte_histogram)
register("corpus_split_assign", curation.corpus_split_assign)
register("sim_knn_label_vote", similarity.sim_knn_label_vote)

# --- round-8 additions: lexical retrieval ranking (BM25), HITS
# hubs/authorities, entity-resolution clusters ------------------------------
register("dedup_cluster_keep_best", dedup.dedup_cluster_keep_best)
register("sim_ivf_balance_report", similarity.sim_ivf_balance_report)
register("mm_audio_silence_trim", multimodal.mm_audio_silence_trim)
register("embedding_hard_negatives", similarity.embedding_hard_negatives)
register("corpus_dedup_token_savings", dedup.corpus_dedup_token_savings)
# The round-9 additions (Kneser-Ney LM, RRF fusion, permutation test,
# ROUGE verify, graph-ANN beam search, CCNet buckets) plus the
# corpus_stratified_split / corpus_health_report / streaming reports were
# promoted into the driver window by the r10 rotation — registered above.

# Round-11 to round-13 additions: retrieval eval (nDCG), stylometry
# (Burrows' delta), lexical diversity and the source-concentration report
# (HHI/Gini/top-k token shares — mixture governance).
register("text_ndcg_eval", text.text_ndcg_eval)
register("text_burrows_delta", text.text_burrows_delta)
register("text_lexical_diversity", text.text_lexical_diversity)
register("corpus_source_concentration", curation.corpus_source_concentration)
# Vocabulary-growth law fit (Heaps β/K over integer-arithmetic doc-prefix
# checkpoints; exact decimal OLS sums) and Gries' DP token dispersion
# across sources (the boilerplate-vs-general-vocabulary signal).
register("text_heaps_law_fit", text.text_heaps_law_fit)
register("text_token_dispersion", text.text_token_dispersion)
# Embedding representation-QA: isotropy (mean pairwise cosine via the
# resultant-vector identity — NO pair join) and the TwoNN intrinsic-
# dimension MLE (exact integer 2-NN distances; all-pairs stage documented
# as the sim_topk_cosine fixture-scale referee class).
register("embedding_isotropy_report", similarity.embedding_isotropy_report)
