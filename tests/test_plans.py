"""Plan-shape regression tests: pin the physical properties that make these
queries scale (pushdown, pruning, broadcasts, shuffle counts). Results being
right is necessary; these make sure the PLAN stays right too."""

from __future__ import annotations

import os

import pytest

from cl_tagger_batch_processing_spark.plans import inspect
from cl_tagger_batch_processing_spark.registry import QUERIES

from .conftest import GUARD_SF_DIR, SWEEP_TIMEOUT_S


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    pushed = " ".join(inspect.pushed_filters(df))
    assert "l_shipdate" in pushed  # predicate reached the parquet scan
    schemas = inspect.read_schemas(df)
    assert schemas, "no file scan found"
    # 7 needed columns only — no full-schema scan
    assert all("l_orderkey" not in s and "l_partkey" not in s for s in schemas)


def test_q3_small_dims_broadcast(spark, sf_dir):
    df = QUERIES["q3_shipping_priority"](spark, sf_dir)
    assert inspect.count_operator(df, "BroadcastHashJoin") >= 1
    assert inspect.count_operator(df, "SortMergeJoin") == 0


def test_tag_select_has_no_exchange(spark, sf_dir):
    df = QUERIES["tag_select"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    # selection is one mapInArrow over each image's probs, with the tag
    # dimension folded into the function: no shuffle and no broadcast
    assert "Exchange" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("MapInArrow") == 1


def test_tag_images_plan_is_scan_kernel_project(spark, tmp_path):
    # scan → coalesce → mapInArrow (decode, score and tag selection in one
    # Python stage): no shuffle or broadcast, no ok/error union, no
    # checkpoint scan, and the Python kernel appears exactly once
    from cl_tagger_batch_processing_spark.operators.tagging import demo_tag_dim
    from cl_tagger_batch_processing_spark.pipeline import tag_images

    for i in range(4):
        (tmp_path / f"img_{i}.png").write_bytes(b"payload" * (i + 1))
    plan = inspect.executed_plan(tag_images(spark, str(tmp_path), demo_tag_dim(spark)))
    assert "Exchange" not in plan  # neither a shuffle nor a BroadcastExchange
    assert "Union" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan
    assert "ExistingRDD" not in plan


def _kernel_tasks(spark, folder) -> int:
    from cl_tagger_batch_processing_spark.operators.tagging import demo_tag_dim
    from cl_tagger_batch_processing_spark.pipeline import tag_images

    return tag_images(spark, folder, demo_tag_dim(spark)).rdd.getNumPartitions()


def test_tiny_files_run_one_kernel_task_per_core(spark, tmp_path):
    # The file splitter charges each file 4 MB of open cost and caps a split
    # at maxPartitionBytes (128 MB), so 100 tiny files plan 4 partitions of
    # at most 31 files on 2 cores; the kernel runs one task per core.
    for i in range(100):
        (tmp_path / f"img_{i}.png").write_bytes(b"payload" * (i + 1))
    spark.conf.set("spark.sql.leafNodeDefaultParallelism", "2")
    try:
        assert _kernel_tasks(spark, str(tmp_path)) == 2
    finally:
        spark.conf.unset("spark.sql.leafNodeDefaultParallelism")


def test_kernel_tasks_cover_max_partition_bytes(spark, tmp_path):
    # The coalesce never packs more than maxPartitionBytes of listed bytes
    # into one kernel task.
    sizes = [40_000 + 997 * i for i in range(12)]
    for i, n in enumerate(sizes):
        (tmp_path / f"img_{i}.png").write_bytes(bytes(range(256)) * (n // 256 + 1))
    listed = sum(os.path.getsize(tmp_path / f"img_{i}.png") for i in range(12))
    max_bytes = 100_000
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(max_bytes))
    try:
        assert _kernel_tasks(spark, str(tmp_path)) >= -(-listed // max_bytes)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_asof_join_single_shuffle(spark, sf_dir):
    df = QUERIES["asof_join_purchase_click"](spark, sf_dir)
    # union + window: one shuffle (by user), one sort — no range join blowup
    assert inspect.count_shuffles(df) == 1
    assert inspect.count_operator(df, "SortMergeJoin") == 0


def test_jaccard_never_cartesian(spark, sf_dir):
    df = QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_banded_never_cartesian(spark, sf_dir):
    # the scale path's pigeonhole banding must hold: candidates come from the
    # (blk, bits) equi-join, never an all-pairs product over the signatures
    # (the auto strategy's small-corpus broadcast path is tested separately)
    from cl_tagger_batch_processing_spark.operators import dedup

    # inspect the un-memoized builder: dedup_simhash itself returns the
    # session-memoized, lineage-truncated frame whose plan is a checkpoint
    # scan — the shape under test is the pipeline the memo materializes once
    df = dedup._simhash_pairs_build(
        spark, sf_dir, dedup.DEFAULT_HAMMING_THRESHOLD, "banded"
    )
    plan = inspect.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scan_extension_filter_prunes_columns(spark, sf_dir):
    df = QUERIES["scan_extension_filter"](spark, sf_dir)
    schemas = inspect.read_schemas(df)
    assert schemas and all("text" not in s for s in schemas)  # text column not read


def test_q18_aggregates_before_join(spark, sf_dir):
    df = QUERIES["q18_large_orders"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    # the quantity aggregate must run below the joins (filter-early), and the
    # customer dim must broadcast
    assert inspect.count_operator(df, "BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan
    schemas = inspect.read_schemas(df)
    # lineitem scan reads only the two needed columns
    assert any("l_orderkey" in s and "l_quantity" in s and "l_shipdate" not in s for s in schemas)


def test_range_join_uses_equi_key_not_cartesian(spark, sf_dir):
    df = QUERIES["range_join_events"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    # the user_id equi component must carry the join — the range predicate
    # rides inside it, never a nested-loop over the full pair space
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_window_frames_single_shuffle(spark, sf_dir):
    df = QUERIES["window_frames"](spark, sf_dir)
    # all four window functions share one partitioning: exactly one exchange
    assert inspect.count_shuffles(df) == 1


def test_ivf_no_corpus_cross_join(spark, sf_dir):
    df = QUERIES["sim_topk_ivf"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    # corpus never self-joins: the only nested-loop work is against the tiny
    # broadcast centroid/query dims
    assert "CartesianProduct" not in plan
    assert inspect.count_operator(df, "SortMergeJoin") == 0


def test_q6_full_pushdown_single_scan(spark, sf_dir):
    df = QUERIES["q6_forecast_revenue"](spark, sf_dir)
    pushed = " ".join(inspect.pushed_filters(df))
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    schemas = inspect.read_schemas(df)
    # projection pruned to the needed columns — no full-schema scan
    assert schemas and all("l_orderkey" not in s and "l_tax" not in s for s in schemas)
    # single-group agg: one partial agg + one 1-row exchange, no joins
    assert inspect.count_operator(df, "Join") == 0


def test_q7_only_fact_join_shuffles(spark, sf_dir):
    df = QUERIES["q7_volume_shipping"](spark, sf_dir)
    # supplier/customer/nation all broadcast; no sort-merge join anywhere
    assert inspect.count_operator(df, "BroadcastHashJoin") >= 4
    assert inspect.count_operator(df, "SortMergeJoin") == 0


def test_q4_semi_join_no_duplication(spark, sf_dir):
    df = QUERIES["q4_order_priority"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert "LeftSemi" in plan
    pushed = " ".join(inspect.pushed_filters(df))
    assert "o_orderdate" in pushed  # date window reached the orders scan


def test_q17_aggregates_before_joinback(spark, sf_dir):
    df = QUERIES["q17_small_quantity"](spark, sf_dir)
    assert inspect.count_operator(df, "BroadcastHashJoin") >= 2
    assert inspect.count_operator(df, "SortMergeJoin") == 0


def test_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    df = QUERIES["q22_idle_customers"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert "LeftAnti" in plan
    assert inspect.count_operator(df, "SortMergeJoin") == 0


def test_q2_window_reuses_agg_partitioning(spark, sf_dir):
    df = QUERIES["q2_min_cost_supplier"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    # one exchange builds the (part,supp) agg; the per-part window min must
    # NOT add a second shuffle (hashpartitioning on l_partkey is a subset)
    assert plan.count("Exchange hashpartitioning") <= 1
    assert inspect.count_operator(df, "SortMergeJoin") == 0


def test_q15_max_joinback_no_sortmerge(spark, sf_dir):
    df = QUERIES["q15_top_supplier"](spark, sf_dir)
    assert inspect.count_operator(df, "SortMergeJoin") == 0


def test_q16_anti_join_blocklist(spark, sf_dir):
    df = QUERIES["q16_supplier_counts"](spark, sf_dir)
    assert "LeftAnti" in inspect.executed_plan(df)


def test_q19_pushes_derivable_conjuncts(spark, sf_dir):
    df = QUERIES["q19_disjunctive_revenue"](spark, sf_dir)
    pushed = " ".join(inspect.pushed_filters(df))
    # the quantity bound derivable from the OR-of-ANDs reaches the lineitem
    # scan, and the brand/size disjunction reaches the part scan
    assert "l_quantity" in pushed
    assert "p_brand" in pushed or "p_size" in pushed


def test_q21_semi_and_anti_self_joins(spark, sf_dir):
    df = QUERIES["q21_waiting_suppliers"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_candidate_volume_bounds(spark, sf_dir):
    # Round-2 lesson: dedup_simhash passed the no-cartesian-NODE check while
    # materializing near-quadratic DATA (32-bit sigs → 4-5-bit block keys).
    # Guard the data, not just the plan. Caveat discovered while fixing it:
    # the documents fixture is extremely self-similar (31-word vocabulary;
    # at sf0.001 the TRUE d≤6 pair count is 15k ≈ 31×n), so an absolute
    # O(n) candidate bound is unachievable for ANY correct pair enumerator —
    # the honest banding metric here is candidate volume relative to the
    # true output (precision), pinned well below all-pairs.
    from cl_tagger_batch_processing_spark.operators import dedup, similarity
    from cl_tagger_batch_processing_spark.sources.tables import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()
    all_pairs = n_docs * (n_docs - 1) // 2

    true_pairs = dedup.dedup_simhash(spark, sf_dir, strategy="broadcast").count()
    sim_cand = dedup.simhash_candidates(spark, sf_dir).count()
    # 9.9× at fixture; a 32-bit/7-block regression yields ~7× ALL-pairs,
    # i.e. >50× true output here — caught by a wide margin
    assert sim_cand < 15 * max(true_pairs, n_docs), (
        f"simhash banded candidates {sim_cand} vs true pairs {true_pairs} (n={n_docs})"
    )

    mh_cand = dedup.minhash_candidates(spark, sf_dir).count()
    assert mh_cand < 20 * n_docs, f"minhash candidates {mh_cand} vs n={n_docs}"

    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    vec_pairs = n_vecs * (n_vecs - 1) // 2
    emb_cand = dedup.embedding_candidates(spark, sf_dir).count()
    # label blocking: quadratic only within a block ⇒ ~1/n_labels of all-pairs
    assert emb_cand < vec_pairs / 3, f"embedding candidates {emb_cand} vs all-pairs {vec_pairs}"

    # SemDeDup within-cluster pairs: k-means blocking must keep the pair
    # relation well under all-pairs (≈ all_pairs/k for balanced clusters)
    sem_cand = similarity.dedup_semantic(spark, sf_dir, threshold=-1.0).count()
    assert sem_cand < vec_pairs / 3, f"semantic pairs {sem_cand} vs all-pairs {vec_pairs}"

    # source_overlap_matrix shares the dedup family's hot-shingle guard;
    # with a cap small enough to engage on this self-similar fixture the
    # posting-list self-join must shrink (df>cap shingles dropped).
    from pyspark.sql import functions as F

    from cl_tagger_batch_processing_spark.operators import text

    # sum(n_common) is the pre-aggregation (shingle, source_a, source_b)
    # row count, so it measures the guarded self-join's volume directly
    def _pair_volume(max_df):
        df = text.source_overlap_matrix(spark, sf_dir, max_df=max_df)
        return df.agg(F.sum("n_common")).first()[0]

    sov_guarded = _pair_volume(5)
    sov_unguarded = _pair_volume(None)
    assert sov_guarded < sov_unguarded, (
        f"hot-shingle guard did not prune source-overlap candidates "
        f"({sov_guarded} vs {sov_unguarded})"
    )

    ann_cand = similarity.ann_candidates(spark, sf_dir).count()
    # 8-bit LSH buckets: each query probes ~1/256 of the corpus; allow slack
    # for clustered buckets but stay far below queries × corpus
    assert ann_cand < similarity.DEFAULT_NUM_QUERIES * n_vecs / 3, (
        f"ann candidates {ann_cand} vs brute-force {similarity.DEFAULT_NUM_QUERIES * n_vecs}"
    )
    assert all_pairs > 0  # fixture sanity


def test_simhash_strategies_agree(spark, sf_dir):
    # the adaptive physical strategies are different PLANS for one answer
    from cl_tagger_batch_processing_spark.operators import dedup

    bc = dedup.dedup_simhash(spark, sf_dir, strategy="broadcast")
    bd = dedup.dedup_simhash(spark, sf_dir, strategy="banded")
    assert bc.count() == bd.count()
    assert bc.exceptAll(bd).count() == 0 and bd.exceptAll(bc).count() == 0
    # auto picks broadcast at fixture scale (corpus far under the crossover);
    # inspect the un-memoized builder — the memoized frame's plan is a
    # checkpoint scan
    plan = inspect.executed_plan(
        dedup._simhash_pairs_build(
            spark, sf_dir, dedup.DEFAULT_HAMMING_THRESHOLD, "auto"
        )
    )
    assert "BroadcastNestedLoopJoin" in plan


def test_simhash_rejects_degenerate_banding(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators import dedup

    with pytest.raises(ValueError, match="blocks"):
        dedup.dedup_simhash(
            spark, sf_dir, hamming_threshold=dedup.SIMHASH_BITS, strategy="banded"
        )


def test_rowlocal_text_ops_zero_shuffle(spark, sf_dir):
    # per-document text math (stats, repetition, token classes) must stay a
    # pure map stage: no exchange of any kind in the plan
    for name in [
        "text_stats",
        "text_repetition",
        "text_token_count",
        "text_pii_scrub",
        "text_gopher_flags",
        "corpus_split_assign",
    ]:
        plan = inspect.executed_plan(QUERIES[name](spark, sf_dir))
        assert "Exchange" not in plan, name


def test_source_mix_single_corpus_pass(spark, sf_dir):
    # per-source agg once (one hash exchange, one corpus scan), grand total
    # via an unpartitioned window over the tiny per-source relation — the
    # scalar-subquery form would rescan the corpus for the total
    plan = inspect.executed_plan(QUERIES["corpus_source_mix"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("FileScan parquet") == 1


def test_layout_partition_prune_prunes_directories(spark, sf_dir):
    # the date range must resolve to directory-level PartitionFilters on the
    # staged partitioned read — at 100 TB this is days-read vs history-read
    plan = inspect.formatted_plan(QUERIES["layout_partition_prune"](spark, sf_dir))
    assert "PartitionFilters" in plan
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("event_date" in ln for ln in m), m


def test_vocab_topk_is_take_ordered(spark, sf_dir):
    # global top-k must plan a distributed TakeOrdered (per-partition top-k,
    # driver merge of k rows), never a single-partition global sort of the
    # full vocabulary
    plan = inspect.executed_plan(QUERIES["text_vocab_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_jvm_only_hot_paths(spark, sf_dir):
    # the claimed JVM-side operators must stay whole-stage-codegen'able:
    # no row-at-a-time or Arrow Python evaluation node anywhere in the plan.
    # Session-memoized queries are inspected through their UN-memoized
    # builders — the memoized frame's plan is a checkpoint scan that would
    # pass vacuously (r10). SimHash is deliberately NOT on this list: its
    # signature stage is one of the pinned Arrow kernels
    # (test_registry_wide_no_scale_killers confines Arrow to exactly those),
    # and every simhash plan checkpoints that stage, so no un-memoized
    # view of the pair scan can see it (r10 review #3).
    from cl_tagger_batch_processing_spark.operators import dedup

    plan = inspect.executed_plan(dedup.minhash_candidates(spark, sf_dir))
    assert "BatchEvalPython" not in plan, "minhash_candidates"
    assert "ArrowEvalPython" not in plan, "minhash_candidates"
    for name in [
        "text_langid",
        "text_quality_score",
        "text_fingerprint",
        "text_token_count",
        "text_repetition",
        "text_vocab_topk",
        "dedup_fingerprint",
        "embedding_label_centroids",
        "text_unigram_loglik",
        "decontaminate_ngram_overlap",
        "sim_topk_cosine",
        "text_pii_scrub",
        "text_gopher_flags",
        "corpus_split_assign",
        "corpus_source_mix",
        "text_ngram_novelty",
        "mm_audio_energy_segments",
    ]:
        plan = inspect.executed_plan(QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_curation_pipeline_two_shuffles_no_python(spark, sf_dir):
    # Gate, scrub, hash, and split are row-local Column work and must FUSE
    # into the scan stages; the whole composed pipeline pays exactly two
    # exchanges (dedup window + report agg) and never leaves the JVM.
    df = QUERIES["curation_pipeline_report"](spark, sf_dir)
    assert inspect.count_shuffles(df) == 2
    plan = inspect.executed_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_pack_sequences_single_shuffle(spark, sf_dir):
    # The final (source, window_id) aggregation must REUSE the running-sum
    # window's hash partitioning on source (same-key clustering) — one
    # exchange for the whole packing query.
    df = QUERIES["corpus_pack_sequences"](spark, sf_dir)
    assert inspect.count_shuffles(df) == 1


def test_chunk_windows_zero_shuffle(spark, sf_dir):
    # Chunking is explode over row-local sequences — partition-local at any
    # corpus size; a shuffle here would mean the plan lost locality.
    df = QUERIES["text_chunk_windows"](spark, sf_dir)
    assert inspect.count_shuffles(df) == 0
    plan = inspect.executed_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mixture_sample_single_shuffle(spark, sf_dir):
    # The sampler is a row-local hash-threshold predicate — only the report
    # aggregation may exchange.
    df = QUERIES["corpus_mixture_sample"](spark, sf_dir)
    assert inspect.count_shuffles(df) == 1
    plan = inspect.executed_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_phash_dedup_single_shuffle_no_python(spark, sf_dir):
    # perceptual hash is row-local unrolled Column math: the ONLY exchange
    # is the final groupBy(phash); no Python boundary, no join of any kind
    plan = inspect.executed_plan(QUERIES["mm_phash_dedup"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    for op in ["SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
               "CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
               "FlatMapGroupsInPandas", "MapInPandas"]:
        assert op not in plan, op


def test_dedup_paragraphs_two_shuffles_no_join(spark, sf_dir):
    # block slicing is row-local; global first-occurrence is ONE window
    # exchange on block_text plus ONE per-doc rollup exchange — no join,
    # no pair enumeration anywhere
    plan = inspect.executed_plan(QUERIES["dedup_paragraphs"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    for op in ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "BroadcastNestedLoopJoin"]:
        assert op not in plan, op


def test_bpe_pair_counts_take_ordered(spark, sf_dir):
    # pair construction row-local (no self-join); one map-side-combined
    # count exchange; global top-100 must be a distributed TakeOrdered,
    # never a full sort of the pair vocabulary
    plan = inspect.executed_plan(QUERIES["text_bpe_pair_counts"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan


def test_tfidf_and_dsir_scalar_broadcast_no_cartesian(spark, sf_dir):
    # the corpus-level scalars (doc count / LM totals) attach via a 1-row
    # broadcast (BNLJ is the intended scalar-attach shape, bounded to one);
    # the vocabulary join is left to AQE (broadcast here, SMJ at scale) —
    # pin only what must hold at any scale: no unbroadcast cartesian and
    # no Python boundary
    for name in ["text_tfidf_topk", "corpus_dsir_weights"]:
        plan = inspect.executed_plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert plan.count("BroadcastNestedLoopJoin") <= 1, name
        for op in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
            assert op not in plan, (name, op)


def test_scd2_single_customer_shuffle(spark, sf_dir):
    # change detection (lag) and interval close-out (lead) share the
    # (o_custkey; o_date, o_orderkey) partitioning — Spark must plan ONE
    # exchange, and there is no join to regress into
    df = QUERIES["scd2_order_status"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert inspect.count_shuffles(df) == 1
    for op in ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"]:
        assert op not in plan, op


def test_char_entropy_two_shuffles_no_python(spark, sf_dir):
    # explode + groupBy(doc_id, ch) + groupBy(doc_id): exactly two
    # map-side-combinable exchanges, everything else codegen'd Column math
    df = QUERIES["text_char_entropy"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert inspect.count_shuffles(df) == 2
    for op in ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_token_budget_single_corpus_pass(spark, sf_dir):
    # fact rows feed ONE map-side-combined groupBy; the share/cumulative
    # windows run over the tiny strata relation (SinglePartition exchanges
    # of dimension-sized data, not corpus data)
    plan = inspect.executed_plan(QUERIES["corpus_token_budget"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    for op in ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "BatchEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_containment_never_cartesian(spark, sf_dir):
    # the containment self-join must go through the shingle equi-key —
    # an all-pairs doc×doc comparison can never appear
    plan = inspect.executed_plan(QUERIES["dedup_containment"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scalar_quant_recall_broadcast_only_smallsides(spark, sf_dir):
    # the corpus is scanned, never self-joined: the 1-row min/max and the
    # 5-row query codes attach via broadcast nested loops (one per codes
    # lineage: corpus codes, query codes, plus the exact path's query
    # broadcast), the recall join broadcasts the k×queries top-k side —
    # no unbroadcast cartesian, no Python, no corpus-side sort-merge join
    plan = inspect.executed_plan(QUERIES["sim_scalar_quant_recall"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 4
    for op in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_audio_framing_zero_shuffle_no_python(spark, sf_dir):
    # frame math + explode are row-local: a map-only plan end to end
    df = QUERIES["mm_audio_framing"](spark, sf_dir)
    assert inspect.count_shuffles(df) == 0
    plan = inspect.executed_plan(df)
    for op in ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "BroadcastNestedLoopJoin", "BatchEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_pagerank_superstep_shape(spark, sf_dir):
    # each superstep must be an equi-join pr⋈edges + a map-side-combined
    # groupBy — never a cartesian, never a Python boundary; the edge build
    # is the bounded basket self-join (equi-key on the order key)
    plan = inspect.executed_plan(QUERIES["graph_pagerank"](spark, sf_dir))
    for op in ["CartesianProduct", "BroadcastNestedLoopJoin",
               "BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_degree_stats_two_groupbys_no_python(spark, sf_dir):
    # degree then histogram: the only corpus-scale exchanges are the edge
    # build's; the rollups are map-side combined, and there is no Python
    plan = inspect.executed_plan(QUERIES["graph_degree_stats"](spark, sf_dir))
    for op in ["CartesianProduct", "BroadcastNestedLoopJoin",
               "BatchEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_rake_single_doc_partitioning_no_smj(spark, sf_dir):
    # segmentation window, phrase-length groupBy, word rollup, and rank
    # window ALL key on doc_id(+suffix) — the phrase-length join must stay
    # on the (doc_id, phrase_id) equi-key (broadcast or shuffle-hash, or
    # SMJ reusing the same partitioning), and never a cartesian or Python
    plan = inspect.executed_plan(QUERIES["text_keyword_rake"](spark, sf_dir))
    for op in ["CartesianProduct", "BroadcastNestedLoopJoin",
               "BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_keep_best_single_shuffle_no_window(spark, sf_dir):
    # the quality argmax must ride the ONE content-hash groupBy as
    # max(struct(...)) — a window implementation would add a second
    # full-width pass over the corpus
    df = QUERIES["dedup_exact_keep_best"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert inspect.count_shuffles(df) == 1
    assert "Window" not in plan
    for op in ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "BatchEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_pq_adc_no_per_pair_vector_math(spark, sf_dir):
    # PQ's point: the corpus scans once against 16-row/5-row broadcasts
    # (codebook, queries, distance tables) — never a corpus self-join, no
    # Python, and the corpus side never sort-merges
    plan = inspect.executed_plan(QUERIES["sim_pq_adc_recall"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    for op in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_quality_calibration_lang_partitioned_sort(spark, sf_dir):
    # the decile window partitions BY LANG (per-language sorts, never one
    # global SinglePartition sort of the corpus); the rollup reuses the
    # lang-prefixed partitioning; no join, no Python
    df = QUERIES["text_quality_calibration"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert "Exchange SinglePartition" not in plan
    for op in ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "BatchEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_minhash_incremental_banded_only(spark, sf_dir):
    # candidates must come from the banded bucket equi-join (the store
    # side ships signatures, never text) — no cartesian, no Python
    plan = inspect.executed_plan(QUERIES["dedup_minhash_incremental"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for op in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_triangle_count_equi_joins_only(spark, sf_dir):
    # wedge and closing-edge joins ride equi-keys under the degree-ordered
    # orientation — never a cartesian, never Python
    plan = inspect.executed_plan(QUERIES["graph_triangle_count"](spark, sf_dir))
    for op in ["CartesianProduct", "BroadcastNestedLoopJoin",
               "BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_substring_spans_no_posting_selfjoin(spark, sf_dir):
    # two exchanges only — the shingle-df agg (map-side combinable) and the
    # per-doc island window; crucially NO posting-list self-join anywhere,
    # so hot shingles carry zero quadratic risk (unlike the pair operators)
    df = QUERIES["dedup_substring_spans"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    for op in ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
               "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op
    # the only join is the left-semi against the shared-shingle keys
    assert plan.count("Join") <= plan.count("LeftSemi") + plan.count("LeftSemiJoin") + 1


def test_url_canonical_single_shuffle_no_join(spark, sf_dir):
    # URL synthesis + canonicalization + quality are all row-local Column
    # math; the keep-policy argmax rides the ONE groupBy exchange
    df = QUERIES["dedup_url_canonical"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert inspect.count_shuffles(df) == 1
    for op in ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_bloom_incremental_store_bits_broadcast(spark, sf_dir):
    # the store-side pre-filter must reach the batch as a BROADCAST of the
    # ≤ BLOOM_BITS distinct-bit rows (never a store-sized shuffle), and the
    # bit aggregation must partial-aggregate map-side
    df = QUERIES["dedup_exact_incremental_bloom"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_" in plan.lower() or "HashAggregate" in plan


def test_temperature_mix_one_corpus_pass(spark, sf_dir):
    # one map-side-combined corpus aggregation; all mixture math (shares,
    # p^alpha, weights) runs over the #sources-row result via tiny window
    # exchanges — never a second corpus scan, never Python
    df = QUERIES["corpus_temperature_mix"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert plan.count("FileScan") == 1
    assert inspect.count_shuffles(df) <= 2
    for op in ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
               "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_zipf_fit_takeordered_not_global_sort(spark, sf_dir):
    # the top-n cut must plan as a distributed TakeOrdered (per-partition
    # top-k merged on the driver), never a full-vocabulary global sort;
    # one token-groupBy shuffle total
    df = QUERIES["token_zipf_fit"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert inspect.count_shuffles(df) == 1
    for op in ["SortMergeJoin", "CartesianProduct", "BatchEvalPython"]:
        assert op not in plan, op


def test_bigram_lm_token_keyed_joins_only(spark, sf_dir):
    # LM counts attach by token-pair/token equi-joins; the only nested loop
    # is the 1-row V scalar broadcast — no unbroadcast cartesian, no Python
    df = QUERIES["text_bigram_lm_perplexity"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    for op in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_graph_components_rounds_are_equijoins(spark, sf_dir):
    # the CC loop must stay equi-join + groupBy per round — no cartesian,
    # no Python, no unbounded nested loop at any corpus size
    df = QUERIES["graph_components"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    for op in ["CartesianProduct", "BroadcastNestedLoopJoin",
               "BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_probe_sweep_broadcast_only(spark, sf_dir):
    # every branch reuses the IVF shape (broadcast centroids/queries, cell
    # equi-join); no unbroadcast cartesian, no corpus-side SMJ, no Python
    df = QUERIES["sim_ivf_probe_sweep"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    for op in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_range_search_pure_map_no_window(spark, sf_dir):
    # radius search ranks nothing: broadcast queries against one corpus
    # scan, row-local threshold — zero shuffles, no Window, no Python
    df = QUERIES["sim_range_search"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert inspect.count_shuffles(df) == 0
    assert "Window" not in plan
    for op in ["SortMergeJoin", "CartesianProduct", "BatchEvalPython"]:
        assert op not in plan, op


def test_tile_grid_zero_shuffle_no_python(spark, sf_dir):
    df = QUERIES["mm_tile_grid"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert inspect.count_shuffles(df) == 0
    for op in ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_band_sweep_reuses_signature_no_corpus_rescan(spark, sf_dir):
    # the signature table materializes once (checkpoint); each banding
    # branch is an array-slice explode + self-join — no Python, no
    # cartesian, and no FileScan of the corpus per branch
    df = QUERIES["dedup_minhash_band_sweep"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    for op in ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
               "MapInPandas"]:
        assert op not in plan, op
    assert plan.count("FileScan") == 0  # all branches read the checkpoint


def test_html_strip_zero_shuffle_no_python(spark, sf_dir):
    df = QUERIES["text_html_strip"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert inspect.count_shuffles(df) == 0
    for op in ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_hashing_tf_single_combinable_shuffle(spark, sf_dir):
    # explode + one map-side-combinable groupBy((doc_id, bucket)) — the
    # text_char_entropy shape minus the second rollup
    df = QUERIES["text_hashing_tf"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert inspect.count_shuffles(df) == 1
    for op in ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op


def test_scene_cuts_doc_keyed_single_window(spark, sf_dir):
    # cut detection + scene numbering share one (doc_id; frame_idx)
    # window; the scene rollup reuses the doc-prefixed partitioning — no
    # join, no Python, no corpus-wide key
    df = QUERIES["mm_scene_cuts"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    for op in ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
               "BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op
    assert inspect.count_shuffles(df) <= 2


def test_regression_single_agg_no_python(spark, sf_dir):
    # distributed OLS = ONE hash aggregate of sufficient statistics after
    # the partkey equi-join; coefficients are scalar math — no second
    # corpus pass, no Python, no cartesian
    df = QUERIES["brand_price_regression"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    for op in ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
               "MapInPandas"]:
        assert op not in plan, op
    assert plan.count("FileScan") == 2  # lineitem + part, once each


def test_hll_single_corpus_scan_per_branch(spark, sf_dir):
    # registers and the exact companion each scan events once — max-merge
    # keeps the register exchange at 64 rows/group; no Python anywhere
    df = QUERIES["approx_distinct_hll"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    for op in ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
               "MapInPandas"]:
        assert op not in plan, op
    assert plan.count("FileScan") == 2  # register branch + exact branch


def test_cms_counter_table_broadcasts(spark, sf_dir):
    # the 4×256 counter table must reach the candidate join as a BROADCAST
    df = QUERIES["text_heavy_hitters_cms"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_covariance_zero_join_stats(spark, sf_dir):
    # r8 rewrite (VERDICT r7 ask #2): the d×d sufficient statistics are
    # emitted row-locally from the array column — NO join of any kind in
    # the whole plan (the r7 posexplode + vec_id self-join shuffled n·d
    # rows through an exchange zero algebra required), no Python, and the
    # corpus is scanned exactly once
    df = QUERIES["embedding_covariance"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    for op in ["Join", "CartesianProduct", "BatchEvalPython",
               "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op
    assert plan.count("FileScan") == 1
    # r13: the per-batch Gram-matrix kernel is the documented Arrow path
    assert plan.count("MapInArrow") == 1


def test_pca_stats_stage_zero_join(spark, sf_dir):
    # the PCA corpus pass shares outer_product_stats: row-local terms,
    # one map-side-combined groupBy, no join, single scan (the d×d
    # iteration joins live above the lineage truncation, on constant-size
    # matrices)
    from cl_tagger_batch_processing_spark.operators.dedup import (
        quantized_embeddings,
    )
    from cl_tagger_batch_processing_spark.operators.similarity import (
        outer_product_stats,
    )

    stats = outer_product_stats(
        quantized_embeddings(spark, sf_dir).select("vec_id", "qv")
    )
    plan = inspect.executed_plan(stats)
    for op in ["Join", "CartesianProduct", "BatchEvalPython",
               "ArrowEvalPython", "MapInPandas"]:
        assert op not in plan, op
    assert plan.count("FileScan") == 1
    # r13: the per-batch Gram-matrix kernel is the documented Arrow path
    assert plan.count("MapInArrow") == 1


def test_pagerank_salted_strategy_agrees(spark, sf_dir):
    # hub-skew hardening: forcing EVERY node through the salted
    # (src, salt) superstep join must reproduce the plain path bit-exactly
    # (salt is partitioning metadata, never arithmetic); at fixture scale
    # the hub census picks the plain plan (no salt machinery in it)
    from cl_tagger_batch_processing_spark.operators.graph import (
        cooccurrence_edges,
        pagerank_on_edges,
    )

    edges = cooccurrence_edges(spark, sf_dir)
    plain = pagerank_on_edges(edges)
    salted = pagerank_on_edges(edges, hot_outdeg=1, n_salts=4)
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0
    assert "salt" in inspect.executed_plan(salted)
    plan = inspect.executed_plan(QUERIES["graph_pagerank"](spark, sf_dir))
    assert "salt" not in plan  # fixture has no hub: strategy switch -> plain
    # the personalized variant shares the builder: same agreement guarantee
    from cl_tagger_batch_processing_spark.operators.graph import (
        graph_personalized_pagerank,
    )

    pp = graph_personalized_pagerank(spark, sf_dir)
    pps = graph_personalized_pagerank(spark, sf_dir, hot_outdeg=1, n_salts=4)
    assert pp.exceptAll(pps).count() == 0 and pps.exceptAll(pp).count() == 0


def test_hits_salted_strategy_agrees(spark, sf_dir):
    # HITS rides the SAME _superstep_scores_join as PageRank (VERDICT r8
    # ask #3): forcing every node hot must reproduce the plain path
    # bit-exactly in BOTH push directions, and the fixture (no hubs) must
    # keep the plain plan — no salt machinery in it
    from cl_tagger_batch_processing_spark.operators.graph import graph_hits

    plain = graph_hits(spark, sf_dir)
    salted = graph_hits(spark, sf_dir, hot_outdeg=1, n_salts=4)
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0
    # Each half-round now checkpoints its push aggregate (r14: the max
    # rides the checkpoint job as an Observation), so the query's FINAL
    # plan roots at checkpoint blocks and the salt machinery executes
    # inside the per-push jobs — assert the strategy on the superstep
    # join component itself, where the plan is still visible.
    from pyspark.sql import functions as F

    from cl_tagger_batch_processing_spark.operators.graph import (
        _prepare_superstep_edges,
        _superstep_scores_join,
        cooccurrence_edges,
    )

    sym = cooccurrence_edges(spark, sf_dir)
    edges = sym.where(F.col("src") < F.col("dst"))
    deg_salted, hot = _prepare_superstep_edges(edges, hot_outdeg=1, n_salts=4)
    assert hot is not None
    scores = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "h", F.lit(1).cast("bigint")
    )
    joined = _superstep_scores_join(scores, ["h"], deg_salted, hot, 4)
    assert "salt" in inspect.executed_plan(joined)
    deg_plain, hot_plain = _prepare_superstep_edges(edges)
    assert hot_plain is None  # no hub at fixture scale: plain strategy
    plain_join = _superstep_scores_join(scores, ["h"], deg_plain, None)
    assert "salt" not in inspect.executed_plan(plain_join)


def test_source_pair_frames_broadcast(spark, sf_dir):
    # the #sources² pair frames (JSD scalars) must reach their cross as an
    # explicit BROADCAST — never a partitioned CartesianProduct
    plan = inspect.executed_plan(QUERIES["source_jsd_matrix"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_er_blocking_join_is_block_keyed(spark, sf_dir):
    # the pair join must key on the block tuple — never a cartesian; the
    # oversized-block guard keeps within-block volume capped
    df = QUERIES["er_blocking_pairs"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_lev_verify_distance_on_candidates_only(spark, sf_dir):
    # the levenshtein must sit ABOVE the banded candidate join (computed on
    # the candidate relation), never inside a corpus×corpus product
    df = QUERIES["dedup_minhash_lev_verify"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan


def test_assortativity_no_cartesian_no_python(spark, sf_dir):
    df = QUERIES["graph_assortativity"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    for op in ["CartesianProduct", "BroadcastNestedLoopJoin",
               "BatchEvalPython", "ArrowEvalPython"]:
        assert op not in plan, op


def test_mmr_loop_runs_on_materialized_pool(spark, sf_dir):
    # the greedy loop's plan must touch only the checkpointed pool/sims
    # frames — no corpus rescans, no Python, broadcast-only joins
    df = QUERIES["sim_mmr_diversify"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert plan.count("FileScan") == 0
    for op in ["SortMergeJoin", "BatchEvalPython", "ArrowEvalPython"]:
        assert op not in plan, op


def test_modularity_rollup_on_materialized_counts(spark, sf_dir):
    # the community rollup runs on the checkpointed per-community counts;
    # the tag joins upstream paid the only corpus-scale work
    df = QUERIES["graph_modularity"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert plan.count("FileScan") == 0
    for op in ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]:
        assert op not in plan, op


def test_logistic_regression_reads_checkpointed_projection(spark, sf_dir):
    # every GD pass reads the checkpointed (x, y) projection — the final
    # plan (and each step's, by construction) contains no parquet scan
    df = QUERIES["events_logistic_regression"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert plan.count("FileScan") == 0
    for op in ["BatchEvalPython", "ArrowEvalPython", "SortMergeJoin"]:
        assert op not in plan, op


def test_textrank_supersteps_on_vocab_frames(spark, sf_dir):
    # the PageRank tail runs on checkpointed vocabulary-sized frames; no
    # Python, no cartesian anywhere in the final superstep plan
    df = QUERIES["text_textrank_keywords"](spark, sf_dir)
    plan = inspect.executed_plan(df)
    assert plan.count("FileScan") == 0
    for op in ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]:
        assert op not in plan, op


# Queries whose plans may hold Arrow-vectorized Python: the documented
# kernel and sketch paths.
ARROW_ALLOWED = {
    "mm_frame_sample",
    "text_simhash",
    "mm_byte_histogram",
    # r13 optimization: the TwoNN pair stage's exact int64 d² matrix
    # product (one BLAS-shaped kernel per Arrow batch) replaced
    # queries×candidates interpreted HOF dot products — the
    # _simhash_majority precedent; values bit-identical, oracle-pinned.
    "embedding_intrinsic_dim",
    # r13 optimization: outer_product_stats' per-batch Gram-matrix
    # kernel (exact int64 partial sufficient statistics) replaced the
    # n·d²/2 interpreted HOF term explosion; same single
    # map-side-combined groupBy above it.
    "embedding_covariance",
    "embedding_pca_power_iteration",
    # the tag selection is one NumPy function, run as a mapInArrow
    # over each image's probs (the kernel runs it in-stage)
    "tag_select",
    "tag_top1_rating_quality",
    "tag_threshold_filter",
    "pipeline_score_tag",
}


def scale_killers(record) -> list[str]:
    bad: list[str] = []
    for name, rec in record.items():
        if name.startswith("stream_"):
            continue
        plan = rec.plan
        if "CartesianProduct" in plan:
            bad.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in plan:
            bad.append(f"{name}: row-at-a-time Python")
        if name not in ARROW_ALLOWED and (
            "ArrowEvalPython" in plan
            or "MapInPandas" in plan
            or "MapInArrow" in plan
        ):
            bad.append(f"{name}: unexpected Python boundary")
    return bad


@pytest.mark.timeout(SWEEP_TIMEOUT_S)
def test_registry_wide_no_scale_killers(registry_record):
    # THE blanket physical-plan guarantee, pinned registry-wide (r8): no
    # query's executed plan may contain a CartesianProduct or row-at-a-time
    # Python (BatchEvalPython) ANYWHERE, and Arrow-vectorized Python is
    # confined to the three documented kernel/sketch paths. Streaming
    # queries are excluded (constructing them runs the stream; their
    # shapes are pinned by test_streaming/test_plans entries).
    bad = scale_killers(registry_record)
    assert not bad, bad


def test_r11_continuation_plan_shapes(spark):
    """Pin the SCALE.md claims for the continuation-batch operators where
    Spark exposes the shape: no SortMergeJoin anywhere (dims broadcast),
    the single-aggregate reports carry no join at all, and the
    kappa/good-turing corpus passes read parquet exactly once."""
    for name in ["text_good_turing", "text_quality_kappa", "text_js_divergence"]:
        plan = inspect.executed_plan(QUERIES[name](spark, GUARD_SF_DIR))
        assert "SortMergeJoin" not in plan, name

    # kappa: ONE corpus aggregate — no join, no window, one parquet scan.
    kp = inspect.executed_plan(QUERIES["text_quality_kappa"](spark, GUARD_SF_DIR))
    assert "Join" not in kp and "Window" not in kp
    assert kp.count("FileScan parquet") == 1

    # good-turing: frequency-of-frequencies re-aggregates from the
    # (source, token) relation — no join, one parquet scan.
    gt = inspect.executed_plan(QUERIES["text_good_turing"](spark, GUARD_SF_DIR))
    assert "Join" not in gt
    assert gt.count("FileScan parquet") == 1


# --- r12 standing gate: no unpartitioned Window over unbounded relations ----
#
# The r11 verdict's scale defect class: ``Window.orderBy(...)`` with no
# partitionBy forces every row of its input into ONE task — fine over
# bounded relations (day/month spines, bucket grids, #sources strata,
# top-k AFTER .limit(k)), a 100 TB defect over user/customer/value-
# cardinality relations. Two prongs, because eager checkpoints hide
# upstream machinery from the final executed plan (events_kruskal_wallis's
# defect was invisible there): a RUNTIME plan sweep over the registry and
# a STATIC source audit of every Window construction site. Both use the
# vacuity gate's allowlist pattern: each legitimate site carries a reason
# naming the bound.

# Runtime allowlist: query name -> why the windowed relation is bounded.
UNPARTITIONED_WINDOW_OK = {
    "sim_hybrid_rrf": "fusion of two bounded top-k lists",
    "sim_ann_graph_search": "beam candidates, bounded by GBS_BEAM",
    "text_ngram_novelty": "constant bucket grid",
    "text_bm25_topk": "rank window AFTER .limit(k)",
    "text_vocab_topk": "rank window AFTER .limit(k)",
    "text_bpe_pair_counts": "rank window AFTER .limit(k)",
    "token_zipf_fit": "rank window AFTER .limit(k)",
    "text_word_pmi": "rank window AFTER .limit(k)",
    "graph_adamic_adar": "rank window AFTER .limit(k)",
    "graph_common_neighbors": "rank window AFTER .limit(k)",
    "corpus_dsir_sample": "rank window AFTER .limit(k)",
    "corpus_weighted_sample": "rank window AFTER .limit(k)",
    "text_heavy_hitters_cms": "CMS heavy-hitter candidates — bounded",
    "corpus_source_mix": "#sources strata",
    "corpus_temperature_mix": "#sources strata",
    "corpus_source_concentration": "#sources strata",
    "corpus_token_budget": "#source×lang strata",
    "text_textrank_keywords": "vocab-cardinality — sublinear; SCALE.md row",
    "text_vocab_coverage_curve": "vocab-cardinality — sublinear; SCALE.md row",
    "graph_effective_diameter": "distinct BFS distances ≤ diameter",
    "text_ndcg_eval": "two bounded top-k rankings",
    "text_heaps_law_fit": "constant checkpoint spine — ≤ HEAPS_CHECKPOINTS rows",
}


def _unpartitioned_window_specs(plan: str) -> list[str]:
    """First-argument signatures of window specs with NO partition columns
    (the first windowspecdefinition arg is an ordering field, i.e. carries
    ASC/DESC — or the frame itself for the order-less global window)."""
    import re

    out = []
    for m in re.finditer(r"windowspecdefinition\(([^)]*)", plan):
        first = m.group(1).split(",")[0].strip()
        if (
            " ASC" in first
            or " DESC" in first
            or first.startswith("specifiedwindowframe")
        ):
            out.append(first)
    return out


def unallowlisted_unpartitioned_windows(record) -> list[str]:
    bad = []
    for name, rec in record.items():
        if name.startswith("stream_"):
            continue
        specs = _unpartitioned_window_specs(rec.plan)
        if specs and name not in UNPARTITIONED_WINDOW_OK:
            bad.append(f"{name}: {specs}")
    return bad


@pytest.mark.timeout(SWEEP_TIMEOUT_S)
def test_registry_wide_unpartitioned_window_allowlist(registry_record):
    # Runtime prong: every non-stream registry query's executed plan may
    # contain an unpartitioned window ONLY if the query is allowlisted
    # with a boundedness reason. Allowlist entries may go unused at
    # runtime — eager checkpoints hide upstream machinery from the final
    # plan, so visibility varies; the STATIC audit below is the
    # staleness-checked prong.
    bad = unallowlisted_unpartitioned_windows(registry_record)
    assert not bad, (
        "unpartitioned window over a relation with no triaged bound "
        "(single-task global sort at scale) — partition the window by an "
        "entity key, or rank within range buckets and add per-bucket "
        f"offsets, or allowlist with a boundedness reason: {bad}"
    )


# Static allowlist: (module file, top-level function) -> boundedness reason.
# Keyed by construction SITE so checkpoint-hidden machinery (the
# events_kruskal_wallis lesson) cannot dodge the gate.
STATIC_WINDOW_OK = {
    ("relational.py", "histogram_quantile_estimates"): "constant bucket grid",
    ("relational.py", "events_hmm_viterbi_decode"): "daily spine",
    ("curation.py", "corpus_source_mix"): "#sources strata",
    ("curation.py", "corpus_token_budget"): "#source×lang strata",
    ("curation.py", "corpus_temperature_mix"): "#sources strata",
    ("curation.py", "corpus_source_concentration"): "#sources strata",
    ("curation.py", "corpus_weighted_sample"): "rank window AFTER .limit(k)",
    ("graph.py", "graph_common_neighbors"): "rank window AFTER .limit(k)",
    ("graph.py", "graph_adamic_adar"): "rank window AFTER .limit(k)",
    ("graph.py", "graph_effective_diameter"): "distinct BFS distances ≤ diameter",
    ("similarity.py", "sim_hybrid_rrf"): "fusion of two bounded top-k lists",
    ("similarity.py", "sim_ann_graph_search"): "beam candidates ≤ GBS_BEAM",
    ("text.py", "text_vocab_topk"): "rank window AFTER .limit(k)",
    ("text.py", "text_bpe_pair_counts"): "rank window AFTER .limit(k)",
    ("text.py", "corpus_dsir_sample"): "rank window AFTER .limit(k)",
    ("text.py", "token_zipf_fit"): "rank window AFTER .limit(k)",
    ("text.py", "text_ngram_novelty"): "constant bucket grid",
    ("text.py", "text_word_pmi"): "rank window AFTER .limit(k)",
    ("text.py", "text_heaps_law_fit"): "constant checkpoint spine ≤ HEAPS_CHECKPOINTS",
    ("text.py", "text_heavy_hitters_cms"): "CMS heavy hitters — bounded",
    ("text.py", "text_textrank_keywords"): "vocab-cardinality; SCALE.md row",
    ("text.py", "text_vocab_coverage_curve"): "vocab-cardinality; SCALE.md row",
    ("text.py", "text_bm25_topk"): "rank window AFTER .limit(k)",
    ("text.py", "text_ndcg_eval"): "two bounded top-k rankings",
}


def test_static_unpartitioned_window_audit():
    # Static prong: every `Window.orderBy(` / `Window.partitionBy()` /
    # `Window.partitionBy(*parts)` construction site in the package must
    # sit inside an allowlisted top-level function. Catches what the
    # runtime sweep can't see (machinery upstream of an eager checkpoint).
    # Stale allowlist entries fail too, so the triage stays current.
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "cl_tagger_batch_processing_spark"
    )
    site_pat = re.compile(
        r"Window\.orderBy\(|Window\.partitionBy\(\s*\)|Window\.partitionBy\(\*parts\)"
    )
    hits: set[tuple[str, str]] = set()
    bad = []
    for p in sorted(pkg.rglob("*.py")):
        cur = None
        for i, line in enumerate(p.read_text().splitlines(), 1):
            m = re.match(r"def (\w+)", line)
            if m:
                cur = m.group(1)
            if line.strip().startswith("#") or not site_pat.search(line):
                continue
            key = (p.name, cur)
            hits.add(key)
            if key not in STATIC_WINDOW_OK:
                bad.append(f"{p.name}:{i} in {cur}: {line.strip()[:80]}")
    assert not bad, (
        "new unpartitioned-Window construction site — over an unbounded "
        "relation, partition by an entity key or rank within range buckets "
        "plus per-bucket offsets; over a bounded spine, allowlist it with a "
        f"reason: {bad}"
    )
    stale = set(STATIC_WINDOW_OK) - hits
    assert not stale, f"stale STATIC_WINDOW_OK entries (site gone): {stale}"
