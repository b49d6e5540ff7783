"""Reliable-checkpoint mode: identical results, durable lineage truncation.

``checkpointing.truncate_lineage`` is the single lineage-truncation point
for every iterative operator (PageRank supersteps, the CC loop, the k-means
base). Default mode is ``local`` (executor-local blocks — fastest, and what
every other test exercises); these tests flip the session to ``reliable``
and prove the iterative operators return bit-identical results while
actually writing to the fault-tolerant checkpoint directory — the mode a
1000-executor cluster needs so one lost machine doesn't kill a
10-superstep job.
"""

from __future__ import annotations

import os

import pytest

from cl_tagger_batch_processing_spark.checkpointing import (
    CHECKPOINT_DIR_CONF,
    CHECKPOINT_MODE_CONF,
    truncate_lineage,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def reliable_mode(spark, tmp_path):
    ckpt_dir = str(tmp_path / "ckpt")
    spark.conf.set(CHECKPOINT_MODE_CONF, "reliable")
    spark.conf.set(CHECKPOINT_DIR_CONF, ckpt_dir)
    # SparkContext's checkpoint dir is session-sticky and truncate_lineage
    # only SEEDS it when unset — pin it explicitly so each test's files
    # land in ITS OWN tmp dir regardless of which reliable test ran first
    # (order-independence; the session fixture can't undo setCheckpointDir)
    spark.sparkContext.setCheckpointDir(ckpt_dir)
    try:
        yield ckpt_dir
    finally:
        spark.conf.set(CHECKPOINT_MODE_CONF, "local")
        spark.conf.unset(CHECKPOINT_DIR_CONF)


def test_reliable_mode_requires_checkpoint_dir(spark, monkeypatch):
    # setCheckpointDir is session-sticky, so if any reliable_mode test ran
    # first the real getCheckpointDir() is non-None and the error path
    # would silently not execute — monkeypatch it to None so the missing-
    # dir ValueError is asserted DETERMINISTICALLY in any test order.
    spark.conf.set(CHECKPOINT_MODE_CONF, "reliable")
    monkeypatch.setattr(
        spark.sparkContext, "getCheckpointDir", lambda: None
    )
    try:
        with pytest.raises(ValueError, match="checkpoint directory"):
            truncate_lineage(spark.range(3))
    finally:
        spark.conf.set(CHECKPOINT_MODE_CONF, "local")


def test_unknown_mode_rejected(spark):
    spark.conf.set(CHECKPOINT_MODE_CONF, "banana")
    try:
        with pytest.raises(ValueError, match="banana"):
            truncate_lineage(spark.range(3))
    finally:
        spark.conf.set(CHECKPOINT_MODE_CONF, "local")


def test_truncate_lineage_local_default(spark):
    out = truncate_lineage(spark.range(5))
    assert out.count() == 5


def test_pagerank_identical_in_reliable_mode(spark, sf_dir, reliable_mode):
    """The VERDICT-mandated proof: graph_pagerank in reliable mode with
    unchanged values (the local-mode result is the oracle-verified one)."""
    from cl_tagger_batch_processing_spark.operators.graph import graph_pagerank

    reliable = _rows(graph_pagerank(spark, sf_dir))
    # files actually landed in the reliable dir (durability is real)
    assert any(files for _, _, files in os.walk(reliable_mode))
    spark.conf.set(CHECKPOINT_MODE_CONF, "local")
    local = _rows(graph_pagerank(spark, sf_dir))
    assert reliable == local


def test_cc_loop_identical_in_reliable_mode(spark, sf_dir, reliable_mode):
    """dedup_clusters drives connected_components' observe+checkpoint loop;
    the Observation-based convergence check must fire in reliable mode too."""
    from cl_tagger_batch_processing_spark.operators.dedup import dedup_clusters

    reliable = _rows(dedup_clusters(spark, sf_dir))
    spark.conf.set(CHECKPOINT_MODE_CONF, "local")
    local = _rows(dedup_clusters(spark, sf_dir))
    assert reliable == local


def test_kmeans_chain_memos_rebuild_after_switch_to_reliable(spark, sf_dir, reliable_mode):
    """The k-means chain and SemDeDup keep memos hold eager checkpoints, so
    a frame built in local mode must not answer for reliable mode: after
    the switch both rebuild, and their checkpoint files land in the
    reliable directory."""
    from cl_tagger_batch_processing_spark.operators.similarity import (
        dedup_semantic_keep,
        embedding_kmeans,
    )

    spark.conf.set(CHECKPOINT_MODE_CONF, "local")
    local_keep = dedup_semantic_keep(spark, sf_dir)
    local_kmeans = _rows(embedding_kmeans(spark, sf_dir))
    spark.conf.set(CHECKPOINT_MODE_CONF, "reliable")
    reliable_keep = dedup_semantic_keep(spark, sf_dir)
    reliable_kmeans = _rows(embedding_kmeans(spark, sf_dir))
    assert reliable_keep is not local_keep
    assert any(files for _, _, files in os.walk(reliable_mode))
    assert reliable_kmeans == local_kmeans
    assert _rows(reliable_keep) == _rows(local_keep)
