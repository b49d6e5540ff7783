"""The session keeps a warm query mix's generated classes compiled.

Every run of a query plans it again, so a warm run reuses its generated
code only through Spark's compiled-class cache. At Spark's default cap
(100 entries) the ten queries below, which generate about 200 distinct
classes per pass, recompiled all of them on every pass."""

from __future__ import annotations

import bench

# One query per operators module plus four TPC-H shapes: the query mix the
# repo benchmark measures.
QUERY_MIX = [
    "curation_pipeline_report",
    "dedup_minhash_lsh",
    "sim_topk_cosine",
    "text_tfidf_topk",
    "graph_degree_stats",
    "mm_phash_dedup",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_product_profit",
    "q18_large_orders",
]


def test_warm_query_mix_pass_compiles_no_classes(spark, sf_dir):
    from __spark_entry__ import queries

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    registry = queries()
    memos = [getattr(module, name) for module, name in bench.package_memos()]
    compiles = []
    for _ in range(3):
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        for name in QUERY_MIX:
            for memo in memos:  # every pass builds its memos again, as bench does
                memo.clear()
            registry[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
    # The default cap recompiled ~195 classes on every pass.
    assert compiles[2] <= 10, compiles
