"""The query-mix workloads: registry queries over seeded fixture tables.

One pass builds and executes every query of the mix once, each into a
noop sink (full execution, nothing collected), each after clearing every
session memo, the way a fresh batch job would see the engine. Before the
timed passes, each query's collected result is compared against its DuckDB
oracle (``oracle_sql()``) on the same files; that pass is also the warm-up.
"""

from __future__ import annotations

import importlib
import statistics
import sys
import time

from __spark_entry__ import oracle_sql, queries

from spans import spark_work

PKG = "cl_tagger_batch_processing_spark"

# Registry query -> the operators module that implements it (the layer its
# build/exec time is charged to in the traced run).
# One query per module, so a pass stays short enough to repeat several
# times in a run.
LLM_CURATION = {
    "curation_pipeline_report": "curation",
    "dedup_minhash_lsh": "dedup",
    "sim_topk_cosine": "similarity",
    "text_tfidf_topk": "text",
    "graph_degree_stats": "graph",
    "mm_phash_dedup": "multimodal",
}
TPCH_ANALYTICS = {
    name: "relational"
    for name in [
        "q1_pricing_summary", "q3_shipping_priority", "q9_product_profit", "q18_large_orders",
    ]
}
# Workload name -> its queries. ``query_mix`` runs both families in one
# pass, so one workload measures every operators module and the table
# loader; the two halves stay runnable on their own.
MIXES = {
    "llm_curation": LLM_CURATION,
    "tpch_analytics": TPCH_ANALYTICS,
    "query_mix": {**LLM_CURATION, **TPCH_ANALYTICS},
}
OPERATOR_LAYERS = ["curation", "dedup", "graph", "multimodal", "relational", "similarity", "text"]

# Module-level session memos, cleared before every query so no query rides
# a frame an earlier query built.
MEMO_CACHES = [
    ("operators.relational", "_PART_PAIRS_CACHE"),
    ("operators.similarity", "_TOPK_COSINE_CACHE"),
    ("operators.similarity", "_KMEANS_CACHE"),
    ("operators.similarity", "_SEMANTIC_KEEP_CACHE"),
    ("operators.similarity", "_KNN_GRAPH_CACHE"),
    ("operators.similarity", "_INTRINSIC_CAND_CACHE"),
    ("operators.dedup", "_SIG_CACHE"),
    ("operators.dedup", "_LSH_PAIRS_CACHE"),
    ("operators.dedup", "_SIMHASH_PAIRS_CACHE"),
    ("operators.dedup", "_CLUSTERS_CACHE"),
    ("operators.graph", "_EDGES_CACHE"),
]
# Left warm on purpose: a plan memo paid once per application (no data
# is cached, every action still scans the files), and the per-worker
# ONNX session handle.
KEPT_CACHES = [
    ("sources.tables", "_TABLE_PLAN_CACHE"),
    ("kernels.scoring", "_SESSION_CACHE"),
]


class CountingCache(dict):
    """A memo dict that counts hits on entries that existed before the
    current query started, i.e. frames another query built."""

    def __init__(self) -> None:
        super().__init__()
        self.before: set = set()
        self.hits = 0

    def get(self, key, default=None):
        if key in self.before and key in self:
            self.hits += 1
        return super().get(key, default)

    def __getitem__(self, key):
        if key in self.before:
            self.hits += 1
        return super().__getitem__(key)


def memo_caches() -> list[dict]:
    return [getattr(importlib.import_module(f"{PKG}.{mod}"), attr) for mod, attr in MEMO_CACHES]


class QueryMix:
    """Inputs, one pass, one traced pass and the checks of a query mix."""

    def __init__(self, spark, sf_dir: str, tracer, mix: dict[str, str]) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.mix = mix
        registry = queries()
        self.fns = {name: registry[name] for name in mix}
        self.items_per_pass = len(mix)
        self.query_seconds: dict[str, list[float]] = {name: [] for name in mix}

    def _clear_memos(self) -> None:
        for cache in memo_caches():
            if isinstance(cache, CountingCache):
                cache.before = set(cache)
            cache.clear()

    def warm_up(self) -> tuple[int, int]:
        """Two untimed passes: one that compares every query's collected
        result against its DuckDB oracle on the same files, then one over
        the timed code path (noop sink), since a query's second run is
        still markedly slower than its third. Returns (queries compared,
        queries whose result differs)."""
        from tests.oracle_harness import compare_query

        sql = oracle_sql()
        failed = 0
        for name, fn in self.fns.items():
            self._clear_memos()
            ok, msg = compare_query(self.spark, name, self.sf_dir, query_fn=fn, sql=sql[name])
            if not ok:
                print(f"perfbench: {name}: {msg}", file=sys.stderr)
                failed += 1
        self.run_pass()
        for samples in self.query_seconds.values():
            samples.clear()
        return len(self.fns), failed

    def check(self) -> int:
        """Results are compared once, in ``warm_up``; a timed pass only
        fails by raising."""
        return 0

    def run_pass(self, deadline: float | None = None) -> int:
        """Every query once, in order; past ``deadline`` (perf_counter
        time) a query that already has a sample is skipped, so a run's
        last pass may be partial. Returns the number of queries run."""
        ran = 0
        for name, fn in self.fns.items():
            samples = self.query_seconds[name]
            if deadline is not None and samples and time.perf_counter() >= deadline:
                continue
            self._clear_memos()
            t0 = time.perf_counter()
            fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            ran += 1
        return ran

    def pass_seconds(self, passes: list[float]) -> float:
        """A typical pass: the sum over queries of each query's median
        time, so one slow query in one pass does not move it."""
        return sum(statistics.median(v) for v in self.query_seconds.values())

    def query_p50(self, passes: list[float]) -> float:
        """The median query's latency: the median over queries of each
        query's median time (pooling every run of every query instead
        lands between the queries' clusters, and jumps between runs)."""
        return statistics.median(statistics.median(v) for v in self.query_seconds.values())

    def query_samples(self) -> int:
        return sum(len(v) for v in self.query_seconds.values())

    def run_traced_pass(self) -> dict:
        """Each query in a span, with build (plan construction, including
        any eager checkpoints) and exec (the noop action) as child spans
        charged to the query's operators module, and every ``load_table``
        call as a ``sources.tables.load`` span under the build."""
        t, sc = self.tracer, self.spark.sparkContext
        counts = {f"operators.{layer}.jobs": 0 for layer in OPERATOR_LAYERS}
        counts.update({"session.jobs": 0, "session.stages": 0, "session.tasks": 0})
        counts["sources.tables.load_calls"] = 0
        tables = importlib.import_module(f"{PKG}.sources.tables")
        original = tables.load_table

        def traced_load(*args, **kwargs):
            counts["sources.tables.load_calls"] += 1
            with t.span("sources.tables.load"):
                return original(*args, **kwargs)

        # Modules bind load_table at import time, so patch every binding.
        bound = [m for name, m in list(sys.modules.items())
                 if name.startswith(PKG) and getattr(m, "load_table", None) is original]
        caches = [CountingCache() for _ in MEMO_CACHES]
        saved = [getattr(importlib.import_module(f"{PKG}.{mod}"), attr)
                 for mod, attr in MEMO_CACHES]
        for m in bound:
            m.load_table = traced_load
        for (mod, attr), cache in zip(MEMO_CACHES, caches):
            setattr(importlib.import_module(f"{PKG}.{mod}"), attr, cache)
        try:
            with t.span("pass"):
                for i, (name, fn) in enumerate(self.fns.items()):
                    layer = self.mix[name]
                    self._clear_memos()
                    group = f"perfbench-{t.trace_id}-{i}"
                    sc.setJobGroup(group, name)
                    with t.span(f"query.{name}"):
                        with t.span(f"operators.{layer}.build"):
                            df = fn(self.spark, self.sf_dir)
                        with t.span(f"operators.{layer}.exec"):
                            df.write.format("noop").mode("overwrite").save()
                    sc.setJobGroup(None, None)
                    work = spark_work(sc, group)
                    counts[f"operators.{layer}.jobs"] += work["session.jobs"]
                    for key, n in work.items():
                        counts[key] += n
        finally:
            for m in bound:
                m.load_table = original
            for (mod, attr), cache in zip(MEMO_CACHES, saved):
                setattr(importlib.import_module(f"{PKG}.{mod}"), attr, cache)
        counts["operators.memo_hits"] = sum(c.hits for c in caches)
        return counts
