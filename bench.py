#!/usr/bin/env python
"""Benchmark runner: times every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line. Each query is materialized with a noop write (full execution, no
driver-side collect).
"""

from __future__ import annotations

import importlib
import json
import os
import pkgutil
import re
import sys
import time

PKG = "cl_tagger_batch_processing_spark"
# Memos bench leaves warm on purpose: fixture table plans (no data is
# cached) and the scorer's per-worker model handle.
KEPT_MEMOS = frozenset({"_TABLE_PLAN_CACHE", "_SESSION_CACHE"})


def package_memos(kept=KEPT_MEMOS) -> list[tuple[object, str]]:
    """(module, name) of every module-level ``_*CACHE`` dict in the
    package, minus the names in ``kept``: the session memos whose builds
    and hits each per-query line attributes. tools/qbench.py clears the
    same dicts before every cold run."""
    package = importlib.import_module(PKG)
    found = []
    for info in pkgutil.walk_packages(package.__path__, PKG + "."):
        module = importlib.import_module(info.name)
        for name, value in vars(module).items():
            is_memo = re.fullmatch(r"_[A-Z0-9_]*CACHE", name) and isinstance(value, dict)
            if is_memo and name not in kept:
                found.append((module, name))
    return found


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from cl_tagger_batch_processing_spark.session import get_spark

    from __spark_entry__ import queries

    spark = get_spark(app_name="bench", cpus=cpus)
    # Warm the machinery every query pays for on first touch (JVM classes,
    # parquet reader, broadcast + window codegen paths) so per-query times
    # measure the query, not session startup.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cl_tagger_batch_processing_spark.sources.tables import load_table

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    (
        warm.join(F.broadcast(region), warm.n_regionkey == region.r_regionkey)
        .withColumn("rn", F.row_number().over(Window.partitionBy("n_regionkey").orderBy("n_nationkey")))
        .groupBy("rn")
        .agg(F.collect_list(F.struct("n_name")).alias("xs"))
        .write.format("noop").mode("overwrite").save()
    )

    # Session-memo attribution (VERDICT r7 ask #6): some queries share an
    # expensive memoized frame (k-means chain, SemDeDup keep artifact,
    # near-dup clusters, co-occurrence edges, LSH/SimHash pair frames);
    # whichever consumer runs FIRST pays the build. Instrument the memo
    # dicts so each
    # per-query line records whether it built a memo ("cold"), rode one
    # ("warm"), or touched none — cross-round per-query deltas must
    # compare like with like.
    class _CountingCache(dict):
        def __init__(self) -> None:
            super().__init__()
            self.hits = 0
            self.inserts = 0

        def get(self, key, default=None):
            val = super().get(key, default)
            if val is not None:
                self.hits += 1
            return val

        def __getitem__(self, key):
            val = super().__getitem__(key)
            self.hits += 1
            return val

        def __setitem__(self, key, val) -> None:
            self.inserts += 1
            super().__setitem__(key, val)

    memo_caches: list[_CountingCache] = []
    for module, name in package_memos():
        cache = _CountingCache()
        setattr(module, name, cache)
        memo_caches.append(cache)

    def run_once(name: str, fn) -> tuple[float, str | None]:
        """Time one noop-write materialization; classify memo interaction."""
        hits0 = sum(c.hits for c in memo_caches)
        ins0 = sum(c.inserts for c in memo_caches)
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            sec = round(time.perf_counter() - t0, 3)
        except Exception as e:  # a failing query must not sink the whole bench
            print(f"# bench error in {name}: {e}", file=sys.stderr)
            return -1.0, None
        if sum(c.inserts for c in memo_caches) > ins0:
            return sec, "cold"  # built (at least one) shared memo
        if sum(c.hits for c in memo_caches) > hits0:
            return sec, "warm"  # rode a memo another query built
        return sec, None

    # Median-of-N timing (VERDICT r8 ask #4): two same-code full-registry
    # runs in r8 differed by 1.16x median — single-shot per-query numbers
    # sit inside a ~0.98-1.33x box-noise band, so cross-round comparisons
    # on the expensive tail need medians. One full pass times everything;
    # the top TAIL_K+10 slowest then get TAIL_RERUNS more runs each and report
    # (TAIL_K defaults to the top-20 the cross-round comparisons actually
    # cite — re-running deeper roughly doubles bench wall-clock for
    # queries nobody compares; raise SPARK_GRAFT_BENCH_TAIL_K to widen)
    # their MEDIAN (the cheap bulk stays single-shot — its absolute noise
    # is negligible in the total). The memo tag is the FIRST run's: a
    # query that built a shared memo cold in pass 1 rides it warm on
    # re-runs, and whether a query is re-run depends on timing, so only
    # the first run's tag compares across runs of the same code.
    TAIL_K = int(os.environ.get("SPARK_GRAFT_BENCH_TAIL_K", "20"))
    TAIL_RERUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RERUNS", "2"))
    qmap = dict(sorted(queries().items()))
    runs: dict[str, list[float]] = {}
    memo_first: dict[str, str | None] = {}
    for name, fn in qmap.items():
        sec, memo_first[name] = run_once(name, fn)
        runs[name] = [sec]
    # membership margin: the first-pass ranking is itself single-shot
    # noise, so re-run PAST the reporting cutoff — borderline queries get
    # medians on both sides of a cross-round comparison (r9 review)
    tail = [
        n
        for n, ts in sorted(runs.items(), key=lambda kv: -kv[1][0])
        if ts[0] >= 0
    ][: TAIL_K + 10]
    for _ in range(TAIL_RERUNS):
        for name in tail:
            sec, _ = run_once(name, qmap[name])
            if sec >= 0:
                runs[name].append(sec)

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        n = len(s)
        return s[n // 2] if n % 2 else round((s[n // 2 - 1] + s[n // 2]) / 2, 3)

    times = {name: (median(ts) if ts[0] >= 0 else -1.0) for name, ts in runs.items()}
    total = round(sum(t for t in times.values() if t >= 0), 3)
    # The driver records only the TAIL of stdout, so the giant per-query dict
    # must NOT live on the final line (r3/r4 lost the artifact to head
    # truncation). Emit one small JSON line per query — sorted ascending by
    # time so the expensive queries sit nearest the end and survive any
    # truncation — then END with one small self-contained summary line that
    # always parses.
    for name, t in sorted(times.items(), key=lambda kv: kv[1]):
        line: dict = {"query": name, "sec": t}
        if len(runs[name]) > 1:
            line["n_runs"] = len(runs[name])
            line["runs"] = runs[name]
        if memo_first[name] is not None:
            line["memo"] = memo_first[name]
        print(json.dumps(line))
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:20])
    # Run id stamped into the summary so narrative docs (BENCH_DELTA.md)
    # can cite exactly which run a number came from — r9's verdict caught
    # the doc quoting a different same-code run than the shipped artifact.
    run_id = f"{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}-{os.getpid()}"
    print(
        json.dumps(
            {
                "metric": "sum_query_seconds",
                "run_id": run_id,
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(times),
                "n_errors": sum(1 for t in times.values() if t < 0),
                "tail_runs": (
                    f"top-{TAIL_K + 10} slowest re-run {TAIL_RERUNS}x, "
                    "sec = median"
                ),
                "queries": slowest,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
