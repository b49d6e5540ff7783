#!/usr/bin/env python
"""Isolated per-query measurement + plan capture for the optimization rounds.

Usage:
    python tools/qbench.py --plans-dir plans/r14 --suffix before q1 q2 ...
    python tools/qbench.py --runs 3 q1 q2 ...            # timing only
    python tools/qbench.py --runs 0 --plans-dir plans/r14 --suffix after q1

Timing methodology matches bench.py exactly: noop-sink materialization on
local[$SPARK_GRAFT_CPUS] over $SPARK_GRAFT_SF_DIR, median of --runs runs.
Plans are captured with explain("formatted") AFTER one materialization so
AQE's final plan is what lands in the file.

Each run is tagged with its own Spark job group so the output reports the
NUMBER OF SPARK JOBS the run launched — the measurement the iterative-
family optimizations (fewer checkpoint/census jobs per superstep) are
graded on — and the number of classes Spark's code generator COMPILED
during the run: 0 on a run whose generated classes are all still in
Spark's compiled-class cache, so a count that stays high on repeated runs
shows codegen thrash. Session memo caches (the memos bench.py attributes
plus the table-plan memo) are cleared before every timed run by default
so isolated medians compare cold against cold; pass --keep-memos for
bench-like warm riding.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _memo_caches():
    """The session memo dicts cleared before each run: every memo bench.py
    attributes plus the table-plan memo, so every isolated run pays its
    own memo builds and table plans (cold-vs-cold A/B)."""
    from bench import package_memos

    return [getattr(module, name) for module, name in package_memos(kept={"_SESSION_CACHE"})]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument(
        "--keep-memos",
        action="store_true",
        help="do NOT clear session memo caches between runs (bench-like "
        "warm riding instead of the default cold-vs-cold isolation)",
    )
    args = ap.parse_args()
    if args.runs <= 0 and not args.plans_dir:
        ap.error("--runs 0 needs --plans-dir (nothing to do otherwise)")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from cl_tagger_batch_processing_spark.plans.inspect import (
        count_shuffles,
        formatted_plan,
    )
    from cl_tagger_batch_processing_spark.session import get_spark

    from __spark_entry__ import queries

    spark = get_spark(app_name="qbench", cpus=cpus)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled() -> int:  # classes compiled in this JVM so far
        return codegen.METRIC_COMPILATION_TIME().getCount()

    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm
    caches = _memo_caches()
    qmap = queries()
    for name in args.queries:
        fn = qmap[name]
        times: list[float] = []
        job_counts: list[int] = []
        compile_counts: list[int] = []
        for i in range(max(args.runs, 0)):
            if not args.keep_memos:
                for c in caches:
                    c.clear()
            group = f"qbench:{name}:{i}"
            sc.setJobGroup(group, f"qbench {name} run {i}")
            c0 = compiled()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
            job_counts.append(len(tracker.getJobIdsForGroup(group)))
            compile_counts.append(compiled() - c0)
            sc.setJobGroup(None, None)
        line: dict = {
            "query": name,
            "runs": times,
            "median": sorted(times)[len(times) // 2] if times else None,
            "jobs": job_counts,
            "compiles": compile_counts,
        }
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            if not args.keep_memos:
                for c in caches:
                    c.clear()
            sc.setJobGroup(f"qbench:{name}:plan", f"qbench {name} plan")
            df = fn(spark, sf_dir)
            if not times:
                # plans-only invocation still materializes once so AQE and
                # any census/checkpoint machinery reflect the executed form
                df.write.format("noop").mode("overwrite").save()
                df = fn(spark, sf_dir)
            txt = formatted_plan(df)
            n_shuffles = count_shuffles(df)
            sc.setJobGroup(None, None)
            path = os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(txt)
            line["shuffle_exchanges"] = n_shuffles
            line["plan"] = path
        print(json.dumps(line))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
