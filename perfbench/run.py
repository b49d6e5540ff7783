#!/usr/bin/env python3
"""The repo benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload tag_small_files --seed 1 --seconds 20 --trace 0

Workloads (inputs are generated from ``--seed``; BENCHMARK.json lists the
measured ones and why each is in the set):

* ``tag_small_files`` / ``tag_large_files`` — the reference's batch tagging
  job (scan → decode+score → tag selection → Parquet + sidecar sinks) over
  a folder tree of many small or few large files;
* ``query_mix`` — one dedup / similarity / text / graph / curation /
  multimodal registry query each plus four TPC-H-shape queries, each cold
  (session memos cleared); ``llm_curation`` and ``tpch_analytics`` run
  its two halves alone.

One process, one Spark session on ``local[<cores>]``. Set-up (session
start, input generation, untimed warm-up passes, the first of which checks
the query results against an independent oracle) is timed as ``setup_s``;
then passes repeat until ``--seconds`` have been measured (the tag outputs
are checked after every pass, outside the timed region). ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` alternates untraced passes with
traced passes (each layer materialized in its own span) and prints the
per-layer metrics, including the tracing overhead, and writes the spans to
``.perfbench_out/``. Everything the run writes lives under the checkout
in ``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "tag_small_files": {
        "full": {"n_images": 300, "min_bytes": 512, "max_bytes": 64 << 10},
        "tiny": {"n_images": 200, "min_bytes": 512, "max_bytes": 64 << 10},
    },
    "tag_large_files": {
        "full": {"n_images": 60, "min_bytes": 1 << 20, "max_bytes": 4 << 20},
        "tiny": {"n_images": 8, "min_bytes": 1 << 20, "max_bytes": 4 << 20},
    },
    "llm_curation": {
        "full": {"sf": 0.01, "n_docs": 500, "n_vecs": 500},
        "tiny": {"sf": 0.001, "n_docs": 200, "n_vecs": 200},
    },
    "tpch_analytics": {
        "full": {"sf": 0.02, "n_docs": 500, "n_vecs": 500},
        "tiny": {"sf": 0.001, "n_docs": 200, "n_vecs": 200},
    },
    "query_mix": {
        "full": {"sf": 0.02, "n_docs": 500, "n_vecs": 500},
        "tiny": {"sf": 0.001, "n_docs": 200, "n_vecs": 200},
    },
}
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "items_per_s": "1/s",
    "query_s_p50": "s",
}
OPERATOR_LAYERS = ["curation", "dedup", "graph", "multimodal", "relational", "similarity", "text"]
# span name -> per-layer metric holding that span's self time per pass
SPAN_METRICS = {
    "sources.images.scan": "sources.images.scan_s",
    "kernels.score": "kernels.score_s",
    "operators.tagging.select": "operators.tagging.select_s",
    "sources.sinks.parquet": "sources.sinks.parquet_s",
    "sources.sinks.sidecar": "sources.sinks.sidecar_s",
    "sources.tables.load": "sources.tables.load_s",
    **{f"operators.{m}.{p}": f"operators.{m}.{p}_s"
       for m in OPERATOR_LAYERS for p in ("build", "exec")},
}
COUNT_METRICS = [
    "sources.images.files", "sources.images.bytes", "sources.images.input_partitions",
    "kernels.error_rows", "operators.tagging.long_rows",
    "sources.sinks.files_written", "sources.sinks.bytes_written",
    *[f"operators.{m}.jobs" for m in OPERATOR_LAYERS],
    "sources.tables.load_calls", "operators.memo_hits",
    "session.jobs", "session.stages", "session.tasks",
]
PER_LAYER = {
    **{m: "s" for m in SPAN_METRICS.values()},
    **{m: ("bytes" if m.endswith("bytes") or m.endswith("bytes_written") else "count")
       for m in COUNT_METRICS},
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def seconds_since_process_start() -> float:
    """Wall time since this process was created, from /proc (10 ms ticks),
    so interpreter start-up and imports count toward set-up."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def hermetic_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``, and let the workers import the package."""
    for sub in ("tmp", "spark-local", "staging"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["CL_TAGGER_STAGING_DIR"] = os.path.join(work, "staging")
    os.environ["JDK_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work)  # spark-warehouse and any relative path land here
    sys.path[:0] = [ROOT, HERE]


def build_workload(name: str, spark, work: str, seed: int, scale: str, tracer):
    size = WORKLOADS[name][scale]
    if name.startswith("tag_"):
        from tagging import TagWorkload

        wl = TagWorkload(spark, work, seed, tracer, **size)
        return wl, wl.input_stats()
    from datagen import make_tables
    from queries import MIXES, QueryMix

    sf_dir = os.path.join(work, "tables")
    rows = make_tables(sf_dir, seed, **size)
    mix = MIXES[name]
    return QueryMix(spark, sf_dir, tracer, mix), {"sf": size["sf"], "rows": rows,
                                                   "queries": len(mix)}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def run(args, work: str) -> dict:
    from spans import Tracer

    hermetic_env(work)
    from cl_tagger_batch_processing_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", cpus=cpus)
    try:
        tracer = Tracer(enabled=False)
        wl, inputs = build_workload(args.workload, spark, work, args.seed, args.scale, tracer)

        def one_pass(fn) -> tuple | None:
            nonlocal attempted, failed
            attempted += wl.items_per_pass
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:
                traceback.print_exc()
                failed += wl.items_per_pass
                return None
            dt = time.perf_counter() - t0
            failed += wl.check()
            return dt, out

        attempted, failed = wl.warm_up()
        setup_s = seconds_since_process_start()

        # Passes repeat until the deadline. An untraced query pass stops at
        # the deadline between queries; tag passes and traced passes (so
        # the overhead compares whole passes) run whole.
        passes, traced = [], []
        deadline = time.perf_counter() + args.seconds
        first = True
        while first or time.perf_counter() < deadline:
            first = False
            r = one_pass(lambda: wl.run_pass(None if args.trace else deadline))
            if r:
                passes.append(r[0])
                attempted -= wl.items_per_pass - r[1]  # a pass cut at the deadline
            if args.trace:
                tracer.enabled = True
                tracer.trace_id += 1
                r = one_pass(wl.run_traced_pass)
                tracer.enabled = False
                if r:
                    traced.append((tracer.trace_id, r[1]))
    finally:
        stop_spark(spark)
    if not passes or (args.trace and not traced):
        raise RuntimeError("no measured pass completed")

    info = {"workload": args.workload, "seed": args.seed, "inputs": inputs,
            "pass_seconds": [round(p, 3) for p in passes], "traced_passes": len(traced),
            "query_samples": wl.query_samples() or len(passes)}
    print(json.dumps(info))
    if args.trace:
        metrics = per_layer_metrics(tracer, traced, passes)
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                 f"spans-{args.workload}-{args.seed}.jsonl"))
        if metrics["operators.memo_hits"]["value"]:
            failed += 1
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": wl.pass_seconds(passes),
            "items_per_s": wl.items_per_pass / wl.pass_seconds(passes),
            "query_s_p50": wl.query_p50(passes),
        }
        metrics = {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END}
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def per_layer_metrics(tracer, traced: list, passes: list[float]) -> dict:
    """Median over traced passes of each layer's self time and counts."""
    samples: dict[str, list[float]] = {m: [] for m in PER_LAYER}
    for trace_id, counts in traced:
        self_s = tracer.self_seconds(trace_id)
        for span, metric in SPAN_METRICS.items():
            samples[metric].append(self_s.get(span, 0.0))
        for metric in COUNT_METRICS:
            samples[metric].append(counts.get(metric, 0))
        pass_span = next(s for s in tracer.spans if s["trace"] == trace_id and s["name"] == "pass")
        samples["trace.pass_s"].append(pass_span["end"] - pass_span["start"])
    values = {m: statistics.median(v) if v else 0.0 for m, v in samples.items()}
    values["trace.overhead_s"] = values["trace.pass_s"] - statistics.median(passes)
    return {m: {"value": values[m], "unit": PER_LAYER[m]} for m in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is the smoke test's")
    args = ap.parse_args(argv)
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    cwd = os.getcwd()
    try:
        result = run(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
