"""The tagging workloads: the reference's own batch job over a folder tree.

One pass is the CLI's flow (``__main__.main``): ``tag_images(recursive=True)``
→ ``write_tags_parquet`` → ``write_sidecar_txt`` over the written table.
Decode is the engine's deterministic fake decode and scoring the
``StubScorer``; both are passed explicitly so the workload does not change
if PIL or onnxruntime appear on the machine.

Correctness, checked outside the timed region:

* every pass: the Parquet rows are exactly the generated images, the rows
  with ``status='error'`` are exactly the truncated payloads, and one
  sidecar per row holds that row's ``tags_text``;
* once per process: ``tags_text`` of a seeded sample of images equals a
  plain-Python replay of the reference's selection (appV2.py:74-101)
  over the demo tag dimension, scored in the benchmark process.
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cl_tagger_batch_processing_spark.kernels.preprocess import fake_decode_bytes
from cl_tagger_batch_processing_spark.kernels.scoring import StubScorer, sigmoid_clip_np
from cl_tagger_batch_processing_spark.operators.tagging import demo_tag_dim, select_tags
from cl_tagger_batch_processing_spark.pipeline import observe_status, score_images, tag_images
from cl_tagger_batch_processing_spark.sources.images import scan_images
from cl_tagger_batch_processing_spark.sources.sinks import write_sidecar_txt, write_tags_parquet

from datagen import make_image_tree
from spans import spark_work

REPLAY_SAMPLE = 32
WARM_UP_PASSES = 4
# The reference's constants (appV2.py:98,126-127), spelled out here so the
# replay does not share the engine's.
REFERENCE_META_BLACKLIST = ("id", "commentary", "request", "mismatch")
REFERENCE_GEN_THRESHOLD = 0.55
REFERENCE_CHAR_THRESHOLD = 0.60


def _local(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


class TagWorkload:
    """Inputs, one pass, one traced pass and the checks of a tag workload."""

    def __init__(self, spark, work: str, seed: int, tracer, n_images: int,
                 min_bytes: int, max_bytes: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.tree = make_image_tree(os.path.join(work, "images"), seed, n_images,
                                    min_bytes, max_bytes)
        self.parquet_out = os.path.join(work, "out", "tags.parquet")
        self.sidecar_dir = os.path.join(work, "out", "sidecars")
        self.tag_dim = demo_tag_dim(spark)
        self.scorer = StubScorer()
        self.items_per_pass = len(self.tree.images)
        self.replayed = False
        self.observed = None

    def input_stats(self) -> dict:
        return {"files": len(self.tree.images), "bytes": self.tree.bytes,
                "truncated": len(self.tree.truncated), "noise_files": self.tree.noise_files}

    def pass_seconds(self, passes: list[float]) -> float:
        return statistics.median(passes)

    def query_p50(self, passes: list[float]) -> float:
        return statistics.median(passes)  # one pass is one job

    def query_samples(self) -> int:
        return 0

    def _clear_outputs(self) -> None:
        shutil.rmtree(os.path.dirname(self.parquet_out), ignore_errors=True)

    def warm_up(self) -> tuple[int, int]:
        """Untimed passes that pay the first-touch costs (code generation,
        JIT, Python worker start): pass times keep falling for the first
        few passes. Returns (attempted, failed) image checks; the warm-up
        outputs are checked like any pass's."""
        failed = 0
        for _ in range(WARM_UP_PASSES):
            self.run_pass()
            failed += self.check()
        return self.items_per_pass * WARM_UP_PASSES, failed

    def run_pass(self, deadline: float | None = None) -> int:
        """One untraced tagging job, in ``__main__.main``'s order; it
        always runs whole. Returns the number of images."""
        result = tag_images(self.spark, self.tree.root, self.tag_dim, recursive=True,
                            scorer=self.scorer, decode=fake_decode_bytes)
        observed, obs = observe_status(result)
        write_tags_parquet(observed, self.parquet_out)
        write_sidecar_txt(self.spark.read.parquet(self.parquet_out), self.sidecar_dir)
        self.observed = obs.get
        return self.items_per_pass

    def run_traced_pass(self) -> dict:
        """The same job with each layer materialized in its own span.

        ``kernels.score`` re-reads the files, so its span holds a
        ``sources.images.scan`` child and its self time is the kernel's
        (decode, score, Arrow transfer) share. Tag selection runs over
        checkpointed long-form scores and the sinks over a checkpointed
        result, so each span times only its own layer.
        """
        t, spark = self.tracer, self.spark
        counts: dict[str, float] = {}
        group = f"perfbench-{t.trace_id}"
        spark.sparkContext.setJobGroup(group, "traced tagging pass")
        with t.span("pass"):
            with t.span("kernels.score"):
                with t.span("sources.images.scan"):
                    images = scan_images(spark, self.tree.root, recursive=True)
                    row = images.agg(F.count(F.lit(1)).alias("n"),
                                     F.sum(F.length("content")).alias("b")).collect()[0]
                scored = score_images(images, scorer=self.scorer,
                                      decode=fake_decode_bytes).localCheckpoint(eager=True)
            counts["sources.images.files"] = row["n"]
            counts["sources.images.bytes"] = row["b"] or 0
            counts["sources.images.input_partitions"] = images.rdd.getNumPartitions()
            counts["kernels.error_rows"] = scored.where(F.col("status") == "error").count()
            ok = scored.where(F.col("status") == "ok")
            long_scores = ok.select(
                F.col("path").alias("image_id"), F.posexplode("probs").alias("tag_idx", "prob"),
            ).select("image_id", "tag_idx", F.col("prob").cast("double").alias("prob"))
            long_scores = long_scores.localCheckpoint(eager=True)
            counts["operators.tagging.long_rows"] = long_scores.count()
            with t.span("operators.tagging.select"):
                tagged = select_tags(
                    long_scores, self.tag_dim, images=ok.select(F.col("path").alias("image_id")),
                ).localCheckpoint(eager=True)
            result = tagged.select(
                F.col("image_id").alias("path"), "tags_text", F.lit("ok").alias("status"),
                F.lit(None).cast("string").alias("error"),
            ).unionByName(scored.where(F.col("status") == "error").select(
                "path", F.lit(None).cast("string").alias("tags_text"), "status", "error"))
            with t.span("sources.sinks.parquet"):
                write_tags_parquet(result, self.parquet_out)
            with t.span("sources.sinks.sidecar"):
                write_sidecar_txt(spark.read.parquet(self.parquet_out), self.sidecar_dir)
        spark.sparkContext.setJobGroup(None, None)
        counts.update(spark_work(spark.sparkContext, group))
        files = written = 0
        for d, _, names in os.walk(os.path.dirname(self.parquet_out)):
            for n in names:
                files += 1
                written += os.path.getsize(os.path.join(d, n))
        counts["sources.sinks.files_written"] = files
        counts["sources.sinks.bytes_written"] = written
        self.observed = None
        return counts

    def check(self) -> int:
        """Images whose Parquet row or sidecar is missing or wrong, plus,
        on the first call, sampled images whose tags differ from the
        replay."""
        bad_replay = 0
        if not self.replayed:
            bad_replay = self._check_replay()
            self.replayed = True
        table = pq.read_table(self.parquet_out).to_pydict()
        rows = {_local(p): (t, s) for p, t, s in
                zip(table["path"], table["tags_text"], table["status"])}
        bad = set(rows) ^ set(self.tree.images)
        if len(table["path"]) != len(rows):
            bad.add("<duplicate rows>")
        for path, (text, status) in rows.items():
            want = "error" if path in self.tree.truncated else "ok"
            if status != want or (status == "ok") == (text is None):
                bad.add(path)
                continue
            sidecar = os.path.join(self.sidecar_dir,
                                   os.path.splitext(os.path.basename(path))[0] + ".txt")
            try:
                with open(sidecar, encoding="utf-8") as f:
                    if f.read() != (text or ""):
                        bad.add(path)
            except FileNotFoundError:
                bad.add(path)
        if len(os.listdir(self.sidecar_dir)) != len(rows):
            bad.add("<extra sidecars>")
        if self.observed is not None and (
            self.observed["n_ok"] != len(self.tree.images) - len(self.tree.truncated)
            or self.observed["n_error"] != len(self.tree.truncated)
        ):
            bad.add("<observed counters>")
        self._clear_outputs()
        return len(bad) + bad_replay

    def _check_replay(self) -> int:
        """Sampled ``tags_text`` against a replay in this process."""
        table = pq.read_table(self.parquet_out, columns=["path", "tags_text"]).to_pydict()
        got = {_local(p): t for p, t in zip(table["path"], table["tags_text"])}
        ok_paths = sorted(set(self.tree.images) - self.tree.truncated)
        rng = np.random.default_rng(self.seed + 1)
        n = min(REPLAY_SAMPLE, len(ok_paths))
        sample = [ok_paths[i] for i in rng.choice(len(ok_paths), n, replace=False)]
        tensors = []
        for p in sample:
            with open(p, "rb") as f:
                tensors.append(fake_decode_bytes(f.read()))
        probs = sigmoid_clip_np(self.scorer.score_batch(np.stack(tensors).astype(np.float32)))
        dim = {r["tag_idx"]: (r["tag_name"], r["category"]) for r in self.tag_dim.collect()}
        return sum(
            got.get(p) != reference_tags([float(x) for x in pr], dim)
            for p, pr in zip(sample, probs)
        )


def reference_tags(probs: list[float], dim: dict[int, tuple[str, str]]) -> str:
    """Plain-Python replay of the reference's ``get_tags`` (appV2.py:74-101):
    argmax (first max) for rating and quality, then per-category
    thresholds in dict-literal order with the meta substring blacklist."""
    by_cat: dict[str, list[int]] = {}
    for idx in sorted(dim):
        by_cat.setdefault(dim[idx][1], []).append(idx)
    out = []
    for cat in ("rating", "quality"):
        idxs = by_cat.get(cat, [])
        if idxs:
            best = max(idxs, key=lambda i: (probs[i], -i))
            out.append(dim[best][0].replace("_", " "))
    gen, char = REFERENCE_GEN_THRESHOLD, REFERENCE_CHAR_THRESHOLD
    thresholds = {"general": gen, "meta": gen, "model": gen,
                  "character": char, "copyright": char, "artist": char}
    for cat, th in thresholds.items():
        for idx in by_cat.get(cat, []):
            if probs[idx] >= th:
                tag = dim[idx][0].replace("_", " ")
                if cat == "meta" and any(s in tag.lower() for s in REFERENCE_META_BLACKLIST):
                    continue
                out.append(tag)
    return ", ".join(out)
