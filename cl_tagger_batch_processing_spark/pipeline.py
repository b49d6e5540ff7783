"""End-to-end tagging pipeline — the reference's ``main()`` flow
(appV2.py:103-191) as one composed Spark job.

    scan_images (S1+F1)                 appV2.py:132-137
      → coalesce to one task per core
      → score_images: mapInArrow        M1-M6 + J1/J2/F2/F3/F4/P1/A1/A2,
          decode → preprocess → batch   appV2.py:74-101,165-174
          score → sigmoid → NumPy tag
          selection, per-row try/except
      → (path, tags_text, status, error)
      → sinks.write_sidecar_txt / write_tags_parquet (S3)

The tag dimension is folded once per ``tag_images`` call, and the kernel
selects tags from the score matrix it has just computed: one stage, with
no shuffle, broadcast, checkpoint or union.

Fault isolation matches the reference (appV2.py:166,183-185): a decode or
scoring failure marks THAT row ``status='error'`` and the job continues —
a task-level failure would kill a whole partition of good images. A scorer
call that raises on a batch is retried row by row, so only the rows that
still raise are marked. Error rows carry the exception text and a NULL
tags_text; the reference's success/failure counters (A3) are ``summarize``.

The Python boundary is exactly one Arrow-batched ``mapInArrow`` stage; the
scorer batches tensors (vs the reference's hard-coded batch=1, appV2.py:48)
and builds any native session lazily per executor process.

Every Python task starts with ``importlib.invalidate_caches()`` in
PySpark's worker. Up to CPython 3.12 that re-reads the directory of every
zip archive on the worker's path (``pyspark.zip``, the ``spark-core`` jar),
0.1-0.25 CPU-s per task. Unpickling this stage's function imports the
package, whose ``__init__`` then installs ``install_zip_guard`` in the
worker, so an archive is re-read only when it has changed. On CPython
3.13+ the guard is a no-op, because there the call re-reads lazily.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernels.preprocess import HAS_PIL, fake_decode_bytes, preprocess_bytes
from .kernels.scoring import StubScorer, sigmoid_clip_np
from .operators.tagging import (
    DEFAULT_CHAR_THRESHOLD,
    DEFAULT_GEN_THRESHOLD,
    TagSelector,
    fold_tag_dim,
    select_tags_arrow,
)
from .sources.images import scan_images


def score_images(
    images: DataFrame,
    scorer=None,
    decode: Callable[[bytes], np.ndarray] | None = None,
    batch_size: int = 32,
    selector: TagSelector | None = None,
) -> DataFrame:
    """(path, content) → (path, probs array<float>, status, error), or,
    given a folded tag dimension ``selector``, → (path, tags_text, status,
    error).

    One mapInArrow stage: per Arrow batch, decode rows individually under
    try/except (per-row fault isolation, appV2.py:166), then score the
    surviving tensors in ``batch_size`` sub-batches (M5) and sigmoid-clip
    (M6). A sub-batch whose scorer call raises is scored again row by row;
    only the rows that still raise become error rows. With a ``selector``
    the batch's score matrix goes straight into the tag selection;
    ``probs``/``tags_text`` is NULL exactly on error rows. The scorer
    object is pickled to executors; any native session it holds must be
    created lazily inside ``score_batch`` (see OnnxScorer).
    """
    scorer = scorer or StubScorer()
    # real PIL decode when available, deterministic fake otherwise
    decode_fn = decode or (preprocess_bytes if HAS_PIL else fake_decode_bytes)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            tensors: list[np.ndarray | None] = []
            errors: list[str | None] = []
            for content in batch.column("content").to_pylist():
                try:
                    tensors.append(decode_fn(content))
                    errors.append(None)
                except Exception as e:  # noqa: BLE001 — per-row isolation
                    tensors.append(None)
                    errors.append(f"{type(e).__name__}: {e}")
            out: list = [None] * len(tensors)

            def score(rows: list[int]) -> None:
                stacked = np.stack([tensors[i] for i in rows]).astype(np.float32)
                probs = sigmoid_clip_np(scorer.score_batch(stacked)).astype(np.float32)
                for i, p in zip(rows, probs):
                    out[i] = p

            ok_idx = [i for i, t in enumerate(tensors) if t is not None]
            for start in range(0, len(ok_idx), batch_size):
                chunk = ok_idx[start : start + batch_size]
                try:
                    score(chunk)
                except Exception:  # noqa: BLE001 — retry alone to find the bad rows
                    for i in chunk:
                        try:
                            score([i])
                        except Exception as e:  # noqa: BLE001 — per-row isolation
                            errors[i] = f"{type(e).__name__}: {e}"
            ok = [i for i, e in enumerate(errors) if e is None]
            if selector is not None and ok:
                for i, text in zip(ok, selector.texts(np.stack([out[i] for i in ok]))):
                    out[i] = text
            yield pa.RecordBatch.from_pydict(
                {
                    "path": batch.column("path"),
                    out_name: pa.array(out, out_type),
                    "status": pa.array(["error" if e else "ok" for e in errors], pa.string()),
                    "error": pa.array(errors, pa.string()),
                }
            )

    if selector is None:
        out_name, out_type, out_ddl = "probs", pa.list_(pa.float32()), "array<float>"
    else:
        out_name, out_type, out_ddl = "tags_text", pa.string(), "string"
    return images.select("path", "content").mapInArrow(
        run, schema=f"path string, {out_name} {out_ddl}, status string, error string"
    )


def one_task_per_core(images: DataFrame) -> DataFrame:
    """Coalesce a file scan to ``max(leaf parallelism, ceil(listed bytes /
    spark.sql.files.maxPartitionBytes))`` partitions. The file splitter
    charges every file ``openCostInBytes`` (4 MB by default), so a folder
    of small images plans many more partitions than cores, and every
    Python task has a fixed cost: the worker hand-off and Arrow set-up,
    plus the zip directory re-reads of each worker's first two tasks (see
    ``install_zip_guard``). A narrow coalesce only merges, so a scan that
    already has that many partitions or fewer is unchanged."""
    session = images.sparkSession._jsparkSession
    listed = int(images._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    max_bytes = session.sessionState().conf().filesMaxPartitionBytes()
    return images.coalesce(max(session.leafNodeDefaultParallelism(), -(-listed // max_bytes)))


def tag_images(
    spark: SparkSession,
    folder: str,
    tag_dim: DataFrame,
    gen_threshold: float = DEFAULT_GEN_THRESHOLD,
    char_threshold: float = DEFAULT_CHAR_THRESHOLD,
    recursive: bool = False,
    scorer=None,
    decode: Callable[[bytes], np.ndarray] | None = None,
    batch_size: int = 32,
    fail_on_empty: bool = False,
) -> DataFrame:
    """The full reference pipeline → (path, tags_text, status, error).

    ``fail_on_empty`` reproduces the reference's empty-input abort (F5,
    appV2.py:139-141); it costs one listing-only job, so it is opt-in.
    """
    images = scan_images(spark, folder, recursive=recursive)
    if fail_on_empty and images.isEmpty():
        raise ValueError(f"no supported images found under {folder!r} (F5)")
    selector = fold_tag_dim(tag_dim, gen_threshold, char_threshold)
    return score_images(
        one_task_per_core(images), scorer, decode, batch_size, selector=selector
    )


def summarize(result: DataFrame) -> DataFrame:
    """A3 — success/failure counters (appV2.py:162,181-185,190)."""
    return result.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


def observe_status(result: DataFrame, name: str = "tagging_metrics"):
    """A3 without a second pass: attach an Observation that accumulates the
    success/failure counters during whatever action consumes ``result``.
    Returns (df, observation); read ``observation.get`` after the action.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = result.observe(
        obs,
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("n_error"),
    )
    return observed, obs


# Handoff point for pipeline_score_tag's PARTIAL oracle: the float32 ML
# kernel has no SQL twin (matmul accumulation order), but its output is a
# deterministic relation — so the query writes (path, probs, status, error)
# here, tags what it reads back, and the DuckDB oracle replays the selection
# (dim join → top-1/threshold/blacklist → ordered string → ok/error rows)
# from the SAME float32 values. The path is per-(user, checkout) — see
# handoff.py — and overwritten per build: the oracle always sees exactly the
# probs of the most recently constructed query (the correctness harness
# builds the Spark side first, then runs the SQL).
from .handoff import PIPELINE_SCORED_PATH  # noqa: E402 — re-export


def pipeline_score_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL main() flow (appV2.py:103-191) as one registry
    query over the fixtures: binary payloads (documents.text bytes standing
    in for image files) → mapInArrow decode+score (fake decode +
    StubScorer — deterministic, no PIL/onnxruntime needed) → the handoff
    Parquet → the same NumPy tag selection as a mapInArrow over the
    read-back → (path, tags_text, status, error).

    Value-checked via the PIPELINE_SCORED_PATH handoff (above): the kernel
    itself is golden-tested in test_kernels/test_pipeline, and the oracle
    verifies the selection from the kernel's actual output. Reading the
    handoff back is what runs the kernel once: the query consumes the
    written relation, never a second kernel execution.
    """
    from .operators.multimodal import with_binary_payload
    from .operators.tagging import demo_tag_dim
    from .sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    images = with_binary_payload(docs).select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".png")).alias("path"),
        "content",
    )
    score_images(images, scorer=StubScorer(), decode=fake_decode_bytes).write.mode(
        "overwrite"
    ).parquet(PIPELINE_SCORED_PATH)
    return select_tags_arrow(
        spark.read.parquet(PIPELINE_SCORED_PATH), fold_tag_dim(demo_tag_dim(spark))
    )
