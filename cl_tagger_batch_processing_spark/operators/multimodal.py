"""Multimodal column handling: opaque binary payloads + typed metadata.

Extension surface (BASELINE.json north-star). The pattern the reference
implies (appV2.py:167: bytes → decode → features) generalized to columns:
binary payloads travel as ``BinaryType`` beside relational columns; metadata
extraction is pure Column expressions; feature extraction crosses into
Python exactly once via an Arrow-batched ``mapInPandas``.

The fixtures carry no real image bytes, so the binary payload is the UTF-8
encoding of ``documents.text`` — the Spark-side plumbing (schema, batching,
partitioning) is identical to what real image/audio bytes would use. The
actual image decode lives in ``kernels.preprocess`` (PIL-gated).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .dedup import sorted_ids_csv

HIST_BINS = 16
# bin = byte >> HIST_SHIFT tiles 0..255 evenly over exactly HIST_BINS bins —
# only valid when HIST_BINS is a power of two, so check once at import time
# (a per-row assert would vanish under `python -O`).
if HIST_BINS & (HIST_BINS - 1) != 0:
    raise ValueError("HIST_BINS must be a power of two")
HIST_SHIFT = 8 - (HIST_BINS.bit_length() - 1)


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary column (stand-in for image/audio bytes)."""
    return docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("content"))


def mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over a binary column without touching Python: byte
    length, magic-byte prefix, container sniff. On real files the same
    expressions run over ``binaryFile.content``."""
    docs = load_table(spark, sf_dir, "documents")
    payload = with_binary_payload(docs)
    magic = F.substring(F.lower(F.hex(F.col("content"))), 1, 8)
    kind = (
        F.when(magic.startswith("ffd8"), F.lit("jpeg"))
        .when(magic == "89504e47", F.lit("png"))
        .when(magic.startswith("47494638"), F.lit("gif"))
        .otherwise(F.lit("other"))
    )
    return payload.select(
        "doc_id",
        F.octet_length(F.col("content")).cast("bigint").alias("n_bytes"),
        magic.alias("magic_hex"),
        kind.alias("kind"),
    )


def _byte_histograms(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mm_byte_histogram``'s kernel. Module-level, like every function
    the package hands to Spark: it is pickled by reference, so unpickling
    it in a worker imports the package (see ``install_zip_guard``)."""
    import numpy as np

    for pdf in batches:
        hists = []
        entropies = []
        for content in pdf["content"]:
            # NumPy, not a Python byte loop: the UDF cost must be
            # O(bytes) in vectorized C, or the Python boundary becomes
            # the pipeline bottleneck exactly as SURVEY §2.9 warns.
            arr = np.frombuffer(bytes(content), dtype=np.uint8)
            hist = np.bincount(arr >> HIST_SHIFT, minlength=HIST_BINS)
            n = arr.size or 1
            p = hist[hist > 0] / n
            ent = float(-(p * np.log2(p)).sum())
            hists.append(hist.tolist())
            entropies.append(round(ent, 6))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "hist": hists, "entropy": entropies})


def mm_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via Arrow-batched
    ``mapInPandas``: 16-bin byte histogram + Shannon entropy per payload,
    emitted in LONG form — one row per (doc_id, bin) with the per-doc
    entropy repeated — so downstream relational consumers (and the driver's
    scalar-column canonicalizer) never see an array column.

    This is the engine's one sanctioned Python boundary shape (SURVEY.md
    §2.9): batch-in/batch-out, per-partition, no driver collect. Swapping
    the histogram for a real image decode (kernels.preprocess) changes only
    the function body, not the plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    wide = with_binary_payload(docs).mapInPandas(
        _byte_histograms, schema="doc_id bigint, hist array<bigint>, entropy double"
    )
    # Explode JVM-side (codegen'd generator), not in the kernel: the Arrow
    # transfer stays one row per payload and the 16x fan-out is free.
    return wide.select(
        "doc_id", F.posexplode("hist").alias("bin", "bin_count"), "entropy"
    ).select(
        "doc_id",
        F.col("bin").cast("bigint").alias("bin"),
        F.col("bin_count").alias("bin_count"),
        "entropy",
    )


FRAME_CHARS = 64
FRAME_STRIDE = 4


def _frame_samples(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mm_frame_sample``'s kernel (module-level, see ``_byte_histograms``)."""
    import hashlib

    for pdf in batches:
        out_id, out_idx, out_md5, out_n = [], [], [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            n_frames = (len(text) + FRAME_CHARS - 1) // FRAME_CHARS
            for frame_idx in range(0, n_frames, FRAME_STRIDE):
                frame = text[frame_idx * FRAME_CHARS : (frame_idx + 1) * FRAME_CHARS]
                out_id.append(doc_id)
                out_idx.append(frame_idx)
                out_md5.append(hashlib.md5(frame.encode("utf-8")).hexdigest())
                out_n.append(n_frames)
        yield pd.DataFrame(
            {"doc_id": out_id, "frame_idx": out_idx, "frame_md5": out_md5, "n_frames": out_n}
        )


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over "video" payloads via Arrow-batched mapInPandas:
    split each payload into fixed-size frames, keep every FRAME_STRIDE-th,
    emit (doc_id, frame_idx, frame_md5, n_frames) — one row per kept frame.

    The decode step is a deterministic fake (fixed-width slices of the
    payload text; a real video codec would replace the slicing inside the
    batch function), which keeps the operator value-oracle-checkable:
    DuckDB reproduces the slicing with substring arithmetic. The plan is
    the real thing —
    binary column in, Arrow batches through Python, long-form feature rows
    out, fully partition-parallel with no driver involvement.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "text").mapInPandas(
        _frame_samples,
        schema="doc_id bigint, frame_idx bigint, frame_md5 string, n_frames bigint",
    )


MM_DUP_ID_OFFSET = 1_000_000


def mm_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the BINARY payload column — content-addressed
    storage's first question (same bytes, different paths/ids), asked of
    the binary column directly rather than a text projection.

    The fixture corpus has no byte-identical payloads, so a deterministic
    duplicate set is synthesized (every doc_id % 5 == 0 payload re-enters
    under id + 1e6 — the re-upload/re-crawl model). One md5 per payload,
    one shuffle on the digest; at 100 TB this is the cheapest dedup that
    exists (no shingling, no banding) and the reason binary stores hash on
    ingest. The oracle replays the duplication and digests the same bytes
    (UTF-8 of text), so a digest or grouping bug breaks the value hash."""
    docs = load_table(spark, sf_dir, "documents")
    payload = with_binary_payload(docs)
    dups = payload.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + MM_DUP_ID_OFFSET).alias("doc_id"), F.col("content")
    )
    everything = payload.unionByName(dups)
    return (
        everything.groupBy(F.md5("content").alias("payload_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.max("doc_id").alias("latest_doc_id"),
        )
    )


PHASH_BLOCKS = 16


def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup grouping over payload bytes — the image-
    dedup shape (block-mean hash, Yang et al.): split each payload into 16
    positional blocks, set bit b when block b's mean byte value exceeds the
    payload's overall mean, group payloads sharing the 16-bit hash.
    Re-encodes of the same underlying signal (here: docs with the same
    byte-value profile) collide; exact-dup md5 (mm_payload_dedup) never
    catches those.

    EXACT integer arithmetic throughout: "mean_block > mean_total" is
    compared as block_sum·n > total·block_len (no float means), so the hash
    is bit-identical in any engine — the DuckDB oracle replays it from the
    same bytes. All per-payload work is row-local Column math (unrolled
    16-way, whole-stage codegen, zero Python); the only shuffle is the
    final groupBy(phash) — 2^16 well-spread buckets. On real image columns
    the same hash computes from decoded pixels inside the byte-histogram
    mapInPandas kernel; only the expression input changes, not the plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select(
            "doc_id",
            F.transform(
                F.split(F.col("text"), ""), lambda c: F.ascii(c).cast("bigint")
            ).alias("vals"),
        )
        .withColumn("n", F.size("vals").cast("bigint"))
        .withColumn(
            "total",
            F.aggregate("vals", F.lit(0).cast("bigint"), lambda a, x: a + x),
        )
    )
    phash = F.lit(0).cast("bigint")
    for b in range(PHASH_BLOCKS):
        s0 = F.floor((F.lit(b) * F.col("n")) / PHASH_BLOCKS).cast("int")
        s1 = F.floor((F.lit(b + 1) * F.col("n")) / PHASH_BLOCKS).cast("int")
        blen = s1 - s0
        bsum = F.aggregate(
            F.slice("vals", s0 + 1, blen),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        )
        bit = F.when(
            bsum * F.col("n") > F.col("total") * blen.cast("bigint"), F.lit(1)
        ).otherwise(F.lit(0))
        phash = phash + bit.cast("bigint") * F.lit(1 << b).cast("bigint")
    hashed = base.select("doc_id", phash.alias("phash"))
    return (
        hashed.groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            sorted_ids_csv(F.col("doc_id")).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


# STFT-style framing parameters in BYTES of the payload: a stand-in for
# (frame_length, hop_length) in samples × bytes-per-sample on real PCM audio
# (e.g. 25 ms / 10 ms windows at 16 kHz s16le = 800 / 320 bytes).
AUDIO_FRAME_BYTES = 64
AUDIO_HOP_BYTES = 32


def mm_audio_framing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping analysis-frame index over "audio" payloads — the
    windowing pass (frame/hop) every audio feature chain (STFT, MFCC,
    VAD) starts from, here producing the frame map a downstream decoder
    UDF would consume: (doc_id, frame_idx, byte_offset, frame_bytes,
    n_frames). Only COMPLETE frames are emitted, per the usual truncating
    convention.

    Everything is row-local Column math — the frame count from the byte
    length, the offsets via an exploded sequence — so the plan has zero
    shuffles and zero Python; at 100 TB this is a map-only pass whose
    output feeds a mapInPandas feature extractor exactly like
    mm_frame_sample's. Payloads shorter than one frame yield no rows
    (the same guard real framers apply)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = with_binary_payload(docs)
    n_bytes = F.octet_length(F.col("content")).cast("bigint")
    n_frames = F.floor(
        (n_bytes - F.lit(AUDIO_FRAME_BYTES)) / F.lit(AUDIO_HOP_BYTES)
    ).cast("bigint") + F.lit(1)
    framed = payload.select(
        "doc_id", n_bytes.alias("payload_bytes"), n_frames.alias("n_frames")
    ).where(F.col("n_frames") >= 1)
    return framed.select(
        "doc_id",
        "payload_bytes",
        "n_frames",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.col("n_frames") - 1)
        ).alias("frame_idx"),
    ).select(
        "doc_id",
        "frame_idx",
        (F.col("frame_idx") * AUDIO_HOP_BYTES).alias("byte_offset"),
        F.lit(AUDIO_FRAME_BYTES).cast("bigint").alias("frame_bytes"),
        "n_frames",
        "payload_bytes",
    )


TILE_PX = 64


def mm_tile_grid(spark: SparkSession, sf_dir: str, tile_px: int = TILE_PX) -> DataFrame:
    """2-D tile index over "image" payloads — the spatial counterpart of
    mm_audio_framing's 1-D frame map (video frames / audio frames / image
    tiles are the three decode-plumbing shapes a multimodal pipeline
    needs): one row per TILE_PX×TILE_PX tile with pixel offsets and the
    clipped edge-tile dimensions a downstream crop UDF would consume.

    Image dimensions are synthesized deterministically from doc_id (the
    fixtures carry no real images — same convention as the payload fakes),
    spread so exact-multiple and remainder edges both occur. The grid
    explode is row-local Column math (two nested sequence explodes) —
    zero shuffles, zero Python, map-only at any corpus volume."""
    docs = load_table(spark, sf_dir, "documents")
    width = (F.lit(64) + (F.col("doc_id") % 8) * 32).cast("bigint")
    height = (F.lit(64) + (F.col("doc_id") % 5) * 48).cast("bigint")
    t = F.lit(tile_px).cast("bigint")
    dims = docs.select(
        "doc_id",
        width.alias("width"),
        height.alias("height"),
        F.ceil(width / t).cast("bigint").alias("n_tcols"),
        F.ceil(height / t).cast("bigint").alias("n_trows"),
    )
    rows = dims.select(
        "doc_id", "width", "height", "n_tcols", "n_trows",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_trows") - 1)).alias("tile_row"),
    )
    grid = rows.select(
        "doc_id", "width", "height", "n_tcols", "n_trows", "tile_row",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_tcols") - 1)).alias("tile_col"),
    )
    return grid.select(
        "doc_id",
        "tile_row",
        "tile_col",
        (F.col("tile_col") * t).alias("x_off"),
        (F.col("tile_row") * t).alias("y_off"),
        F.least(t, F.col("width") - F.col("tile_col") * t).alias("tile_w"),
        F.least(t, F.col("height") - F.col("tile_row") * t).alias("tile_h"),
        (F.col("n_trows") * F.col("n_tcols")).alias("n_tiles"),
    )


SCENE_SIG_BUCKETS = 4


def _scene_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame relation shared by mm_scene_cuts and mm_keyframe_select:
    (doc_id, n_frames, frame_idx, sig, sharp, scene_idx). ``sig`` is the
    coarse perceptual signature (frame hash folded to SCENE_SIG_BUCKETS);
    ``sharp`` is the FULL 60-bit frame-hash value — the deterministic
    stand-in for a sharpness/saliency score (a real Laplacian-variance
    column plugs in at the same place). Cut detection (lag) and scene
    numbering (running sum) share one (doc_id; frame_idx) window."""
    docs = load_table(spark, sf_dir, "documents")
    n_frames = F.ceil(F.length("text") / F.lit(64)).cast("bigint")
    # empty-text guard (mm_audio_framing's convention): without it,
    # sequence(0, -1) emits the DESCENDING pair [0, -1] — two phantom
    # frames with a negative index — where the oracle's range(0, 0) is empty
    frames = docs.where(n_frames >= 1).select(
        "doc_id",
        "text",
        n_frames.alias("n_frames"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_frames - 1)).alias("frame_idx"),
    )
    frame_md5 = F.md5(
        F.substring(F.col("text"), (F.col("frame_idx") * 64 + 1).cast("int"), 64)
    )
    sig = (
        F.conv(F.substring(frame_md5, 1, 8), 16, 10).cast("bigint")
        % SCENE_SIG_BUCKETS
    )
    sharp = F.conv(F.substring(frame_md5, 1, 15), 16, 10).cast("bigint")
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        frames.select(
            "doc_id", "n_frames", "frame_idx", sig.alias("sig"), sharp.alias("sharp")
        )
        .withColumn(
            "is_cut",
            F.when(F.lag("sig").over(w).isNull(), F.lit(1))
            .when(F.lag("sig").over(w) != F.col("sig"), F.lit(1))
            .otherwise(F.lit(0)),
        )
        .withColumn("scene_idx", F.sum("is_cut").over(run) - 1)
    )


def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene segmentation over "video" frames: consecutive frames whose
    perceptual signature matches merge into one scene; a signature change
    is a cut — the shot-boundary pass every video curation pipeline runs
    before sampling one keyframe per scene (uniform sampling wastes budget
    on static shots and misses short ones). Composes the frame machinery
    of mm_frame_sample (same 64-char frames, stride 1 here) with the
    gaps-and-islands run merge of dedup_substring_spans.

    The "perceptual signature" is the frame hash folded to
    SCENE_SIG_BUCKETS values — a deterministic stand-in for a coarse
    visual descriptor (a real pHash plugs in at the same column), coarse
    enough that the word-soup fixtures produce real multi-frame scenes.
    Shape: frame explode is row-local; the cut detection (lag) and scene
    numbering (running sum) share one (doc_id; frame_idx) window; the
    scene rollup groups on (doc_id, scene) — all doc-keyed, linear at any
    corpus size."""
    cuts = _scene_frames(spark, sf_dir)
    return cuts.groupBy("doc_id", "scene_idx").agg(
        F.min("frame_idx").alias("start_frame"),
        F.max("frame_idx").alias("end_frame"),
        F.count(F.lit(1)).alias("scene_frames"),
        F.first("sig").alias("sig"),
    )


ENERGY_FRAME_BYTES = 64


def _frame_energies(docs: DataFrame) -> DataFrame:
    """(doc_id, n_frames, frame_idx, energy): the shared per-frame energy
    relation (complete ENERGY_FRAME_BYTES frames, squared-byte integer
    energies) that mm_audio_energy_segments and mm_audio_silence_trim
    both consume — extracted so the "same framing and energy rule"
    guarantee is structural, not copy-paste (r8 review)."""
    n_frames = F.floor(F.length("text") / F.lit(ENERGY_FRAME_BYTES)).cast("bigint")
    frames = docs.where(n_frames >= 1).select(
        "doc_id",
        "text",
        n_frames.alias("n_frames"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_frames - 1)).alias(
            "frame_idx"
        ),
    )
    frame_vals = F.transform(
        F.split(
            F.substring(
                F.col("text"),
                (F.col("frame_idx") * ENERGY_FRAME_BYTES + 1).cast("int"),
                ENERGY_FRAME_BYTES,
            ),
            "",
        ),
        lambda c: F.ascii(c).cast("bigint"),
    )
    energy = F.aggregate(
        frame_vals, F.lit(0).cast("bigint"), lambda a, x: a + x * x
    )
    return frames.select(
        "doc_id", "n_frames", "frame_idx", energy.alias("energy")
    )


def mm_audio_energy_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based activity segmentation over "audio" payloads — the
    VAD (voice-activity-detection) pass that turns a raw waveform into the
    speech segments an ASR/captioning pipeline actually transcribes:
    per-frame energy, an active/silent decision against the recording's
    own mean energy, and a gaps-and-islands merge of consecutive active
    frames into segments. Composes mm_audio_framing's framing convention
    (complete ENERGY_FRAME_BYTES frames only) with the island merge of
    mm_scene_cuts/dedup_substring_spans.

    EXACT integer arithmetic end-to-end: frame "energy" is the sum of
    squared byte values (on real PCM the same expression runs over decoded
    samples), and "above mean" is the cross-multiplied integer comparison
    energy·n_frames > total_energy (no float means) — bit-identical in any
    engine, same discipline as mm_phash_dedup. Scale shape: the frame
    explode and energy are row-local Column math; the lag/renumber pass
    and the segment rollup share one (doc_id; frame_idx) partitioning —
    doc-keyed, linear at any corpus volume, zero Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_frame = _frame_energies(docs)
    wdoc = Window.partitionBy("doc_id")
    active = per_frame.withColumn(
        "total_energy", F.sum("energy").over(wdoc)
    ).where(F.col("energy") * F.col("n_frames") > F.col("total_energy"))
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = (
        active.withColumn(
            "is_start",
            F.when(F.lag("frame_idx").over(w).isNull(), F.lit(1))
            .when(F.lag("frame_idx").over(w) != F.col("frame_idx") - 1, F.lit(1))
            .otherwise(F.lit(0)),
        )
        .withColumn("segment_idx", F.sum("is_start").over(run) - 1)
    )
    return islands.groupBy("doc_id", "segment_idx").agg(
        F.min("frame_idx").alias("start_frame"),
        F.max("frame_idx").alias("end_frame"),
        F.count(F.lit(1)).alias("n_active_frames"),
        F.sum("energy").alias("segment_energy"),
    )


def mm_keyframe_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One keyframe per scene — the budgeted frame-sampling pass that
    follows shot-boundary detection (mm_scene_cuts): within each scene,
    keep the frame with the highest "sharpness" score (here the full
    60-bit frame-hash stand-in from ``_scene_frames``; a real
    Laplacian-variance column plugs in unchanged), tie-broken to the
    EARLIEST such frame — the reference's first-max argmax discipline
    (appV2.py:77-83 per-category top-1) applied per scene.

    One hash aggregation over the shared per-frame relation:
    max(struct(sharp, −frame_idx)) picks the first maximum without a sort
    or window (a first-max argmax as one struct max) — doc-keyed,
    map-side combined, linear at any corpus size."""
    frames = _scene_frames(spark, sf_dir)
    best = F.max(
        F.struct(
            F.col("sharp").alias("s"), (-F.col("frame_idx")).alias("nfi")
        )
    )
    return (
        frames.groupBy("doc_id", "scene_idx")
        .agg(best.alias("b"), F.count(F.lit(1)).alias("scene_frames"))
        .select(
            "doc_id",
            "scene_idx",
            (-F.col("b.nfi")).cast("bigint").alias("keyframe_idx"),
            F.col("b.s").alias("sharpness"),
            "scene_frames",
        )
    )


def mm_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading/trailing silence trim over "audio" payloads — the
    preprocessing step before ASR/feature extraction: find the first and
    last ACTIVE frame (same per-frame energy and above-recording-mean
    activity rule as mm_audio_energy_segments) and report the kept byte
    range. Recordings with no active frame (flat energy — e.g. a single
    frame can never exceed its own mean) trim to zero with explicit NULL
    frame bounds.

    Exact integer arithmetic end-to-end (squared-byte energies, the
    cross-multiplied energy·n_frames > total comparison); the trim rollup
    is one doc-keyed aggregation over the frame relation — row-local
    Column math, linear, zero Python."""
    docs = load_table(spark, sf_dir, "documents")
    per_frame = _frame_energies(docs)
    # the active rule needs the per-doc total first; the totals frame joins
    # back doc-keyed (stats-broadcast-back pattern), then one aggregation
    # reads off the active bounds.
    totals = per_frame.groupBy("doc_id").agg(F.sum("energy").alias("total_energy"))
    flagged = per_frame.join(totals, "doc_id").select(
        "doc_id",
        "n_frames",
        "frame_idx",
        (F.col("energy") * F.col("n_frames") > F.col("total_energy")).alias("act"),
    )
    out = flagged.groupBy("doc_id", "n_frames").agg(
        F.min(F.when(F.col("act"), F.col("frame_idx"))).alias("first_active"),
        F.max(F.when(F.col("act"), F.col("frame_idx"))).alias("last_active"),
    )
    kept = F.when(
        F.col("first_active").isNotNull(),
        (F.col("last_active") - F.col("first_active") + 1)
        * F.lit(ENERGY_FRAME_BYTES),
    ).otherwise(F.lit(0))
    return out.select(
        "doc_id",
        F.col("n_frames").cast("bigint").alias("n_frames"),
        F.col("first_active").cast("bigint").alias("first_active"),
        F.col("last_active").cast("bigint").alias("last_active"),
        kept.cast("bigint").alias("kept_bytes"),
        F.round(
            F.lit(1.0)
            - kept.cast("double")
            / (F.col("n_frames") * F.lit(ENERGY_FRAME_BYTES)).cast("double"),
            9,
        ).alias("trimmed_frac"),
    )
