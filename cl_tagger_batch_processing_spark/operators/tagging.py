"""Tag-selection operator — the reference's core "query" as one NumPy
function over a batch of score vectors.

Reference semantics (``/root/reference/appV2.py``):

* ``get_tags`` (appV2.py:74-101): over a per-image probability vector and a
  tag dimension, (A1) take the unconditional top-1 tag for the ``rating`` and
  ``quality`` categories (argmax = first max, i.e. lowest index wins ties,
  appV2.py:80); (F2) for the six threshold categories keep tags with
  ``prob >= threshold`` where general/meta/model use ``gen_threshold`` and
  character/copyright/artist use ``char_threshold`` (appV2.py:86-95);
  (P1) rewrite ``_`` to `` `` in tag names (appV2.py:83,97); (F3) drop
  ``meta`` tags whose lower-cased name *contains* any of
  id/commentary/request/mismatch — substring, not word, match
  (appV2.py:98-99); (A2) join the surviving tags with ``", "`` in a fixed
  order: rating top-1, quality top-1, then the threshold categories in
  dict-literal order (general, meta, model, character, copyright, artist),
  ascending tag index within a category (appV2.py:75-101).
* ``sigmoid`` with ±30 clipping (appV2.py:174).

Engine mapping: the selection is a pure function of one image's score
vector, and the scoring kernel already holds a batch of them as an
``[N, T]`` matrix. ``fold_tag_dim`` folds the dimension once on the driver
into a ``TagSelector`` (P1, F2's thresholds and F3 applied, candidates in
A2 order); per batch, A1 is one ``argmax`` per top-1 category and F2 one
float64 ``>=``. The kernel (``pipeline.score_images``) runs it in-stage,
and ``select_tags_arrow`` runs it as a ``mapInArrow`` over a ``probs``
column: one selection implementation.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# appV2.py:63 — dict-literal order of the category index.
CATEGORIES = [
    "rating",
    "general",
    "artist",
    "character",
    "copyright",
    "meta",
    "quality",
    "model",
]
# appV2.py:77 — loop order for the unconditional top-1 categories.
TOP1_CATEGORIES = ["rating", "quality"]
# appV2.py:86-89 — threshold_map keys, in dict-literal (output) order.
GEN_THRESHOLD_CATEGORIES = ["general", "meta", "model"]
CHAR_THRESHOLD_CATEGORIES = ["character", "copyright", "artist"]
# appV2.py:98 — substring blacklist applied to meta tags only.
META_BLACKLIST = ["id", "commentary", "request", "mismatch"]
# Output order (A2): the top-1 categories, then threshold_map order
# (appV2.py:77,86-89). TagSelector.fold relies on the top-1 ones ranking first.
OUTPUT_CATEGORY_RANK = {
    c: r
    for r, c in enumerate(TOP1_CATEGORIES + GEN_THRESHOLD_CATEGORIES + CHAR_THRESHOLD_CATEGORIES)
}
DEFAULT_GEN_THRESHOLD = 0.55  # appV2.py:126
DEFAULT_CHAR_THRESHOLD = 0.60  # appV2.py:127


def sigmoid_clip(logit: Column) -> Column:
    """``1/(1+exp(-clip(x, -30, 30)))`` — appV2.py:174, clip preserved
    verbatim (it changes values for |logit| > 30)."""
    x = F.greatest(F.least(logit.cast("double"), F.lit(30.0)), F.lit(-30.0))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-x))


@dataclass(frozen=True, eq=False)
class TagSelector:
    """The tag dimension folded for selection: one entry per candidate in
    A2 order, i.e. sorted by (category rank, tag index). ``tag`` is the
    P1-cleaned name and ``threshold`` F2's (NaN for top-1 categories).
    ``top1`` holds each top-1 category's ``[start, stop)`` slice; the
    entries from ``kept`` on are the threshold candidates, F3's blacklisted
    meta tags already left out."""

    idx: np.ndarray
    category: np.ndarray
    tag: np.ndarray
    threshold: np.ndarray
    top1: tuple[tuple[int, int], ...]
    kept: int

    @classmethod
    def fold(
        cls,
        rows: Iterable[tuple[int, str, str]],
        gen_threshold: float = DEFAULT_GEN_THRESHOLD,
        char_threshold: float = DEFAULT_CHAR_THRESHOLD,
    ) -> TagSelector:
        """Fold (tag_idx, tag_name, category) rows. A row of an unknown
        category or with a negative index can never be selected."""
        thresholds = {
            **dict.fromkeys(GEN_THRESHOLD_CATEGORIES, float(gen_threshold)),
            **dict.fromkeys(CHAR_THRESHOLD_CATEGORIES, float(char_threshold)),
        }
        cands = sorted(
            (OUTPUT_CATEGORY_RANK[cat], idx, cat, name.replace("_", " "))  # P1
            for idx, name, cat in rows
            if cat in OUTPUT_CATEGORY_RANK and idx is not None and idx >= 0 and name is not None
        )
        cands = [  # F3
            c for c in cands
            if not (c[2] == "meta" and any(s in c[3].lower() for s in META_BLACKLIST))
        ]
        ranks = np.array([c[0] for c in cands], dtype=np.int64)
        top1 = tuple(
            (int(np.searchsorted(ranks, r)), int(np.searchsorted(ranks, r, "right")))
            for r in range(len(TOP1_CATEGORIES))
        )
        return cls(
            idx=np.array([c[1] for c in cands], dtype=np.int64),
            category=np.array([c[2] for c in cands], dtype=object),
            tag=np.array([c[3] for c in cands], dtype=object),
            threshold=np.array([thresholds.get(c[2], np.nan) for c in cands]),
            top1=top1,
            kept=top1[-1][1],
        )

    @property
    def width(self) -> int:
        """One past the highest candidate index."""
        return int(self.idx.max(initial=-1)) + 1

    def select(
        self, probs: np.ndarray, present: np.ndarray | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """The selection over an ``[N, T]`` score matrix, as parallel arrays
        of (row, candidate position), sorted by row and within a row in A2
        order. ``present`` marks the scores that exist; columns past ``T``
        are absent too (F4). Scores compare in float64, float32 or not. A
        NaN is the top-1 (the first one, as ``np.argmax``) and never passes
        a threshold (``nan >= t`` is False, as in the reference)."""
        n, width = probs.shape
        if present is None:
            present = np.ones(probs.shape, bool)
        rows, cands = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]

        def gather(start: int, stop: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
            pos = np.arange(start, stop)[self.idx[start:stop] < width]
            return pos, probs[:, self.idx[pos]].astype(np.float64), present[:, self.idx[pos]]

        for start, stop in self.top1:  # A1
            pos, vals, ok = gather(start, stop)
            if not len(pos):
                continue
            best = np.argmax(np.where(ok, vals, -np.inf), axis=1)
            # an absent slot wins only when every present score is -inf (or
            # none exists); the first present one is then the first max
            best = np.where(ok[np.arange(n), best], best, np.argmax(ok, axis=1))
            has = ok.any(axis=1)
            rows.append(np.flatnonzero(has))
            cands.append(pos[best[has]])
        pos, vals, ok = gather(self.kept, len(self.idx))  # F2 + F3
        hit_rows, hit_cols = np.nonzero(ok & (vals >= self.threshold[pos]))
        rows.append(hit_rows)
        cands.append(pos[hit_cols])
        rows_all, cands_all = np.concatenate(rows), np.concatenate(cands)
        order = np.lexsort((cands_all, rows_all))
        return rows_all[order], cands_all[order]

    def texts(self, probs: np.ndarray, present: np.ndarray | None = None) -> list[str]:
        """A2 — each row's selected tags joined with ``", "``."""
        out: list[list[str]] = [[] for _ in range(len(probs))]
        rows, cands = self.select(probs, present)
        for row, tag in zip(rows.tolist(), self.tag[cands].tolist()):
            out[row].append(tag)
        return [", ".join(tags) for tags in out]


def tag_dim_frame(spark: SparkSession, rows: list[tuple[int, str, str]]) -> DataFrame:
    """(tag_idx, tag_name, category) rows as a tag dimension. Built from an
    Arrow table, which Spark keeps as a ``LocalRelation``: collecting it
    (``fold_tag_dim``) reads the rows on the driver and starts no job. A
    Python list would go through an RDD, and ``spark.range`` through a
    scan, each a job per collect."""
    idx, names, cats = zip(*rows) if rows else ((), (), ())
    table = pa.table({"tag_idx": idx, "tag_name": names, "category": cats})
    return spark.createDataFrame(table, "tag_idx int, tag_name string, category string")


def fold_tag_dim(
    tag_dim: DataFrame,
    gen_threshold: float = DEFAULT_GEN_THRESHOLD,
    char_threshold: float = DEFAULT_CHAR_THRESHOLD,
) -> TagSelector:
    """One driver collect of the small (tag_idx, tag_name, category) frame;
    no Spark job when the frame comes from ``tag_dim_frame``."""
    rows = tag_dim.select("tag_idx", "tag_name", "category").collect()
    return TagSelector.fold(rows, gen_threshold, char_threshold)


def list_matrix(probs: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """An Arrow list column of scores as an ``[N, W]`` matrix (``W`` the
    longest list) and the mask of the scores that exist."""
    lengths = pc.list_value_length(probs).fill_null(0).to_numpy()
    flat = probs.flatten()
    rows = np.repeat(np.arange(len(probs)), lengths)
    cols = np.arange(len(flat)) - np.repeat(np.cumsum(lengths) - lengths, lengths)
    values = flat.to_numpy(zero_copy_only=False)
    matrix = np.zeros((len(probs), int(lengths.max(initial=0))), values.dtype)
    present = np.zeros(matrix.shape, bool)
    matrix[rows, cols] = values
    present[rows, cols] = flat.is_valid().to_numpy(zero_copy_only=False)
    return matrix, present


def select_tags_arrow(scored: DataFrame, selector: TagSelector) -> DataFrame:
    """The tag-selection stage: ``probs`` (array of per-tag scores,
    position = tag index) becomes ``tags_text``; every other column passes
    through in place. A NULL ``probs`` (an image that failed) gets NULL
    tags; a scored row with no selected tag gets the empty string (the
    reference writes an empty sidecar for it, appV2.py:101,178-179)."""
    schema = StructType(
        [StructField("tags_text", StringType()) if f.name == "probs" else f for f in scored.schema]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols, i = batch.columns, batch.schema.get_field_index("probs")
            texts = selector.texts(*list_matrix(cols[i]))
            valid = cols[i].is_valid().to_numpy(zero_copy_only=False)
            cols[i] = pa.array([t if v else None for t, v in zip(texts, valid)], pa.string())
            yield pa.RecordBatch.from_arrays(cols, names=schema.names)

    return scored.mapInArrow(run, schema)


def explode_tags(scored: DataFrame, selector: TagSelector, top1: bool) -> DataFrame:
    """(image_id, probs) → one row per tag that the top-1 step (A1,
    ``top1=True``) or the threshold step (F2+F3) selects: (image_id,
    category, tag_idx BIGINT, tag)."""
    id_type = scored.schema["image_id"].dataType.simpleString()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows, cands = selector.select(*list_matrix(batch.column("probs")))
            keep = (cands < selector.kept) == top1
            rows, cands = rows[keep], cands[keep]
            yield pa.RecordBatch.from_pydict({
                "image_id": batch.column("image_id").take(pa.array(rows)),
                "category": pa.array(selector.category[cands], pa.string()),
                "tag_idx": pa.array(selector.idx[cands]),
                "tag": pa.array(selector.tag[cands], pa.string()),
            })

    schema = f"image_id {id_type}, category string, tag_idx bigint, tag string"
    return scored.select("image_id", "probs").mapInArrow(run, schema)


def select_tags(
    scores: DataFrame,
    tag_dim: DataFrame,
    gen_threshold: float = DEFAULT_GEN_THRESHOLD,
    char_threshold: float = DEFAULT_CHAR_THRESHOLD,
    images: DataFrame | None = None,
) -> DataFrame:
    """The tag selection over long-form scores (image_id, tag_idx, prob) →
    (image_id, tags_text): gathers each image's scores into a vector, NULL
    at the indices it lacks, for ``select_tags_arrow``. One row per image
    with scores, or, if ``images`` (an ``image_id`` column) is given, one
    per distinct image there — images without scores get the empty string.
    ``(image_id, tag_idx)`` must be unique and a NULL prob counts as
    absent."""
    selector = fold_tag_dim(tag_dim, gen_threshold, char_threshold)
    gathered = scores.groupBy("image_id").agg(
        F.map_from_entries(F.collect_list(F.struct("tag_idx", "prob"))).alias("scores")
    )
    if images is not None:
        gathered = images.select("image_id").distinct().join(gathered, "image_id", "left")
    indices = F.sequence(F.lit(0), F.lit(max(selector.width, 1) - 1))
    probs = F.transform(indices, lambda i: F.col("scores")[i]).alias("probs")
    return select_tags_arrow(gathered.select("image_id", probs), selector)


# ---------------------------------------------------------------------------
# Flagship demo wiring over the driver fixtures (SURVEY.md §7 Phase 0):
# a deterministic `scores` relation derived from the `embeddings` fixture and
# a literal 62-row tag dimension. Fully oracle-checkable in DuckDB.
# ---------------------------------------------------------------------------

DEMO_TAG_COUNT = 62  # indices 62,63 deliberately absent (F4 gap, appV2.py:62-66)
DEMO_LOGIT_SCALE = 100.0  # spreads sigmoid over (0,1) and exercises the ±30 clip


def demo_tag_dim(spark: SparkSession) -> DataFrame:
    """Literal tag dimension: tag_idx 0..61, category = mod-8 bucket, names
    with ``_`` (exercises P1) and some blacklisted meta names (exercises F3).
    Built by ``tag_dim_frame``, so folding it starts no Spark job."""
    return tag_dim_frame(spark, [
        (
            i,
            f"meta_id_{i}" if i % 16 == 5 else f"meta_plain_{i}" if i % 8 == 5 else f"tag_{i}",
            CATEGORIES[i % 8],
        )
        for i in range(DEMO_TAG_COUNT)
    ])


def embedding_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(image_id, probs): deterministic stand-in for the model-score vector
    (appV2.py:171-174 with inference stubbed) — each 64-dim embedding
    scaled to logits and sigmoid-clipped element-wise."""
    from ..sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").alias("image_id"),
        F.transform(
            "embedding", lambda x: sigmoid_clip(x.cast("double") * F.lit(DEMO_LOGIT_SCALE))
        ).alias("probs"),
    )


def flagship_tag_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §3.3 flagship query end-to-end: (image_id, tags_text)."""
    return select_tags_arrow(embedding_probs(spark, sf_dir), fold_tag_dim(demo_tag_dim(spark)))
