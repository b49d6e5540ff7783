"""Tag-selection operators — the reference's core "query" re-expressed as
Spark built-ins.

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

Spark mapping: the selection is a pure function of ONE image's score
vector, so it is one Column expression over the ``probs`` array — a narrow
projection, no shuffle. The tag dimension is folded once into a one-row
frame of per-category candidate arrays (``with_tag_candidates``): P1, F2's
per-category threshold and F3 are applied to the dimension, not to every
image, and the threshold candidates are pre-sorted by (category rank, tag
index), so filtering them per image already yields A2 order. That row is
broadcast onto the scores (a one-row cross join, BuildRight). Per image, A1
is ``array_max`` over ``struct(prob, -tag_idx, …)`` — field-wise comparison,
so the highest prob wins and exact ties go to the lowest index (the argmax
first-max; NaN sorts above every number, as in any Spark max); F2+F3 is one
``filter`` against each candidate's threshold; A2 is ``array_join``.
Indices past the end of a vector read as NULL (``get``, which does not
throw under ANSI) and are never candidates (F4). Everything stays JVM-side;
no Python UDFs.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

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
# Output order: rating, quality (appV2.py:77), then threshold_map order
# (appV2.py:86-89).
OUTPUT_CATEGORY_RANK = {
    "rating": 0,
    "quality": 1,
    "general": 2,
    "meta": 3,
    "model": 4,
    "character": 5,
    "copyright": 6,
    "artist": 7,
}
DEFAULT_GEN_THRESHOLD = 0.55  # appV2.py:126
DEFAULT_CHAR_THRESHOLD = 0.60  # appV2.py:127


def sigmoid_clip(logit: Column) -> Column:
    """``1/(1+exp(-clip(x, -30, 30)))`` — appV2.py:174, clip preserved
    verbatim (it changes values for |logit| > 30)."""
    x = F.greatest(F.least(logit.cast("double"), F.lit(30.0)), F.lit(-30.0))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-x))


def category_rank(category: Column) -> Column:
    """Literal rank map for the deterministic output order (A2)."""
    expr = F.lit(None).cast("int")
    for cat, rank in reversed(OUTPUT_CATEGORY_RANK.items()):
        expr = F.when(category == cat, F.lit(rank)).otherwise(expr)
    return expr


def clean_tag_name(tag_name: Column) -> Column:
    """P1 — ``tag.replace('_', ' ')`` (appV2.py:83,97)."""
    return F.replace(tag_name, F.lit("_"), F.lit(" "))


def meta_blacklisted(category: Column, cleaned_tag: Column) -> Column:
    """F3 — meta tags whose lower-cased cleaned name contains a blacklist
    substring (appV2.py:98-99; bare ``in`` ⇒ substring match)."""
    lowered = F.lower(cleaned_tag)
    hit = reduce(or_, [lowered.contains(s) for s in META_BLACKLIST])
    return (category == "meta") & hit


CANDIDATES = "tag_candidates"  # the broadcast one-row dimension column


def with_tag_candidates(
    df: DataFrame,
    tag_dim: DataFrame,
    gen_threshold: float = DEFAULT_GEN_THRESHOLD,
    char_threshold: float = DEFAULT_CHAR_THRESHOLD,
) -> DataFrame:
    """``df`` plus the tag dimension (tag_idx, tag_name, category) folded
    into ONE broadcast row: column ``tag_candidates``, a struct of candidate
    arrays, one per top-1 category plus ``kept`` — the threshold categories'
    candidates minus blacklisted meta tags (F3), each with its threshold
    (F2). Elements are ``struct(cat_rank, tag_idx, category, tag,
    threshold)`` with the P1-cleaned name, sorted by (cat_rank, tag_idx).
    Indices absent from the dimension are never candidates (F4: the
    reference's category index only holds known tags, appV2.py:62-71)."""
    cat = F.col("category")
    tag = clean_tag_name(F.col("tag_name"))
    threshold = F.when(
        cat.isin(GEN_THRESHOLD_CATEGORIES), F.lit(float(gen_threshold))
    ).when(cat.isin(CHAR_THRESHOLD_CATEGORIES), F.lit(float(char_threshold)))
    cand = F.struct(
        category_rank(cat).alias("cat_rank"),
        F.col("tag_idx").alias("tag_idx"),
        cat.alias("category"),
        tag.alias("tag"),
        threshold.alias("threshold"),
    )

    def collect(keep: Column) -> Column:
        return F.array_sort(F.collect_list(F.when(keep, cand)))

    candidates = tag_dim.agg(
        F.struct(
            *[collect(cat == c).alias(c) for c in TOP1_CATEGORIES],
            collect(threshold.isNotNull() & ~meta_blacklisted(cat, tag)).alias("kept"),
        ).alias(CANDIDATES)
    )
    return df.crossJoin(F.broadcast(candidates))


ProbAt = Callable[[Column], Column]


def vector_prob(idx: Column) -> Column:
    """The score at ``idx`` of the ``probs`` array; NULL past its end (F4)."""
    return F.get(F.col("probs"), idx)


def top1_tags(prob_at: ProbAt = vector_prob) -> Column:
    """A1 — the unconditional top-1 candidate of each top-1 category, in
    output order; a category with no scored candidate contributes none."""

    def best(cands: Column) -> Column:
        scored = F.transform(
            cands,
            lambda c: F.struct(
                prob_at(c["tag_idx"]).alias("prob"),
                (-c["tag_idx"]).alias("neg_idx"),
                c.alias("cand"),
            ),
        )
        return F.array_max(F.filter(scored, lambda s: s["prob"].isNotNull()))["cand"]

    return F.array_compact(F.array(*[best(F.col(CANDIDATES)[c]) for c in TOP1_CATEGORIES]))


def threshold_tags(prob_at: ProbAt = vector_prob) -> Column:
    """F2 + F3 — the threshold candidates the image's scores reach, in
    output order (the blacklist was applied to the dimension)."""
    return F.filter(
        F.col(CANDIDATES)["kept"], lambda c: prob_at(c["tag_idx"]) >= c["threshold"]
    )


def tags_text(prob_at: ProbAt = vector_prob) -> Column:
    """A2 — the selected tags joined with ``", "``: the whole selection
    (appV2.py:74-101) for one image."""
    selected = F.concat(top1_tags(prob_at), threshold_tags(prob_at))
    return F.array_join(F.transform(selected, lambda c: c["tag"]), ", ")


def select_tags_from_probs(
    scored: DataFrame,
    tag_dim: DataFrame,
    gen_threshold: float = DEFAULT_GEN_THRESHOLD,
    char_threshold: float = DEFAULT_CHAR_THRESHOLD,
) -> DataFrame:
    """The tag-selection projection: ``probs`` (array of per-tag scores,
    position = tag index) becomes ``tags_text``; every other column passes
    through in place. A row without a score vector (NULL ``probs``: an
    image that failed) gets NULL tags; a scored row with no selected tag
    gets the empty string (the reference writes an empty sidecar for it,
    appV2.py:101,178-179)."""
    text = F.when(F.col("probs").isNotNull(), tags_text()).alias("tags_text")
    return with_tag_candidates(scored, tag_dim, gen_threshold, char_threshold).select(
        *[text if c == "probs" else F.col(c) for c in scored.columns]
    )


def select_tags(
    scores: DataFrame,
    tag_dim: DataFrame,
    gen_threshold: float = DEFAULT_GEN_THRESHOLD,
    char_threshold: float = DEFAULT_CHAR_THRESHOLD,
    images: DataFrame | None = None,
) -> DataFrame:
    """The tag selection over long-form scores (image_id, tag_idx, prob) →
    (image_id, tags_text): gathers each image's scores into a map and runs
    the same per-image expression over it. One row per image with scores,
    or, if ``images`` (an ``image_id`` column) is given, one per distinct
    image there — images without scores get the empty string.
    ``(image_id, tag_idx)`` must be unique and a NULL prob counts as absent."""
    gathered = scores.groupBy("image_id").agg(
        F.map_from_entries(F.collect_list(F.struct("tag_idx", "prob"))).alias("scores")
    )
    if images is not None:
        gathered = images.select("image_id").distinct().join(gathered, "image_id", "left")
    return with_tag_candidates(gathered, tag_dim, gen_threshold, char_threshold).select(
        "image_id", tags_text(lambda idx: F.col("scores")[idx]).alias("tags_text")
    )


# ---------------------------------------------------------------------------
# Flagship demo wiring over the driver fixtures (SURVEY.md §7 Phase 0):
# a deterministic `scores` relation derived from the `embeddings` fixture and
# a literal 62-row tag dimension. Fully oracle-checkable in DuckDB.
# ---------------------------------------------------------------------------

# mod-8 → category, in the appV2.py:63 dict-literal order.
_CATEGORY_BY_MOD = CATEGORIES
DEMO_TAG_COUNT = 62  # indices 62,63 deliberately absent (F4 gap, appV2.py:62-66)
DEMO_LOGIT_SCALE = 100.0  # spreads sigmoid over (0,1) and exercises the ±30 clip


def demo_tag_dim(spark: SparkSession) -> DataFrame:
    """Literal tag dimension: tag_idx 0..61, category = mod-8 bucket, names
    with ``_`` (exercises P1) and some blacklisted meta names (exercises F3).

    Derived JVM-side from ``spark.range`` — a driver ``createDataFrame``
    would serialize Python rows through an RDD for every query invocation;
    range + expressions is pure Catalyst (and constant-foldable)."""
    i = F.col("id")
    category = F.element_at(
        F.array(*[F.lit(c) for c in _CATEGORY_BY_MOD]), (i % 8 + 1).cast("int")
    )
    name = (
        F.when(i % 16 == 5, F.concat(F.lit("meta_id_"), i))
        .when(i % 8 == 5, F.concat(F.lit("meta_plain_"), i))
        .otherwise(F.concat(F.lit("tag_"), i))
    )
    return spark.range(DEMO_TAG_COUNT).select(
        i.cast("int").alias("tag_idx"), name.alias("tag_name"), category.alias("category")
    )


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
    return select_tags_from_probs(embedding_probs(spark, sf_dir), demo_tag_dim(spark))
