"""Corpus-curation operators: PII scrubbing, quality gating, split
assignment, and source-mixing weights.

Extension surface (BASELINE.json north-star; the reference has no corpus
curation — SURVEY.md §2.4 "not present"). These are the remaining standard
stages of a pre-training data pipeline that sit between raw text analysis
(operators/text.py) and dedup (operators/dedup.py):

* ``text_pii_scrub``      — regex PII detection + redaction (emails, phones)
* ``text_gopher_flags``   — Gopher-style document quality gates
* ``corpus_split_assign`` — deterministic hash-based train/val/test split
* ``corpus_source_mix``   — per-source token shares (mixture-weight prep)

All pure Column expressions — zero Python in the row path, whole-stage
codegen throughout; the only shuffles are the two aggregations in
``corpus_source_mix`` (map-side combined).

Determinism: every ratio-threshold comparison is rewritten in exact integer
form (cross-multiplied), hash bucketing is md5-based (identical across
engines), and regex patterns use only syntax shared by Java regex and RE2 so
the DuckDB oracles match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .dedup import (
    CLUSTER_EST_THRESHOLD,
    dedup_minhash_lsh,
    dedup_survivor_counts_by_source,
    keep_lowest_doc_id,
)
from .quality import STOPWORDS, quality_components, tokens

# Shared by Java regex (Spark) and RE2 (DuckDB): char classes, +, {n},
# alternation only — no lookaround, no backrefs.
EMAIL_RE = r"[a-z0-9._]+@[a-z0-9-]+\.[a-z]+"
PHONE_RE = r"555-[0-9]{4}"

SPLIT_BUCKETS = 100
TRAIN_BUCKETS = 80  # buckets [0,80) -> train
VAL_BUCKETS = 90  # buckets [80,90) -> val; [90,100) -> test


def _with_synthetic_pii(docs: DataFrame) -> DataFrame:
    """Fixture documents carry no PII, so a scrubber over the raw text would
    be vacuously green. Append one deterministic synthetic email and phone
    per document (derived from doc_id/lang, identically in the oracle) so
    the detect/redact path is exercised on real hits."""
    full = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail-"),
        F.col("lang"),
        F.lit(".example or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return docs.withColumn("full_text", full)


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact email addresses and phone numbers.

    The standard pre-training hygiene step (emails/phones/IPs → placeholder
    tokens). Pure ``regexp_extract_all`` + ``regexp_replace`` Column work:
    zero shuffles, embarrassingly parallel at any corpus size, and the
    patterns avoid every Java-vs-RE2 dialect divergence.
    """
    base = _with_synthetic_pii(load_table(spark, sf_dir, "documents"))
    n_emails = F.size(F.regexp_extract_all("full_text", F.lit(EMAIL_RE), 0))
    n_phones = F.size(F.regexp_extract_all("full_text", F.lit(PHONE_RE), 0))
    redacted = F.regexp_replace(
        F.regexp_replace("full_text", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return base.select(
        "doc_id",
        n_emails.cast("bigint").alias("n_emails"),
        n_phones.cast("bigint").alias("n_phones"),
        redacted.alias("redacted_text"),
    )


# Gopher-style gate parameters (Rae et al. 2021 §A1.1, adapted to the
# fixture's doc lengths — the real bounds are 50..100k words, 3..10 mean
# chars/word, ≥2 distinct stopwords, duplicate-bigram fraction ≤ 0.2).
GOPHER_MIN_TOKENS = 50
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_WORD_LEN = 3  # mean chars/word lower bound
GOPHER_MAX_WORD_LEN = 10  # mean chars/word upper bound
GOPHER_MIN_STOPWORDS = 2  # distinct stopword hits
GOPHER_REP_NUM = 1  # dup-bigram fraction threshold = NUM/DEN = 0.2
GOPHER_REP_DEN = 5


def _gopher_flagged(docs: DataFrame) -> DataFrame:
    """All input columns plus the Gopher flag columns and ``keep``.

    Every threshold comparison is exact-integer (cross-multiplied) — e.g.
    "mean word length < 3" becomes ``nospace_len < 3 * n_tokens`` — so the
    booleans are bit-identical across engines with no float compare at all.
    Entirely row-local array/length math: a zero-shuffle map stage.
    """
    base = docs.withColumn("toks", tokens("text"))
    # bigrams as their own attribute (HOF lambdas get no CSE — see
    # text.text_repetition)
    bi = base.withColumn(
        "bigrams",
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
            ),
        ),
    )
    n_tokens = F.size("toks").cast("bigint")
    nospace_len = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("bigint")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop_distinct = F.size(F.array_intersect(F.array_distinct("toks"), stop_arr)).cast(
        "bigint"
    )
    n_bi = F.size("bigrams").cast("bigint")
    n_bi_distinct = F.size(F.array_distinct("bigrams")).cast("bigint")

    flag_short = n_tokens < GOPHER_MIN_TOKENS
    flag_long = n_tokens > GOPHER_MAX_TOKENS
    flag_word_len = (nospace_len < GOPHER_MIN_WORD_LEN * n_tokens) | (
        nospace_len > GOPHER_MAX_WORD_LEN * n_tokens
    )
    flag_stopword = n_stop_distinct < GOPHER_MIN_STOPWORDS
    # dup_frac > 0.2  ⇔  5*(n_bi - n_bi_distinct) > 1*n_bi, exactly
    flag_repetition = GOPHER_REP_DEN * (n_bi - n_bi_distinct) > GOPHER_REP_NUM * n_bi
    keep = ~(flag_short | flag_long | flag_word_len | flag_stopword | flag_repetition)
    return bi.select(
        *docs.columns,
        n_tokens.alias("n_tokens"),
        flag_short.alias("flag_too_short"),
        flag_long.alias("flag_too_long"),
        flag_word_len.alias("flag_word_len"),
        flag_stopword.alias("flag_low_stopword"),
        flag_repetition.alias("flag_repetition"),
        keep.alias("keep"),
    )


def text_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gates: per-document boolean flags plus the
    combined ``keep`` decision (see ``_gopher_flagged``)."""
    return _gopher_flagged(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "n_tokens",
        "flag_too_short",
        "flag_too_long",
        "flag_word_len",
        "flag_low_stopword",
        "flag_repetition",
        "keep",
    )


def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: md5-bucket each doc_id into
    100 buckets, 80/10/10. Hash-based (not random) so the split is stable
    under re-runs, insertions, and engine changes — the property a training
    pipeline actually needs from its split (new documents never reshuffle
    old assignments). Zero shuffles; the bucket key is uniform by md5."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        )
        % SPLIT_BUCKETS
    )
    split = (
        F.when(F.col("bucket") < TRAIN_BUCKETS, F.lit("train"))
        .when(F.col("bucket") < VAL_BUCKETS, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select(
        "doc_id", "lang", "source", bucket.alias("bucket")
    ).withColumn("split", split)


def corpus_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus shares — the input to mixture-weight sampling
    (Pile-style domain mixing): document, char, and whitespace-token counts
    per source plus each source's fraction of total tokens.

    One map-side-combined aggregation per source, then the grand total via
    an UNPARTITIONED window over the per-source result — #sources rows, a
    trivially small single-partition exchange. The scalar-subquery
    alternative (agg + crossJoin(broadcast)) would re-execute the whole
    per-source subtree for the total (Spark does not CSE across DAG
    branches): two full corpus scans at 100 TB instead of one. Token counts
    stay exact integers and the share divides once in double, so values are
    engine-portable."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.col("n_chars"),
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
    )
    per_source = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("n_tokens").alias("sum_tokens"),
    )
    total = F.sum("sum_tokens").over(Window.partitionBy())
    return per_source.select(
        "source",
        "n_docs",
        "sum_chars",
        "sum_tokens",
        (F.col("sum_tokens").cast("double") / total.cast("double")).alias("token_share"),
    )


def curation_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation in ONE composed plan — the query a corpus owner
    actually runs: Gopher-gate → PII-scrub → exact-dedup → split-assign →
    per-(split, source) report.

    Composition shape: the gate, the scrub, and the split are all row-local
    Column expressions, so they FUSE into a single scan/map stage under
    whole-stage codegen — chaining the four operators adds zero passes over
    the corpus. The whole pipeline costs exactly two shuffles at any scale:
    the dedup window on the content hash and the final aggregation. That
    fusion — declare stages independently, let Catalyst collapse them — is
    the engine's core scale argument over the stage-per-pass reference
    loop (appV2.py:165-185 runs one Python iteration per stage per row).

    Report columns are exact integers; the oracle replays the identical
    CTE chain (gate flags, scrub regexes, md5 content hash, md5 split
    buckets are all engine-portable by construction of the pieces)."""
    docs = load_table(spark, sf_dir, "documents")
    gated = _gopher_flagged(docs).where(F.col("keep"))
    scrubbed = _with_synthetic_pii(gated)
    n_redactions = (
        F.size(F.regexp_extract_all("full_text", F.lit(EMAIL_RE), 0))
        + F.size(F.regexp_extract_all("full_text", F.lit(PHONE_RE), 0))
    ).cast("bigint")
    redacted = F.regexp_replace(
        F.regexp_replace("full_text", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    staged = scrubbed.select(
        "doc_id",
        "source",
        "n_tokens",
        n_redactions.alias("n_redactions"),
        F.md5(redacted).alias("content_hash"),
    )
    deduped = keep_lowest_doc_id(staged, "content_hash")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        )
        % SPLIT_BUCKETS
    )
    split = (
        F.when(bucket < TRAIN_BUCKETS, F.lit("train"))
        .when(bucket < VAL_BUCKETS, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        deduped.withColumn("split", split)
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("n_redactions").alias("sum_redactions"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# Per-tier keep rates in basis points (tier = source number % 4): full,
# half, quarter, eighth — the down-sampling schedule a mixture trainer
# derives from corpus_source_mix's shares vs its target weights.
MIX_TIER_RATES_BP = [10000, 5000, 2500, 1250]


def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling — the sampler ``corpus_source_mix``
    feeds: each source is down-sampled to its tier's keep-rate by an exact
    integer hash-bucket threshold (keep iff md5 bucket < rate·10000).

    Hash-based, not ``DataFrame.sample``: re-runs keep the SAME documents
    (restartable jobs, reproducible corpora), and the sampling hash is
    salted ('mix-') so it is INDEPENDENT of corpus_split_assign's buckets —
    otherwise sampling would correlate with the train/val/test split and
    bias every split differently. Row-local predicate, zero shuffles until
    the one report aggregation; at 100 TB the sampler is a filter pushed
    into the scan, not a pass."""
    docs = load_table(spark, sf_dir, "documents")
    # try_cast + tier-0 fallback: a source name outside the 'srcN' shape
    # keeps FULL rate instead of silently vanishing (non-ANSI CAST yields
    # NULL → row counted but never kept) — and the DuckDB oracle, whose
    # strict CAST would instead error, mirrors the same try_cast.
    tier = F.expr("COALESCE(TRY_CAST(substring(source, 4) AS INT), 0) % 4")
    thr = F.element_at(
        F.array(*[F.lit(r) for r in MIX_TIER_RATES_BP]), tier + 1
    ).cast("bigint")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("mix-"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 10000
    )
    n_tokens = F.size(tokens("text")).cast("bigint")
    per_doc = docs.select(
        "source",
        thr.alias("rate_bp"),
        (bucket < thr).alias("kept"),
        n_tokens.alias("n_tokens"),
    )
    return per_doc.groupBy("source", "rate_bp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
    )


def dq_checks_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: one row per check with checked/violation counts —
    the contract a 100-TB ingest runs before promoting a batch (null rates,
    key uniqueness, referential integrity, value domains).

    Shapes chosen for scale: per-table checks collapse into ONE aggregate
    pass per table (conditional counters share the scan); referential
    checks are LEFT ANTI joins on projected key columns only (the shuffle
    carries 8-byte keys, not rows), counted map-side. Nothing here is a
    driver-side loop — the report is itself a DataFrame, so it can gate a
    pipeline inside the cluster."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    docs = load_table(spark, sf_dir, "documents")

    def _report(name, checked, violations):
        return F.struct(
            F.lit(name).alias("check_name"),
            checked.cast("bigint").alias("n_checked"),
            violations.cast("bigint").alias("n_violations"),
        )

    o_checks = orders.agg(
        F.array(
            _report(
                "orders_pk_unique",
                F.count(F.lit(1)),
                F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey")),
            ),
            _report(
                "orders_totalprice_positive",
                F.count(F.lit(1)),
                F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)),
            ),
            _report(
                "orders_custkey_nonnull",
                F.count(F.lit(1)),
                F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)),
            ),
        ).alias("checks")
    )
    l_checks = li.agg(
        F.array(
            _report(
                "lineitem_discount_range",
                F.count(F.lit(1)),
                F.sum(
                    F.when(
                        (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                    ).otherwise(0)
                ),
            ),
            _report(
                "lineitem_quantity_positive",
                F.count(F.lit(1)),
                F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)),
            ),
        ).alias("checks")
    )
    d_checks = docs.agg(
        F.array(
            _report(
                "documents_text_nonempty",
                F.count(F.lit(1)),
                F.sum(
                    F.when(
                        F.col("text").isNull() | (F.length("text") == 0), 1
                    ).otherwise(0)
                ),
            )
        ).alias("checks")
    )
    fk_orders = (
        orders.select("o_custkey")
        .join(cust.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .agg(F.array(_report("orders_custkey_fk", F.count(F.lit(1)), F.count(F.lit(1)))).alias("checks"))
    )
    # n_checked for FK rows is the violation count itself (rows that failed
    # the join); the full denominators already appear in the per-table rows.
    fk_li = (
        li.select("l_orderkey")
        .join(orders.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.array(_report("lineitem_orderkey_fk", F.count(F.lit(1)), F.count(F.lit(1)))).alias("checks"))
    )
    unioned = o_checks.unionByName(l_checks).unionByName(d_checks).unionByName(
        fk_orders
    ).unionByName(fk_li)
    return unioned.select(F.explode("checks").alias("c")).select(
        "c.check_name", "c.n_checked", "c.n_violations"
    )


PACK_BUDGET_TOKENS = 2048


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing — the prep step that turns a curated
    corpus into fixed-size training context windows: documents are
    concatenated in doc_id order within each source and cut every
    ``PACK_BUDGET_TOKENS`` whitespace tokens; each document is assigned to
    the context window where its first token lands, and the result reports
    per-window document counts, token loads, and doc-id ranges.

    Shape: one running-sum window per source (a single hash exchange on
    ``source``) then a map-side-combined aggregation — no joins, no Python.
    The window's insertion order is ``doc_id``, so the packing is
    insertion-stable: re-running over the same corpus yields byte-identical
    windows (the property checkpoint/resume of a tokenizer job needs). At
    100 TB the per-source running sum serializes one partition per source;
    the scale path is a two-level pack (shard by ``doc_id div S`` within
    source, pack shards independently, offset window ids by shard base) —
    same arithmetic, embarrassingly parallel, documented here rather than
    implemented because the fixture's 4 sources fit the direct form."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens("text")).cast("bigint")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = docs.select(
        "doc_id", "source", n_tokens.alias("n_tokens")
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    binned = cum.withColumn(
        "window_id",
        F.expr(f"(cum_tokens - n_tokens) div {PACK_BUDGET_TOKENS}"),
    )
    return binned.groupBy("source", "window_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def crossmodal_curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal final verdict: text-side Gopher gates AND embedding-side
    semantic dedup combined into one keep decision per document — the join
    where the two halves of a curation pipeline actually meet (quality
    models look at text; near-dup structure lives in embedding space).

    The embedding table covers only part of the corpus (2000 of 5000 docs
    at sf0.1), so the semantic verdict joins LEFT with keep-by-default for
    unembedded documents — the safe polarity: missing an embedding must
    not silently drop a document. Join key volume is one row per doc id on
    each side; the report aggregates per (lang, verdict)."""
    from .similarity import dedup_semantic_keep

    docs = load_table(spark, sf_dir, "documents")
    text_side = _gopher_flagged(docs).select(
        "doc_id", "lang", F.col("keep").alias("text_keep")
    )
    sem_side = dedup_semantic_keep(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("keep").alias("sem_keep_raw")
    )
    joined = text_side.join(sem_side, "doc_id", "left").withColumn(
        "sem_keep", F.coalesce(F.col("sem_keep_raw"), F.lit(True))
    )
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(~F.col("text_keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_text_reject"),
        F.sum(F.when(F.col("text_keep") & ~F.col("sem_keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_sem_reject"),
        F.sum(F.when(F.col("text_keep") & F.col("sem_keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_keep"),
    )


# CDC changeset derivation (deterministic, disjoint by doc_id % 10):
# 0 -> update (recrawled text), 3 -> delete (takedown), 7 -> source doc for
# an insert with a new id. Stands in for a real change feed.
CDC_INSERT_ID_OFFSET = 1_000_000


def _cdc_changes(docs: DataFrame) -> DataFrame:
    last = F.col("doc_id") % 10
    upd = docs.where(last == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" v2")).alias("new_text"),
        F.lit("update").alias("op"),
    )
    dele = docs.where(last == 3).select(
        "doc_id", F.lit(None).cast("string").alias("new_text"), F.lit("delete").alias("op")
    )
    ins = docs.where(last == 7).select(
        (F.col("doc_id") + CDC_INSERT_ID_OFFSET).alias("doc_id"),
        F.concat(F.lit("new "), F.col("text")).alias("new_text"),
        F.lit("insert").alias("op"),
    )
    return upd.unionByName(dele).unionByName(ins)


def cdc_merge_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics on plain Spark: apply a deterministic
    changeset (updates, deletes, inserts — a recrawl/takedown feed) to the
    documents table via ONE full-outer join on doc_id.

    This is the kernel of incremental corpus refresh without a table
    format: both sides shuffle once on the join key and every row is
    decided row-locally (delete drops, update/insert take the new text,
    unmatched keeps). On a real deployment the same plan runs under
    Delta/Iceberg MERGE INTO; expressing it as a join keeps the engine
    format-agnostic. Output is the post-merge corpus keyed by content hash
    so the oracle value-checks every surviving row."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ch = _cdc_changes(docs)
    merged = docs.join(ch, "doc_id", "full_outer")
    return (
        merged.where(F.col("op").isNull() | (F.col("op") != "delete"))
        .select(
            "doc_id",
            F.coalesce("op", F.lit("keep")).alias("op"),
            F.md5(F.coalesce("new_text", "text")).alias("content_hash"),
            F.length(F.coalesce("new_text", "text")).cast("bigint").alias("n_chars"),
        )
    )


TOKEN_BUDGET = 10_000_000


def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget planning report: per (source, lang) — document and
    token counts, the stratum's share of the corpus, cumulative share when
    strata are ranked largest-first (the "how many strata cover 90%?"
    curve), and the epoch multiplier a 10M-token training budget implies
    (epochs > 1 ⇒ the stratum must repeat; ≪ 1 ⇒ it will be subsampled).

    One map-side-combinable groupBy over the corpus, then windows over the
    tiny strata relation — fact rows are touched exactly once. Token
    counts are exact whitespace-split integers (text_token_count's
    convention); shares are single exact-int divisions; the cumulative
    window carries (tokens DESC, source, lang) so equal-sized strata can
    never reorder between engines."""
    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("bigint").alias("n_tokens"),
    )
    total = Window.partitionBy()
    cum = (
        Window.partitionBy()
        .orderBy(F.desc("n_tokens"), F.asc("source"), F.asc("lang"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return strata.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        (
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(total).cast("double")
        ).alias("token_share"),
        (
            F.sum("n_tokens").over(cum).cast("double")
            / F.sum("n_tokens").over(total).cast("double")
        ).alias("cum_share"),
        F.round(
            F.lit(TOKEN_BUDGET).cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("budget_epochs"),
    )


LENGTH_SWEEP_THRESHOLDS = [8, 16, 32, 64, 128]


def corpus_length_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep report for the minimum-length filter: for each
    candidate cutoff, how many documents and tokens would survive — the
    evidence table for choosing a cutoff instead of guessing one (the
    sweep-then-pick discipline text_quality_calibration applies to
    quality scores, here for the cheapest filter of all).

    ONE corpus pass: per-doc token counts feed 2×|thresholds| conditional
    aggregates into a single row, then a row-local unpivot to long form —
    no explode-by-thresholds row multiplication, no second scan. All
    counts exact integers; rates are single exact-int divisions."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text"))
    aggs = [F.count(F.lit(1)).alias("n_total")]
    for t in LENGTH_SWEEP_THRESHOLDS:
        keep = n_tok >= t
        aggs.append(F.sum(keep.cast("int")).cast("bigint").alias(f"d{t}"))
        aggs.append(
            F.sum(F.when(keep, n_tok).otherwise(0)).cast("bigint").alias(f"t{t}")
        )
    one = docs.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(t).cast("bigint").alias("threshold"),
                F.col(f"d{t}").alias("n_docs_surviving"),
                F.col(f"t{t}").alias("n_tokens_surviving"),
            )
            for t in LENGTH_SWEEP_THRESHOLDS
        ]
    )
    return (
        one.select("n_total", F.explode(rows).alias("r"))
        .select(
            F.col("r.threshold").alias("threshold"),
            F.col("r.n_docs_surviving").alias("n_docs_surviving"),
            F.col("r.n_tokens_surviving").alias("n_tokens_surviving"),
            (
                F.col("r.n_docs_surviving").cast("double")
                / F.col("n_total").cast("double")
            ).alias("doc_survival_rate"),
        )
    )


MIX_TEMPERATURE = 0.7  # the UniMax/Gopher-style flattening exponent
MIX_EPOCH_DOC_BUDGET = 10_000


def corpus_temperature_mix(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = MIX_TEMPERATURE,
    epoch_budget: int = MIX_EPOCH_DOC_BUDGET,
) -> DataFrame:
    """Temperature-scaled source mixture weights: w_s ∝ p_s^α with α < 1 —
    the multilingual/multi-domain sampling standard (mT5/UniMax, Gopher)
    that upsamples tail sources so a 100:1 corpus imbalance doesn't become
    a 100:1 training imbalance. Extends corpus_source_mix (which reports
    raw shares) with the reweighting step a sampler actually consumes.

    Same scale shape as corpus_source_mix: one map-side-combined corpus
    aggregation, then all mixture math over the #sources-row result via an
    unpartitioned window (trivially small). Determinism: shares divide
    once in double; p^α rounds at 9dp and sums in DECIMAL(28,9) (the
    order-independent mean pattern); the final weight divides two
    identical doubles and rounds at 6dp. boost = weight/share (how many ×
    the source is over/under-sampled) and epoch_docs = the per-source doc
    budget at ``epoch_budget`` total."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.select("source", F.size(tokens("text")).cast("bigint").alias("n_tokens"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("sum_tokens"))
    )
    w_all = Window.partitionBy()
    share = F.col("sum_tokens").cast("double") / F.sum("sum_tokens").over(w_all).cast(
        "double"
    )
    shared = per_source.withColumn("token_share", share).withColumn(
        "w_raw", F.round(F.pow(F.col("token_share"), F.lit(alpha)), 9).cast("decimal(28,9)")
    )
    w_total = F.sum("w_raw").over(w_all)
    weight = F.round(F.col("w_raw").cast("double") / w_total.cast("double"), 6)
    return shared.withColumn("temp_weight", weight).select(
        "source",
        "n_docs",
        "sum_tokens",
        F.round("token_share", 6).alias("token_share"),
        "temp_weight",
        F.round(F.col("temp_weight") / F.col("token_share"), 6).alias("boost"),
        F.round(F.col("temp_weight") * epoch_budget, 0).cast("bigint").alias("epoch_docs"),
    )


# k-anonymity gate: minimum equivalence-class size and the account-balance
# banding width. Mirrored in the DuckDB oracle — sync-pinned.
KANON_K = 5
KANON_BAND_WIDTH = 1000.0


def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer quasi-identifiers — the privacy
    gate a curation pipeline runs before releasing "anonymized" records:
    if the (segment, nation, balance-band) combination identifies fewer
    than KANON_K customers, those rows are re-identifiable by linkage and
    must be suppressed or generalized before export.

    One hash aggregate over the QI tuple; re-identification risk is the
    textbook 1/class_size. The band is floor(acctbal/1000) — identical
    integer floor on both engines (negative balances floor toward −∞
    consistently). is_k_anonymous is emitted as 0/1 BIGINT (scalar-only
    output schema per the driver canonicalizer contract)."""
    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / F.lit(KANON_BAND_WIDTH)).cast("bigint")
    return (
        cust.select("c_mktsegment", "c_nationkey", band.alias("acctbal_band"))
        .groupBy("c_mktsegment", "c_nationkey", "acctbal_band")
        .agg(F.count(F.lit(1)).alias("class_size"))
        .select(
            "c_mktsegment",
            F.col("c_nationkey").cast("bigint").alias("nation_key"),
            "acctbal_band",
            "class_size",
            F.when(F.col("class_size") >= F.lit(KANON_K), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("is_k_anonymous"),
            (F.lit(1.0) / F.col("class_size").cast("double")).alias("reident_risk"),
        )
    )


# Efraimidis–Spirakis weighted reservoir: sample size and the 2^60 hash
# domain the uniform draw is derived from. Mirrored in the oracle.
ES_SAMPLE_K = 100
ES_HASH_DOMAIN = float(1 << 60)


def corpus_weighted_sample(spark: SparkSession, sf_dir: str, k: int = ES_SAMPLE_K) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): each doc draws u ∈ (0,1] from md5(doc_id) and keeps
    key = −ln(u)/w with w = token count; the k smallest keys are the
    sample. Inclusion probability is proportional to weight across the
    whole corpus in ONE distributed top-k — no per-partition reservoirs
    to merge, no sequential state — which is why A-ES is the standard
    trick for "sample 10k docs ∝ length from 100 TB".

    Unlike corpus_mixture_sample (per-tier hash thresholding with
    per-source rates), this is a GLOBAL weight-proportional draw. The
    hash uniform is u = (h+1)/2^60 over the 60-bit md5 prefix (never 0,
    so ln is finite); both engines compute the identical ln/division
    tree, and the top-k carries the doc_id tie-break (the repo top-k
    convention, though md5-derived key ties are measure-zero)."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.size(tokens("text")).cast("bigint")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    u = (h + F.lit(1)).cast("double") / F.lit(ES_HASH_DOMAIN)
    key = -F.log(u) / w.cast("double")
    keyed = docs.select(
        "doc_id", "source", w.alias("n_tokens"), F.round(key, 12).alias("es_key")
    )
    top = keyed.orderBy(F.asc("es_key"), F.asc("doc_id")).limit(k)
    rw = Window.orderBy(F.asc("es_key"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(rw).cast("bigint"))


def corpus_split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-duplicate leakage audit — the evaluation-integrity
    check every train/val/test split needs: a val document whose
    near-duplicate sits in train inflates eval scores exactly like test
    contamination (decontaminate_ngram_overlap audits against an EXTERNAL
    benchmark; this audits the split against ITSELF). Reports, per
    unordered split pair, how many near-dup pairs land there, whether the
    cell crosses splits, and its share of all near-dup pairs.

    Composes the production pieces (the sweep/funnel convention — never a
    reimplementation): pairs come from ``dedup_minhash_lsh`` at the SAME
    cluster threshold ``dedup_clusters`` uses, split labels from
    ``corpus_split_assign``'s stable md5 bucketing.

    Scale: two doc-keyed hash joins hang split labels on the candidate
    pairs (candidate volume is the banded-LSH-bounded set, ~linear in
    corpus size); the rollup's key space is at most 6 split-pair cells;
    the share divides exact integers once."""
    from ..checkpointing import truncate_lineage

    # materialized: the split frame is joined on BOTH pair sides — the two
    # probes are different subplans, so without the checkpoint the
    # documents scan + md5 bucketing would run twice
    splits = (
        corpus_split_assign(spark, sf_dir)
        .select("doc_id", "split")
        .transform(truncate_lineage)
    )
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .where(F.col("est_jaccard") >= CLUSTER_EST_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    tagged = pairs.join(
        splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")),
        "doc_a",
    ).join(
        splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")),
        "doc_b",
    )
    cells = (
        tagged.select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    tot = cells.agg(F.sum("n_pairs").alias("total_pairs"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "split_a",
        "split_b",
        "n_pairs",
        F.when(F.col("split_a") != F.col("split_b"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_cross_split"),
        (F.col("n_pairs").cast("double") / F.col("total_pairs").cast("double")).alias(
            "pair_share"
        ),
    )


# Stratified split: exact ceil-quota validation share per stratum,
# sync-pinned to the oracle literals.
STRATified_VAL_PCT = 10


def corpus_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified train/val split with EXACT per-stratum quotas: within
    every (source, lang) stratum, rank docs by a split-independent md5
    hash (ties impossible — the unique doc_id both salts the hash and
    breaks residual collisions) and send the first ⌈10%⌉ to validation —
    the guarantee corpus_split_assign's hash-threshold split cannot give
    (it hits 10% only in expectation; small strata can end up with zero
    validation docs, silently unvalidated).

    Shape: one rank window per stratum (partitioned by (source, lang) —
    parallel across strata) over the doc relation; quotas are the
    stratum-count column computed on the same window pass. Deterministic:
    the hash is content-independent (doc_id), engine-portable (md5 hex →
    base-16 conv), and new docs in OTHER strata never reshuffle a
    stratum's ranking."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy("source", "lang").orderBy("h", "doc_id")
    ranked = docs.select("doc_id", "source", "lang", h.alias("h")).select(
        "doc_id",
        "source",
        "lang",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy("source", "lang")).alias("n_stratum"),
    )
    # ceil(n·pct/100) directly — the (n + 100//pct − 1) div (100//pct)
    # form is only equal when pct divides 100 (r8 review: pct = 15 would
    # silently mean 16.7%)
    quota = F.expr(f"(n_stratum * {STRATified_VAL_PCT} + 99) div 100")
    return ranked.select(
        "doc_id",
        "source",
        "lang",
        F.col("n_stratum").cast("bigint").alias("n_stratum"),
        F.when(F.col("rnk") <= quota, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


# Generalization ladder for the k-anonymity sweep: balance-band widths
# from fine to coarse (QI precision is the knob anonymization turns).
# Sync-pinned to the oracle literals.
KANON_SWEEP_WIDTHS = (500.0, 1000.0, 2000.0, 4000.0)


def privacy_generalization_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anonymization TRADE-OFF curve: k-anonymity statistics at four
    quasi-identifier generalization levels (balance-band width 500 → 4000)
    — the readout that picks the coarsest banding meeting the k ≥ KANON_K
    bar with the least information loss, instead of guessing one width
    (the parameterized-sweep pattern of dedup_minhash_band_sweep, sharing
    privacy_k_anonymity's QI tuple and k bar verbatim).

    Per level: equivalence classes, k-violating classes, exposed rows,
    the anonymous-row fraction, and the row-weighted mean
    re-identification risk (which collapses exactly to
    n_classes/n_rows — one exact-int division). Four
    map-side-combined aggregates over the customer relation — one per
    width, each a tiny QI-cardinality rollup."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_nationkey", "c_acctbal"
    )
    # ONE corpus scan: the widths explode as a column (its own oracle's
    # CROSS JOIN unnest shape — a per-width Python loop unioned four
    # independent aggregates and scanned customer four times; r8 review)
    widths = F.array(*[F.lit(w) for w in KANON_SWEEP_WIDTHS])
    classes = (
        cust.select(
            "c_mktsegment",
            "c_nationkey",
            "c_acctbal",
            F.explode(widths).alias("band_width"),
        )
        .select(
            "band_width",
            "c_mktsegment",
            "c_nationkey",
            F.floor(F.col("c_acctbal") / F.col("band_width"))
            .cast("bigint")
            .alias("b"),
        )
        .groupBy("band_width", "c_mktsegment", "c_nationkey", "b")
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    return classes.groupBy("band_width").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum(F.when(F.col("class_size") < F.lit(KANON_K), 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating_classes"),
        F.sum(
            F.when(
                F.col("class_size") < F.lit(KANON_K), F.col("class_size")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_exposed_rows"),
        F.round(
            F.lit(1.0)
            - F.sum(
                F.when(
                    F.col("class_size") < F.lit(KANON_K), F.col("class_size")
                ).otherwise(0)
            ).cast("double")
            / F.sum("class_size").cast("double"),
            9,
        ).alias("anonymous_frac"),
        # row-weighted mean of 1/class_size collapses EXACTLY to
        # n_classes / n_rows (each class contributes size·1/size=1)
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("class_size").cast("double"),
            9,
        ).alias("mean_reident_risk"),
    )


def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-stop per-source corpus health dashboard — the report a
    corpus owner actually opens: volume (docs, tokens, token share),
    dedup health (survivors after the exact and near stages, near-dup
    rate), and content quality (mean of THE shared quality score) in one
    row per source. Pure composition over the shared machinery
    (_dedup_survivors' staged keep decision, quality_components, the
    token-count convention), so this report can never disagree with the
    per-family queries it summarizes.

    Shape: one corpus scan feeds doc/token/quality aggregates (map-side
    combined per source); survivors ride the memoized cluster chain;
    the token share's grand total is a 1-row broadcast. Quality means on
    the 9dp-DECIMAL rail; rates divide once per row."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "text",
        F.md5("text").alias("content_hash"),
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
    )
    q = F.round(quality_components(F.col("text"), tokens("text"))["score"], 6)
    dec = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(
            F.sum(dec(q)).cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_quality"),
    )
    counts = dedup_survivor_counts_by_source(
        spark, sf_dir, docs.select("doc_id", "source", "content_hash")
    )
    total = base.agg(F.sum("n_tokens").alias("tok_total"))
    return (
        base.join(counts, "source")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("tok_total").cast("double"),
                9,
            ).alias("token_share"),
            "mean_quality",
            "n_after_exact",
            "n_after_near",
            F.round(
                F.lit(1.0)
                - F.col("n_after_near").cast("double")
                / F.col("n_docs").cast("double"),
                9,
            ).alias("dup_rate"),
        )
    )


def corpus_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration report of the corpus's TOKEN mass across sources —
    the mixture-governance readout corpus_source_mix's raw shares feed:
    HHI (Σ share², the antitrust-style concentration index), the Gini
    coefficient over per-source token totals, and the top-1/top-3 shares.
    A pre-training mix that drifts toward one domain shows up here before
    it shows up in eval loss.

    Exactness: per-source token sums are exact integers; the Gini uses
    the sorted-rank identity G = Σ(2i − k − 1)·x₍i₎ / (k·Σx) with exact
    DECIMAL(38,0) cross products and ONE double division; HHI terms are
    9dp-rounded doubles summed on the DECIMAL(28,9) rail over the
    #sources-row relation. Ranks/top-k come from windows over the
    per-source aggregate (#sources strata — the corpus_source_mix
    boundedness class).

    Scale shape: one corpus pass map-side combined to #sources keys;
    everything after operates on the bounded source spine."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.select("source", F.size(tokens("text")).cast("bigint").alias("t"))
        .groupBy("source")
        .agg(F.sum("t").cast("bigint").alias("tokens"))
    )
    w_rank = Window.orderBy(F.asc("tokens"), F.asc("source"))
    ranked = per_source.select(
        "source",
        "tokens",
        F.row_number().over(w_rank).cast("bigint").alias("i"),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    rail = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    tot = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("tokens").cast("bigint").alias("t_all"),
    )
    share = F.col("tokens").cast("double") / F.col("t_all").cast("double")
    agg = ranked.crossJoin(F.broadcast(tot)).agg(
        F.max("k").alias("n_sources"),
        F.max("t_all").alias("total_tokens"),
        F.sum(
            (F.lit(2) * d38("i") - d38("k") - F.lit(1)) * d38("tokens")
        ).alias("gini_num"),
        F.sum(rail(share * share)).cast("double").alias("hhi"),
        F.sum(F.when(F.col("i") == F.col("k"), F.col("tokens")).otherwise(0))
        .cast("bigint")
        .alias("top1"),
        F.sum(F.when(F.col("i") > F.col("k") - 3, F.col("tokens")).otherwise(0))
        .cast("bigint")
        .alias("top3"),
    )
    gini = F.when(
        (F.col("n_sources") >= 1) & (F.col("total_tokens") > 0),
        F.col("gini_num").cast("double")
        / (F.col("n_sources").cast("double") * F.col("total_tokens").cast("double")),
    )
    td = F.col("total_tokens").cast("double")
    return agg.select(
        "n_sources",
        "total_tokens",
        F.round(F.col("hhi"), 9).alias("hhi"),
        F.round(gini, 9).alias("gini"),
        F.round(F.col("top1").cast("double") / td, 9).alias("top1_share"),
        F.round(F.col("top3").cast("double") / td, 9).alias("top3_share"),
    )
