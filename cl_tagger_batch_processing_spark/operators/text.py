"""Text-analysis operators for training-data pipelines.

Extension surface (BASELINE.json north-star). All pure Column expressions —
tokenization, ratios, and scores stay in whole-stage codegen; no Python.

Determinism: every ratio is an exact-integer numerator/denominator divided
once in double — bit-identical across engines; the language-ID argmax uses
an explicit (score DESC, lang ASC) window tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..checkpointing import truncate_lineage, truncate_lineage_eager
from ..sources.tables import load_table
from .dedup import DEFAULT_MAX_DF, sorted_ids_csv, word_shingles
from .quality import STOPWORDS, quality_components, token_counts, tokens

# Marker-token lists per language for the n-gram/stopword language-ID
# heuristic. Deterministic and tiny — a broadcast literal dimension.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "nicht"],
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "los", "que", "y"],
    "fr": ["le", "la", "les", "et", "une"],
    "zh": ["de", "shi", "bu", "le", "wo"],
}


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts (whitespace + alpha-regex), byte/char lengths, average
    token length. The whitespace count models the reference's simple splits;
    the regex count is the BPE-ish token proxy."""
    docs = load_table(spark, sf_dir, "documents")
    # tokens as their own attribute: each consumer evaluates the split once
    # per row instead of once per use (see text_repetition for the rationale)
    base = docs.select("doc_id", F.col("text"), tokens("text").alias("toks"))
    n_tokens = F.size("toks")
    n_alpha = F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), 0))
    nospace_len = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    # bigint casts: DuckDB len()/length() are BIGINT, Spark size()/length()
    # are INT — align so the oracle schema matches.
    return base.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        n_alpha.cast("bigint").alias("n_alpha_tokens"),
        (nospace_len.cast("double") / n_tokens).alias("avg_token_len"),
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score from stopword ratio, vocabulary diversity and
    token length — the standard cheap pre-filter for LLM training corpora.
    Weights are exact binary fractions so the score is engine-portable.
    The formula lives ONCE in operators/quality.py (shared with
    text_quality_calibration and dedup_exact_keep_best)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.col("text"), tokens("text").alias("toks"))
    q = quality_components(F.col("text"), F.col("toks"))
    return base.select(
        "doc_id",
        q["stop_ratio"].alias("stopword_ratio"),
        q["uniq_ratio"].alias("uniq_ratio"),
        q["avg_len"].alias("avg_token_len"),
        q["score"].alias("quality_score"),
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID: score each candidate language by marker
    hits, pick the argmax (ties → alphabetically first language).

    The candidate-language set is small and FIXED, so the scores are plain
    columns and the argmax a row-local struct sort — ZERO shuffles, fully
    whole-stage-codegen (the long-form alternative — explode doc × language
    and window per doc — pays a crossJoin plus a doc_id exchange for
    nothing). struct sort ascending on (-score, lang) ≡ score DESC,
    lang ASC."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.col("lang"), tokens("text").alias("toks"))
    def marker_hits(words: list[str]):
        marker_arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter("toks", lambda t: F.array_contains(marker_arr, t)))

    entries = [
        F.struct((-marker_hits(words)).alias("neg_score"), F.lit(lang).alias("cand_lang"))
        for lang, words in sorted(LANG_MARKERS.items())
    ]
    predicted = F.array_sort(F.array(*entries))[0]["cand_lang"]
    return base.select(
        "doc_id",
        predicted.alias("predicted_lang"),
        F.col("lang").alias("labeled_lang"),
        (predicted == F.col("lang")).alias("is_match"),
    )


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (the Gopher-style quality rule): fraction
    of word-bigram occurrences that are repeats of an earlier bigram in the
    SAME document. Entirely row-local array math — build the bigram list
    with ``transform`` over an index ``sequence``, count distincts, one
    division — so the operator is a zero-shuffle map at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Materialize tokens and bigrams as their OWN projection attributes.
    # Inlining `split(text)` into the transform lambda re-evaluates the
    # split per array ELEMENT (no common-subexpression elimination inside
    # higher-order functions) — O(n_tok²) per document; the same applies to
    # the bigram array reused by size/array_distinct. Catalyst keeps these
    # projections separate because each attribute is referenced repeatedly.
    toks = docs.select("doc_id", tokens("text").alias("toks"))
    bi = toks.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
            ),
        ).alias("bigrams"),
    )
    counts = bi.select(
        "doc_id",
        F.size("bigrams").cast("bigint").alias("n_bigrams"),
        F.size(F.array_distinct("bigrams")).cast("bigint").alias("n_distinct_bigrams"),
    )
    frac = F.when(
        F.col("n_bigrams") > 0,
        (F.col("n_bigrams") - F.col("n_distinct_bigrams")).cast("double")
        / F.col("n_bigrams").cast("double"),
    ).otherwise(F.lit(0.0))
    return counts.select(
        "doc_id", "n_bigrams", "n_distinct_bigrams", frac.alias("dup_bigram_frac")
    )


def text_vocab_topk(spark: SparkSession, sf_dir: str, k: int = 100) -> DataFrame:
    """Corpus-level vocabulary heavy hitters: top-k tokens by occurrence
    count with a deterministic (count DESC, token ASC) tie-break.

    Scale shape: one groupBy(token) shuffle with map-side partial counts,
    then ``orderBy(...).limit(k)`` — Spark plans a distributed TakeOrdered
    (per-partition top-k merged on the driver), NOT a single-partition
    global sort; the final rank window runs over at most k rows."""
    docs = load_table(spark, sf_dir, "documents")
    counts = token_counts(docs, alias="n_occurrences")
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(k)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return top.select(
        "token", "n_occurrences", F.row_number().over(w).cast("bigint").alias("rank")
    )


CHUNK_TOKENS = 16
CHUNK_STRIDE = 8


def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (chunk 16, stride 8) — the
    RAG/embedding prep step that cuts long documents into model-window
    pieces with overlap so no span straddles a boundary unseen.

    Row-local Column math only: chunk starts come from a ``sequence`` over
    the token count, each chunk slices the materialized token array —
    zero shuffles, explode preserves partition locality, and chunk count
    per doc is ceil((n−16)/8)+1 so output scales linearly with corpus
    token count. Both engines compute the chunk count with the same
    trunc-division expression (greatest(0, (n−9) div 8)), so the oracle
    replays chunking exactly, chunk text included."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", tokens("text").alias("toks")
    ).withColumn("n_toks", F.size("toks").cast("bigint"))
    last_idx = F.greatest(
        F.lit(0).cast("bigint"), F.expr(f"(n_toks - {CHUNK_TOKENS - CHUNK_STRIDE + 1}) div {CHUNK_STRIDE}")
    )
    chunks = base.withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0).cast("bigint"), last_idx))
    )
    start = (F.col("chunk_idx") * CHUNK_STRIDE + 1).cast("int")
    chunk_toks = F.slice("toks", start, CHUNK_TOKENS)
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size(chunk_toks).cast("bigint").alias("chunk_len"),
        F.array_join(chunk_toks, " ").alias("chunk_text"),
    )


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: the classic pre-tokenizer classes (letter
    runs, digit runs, single punctuation marks) counted per document — the
    standard cheap estimate of LLM token cost when the real tokenizer is
    too expensive to run over a whole corpus. Pure regexp Column work:
    zero shuffles, whole-stage codegen, and the patterns are dialect-neutral
    (identical under Java regex and RE2)."""
    return _token_classes(load_table(spark, sf_dir, "documents"))


def _token_classes(docs: DataFrame) -> DataFrame:
    """The pre-tokenizer class counters over any (doc_id, text) frame —
    factored out (the _gopher_flagged pattern) so the synthetic-pathology
    test exercises the SAME expressions the operator ships (the fixture
    is digit/punct-free, so only synthetic text pins those classes)."""
    text = F.col("text")
    n_word = F.size(F.regexp_extract_all(text, F.lit("[a-z]+"), 0))
    n_digit = F.size(F.regexp_extract_all(text, F.lit("[0-9]+"), 0))
    n_punct = F.size(F.regexp_extract_all(text, F.lit("[^a-z0-9 ]"), 0))
    return docs.select(
        "doc_id",
        n_word.cast("bigint").alias("n_word_tokens"),
        n_digit.cast("bigint").alias("n_digit_tokens"),
        n_punct.cast("bigint").alias("n_punct_tokens"),
        (n_word + n_digit + n_punct).cast("bigint").alias("n_bpe_tokens"),
    )


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-cluster dedup: documents sharing a winnowing fingerprint
    (min-md5 over 5-token shingles, see text_fingerprint) grouped into
    duplicate clusters — the cheapest near-dup grouping (one agg on doc_id,
    one on fingerprint; no pair enumeration at all). ``keep_doc_id`` is the
    canonical survivor (min doc_id). The full member list is fine at any
    realistic cluster size; a corpus with pathological mega-clusters
    (boilerplate) should cap it with ``slice`` after the sort."""
    fp = text_fingerprint(spark, sf_dir)
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            sorted_ids_csv(F.col("doc_id")).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: minimum md5 over 5-token shingles (winnowing's
    min-hash selection, window = whole doc) plus the distinct-shingle count.
    Identical docs share fingerprints; near-identical docs usually do."""
    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, k=5)
    return sh.groupBy("doc_id").agg(
        F.min(F.md5("shingle")).alias("fingerprint"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


def text_unigram_loglik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average unigram log-likelihood under the corpus's own
    unigram LM — the perplexity-style quality filter (low loglik = unusual
    token mix). Two shuffles: one groupBy(token) builds the LM (map-side
    combined), one groupBy(doc_id) averages the per-token scores. The LM
    joins back by token WITHOUT a broadcast hint: real vocabularies are
    heavy-tailed but can reach 10⁷⁺ rows at corpus scale — dimension-sized
    is not guaranteed, so let AQE pick broadcast when stats allow.

    Determinism: counts are exact integers and each log evaluates on an
    exact rational, but a double MEAN is summation-order-sensitive and
    Spark's partial-aggregation order varies run to run — a mean landing
    on a 6dp rounding boundary can flip between runs (observed once on
    corpus_dsir_weights at sf0.1). So each per-token term rounds to 9dp
    and casts to DECIMAL(28,9) BEFORE the sum (the text_char_entropy
    pattern): decimal addition is exact and order-independent, making the
    mean bit-stable across runs AND engines; the final mean rounds at 6dp.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    lm = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_tok"))
    total = lm.agg(F.sum("n_tok").alias("n_total"))
    scored = (
        tok.join(lm, "token")
        .crossJoin(F.broadcast(total))  # 1-row scalar, the sanctioned shape
        .select(
            "doc_id",
            F.round(
                F.log(F.col("n_tok").cast("double") / F.col("n_total").cast("double")),
                9,
            )
            .cast("decimal(28,9)")
            .alias("ll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        # + 0.0 canonicalizes IEEE negative zero (round of a tiny negative
        # mean yields -0.0 in some engines, 0.0 in others).
        (
            F.round(
                F.sum("ll").cast("double") / F.count(F.lit(1)).cast("double"), 6
            )
            + F.lit(0.0)
        ).alias("avg_loglik"),
    )


def decontaminate_ngram_overlap(
    spark: SparkSession, sf_dir: str, k: int = 8, bench_mod: int = 50
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any k-gram
    with a benchmark set — the standard pre-training hygiene step (e.g.
    13-gram overlap in GPT-3's cleanup; k=8 fits the fixture's doc lengths).
    The fixture's "benchmark" is the deterministic doc_id % ``bench_mod``
    sample standing in for an eval suite loaded from elsewhere.

    Shape: shingle inverted-index semi-join — the corpus side explodes to
    (doc_id, shingle) postings and probes the benchmark's DISTINCT shingle
    set; never a doc×doc pair enumeration, so the cost is linear in corpus
    postings. The benchmark shingle relation is dedup'd before the join
    (an eval suite is small, but no broadcast hint — AQE decides).
    """
    docs = load_table(spark, sf_dir, "documents")
    bench_sh = (
        word_shingles(docs.where(F.col("doc_id") % bench_mod == 0), k=k)
        .select("shingle")
        .distinct()
    )
    corpus_sh = word_shingles(docs.where(F.col("doc_id") % bench_mod != 0), k=k)
    hits = (
        corpus_sh.join(bench_sh, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap_ngrams"))
    )
    return (
        docs.where(F.col("doc_id") % bench_mod != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlap_ngrams", F.lit(0)).cast("bigint").alias(
                "n_overlap_ngrams"
            ),
            (F.coalesce("n_overlap_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-QA artifact over the language-ID heuristic: the
    (labeled, predicted) confusion matrix with per-cell counts and the
    per-label share — how a model's systematic errors are read at corpus
    scale (accuracy alone hides which languages bleed into which).

    Composes the zero-shuffle langid prediction with one tiny aggregate;
    the per-label total rides as a label-partitioned window over the
    already-aggregated cells, so the matrix costs one corpus pass +
    #cells of window work."""
    pred = text_langid(spark, sf_dir).select("labeled_lang", "predicted_lang")
    cells = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    label_total = F.sum("n").over(Window.partitionBy("labeled_lang"))
    return cells.select(
        "labeled_lang",
        "predicted_lang",
        "n",
        (F.col("n").cast("double") / label_total).alias("label_share"),
    )


def source_overlap_matrix(
    spark: SparkSession, sf_dir: str, max_df: int | None = DEFAULT_MAX_DF
) -> DataFrame:
    """Corpus-level source similarity: per source-pair shingle Jaccard —
    the matrix a mixture designer reads to spot near-duplicate sources
    (two crawls of the same site) before assigning sampling weights.

    The source-distinct shingle relation is tiny relative to the corpus
    (one row per distinct (source, shingle)); the pair join is an
    inverted-index self-join on the shingle with the SAME hot-shingle
    document-frequency guard as the dedup family (``max_df``, default
    ``DEFAULT_MAX_DF`` — a shingle in more than that many documents is
    boilerplate, not signal, and its posting list would otherwise grow
    the doc→source projection and the self-join unboundedly at corpus
    scale). After the guard, pair volume per shingle is bounded by
    #sources² — small — and the guard bounds the rest. The DuckDB oracle
    replays the identical df filter, so the guarded values hash-match.
    All three Jaccard terms are exact integers; one double division."""
    docs = load_table(spark, sf_dir, "documents")
    # THREE consumers (per-source sizes + both self-join sides) of the
    # source-distinct shingle relation — materialize it once instead of
    # re-running the shingle explode + df-guard + distinct per consumer
    # (it is tiny relative to the corpus: one row per distinct
    # (source, shingle))
    sh = (
        word_shingles(docs, k=3, max_df=max_df)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct()
        .transform(truncate_lineage)
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("source").alias("source_a"), "shingle")
    b = sh.select(F.col("source").alias("source_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_shingles").alias("n_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select("source_a", "source_b", "n_common", "n_a", "n_b", jac.alias("jaccard"))
    )


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling: documents per power-of-two token-length bucket,
    per language — the length distribution every tokenizer-budget and
    truncation decision is read off of. Bucket = floor(log2(n_tokens)),
    computed as the bit length of the integer (exact — no float log),
    zero-shuffle until the tiny aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens("text")).cast("bigint")
    # floor(log2(n)) == (number of binary digits of n) - 1 for n >= 1,
    # computed exactly via conv(n, 10, 2) — no float log anywhere
    log2_bucket = (
        F.length(F.conv(F.col("n_tokens").cast("string"), 10, 2)) - 1
    ).cast("bigint")
    return (
        docs.select("lang", n_tokens.alias("n_tokens"))
        .select("lang", log2_bucket.alias("log2_bucket"), "n_tokens")
        .groupBy("lang", "log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


def text_tfidf_topk(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Top-k TF-IDF terms per document — the classic keyword/feature
    extraction pass (and the lexical half of hybrid retrieval).

    tf is the exact in-doc count; idf = ln((N+1)/(df+1)) with both counts
    exact integers, so each score is one float product of deterministic
    inputs (no float accumulation anywhere). Ranking compares the score
    ROUNDED to 6dp (ties then break on token ASC) so an ulp of libm
    difference between engines can never flip an ordering the values
    don't justify.

    Scale shape: groupBy(doc_id, token) and groupBy(token) are both
    map-side combined; N is a 1-row broadcast; the df join is left to AQE
    (a real vocabulary is heavy-tailed and can exceed dimension size —
    same reasoning as text_unigram_loglik); the final top-k window
    partitions by doc_id — high cardinality, no skew."""
    docs = load_table(spark, sf_dir, "documents")
    tf = token_counts(docs, "doc_id", alias="tf")
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "doc_id",
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            "tfidf",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


PARAGRAPH_BLOCK_TOKENS = 8


def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style repeated-span removal, reported per document: cut each doc
    into non-overlapping 8-token blocks (the fixtures' "paragraphs" — the
    corpus has no newlines) and mark every block whose exact text already
    occurred earlier in the corpus (first occurrence = lowest (doc_id,
    block_idx)) as a duplicate. C4 drops any three-sentence span seen
    before; this is the same global-first-occurrence rule at block
    granularity.

    Block slicing is row-local Column math (zero shuffle); global first-
    occurrence is ONE row_number window partitioned by block_text — high
    cardinality, well distributed, and the only corpus-wide exchange; the
    per-doc rollup is a map-side-combinable groupBy. At 100 TB block_text
    would be hashed (xxhash64) before the shuffle to cap key width — kept
    as text here so the oracle compares the exact strings."""
    docs = load_table(spark, sf_dir, "documents")
    b = PARAGRAPH_BLOCK_TOKENS
    base = docs.select(
        "doc_id", tokens("text").alias("toks")
    ).withColumn("n_blocks", (F.size("toks") / b).cast("bigint"))
    blocks = base.where(F.col("n_blocks") >= 1).select(
        "doc_id",
        "n_blocks",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_blocks") - 1)).alias(
            "block_idx"
        ),
        "toks",
    )
    block_text = F.array_join(
        F.slice("toks", (F.col("block_idx") * b + 1).cast("int"), b), " "
    )
    w = Window.partitionBy("block_text").orderBy("doc_id", "block_idx")
    marked = blocks.select(
        "doc_id", "n_blocks", "block_idx", block_text.alias("block_text")
    ).withColumn("is_dup", F.row_number().over(w) > 1)
    return (
        marked.groupBy("doc_id")
        .agg(
            F.first("n_blocks").alias("n_blocks"),
            F.sum(F.col("is_dup").cast("bigint")).alias("n_dup_blocks"),
        )
        .select(
            "doc_id",
            "n_blocks",
            "n_dup_blocks",
            (F.col("n_dup_blocks").cast("double") / F.col("n_blocks")).alias(
                "dup_block_frac"
            ),
        )
    )


def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the mean per-token log-ratio between a target-domain unigram LM (here
    the ``lang='en'`` slice) and the raw-corpus unigram LM, with add-1
    smoothing over the shared vocabulary. High weight = looks like the
    target domain; resampling by these weights is the DSIR selection step.

    Both LMs come from ONE map-side-combined groupBy(token) with a
    conditional sum (no second corpus pass); vocabulary size and token
    totals are a 1-row broadcast. Per-token log-ratios round to 9dp and
    sum in DECIMAL(28,9) — exact, order-independent — because a double
    mean flips on rounding boundaries under Spark's run-varying partial
    aggregation order (observed once at sf0.1); the mean rounds at 6dp."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(tokens("text")).alias("token"))
    lm = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_tgt"),
    )
    totals = lm.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("n_raw").alias("nr"),
        F.sum("n_tgt").alias("nt"),
    )
    log_ratio = F.round(
        F.log((F.col("n_tgt") + 1).cast("double") / (F.col("nt") + F.col("v")))
        - F.log((F.col("n_raw") + 1).cast("double") / (F.col("nr") + F.col("v"))),
        9,
    ).cast("decimal(28,9)")
    return (
        tok.join(lm, "token")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # + 0.0: negative-zero canonicalization (see text_unigram_loglik)
            (
                F.round(
                    F.sum(log_ratio).cast("double") / F.count(F.lit(1)).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("avg_log_ratio"),
        )
        .select("doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"), "avg_log_ratio")
    )


def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting step of one BPE merge iteration, lifted to word level:
    frequency of every ADJACENT token pair across the corpus, top-100 with
    dense ranking — what a distributed tokenizer trainer computes each
    round to pick the next merge.

    Pair construction is row-local (transform over an index sequence — no
    self-join, no shuffle before the count); the global count is one
    map-side-combined groupBy; top-100 orders by (count DESC, pair ASC) so
    the cut is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(tokens("text").alias("toks")).where(
        F.size("toks") >= 2
    )
    pairs = base.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                ),
            )
        ).alias("pair")
    )
    counts = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(100)
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return counts.withColumn("rank", F.row_number().over(w).cast("bigint"))


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy — the classic
    gibberish/boilerplate detector (natural prose sits in a narrow entropy
    band; repeated padding scores low, random noise scores high).

    Shape: one explode to (doc_id, char) + one map-side-combinable
    groupBy(doc_id, char) + one groupBy(doc_id) rollup — the same two-
    shuffle profile as text_tfidf_topk, linear in corpus bytes.

    Determinism: entropy = ln(n) − Σ c·ln(c) / n is a float SUM, and
    double addition is order-sensitive — Spark's partial aggregation and
    DuckDB's scan order would disagree in the last ulps. So each c·ln(c)
    term rounds to 9dp and casts to DECIMAL(28,9) BEFORE the sum: decimal
    addition is exact and order-independent, making the aggregate
    bit-identical across engines; the final entropy rounds to 6dp."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).where(F.col("ch") != "")
    per_char = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    term = F.round(F.col("c") * F.log(F.col("c").cast("double")), 9).cast(
        "decimal(28,9)"
    )
    agg = per_char.withColumn("term", term).groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_chars"),
        F.sum("term").alias("s"),
    )
    return agg.select(
        "doc_id",
        "n_chars",
        F.round(
            F.log(F.col("n_chars").cast("double"))
            - F.col("s").cast("double") / F.col("n_chars").cast("double"),
            6,
        ).alias("entropy"),
    )


RAKE_TOP_K = 3


def text_keyword_rake(spark: SparkSession, sf_dir: str, k: int = RAKE_TOP_K) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010), per document: candidate
    phrases are maximal stopword-free token runs; a word's degree is the
    summed length of the phrases containing it (multiplicity counted), its
    score degree/freq; top-k words per doc. Unlike text_tfidf_topk this
    needs NO corpus statistics — each document scores in isolation, which
    is why RAKE variants survive in streaming/low-latency tagging.

    Shape: one posexplode, then every aggregation keys on doc_id (+word /
    +phrase) — high-cardinality, well-distributed, and all map-side
    combinable; the phrase segmentation is a running stopword count over
    (doc_id; pos), sharing the doc_id partitioning. Degree and freq are
    exact integers; score is one exact-int division; ranking carries the
    (score DESC, word ASC) tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "word"))
    stop = F.col("word").isin(STOPWORDS)
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = toks.withColumn("phrase_id", F.sum(stop.cast("int")).over(w_run)).where(~stop)
    phrase_len = seg.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).alias("plen")
    )
    scored = (
        seg.join(phrase_len, ["doc_id", "phrase_id"])
        .groupBy("doc_id", "word")
        .agg(
            F.sum("plen").cast("bigint").alias("degree"),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
        )
        .withColumn(
            "score", F.col("degree").cast("double") / F.col("freq").cast("double")
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("doc_id", "word", "degree", "freq", "score", "rank")
    )


CALIBRATION_BUCKETS = 10


def text_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-score calibration: decile buckets of
    text_quality_score's score with per-decile document counts, score
    bounds, and mean token count — the table you read before picking a
    filter threshold (quality scores are not comparable ACROSS languages,
    which is why the deciles partition by lang).

    The ntile window partitions by lang — per-language sorts, not one
    global sort; at 100 TB calibrate on a per-language sample or swap the
    exact ntile for approx_percentile decile boundaries (same report
    schema, sketch-merged map-side). Ordering carries the unique doc_id
    tie-break; the score is exact-int-ratio arithmetic so both engines
    sort identical doubles; the mean token count is an exact-int ratio
    rounded at 6dp."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "lang", F.col("text"), tokens("text").alias("toks"))
    scored = base.select(
        "doc_id",
        "lang",
        F.size("toks").cast("bigint").alias("n_tokens"),
        quality_components(F.col("text"), F.col("toks"))["score"].alias("q"),
    )
    w = Window.partitionBy("lang").orderBy(F.asc("q"), F.asc("doc_id"))
    return (
        scored.withColumn("decile", F.ntile(CALIBRATION_BUCKETS).over(w).cast("bigint"))
        .groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("q").alias("min_score"),
            F.max("q").alias("max_score"),
            F.round(
                F.sum("n_tokens").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("avg_tokens"),
        )
    )


DSIR_SAMPLE_K = 100


def corpus_dsir_sample(spark: SparkSession, sf_dir: str, k: int = DSIR_SAMPLE_K) -> DataFrame:
    """The SELECTION step DSIR's weights exist for: draw k documents
    weighted by importance via deterministic Gumbel-top-k (Vieira 2014) —
    perturb each doc's log-weight with a Gumbel variate and take the top
    k, which samples WITHOUT replacement proportionally to the weights in
    one distributed pass (no sequential draws, no rejection loop).

    Determinism: the "randomness" is a 52-bit uniform carved from
    md5(doc_id) — u = (h + 0.5)/2^52, an exact rational both engines
    compute identically. The Gumbel term −ln(−ln u) is rounded at 9dp
    BEFORE entering the key (the round-terms-to-9dp pattern from
    corpus_dsir_weights / source_jsd_matrix): the single double addition
    avg + gumbel is then IEEE-exact on identical inputs, and a last-ulp
    libm difference in ln() would have to straddle a 9dp half-boundary AND
    the resulting 1e-9 shift straddle the 6dp key boundary — two
    independent coincidences, vs one under direct 6dp rounding (round-5
    advice; the accepted residual is the 9dp libm boundary itself, the
    same residual every 9dp-rounded float op in this repo carries). The
    6dp key carries a doc_id tie-break and the top-k is a distributed
    TakeOrdered. Composes corpus_dsir_weights (one extra column pass, no
    new corpus scan shape)."""
    w = corpus_dsir_weights(spark, sf_dir)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10).cast(
        "double"
    )
    u = (h + F.lit(0.5)) / F.lit(float(2**52))
    gumbel = F.round(-F.log(-F.log(u)), 9)
    key = F.round(F.col("avg_log_ratio") + gumbel, 6)
    ranked = (
        w.withColumn("gumbel_key", key)
        .orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
        .limit(k)
    )
    w_rank = Window.orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
    return ranked.select(
        "doc_id",
        "avg_log_ratio",
        "gumbel_key",
        F.row_number().over(w_rank).cast("bigint").alias("rank"),
    )


def source_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between every pair of sources' unigram
    distributions — the information-theoretic mixture diagnostic beside
    source_overlap_matrix's lexical Jaccard (overlap says how much text
    is shared; JSD says how differently the sources WRITE — 0 = identical
    distributions, 1 bit = disjoint).

    Shape: one groupBy(source, token) builds all distributions in a
    single corpus pass; the pair space is #sources² (tiny); the per-pair
    vocabulary union and probability lookups are token-keyed equi-joins
    (never doc-level work). Probabilities are exact-int ratios; each JSD
    term rounds to 9dp and sums in DECIMAL(28,9) (a float sum over a
    vocabulary is summation-order-sensitive — the corpus_dsir_weights
    lesson), and the final divergence rounds at 6dp with the −0.0
    canonicalization."""
    docs = load_table(spark, sf_dir, "documents")
    counts = token_counts(docs, "source", alias="c")
    totals = counts.groupBy("source").agg(F.sum("c").alias("tot"))
    t = counts.join(totals, "source").select(
        "source", "token", (F.col("c").cast("double") / F.col("tot")).alias("p")
    )
    srcs = totals.select("source")
    pairs = (
        srcs.select(F.col("source").alias("sa"))
        # explicit broadcast (not just AQE's runtime save): #sources is a
        # handful at any corpus scale, and every other scalar/dim cross in
        # the repo carries the hint — plan stability over optimizer luck
        .crossJoin(F.broadcast(srcs.select(F.col("source").alias("sb"))))
        .where(F.col("sa") < F.col("sb"))
    )
    ta = t.select(F.col("source").alias("sa"), "token", F.col("p").alias("pa"))
    tb = t.select(F.col("source").alias("sb"), "token", F.col("p").alias("pb"))
    vocab = (
        pairs.join(ta.select("sa", "token"), "sa")
        .select("sa", "sb", "token")
        .unionByName(pairs.join(tb.select("sb", "token"), "sb").select("sa", "sb", "token"))
        .distinct()
    )
    j = (
        vocab.join(ta, ["sa", "token"], "left")
        .join(tb, ["sb", "token"], "left")
        .select(
            "sa",
            "sb",
            F.coalesce("pa", F.lit(0.0)).alias("pa"),
            F.coalesce("pb", F.lit(0.0)).alias("pb"),
        )
    )
    m = (F.col("pa") + F.col("pb")) / 2
    term = (
        F.when(F.col("pa") > 0, F.lit(0.5) * F.col("pa") * F.log2(F.col("pa") / m))
        .otherwise(F.lit(0.0))
        + F.when(F.col("pb") > 0, F.lit(0.5) * F.col("pb") * F.log2(F.col("pb") / m))
        .otherwise(F.lit(0.0))
    )
    return (
        j.withColumn("term", F.round(term, 9).cast("decimal(28,9)"))
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vocab_union"),
            (F.round(F.sum("term").cast("double"), 6) + F.lit(0.0)).alias("jsd_bits"),
        )
    )


ZIPF_TOP_N = 200


def token_zipf_fit(spark: SparkSession, sf_dir: str, top_n: int = ZIPF_TOP_N) -> DataFrame:
    """Zipf's-law fit over the corpus token frequency distribution: OLS
    slope/intercept of ln(count) against ln(rank) for the top ``top_n``
    tokens — the one-row corpus-health QA every tokenizer/corpus change
    should watch (natural text sits near slope −1; a slope collapsing
    toward 0 means boilerplate/duplication flattened the distribution,
    a cliff means template text).

    Shape: one map-side-combined groupBy(token) builds the frequency
    table; the top-n cut is a distributed TakeOrdered (count DESC, token
    ASC tie-break — never a full vocabulary sort); the regression runs
    over ``top_n`` rows. Determinism: ln terms round at 9dp; Σx, Σy, Σxy,
    Σx² accumulate in DECIMAL(28,9)/(38,18) (order-independent); the
    closed-form slope/intercept then evaluate on identical doubles and
    round at 6dp."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        token_counts(docs, alias="c").orderBy(F.desc("c"), F.asc("token")).limit(top_n)
    )
    w = Window.orderBy(F.desc("c"), F.asc("token"))
    xy = counts.withColumn("rank", F.row_number().over(w)).select(
        F.round(F.log(F.col("rank").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("c").cast("double")), 9).alias("y"),
    )
    d9 = lambda c: c.cast("decimal(28,9)")  # noqa: E731
    d18 = lambda c: F.round(c, 18).cast("decimal(38,18)")  # noqa: E731
    sums = xy.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(d9(F.col("x"))).cast("double").alias("sx"),
        F.sum(d9(F.col("y"))).cast("double").alias("sy"),
        F.sum(d18(F.col("x") * F.col("y"))).cast("double").alias("sxy"),
        F.sum(d18(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
    )
    n = F.col("n_terms").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        "n_terms",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("zipf_intercept"),
    )


def _heldout_bigram_model(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The held-out bigram LM protocol shared by the add-1 and Kneser-Ney
    scorers: space-split documents, bigrams of docs with ≥ 2 tokens,
    train = even doc_ids, test = odd. Returns (test bigrams (doc_id, w1,
    w2), the train bigram counts c2 (w1, w2, c2), the 1-row train
    vocabulary size v).

    c2 is MATERIALIZED: every scorer reads it from several consumers
    (prefix totals, fan-in types, scalars, the score join), it is
    bigram-TYPE-sized (the model, not the corpus), and re-deriving it
    re-runs the train-side explode+groupBy per consumer."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t"))
    gen = (
        "transform(sequence(1, size(t)-1), "
        "i -> struct(element_at(t, i) AS w1, element_at(t, i+1) AS w2))"
    )
    bigrams = toks.where(F.size("t") >= 2).select(
        "doc_id", F.explode(F.expr(gen)).alias("b")
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    train = bigrams.where(F.col("doc_id") % 2 == 0)
    test = bigrams.where(F.col("doc_id") % 2 == 1)
    c2 = (
        train.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .transform(truncate_lineage)
    )
    vocab = (
        toks.where(F.col("doc_id") % 2 == 0)
        .select(F.explode("t").alias("token"))
        .agg(F.countDistinct("token").alias("v"))
    )
    return test, c2, vocab


def _perplexity_rollup(scored: DataFrame) -> DataFrame:
    """Per-document (n_bigrams, avg_neg_loglik, perplexity) over exact
    DECIMAL(28,9) ln terms ``ll``: the mean rounds at 6dp and the
    perplexity exponentiates that rounded mean (exp of identical doubles
    in every engine)."""
    avg_nll = F.round(
        -(F.sum("ll").cast("double")) / F.count(F.lit(1)).cast("double"), 6
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        avg_nll.alias("avg_neg_loglik"),
    ).select(
        "doc_id",
        "n_bigrams",
        "avg_neg_loglik",
        F.round(F.exp(F.col("avg_neg_loglik")), 6).alias("perplexity"),
    )


def text_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an add-1-smoothed BIGRAM LM trained on
    the even-doc_id half of the corpus and scored on the odd half — the
    held-out form of the quality filter (text_unigram_loglik scores every
    doc under its own corpus LM; a held-out bigram model is what flags
    machine-generated or out-of-domain text that unigram stats miss).

    Convention: P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V) with c(w1) the bigram-
    PREFIX count (Σ_w2 c(w1,w2) — computed from the bigram relation, one
    less corpus pass) and V the train vocabulary size; unseen prefixes
    score 1/V. Scoring docs with < 2 tokens have no bigrams and are
    excluded.

    Shape: bigram/prefix counts are map-side-combined groupBys on token
    keys; the score pass joins test bigrams to both count relations by
    token-pair/token equi-joins WITHOUT broadcast hints (real vocabularies
    can reach 10⁷⁺ rows — AQE may still broadcast when small); V rides as
    a 1-row broadcast scalar. Determinism: each ln term evaluates on an
    exact rational, rounds at 9dp, and sums in DECIMAL(28,9); perplexity
    exponentiates the 6dp-rounded mean (exp of identical doubles)."""
    test, c2, vocab = _heldout_bigram_model(spark, sf_dir)
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored = (
        test.join(c2, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.coalesce("c2", F.lit(0)) + 1).cast("double")
                    / (F.coalesce("c1", F.lit(0)) + F.col("v")).cast("double")
                ),
                9,
            )
            .cast("decimal(28,9)")
            .alias("ll"),
        )
    )
    return _perplexity_rollup(scored)


def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal — the first transform a web-crawl pipeline
    applies before any quality/dedup stage: drop script/style blocks,
    strip tags, decode entities, collapse whitespace. The fixtures carry
    plain text, so each doc is first wrapped in a deterministic HTML
    shell (head/title/script/style plus &amp;-style entities around the
    body) and the stripper must recover EXACTLY the original text —
    ``roundtrip_ok`` is the per-row self-check, and the unit test pins
    all-true (a lossy or over-eager regex breaks it row by row).

    Pure Column regexp chain (Spark regexp_replace replaces all matches;
    the DuckDB mirror passes the 'g' flag) — zero shuffles, zero Python,
    map-only at any crawl size."""
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><script>var x = 1 &amp;&amp; 2;</script>"
              "<style>p { color: red; }</style></head><body>\n<p class=\"main\">"),
        F.col("text"),
        F.lit("</p>\n<div>&copy; src &nbsp;footer&lt;end&gt;</div></body></html>"),
    )
    wrapped = docs.select("doc_id", "text", html.alias("html"))
    c = F.col("html")
    c = F.regexp_replace(c, r"(?s)<script.*?</script>", " ")
    c = F.regexp_replace(c, r"(?s)<style.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<head.*?</head>", " ")
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    # &amp; decodes LAST: decoding it first double-decodes escaped entities
    # ('&amp;lt;' must yield the literal '&lt;', not '<')
    for ent, rep in (("&lt;", "<"), ("&gt;", ">"), ("&nbsp;", " "),
                     ("&copy;", "(c)"), ("&amp;", "&")):
        c = F.regexp_replace(c, ent, rep)
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    cleaned = wrapped.select(
        "doc_id",
        F.length("html").cast("bigint").alias("html_len"),
        c.alias("clean_full"),
        F.size(F.regexp_extract_all(F.col("html"), F.lit("<[^>]*>"), 0))
        .cast("bigint")
        .alias("n_tags"),
        "text",
    )
    # the synthetic shell contributes a known suffix after the body text
    body = F.regexp_replace(F.col("clean_full"), r"\s*\(c\) src\s+footer<end>$", "")
    return cleaned.select(
        "doc_id",
        "html_len",
        F.length("clean_full").cast("bigint").alias("clean_len"),
        "n_tags",
        (body == F.col("text")).alias("roundtrip_ok"),
    )


HASHING_TF_BUCKETS = 1024


def text_hashing_tf(
    spark: SparkSession, sf_dir: str, num_buckets: int = HASHING_TF_BUCKETS
) -> DataFrame:
    """Feature hashing (HashingTF): each token maps to one of
    ``num_buckets`` buckets by hash and per-doc bucket counts form the
    fixed-width sparse feature vector — the vocabulary-free vectorizer
    (SURVEY §7 Phase-3 text list) that needs no fitted dictionary, so it
    streams and scales embarrassingly. Emitted in LONG form (doc_id,
    bucket, tf) like mm_byte_histogram — downstream relational consumers
    and the oracle never see an array column; a dense assembler is one
    groupBy(doc_id, collect+sort) away when an ML library wants vectors.

    The bucket hash is md5-derived (mod 2^10) rather than MLlib's
    murmur3 so the oracle reproduces it exactly; same explode + one
    map-side-combinable groupBy((doc_id, bucket)) shape as
    text_char_entropy — two-level integer keys, no skew (buckets spread
    uniformly), linear at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    bucket = (
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("bigint")
        % num_buckets
    )
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


NOVELTY_BUCKETS = 16
NOVELTY_SHINGLE_K = 3


def text_ngram_novelty(
    spark: SparkSession, sf_dir: str, n_buckets: int = NOVELTY_BUCKETS
) -> DataFrame:
    """Corpus diversity growth curve: docs are split into ``n_buckets``
    equal-width doc_id ranges (the ingestion-order proxy) and each bucket
    reports how many of its distinct k-gram shingles were never seen in any
    earlier bucket — the "how much NEW text does each crawl increment add"
    diagnostic that decides when further crawling stops paying (a flattening
    novel-shingle curve means the corpus is saturating; scaling-law data
    work tracks exactly this before buying more data).

    Shape: one distinct (bucket, shingle) projection; novel counts come from
    a groupBy(shingle).min(bucket) — shingle-keyed, map-side combined,
    linear in corpus size — and the rollup joins three n_buckets-row frames.
    The single scalar (max doc_id, for the bucket width) rides a broadcast
    1-row cross join, the sanctioned control-plane shape. The cumulative
    curve is a window over n_buckets rows — exact integers end to end; the
    one double division (novelty_frac) happens once per output row."""
    docs = load_table(spark, sf_dir, "documents")
    bound = docs.agg(F.max("doc_id").alias("max_id"))
    sh = word_shingles(docs, k=NOVELTY_SHINGLE_K)
    # exact-INTEGER bucket arithmetic: `div` floor-division matches DuckDB's
    # `//` for non-negative ints (a double ratio + floor could disagree at
    # exact-multiple boundaries)
    bucket_expr = F.expr(f"(doc_id * {n_buckets}) div (max_id + 1)").cast("bigint")
    # TWO consumers (per-bucket distinct counts + the first-seen novelty
    # groupBy): materialize the distinct (bucket, shingle) projection once
    # instead of re-running the shingle explode + dedup per consumer (the
    # dedup_ngram_jaccard convention for shingle relations)
    bucketed = (
        sh.crossJoin(F.broadcast(bound))
        .select(bucket_expr.alias("bucket"), "shingle")
        .distinct()
        .transform(truncate_lineage)
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_distinct_shingles")
    )
    novel = (
        bucketed.groupBy("shingle")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_novel_shingles"))
    )
    n_docs = (
        docs.crossJoin(F.broadcast(bound))
        .select(bucket_expr.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    cum = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per_bucket.join(novel, "bucket", "left")
        .join(n_docs, "bucket")
        .select(
            "bucket",
            "n_docs",
            "n_distinct_shingles",
            F.coalesce("n_novel_shingles", F.lit(0)).alias("n_novel_shingles"),
        )
        .withColumn(
            "novelty_frac",
            F.col("n_novel_shingles").cast("double")
            / F.col("n_distinct_shingles").cast("double"),
        )
        .withColumn("cum_novel_shingles", F.sum("n_novel_shingles").over(cum))
    )


def corpus_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility profile per language: tokens per doc and chars
    per token — the first thing checked when sizing a multilingual token
    budget (a language with high chars/token is under-served by the
    tokenizer and its byte budget buys fewer tokens). Pure Column counts
    into one map-side-combinable groupBy(lang); the two ratios divide
    exact integer sums once per output row."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text")).cast("bigint")
    n_chars = F.length("text").cast("bigint")
    return (
        docs.select("lang", n_tok.alias("t"), n_chars.alias("c"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").alias("total_tokens"),
            F.sum("c").alias("total_chars"),
            (F.sum("t").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "avg_tokens_per_doc"
            ),
            (F.sum("c").cast("double") / F.sum("t").cast("double")).alias(
                "chars_per_token"
            ),
        )
    )


PMI_MIN_PAIR_COUNT = 5
PMI_TOP_K = 100


def text_word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information over adjacent word
    pairs — the classic phrase-mining pass (PMI picks "new york" over "of
    the" where raw bigram counts pick the reverse), the statistic behind
    word2vec-era phrase merging and tokenizer-vocabulary candidates.

    Exactness: all counts are integers; the PMI argument assembles as ONE
    exact integer ratio (n_ab·T² / (P·n_a·n_b), both products < 2⁶³ at any
    realistic vocabulary) divided once in double, then one ln, rounded to
    6dp on BOTH sides before ranking — so the (pmi DESC, w1, w2) top-k
    order is engine-identical. Pair/unigram counts are two map-side-
    combinable groupBys; totals ride 1-row broadcast scalars; the top-k is
    a distributed TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("t")).where(F.size("t") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t)-2), "
                "i -> struct(t[i] AS w1, t[i+1] AS w2))"
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    uni = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    pair_counts = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= PMI_MIN_PAIR_COUNT)
    )
    totals = uni.agg(F.sum("n_w").alias("t_tokens"))
    pair_total = pairs.agg(F.count(F.lit(1)).alias("t_pairs"))
    na = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a"))
    nb = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b"))
    pmi = (
        F.round(
            F.log(
                (F.col("n_ab") * F.col("t_tokens") * F.col("t_tokens")).cast(
                    "double"
                )
                / (F.col("t_pairs") * F.col("n_a") * F.col("n_b")).cast("double")
            ),
            6,
        )
        + F.lit(0.0)
    )
    scored = (
        pair_counts.join(F.broadcast(na), "w1")
        .join(F.broadcast(nb), "w2")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(pair_total))
        .select("w1", "w2", "n_ab", "n_a", "n_b", pmi.alias("pmi"))
    )
    top = scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(PMI_TOP_K)
    w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


# Count-min sketch geometry + report size — mirrored in the oracle SQL.
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOP_K = 50


def cms_depth_rows():
    """Depth-index explode (0..CMS_DEPTH−1), aliased ``j`` — half of the
    ONE sketch-layout convention shared by the batch text CMS and the
    streaming watchlist CMS."""
    return F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j")


def cms_bucket(token_col):
    """CMS column index for (depth ``j``, token): md5(j:token) → 60-bit
    integer → % CMS_WIDTH — the other half of the shared layout. A change
    here changes BOTH sketches (and both oracles must follow)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), token_col)),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % F.lit(CMS_WIDTH)
    ).alias("bucket")


def text_heavy_hitters_cms(spark: SparkSession, sf_dir: str, k: int = CMS_TOP_K) -> DataFrame:
    """Count-min-sketch heavy hitters with a per-token error audit — the
    fixed-memory frequency sketch behind "top terms over a stream/shard
    without a full vocabulary shuffle". The sketch is CMS_DEPTH×CMS_WIDTH
    counters (md5-derived row hashes); estimates are the row-wise MIN, so
    they can only OVERcount (collision mass adds) — the report joins the
    estimate against the exact count for the true top-k tokens and shows
    the overestimate each one carries.

    Scale: exact token counts are one map-side-combinable groupBy (needed
    here as ground truth; a pure-sketch deployment would skip it); the
    sketch itself aggregates the COUNTED vocabulary (distinct tokens ×
    CMS_DEPTH rows), never the raw token stream, and the counter table is
    ≤ CMS_DEPTH·CMS_WIDTH rows — broadcast-joined to the candidates. All
    arithmetic is exact integers; determinism is total."""
    docs = load_table(spark, sf_dir, "documents")
    counts = token_counts(docs, alias="true_count")
    depth = cms_depth_rows()
    bucket = cms_bucket(F.col("token"))
    cells = (
        counts.select("token", "true_count", depth)
        .select("true_count", "j", bucket)
        .groupBy("j", "bucket")
        .agg(F.sum("true_count").alias("cell_sum"))
    )
    top = (
        counts.orderBy(F.desc("true_count"), F.asc("token"))
        .limit(k)
        .select("token", "true_count", depth)
        .select("token", "true_count", "j", bucket)
    )
    est = (
        top.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("token", "true_count")
        .agg(F.min("cell_sum").alias("cms_estimate"))
    )
    w = Window.orderBy(F.desc("true_count"), F.asc("token"))
    return est.select(
        "token",
        "true_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("true_count")).alias("overestimate"),
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


# Perplexity-filter sweep thresholds (held-out bigram-LM perplexity).
# Mirrored literally in the oracle's unnest list — sync-pinned.
PPL_SWEEP = (30.5, 30.8, 31.0, 31.5, 32.0)


def corpus_perplexity_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention curve of a perplexity quality filter, per language — the
    tuning table behind "where do we set the LM-quality cutoff?" (CCNet
    and its descendants bucket by LM perplexity; this sweep shows, per
    threshold, how much of each language survives and how clean the
    surviving pool is). Composes the PRODUCTION held-out bigram-LM scorer
    (text_bigram_lm_perplexity — not a reimplementation, the sweep-query
    convention) with a threshold explode + one hash aggregate.

    Determinism: perplexity arrives already 6dp-rounded from the scorer;
    the kept-pool mean uses the DECIMAL(28,9) exact-sum convention and a
    CASE-NULL for empty pools (identical on both engines); kept_frac
    divides two exact counts once."""
    pp = text_bigram_lm_perplexity(spark, sf_dir).select("doc_id", "perplexity")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = pp.join(docs, "doc_id")
    sw = j.select(
        "lang",
        "perplexity",
        F.explode(F.array(*[F.lit(t) for t in PPL_SWEEP])).alias("threshold"),
    )
    kept = F.sum(
        F.when(F.col("perplexity") <= F.col("threshold"), F.lit(1)).otherwise(F.lit(0))
    )
    kept_sum = F.sum(
        F.when(
            F.col("perplexity") <= F.col("threshold"),
            F.col("perplexity").cast("decimal(28,9)"),
        )
    )
    agg = sw.groupBy("threshold", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        kept.cast("bigint").alias("n_kept"),
        kept_sum.alias("_ks"),
    )
    return agg.select(
        "threshold",
        "lang",
        "n_docs",
        "n_kept",
        (F.col("n_kept").cast("double") / F.col("n_docs").cast("double")).alias(
            "kept_frac"
        ),
        F.when(
            F.col("n_kept") > F.lit(0),
            F.round(
                F.col("_ks").cast("double") / F.col("n_kept").cast("double"), 6
            ),
        ).alias("mean_ppl_kept"),
    )


# Content-safety blocklist (token-exact matching — regex word-boundary
# semantics differ across engines; token equality does not). Oracle-pinned.
BLOCKLIST = ("slow", "dup")


def text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist-based content filtering — the safety/compliance gate every
    production corpus pipeline runs (wordlist filters are the first line
    before model-based classifiers; C4 famously dropped any page with a
    banned word). Matching is TOKEN-EXACT, not regex: word-boundary regex
    semantics vary across engines, token equality is portable by
    construction.

    Pure row-local Column math (split + higher-order filter + distinct
    intersect) — zero shuffles, embarrassingly parallel at any corpus
    size. Output per doc: total hits, distinct blocked terms, the 0/1
    drop verdict."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    # Column-level filter over the ONE shared tokenization — no SQL-string
    # interpolation (a quote in a future blocklist entry must not be able
    # to break the expression)
    n_hits = F.size(F.filter(toks, lambda t: t.isin(*BLOCKLIST))).cast("bigint")
    blocked_terms = F.array_intersect(
        F.array_distinct(toks), F.array(*[F.lit(w) for w in BLOCKLIST])
    )
    return docs.select(
        "doc_id",
        "source",
        n_hits.alias("n_hits"),
        F.size(blocked_terms).cast("bigint").alias("n_blocked_terms"),
        F.when(n_hits > F.lit(0), F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias(
            "is_blocked"
        ),
    )


# TextRank co-occurrence support threshold — mirrored in the oracle.
TEXTRANK_MIN_COOC = 5


def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scoring (Mihalcea & Tarau '04): PageRank over the
    corpus-wide adjacent-word co-occurrence graph — the graph-centrality
    complement to the frequency-based keyword passes (TF-IDF ranks by
    document discrimination, RAKE by phrase cohesion, PMI by pair
    surprise; TextRank ranks by how central a word is to the corpus'
    co-occurrence structure).

    Composition, not reimplementation: the word graph feeds
    ``graph.pagerank_on_edges`` — the SAME exact scaled-integer superstep
    machinery graph_pagerank runs (femto-rank bigints, 85/100 integer
    damping), so the ranking is bit-identical across engines and the
    rank tie-break (pr_scaled DESC, word ASC) is total on exact integers.

    Scale: pair extraction is row-local Column math + one
    map-side-combinable groupBy (pair space bounded by vocab²); the
    PageRank frames are vocabulary-sized, tiny relative to the corpus at
    any scale. Output: (word, pr_scaled, pagerank, rank)."""
    from .graph import pagerank_on_edges

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("t")).where(F.size("t") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t)-2), "
                "i -> struct(t[i] AS w1, t[i+1] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    und = (
        pairs.select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= TEXTRANK_MIN_COOC)
    )
    from ..checkpointing import truncate_lineage

    # materialized: pagerank_on_edges consumes the edge frame three ways
    # (outdeg agg, edges_deg join, nodes distinct) — unmaterialized, the
    # corpus tokenize + pair groupBy would re-run per consumer
    edges = (
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .transform(truncate_lineage)
    )
    pr = pagerank_on_edges(edges)
    out = pr.select(F.col("node").alias("word"), "pr_scaled", "pagerank")
    w = Window.orderBy(F.desc("pr_scaled"), F.asc("word"))
    return out.withColumn("rank", F.row_number().over(w).cast("bigint"))


# Vocabulary truncation points for the coverage curve — mirrored in the
# oracle's unnest list (sync-pinned).
VOCAB_CURVE_KS = (1, 2, 4, 8, 16, 32)


def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-sizing readout: for each
    candidate vocabulary size k, what share of ALL token occurrences the
    top-k most frequent tokens cover (the curve whose knee tells you
    where a vocab stops paying; the BPE pair counts and Zipf fit describe
    the distribution, this gives the budget decision directly).

    Exactness: token counts, the (count DESC, token ASC) ranking, and
    cumulative occurrences are exact integers; coverage divides two exact
    integers once per row. Scale: ONE map-side-combinable token count
    over the corpus; the ranking window and the k-point join run on the
    vocabulary-sized frame (materialized once — it feeds the grand total
    AND the k-point rollup). Output: k, n_tokens_used, covered_tokens,
    total_tokens, coverage."""
    from ..checkpointing import truncate_lineage

    docs = load_table(spark, sf_dir, "documents")
    counts = token_counts(docs, alias="n")
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    ranked = counts.select(
        "n",
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.sum("n").over(
            Window.orderBy(F.desc("n"), F.asc("token")).rowsBetween(
                Window.unboundedPreceding, 0
            )
        ).alias("cum"),
    ).transform(truncate_lineage)
    tot = ranked.agg(F.max("cum").alias("total_tokens"))
    ks = spark.createDataFrame([(k,) for k in VOCAB_CURVE_KS], "k bigint")
    # coverage point at k = the cumulative at rank min(k, vocab size)
    best = (
        ranked.crossJoin(F.broadcast(ks))
        .where(F.col("rank") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.max("rank").alias("n_tokens_used"),
            F.max("cum").alias("covered_tokens"),
        )
    )
    return best.crossJoin(F.broadcast(tot)).select(
        "k",
        "n_tokens_used",
        "covered_tokens",
        "total_tokens",
        (
            F.col("covered_tokens").cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("coverage"),
    )


# BM25 retrieval constants — sync-pinned to the oracle literals
# (test_r8_constants_in_sync_with_oracles): Robertson/Lucene defaults.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20
BM25_QUERY = ("spark", "query", "join")


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval for a fixed query — the lexical ranking half of
    hybrid (BM25 + embedding) retrieval, and the standard relevance scorer
    for training-data selection against a seed query set.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)  (Lucene BM25).

    Determinism: tf, df, N, |d| and Σ|d| are exact integers; |d|/avgdl is
    carried as |d|·N/Σ|d| so each per-term score is ONE double expression
    over exact ints (ln parity between engines verified in-container);
    per-doc sums ride the round-to-9dp → DECIMAL(28,9) rail (a 3-float sum
    is already summation-order-sensitive), and the final score rounds to
    6dp before ranking so an ulp can never flip an ordering the values
    don't justify (ties break on doc_id ASC).

    Scale shape: the query-term filter prunes the token stream AT THE SCAN
    (predicate on the exploded token — tf only materializes for query
    terms); doc lengths are one map-side-combined groupBy; N/Σ|d| is a
    1-row broadcast; df is len(query) rows broadcast; the global top-k is
    TakeOrdered (orderBy+limit), never a single-partition window over the
    corpus."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tot = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        F.broadcast(tok.agg(F.count(F.lit(1)).alias("total_tokens")))
    )
    tf = (
        tok.where(F.col("token").isin(*BM25_QUERY))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    k1, b = F.lit(float(BM25_K1)), F.lit(float(BM25_B))
    ratio = (
        F.col("dl").cast("double")
        * F.col("n_docs").cast("double")
        / F.col("total_tokens").cast("double")
    )
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    s = F.round(
        idf
        * (F.col("tf") * (k1 + F.lit(1.0)))
        / (F.col("tf") + k1 * (F.lit(1.0) - b + b * ratio)),
        9,
    )
    term = (
        tf.join(F.broadcast(df_), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", s.cast("decimal(28,9)").alias("s"))
    )
    doc = term.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"),
        F.round(F.sum("s").cast("double"), 6).alias("bm25"),
    )
    top = doc.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(BM25_TOP_K)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "doc_id",
        "n_terms_matched",
        "bm25",
    )


# Boilerplate detection: a shingle repeated across >= this many DISTINCT
# docs of one source is "shared content" (header/footer/template text —
# the thing C4/RefinedWeb strip before training). Sync-pinned to the
# oracle literal.
BOILERPLATE_MIN_DF = 2
BOILERPLATE_SHINGLE_K = 3


def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate census: which 3-gram shingles recur across
    distinct documents of the SAME source, how much of the source's
    shingle inventory they are, and the single most-repeated shingle —
    the detection half of boilerplate stripping (per-source repeated
    headers/footers/templates), and the within-source complement of
    corpus_near_dup_rate_by_source.

    Shape: one distinct (source, doc, shingle) projection; the df census
    is a map-side-combined groupBy(source, shingle); per-source rollups
    group by source; the top shingle is a (df DESC, shingle ASC)
    row_number over the per-source repeated set. Exact-integer counts;
    the one double ratio rounds at 6dp."""
    docs = load_table(spark, sf_dir, "documents")
    # row-local 3-gram shingles (k sync-pinned to the oracle's i..i+2
    # concat); docs shorter than k emit none — the sequence() guard matters
    # (Spark sequence(1, 0) yields [1, 0], not empty). Tokenize ONCE per
    # row, then slice (split() inside the HOF lambda re-evaluates per
    # position — r8 review).
    k = BOILERPLATE_SHINGLE_K
    sh_arr = F.expr(
        f"""
        CASE WHEN size(t) >= {k} THEN
          transform(sequence(1, size(t) - {k - 1}),
            i -> concat_ws(' ', slice(t, i, {k})))
        ELSE CAST(array() AS ARRAY<STRING>) END
        """
    )
    # TWO consumers of the distinct doc-shingle relation (the per-source
    # doc counts and the df aggregate), and THREE of the df aggregate
    # (repeated-set filter, totals, top-shingle window): materialize each
    # once — the former plan re-ran the explode+distinct per consumer
    sh = (
        docs.select("source", "doc_id", tokens("text").alias("t"))
        .select("source", "doc_id", F.explode(sh_arr).alias("sh"))
        .distinct()
        .transform(truncate_lineage_eager)  # consumers land in one plan
    )
    nd = sh.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
    )
    df_ = (
        sh.groupBy("source", "sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .transform(truncate_lineage_eager)  # 3 consumers land in one plan
    )
    rep = df_.where(F.col("df") >= F.lit(BOILERPLATE_MIN_DF))
    totals = df_.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_shingles"),
    )
    stats = rep.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_repeated"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("df"), F.asc("sh"))
    top = (
        rep.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", F.col("sh").alias("top_shingle"), F.col("df").alias("top_df"))
    )
    return (
        nd.join(totals, "source")
        .join(stats, "source", "left")
        .join(top, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            F.coalesce("n_repeated", F.lit(0)).cast("bigint").alias("n_repeated"),
            F.round(
                F.coalesce("n_repeated", F.lit(0)).cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("repeated_frac"),
            "top_shingle",
            F.col("top_df").cast("bigint").alias("top_df"),
        )
    )


# BPE trainer: number of merge rounds learned over the corpus vocabulary
# (sync-pinned to the oracle's chained CTE depth).
BPE_MERGE_ROUNDS = 4


def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING — learn the first ``BPE_MERGE_ROUNDS`` merge
    rules over the corpus vocabulary (Sennrich et al.), completing the
    tokenizer family: text_bpe_pair_counts reports one round of pair
    statistics; this runs the actual iterative algorithm — count adjacent
    symbol pairs weighted by word frequency, merge the argmax pair
    everywhere (left-to-right greedy, non-overlapping), repeat.

    Determinism: pair counts are exact integer sums; the argmax carries a
    total (count DESC, sym_a ASC, sym_b ASC) tie-break; the greedy merge
    is replayed POSITIONALLY on both engines — candidate positions, then
    gaps-and-islands over consecutive candidates keeping odd ranks (the
    only overlap case is a repeated-symbol run, where greedy consumes
    alternate positions). Counting is overlap-inclusive ('ggg' counts
    'gg' twice), the standard BPE statistic.

    Scale shape: everything runs on the VOCABULARY relation (distinct
    words × counts — millions of short rows at web scale, not the corpus),
    produced by one map-side-combined groupBy of the token stream; the
    per-round windows partition by word (short partitions, no skew); the
    per-round argmax is a 3-column TakeOrdered scalar to the driver — the
    k-means/GD control-plane convention; merge application joins the tiny
    kept-position set back via broadcast. Lineage truncated per round."""
    from ..checkpointing import truncate_lineage

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    seq = words.select(
        "w", "wc", F.posexplode(F.split("w", "")).alias("p0", "sym")
    ).select("w", "wc", (F.col("p0") + 1).cast("bigint").alias("pos"), "sym")
    seq = seq.transform(truncate_lineage)
    wnd = Window.partitionBy("w").orderBy("pos")
    merges: list[tuple] = []
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        withnext = seq.withColumn("nxt", F.lead("sym").over(wnd))
        pc = (
            withnext.where(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("wc").alias("cnt"))
        )
        top = pc.orderBy(F.desc("cnt"), F.asc("sym"), F.asc("nxt")).limit(1).collect()
        if not top:  # degenerate corpus: every word is a single symbol
            break
        pa, pb, cnt = top[0].sym, top[0].nxt, int(top[0].cnt)
        merges.append((r, pa, pb, cnt, pa + pb))
        if r == BPE_MERGE_ROUNDS:
            break  # the learned rule is the output; no need to apply it
        cand = withnext.withColumn(
            "isc", (F.col("sym") == F.lit(pa)) & (F.col("nxt") == F.lit(pb))
        )
        c = (
            cand.where("isc")
            .withColumn("rn", F.row_number().over(wnd))
            .withColumn("isl", F.col("pos") - F.col("rn"))
        )
        iw = Window.partitionBy("w", "isl").orderBy("pos")
        keep = (
            c.withColumn("rn2", F.row_number().over(iw))
            .where(F.col("rn2") % 2 == 1)
            .select(F.col("w").alias("kw"), F.col("pos").alias("kpos"))
        )
        merged = (
            cand.alias("s")
            .join(
                F.broadcast(keep.alias("k1")),
                (F.col("s.w") == F.col("k1.kw")) & (F.col("s.pos") == F.col("k1.kpos")),
                "left",
            )
            .join(
                F.broadcast(
                    keep.select(
                        F.col("kw").alias("k2w"), F.col("kpos").alias("k2pos")
                    )
                ),
                (F.col("s.w") == F.col("k2w"))
                & (F.col("s.pos") == F.col("k2pos") + 1),
                "left",
            )
            .where(F.col("k2pos").isNull())
            .select(
                F.col("s.w").alias("w"),
                F.col("s.wc").alias("wc"),
                F.col("s.pos").alias("opos"),
                F.when(
                    F.col("k1.kpos").isNotNull(),
                    F.concat(F.col("s.sym"), F.col("s.nxt")),
                )
                .otherwise(F.col("s.sym"))
                .alias("sym"),
            )
        )
        seq = merged.withColumn(
            "pos",
            F.row_number()
            .over(Window.partitionBy("w").orderBy("opos"))
            .cast("bigint"),
        ).select("w", "wc", "pos", "sym").transform(truncate_lineage)
    return spark.createDataFrame(
        merges,
        "merge_round bigint, sym_a string, sym_b string, "
        "pair_count bigint, merged string",
    )


# Winnowing parameters (Schleimer-Wilkerson-Aiken, the MOSS algorithm):
# k-gram size and window — any shared substring of >= WINNOW_K + WINNOW_W
# − 1 tokens is GUARANTEED to share a selected fingerprint. Sync-pinned
# to the oracle literals.
WINNOW_K = 4
WINNOW_W = 4


def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE winnowing fingerprint selection (MOSS): slide a WINNOW_W
    window over the k-gram hash sequence and keep each window's minimum
    hash, RIGHTMOST position on ties — the selection with the matching
    GUARANTEE (any shared run of ≥ k+w−1 tokens shares a fingerprint)
    that the global-min text_fingerprint cannot give, at the documented
    ~2/(w+1) density. The selected (doc, pos, fp) rows are the exact
    artifact plagiarism/boilerplate matchers consume.

    Column-native: k-gram hashes are row-local (md5-hex → bigint, the
    corpus_split_assign conversion); the per-window argmin-with-rightmost
    tie-break is ONE window pass of max(struct(−h, pos)) (lexicographic
    struct comparison — identical semantics on both engines, probed); the
    distinct collapses windows sharing a selection. One (doc, pos)
    partitioned window shuffle — doc-keyed, linear, zero Python."""
    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE per row, then slice — split() inside the transform
    # lambda is re-evaluated per position (Spark does not hoist
    # row-constant expressions out of HOF lambdas): O(n_tokens²) work on
    # long documents (r8 review)
    toked = docs.select("doc_id", tokens("text").alias("t"))
    sh_arr = F.expr(
        f"""
        CASE WHEN size(t) >= {WINNOW_K} THEN
          transform(sequence(1, size(t) - {WINNOW_K - 1}),
            i -> concat_ws(' ', slice(t, i, {WINNOW_K})))
        ELSE CAST(array() AS ARRAY<STRING>) END
        """
    )
    grams = toked.select(
        "doc_id",
        F.posexplode(sh_arr).alias("p0", "gram"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).cast("bigint").alias("pos"),
        F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("bigint").alias("h"),
    )
    wdoc = Window.partitionBy("doc_id")
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WINNOW_W - 1)
    )
    sel = (
        grams.withColumn("n_grams", F.count(F.lit(1)).over(wdoc))
        .withColumn(
            "s",
            F.max(F.struct((-F.col("h")).alias("negh"), F.col("pos").alias("pos"))).over(
                frame
            ),
        )
        .where(F.col("pos") <= F.col("n_grams") - WINNOW_W + 1)
        .select(
            "doc_id",
            F.col("s.pos").alias("pos"),
            (-F.col("s.negh")).cast("bigint").alias("fp"),
        )
        .distinct()
    )
    return sel


# Kneser-Ney bigram LM: absolute discount (exact rational 3/4) and the
# add-1-smoothed continuation distribution. Sync-pinned to the oracle.
KN_DISCOUNT_NUM, KN_DISCOUNT_DEN = 3, 4


def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an interpolated KNESER-NEY bigram LM
    (train = even doc_ids, score = odd — the text_bigram_lm_perplexity
    protocol): the LM-quality scorer that fixes add-1's known failure on
    frequent-but-unpredictive prefixes by discounting observed bigrams and
    backing off to the CONTINUATION distribution ("in how many contexts
    does w2 appear?"), the standard n-gram smoothing (Kneser & Ney 1995).

        P(w2|w1) = [max(c(w1,w2) − D, 0) + D·N₁₊(w1·)·Pcont(w2)] / c(w1)
        Pcont(w2) = (N₁₊(·w2) + 1) / (N₁₊(··) + V)   (add-1 smoothed so an
                    unseen continuation never hits ln(0) — documented
                    deviation from textbook KN, deterministic)
        unseen prefix: P(w2|w1) = Pcont(w2)

    with D = 3/4 and all counts exact integers (c, prefix totals, fan-out
    and fan-in type counts, bigram-type total, vocabulary size). Each ln
    term evaluates ONE double expression over exact ints (ln parity
    verified in-container), rounds at 9dp and sums in DECIMAL(28,9); the
    perplexity exponentiates the 6dp-rounded mean — the established LM
    determinism rail.

    Shape: all model relations are map-side-combined groupBys over the
    train bigrams; fan-out types fold into the prefix-count relation (same
    key, one shuffle); the score pass joins test bigrams by token-pair /
    token equi-joins with the two scalars on broadcast."""
    test, c2, vocab = _heldout_bigram_model(spark, sf_dir)
    # prefix totals + fan-out type counts share the w1 key: one relation
    c1 = c2.groupBy("w1").agg(
        F.sum("c2").alias("c1"), F.count(F.lit(1)).alias("fanout")
    )
    fanin = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("fanin"))
    scalars = c2.agg(F.count(F.lit(1)).alias("n_types")).crossJoin(F.broadcast(vocab))
    dd = F.lit(float(KN_DISCOUNT_NUM)) / F.lit(float(KN_DISCOUNT_DEN))
    pcont = (
        (F.coalesce("fanin", F.lit(0)) + F.lit(1)).cast("double")
        / (F.col("n_types") + F.col("v")).cast("double")
    )
    # coalesce BEFORE the subtraction: greatest() over a NULL operand is
    # engine-ambiguous (Spark skips NULLs; explicit 0 keeps both engines
    # on max(-D, 0) = 0 for unseen bigrams under a seen prefix)
    seen = (
        F.greatest(
            F.coalesce(F.col("c2"), F.lit(0)).cast("double") - dd, F.lit(0.0)
        )
        + dd * F.col("fanout").cast("double") * pcont
    ) / F.col("c1").cast("double")
    p = F.when(F.col("c1").isNull(), pcont).otherwise(seen)
    scored = (
        test.join(c2, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .join(fanin, "w2", "left")
        .crossJoin(F.broadcast(scalars))
        .select(
            "doc_id",
            F.round(F.log(p), 9).cast("decimal(28,9)").alias("ll"),
        )
    )
    return _perplexity_rollup(scored)


def corpus_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity BUCKETS: per language, the scored pool
    (text_bigram_lm_perplexity's held-out half) splits into head / middle
    / tail by CUMULATIVE TOKEN SHARE in perplexity order — the exact
    recipe CCNet (Wenzek et al.) popularized and most open web-corpus
    pipelines reuse: the cleanest third of tokens is "head", the next
    third "middle", the rest "tail".

    Determinism: docs aggregate per (lang, perplexity) value first (the
    ordered window runs over DISTINCT 6dp perplexity values per language,
    not raw docs), so a tie-group
    lands in ONE bucket as a unit (documented deviation from per-doc
    splitting: deterministic regardless of doc order); boundaries are the
    exact integer comparisons 3·cum ≤ tot and 3·cum ≤ 2·tot on
    DECIMAL(38,0)-widened token sums; the per-bucket mean perplexity
    rides the DECIMAL(28,9) rail.

    Scale: one groupBy to the per-value aggregate, per-lang cumulative
    windows over that aggregate, one broadcast of per-lang totals, one
    final rollup — no raw-doc window anywhere."""
    pp = text_bigram_lm_perplexity(spark, sf_dir).select("doc_id", "perplexity")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(tokens("text")).cast("bigint").alias("ntok")
    )
    j = pp.join(docs, "doc_id")
    # TWO consumers (the per-lang totals and the cumulative window) of the
    # per-(lang, perplexity) aggregate: materialize it once — without this
    # the whole perplexity pipeline under it executes per consumer. The
    # frame is distinct-value-sized, far below the corpus.
    per_v = j.groupBy("lang", "perplexity").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("ntok"),
    ).transform(truncate_lineage)
    wc = (
        Window.partitionBy("lang")
        .orderBy("perplexity")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = per_v.groupBy("lang").agg(F.sum("ntok").alias("tot"))
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cum = per_v.withColumn("cum", F.sum("ntok").over(wc)).join(
        F.broadcast(tot), "lang"
    )
    bucket = (
        F.when(F.lit(3) * d38("cum") <= d38("tot"), F.lit("head"))
        .when(F.lit(3) * d38("cum") <= F.lit(2) * d38("tot"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    agg = (
        cum.select(
            "lang",
            bucket.alias("bucket"),
            "n_docs",
            "ntok",
            "tot",
            (F.col("perplexity").cast("decimal(28,9)") * F.col("n_docs")).alias(
                "psum"
            ),
        )
        .groupBy("lang", "bucket")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
            F.max("tot").alias("tot"),
            F.sum("psum").alias("psum"),
        )
    )
    return agg.select(
        "lang",
        "bucket",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("tot").cast("double")).alias(
            "token_share"
        ),
        F.round(
            F.col("psum").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("mean_perplexity"),
    )


# nDCG ranking-quality evaluation: cutoff depth, the pinned query document,
# and the graded-relevance source (the exact-cosine semantic top-k around
# the query's embedding). Sync-pinned to the oracle literals
# (test_r11_constants_in_sync).
NDCG_K = 20
NDCG_QUERY_VEC = 0


def text_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@20 of the BM25 lexical ranking against exact-cosine semantic
    relevance — the standard ranking-quality readout (is keyword
    retrieval surfacing what the embedding space says is relevant?) that
    completes the retrieval family beside the fused RRF list: RRF
    COMBINES the two rankings, nDCG MEASURES one against the other.

    Graded relevance: rel(d) = 21 − semantic_rank for the exact top-20
    around the query document's embedding (vec_id 0 — both rankings are
    already oracle-backed), 0 otherwise; the evaluated list is BM25's
    top-20 with the query document excluded and positions re-ranked
    consecutively. DCG terms (2^rel − 1)/log2(pos+1) ride the 9dp-DECIMAL
    sum rail (a 20-double sum must not depend on summation order); IDCG
    evaluates the same terms over the ideal 20..1 grade spine; nDCG is
    ONE division.

    Scale shape: both inputs are top-k lists, so everything here is
    constant-size; all corpus-scale work lives in the two underlying
    (already-verified) rankings."""
    from .similarity import sim_topk_cosine

    lex = (
        text_bm25_topk(spark, sf_dir)
        .where(F.col("doc_id") != NDCG_QUERY_VEC)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.asc("rank")))
            .cast("bigint")
            .alias("pos"),
        )
    )
    sem = (
        sim_topk_cosine(spark, sf_dir, top_k=NDCG_K, num_queries=NDCG_QUERY_VEC + 1)
        .where(F.col("query_id") == NDCG_QUERY_VEC)
        .select(
            F.col("neighbor_id").alias("doc_id"),
            (F.lit(NDCG_K + 1) - F.col("rank")).cast("bigint").alias("rel"),
        )
    )
    term = lambda rel, pos: F.round(  # noqa: E731
        (F.pow(F.lit(2.0), rel.cast("double")) - F.lit(1.0))
        / (F.log(pos.cast("double") + F.lit(1.0)) / F.log(F.lit(2.0))),
        9,
    ).cast("decimal(28,9)")
    # ONE pass over the single left join: the overlap count is just the
    # matched-rel count, so a second inner join would re-run both
    # corpus-scale input rankings for a number already in hand (r11
    # review).
    dcg = (
        lex.join(sem, "doc_id", "left")
        .select(
            term(F.coalesce(F.col("rel"), F.lit(0)), F.col("pos")).alias("t"),
            F.col("rel").isNotNull().cast("bigint").alias("hit"),
        )
        .agg(
            F.sum("t").cast("double").alias("dcg"),
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.sum("hit").cast("bigint").alias("n_overlap"),
        )
    )
    spine = spark.range(1, NDCG_K + 1).select(F.col("id").alias("i"))
    idcg = spine.select(
        term(F.lit(NDCG_K + 1) - F.col("i"), F.col("i")).alias("t")
    ).agg(F.sum("t").cast("double").alias("idcg"))
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            F.lit(NDCG_K).cast("bigint").alias("k"),
            "n_eval",
            "n_overlap",
            "dcg",
            "idcg",
            (F.col("dcg") / F.col("idcg")).alias("ndcg"),
        )
    )


# Burrows's Delta function-word budget. Sync-pinned to the oracle literal
# (test_r11_constants_in_sync).
BURROWS_TOP_WORDS = 20


def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows's Delta between corpus sources — the classic stylometric
    distance (Burrows 2002): each source is profiled by its relative
    frequencies of the corpus's top function words, frequencies
    standardize to z-scores across sources, and Delta(a, b) is the mean
    |z_a − z_b| over the word budget. The standard authorship /
    style-drift screen, here answering the curation question "which
    sources write alike?" beside the token-distribution JSD matrix
    (Delta is mean-variance standardized where JSD is distributional).

    Exact evaluation: ONE corpus pass builds the (source, token) count
    relation (checkpointed — the top-word ranking, per-source totals and
    profile counts all derive from it); relative frequencies are one
    double division of exact counts; per-word means/stds ride the
    9dp-DECIMAL moment rail; zero-variance words drop out of the budget
    as NULL z on both engines (and the sample-variance guard requires
    ≥2 sources); the pairwise mean re-rails the |Δz| terms.

    Scale shape: everything after the count groupBy is
    vocabulary × sources sized (the grid here is 20×20); the source-pair
    join runs over #sources² × budget rows — corpus-size independent."""
    from ..checkpointing import truncate_lineage

    docs = load_table(spark, sf_dir, "documents")
    # one corpus pass; three consumers (top words, totals, profiles)
    counts = token_counts(docs, "source", alias="cnt").transform(truncate_lineage)
    top = (
        counts.groupBy("token")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(BURROWS_TOP_WORDS)
        .select("token")
    )
    tot = counts.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens")
    )
    prof = counts.join(F.broadcast(top), "token").select("source", "token", "cnt")
    freqs = (
        tot.crossJoin(F.broadcast(top))
        .join(prof, ["source", "token"], "left")
        .select(
            "source",
            "token",
            (
                F.coalesce(F.col("cnt"), F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("f"),
        )
    )
    r9 = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    stats = freqs.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum(r9(F.col("f"))).alias("s1"),
        F.sum(r9(F.col("f") * F.col("f"))).alias("s2"),
    )
    nsd = F.col("ns").cast("double")
    mu = F.col("s1").cast("double") / nsd
    var = (F.col("s2").cast("double") - nsd * mu * mu) / (nsd - F.lit(1.0))
    word_stats = stats.select(
        "token",
        mu.alias("mu"),
        F.when((F.col("ns") > 1) & (var > 0), F.sqrt(var)).alias("sigma"),
    )
    z = F.when(
        F.col("sigma").isNotNull(), (F.col("f") - F.col("mu")) / F.col("sigma")
    )
    zf = freqs.join(F.broadcast(word_stats), "token").select(
        "source", "token", z.alias("z")
    )
    a = zf.select(
        F.col("source").alias("source_a"), "token", F.col("z").alias("za")
    )
    b = zf.select(
        F.col("source").alias("source_b"), "token", F.col("z").alias("zb")
    )
    return (
        a.join(b, "token")
        .where(F.col("source_a") < F.col("source_b"))
        .where(F.col("za").isNotNull() & F.col("zb").isNotNull())
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            (
                F.sum(r9(F.abs(F.col("za") - F.col("zb")))).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("delta"),
        )
    )


def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing / Chao1 vocabulary-coverage report per source: how much
    token mass belongs to words the sample has NOT seen, and how large the
    true vocabulary plausibly is — the coverage diagnostic an LLM-data
    pipeline reads before trusting a source's token statistics (a high
    unseen mass means the corpus slice undersamples its vocabulary).

    Frequency-of-frequencies machinery: one corpus pass to the
    (source, token) count relation; N (tokens), V (vocab), f1 (hapaxes)
    and f2 (dis legomena) re-aggregate FROM it. Good–Turing unseen mass
    p₀ = f1/N; bias-corrected Chao1 richness V + f1(f1−1)/(2(f2+1)) —
    defined even at f2 = 0. Pure IEEE division (no transcendentals), so
    no rounding is needed anywhere.

    Scale shape: the only raw-row pass is the (source, token) aggregate
    (map-side combinable); everything downstream is vocabulary-sized."""
    docs = load_table(spark, sf_dir, "documents")
    st = token_counts(docs, "source", alias="c")
    rep = st.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("bigint").alias("f2"),
    )
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    return rep.select(
        "source",
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        F.when(
            F.col("n_tokens") > 0, f1 / F.col("n_tokens").cast("double")
        ).alias("p_unseen"),
        (F.col("vocab").cast("double") + f1 * (f1 - 1.0) / (2.0 * (f2 + 1.0))).alias(
            "chao1_vocab"
        ),
    )


def text_quality_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between two independent document quality
    gates — the inter-rater readout a curation pipeline uses to decide
    whether two cheap heuristics are measuring the same thing (high kappa:
    drop one) or complementary (low kappa: keep both). Gate A: character
    volume (n_chars ≥ 250); gate B: token volume (≥ 45 space-split
    tokens) — thresholds chosen so every confusion cell is populated on
    the fixtures at all scales.

    One corpus pass to the four confusion counts (both gates are
    row-local Column math); p_o = (n11+n00)/n,
    p_e = p_A·p_B + (1−p_A)(1−p_B), κ = (p_o − p_e)/(1 − p_e), NULL at
    the p_e = 1 degenerate chance-agreement bound. Pure IEEE division —
    no rounding needed."""
    docs = load_table(spark, sf_dir, "documents")
    a = F.col("n_chars") >= 250
    b = F.size(tokens("text")) >= 45
    agg = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(a & b, 1).otherwise(0)).cast("bigint").alias("n11"),
        F.sum(F.when(a & ~b, 1).otherwise(0)).cast("bigint").alias("n10"),
        F.sum(F.when(~a & b, 1).otherwise(0)).cast("bigint").alias("n01"),
        F.sum(F.when(~a & ~b, 1).otherwise(0)).cast("bigint").alias("n00"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / nd
    pa = (F.col("n11") + F.col("n10")).cast("double") / nd
    pb = (F.col("n11") + F.col("n01")).cast("double") / nd
    pe = pa * pb + (1.0 - pa) * (1.0 - pb)
    return agg.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        po.alias("p_observed"),
        pe.alias("p_chance"),
        F.when(pe < 1.0, (po - pe) / (1.0 - pe)).alias("kappa"),
    )


# ln(2) as a shared literal so neither engine evaluates its own log(2).
_LN2 = 0.6931471805599453


def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between source unigram
    distributions — the symmetric, bounded ([0, ln 2]) distance a mixing
    pipeline reads to know which sources are interchangeable and which
    add diversity (the corpus-level complement of the per-document
    dedup verdicts).

    Decomposition that needs only an INNER token join: with p, q the
    per-source token probabilities, JSD = ½Σ_t p·ln(2p/(p+q)) +
    ½Σ_t q·ln(2q/(p+q)); tokens on one side only contribute p·ln2, so
    JSD = ½·[Σ_shared (p-term + q-term) + ln2·(1 − Σ_shared p) +
    ln2·(1 − Σ_shared q)] — a full-outer pair join never happens. All
    three shared sums ride the DECIMAL(28,9) rail; the final value (one
    ln per term) rounds to 7 decimals, with ln 2 as a shared literal.
    Disjoint-vocabulary pairs come off the pair spine with zero shared
    mass: exactly ln 2.

    Scale shape: one raw-row pass to the (source, token) count relation;
    the token self-join's volume is Σ_t (sources-with-t choose 2) ≤
    vocab × #sources² — corpus-size-INDEPENDENT after the first
    aggregate; the pair spine is #sources²."""
    from ..checkpointing import truncate_lineage

    docs = load_table(spark, sf_dir, "documents")
    tok = token_counts(docs, "source", alias="c").transform(
        truncate_lineage_eager  # totals + both join sides, one plan
    )
    tots = tok.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    t2 = tok.join(F.broadcast(tots), "source").select(
        "source",
        "token",
        (F.col("c").cast("double") / F.col("n").cast("double")).alias("p"),
    )
    ta = t2.select(
        F.col("source").alias("s1"), "token", F.col("p").alias("pa")
    )
    tb = t2.select(
        F.col("source").alias("s2"), "token", F.col("p").alias("pb")
    )
    d28 = lambda x: F.round(x, 9).cast("decimal(28,9)")  # noqa: E731
    pa, pb = F.col("pa"), F.col("pb")
    shared = (
        ta.join(tb, ["token"])
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.sum(
                d28(
                    pa * F.log(2.0 * pa / (pa + pb))
                    + pb * F.log(2.0 * pb / (pa + pb))
                )
            )
            .cast("double")
            .alias("term"),
            F.sum(d28(pa)).cast("double").alias("sp"),
            F.sum(d28(pb)).cast("double").alias("sq"),
            F.count(F.lit(1)).cast("bigint").alias("n_shared_tokens"),
        )
    )
    spine = (
        tots.select(F.col("source").alias("s1"))
        .crossJoin(F.broadcast(tots.select(F.col("source").alias("s2"))))
        .filter(F.col("s1") < F.col("s2"))
    )
    jsd_raw = 0.5 * (
        F.coalesce(F.col("term"), F.lit(0.0))
        + F.lit(_LN2) * (1.0 - F.coalesce(F.col("sp"), F.lit(0.0)))
        + F.lit(_LN2) * (1.0 - F.coalesce(F.col("sq"), F.lit(0.0)))
    )
    # the shared aggregate is pair-spine-sized (≤ #sources²) — broadcast it
    return spine.join(F.broadcast(shared), ["s1", "s2"], "left").select(
        "s1",
        "s2",
        F.coalesce(F.col("n_shared_tokens"), F.lit(0)).alias("n_shared_tokens"),
        F.round(jsd_raw, 7).alias("jsd"),
        F.round(jsd_raw / F.lit(_LN2), 7).alias("jsd_norm"),
    )


def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity panel: type-token ratio, Herdan's C
    (log-log vocabulary growth — the TTR variant that is actually
    comparable across corpus sizes), Yule's K (repeat-rate concentration,
    K = 10⁴·(Σ_m m²·V_m − N)/N²), and Simpson's λ (probability two
    random tokens coincide) — the corpus-QA panel that flags template/
    boilerplate-heavy sources (high K/λ) and vocabulary-thin sources
    (low C) before they skew a training mix.

    One (source, token) corpus pass; Yule rides the frequency-of-
    frequencies re-aggregation (the text_good_turing shape — never a
    second corpus scan); all inputs exact integers (m²V_m in
    DECIMAL(38,0)); ln outputs pin at 7dp before the one C division
    (the established transcendental discipline); every ratio divides
    once in double and rounds at 9dp."""
    from ..checkpointing import truncate_lineage

    docs = load_table(spark, sf_dir, "documents")
    # feeds the totals AND the frequency-of-frequencies re-aggregate
    counts = token_counts(docs, "source", alias="c").transform(truncate_lineage)
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    per_source = counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("v_types"),
        F.sum(d38(F.col("c")) * d38(F.col("c"))).alias("sum_c2"),
    )
    nd = F.col("n_tokens").cast("double")
    vd = F.col("v_types").cast("double")
    ttr = vd / nd
    herdan = F.when(
        (F.col("n_tokens") > 1) & (F.col("v_types") > 0),
        F.round(F.log(vd), 7) / F.round(F.log(nd), 7),
    )
    # Yule's K and Simpson's lambda from the same exact sufficient stats:
    # sum_c2 = Σ m²·V_m = Σ_t c_t²
    yule = F.when(
        F.col("n_tokens") > 0,
        F.lit(10_000.0) * (F.col("sum_c2").cast("double") - nd) / (nd * nd),
    )
    simpson = F.when(
        F.col("n_tokens") > 1,
        (F.col("sum_c2").cast("double") - nd) / (nd * (nd - 1.0)),
    )
    return per_source.select(
        "source",
        "n_tokens",
        "v_types",
        F.round(ttr, 9).alias("ttr"),
        F.round(herdan, 9).alias("herdan_c"),
        F.round(yule, 9).alias("yule_k"),
        F.round(simpson, 9).alias("simpson_lambda"),
    )


# Heaps-law checkpoint count: the doc axis splits into this many equal
# doc-id prefixes; the log-log OLS runs over ≤ this many points.
# Mirrored literally in the DuckDB oracle — sync-pinned.
HEAPS_CHECKPOINTS = 12


def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps/Herdan vocabulary-growth fit V(N) = K·N^β over doc-id-prefix
    checkpoints — the corpus-QA readout that says whether vocabulary is
    still growing (β ≈ 0.4-0.6 for natural text) or has SATURATED
    (β ≈ 0 — template/boilerplate corpora, or a closed synthetic
    vocabulary like this fixture's): the scale-planning companion to
    token_zipf_fit (frequency law) and text_vocab_coverage_curve
    (coverage at a fixed N).

    Exact evaluation: docs bucket into HEAPS_CHECKPOINTS equal doc-id
    prefixes by pure integer arithmetic ((doc_id − dmin)·B // (span+1)
    + 1 — identical on both engines); each token contributes its FIRST
    bucket (min doc_id — one corpus pass); prefix totals N_k / V_k are
    exact cumulative integers over the ≤B-row bucket spine. The log-log
    OLS pins ln at 7dp into DECIMAL(18,7), so every sufficient sum
    (Σx, Σy, Σxy, Σx², Σy² over ≤B points) is an EXACT decimal — slope,
    intercept and r² divide once in double. Degenerate panels (fewer
    than 2 populated checkpoints, zero x-variance, zero y-variance for
    r²) yield NULLs on both engines.

    Scale shape: two corpus passes (per-doc token counts; per-token
    first doc), both map-side combined; everything after is the ≤B-row
    checkpoint spine."""
    docs = load_table(spark, sf_dir, "documents")
    b_lit = F.lit(HEAPS_CHECKPOINTS)
    # NO checkpoint: the exploded token frame is corpus-sized (the house
    # never-checkpoint-corpus-frames rule) — each consumer re-derives it
    # from the documents scan
    from ..checkpointing import truncate_lineage

    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    # range from the un-exploded docs scan (identical: split() yields ≥1
    # token per doc, so every doc_id appears in tok); 1-row frame with
    # THREE consumers (both bucket passes + the spine) — checkpointed so
    # each broadcast replica doesn't re-scan the corpus
    rng = docs.agg(
        F.min("doc_id").alias("dmin"), F.max("doc_id").alias("dmax")
    ).transform(truncate_lineage)
    # TRUE integer division via a − a%b (the quotient ≤ B is tiny, so the
    # one double division is exact) — Spark's `/` is double and DuckDB's
    # CAST(double AS BIGINT) ROUNDS, so a naive mirror would off-by-one on
    # bucket boundaries; a//b is identical on both engines
    def bucket_of(c):
        a = (c - F.col("dmin")) * b_lit
        b = F.col("dmax") - F.col("dmin") + F.lit(1)
        return ((a - F.pmod(a, b)) / b).cast("bigint") + F.lit(1)
    per_doc = (
        tok.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
        .crossJoin(F.broadcast(rng))
        .groupBy(bucket_of(F.col("doc_id")).alias("bkt"))
        .agg(F.sum("nt").cast("bigint").alias("toks"))
    )
    first_doc = (
        tok.groupBy("token")
        .agg(F.min("doc_id").alias("fd"))
        .crossJoin(F.broadcast(rng))
        .groupBy(bucket_of(F.col("fd")).alias("bkt"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_types"))
    )
    spine = spark.range(1, HEAPS_CHECKPOINTS + 1).select(
        F.col("id").cast("bigint").alias("bkt")
    )
    merged = (
        spine.join(per_doc, "bkt", "left")
        .join(first_doc, "bkt", "left")
        .select(
            "bkt",
            F.coalesce("toks", F.lit(0)).alias("toks"),
            F.coalesce("new_types", F.lit(0)).alias("new_types"),
        )
    )
    w = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0)
    # bounded: the ≤HEAPS_CHECKPOINTS-row checkpoint spine
    points = merged.select(
        "bkt",
        F.sum("toks").over(w).cast("bigint").alias("n_k"),
        F.sum("new_types").over(w).cast("bigint").alias("v_k"),
    ).where((F.col("n_k") > 0) & (F.col("v_k") > 0))
    d7 = lambda c: F.round(c, 7).cast("decimal(18,7)")  # noqa: E731
    xy = points.select(
        d7(F.log(F.col("n_k").cast("double"))).alias("x"),
        d7(F.log(F.col("v_k").cast("double"))).alias("y"),
        F.col("n_k").alias("n_k"),
        F.col("v_k").alias("v_k"),
    )
    sums = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.max("n_k").alias("n_tokens"),
        F.max("v_k").alias("vocab"),
    )
    md = F.col("m").cast("double")
    dx = md * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    dy = md * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    num = md * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    beta = F.when((F.col("m") >= 2) & (dx > 0), num / dx)
    intercept = (F.col("sy").cast("double") - beta * F.col("sx").cast("double")) / md
    r2 = F.when(beta.isNotNull() & (dy > 0), num * num / (dx * dy))
    return sums.select(
        F.col("m").alias("n_checkpoints"),
        "n_tokens",
        "vocab",
        F.round(beta, 9).alias("heaps_beta"),
        F.round(F.exp(intercept), 6).alias("heaps_k"),
        F.round(r2, 9).alias("r2"),
    )


# Token-dispersion report size (top tokens by corpus frequency with the
# vocab_topk tie-break). Mirrored literally in the oracle — sync-pinned.
DISPERSION_TOPK = 20


def text_token_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' deviation-of-proportions DP for the corpus's top tokens
    across sources — the corpus-linguistics dispersion readout beside
    raw frequency: DP = ½·Σ_s |v_s − s_s| (v_s = the token's share of
    its own occurrences in source s; s_s = source s's share of all
    tokens) is 0 when a token distributes exactly like the corpus and
    → 1 when it concentrates in one source — the signal that separates
    general vocabulary from source-specific boilerplate at any corpus
    size.

    Exact evaluation: all frequencies are exact integers from ONE
    (token, source) corpus pass; the top-K selection is the vocab_topk
    distributed TakeOrdered idiom (count DESC, token ASC tie-break);
    absent (token, source) cells materialize as zeros via the bounded
    top-K × sources spine; each |v − s| evaluates once in double and
    the ≤#sources-row fold rides the 9dp/DECIMAL(28,9) rail.

    Scale shape: one corpus pass map-side combined to (token, source),
    a re-aggregate to token totals, TakeOrdered top-K, then bounded
    K × #sources spine joins — broadcast throughout."""
    from ..checkpointing import truncate_lineage

    docs = load_table(spark, sf_dir, "documents")
    ts = (
        docs.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("token", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        .transform(truncate_lineage)  # feeds token totals, source totals, cells
    )
    tok_tot = ts.groupBy("token").agg(F.sum("f").cast("bigint").alias("f_tok"))
    top = tok_tot.orderBy(F.desc("f_tok"), F.asc("token")).limit(DISPERSION_TOPK)
    src_tot = ts.groupBy("source").agg(F.sum("f").cast("bigint").alias("f_src"))
    corpus = src_tot.agg(F.sum("f_src").cast("bigint").alias("n_all"))
    cells = (
        top.crossJoin(F.broadcast(src_tot))
        .join(ts, ["token", "source"], "left")
        .crossJoin(F.broadcast(corpus))
        .select(
            "token",
            "f_tok",
            "f_src",
            "n_all",
            F.coalesce("f", F.lit(0)).cast("bigint").alias("f_cell"),
        )
    )
    v = F.col("f_cell").cast("double") / F.col("f_tok").cast("double")
    s = F.col("f_src").cast("double") / F.col("n_all").cast("double")
    rail = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    return (
        cells.groupBy("token")
        .agg(
            F.max("f_tok").alias("n_occurrences"),
            F.sum(F.when(F.col("f_cell") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_sources_present"),
            (F.sum(rail(F.abs(v - s))).cast("double") / F.lit(2.0)).alias("dp_n"),
        )
        .select(
            "token",
            "n_occurrences",
            "n_sources_present",
            F.round("dp_n", 9).alias("dispersion_dp"),
        )
    )
