"""Deduplication operators for large-scale document corpora.

Extension surface mandated beyond the reference (BASELINE.json north-star;
the reference itself has no dedup — SURVEY.md §2.4 "not present"). Five
strategies over the ``documents`` fixture, all JVM-side built-ins:

* exact          — content-hash groupBy (one shuffle on a well-distributed key)
* n-gram Jaccard — shingle inverted-index join (never an all-pairs cross join)
* MinHash + LSH  — 16 min-hashes computed in ONE pass (16 agg columns, no row
                   explosion), banded 4×4 into candidate buckets
* SimHash        — 60-bit signatures from token hashes, Hamming-close pairs
                   via pigeonhole banding (7 blocks of 8-9 bits)
* embedding cosine — quantized integer dot products within a blocking key

Determinism: every hash is md5 (identical across engines); embedding math is
quantized to integers (×1000) so dot products and norms are exact in any
summation order — the resulting cosine is bit-identical between Spark and
the DuckDB oracle.

Scale notes (100 TB): the Jaccard shingle join is linear in shingle
postings; hot shingles (document frequency ≥ ``max_df``) should be dropped
before the join — exposed as a parameter. The SimHash/cosine pair stages
use within-block joins (banding / label blocking); an all-pairs comparison
is never materialized.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..checkpointing import session_memo, truncate_lineage, truncate_lineage_eager
from ..sources.tables import load_table
from .quality import quality_components, token_counts, tokens

MINHASH_NUM_HASHES = 16
MINHASH_BANDS = 4
MINHASH_ROWS_PER_BAND = 4
# 60 bits = 15 md5 hex chars: the widest signature whose unsigned value still
# fits a SIGNED 64-bit integer in every engine (Spark bigint, DuckDB BIGINT) —
# 64 bits would overflow the hex→bigint cast on both sides. Width matters for
# the pigeonhole banding in dedup_simhash: with hamming_threshold 6 the
# signature splits into 7 blocks of 8-9 bits (256-512 distinct keys each),
# so buckets stay small and candidate volume stays O(n). 32 bits gave 4-5-bit
# blocks whose buckets held 1/16th of the corpus — a near-quadratic join
# (round-2 verdict, 6.3x bench regression).
SIMHASH_BITS = 60
DEFAULT_JACCARD_THRESHOLD = 0.08
DEFAULT_COSINE_THRESHOLD = 0.3
DEFAULT_HAMMING_THRESHOLD = 6
EMBED_QUANT_SCALE = 1000
# Hot-shingle cap (document frequency). A shingle shared by n docs yields
# n² candidate pairs in the posting-list join, so one viral shingle melts
# the shuffle at corpus scale. 1000 is far above any real near-dup cluster
# (those share MANY shingles at df ≈ cluster size, tens not thousands) and
# far below boilerplate blast radius, so recall is unaffected while the
# worst posting list is bounded at 10⁶ pairs. Absolute, not a corpus
# fraction: keeps the query deterministic and SF-independent.
DEFAULT_MAX_DF = 1000


def word_shingles(
    docs: DataFrame, k: int = 3, max_df: int | None = None, distinct: bool = True
) -> DataFrame:
    """k-word shingles per document: (doc_id, shingle).

    ``max_df`` drops shingles whose DOCUMENT frequency (distinct doc count,
    regardless of ``distinct``) exceeds the cap — the standard
    guard against quadratic blowup of hot shingles in the posting-list
    join at scale: a single shingle shared by n documents contributes
    n² candidate pairs. ``distinct=False`` skips the set-semantics
    shuffle for consumers where duplicates don't change the answer
    (MinHash: the min over a multiset equals the min over its set) —
    per-partition dedup would only shrink shuffle bytes, but dropping the
    exchange entirely is the bigger win.
    """
    toks = docs.select("doc_id", tokens("text").alias("t")).where(F.size("t") >= k)
    gen = f"transform(sequence(0, size(t)-{k}), i -> concat_ws(' ', slice(t, i+1, {k})))"
    sh = toks.select("doc_id", F.explode(F.expr(gen)).alias("shingle"))
    if distinct:
        sh = sh.distinct()
    if max_df is not None:
        # The cap's semantics are DOCUMENT frequency regardless of
        # ``distinct``. When the relation is already (doc_id, shingle)-unique
        # a plain count IS the document frequency — full map-side partial
        # aggregation, one small exchange. countDistinct over the multiset
        # (the round-2 shape) forced a full-width dedup shuffle.
        if distinct:
            hot = (
                sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") > max_df)
                .select("shingle")
            )
        else:
            # Pigeonhole pre-filter on the multiset: occurrence count ≥
            # document frequency, so shingles with occ ≤ max_df can never be
            # hot. The occ agg combines map-side (cheap exchange of one row
            # per distinct shingle per partition); the exact-df pass then
            # runs only over postings of the few candidate-hot shingles —
            # normally a near-empty relation — instead of the whole corpus.
            # Recomputing the explode for that second pass is map-only work,
            # far cheaper at scale than the full-width dedup shuffle it
            # replaces.
            cand = (
                sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("occ"))
                .where(F.col("occ") > max_df)
                .select("shingle")
            )
            hot = (
                sh.join(cand, "shingle", "left_semi")
                .select("doc_id", "shingle")
                .distinct()
                .groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") > max_df)
                .select("shingle")
            )
        # No explicit broadcast: ``hot`` is fact-derived, so its size is not
        # bounded by a dimension's — a pathological corpus (tiny max_df,
        # boilerplate-heavy text) could make it large. Left-anti shuffle
        # join is the safe default; AQE converts it to broadcast at runtime
        # whenever the relation really is small (the normal case).
        sh = sh.join(hot, "shingle", "left_anti")
    return sh


def shingle_pair_overlap(
    sh: DataFrame, restrict_pairs: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b, c, na, nb) for every co-shingle pair of a
    (doc_id, shingle)-unique relation — the ONE inverted-index core behind
    dedup_ngram_jaccard, dedup_containment, and
    dedup_minhash_error_report (any change to the overlap machinery lands
    in all three at once). ``restrict_pairs`` left-semi-joins the posting
    pair stream on (doc_a, doc_b) BEFORE the count aggregation, so a
    consumer that only needs a known candidate set (the estimator report)
    never aggregates the full pair space."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    stream = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    if restrict_pairs is not None:
        stream = stream.join(
            restrict_pairs.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_semi"
        )
    common = stream.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("c"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the lowest doc_id.

    At scale this is a single shuffle on md5(text) — uniformly distributed,
    no skew; the groupBy gets map-side partial aggregation for free.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def dedup_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = DEFAULT_JACCARD_THRESHOLD,
    k: int = 3,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a shingle inverted-index join.

    jaccard = |A∩B| / (|A| + |B| - |A∩B|) with all three terms exact
    integers, so the double division is bit-identical across engines.
    Hot shingles above ``max_df`` are dropped BEFORE the self-join (and
    before the size agg, so |A| and the intersection agree on the shingle
    universe) — the quadratic-blowup guard that matters at corpus scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    # The shingle relation feeds three consumers (both self-join sides and
    # the per-doc sizes); materialize it once instead of re-running the
    # explode+distinct per consumer. At larger scale this would be a staged
    # parquet write rather than executor-local checkpoint blocks.
    sh = word_shingles(docs, k=k, max_df=max_df).transform(truncate_lineage_eager)
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        shingle_pair_overlap(sh)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


MINHASH_MOD = 2147483647  # 2^31 - 1 (prime)


def minhash_signatures(sh: DataFrame, num_hashes: int = MINHASH_NUM_HASHES) -> DataFrame:
    """MinHash signature per doc, one bigint column per hash function.

    Kirsch-Mitzenmacher construction: ONE md5 per shingle, split into two
    32-bit halves (h1, h2); hash family i = (h1 + i*h2) mod (2^31-1). At
    scale the hashing is the dominant MinHash cost — one digest per shingle
    instead of ``num_hashes`` digests is a 16× cut with equivalent
    collision behavior (Kirsch & Mitzenmacher 2006). All integer math,
    bit-identical in any engine. All ``num_hashes`` minima come from a
    single grouped pass (agg columns, not a row explosion)."""
    m = F.md5("shingle")
    h1 = F.conv(F.substring(m, 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(m, 9, 8), 16, 10).cast("bigint")
    hashed = sh.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    aggs = [
        F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(MINHASH_MOD)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def banded_signature_rows(
    sig: DataFrame,
    n_bands: int = MINHASH_BANDS,
    rows_per_band: int = MINHASH_ROWS_PER_BAND,
) -> DataFrame:
    """(doc_id, sig, band, bkey): one band row per doc from a (doc_id, sig
    array) relation — THE one banding implementation (minhash_candidates
    and dedup_minhash_band_sweep both call it, so the shipped 4×4 path and
    the sweep that evaluates alternatives can never drift apart).

    One scan of sig → ``n_bands`` rows per doc via a row-local array-slice
    explode (a union of per-band selects would re-derive the whole
    signature subtree per branch). The full signature ARRAY rides along
    with each band row so the estimated Jaccard can be computed directly
    on the join output — re-joining the signature table per pair side
    would execute the signature subtree two more times and add two
    shuffles."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.concat_ws(
                    "|",
                    F.transform(
                        F.slice("sig", band * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                ).alias("bkey"),
            )
            for band in range(n_bands)
        ]
    )
    return sig.select("doc_id", "sig", F.explode(band_structs).alias("b")).select(
        "doc_id", "sig", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey")
    )


def banded_candidate_stream(banded: DataFrame) -> DataFrame:
    """(doc_a, doc_b, est) — one row per shared (band, band-key) bucket
    collision (NOT deduplicated; a pair colliding in several bands repeats
    with an identical estimate). The bucket equi-join is the LSH core:
    candidate volume follows bucket occupancy, never all-pairs."""
    a, b = banded.alias("a"), banded.alias("b")
    est = F.size(
        F.filter(F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y), lambda m: m)
    ) / F.lit(float(MINHASH_NUM_HASHES))
    return (
        a.join(b, ["band", "bkey"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            est.alias("est"),
        )
    )


_SIG_CACHE: dict[tuple, DataFrame] = {}


def minhash_signature_table(
    spark: SparkSession, sf_dir: str, max_df: int | None = DEFAULT_MAX_DF
) -> DataFrame:
    """(doc_id, sig array) — THE materialized 16-hash signature table,
    session-memoized per (sf_dir, max_df). The shingle→md5→16-min
    groupBy pipeline under it is the dominant shared cost of the
    whole MinHash family, and THREE consumers used to rebuild it from the
    corpus per query (the shipped 4×4 candidates, the band sweep, the
    b-bit report): whichever runs first pays the build, the rest read
    O(n_docs × 16 bigints) checkpoint blocks — far below the corpus-sized
    frames the memo contract excludes (r13 optimization)."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return (
            minhash_signatures(word_shingles(docs, k=3, max_df=max_df, distinct=False))
            .select(
                "doc_id",
                F.array(*[F.col(f"h{i}") for i in range(MINHASH_NUM_HASHES)]).alias("sig"),
            )
            .transform(truncate_lineage_eager)
        )

    return session_memo(_SIG_CACHE, spark, (sf_dir, max_df), build)


def minhash_candidates(
    spark: SparkSession, sf_dir: str, max_df: int | None = DEFAULT_MAX_DF
) -> DataFrame:
    """Banded-join candidate pairs (doc_a, doc_b, est) BEFORE deduplication —
    the relation whose row count must stay O(n); tests pin a bound on it.
    One row per shared (band, band-key) bucket collision."""
    sig = minhash_signature_table(spark, sf_dir, max_df=max_df)
    return banded_candidate_stream(banded_signature_rows(sig))


_LSH_PAIRS_CACHE: dict[tuple, DataFrame] = {}


def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, max_df: int | None = DEFAULT_MAX_DF
) -> DataFrame:
    """MinHash + LSH banding: candidate pairs from shared (band, band-key)
    buckets, scored by estimated Jaccard (fraction of equal signature slots).

    With 16 hashes in 4 bands of 4 rows, a pair with true Jaccard s collides
    in some band with probability 1-(1-s^4)^4 — the usual S-curve. The band
    join touches only bucket collisions; no all-pairs work. A pair colliding
    in several bands produces duplicate candidate rows with an IDENTICAL
    estimate — max() is just the dedup.

    MATERIALIZED once and session-memoized per (sf_dir, max_df): SEVEN
    consumers (clusters, funnel, lev/ROUGE verify, error report, near-dup
    rate, cluster quality) ride this same pair frame and the shingle→signature→
    banding pipeline is their dominant shared cost. Callers must NOT
    re-truncate it. (Checkpointed frames lose stats: a consumer joining
    this small frame should rely on AQE's runtime size or hint broadcast
    explicitly.)"""
    return session_memo(
        _LSH_PAIRS_CACHE,
        spark,
        (sf_dir, max_df),
        lambda: (
            minhash_candidates(spark, sf_dir, max_df=max_df)
            .groupBy("doc_a", "doc_b")
            .agg(F.max("est").alias("est_jaccard"))
            .transform(truncate_lineage_eager)
        ),
    )


def _simhash_majority(hs: pd.Series) -> pd.Series:
    """Vectorized majority vote over per-token 60-bit hashes → signature.

    Bit j of the signature is 1 iff 2*cnt_j > n_tok, where cnt_j counts
    tokens with bit j set. Batched NumPy: flatten every hash in the Arrow
    batch into one vector, then 60 ``np.add.reduceat`` sweeps (one per bit
    position) against the per-doc offsets — O(total_tokens * 60) tight C
    loops with O(total_tokens) memory, no (tokens x 60) matrix and no
    per-row Python. Replaces a 60-wide ``zip_with`` HOF fold that allocated
    a 60-element array per token per doc in the interpreted expression
    evaluator (round-3 verdict: 3.4x bench regression); values are
    bit-identical — the DuckDB oracle pins them.
    """
    import numpy as np
    import pandas as pd

    out = np.zeros(len(hs), dtype=np.int64)
    null_idx, valid_idx, arrs = [], [], []
    for i, a in enumerate(hs):
        if a is None:
            null_idx.append(i)
        else:
            arr = np.asarray(a, dtype=np.int64)
            # split() of any string yields >=1 token, so size==0 only on
            # exotic inputs; empty majority = all bits lose = signature 0.
            if arr.size:
                valid_idx.append(i)
                arrs.append(arr)
    if arrs:
        lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=len(arrs))
        flat = np.concatenate(arrs)
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        cnts = np.empty((len(lens), SIMHASH_BITS), dtype=np.int64)
        for j in range(SIMHASH_BITS):
            cnts[:, j] = np.add.reduceat((flat >> j) & 1, starts)
        weights = np.int64(1) << np.arange(SIMHASH_BITS, dtype=np.int64)
        out[np.asarray(valid_idx)] = ((2 * cnts > lens[:, None]) * weights).sum(axis=1)
    res = pd.Series(out)
    if null_idx:
        res = res.astype("Int64")
        res.iloc[null_idx] = pd.NA
    return res


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document over distinct tokens.

    Token hash = first 15 hex chars of md5 as an unsigned 60-bit integer
    (portable across engines — fits signed bigint everywhere); each bit
    contributes ±1; signature bit j is 1 iff the signed sum is > 0 —
    equivalently iff 2*cnt_j > n_tok where cnt_j counts set bits.

    SimHash is per-document math, so the whole computation is ROW-LOCAL:
    tokenize + hash stay JVM-side (``transform`` + ``md5`` — cross-engine
    deterministic), and the per-bit majority fold crosses into Python
    exactly once via an Arrow-batched vectorized UDF
    (``_simhash_majority``). No explode (no tokens×docs row blowup), no
    groupBy — a pure map stage with ZERO shuffle that scales embarrassingly
    parallel with input partitions. The former explode+groupBy form shuffled
    one row per (doc, distinct token); the former all-Column fold allocated
    a 60-array per token in the interpreted evaluator. Values are
    bit-identical across all three forms (pytest + DuckDB oracle pin this).
    """
    docs = load_table(spark, sf_dir, "documents")
    hs = F.transform(
        F.array_distinct(tokens("text")),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint"),
    )
    # UDF wrapped here, not at module import: pandas_udf parses its DDL
    # return type against the active session, which need not exist yet.
    majority = F.pandas_udf(_simhash_majority, "long")
    return docs.select("doc_id", majority(hs).alias("simhash"))


def simhash_candidates(
    spark: SparkSession,
    sf_dir: str,
    hamming_threshold: int = DEFAULT_HAMMING_THRESHOLD,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Pigeonhole-banded candidate pairs (doc_a, doc_b, hamming) BEFORE the
    Hamming filter — the relation whose row count must stay O(n); tests pin
    a bound on it. One row per shared (block, block-bits) collision.

    The 60-bit signature is split into ``hamming_threshold + 1`` bit blocks —
    a pair within distance d has at most d differing blocks, so at least one
    of the d+1 blocks is equal (d ≤ 6 needs 7 blocks; 4 would not suffice,
    since 6 flipped bits can touch all 4). Each doc explodes into d+1
    (block_idx, block_bits) rows; candidates come from the equi-join on both.
    Block width (8-9 bits at the default threshold) is what keeps buckets
    small — see the SIMHASH_BITS comment.
    """
    # Guard against degenerate banding: more blocks than bits would yield
    # zero-width blocks whose mask is 0, silently turning the banded join
    # into an all-pairs product. Narrow blocks (< ~6 bits) are the same
    # failure in slow motion, so demand a sane width budget up front.
    if hamming_threshold + 1 > SIMHASH_BITS // 6:
        raise ValueError(
            f"hamming_threshold={hamming_threshold} needs "
            f"{hamming_threshold + 1} blocks over {SIMHASH_BITS} bits; blocks "
            f"narrower than 6 bits degenerate the banded join toward "
            f"all-pairs. Widen SIMHASH_BITS or lower the threshold."
        )
    # Spread the zero-shuffle signature stage (partitioned as the input
    # files) over the cluster, and give the self-join below an exchange to
    # reuse — without it each side re-evaluates the whole signature subtree.
    # Callers that already materialized signatures pass them via ``sig``.
    if sig is None:
        sig = simhash_signatures(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism
        )
    n_blocks = hamming_threshold + 1
    base, rem = divmod(SIMHASH_BITS, n_blocks)
    widths = [base + 1] * rem + [base] * (n_blocks - rem)
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright(F.col("simhash"), offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
                .alias("bits"),
            )
            for i in range(n_blocks)
        ]
    )
    banded = sig.select("doc_id", "simhash", F.explode(blocks).alias("b")).select(
        "doc_id", "simhash", F.col("b.blk").alias("blk"), F.col("b.bits").alias("bits")
    )
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, ["blk", "bits"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
    )


# Crossover for the adaptive join strategy below. The broadcast path is
# O(n²) COMPUTE (though output-only in memory): n=50k → 1.25e9 codegen'd
# xor+popcount pair-evaluations, trivially cheap spread over a cluster; at
# n=1M it would be 5e11 — past that the banded path's shuffle is cheaper.
SIMHASH_BROADCAST_MAX_DOCS = 50_000


_SIMHASH_PAIRS_CACHE: dict[tuple, DataFrame] = {}


def dedup_simhash(
    spark: SparkSession,
    sf_dir: str,
    hamming_threshold: int = DEFAULT_HAMMING_THRESHOLD,
    strategy: str = "auto",
) -> DataFrame:
    """SimHash near-dup pairs: Hamming distance ≤ threshold.

    Adaptive physical strategy (same answer either way; mirrors Spark's own
    broadcast-vs-shuffle join choice):

    * ``broadcast`` — signature table small enough to broadcast: nested-loop
      self-join with the Hamming predicate evaluated INLINE, so only matching
      pairs ever materialize. No shuffle, no candidate blowup; O(n²) compute
      that wins outright below ~SIMHASH_BROADCAST_MAX_DOCS docs.
    * ``banded`` — the 100-TB path: pigeonhole-banded equi-join
      (``simhash_candidates``) + verify. Candidate volume is linear in bucket
      collisions — tiny on realistic corpora where near-dups are sparse. On
      a corpus as dense as the test fixture (~11% of ALL pairs within
      distance 6) ANY correct pair enumeration is inherently quadratic in
      its own output; the scalable representation there is dedup_clusters,
      not a pair list.
    * ``auto`` — broadcast iff the corpus row count is under the crossover.

    MATERIALIZED once and session-memoized per (sf_dir, threshold,
    strategy) (VERDICT r9 ask #2): the signature build + pair scan is the
    dominant shared cost of the SimHash family (dedup_simhash itself,
    dedup_simhash_error_report, and any downstream verify). Callers must NOT re-truncate the result;
    checkpointed frames lose stats, so a consumer joining this frame should
    rely on AQE's runtime sizing or hint broadcast explicitly.
    """
    return session_memo(
        _SIMHASH_PAIRS_CACHE,
        spark,
        (sf_dir, hamming_threshold, strategy),
        lambda: _simhash_pairs_build(spark, sf_dir, hamming_threshold, strategy).transform(
            truncate_lineage_eager
        ),
    )


def _simhash_pairs_build(
    spark: SparkSession,
    sf_dir: str,
    hamming_threshold: int,
    strategy: str,
) -> DataFrame:
    """The un-memoized pair pipeline behind ``dedup_simhash`` (see there
    for strategy semantics)."""
    if strategy == "banded":
        # A pair sharing several equal blocks appears once per shared block
        # with an identical hamming value — distinct() is just the dedup.
        return (
            simhash_candidates(spark, sf_dir, hamming_threshold=hamming_threshold)
            .where(F.col("hamming") <= hamming_threshold)
            .distinct()
        )
    # auto / broadcast: materialize the signature stage ONCE. The zero-
    # shuffle map is partitioned as the input files (possibly one small
    # split), the O(n²) Hamming scan must parallelize regardless, and the
    # broadcast self-join would otherwise evaluate the signature subtree
    # twice (probe + build exchanges don't reuse). One repartition +
    # lineage-truncating checkpoint of n 16-byte rows fixes all three, and makes the
    # ``auto`` row count a metadata read of the materialized result.
    sig = (
        simhash_signatures(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .transform(truncate_lineage_eager)  # probe+build scan it in one plan
    )
    if strategy == "auto" and sig.count() > SIMHASH_BROADCAST_MAX_DOCS:
        return (
            simhash_candidates(spark, sf_dir, hamming_threshold=hamming_threshold, sig=sig)
            .where(F.col("hamming") <= hamming_threshold)
            .distinct()
        )
    a, b = sig.alias("a"), sig.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.doc_id") < F.col("b.doc_id")) & (hamming <= hamming_threshold),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
    )


CLUSTER_EST_THRESHOLD = 0.5
CLUSTER_MAX_ITERATIONS = 15


def sorted_ids_csv(id_col) -> "F.Column":
    """Aggregate expression: member ids → numerically sorted, comma-joined
    STRING — the flat member-list shape every dedup-cluster query emits
    (the driver's pandas canonicalizer sorts scalar columns only; nested
    arrays crash it — see test_no_nested_output_columns). Oracle mirror:
    ``string_agg(CAST(id AS VARCHAR), ',' ORDER BY id)``. Sort BEFORE the
    string cast so order stays numeric ("2" before "10")."""
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(id_col)), lambda x: x.cast("string")
        ),
        ",",
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = CLUSTER_MAX_ITERATIONS,
    round_counter: list | None = None,
) -> DataFrame:
    """Min-label propagation + pointer-jumping connected components (the
    dedup-cluster step).

    ``nodes``: (doc_id); ``edges``: (a, b) undirected pairs. Each node starts
    labeled with itself; every iteration takes
    ``l(u) := min(l(u), min_{v in N(u)} l(v), l(l(u)))`` — edge propagation
    PLUS the pointer-jumping shortcut ``l(l(u))`` (one self-join of the
    label table). Propagation alone advances one hop per round
    (O(diameter) rounds — slow on chain-shaped graphs); the shortcut halves
    every label chain each round, giving the O(log diameter) round count of
    the alternating large-star/small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") while keeping this
    implementation's EXACT convergence argument: labels still only ever
    decrease elementwise, so the Observation label-sum compare remains a
    zero-extra-pass exact fixpoint test (star-contraction would need a
    distributed edge-set equality check instead). The fixpoint is unchanged
    — stability under min-propagation already forces the label constant on
    each component — so results (and oracle hashes) are identical, just
    reached in logarithmically fewer round barriers. The loop is
    driver-controlled but all data stays distributed; ``truncate_lineage``
    (local or reliable checkpoint per ``checkpointing.CHECKPOINT_MODE_CONF``)
    truncates the lineage each round so plan size stays constant — the
    standard shape for iterative algorithms on Spark (GraphX/GraphFrames do
    the same under the hood).

    ``round_counter``: optional list; one element is appended per executed
    round (diagnostics — tests pin the O(log d) round count with it).

    Result: (doc_id, cluster_id) with cluster_id = min doc_id of the
    component — deterministic.
    """
    # Materialize the edge list ONCE, BEFORE mirroring: a union of the raw
    # and swapped branches would execute the upstream pipeline that produced
    # the edges twice (Spark does not dedupe common subtrees across a union),
    # and without any checkpoint every label-propagation iteration would
    # re-execute it again (for dedup_clusters that pipeline is the full
    # MinHash-LSH candidate generation — at 100 TB that would be
    # catastrophic; even at sf0.1 it dominated the runtime).
    e = edges.selectExpr("a", "b").transform(truncate_lineage_eager)  # self-union scans it 2x in one job
    both = e.union(e.selectExpr("b AS a", "a AS b"))
    # Only edge-incident nodes can ever change label: a node in no edge IS
    # its own singleton cluster by construction. Iterating over just the
    # edge endpoints makes each round's relation scale with the number of
    # NEAR-DUP nodes (tiny, even when the corpus is 100 TB) instead of the
    # corpus; singletons are welded back on with one anti join at the end.
    labels = both.select(F.col("a").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    # Convergence check: labels only ever DECREASE (min-propagation), so the
    # total label sum strictly decreases until the fixpoint — comparing sums
    # between rounds detects change. The sum rides as an Observation on the
    # SAME job that materializes each round's checkpoint, so convergence
    # costs zero extra passes (the previous shape ran a separate agg job per
    # round). Summed as decimal(38,0): at 100 TB, node-count × 64-bit labels
    # can exceed the bigint range, and a silent non-ANSI wraparound could
    # fake equality and stop the loop early.
    from ..checkpointing import checkpoint_with_metric
    from .graph import broadcast_max_nodes

    label_sum = F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("label_sum")

    labels, init = checkpoint_with_metric(
        labels, label_sum, F.count(F.lit(1)).alias("n_labels")
    )
    prev_sum = init["label_sum"]
    # Broadcast-strategy census (guide §3.1, ``graph.broadcast_max_nodes``):
    # the label frame is edge-incident-node-sized and constant across
    # rounds; under the cap it broadcasts into the propagation and
    # pointer-jump joins, leaving the edge side unshuffled. Past the
    # threshold the plan is exactly the pre-r14 shuffle shape. The count
    # rides the initial checkpoint job — zero extra passes.
    bcast = init["n_labels"] <= broadcast_max_nodes(labels.sparkSession)
    converged = False
    # max_iter + 1 total rounds: convergence DETECTION needs one no-change
    # round after the last change, so a graph needing exactly max_iter
    # change-rounds (diameter == max_iter) still gets its confirming round
    # instead of a false-positive "did not converge"
    for _ in range(max_iter + 1):
        if round_counter is not None:
            round_counter.append(1)
        lab_side = F.broadcast(labels) if bcast else labels
        prop = (
            lab_side.join(both, labels.doc_id == both.a)
            .select(F.col("b").alias("doc_id"), "cluster_id")
        )
        # Pointer jumping: l(l(u)). Label VALUES are themselves doc_ids of
        # edge-incident nodes (they start as the node ids and only ever copy
        # existing values), so the inner lookup always hits. The self-join
        # reads the round's checkpointed label table twice — no recompute.
        ly = labels.alias("ly")
        shortcut = (
            labels.alias("lx")
            .join(
                F.broadcast(ly) if bcast else ly,
                F.col("lx.cluster_id") == F.col("ly.doc_id"),
            )
            .select(
                F.col("lx.doc_id").alias("doc_id"),
                F.col("ly.cluster_id").alias("cluster_id"),
            )
        )
        new_labels, new_sum = checkpoint_with_metric(
            labels.unionByName(prop)
            .unionByName(shortcut)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id")),
            label_sum,
        )
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # With pointer jumping, max_iter bounds LOG2 of the reachable graph
        # diameter (label chains halve per round), so even the default
        # budget covers any graph a real corpus can produce. Silently
        # returning here would emit non-minimal labels (split components)
        # with no signal — at fixture SFs the parity gate would catch it,
        # at cluster scale nothing would. This is a correctness guard, not
        # a knob.
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds — raise max_iter"
        )
    singletons = (
        nodes.select("doc_id")
        .join(labels, "doc_id", "left_anti")
        .withColumn("cluster_id", F.col("doc_id"))
    )
    return labels.unionByName(singletons)


# Session memo of the per-doc cluster assignment: FOUR registry queries
# consume it (dedup_clusters, corpus_dedup_funnel,
# corpus_near_dup_rate_by_source, dedup_cluster_quality_report) — without
# the memo each one re-runs the full MinHash-LSH + CC chain.
_CLUSTERS_CACHE: dict[tuple, DataFrame] = {}


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: MinHash-LSH candidate pairs with estimated
    Jaccard ≥ 0.5 become edges; connected components give each doc a
    cluster_id (singletons cluster with themselves). The materialized
    assignment is session-memoized per sf_dir."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        pairs = (
            dedup_minhash_lsh(spark, sf_dir)
            .where(F.col("est_jaccard") >= CLUSTER_EST_THRESHOLD)
            .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        )
        return connected_components(docs.select("doc_id"), pairs).transform(
            truncate_lineage_eager
        )

    return session_memo(_CLUSTERS_CACHE, spark, (sf_dir,), build)


def quantized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, qv, nrm): embeddings quantized to integers (×1000).

    Integer quantization is what makes similarity math engine-portable:
    dot products and norms are exact in any summation order.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * EMBED_QUANT_SCALE, 0).cast("bigint"),
    )
    base = emb.select("vec_id", "label", qv.alias("qv"))
    nrm = F.aggregate(
        F.transform(F.col("qv"), lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return base.withColumn("nrm", nrm)


def int_dot(a, b):
    """Exact integer dot product of two bigint array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def int_cosine(a: str, na: str, b: str, nb: str):
    """Cosine of two quantized vector columns ``a``/``b`` with squared
    norms ``na``/``nb``: the exact int_dot over the product of the two
    norm square roots, one operation order everywhere so every engine
    and every caller computes bit-identical doubles."""
    return int_dot(F.col(a), F.col(b)).cast("double") / (
        F.sqrt(F.col(na).cast("double")) * F.sqrt(F.col(nb).cast("double"))
    )


def embedding_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-block pair relation (vec_a, vec_b, label, cosine) BEFORE the
    threshold filter — the quantity that must stay far below all-pairs;
    tests pin a bound on it. Quadratic only within a block, linear in the
    number of blocks."""
    base = quantized_embeddings(spark, sf_dir)
    a = base.select(
        F.col("vec_id").alias("vec_a"), "label", F.col("qv").alias("qa"), F.col("nrm").alias("na")
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"), "label", F.col("qv").alias("qb"), F.col("nrm").alias("nb")
    )
    cos = int_cosine("qa", "na", "qb", "nb")
    return (
        a.join(b, "label")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "label", cos.alias("cosine"))
    )


def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, threshold: float = DEFAULT_COSINE_THRESHOLD
) -> DataFrame:
    """Embedding near-dup pairs: quantized cosine ≥ threshold within a
    blocking key (label). The equi-join on the block key keeps the pair
    space linear per block; at scale the block key would come from LSH
    (see similarity.sim_ann_lsh) rather than a label column.
    """
    return embedding_candidates(spark, sf_dir).where(F.col("cosine") >= threshold)


def keep_lowest_doc_id(df: DataFrame, key: str) -> DataFrame:
    """The rows of ``df`` with the lowest doc_id per ``key`` — the
    min-doc_id keep rule of exact dedup, as ``row_number() over (partition
    by key order by doc_id) = 1``. The ``rn`` column stays on."""
    w = Window.partitionBy(key).orderBy("doc_id")
    return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)


def incremental_split(docs: DataFrame):
    """(existing_hashes, incoming, in_unique) — the shared scaffold of every
    incremental-dedup variant (plain anti-join, Bloom-prefiltered, bucketed
    store): generations from doc_id parity (so the oracle replays the
    split), the store projected to DISTINCT hashes only (16 bytes/doc
    crosses any shuffle, never documents), and the batch deduped within
    itself first (min doc_id survives)."""
    h = F.md5("text").alias("content_hash")
    existing = docs.where(F.col("doc_id") % 2 == 0).select(h).distinct()
    incoming = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "lang", h)
    in_unique = keep_lowest_doc_id(incoming, "content_hash")
    return existing, incoming, in_unique


def incremental_report(
    incoming: DataFrame, counted: list[tuple[str, DataFrame]]
) -> DataFrame:
    """Per-lang admission report: n_incoming plus one count column per
    (name, frame) in ``counted``, left-joined in order with 0-coalescing —
    the single assembly every incremental variant shares (a convention
    change lands in all of them at once)."""
    out = incoming.groupBy("lang").agg(F.count(F.lit(1)).alias("n_incoming"))
    for name, frame in counted:
        out = out.join(
            frame.groupBy("lang").agg(F.count(F.lit(1)).alias(name)), "lang", "left"
        )
    return out.select(
        "lang",
        "n_incoming",
        *[F.coalesce(name, F.lit(0)).alias(name) for name, _ in counted],
    )


def dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: an incoming batch checked against the
    existing corpus's content hashes — the form dedup takes in a RUNNING
    pipeline (history is never re-deduped; each day's batch anti-joins the
    hash store). Scaffold semantics in ``incremental_split``; the report
    counts both rejection classes — within-batch and against-store."""
    docs = load_table(spark, sf_dir, "documents")
    existing, incoming, in_unique = incremental_split(docs)
    accepted = in_unique.join(existing, "content_hash", "left_anti")
    return incremental_report(
        incoming, [("n_after_batch_dedup", in_unique), ("n_accepted", accepted)]
    )


DEFAULT_CONTAINMENT_THRESHOLD = 0.5


def dedup_containment(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = DEFAULT_CONTAINMENT_THRESHOLD,
    k: int = 3,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Shingle CONTAINMENT near-dup pairs: |A∩B| / min(|A|, |B|) — the
    asymmetric companion to Jaccard that catches partial duplication
    (one document embedding another: quotes, concatenated crawls, a doc
    plus boilerplate) which symmetric Jaccard dilutes below threshold
    whenever the container is much larger than the contained.

    Same inverted-index shape as dedup_ngram_jaccard — shingle postings
    self-join, never doc×doc; the identical hot-shingle ``max_df`` guard
    caps the quadratic term. All three quantities are exact integers; the
    single double division is bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, k=k, max_df=max_df).transform(truncate_lineage_eager)
    cont = F.col("c").cast("double") / F.least("na", "nb").cast("double")
    return (
        shingle_pair_overlap(sh)
        .select(
            "doc_a",
            "doc_b",
            F.col("c").cast("bigint").alias("n_common"),
            F.least("na", "nb").cast("bigint").alias("n_smaller"),
            cont.alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def quality_keep_rule(
    text_col: Column, toks_col: Column
) -> tuple[Column, Column, list[Column]]:
    """The quality keep policy shared by the keep-best dedups, as (``q``,
    ``b``, the keep columns):

    * ``q``: the shared quality score (operators/quality.py), 6dp-rounded
      and scaled to an exact bigint, so the struct comparison is exact;
    * ``b``: the group aggregate max(struct(q, −doc_id)) — doc_id enters
      NEGATED so the struct max realizes (quality DESC, doc_id ASC);
    * ``keep_doc_id`` and ``keep_quality`` read back from ``b``."""
    quality = F.round(quality_components(text_col, toks_col)["score"], 6)
    q = F.round(quality * 1000000, 0).cast("bigint").alias("q")
    best = F.max(F.struct(F.col("q"), (-F.col("doc_id")).alias("neg_id"))).alias("b")
    keep = [
        (-F.col("b.neg_id")).cast("bigint").alias("keep_doc_id"),
        (F.col("b.q").cast("double") / F.lit(1000000.0)).alias("keep_quality"),
    ]
    return q, best, keep


def dedup_exact_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a QUALITY keep policy: among identical-content
    copies keep the highest-quality one, not the lowest id — what a real
    curation pipeline wants when duplicates differ in metadata (e.g. the
    copy from the cleaner source wins). "Quality" here is the same
    stopword/uniqueness/length score text_quality_score exposes, computed
    row-locally; identical text ⇒ identical score, so the policy decides
    on the (quality DESC, doc_id ASC) composite and the id tie-break
    actually bites — the keep choice is deterministic either way.

    Same scale shape as dedup_exact (ONE shuffle on the uniform content
    hash); the argmax rides the groupBy as max(struct(...)) — no window,
    no second pass (the encoding is ``quality_keep_rule``'s).
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.col("text"), tokens("text").alias("toks"))
    # THE quality formula (operators/quality.py — shared with
    # text_quality_score / text_quality_calibration, so keep_quality is
    # directly comparable against that query's thresholds/deciles).
    q, best, keep = quality_keep_rule(F.col("text"), F.col("toks"))
    scored = base.select(F.md5("text").alias("content_hash"), "doc_id", q)
    return (
        scored.groupBy("content_hash")
        .agg(best, F.count(F.lit(1)).alias("n_copies"))
        .select("content_hash", *keep, "n_copies")
    )


MINHASH_INCREMENTAL_THRESHOLD = 0.5


def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup admission: an incoming batch (odd doc_ids)
    checked against the existing corpus's MinHash store (even doc_ids) —
    dedup_exact_incremental's running-pipeline form lifted from exact
    hashes to banded signatures, so a lightly-edited re-crawl is caught,
    not just byte-identical ones.

    Candidates come from the SAME banded bucket join as dedup_minhash_lsh
    (no all-pairs work; the store side ships 16 bigints per doc, never
    text). Rejection rule: reject an incoming doc that estimates ≥ 0.5
    Jaccard against ANY store doc (store-rejection), else against any
    LOWER-id incoming doc — whether or not that doc itself survived
    (within-batch rejection). This is deliberately the CONSERVATIVE
    one-join approximation of greedy admission: exact greedy (check only
    against docs already admitted) has a sequential dependency chain and
    needs the iterative CC machinery — over-strict for an admission gate,
    where rejecting a member of a near-dup chain is the intent anyway.
    Per-lang admission report; all counts exact."""
    pairs = dedup_minhash_lsh(spark, sf_dir).where(
        F.col("est_jaccard") >= MINHASH_INCREMENTAL_THRESHOLD
    )
    a_odd = F.col("doc_a") % 2 == 1
    b_odd = F.col("doc_b") % 2 == 1
    rej_store = (
        pairs.where(a_odd != b_odd)
        .select(F.when(a_odd, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_id"))
        .distinct()
        .withColumn("hit_store", F.lit(1))
    )
    rej_batch = (
        pairs.where(a_odd & b_odd)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("hit_batch", F.lit(1))
    )
    docs = load_table(spark, sf_dir, "documents")
    inc = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "lang")
    joined = inc.join(rej_store, "doc_id", "left").join(rej_batch, "doc_id", "left")
    store_hit = F.col("hit_store").isNotNull()
    batch_hit = F.col("hit_batch").isNotNull()
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_incoming"),
        F.sum(store_hit.cast("int")).cast("bigint").alias("n_rejected_store"),
        F.sum((~store_hit & batch_hit).cast("int")).cast("bigint").alias(
            "n_rejected_batch"
        ),
        F.sum((~store_hit & ~batch_hit).cast("int")).cast("bigint").alias("n_accepted"),
    )


def dedup_minhash_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality evaluation: for every banded candidate pair, compare
    the MinHash Jaccard ESTIMATE (signature agreement / 16) against the
    EXACT shingle Jaccard, bucketed by signature-match count — the
    "measure, don't guess" loop for the 16-hash/4×4-band configuration
    (ann_recall_report's counterpart for the dedup sketch). Reading the
    report answers: how biased is the estimator at each agreement level,
    and is 0.5 the right admission threshold?

    The exact side reuses the SHARED inverted-index core
    (shingle_pair_overlap — same hot-shingle guard as the dedup
    operators it evaluates), RESTRICTED to the banded candidate set
    before the pair aggregation: only candidates are ever counted, so
    the exact pass costs candidates, not the full co-shingle pair space.
    Candidates that share no surviving shingle get exact Jaccard 0 via
    the left join. Means use the 9dp-round → DECIMAL(28,9) exact-sum
    pattern, so they are order-independent."""
    # materialize: the candidate keys feed BOTH the restriction semi-join
    # and the final left join
    est = dedup_minhash_lsh(spark, sf_dir)  # memoized + already materialized
    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, k=3, max_df=DEFAULT_MAX_DF).transform(truncate_lineage_eager)
    exact = shingle_pair_overlap(sh, restrict_pairs=est).select(
        "doc_a",
        "doc_b",
        (F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))).alias(
            "true_jac"
        ),
    )
    joined = est.join(exact, ["doc_a", "doc_b"], "left").select(
        F.round(F.col("est_jaccard") * 16, 0).cast("bigint").alias("n_matches"),
        F.col("est_jaccard"),
        F.coalesce("true_jac", F.lit(0.0)).alias("true_jac"),
    )
    dec = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    return (
        joined.groupBy("n_matches")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (
                F.round(
                    F.sum(dec(F.col("true_jac"))).cast("double")
                    / F.count(F.lit(1)).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("avg_true_jaccard"),
            (
                F.round(
                    F.sum(dec(F.abs(F.col("est_jaccard") - F.col("true_jac"))))
                    .cast("double")
                    / F.count(F.lit(1)).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("mean_abs_error"),
        )
    )


SPAN_K = 5  # tokens per matching shingle run (substring-span granularity)


def dedup_substring_spans(
    spark: SparkSession, sf_dir: str, k: int = SPAN_K
) -> DataFrame:
    """Exact SUBSTRING-level duplication map (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", approximated by k-gram run
    merging): for every document, the maximal token spans whose every
    k-shingle also appears in at least one OTHER document — the
    cross-document repeated-span inventory that paragraph/doc-level dedup
    misses (boilerplate sentences inside otherwise-unique documents are the
    classic contamination vector; a downstream pass can cut these spans
    instead of dropping whole documents).

    Approximation contract (COVERAGE semantics): a reported span is a
    maximal run of tokens in which EVERY TOKEN lies inside at least one
    shared k-window (shared = the window's shingle has df ≥ 2 distinct
    docs). Start positions p, p' merge when p' − p ≤ k — exactly the
    condition under which their covered intervals [p, p+k−1], [p', p'+k−1]
    touch or overlap, so the merged span has no uncovered gap. Note this is
    weaker than "every length-k window STARTING in the span is shared":
    two shared windows bridged at gap ≤ k can enclose interior windows
    that are themselves unique — but every enclosed token still belongs to
    some cross-document repeat, which is what makes cutting the span safe.
    Computed with two shuffles instead of a suffix
    array: (1) shingle document frequency — a count over (doc, shingle)
    distinct pairs, fully map-side combinable, NO posting-list self-join
    anywhere so hot shingles cost nothing quadratic; (2) the per-doc
    gaps-and-islands window (partition by doc_id — high cardinality, no
    skew). Both scale linearly in corpus size. All arithmetic is integer
    positions; determinism is structural.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t")).where(
        F.size("t") >= k
    )
    gen = (
        f"transform(sequence(0, size(t)-{k}), "
        f"i -> struct(i AS pos, md5(concat_ws(' ', slice(t, i+1, {k}))) AS sh))"
    )
    pos = toks.select("doc_id", F.explode(F.expr(gen)).alias("p")).select(
        "doc_id",
        F.col("p.pos").cast("bigint").alias("pos"),
        F.col("p.sh").alias("shingle"),
    )
    shared = (
        pos.select("doc_id", "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= 2)
        .select("shingle")
    )
    dup_starts = pos.join(shared, "shingle", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gap_break = (
        F.when(F.col("pos") - F.lag("pos").over(w) > k, F.lit(1))
        .otherwise(F.lit(0))  # first row: lag is null → comparison null → 0
    )
    islands = dup_starts.withColumn("brk", gap_break).withColumn(
        "island", F.sum("brk").over(run)
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("bigint").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def synthetic_urls(docs: DataFrame) -> DataFrame:
    """(doc_id, url, text, toks): a deterministic synthetic URL per document
    — the fixtures carry no URL column, so one is derived from (source,
    doc_id) with the four canonicalization hazards a crawler sees: mixed
    scheme case, optional ``www.``, optional trailing slash, optional
    tracking query string. doc_id % 40 gives the path slug, so documents
    from the same source sharing a slug are the same "page" fetched through
    different URL spellings — the collision population dedup_url_canonical
    exists to collapse."""
    scheme = F.when(F.col("doc_id") % 7 == 0, F.lit("HTTPS://")).otherwise(
        F.lit("https://")
    )
    www = F.when(F.col("doc_id") % 2 == 0, F.lit("www.")).otherwise(F.lit(""))
    slash = F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit(""))
    query = F.when(
        F.col("doc_id") % 5 == 0, F.lit("?utm_source=feed&ref=abc")
    ).otherwise(F.lit(""))
    url = F.concat(
        scheme,
        www,
        F.col("source"),
        F.lit(".example.com/articles/"),
        (F.col("doc_id") % 40).cast("string"),
        slash,
        query,
    )
    return docs.select("doc_id", url.alias("url"), "text", tokens("text").alias("toks"))


def canonicalize_url(url):
    """Canonical URL Column: lowercase, strip scheme, strip leading www.,
    strip the query string, strip one trailing slash — the first-pass
    normalization every web-corpus pipeline runs before URL dedup
    (scheme/host case and tracking params never distinguish pages; a
    trailing slash rarely does). Pure Column regex chain, zero Python."""
    c = F.lower(url)
    c = F.regexp_replace(c, r"^https?://", "")
    c = F.regexp_replace(c, r"^www\.", "")
    c = F.regexp_replace(c, r"\?.*$", "")
    c = F.regexp_replace(c, r"/$", "")
    return c


def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup: group documents by canonical URL and
    keep the highest-quality copy — the cheapest, highest-yield dedup pass
    in a web pipeline (re-crawls of one page through different URL
    spellings are exact or near-exact copies; collapsing them by key costs
    one shuffle and no content comparison at all).

    Keep policy and scale shape are dedup_exact_keep_best's verbatim
    (quality argmax rides the groupBy as max(struct(q, −doc_id)) — one
    shuffle on the canonical-URL key, no window, no second pass); only the
    grouping key changes from content hash to canonical URL. The quality
    score is the shared operators/quality.py formula, 6dp-scaled to exact
    bigints inside the struct comparison."""
    urls = synthetic_urls(load_table(spark, sf_dir, "documents"))
    q, best, keep = quality_keep_rule(F.col("text"), F.col("toks"))
    scored = urls.select(
        canonicalize_url(F.col("url")).alias("canonical_url"), "doc_id", q
    )
    return (
        scored.groupBy("canonical_url")
        .agg(best, F.count(F.lit(1)).alias("n_copies"))
        .select("canonical_url", *keep, "n_copies")
    )


BLOOM_BITS = 65536  # 2^16-bit filter: ~14% fill at sf0.1's 2.5k store keys × 4
# hashes → false-positive rate ≈ 0.04%; at a real 100 TB store this constant
# scales with store cardinality (bits ≈ 10× keys keeps FP < 1%) — the bit
# relation stays ≤ BLOOM_BITS rows regardless, which is what bounds the
# broadcast.
BLOOM_HASHES = 4


def _bloom_positions(hash_col):
    """Four 32-bit slices of the md5 hex, each reduced mod BLOOM_BITS — the
    standard build-k-hashes-from-one-digest trick, exactly reproducible in
    SQL (conv/substr are engine-identical)."""
    return F.array(
        *[
            F.conv(F.substring(hash_col, 1 + j * 8, 8), 16, 10)
            .cast("bigint")
            .__mod__(F.lit(BLOOM_BITS))
            for j in range(BLOOM_HASHES)
        ]
    )


def dedup_exact_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_exact_incremental with a Bloom-filter pre-filter on the store
    side — the shape that survives a 100 TB hash store: the store is never
    shuffled row-for-row against the batch. Instead ONE aggregation folds
    the store's content hashes into ≤ BLOOM_BITS set-bit rows (map-side
    combinable: each task emits its distinct bits, the exchange carries at
    most 8192 rows per task), which broadcast-join against the incoming
    batch's bit probes. Batch docs missing ANY bit are DEFINITELY new and
    skip the expensive membership check entirely; only the "maybe" residue
    (true duplicates plus the sub-0.1% false-positive rate) anti-joins the
    store.

    Output extends dedup_exact_incremental's per-lang report with the
    filter's work profile: n_bloom_maybe (docs that needed the exact
    check). n_accepted is IDENTICAL to the unfiltered operator —
    pinned by tests/test_llm_ops.py and by both queries' driver oracles."""
    docs = load_table(spark, sf_dir, "documents")
    existing, incoming, in_unique = incremental_split(docs)
    # FOUR consumers of the batch-deduped incoming frame (bit probes, the
    # maybe semi-join, the definite-new anti-join, the report count):
    # materialize it once — it is batch-sized by design (the small side of
    # every incremental variant), while re-deriving it re-hashes the batch
    # per consumer
    in_unique = in_unique.transform(truncate_lineage)
    store_bits = (
        existing.select(
            F.explode(_bloom_positions(F.col("content_hash"))).alias("bit")
        )
        .distinct()
        .withColumn("in_store", F.lit(1))
    )
    probes = in_unique.select(
        "doc_id", F.explode(_bloom_positions(F.col("content_hash"))).alias("bit")
    )
    hits = (
        probes.join(F.broadcast(store_bits), "bit", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce("in_store", F.lit(0))).alias("n_hits"))
    )
    # two consumers (semi- and anti-join sides); id-only and residue-sized
    maybe_ids = (
        hits.where(F.col("n_hits") == BLOOM_HASHES)
        .select("doc_id")
        .transform(truncate_lineage)
    )
    maybe = in_unique.join(maybe_ids, "doc_id", "left_semi")
    definite_new = in_unique.join(maybe_ids, "doc_id", "left_anti")
    accepted = definite_new.unionByName(
        maybe.join(existing, "content_hash", "left_anti")
    )
    return incremental_report(
        incoming,
        [
            ("n_after_batch_dedup", in_unique),
            ("n_bloom_maybe", maybe),
            ("n_accepted", accepted),
        ],
    )


BAND_SWEEP = ((2, 8), (4, 4), (8, 2))  # (bands, rows/band) over 16 hashes


def dedup_minhash_band_sweep(
    spark: SparkSession, sf_dir: str, max_df: int | None = DEFAULT_MAX_DF
) -> DataFrame:
    """Candidate volume and admission profile per LSH banding configuration
    — the S-curve tuning table for the 16-hash signature (the probe-count
    sweep's sibling for the dedup sketch): 2×8 banding collides only
    near-identical docs (high precision, low recall), 8×2 floods candidates
    (high recall, low precision); the shipped 4×4 sits between. Reading
    this answers "which banding fits THIS corpus's similarity profile"
    with a measurement instead of the textbook curve 1−(1−s^r)^b.

    The signature table materializes ONCE (it is the expensive pass) and
    re-bands per config — banding is a row-local array slice, so each
    branch costs one small self-join, never a new corpus scan. Per config:
    distinct candidate pairs, pairs whose signature estimate clears the
    0.5 admission threshold, and the 9dp-decimal mean estimate."""
    # the memoized signature table (already materialized): the sweep's
    # three bandings re-slice it row-locally, and a prior/later MinHash
    # query in the same session shares the build
    sig = minhash_signature_table(spark, sf_dir, max_df=max_df)
    parts = []
    for n_bands, rows_per_band in BAND_SWEEP:
        # the SAME banding/collision implementation minhash_candidates
        # ships (banded_signature_rows/banded_candidate_stream) — the sweep
        # measures the production algorithm, not a reimplementation
        cand = banded_candidate_stream(
            banded_signature_rows(sig, n_bands, rows_per_band)
        ).distinct()
        n = F.count(F.lit(1))
        admitted = F.sum(F.when(F.col("est") >= 0.5, 1).otherwise(0))
        mean_est = F.when(
            n > 0,
            F.round(
                F.sum(F.round(F.col("est"), 9).cast("decimal(28,9)")).cast("double")
                / n.cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0))
        parts.append(
            cand.agg(
                F.lit(n_bands).cast("bigint").alias("n_bands"),
                F.lit(rows_per_band).cast("bigint").alias("rows_per_band"),
                n.alias("n_candidates"),
                F.coalesce(admitted, F.lit(0)).cast("bigint").alias("n_admitted"),
                mean_est.alias("mean_est"),
            )
        )
    out = parts[0]
    for nxt in parts[1:]:
        out = out.unionByName(nxt)
    return out


def _dedup_survivors(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(exact_surv, near_surv): the staged keep decision SHARED by
    corpus_dedup_funnel and corpus_dedup_token_savings (r8 review: the
    two reports' "can never disagree about who survived" guarantee must
    be structural, not parallel copy-paste). ``docs`` carries doc_id,
    content_hash plus any payload columns, which ride through both
    stages; exact keeps the min doc_id per content hash, near keeps the
    min exact-SURVIVOR per MinHash cluster (the memoized assignment)."""
    keep_cols = [c for c in docs.columns if c != "content_hash"]
    exact_surv = keep_lowest_doc_id(docs, "content_hash").select(*keep_cols)
    clusters = dedup_clusters(spark, sf_dir)
    near_surv = keep_lowest_doc_id(
        exact_surv.join(clusters, "doc_id"), "cluster_id"
    ).select(*keep_cols)
    return exact_surv, near_surv


def dedup_survivor_counts_by_source(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> DataFrame:
    """(source, n_after_exact, n_after_near): the per-source survivor
    rollup SHARED by corpus_dedup_funnel and corpus_health_report (r8
    review: the rollup was duplicated; survivor attribution must change
    in one place). Sources whose docs all dropped still emit (zeros)."""
    exact_surv, near_surv = _dedup_survivors(spark, sf_dir, docs)
    n_exact = exact_surv.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_after_exact")
    )
    n_near = near_surv.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_after_near")
    )
    return (
        docs.select("source")
        .distinct()
        .join(n_exact, "source", "left")
        .join(n_near, "source", "left")
        .select(
            "source",
            F.coalesce("n_after_exact", F.lit(0)).cast("bigint").alias("n_after_exact"),
            F.coalesce("n_after_near", F.lit(0)).cast("bigint").alias("n_after_near"),
        )
    )


def corpus_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup retention funnel: how many documents survive the
    exact pass, then the near-dup pass — the report a corpus owner reads
    after every re-crawl ("which sources are mostly copies?"), and the
    composition proof that the dedup stages stack without double-dropping.

    Stage semantics: exact keeps the min doc_id per content hash; the
    near stage then keeps, among EXACT SURVIVORS, the min surviving doc
    per MinHash-LSH cluster (dedup_clusters' components) — composing on
    survivors rather than raw docs, exactly as a staged pipeline runs.
    Counts are exact integers; retention divides once per rate.

    Scale shape: one hash groupBy-window (exact), the banded cluster
    machinery (bounded candidates), one cluster-keyed window, one
    per-source rollup — every stage already individually plan-tested; the
    funnel adds two tiny windows and an aggregation, no new corpus scan
    beyond dedup_clusters' own."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("content_hash")
    )
    counts = dedup_survivor_counts_by_source(spark, sf_dir, docs)
    n_docs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return n_docs.join(counts, "source").select(
        "source",
        "n_docs",
        "n_after_exact",
        "n_after_near",
        F.round(
            F.col("n_after_near").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("retention"),
    )


def dedup_simhash_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator QA for the SimHash sketch (dedup_minhash_error_report's
    counterpart): for every Hamming-close candidate pair, compare against
    the EXACT token-set Jaccard (the set SimHash actually sketches),
    bucketed by Hamming distance — answering "what similarity does each
    Hamming level really mean on THIS corpus, and is 6 the right
    threshold?".

    Scale shape: the exact side is CANDIDATE-BOUNDED — each candidate pair
    joins its two per-doc DISTINCT-TOKEN ARRAYS and the intersection is
    one row-local ``array_intersect``, so the cost is Σ_candidates
    (|tokens_a| + |tokens_b|), NEVER the co-token pair space (a stopword
    shared by every document would make a posting-list self-join
    quadratic; here it contributes one array element per side). The array
    form replaced an explode + token-equi-join + re-aggregate chain with
    the same Σ|tokens| bound but a ~|tokens|× row blowup through two
    shuffles — 4× faster at sf0.1, bit-identical (r10). Means use the
    9dp-round → DECIMAL(28,9) exact-sum pattern (order-independent);
    min/max are single-division doubles, deterministic as-is."""
    # dedup_simhash is session-memoized and already lineage-truncated —
    # do NOT re-truncate (the _LSH_PAIRS_CACHE consumer rule).
    pairs = dedup_simhash(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.array_distinct(tokens("text")).alias("toks"))
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    joined = (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            F.col("hamming").cast("bigint").alias("hamming"),
            F.coalesce(
                inter.cast("double")
                / (F.size("ta") + F.size("tb") - inter).cast("double"),
                F.lit(0.0),
            ).alias("true_jac"),
        )
    )
    dec = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    return joined.groupBy("hamming").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (
            F.round(
                F.sum(dec(F.col("true_jac"))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("avg_true_jaccard"),
        (F.min("true_jac") + F.lit(0.0)).alias("min_true_jaccard"),
        (F.max("true_jac") + F.lit(0.0)).alias("max_true_jaccard"),
    )


def corpus_near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplication rate per source — the provenance diagnostic that
    tells you WHICH feed is flooding the corpus with near-dups (a crawl
    with a 40% dup rate gets a different crawl policy, not just a dedup
    pass). Composes dedup_clusters' full machinery: a doc is "near-dup"
    when its cluster has more than one member; the rollup is one
    broadcast-scale join chain over the per-doc cluster assignment.

    Exactness: counts are integers; the single double division per source
    happens once (same expression in the oracle)."""
    cc = dedup_clusters(spark, sf_dir)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    flags = cc.join(sizes, "cluster_id").select(
        "doc_id", (F.col("sz") > 1).cast("int").alias("is_dup")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        docs.join(flags, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_dup").cast("bigint").alias("n_near_dup"),
            (
                F.sum("is_dup").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("near_dup_frac"),
        )
    )


def dedup_cluster_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster cohesion QA over the near-dup clusters: size, how many
    LSH-confirmed pairs (est_jaccard ≥ threshold) the cluster actually
    contains, their mean estimate, and the edge density
    n_pairs / C(size,2) — the report that separates tight duplicate
    groups (density ≈ 1) from chains glued together by transitivity
    (density ≪ 1, the classic over-merging symptom that argues for a
    higher admission threshold or cluster splitting).

    Composes dedup_clusters (assignments) with the SAME candidate pairs
    that built it; both endpoints of every admitted pair share a cluster
    by construction, so mapping pairs to clusters is one doc-keyed join.
    Exactness: counts and the density numerator/denominator are integers
    (one double division); the mean estimate uses the 9dp-round →
    DECIMAL(28,9) pattern."""
    # Assignments come from the memoized dedup_clusters frame (one chain
    # per session); only the admitted-pair relation is recomputed here —
    # the rollup needs the est_jaccard VALUES, which the assignment
    # deliberately does not carry.
    cc = dedup_clusters(spark, sf_dir)
    pairs = dedup_minhash_lsh(spark, sf_dir).where(
        F.col("est_jaccard") >= CLUSTER_EST_THRESHOLD
    )
    sizes = (
        cc.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .where(F.col("cluster_size") > 1)
    )
    mapped = pairs.join(
        cc.select(F.col("doc_id").alias("doc_a"), "cluster_id"), "doc_a"
    )
    dec = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    per_cluster = mapped.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (
            F.round(
                F.sum(dec(F.col("est_jaccard"))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("avg_est_jaccard"),
    )
    return sizes.join(per_cluster, "cluster_id", "left").select(
        "cluster_id",
        "cluster_size",
        F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
        "avg_est_jaccard",
        (
            (F.coalesce("n_pairs", F.lit(0)) * 2).cast("double")
            / (F.col("cluster_size") * (F.col("cluster_size") - 1)).cast("double")
        ).alias("edge_density"),
    )


# Verify-stage threshold: normalized edit distance (lev / max len) at or
# below this confirms a near-duplicate candidate. Oracle-mirrored.
LEV_VERIFY_NORM_MAX = 0.2


def dedup_minhash_lev_verify(
    spark: SparkSession, sf_dir: str, max_df: int | None = DEFAULT_MAX_DF
) -> DataFrame:
    """Candidate-then-verify near-dup detection — the production two-stage
    shape (MinHash/LSH proposes, an exact measure confirms): sketch-based
    candidates are cheap but probabilistic, so pipelines that DELETE data
    verify each candidate pair against the actual text before acting.
    The verify stage here is normalized Levenshtein (edit distance over
    the longer length), the standard confirmation for near-identical
    documents.

    Cost shape: the expensive O(len²) edit distance runs ONLY on the LSH
    candidate set (banded-join volume, O(n) by the max_df guard), never
    on all pairs — that ordering is the entire point of the pattern. Both
    engines compute the identical integer edit distance; the normalized
    ratio divides once in double and rounds at 6dp.

    Output per candidate pair: the sketch estimate, the exact distance,
    lengths, the normalized distance, and the confirm verdict (0/1)."""
    cand = dedup_minhash_lsh(spark, sf_dir, max_df=max_df)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    j = cand.join(a, "doc_a").join(b, "doc_b")
    lev = F.levenshtein(F.col("text_a"), F.col("text_b")).cast("bigint")
    len_a = F.length("text_a").cast("bigint")
    len_b = F.length("text_b").cast("bigint")
    norm = F.round(
        lev.cast("double") / F.greatest(len_a, len_b).cast("double"), 6
    )
    return j.select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        lev.alias("lev_dist"),
        len_a.alias("len_a"),
        len_b.alias("len_b"),
        norm.alias("norm_lev"),
        F.when(norm <= F.lit(LEV_VERIFY_NORM_MAX), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_dup"),
    )


def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality keep policy over NEAR-DUP clusters — the minhash analogue of
    dedup_exact_keep_best: within each multi-member cluster keep the
    highest-quality member (near-dups, unlike exact dups, genuinely differ
    in quality, so the policy picks real winners here). The per-doc score
    is THE shared quality formula (operators/quality.py), 6dp-rounded and
    bigint-scaled so the argmax struct comparison is exact; the composite
    (quality DESC, doc_id ASC) makes the choice total.

    Rides the memoized dedup_clusters assignment (no chain re-run); the
    scoring is row-local Column math; the selection is one
    max(struct(q, −doc_id)) hash aggregation per cluster — no window, no
    second pass; members flatten to the sorted-csv scalar shape."""
    cc = dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens("text").alias("toks")
    )
    q, best, keep = quality_keep_rule(F.col("text"), F.col("toks"))
    scored = cc.join(docs.select("doc_id", q), "doc_id")
    agg = scored.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        best,
        sorted_ids_csv(F.col("doc_id")).alias("member_ids"),
    )
    return agg.where(F.col("n_members") > 1).select(
        "cluster_id",
        F.col("n_members").cast("bigint").alias("n_members"),
        *keep,
        "member_ids",
    )


def corpus_dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-weighted dedup funnel: what each dedup stage saves in actual
    training tokens, per source — the number that goes in the pipeline
    report (docs are not the budget unit; tokens are). Same staged
    semantics as corpus_dedup_funnel (exact keeps min doc per hash; near
    keeps min exact-SURVIVOR per MinHash cluster), with token sums
    riding the identical windows, so the two reports can never disagree
    about who survived.

    Exact integer token counts (whitespace tokenization — the
    corpus_token_budget convention); one new column per stage, no new
    corpus scan beyond dedup_clusters' memoized chain; savings fractions
    divide once per row."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5("text").alias("content_hash"),
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
    )
    exact_surv, near_surv = _dedup_survivors(spark, sf_dir, docs)
    t_all = docs.groupBy("source").agg(F.sum("n_tokens").alias("tokens_raw"))
    t_exact = exact_surv.groupBy("source").agg(
        F.sum("n_tokens").alias("tokens_after_exact")
    )
    t_near = near_surv.groupBy("source").agg(
        F.sum("n_tokens").alias("tokens_after_near")
    )
    return (
        t_all.join(t_exact, "source", "left")
        .join(t_near, "source", "left")
        .select(
            "source",
            F.col("tokens_raw").cast("bigint").alias("tokens_raw"),
            F.coalesce("tokens_after_exact", F.lit(0))
            .cast("bigint")
            .alias("tokens_after_exact"),
            F.coalesce("tokens_after_near", F.lit(0))
            .cast("bigint")
            .alias("tokens_after_near"),
            F.round(
                (
                    F.col("tokens_raw")
                    - F.coalesce("tokens_after_near", F.lit(0))
                ).cast("double")
                / F.col("tokens_raw").cast("double"),
                6,
            ).alias("tokens_saved_frac"),
        )
    )


# b-bit minwise hashing (Li & König 2010): bits kept per minhash slot and
# the equal-bit collision baseline c = 1/2^b. Sync-pinned to the oracle.
BBIT_BITS = 2
BBIT_MOD = 1 << BBIT_BITS  # 4
BBIT_BASE = 0.25  # 1 / 2^BBIT_BITS as the exact double literal


def dedup_minhash_bbit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing evaluation — the memory-optimal MinHash
    variant (Li & König): store only the lowest b bits of each minhash
    slot (a 32× sketch-size cut at b=2 vs 64-bit slots) and debias the
    observed agreement with ĵ = (frac − c)/(1 − c), c = 1/2ᵇ (random
    equal-bit collisions). This report measures, per full-signature
    agreement level, how the 2-bit estimator tracks the full 16-slot
    estimate over the REAL banded candidate pairs — the measure-don't-
    guess loop that licenses shipping the compressed sketch.

    Shape: candidates are the shared banded set (never all pairs), and the
    signature arrays RIDE the band join (banded_signature_rows' design —
    re-joining signatures per pair side would execute the signature
    subtree twice more and add two shuffles; r8 review), so both slot
    comparisons are row-local zip_with folds on the collision rows.
    avg_full_est is the group key n_matches/16 by construction (every
    pair in a group has exactly that estimate); the mean machinery runs
    only where values genuinely vary (the b-bit columns, on the
    9dp-DECIMAL rail). The b-bit estimate can go negative on disagreeing
    pairs (the debias subtracts the collision baseline) — reported raw,
    as the estimator is defined."""
    sig = minhash_signature_table(spark, sf_dir)  # memoized + materialized
    banded = banded_signature_rows(sig).transform(truncate_lineage)
    a, b = banded.alias("a"), banded.alias("b")
    n_eq = lambda expr: F.size(  # noqa: E731
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), expr), lambda m: m
        )
    )
    collisions = (
        a.join(b, ["band", "bkey"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            n_eq(lambda x, y: x == y).cast("bigint").alias("n_matches"),
            n_eq(lambda x, y: x % BBIT_MOD == y % BBIT_MOD)
            .cast("bigint")
            .alias("bm"),
        )
    )
    # multi-band collisions repeat with IDENTICAL values — max() dedupes
    pairs = collisions.groupBy("doc_a", "doc_b").agg(
        F.max("n_matches").alias("n_matches"), F.max("bm").alias("bm")
    )
    n = float(MINHASH_NUM_HASHES)
    est_b = (F.col("bm").cast("double") / F.lit(n) - F.lit(BBIT_BASE)) / (
        F.lit(1.0) - F.lit(BBIT_BASE)
    )
    scored = pairs.select(
        "n_matches", F.round(est_b, 9).alias("est_bbit")
    )
    dec = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    cnt = F.count(F.lit(1)).cast("double")
    return scored.groupBy("n_matches").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        (F.round(F.col("n_matches").cast("double") / F.lit(n), 6) + F.lit(0.0)).alias(
            "avg_full_est"
        ),
        (F.round(F.sum(dec(F.col("est_bbit"))).cast("double") / cnt, 6) + F.lit(0.0)).alias(
            "avg_bbit_est"
        ),
        (
            F.round(
                F.sum(
                    dec(
                        F.abs(
                            F.col("est_bbit")
                            - F.col("n_matches").cast("double") / F.lit(n)
                        )
                    )
                ).cast("double")
                / cnt,
                6,
            )
            + F.lit(0.0)
        ).alias("avg_abs_gap"),
    )


def dedup_rouge_verify(
    spark: SparkSession, sf_dir: str, max_df: int | None = DEFAULT_MAX_DF
) -> DataFrame:
    """Candidate-then-verify near-dup detection with a LINEAR-time
    verifier: LSH proposes (dedup_minhash_lsh's banded candidates), and
    each pair is confirmed by clipped-unigram overlap — ROUGE-1 precision
    / recall / F1 (overlap = Σ_token min(tf_a, tf_b)) — the measure
    pipelines use where Levenshtein's O(len²) is unaffordable on long
    documents (dedup_minhash_lev_verify's exact-but-quadratic twin).

    Cost shape: token counts are one map-side-combined groupBy; the
    overlap join fans each candidate pair out by its tokens
    (pairs × doc-length, bounded because the candidate set is
    banding-bounded) and collapses back to one row per pair. All counts
    exact integers; P/R/F1 divide once in double and round at 6dp."""
    # the candidate frame feeds BOTH the overlap aggregate and the final
    # left join — dedup_minhash_lsh is memoized and already materialized
    # (the oracle's MATERIALIZED cand twin), so neither consumer re-runs
    # the minhash+banding pipeline
    cand = dedup_minhash_lsh(spark, sf_dir, max_df=max_df).select(
        "doc_a", "doc_b", "est_jaccard"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tc = token_counts(docs, "doc_id", alias="tf")
    lens = docs.select("doc_id", F.size(tokens("text")).cast("bigint").alias("n_tok"))
    ta = tc.select(
        F.col("doc_id").alias("doc_a"), "token", F.col("tf").alias("tf_a")
    )
    tb = tc.select(
        F.col("doc_id").alias("doc_b"), "token", F.col("tf").alias("tf_b")
    )
    ov = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "token"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("tf_a", "tf_b")).alias("overlap"))
    )
    la = lens.select(F.col("doc_id").alias("doc_a"), F.col("n_tok").alias("len_a"))
    lb = lens.select(F.col("doc_id").alias("doc_b"), F.col("n_tok").alias("len_b"))
    j = (
        cand.join(ov, ["doc_a", "doc_b"], "left")
        .join(la, "doc_a")
        .join(lb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.coalesce("overlap", F.lit(0)).cast("bigint").alias("overlap"),
            "len_a",
            "len_b",
        )
    )
    ovd = F.col("overlap").cast("double")
    f1 = (
        F.lit(2.0)
        * ovd
        / (F.col("len_a").cast("double") + F.col("len_b").cast("double"))
    )
    return j.select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "overlap",
        "len_a",
        "len_b",
        F.round(ovd / F.col("len_a").cast("double"), 6).alias("rouge1_p"),
        F.round(ovd / F.col("len_b").cast("double"), 6).alias("rouge1_r"),
        F.round(f1, 6).alias("rouge1_f1"),
    )
