"""Unit tests for the dedup / similarity / text / multimodal operators —
semantics the DuckDB parity check can't localize (edge cases, no-oracle ops)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cl_tagger_batch_processing_spark.operators import dedup, multimodal, similarity


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_word_shingles_short_docs_dropped(spark):
    docs = _docs(spark, [(1, "a b"), (2, "a b c d")])
    got = {(r.doc_id, r.shingle) for r in dedup.word_shingles(docs, k=3).collect()}
    assert got == {(2, "a b c"), (2, "b c d")}


def test_word_shingles_max_df_drops_hot(spark):
    docs = _docs(spark, [(1, "x y z"), (2, "x y z"), (3, "x y z"), (4, "p q r")])
    got = {(r.doc_id, r.shingle) for r in dedup.word_shingles(docs, k=3, max_df=2).collect()}
    assert got == {(4, "p q r")}  # 'x y z' has df=3 > 2 → dropped


def test_max_df_constants_in_sync():
    from cl_tagger_batch_processing_spark import oracles

    assert dedup.DEFAULT_MAX_DF == oracles.DEDUP_MAX_DF


def test_kmeans_k_derivation_in_sync():
    # The SQL oracle derives k with greatest(8, ceil(n/2000.0)); the Spark
    # side must match or the replayed clustering silently diverges on the
    # first fixture whose embedding count crosses a k boundary.
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import similarity

    assert similarity.KMEANS_K_MIN == 8
    assert similarity.KMEANS_TARGET_CLUSTER_SIZE == 2000
    assert "greatest(8," in oracles._KMEANS_CTES
    assert "/ 2000.0" in oracles._KMEANS_CTES
    assert similarity.derive_kmeans_k(1) == 8
    assert similarity.derive_kmeans_k(16000) == 8
    assert similarity.derive_kmeans_k(16001) == 9
    assert similarity.derive_kmeans_k(10**9) == 500_000  # k scales, clusters don't


def test_kmeans_assignment_strategies_agree(spark, sf_dir, monkeypatch):
    # Same centroids, two physical assignment paths (inline literals vs
    # broadcast-joined centroid frame) — values must be identical. The
    # second call reuses the memoized (base, centroids) chain, so only the
    # assignment strategy differs.
    lit = similarity.embedding_kmeans(spark, sf_dir, k=12).collect()
    monkeypatch.setattr(similarity, "KMEANS_LITERAL_MAX_K", 4)
    joined = similarity.embedding_kmeans(spark, sf_dir, k=12).collect()
    assert sorted(map(tuple, lit)) == sorted(map(tuple, joined))
    assert len({r.cluster_id for r in lit}) > 8  # k=12 actually took effect


def test_lsh_planes_in_sync():
    # oracles.py duplicates the LCG (to stay pyspark-free); the plane
    # matrices must be identical or the sim_ann_lsh oracle silently drifts
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import similarity

    assert oracles._lcg_planes() == similarity._lcg_plane_weights()


def test_jaccard_max_df_drop_path_parity(spark, sf_dir):
    """The hot-shingle guard with a cap small enough to ENGAGE on fixture
    data must still hash-match a DuckDB oracle carrying the same cap —
    proving both sides implement the df filter identically (the registered
    default of 1000 drops nothing at fixture scale by design)."""
    from cl_tagger_batch_processing_spark.oracles import jaccard_sql

    from .oracle_harness import compare_query

    ok, msg = compare_query(
        spark,
        "dedup_ngram_jaccard[max_df=5]",
        sf_dir,
        query_fn=lambda s, d: dedup.dedup_ngram_jaccard(s, d, max_df=5),
        sql=jaccard_sql(5),
    )
    assert ok, msg
    # and the cap really engaged: hot shingles were dropped from the relation
    from cl_tagger_batch_processing_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_capped = dedup.word_shingles(docs, k=3, max_df=5).count()
    n_uncapped = dedup.word_shingles(docs, k=3).count()
    assert n_capped < n_uncapped


def test_minhash_identical_docs_estimate_one(spark):
    docs = _docs(spark, [(1, "a b c d e f"), (2, "a b c d e f"), (3, "q r s t u v")])
    sh = dedup.word_shingles(docs, k=3)
    sig = dedup.minhash_signatures(sh)
    rows = {r.doc_id: [r[f"h{i}"] for i in range(16)] for r in sig.collect()}
    assert rows[1] == rows[2]  # identical shingle sets → identical signatures
    assert rows[1] != rows[3]


def test_connected_components_known_graph(spark):
    nodes = spark.createDataFrame([(i,) for i in range(7)], "doc_id bigint")
    # components: {0,1,2,3} (chain), {4,5}, {6} singleton
    edges = spark.createDataFrame([(1, 2), (2, 3), (0, 3), (4, 5)], "a bigint, b bigint")
    got = {r.doc_id: r.cluster_id for r in dedup.connected_components(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6}


def test_connected_components_chain_logarithmic_rounds(spark):
    # A 32-hop chain: pure one-hop min-propagation needs 32 change-rounds;
    # the pointer-jumping shortcut must collapse it in O(log d). Budget 8
    # rounds (log2(32)=5 + slack + the confirming no-change round) — this
    # FAILS on the propagation-only implementation, pinning the speedup.
    n = 33
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a bigint, b bigint"
    )
    rounds: list = []
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(
            nodes, edges, max_iter=10, round_counter=rounds
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}
    assert len(rounds) <= 8, f"took {len(rounds)} rounds for a 32-hop chain"


def test_quantized_cosine_self_similarity(spark, sf_dir):
    base = dedup.quantized_embeddings(spark, sf_dir).limit(5)
    a = base.select(F.col("qv").alias("qa"), F.col("nrm").alias("na"))
    cos = dedup.int_dot(F.col("qa"), F.col("qa")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("na").cast("double"))
    )
    vals = [r[0] for r in a.select(cos.alias("c")).collect()]
    assert all(v == pytest.approx(1.0) for v in vals)


def test_ann_lsh_subset_of_bruteforce_universe(spark, sf_dir):
    ann = similarity.sim_ann_lsh(spark, sf_dir, top_k=5)
    rows = ann.collect()
    assert {r.query_id for r in rows} <= {0, 1, 2, 3, 4}
    assert all(r.rank <= 5 for r in rows)
    assert all(-1.0 <= r.cosine <= 1.0 for r in rows)
    # LSH bucket mates of the query must rank identically to brute force on
    # the same candidate set — spot-check monotone rank ordering per query.
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_binary_payload_roundtrip(spark):
    docs = _docs(spark, [(1, "aaaa")])
    rows = multimodal.with_binary_payload(docs).collect()
    assert bytes(rows[0]["content"]) == b"aaaa"


def test_byte_histogram_on_fixture(spark, sf_dir):
    out = multimodal.mm_byte_histogram(spark, sf_dir)
    one_doc = out.where(out.doc_id == out.select(F.min("doc_id")).first()[0])
    rows = one_doc.collect()
    assert len(rows) == 16  # long form: one row per bin
    assert {r.bin for r in rows} == set(range(16))
    assert sum(r.bin_count for r in rows) > 0
    for r in rows:
        assert 0.0 <= r.entropy <= 4.0  # 16 bins → max log2(16)=4 bits


def test_ivf_recall_against_bruteforce(spark, sf_dir):
    exact = similarity.sim_topk_cosine(spark, sf_dir, top_k=5)
    ivf = similarity.sim_topk_ivf(spark, sf_dir, top_k=5)
    rows = ivf.collect()
    assert {r.query_id for r in rows} <= {0, 1, 2, 3, 4}
    assert all(r.rank <= 5 for r in rows)
    # cosine ordering must be monotone in rank within each query
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r.rank)
        cs = [r.cosine for r in rs]
        assert cs == sorted(cs, reverse=True)
    # probed-cell search must find at least some of the true neighbors
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ivf_pairs = {(r.query_id, r.neighbor_id) for r in rows}
    assert ivf_pairs & exact_pairs


def test_ivf_assignment_covers_corpus(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators.dedup import quantized_embeddings
    from pyspark.sql import functions as F

    base = quantized_embeddings(spark, sf_dir)
    centroids = base.where(F.col("vec_id") < similarity.IVF_NUM_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("qv").alias("cv"), F.col("nrm").alias("cn")
    )
    assigned = similarity.ivf_assign(base, centroids)
    n_base = base.count()
    assert assigned.count() == n_base  # every vector lands in exactly one cell
    cells = {r.cell_id for r in assigned.select("cell_id").distinct().collect()}
    assert cells <= set(range(similarity.IVF_NUM_CELLS))
    # a centroid's own vector must sit in its own cell (cosine 1 with itself)
    own = {r.vec_id: r.cell_id for r in assigned.where(F.col("vec_id") < similarity.IVF_NUM_CELLS).collect()}
    assert all(vec == cell for vec, cell in own.items())


def test_frame_sample_matches_python(spark, sf_dir):
    import hashlib

    from cl_tagger_batch_processing_spark.operators.multimodal import (
        FRAME_CHARS,
        FRAME_STRIDE,
        mm_frame_sample,
    )
    from cl_tagger_batch_processing_spark.sources.tables import load_table

    out = {(r.doc_id, r.frame_idx): (r.frame_md5, r.n_frames) for r in mm_frame_sample(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(20).collect()
    checked = 0
    for row in docs:
        text = row.text
        n_frames = (len(text) + FRAME_CHARS - 1) // FRAME_CHARS
        for idx in range(0, n_frames, FRAME_STRIDE):
            frame = text[idx * FRAME_CHARS : (idx + 1) * FRAME_CHARS]
            md5 = hashlib.md5(frame.encode()).hexdigest()
            assert out[(row.doc_id, idx)] == (md5, n_frames)
            checked += 1
    assert checked > 0


def test_chunk_windows_reconstructs_documents(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        text_chunk_windows,
    )
    from cl_tagger_batch_processing_spark.sources.tables import load_table

    chunks = {}
    for r in text_chunk_windows(spark, sf_dir).collect():
        chunks.setdefault(r.doc_id, {})[r.chunk_idx] = (r.chunk_len, r.chunk_text)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert set(chunks) == {r.doc_id for r in docs}
    for row in docs:
        toks = row.text.split(" ")
        doc_chunks = chunks[row.doc_id]
        # contiguous chunk ids from 0; all full-size except possibly the last
        assert sorted(doc_chunks) == list(range(len(doc_chunks)))
        for idx, (clen, ctext) in doc_chunks.items():
            expect = toks[idx * CHUNK_STRIDE : idx * CHUNK_STRIDE + CHUNK_TOKENS]
            assert ctext == " ".join(expect)
            assert clen == len(expect)
        # stitching the non-overlapping prefixes reconstructs the document
        stitched = []
        for idx in range(len(doc_chunks)):
            ctoks = doc_chunks[idx][1].split(" ")
            stitched.extend(ctoks if idx == len(doc_chunks) - 1 else ctoks[:CHUNK_STRIDE])
        # the final chunk overlaps the previous one; dedup the overlap
        assert " ".join(stitched[: len(toks)]) == row.text
        # every token index is covered by at least one chunk
        covered = len(doc_chunks) * CHUNK_STRIDE - CHUNK_STRIDE + doc_chunks[len(doc_chunks) - 1][0]
        assert covered >= len(toks)


def test_mixture_sample_rates_within_tolerance(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators.curation import (
        MIX_TIER_RATES_BP,
        corpus_mixture_sample,
    )

    rows = corpus_mixture_sample(spark, sf_dir).collect()
    assert rows, "sampler returned nothing"
    for r in rows:
        tier = int(r.source[3:]) % 4
        assert r.rate_bp == MIX_TIER_RATES_BP[tier]
        assert 0 <= r.n_kept <= r.n_docs
        # md5 buckets are uniform: observed keep-rate within a loose
        # binomial band of the target (small per-source n => wide band)
        expected = r.n_docs * r.rate_bp / 10000
        slack = 4 * (r.n_docs ** 0.5)
        assert abs(r.n_kept - expected) <= slack, (r.source, r.n_kept, expected)
    # full-rate tier keeps everything
    for r in rows:
        if r.rate_bp == 10000:
            assert r.n_kept == r.n_docs


def test_pack_sequences_window_budget_invariants(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators.curation import (
        PACK_BUDGET_TOKENS,
        corpus_pack_sequences,
    )

    rows = corpus_pack_sequences(spark, sf_dir).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for source, ws in by_source.items():
        ws.sort(key=lambda r: r.window_id)
        # contiguous window ids from 0
        assert [w.window_id for w in ws] == list(range(len(ws)))
        # doc-id ranges never interleave across windows (insertion-stable)
        for a, b in zip(ws, ws[1:]):
            assert a.max_doc_id < b.min_doc_id
        # every window except the last STARTS inside its budget slot, so a
        # window's token load exceeds the budget only by its last doc's
        # straddle; total tokens are preserved exactly
        total = sum(w.sum_tokens for w in ws)
        assert total >= PACK_BUDGET_TOKENS * (len(ws) - 1)


# --- round-5 additions: invariants beyond oracle parity ---------------------


def test_pagerank_mass_conserved_and_positive(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators.graph import PR_SCALE, graph_pagerank

    rows = graph_pagerank(spark, sf_dir).collect()
    total = sum(r.pr_scaled for r in rows)
    # floor divisions only ever LOSE femto-units, and only a vanishing
    # fraction per superstep: total mass stays within 0.1% of 1.0
    assert total <= PR_SCALE
    assert total >= int(PR_SCALE * 0.999)
    assert all(r.pr_scaled > 0 for r in rows)


def test_scd2_intervals_partition_history(spark, sf_dir):
    from collections import defaultdict

    from cl_tagger_batch_processing_spark.registry import QUERIES

    rows = QUERIES["scd2_order_status"](spark, sf_dir).collect()
    by_cust = defaultdict(list)
    for r in rows:
        by_cust[r.o_custkey].append(r)
    for cust, ivs in by_cust.items():
        ivs.sort(key=lambda r: r.valid_from)
        # exactly one open (current) interval, and it is the last one
        currents = [r for r in ivs if r.is_current]
        assert len(currents) == 1, cust
        assert ivs[-1].is_current, cust
        # intervals chain: each closed interval ends where the next starts
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from, cust
        # consecutive intervals always change status (compression worked)
        for a, b in zip(ivs, ivs[1:]):
            assert a.status != b.status, cust


def test_scd2_interval_semantics(spark):
    """Pin the documented granularity contract: two same-day orders with
    different statuses emit a zero-length [d, d) segment ordered by the
    o_orderkey tie-break, and the later order's status carries forward."""
    import datetime

    from cl_tagger_batch_processing_spark.operators.relational import scd2_order_status

    d1 = datetime.date(2024, 1, 1)
    d2 = datetime.date(2024, 1, 5)
    src = spark.createDataFrame(
        [
            (7, 10, d1, "O"),  # same day, lower orderkey: flips first
            (7, 11, d1, "F"),
            (7, 12, d2, "P"),
        ],
        "o_custkey bigint, o_orderkey bigint, o_orderdate date, o_orderstatus string",
    )
    import cl_tagger_batch_processing_spark.operators.relational as rel

    rel_orig = rel.load_table
    rel.load_table = lambda spark_, sf_dir_, name: src
    try:
        rows = sorted(
            scd2_order_status(spark, "unused").collect(),
            key=lambda r: (r.valid_from, r.valid_to or datetime.date.max),
        )
    finally:
        rel.load_table = rel_orig
    assert [(r.status, r.valid_from, r.valid_to, r.is_current) for r in rows] == [
        ("O", d1, d1, False),  # zero-length: held for part of day d1 only
        ("F", d1, d2, False),
        ("P", d2, None, True),
    ]


def test_containment_dominates_jaccard(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators.dedup import (
        dedup_containment,
        dedup_ngram_jaccard,
    )

    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup_containment(spark, sf_dir, threshold=0.0).collect()
    }
    shared = set(jac) & set(cont)
    assert shared, "fixtures should produce overlapping pairs"
    # |A∩B|/min(|A|,|B|) >= |A∩B|/(|A|+|B|-|A∩B|) always
    for pair in shared:
        assert cont[pair] >= jac[pair] - 1e-12, pair


def test_keep_best_consistent_with_exact_dedup(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators.dedup import (
        dedup_exact,
        dedup_exact_keep_best,
    )

    exact = {r.content_hash: r.n_copies for r in dedup_exact(spark, sf_dir).collect()}
    best = {
        r.content_hash: r.n_copies
        for r in dedup_exact_keep_best(spark, sf_dir).collect()
    }
    # same duplicate-group structure, only the keep POLICY differs
    assert exact == best


def test_rake_degree_dominates_freq(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators.text import text_keyword_rake

    rows = text_keyword_rake(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.rank <= 3
        assert r.degree >= r.freq  # each containing phrase has length >= 1
        assert abs(r.score - r.degree / r.freq) < 1e-12


def test_quantization_ladder_recalls_in_range(spark, sf_dir):
    from cl_tagger_batch_processing_spark.registry import QUERIES

    for name in ["sim_scalar_quant_recall", "sim_pq_adc_recall"]:
        rows = QUERIES[name](spark, sf_dir).collect()
        assert len(rows) == 5, name  # one row per query vector
        for r in rows:
            assert r.n_exact == 10, name
            assert 0 <= r.n_hits <= r.n_exact, name
            assert abs(r.recall - r.n_hits / r.n_exact) < 1e-12, name


def test_pagerank_empty_graph_returns_empty(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators.graph import graph_pagerank

    # a min_support above any real pair support empties the edge set —
    # must yield an empty ranking, not a driver ZeroDivisionError
    out = graph_pagerank(spark, sf_dir, min_support=10**9)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "pr_scaled", "pagerank"]


def test_broadcast_cap_follows_driver_memory(spark):
    """The cap reads the session's SparkConf through Spark's own size
    parser (JavaUtils.byteStringAsMb); the driver's memory is fixed at
    launch, so rewriting the conf entry changes nothing but the reading."""
    from cl_tagger_batch_processing_spark.operators.graph import broadcast_max_nodes

    conf = spark.sparkContext._jsc.sc().conf()
    key = "spark.driver.memory"
    before = conf.getOption(key)

    def cap(mem):
        conf.set(key, mem)
        return broadcast_max_nodes(spark)

    try:
        assert cap("16g") == cap("64g") == cap("16384m") == 1 << 23
        assert cap("4g") == cap("4096") == 1 << 21  # a bare number is MiB
        assert cap("2g") == 1 << 20
    finally:
        if before.isDefined():
            conf.set(key, before.get())
        else:
            conf.remove(key)


def test_substring_span_constants_in_sync():
    from cl_tagger_batch_processing_spark import oracles

    assert dedup.SPAN_K == 5
    # the oracle hard-codes k=5: slice width t[i]..t[i+4], break gap > 5,
    # span extension +4
    sql = oracles.ORACLE_SQL["dedup_substring_spans"]
    assert "t[i+4]" in sql and "> 5" in sql and "MAX(pos) + 4" in sql


def test_bloom_constants_in_sync():
    from cl_tagger_batch_processing_spark import oracles

    assert dedup.BLOOM_BITS == 65536
    assert dedup.BLOOM_HASHES == 4
    sql = oracles.ORACLE_SQL["dedup_exact_incremental_bloom"]
    assert "% 65536" in sql and "COUNT(*) = 4" in sql


def test_substring_spans_merge_and_cross_doc(spark):
    """Two docs sharing a 7-token run (three overlapping 5-shingles) must
    each report ONE merged maximal span; a doc sharing nothing reports no
    row; within-doc-only repetition (df = 1 distinct doc) doesn't count."""
    run = "q w e r t y u"  # 7 shared tokens → starts 0,1,2 merge to [0, 6]
    docs = _docs(
        spark,
        [
            (1, run + " alpha beta gamma delta epsilon"),
            (2, "zeta eta " + run + " theta iota kappa"),
            (3, "solo words only here nothing shared at all"),
            (4, "rep rep rep rep rep rep rep rep rep rep"),  # within-doc only
        ],
    )
    import cl_tagger_batch_processing_spark.operators.dedup as dd

    orig = dd.load_table
    dd.load_table = lambda spark_, sf_dir_, name: docs
    try:
        rows = {
            (r.doc_id, r.span_start, r.span_end, r.span_tokens)
            for r in dd.dedup_substring_spans(spark, "unused").collect()
        }
    finally:
        dd.load_table = orig
    # doc 4's 'rep'*10 shingle is identical at every start, but df=1 doc —
    # excluded. doc 1: starts 0..2 → span [0, 6]; doc 2: starts 2..4 → [2, 8].
    assert rows == {(1, 0, 6, 7), (2, 2, 8, 7)}


def test_url_canonicalization_rules(spark):
    from cl_tagger_batch_processing_spark.operators.dedup import canonicalize_url
    from pyspark.sql import functions as F

    cases = [
        ("HTTPS://WWW.Site.Example.com/Articles/7/?utm_source=x", "site.example.com/articles/7"),
        ("https://site.example.com/articles/7", "site.example.com/articles/7"),
        ("http://www.site.example.com/articles/7/", "site.example.com/articles/7"),
        ("https://site.example.com/articles/7?ref=abc", "site.example.com/articles/7"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_bloom_incremental_matches_unfiltered(spark, sf_dir):
    """The Bloom pre-filter is an OPTIMIZATION: accepted counts must be
    bit-identical to dedup_exact_incremental's, and the maybe column must
    never exceed the batch (sanity on the work profile)."""
    from cl_tagger_batch_processing_spark.operators.dedup import (
        dedup_exact_incremental,
        dedup_exact_incremental_bloom,
    )

    base = {
        (r.lang, r.n_incoming, r.n_after_batch_dedup, r.n_accepted)
        for r in dedup_exact_incremental(spark, sf_dir).collect()
    }
    rows = dedup_exact_incremental_bloom(spark, sf_dir).collect()
    got = {(r.lang, r.n_incoming, r.n_after_batch_dedup, r.n_accepted) for r in rows}
    assert got == base
    assert all(0 <= r.n_bloom_maybe <= r.n_after_batch_dedup for r in rows)


def test_salted_join_identical_under_aqe_skew(spark, sf_dir):
    """Hand-salting and AQE skew splitting compose (see skew.py module
    docstring): AQE subdivides oversized shuffle partitions, salting
    rewrites the key space — flipping the AQE flag must never change the
    salted join's rows."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    key = "spark.sql.adaptive.skewJoin.enabled"
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        with_aqe = sorted(tuple(r) for r in QUERIES["skew_salted_join"](spark, sf_dir).collect())
        spark.conf.set(key, "false")
        without = sorted(tuple(r) for r in QUERIES["skew_salted_join"](spark, sf_dir).collect())
    finally:
        spark.conf.set(key, orig)
    assert with_aqe == without
    assert len(with_aqe) > 0


def test_temperature_alpha_one_recovers_shares(spark, sf_dir):
    """α = 1 is the identity temperature: weights must equal raw shares
    (up to the documented 6dp/9dp rounding ladder)."""
    from cl_tagger_batch_processing_spark.operators.curation import corpus_temperature_mix

    rows = corpus_temperature_mix(spark, sf_dir, alpha=1.0).collect()
    for r in rows:
        assert abs(r.temp_weight - r.token_share) < 1e-5, r
        assert abs(r.boost - 1.0) < 1e-4, r
    # and the weights form a distribution
    assert abs(sum(r.temp_weight for r in rows) - 1.0) < 1e-4


def test_temperature_flattens_distribution(spark, sf_dir):
    """α < 1 must compress the spread: the largest source's weight falls,
    the smallest source's weight rises (the reason the operator exists)."""
    from cl_tagger_batch_processing_spark.operators.curation import corpus_temperature_mix

    rows = corpus_temperature_mix(spark, sf_dir, alpha=0.5).collect()
    hi = max(rows, key=lambda r: r.token_share)
    lo = min(rows, key=lambda r: r.token_share)
    assert hi.temp_weight < hi.token_share
    assert lo.temp_weight > lo.token_share


def test_bigram_perplexity_bounds(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators.text import text_bigram_lm_perplexity

    rows = text_bigram_lm_perplexity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.doc_id % 2 == 1  # only the held-out half is scored
        assert r.n_bigrams > 0
        assert r.perplexity >= 1.0
        assert r.avg_neg_loglik > 0.0


def test_zipf_slope_negative_on_skewed_toy(spark):
    """A frequency distribution that decays must fit a negative slope."""
    import cl_tagger_batch_processing_spark.operators.text as tx

    docs = _docs(
        spark,
        [(1, "a a a a a a a a b b b b c c d"), (2, "a a a a b b c d e")],
    )
    orig = tx.load_table
    tx.load_table = lambda spark_, sf_dir_, name: docs
    try:
        row = tx.token_zipf_fit(spark, "unused").collect()[0]
    finally:
        tx.load_table = orig
    assert row.n_terms == 5
    assert row.zipf_slope < -0.5


def test_graph_components_partition_nodes(spark, sf_dir):
    """Component labels must be min-node-id, sizes must sum to the node
    count, and every edge must stay inside one component (it's a
    PARTITION of the reachability relation)."""
    from cl_tagger_batch_processing_spark.operators.graph import (
        cooccurrence_edges,
        graph_components,
    )

    rows = graph_components(spark, sf_dir).collect()
    label = {r.node: r.component_id for r in rows}
    assert all(r.component_id <= r.node for r in rows)  # min-id labeling
    from collections import Counter

    sizes = Counter(r.component_id for r in rows)
    assert all(r.component_size == sizes[r.component_id] for r in rows)
    for e in cooccurrence_edges(spark, sf_dir).collect():
        assert label[e.src] == label[e.dst], (e.src, e.dst)


def test_ivf_probe_sweep_monotone_to_exhaustive(spark, sf_dir):
    """Recall must be non-decreasing in nprobe (probing more cells can only
    add candidates) and reach exactly 1.0 at nprobe = IVF_NUM_CELLS, where
    the probe set is every cell — an exhaustive search."""
    rows = sorted(
        similarity.sim_ivf_probe_sweep(spark, sf_dir).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 4, 8]
    recalls = [r.recall for r in rows]
    assert recalls == sorted(recalls)
    assert rows[-1].recall == 1.0
    assert all(r.n_hits <= r.n_exact for r in rows)


def test_url_canonicalization_idempotent_grid(spark):
    """Canonicalization must be IDEMPOTENT (canon(canon(u)) == canon(u))
    and post-conditions must hold (no scheme, no leading www., no query,
    no trailing slash) over the full combinatorial grid of spelling
    hazards — one Spark job, 3×2×2×2×2 grid plus odd cases."""
    from cl_tagger_batch_processing_spark.operators.dedup import canonicalize_url

    urls = []
    for scheme in ["http://", "HTTPS://", ""]:
        for www in ["www.", ""]:
            for q in ["?utm=1&b=2", ""]:
                for slash in ["/", ""]:
                    for host in ["Site.Example.com", "a-b.example.org"]:
                        urls.append(f"{scheme}{www}{host}/Path/To/7{slash}{q}")
    urls += ["www.only-www.example.com", "https://example.com/?x=1", "example.com"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(F.col("url"), canonicalize_url(F.col("url")).alias("c1"))
    twice = once.select("url", "c1", canonicalize_url(F.col("c1")).alias("c2"))
    for r in twice.collect():
        assert r.c1 == r.c2, f"not idempotent: {r.url!r} -> {r.c1!r} -> {r.c2!r}"
        assert not r.c1.startswith(("http://", "https://", "www.")), r
        assert "?" not in r.c1, r
        assert not r.c1.endswith("/"), r
        assert r.c1 == r.c1.lower(), r


def test_band_sweep_s_curve_ordering(spark, sf_dir):
    """Fewer bands × more rows = stricter: candidate count must be
    non-decreasing as bands increase (2×8 ⊆-ish 4×4 ⊆-ish 8×2 in volume),
    mean estimate non-increasing, and every admitted pair is a candidate."""
    rows = {r.n_bands: r for r in dedup.dedup_minhash_band_sweep(spark, sf_dir).collect()}
    assert set(rows) == {2, 4, 8}
    assert rows[2].n_candidates <= rows[4].n_candidates <= rows[8].n_candidates
    assert rows[2].mean_est >= rows[4].mean_est >= rows[8].mean_est
    for r in rows.values():
        assert r.n_admitted <= r.n_candidates
        assert r.n_bands * r.rows_per_band == 16


def test_tile_grid_covers_image_exactly(spark, sf_dir):
    """Tiles must partition each image: per-doc sum of tile areas equals
    width×height (no gap, no overlap), offsets stay in bounds, edge tiles
    clip instead of spilling."""
    rows = multimodal.mm_tile_grid(spark, sf_dir).collect()
    from collections import defaultdict

    area = defaultdict(int)
    for r in rows:
        assert 1 <= r.tile_w <= 64 and 1 <= r.tile_h <= 64, r
        assert r.x_off + r.tile_w <= 64 + (r.doc_id % 8) * 32, r
        assert r.y_off + r.tile_h <= 64 + (r.doc_id % 5) * 48, r
        area[r.doc_id] += r.tile_w * r.tile_h
    for doc_id, a in area.items():
        assert a == (64 + (doc_id % 8) * 32) * (64 + (doc_id % 5) * 48), doc_id


def test_range_search_consistent_with_topk(spark, sf_dir):
    """Every top-k neighbor above the radius threshold must appear in the
    range result, and every range row clears the threshold."""
    from cl_tagger_batch_processing_spark.operators.similarity import (
        RANGE_SEARCH_THRESHOLD,
        sim_range_search,
        sim_topk_cosine,
    )

    rng = {(r.query_id, r.neighbor_id): r.cosine for r in sim_range_search(spark, sf_dir).collect()}
    assert rng
    assert all(c >= RANGE_SEARCH_THRESHOLD for c in rng.values())
    for r in sim_topk_cosine(spark, sf_dir).collect():
        if r.cosine >= RANGE_SEARCH_THRESHOLD:
            assert (r.query_id, r.neighbor_id) in rng


def test_dedup_funnel_monotone_and_consistent(spark, sf_dir):
    """Funnel invariant: n_docs >= n_after_exact >= n_after_near per
    source, totals consistent with the standalone operators."""
    from cl_tagger_batch_processing_spark.operators.dedup import (
        corpus_dedup_funnel,
        dedup_exact,
    )

    rows = corpus_dedup_funnel(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_docs >= r.n_after_exact >= r.n_after_near >= 0, r
        assert 0.0 <= r.retention <= 1.0
    total_exact = sum(r.n_after_exact for r in rows)
    assert total_exact == dedup_exact(spark, sf_dir).count()


def test_html_strip_roundtrips_every_doc(spark, sf_dir):
    """The stripper must recover the original body text exactly for every
    document (lossy or over-eager regexes fail row by row)."""
    from cl_tagger_batch_processing_spark.operators.text import text_html_strip

    rows = text_html_strip(spark, sf_dir).collect()
    assert rows
    bad = [r.doc_id for r in rows if not r.roundtrip_ok]
    assert not bad, f"lossy strip for docs {bad[:5]}"
    assert all(r.n_tags == 16 for r in rows)  # fixed synthetic shell
    assert all(r.clean_len < r.html_len for r in rows)


def test_scene_cuts_partition_frames(spark, sf_dir):
    """Scenes must partition each doc's frame range: contiguous,
    non-overlapping, ordered, with scene_frames == end-start+1 and the
    full frame count covered; consecutive scenes carry different sigs
    (otherwise they'd have merged)."""
    rows = multimodal.mm_scene_cuts(spark, sf_dir).collect()
    from collections import defaultdict

    by_doc = defaultdict(list)
    for r in rows:
        assert r.scene_frames == r.end_frame - r.start_frame + 1, r
        by_doc[r.doc_id].append(r)
    for doc_id, scenes in by_doc.items():
        scenes.sort(key=lambda r: r.scene_idx)
        assert scenes[0].start_frame == 0
        for a, b in zip(scenes, scenes[1:]):
            assert b.start_frame == a.end_frame + 1, (doc_id, a, b)
            assert a.sig != b.sig, (doc_id, a.scene_idx)
    # the coarse signature must actually produce multi-frame scenes
    assert any(r.scene_frames > 1 for r in rows)


def test_band_sweep_configs_in_sync():
    """dedup.BAND_SWEEP and the oracle builder's default configs must match
    (the repo's duplicated-constant convention, cf. max_df/k-means tests) —
    and each config must tile the full 16-hash signature."""
    import inspect as _inspect

    from cl_tagger_batch_processing_spark import oracles

    oracle_default = _inspect.signature(oracles._band_sweep_sql).parameters["configs"].default
    assert tuple(oracle_default) == dedup.BAND_SWEEP
    for n_bands, rpb in dedup.BAND_SWEEP:
        assert n_bands * rpb == dedup.MINHASH_NUM_HASHES


def test_kcore_matches_reference_peel(spark, sf_dir):
    """graph_kcore vs an in-process reference peel over the collected edge
    list (small at fixture SFs): same membership, same core degrees, and
    every member keeps >= K neighbors inside the core (the k-core
    invariant)."""
    from cl_tagger_batch_processing_spark.operators import graph

    edges = [
        (r.src, r.dst)
        for r in graph.cooccurrence_edges(spark, sf_dir).collect()
    ]
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    # reference: repeatedly drop nodes with degree < K
    alive = set(adj)
    while True:
        drop = {u for u in alive if len(adj[u] & alive) < graph.KCORE_K}
        if not drop:
            break
        alive -= drop
    expected = {u: len(adj[u] & alive) for u in alive}
    got = {
        r.node: r.core_degree
        for r in graph.graph_kcore(spark, sf_dir).collect()
    }
    assert got == expected
    assert all(d >= graph.KCORE_K for d in got.values())


def test_ngram_novelty_invariants(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators import text as text_ops

    rows = sorted(
        text_ops.text_ngram_novelty(spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    assert rows and rows[0].bucket == 0
    # the first bucket has never seen anything: everything is novel
    assert rows[0].n_novel_shingles == rows[0].n_distinct_shingles
    assert rows[0].novelty_frac == 1.0
    cum = 0
    for r in rows:
        assert 0 <= r.n_novel_shingles <= r.n_distinct_shingles
        cum += r.n_novel_shingles
        assert r.cum_novel_shingles == cum
    # total novel across buckets == corpus-wide distinct shingle count
    docs = text_ops.load_table(spark, sf_dir, "documents")
    n_distinct = (
        text_ops.word_shingles(docs, k=text_ops.NOVELTY_SHINGLE_K)
        .select("shingle")
        .distinct()
        .count()
    )
    assert cum == n_distinct


def test_energy_segments_invariants(spark, sf_dir):
    from collections import defaultdict

    from cl_tagger_batch_processing_spark.operators import multimodal as mm

    rows = mm.mm_audio_energy_segments(spark, sf_dir).collect()
    assert rows
    by_doc = defaultdict(list)
    for r in rows:
        assert r.n_active_frames == r.end_frame - r.start_frame + 1
        assert r.segment_energy > 0
        by_doc[r.doc_id].append(r)
    for segs in by_doc.values():
        segs.sort(key=lambda r: r.segment_idx)
        assert segs[0].segment_idx == 0
        for prev, cur in zip(segs, segs[1:]):
            assert cur.segment_idx == prev.segment_idx + 1
            # islands are maximal: a silent gap separates consecutive ones
            assert cur.start_frame > prev.end_frame + 1


def test_kcore_budget_in_sync():
    """Spark's peel-round budget must equal the oracle's chained-CTE round
    count (duplicated-constant convention): equal budgets turn a
    too-deep peel into a LOUD Spark-side RuntimeError instead of an opaque
    value-hash mismatch against an unconverged oracle."""
    import inspect as _inspect

    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import graph

    oracle_rounds = _inspect.signature(oracles._kcore_sql).parameters["rounds"].default
    assert oracle_rounds == graph.KCORE_MAX_ROUNDS
    oracle_k = _inspect.signature(oracles._kcore_sql).parameters["k"].default
    assert oracle_k == graph.KCORE_K


def test_keyframe_within_scene_bounds(spark, sf_dir):
    scenes = {
        (r.doc_id, r.scene_idx): r
        for r in multimodal.mm_scene_cuts(spark, sf_dir).collect()
    }
    keys = multimodal.mm_keyframe_select(spark, sf_dir).collect()
    assert {(r.doc_id, r.scene_idx) for r in keys} == set(scenes)
    for r in keys:
        sc = scenes[(r.doc_id, r.scene_idx)]
        assert sc.start_frame <= r.keyframe_idx <= sc.end_frame
        assert r.scene_frames == sc.scene_frames


def test_simhash_error_report_invariants(spark, sf_dir):
    rows = dedup.dedup_simhash_error_report(spark, sf_dir).collect()
    assert rows
    n_pairs_total = sum(r.n_pairs for r in rows)
    assert n_pairs_total == dedup.dedup_simhash(spark, sf_dir).count()
    for r in rows:
        assert 0 <= r.hamming <= dedup.DEFAULT_HAMMING_THRESHOLD
        # avg is 6dp-rounded while min/max are raw doubles: rounding may
        # cross an extreme in a tiny bucket, so compare with 5e-7 slack
        assert 0.0 <= r.min_true_jaccard <= r.avg_true_jaccard + 5e-7
        assert r.avg_true_jaccard - 5e-7 <= r.max_true_jaccard <= 1.0


def test_near_dup_rate_by_source_invariants(spark, sf_dir):
    from cl_tagger_batch_processing_spark.sources.tables import load_table

    rows = dedup.corpus_near_dup_rate_by_source(spark, sf_dir).collect()
    assert rows
    docs = load_table(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert 0 <= r.n_near_dup <= r.n_docs
        assert abs(r.near_dup_frac - r.n_near_dup / r.n_docs) < 1e-12


def test_embedding_margin_invariants(spark, sf_dir):
    rows = similarity.embedding_margin_report(spark, sf_dir).collect()
    assert rows
    n_labels = dedup.quantized_embeddings(spark, sf_dir).select("label").distinct().count()
    assert len(rows) == n_labels
    for r in rows:
        assert r.n_intra_pairs > 0  # fixture labels all have >= 2 members
        assert -1.0 <= r.avg_intra_cosine <= 1.0
        if r.n_inter_pairs:
            assert -1.0 <= r.avg_inter_cosine <= 1.0
            assert r.margin == pytest.approx(r.avg_intra_cosine - r.avg_inter_cosine)


def test_common_neighbors_excludes_edges(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators import graph

    edges = {
        (r.src, r.dst)
        for r in graph.cooccurrence_edges(spark, sf_dir).collect()
    }
    rows = graph.graph_common_neighbors(spark, sf_dir).collect()
    assert rows
    ranks = sorted(r.rank for r in rows)
    assert ranks == list(range(1, len(rows) + 1))
    jacs = [r.nbr_jaccard for r in sorted(rows, key=lambda r: r.rank)]
    assert jacs == sorted(jacs, reverse=True)
    for r in rows:
        assert r.u < r.v
        assert (r.u, r.v) not in edges  # candidates are NON-adjacent pairs
        assert 0.0 < r.nbr_jaccard <= 1.0


def test_fertility_by_lang_invariants(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators import text as text_ops
    from cl_tagger_batch_processing_spark.sources.tables import load_table

    rows = text_ops.corpus_fertility_by_lang(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert r.total_tokens > 0 and r.total_chars > 0
        assert r.avg_tokens_per_doc == pytest.approx(r.total_tokens / r.n_docs)
        assert r.chars_per_token == pytest.approx(r.total_chars / r.total_tokens)


def test_market_basket_rules_invariants(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators import relational

    rows = relational.orders_market_basket_rules(spark, sf_dir).collect()
    # the sf0.001 fixture is known to yield rules; at larger SFs the basket
    # space dilutes and an empty rule set is legitimate (oracle-verified)
    if sf_dir.endswith("sf0.001"):
        assert rows
    seen = {(r.antecedent, r.consequent) for r in rows}
    assert len(seen) == len(rows)  # at most one rule per direction
    for r in rows:
        assert r.confidence >= relational.RULE_MIN_CONFIDENCE
        assert 0.0 < r.support <= r.confidence <= 1.0
        assert r.n_both <= min(r.n_antecedent, r.n_consequent)
        assert r.confidence == pytest.approx(r.n_both / r.n_antecedent)


def test_cluster_quality_report_invariants(spark, sf_dir):
    rows = dedup.dedup_cluster_quality_report(spark, sf_dir).collect()
    assert rows
    clusters = dedup.dedup_clusters(spark, sf_dir).collect()
    from collections import Counter

    sz = Counter(r.cluster_id for r in clusters)
    multi = {cid: n for cid, n in sz.items() if n > 1}
    assert {r.cluster_id for r in rows} == set(multi)
    for r in rows:
        assert r.cluster_size == multi[r.cluster_id]
        # a multi-member cluster exists only because of admitted pairs
        assert r.n_pairs >= r.cluster_size - 1  # spanning connectivity
        assert 0.0 < r.edge_density <= 1.0
        assert 0.5 <= r.avg_est_jaccard <= 1.0


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_connected_components_random_graph_vs_union_find(spark, seed):
    """Pointer-jumping CC vs an in-process union-find on seeded random
    graphs — exercises shapes (forests, cycles, isolated nodes, dense
    blobs) the fixture graph never produces."""
    import random

    rng = random.Random(seed)
    n = 60
    m = rng.randrange(20, 90)
    edge_list = sorted(
        {tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)}
    )
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in range(n)}
    # canonicalize to min-id representative
    rep_min: dict[int, int] = {}
    for x, r in expected.items():
        rep_min[r] = min(rep_min.get(r, x), x)
    expected = {x: rep_min[find(x)] for x in range(n)}

    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    edges = spark.createDataFrame(edge_list, "a bigint, b bigint")
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(nodes, edges).collect()
    }
    assert got == expected, f"seed={seed}"


@pytest.mark.parametrize("seed", [3, 11])
def test_kcore_random_graph_vs_reference_peel(spark, seed, monkeypatch):
    """graph_kcore's distributed peel vs the in-process reference on seeded
    random graphs, injected through the edge builder."""
    import random

    from cl_tagger_batch_processing_spark.operators import graph

    rng = random.Random(seed)
    n = 40
    pairs = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(120)})
    sym = pairs + [(b, a) for a, b in pairs]
    frame = spark.createDataFrame(sym, "src bigint, dst bigint")
    monkeypatch.setattr(graph, "cooccurrence_edges", lambda *a, **k: frame)

    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        drop = {u for u in alive if len(adj[u] & alive) < graph.KCORE_K}
        if not drop:
            break
        alive -= drop
    expected = {u: len(adj[u] & alive) for u in alive}

    got = {
        r.node: r.core_degree
        for r in graph.graph_kcore(spark, "unused-sf-dir").collect()
    }
    assert got == expected, f"seed={seed}"


def test_r7_constants_in_sync_with_oracles():
    """Every round-7 tuning constant must match the literal baked into its
    oracle SQL (the duplicated-constant convention, cf. max_df / k-means /
    kcore-budget tests): a non-default call or a drive-by constant change
    would otherwise surface only as an opaque value-hash mismatch."""
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import (
        graph,
        multimodal,
        relational,
        similarity,
    )
    from cl_tagger_batch_processing_spark.operators import text as text_ops

    assert text_ops.NOVELTY_BUCKETS == 16
    assert "(doc_id * 16)" in oracles.ORACLE_SQL["text_ngram_novelty"]
    assert similarity.MARGIN_INTER_BUCKETS == 32
    assert "% 32" in oracles.ORACLE_SQL["embedding_margin_report"]
    assert graph.CN_DEGREE_CAP == 128
    assert "deg <= 128" in oracles.ORACLE_SQL["graph_common_neighbors"]
    assert graph.CN_TOP_K == 100
    assert "LIMIT 100" in oracles.ORACLE_SQL["graph_common_neighbors"]
    assert multimodal.ENERGY_FRAME_BYTES == 64
    assert "frame_idx * 64" in oracles.ORACLE_SQL["mm_audio_energy_segments"]
    assert relational.RULE_MIN_SUPPORT == 2
    assert "COUNT(*) >= 2" in oracles.ORACLE_SQL["orders_market_basket_rules"]
    assert relational.RULE_MIN_CONFIDENCE == 0.2
    assert ">= 0.2" in oracles.ORACLE_SQL["orders_market_basket_rules"]
    assert graph.SP_N_SEEDS == 3
    assert "LIMIT 3" in oracles.ORACLE_SQL["graph_shortest_paths"]
    assert graph.SP_MAX_ROUNDS == 64
    assert "w.dist < 64" in oracles.ORACLE_SQL["graph_shortest_paths"]
    assert (relational.HLL_M, relational.HLL_RANK_BITS) == (64, 54)
    assert relational.HLL_SCALE_SHIFT == 56 and relational.HLL_SMALL_RANGE == 160.0
    hll_sql = oracles.ORACLE_SQL["approx_distinct_hll"]
    assert "h % 64" in hll_sql and "THEN 55" in hll_sql
    assert "<< CAST(56 - m AS INTEGER)" in hll_sql and "<= 160.0" in hll_sql
    assert str(1 << 56) in hll_sql  # the exact 2^56 scale literal
    from cl_tagger_batch_processing_spark.operators import curation

    assert (text_ops.CMS_DEPTH, text_ops.CMS_WIDTH, text_ops.CMS_TOP_K) == (4, 256, 50)
    cms_sql = oracles.ORACLE_SQL["text_heavy_hitters_cms"]
    assert "generate_series(0, 3)" in cms_sql and "% 256" in cms_sql
    assert "LIMIT 50" in cms_sql
    assert (curation.KANON_K, curation.KANON_BAND_WIDTH) == (5, 1000.0)
    kan_sql = oracles.ORACLE_SQL["privacy_k_anonymity"]
    assert ">= 5" in kan_sql and "/ 1000.0" in kan_sql
    assert curation.ES_SAMPLE_K == 100
    assert curation.ES_HASH_DOMAIN == float(1 << 60)
    es_sql = oracles.ORACLE_SQL["corpus_weighted_sample"]
    assert "LIMIT 100" in es_sql and "1152921504606846976.0" in es_sql
    cov_sql = oracles.ORACLE_SQL["embedding_covariance"]
    assert "* 1000, 0" in cov_sql and "1000000.0" in cov_sql  # quant scale
    assert (relational.ER_BLOCK_CAP, relational.ER_LEV_MAX) == (64, 2)
    er_sql = oracles.ORACLE_SQL["er_blocking_pairs"]
    assert "block_size <= 64" in er_sql
    assert "levenshtein(a.p_name, b.p_name) <= 2" in er_sql
    assert graph.LPA_ROUNDS == 4
    import inspect as _inspect

    assert _inspect.signature(oracles._lpa_sql).parameters["rounds"].default == 4
    assert "l4 l JOIN sizes" in oracles.ORACLE_SQL["graph_lpa_communities"]
    from cl_tagger_batch_processing_spark.operators import similarity as _sim

    assert (_sim.PI_SQUARINGS, _sim.PI_SCALE) == (12, 1_000_000)
    pca_params = _inspect.signature(oracles._pca_power_sql).parameters
    assert pca_params["squarings"].default == 12
    assert pca_params["scale"].default == 1_000_000
    assert "m12" in oracles.ORACLE_SQL["embedding_pca_power_iteration"]
    from cl_tagger_batch_processing_spark.operators import dedup as _dd

    assert _dd.LEV_VERIFY_NORM_MAX == 0.2
    assert "<= 0.2" in oracles.ORACLE_SQL["dedup_minhash_lev_verify"]
    assert text_ops.PPL_SWEEP == (30.5, 30.8, 31.0, 31.5, 32.0)
    assert "unnest([30.5, 30.8, 31.0, 31.5, 32.0])" in oracles.ORACLE_SQL[
        "corpus_perplexity_filter_sweep"
    ]
    assert text_ops.BLOCKLIST == ("slow", "dup")
    bl_sql = oracles.ORACLE_SQL["text_blocklist_filter"]
    assert "t = 'slow' OR t = 'dup'" in bl_sql and "['slow', 'dup']" in bl_sql
    ppr_sql = oracles.ORACLE_SQL["graph_personalized_pagerank"]
    assert "LIMIT 3" in ppr_sql  # seed set == SP_N_SEEDS
    assert str(graph.PR_SCALE) in ppr_sql
    shll = oracles.ORACLE_SQL["stream_hll_distinct"]
    assert "h % 64" in shll and "<< CAST(56 - m AS INTEGER)" in shll
    assert "3600 * 3600" in shll  # hour tumbling window via integer epoch
    assert graph.CLOSE_N_SOURCES == 4
    assert "LIMIT 4" in oracles.ORACLE_SQL["graph_closeness_centrality"]
    assert graph.CLOSE_MAX_ROUNDS == 64
    assert "w.dist < 64" in oracles.ORACLE_SQL["graph_closeness_centrality"]
    assert (_sim.MMR_POOL, _sim.MMR_K) == (16, 5)
    assert (_sim.MMR_LAMBDA, _sim.MMR_MU) == (0.7, 0.3)
    mmr_sql = oracles.ORACLE_SQL["sim_mmr_diversify"]
    assert "rn <= 16" in mmr_sql and "FROM acc5" in mmr_sql
    assert "0.7 * rel - 0.3 * maxsim" in mmr_sql
    # modularity scores the SAME fixed-round LPA partition
    assert _inspect.signature(oracles._modularity_sql).parameters[
        "rounds"
    ].default == graph.LPA_ROUNDS
    assert f"l{graph.LPA_ROUNDS} ls" in oracles.ORACLE_SQL["graph_modularity"]
    assert (relational.LR_STEPS, relational.LR_ETA, relational.LR_X_SCALE) == (
        8,
        0.1,
        100.0,
    )
    lr_sql = oracles.ORACLE_SQL["events_logistic_regression"]
    assert _inspect.signature(oracles._logit_sql).parameters["steps"].default == 8
    assert "value / 100.0" in lr_sql and "0.1 * (CAST" in lr_sql
    assert "FROM feats f CROSS JOIN w8 w" in lr_sql
    assert text_ops.TEXTRANK_MIN_COOC == 5
    tr_sql = oracles.ORACLE_SQL["text_textrank_keywords"]
    assert "HAVING COUNT(*) >= 5" in tr_sql
    assert "pr10" in tr_sql  # same 10-superstep chain as graph_pagerank
    assert (relational.QSK_BIN_WIDTH, relational.QSK_MAX_BIN) == (4.0, 127)
    assert relational.QSK_QUANTILES == (0.5, 0.9, 0.99)
    sqh_sql = oracles.ORACLE_SQL["stream_quantile_histogram"]
    assert "floor(value / 4.0)" in sqh_sql and "127" in sqh_sql
    assert "3600 * 3600" in sqh_sql  # hour tumbling window, integer epoch
    assert "[0.5, 0.9, 0.99]" in sqh_sql
    assert _dd.CLUSTER_EST_THRESHOLD == 0.5
    leak_sql = oracles.ORACLE_SQL["corpus_split_leakage_report"]
    assert "est_jaccard >= 0.5" in leak_sql
    assert _sim.DEFAULT_NUM_QUERIES == 5
    assert "e.vec_id < 5" in oracles.ORACLE_SQL["sim_knn_label_vote"]
    from cl_tagger_batch_processing_spark.streaming import windows as _sw

    assert _sw.CMS_WATCH_BELOW == 5
    wcms_sql = oracles.ORACLE_SQL["stream_watchlist_cms"]
    assert "user_id < 5" in wcms_sql
    assert "generate_series(0, 3)" in wcms_sql and "% 256" in wcms_sql
    assert text_ops.VOCAB_CURVE_KS == (1, 2, 4, 8, 16, 32)
    assert "[1, 2, 4, 8, 16, 32]" in oracles.ORACLE_SQL["text_vocab_coverage_curve"]


def test_word_pmi_invariants(spark, sf_dir):
    from cl_tagger_batch_processing_spark.operators import text as text_ops

    rows = sorted(
        text_ops.text_word_pmi(spark, sf_dir).collect(), key=lambda r: r.rank
    )
    assert rows
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    for r in rows:
        assert r.n_ab >= text_ops.PMI_MIN_PAIR_COUNT
        assert r.n_ab <= min(r.n_a, r.n_b)


def test_brand_price_regression_invariants(spark, sf_dir):
    """OLS sanity: r² in [0,1]; the fitted line at the brand's mean
    quantity passes through the mean price (an exact OLS identity:
    mean_y = slope·mean_x + intercept, up to double rounding)."""
    from cl_tagger_batch_processing_spark.operators import relational
    from cl_tagger_batch_processing_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = relational.brand_price_regression(spark, sf_dir).collect()
    assert rows
    means = {
        r.p_brand: r
        for r in load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "part").select(
                F.col("p_partkey").alias("l_partkey"), "p_brand"
            ),
            "l_partkey",
        )
        .groupBy("p_brand")
        .agg(
            F.avg("l_quantity").alias("mx"), F.avg("l_extendedprice").alias("my")
        )
        .collect()
    }
    for r in rows:
        assert 0.0 <= r.r2 <= 1.0, r
        m = means[r.p_brand]
        fitted = r.slope * m.mx + r.intercept
        assert abs(fitted - m.my) <= 1e-9 * max(1.0, abs(m.my)), (r, m)


def test_graph_shortest_paths_layering(spark, sf_dir):
    """BFS correctness invariants: the SP_N_SEEDS smallest nodes are at
    dist 0; every non-seed labeled node has at least one neighbor exactly
    one hop closer (the BFS parent property); and no edge spans more than
    one BFS layer (|dist(u) − dist(v)| ≤ 1 for every edge u-v)."""
    from cl_tagger_batch_processing_spark.operators import graph

    dist = {
        r.node: r.dist for r in graph.graph_shortest_paths(spark, sf_dir).collect()
    }
    assert dist
    edges = [
        (r.src, r.dst)
        for r in graph.cooccurrence_edges(spark, sf_dir).collect()
    ]
    seeds = sorted({s for s, _ in edges})[: graph.SP_N_SEEDS]
    assert all(dist[s] == 0 for s in seeds)
    assert sorted(n for n, d in dist.items() if d == 0) == seeds
    nbrs = {}
    for s, d in edges:
        nbrs.setdefault(s, []).append(d)
    for n, d in dist.items():
        if d > 0:
            assert min(dist[m] for m in nbrs[n] if m in dist) == d - 1, (n, d)
    for s, d in edges:
        if s in dist:
            assert d in dist and abs(dist[s] - dist[d]) <= 1, (s, d)


def test_hll_estimate_properties(spark, sf_dir):
    """HLL sanity: estimates are positive; every event_type row is present;
    and the relative error respects the theoretical envelope for m=64
    (σ = 1.04/√64 = 13%; 5σ is a generous non-flaky bound)."""
    from cl_tagger_batch_processing_spark.operators import relational

    rows = relational.approx_distinct_hll(spark, sf_dir).collect()
    assert len(rows) == 5  # fixture has 5 event types
    for r in rows:
        assert r.hll_estimate > 0
        assert r.rel_error < 5 * 0.13, r


def test_cms_never_undercounts(spark, sf_dir):
    """The count-min estimate is a MIN over counters that each include the
    token's own mass, so estimate >= true for every token; ranks are the
    exact top-k ordering."""
    from cl_tagger_batch_processing_spark.operators import text as text_ops

    rows = sorted(
        text_ops.text_heavy_hitters_cms(spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    assert rows
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    counts = [r.true_count for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r.cms_estimate >= r.true_count, r
        assert r.overestimate == r.cms_estimate - r.true_count


def test_k_anonymity_partition(spark, sf_dir):
    """Equivalence classes partition the customer table (sizes sum to the
    row count), risk = 1/size, and the k flag matches the size."""
    from cl_tagger_batch_processing_spark.operators import curation
    from cl_tagger_batch_processing_spark.sources.tables import load_table

    rows = curation.privacy_k_anonymity(spark, sf_dir).collect()
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert sum(r.class_size for r in rows) == n_cust
    for r in rows:
        assert r.is_k_anonymous == (1 if r.class_size >= 5 else 0)
        assert r.reident_risk == 1.0 / r.class_size


def test_embedding_covariance_structure(spark, sf_dir):
    """Long-form upper triangle is complete (d·(d+1)/2 pairs); diagonal
    reproduces embedding_dim_stats' variance; corr is 1 on the diagonal
    and within [-1, 1] everywhere."""
    from cl_tagger_batch_processing_spark.operators import similarity

    rows = similarity.embedding_covariance(spark, sf_dir).collect()
    d = max(r.dim_j for r in rows)
    assert len(rows) == d * (d + 1) // 2
    var = {
        r.dim: r.variance
        for r in similarity.embedding_dim_stats(spark, sf_dir).collect()
    }
    for r in rows:
        assert -1.0 <= r.corr <= 1.0 + 1e-12, r
        if r.dim_i == r.dim_j:
            assert r.corr == 1.0
            assert abs(r.cov - var[r.dim_i]) < 1e-12 * max(1.0, abs(var[r.dim_i]))


def test_weighted_sample_favors_weight(spark, sf_dir):
    """A-ES keys are positive and ascending by rank; the sampled docs'
    mean token count exceeds the corpus mean (length-proportional
    inclusion must tilt the sample toward long docs)."""
    from cl_tagger_batch_processing_spark.operators import curation
    from cl_tagger_batch_processing_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = sorted(
        curation.corpus_weighted_sample(spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    keys = [r.es_key for r in rows]
    assert all(k > 0 for k in keys) and keys == sorted(keys)
    corpus_mean = (
        load_table(spark, sf_dir, "documents")
        .select(F.avg(F.size(F.split("text", " "))).alias("m"))
        .first()
        .m
    )
    sample_mean = sum(r.n_tokens for r in rows) / len(rows)
    assert sample_mean > corpus_mean


def test_bfs_exact_budget_diameter_converges(spark):
    """A path graph whose farthest node is exactly max_rounds hops out must
    COMPLETE (the final budgeted layer drains the frontier) — pins the
    off-by-one where diameter == budget spuriously raised; one hop beyond
    the budget must still raise."""
    import pytest as _pytest

    from cl_tagger_batch_processing_spark.operators.graph import bfs_distances

    def chain(n):
        fwd = [(i, i + 1) for i in range(n - 1)]
        sym = fwd + [(b, a) for a, b in fwd]
        return spark.createDataFrame(sym, "src bigint, dst bigint")

    seeds = spark.createDataFrame([(0,)], "node bigint")
    got = {
        r.node: r.dist
        for r in bfs_distances(chain(5), seeds, max_rounds=4).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}  # diameter == budget: ok
    with _pytest.raises(RuntimeError, match="frontier"):
        bfs_distances(chain(6), seeds, max_rounds=4).collect()


def test_er_blocking_guard_and_symmetry(spark, sf_dir):
    """Every emitted pair shares its block key, respects the cap, carries
    a <= threshold distance, and appears once with part_a < part_b."""
    from cl_tagger_batch_processing_spark.operators import relational

    rows = relational.er_blocking_pairs(spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.part_a < r.part_b
        assert (r.part_a, r.part_b) not in seen
        seen.add((r.part_a, r.part_b))
        assert r.block_size <= relational.ER_BLOCK_CAP
        assert r.lev_dist <= relational.ER_LEV_MAX
        assert r.name_a.split(" ")[0] == r.block_word
        assert r.name_b.split(" ")[0] == r.block_word


def test_lpa_communities_refine_components(spark, sf_dir):
    """Every LPA community lies inside one connected component (labels
    propagate only along edges), every node is labeled exactly once, and
    sizes roll up correctly."""
    from collections import Counter

    from cl_tagger_batch_processing_spark.operators import graph

    lpa = graph.graph_lpa_communities(spark, sf_dir).collect()
    comp = {r.node: r.component_id for r in graph.graph_components(spark, sf_dir).collect()}
    assert len(lpa) == len({r.node for r in lpa}) == len(comp)
    by_comm = {}
    for r in lpa:
        by_comm.setdefault(r.community, set()).add(comp[r.node])
    assert all(len(v) == 1 for v in by_comm.values())
    sizes = Counter(r.community for r in lpa)
    for r in lpa:
        assert r.community_size == sizes[r.community]


def test_pca_power_iteration_matches_numpy(spark, sf_dir):
    """The scaled-integer squaring chain must land on numpy's dominant
    eigenvector (|cos| > 0.9999) and reproduce its top eigenvalue — the
    end-to-end spectral correctness check the oracle (which replays the
    same integer arithmetic) cannot provide."""
    import numpy as np

    from cl_tagger_batch_processing_spark.operators import similarity
    from cl_tagger_batch_processing_spark.sources.tables import load_table

    rows = sorted(
        similarity.embedding_pca_power_iteration(spark, sf_dir).collect(),
        key=lambda r: r.dim,
    )
    v = np.array([r.loading for r in rows])
    assert np.abs(v).max() == 1.0  # ∞-normalized
    first_nonzero = next(x for x in v if x != 0)
    assert first_nonzero > 0  # sign convention
    emb = np.array(
        [
            r.embedding
            for r in load_table(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ]
    )
    qv = np.round(emb.astype(np.float64) * 1000)
    C = np.cov(qv.T, bias=True) / 1e6
    w, V = np.linalg.eigh(C)
    cos = abs(np.dot(v, V[:, -1])) / np.linalg.norm(v)
    assert cos > 0.9999, cos
    assert abs(rows[0].eigenvalue - w[-1]) < 1e-6 * w[-1]
    assert len({r.eigenvalue for r in rows}) == 1


def test_lev_verify_covers_candidates(spark, sf_dir):
    """The verify stage emits exactly one row per LSH candidate pair
    (nothing invented, nothing dropped); identical texts verify at
    distance 0; the verdict replays from the emitted numbers."""
    from cl_tagger_batch_processing_spark.operators import dedup as dd

    cand = {
        (r.doc_a, r.doc_b)
        for r in dd.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    rows = dd.dedup_minhash_lev_verify(spark, sf_dir).collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == cand
    assert len(rows) == len(cand)
    from decimal import ROUND_HALF_UP, Decimal

    for r in rows:
        # Spark F.round is HALF_UP; Python round() is banker's and differs
        # on exact .5 ties (hit at sf0.01: round(4/512, 6)) — replay with
        # the same HALF_UP rule
        expect = float(
            Decimal(r.lev_dist / max(r.len_a, r.len_b)).quantize(
                Decimal("1e-6"), rounding=ROUND_HALF_UP
            )
        )
        assert r.norm_lev == expect
        assert r.is_dup == (1 if r.norm_lev <= dd.LEV_VERIFY_NORM_MAX else 0)
        if r.lev_dist == 0:
            assert r.is_dup == 1


def test_perplexity_sweep_monotone(spark, sf_dir):
    """Raising the threshold can only keep more docs: per lang, n_kept and
    kept_frac are non-decreasing in threshold; n_docs is
    threshold-independent; the sweep engages (not all rows 0% or 100%)."""
    from collections import defaultdict

    from cl_tagger_batch_processing_spark.operators import text as text_ops

    rows = text_ops.corpus_perplexity_filter_sweep(spark, sf_dir).collect()
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r)
    assert len(rows) == len(text_ops.PPL_SWEEP) * len(by_lang)
    fracs = set()
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.threshold)
        assert len({r.n_docs for r in rs}) == 1
        kept = [r.n_kept for r in rs]
        assert kept == sorted(kept)
        for r in rs:
            fracs.add(r.kept_frac)
            if r.n_kept == 0:
                assert r.mean_ppl_kept is None
            else:
                assert r.mean_ppl_kept <= r.threshold
    assert any(0.0 < f < 1.0 for f in fracs)  # the sweep discriminates


def test_blocklist_counts_replay(spark, sf_dir):
    """Hit counts replay from the raw text by token equality; the verdict
    is hits > 0; every doc appears exactly once; the list engages (some
    blocked, some clean)."""
    from cl_tagger_batch_processing_spark.operators import text as text_ops
    from cl_tagger_batch_processing_spark.sources.tables import load_table

    rows = {r.doc_id: r for r in text_ops.text_blocklist_filter(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert len(rows) == len(docs)
    blocked = clean = 0
    for d in docs:
        toks = d.text.split(" ")
        hits = sum(1 for t in toks if t in text_ops.BLOCKLIST)
        r = rows[d.doc_id]
        assert r.n_hits == hits
        assert r.n_blocked_terms == len(set(toks) & set(text_ops.BLOCKLIST))
        assert r.is_blocked == (1 if hits else 0)
        blocked += r.is_blocked
        clean += 1 - r.is_blocked
    assert blocked > 0 and clean > 0


def test_ppr_concentrates_on_seeds(spark, sf_dir):
    """PPR sanity vs global PageRank: seeds carry the teleport floor, so
    every seed outranks the global-PR minimum share; rank mass is
    conserved up to floor-division residue (sum <= 1, and > 0.5); and
    nodes outside the seeds' components are exactly 0."""
    from cl_tagger_batch_processing_spark.operators import graph

    rows = graph.graph_personalized_pagerank(spark, sf_dir).collect()
    assert rows
    total = sum(r.pagerank for r in rows)
    assert 0.5 < total <= 1.0 + 1e-9
    seeds = [r for r in rows if r.is_seed == 1]
    assert len(seeds) == min(graph.SP_N_SEEDS, len(rows))
    floor_share = 0.15 / len(seeds)
    for s in seeds:
        assert s.pagerank >= floor_share - 1e-9, s
    comp = {
        r.node: r.component_id
        for r in graph.graph_components(spark, sf_dir).collect()
    }
    seed_comps = {comp[s.node] for s in seeds}
    for r in rows:
        if comp[r.node] not in seed_comps:
            assert r.pr_scaled == 0, r
        if r.is_seed == 0 and comp[r.node] in seed_comps:
            assert r.pr_scaled >= 0


def test_stream_hll_tracks_exact_distinct(spark, sf_dir):
    """The streaming windowed HLL stays within the m=64 error envelope of
    the exact per-window distinct count (5σ bound), covers every hour
    window with events, and its state footprint claim holds: at most
    HLL_M register rows fed each window's estimate."""
    from cl_tagger_batch_processing_spark.operators.relational import HLL_M
    from cl_tagger_batch_processing_spark.sources.tables import load_table
    from cl_tagger_batch_processing_spark.streaming.windows import (
        stream_hll_distinct,
    )
    from pyspark.sql import functions as F

    rows = {
        r.window_start_epoch: r
        for r in stream_hll_distinct(spark, sf_dir).collect()
    }
    exact = {
        r.w: r.n
        for r in load_table(spark, sf_dir, "events")
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 1000000 div 3600 * 3600"
            ).alias("w"),
            "user_id",
        )
        .groupBy("w")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(rows) == set(exact)
    for w, r in rows.items():
        assert r.n_regs <= HLL_M
        assert abs(r.hll_estimate - exact[w]) <= 5 * 0.13 * max(exact[w], 8), (
            w,
            r.hll_estimate,
            exact[w],
        )


def test_closeness_centrality_matches_python_bfs(spark, sf_dir):
    """Exact cross-check: roots are the top-degree nodes (degree DESC, node
    ASC), and each root's (n_reached, sum_dist, closeness) equals a
    driver-side BFS recomputation over the collected edge list."""
    from collections import deque

    from cl_tagger_batch_processing_spark.operators import graph

    rows = graph.graph_closeness_centrality(spark, sf_dir).collect()
    assert rows and len(rows) <= graph.CLOSE_N_SOURCES
    edges = [
        (r.src, r.dst) for r in graph.cooccurrence_edges(spark, sf_dir).collect()
    ]
    nbrs: dict = {}
    deg: dict = {}
    for s, d in edges:
        nbrs.setdefault(s, set()).add(d)
        deg[s] = deg.get(s, 0) + 1
    expected_roots = sorted(deg, key=lambda n: (-deg[n], n))[: graph.CLOSE_N_SOURCES]
    assert sorted(r.root for r in rows) == sorted(expected_roots)
    for r in rows:
        seen = {r.root: 0}
        q = deque([r.root])
        while q:
            u = q.popleft()
            for v in nbrs.get(u, ()):
                if v not in seen:
                    seen[v] = seen[u] + 1
                    q.append(v)
        assert r.degree == deg[r.root]
        assert r.n_reached == len(seen)
        assert r.sum_dist == sum(seen.values())
        if r.sum_dist > 0:
            assert r.closeness == (r.n_reached - 1) / r.sum_dist
        else:
            assert r.closeness is None


def test_assortativity_matches_exact_stats(spark, sf_dir):
    """Assortativity cross-check: Pearson r over (deg(src), deg(dst)) edge
    pairs recomputed driver-side with the same double tree."""
    import math

    from cl_tagger_batch_processing_spark.operators import graph

    row = graph.graph_assortativity(spark, sf_dir).collect()[0]
    edges = [
        (r.src, r.dst) for r in graph.cooccurrence_edges(spark, sf_dir).collect()
    ]
    deg: dict = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    pairs = [(deg[s], deg[d]) for s, d in edges]
    assert row.n_edges == len(pairs)
    n = float(len(pairs))
    sx = float(sum(x for x, _ in pairs))
    sy = float(sum(y for _, y in pairs))
    sxy = float(sum(x * y for x, y in pairs))
    sxx = float(sum(x * x for x, _ in pairs))
    syy = float(sum(y * y for _, y in pairs))
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    if vx > 0 and vy > 0:
        assert row.assortativity == (n * sxy - sx * sy) / math.sqrt(vx * vy)
        assert -1.0 <= row.assortativity <= 1.0
    else:
        assert row.assortativity is None
    # the symmetric edge list makes the pair multiset symmetric: sx == sy
    assert sx == sy and sxx == syy


def test_mmr_diversify_replays_greedy(spark, sf_dir):
    """Exact greedy replay: pool = top-MMR_POOL by (rel DESC, id ASC);
    pick 1 is pure relevance; each later pick maximizes
    λ·rel − (1−λ)·maxsim over the remaining pool with the same float
    tree and tie-break."""
    import math

    from cl_tagger_batch_processing_spark.operators import similarity
    from cl_tagger_batch_processing_spark.operators.dedup import quantized_embeddings

    rows = sorted(
        similarity.sim_mmr_diversify(spark, sf_dir).collect(), key=lambda r: r.rank
    )
    assert [r.rank for r in rows] == list(range(1, similarity.MMR_K + 1))
    base = {
        r.vec_id: (r.qv, r.nrm)
        for r in quantized_embeddings(spark, sf_dir).collect()
    }

    def cos(a, b):
        qa, na = base[a]
        qb, nb = base[b]
        dot = sum(x * y for x, y in zip(qa, qb))
        return float(dot) / (math.sqrt(float(na)) * math.sqrt(float(nb)))

    rel = {v: cos(0, v) for v in base if v != 0}
    pool = sorted(rel, key=lambda v: (-rel[v], v))[: similarity.MMR_POOL]
    lam, mu = similarity.MMR_LAMBDA, similarity.MMR_MU
    picked = [max(pool, key=lambda v: (rel[v], -v))]
    scores = [lam * rel[picked[0]]]
    while len(picked) < similarity.MMR_K:
        cand = [v for v in pool if v not in picked]
        best, best_score = None, None
        for v in sorted(cand):
            s = lam * rel[v] - mu * max(cos(v, p) for p in picked)
            if best is None or s > best_score:
                best, best_score = v, s
        picked.append(best)
        scores.append(best_score)
    for r, exp_id, exp_score in zip(rows, picked, scores):
        assert r.vec_id == exp_id
        assert r.rel == rel[exp_id]
        assert r.mmr == exp_score
    # diversity engaged: later picks pay a redundancy penalty
    assert all(rows[i].mmr <= rows[0].mmr for i in range(1, len(rows)))


def test_modularity_matches_exact_replay(spark, sf_dir):
    """Per-community counters and the exact-integer modularity replay from
    the collected edge list and the LPA partition; the repeated global Q
    equals the summed numerator divided once."""
    from collections import Counter

    from cl_tagger_batch_processing_spark.operators import graph

    rows = graph.graph_modularity(spark, sf_dir).collect()
    assert rows
    lpa = {
        r.node: r.community
        for r in graph.graph_lpa_communities(spark, sf_dir).collect()
    }
    edges = [
        (r.src, r.dst) for r in graph.cooccurrence_edges(spark, sf_dir).collect()
    ]
    e2 = len(edges)
    dsum: Counter = Counter()
    internal: Counter = Counter()
    for s, d in edges:
        dsum[lpa[s]] += 1
        if lpa[s] == lpa[d]:
            internal[lpa[s]] += 1
    nn = Counter(lpa.values())
    assert len(rows) == len(nn)
    qnum = sum(internal[c] * e2 - dsum[c] ** 2 for c in dsum)
    den = float(e2) * float(e2)
    for r in rows:
        c = r.community
        assert r.n_nodes == nn[c]
        assert r.degree_sum == dsum[c]
        assert r.internal_deg == internal[c]
        assert r.contribution == float(internal[c] * e2 - dsum[c] ** 2) / den
        assert r.modularity_q == float(qnum) / den
    assert -0.5 <= rows[0].modularity_q <= 1.0


def test_logistic_regression_training_invariants(spark, sf_dir):
    """GD correctness anchors that dodge 9dp-rounding ambiguity: the FIRST
    step is exactly replayable (at w=0 every σ is exactly 0.5, so the
    rounded gradient terms are exact halves), the model moves toward the
    minority-class logit, and accuracy at 0.5 equals the majority-class
    rate on this near-uninformative feature."""
    from cl_tagger_batch_processing_spark.operators import relational
    from cl_tagger_batch_processing_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    row = relational.events_logistic_regression(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    npos = ev.where(F.col("event_type") == "purchase").count()
    assert row.n == n
    assert npos < n - npos  # purchase is the minority class in the fixture
    # step 1 from w=(0,0): g0 = Σ(0.5 − y) exactly
    a1 = 0.0 - relational.LR_ETA * (float(0.5 * n - npos) / n)
    assert a1 < 0
    # after 8 steps the intercept kept moving toward the minority logit
    assert row.intercept < a1 < 0
    # near-uninformative feature → the 0.5 rule predicts the majority class
    assert row.accuracy == (n - npos) / n
    assert 0.0 < row.log_loss < 1.0
    assert abs(row.coef) < 1.0


def test_textrank_matches_python_pagerank(spark, sf_dir):
    """Exact replay: build the word graph driver-side, run the same
    integer floor-division PageRank, and compare every scaled rank."""
    from collections import Counter

    from cl_tagger_batch_processing_spark.operators import graph, text as text_ops
    from cl_tagger_batch_processing_spark.sources.tables import load_table

    rows = {r.word: r for r in text_ops.text_textrank_keywords(spark, sf_dir).collect()}
    docs = [r.text for r in load_table(spark, sf_dir, "documents").collect()]
    und: Counter = Counter()
    for t in docs:
        ws = t.split(" ")
        for i in range(len(ws) - 1):
            a, b = sorted((ws[i], ws[i + 1]))
            if a != b:
                und[(a, b)] += 1
    edges: dict = {}
    for (a, b), c in und.items():
        if c >= text_ops.TEXTRANK_MIN_COOC:
            edges.setdefault(a, []).append(b)
            edges.setdefault(b, []).append(a)
    nodes = sorted(edges)
    n = len(nodes)
    assert n > 0 and set(rows) == set(nodes)
    S = graph.PR_SCALE
    pr = {v: S // n for v in nodes}
    teleport = (S * (graph.PR_DAMPING_DEN - graph.PR_DAMPING_NUM)) // graph.PR_DAMPING_DEN // n
    for _ in range(graph.PR_N_ITER):
        contrib: Counter = Counter()
        for u in nodes:
            share = pr[u] // len(edges[u])
            for v in edges[u]:
                contrib[v] += share
        pr = {
            v: teleport + (contrib[v] * graph.PR_DAMPING_NUM) // graph.PR_DAMPING_DEN
            for v in nodes
        }
    for v in nodes:
        assert rows[v].pr_scaled == pr[v], v
    ranked = sorted(nodes, key=lambda v: (-pr[v], v))
    for i, v in enumerate(ranked, 1):
        assert rows[v].rank == i


def test_split_leakage_consistent_with_components(spark, sf_dir):
    """The leakage cells replay from joining the production candidate
    pairs to the production split labels; shares sum to 1; cross-split
    flags are correct."""
    from collections import Counter

    from cl_tagger_batch_processing_spark.operators import curation, dedup as dd

    rows = curation.corpus_split_leakage_report(spark, sf_dir).collect()
    assert rows
    split = {
        r.doc_id: r.split
        for r in curation.corpus_split_assign(spark, sf_dir).collect()
    }
    pairs = [
        (r.doc_a, r.doc_b)
        for r in dd.dedup_minhash_lsh(spark, sf_dir).collect()
        if r.est_jaccard >= dd.CLUSTER_EST_THRESHOLD
    ]
    cells: Counter = Counter()
    for a, b in pairs:
        sa, sb = sorted((split[a], split[b]))
        cells[(sa, sb)] += 1
    assert {(r.split_a, r.split_b): r.n_pairs for r in rows} == dict(cells)
    total = sum(cells.values())
    for r in rows:
        assert r.is_cross_split == (1 if r.split_a != r.split_b else 0)
        assert r.pair_share == r.n_pairs / total
    assert abs(sum(r.pair_share for r in rows) - 1.0) < 1e-12


def test_knn_label_vote_replays_exactly(spark, sf_dir):
    """The majority vote replays from the collected top-k neighbor set
    with the same (count DESC, label ASC) tie-break; one row per query;
    the verdict is an exact compare."""
    from collections import Counter

    from cl_tagger_batch_processing_spark.operators import similarity
    from cl_tagger_batch_processing_spark.operators.dedup import quantized_embeddings

    rows = {r.query_id: r for r in similarity.sim_knn_label_vote(spark, sf_dir).collect()}
    labels = {
        r.vec_id: r.label for r in quantized_embeddings(spark, sf_dir).collect()
    }
    topk = similarity.sim_topk_cosine(spark, sf_dir).collect()
    by_q: dict = {}
    for r in topk:
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    assert set(rows) == set(by_q)
    for q, nbrs in by_q.items():
        votes = Counter(labels[n] for n in nbrs)
        pred = min(votes, key=lambda l: (-votes[l], l))
        r = rows[q]
        assert r.predicted_label == pred
        assert r.n_votes == votes[pred]
        assert r.true_label == labels[q]
        assert r.is_correct == (1 if pred == labels[q] else 0)


def test_silhouette_replays_and_bounds(spark, sf_dir):
    """Per-cluster sizes match the k-means assignment; mean silhouettes
    are in [-1, 1]; a driver-side replay from the assignment's own d2
    and a brute-force second-nearest centroid agrees exactly."""
    import math
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from cl_tagger_batch_processing_spark.operators import similarity

    rows = {
        r.cluster_id: r
        for r in similarity.embedding_silhouette_report(spark, sf_dir).collect()
    }
    assigned = similarity.embedding_kmeans(spark, sf_dir).collect()
    base, cent = similarity._kmeans_state(spark, sf_dir)
    vecs = {r.vec_id: r.qv for r in base.collect()}
    per_cluster: defaultdict = defaultdict(list)
    for r in assigned:
        qv = vecs[r.vec_id]
        d2s = sorted(
            (sum((x - c) ** 2 for x, c in zip(qv, cv)), j) for j, cv in cent
        )
        a2, own = d2s[0]
        assert own == r.cluster_id and a2 == r.d2
        b2 = d2s[1][0]
        sa, sb = math.sqrt(float(a2)), math.sqrt(float(b2))
        s = (sb - sa) / max(sa, sb) if max(sa, sb) > 0 else 0.0
        per_cluster[own].append(
            Decimal(s).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
        )
    assert set(rows) == set(per_cluster)
    for cid, svals in per_cluster.items():
        r = rows[cid]
        assert r.n_points == len(svals)
        assert r.mean_silhouette == float(sum(svals)) / len(svals)
        assert -1.0 <= r.mean_silhouette <= 1.0


def test_silhouette_join_path_agrees_with_literal_semantics(spark, sf_dir):
    """Force k past KMEANS_LITERAL_MAX_K so the broadcast-join top-2 path
    runs, and replay it exactly — proving the large-k strategy computes
    the same (own, nearest-other) convention as the literal path."""
    import math
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from cl_tagger_batch_processing_spark.operators import similarity

    k = similarity.KMEANS_LITERAL_MAX_K + 1
    rows = {
        r.cluster_id: r
        for r in similarity.embedding_silhouette_report(spark, sf_dir, k=k).collect()
    }
    base, cent = similarity._kmeans_state(spark, sf_dir, k=k)
    per_cluster: defaultdict = defaultdict(list)
    for b in base.collect():
        d2s = sorted(
            (sum((x - c) ** 2 for x, c in zip(b.qv, cv)), j) for j, cv in cent
        )
        (a2, own), (b2, _) = d2s[0], d2s[1]
        sa, sb = math.sqrt(float(a2)), math.sqrt(float(b2))
        s = (sb - sa) / max(sa, sb) if max(sa, sb) > 0 else 0.0
        per_cluster[own].append(
            Decimal(s).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
        )
    assert set(rows) == set(per_cluster)
    for cid, svals in per_cluster.items():
        assert rows[cid].n_points == len(svals)
        assert rows[cid].mean_silhouette == float(sum(svals)) / len(svals)


def test_vocab_coverage_curve_replays_exactly(spark, sf_dir):
    """Coverage points replay from a driver-side token count with the same
    ranking; coverage is monotone in k and reaches 1.0 once k covers the
    whole vocabulary."""
    from collections import Counter

    from cl_tagger_batch_processing_spark.operators import text as text_ops
    from cl_tagger_batch_processing_spark.sources.tables import load_table

    rows = {
        r.k: r
        for r in text_ops.text_vocab_coverage_curve(spark, sf_dir).collect()
    }
    assert set(rows) == set(text_ops.VOCAB_CURVE_KS)
    counts: Counter = Counter()
    for r in load_table(spark, sf_dir, "documents").select("text").collect():
        counts.update(r.text.split(" "))
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(counts.values())
    prev = 0.0
    for k in text_ops.VOCAB_CURVE_KS:
        used = min(k, len(ordered))
        covered = sum(n for _, n in ordered[:used])
        r = rows[k]
        assert r.n_tokens_used == used
        assert r.covered_tokens == covered
        assert r.total_tokens == total
        assert r.coverage == covered / total
        assert r.coverage >= prev
        prev = r.coverage
    if max(text_ops.VOCAB_CURVE_KS) >= len(ordered):
        assert rows[max(text_ops.VOCAB_CURVE_KS)].coverage == 1.0


def test_r8_constants_in_sync_with_oracles():
    """Round-8 tuning constants pinned to their oracle literals."""
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import graph, relational
    from cl_tagger_batch_processing_spark.operators import text as text_ops

    assert relational.APPROX_DISTINCT_EPS == 0.15
    assert oracles.ORACLE_SQL["approx_distinct"].count("<= 0.15") == 2
    bm25 = oracles.ORACLE_SQL["text_bm25_topk"]
    assert text_ops.BM25_K1 == 1.2 and bm25.count("CAST(1.2 AS DOUBLE)") == 2
    assert text_ops.BM25_B == 0.75 and bm25.count("CAST(0.75 AS DOUBLE)") == 2
    assert text_ops.BM25_TOP_K == 20 and "LIMIT 20" in bm25
    assert text_ops.BM25_QUERY == ("spark", "query", "join")
    assert "('spark', 'query', 'join')" in bm25
    hits = oracles.ORACLE_SQL["graph_hits"]
    assert graph.HITS_SCALE == 1_000_000 and "* 1000000)" in hits
    assert graph.HITS_ROUNDS == 4 and "h4" in hits and "h5" not in hits
    # ER closure reuses er_blocking_pairs' caps verbatim
    er = oracles.ORACLE_SQL["er_resolution_clusters"]
    assert relational.ER_BLOCK_CAP == 64 and "block_size <= 64" in er
    assert relational.ER_LEV_MAX == 2 and "<= 2" in er
    bp = oracles.ORACLE_SQL["text_boilerplate_ngrams"]
    assert text_ops.BOILERPLATE_MIN_DF == 2 and "df >= 2" in bp
    assert text_ops.BOILERPLATE_SHINGLE_K == 3
    assert "t[i + 2]" in bp and "len(t) >= 3" in bp
    bpe = oracles.ORACLE_SQL["text_bpe_train_merges"]
    assert text_ops.BPE_MERGE_ROUNDS == 4
    assert "top4" in bpe and "top5" not in bpe
    # the last round learns a rule but never applies it — on both engines
    assert "s3 AS MATERIALIZED" in bpe and "s4 AS" not in bpe


def test_r8_batch7_constants_in_sync():
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import curation, similarity

    assert similarity.HARD_NEG_K == 3
    assert "rank <= 3" in oracles.ORACLE_SQL["embedding_hard_negatives"]
    assert curation.STRATified_VAL_PCT == 10
    assert "(n_stratum + 9) // 10" in oracles.ORACLE_SQL["corpus_stratified_split"]
    assert "'strat:'" in oracles.ORACLE_SQL["corpus_stratified_split"]


def test_viterbi_scan_matches_sequential_dp(spark, sf_dir):
    """The log-depth max-plus scan must reproduce the plain O(N) Viterbi:
    an INDEPENDENT sequential implementation (the textbook loop) over the
    same observation series — the scan and its SQL oracle share an
    algorithm, so this is the check that algorithm is actually Viterbi."""
    from cl_tagger_batch_processing_spark.operators.relational import (
        HMM_EMIT,
        HMM_PRIOR,
        HMM_TRANS,
        events_hmm_viterbi_decode,
    )

    rows = events_hmm_viterbi_decode(spark, sf_dir).orderBy("idx").collect()
    assert rows
    obs = [r.obs for r in rows]
    # sequential forward pass (textbook Viterbi, max-plus)
    fw = []
    for t, o in enumerate(obs):
        e = [HMM_EMIT[0][o], HMM_EMIT[1][o]]
        if t == 0:
            fw.append([HMM_PRIOR[0] + e[0], HMM_PRIOR[1] + e[1]])
        else:
            prev = fw[-1]
            fw.append(
                [
                    max(prev[0] + HMM_TRANS[0][j], prev[1] + HMM_TRANS[1][j]) + e[j]
                    for j in (0, 1)
                ]
            )
    # sequential backward pass
    n = len(obs)
    bw = [[0, 0] for _ in range(n)]
    for t in range(n - 2, -1, -1):
        o = obs[t + 1]
        e = [HMM_EMIT[0][o], HMM_EMIT[1][o]]
        bw[t] = [
            max(HMM_TRANS[j][0] + e[0] + bw[t + 1][0],
                HMM_TRANS[j][1] + e[1] + bw[t + 1][1])
            for j in (0, 1)
        ]
    best = max(fw[-1])
    for t, r in enumerate(rows):
        s0 = fw[t][0] + bw[t][0]
        s1 = fw[t][1] + bw[t][1]
        assert r.path_score == max(s0, s1) == best
        assert r.state == (0 if s0 >= s1 else 1)


def test_hmm_constants_in_sync():
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import relational

    assert relational.HMM_PRIOR == (0, -693)
    assert relational.HMM_TRANS == ((-223, -1609), (-1609, -223))
    assert relational.HMM_EMIT == ((-223, -1609), (-1609, -223))
    assert relational.HMM_SCAN_ROUNDS == 9
    sql = oracles.ORACLE_SQL["events_hmm_viterbi_decode"]
    assert "p9" in sql and "p10" not in sql and "-693" in sql and "-1609" in sql


def test_betweenness_matches_sequential_brandes(spark, sf_dir):
    """Independent check: a textbook sequential Brandes (no layer CTEs, no
    scaled rounding) over the collected edge list must agree with the
    distributed layer-synchronous version to float tolerance — the SQL
    oracle replays the same layered algorithm, so this pins the MATH."""
    from collections import defaultdict, deque

    from cl_tagger_batch_processing_spark.operators.graph import (
        cooccurrence_edges,
        graph_betweenness_seeded,
    )

    got = {
        r.node: r.betweenness
        for r in graph_betweenness_seeded(spark, sf_dir).collect()
    }
    assert got
    edges = defaultdict(list)
    for r in cooccurrence_edges(spark, sf_dir).collect():
        edges[r.src].append(r.dst)
    seeds = sorted(edges)[:3]
    dep = defaultdict(float)
    for s in seeds:
        dist, sigma, order = {s: 0}, defaultdict(int), []
        sigma[s] = 1
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            for w in edges[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = defaultdict(float)
        for v in reversed(order):
            for w in edges[v]:
                if dist.get(w) == dist[v] + 1:
                    delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
        for v, d_ in delta.items():
            if v != s:
                dep[v] += d_
    for node, bc in got.items():
        assert abs(bc - dep.get(node, 0.0)) < 1e-4, (node, bc, dep.get(node))
    for node, d_ in dep.items():
        if d_ > 1e-9:
            assert node in got


def test_bc_depth_constant_in_sync():
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import graph

    assert graph.BC_MAX_DEPTH == 16
    sql = oracles.ORACLE_SQL["graph_betweenness_seeded"]
    assert "state16" in sql and "state17" not in sql
    assert "del16" in sql and "del17" not in sql


def test_knn_graph_k_in_sync():
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import similarity

    assert similarity.KNN_GRAPH_K == 3
    assert "rank <= 3" in oracles.ORACLE_SQL["sim_knn_graph"]


def test_winnowing_constants_and_guarantee(spark, sf_dir):
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import text as text_ops
    from cl_tagger_batch_processing_spark.operators.text import (
        text_winnowing_fingerprints,
    )

    assert (text_ops.WINNOW_K, text_ops.WINNOW_W) == (4, 4)
    sql = oracles.ORACLE_SQL["text_winnowing_fingerprints"]
    assert "3 FOLLOWING" in sql and "len(t) - 3" in sql
    # density guarantee: winnowing selects >= 1 fingerprint per window and
    # about 2/(w+1) of positions — pin the hard bounds, not the estimate
    import pyspark.sql.functions as F

    sel = text_winnowing_fingerprints(spark, sf_dir)
    per_doc = sel.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sel"))
    docs = sel.sparkSession.read.parquet(f"{sf_dir}/documents.parquet")
    n_tokens = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("nt")
    )
    j = per_doc.join(n_tokens, "doc_id").collect()
    assert j
    for r in j:
        n_windows = r.nt - 4 - 4 + 2  # positions P-W+1, P = nt-K+1
        assert 1 <= r.n_sel <= n_windows


def test_bbit_constants_in_sync():
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import dedup

    assert (dedup.BBIT_BITS, dedup.BBIT_MOD, dedup.BBIT_BASE) == (2, 4, 0.25)
    sql = oracles.ORACLE_SQL["dedup_minhash_bbit_report"]
    assert "% 4 = sb" in sql and "CAST(0.25 AS DOUBLE)" in sql


def test_kanon_sweep_constants_in_sync():
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import curation

    assert curation.KANON_SWEEP_WIDTHS == (500.0, 1000.0, 2000.0, 4000.0)
    assert curation.KANON_K == 5
    sql = oracles.ORACLE_SQL["privacy_generalization_sweep"]
    assert "[500.0, 1000.0, 2000.0, 4000.0]" in sql
    assert sql.count("class_size < 5") == 3


def test_r9_constants_in_sync_with_oracles():
    """Round-9 tuning constants pinned to their oracle literals."""
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import relational, similarity
    from cl_tagger_batch_processing_spark.operators import text as text_ops

    kn = oracles.ORACLE_SQL["text_kneser_ney_bigram"]
    assert (text_ops.KN_DISCOUNT_NUM, text_ops.KN_DISCOUNT_DEN) == (3, 4)
    assert kn.count("CAST(3 AS DOUBLE) / CAST(4 AS DOUBLE)") == 2
    pt = oracles.ORACLE_SQL["events_permutation_test"]
    assert relational.PERM_B == 64 and "generate_series(0, 63)" in pt
    rrf = oracles.ORACLE_SQL["sim_hybrid_rrf"]
    assert similarity.RRF_K == 60 and rrf.count("CAST(60 AS DOUBLE)") == 2
    assert similarity.RRF_QUERY_VEC == 0 and "vec_id = 0" in rrf
    assert similarity.RRF_TOP_K == 20
    assert "sem_rank <= 20" in rrf and "fused_rank <= 20" in rrf
    gbs = oracles.ORACLE_SQL["sim_ann_graph_search"]
    assert similarity.GBS_ENTRY_VEC == 0 and "WHERE node = 0" in gbs
    assert similarity.GBS_QUERY_VEC == 1 and "vec_id = 1" in gbs
    assert similarity.GBS_BEAM == 8 and gbs.count("LIMIT 8") == 5
    assert similarity.GBS_HOPS == 3 and "beam3" in gbs and "beam4" not in gbs
    # the walk oracle re-derives the kNN graph: its k must track
    # KNN_GRAPH_K just like sim_knn_graph's own oracle
    assert similarity.KNN_GRAPH_K == 3 and "rank <= 3" in gbs


def test_coverage_md_headline_count_is_mechanical():
    # VERDICT r8 ask #6: the COVERAGE.md headline registry count drifted
    # from the true registry size once — keep the accounting mechanical by
    # pinning the "**N registry queries**" line to len(QUERIES).
    import re

    from cl_tagger_batch_processing_spark.registry import QUERIES

    text = open("COVERAGE.md").read()
    m = re.search(r"\*\*(\d+) registry queries\*\*", text)
    assert m, "COVERAGE.md headline '**N registry queries**' line missing"
    assert int(m.group(1)) == len(QUERIES), (
        f"COVERAGE.md says {m.group(1)} registry queries, "
        f"registry has {len(QUERIES)} — update the headline accounting"
    )


def test_bench_delta_artifact_citations_match():
    # VERDICT r9 ask #3: BENCH_DELTA's r9 narrative quoted a different
    # same-code run than the shipped artifact. Every mechanical citation
    # line '> artifact BENCH_rNN.json: total T s, Q queries, E errors'
    # must agree to the digit with the committed driver artifact it names.
    import json
    import re

    text = open("BENCH_DELTA.md").read()
    cites = re.findall(
        r"^> artifact (BENCH_r\d+\.json): total ([0-9.]+) s, "
        r"(\d+) queries, (\d+) errors$",
        text,
        re.MULTILINE,
    )
    assert cites, "BENCH_DELTA.md has no mechanical '> artifact ...' citation"
    for fname, total, n_queries, n_errors in cites:
        with open(fname) as f:
            parsed = json.load(f)["parsed"]
        assert float(total) == parsed["value"], (fname, total, parsed["value"])
        assert int(n_queries) == parsed["n_queries"], fname
        assert int(n_errors) == parsed["n_errors"], fname


# --- r9 independent sequential cross-checks (the Viterbi/Brandes pattern):
# each rotated-in flagship whose SQL oracle shares the distributed
# algorithm gets a textbook from-scratch implementation over an
# independent data path (duckdb straight off the parquet) ------------------


def _duck_rows(sf_dir, sql):
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(sql.format(sf=sf_dir)).fetchall()
    finally:
        con.close()


def test_er_clusters_match_union_find(spark, sf_dir):
    """Textbook ER: Python blocking dict + O(mn) Levenshtein DP +
    union-find transitive closure — no SQL, no recursive CTE, no pointer
    jumping. Must reproduce every resolved entity exactly."""
    from cl_tagger_batch_processing_spark.operators.relational import (
        ER_BLOCK_CAP,
        ER_LEV_MAX,
    )
    from cl_tagger_batch_processing_spark.registry import QUERIES

    parts = _duck_rows(
        sf_dir, "SELECT p_partkey, p_name, p_size FROM '{sf}/part.parquet'"
    )

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    blocks = {}
    for key, name, size in parts:
        blocks.setdefault((name.split(" ")[0], size), []).append((key, name))
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for members in blocks.values():
        if len(members) > ER_BLOCK_CAP:
            continue
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                (ka, na), (kb, nb) = members[i], members[j]
                if lev(na, nb) <= ER_LEV_MAX:
                    ra, rb = find(ka), find(kb)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    clusters = {}
    for key, _, _ in parts:
        clusters.setdefault(find(key), []).append(key)
    # union-by-min makes every root the component's min id == entity_id
    expected = {
        root: sorted(ms) for root, ms in clusters.items() if len(ms) >= 2
    }
    got = {
        r.entity_id: [int(x) for x in r.member_ids.split(",")]
        for r in QUERIES["er_resolution_clusters"](spark, sf_dir).collect()
    }
    assert got == expected


def test_winnowing_matches_textbook(spark, sf_dir):
    """The MOSS paper's algorithm verbatim: slide a w-window over k-gram
    hashes, keep each window's minimum (rightmost on ties), dedupe — a
    plain Python loop, no struct-max window idiom."""
    import hashlib

    from cl_tagger_batch_processing_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
    )
    from cl_tagger_batch_processing_spark.registry import QUERIES

    docs = _duck_rows(sf_dir, "SELECT doc_id, text FROM '{sf}/documents.parquet'")
    expected = set()
    for doc_id, text in docs:
        t = text.split(" ")
        grams = [
            " ".join(t[i : i + WINNOW_K])
            for i in range(len(t) - WINNOW_K + 1)
        ]
        hs = [
            int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16)
            for g in grams
        ]
        for s in range(len(hs) - WINNOW_W + 1):
            win = hs[s : s + WINNOW_W]
            m = min(win)
            # rightmost position of the min within the window
            pos = s + max(i for i, h in enumerate(win) if h == m) + 1
            expected.add((doc_id, pos, m))
    got = {
        (r.doc_id, r.pos, r.fp)
        for r in QUERIES["text_winnowing_fingerprints"](spark, sf_dir).collect()
    }
    assert got == expected


def test_bpe_matches_sequential_trainer(spark, sf_dir):
    """Textbook sequential BPE (Sennrich et al.): Python dict vocab,
    per-round pair count with overlap, left-to-right greedy merge scan —
    no windows, no gaps-and-islands. Must learn the identical rules."""
    from cl_tagger_batch_processing_spark.operators.text import BPE_MERGE_ROUNDS
    from cl_tagger_batch_processing_spark.registry import QUERIES

    words = _duck_rows(
        sf_dir,
        """SELECT w, COUNT(*) AS wc FROM (
             SELECT unnest(string_split(text, ' ')) AS w
             FROM '{sf}/documents.parquet') GROUP BY 1""",
    )
    seqs = [(list(w), wc) for w, wc in words]
    expected = []
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        counts = {}
        for syms, wc in seqs:
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + wc
                )
        if not counts:
            break
        (pa, pb), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((r, pa, pb, cnt, pa + pb))
        if r == BPE_MERGE_ROUNDS:
            break
        new_seqs = []
        for syms, wc in seqs:
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == pa
                    and syms[i + 1] == pb
                ):
                    out.append(pa + pb)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_seqs.append((out, wc))
        seqs = new_seqs
    got = [
        (r.merge_round, r.sym_a, r.sym_b, r.pair_count, r.merged)
        for r in QUERIES["text_bpe_train_merges"](spark, sf_dir)
        .orderBy("merge_round")
        .collect()
    ]
    assert got == expected


def test_gopher_flags_fire_on_synthetic_pathologies(spark):
    """The fixture corpus is uniformly clean, so flag_too_long /
    flag_word_len / flag_repetition are all-false at every scale (r9
    vacuity audit) — exercise each flag's TRUE path on synthetic
    pathological documents so the gate logic itself is pinned."""
    from cl_tagger_batch_processing_spark.operators.curation import (
        GOPHER_MAX_TOKENS,
        _gopher_flagged,
    )

    too_long = " ".join(["the"] * (GOPHER_MAX_TOKENS + 1))
    short_words = " ".join(["a", "is", "of"] * 20)  # mean len < 3
    long_words = " ".join(["antidisestablishment"] * 60)  # mean len > 10
    repetitive = " ".join(["the quick fox"] * 40)  # dup bigrams >> 20%
    # distinct medium-length words (mean 3-10 chars), unique bigrams,
    # two stopwords, > 50 tokens
    clean = " ".join(f"word{i} items{i}" for i in range(30)) + " the off and"
    docs = spark.createDataFrame(
        [
            (1, too_long),
            (2, short_words),
            (3, long_words),
            (4, repetitive),
            (5, clean),
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in _gopher_flagged(docs).collect()}
    assert rows[1].flag_too_long and not rows[5].flag_too_long
    assert rows[2].flag_word_len and rows[3].flag_word_len
    assert not rows[5].flag_word_len
    assert rows[4].flag_repetition and not rows[5].flag_repetition
    assert rows[5].keep and not rows[4].keep


def test_token_count_classes_on_synthetic_text(spark):
    """n_digit_tokens / n_punct_tokens are zero on the digit-free,
    punctuation-free fixture text at every scale (r9 vacuity audit) —
    pin the pre-tokenizer classes on synthetic text that has all three,
    through the SAME factored expressions the operator ships (review
    pass #2: an inline regex copy pins nothing)."""
    from cl_tagger_batch_processing_spark.operators.text import _token_classes

    docs = spark.createDataFrame(
        [(1, "abc 123 def, ghi! 45 x.y")], "doc_id bigint, text string"
    )
    row = _token_classes(docs).collect()[0]
    # letter runs: abc def ghi x y; digit runs: 123 45; punct: , ! .
    assert (row.n_word_tokens, row.n_digit_tokens, row.n_punct_tokens) == (
        5,
        2,
        3,
    )
    assert row.n_bpe_tokens == 10


def test_logistic_regression_matches_numpy_gd(spark, sf_dir):
    """Independent full-float numpy GD (no 9dp rail, no DECIMAL sums, no
    clip expression sharing) over the same feature projection: after
    LR_STEPS small-eta steps the engine's exact-arithmetic weights must
    agree with the plain-float trajectory to ~1e-5 — pins that the
    distributed aggregate really is gradient descent on this loss."""
    import numpy as np

    from cl_tagger_batch_processing_spark.operators.relational import (
        LR_ETA,
        LR_STEPS,
        LR_X_SCALE,
        events_logistic_regression,
    )

    row = events_logistic_regression(spark, sf_dir).collect()[0]
    data = _duck_rows(
        sf_dir,
        """SELECT value,
                  CAST(CASE WHEN event_type = 'purchase'
                       THEN 1 ELSE 0 END AS DOUBLE)
           FROM '{sf}/events.parquet'""",
    )
    x = np.array([float(v) for v, _ in data]) / LR_X_SCALE
    y = np.array([float(l) for _, l in data])
    a = b = 0.0
    for _ in range(LR_STEPS):
        z = np.clip(a + b * x, -30.0, 30.0)
        p = 1.0 / (1.0 + np.exp(-z))
        a -= LR_ETA * float(np.mean(p - y))
        b -= LR_ETA * float(np.mean((p - y) * x))
    assert abs(row.intercept - a) < 1e-5
    assert abs(row.coef - b) < 1e-5
    z = np.clip(row.intercept + row.coef * x, -30.0, 30.0)
    p = 1.0 / (1.0 + np.exp(-z))
    ll = float(np.mean(-(y * np.log(p) + (1 - y) * np.log(1 - p))))
    assert abs(row.log_loss - ll) < 1e-4
    assert row.accuracy == float(np.mean((p >= 0.5) == (y == 1.0)))


def test_modularity_matches_textbook_formula(spark, sf_dir):
    """Newman's Q computed the textbook way — plain Python float
    Σ_c [e_c/2m − (d_c/2m)²] over duckdb-rebuilt edges with the engine's
    OWN community assignment — against graph_modularity's exact-integer
    rail. Pins the FORMULA independently of the SQL oracle's replay."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    comm = {
        r.node: r.community
        for r in QUERIES["graph_lpa_communities"](spark, sf_dir).collect()
    }
    pairs = _duck_rows(
        sf_dir,
        """SELECT a.l_partkey, b.l_partkey FROM
             (SELECT DISTINCT l_orderkey, l_partkey
              FROM '{sf}/lineitem.parquet') a
           JOIN (SELECT DISTINCT l_orderkey, l_partkey
                 FROM '{sf}/lineitem.parquet') b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING COUNT(*) >= 2""",
    )
    edges = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
    e2 = len(edges)
    deg, internal = {}, {}
    for u, v in edges:
        cu, cv = comm[u], comm[v]
        deg[cu] = deg.get(cu, 0) + 1
        if cu == cv:
            internal[cu] = internal.get(cu, 0) + 1
    q = sum(
        internal.get(c, 0) / e2 - (d / e2) ** 2 for c, d in deg.items()
    )
    rows = QUERIES["graph_modularity"](spark, sf_dir).collect()
    assert rows
    got = {r.community: r for r in rows}
    assert set(got) == set(deg)
    for c, d in deg.items():
        assert got[c].degree_sum == d
        assert got[c].internal_deg == internal.get(c, 0)
        assert abs(
            got[c].contribution - (internal.get(c, 0) / e2 - (d / e2) ** 2)
        ) < 1e-12
    assert abs(rows[0].modularity_q - q) < 1e-9


# --- r10 independent sequential cross-checks (VERDICT r9 ask #7 posture):
# the r9 additions' oracles share the distributed algorithm (same md5
# relabeling, same rank construction, same formula tree in SQL), so a
# shared bug would hash-match forever. Each check below recomputes the
# statistic from the raw parquet in plain Python/numpy — pair-counting
# definitions, hashlib.md5, textbook formulas, float arithmetic — and
# compares to tolerance. They are absolute-tolerance tests: keep them
# green at sf0.01/sf0.1 too (the r9 rule), not just the sf0.001 default.


def test_permutation_test_matches_hashlib_replay(spark, sf_dir):
    """All 64 relabelings replayed with hashlib.md5 and plain float sums
    (no 9dp rail, no DECIMAL(38) widening, no explode/groupBy)."""
    import hashlib

    from cl_tagger_batch_processing_spark.registry import QUERIES

    row = QUERIES["events_permutation_test"](spark, sf_dir).collect()[0]
    rows = _duck_rows(
        sf_dir,
        """SELECT event_id, event_type,
                  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
           FROM '{sf}/events.parquet'
           WHERE event_type IN ('view', 'click')""",
    )
    na = sum(1 for _, t, _ in rows if t == "view")
    nb = len(rows) - na
    sa = sum(v for _, t, v in rows if t == "view")
    sb = sum(v for _, t, v in rows if t == "click")
    diff_obs = (sa / na - sb / nb) / 100.0
    cut = na / (na + nb)
    n_extreme = n_perms = 0
    for b in range(64):
        pa_n = pa_s = pb_n = pb_s = 0
        for eid, _, cv in rows:
            h = hashlib.md5(f"perm:{eid}:{b}".encode()).hexdigest()[:15]
            if int(h, 16) / float(1 << 60) < cut:
                pa_n, pa_s = pa_n + 1, pa_s + cv
            else:
                pb_n, pb_s = pb_n + 1, pb_s + cv
        if pa_n and pb_n:
            n_perms += 1
            if abs((pa_s / pa_n - pb_s / pb_n) / 100.0) >= abs(diff_obs):
                n_extreme += 1
    assert (row.n_a, row.n_b) == (na, nb)
    assert row.diff_obs == pytest.approx(diff_obs, abs=1e-8)
    assert (row.n_perms, row.n_extreme) == (n_perms, n_extreme)
    assert row.p_value == pytest.approx((n_extreme + 1) / (n_perms + 1), abs=1e-6)


def test_kneser_ney_matches_textbook_python(spark, sf_dir):
    """Interpolated KN bigram LM rebuilt with Python dicts and plain float
    log-probs (no 9dp rail, no join chain), per-doc perplexity compared."""
    import math

    from cl_tagger_batch_processing_spark.registry import QUERIES

    got = {r.doc_id: r for r in QUERIES["text_kneser_ney_bigram"](spark, sf_dir).collect()}
    docs = _duck_rows(sf_dir, "SELECT doc_id, text FROM '{sf}/documents.parquet'")
    toks = {d: t.split(" ") for d, t in docs}
    c2: dict = {}
    vocab = set()
    for d, ts in toks.items():
        if d % 2 == 0:
            vocab.update(ts)
            for w1, w2 in zip(ts, ts[1:]):
                c2[(w1, w2)] = c2.get((w1, w2), 0) + 1
    c1: dict = {}
    fanout: dict = {}
    fanin: dict = {}
    for (w1, w2), c in c2.items():
        c1[w1] = c1.get(w1, 0) + c
        fanout[w1] = fanout.get(w1, 0) + 1
        fanin[w2] = fanin.get(w2, 0) + 1
    n_types, v = len(c2), len(vocab)
    d_disc = 3.0 / 4.0

    def prob(w1, w2):
        pcont = (fanin.get(w2, 0) + 1) / (n_types + v)
        if w1 not in c1:
            return pcont
        return (
            max(c2.get((w1, w2), 0) - d_disc, 0.0)
            + d_disc * fanout[w1] * pcont
        ) / c1[w1]

    checked = 0
    for d, ts in toks.items():
        if d % 2 == 0 or len(ts) < 2:
            continue
        lls = [math.log(prob(w1, w2)) for w1, w2 in zip(ts, ts[1:])]
        ppl = math.exp(-sum(lls) / len(lls))
        assert got[d].n_bigrams == len(lls)
        assert got[d].perplexity == pytest.approx(ppl, rel=1e-4), d
        checked += 1
    assert checked and checked == len(got)


def test_ccnet_buckets_match_python_replay(spark, sf_dir):
    """The head/middle/tail token-share bucketing replayed in Python from
    the (already independently cross-checked) per-doc perplexities: sort
    per-(lang, ppl) tie groups, exact-integer 3*cum vs tot boundaries,
    doc-weighted mean perplexity."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    got = {
        (r.lang, r.bucket): r
        for r in QUERIES["corpus_ccnet_buckets"](spark, sf_dir).collect()
    }
    ppl = {
        r.doc_id: r.perplexity
        for r in QUERIES["text_bigram_lm_perplexity"](spark, sf_dir).collect()
    }
    docs = _duck_rows(
        sf_dir,
        """SELECT doc_id, lang,
                  len(string_split(text, ' ')) FROM '{sf}/documents.parquet'""",
    )
    per_v: dict = {}
    for d, lang, ntok in docs:
        if d not in ppl:
            continue
        agg = per_v.setdefault((lang, ppl[d]), [0, 0])
        agg[0] += 1
        agg[1] += ntok
    out: dict = {}
    langs = {lang for lang, _ in per_v}
    for lang in langs:
        groups = sorted((p, nd, nt) for (lg, p), (nd, nt) in per_v.items() if lg == lang)
        tot = sum(nt for _, _, nt in groups)
        cum = 0
        for p, nd, nt in groups:
            cum += nt
            b = "head" if 3 * cum <= tot else ("middle" if 3 * cum <= 2 * tot else "tail")
            agg = out.setdefault((lang, b), [0, 0, 0.0])
            agg[0] += nd
            agg[1] += nt
            agg[2] += p * nd
        for (lg, b), (nd, nt, ps) in out.items():
            if lg != lang:
                continue
            r = got[(lg, b)]
            assert r.n_docs == nd and r.n_tokens == nt
            assert r.token_share == pytest.approx(nt / tot, abs=1e-9)
            assert r.mean_perplexity == pytest.approx(ps / nd, abs=1e-4)
    assert set(got) == set(out)


def test_rouge_verify_matches_python_replay(spark, sf_dir):
    """ROUGE-1 clipped-unigram P/R/F1 recomputed per emitted candidate
    pair from the raw texts with collections.Counter."""
    from collections import Counter

    from cl_tagger_batch_processing_spark.registry import QUERIES

    rows = QUERIES["dedup_rouge_verify"](spark, sf_dir).collect()
    assert rows
    texts = dict(_duck_rows(sf_dir, "SELECT doc_id, text FROM '{sf}/documents.parquet'"))
    tfs: dict = {}
    for r in rows:
        for d in (r.doc_a, r.doc_b):
            if d not in tfs:
                tfs[d] = Counter(texts[d].split(" "))
    for r in rows:
        ca, cb = tfs[r.doc_a], tfs[r.doc_b]
        overlap = sum(min(c, cb[t]) for t, c in ca.items())
        la, lb = sum(ca.values()), sum(cb.values())
        assert r.overlap == overlap, (r.doc_a, r.doc_b)
        assert r.rouge1_p == pytest.approx(overlap / la, abs=1e-6)
        assert r.rouge1_r == pytest.approx(overlap / lb, abs=1e-6)
        assert r.rouge1_f1 == pytest.approx(2 * overlap / (la + lb), abs=1e-6)


def test_rrf_fusion_matches_python_replay(spark, sf_dir):
    """The reciprocal-rank fusion replayed in Python from the two
    (independently oracle-backed) input rankings: coalesced 1/(60+rank)
    terms, score-desc doc-asc ordering, top 20."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    got = {r.doc_id: r for r in QUERIES["sim_hybrid_rrf"](spark, sf_dir).collect()}
    lex = {
        r.doc_id: r.rank
        for r in QUERIES["text_bm25_topk"](spark, sf_dir).collect()
        if r.doc_id != 0
    }
    from cl_tagger_batch_processing_spark.operators import similarity

    # the registered sim_topk_cosine runs at depth DEFAULT_TOP_K=10; the
    # fusion consumes the same machinery at RRF_TOP_K=20 for one query
    sem = {
        r.neighbor_id: r.rank
        for r in similarity.sim_topk_cosine(
            spark, sf_dir, top_k=20, num_queries=1
        ).collect()
        if r.query_id == 0
    }
    fused = {
        d: (1.0 / (60 + lex[d]) if d in lex else 0.0)
        + (1.0 / (60 + sem[d]) if d in sem else 0.0)
        for d in set(lex) | set(sem)
    }
    order = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert set(got) == {d for d, _ in order}
    for rank, (d, score) in enumerate(order, start=1):
        r = got[d]
        assert r.fused_rank == rank, d
        assert r.rrf_score == pytest.approx(score, abs=1e-8)
        assert r.lex_rank == lex.get(d) and r.sem_rank == sem.get(d)


def test_r11_constants_in_sync():
    """Round-11 tuning constants pinned to their oracle literals."""
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import similarity
    from cl_tagger_batch_processing_spark.operators import text as text_ops

    nd = oracles.ORACLE_SQL["text_ndcg_eval"]
    assert text_ops.NDCG_K == 20 and text_ops.NDCG_QUERY_VEC == 0
    assert "generate_series(1, 20)" in nd and "sem_rank <= 20" in nd
    assert "WHERE doc_id != 0" in nd
    bd = oracles.ORACLE_SQL["text_burrows_delta"]
    assert text_ops.BURROWS_TOP_WORDS == 20 and "LIMIT 20" in bd
    db = oracles.ORACLE_SQL["embedding_dbscan_lite"]
    assert similarity.DBSCAN_EPS_COS == 0.25
    assert "cosine >= CAST(0.25 AS DOUBLE)" in db
    assert similarity.DBSCAN_MIN_NEIGHBORS == 2
    assert "eps_degree >= 2" in db
    # the oracle inlines the kNN-graph chain — its k must track the builder
    assert similarity.KNN_GRAPH_K == 3 and "rank <= 3" in db


def test_dbscan_matches_union_find_replay(spark, sf_dir):
    """Roles and cluster labels recomputed end-to-end with numpy
    brute-force bucket cosines, Python top-k, and UNION-FIND (not
    min-label propagation) — the independent-algorithm rule for the CC
    stage, sharing only the engine constants (planes, k, eps, minPts)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from cl_tagger_batch_processing_spark.oracles import _lcg_planes
    from cl_tagger_batch_processing_spark.registry import QUERIES

    out = {r.vec_id: r for r in QUERIES["embedding_dbscan_lite"](spark, sf_dir).collect()}
    raw = _duck_rows(sf_dir, "SELECT vec_id, embedding FROM '{sf}/embeddings.parquet'")
    ids = [v for v, _ in raw]
    q9 = lambda x: int(  # noqa: E731
        Decimal(float(x) * 1000).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
    )
    qv = np.array([[q9(x) for x in emb] for _, emb in raw], dtype=np.int64)
    planes = np.array(_lcg_planes(), dtype=np.int64)
    signs = (qv.astype(float) @ planes.T.astype(float)) > 0
    buckets = signs @ (2 ** np.arange(planes.shape[0]))
    nrm = np.sqrt((qv * qv).sum(axis=1).astype(float))
    knn: dict[int, list[tuple[float, int]]] = {}
    by_bucket: dict[int, list[int]] = {}
    for i, b in enumerate(buckets):
        by_bucket.setdefault(int(b), []).append(i)
    for members in by_bucket.values():
        for i in members:
            cands = [
                (float(qv[i] @ qv[j]) / (nrm[i] * nrm[j]), j)
                for j in members
                if j != i
            ]
            # cosine DESC, neighbor id ASC — the builder's total order
            cands.sort(key=lambda t: (-t[0], ids[t[1]]))
            knn[i] = cands[:3]
    sym: dict[int, set[int]] = {}
    for i, cands in knn.items():
        for cos, j in cands:
            if cos >= 0.25:
                sym.setdefault(i, set()).add(j)
                sym.setdefault(j, set()).add(i)
    core = {i for i, nb in sym.items() if len(nb) >= 2}
    parent = {i: i for i in core}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in core:
        for j in sym[i]:
            if j in core:
                ra, rb = find(i), find(j)
                if ra != rb:
                    parent[max(ra, rb, key=lambda r: ids[r])] = min(
                        ra, rb, key=lambda r: ids[r]
                    )
    label = {i: ids[min((j for j in core if find(j) == find(i)), key=lambda j: ids[j])] for i in core}
    assert len(out) == len(ids)
    for idx, vid in enumerate(ids):
        r = out[vid]
        assert r.eps_degree == len(sym.get(idx, ()))
        if idx in core:
            assert r.role == "core" and r.cluster_id == label[idx]
        elif any(j in core for j in sym.get(idx, ())):
            assert r.role == "border"
            assert r.cluster_id == min(
                label[j] for j in sym[idx] if j in core
            )
        else:
            assert r.role == "noise" and r.cluster_id is None


def test_ndcg_matches_python_replay(spark, sf_dir):
    """DCG/IDCG/nDCG recomputed with math.log2 over the two production
    rankings (each independently oracle-backed and replayed elsewhere) —
    the composition-replay pattern."""
    import math

    from cl_tagger_batch_processing_spark.registry import QUERIES

    row = QUERIES["text_ndcg_eval"](spark, sf_dir).collect()[0]
    lex = sorted(
        (r.rank, r.doc_id)
        for r in QUERIES["text_bm25_topk"](spark, sf_dir).collect()
        if r.doc_id != 0
    )
    from cl_tagger_batch_processing_spark.operators.similarity import (
        sim_topk_cosine,
    )

    sem = {
        r.neighbor_id: 21 - r.rank
        for r in sim_topk_cosine(spark, sf_dir, top_k=20, num_queries=1).collect()
        if r.query_id == 0
    }
    dcg = sum(
        (2 ** sem.get(doc, 0) - 1) / math.log2(pos + 1)
        for pos, (_, doc) in enumerate(lex, start=1)
    )
    idcg = sum((2 ** (21 - i) - 1) / math.log2(i + 1) for i in range(1, 21))
    assert row.n_eval == len(lex)
    assert row.n_overlap == sum(1 for _, d in lex if d in sem)
    assert row.dcg == pytest.approx(dcg, rel=1e-9)
    assert row.idcg == pytest.approx(idcg, rel=1e-9)
    assert row.ndcg == pytest.approx(dcg / idcg, rel=1e-9)


def test_burrows_delta_matches_python_replay(spark, sf_dir):
    """Profiles, z-scores and every pairwise Delta replayed from raw
    (source, text) rows with Counter tokenization and Decimal
    ROUND_HALF_UP moments; also pins symmetry-by-construction (each
    unordered pair appears exactly once) and non-negativity."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from cl_tagger_batch_processing_spark.registry import QUERIES

    out = {
        (r.source_a, r.source_b): r
        for r in QUERIES["text_burrows_delta"](spark, sf_dir).collect()
    }
    raw = _duck_rows(sf_dir, "SELECT source, text FROM '{sf}/documents.parquet'")
    per_src: dict[str, Counter] = {}
    for src, text in raw:
        per_src.setdefault(src, Counter()).update(text.split(" "))
    vocab = Counter()
    for c in per_src.values():
        vocab.update(c)
    top = sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    words = [w for w, _ in top]
    srcs = sorted(per_src)
    q9 = lambda x: Decimal(x).quantize(  # noqa: E731
        Decimal("1e-9"), rounding=ROUND_HALF_UP
    )
    f = {
        (s, w): per_src[s][w] / sum(per_src[s].values())
        for s in srcs
        for w in words
    }
    z = {}
    for w in words:
        ns = len(srcs)
        s1 = float(sum(q9(f[(s, w)]) for s in srcs))
        s2 = float(sum(q9(f[(s, w)] * f[(s, w)]) for s in srcs))
        mu = s1 / ns
        var = (s2 - ns * mu * mu) / (ns - 1.0)
        if ns > 1 and var > 0:
            for s in srcs:
                z[(s, w)] = (f[(s, w)] - mu) / var**0.5
    assert len(out) == len(srcs) * (len(srcs) - 1) // 2
    for (sa, sb), r in out.items():
        terms = [
            float(q9(abs(z[(sa, w)] - z[(sb, w)])))
            for w in words
            if (sa, w) in z and (sb, w) in z
        ]
        assert r.n_words == len(terms)
        assert r.delta == pytest.approx(sum(terms) / len(terms), rel=1e-9)
        assert r.delta >= 0


def test_good_turing_matches_textbook_replay(spark, sf_dir):
    """Frequency-of-frequencies rebuilt with Counter over plain
    space-split tokens; Chao1/p₀ with plain floats. Also pins the
    estimator invariants: chao1 ≥ vocab, 0 ≤ p_unseen ≤ 1."""
    from collections import Counter

    from cl_tagger_batch_processing_spark.registry import QUERIES

    rows = {
        r.source: r for r in QUERIES["text_good_turing"](spark, sf_dir).collect()
    }
    raw = _duck_rows(
        sf_dir, "SELECT source, text FROM '{sf}/documents.parquet'"
    )
    by_src: dict = {}
    for src, text in raw:
        by_src.setdefault(src, Counter()).update(text.split(" "))
    assert set(rows) == set(by_src)
    for src, cnt in by_src.items():
        r = rows[src]
        n = sum(cnt.values())
        f1 = sum(1 for c in cnt.values() if c == 1)
        f2 = sum(1 for c in cnt.values() if c == 2)
        assert (r.n_tokens, r.vocab, r.f1, r.f2) == (n, len(cnt), f1, f2)
        assert r.p_unseen == pytest.approx(f1 / n, rel=1e-12)
        assert r.chao1_vocab == pytest.approx(
            len(cnt) + f1 * (f1 - 1.0) / (2.0 * (f2 + 1.0)), rel=1e-12
        )
        assert r.chao1_vocab >= r.vocab
        assert 0.0 <= r.p_unseen <= 1.0


def test_quality_kappa_matches_textbook_replay(spark, sf_dir):
    """Confusion counts rebuilt row-by-row in Python; kappa from the
    definitional p_o/p_e."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    r = QUERIES["text_quality_kappa"](spark, sf_dir).collect()[0]
    raw = _duck_rows(
        sf_dir, "SELECT n_chars, text FROM '{sf}/documents.parquet'"
    )
    cells = [0, 0, 0, 0]  # n11 n10 n01 n00
    for n_chars, text in raw:
        a = n_chars >= 250
        b = len(text.split(" ")) >= 45
        cells[(0 if a else 2) + (0 if b else 1)] += 1
    n11, n10, n01, n00 = cells
    n = len(raw)
    assert (r.n, r.n11, r.n10, r.n01, r.n00) == (n, n11, n10, n01, n00)
    assert min(n11, n10, n01, n00) > 0  # thresholds keep every cell live
    po = (n11 + n00) / n
    pa, pb = (n11 + n10) / n, (n11 + n01) / n
    pe = pa * pb + (1 - pa) * (1 - pb)
    assert r.p_observed == pytest.approx(po, rel=1e-12)
    assert r.p_chance == pytest.approx(pe, rel=1e-12)
    if pe < 1.0:
        assert r.kappa == pytest.approx((po - pe) / (1 - pe), rel=1e-10)
        assert -1.0 - 1e-9 <= r.kappa <= 1.0 + 1e-9
    else:
        assert r.kappa is None


def test_js_divergence_matches_textbook_replay(spark, sf_dir):
    """JSD recomputed the naive full-vocabulary way — union of both
    token sets, m = (p+q)/2, plain float KL sums — no shared/one-sided
    decomposition, no decimal rail. Also pins 0 ≤ jsd ≤ ln 2."""
    import math
    from collections import Counter

    from cl_tagger_batch_processing_spark.registry import QUERIES

    rows = {
        (r.s1, r.s2): r
        for r in QUERIES["text_js_divergence"](spark, sf_dir).collect()
    }
    raw = _duck_rows(
        sf_dir, "SELECT source, text FROM '{sf}/documents.parquet'"
    )
    dist: dict = {}
    for src, text in raw:
        dist.setdefault(src, Counter()).update(text.split(" "))
    probs = {
        s: {t: c / sum(cnt.values()) for t, c in cnt.items()}
        for s, cnt in dist.items()
    }
    srcs = sorted(probs)
    assert set(rows) == {
        (a, b) for i, a in enumerate(srcs) for b in srcs[i + 1 :]
    }
    for (s1, s2), r in rows.items():
        p, q = probs[s1], probs[s2]
        jsd = 0.0
        for t in set(p) | set(q):
            pt, qt = p.get(t, 0.0), q.get(t, 0.0)
            m = (pt + qt) / 2.0
            if pt > 0:
                jsd += 0.5 * pt * math.log(pt / m)
            if qt > 0:
                jsd += 0.5 * qt * math.log(qt / m)
        assert r.jsd == pytest.approx(jsd, abs=5e-7)
        assert -1e-9 <= r.jsd <= math.log(2) + 1e-9
        assert r.jsd_norm == pytest.approx(jsd / math.log(2), abs=1e-6)
        assert r.n_shared_tokens == len(set(p) & set(q))


def test_r11_continuation_constants_in_sync():
    """Continuation-batch shared literals pinned to their oracle text —
    a drift between the engine constants and the SQL mirrors would
    surface as a subtle hash mismatch; pin it structurally instead."""
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import text as text_ops

    js = oracles.ORACLE_SQL["text_js_divergence"]
    assert text_ops._LN2 == 0.6931471805599453
    assert js.count("0.6931471805599453") == 5  # 2×(sp,sq) + the norm divisor
    # kappa gates: the engine thresholds must appear in the oracle
    kp = oracles.ORACLE_SQL["text_quality_kappa"]
    assert ">= 250" in kp and ">= 45" in kp


def test_date_operators_pin_utc_session_timezone():
    """Static audit (second-review hazard class): every operator that
    evaluates a session-timezone-dependent date function must pin the
    session to UTC first — otherwise a caller that mutates the timezone
    silently shifts Spark's day/week/year boundaries away from DuckDB's
    naive-timestamp arithmetic and breaks oracle parity."""
    import re

    date_fns = [
        "F.dayofweek", "F.to_date", "F.date_trunc", "F.hour(",
        "F.month(", "F.year(", "F.dayofmonth", "F.weekofyear",
        "F.date_format",
    ]
    offenders = []
    for path in [
        "cl_tagger_batch_processing_spark/operators/relational.py",
        "cl_tagger_batch_processing_spark/operators/text.py",
        "cl_tagger_batch_processing_spark/operators/curation.py",
        "cl_tagger_batch_processing_spark/operators/graph.py",
        "cl_tagger_batch_processing_spark/operators/similarity.py",
        "cl_tagger_batch_processing_spark/operators/dedup.py",
    ]:
        for f in re.split(r"\ndef ", open(path).read()):
            name = f.split("(")[0].strip()
            if not any(k in f for k in date_fns):
                continue
            if "session.timeZone" in f:
                continue
            offenders.append(f"{path.split('/')[-1]}:{name}")
    assert not offenders, offenders


# --- replay depth for pre-r11 operators that shared their algorithm with
# the oracle (blanket parity could not catch a mirrored mistake) ----------


def _basket_pairs(sf_dir, min_support=2):
    """Shared replay helper: (a, b) → n_orders for part pairs co-ordered
    in ≥ min_support orders, rebuilt with plain Python sets."""
    rows = _duck_rows(
        sf_dir,
        "SELECT DISTINCT l_orderkey, l_partkey FROM '{sf}/lineitem.parquet'",
    )
    baskets: dict = {}
    for ok, pk in rows:
        baskets.setdefault(ok, set()).add(pk)
    pairs: dict = {}
    for parts in baskets.values():
        sp = sorted(parts)
        for i, a in enumerate(sp):
            for b in sp[i + 1 :]:
                pairs[(a, b)] = pairs.get((a, b), 0) + 1
    return {p: c for p, c in pairs.items() if c >= min_support}, baskets


def test_kcore_matches_peel_replay(spark, sf_dir):
    """k-core rebuilt with a plain Python peel loop over an adjacency
    dict — no per-round semi joins, no checkpoint metrics."""
    from cl_tagger_batch_processing_spark.operators.graph import KCORE_K
    from cl_tagger_batch_processing_spark.registry import QUERIES

    out = {r.node: r.core_degree for r in QUERIES["graph_kcore"](spark, sf_dir).collect()}
    pairs, _ = _basket_pairs(sf_dir)
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < KCORE_K]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    assert out == {n: len(nb) for n, nb in adj.items()}
    assert all(d >= KCORE_K for d in out.values())


def test_effective_diameter_matches_bfs_replay(spark, sf_dir):
    """Hop distribution rebuilt with a textbook Python BFS from the
    3-smallest-id seed set; the exact integer 90% rule re-derived."""
    from collections import deque

    from cl_tagger_batch_processing_spark.registry import QUERIES

    rows = {
        r.dist: r
        for r in QUERIES["graph_effective_diameter"](spark, sf_dir).collect()
    }
    pairs, _ = _basket_pairs(sf_dir)
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seeds = sorted(adj)[:3]
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        n = q.popleft()
        for m in adj[n]:
            if m not in dist:
                dist[m] = dist[n] + 1
                q.append(m)
    per: dict = {}
    for d in dist.values():
        per[d] = per.get(d, 0) + 1
    total = len(dist)
    assert set(rows) == set(per)
    cum = 0
    eff_seen = False
    for d in sorted(per):
        cum += per[d]
        r = rows[d]
        assert r.n_nodes == per[d] and r.cum_nodes == cum
        assert r.cum_frac == pytest.approx(cum / total, abs=1e-9)
        is_eff = (cum * 10 >= total * 9) and not eff_seen
        if cum * 10 >= total * 9:
            eff_seen = True
        assert r.is_effective_diameter == is_eff
    assert sum(1 for r in rows.values() if r.is_effective_diameter) == 1


def test_affinity_lift_matches_textbook_replay(spark, sf_dir):
    """Lift recomputed from plain set-built baskets/marginals; the
    top-100 ordering re-derived with Python sort."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    out = [
        (r.part_a, r.part_b, r.n_ab, r.n_a, r.n_b, r.lift)
        for r in QUERIES["part_affinity_lift"](spark, sf_dir).collect()
    ]
    pairs, baskets = _basket_pairs(sf_dir)
    n_baskets = len(baskets)
    marg: dict = {}
    for parts in baskets.values():
        for p in parts:
            marg[p] = marg.get(p, 0) + 1
    rows = [
        (a, b, nab, marg[a], marg[b], (nab * n_baskets) / (marg[a] * marg[b]))
        for (a, b), nab in pairs.items()
    ]
    rows.sort(key=lambda t: (-t[5], t[0], t[1]))
    expect = rows[:100]
    assert len(out) == len(expect)
    for got, exp in zip(out, expect):
        assert got[:5] == exp[:5]
        assert got[5] == pytest.approx(exp[5], rel=1e-12)


def test_embedding_dim_stats_matches_textbook_replay(spark, sf_dir):
    """Per-dimension stats rebuilt with Python ints over HALF_UP-quantized
    embeddings (Decimal mirrors Spark round(double, 0) exactly)."""
    from decimal import ROUND_HALF_UP, Decimal

    from cl_tagger_batch_processing_spark.registry import QUERIES

    rows = {
        r.dim: r for r in QUERIES["embedding_dim_stats"](spark, sf_dir).collect()
    }
    raw = _duck_rows(sf_dir, "SELECT embedding FROM '{sf}/embeddings.parquet'")
    sums: dict = {}
    for (vec,) in raw:
        for i, x in enumerate(vec):
            q = int(
                Decimal(float(x) * 1000.0).quantize(Decimal(1), ROUND_HALF_UP)
            )
            n, s, ss = sums.get(i + 1, (0, 0, 0))
            sums[i + 1] = (n + 1, s + q, ss + q * q)
    assert set(rows) == set(sums)
    for dim, (n, s, ss) in sums.items():
        r = rows[dim]
        assert r.n_vecs == n
        assert r.mean == pytest.approx(s / (n * 1000.0), rel=1e-12, abs=1e-15)
        assert r.variance == pytest.approx(
            (n * ss - s * s) / (n * n * 1e6), rel=1e-12, abs=1e-15
        )
        assert r.variance >= -1e-12


def test_adamic_adar_matches_textbook_replay(spark, sf_dir):
    """AA scores rebuilt with Python dict wedges over the hub-capped
    subgraph (cap + degree recompute + non-adjacency re-derived
    independently); top-100 ordering re-sorted."""
    import math

    from cl_tagger_batch_processing_spark.operators.graph import CN_DEGREE_CAP
    from cl_tagger_batch_processing_spark.registry import QUERIES

    out = [
        (r.rank, r.u, r.v, r.n_common, r.aa_score)
        for r in QUERIES["graph_adamic_adar"](spark, sf_dir).collect()
    ]
    pairs, _ = _basket_pairs(sf_dir)
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    kept = {n for n, nb in adj.items() if len(nb) <= CN_DEGREE_CAP}
    cadj = {n: nb & kept for n, nb in adj.items() if n in kept}
    scores: dict = {}
    for w, nb in cadj.items():
        deg = len(nb)
        if deg < 2:
            continue
        term = round(1.0 / math.log(deg), 9)
        snb = sorted(nb)
        for i, u in enumerate(snb):
            for v in snb[i + 1 :]:
                ncom, s = scores.get((u, v), (0, 0.0))
                scores[(u, v)] = (ncom + 1, s + term)
    cand = [
        (u, v, ncom, round(s, 6))
        for (u, v), (ncom, s) in scores.items()
        if v not in cadj.get(u, set())
    ]
    cand.sort(key=lambda t: (-t[3], t[0], t[1]))
    expect = [(i + 1, *t) for i, t in enumerate(cand[:100])]
    assert len(out) == len(expect)
    for got, exp in zip(out, expect):
        assert got[:4] == exp[:4]
        assert got[4] == pytest.approx(exp[4], abs=2e-6)


def test_fertility_by_lang_matches_textbook_replay(spark, sf_dir):
    """Per-language fertility rebuilt with plain Python counts (len of
    space-split, len of string)."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    rows = {
        r.lang: r
        for r in QUERIES["corpus_fertility_by_lang"](spark, sf_dir).collect()
    }
    raw = _duck_rows(sf_dir, "SELECT lang, text FROM '{sf}/documents.parquet'")
    agg: dict = {}
    for lang, text in raw:
        n, t, c = agg.get(lang, (0, 0, 0))
        agg[lang] = (n + 1, t + len(text.split(" ")), c + len(text))
    assert set(rows) == set(agg)
    for lang, (n, t, c) in agg.items():
        r = rows[lang]
        assert (r.n_docs, r.total_tokens, r.total_chars) == (n, t, c)
        assert r.avg_tokens_per_doc == pytest.approx(t / n, rel=1e-12)
        assert r.chars_per_token == pytest.approx(c / t, rel=1e-12)


def test_doc_length_histogram_matches_textbook_replay(spark, sf_dir):
    """Power-of-two buckets rebuilt with Python's int.bit_length —
    an independent implementation of the same exact floor(log2)."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    rows = {
        (r.lang, r.log2_bucket): r
        for r in QUERIES["doc_length_histogram"](spark, sf_dir).collect()
    }
    raw = _duck_rows(sf_dir, "SELECT lang, text FROM '{sf}/documents.parquet'")
    agg: dict = {}
    for lang, text in raw:
        nt = len(text.split(" "))
        b = nt.bit_length() - 1
        cur = agg.get((lang, b))
        if cur is None:
            agg[(lang, b)] = [1, nt, nt]
        else:
            cur[0] += 1
            cur[1] = min(cur[1], nt)
            cur[2] = max(cur[2], nt)
    assert set(rows) == set(agg)
    for key, (n, mn, mx) in agg.items():
        r = rows[key]
        assert (r.n_docs, r.min_tokens, r.max_tokens) == (n, mn, mx)
        assert 2**r.log2_bucket <= mn and mx < 2 ** (r.log2_bucket + 1)


def test_word_pmi_matches_textbook_replay(spark, sf_dir):
    """PMI collocations rebuilt with Counter-built bigrams/unigrams and
    the exact integer ratio; top-100 ordering re-sorted on the same
    6dp-rounded key."""
    import math
    from collections import Counter

    from cl_tagger_batch_processing_spark.registry import QUERIES

    out = [
        (r.rank, r.w1, r.w2, r.n_ab, r.pmi)
        for r in QUERIES["text_word_pmi"](spark, sf_dir).collect()
    ]
    raw = _duck_rows(sf_dir, "SELECT text FROM '{sf}/documents.parquet'")
    uni: Counter = Counter()
    bi: Counter = Counter()
    t_pairs = 0
    for (text,) in raw:
        toks = text.split(" ")
        uni.update(toks)
        if len(toks) >= 2:
            bi.update(zip(toks, toks[1:]))
            t_pairs += len(toks) - 1
    t_tokens = sum(uni.values())
    cand = [
        (
            w1,
            w2,
            nab,
            round(
                math.log(
                    (nab * t_tokens * t_tokens) / (t_pairs * uni[w1] * uni[w2])
                ),
                6,
            )
            + 0.0,
        )
        for (w1, w2), nab in bi.items()
        if nab >= 5
    ]
    cand.sort(key=lambda t: (-t[3], t[0], t[1]))
    expect = [(i + 1, w1, w2, nab, pmi) for i, (w1, w2, nab, pmi) in enumerate(cand[:100])]
    assert len(out) == len(expect)
    for got, exp in zip(out, expect):
        assert got[:4] == exp[:4]
        assert got[4] == pytest.approx(exp[4], abs=2e-6)


def test_payload_dedup_matches_hashlib_replay(spark, sf_dir):
    """Content-addressed dedup rebuilt with hashlib.md5 over the UTF-8
    payload bytes and a dict grouping, including the synthesized
    re-upload set."""
    import hashlib

    from cl_tagger_batch_processing_spark.operators.multimodal import (
        MM_DUP_ID_OFFSET,
    )
    from cl_tagger_batch_processing_spark.registry import QUERIES

    rows = {
        r.payload_md5: r
        for r in QUERIES["mm_payload_dedup"](spark, sf_dir).collect()
    }
    raw = _duck_rows(sf_dir, "SELECT doc_id, text FROM '{sf}/documents.parquet'")
    entries = [(d, t) for d, t in raw]
    entries += [(d + MM_DUP_ID_OFFSET, t) for d, t in raw if d % 5 == 0]
    agg: dict = {}
    for d, t in entries:
        h = hashlib.md5(t.encode("utf-8")).hexdigest()
        cur = agg.get(h)
        if cur is None:
            agg[h] = [1, d, d]
        else:
            cur[0] += 1
            cur[1] = min(cur[1], d)
            cur[2] = max(cur[2], d)
    assert set(rows) == set(agg)
    for h, (n, lo, hi) in agg.items():
        r = rows[h]
        assert (r.n_copies, r.canonical_doc_id, r.latest_doc_id) == (n, lo, hi)
    # the synthesized re-uploads must actually be duplicates
    assert any(r.n_copies >= 2 for r in rows.values())


def test_source_overlap_matrix_matches_textbook_replay(spark, sf_dir):
    """Pairwise shingle Jaccard rebuilt with Python sets (3-word
    shingles, the same document-frequency guard)."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    rows = {
        (r.source_a, r.source_b): r
        for r in QUERIES["source_overlap_matrix"](spark, sf_dir).collect()
    }
    raw = _duck_rows(
        sf_dir, "SELECT doc_id, source, text FROM '{sf}/documents.parquet'"
    )
    doc_sh: dict = {}
    for d, src, text in raw:
        toks = text.split(" ")
        if len(toks) >= 3:
            doc_sh[(d, src)] = {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }
    df: dict = {}
    for sh_set in doc_sh.values():
        for s in sh_set:
            df[s] = df.get(s, 0) + 1
    keep = {s for s, c in df.items() if c <= 1000}
    by_src: dict = {}
    for (d, src), sh_set in doc_sh.items():
        by_src.setdefault(src, set()).update(sh_set & keep)
    srcs = sorted(by_src)
    expect = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            common = by_src[a] & by_src[b]
            if common:
                expect[(a, b)] = (
                    len(common),
                    len(by_src[a]),
                    len(by_src[b]),
                )
    assert set(rows) == set(expect)
    for key, (nc, na, nb) in expect.items():
        r = rows[key]
        assert (r.n_common, r.n_a, r.n_b) == (nc, na, nb)
        assert r.jaccard == pytest.approx(nc / (na + nb - nc), rel=1e-12)


# --- r12 addition replays: each addition recomputed the naive textbook way
# off a raw duckdb parquet pull (no windows, no decimal rails, no doubled-
# rank tricks) — independent of both engines' machinery -----------------------


def test_lexical_diversity_matches_textbook_replay(spark, sf_dir):
    """TTR / Herdan / Yule / Simpson recomputed with collections.Counter
    per source and plain float formulas."""
    import math
    from collections import Counter

    from cl_tagger_batch_processing_spark.registry import QUERIES

    rows = {
        r.source: r
        for r in QUERIES["text_lexical_diversity"](spark, sf_dir).collect()
    }
    raw = _duck_rows(sf_dir, "SELECT source, text FROM '{sf}/documents.parquet'")
    by_source: dict = {}
    for source, text in raw:
        by_source.setdefault(source, Counter()).update(text.split(" "))
    assert set(rows) == set(by_source)
    for source, counter in by_source.items():
        r = rows[source]
        n = sum(counter.values())
        v = len(counter)
        sum_c2 = sum(c * c for c in counter.values())
        assert (r.n_tokens, r.v_types) == (n, v)
        assert r.ttr == pytest.approx(v / n, abs=1e-9)  # 9dp output round
        assert r.herdan_c == pytest.approx(math.log(v) / math.log(n), rel=1e-6)
        assert r.yule_k == pytest.approx(1e4 * (sum_c2 - n) / n**2, rel=1e-6)
        assert r.simpson_lambda == pytest.approx(
            (sum_c2 - n) / (n * (n - 1)), rel=1e-6
        )


def test_rich_club_matches_textbook_replay(spark, sf_dir):
    """phi(k) recomputed from an explicit python edge set + degree dict."""
    from cl_tagger_batch_processing_spark.operators.graph import (
        cooccurrence_edges,
    )
    from cl_tagger_batch_processing_spark.registry import QUERIES

    rows = {r.k: r for r in QUERIES["graph_rich_club"](spark, sf_dir).collect()}
    edges = {
        (r.src, r.dst) for r in cooccurrence_edges(spark, sf_dir).collect()
    }
    deg: dict = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    assert set(rows) == {2, 4, 8, 16}
    for k, r in rows.items():
        club = {v for v, d in deg.items() if d > k}
        e_k = sum(1 for s, d in edges if s in club and d in club) // 2
        assert r.n_nodes == len(club) and r.n_edges == e_k
        if len(club) >= 2:
            assert r.phi == pytest.approx(
                2 * e_k / (len(club) * (len(club) - 1)), abs=1e-9
            )  # 9dp output round
        else:
            assert r.phi is None


def test_r12_constants_in_sync():
    """r12 shared literals pinned to their oracle text (the r11 pattern):
    the rich-club degree thresholds are f-string-injected from the SAME
    Python constant, so their sync is structural."""
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import graph

    rc = oracles.ORACLE_SQL["graph_rich_club"]
    for k in graph.RICH_CLUB_KS:
        assert f"({k})" in rc


# --- r12 replay-depth backfill: mirrored-algorithm operators whose oracle
# replicates the SAME bespoke pipeline get independent plain-Python
# recomputes off raw parquet / collected frames (the Kruskal-Wallis model;
# continuing the 24-operator r11 sweep) ---------------------------------------


def test_hits_matches_python_power_iteration(spark, sf_dir):
    """HITS replayed with plain dict arithmetic: 4 rounds of push +
    max-renormalization in integer floor math over the directed
    (src < dst) co-occurrence relation — independent of the superstep
    joins, the hub salting, and the oracle's chained CTEs."""
    from cl_tagger_batch_processing_spark.operators.graph import (
        HITS_ROUNDS,
        HITS_SCALE,
        cooccurrence_edges,
    )
    from cl_tagger_batch_processing_spark.registry import QUERIES

    sym = cooccurrence_edges(spark, sf_dir).collect()
    edges = sorted({(r.src, r.dst) for r in sym if r.src < r.dst})
    nodes = sorted({n for e in edges for n in e})

    def push(scores, edge_list):
        s: dict = {}
        for u, v in edge_list:
            s[v] = s.get(v, 0) + scores[u]
        mx = max(s.values(), default=0)
        return {
            n: ((s.get(n, 0) * HITS_SCALE) // mx if mx > 0 else 0) for n in nodes
        }

    h = {n: HITS_SCALE for n in nodes}
    rev = [(v, u) for u, v in edges]
    for _ in range(HITS_ROUNDS):
        a = push(h, edges)
        h = push(a, rev)
    got = {r.node: (r.hub_scaled, r.auth_scaled)
           for r in QUERIES["graph_hits"](spark, sf_dir).collect()}
    assert got == {n: (h[n], a[n]) for n in nodes}


def test_hits_prep_jobs_keep_the_callers_job_group(spark, sf_dir):
    """graph_hits prepares both edge orientations on worker threads; their
    jobs must carry the caller's job group, or cancelling the group misses
    them and per-group job accounting drops them."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("hits-prep-group", "graph_hits job-group attribution")
    try:
        QUERIES["graph_hits"](spark, sf_dir)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert not set(tracker.getJobIdsForGroup(None)) - before
    assert tracker.getJobIdsForGroup("hits-prep-group")


def test_personalized_pagerank_matches_python_loop(spark, sf_dir):
    """PPR replayed with a plain dict loop: seed-concentrated start,
    seed-only teleport, pr div outdeg push and 85/100 floor damping —
    bit-exact against the superstep implementation."""
    from cl_tagger_batch_processing_spark.operators.graph import (
        PR_DAMPING_DEN,
        PR_DAMPING_NUM,
        PR_N_ITER,
        PR_SCALE,
        SP_N_SEEDS,
        cooccurrence_edges,
    )
    from cl_tagger_batch_processing_spark.registry import QUERIES

    sym = cooccurrence_edges(spark, sf_dir).collect()
    edges = sorted({(r.src, r.dst) for r in sym})
    nodes = sorted({u for u, _ in edges})
    outdeg: dict = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    seeds = set(nodes[: min(SP_N_SEEDS, len(nodes))])
    tele = PR_SCALE * (PR_DAMPING_DEN - PR_DAMPING_NUM) // PR_DAMPING_DEN // len(seeds)
    pr = {n: (PR_SCALE // len(seeds) if n in seeds else 0) for n in nodes}
    for _ in range(PR_N_ITER):
        s: dict = {}
        for u, v in edges:
            s[v] = s.get(v, 0) + pr[u] // outdeg[u]
        pr = {
            n: (tele if n in seeds else 0)
            + s.get(n, 0) * PR_DAMPING_NUM // PR_DAMPING_DEN
            for n in nodes
        }
    got = {
        r.node: (r.is_seed, r.pr_scaled)
        for r in QUERIES["graph_personalized_pagerank"](spark, sf_dir).collect()
    }
    assert got == {n: (1 if n in seeds else 0, pr[n]) for n in nodes}


def test_minhash_lsh_matches_python_pipeline(spark, sf_dir):
    """The full shingle → Kirsch-Mitzenmacher minhash → 4×4 banding →
    bucket-collision pipeline replayed with hashlib + sets — the LCG
    family and banding are mirrored in the oracle, so only an independent
    recompute can catch a shared construction mistake."""
    import hashlib

    from cl_tagger_batch_processing_spark.operators.dedup import (
        DEFAULT_MAX_DF,
        MINHASH_BANDS,
        MINHASH_MOD,
        MINHASH_NUM_HASHES,
        MINHASH_ROWS_PER_BAND,
    )
    from cl_tagger_batch_processing_spark.registry import QUERIES

    docs = _duck_rows(sf_dir, "SELECT doc_id, text FROM '{sf}/documents.parquet'")
    shingles: dict = {}
    for doc_id, text in docs:
        t = text.split(" ")
        if len(t) >= 3:
            shingles[doc_id] = {
                " ".join(t[i : i + 3]) for i in range(len(t) - 2)
            }
    df_count: dict = {}
    for sh in shingles.values():
        for s in sh:
            df_count[s] = df_count.get(s, 0) + 1
    sigs: dict = {}
    for doc_id, sh in shingles.items():
        kept = [s for s in sh if df_count[s] <= DEFAULT_MAX_DF]
        if not kept:
            continue
        pairs = []
        for s in kept:
            hx = hashlib.md5(s.encode()).hexdigest()
            pairs.append((int(hx[:8], 16), int(hx[8:16], 16)))
        sigs[doc_id] = [
            min((h1 + i * h2) % MINHASH_MOD for h1, h2 in pairs)
            for i in range(MINHASH_NUM_HASHES)
        ]
    buckets: dict = {}
    for doc_id, sig in sigs.items():
        for band in range(MINHASH_BANDS):
            key = (band, "|".join(
                str(x) for x in sig[band * MINHASH_ROWS_PER_BAND:(band + 1) * MINHASH_ROWS_PER_BAND]
            ))
            buckets.setdefault(key, []).append(doc_id)
    want: dict = {}
    for members in buckets.values():
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                lo, hi = min(a, b), max(a, b)
                est = sum(x == y for x, y in zip(sigs[lo], sigs[hi])) / float(
                    MINHASH_NUM_HASHES
                )
                want[(lo, hi)] = est
    got = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    assert got == want


def test_tfidf_topk_matches_python_counter(spark, sf_dir):
    """TF-IDF replayed with Counters and math.log; the per-doc top-5 set
    re-ranked with the same (6dp score DESC, token ASC) key."""
    import math
    from collections import Counter

    from cl_tagger_batch_processing_spark.registry import QUERIES

    docs = _duck_rows(sf_dir, "SELECT doc_id, text FROM '{sf}/documents.parquet'")
    tf = {d: Counter(t.split(" ")) for d, t in docs}
    df_c: dict = {}
    for c in tf.values():
        for tok in c:
            df_c[tok] = df_c.get(tok, 0) + 1
    n_docs = len(docs)
    want: dict = {}
    for d, c in tf.items():
        scored = [
            (round(n * math.log((n_docs + 1) / (df_c[tok] + 1)), 6), tok, n)
            for tok, n in c.items()
        ]
        top = sorted(scored, key=lambda x: (-x[0], x[1]))[:5]
        want[d] = [(tok, n, df_c[tok], s) for s, tok, n in top]
    rows = QUERIES["text_tfidf_topk"](spark, sf_dir).collect()
    got: dict = {}
    for r in sorted(rows, key=lambda r: (r.doc_id, r.rank)):
        got.setdefault(r.doc_id, []).append((r.token, r.tf, r.df, r.tfidf))
    assert got == want


def test_unigram_loglik_matches_python_counter(spark, sf_dir):
    """Per-doc average unigram log-likelihood replayed with Counters,
    math.log and the same 9dp term / 6dp mean rounding."""
    import math
    from collections import Counter
    from decimal import Decimal

    from cl_tagger_batch_processing_spark.registry import QUERIES

    docs = _duck_rows(sf_dir, "SELECT doc_id, text FROM '{sf}/documents.parquet'")
    lm: Counter = Counter()
    toks = {d: t.split(" ") for d, t in docs}
    for t in toks.values():
        lm.update(t)
    total = sum(lm.values())
    rows = {r.doc_id: r for r in QUERIES["text_unigram_loglik"](spark, sf_dir).collect()}
    assert set(rows) == set(toks)
    for d, t in toks.items():
        s = sum(Decimal(str(round(math.log(lm[tok] / total), 9))) for tok in t)
        mean = round(float(s) / len(t), 6) + 0.0
        assert rows[d].n_tokens == len(t)
        assert rows[d].avg_loglik == pytest.approx(mean, abs=2e-6)


def test_ann_graph_search_matches_python_beam(spark, sf_dir):
    """The greedy beam walk replayed in python over the COLLECTED kNN
    edge list and quantized vectors (exact integer dots, same
    (cosine DESC, node ASC) beam key, same exact-top-k flag)."""
    import math

    from cl_tagger_batch_processing_spark.operators.dedup import (
        quantized_embeddings,
    )
    from cl_tagger_batch_processing_spark.operators.similarity import (
        GBS_BEAM,
        GBS_ENTRY_VEC,
        GBS_HOPS,
        GBS_QUERY_VEC,
        sim_knn_graph,
    )
    from cl_tagger_batch_processing_spark.registry import QUERIES

    vecs = {
        r.vec_id: (r.qv, r.nrm)
        for r in quantized_embeddings(spark, sf_dir).collect()
    }
    nbrs: dict = {}
    for r in sim_knn_graph(spark, sf_dir).collect():
        nbrs.setdefault(r.vec_id, []).append(r.neighbor_id)
    qq, nq = vecs[GBS_QUERY_VEC]

    def cos(node):
        qv, nrm = vecs[node]
        return sum(x * y for x, y in zip(qq, qv)) / (
            math.sqrt(nq) * math.sqrt(nrm)
        )

    def topk(cands):
        scored = [(cos(n), n) for n in cands if n != GBS_QUERY_VEC]
        return [n for _, n in sorted(scored, key=lambda t: (-t[0], t[1]))[:GBS_BEAM]]

    beam = topk({GBS_ENTRY_VEC})
    for _ in range(GBS_HOPS):
        cand = set(beam)
        for n in beam:
            cand.update(nbrs.get(n, []))
        beam = topk(cand)
    exact = set(topk(set(vecs)))
    rows = sorted(
        QUERIES["sim_ann_graph_search"](spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    assert [r.neighbor_id for r in rows] == beam
    for r in rows:
        assert r.cosine == pytest.approx(cos(r.neighbor_id), rel=1e-12)
        assert r.in_exact_topk == (r.neighbor_id in exact)


def test_char_entropy_matches_python_counter(spark, sf_dir):
    """Shannon entropy replayed with Counters, math.log and the same
    9dp-term / 6dp-final rounding."""
    import math
    from collections import Counter
    from decimal import Decimal

    from cl_tagger_batch_processing_spark.registry import QUERIES

    docs = _duck_rows(sf_dir, "SELECT doc_id, text FROM '{sf}/documents.parquet'")
    rows = {r.doc_id: r for r in QUERIES["text_char_entropy"](spark, sf_dir).collect()}
    assert set(rows) == {d for d, _ in docs}
    for d, text in docs:
        c = Counter(text)
        n = sum(c.values())
        s = sum(Decimal(str(round(k * math.log(k), 9))) for k in c.values())
        ent = round(math.log(n) - float(s) / n, 6)
        assert rows[d].n_chars == n
        assert rows[d].entropy == pytest.approx(ent, abs=2e-6)


def test_source_jsd_matrix_matches_python_counter(spark, sf_dir):
    """Pairwise source JSD replayed with Counters over the shared-union
    vocabulary and the same 9dp-term / 6dp-final rounding (the
    text_js_divergence replay pattern applied to its bits-based sibling)."""
    import math
    from collections import Counter
    from decimal import Decimal

    from cl_tagger_batch_processing_spark.registry import QUERIES

    docs = _duck_rows(sf_dir, "SELECT source, text FROM '{sf}/documents.parquet'")
    dist: dict = {}
    for src, text in docs:
        dist.setdefault(src, Counter()).update(text.split(" "))
    tot = {s: sum(c.values()) for s, c in dist.items()}
    rows = {
        (r.sa, r.sb): r
        for r in QUERIES["source_jsd_matrix"](spark, sf_dir).collect()
    }
    srcs = sorted(dist)
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1:]:
            vocab = set(dist[sa]) | set(dist[sb])
            s = Decimal(0)
            for tok in vocab:
                pa = dist[sa][tok] / tot[sa]
                pb = dist[sb][tok] / tot[sb]
                m = (pa + pb) / 2
                term = 0.0
                if pa > 0:
                    term += 0.5 * pa * math.log2(pa / m)
                if pb > 0:
                    term += 0.5 * pb * math.log2(pb / m)
                s += Decimal(str(round(term, 9)))
            r = rows[(sa, sb)]
            assert r.n_vocab_union == len(vocab)
            assert r.jsd_bits == pytest.approx(round(float(s), 6) + 0.0, abs=2e-6)


def test_dsir_weights_match_python_counter(spark, sf_dir):
    """DSIR importance weights replayed with Counters: add-1 smoothed
    target ('en') vs raw unigram LMs, 9dp-rounded per-token log-ratios
    summed in Decimal, 6dp mean."""
    import math
    from collections import Counter
    from decimal import Decimal

    from cl_tagger_batch_processing_spark.registry import QUERIES

    docs = _duck_rows(sf_dir, "SELECT doc_id, lang, text FROM '{sf}/documents.parquet'")
    raw: Counter = Counter()
    tgt: Counter = Counter()
    toks = {}
    for d, lang, text in docs:
        t = text.split(" ")
        toks[d] = t
        raw.update(t)
        if lang == "en":
            tgt.update(t)
    v = len(raw)
    nr, nt = sum(raw.values()), sum(tgt.values())
    lr = {
        tok: Decimal(
            str(round(math.log((tgt[tok] + 1) / (nt + v)) - math.log((raw[tok] + 1) / (nr + v)), 9))
        )
        for tok in raw
    }
    rows = {r.doc_id: r for r in QUERIES["corpus_dsir_weights"](spark, sf_dir).collect()}
    assert set(rows) == set(toks)
    for d, t in toks.items():
        mean = round(float(sum(lr[tok] for tok in t)) / len(t), 6) + 0.0
        assert rows[d].n_tokens == len(t)
        assert rows[d].avg_log_ratio == pytest.approx(mean, abs=2e-6)


def test_weighted_sample_matches_python_es_keys(spark, sf_dir):
    """The Efraimidis-Spirakis draw replayed with hashlib: 60-bit md5
    uniform, key = -ln(u)/w rounded 12dp, same (key, doc_id) top-k."""
    import hashlib
    import math

    from cl_tagger_batch_processing_spark.operators.curation import (
        ES_HASH_DOMAIN,
        ES_SAMPLE_K,
    )
    from cl_tagger_batch_processing_spark.registry import QUERIES

    docs = _duck_rows(sf_dir, "SELECT doc_id, source, text FROM '{sf}/documents.parquet'")
    keyed = []
    for d, src, text in docs:
        w = len(text.split(" "))
        h = int(hashlib.md5(str(d).encode()).hexdigest()[:15], 16)
        key = round(-math.log((h + 1) / ES_HASH_DOMAIN) / w, 12)
        keyed.append((key, d, src, w))
    want = sorted(keyed)[:ES_SAMPLE_K]
    rows = sorted(
        QUERIES["corpus_weighted_sample"](spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    assert [(r.es_key, r.doc_id, r.source, r.n_tokens) for r in rows] == want
    assert [r.rank for r in rows] == list(range(1, len(want) + 1))


def test_dau_wau_mau_matches_python_sets(spark, sf_dir):
    """The rolling exact-distinct series replayed with per-day user
    sets and explicit trailing-window unions."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    raw = _duck_rows(
        sf_dir,
        """SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
           FROM '{sf}/events.parquet'""",
    )
    by_day: dict = {}
    for u, d in raw:
        by_day.setdefault(d, set()).add(u)
    days = sorted(by_day)
    import datetime

    spine = [
        days[0] + datetime.timedelta(days=i)
        for i in range((days[-1] - days[0]).days + 1)
    ]
    rows = {r.day: r for r in QUERIES["events_dau_wau_mau"](spark, sf_dir).collect()}
    assert set(rows) == set(spine)
    for d in spine:
        dau = len(by_day.get(d, set()))
        wau = len(set().union(*[by_day.get(d - datetime.timedelta(days=i), set()) for i in range(7)]))
        mau = len(set().union(*[by_day.get(d - datetime.timedelta(days=i), set()) for i in range(30)]))
        r = rows[d]
        assert (r.dau, r.wau, r.mau) == (dau, wau, mau)
        if mau > 0:
            assert r.stickiness == pytest.approx(round(dau / mau, 9), abs=1e-9)


def test_market_basket_rules_match_python_counts(spark, sf_dir):
    """Support/confidence/lift replayed with python set counting over the
    distinct baskets, same min-support and confidence prune."""
    from cl_tagger_batch_processing_spark.operators.relational import (
        RULE_MIN_CONFIDENCE,
        RULE_MIN_SUPPORT,
    )
    from cl_tagger_batch_processing_spark.registry import QUERIES

    raw = _duck_rows(
        sf_dir,
        "SELECT DISTINCT l_orderkey, l_partkey FROM '{sf}/lineitem.parquet'",
    )
    baskets: dict = {}
    for o, p in raw:
        baskets.setdefault(o, set()).add(p)
    pair_n: dict = {}
    part_n: dict = {}
    for parts in baskets.values():
        ps = sorted(parts)
        for p in ps:
            part_n[p] = part_n.get(p, 0) + 1
        for i, a in enumerate(ps):
            for b in ps[i + 1:]:
                pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
    total = len(baskets)
    want = {}
    for (a, b), n in pair_n.items():
        if n < RULE_MIN_SUPPORT:
            continue
        for ant, con in [(a, b), (b, a)]:
            conf = n / part_n[ant]
            if conf >= RULE_MIN_CONFIDENCE:
                want[(ant, con)] = (
                    n,
                    part_n[ant],
                    part_n[con],
                    n / total,
                    conf,
                    n * total / (part_n[ant] * part_n[con]),
                )
    rows = QUERIES["orders_market_basket_rules"](spark, sf_dir).collect()
    got = {
        (r.antecedent, r.consequent): (
            r.n_both,
            r.n_antecedent,
            r.n_consequent,
            r.support,
            r.confidence,
            r.lift,
        )
        for r in rows
    }
    assert set(got) == set(want)
    for k, (n, na, nc, sup, conf, lift) in want.items():
        g = got[k]
        assert g[:3] == (n, na, nc)
        assert g[3] == pytest.approx(sup, rel=1e-12)
        assert g[4] == pytest.approx(conf, rel=1e-12)
        assert g[5] == pytest.approx(lift, rel=1e-12)


def test_phash_dedup_matches_python_blocks(spark, sf_dir):
    """The 16-block mean-hash replayed with plain byte arithmetic and the
    same exact integer cross-multiplied bit test."""
    from cl_tagger_batch_processing_spark.operators.multimodal import (
        PHASH_BLOCKS,
    )
    from cl_tagger_batch_processing_spark.registry import QUERIES

    docs = _duck_rows(sf_dir, "SELECT doc_id, text FROM '{sf}/documents.parquet'")
    groups: dict = {}
    for d, text in docs:
        vals = [ord(c) for c in text]
        n, total = len(vals), sum(vals)
        ph = 0
        for b in range(PHASH_BLOCKS):
            s0 = b * n // PHASH_BLOCKS
            s1 = (b + 1) * n // PHASH_BLOCKS
            block = vals[s0:s1]
            if sum(block) * n > total * len(block):
                ph |= 1 << b
        groups.setdefault(ph, []).append(d)
    want = {
        ph: (len(ds), min(ds), ",".join(str(x) for x in sorted(ds)))
        for ph, ds in groups.items()
        if len(ds) > 1
    }
    got = {
        r.phash: (r.n_docs, r.keep_doc_id, r.doc_ids)
        for r in QUERIES["mm_phash_dedup"](spark, sf_dir).collect()
    }
    assert got == want


def test_shortest_paths_match_python_bfs(spark, sf_dir):
    """Multi-source BFS distances replayed with a deque from the same
    3-smallest-id seed set."""
    from collections import deque

    from cl_tagger_batch_processing_spark.operators.graph import (
        SP_N_SEEDS,
        cooccurrence_edges,
    )
    from cl_tagger_batch_processing_spark.registry import QUERIES

    adj: dict = {}
    for r in cooccurrence_edges(spark, sf_dir).collect():
        adj.setdefault(r.src, []).append(r.dst)
    seeds = sorted(adj)[:SP_N_SEEDS]
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        for v in adj.get(u, []):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    got = {r.node: r.dist for r in QUERIES["graph_shortest_paths"](spark, sf_dir).collect()}
    assert got == dist


def test_dsir_sample_matches_python_gumbel(spark, sf_dir):
    """The Gumbel-top-k draw replayed end to end: Counter-built DSIR
    weights (the replayed shape above), hashlib 52-bit uniforms, the same
    9dp gumbel / 6dp key rounding and (key DESC, doc_id ASC) top-k."""
    import hashlib
    import math
    from collections import Counter
    from decimal import Decimal

    from cl_tagger_batch_processing_spark.operators.text import DSIR_SAMPLE_K
    from cl_tagger_batch_processing_spark.registry import QUERIES

    docs = _duck_rows(sf_dir, "SELECT doc_id, lang, text FROM '{sf}/documents.parquet'")
    raw: Counter = Counter()
    tgt: Counter = Counter()
    toks = {}
    for d, lang, text in docs:
        t = text.split(" ")
        toks[d] = t
        raw.update(t)
        if lang == "en":
            tgt.update(t)
    v, nr, nt = len(raw), sum(raw.values()), sum(tgt.values())
    lr = {
        tok: Decimal(
            str(round(math.log((tgt[tok] + 1) / (nt + v)) - math.log((raw[tok] + 1) / (nr + v)), 9))
        )
        for tok in raw
    }
    keyed = []
    for d, t in toks.items():
        avg = round(float(sum(lr[tok] for tok in t)) / len(t), 6) + 0.0
        h = int(hashlib.md5(str(d).encode()).hexdigest()[:13], 16)
        u = (h + 0.5) / float(2**52)
        gumbel = round(-math.log(-math.log(u)), 9)
        keyed.append((round(avg + gumbel, 6), d, avg))
    want = sorted(keyed, key=lambda x: (-x[0], x[1]))[:DSIR_SAMPLE_K]
    rows = sorted(
        QUERIES["corpus_dsir_sample"](spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    assert [(r.gumbel_key, r.doc_id, r.avg_log_ratio) for r in rows] == want
    assert [r.rank for r in rows] == list(range(1, len(want) + 1))


def test_hashing_tf_matches_python_md5(spark, sf_dir):
    """Feature hashing replayed with hashlib: md5-prefix bucket mod 1024
    and plain per-(doc, bucket) counting."""
    import hashlib

    from cl_tagger_batch_processing_spark.operators.text import (
        HASHING_TF_BUCKETS,
    )
    from cl_tagger_batch_processing_spark.registry import QUERIES

    docs = _duck_rows(sf_dir, "SELECT doc_id, text FROM '{sf}/documents.parquet'")
    want: dict = {}
    for d, text in docs:
        for tok in text.split(" "):
            b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % HASHING_TF_BUCKETS
            want[(d, b)] = want.get((d, b), 0) + 1
    got = {
        (r.doc_id, r.bucket): r.tf
        for r in QUERIES["text_hashing_tf"](spark, sf_dir).collect()
    }
    assert got == want


# --------------------------- r13 addition replays ---------------------------


def test_source_concentration_matches_textbook_replay(spark, sf_dir):
    """HHI/Gini/top-k recomputed with plain python over per-source token
    sums (sorted-list Gini, direct share squares)."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    r = QUERIES["corpus_source_concentration"](spark, sf_dir).collect()[0]
    raw = _duck_rows(
        sf_dir,
        "SELECT source, text FROM '{sf}/documents.parquet'",
    )
    toks: dict = {}
    for src, text in raw:
        toks[src] = toks.get(src, 0) + len(text.split(" "))
    xs = sorted(toks.values())
    k, t = len(xs), sum(xs)
    assert (r.n_sources, r.total_tokens) == (k, t)
    assert r.hhi == pytest.approx(sum((x / t) ** 2 for x in xs), abs=1e-8)
    gini = sum((2 * (i + 1) - k - 1) * x for i, x in enumerate(xs)) / (k * t)
    assert r.gini == pytest.approx(gini, abs=1e-9)
    assert r.top1_share == pytest.approx(xs[-1] / t, abs=1e-9)
    assert r.top3_share == pytest.approx(sum(xs[-3:]) / t, abs=1e-9)


def test_source_concentration_single_source_synthetic(spark, tmp_path):
    """A one-source corpus is maximal concentration: HHI = 1, Gini = 0,
    top-1 = top-3 = 1."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    d = tmp_path / "conc"
    d.mkdir()
    spark.createDataFrame(
        [(i, "alpha beta gamma", "en", "only_source", 16) for i in range(10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(d / "documents.parquet"))
    r = QUERIES["corpus_source_concentration"](spark, str(d)).collect()[0]
    assert (r.n_sources, r.total_tokens) == (1, 30)
    assert r.hhi == pytest.approx(1.0, abs=1e-12)
    assert r.gini == pytest.approx(0.0, abs=1e-12)
    assert r.top1_share == pytest.approx(1.0, abs=1e-12)
    assert r.top3_share == pytest.approx(1.0, abs=1e-12)


def test_r13b_constants_in_sync():
    """r13-continuation shared literals pinned to their oracle text: the
    Heaps checkpoint count, the dispersion top-k and the intrinsic-dim
    query cap are f-string-injected from the SAME Python constants."""
    from cl_tagger_batch_processing_spark import oracles
    from cl_tagger_batch_processing_spark.operators import text as text_ops

    assert text_ops.HEAPS_CHECKPOINTS == 12
    assert (
        f"* {text_ops.HEAPS_CHECKPOINTS})"
        in oracles.ORACLE_SQL["text_heaps_law_fit"]
    )
    assert text_ops.DISPERSION_TOPK == 20
    assert (
        f"LIMIT {text_ops.DISPERSION_TOPK}"
        in oracles.ORACLE_SQL["text_token_dispersion"]
    )
    from cl_tagger_batch_processing_spark.operators import similarity as sim_ops

    assert sim_ops.INTRINSIC_DIM_QUERY_CAP == 500
    assert (
        f"a.vec_id < {sim_ops.INTRINSIC_DIM_QUERY_CAP}"
        in oracles.ORACLE_SQL["embedding_intrinsic_dim"]
    )


def test_heaps_fit_matches_textbook_replay(spark, sf_dir):
    """Checkpoint totals and the log-log OLS recomputed in plain python
    (integer prefix buckets, math.log, direct normal-equation slope)."""
    import math
    from collections import defaultdict

    from cl_tagger_batch_processing_spark.registry import QUERIES

    r = QUERIES["text_heaps_law_fit"](spark, sf_dir).collect()[0]
    raw = _duck_rows(
        sf_dir,
        """SELECT doc_id, string_split(text, ' ')
           FROM '{sf}/documents.parquet'""",
    )
    dmin = min(d for d, _ in raw)
    dmax = max(d for d, _ in raw)
    B = 12
    toks = defaultdict(int)
    first = {}
    for d, words in raw:
        bkt = (d - dmin) * B // (dmax - dmin + 1) + 1
        toks[bkt] += len(words)
        for w in words:
            if w not in first or d < first[w]:
                first[w] = d
    news = defaultdict(int)
    for w, d in first.items():
        news[(d - dmin) * B // (dmax - dmin + 1) + 1] += 1
    pts = []
    cn = cv = 0
    for b in range(1, B + 1):
        cn += toks.get(b, 0)
        cv += news.get(b, 0)
        if cn > 0 and cv > 0:
            # integer-scaled 7dp lns: the engines sum EXACT decimals, so a
            # float replay would see dy ~ 1e-10 where they see exactly 0
            pts.append(
                (round(round(math.log(cn), 7) * 10**7),
                 round(round(math.log(cv), 7) * 10**7))
            )
    assert r.n_checkpoints == len(pts)
    assert r.n_tokens == cn and r.vocab == cv
    m = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    syy = sum(y * y for _, y in pts)
    dx = m * sxx - sx * sx          # exact ints at 1e14 scale
    dy = m * syy - sy * sy
    num = m * sxy - sx * sy
    if m >= 2 and dx > 0:
        beta = num / dx             # scale cancels in the slope
        assert r.heaps_beta == pytest.approx(beta, abs=1e-9)
        assert r.heaps_k == pytest.approx(
            math.exp((sy / 10**7 - beta * sx / 10**7) / m), abs=1e-6
        )
        if dy > 0:
            assert r.r2 == pytest.approx(num * num / (dx * dy), abs=1e-9)
        else:
            assert r.r2 is None
    else:
        assert r.heaps_beta is None


def test_heaps_fit_recovers_synthetic_growth(spark, tmp_path):
    """A corpus whose every doc introduces exactly its own 3 fresh tokens
    has V(N) = N/3 exactly: β = 1, K = 1/3, r² = 1 — the growing-
    vocabulary TRUE path (the fixture's closed vocabulary is organically
    flat: β = 0, r² NULL)."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    d = tmp_path / "heaps"
    d.mkdir()
    spark.createDataFrame(
        [
            (i, f"w{3*i} w{3*i+1} w{3*i+2}", "en", "s0", 20)
            for i in range(120)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(d / "documents.parquet"))
    r = QUERIES["text_heaps_law_fit"](spark, str(d)).collect()[0]
    assert r.n_checkpoints == 12
    assert (r.n_tokens, r.vocab) == (360, 360)
    assert r.heaps_beta == pytest.approx(1.0, abs=1e-6)
    assert r.heaps_k == pytest.approx(1.0, abs=1e-5)
    assert r.r2 == pytest.approx(1.0, abs=1e-9)


def test_token_dispersion_matches_textbook_replay(spark, sf_dir):
    """DP recomputed from raw (token, source) counts with the literal
    Gries formula over the full zero-filled cell grid."""
    from collections import Counter, defaultdict

    from cl_tagger_batch_processing_spark.registry import QUERIES

    out = {
        r.token: r
        for r in QUERIES["text_token_dispersion"](spark, sf_dir).collect()
    }
    assert len(out) == 20
    raw = _duck_rows(
        sf_dir,
        """SELECT source, UNNEST(string_split(text, ' '))
           FROM '{sf}/documents.parquet'""",
    )
    cells = Counter(raw)  # (source, token) -> f
    tok_tot = Counter()
    src_tot = Counter()
    for (s, t), f in cells.items():
        tok_tot[t] += f
        src_tot[s] += f
    n_all = sum(src_tot.values())
    top = sorted(tok_tot.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert set(out) == {t for t, _ in top}
    for t, f_tok in top:
        # each |v − s| rides the engines' 9dp rail before the fold —
        # mirror it, or ~20 sources of rounding drift exceed 1e-9
        dp = 0.5 * sum(
            round(abs(cells.get((s, t), 0) / f_tok - src_tot[s] / n_all), 9)
            for s in src_tot
        )
        r = out[t]
        assert r.n_occurrences == f_tok
        assert r.n_sources_present == sum(
            1 for s in src_tot if cells.get((s, t), 0) > 0
        )
        assert r.dispersion_dp == pytest.approx(dp, abs=1e-9)


def test_token_dispersion_concentrated_synthetic(spark, tmp_path):
    """A token exclusive to one of two equal-mass sources must score
    DP = 1 − s_source = 0.5; a perfectly proportional token scores 0."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    d = tmp_path / "disp"
    d.mkdir()
    rows = []
    # 10 docs per source, 10 tokens each: 'common' everywhere (uniform),
    # 'special' only in source a (replacing 'common' half the time)
    for i in range(10):
        rows.append((i, " ".join(["special"] * 5 + ["common"] * 5), "en", "a", 60))
        rows.append((100 + i, " ".join(["common"] * 10), "en", "b", 60))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(d / "documents.parquet"))
    out = {
        r.token: r for r in QUERIES["text_token_dispersion"](spark, str(d)).collect()
    }
    assert out["special"].n_sources_present == 1
    assert out["special"].dispersion_dp == pytest.approx(0.5, abs=1e-9)
    # 'common': 50/150 in a vs s_a = 0.5 -> DP = |1/3-1/2| = 1/6
    assert out["common"].dispersion_dp == pytest.approx(1.0 / 6.0, abs=1e-9)


def _write_embeddings(spark, d, rows):
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(d / "embeddings.parquet"))


def test_isotropy_matches_pairwise_definition(spark, sf_dir):
    """The resultant-vector identity checked against the LITERAL mean of
    all n(n−1) pairwise cosines (numpy brute force over the quantized,
    9dp-rounded unit vectors the engines use)."""
    import numpy as np

    from cl_tagger_batch_processing_spark.registry import QUERIES

    r = QUERIES["embedding_isotropy_report"](spark, sf_dir).collect()[0]
    raw = _duck_rows(sf_dir, "SELECT embedding FROM '{sf}/embeddings.parquet'")
    q = np.round(np.array([e for (e,) in raw], dtype=np.float64) * 1000.0)
    nrm = (q * q).sum(axis=1)
    keep = nrm > 0
    u = np.round(q[keep] / np.sqrt(nrm[keep])[:, None], 9)
    n = u.shape[0]
    assert (r.n_vectors, r.n_zero_norm) == (n, int((~keep).sum()))
    assert r.n_dims == u.shape[1]
    g = u @ u.T
    mean_cos = (g.sum() - np.trace(g)) / (n * (n - 1))
    assert r.mean_pairwise_cosine == pytest.approx(mean_cos, abs=1e-7)
    assert r.mean_resultant_length == pytest.approx(
        float(np.linalg.norm(u.sum(axis=0))) / n, abs=1e-7
    )


def test_isotropy_cone_and_zero_norm_synthetic(spark, tmp_path):
    """All-identical vectors are the degenerate cone: mean pairwise
    cosine = 1 and resultant length = 1; a zero vector drops and is
    counted (the n_zero_norm TRUE path, organically zero on the
    fixture)."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    d = tmp_path / "iso"
    d.mkdir()
    vec = [1.0, 2.0, 2.0] + [0.0] * 61
    rows = [(i, vec, 0) for i in range(12)]
    rows.append((99, [0.0] * 64, 0))
    _write_embeddings(spark, d, rows)
    r = QUERIES["embedding_isotropy_report"](spark, str(d)).collect()[0]
    assert (r.n_vectors, r.n_zero_norm) == (12, 1)
    assert r.mean_pairwise_cosine == pytest.approx(1.0, abs=1e-6)
    assert r.mean_resultant_length == pytest.approx(1.0, abs=1e-6)


def test_intrinsic_dim_matches_bruteforce(spark, sf_dir):
    """TwoNN recomputed with numpy brute-force exact integer distances
    and the same railed ln-ratio fold."""
    import numpy as np

    from cl_tagger_batch_processing_spark.registry import QUERIES

    r = QUERIES["embedding_intrinsic_dim"](spark, sf_dir).collect()[0]
    raw = _duck_rows(
        sf_dir, "SELECT embedding FROM '{sf}/embeddings.parquet' ORDER BY vec_id"
    )
    q = np.round(np.array([e for (e,) in raw], dtype=np.float64) * 1000.0)
    n = q.shape[0]
    assert r.n_vectors == n
    assert r.n_queries == min(n, 500)  # cap inactive on the 500-row fixture
    d2 = ((q[:, None, :] - q[None, :, :]) ** 2).sum(axis=2)
    np.fill_diagonal(d2, np.inf)
    part = np.sort(d2, axis=1)[:min(n, 500), :2]
    usable = part[:, 0] > 0
    terms = [round(float(np.log(b / a)), 9) for a, b in part[usable]]
    assert r.n_used == int(usable.sum())
    assert r.n_degenerate == r.n_queries - int(usable.sum())
    assert r.sum_log_ratio == pytest.approx(sum(terms), abs=1e-8)
    assert r.intrinsic_dim == pytest.approx(
        2.0 * int(usable.sum()) / sum(terms), abs=1e-5
    )


def test_intrinsic_dim_duplicates_synthetic(spark, tmp_path):
    """Exact duplicate vectors have r1 = 0 and must DROP into
    n_degenerate (organically zero on the fixture); the survivors' MLE
    matches the hand-computed geometric-line value."""
    import math

    from cl_tagger_batch_processing_spark.registry import QUERIES

    d = tmp_path / "twonn"
    d.mkdir()
    # 6 points on a geometric line x = 2^i, plus 2 exact duplicates
    rows = []
    for i in range(6):
        rows.append((i, [float(2**i)] + [0.0] * 63, 0))
    rows.append((100, [1024.0] + [0.0] * 63, 0))
    rows.append((101, [1024.0] + [0.0] * 63, 0))
    _write_embeddings(spark, d, rows)
    r = QUERIES["embedding_intrinsic_dim"](spark, str(d)).collect()[0]
    assert (r.n_vectors, r.n_queries, r.n_used, r.n_degenerate) == (8, 8, 6, 2)
    # hand-computed two-NN squared ratios on x = 1,2,4,8,16,32 (+1024 dup)
    xs = [1, 2, 4, 8, 16, 32]
    total = 0.0
    for i, x in enumerate(xs):
        ds = sorted((x - y) ** 2 for j, y in enumerate(xs + [1024]) if j != i)
        total += round(math.log((ds[1] * 1000**2) / (ds[0] * 1000**2)), 9)
    assert r.sum_log_ratio == pytest.approx(total, abs=1e-8)
    assert r.intrinsic_dim == pytest.approx(12.0 / total, abs=1e-5)


def test_intrinsic_dim_query_cap_active(spark, tmp_path):
    """Above INTRINSIC_DIM_QUERY_CAP vectors, only the smallest-vec_id
    sample queries (every vector stays a candidate) — numpy replays the
    capped MLE exactly."""
    import numpy as np

    from cl_tagger_batch_processing_spark.registry import QUERIES

    d = tmp_path / "cap"
    d.mkdir()
    n = 520
    vecs = [
        [float((i * 13) % 97), float((i * 29) % 89), float(i % 7)] + [0.0] * 61
        for i in range(n)
    ]
    _write_embeddings(spark, d, [(i, vecs[i], 0) for i in range(n)])
    r = QUERIES["embedding_intrinsic_dim"](spark, str(d)).collect()[0]
    assert (r.n_vectors, r.n_queries) == (520, 500)
    q = np.round(np.array(vecs, dtype=np.float64) * 1000.0)
    d2 = ((q[:, None, :] - q[None, :, :]) ** 2).sum(axis=2)
    np.fill_diagonal(d2, np.inf)
    part = np.sort(d2, axis=1)[:500, :2]  # queries = smallest 500 vec_ids
    usable = part[:, 0] > 0
    terms = [round(float(np.log(b / a)), 9) for a, b in part[usable]]
    assert r.n_used == int(usable.sum())
    assert r.sum_log_ratio == pytest.approx(sum(terms), abs=1e-8)
    if sum(terms) > 0:
        assert r.intrinsic_dim == pytest.approx(
            2.0 * int(usable.sum()) / sum(terms), abs=1e-5
        )


def test_intrinsic_dim_candidate_cap_fails_before_full_collect(
    spark, tmp_path, monkeypatch
):
    """The candidate-count guard must fire on a collect bounded at cap + 1
    rows, not after the whole candidate side reached the driver."""
    from cl_tagger_batch_processing_spark.registry import QUERIES

    d = tmp_path / "twonn_cap"
    d.mkdir()
    _write_embeddings(
        spark, d, [(i, [float(i + 1)] + [0.0] * 63, 0) for i in range(20)]
    )
    monkeypatch.setattr(similarity, "INTRINSIC_DIM_MAX_CANDIDATES", 3)
    collected = []
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame class
    to_pandas = frame_cls.toPandas

    def counting_to_pandas(self):
        pdf = to_pandas(self)
        collected.append(len(pdf))
        return pdf

    monkeypatch.setattr(frame_cls, "toPandas", counting_to_pandas)
    with pytest.raises(RuntimeError, match="candidate vectors"):
        QUERIES["embedding_intrinsic_dim"](spark, str(d))
    assert collected and max(collected) <= 4, collected


def test_intrinsic_dim_two_vector_corpus(spark, tmp_path):
    """n = 2 corpus: each query's single candidate gives r1 but NO r2 —
    the kernel must emit a NULL r2 (not a sentinel), so every query is
    degenerate-by-missing-r2 and the MLE is NULL (the pre-kernel window
    form's semantics, pinned here as the r13 Arrow-kernel edge case)."""
    d = tmp_path / "twonn2"
    d.mkdir()
    _write_embeddings(
        spark,
        d,
        [
            (0, [1.0] + [0.0] * 63, 0),
            (1, [5.0] + [0.0] * 63, 0),
        ],
    )
    from cl_tagger_batch_processing_spark.registry import QUERIES

    r = QUERIES["embedding_intrinsic_dim"](spark, str(d)).collect()[0]
    assert (r.n_vectors, r.n_queries, r.n_used, r.n_degenerate) == (2, 2, 0, 2)
    assert r.intrinsic_dim is None


def test_r13_session_memos_return_same_frame(spark, sf_dir):
    """The r13 memos (MinHash signature table, basket pair relation,
    exact top-k referee) follow the dedup_minhash_lsh contract: same
    session + same key returns the SAME materialized DataFrame object,
    so no consumer can re-run the build."""
    from cl_tagger_batch_processing_spark.operators.dedup import (
        minhash_signature_table,
    )
    from cl_tagger_batch_processing_spark.operators.relational import (
        counted_part_pairs,
    )
    from cl_tagger_batch_processing_spark.operators.similarity import (
        sim_topk_cosine,
    )

    assert minhash_signature_table(spark, sf_dir) is minhash_signature_table(
        spark, sf_dir
    )
    assert counted_part_pairs(spark, sf_dir) is counted_part_pairs(spark, sf_dir)
    assert sim_topk_cosine(spark, sf_dir) is sim_topk_cosine(spark, sf_dir)
    # distinct parameters are distinct entries, not collisions
    assert sim_topk_cosine(spark, sf_dir, top_k=3) is not sim_topk_cosine(
        spark, sf_dir
    )
