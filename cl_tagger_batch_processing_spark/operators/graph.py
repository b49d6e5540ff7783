"""Graph analytics over relations the engine already produces.

Extension surface (BASELINE.json north-star; the reference — appV2.py — has
no graph operators). The graph is the part co-occurrence relation
(part_cooccurrence's bounded basket self-join, support-filtered), the same
"items bought together" structure recommendation and influence analyses run
on. Two operators:

* ``graph_pagerank``      — fixed-iteration PageRank, the canonical
                            iterative message-passing algorithm (the same
                            join → groupBy → re-join per-superstep shape as
                            label propagation in ``dedup.dedup_clusters``).
* ``graph_degree_stats``  — degree distribution, the first graph QA query.

Determinism (the discipline everything cosine-shaped here follows): PageRank
runs entirely in SCALED INTEGERS — ranks in units of 1e-15 ("femto-rank"),
per-edge contributions via bigint floor division, damping as (×85 div 100).
Every operation is exact and order-independent, so ten iterations are
bit-identical between Spark and the DuckDB oracle with zero float-summation
hazard; floats appear only in the final display division.

Scale notes (100 TB): edges come from a bounded basket self-join (≤7 items
per order ⇒ ≤21 pairs — linear in order count); each superstep is one
equi-join pr⋈edges co-partitioned on src plus one map-side-combinable
groupBy(dst); the rank frame is checkpointed per superstep (local or
reliable mode via ``checkpointing.truncate_lineage``) to keep the
plan linear (at cluster scale: a parquet stage per superstep, the classic
Pregel-on-DataFrames layout). The only driver-side value is the node count —
one scalar, the sanctioned control-plane shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..checkpointing import (
    checkpoint_with_metric,
    session_memo,
    truncate_lineage,
    truncate_lineage_eager,
)

PR_SCALE = 10**15  # rank unit: 1e-15 (bigint-exact; total mass 1e15 ≪ 2^63)
PR_DAMPING_NUM, PR_DAMPING_DEN = 85, 100  # 0.85 as an exact integer ratio
PR_N_ITER = 10
PR_MIN_SUPPORT = 2
PR_CHECKPOINT_EVERY = 3
# Hub-skew hardening (r8, VERDICT r7 ask #5): a node with outdeg ≥ this
# lands ALL its edge rows in one task of the per-superstep pr⋈edges
# shuffle — the known hazard SCALE.md names for power-law graphs. When any
# such hub exists, the superstep joins on (src, salt) instead: hub edges
# spread over PR_SALTS salt values (pmod(xxhash64(dst))) and the hub's pr
# row is replicated per salt, bounding per-task edge volume at
# outdeg/PR_SALTS. Salt never touches the arithmetic, so results are
# bit-identical either way (pinned by test_pagerank_salted_strategy_agrees).
PR_HOT_OUTDEG = 1 << 14
PR_SALTS = 16


def broadcast_max_nodes(spark: SparkSession) -> int:
    """Broadcast-strategy census cap (r14, guide §3.1): node-sized
    score/label frames re-join the edge relation every superstep; at or
    below this node count they are BROADCAST into those joins, which
    removes the per-superstep shuffle of the node frame AND of the edge
    side. Past the cap the shuffle path is exactly the pre-r14 plan; join
    strategy never changes values.

    The driver builds every broadcast relation, so the cap follows
    ``spark.driver.memory``: 2**23 nodes (≈8M × ~24 B ≈ 200 MB built
    relation, inside the guide's "few hundred MB is usually fine") at a
    16g driver or more, proportionally fewer below (2**20 at 2g). Spark's
    own size parser reads it (a bare number is MiB; an unparseable value
    raises)."""
    mib = spark.sparkContext._jsc.sc().conf().getSizeAsMb("spark.driver.memory", "1g")
    return min(1 << 23, (1 << 23) * mib // (16 * 1024))


_EDGES_CACHE: dict = {}


def cooccurrence_edges(
    spark: SparkSession, sf_dir: str, min_support: int = PR_MIN_SUPPORT
) -> DataFrame:
    """Symmetric (src, dst) edge list: part pairs co-ordered in at least
    ``min_support`` orders — ``relational.counted_part_pairs`` (the shared
    bounded basket self-join) symmetrized. Edge generation is linear in
    order count; the support filter prunes noise edges.

    MATERIALIZED once and session-memoized per (sf_dir, min_support): ten
    graph-family queries consume this same relation and the basket
    self-join is their dominant shared cost. Callers therefore must NOT
    re-truncate it."""
    from .relational import counted_part_pairs

    def build() -> DataFrame:
        pairs = counted_part_pairs(spark, sf_dir, min_support=min_support)
        fwd = pairs.select(F.col("part_a").alias("src"), F.col("part_b").alias("dst"))
        rev = pairs.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
        return fwd.unionByName(rev).transform(truncate_lineage_eager)

    return session_memo(_EDGES_CACHE, spark, (sf_dir, min_support), build)


def graph_pagerank(
    spark: SparkSession,
    sf_dir: str,
    n_iter: int = PR_N_ITER,
    min_support: int = PR_MIN_SUPPORT,
) -> DataFrame:
    """PageRank over the co-occurrence graph, ``n_iter`` synchronous
    supersteps in exact scaled-integer arithmetic:

        pr'(v) = (1−d)/N + d · Σ_{u→v} pr(u) div outdeg(u)

    with pr carried as bigint multiples of 1e-15 and d = 85/100 applied as
    integer multiply-then-divide. Floor-division mass loss is the standard
    fixed-point concession; because BOTH engines floor identically, results
    are bit-exact, not approximately equal. The symmetric graph has no
    dangling nodes (every node has in- and out-edges), but the rank update
    still left-joins from the node set so an isolated node would get the
    teleport term rather than silently vanishing."""
    edges = cooccurrence_edges(spark, sf_dir, min_support=min_support)
    return pagerank_on_edges(edges, n_iter=n_iter)


def _prepare_superstep_edges(
    edges: DataFrame,
    hot_outdeg: int = PR_HOT_OUTDEG,
    n_salts: int = PR_SALTS,
) -> tuple[DataFrame, DataFrame | None]:
    """Build the per-superstep edge relation for ANY PageRank-family loop
    — SHARED by global, personalized, and TextRank paths so the hub-skew
    mitigation cannot silently cover only one consumer (code-review r8
    finding). A one-scalar hub census picks the shape: no hub ⇒ plain
    (src, dst, outdeg), materialized once; any hub ⇒ the same plus a salt
    column (pmod(xxhash64(dst), n_salts) on hub rows, 0 elsewhere) and the
    broadcast-sized hot-node frame the superstep uses to replicate hub
    rank rows. Salt never enters arithmetic — bit-identical either way."""
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Census FUSED with the materialization (r14, guide §1.2): the hub
    # census used to be its own full count() job over the outdeg aggregate,
    # followed by a second job materializing (src, dst, outdeg) — the same
    # aggregate computed twice, two driver round-trips. One eager
    # checkpoint now materializes the per-superstep edge relation AND
    # observes max(outdeg) on that same job; the max is all the census
    # needs (any hub ⇔ max ≥ hot_outdeg). No-hub graphs — every fixture,
    # and any hub-capped production graph — pay exactly one job here.
    base_deg, max_outdeg = checkpoint_with_metric(
        edges.join(outdeg, "src"), F.max("outdeg").alias("m")
    )
    if max_outdeg is not None and max_outdeg >= hot_outdeg:
        # Hub path: derive the hot set from the ALREADY-materialized
        # relation (reads checkpoint blocks, not the aggregate again).
        hot = truncate_lineage(
            base_deg.where(F.col("outdeg") >= hot_outdeg)
            .select(F.col("src").alias("node"))
            .distinct()
        )
        edges_deg = (
            base_deg.join(
                F.broadcast(
                    hot.select(F.col("node").alias("src"), F.lit(True).alias("is_hot"))
                ),
                "src",
                "left",
            )
            .select(
                "src",
                "dst",
                "outdeg",
                F.when(
                    F.col("is_hot"),
                    F.expr(f"pmod(xxhash64(dst), {n_salts})").cast("int"),
                )
                .otherwise(F.lit(0))
                .alias("salt"),
            )
            .transform(truncate_lineage)
        )
        return edges_deg, hot
    # (src, dst, outdeg) — reused every superstep, materialized above.
    return base_deg, None


def pagerank_on_edges(
    edges: DataFrame,
    n_iter: int = PR_N_ITER,
    hot_outdeg: int = PR_HOT_OUTDEG,
    n_salts: int = PR_SALTS,
) -> DataFrame:
    """Exact scaled-integer PageRank over ANY symmetric (src, dst) edge
    frame — the graph_pagerank body factored out so other relations reuse
    the identical bit-exact discipline (text.text_textrank_keywords runs
    it over the adjacent-word graph; node type is whatever the edge frame
    carries). Empty graphs return an empty ranking, not a division error.

    Strategy switch (the dedup_simhash pattern): a one-scalar hub census
    decides the superstep join shape. No node at hot_outdeg ⇒ the plain
    src-keyed join (the fixture path — plan unchanged); any hub ⇒ the
    salted (src, salt) join that spreads each hub's edges over n_salts
    tasks. Identical bits either way — salt is partitioning metadata."""
    edges_deg, hot_nodes = _prepare_superstep_edges(edges, hot_outdeg, n_salts)
    nodes = edges.select(F.col("src").alias("node")).distinct().transform(truncate_lineage)
    n = nodes.count()  # 1 scalar to the driver (control plane)
    if n == 0:
        # No edges survive the support filter (tiny fixture or a high
        # min_support): an empty ranking, not a ZeroDivisionError.
        return (
            nodes.limit(0)
            .withColumn("pr_scaled", F.lit(0).cast("bigint"))
            .withColumn("pagerank", F.lit(0.0))
        )
    teleport = (PR_SCALE * (PR_DAMPING_DEN - PR_DAMPING_NUM)) // PR_DAMPING_DEN // n
    pr = nodes.withColumn("pr", F.lit(PR_SCALE // n).cast("bigint"))
    pr = _pagerank_supersteps(
        pr,
        nodes,
        edges_deg,
        F.lit(teleport).cast("bigint"),
        n_iter,
        hot_nodes=hot_nodes,
        n_salts=n_salts,
        broadcast_nodes=n <= broadcast_max_nodes(edges.sparkSession),
    )
    return pr.select(
        "node",
        F.col("pr").alias("pr_scaled"),
        (F.col("pr").cast("double") / F.lit(float(PR_SCALE))).alias("pagerank"),
    )


def _superstep_scores_join(
    scores: DataFrame,
    score_cols: list[str],
    edges_deg: DataFrame,
    hot_nodes: DataFrame | None,
    n_salts: int = PR_SALTS,
    broadcast_scores: bool = False,
) -> DataFrame:
    """``scores(node, *score_cols) ⋈ edges_deg`` on the push key — THE
    Pregel-superstep join, shared by the PageRank family AND HITS so the
    hub-salt mitigation covers every message-passing consumer (VERDICT r8
    ask #3; the r8 code-review lesson that mitigations must live in the
    shared builder, not one caller). No hub in the census ⇒ the plain
    node == src join. Any hub ⇒ a hub's score row is replicated once per
    salt (the hot set is tiny — broadcast tag + bounded explode); each
    edge row carries exactly ONE salt, so every edge still matches exactly
    one score replica — same contribution multiset, now spread over
    n_salts tasks instead of one. Salt never enters arithmetic, so results
    are bit-identical either way."""
    if hot_nodes is None:
        if broadcast_scores:
            # node census ≤ broadcast_max_nodes: ship the score frame,
            # leave the (possibly enormous) edge side unshuffled
            return F.broadcast(scores).join(edges_deg, scores.node == edges_deg.src)
        return scores.join(edges_deg, scores.node == edges_deg.src)
    salts_arr = F.array(*[F.lit(i).cast("int") for i in range(n_salts)])
    scores_s = (
        scores.join(
            F.broadcast(hot_nodes.withColumn("is_hot", F.lit(True))),
            "node",
            "left",
        )
        .select(
            "node",
            *score_cols,
            F.explode(
                F.when(F.col("is_hot"), salts_arr).otherwise(
                    F.array(F.lit(0).cast("int"))
                )
            ).alias("salt"),
        )
        .alias("p")
    )
    e = edges_deg.alias("e")
    return scores_s.join(
        e,
        (F.col("p.node") == F.col("e.src")) & (F.col("p.salt") == F.col("e.salt")),
    )


def _pagerank_supersteps(
    pr: DataFrame,
    base: DataFrame,
    edges_deg: DataFrame,
    teleport,
    n_iter: int,
    carry: tuple = (),
    hot_nodes: DataFrame | None = None,
    n_salts: int = PR_SALTS,
    broadcast_nodes: bool = False,
) -> DataFrame:
    """The ONE scaled-integer PageRank superstep loop — shared by the
    global and personalized variants so the bit-exactness discipline
    (pr div outdeg contributions, 85/100 damping as integer
    multiply-then-floor-divide) cannot drift between them.

    ``base`` is the (node[, carry…]) frame re-joined every step (left
    join, so isolated nodes get the teleport term instead of vanishing);
    ``teleport`` is a Column evaluated against it — a literal for global
    PageRank, a seed-indicator CASE for the personalized variant.

    Lineage is truncated every PR_CHECKPOINT_EVERY supersteps, not every
    one: a 3-superstep chain is still a small plan, and each eager
    checkpoint is a blocking materialization — at 10 iterations the
    per-step checkpoint was the dominant cost, not the joins. The final
    iteration never checkpoints (the caller's action materializes it)."""
    for i in range(n_iter):
        joined = _superstep_scores_join(
            pr, ["pr"], edges_deg, hot_nodes, n_salts, broadcast_scores=broadcast_nodes
        )
        contrib = (
            joined.select(
                F.col("dst").alias("node"), F.expr("pr div outdeg").alias("c")
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        # contrib is node-sized too — under the census, broadcasting it into
        # the left join keeps base unshuffled (BuildRight on a LeftOuter)
        contrib_side = F.broadcast(contrib) if broadcast_nodes else contrib
        pr = base.join(contrib_side, "node", "left").select(
            "node",
            *carry,
            (
                teleport
                + F.expr(f"(coalesce(s, 0L) * {PR_DAMPING_NUM}) div {PR_DAMPING_DEN}")
            )
            .cast("bigint")
            .alias("pr"),
        )
        if (i + 1) % PR_CHECKPOINT_EVERY == 0 and i < n_iter - 1:
            pr = pr.transform(truncate_lineage)
    return pr


def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-occurrence graph: how many nodes have
    each degree — the first skew/connectivity QA over any graph build (a
    heavy-tailed degree histogram here predicts hot keys in every
    downstream message-passing superstep). Two map-side-combinable
    groupBys; all exact integers."""
    edges = cooccurrence_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select("degree", "n_nodes")
    )


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation + local clustering coefficient over
    the co-occurrence graph — the cohesion metric behind community
    detection and spam-cluster triage.

    Algorithm is the degree-ordered orientation ("compact-forward"): every
    undirected edge points from its lower-(degree, id) endpoint to the
    higher, so each triangle is enumerated exactly once and the wedge join
    is bounded by O(m^1.5) REGARDLESS of degree skew — a hub's fan-in
    never self-joins, which is what makes triangle counting survive
    power-law graphs at scale (the naive a<b<c id-orientation puts every
    hub wedge through the join). Two equi-joins + one exploded rollup; all
    counts exact integers; the clustering coefficient 2T/(d(d−1)) is one
    exact-int division."""
    # the basket self-join feeds both the degree agg and the edge
    # orientation — materialize once (the multi-consumer discipline of
    # dedup_ngram_jaccard / graph_pagerank; ReuseExchange requires
    # byte-identical subplans and these consumers differ)
    pairs = cooccurrence_edges(spark, sf_dir)
    deg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # total order key (deg, node); orient each undirected edge low → high
    e = (
        pairs.where(F.col("src") < F.col("dst"))  # one row per undirected edge
        .join(deg.select(F.col("src").alias("src"), F.col("deg").alias("ds")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("deg").alias("dt")), "dst"
        )
    )
    fwd = F.struct("ds", "src") < F.struct("dt", "dst")
    oriented = e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("hi"),
        F.when(fwd, F.col("ds")).otherwise(F.col("dt")).alias("dlo"),
        F.when(fwd, F.col("dt")).otherwise(F.col("ds")).alias("dhi"),
    ).transform(truncate_lineage_eager)  # 3 scans in ONE plan: wedge sides + closing
    # wedges at a: two out-neighbors (b, c) of a, ordered by the same
    # (deg, id) key so the closing edge, if present, is oriented b → c
    w1 = oriented.select(
        F.col("lo").alias("a"), F.col("hi").alias("b"),
        F.col("dhi").alias("db"),
    )
    w2 = oriented.select(
        F.col("lo").alias("a"), F.col("hi").alias("c"),
        F.col("dhi").alias("dc"),
    )
    wedges = w1.join(w2, "a").where(
        F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
        < F.struct(F.col("dc").alias("d"), F.col("c").alias("n"))
    )
    closing = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.select(F.col("src").alias("node"), "deg")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                2.0
                * F.coalesce("n_triangles", F.lit(0)).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def graph_components(
    spark: SparkSession, sf_dir: str, min_support: int = PR_MIN_SUPPORT
) -> DataFrame:
    """Connected components of the co-occurrence graph with component
    sizes — the fourth pillar of the graph QA family (pagerank = node
    importance, degree_stats = connectivity skew, triangle_count = local
    density, components = global reachability: a fragmenting graph means
    the support threshold is cutting real structure).

    Reuses dedup's min-label propagation core (``connected_components`` —
    O(log diameter) rounds via pointer jumping, Observation-based
    convergence, checkpoint per round in the configured durability mode)
    on the part graph instead of
    the near-dup doc graph; the size rollup is one tiny groupBy over the
    per-node result. The DuckDB oracle computes the same fixpoint via a
    recursive transitive-closure CTE, so component ids (= min node id per
    component) are value-checked, not just counted."""
    from .dedup import connected_components

    edges = cooccurrence_edges(spark, sf_dir, min_support=min_support)
    und = edges.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    # max_iter bounds LOG2 of the component diameter now that the core
    # pointer-jumps (r7): 64 rounds covers any physically possible chain —
    # connected_components RAISES instead of silently returning
    # non-minimal labels if even this is exceeded.
    cc = connected_components(nodes, und, max_iter=64)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("component_size"))
    return cc.join(sizes, "cluster_id").select(
        F.col("doc_id").alias("node"),
        F.col("cluster_id").alias("component_id"),
        "component_size",
    )


KCORE_K = 3
# Must stay == the oracle's chained-CTE round budget (_kcore_sql default;
# sync-pinned by test_kcore_budget_in_sync): with equal budgets a peel
# deeper than the budget fails LOUDLY on the Spark side (RuntimeError)
# instead of surfacing as an opaque value-hash mismatch against an
# unconverged oracle.
KCORE_MAX_ROUNDS = 24


def graph_kcore(
    spark: SparkSession,
    sf_dir: str,
    k: int = KCORE_K,
    min_support: int = PR_MIN_SUPPORT,
    round_counter: list | None = None,
) -> DataFrame:
    """k-core of the co-occurrence graph: the maximal subgraph where every
    node keeps at least ``k`` neighbors — the standard "dense backbone"
    extraction (spam/boilerplate rings in near-dup graphs and influential
    product clusters both live in high cores; low-core fringe is noise).
    Completes the graph QA family: components say what is CONNECTED, the
    k-core says what is densely connected.

    Algorithm: synchronous peeling — each round drops every node whose
    current degree is below k (and all its edges), until the edge set is
    stable. All data stays distributed; the driver holds only the per-round
    edge count, observed on the SAME job that checkpoints the round
    (``truncate_lineage``, local or reliable per the session conf), so
    convergence detection costs zero extra passes. The edge count
    strictly decreases until the fixpoint (peeling only removes), making
    the equal-count test an EXACT convergence proof, same discipline as
    connected_components' label-sum. Rounds are bounded by the peel depth
    (in practice a handful); the budget RAISES rather than returning a
    non-maximal "core" silently.

    Output: (node, core_degree) for k-core members — core_degree is the
    degree within the core (>= k by construction), deterministic. The
    DuckDB oracle replays the same peel as a chained-CTE fixpoint (extra
    rounds past convergence are no-ops, so it chains a fixed budget).
    """
    edges = cooccurrence_edges(spark, sf_dir, min_support=min_support)
    n_edges = F.count(F.lit(1)).alias("n_edges")

    # symmetric edge list: degree(src) = row count per src
    e, prev_count = checkpoint_with_metric(edges, n_edges)
    converged = False
    for _ in range(KCORE_MAX_ROUNDS + 1):
        if round_counter is not None:
            round_counter.append(1)
        # Materialize the survivor set ONCE per round: it feeds BOTH semi
        # joins, and an unmaterialized subplan would re-run the degree
        # aggregation (the round's dominant shuffle) twice. Join strategy is
        # left to AQE — at cluster scale the survivor list is node-count
        # sized, so forcing a broadcast here could OOM.
        keep = truncate_lineage(
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select("src")
        )
        filtered = (
            e.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
        )
        e, new_count = checkpoint_with_metric(filtered, n_edges)
        if new_count == prev_count:
            converged = True
            break
        prev_count = new_count
    if not converged:
        raise RuntimeError(
            f"graph_kcore did not converge within {KCORE_MAX_ROUNDS} peel "
            "rounds — raise KCORE_MAX_ROUNDS"
        )
    return e.groupBy("src").agg(F.count(F.lit(1)).alias("core_degree")).select(
        F.col("src").alias("node"), "core_degree"
    )


CN_DEGREE_CAP = 128
CN_TOP_K = 100


def _capped_wedge_relation(
    spark: SparkSession, sf_dir: str, min_support: int
) -> tuple[DataFrame, DataFrame]:
    """(e, capped_deg): the hub-capped symmetric edge relation and its
    degree census — the wedge substrate SHARED by graph_common_neighbors
    and graph_adamic_adar (code-review r8: previously duplicated; both
    oracles pin the same CN_DEGREE_CAP literal, so drift between copies
    would silently break one of them). Nodes above CN_DEGREE_CAP are
    excluded FIRST — a hub of degree d contributes d² wedges, so the cap
    bounds wedge volume at |E|·CAP regardless of skew — and degrees are
    recomputed on the capped subgraph so scores stay self-consistent."""
    edges = cooccurrence_edges(spark, sf_dir, min_support=min_support)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    kept = deg.where(F.col("deg") <= CN_DEGREE_CAP).select("src").transform(
        truncate_lineage_eager  # both semi-joins of e's one materialization
    )
    e = (
        edges.join(kept, "src", "left_semi")
        .join(kept.select(F.col("src").alias("dst")), "dst", "left_semi")
        .select("src", "dst")
        .transform(truncate_lineage_eager)  # wedge join scans e 2-4x in one plan
    )
    capped_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return e, capped_deg


def graph_common_neighbors(
    spark: SparkSession, sf_dir: str, min_support: int = PR_MIN_SUPPORT
) -> DataFrame:
    """Common-neighbor link prediction over the co-occurrence graph: the
    top CN_TOP_K NON-adjacent node pairs ranked by neighborhood Jaccard
    |N(u)∩N(v)| / |N(u)∪N(v)| — "parts never co-ordered but bought by the
    same baskets", the classic complement-recommendation query (and the
    canonical link-prediction baseline, Liben-Nowell & Kleinberg).

    Scale shape: the wedge join (e1 ⋈ e2 on the shared middle node) is the
    triangle-count pattern; nodes above CN_DEGREE_CAP are excluded FIRST —
    a hub of degree d contributes d² wedges, so the cap bounds wedge
    volume at |E|·CAP regardless of skew (the same reasoning as
    word_shingles' max_df). Degrees and the final Jaccard use the capped
    subgraph consistently. The top-k is a distributed TakeOrdered
    (orderBy+limit), never a full sort; the rank window runs over ≤ k
    rows. Ties break on (u, v) — unique by construction."""
    e, capped_deg = _capped_wedge_relation(spark, sf_dir, min_support)
    e1 = e.select(F.col("src").alias("w"), F.col("dst").alias("u"))
    e2 = e.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    cn = (
        e1.join(e2, "w")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    und = e.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    cand = cn.join(und, ["u", "v"], "left_anti")
    du = capped_deg.select(F.col("src").alias("u"), F.col("deg").alias("du"))
    dv = capped_deg.select(F.col("src").alias("v"), F.col("deg").alias("dv"))
    scored = cand.join(du, "u").join(dv, "v").select(
        "u",
        "v",
        "n_common",
        (
            F.col("n_common").cast("double")
            / (F.col("du") + F.col("dv") - F.col("n_common")).cast("double")
        ).alias("nbr_jaccard"),
    )
    top = scored.orderBy(
        F.desc("nbr_jaccard"), F.asc("u"), F.asc("v")
    ).limit(CN_TOP_K)
    w = Window.orderBy(F.desc("nbr_jaccard"), F.asc("u"), F.asc("v"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


# Multi-source BFS: seed count and round budget. The budget bounds the
# graph DIAMETER (hop count), not log-diameter — BFS must walk each hop.
# Mirrored literally in the DuckDB oracle's dist < 64 recursion guard.
SP_N_SEEDS = 3
SP_MAX_ROUNDS = 64


def graph_shortest_paths(
    spark: SparkSession,
    sf_dir: str,
    min_support: int = PR_MIN_SUPPORT,
    round_counter: list | None = None,
) -> DataFrame:
    """Unweighted single/multi-source shortest paths (hop distance) from a
    deterministic seed set — the SP_N_SEEDS smallest node ids — over the
    co-occurrence graph. Completes the graph family with REACHABILITY
    DEPTH: components say what is connected, k-core what is dense,
    shortest-paths how FAR everything is from a reference set (the
    "distance from the catalog's anchor products" feature).

    Algorithm: frontier BFS — per round, join ONLY the current frontier
    (not the full distance table) to the edge list, anti-join out nodes
    already labeled, and union the fresh layer into the distance table.
    Each node enters the frontier EXACTLY once, so total join work is
    O(E) across ALL rounds — the textbook distributed-BFS bound — and
    every per-round frame is checkpointed (local or reliable mode) with
    the frontier size observed on the same job (zero-extra-pass
    convergence, the kcore/components discipline). Frontier-empty is an
    exact termination proof: BFS layers are disjoint, so an empty layer
    means no unlabeled node is adjacent to any labeled node.

    Output: (node, dist) for every node REACHABLE from the seed set
    (unreached components are absent, documented). Distances are exact
    integers — no float anywhere. The DuckDB oracle replays the same
    fixpoint as a recursive CTE with MIN(dist) per node; its dist < 64
    recursion guard equals SP_MAX_ROUNDS (sync-pinned), and the Spark
    side RAISES if the budget is hit, so both engines cover the same
    depth or fail loudly."""
    edges = cooccurrence_edges(spark, sf_dir, min_support=min_support)
    nodes = edges.select("src").distinct()
    seeds = nodes.orderBy("src").limit(SP_N_SEEDS)
    return bfs_distances(
        edges, seeds, max_rounds=SP_MAX_ROUNDS, round_counter=round_counter
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = SP_MAX_ROUNDS,
    round_counter: list | None = None,
) -> DataFrame:
    """Frontier BFS core over a symmetric (src, dst) edge frame and a seed
    frame — factored out so synthetic graphs (budget edge cases, chain
    diameters) are unit-testable without the fixture edge builder. The
    last seed column is the seed node; any columns before it are keys
    carried through every round, so each key runs its own BFS and labels
    each (key, node) pair exactly once (closeness keys on its root)."""
    n_rows = F.count(F.lit(1)).alias("n")
    cap = broadcast_max_nodes(edges.sparkSession)
    *keys, seed_col = seeds.columns
    dist = seeds.select(
        *keys, F.col(seed_col).alias("node"), F.lit(0).cast("bigint").alias("dist")
    )
    dist, layer_size = checkpoint_with_metric(dist, n_rows)
    labeled_n = layer_size
    frontier = dist
    converged = False
    # range is budget+1: proving the layer at dist == max_rounds is the
    # LAST requires one extra (empty) expansion; a non-empty probe layer
    # at budget+1 falls through to the raise and its rows are discarded
    for hop in range(1, max_rounds + 2):
        if round_counter is not None:
            round_counter.append(1)
        if layer_size == 0:
            converged = True
            break
        # frontier ⋈ edges on node=src: candidate next layer, min-dedup'd
        # (a node can be adjacent to many frontier nodes), then anti-join
        # against the labeled set so each node is labeled exactly once.
        # Broadcast strategy (guide §3.1): the frontier/labeled sizes are
        # the convergence scalars the loop already reads — under the node
        # threshold they broadcast, leaving the edge side unshuffled.
        fr = F.broadcast(frontier) if layer_size <= cap else frontier
        seen = dist.select(*keys, "node")
        if labeled_n <= cap:
            seen = F.broadcast(seen)
        cand = (
            fr.join(edges, frontier.node == edges.src)
            .select(*keys, F.col("dst").alias("node"))
            .distinct()
            .join(seen, [*keys, "node"], "left_anti")
            .select(*keys, "node", F.lit(hop).cast("bigint").alias("dist"))
        )
        fresh, layer_size = checkpoint_with_metric(cand, n_rows)
        labeled_n += layer_size
        dist = truncate_lineage(dist.unionByName(fresh))
        frontier = fresh
    # the layer computed by the FINAL budgeted hop may itself be empty —
    # that is convergence (kcore's `range(budget + 1)` convention), not a
    # budget overrun; without this check a graph of diameter exactly
    # max_rounds raises while the oracle (dist <= budget) completes
    if layer_size == 0:
        converged = True
    if not converged:
        raise RuntimeError(
            f"bfs_distances did not drain its frontier within "
            f"{max_rounds} hops — raise the round budget"
        )
    return dist


# Synchronous label propagation: fixed round count (the deterministic LPA
# variant — convergence of async LPA is order-dependent, so the engine
# runs exactly LPA_ROUNDS synchronized supersteps with a (count DESC,
# label ASC) tie-break). Mirrored in the oracle's chained CTEs.
LPA_ROUNDS = 4


def graph_lpa_communities(
    spark: SparkSession,
    sf_dir: str,
    min_support: int = PR_MIN_SUPPORT,
    rounds: int = LPA_ROUNDS,
) -> DataFrame:
    """Community detection by synchronous label propagation over the
    co-occurrence graph — the cheap modularity-style clustering that
    (unlike connected components) SPLITS a connected graph into dense
    neighborhoods: each superstep every node adopts the most common label
    among its neighbors (ties → smallest label), starting from
    label = node id.

    Determinism: asynchronous LPA (the textbook default) depends on visit
    order, so this is the SYNCHRONOUS fixed-round variant with a total
    tie-break — bit-identical output on any engine/partitioning. Each
    superstep is one equi-join (labels ⋈ edges), one map-side-combinable
    count aggregate, and one per-node top-1 window; the label frame is
    checkpointed per round (local or reliable mode). Round count is fixed
    (not converged): LPA on large graphs oscillates, and the standard
    practice is a small fixed budget.

    Output: (node, community, community_size); community ids are label
    values (node ids), deterministic."""
    _, labels = _lpa_labels(spark, sf_dir, min_support=min_support, rounds=rounds)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("community_size"))
    return labels.join(sizes, "label").select(
        "node", F.col("label").alias("community"), "community_size"
    )


def _lpa_labels(
    spark: SparkSession,
    sf_dir: str,
    min_support: int = PR_MIN_SUPPORT,
    rounds: int = LPA_ROUNDS,
):
    """(edges, labels-after-LPA) — the synchronous label-propagation core
    shared by graph_lpa_communities and graph_modularity (returning the
    edge frame too so modularity scores the SAME graph the labels came
    from without rebuilding it)."""
    edges = cooccurrence_edges(spark, sf_dir, min_support=min_support)
    # the node census rides the checkpoint's own job (connected
    # components' pattern) and drives the per-round broadcast strategy
    labels, n_nodes = checkpoint_with_metric(
        edges.select("src").distinct().select(
            F.col("src").alias("node"), F.col("src").cast("bigint").alias("label")
        ),
        F.count(F.lit(1)).alias("n"),
    )
    bcast = n_nodes <= broadcast_max_nodes(spark)
    for _ in range(rounds):
        lab_side = F.broadcast(labels) if bcast else labels
        votes = (
            lab_side.join(edges, labels.node == edges.src)
            .groupBy(F.col("dst").alias("n2"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("n2").orderBy(F.desc("c"), F.asc("label"))
        labels = truncate_lineage(
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("n2").alias("node"), "label")
        )
    return edges, labels


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition — the number that says
    whether graph_lpa_communities found real structure or noise
    (Q ≈ 0 = no better than random; Q ≳ 0.3 = meaningful communities).
    Per community c over the symmetric (directed-both-ways) edge list:

        Q = Σ_c [ e_c/E₂ − (d_c/E₂)² ]   (E₂ = total directed edges = 2m)

    computed as the EXACT integer numerator e_c·E₂ − d_c² per community
    (DECIMAL(38,0) / HUGEINT — products pass int64 on billion-edge
    graphs) with ONE double division by E₂²; the global Q is the exact
    integer sum of the numerators divided the same way, so every row and
    the total are bit-identical across engines.

    Scale: one labels⋈edges tag join (two hash joins on node-sized
    frames), one community-keyed map-side-combinable aggregate; the grand
    totals ride 1-row broadcasts. Output: per-community rows (size,
    internal degree, degree sum, contribution) + the repeated global Q."""
    edges, lab = _lpa_labels(spark, sf_dir)
    ls = lab.select(F.col("node").alias("src"), F.col("label").alias("cs"))
    ld = lab.select(F.col("node").alias("dst"), F.col("label").alias("cd"))
    tagged = edges.join(ls, "src").join(ld, "dst")
    # materialized: per_c feeds the grand total AND the enriched rollup —
    # unmaterialized, the two-join tag pass would run once per consumer
    per_c = tagged.groupBy(F.col("cs").alias("community")).agg(
        F.count(F.lit(1)).alias("degree_sum"),
        F.sum(F.when(F.col("cs") == F.col("cd"), 1).otherwise(0))
        .cast("bigint")
        .alias("internal_deg"),
    ).transform(truncate_lineage_eager)
    nn = lab.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    tot = per_c.agg(F.sum("degree_sum").alias("e2"))
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    enriched = (
        per_c.join(nn, "community")
        .crossJoin(F.broadcast(tot))
        .select(
            "community",
            "n_nodes",
            "internal_deg",
            "degree_sum",
            "e2",
            (dec("internal_deg") * dec("e2") - dec("degree_sum") * dec("degree_sum"))
            .alias("num"),
        )
        .transform(truncate_lineage_eager)  # 2 scans in one plan: Q total + output
    )
    glob = enriched.agg(F.sum("num").alias("qnum"))
    e2d = F.col("e2").cast("double") * F.col("e2").cast("double")
    return enriched.crossJoin(F.broadcast(glob)).select(
        "community",
        "n_nodes",
        "internal_deg",
        "degree_sum",
        (F.col("num").cast("double") / e2d).alias("contribution"),
        (F.col("qnum").cast("double") / e2d).alias("modularity_q"),
    )


def graph_personalized_pagerank(
    spark: SparkSession,
    sf_dir: str,
    n_iter: int = PR_N_ITER,
    min_support: int = PR_MIN_SUPPORT,
    hot_outdeg: int = PR_HOT_OUTDEG,
    n_salts: int = PR_SALTS,
) -> DataFrame:
    """Personalized PageRank from the SP_N_SEEDS smallest node ids — the
    seed-biased variant behind "related products for THIS product" and
    graph-expanded retrieval: identical supersteps to graph_pagerank, but
    ALL teleport mass returns to the seed set (and the walk starts there),
    so rank measures proximity to the seeds instead of global importance.

    Same exact scaled-integer discipline as graph_pagerank (femto-rank
    bigints, 85/100 damping as multiply-then-floor-divide, bit-identical
    across engines), same per-3-superstep lineage truncation; the only
    deltas are the seed-indicator teleport term and the seed-concentrated
    initial vector. Nodes unreachable from the seeds legitimately end at
    rank 0 (floor-divided residue aside) — that asymmetry is the feature."""
    edges = cooccurrence_edges(spark, sf_dir, min_support=min_support)
    # shared superstep-edge builder: the hub census + salted-join
    # mitigation applies here exactly as in graph_pagerank
    edges_deg, hot_nodes = _prepare_superstep_edges(edges, hot_outdeg, n_salts)
    nodes = edges.select(F.col("src").alias("node")).distinct().transform(
        truncate_lineage
    )
    n = nodes.count()  # control-plane scalar, the graph_pagerank convention
    if n == 0:
        return spark.createDataFrame(
            [], "node bigint, is_seed bigint, pr_scaled bigint, pagerank double"
        )
    n_seeds = min(SP_N_SEEDS, n)
    seeds = nodes.orderBy("node").limit(n_seeds).select(
        "node", F.lit(1).cast("bigint").alias("is_seed")
    )
    flagged = nodes.join(F.broadcast(seeds), "node", "left").select(
        "node", F.coalesce("is_seed", F.lit(0)).cast("bigint").alias("is_seed")
    ).transform(truncate_lineage_eager)  # re-joined every superstep in one action
    teleport_seed = (PR_SCALE * (PR_DAMPING_DEN - PR_DAMPING_NUM)) // PR_DAMPING_DEN // n_seeds
    pr = flagged.select(
        "node",
        "is_seed",
        F.when(F.col("is_seed") == 1, F.lit(PR_SCALE // n_seeds))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("pr"),
    )
    pr = _pagerank_supersteps(
        pr,
        flagged,
        edges_deg,
        F.when(F.col("is_seed") == 1, F.lit(teleport_seed)).otherwise(F.lit(0)),
        n_iter,
        carry=("is_seed",),
        hot_nodes=hot_nodes,
        broadcast_nodes=n <= broadcast_max_nodes(spark),
    )
    return pr.select(
        "node",
        "is_seed",
        F.col("pr").alias("pr_scaled"),
        (F.col("pr").cast("double") / F.lit(float(PR_SCALE))).alias("pagerank"),
    )


# Closeness centrality: number of probe sources (top-degree nodes) and the
# per-source BFS hop budget — both mirrored literally in the oracle's
# LIMIT / dist-guard (sync-pinned).
CLOSE_N_SOURCES = 4
CLOSE_MAX_ROUNDS = 64


def graph_closeness_centrality(
    spark: SparkSession,
    sf_dir: str,
    min_support: int = PR_MIN_SUPPORT,
    round_counter: list | None = None,
) -> DataFrame:
    """Closeness centrality for the CLOSE_N_SOURCES highest-degree nodes of
    the co-occurrence graph — the centrality the degree/PageRank pair
    misses: degree is local, PageRank is recursive popularity, closeness
    is REACH EFFICIENCY (mean hops to everything reachable). Sources are
    deterministic: degree DESC, node ASC.

    Algorithm: ``bfs_distances`` keyed on the source — state is (root,
    node, dist), so each (root, node) pair is labeled exactly once and
    total join work is O(sources × E) across all rounds; an undrained
    frontier at the budget RAISES, matching the oracle's dist guard.
    Closeness = (n_reached − 1) / Σdist — one division of exact BIGINTs;
    isolated sources yield NULL.

    Scale: a constant-factor (4×) wider frontier than single-source BFS;
    the state frame is bounded by sources × nodes. The degree ranking is
    a map-side-combinable groupBy plus a k-row limit."""
    edges = cooccurrence_edges(spark, sf_dir, min_support=min_support)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    # materialized once: roots feeds both the BFS seed frame and the final
    # reach join — unmaterialized, the second consumer would re-run the
    # full degree aggregation (the graph_pagerank edges_deg convention)
    roots = truncate_lineage(
        deg.orderBy(F.desc("degree"), F.asc("src")).limit(CLOSE_N_SOURCES)
    )
    dist = bfs_distances(
        edges,
        roots.select(F.col("src").alias("root"), "src"),
        max_rounds=CLOSE_MAX_ROUNDS,
        round_counter=round_counter,
    )
    reach = dist.groupBy("root").agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.sum("dist").alias("sum_dist"),
    )
    return (
        reach.join(F.broadcast(roots), reach.root == roots.src)
        .select(
            "root",
            "degree",
            "n_reached",
            "sum_dist",
            F.when(
                F.col("sum_dist") > 0,
                (F.col("n_reached") - F.lit(1)).cast("double")
                / F.col("sum_dist").cast("double"),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("closeness"),
        )
    )


def graph_assortativity(
    spark: SparkSession, sf_dir: str, min_support: int = PR_MIN_SUPPORT
) -> DataFrame:
    """Degree assortativity of the co-occurrence graph — the one-number
    answer to "do hubs link to hubs?" (Newman's r): Pearson correlation
    over the symmetric edge list's (deg(src), deg(dst)) pairs. Positive =
    hub-hub mixing (social-network shape), negative = hub-leaf
    (dependency/star shape) — the QA readout that tells you whether the
    co-purchase graph will respond to hub-capping (cf. CN_DEGREE_CAP).

    Determinism: degrees are exact integers; the six sufficient
    statistics are exact DECIMAL(38,0) sums (HUGEINT in the oracle) and
    the subtraction/sqrt/divide tree runs in double. Zero variance
    (regular graph) yields NULL, not NaN.

    Scale: two equi-joins hang the degree on each edge endpoint (degree
    frame is node-sized), then ONE map-side-combinable aggregate to six
    scalars — no pair materialization beyond the edge list itself. Both
    the edge list and the degree frame are MATERIALIZED once (each has
    two consumers — unmaterialized, the basket self-join would re-run
    per consumer)."""
    edges = cooccurrence_edges(spark, sf_dir, min_support=min_support)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).transform(
        truncate_lineage_eager  # both endpoint joins scan it in one plan
    )
    pairs = (
        edges.join(deg.select(F.col("src").alias("_a"), F.col("deg").alias("dx")),
                   edges.src == F.col("_a"))
        .join(deg.select(F.col("src").alias("_b"), F.col("deg").alias("dy")),
              edges.dst == F.col("_b"))
        .select(
            F.col("dx").cast("decimal(19,0)").alias("dx"),
            F.col("dy").cast("decimal(19,0)").alias("dy"),
        )
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    vx = nd * d("sxx") - d("sx") * d("sx")
    vy = nd * d("syy") - d("sy") * d("sy")
    return s.select(
        F.col("n").alias("n_edges"),
        F.when(
            (vx > 0) & (vy > 0),
            (nd * d("sxy") - d("sx") * d("sy")) / F.sqrt(vx * vy),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("assortativity"),
    )


# HITS constants — sync-pinned to the oracle literals (test_r8_constants
# _in_sync_with_oracles). 4 mutual-reinforcement rounds; scores carried as
# bigint multiples of 1e-6, max-renormalized per half-round.
HITS_ROUNDS = 4
HITS_SCALE = 1_000_000


def _hits_push(
    scores: DataFrame,
    score_col: str,
    edges_deg: DataFrame,
    hot_nodes: DataFrame | None,
    nodes: DataFrame,
    n_salts: int = PR_SALTS,
    broadcast_nodes: bool = False,
) -> DataFrame:
    """One HITS half-round: push ``score_col`` along the prepared
    (src → dst) edge relation via the SHARED hub-salted superstep join
    (``_superstep_scores_join`` — the same code path PageRank rides, so
    the skew mitigation cannot cover one consumer and miss the other),
    sum per target, then max-renormalize back to HITS_SCALE with nonneg
    floor division (identical on both engines for nonnegative operands).
    Nodes the push never reaches keep an explicit 0 via the left join.
    Callers pass a pre-swapped edge frame for the reverse direction.

    The push aggregate is checkpointed with max(s) riding the SAME job as
    an Observation (r14): the former ``raw.agg(max)`` + crossJoin-broadcast
    shape evaluated the push subtree TWICE per half-round (the agg branch
    and the output branch are different exchange shapes, so ReuseExchange
    cannot dedupe them) — two edge passes where one suffices. The max is
    one scalar on the driver (the hub-census/label-sum control-plane
    convention) and re-enters the renormalization as a literal: same
    integer, same floor division, bit-identical output."""
    raw, mx = checkpoint_with_metric(
        _superstep_scores_join(
            scores, [score_col], edges_deg, hot_nodes, n_salts,
            broadcast_scores=broadcast_nodes,
        )
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum(score_col).alias("s")),
        F.max("s").alias("m"),
    )
    if mx is not None and mx > 0:
        # widen BEFORE the ×scale: s is bounded by indeg·HITS_SCALE,
        # so s·HITS_SCALE wraps BIGINT at hub in-degree ≳ 9.2e6 —
        # exactly the hub regime the salted join exists for; the
        # oracle's HUGEINT sum is exact, so a silent wrap here is
        # also a parity divergence (r9 review)
        renorm = F.expr(
            f"(cast(coalesce(s, 0L) as decimal(38,0)) * {HITS_SCALE})"
            f" div {int(mx)}"
        )
    else:
        renorm = F.lit(0)
    raw_side = F.broadcast(raw) if broadcast_nodes else raw
    return nodes.join(raw_side, "node", "left").select(
        "node",
        renorm.cast("bigint").alias(score_col),
    )


def graph_hits(
    spark: SparkSession,
    sf_dir: str,
    n_rounds: int = HITS_ROUNDS,
    hot_outdeg: int = PR_HOT_OUTDEG,
    n_salts: int = PR_SALTS,
) -> DataFrame:
    """HITS hubs & authorities over the DIRECTED co-occurrence pair
    relation (part_a → part_b, the counted_part_pairs orientation) — the
    second classic eigenvector ranking beside PageRank, and the one that
    separates "links out to good things" (hub) from "is linked by good
    things" (authority) on an asymmetric relation.

    The directed relation is recovered from the session-memoized symmetric
    ``cooccurrence_edges`` frame (src < dst is exactly the part_a < part_b
    orientation), so a multi-query session builds the basket self-join
    ONCE for the whole graph family (VERDICT r8 ask #2 — this query used
    to bypass the memo and rebuild it).

    Same bit-exactness discipline as pagerank_on_edges: scores are bigint
    multiples of 1e-6; each half-round is one equi-join push + one
    map-side-combined groupBy, with max(s) observed on the checkpoint job
    (one control-plane scalar, the hub-census convention) and re-entering
    the renormalization as a literal; floor division on nonnegative values
    is engine-identical, so 4 rounds are bit-exact against the oracle's
    chained MATERIALIZED CTEs.

    Scale shape per half-round: scores⋈edges on the push key then groupBy
    on the receive key — the Pregel shape shared with PageRank, now
    through the SAME ``_superstep_scores_join`` helper, so the hub-salt
    strategy switch applies here too (VERDICT r8 ask #3): each direction
    gets its own census (out-hubs for the h-push, in-hubs for the a-push)
    and flips to the salted (src, salt) join independently. Bit-identical
    either way (test_hits_salted_strategy_agrees). Lineage truncated per
    round."""
    sym = cooccurrence_edges(spark, sf_dir, min_support=PR_MIN_SUPPORT)
    edges = sym.where(F.col("src") < F.col("dst"))
    # per-direction superstep preparation: the h-push travels src→dst, the
    # a-push dst→src; _prepare_superstep_edges runs its hub census on the
    # push key of each orientation. The two preparations are independent
    # eager materializations of the same memoized sym blocks, so they run
    # CONCURRENTLY (guide §2.6 — actions are only sequential because the
    # driver calls them sequentially); values are per-direction frames, so
    # overlap cannot reorder anything arithmetic. The workers inherit the
    # caller's local properties (job group, scheduler pool), so their jobs
    # stay attributable and cancellable with the rest of the query.
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    prepare = inheritable_thread_target(spark)(_prepare_superstep_edges)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fwd_f = pool.submit(prepare, edges, hot_outdeg, n_salts)
        rev_f = pool.submit(prepare, rev, hot_outdeg, n_salts)
        fwd_deg, fwd_hot = fwd_f.result()
        rev_deg, rev_hot = rev_f.result()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .transform(truncate_lineage)
    )
    # node census: the count doubles as the lazy checkpoint's materializing
    # action (the pagerank convention) and drives the broadcast strategy
    bcast = nodes.count() <= broadcast_max_nodes(spark)
    h = nodes.withColumn("h", F.lit(HITS_SCALE).cast("bigint"))
    for i in range(n_rounds):
        a = _hits_push(
            h, "h", fwd_deg, fwd_hot, nodes, n_salts, broadcast_nodes=bcast
        ).withColumnRenamed("h", "a")
        h = _hits_push(
            a, "a", rev_deg, rev_hot, nodes, n_salts, broadcast_nodes=bcast
        ).withColumnRenamed("a", "h")
        # no per-k-round truncation needed anymore: every push checkpoints
        # its aggregate (the max-Observation job), so each plan roots at
        # the previous push's blocks — constant plan size by construction
    # h and a are each node-COMPLETE by construction (every push left-joins
    # from `nodes`, emitting exactly one row per node), so the former
    # nodes⋈h⋈a triple join re-checked a set identity — one join suffices.
    return h.join(a, "node").select(
        "node",
        F.col("h").alias("hub_scaled"),
        F.col("a").alias("auth_scaled"),
        (F.col("h").cast("double") / F.lit(float(HITS_SCALE))).alias("hub"),
        (F.col("a").cast("double") / F.lit(float(HITS_SCALE))).alias("auth"),
    )


def graph_adamic_adar(
    spark: SparkSession, sf_dir: str, min_support: int = PR_MIN_SUPPORT
) -> DataFrame:
    """Adamic-Adar link prediction over the co-occurrence graph: the top
    CN_TOP_K non-adjacent pairs ranked by Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w) —
    the common-neighbor score that DISCOUNTS promiscuous middles (a shared
    rare neighbor says more than a shared hub), the second classic beside
    graph_common_neighbors' plain Jaccard and the usual stronger baseline
    (Liben-Nowell & Kleinberg).

    Same wedge shape and CN_DEGREE_CAP hub guard as common-neighbors (the
    cap also keeps ln(deg) > 0: deg ≥ 2 on any wedge middle — a degree-1
    node forms no wedge, and deg = 1 would divide by ln 1 = 0; the
    symmetric graph has no self-loops, so every wedge middle has deg ≥ 2).
    Per-wedge terms round to 9dp and sum in DECIMAL(28,9) (float sums are
    order-sensitive); ranking compares the 6dp-rounded score with the
    (u, v) tie-break."""
    e, capped_deg = _capped_wedge_relation(spark, sf_dir, min_support)
    e1 = e.join(
        capped_deg.select(F.col("src").alias("w_deg_key"), "deg"),
        F.col("src") == F.col("w_deg_key"),
    ).select(F.col("src").alias("w"), F.col("dst").alias("u"), "deg")
    e2 = e.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    term = F.round(F.lit(1.0) / F.log(F.col("deg").cast("double")), 9)
    aa = (
        e1.join(e2, "w")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(term.cast("decimal(28,9)")).alias("s"),
        )
    )
    und = e.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    cand = aa.join(und, ["u", "v"], "left_anti").select(
        "u", "v", "n_common", F.round(F.col("s").cast("double"), 6).alias("aa_score")
    )
    top = cand.orderBy(
        F.desc("aa_score"), F.asc("u"), F.asc("v")
    ).limit(CN_TOP_K)
    w = Window.orderBy(F.desc("aa_score"), F.asc("u"), F.asc("v"))
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "u",
        "v",
        "n_common",
        "aa_score",
    )


# Seeded k-bounded betweenness: BFS horizon (paths longer than this are
# out of scope by definition — "k-bounded betweenness"), sync-pinned to
# the oracle's layer count.
BC_MAX_DEPTH = 16


def graph_betweenness_seeded(
    spark: SparkSession, sf_dir: str, min_support: int = PR_MIN_SUPPORT
) -> DataFrame:
    """Seeded (sampled-source) k-bounded betweenness centrality — Brandes'
    algorithm from the SP_N_SEEDS smallest node ids, the standard
    approximation when exact all-sources betweenness (O(V·E)) is off the
    table: which nodes sit ON the shortest paths from the anchor set (the
    broker/bottleneck metric, vs PageRank's popularity and HITS'
    mutual-reinforcement).

    Two phases, both layer-synchronous over the shared co-occurrence
    edges: (1) forward frontier BFS carrying per-seed shortest-path COUNTS
    σ (integer sums — each node's σ is the sum of its predecessors', one
    groupBy per layer, anti-joined so every node enters once: O(E) total
    join work); (2) Brandes' backward dependency accumulation, one layer
    per round from the deepest observed layer down, δ(v) = Σ_{w∈succ}
    σ(v)/σ(w)·(1+δ(w)) — carried in EXACT ×1e9 scaled integers with
    floor-divided terms (see the in-body comment: float rounding here
    lands on engine-divergent half-up boundaries). Paths longer than
    BC_MAX_DEPTH hops
    are out of scope BY DEFINITION (k-bounded variant; the fixture
    diameter is far below it). betweenness(v) = Σ_seeds δ_s(v), seeds
    excluded, 6dp; reachable nodes emit (leaves at exact 0.0).

    The backward loop count is the OBSERVED max depth (a driver scalar
    from the forward pass — control plane); every layer frame is
    checkpointed with its size read off the same job."""
    edges = cooccurrence_edges(spark, sf_dir, min_support=min_support)
    nodes = edges.select("src").distinct()
    seeds = nodes.orderBy("src").limit(SP_N_SEEDS).select(
        F.col("src").alias("seed")
    )
    n_rows = F.count(F.lit(1)).alias("n")
    cap = broadcast_max_nodes(spark)
    state = seeds.select(
        "seed",
        F.col("seed").alias("node"),
        F.lit(0).cast("bigint").alias("dist"),
        F.lit(1).cast("bigint").alias("sigma"),
    )
    state, layer_size = checkpoint_with_metric(state, n_rows)
    layer_sizes = {0: layer_size}
    labeled_n = layer_size
    frontier = state
    max_d = 0
    for d in range(1, BC_MAX_DEPTH + 1):
        if layer_size == 0:
            break
        fr = F.broadcast(frontier) if layer_size <= cap else frontier
        seen = state.select("seed", "node")
        if labeled_n <= cap:
            seen = F.broadcast(seen)
        cand = (
            fr.join(edges, frontier.node == edges.src)
            .select("seed", F.col("dst").alias("node"), "sigma")
            .join(seen, ["seed", "node"], "left_anti")
            .groupBy("seed", "node")
            .agg(F.sum("sigma").alias("sigma"))
            .select(
                "seed", "node", F.lit(d).cast("bigint").alias("dist"), "sigma"
            )
        )
        cand, layer_size = checkpoint_with_metric(cand, n_rows)
        if layer_size == 0:
            break
        layer_sizes[d] = layer_size
        labeled_n += layer_size
        max_d = d
        frontier = cand
        state = state.unionByName(cand).transform(truncate_lineage)
    # Backward dependency accumulation, deepest layer first, in EXACT
    # scaled integers (the PageRank discipline): δ is carried ×1e9 as
    # bigint, each term is (σv·(1e9 + Δw)) div σw with the product widened
    # to DECIMAL(38,0) before the floor division (engine-identical for
    # nonnegative operands). Float rounding here is a trap: σ ratios are
    # small rationals, so round(double, 9) lands EXACTLY on half-up
    # boundaries where Spark (decimal-string HALF_UP) and DuckDB (binary)
    # disagree — hit for real at sf0.01.
    delta = (
        state.where(F.col("dist") == max_d)
        .select("seed", "node", F.lit(0).cast("bigint").alias("delta"))
        .transform(truncate_lineage)
    )
    acc = delta
    for d in range(max_d - 1, -1, -1):
        sv = state.where(F.col("dist") == d).alias("v")
        sw = state.where(F.col("dist") == d + 1).select(
            F.col("seed").alias("wseed"),
            F.col("node").alias("wnode"),
            F.col("sigma").alias("wsigma"),
        )
        dw = delta.select(
            F.col("seed").alias("dseed"),
            F.col("node").alias("dnode"),
            F.col("delta").alias("wdelta"),
        )
        # per-layer frames have KNOWN sizes (observed on the forward pass);
        # under the node threshold they broadcast into the dependency join,
        # leaving the edge side unshuffled (guide §3.1, value-identical)
        if layer_sizes.get(d + 1, 0) <= cap:
            sw = F.broadcast(sw)
            dw = F.broadcast(dw)
        term = F.expr(
            "(CAST(sigma AS DECIMAL(38,0))"
            " * CAST(1000000000 + wdelta AS DECIMAL(38,0)))"
            " div CAST(wsigma AS DECIMAL(38,0))"
        )
        contrib = (
            sv.join(edges, F.col("v.node") == edges.src)
            .join(
                sw,
                (F.col("wseed") == F.col("v.seed")) & (F.col("wnode") == F.col("dst")),
            )
            .join(
                dw,
                (F.col("dseed") == F.col("wseed")) & (F.col("dnode") == F.col("wnode")),
            )
            .groupBy(F.col("v.seed").alias("seed"), F.col("v.node").alias("node"))
            .agg(F.sum(term).cast("bigint").alias("delta"))
        )
        delta = (
            state.where(F.col("dist") == d)
            .select("seed", "node")
            .join(contrib, ["seed", "node"], "left")
            .select(
                "seed",
                "node",
                F.coalesce("delta", F.lit(0)).cast("bigint").alias("delta"),
            )
            .transform(truncate_lineage_eager)  # consumers: next dw + acc union
        )
        acc = acc.unionByName(delta).transform(truncate_lineage)
    return (
        acc.where(F.col("node") != F.col("seed"))
        .groupBy("node")
        .agg(F.sum("delta").cast("bigint").alias("betweenness_scaled"))
        .select(
            "node",
            "betweenness_scaled",
            # exact bigint → one double division, NO rounding: identical
            # bits on both engines by construction
            (F.col("betweenness_scaled").cast("double") / F.lit(1.0e9)).alias(
                "betweenness"
            ),
        )
    )


def graph_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance distribution from the anchor seed set with the
    EFFECTIVE DIAMETER readout — the smallest hop count covering ≥ 90% of
    reachable nodes (the standard small-world statistic, robust where the
    true diameter is one freak chain). Pure composition over the shared
    frontier-BFS distances: one groupBy(dist), one cumulative window over
    the ≤ diameter-many rows, and an EXACT integer 90% test
    (cum·10 ≥ total·9 — no float threshold)."""
    dist = graph_shortest_paths(spark, sf_dir)
    per = dist.groupBy("dist").agg(F.count(F.lit(1)).alias("n_nodes"))
    total = per.agg(F.sum("n_nodes").alias("n_total"))
    wc = Window.orderBy("dist").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        per.crossJoin(F.broadcast(total))
        .withColumn("cum_nodes", F.sum("n_nodes").over(wc))
        .withColumn(
            "covered_90", F.col("cum_nodes") * 10 >= F.col("n_total") * 9
        )
    )
    w_first = Window.orderBy("dist").rowsBetween(Window.unboundedPreceding, -1)
    return cum.select(
        F.col("dist").cast("bigint").alias("dist"),
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
        F.col("cum_nodes").cast("bigint").alias("cum_nodes"),
        F.round(
            F.col("cum_nodes").cast("double") / F.col("n_total").cast("double"), 9
        ).alias("cum_frac"),
        (
            F.col("covered_90")
            & ~F.coalesce(F.max("covered_90").over(w_first), F.lit(False))
        ).alias("is_effective_diameter"),
    )


# Rich-club degree thresholds — a fixed spine, mirrored in the oracle.
RICH_CLUB_KS = (2, 4, 8, 16)


def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) over the
    co-occurrence graph for a fixed degree-threshold spine — do the
    high-degree "hub" nodes preferentially connect to EACH OTHER? (φ→1
    means the hubs form a near-clique; the structural readout behind
    hub-salting decisions and spam-ring triage, complementing
    graph_assortativity's single global coefficient with a per-threshold
    curve.)

    Shape: degrees are one map-side-combined aggregate over the memoized
    edge list; each edge picks up both endpoint degrees via two
    node-keyed joins (the graph_assortativity shape — never a pair
    materialization); the 4-row threshold spine cross-joins BROADCAST
    against the degree-tagged edges so counting stays one aggregated
    pass. All counts exact integers; φ is one exact-int division. N_k
    and E_k are reported so φ's denominator is auditable."""
    edges = cooccurrence_edges(spark, sf_dir)
    deg = (
        edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        # feeds the per-threshold node census AND both edge joins (one plan)
        .transform(truncate_lineage_eager)
    )
    ks = F.array(*[F.lit(k).cast("bigint") for k in RICH_CLUB_KS])
    spine = deg.sparkSession.range(1).select(F.explode(ks).alias("k"))
    n_k = (
        deg.crossJoin(F.broadcast(spine))
        .where(F.col("deg") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )
    tagged = (
        edges.join(deg.select(F.col("src").alias("u"), F.col("deg").alias("du")),
                   edges.src == F.col("u"))
        .join(deg.select(F.col("src").alias("v"), F.col("deg").alias("dv")),
              edges.dst == F.col("v"))
        .select("src", "dst", "du", "dv")
    )
    e_k = (
        tagged.crossJoin(F.broadcast(spine))
        .where((F.col("du") > F.col("k")) & (F.col("dv") > F.col("k")))
        .groupBy("k")
        # the symmetric edge list stores each undirected edge twice
        .agg((F.count(F.lit(1)) / F.lit(2)).cast("bigint").alias("n_edges"))
    )
    phi = F.when(
        F.col("n_nodes") >= 2,
        F.round(
            F.lit(2.0)
            * F.col("n_edges").cast("double")
            / (F.col("n_nodes").cast("double") * (F.col("n_nodes").cast("double") - 1.0)),
            9,
        ),
    )
    return (
        spine.join(n_k, "k", "left")
        .join(e_k, "k", "left")
        .na.fill({"n_nodes": 0, "n_edges": 0})
        .select("k", "n_nodes", "n_edges", phi.alias("phi"))
    )
