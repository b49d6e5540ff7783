"""DuckDB oracle SQL for every SQL-expressible query in the registry.

The driver runs each registry query on Spark and the same-named SQL here on
DuckDB (views ``region nation customer supplier part orders lineitem events
documents embeddings`` over the same parquet), then compares row count,
schema, and an order-insensitive value hash. Column names are aliased
identically on both sides — the compare sorts columns by name.

Shared fragments keep the synthetic relations (demo scores / tag dimension)
textually identical across queries.
"""

from .handoff import PIPELINE_SCORED_PATH as _PIPELINE_SCORED_PATH

# Long-form deterministic scores derived from `embeddings` — the stand-in for
# the reference's model output (appV2.py:171-174 with inference stubbed).
# Mirrors operators.tagging.embedding_probs, in long form.
SCORES_CTE = """
raw_scores AS (
  SELECT vec_id AS image_id,
         generate_subscripts(embedding, 1) - 1 AS tag_idx,
         CAST(unnest(embedding) AS DOUBLE) * 100.0 AS logit
  FROM embeddings
),
scores AS (
  SELECT image_id, tag_idx,
         1.0 / (1.0 + exp(-greatest(least(logit, 30.0), -30.0))) AS prob
  FROM raw_scores
)
"""

# Mirrors operators.tagging.demo_tag_dim (62 rows; idx 62,63 absent = F4 gap).
TAG_DIM_CTE = """
tag_dim AS (
  SELECT CAST(i AS INTEGER) AS tag_idx,
         CASE i % 8 WHEN 0 THEN 'rating' WHEN 1 THEN 'general'
                    WHEN 2 THEN 'artist' WHEN 3 THEN 'character'
                    WHEN 4 THEN 'copyright' WHEN 5 THEN 'meta'
                    WHEN 6 THEN 'quality' ELSE 'model' END AS category,
         CASE WHEN i % 8 = 5 THEN
                CASE WHEN i % 16 = 5 THEN 'meta_id_' || i ELSE 'meta_plain_' || i END
              ELSE 'tag_' || i END AS tag_name
  FROM range(62) t(i)
)
"""

# scores ⋈ tag_dim with the P1 name cleanup applied (appV2.py:83,97).
SCORED_CTE = """
scored AS (
  SELECT s.image_id, s.tag_idx, s.prob, d.category,
         replace(d.tag_name, '_', ' ') AS tag
  FROM scores s JOIN tag_dim d USING (tag_idx)
)
"""

# A1 — per-(image, category) top-1, argmax first-max tie-break (appV2.py:77-83).
TOP1_CTE = """
top1 AS (
  SELECT image_id, category, tag_idx, tag
  FROM (SELECT *, row_number() OVER (PARTITION BY image_id, category
                                     ORDER BY prob DESC, tag_idx ASC) AS rn
        FROM scored WHERE category IN ('rating','quality'))
  WHERE rn = 1
)
"""

# F2 + F3 — thresholds and meta substring blacklist (appV2.py:86-99).
THRESH_CTE = """
thresh AS (
  SELECT image_id, category, tag_idx, tag
  FROM scored
  WHERE ((category IN ('general','meta','model') AND prob >= 0.55)
      OR (category IN ('character','copyright','artist') AND prob >= 0.60))
    AND NOT (category = 'meta' AND (lower(tag) LIKE '%id%'
                                 OR lower(tag) LIKE '%commentary%'
                                 OR lower(tag) LIKE '%request%'
                                 OR lower(tag) LIKE '%mismatch%'))
)
"""

_DEMO_BASE = f"WITH {SCORES_CTE.strip()},\n{TAG_DIM_CTE.strip()},\n{SCORED_CTE.strip()}"

ORACLE_SQL: dict[str, str] = {}

# --- tagging (reference core, appV2.py:74-101) -----------------------------

ORACLE_SQL["tag_select"] = f"""
{_DEMO_BASE},
{TOP1_CTE.strip()},
{THRESH_CTE.strip()},
selected AS (
  SELECT image_id,
         CASE category WHEN 'rating' THEN 0 WHEN 'quality' THEN 1
                       WHEN 'general' THEN 2 WHEN 'meta' THEN 3
                       WHEN 'model' THEN 4 WHEN 'character' THEN 5
                       WHEN 'copyright' THEN 6 ELSE 7 END AS cat_rank,
         tag_idx, tag
  FROM (SELECT * FROM top1 UNION ALL SELECT * FROM thresh)
)
SELECT image_id, string_agg(tag, ', ' ORDER BY cat_rank, tag_idx) AS tags_text
FROM selected
GROUP BY image_id
"""

ORACLE_SQL["tag_top1_rating_quality"] = f"""
{_DEMO_BASE},
{TOP1_CTE.strip()}
SELECT image_id, category, tag_idx, tag FROM top1
"""

ORACLE_SQL["tag_threshold_filter"] = f"""
{_DEMO_BASE},
{THRESH_CTE.strip()}
SELECT image_id, category, tag_idx, tag FROM thresh
"""

# PARTIAL oracle for the full pipeline: the float32 kernel's output is
# handed off through pipeline.PIPELINE_SCORED_PATH (written eagerly when the
# Spark query is built — always before this SQL runs; the Spark side reads
# the same file back). Spark selects tags with the NumPy selection, run as a
# mapInArrow over each row's probs array; this SQL replays it in long form
# (unnest → dim join → top-1/threshold/blacklist → ordered string agg →
# ok/error rows, appV2.py:74-101,178-190) from those exact float32 probs —
# an independent formulation, not a transcription. Casting FLOAT→DOUBLE is
# exact in both engines (the NumPy side compares in float64), so every
# threshold comparison and tie-break is bit-identical.
_PIPELINE_SCORED_GLOB = f"{_PIPELINE_SCORED_PATH}/*.parquet"

ORACLE_SQL["pipeline_score_tag"] = f"""
WITH raw AS (
  SELECT path, probs, status, error
  FROM read_parquet('{_PIPELINE_SCORED_GLOB}')
),
scores AS (
  SELECT path AS image_id,
         generate_subscripts(probs, 1) - 1 AS tag_idx,
         CAST(unnest(probs) AS DOUBLE) AS prob
  FROM raw WHERE status = 'ok'
),
{TAG_DIM_CTE.strip()},
{SCORED_CTE.strip()},
{TOP1_CTE.strip()},
{THRESH_CTE.strip()},
selected AS (
  SELECT image_id,
         CASE category WHEN 'rating' THEN 0 WHEN 'quality' THEN 1
                       WHEN 'general' THEN 2 WHEN 'meta' THEN 3
                       WHEN 'model' THEN 4 WHEN 'character' THEN 5
                       WHEN 'copyright' THEN 6 ELSE 7 END AS cat_rank,
         tag_idx, tag
  FROM (SELECT * FROM top1 UNION ALL SELECT * FROM thresh)
),
agg AS (
  SELECT image_id, string_agg(tag, ', ' ORDER BY cat_rank, tag_idx) AS tags_text
  FROM selected GROUP BY image_id
)
SELECT r.path,
       COALESCE(a.tags_text, '') AS tags_text,
       'ok' AS status,
       CAST(NULL AS VARCHAR) AS error
FROM (SELECT DISTINCT path FROM raw WHERE status = 'ok') r
LEFT JOIN agg a ON a.image_id = r.path
UNION ALL
SELECT path, CAST(NULL AS VARCHAR) AS tags_text, status, error
FROM raw WHERE status = 'error'
"""

# --- relational surface -----------------------------------------------------
# Monetary aggregates are computed in exact DECIMAL on both sides (the
# fixture money columns are exact 2-decimal doubles) and cast to DOUBLE at
# the end, so the values are bit-identical regardless of partition order.

_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))"
)
_CHARGE = f"{_DISC_PRICE} * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))"

ORACLE_SQL["q1_pricing_summary"] = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
       CAST(SUM({_CHARGE}) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

ORACLE_SQL["q3_shipping_priority"] = f"""
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'AUTOMOBILE'
  AND o_orderdate < TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-09-01 00:00:00'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

ORACLE_SQL["q5_local_supplier"] = f"""
SELECT n_name, CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""

ORACLE_SQL["agg_rollup"] = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""

ORACLE_SQL["join_semi_anti"] = """
SELECT c_mktsegment, 'with_f_order' AS kind, COUNT(*) AS n
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
GROUP BY c_mktsegment
UNION ALL
SELECT c_mktsegment, 'without_f_order' AS kind, COUNT(*) AS n
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
GROUP BY c_mktsegment
"""

ORACLE_SQL["topk_per_group"] = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
WHERE rn <= 3
"""

ORACLE_SQL["window_running"] = f"""
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(SUM({_DISC_PRICE}) OVER (
              PARTITION BY l_suppkey
              ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC,
                       l_extendedprice ASC, l_discount ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_revenue
FROM lineitem
"""

ORACLE_SQL["set_ops"] = """
WITH auto AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
     mach AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY')
SELECT c_nationkey, 'intersect' AS op FROM (SELECT * FROM auto INTERSECT SELECT * FROM mach)
UNION ALL
SELECT c_nationkey, 'except' AS op FROM (SELECT * FROM auto EXCEPT SELECT * FROM mach)
UNION ALL
SELECT c_nationkey, 'union' AS op FROM (SELECT * FROM auto UNION SELECT * FROM mach)
"""

ORACLE_SQL["pivot_status"] = """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_fulfilled,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
FROM orders
GROUP BY o_orderpriority
"""

# Sketch values are engine-specific (Spark HLL++ vs DuckDB HLL), so the
# contract compares exact counts plus each engine's own accuracy boolean
# |approx − exact|/exact <= 0.15 (sync-pinned to
# relational.APPROX_DISTINCT_EPS; Spark HLL++ default rsd 0.05, 3σ).
ORACLE_SQL["approx_distinct"] = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       abs(CAST(approx_count_distinct(l_partkey) AS DOUBLE)
           - CAST(COUNT(DISTINCT l_partkey) AS DOUBLE))
         / CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) <= 0.15
         AS approx_parts_ok,
       abs(CAST(approx_count_distinct(l_orderkey) AS DOUBLE)
           - CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE))
         / CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) <= 0.15
         AS approx_orders_ok
FROM lineitem
GROUP BY l_returnflag
"""

ORACLE_SQL["distinct_brand_stats"] = """
SELECT p_brand,
       COUNT(DISTINCT p_size) AS n_sizes,
       COUNT(DISTINCT p_type) AS n_types,
       MIN(p_retailprice) AS min_price,
       MAX(p_retailprice) AS max_price,
       COUNT(*) AS n_parts
FROM part
GROUP BY p_brand
"""


# Tie policy mirrors the Spark union+window implementation: clicks at the
# purchase timestamp count (<=); among equal-ts clicks the highest event_id
# wins. gap uses per-timestamp floor-to-seconds like Spark's unix_timestamp.
ORACLE_SQL["asof_join_purchase_click"] = """
WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
     best AS (
       SELECT p.user_id, p.event_id, p.ts AS p_ts,
              c.event_id AS click_event_id, c.ts AS c_ts,
              row_number() OVER (PARTITION BY p.event_id
                                 ORDER BY c.ts DESC, c.event_id DESC) AS rn
       FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
     )
SELECT user_id, event_id, click_event_id,
       CAST(floor(epoch(p_ts)) AS BIGINT) - CAST(floor(epoch(c_ts)) AS BIGINT)
         AS gap_seconds
FROM best WHERE rn = 1
"""

ORACLE_SQL["cube_agg"] = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
"""

ORACLE_SQL["above_avg_parts"] = """
WITH brand_avg AS (
  SELECT p_brand,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
           AS brand_avg
  FROM part GROUP BY p_brand
)
SELECT p_partkey, part.p_brand AS p_brand, p_retailprice, brand_avg
FROM part JOIN brand_avg ON part.p_brand = brand_avg.p_brand
WHERE p_retailprice > brand_avg
"""

ORACLE_SQL["unpivot_measures"] = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
"""

# Salting must be invisible in the result: the oracle is the PLAIN join.
ORACLE_SQL["skew_salted_join"] = """
WITH user_dim AS (
  SELECT user_id, COUNT(*) AS user_events,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS user_value
  FROM events GROUP BY user_id
)
SELECT event_id, e.user_id AS user_id, event_type, user_events, user_value
FROM events e JOIN user_dim d ON e.user_id = d.user_id
"""

# --- scalar-function surface (SURVEY.md §2.7) -------------------------------

ORACLE_SQL["string_functions"] = """
SELECT p_partkey,
       lower(p_name) AS lower_name,
       upper(p_name) AS upper_name,
       substring(p_name, 1, 5) AS prefix5,
       replace(p_name, ' ', '_') AS snake_name,
       CAST(length(p_name) AS BIGINT) AS name_len,
       lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key,
       p_brand || '/' || p_type AS brand_type,
       regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS brand_num,
       string_split(p_type, ' ')[1] AS type_head,
       contains(p_name, 'a') AS has_a
FROM part
"""

ORACLE_SQL["date_functions"] = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(month(o_orderdate) AS BIGINT) AS mon,
       CAST(day(o_orderdate) AS BIGINT) AS dom,
       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS BIGINT)
         AS days_to_1999,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s
FROM orders
"""

ORACLE_SQL["math_functions"] = """
SELECT l_orderkey, l_linenumber,
       abs(l_extendedprice - 30000.0) AS abs_dev,
       CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
       CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
       l_extendedprice / 1000.0 AS kprice,
       sqrt(l_extendedprice) AS sqrt_price,
       CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
       l_orderkey % 7 AS key_mod7,
       l_extendedprice * l_extendedprice AS price_sq,
       greatest(l_quantity, 10.0) AS qty_floor10,
       least(l_tax, l_discount) AS tax_disc_min
FROM lineitem
"""

ORACLE_SQL["percentiles_by_priority"] = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.75), 4) AS p75
FROM orders
GROUP BY o_orderpriority
"""

# --- dedup ------------------------------------------------------------------

def _shingle_ctes(k: int, max_df: int | None = None) -> str:
    """Distinct k-word shingles per doc — mirrors dedup.word_shingles,
    including the hot-shingle document-frequency cap when ``max_df`` is
    given (count(DISTINCT doc_id) > max_df ⇒ shingle dropped)."""
    terms = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(k))
    raw = f"""
toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= {k}
),
sh{"0" if max_df is not None else ""} AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - {k - 2}), i -> {terms})) AS shingle
  FROM toks
)
""".strip()
    if max_df is None:
        return raw
    return (
        raw
        + f""",
hot AS (
  SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(DISTINCT doc_id) > {max_df}
),
sh AS (
  SELECT doc_id, shingle FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)
)"""
    )


ORACLE_SQL["dedup_exact"] = """
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""

# Keep in sync with operators.dedup.DEFAULT_MAX_DF (imported would drag the
# pyspark dependency into oracle-only consumers; the parity test asserts the
# two constants are equal).
DEDUP_MAX_DF = 1000

def jaccard_sql(max_df: int | None) -> str:
    """dedup_ngram_jaccard oracle, parameterized on the hot-shingle cap so
    the drop path itself can be parity-tested with a cap small enough to
    engage on fixture data."""
    return f"""
WITH {_shingle_ctes(3, max_df=max_df)},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.08
"""


ORACLE_SQL["dedup_ngram_jaccard"] = jaccard_sql(DEDUP_MAX_DF)

_MINHASH_N = 16
# Kirsch-Mitzenmacher: one md5 per shingle split into two 32-bit halves,
# hash family i = (h1 + i*h2) mod (2^31-1) — mirrors dedup.minhash_signatures.
_MINHASH_HALVES = """
mh AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) AS h2
  FROM sh
)
""".strip()
_MINHASH_COLS = ", ".join(
    f"min((h1 + {i} * h2) % 2147483647) AS h{i}" for i in range(_MINHASH_N)
)
_MINHASH_BANDS_SQL = "\nUNION ALL\n".join(
    "SELECT doc_id, {b} AS band, {key} AS bkey FROM sig".format(
        b=b,
        key=" || '|' || ".join(f"CAST(h{4 * b + j} AS VARCHAR)" for j in range(4)),
    )
    for b in range(4)
)
_MINHASH_MATCHES = " + ".join(
    f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(_MINHASH_N)
)

ORACLE_SQL["dedup_minhash_lsh"] = f"""
WITH {_shingle_ctes(3, max_df=DEDUP_MAX_DF)},
{_MINHASH_HALVES},
sig AS (SELECT doc_id, {_MINHASH_COLS} FROM mh GROUP BY doc_id),
bands AS ({_MINHASH_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, ({_MINHASH_MATCHES}) / 16.0 AS est_jaccard
FROM cand
JOIN sig sa ON doc_a = sa.doc_id
JOIN sig sb ON doc_b = sb.doc_id
"""

# 60 bits (15 md5 hex chars) — mirrors dedup.SIMHASH_BITS; 64 would overflow
# the signed-BIGINT hex cast in both engines.
_SIMHASH_BITS = 60
_SIMHASH_SUMS = ", ".join(
    f"SUM(((h >> {j}) & 1) * 2 - 1) AS b{j}" for j in range(_SIMHASH_BITS)
)
_SIMHASH_VALUE = " + ".join(
    f"CASE WHEN b{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END"
    for j in range(_SIMHASH_BITS)
)

_SIMHASH_CTES = f"""
tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
th AS (SELECT doc_id, CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h FROM tok),
bits AS (SELECT doc_id, {_SIMHASH_SUMS} FROM th GROUP BY doc_id),
sim AS (SELECT doc_id, CAST({_SIMHASH_VALUE} AS BIGINT) AS simhash FROM bits)
""".strip()

ORACLE_SQL["dedup_simhash"] = f"""
WITH {_SIMHASH_CTES}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
"""

ORACLE_SQL["text_simhash"] = f"""
WITH {_SIMHASH_CTES}
SELECT doc_id, simhash FROM sim
"""

# Connected components as a recursive CTE: reach(a,b) is the transitive
# closure over LSH candidate edges (est_jaccard >= 0.5); cluster_id is the
# minimum reachable node. UNION (not UNION ALL) dedupes paths, so the
# recursion terminates.
ORACLE_SQL["dedup_clusters"] = f"""
WITH RECURSIVE {_shingle_ctes(3, max_df=DEDUP_MAX_DF)},
{_MINHASH_HALVES},
sig AS (SELECT doc_id, {_MINHASH_COLS} FROM mh GROUP BY doc_id),
bands AS ({_MINHASH_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b
  FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
  WHERE ({_MINHASH_MATCHES}) / 16.0 >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
"""

# Quantized-embedding CTEs shared by the cosine queries. Integer dot
# products are exact in any summation order → cosine is bit-identical.
_QEMB_CTES = """
q AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
  FROM embeddings
),
n AS (
  SELECT vec_id, label, qv,
         list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])) AS nrm
  FROM q
)
""".strip()

ORACLE_SQL["dedup_embedding_cosine"] = f"""
WITH {_QEMB_CTES}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       list_dot_product(CAST(a.qv AS DOUBLE[]), CAST(b.qv AS DOUBLE[]))
         / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(CAST(a.qv AS DOUBLE[]), CAST(b.qv AS DOUBLE[]))
        / (sqrt(a.nrm) * sqrt(b.nrm)) >= 0.3
"""

# --- similarity search -------------------------------------------------------

# The ANN operators are APPROXIMATE relative to brute force but fully
# DETERMINISTIC in construction (LSH planes from a fixed LCG; IVF centroids
# = the first 8 corpus vectors), so their outputs admit exact oracles that
# replay the same bucketing/probing. The LCG is duplicated here to keep this
# module pyspark-free; a test pins it equal to similarity._lcg_plane_weights.
_LSH_NUM_PLANES = 5
_EMBED_DIM = 64


def _lcg_planes(num_planes: int = _LSH_NUM_PLANES, dim: int = _EMBED_DIM) -> list[list[int]]:
    planes = []
    state = 123456789
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (2**31)
            row.append(1 if (state >> 16) & 1 else -1)
        planes.append(row)
    return planes


_BUCKET_EXPR = " + ".join(
    f"(CASE WHEN list_dot_product(CAST(qv AS DOUBLE[]), "
    f"CAST({plane} AS DOUBLE[])) > 0 THEN {2**p} ELSE 0 END)"
    for p, plane in enumerate(_lcg_planes())
)

# Shared kNN-graph CTE chain (sign-LSH buckets → bucket-local candidate
# pairs → per-vector top-3 with the cosine DESC / neighbor ASC tie-break)
# — the SINGLE source for every oracle that consumes sim_knn_graph's edge
# list (sim_knn_graph itself, sim_ann_graph_search, embedding_dbscan_lite;
# r11 review: three inline copies could silently diverge). Assumes
# _QEMB_CTES precedes it in the same WITH list.
_KNN_CTES = f"""b AS (SELECT vec_id, qv, nrm, {_BUCKET_EXPR} AS bucket FROM n),
pairs AS (
  SELECT x.vec_id AS u, y.vec_id AS v,
         list_dot_product(CAST(x.qv AS DOUBLE[]), CAST(y.qv AS DOUBLE[]))
           / (sqrt(x.nrm) * sqrt(y.nrm)) AS cosine
  FROM b x JOIN b y USING (bucket)
  WHERE x.vec_id != y.vec_id
),
knn AS (
  SELECT u, v, cosine, CAST(rank AS BIGINT) AS rank
  FROM (SELECT *, row_number() OVER (PARTITION BY u
                                     ORDER BY cosine DESC, v ASC) AS rank
        FROM pairs)
  WHERE rank <= 3
)"""

ORACLE_SQL["sim_ann_lsh"] = f"""
WITH {_QEMB_CTES},
b AS (SELECT vec_id, label, qv, nrm, {_BUCKET_EXPR} AS bucket FROM n),
-- multi-probe: the query's own bucket plus the 5 buckets one sign-bit away
queries AS (
  SELECT query_id, qq, nq,
         CASE WHEN p = 0 THEN bucket ELSE xor(bucket, 1 << (p - 1)) END AS bucket
  FROM (SELECT vec_id AS query_id, qv AS qq, nrm AS nq, bucket
        FROM b WHERE vec_id < 5)
  CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS p)
),
scored AS (
  SELECT query_id, a.vec_id AS neighbor_id,
         list_dot_product(CAST(qq AS DOUBLE[]), CAST(a.qv AS DOUBLE[]))
           / (sqrt(nq) * sqrt(a.nrm)) AS cosine
  FROM b a JOIN queries USING (bucket)
  WHERE a.vec_id != query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= 10
"""

ORACLE_SQL["sim_topk_ivf"] = f"""
WITH {_QEMB_CTES},
cent AS (SELECT vec_id AS cell_id, qv AS cv, nrm AS cn FROM n WHERE vec_id < 8),
assign_scored AS (
  SELECT a.vec_id, a.qv, a.nrm, c.cell_id,
         list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(a.qv AS DOUBLE[]))
           / (sqrt(c.cn) * sqrt(a.nrm)) AS sim
  FROM n a CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, qv, nrm, cell_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, cell_id ASC) AS rn
        FROM assign_scored)
  WHERE rn = 1
),
probed AS (
  SELECT query_id, qq, nq, cell_id
  FROM (SELECT vec_id AS query_id, qv AS qq, nrm AS nq, cell_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell_id ASC) AS rn
        FROM assign_scored WHERE vec_id < 5)
  WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_dot_product(CAST(p.qq AS DOUBLE[]), CAST(a.qv AS DOUBLE[]))
           / (sqrt(p.nq) * sqrt(a.nrm)) AS cosine
  FROM assigned a JOIN probed p USING (cell_id)
  WHERE a.vec_id != p.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= 10
"""

ORACLE_SQL["sim_topk_cosine"] = f"""
WITH {_QEMB_CTES},
queries AS (SELECT vec_id AS query_id, qv AS qq, nrm AS nq FROM n WHERE vec_id < 5),
scored AS (
  SELECT query_id, a.vec_id AS neighbor_id,
         list_dot_product(CAST(qq AS DOUBLE[]), CAST(a.qv AS DOUBLE[]))
           / (sqrt(nq) * sqrt(a.nrm)) AS cosine
  FROM n a CROSS JOIN queries
  WHERE a.vec_id != query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= 10
"""

# --- text analysis -----------------------------------------------------------

ORACLE_SQL["text_stats"] = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha_tokens,
       CAST(length(replace(text, ' ', '')) AS DOUBLE)
         / len(string_split(text, ' ')) AS avg_token_len
FROM documents
"""

ORACLE_SQL["text_quality_score"] = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CAST(length(replace(text, ' ', '')) AS DOUBLE) AS nosp
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(list_filter(toks, x -> x IN ('a','the','of','and','in','to'))) AS DOUBLE)
           / len(toks) AS stopword_ratio,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
         nosp / len(toks) AS avg_token_len
  FROM t
)
SELECT doc_id, stopword_ratio, uniq_ratio, avg_token_len,
       0.5 * stopword_ratio + 0.25 * uniq_ratio
         + 0.25 * (least(avg_token_len, 8.0) / 8.0) AS quality_score
FROM m
"""

ORACLE_SQL["text_langid"] = """
WITH markers AS (
  SELECT * FROM (VALUES
    ('de', ['der','die','das','und','nicht']),
    ('en', ['the','a','of','and','to']),
    ('es', ['el','la','los','que','y']),
    ('fr', ['le','la','les','et','une']),
    ('zh', ['de','shi','bu','le','wo'])
  ) AS v(cand_lang, marker_list)
),
scored AS (
  SELECT doc_id, lang, cand_lang,
         len(list_filter(string_split(text, ' '),
                         x -> list_contains(marker_list, x))) AS score
  FROM documents CROSS JOIN markers
)
SELECT doc_id, cand_lang AS predicted_lang, lang AS labeled_lang,
       cand_lang = lang AS is_match
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, cand_lang ASC) AS rn
      FROM scored)
WHERE rn = 1
"""

ORACLE_SQL["text_fingerprint"] = f"""
WITH {_shingle_ctes(5)}
SELECT doc_id, MIN(md5(shingle)) AS fingerprint, COUNT(*) AS n_shingles
FROM sh GROUP BY doc_id
"""

ORACLE_SQL["text_repetition"] = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
b AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
  FROM t
)
SELECT doc_id,
       CAST(len(bigrams) AS BIGINT) AS n_bigrams,
       CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams,
       CASE WHEN len(bigrams) > 0
            THEN CAST(len(bigrams) - len(list_distinct(bigrams)) AS DOUBLE)
                 / len(bigrams)
            ELSE 0.0 END AS dup_bigram_frac
FROM b
"""

ORACLE_SQL["text_vocab_topk"] = """
WITH counts AS (
  SELECT token, COUNT(*) AS n_occurrences
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
  ORDER BY n_occurrences DESC, token ASC
  LIMIT 100
)
SELECT token, n_occurrences,
       row_number() OVER (ORDER BY n_occurrences DESC, token ASC) AS rank
FROM counts
"""

ORACLE_SQL["embedding_label_centroids"] = """
WITH q AS (
  SELECT label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000, 0) AS BIGINT) AS qx
  FROM embeddings
),
sums AS (
  SELECT label, pos, SUM(qx) AS s, COUNT(*) AS n
  FROM q GROUP BY label, pos
)
SELECT label, n AS n_vecs, CAST(pos AS BIGINT) AS dim,
       CAST(s AS DOUBLE) / (n * 1000.0) AS centroid_val
FROM sums
"""

ORACLE_SQL["text_unigram_loglik"] = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
lm AS (SELECT token, COUNT(*) AS n_tok FROM tok GROUP BY token),
total AS (SELECT SUM(n_tok) AS n_total FROM lm)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       round(CAST(SUM(CAST(round(ln(CAST(n_tok AS DOUBLE) / n_total), 9)
                          AS DECIMAL(28,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS avg_loglik
FROM tok JOIN lm USING (token) CROSS JOIN total
GROUP BY doc_id
"""

ORACLE_SQL["decontaminate_ngram_overlap"] = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 7),
                               i -> array_to_string(t[i:i+7], ' '))) AS shingle
  FROM toks WHERE len(t) >= 8
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
corpus AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
hits AS (
  SELECT doc_id, COUNT(*) AS n_overlap_ngrams
  FROM corpus SEMI JOIN bench USING (shingle)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_overlap_ngrams, 0) AS BIGINT) AS n_overlap_ngrams,
       COALESCE(h.n_overlap_ngrams, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
LEFT JOIN hits h USING (doc_id)
"""

ORACLE_SQL["text_token_count"] = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_digit_tokens,
       CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS n_punct_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+'))
            + len(regexp_extract_all(text, '[0-9]+'))
            + len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""

ORACLE_SQL["dedup_fingerprint"] = f"""
WITH {_shingle_ctes(5)},
fp AS (
  SELECT doc_id, MIN(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id
)
SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
FROM fp GROUP BY fingerprint HAVING COUNT(*) > 1
"""

# --- streaming ---------------------------------------------------------------

ORACLE_SQL["stream_tumbling_counts"] = """
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start_epoch,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""

# Gap sessionization with exact-microsecond arithmetic; a 30-minute silence
# (>= 1800s) closes the session — matches Spark session_window merge rules
# (windows are [start, last+gap), merged while next.ts < current end).
ORACLE_SQL["sessionize"] = """
WITH o AS (
  SELECT user_id, ts, value, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
m AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN prev IS NULL
                OR epoch_us(ts) - epoch_us(prev) >= 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM o
),
s AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM m
)
SELECT user_id,
       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM s
GROUP BY user_id, sid
"""

# Append-mode watermarked session windows over a BOUNDED stream are
# deterministic: the final no-data micro-batch advances the watermark to
# max(ts) − 10min and flushes every session whose end (last event + 30-min
# gap) has been passed — sessions with end == watermark ARE emitted
# (non-strict bound, pinned by the synthetic tie test in
# tests/test_streaming.py). The oracle is sessionize's gaps-and-islands SQL
# filtered by exactly that rule.
ORACLE_SQL["stream_session_counts"] = """
WITH o AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
m AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev IS NULL
                OR epoch_us(ts) - epoch_us(prev) >= 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM o
),
s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM m
),
sess AS (
  SELECT user_id,
         CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
         COUNT(*) AS n_events,
         epoch_us(MAX(ts)) + 1800000000 AS end_us
  FROM s
  GROUP BY user_id, sid
),
-- Spark's watermark machinery tracks max event time in MILLISECONDS
-- (EventTimeStatsAccum), so the watermark is ms-truncated before the
-- 10-minute delay subtracts — replay exactly that, not the raw-us max
-- (code-review r8 finding: fixtures carry sub-ms components, so the two
-- rules differ by up to 999us and only fixture luck kept them agreeing).
wm AS (SELECT (MAX(epoch_us(ts)) // 1000) * 1000 - 600000000 AS wm_us
       FROM events)
SELECT user_id, session_start_epoch, n_events
FROM sess, wm
WHERE end_us <= wm_us
"""

# The stateful operator's final emissions must equal the batch group-by;
# cents arithmetic is exact on both sides.
ORACLE_SQL["stream_user_totals"] = """
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DOUBLE)
         / 100.0 AS total_value
FROM events
GROUP BY user_id
"""

# --- multimodal --------------------------------------------------------------

ORACLE_SQL["mm_metadata"] = """
WITH payload AS (
  SELECT doc_id, encode(text) AS content FROM documents
),
m AS (
  SELECT doc_id,
         CAST(octet_length(content) AS BIGINT) AS n_bytes,
         substr(lower(hex(content)), 1, 8) AS magic_hex
  FROM payload
)
SELECT doc_id, n_bytes, magic_hex,
       CASE WHEN magic_hex LIKE 'ffd8%' THEN 'jpeg'
            WHEN magic_hex = '89504e47' THEN 'png'
            WHEN magic_hex LIKE '47494638%' THEN 'gif'
            ELSE 'other' END AS kind
FROM m
"""

# Byte semantics via per-CHARACTER ord(): exact because the documents
# fixture is pure ASCII at every SF (verified: octet_length(encode(text)) ==
# length(text) for all rows) — on non-ASCII corpora this oracle would need a
# BLOB byte-iterator instead. Entropy rounds to 6dp on BOTH sides, far above
# double summation-order noise over <=16 bins. Long form (doc_id, bin,
# bin_count, entropy): scalar columns only, so any canonicalizer can sort
# and hash it.
ORACLE_SQL["mm_byte_histogram"] = """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
counts AS (
  SELECT doc_id, ord(ch) >> 4 AS bin, count(*) AS c
  FROM chars GROUP BY doc_id, bin
),
tot AS (SELECT doc_id, length(text) AS n FROM documents),
grid AS (
  SELECT d.doc_id, g.bin, COALESCE(c.c, 0) AS c
  FROM (SELECT doc_id FROM documents) d
  CROSS JOIN (SELECT unnest(range(16)) AS bin) g
  LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.bin = g.bin
),
ent AS (
  SELECT c.doc_id,
         round(-sum((CAST(c.c AS DOUBLE) / t.n) * log2(CAST(c.c AS DOUBLE) / t.n)), 6)
           AS entropy
  FROM counts c JOIN tot t USING (doc_id)
  GROUP BY c.doc_id
)
SELECT g.doc_id,
       CAST(g.bin AS BIGINT) AS bin,
       CAST(g.c AS BIGINT) AS bin_count,
       e.entropy
FROM grid g JOIN ent e USING (doc_id)
"""

ORACLE_SQL["scan_extension_filter"] = """
WITH with_path AS (
  SELECT doc_id,
         source || '/doc_' || doc_id ||
         (['.jpg','.JPEG','.png','.webp','.bmp','.GIF','.txt','.mp4'])[CAST(doc_id % 8 + 1 AS INTEGER)]
           AS path
  FROM documents
)
SELECT doc_id, path
FROM with_path
WHERE lower(regexp_extract(path, '\\.([^.]*)$', 1))
      IN ('jpg','jpeg','png','webp','bmp','gif')
"""

# --- relational breadth (round-1 widening) ----------------------------------

# Predicate lives in the join's ON clause: zero-order customers must survive.
ORACLE_SQL["q13_customer_distribution"] = """
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count
"""

ORACLE_SQL["q18_large_orders"] = """
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS _sq
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       CAST(o.o_orderdate AS DATE) AS o_orderdate, o.o_totalprice,
       CAST(b._sq AS DOUBLE) AS sum_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""

ORACLE_SQL["window_frames"] = """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(CAST(o_totalprice AS DECIMAL(12,2))
            - lag(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER w AS DOUBLE)
         AS delta_prev,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w3 AS DOUBLE)
         AS moving_sum3,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w3 AS DOUBLE)
         / COUNT(*) OVER w3 AS moving_avg3,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM orders
WINDOW w  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""

ORACLE_SQL["grouping_sets_agg"] = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
         AS grp_id,
       count(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""

ORACLE_SQL["range_join_events"] = """
WITH p AS (SELECT event_id, user_id, ts AS pts FROM events
           WHERE event_type = 'purchase'),
     c AS (SELECT user_id AS c_user, ts AS cts, value AS cval FROM events
           WHERE event_type = 'click')
SELECT p.event_id, p.user_id,
       count(c.cts) AS n_prior_clicks,
       CAST(SUM(CAST(c.cval AS DECIMAL(12,2))) AS DOUBLE) AS click_value
FROM p LEFT JOIN c
  ON p.user_id = c.c_user
 AND c.cts >= p.pts - INTERVAL 30 MINUTE
 AND c.cts < p.pts
GROUP BY p.event_id, p.user_id
"""

# Deterministic fake "frame decode": fixed-width char slices — DuckDB
# reproduces the Python slicing with substring arithmetic, so this
# mapInPandas operator still carries a full value oracle.
ORACLE_SQL["mm_frame_sample"] = """
WITH framed AS (
  SELECT doc_id, text,
         (length(text) + 63) // 64 AS n_frames,
         unnest(range(0, (length(text) + 63) // 64, 4)) AS frame_idx
  FROM documents
)
SELECT doc_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       md5(substring(text, CAST(frame_idx AS INTEGER) * 64 + 1, 64)) AS frame_md5,
       CAST(n_frames AS BIGINT) AS n_frames
FROM framed
"""

# The stream doubles every event (union with itself) before deduplicating on
# event_id — so COUNT(DISTINCT event_id) is the oracle; a dedup regression
# would double every count.
ORACLE_SQL["stream_dedup_counts"] = """
SELECT event_type, count(DISTINCT event_id) AS n
FROM events
GROUP BY event_type
"""

# --- TPC-H shapes q4/q6/q7/q10/q14/q17/q22 (fixture-adapted) ----------------
# Same determinism discipline as q1-q18: money in exact DECIMAL, one final
# cast to DOUBLE; quantity-vs-average comparisons rewritten in exact integer
# form; year()/month() cast to INTEGER to match Spark's int.

ORACLE_SQL["q4_order_priority"] = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""

ORACLE_SQL["q6_forecast_revenue"] = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.02 AND l_discount <= 0.04
  AND l_quantity < 24
"""

ORACLE_SQL["q7_volume_shipping"] = f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS ship_year,
       CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE ns.n_name IN ('NATION_1','NATION_2')
  AND nc.n_name IN ('NATION_1','NATION_2')
  AND ns.n_name <> nc.n_name
GROUP BY ns.n_name, nc.n_name, CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER)
"""

ORACLE_SQL["q10_returned_items"] = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

ORACLE_SQL["q14_promo_revenue"] = f"""
SELECT CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER) AS ship_month,
       100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_DISC_PRICE}
                             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             / CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS promo_pct,
       CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS total_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER)
"""

ORACLE_SQL["q17_small_quantity"] = """
WITH branded AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#1'
),
per_part AS (
  SELECT l_partkey AS pk,
         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
         COUNT(*) AS n_lines
  FROM branded GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
       COUNT(*) AS n_small_lines
FROM branded JOIN per_part ON l_partkey = pk
WHERE CAST(5 AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) * n_lines < sum_qty
"""

ORACLE_SQL["q22_idle_customers"] = """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, COUNT(*) AS n_custs,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
GROUP BY c_nationkey
"""

# --- TPC-H shapes q2/q8/q9/q11/q12/q15/q16/q19/q20/q21 (fixture-adapted:
# no partsupp table, no shipmode/commit/receipt dates — see the operator
# docstrings for the mapping; the physical shapes are preserved).

ORACLE_SQL["q2_min_cost_supplier"] = """
WITH offers AS (
  SELECT l_partkey, l_suppkey, MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size <= 15 AND p_type = 'SMALL'
  GROUP BY l_partkey, l_suppkey
)
SELECT l_partkey AS p_partkey, l_suppkey AS s_suppkey,
       CAST(cost AS DOUBLE) AS min_cost, s_name, n_name
FROM offers o
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE cost = (SELECT MIN(cost) FROM offers o2 WHERE o2.l_partkey = o.l_partkey)
"""

ORACLE_SQL["q8_market_share"] = f"""
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
       CAST(SUM(CASE WHEN ns.n_name = 'NATION_1' THEN {_DISC_PRICE}
                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         / CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS mkt_share,
       CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS region_revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region ON nc.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
GROUP BY CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER)
"""

ORACLE_SQL["q9_product_profit"] = f"""
SELECT n_name AS nation,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
       CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS profit,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER)
"""

ORACLE_SQL["q12_late_priority"] = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
         AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_linestatus
"""

ORACLE_SQL["q15_top_supplier"] = f"""
WITH rev AS (
  SELECT l_suppkey, SUM({_DISC_PRICE}) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT l_suppkey AS s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""

ORACLE_SQL["q16_supplier_counts"] = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1,4,9,16,25,36,49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p_brand, p_type, p_size
"""

ORACLE_SQL["q19_disjunctive_revenue"] = f"""
SELECT CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 20 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 21 AND 30 AND l_quantity BETWEEN 20 AND 30)
"""

ORACLE_SQL["q20_bulk_suppliers"] = """
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_nationkey % 2 = 0
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'red%'
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 50)
"""

ORACLE_SQL["q21_waiting_suppliers"] = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND n_name = 'NATION_1'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
"""

ORACLE_SQL["q11_important_parts"] = f"""
WITH pp AS (
  SELECT l_partkey, SUM({_DISC_PRICE}) AS v
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT SUM(v) AS t, COUNT(*) AS np FROM pp)
SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
FROM pp, tot
WHERE CAST(v AS DOUBLE) > 1.2 * CAST(t AS DOUBLE) / np
"""

# --- corpus curation (operators/curation.py) ---------------------------------

# Mirrors curation._with_synthetic_pii: fixture text carries no PII, so both
# engines append the same deterministic email+phone before detect/redact.
_PII_FULL_TEXT = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail-' || lang"
    " || '.example or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)
_PII_EMAIL_RE = r"[a-z0-9._]+@[a-z0-9-]+\.[a-z]+"
_PII_PHONE_RE = r"555-[0-9]{4}"

ORACLE_SQL["text_pii_scrub"] = f"""
WITH pii AS (SELECT doc_id, {_PII_FULL_TEXT} AS full_text FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(full_text, '{_PII_EMAIL_RE}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(full_text, '{_PII_PHONE_RE}')) AS BIGINT)
         AS n_phones,
       regexp_replace(regexp_replace(full_text, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PII_PHONE_RE}', '<PHONE>', 'g') AS redacted_text
FROM pii
"""

# Gopher-style gates, exact-integer comparisons only (mirrors
# curation.text_gopher_flags; thresholds 50..100000 tokens, 3..10 mean
# chars/word, >=2 distinct stopwords, dup-bigram fraction <= 1/5).
ORACLE_SQL["text_gopher_flags"] = """
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
),
b AS (
  SELECT doc_id, text, toks,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1]) AS bigrams
  FROM t
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(replace(text, ' ', '')) AS BIGINT) AS nospace_len,
         CAST(len(list_intersect(list_distinct(toks),
                                 ['a','the','of','and','in','to'])) AS BIGINT)
           AS n_stop,
         CAST(len(bigrams) AS BIGINT) AS n_bi,
         CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_bi_distinct
  FROM b
)
SELECT doc_id, n_tokens,
       n_tokens < 50 AS flag_too_short,
       n_tokens > 100000 AS flag_too_long,
       (nospace_len < 3 * n_tokens OR nospace_len > 10 * n_tokens)
         AS flag_word_len,
       n_stop < 2 AS flag_low_stopword,
       5 * (n_bi - n_bi_distinct) > n_bi AS flag_repetition,
       NOT (n_tokens < 50 OR n_tokens > 100000
            OR nospace_len < 3 * n_tokens OR nospace_len > 10 * n_tokens
            OR n_stop < 2
            OR 5 * (n_bi - n_bi_distinct) > n_bi) AS keep
FROM m
"""

ORACLE_SQL["corpus_split_assign"] = """
WITH h AS (
  SELECT doc_id, lang, source,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
           AS bucket
  FROM documents
)
SELECT doc_id, lang, source, bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM h
"""

ORACLE_SQL["corpus_source_mix"] = """
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(sum_tokens) AS BIGINT) AS total_tokens FROM per_source)
SELECT source, n_docs, sum_chars, sum_tokens,
       CAST(sum_tokens AS DOUBLE) / total_tokens AS token_share
FROM per_source CROSS JOIN tot
"""

# --- line-oriented source roundtrips (sources/textfiles.py) ------------------

# The Spark side writes the documents fixture to JSONL/CSV and reads it back
# through an explicit schema; the oracle computes the SAME fidelity aggregate
# straight from the parquet fixture — a checksum mismatch means the format
# encode/decode corrupted data.
_ROUNDTRIP_AGG_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
         AS text_checksum,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM documents GROUP BY lang
"""

ORACLE_SQL["source_jsonl_roundtrip"] = _ROUNDTRIP_AGG_SQL
ORACLE_SQL["source_csv_roundtrip"] = _ROUNDTRIP_AGG_SQL

# Final emission of the stateful event-mix stream == batch distinct/total
# counts per user (bounded source ⇒ the state fixpoint is the batch agg).
ORACLE_SQL["stream_user_event_mix"] = """
SELECT user_id,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types,
       COUNT(*) AS n_events
FROM events GROUP BY user_id
"""

# --- storage layout / embedding QA / CDC -------------------------------------

# Pruned partitioned read == unpartitioned aggregate over the same 3 days.
ORACLE_SQL["layout_partition_prune"] = """
SELECT CAST(ts AS DATE) AS event_date, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
GROUP BY 1, 2
"""

# Mean/variance from exact integer sums: var = (n*Σx² − (Σx)²)/(n²·1000²),
# divided once in double with the identical expression as the Spark side.
ORACLE_SQL["embedding_dim_stats"] = """
WITH q AS (
  SELECT generate_subscripts(embedding, 1) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000, 0) AS BIGINT) AS qx
  FROM embeddings
),
a AS (
  SELECT dim, COUNT(*) AS n_vecs,
         CAST(SUM(qx) AS BIGINT) AS s,
         CAST(SUM(qx * qx) AS BIGINT) AS ss
  FROM q GROUP BY dim
)
SELECT CAST(dim AS BIGINT) AS dim, n_vecs,
       CAST(s AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * 1000.0) AS mean,
       CAST(n_vecs * ss - s * s AS DOUBLE)
         / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs AS DOUBLE) * 1000000.0) AS variance
FROM a
"""

# Mirrors curation._cdc_changes (doc_id % 10: 0=update, 3=delete, 7=insert
# source) applied through one full-outer merge.
ORACLE_SQL["cdc_merge_documents"] = """
WITH d AS (SELECT doc_id, text FROM documents),
ch AS (
  SELECT doc_id, text || ' v2' AS new_text, 'update' AS op
  FROM d WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id, CAST(NULL AS VARCHAR), 'delete' FROM d WHERE doc_id % 10 = 3
  UNION ALL
  SELECT doc_id + 1000000, 'new ' || text, 'insert' FROM d WHERE doc_id % 10 = 7
)
SELECT COALESCE(d.doc_id, ch.doc_id) AS doc_id,
       COALESCE(op, 'keep') AS op,
       md5(COALESCE(new_text, text)) AS content_hash,
       CAST(len(COALESCE(new_text, text)) AS BIGINT) AS n_chars
FROM d FULL JOIN ch ON d.doc_id = ch.doc_id
WHERE op IS NULL OR op <> 'delete'
"""

# Deterministic Lloyd's k-means replayed exactly: k derived from the corpus
# count with the same formula as similarity.derive_kmeans_k
# (max(8, ceil(n/2000)) — constants pinned in test_llm_ops), init = k lowest
# vec_ids, integer squared distances, (d2, cluster_id) argmin tie-break,
# centroids refreshed as round-half-away-from-zero of the IEEE double s/n.
# Mirrors similarity.embedding_kmeans (2 refinement iterations + final
# assign). Shared WITH body: dedup_semantic reuses the whole chain.
_KMEANS_CTES = """q AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) AS pos,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000, 0) AS BIGINT) AS qx
  FROM embeddings
),
kk AS (
  SELECT greatest(8, CAST(ceil(COUNT(*) / 2000.0) AS BIGINT)) AS k
  FROM embeddings
),
sel AS (
  SELECT vec_id, cluster_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id
    FROM embeddings
  ) t, kk WHERE t.cluster_id < kk.k
),
c0 AS (
  SELECT s.cluster_id, q.pos, q.qx AS cx FROM sel s JOIN q USING (vec_id)
),
d1 AS (
  SELECT q.vec_id, c.cluster_id, CAST(SUM((q.qx - c.cx) * (q.qx - c.cx)) AS BIGINT) AS d2
  FROM q JOIN c0 c ON q.pos = c.pos GROUP BY 1, 2
),
a1 AS (
  SELECT vec_id, cluster_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn
    FROM d1
  ) WHERE rn = 1
),
c1 AS (
  SELECT a.cluster_id, q.pos,
         CAST(round(CAST(SUM(q.qx) AS DOUBLE) / COUNT(*), 0) AS BIGINT) AS cx
  FROM a1 a JOIN q USING (vec_id) GROUP BY 1, 2
),
d2_ AS (
  SELECT q.vec_id, c.cluster_id, CAST(SUM((q.qx - c.cx) * (q.qx - c.cx)) AS BIGINT) AS d2
  FROM q JOIN c1 c ON q.pos = c.pos GROUP BY 1, 2
),
a2 AS (
  SELECT vec_id, cluster_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn
    FROM d2_
  ) WHERE rn = 1
),
c2 AS (
  SELECT a.cluster_id, q.pos,
         CAST(round(CAST(SUM(q.qx) AS DOUBLE) / COUNT(*), 0) AS BIGINT) AS cx
  FROM a2 a JOIN q USING (vec_id) GROUP BY 1, 2
),
d3 AS (
  SELECT q.vec_id, c.cluster_id, CAST(SUM((q.qx - c.cx) * (q.qx - c.cx)) AS BIGINT) AS d2
  FROM q JOIN c2 c ON q.pos = c.pos GROUP BY 1, 2
),
a3 AS (
  SELECT vec_id, cluster_id, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn
    FROM d3
  ) WHERE rn = 1
)"""

ORACLE_SQL["embedding_kmeans"] = f"""
WITH {_KMEANS_CTES}
SELECT vec_id, cluster_id, d2 FROM a3
"""

# SemDeDup: near-dup pairs only within each final k-means cluster; cosine
# from exact integer dot products, identical expression order to Spark.
ORACLE_SQL["dedup_semantic"] = f"""
WITH {_KMEANS_CTES},
m AS (SELECT vec_id, cluster_id FROM a3),
j AS (
  SELECT x.cluster_id, x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM m x JOIN m y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
),
dots AS (
  SELECT j.cluster_id, j.vec_a, j.vec_b, CAST(SUM(qa.qx * qb.qx) AS BIGINT) AS dot
  FROM j
  JOIN q qa ON qa.vec_id = j.vec_a
  JOIN q qb ON qb.vec_id = j.vec_b AND qa.pos = qb.pos
  GROUP BY 1, 2, 3
),
nrm AS (SELECT vec_id, CAST(SUM(qx * qx) AS BIGINT) AS nrm FROM q GROUP BY 1)
SELECT * FROM (
  SELECT dots.cluster_id, vec_a, vec_b,
         CAST(dot AS DOUBLE)
           / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cosine
  FROM dots
  JOIN nrm na ON vec_a = na.vec_id
  JOIN nrm nb ON vec_b = nb.vec_id
)
WHERE cosine >= 0.3
"""

# --- r3 additions: stream-stream join, bucketed layout, packing, ORC ---------

# Every (click, purchase) pair for the same user with the click in the hour
# before the purchase — the batch interval join the streaming inner join
# must reproduce exactly on a bounded source.
ORACLE_SQL["stream_stream_join"] = """
WITH c AS (SELECT user_id AS c_user, ts AS click_ts, event_id AS click_id
           FROM events WHERE event_type = 'click'),
     p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
           FROM events WHERE event_type = 'purchase')
SELECT p.user_id, p.purchase_id, c.click_id,
       CAST(floor(epoch(p.purchase_ts)) AS BIGINT) AS purchase_epoch,
       CAST(floor(epoch(c.click_ts)) AS BIGINT) AS click_epoch
FROM c JOIN p
  ON c.c_user = p.user_id
 AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
 AND c.click_ts < p.purchase_ts
"""

# Plain join over the unbucketed fixtures == the bucket-to-bucket join of
# the staged tables (a misrouted/dropped/doubled bucket row breaks this).
ORACLE_SQL["layout_bucketed_join"] = f"""
SELECT o_orderpriority, COUNT(*) AS n_items,
       CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""

# Same running-sum packing arithmetic, exact integers end to end.
ORACLE_SQL["corpus_pack_sequences"] = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM t
)
SELECT source,
       CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS window_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM c GROUP BY 1, 2
"""

ORACLE_SQL["source_orc_roundtrip"] = _ROUNDTRIP_AGG_SQL

# Each event expands to its 4 epoch-aligned sliding-window starts (integer
# second arithmetic — no timezone in play).
ORACLE_SQL["stream_sliding_counts"] = """
WITH g AS (
  SELECT event_type, value,
         unnest(generate_series(
           CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - 2700,
           CAST(floor(epoch(ts) / 900) AS BIGINT) * 900,
           900)) AS window_start_epoch
  FROM events
)
SELECT window_start_epoch, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM g GROUP BY 1, 2
"""

# Fragment -> coalesce-compact -> read-back must preserve every row.
ORACLE_SQL["layout_compact_small_files"] = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id
FROM events GROUP BY event_type
"""

# End-to-end curation pipeline: the same CTE chain as the composed Spark
# plan — Gopher gate, synthetic-PII scrub, exact content-hash dedup
# (row_number survivor), md5 split buckets, per-(split, source) report.
ORACLE_SQL["curation_pipeline_report"] = f"""
WITH t AS (
  SELECT doc_id, text, lang, source, string_split(text, ' ') AS toks
  FROM documents
),
b AS (
  SELECT doc_id, text, lang, source, toks,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1]) AS bigrams
  FROM t
),
m AS (
  SELECT doc_id, text, lang, source,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(replace(text, ' ', '')) AS BIGINT) AS nospace_len,
         CAST(len(list_intersect(list_distinct(toks),
                                 ['a','the','of','and','in','to'])) AS BIGINT)
           AS n_stop,
         CAST(len(bigrams) AS BIGINT) AS n_bi,
         CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_bi_distinct
  FROM b
),
kept AS (
  SELECT doc_id, text, lang, source, n_tokens FROM m
  WHERE NOT (n_tokens < 50 OR n_tokens > 100000
             OR nospace_len < 3 * n_tokens OR nospace_len > 10 * n_tokens
             OR n_stop < 2
             OR 5 * (n_bi - n_bi_distinct) > n_bi)
),
pii AS (
  SELECT doc_id, source, n_tokens, {_PII_FULL_TEXT} AS full_text FROM kept
),
scrubbed AS (
  SELECT doc_id, source, n_tokens,
         CAST(len(regexp_extract_all(full_text, '{_PII_EMAIL_RE}'))
              + len(regexp_extract_all(full_text, '{_PII_PHONE_RE}'))
           AS BIGINT) AS n_redactions,
         md5(regexp_replace(
               regexp_replace(full_text, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PII_PHONE_RE}', '<PHONE>', 'g')) AS content_hash
  FROM pii
),
ded AS (
  SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
  FROM scrubbed
),
sp AS (
  SELECT doc_id, source, n_tokens, n_redactions,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
           AS bucket
  FROM ded WHERE rn = 1
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(SUM(n_redactions) AS BIGINT) AS sum_redactions,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM sp GROUP BY 1, 2
"""

# The checkpointed file sink must persist exactly the source rows.
ORACLE_SQL["stream_sink_parquet"] = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum,
       MIN(user_id) AS min_user_id,
       MAX(user_id) AS max_user_id
FROM events GROUP BY event_type
"""

# The range-sorted rewrite must preserve every row in the probed range.
ORACLE_SQL["layout_sorted_skipping"] = """
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM events
WHERE user_id BETWEEN 10 AND 20
GROUP BY user_id
"""

# One row per data-quality check; FK rows count anti-join survivors.
ORACLE_SQL["dq_checks_report"] = """
SELECT 'orders_pk_unique' AS check_name,
       COUNT(*) AS n_checked,
       COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_violations
FROM orders
UNION ALL
SELECT 'orders_totalprice_positive', COUNT(*),
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders_custkey_nonnull', COUNT(*),
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem_discount_range', COUNT(*),
       CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
         AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_quantity_positive', COUNT(*),
       CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'documents_text_nonempty', COUNT(*),
       CAST(SUM(CASE WHEN text IS NULL OR len(text) = 0 THEN 1 ELSE 0 END)
         AS BIGINT)
FROM documents
UNION ALL
SELECT 'orders_custkey_fk', COUNT(*), COUNT(*)
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL
SELECT 'lineitem_orderkey_fk', COUNT(*), COUNT(*)
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
"""

# Replays the generation split: even doc_ids lack source/n_chars.
ORACLE_SQL["source_schema_evolution"] = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing_source,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS sum_chars_new,
       CAST(SUM(len(text)) AS BIGINT) AS sum_text_len
FROM documents GROUP BY lang
"""

# Same trunc-division chunk count and 1-based slices; both engines clamp
# the final partial chunk the same way.
ORACLE_SQL["text_chunk_windows"] = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
  FROM documents
),
c AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, greatest(0, (n_toks - 9) // 8)))
           AS chunk_idx
  FROM t
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(toks[(chunk_idx*8 + 1):(chunk_idx*8 + 16)]) AS BIGINT)
         AS chunk_len,
       array_to_string(toks[(chunk_idx*8 + 1):(chunk_idx*8 + 16)], ' ')
         AS chunk_text
FROM c
"""


# DuckDB runs the identical LATERAL text.
ORACLE_SQL["lateral_top_customers"] = """
SELECT n.n_name AS nation, t.c_name AS customer, t.c_acctbal AS acctbal
FROM nation n,
LATERAL (
  SELECT c_name, c_acctbal
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey ASC
  LIMIT 3
) t
"""

# Same salted hash buckets and tier thresholds, exact integers throughout.
ORACLE_SQL["corpus_mixture_sample"] = """
WITH d AS (
  SELECT source,
         [10000, 5000, 2500, 1250]
           [(COALESCE(TRY_CAST(substr(source, 4) AS INT), 0) % 4) + 1] AS rate_bp,
         CAST('0x' || substr(md5('mix-' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 10000 AS bucket,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT source, CAST(rate_bp AS BIGINT) AS rate_bp, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN bucket < rate_bp THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN bucket < rate_bp THEN n_tokens ELSE 0 END) AS BIGINT)
         AS kept_tokens
FROM d GROUP BY 1, 2
"""

# 3 malformed + 1 type-mismatched line injected as constants; the good
# side recomputes from the fixture (mirrors the injected list in
# textfiles.source_jsonl_corrupt_quarantine).
ORACLE_SQL["source_jsonl_corrupt_quarantine"] = """
SELECT COUNT(*) + 4 AS n_rows,
       CAST(4 AS BIGINT) AS n_damaged,
       CAST(3 AS BIGINT) AS n_fully_null,
       COUNT(*) AS n_good,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars_good,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents
"""

# Recall@k of each ANN path vs the exact top-k, composed from the three
# deterministic result-set oracles above (nested WITHs are parenthesized).
ORACLE_SQL["ann_recall_report"] = f"""
WITH exact_r AS ({ORACLE_SQL["sim_topk_cosine"]}),
     lsh_r AS ({ORACLE_SQL["sim_ann_lsh"]}),
     ivf_r AS ({ORACLE_SQL["sim_topk_ivf"]})
SELECT 'lsh' AS method,
       CAST(COUNT(DISTINCT e.query_id) AS BIGINT) AS n_queries,
       COUNT(*) AS n_exact,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS recall
FROM exact_r e LEFT JOIN lsh_r a USING (query_id, neighbor_id)
UNION ALL
SELECT 'ivf',
       CAST(COUNT(DISTINCT e.query_id) AS BIGINT),
       COUNT(*),
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*)
FROM exact_r e LEFT JOIN ivf_r a USING (query_id, neighbor_id)
"""

# Replays the synthetic re-upload (doc_id % 5 == 0 re-enters at id + 1e6)
# and digests the same UTF-8 bytes.
ORACLE_SQL["mm_payload_dedup"] = """
WITH e AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
)
SELECT md5(text) AS payload_md5, COUNT(*) AS n_copies,
       MIN(doc_id) AS canonical_doc_id, MAX(doc_id) AS latest_doc_id
FROM e GROUP BY 1
"""

# The two incremental runs merged must equal the one-shot recompute.
ORACLE_SQL["incremental_daily_agg"] = """
SELECT CAST(ts AS DATE) AS event_date, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""

# Stream-static enrichment == batch join to the same derived dim.
# The demo dim is sized from max(user_id), so the inner join keeps every
# event with a non-negative user_id — no hidden coverage filter to mirror.
ORACLE_SQL["stream_enrich_static"] = """
SELECT 'tier' || CAST(user_id % 5 AS VARCHAR) AS tier, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
WHERE user_id >= 0
GROUP BY 1
"""

# Transitive closure over the semantic pairs; representative = min id.
ORACLE_SQL["dedup_semantic_keep"] = f"""
WITH RECURSIVE sem_pairs AS ({ORACLE_SQL["dedup_semantic"]}),
sem_edges AS (
  SELECT vec_a AS a, vec_b AS b FROM sem_pairs
  UNION
  SELECT vec_b AS a, vec_a AS b FROM sem_pairs
),
sem_reach(a, b) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.a, e.b FROM sem_reach r JOIN sem_edges e ON r.b = e.a
)
SELECT a AS vec_id, MIN(b) AS dup_group, a = MIN(b) AS keep
FROM sem_reach GROUP BY a
"""

# Text gates AND semantic dedup combined; unembedded docs keep by default.
ORACLE_SQL["crossmodal_curation_verdict"] = f"""
WITH t AS (
  SELECT doc_id, text, lang, string_split(text, ' ') AS toks FROM documents
),
b AS (
  SELECT doc_id, text, lang, toks,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1]) AS bigrams
  FROM t
),
m AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(replace(text, ' ', '')) AS BIGINT) AS nospace_len,
         CAST(len(list_intersect(list_distinct(toks),
                                 ['a','the','of','and','in','to'])) AS BIGINT)
           AS n_stop,
         CAST(len(bigrams) AS BIGINT) AS n_bi,
         CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_bi_distinct
  FROM b
),
txt AS (
  SELECT doc_id, lang,
         NOT (n_tokens < 50 OR n_tokens > 100000
              OR nospace_len < 3 * n_tokens OR nospace_len > 10 * n_tokens
              OR n_stop < 2
              OR 5 * (n_bi - n_bi_distinct) > n_bi) AS text_keep
  FROM m
),
sk AS ({ORACLE_SQL["dedup_semantic_keep"]}),
j AS (
  SELECT txt.doc_id, txt.lang, txt.text_keep,
         COALESCE(sk.keep, TRUE) AS sem_keep
  FROM txt LEFT JOIN sk ON txt.doc_id = sk.vec_id
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN NOT text_keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_text_reject,
       CAST(SUM(CASE WHEN text_keep AND NOT sem_keep THEN 1 ELSE 0 END)
            AS BIGINT) AS n_sem_reject,
       CAST(SUM(CASE WHEN text_keep AND sem_keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keep
FROM j GROUP BY lang
"""

# Same sorted array, same HOF chain via DuckDB's list_* functions.
ORACLE_SQL["array_functions"] = """
WITH g AS (
  SELECT l_orderkey,
         list_sort(list(CAST(l_quantity AS BIGINT))) AS qtys
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(len(qtys) AS BIGINT) AS n_items,
       CAST(list_aggregate(qtys, 'sum') AS BIGINT) AS total_qty,
       CAST(len(list_filter(qtys, x -> x > 25)) AS BIGINT) AS n_big_items,
       qtys[-1] - qtys[1] AS qty_spread,
       CAST(coalesce(list_aggregate(qtys[1:3], 'sum'), 0) AS BIGINT)
         AS first3_sum,
       list_transform(qtys, x -> x * 2)[-1] AS doubled_max,
       CAST(len(list_distinct(qtys)) AS BIGINT) AS n_distinct_qty
FROM g
"""

# DuckDB MAP extraction yields a single-element list -> unwrap with [1].
ORACLE_SQL["map_functions"] = """
WITH g AS (
  SELECT l_orderkey,
         map(CAST(generate_series(1, len(entries)) AS BIGINT[]),
             list_transform(entries, e -> e.v)) AS m
  FROM (SELECT l_orderkey,
               list_sort(list({'k': CAST(l_linenumber AS BIGINT),
                               'v': CAST(l_quantity AS BIGINT)})) AS entries
        FROM lineitem GROUP BY l_orderkey)
)
SELECT l_orderkey,
       CAST(cardinality(m) AS BIGINT) AS n_keys,
       m[1][1] AS first_qty,
       list_max(map_keys(m)) AS max_key,
       CAST(len(list_filter(map_values(m), x -> x > 25)) AS BIGINT)
         AS n_big_vals,
       CAST(list_aggregate(map_values(m), 'sum') AS BIGINT) AS vals_sum
FROM g
"""


# Same distinct-basket pair counts, same unique ordering.
ORACLE_SQL["part_cooccurrence"] = """
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       COUNT(*) AS n_orders
FROM basket a JOIN basket b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING COUNT(*) >= 2
ORDER BY n_orders DESC, part_a ASC, part_b ASC
LIMIT 100
"""

# Same two-level shape; growth = rev / lag(rev) - 1 in double, once.
ORACLE_SQL["yoy_revenue_growth"] = """
WITH yearly AS (
  SELECT o_orderpriority,
         CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
         SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, yr, CAST(rev AS DOUBLE) AS revenue, n_orders,
       CAST(rev AS DOUBLE)
         / CAST(lag(rev) OVER (PARTITION BY o_orderpriority ORDER BY yr)
                AS DOUBLE) - 1.0 AS yoy_growth
FROM yearly
"""

# Same exact counts; lift divides once in double, same unique ordering.
ORACLE_SQL["part_affinity_lift"] = """
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM basket),
marg AS (SELECT l_partkey, COUNT(*) AS n_part FROM basket GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT part_a, part_b, n_ab, ma.n_part AS n_a, mb.n_part AS n_b,
       (CAST(n_ab AS DOUBLE) * n_baskets)
         / (CAST(ma.n_part AS DOUBLE) * mb.n_part) AS lift
FROM pairs
JOIN marg ma ON ma.l_partkey = part_a
JOIN marg mb ON mb.l_partkey = part_b
CROSS JOIN tot
ORDER BY lift DESC, part_a ASC, part_b ASC
LIMIT 100
"""

# Exact integer day diffs; p90 = exact interpolated percentile.
ORACLE_SQL["order_lead_times"] = """
WITH j AS (
  SELECT o_orderpriority,
         CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS BIGINT)
           AS lead_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority, COUNT(*) AS n_lines,
       MIN(lead_days) AS min_days, MAX(lead_days) AS max_days,
       CAST(SUM(lead_days) AS DOUBLE) / COUNT(*) AS avg_days,
       quantile_cont(lead_days, 0.9) AS p90_days
FROM j GROUP BY o_orderpriority
"""

# Confusion matrix over the replayed langid prediction.
ORACLE_SQL["langid_confusion_matrix"] = """
WITH pred AS (
WITH markers AS (
  SELECT * FROM (VALUES
    ('de', ['der','die','das','und','nicht']),
    ('en', ['the','a','of','and','to']),
    ('es', ['el','la','los','que','y']),
    ('fr', ['le','la','les','et','une']),
    ('zh', ['de','shi','bu','le','wo'])
  ) AS v(cand_lang, marker_list)
),
scored AS (
  SELECT doc_id, lang, cand_lang,
         len(list_filter(string_split(text, ' '),
                         x -> list_contains(marker_list, x))) AS score
  FROM documents CROSS JOIN markers
)
SELECT doc_id, cand_lang AS predicted_lang, lang AS labeled_lang,
       cand_lang = lang AS is_match
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, cand_lang ASC) AS rn
      FROM scored)
WHERE rn = 1
),
cells AS (
  SELECT labeled_lang, predicted_lang, COUNT(*) AS n
  FROM pred GROUP BY 1, 2
)
SELECT labeled_lang, predicted_lang, n,
       CAST(n AS DOUBLE)
         / SUM(n) OVER (PARTITION BY labeled_lang) AS label_share
FROM cells
"""

# Same parity split, same within-batch-then-store rejection accounting.
ORACLE_SQL["dedup_exact_incremental"] = """
WITH existing AS (
  SELECT DISTINCT md5(text) AS content_hash FROM documents WHERE doc_id % 2 = 0
),
incoming AS (
  SELECT doc_id, lang, md5(text) AS content_hash
  FROM documents WHERE doc_id % 2 = 1
),
in_unique AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id)
      AS rn FROM incoming) WHERE rn = 1
),
accepted AS (
  SELECT * FROM in_unique
  WHERE content_hash NOT IN (SELECT content_hash FROM existing)
)
SELECT i.lang,
       COUNT(*) AS n_incoming,
       CAST(coalesce((SELECT COUNT(*) FROM in_unique u WHERE u.lang = i.lang), 0)
            AS BIGINT) AS n_after_batch_dedup,
       CAST(coalesce((SELECT COUNT(*) FROM accepted a WHERE a.lang = i.lang), 0)
            AS BIGINT) AS n_accepted
FROM incoming i GROUP BY i.lang
"""

# Same source-distinct shingle relation (including the document-frequency
# hot-shingle guard the Spark side applies via word_shingles) and
# exact-integer Jaccard.
ORACLE_SQL["source_overlap_matrix"] = f"""
WITH toks AS (
  SELECT d.doc_id, d.source, string_split(d.text, ' ') AS t FROM documents d
  WHERE len(string_split(d.text, ' ')) >= 3
),
dsh AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(generate_series(0, len(t) - 3),
                i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingle
  FROM toks
),
hot AS (
  SELECT shingle FROM dsh GROUP BY shingle
  HAVING COUNT(DISTINCT doc_id) > {DEDUP_MAX_DF}
),
sh AS (
  SELECT DISTINCT source, shingle FROM dsh
  WHERE shingle NOT IN (SELECT shingle FROM hot)
),
sizes AS (SELECT source, COUNT(*) AS n_shingles FROM sh GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_common, sa.n_shingles AS n_a, sb.n_shingles AS n_b,
       CAST(n_common AS DOUBLE)
         / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
"""


# Same exact cluster moments (HUGEINT sums mirror Spark's DECIMAL(38,0) —
# both exact integers, so the double combination below is bit-identical);
# z-threshold compares once in double.
ORACLE_SQL["embedding_outliers"] = f"""
WITH {_KMEANS_CTES},
asg AS (SELECT vec_id, cluster_id, d2 FROM a3),
st AS (
  SELECT cluster_id, COUNT(*) AS n_vecs,
         SUM(CAST(d2 AS HUGEINT)) AS s,
         SUM(CAST(d2 AS HUGEINT) * d2) AS ss
  FROM asg GROUP BY cluster_id
),
en AS (
  SELECT asg.cluster_id, asg.d2,
         CAST(st.s AS DOUBLE) / st.n_vecs AS mean_d2,
         sqrt((CAST(st.n_vecs AS DOUBLE) * CAST(st.ss AS DOUBLE)
               - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE))
              / (CAST(st.n_vecs AS DOUBLE) * st.n_vecs)) AS std_d2
  FROM asg JOIN st USING (cluster_id)
)
SELECT cluster_id, COUNT(*) AS n_vecs,
       CAST(SUM(CASE WHEN CAST(d2 AS DOUBLE) > mean_d2 + 2.0 * std_d2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       MAX(CASE WHEN CAST(d2 AS DOUBLE) > mean_d2 + 2.0 * std_d2
                THEN d2 END) AS max_outlier_d2
FROM en GROUP BY cluster_id
"""

# floor(log2(n)) via exact binary-digit count (bit_length), no float log.
ORACLE_SQL["doc_length_histogram"] = """
WITH t AS (
  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT lang,
       CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS log2_bucket,
       COUNT(*) AS n_docs,
       MIN(n_tokens) AS min_tokens,
       MAX(n_tokens) AS max_tokens
FROM t GROUP BY 1, 2
"""

ORACLE_SQL["text_tfidf_topk"] = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token, tf, df,
         round(tf * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 6) AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token ASC) AS rank
  FROM scored
)
SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       tfidf, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""

ORACLE_SQL["dedup_paragraphs"] = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
b AS (
  SELECT doc_id, len(t) // 8 AS n_blocks, t FROM base WHERE len(t) // 8 >= 1
),
blocks AS (
  SELECT doc_id, n_blocks,
         unnest(generate_series(0, n_blocks - 1)) AS block_idx, t
  FROM b
),
marked AS (
  SELECT doc_id, n_blocks, block_idx,
         array_to_string(t[block_idx * 8 + 1 : block_idx * 8 + 8], ' ') AS block_text
  FROM blocks
),
rn AS (
  SELECT doc_id, n_blocks,
         row_number() OVER (PARTITION BY block_text
                            ORDER BY doc_id, block_idx) > 1 AS is_dup
  FROM marked
),
per_doc AS (
  SELECT doc_id, MIN(n_blocks) AS n_blocks,
         SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS n_dup_blocks
  FROM rn GROUP BY doc_id
)
SELECT doc_id, CAST(n_blocks AS BIGINT) AS n_blocks,
       CAST(n_dup_blocks AS BIGINT) AS n_dup_blocks,
       CAST(n_dup_blocks AS DOUBLE) / n_blocks AS dup_block_frac
FROM per_doc
"""

ORACLE_SQL["corpus_dsir_weights"] = """
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents
),
lm AS (
  SELECT token, COUNT(*) AS n_raw,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_tgt
  FROM tok GROUP BY token
),
totals AS (SELECT COUNT(*) AS v, SUM(n_raw) AS nr, SUM(n_tgt) AS nt FROM lm)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       round(CAST(SUM(CAST(round(ln(CAST(n_tgt + 1 AS DOUBLE) / (nt + v))
                                 - ln(CAST(n_raw + 1 AS DOUBLE) / (nr + v)), 9)
                          AS DECIMAL(28,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS avg_log_ratio
FROM tok JOIN lm USING (token) CROSS JOIN totals
GROUP BY doc_id
"""

ORACLE_SQL["text_bpe_pair_counts"] = """
WITH base AS (
  SELECT string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS pair
  FROM base
),
counts AS (
  SELECT pair, COUNT(*) AS n_occurrences FROM pairs GROUP BY pair
  ORDER BY n_occurrences DESC, pair ASC LIMIT 100
)
SELECT pair, CAST(n_occurrences AS BIGINT) AS n_occurrences,
       row_number() OVER (ORDER BY n_occurrences DESC, pair ASC) AS rank
FROM counts
"""

ORACLE_SQL["mm_phash_dedup"] = """
WITH base AS (
  SELECT doc_id,
         list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)) AS vals,
         CAST(len(string_split(text, '')) AS BIGINT) AS n
  FROM documents
),
t AS (
  SELECT doc_id, vals, n,
         CAST(COALESCE(list_sum(vals), 0) AS BIGINT) AS total
  FROM base
),
hashed AS (
  SELECT doc_id,
         CAST(COALESCE(list_sum(list_transform(generate_series(0, 15), b ->
           CASE WHEN CAST(COALESCE(list_sum(
                        vals[(b * n) // 16 + 1 : ((b + 1) * n) // 16]
                      ), 0) AS BIGINT) * n
                     > total * (((b + 1) * n) // 16 - (b * n) // 16)
                THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)), 0) AS BIGINT) AS phash
  FROM t
)
SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS keep_doc_id,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
FROM hashed GROUP BY phash HAVING COUNT(*) > 1
"""


# --- round-5 batch-2 additions ----------------------------------------------

# Mirrors relational.scd2_order_status: change rows via lag(), intervals via
# lead(), both over (o_custkey; date, o_orderkey).
ORACLE_SQL["scd2_order_status"] = """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS o_date, o_orderkey,
         o_orderstatus,
         lag(o_orderstatus) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey)
           AS prev_status
  FROM orders
),
ch AS (
  SELECT * FROM o
  WHERE prev_status IS NULL OR prev_status <> o_orderstatus
)
SELECT o_custkey, o_orderstatus AS status, o_date AS valid_from,
       lead(o_date) OVER w AS valid_to,
       lead(o_date) OVER w IS NULL AS is_current
FROM ch
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_date, o_orderkey)
"""

# Mirrors text.text_char_entropy: per-term 9dp round → DECIMAL(28,9) exact
# sum (order-independent), entropy rounded at 6dp.
ORACLE_SQL["text_char_entropy"] = """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
pc AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars WHERE ch <> '' GROUP BY 1, 2
),
t AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
         SUM(CAST(round(c * ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(28,9))) AS s
  FROM pc GROUP BY 1
)
SELECT doc_id, n_chars,
       round(ln(CAST(n_chars AS DOUBLE)) - CAST(s AS DOUBLE) / n_chars, 6)
         AS entropy
FROM t
"""

# Mirrors curation.corpus_token_budget: exact-int strata sizes, largest-first
# cumulative share with the (tokens DESC, source, lang) tie-break.
ORACLE_SQL["corpus_token_budget"] = """
WITH s AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1, 2
)
SELECT source, lang, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE)
         AS token_share,
       CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, source, lang
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS DOUBLE)
         / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS cum_share,
       round(10000000.0 / n_tokens, 6) AS budget_epochs
FROM s
"""

# Mirrors dedup.dedup_containment: the jaccard inverted-index shape with
# |A∩B| / min(|A|,|B|) and the same hot-shingle cap.
ORACLE_SQL["dedup_containment"] = f"""
WITH {_shingle_ctes(3, max_df=DEDUP_MAX_DF)},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(c AS BIGINT) AS n_common,
       CAST(least(sa.n, sb.n) AS BIGINT) AS n_smaller,
       CAST(c AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) AS containment
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(c AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) >= 0.5
"""

# Mirrors similarity.scalar_quantized_codes + sim_scalar_quant_recall:
# per-dim min/max, integer code assignment, integer dot-product top-k,
# recall vs the exact-cosine oracle (reused verbatim as a CTE).
ORACLE_SQL["sim_scalar_quant_recall"] = f"""
WITH {_QEMB_CTES},
dims AS (SELECT generate_subscripts(qv, 1) AS dim, unnest(qv) AS qx FROM q),
mm AS (SELECT dim, MIN(qx) AS mn, MAX(qx) AS mx FROM dims GROUP BY dim),
pos AS (
  SELECT vec_id, generate_subscripts(qv, 1) AS dim, unnest(qv) AS qx FROM q
),
codes AS (
  SELECT vec_id,
         list(CAST(CASE WHEN mx > mn THEN (qx - mn) * 255 // (mx - mn)
                        ELSE 0 END AS BIGINT) ORDER BY dim) AS codes
  FROM pos JOIN mm USING (dim) GROUP BY vec_id
),
qs AS (SELECT vec_id AS query_id, codes AS qc FROM codes WHERE vec_id < 5),
sq AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         list_dot_product(CAST(qc AS DOUBLE[]), CAST(c.codes AS DOUBLE[]))
           AS dot8
  FROM codes c CROSS JOIN qs WHERE c.vec_id != query_id
),
sqk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dot8 DESC, neighbor_id ASC) AS rank
    FROM sq
  ) WHERE rank <= 10
),
exact_k AS ({ORACLE_SQL["sim_topk_cosine"]})
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
FROM exact_k e LEFT JOIN sqk s USING (query_id, neighbor_id)
GROUP BY e.query_id
"""

# Mirrors multimodal.mm_audio_framing: complete 64-byte frames at 32-byte
# hop over the UTF-8 payload; offsets via an exploded series.
ORACLE_SQL["mm_audio_framing"] = """
WITH p AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
  FROM documents
),
f AS (
  SELECT doc_id, payload_bytes,
         (payload_bytes - 64) // 32 + 1 AS n_frames
  FROM p WHERE payload_bytes >= 64
),
e AS (
  SELECT doc_id, payload_bytes, CAST(n_frames AS BIGINT) AS n_frames,
         unnest(generate_series(0, n_frames - 1)) AS frame_idx
  FROM f
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(frame_idx * 32 AS BIGINT) AS byte_offset,
       CAST(64 AS BIGINT) AS frame_bytes,
       n_frames, payload_bytes
FROM e
"""

# Mirrors graph.cooccurrence_edges / graph_pagerank: ten supersteps of
# exact scaled-integer PageRank (rank units of 1e-15, damping as ×85//100,
# floor division everywhere), so the chain is bit-identical to Spark's.
_PR_GRAPH_CTES = """
bask AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
prs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM bask a JOIN bask b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
edges AS (
  SELECT part_a AS src, part_b AS dst FROM prs
  UNION ALL
  SELECT part_b AS src, part_a AS dst FROM prs
)
""".strip()


def _pagerank_sql(n_iter: int = 10, graph_ctes: str | None = None) -> str:
    """Exact scaled-integer PageRank chain over whatever `graph_ctes`
    defines as `edges` (default: the part co-occurrence graph) — the SQL
    twin of graph.pagerank_on_edges, parameterized the same way."""
    ctes = [
        graph_ctes if graph_ctes is not None else _PR_GRAPH_CTES,
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)",
        "ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src))",
        "nodes AS (SELECT DISTINCT src AS node FROM edges)",
        "nn AS (SELECT COUNT(*) AS c FROM nodes)",
        "pr0 AS (SELECT node, 1000000000000000 // (SELECT c FROM nn) AS pr FROM nodes)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""pr{i} AS (
  SELECT n.node,
         (1000000000000000 * 15) // 100 // (SELECT c FROM nn)
           + (COALESCE(s.s, 0) * 85) // 100 AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(p.pr // e.outdeg) AS s
    FROM pr{i - 1} p JOIN ed e ON p.node = e.src
    GROUP BY e.dst
  ) s USING (node)
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node, CAST(pr AS BIGINT) AS pr_scaled,
       CAST(pr AS DOUBLE) / 1000000000000000.0 AS pagerank
FROM pr{n_iter}
"""
    )


ORACLE_SQL["graph_pagerank"] = _pagerank_sql(10)

ORACLE_SQL["graph_degree_stats"] = f"""
WITH {_PR_GRAPH_CTES},
deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY src)
SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
"""

# Mirrors text.text_keyword_rake: running stopword count segments phrases;
# degree/freq are exact integers; (score DESC, word) ranking.
_RAKE_STOPS = "('a','the','of','and','in','to')"
ORACLE_SQL["text_keyword_rake"] = f"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
seg AS (
  SELECT doc_id, pos, word,
         word IN {_RAKE_STOPS} AS is_stop,
         SUM(CASE WHEN word IN {_RAKE_STOPS} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phrase_id
  FROM toks
),
cw AS (SELECT doc_id, phrase_id, word FROM seg WHERE NOT is_stop),
pl AS (SELECT doc_id, phrase_id, COUNT(*) AS plen FROM cw GROUP BY 1, 2),
sc AS (
  SELECT c.doc_id, c.word,
         CAST(SUM(p.plen) AS BIGINT) AS degree,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM cw c JOIN pl p USING (doc_id, phrase_id)
  GROUP BY 1, 2
)
SELECT doc_id, word, degree, freq,
       CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE) AS score,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id
    ORDER BY CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE) DESC, word ASC
  ) AS rank
  FROM sc
)
WHERE rank <= 3
"""

# Mirrors streaming.windows.stream_trending_topk: the final complete-mode
# epoch equals the batch windowed aggregation, ranked (n DESC, type ASC).
ORACLE_SQL["stream_trending_topk"] = """
WITH agg AS (
  SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start_epoch,
         event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
  FROM events
  GROUP BY 1, 2
)
SELECT window_start_epoch, event_type, n, sum_value, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY window_start_epoch
                               ORDER BY n DESC, event_type ASC) AS rank
  FROM agg
)
WHERE rank <= 3
"""

# Mirrors dedup.dedup_exact_keep_best: quality 6dp-rounded then scaled to
# an exact bigint; keep = (quality DESC, doc_id ASC) per content hash.
ORACLE_SQL["dedup_exact_keep_best"] = """
WITH t AS (
  SELECT doc_id, text, md5(text) AS content_hash,
         string_split(text, ' ') AS toks
  FROM documents
),
q AS (
  SELECT doc_id, content_hash,
         CAST(round(round(
           0.5 * (CAST(len(list_filter(toks,
                    x -> x IN ('a','the','of','and','in','to'))) AS DOUBLE)
                  / len(toks))
           + 0.25 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
           + 0.25 * (least(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                           / len(toks), 8.0) / 8.0),
         6) * 1000000, 0) AS BIGINT) AS qs
  FROM t
),
sel AS (
  SELECT content_hash, doc_id AS keep_doc_id, qs,
         row_number() OVER (PARTITION BY content_hash
                            ORDER BY qs DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY content_hash) AS n_copies
  FROM q
)
SELECT content_hash, keep_doc_id,
       CAST(qs AS DOUBLE) / 1000000.0 AS keep_quality,
       CAST(n_copies AS BIGINT) AS n_copies
FROM sel WHERE rn = 1
"""

# Mirrors similarity.pq_codes + sim_pq_adc_recall: exact integer squared-L2
# to the 16 first-vector codewords per 32-dim subspace, ADC = two table
# lookups + add, recall vs the exact-cosine oracle.
_PQ_L2 = (
    "list_dot_product(CAST({s} AS DOUBLE[]), CAST({s} AS DOUBLE[]))"
    " - 2 * list_dot_product(CAST({s} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " + list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
)
ORACLE_SQL["sim_pq_adc_recall"] = f"""
WITH {_QEMB_CTES},
sub AS (SELECT vec_id, qv[1:32] AS s1, qv[33:64] AS s2 FROM n),
book AS (SELECT vec_id AS code_id, s1 AS b1, s2 AS b2 FROM sub WHERE vec_id < 16),
d AS (
  SELECT s.vec_id, b.code_id,
         {_PQ_L2.format(s="s.s1", b="b.b1")} AS d1,
         {_PQ_L2.format(s="s.s2", b="b.b2")} AS d2
  FROM sub s CROSS JOIN book b
),
a1 AS (
  SELECT vec_id, code_id AS c1 FROM (
    SELECT vec_id, code_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d1, code_id) AS rn
    FROM d) WHERE rn = 1
),
a2 AS (
  SELECT vec_id, code_id AS c2 FROM (
    SELECT vec_id, code_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, code_id) AS rn
    FROM d) WHERE rn = 1
),
codes AS (SELECT vec_id, c1, c2 FROM a1 JOIN a2 USING (vec_id)),
qsub AS (SELECT vec_id AS query_id, s1 AS q1, s2 AS q2 FROM sub WHERE vec_id < 5),
dt AS (
  SELECT query_id, code_id,
         {_PQ_L2.format(s="q1", b="b1")} AS dq1,
         {_PQ_L2.format(s="q2", b="b2")} AS dq2
  FROM qsub CROSS JOIN book
),
scored AS (
  SELECT qq.query_id, c.vec_id AS neighbor_id, t1.dq1 + t2.dq2 AS adc
  FROM codes c
  CROSS JOIN (SELECT DISTINCT query_id FROM dt) qq
  JOIN dt t1 ON t1.query_id = qq.query_id AND t1.code_id = c.c1
  JOIN dt t2 ON t2.query_id = qq.query_id AND t2.code_id = c.c2
  WHERE c.vec_id != qq.query_id
),
pqk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc ASC, neighbor_id ASC) AS rank
    FROM scored) WHERE rank <= 10
),
exact_k AS ({ORACLE_SQL["sim_topk_cosine"]})
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
FROM exact_k e LEFT JOIN pqk p USING (query_id, neighbor_id)
GROUP BY e.query_id
"""

# Mirrors text.text_quality_calibration: per-lang ntile(10) over
# (score ASC, doc_id ASC), exact-int mean token count at 6dp.
ORACLE_SQL["text_quality_calibration"] = """
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks,
         CAST(length(replace(text, ' ', '')) AS DOUBLE) AS nosp
  FROM documents
),
m AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         0.5 * (CAST(len(list_filter(toks,
                  x -> x IN ('a','the','of','and','in','to'))) AS DOUBLE)
                / len(toks))
         + 0.25 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
         + 0.25 * (least(nosp / len(toks), 8.0) / 8.0) AS q
  FROM t
),
d AS (
  SELECT lang, n_tokens, q,
         ntile(10) OVER (PARTITION BY lang ORDER BY q ASC, doc_id ASC) AS decile
  FROM m
)
SELECT lang, CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_docs,
       MIN(q) AS min_score, MAX(q) AS max_score,
       round(CAST(SUM(n_tokens) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS avg_tokens
FROM d GROUP BY lang, decile
"""


# Mirrors dedup.dedup_minhash_incremental: the dedup_minhash_lsh candidate
# machinery restricted to store(even)/incoming(odd) generations, greedy
# single-pass rejection, per-lang admission counts.
ORACLE_SQL["dedup_minhash_incremental"] = f"""
WITH {_shingle_ctes(3, max_df=DEDUP_MAX_DF)},
{_MINHASH_HALVES},
sig AS (SELECT doc_id, {_MINHASH_COLS} FROM mh GROUP BY doc_id),
bands AS ({_MINHASH_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b
  FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
  WHERE ({_MINHASH_MATCHES}) / 16.0 >= 0.5
),
rej_store AS (
  SELECT DISTINCT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END AS doc_id
  FROM pairs WHERE (doc_a % 2) != (doc_b % 2)
),
rej_batch AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM pairs WHERE doc_a % 2 = 1 AND doc_b % 2 = 1
),
inc AS (SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 1)
SELECT lang, COUNT(*) AS n_incoming,
       CAST(SUM(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rejected_store,
       CAST(SUM(CASE WHEN s.doc_id IS NULL AND b2.doc_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected_batch,
       CAST(SUM(CASE WHEN s.doc_id IS NULL AND b2.doc_id IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted
FROM inc
LEFT JOIN rej_store s ON inc.doc_id = s.doc_id
LEFT JOIN rej_batch b2 ON inc.doc_id = b2.doc_id
GROUP BY lang
"""


# XML roundtrip: same fidelity contract as the other interchange formats.
ORACLE_SQL["source_xml_roundtrip"] = _ROUNDTRIP_AGG_SQL

# Z-order rewrite preserves every row; the rectangle aggregate recomputes
# from the unclustered fixture.
ORACLE_SQL["layout_zorder_skipping"] = """
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM events
WHERE user_id BETWEEN 10 AND 40 AND value BETWEEN 20.0 AND 60.0
GROUP BY user_id
"""


# Mirrors text.corpus_dsir_sample: md5-derived 52-bit uniform, Gumbel term
# −ln(−ln u) rounded at 9dp before the 6dp key (round-terms-to-9dp
# determinism pattern), (key DESC, doc_id) top-100.
ORACLE_SQL["corpus_dsir_sample"] = f"""
WITH w AS ({ORACLE_SQL["corpus_dsir_weights"]}),
g AS (
  SELECT doc_id, avg_log_ratio,
         round(avg_log_ratio
               + round(-ln(-ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
                              AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0)), 9),
               6) AS gumbel_key
  FROM w
),
top AS (
  SELECT * FROM g ORDER BY gumbel_key DESC, doc_id ASC LIMIT 100
)
SELECT doc_id, avg_log_ratio, gumbel_key,
       row_number() OVER (ORDER BY gumbel_key DESC, doc_id ASC) AS rank
FROM top
"""

# Mirrors dedup.dedup_minhash_error_report: banded candidates scored by
# exact shingle Jaccard (no threshold, same max_df guard), bucketed by
# signature-match count, 9dp-term decimal means.
ORACLE_SQL["dedup_minhash_error_report"] = f"""
WITH {_shingle_ctes(3, max_df=DEDUP_MAX_DF)},
{_MINHASH_HALVES},
sig AS (SELECT doc_id, {_MINHASH_COLS} FROM mh GROUP BY doc_id),
bands AS ({_MINHASH_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
est AS (
  SELECT doc_a, doc_b, ({_MINHASH_MATCHES}) / 16.0 AS est_jaccard
  FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS true_jac
  FROM common
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
),
j AS (
  SELECT CAST(round(e.est_jaccard * 16, 0) AS BIGINT) AS n_matches,
         e.est_jaccard, COALESCE(x.true_jac, 0.0) AS true_jac
  FROM est e LEFT JOIN exact x USING (doc_a, doc_b)
)
SELECT n_matches, COUNT(*) AS n_pairs,
       round(CAST(SUM(CAST(round(true_jac, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS avg_true_jaccard,
       round(CAST(SUM(CAST(round(abs(est_jaccard - true_jac), 9)
                           AS DECIMAL(28,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS mean_abs_error
FROM j GROUP BY n_matches
"""

# Mirrors graph.graph_triangle_count: degree-ordered orientation, wedge
# join + closing-edge join, per-node rollup, exact-int coefficients.
ORACLE_SQL["graph_triangle_count"] = f"""
WITH {_PR_GRAPH_CTES},
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
und AS (SELECT src, dst FROM edges WHERE src < dst),
e AS (
  SELECT u.src, u.dst, ds.deg AS ds, dt.deg AS dt
  FROM und u JOIN deg ds ON u.src = ds.src JOIN deg dt ON u.dst = dt.src
),
oriented AS (
  SELECT CASE WHEN (ds, src) < (dt, dst) THEN src ELSE dst END AS lo,
         CASE WHEN (ds, src) < (dt, dst) THEN dst ELSE src END AS hi,
         CASE WHEN (ds, src) < (dt, dst) THEN dt ELSE ds END AS dhi
  FROM e
),
wedges AS (
  SELECT w1.lo AS a, w1.hi AS b, w2.hi AS c
  FROM oriented w1 JOIN oriented w2 ON w1.lo = w2.lo
  WHERE (w1.dhi, w1.hi) < (w2.dhi, w2.hi)
),
tri AS (
  SELECT a, b, c FROM wedges JOIN oriented o ON b = o.lo AND c = o.hi
),
pn AS (
  SELECT node, COUNT(*) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT d.src AS node, CAST(d.deg AS BIGINT) AS degree,
       CAST(COALESCE(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.deg >= 2
            THEN 2.0 * CAST(COALESCE(pn.n_triangles, 0) AS DOUBLE)
                 / CAST(d.deg * (d.deg - 1) AS DOUBLE)
            ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN pn ON d.src = pn.node
"""

# Mirrors curation.corpus_length_filter_sweep: one-row conditional
# aggregates unioned to long form.
ORACLE_SQL["corpus_length_filter_sweep"] = """
WITH d AS (SELECT len(string_split(text, ' ')) AS n_tok FROM documents),
one AS (
  SELECT COUNT(*) AS n_total,
         """ + ",\n         ".join(
    f"CAST(SUM(CASE WHEN n_tok >= {t} THEN 1 ELSE 0 END) AS BIGINT) AS d{t},\n"
    f"         CAST(SUM(CASE WHEN n_tok >= {t} THEN n_tok ELSE 0 END) AS BIGINT) AS t{t}"
    for t in [8, 16, 32, 64, 128]
) + """
  FROM d
)
""" + "\nUNION ALL\n".join(
    f"SELECT CAST({t} AS BIGINT) AS threshold, d{t} AS n_docs_surviving,\n"
    f"       t{t} AS n_tokens_surviving,\n"
    f"       CAST(d{t} AS DOUBLE) / CAST(n_total AS DOUBLE) AS doc_survival_rate\n"
    f"FROM one"
    for t in [8, 16, 32, 64, 128]
)

# Mirrors text.source_jsd_matrix: exact-int probabilities, 9dp-rounded
# terms summed in DECIMAL(28,9), 6dp + (-0-canonicalized) divergence.
ORACLE_SQL["source_jsd_matrix"] = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
totals AS (SELECT source, SUM(c) AS tot FROM counts GROUP BY source),
t AS (
  SELECT c.source, c.token, CAST(c.c AS DOUBLE) / tt.tot AS p
  FROM counts c JOIN totals tt USING (source)
),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM totals a CROSS JOIN totals b WHERE a.source < b.source
),
vocab AS (
  SELECT DISTINCT sa, sb, token FROM (
    SELECT p.sa, p.sb, t.token FROM pairs p JOIN t ON t.source = p.sa
    UNION ALL
    SELECT p.sa, p.sb, t.token FROM pairs p JOIN t ON t.source = p.sb
  )
),
j AS (
  SELECT v.sa, v.sb,
         COALESCE(ta.p, 0.0) AS pa, COALESCE(tb.p, 0.0) AS pb
  FROM vocab v
  LEFT JOIN t ta ON ta.source = v.sa AND ta.token = v.token
  LEFT JOIN t tb ON tb.source = v.sb AND tb.token = v.token
),
terms AS (
  SELECT sa, sb,
         CAST(round(
           CASE WHEN pa > 0
                THEN 0.5 * pa * log2(pa / ((pa + pb) / 2)) ELSE 0.0 END
           + CASE WHEN pb > 0
                  THEN 0.5 * pb * log2(pb / ((pa + pb) / 2)) ELSE 0.0 END,
         9) AS DECIMAL(28,9)) AS term
  FROM j
)
SELECT sa, sb, COUNT(*) AS n_vocab_union,
       round(CAST(SUM(term) AS DOUBLE), 6) + 0.0 AS jsd_bits
FROM terms GROUP BY sa, sb
"""


# Mirrors dedup.dedup_substring_spans (k = 5, in sync with dedup.SPAN_K —
# asserted by tests/test_llm_ops.py): positional k-shingles, shared = df ≥ 2
# distinct docs, gaps-and-islands run merge with break at gap > k.
ORACLE_SQL["dedup_substring_spans"] = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 5
),
raw AS (
  SELECT doc_id,
         unnest(range(1, len(t) - 3)) AS i,
         unnest(list_transform(range(1, len(t) - 3),
                i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                         t[i+3] || ' ' || t[i+4]))) AS shingle
  FROM toks
),
pos AS (SELECT doc_id, i - 1 AS pos, shingle FROM raw),
shared AS (
  SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM pos)
  GROUP BY shingle HAVING COUNT(*) >= 2
),
dup AS (
  SELECT doc_id, pos FROM pos WHERE shingle IN (SELECT shingle FROM shared)
),
lagged AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_pos
  FROM dup
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN pos - prev_pos > 5 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
           AS island
  FROM lagged
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 4 AS BIGINT) AS span_end,
       CAST(MAX(pos) + 4 - MIN(pos) + 1 AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, island
"""

# Mirrors dedup.synthetic_urls + canonicalize_url + dedup_url_canonical:
# deterministic URL spellings from (source, doc_id), canonical key via the
# lowercase/scheme/www/query/trailing-slash strip chain, keep policy =
# (quality DESC, doc_id ASC) — dedup_exact_keep_best's verbatim.
ORACLE_SQL["dedup_url_canonical"] = """
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks,
         (CASE WHEN doc_id % 7 = 0 THEN 'HTTPS://' ELSE 'https://' END)
         || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
         || source || '.example.com/articles/' || CAST(doc_id % 40 AS VARCHAR)
         || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&ref=abc' ELSE '' END)
           AS url
  FROM documents
),
c AS (
  SELECT doc_id, text, toks,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           lower(url), '^https?://', ''), '^www\\.', ''), '\\?.*$', ''),
           '/$', '') AS canonical_url
  FROM t
),
q AS (
  SELECT doc_id, canonical_url,
         CAST(round(round(
           0.5 * (CAST(len(list_filter(toks,
                    x -> x IN ('a','the','of','and','in','to'))) AS DOUBLE)
                  / len(toks))
           + 0.25 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
           + 0.25 * (least(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                           / len(toks), 8.0) / 8.0),
         6) * 1000000, 0) AS BIGINT) AS qs
  FROM c
),
sel AS (
  SELECT canonical_url, doc_id AS keep_doc_id, qs,
         row_number() OVER (PARTITION BY canonical_url
                            ORDER BY qs DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY canonical_url) AS n_copies
  FROM q
)
SELECT canonical_url, keep_doc_id,
       CAST(qs AS DOUBLE) / 1000000.0 AS keep_quality,
       CAST(n_copies AS BIGINT) AS n_copies
FROM sel WHERE rn = 1
"""

# Mirrors dedup.dedup_exact_incremental_bloom: four 32-bit md5 slices mod
# 65536 (in sync with dedup.BLOOM_BITS/BLOOM_HASHES — asserted by
# tests/test_llm_ops.py); maybe = all four bits present in the store's
# distinct-bit set; accepted = definite-new ∪ (maybe minus store).
_BLOOM_PROBE_SLICES = " UNION ALL ".join(
    f"SELECT doc_id, lang, content_hash, "
    f"CAST('0x' || substr(content_hash, {1 + j * 8}, 8) AS BIGINT) % 65536 AS bit "
    "FROM in_unique"
    for j in range(4)
)
_BLOOM_STORE_SLICES = " UNION ALL ".join(
    f"SELECT CAST('0x' || substr(content_hash, {1 + j * 8}, 8) AS BIGINT) % 65536"
    f" AS bit FROM existing"
    for j in range(4)
)
ORACLE_SQL["dedup_exact_incremental_bloom"] = f"""
WITH existing AS (
  SELECT DISTINCT md5(text) AS content_hash FROM documents WHERE doc_id % 2 = 0
),
incoming AS (
  SELECT doc_id, lang, md5(text) AS content_hash
  FROM documents WHERE doc_id % 2 = 1
),
in_unique AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id)
      AS rn FROM incoming) WHERE rn = 1
),
store_bits AS (SELECT DISTINCT bit FROM ({_BLOOM_STORE_SLICES})),
probes AS ({_BLOOM_PROBE_SLICES}),
maybe AS (
  SELECT doc_id FROM probes JOIN store_bits USING (bit)
  GROUP BY doc_id HAVING COUNT(*) = 4
),
accepted AS (
  SELECT * FROM in_unique WHERE doc_id NOT IN (SELECT doc_id FROM maybe)
  UNION ALL
  SELECT * FROM in_unique WHERE doc_id IN (SELECT doc_id FROM maybe)
    AND content_hash NOT IN (SELECT content_hash FROM existing)
)
SELECT i.lang,
       COUNT(*) AS n_incoming,
       CAST(coalesce((SELECT COUNT(*) FROM in_unique u WHERE u.lang = i.lang), 0)
            AS BIGINT) AS n_after_batch_dedup,
       CAST(coalesce((SELECT COUNT(*) FROM in_unique u
                      JOIN maybe m ON u.doc_id = m.doc_id
                      WHERE u.lang = i.lang), 0)
            AS BIGINT) AS n_bloom_maybe,
       CAST(coalesce((SELECT COUNT(*) FROM accepted a WHERE a.lang = i.lang), 0)
            AS BIGINT) AS n_accepted
FROM incoming i GROUP BY i.lang
"""


# Mirrors curation.corpus_temperature_mix: p^0.7 rounded at 9dp summed in
# DECIMAL(28,9); weight/boost/epoch_docs derived exactly as the Spark
# column chain (boost divides the ROUNDED weight by the UNROUNDED share).
ORACLE_SQL["corpus_temperature_mix"] = """
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
           AS sum_tokens
  FROM documents GROUP BY source
),
sh AS (
  SELECT *,
         CAST(sum_tokens AS DOUBLE) / CAST(SUM(sum_tokens) OVER () AS DOUBLE)
           AS share_raw,
         CAST(round(pow(CAST(sum_tokens AS DOUBLE)
                        / CAST(SUM(sum_tokens) OVER () AS DOUBLE), 0.7), 9)
              AS DECIMAL(28,9)) AS w_raw
  FROM per_source
),
t AS (
  SELECT *,
         round(CAST(w_raw AS DOUBLE) / CAST(SUM(w_raw) OVER () AS DOUBLE), 6)
           AS temp_weight
  FROM sh
)
SELECT source, n_docs, sum_tokens,
       round(share_raw, 6) AS token_share,
       temp_weight,
       round(temp_weight / share_raw, 6) AS boost,
       CAST(round(temp_weight * 10000, 0) AS BIGINT) AS epoch_docs
FROM t
"""

# Mirrors text.token_zipf_fit: top-200 (count DESC, token ASC) cut, ln
# terms at 9dp, OLS sums in DECIMAL(28,9)/(38,18), closed-form slope.
ORACLE_SQL["token_zipf_fit"] = """
WITH counts AS (
  SELECT token, COUNT(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token ORDER BY c DESC, token ASC LIMIT 200
),
xy AS (
  SELECT round(ln(CAST(row_number() OVER (ORDER BY c DESC, token ASC)
                       AS DOUBLE)), 9) AS x,
         round(ln(CAST(c AS DOUBLE)), 9) AS y
  FROM counts
),
s AS (
  SELECT COUNT(*) AS n_terms,
         CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,9))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(round(x * y, 18) AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(round(x * x, 18) AS DECIMAL(38,18))) AS DOUBLE) AS sxx
  FROM xy
),
d AS (SELECT *, CAST(n_terms AS DOUBLE) AS n FROM s)
SELECT n_terms,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS zipf_intercept
FROM d
"""

# Mirrors text.text_bigram_lm_perplexity: add-1 bigram LM trained on even
# doc_ids (prefix counts from the bigram relation, V = train vocab), ln
# terms at 9dp in DECIMAL(28,9), perplexity = exp of the 6dp mean.
ORACLE_SQL["text_bigram_lm_perplexity"] = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
         unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
  FROM toks WHERE len(t) >= 2
),
c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 2 = 0 GROUP BY w1, w2
),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
v AS (
  SELECT COUNT(DISTINCT token) AS v
  FROM (SELECT unnest(t) AS token FROM toks WHERE doc_id % 2 = 0)
),
sc AS (
  SELECT te.doc_id,
         CAST(round(ln(CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE)
                       / CAST(coalesce(c1.c1, 0) + v.v AS DOUBLE)), 9)
              AS DECIMAL(28,9)) AS ll
  FROM bg te
  LEFT JOIN c2 ON te.w1 = c2.w1 AND te.w2 = c2.w2
  LEFT JOIN c1 ON te.w1 = c1.w1
  CROSS JOIN v
  WHERE te.doc_id % 2 = 1
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         round(-CAST(SUM(ll) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS avg_neg_loglik
  FROM sc GROUP BY doc_id
)
SELECT doc_id, n_bigrams, avg_neg_loglik,
       round(exp(avg_neg_loglik), 6) AS perplexity
FROM agg
"""


# Mirrors graph.graph_components: same co-occurrence graph as PageRank
# (support >= 2), min-node-id component labels via recursive transitive
# closure over the symmetric edges, size rollup joined back.
ORACLE_SQL["graph_components"] = f"""
WITH RECURSIVE {_PR_GRAPH_CTES},
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(a, b) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
comp AS (SELECT a AS node, MIN(b) AS component_id FROM reach GROUP BY a),
sizes AS (
  SELECT component_id, COUNT(*) AS component_size FROM comp GROUP BY component_id
)
SELECT node, component_id, component_size FROM comp JOIN sizes USING (component_id)
"""


# Mirrors similarity.sim_ivf_probe_sweep: shared assignment CTEs, one
# probed/scored/topk chain per nprobe in (1,2,4,8), recall vs the exact
# top-k (reused as a CTE), one aggregate row per setting.
def _ivf_sweep_sql(probes=(1, 2, 4, 8)) -> str:
    blocks = []
    selects = []
    for p in probes:
        blocks.append(f"""
probed_{p} AS (
  SELECT query_id, qq, nq, cell_id
  FROM (SELECT vec_id AS query_id, qv AS qq, nrm AS nq, cell_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell_id ASC) AS rn
        FROM assign_scored WHERE vec_id < 5)
  WHERE rn <= {p}
),
scored_{p} AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_dot_product(CAST(p.qq AS DOUBLE[]), CAST(a.qv AS DOUBLE[]))
           / (sqrt(p.nq) * sqrt(a.nrm)) AS cosine
  FROM assigned a JOIN probed_{p} p USING (cell_id)
  WHERE a.vec_id != p.query_id
),
topk_{p} AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC)
                    AS rank
        FROM scored_{p})
  WHERE rank <= 10
)""".strip())
        selects.append(f"""
SELECT CAST({p} AS BIGINT) AS nprobe,
       COUNT(*) AS n_exact,
       CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       round(CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
FROM exact_k e LEFT JOIN topk_{p} t USING (query_id, neighbor_id)""".strip())
    return (
        f"""
WITH {_QEMB_CTES},
cent AS (SELECT vec_id AS cell_id, qv AS cv, nrm AS cn FROM n WHERE vec_id < 8),
assign_scored AS (
  SELECT a.vec_id, a.qv, a.nrm, c.cell_id,
         list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(a.qv AS DOUBLE[]))
           / (sqrt(c.cn) * sqrt(a.nrm)) AS sim
  FROM n a CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, qv, nrm, cell_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, cell_id ASC) AS rn
        FROM assign_scored)
  WHERE rn = 1
),
exact_k AS ({ORACLE_SQL["sim_topk_cosine"]}),
"""
        + ",\n".join(blocks)
        + "\n"
        + "\nUNION ALL\n".join(selects)
    )


ORACLE_SQL["sim_ivf_probe_sweep"] = _ivf_sweep_sql()


# Mirrors sources/layout.dedup_exact_incremental_bucketed: the bucketed
# store changes the PHYSICAL plan only — the report is bit-identical to
# dedup_exact_incremental, so the oracle is the same SQL.
ORACLE_SQL["dedup_exact_incremental_bucketed"] = ORACLE_SQL["dedup_exact_incremental"]


# Mirrors similarity.sim_range_search: exact cosine over the quantized
# embeddings, plain >= threshold cut (no window/rank at all).
ORACLE_SQL["sim_range_search"] = f"""
WITH {_QEMB_CTES},
queries AS (SELECT vec_id AS query_id, qv AS qq, nrm AS nq FROM n WHERE vec_id < 5)
SELECT query_id, a.vec_id AS neighbor_id,
       list_dot_product(CAST(qq AS DOUBLE[]), CAST(a.qv AS DOUBLE[]))
         / (sqrt(nq) * sqrt(a.nrm)) AS cosine
FROM n a CROSS JOIN queries
WHERE a.vec_id != query_id
  AND list_dot_product(CAST(qq AS DOUBLE[]), CAST(a.qv AS DOUBLE[]))
        / (sqrt(nq) * sqrt(a.nrm)) >= 0.3
"""

# Mirrors multimodal.mm_tile_grid: synthetic dims from doc_id, 64-px tiles,
# two-stage unnest for the row x col cross product, clipped edge tiles.
ORACLE_SQL["mm_tile_grid"] = """
WITH d AS (
  SELECT doc_id,
         CAST(64 + (doc_id % 8) * 32 AS BIGINT) AS width,
         CAST(64 + (doc_id % 5) * 48 AS BIGINT) AS height
  FROM documents
),
g AS (
  SELECT doc_id, width, height,
         CAST(ceil(width / 64.0) AS BIGINT) AS n_tcols,
         CAST(ceil(height / 64.0) AS BIGINT) AS n_trows
  FROM d
),
r AS (
  SELECT doc_id, width, height, n_tcols, n_trows,
         unnest(generate_series(0, n_trows - 1)) AS tile_row
  FROM g
),
rc AS (
  SELECT doc_id, width, height, n_tcols, n_trows, tile_row,
         unnest(generate_series(0, n_tcols - 1)) AS tile_col
  FROM r
)
SELECT doc_id,
       CAST(tile_row AS BIGINT) AS tile_row,
       CAST(tile_col AS BIGINT) AS tile_col,
       CAST(tile_col * 64 AS BIGINT) AS x_off,
       CAST(tile_row * 64 AS BIGINT) AS y_off,
       CAST(least(64, width - tile_col * 64) AS BIGINT) AS tile_w,
       CAST(least(64, height - tile_row * 64) AS BIGINT) AS tile_h,
       CAST(n_trows * n_tcols AS BIGINT) AS n_tiles
FROM rc
"""

# Mirrors dedup.dedup_minhash_band_sweep: one banding chain per (bands,
# rows/band) config over the SAME 16-hash signatures; distinct candidate
# pairs, 0.5-threshold admissions, 9dp-decimal mean estimate.
def _band_sweep_sql(configs=((2, 8), (4, 4), (8, 2))) -> str:
    chains = []
    selects = []
    for n_bands, rpb in configs:
        band_rows = " UNION ALL ".join(
            "SELECT doc_id, {b} AS band, {key} AS bkey FROM sig".format(
                b=b,
                key=" || '|' || ".join(
                    f"CAST(h{b * rpb + i} AS VARCHAR)" for i in range(rpb)
                ),
            )
            for b in range(n_bands)
        )
        chains.append(f"""
bands_{n_bands} AS ({band_rows}),
cand_{n_bands} AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_{n_bands} a JOIN bands_{n_bands} b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
est_{n_bands} AS (
  SELECT doc_a, doc_b, ({_MINHASH_MATCHES}) / 16.0 AS est
  FROM cand_{n_bands}
  JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
)""".strip())
        selects.append(f"""
SELECT CAST({n_bands} AS BIGINT) AS n_bands,
       CAST({rpb} AS BIGINT) AS rows_per_band,
       COUNT(*) AS n_candidates,
       CAST(coalesce(SUM(CASE WHEN est >= 0.5 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_admitted,
       CASE WHEN COUNT(*) > 0
            THEN round(CAST(SUM(CAST(round(est, 9) AS DECIMAL(28,9))) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE), 6)
            ELSE 0.0 END AS mean_est
FROM est_{n_bands}""".strip())
    return (
        f"WITH {_shingle_ctes(3, max_df=DEDUP_MAX_DF)},\n{_MINHASH_HALVES},\n"
        f"sig AS (SELECT doc_id, {_MINHASH_COLS} FROM mh GROUP BY doc_id),\n"
        + ",\n".join(chains)
        + "\n"
        + "\nUNION ALL\n".join(selects)
    )


ORACLE_SQL["dedup_minhash_band_sweep"] = _band_sweep_sql()


# Mirrors dedup.corpus_dedup_funnel: exact keep = min doc per md5, near
# keep = min EXACT SURVIVOR per MinHash-LSH cluster (the dedup_clusters
# fixpoint, nested as a CTE), per-source rollup.
ORACLE_SQL["corpus_dedup_funnel"] = f"""
WITH clusters AS ({ORACLE_SQL["dedup_clusters"]}),
d AS (SELECT doc_id, source, md5(text) AS content_hash FROM documents),
exact_surv AS (
  SELECT doc_id, source FROM (
    SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id)
      AS rn FROM d) WHERE rn = 1
),
near_surv AS (
  SELECT doc_id, source FROM (
    SELECT e.doc_id, e.source,
           row_number() OVER (PARTITION BY c.cluster_id ORDER BY e.doc_id)
             AS rn
    FROM exact_surv e JOIN clusters c USING (doc_id)) WHERE rn = 1
)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(coalesce((SELECT COUNT(*) FROM exact_surv x
                      WHERE x.source = d.source), 0) AS BIGINT) AS n_after_exact,
       CAST(coalesce((SELECT COUNT(*) FROM near_surv nv
                      WHERE nv.source = d.source), 0) AS BIGINT) AS n_after_near,
       round(CAST(coalesce((SELECT COUNT(*) FROM near_surv nv
                            WHERE nv.source = d.source), 0) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS retention
FROM d GROUP BY d.source
"""


# Mirrors text.text_html_strip: identical synthetic HTML shell, identical
# strip chain (RE2 needs the 'g' flag where Spark's regexp_replace is
# implicitly global), roundtrip check against the original text.
ORACLE_SQL["text_html_strip"] = """
WITH w AS (
  SELECT doc_id, text,
         '<html><head><title>doc ' || CAST(doc_id AS VARCHAR)
         || '</title><script>var x = 1 &amp;&amp; 2;</script>'
         || '<style>p { color: red; }</style></head><body>' || chr(10)
         || '<p class="main">' || text || '</p>' || chr(10)
         || '<div>&copy; src &nbsp;footer&lt;end&gt;</div></body></html>'
           AS html
  FROM documents
),
s AS (
  SELECT doc_id, text, html,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(html, '(?s)<script.*?</script>', ' ', 'g'),
                   '(?s)<style.*?</style>', ' ', 'g'),
                 '(?s)<head.*?</head>', ' ', 'g'),
               '<[^>]*>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '), '&copy;', '(c)'),
             '&amp;', '&'),
           '\\s+', ' ', 'g')) AS clean_full
  FROM w
)
SELECT doc_id,
       CAST(length(html) AS BIGINT) AS html_len,
       CAST(length(clean_full) AS BIGINT) AS clean_len,
       CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
       regexp_replace(clean_full, '\\s*\\(c\\) src\\s+footer<end>$', '') = text
         AS roundtrip_ok
FROM s
"""


# Mirrors text.text_hashing_tf: md5-slice bucket (mod 1024), per-(doc,
# bucket) term counts in long form.
ORACLE_SQL["text_hashing_tf"] = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT doc_id,
       CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % 1024 AS bucket,
       COUNT(*) AS tf
FROM tok GROUP BY doc_id, bucket
"""


# Mirrors multimodal.mm_scene_cuts: stride-1 64-char frames, signature =
# first-8-hex of the frame md5 mod 4, lag cut detection, running-sum scene
# ids, per-scene rollup.
ORACLE_SQL["mm_scene_cuts"] = """
WITH f AS (
  SELECT doc_id, text,
         CAST(ceil(length(text) / 64.0) AS BIGINT) AS n_frames,
         unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT))) AS frame_idx
  FROM documents
),
s AS (
  SELECT doc_id, n_frames, CAST(frame_idx AS BIGINT) AS frame_idx,
         CAST('0x' || substr(md5(substring(text,
                CAST(frame_idx AS INTEGER) * 64 + 1, 64)), 1, 8) AS BIGINT)
           % 4 AS sig
  FROM f
),
c AS (
  SELECT doc_id, frame_idx, sig,
         CASE WHEN lag(sig) OVER (PARTITION BY doc_id ORDER BY frame_idx)
                   IS DISTINCT FROM sig THEN 1 ELSE 0 END AS is_cut
  FROM s
),
i AS (
  SELECT doc_id, frame_idx, sig,
         SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
                           ROWS UNBOUNDED PRECEDING) - 1 AS scene_idx
  FROM c
)
SELECT doc_id, CAST(scene_idx AS BIGINT) AS scene_idx,
       MIN(frame_idx) AS start_frame,
       MAX(frame_idx) AS end_frame,
       COUNT(*) AS scene_frames,
       CAST(min(sig) AS BIGINT) AS sig
FROM i GROUP BY doc_id, scene_idx
"""


# --- round-7 additions ------------------------------------------------------

# Mirrors graph.graph_kcore: synchronous peel rounds chained as CTEs. Extra
# rounds past the fixpoint are no-ops (the filter of a converged set is
# itself), so a fixed budget of 24 chained rounds replays Spark's
# converge-then-stop loop exactly as long as the true peel depth is smaller —
# if data ever needed more, the value hashes would mismatch LOUDLY.
def _kcore_sql(k: int = 3, rounds: int = 24) -> str:
    # AS MATERIALIZED is load-bearing: each round references the previous
    # round three times, so inlined CTEs would expand 3^rounds scans.
    ctes = [_PR_GRAPH_CTES, "e0 AS MATERIALIZED (SELECT src, dst FROM edges)"]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""e{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{i - 1} e
  SEMI JOIN (SELECT src FROM e{i - 1} GROUP BY src HAVING COUNT(*) >= {k}) ka
    ON e.src = ka.src
  SEMI JOIN (SELECT src FROM e{i - 1} GROUP BY src HAVING COUNT(*) >= {k}) kb
    ON e.dst = kb.src
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT src AS node, COUNT(*) AS core_degree FROM e{rounds} GROUP BY src
"""
    )


ORACLE_SQL["graph_kcore"] = _kcore_sql(3)

# Mirrors text.text_ngram_novelty: integer `//` bucket arithmetic matches
# Spark's `div`; one double division per output row (novelty_frac); the
# cumulative is an exact-integer running sum over the 16 bucket rows.
ORACLE_SQL["text_ngram_novelty"] = f"""
WITH {{shingles}},
mx AS (SELECT MAX(doc_id) AS max_id FROM documents),
b AS (
  SELECT DISTINCT CAST((doc_id * 16) // (max_id + 1) AS BIGINT) AS bucket,
         shingle
  FROM sh CROSS JOIN mx
),
per_bucket AS (
  SELECT bucket, COUNT(*) AS n_distinct_shingles FROM b GROUP BY bucket
),
novel AS (
  SELECT bucket, COUNT(*) AS n_novel_shingles FROM (
    SELECT shingle, MIN(bucket) AS bucket FROM b GROUP BY shingle
  ) GROUP BY bucket
),
nd AS (
  SELECT CAST((doc_id * 16) // (max_id + 1) AS BIGINT) AS bucket,
         COUNT(*) AS n_docs
  FROM documents CROSS JOIN mx GROUP BY 1
)
SELECT p.bucket, nd.n_docs, p.n_distinct_shingles,
       CAST(COALESCE(novel.n_novel_shingles, 0) AS BIGINT) AS n_novel_shingles,
       CAST(COALESCE(novel.n_novel_shingles, 0) AS DOUBLE)
         / CAST(p.n_distinct_shingles AS DOUBLE) AS novelty_frac,
       CAST(SUM(COALESCE(novel.n_novel_shingles, 0))
              OVER (ORDER BY p.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_novel_shingles
FROM per_bucket p
LEFT JOIN novel USING (bucket)
JOIN nd USING (bucket)
""".replace("{shingles}", _shingle_ctes(3))

# Mirrors multimodal.mm_audio_energy_segments: complete 64-byte frames only,
# exact-integer energy (sum of squared byte values), cross-multiplied
# above-mean test (energy*n_frames > total), gaps-and-islands via the same
# lag + running-sum pair as mm_scene_cuts.
ORACLE_SQL["mm_audio_energy_segments"] = """
WITH base AS (
  SELECT doc_id,
         list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)) AS vals,
         CAST(length(text) // 64 AS BIGINT) AS n_frames
  FROM documents
  WHERE length(text) // 64 >= 1
),
f AS (
  SELECT doc_id, n_frames, vals,
         CAST(unnest(range(0, n_frames)) AS BIGINT) AS frame_idx
  FROM base
),
en AS (
  SELECT doc_id, n_frames, frame_idx,
         CAST(COALESCE(list_sum(list_transform(
                vals[frame_idx * 64 + 1 : frame_idx * 64 + 64],
                x -> x * x)), 0) AS BIGINT) AS energy
  FROM f
),
tot AS (SELECT doc_id, SUM(energy) AS total_energy FROM en GROUP BY doc_id),
act AS (
  SELECT e.doc_id, e.frame_idx, e.energy
  FROM en e JOIN tot t USING (doc_id)
  WHERE e.energy * e.n_frames > t.total_energy
),
isl AS (
  SELECT doc_id, frame_idx, energy,
         CASE WHEN lag(frame_idx) OVER (PARTITION BY doc_id ORDER BY frame_idx)
                   IS NULL THEN 1
              WHEN lag(frame_idx) OVER (PARTITION BY doc_id ORDER BY frame_idx)
                   <> frame_idx - 1 THEN 1
              ELSE 0 END AS is_start
  FROM act
),
seg AS (
  SELECT doc_id, frame_idx, energy,
         SUM(is_start) OVER (PARTITION BY doc_id ORDER BY frame_idx
                             ROWS UNBOUNDED PRECEDING) - 1 AS segment_idx
  FROM isl
)
SELECT doc_id, CAST(segment_idx AS BIGINT) AS segment_idx,
       MIN(frame_idx) AS start_frame,
       MAX(frame_idx) AS end_frame,
       COUNT(*) AS n_active_frames,
       CAST(SUM(energy) AS BIGINT) AS segment_energy
FROM seg GROUP BY doc_id, segment_idx
"""


# Mirrors dedup.dedup_simhash_error_report: Hamming-close candidate pairs
# joined to the exact token-set Jaccard via the candidate-bounded common
# count (pairs x per-side tokens, never a posting self-join), then the
# 9dp-round -> DECIMAL exact-mean pattern per Hamming bucket.
ORACLE_SQL["dedup_simhash_error_report"] = f"""
WITH {_SIMHASH_CTES},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
common AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS c
  FROM pairs p
  JOIN tok a ON a.doc_id = p.doc_a
  JOIN tok b ON b.doc_id = p.doc_b AND b.token = a.token
  GROUP BY 1, 2
),
exact AS (
  SELECT c.doc_a, c.doc_b,
         CAST(c.c AS DOUBLE) / (sa.n + sb.n - c.c) AS true_jac
  FROM common c
  JOIN sizes sa ON c.doc_a = sa.doc_id
  JOIN sizes sb ON c.doc_b = sb.doc_id
),
j AS (
  SELECT p.hamming, COALESCE(x.true_jac, 0.0) AS true_jac
  FROM pairs p LEFT JOIN exact x USING (doc_a, doc_b)
)
SELECT hamming, COUNT(*) AS n_pairs,
       round(CAST(SUM(CAST(round(true_jac, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS avg_true_jaccard,
       MIN(true_jac) + 0.0 AS min_true_jaccard,
       MAX(true_jac) + 0.0 AS max_true_jaccard
FROM j GROUP BY hamming
"""

# Mirrors multimodal.mm_keyframe_select: the scene CTE chain of
# mm_scene_cuts plus the full 60-bit frame hash as sharpness; first-max
# argmax via (sharp DESC, frame_idx ASC) row_number.
ORACLE_SQL["mm_keyframe_select"] = """
WITH f AS (
  SELECT doc_id, text,
         CAST(ceil(length(text) / 64.0) AS BIGINT) AS n_frames,
         unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT))) AS frame_idx
  FROM documents
),
s AS (
  SELECT doc_id, n_frames, CAST(frame_idx AS BIGINT) AS frame_idx,
         CAST('0x' || substr(md5(substring(text,
                CAST(frame_idx AS INTEGER) * 64 + 1, 64)), 1, 8) AS BIGINT)
           % 4 AS sig,
         CAST('0x' || substr(md5(substring(text,
                CAST(frame_idx AS INTEGER) * 64 + 1, 64)), 1, 15) AS BIGINT)
           AS sharp
  FROM f
),
c AS (
  SELECT doc_id, frame_idx, sig, sharp,
         CASE WHEN lag(sig) OVER (PARTITION BY doc_id ORDER BY frame_idx)
                   IS DISTINCT FROM sig THEN 1 ELSE 0 END AS is_cut
  FROM s
),
i AS (
  SELECT doc_id, frame_idx, sharp,
         SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
                           ROWS UNBOUNDED PRECEDING) - 1 AS scene_idx
  FROM c
),
r AS (
  SELECT doc_id, CAST(scene_idx AS BIGINT) AS scene_idx, frame_idx, sharp,
         row_number() OVER (PARTITION BY doc_id, scene_idx
                            ORDER BY sharp DESC, frame_idx ASC) AS rn,
         COUNT(*) OVER (PARTITION BY doc_id, scene_idx) AS scene_frames
  FROM i
)
SELECT doc_id, scene_idx, frame_idx AS keyframe_idx, sharp AS sharpness,
       scene_frames
FROM r WHERE rn = 1
"""


# Mirrors dedup.corpus_near_dup_rate_by_source: the ENTIRE dedup_clusters
# oracle (recursive transitive closure included) reused as a CTE — the
# repo's oracle-composition convention — then a per-source rollup with one
# double division.
ORACLE_SQL["corpus_near_dup_rate_by_source"] = f"""
WITH clusters AS (
{ORACLE_SQL["dedup_clusters"].strip()}
),
sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM clusters GROUP BY cluster_id),
flags AS (
  SELECT c.doc_id, CASE WHEN s.sz > 1 THEN 1 ELSE 0 END AS is_dup
  FROM clusters c JOIN sizes s USING (cluster_id)
)
SELECT d.source, COUNT(*) AS n_docs,
       CAST(SUM(f.is_dup) AS BIGINT) AS n_near_dup,
       CAST(SUM(f.is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS near_dup_frac
FROM documents d JOIN flags f ON d.doc_id = f.doc_id
GROUP BY d.source
"""


# Mirrors similarity.embedding_margin_report: intra pairs block on label,
# inter pairs block on vec_id % 32 (exact 1/B cross-pair sample) and report
# to both endpoint labels; 9dp-round -> DECIMAL exact means; margin
# subtracts the two rounded doubles.
ORACLE_SQL["embedding_margin_report"] = f"""
WITH {_QEMB_CTES},
intra AS (
  SELECT a.label,
         list_dot_product(CAST(a.qv AS DOUBLE[]), CAST(b.qv AS DOUBLE[]))
           / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
),
interp AS (
  SELECT a.label AS label_a, b.label AS label_b,
         list_dot_product(CAST(a.qv AS DOUBLE[]), CAST(b.qv AS DOUBLE[]))
           / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
  FROM n a JOIN n b
    ON (a.vec_id % 32) = (b.vec_id % 32)
   AND a.vec_id < b.vec_id AND a.label <> b.label
),
inter AS (
  SELECT label_a AS label, cosine FROM interp
  UNION ALL
  SELECT label_b AS label, cosine FROM interp
),
ia AS (
  SELECT label, COUNT(*) AS n_intra_pairs,
         round(CAST(SUM(CAST(round(cosine, 9) AS DECIMAL(28,9))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS avg_intra_cosine
  FROM intra GROUP BY label
),
ie AS (
  SELECT label, COUNT(*) AS n_inter_pairs,
         round(CAST(SUM(CAST(round(cosine, 9) AS DECIMAL(28,9))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS avg_inter_cosine
  FROM inter GROUP BY label
)
SELECT COALESCE(ia.label, ie.label) AS label,
       CAST(COALESCE(n_intra_pairs, 0) AS BIGINT) AS n_intra_pairs,
       avg_intra_cosine,
       CAST(COALESCE(n_inter_pairs, 0) AS BIGINT) AS n_inter_pairs,
       avg_inter_cosine,
       avg_intra_cosine - avg_inter_cosine + 0.0 AS margin
FROM ia FULL OUTER JOIN ie USING (label)
"""

# Mirrors graph.graph_common_neighbors: hub cap, wedge join, anti-join of
# existing edges, capped-subgraph degrees, (jaccard DESC, u, v) top-100.
ORACLE_SQL["graph_common_neighbors"] = f"""
WITH {_PR_GRAPH_CTES},
deg0 AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
kept AS (SELECT src FROM deg0 WHERE deg <= 128),
e AS MATERIALIZED (
  SELECT x.src, x.dst FROM edges x
  SEMI JOIN kept ka ON x.src = ka.src
  SEMI JOIN kept kb ON x.dst = kb.src
),
cdeg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
cn AS (
  SELECT e1.dst AS u, e2.dst AS v, COUNT(*) AS n_common
  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
  GROUP BY 1, 2
),
cand AS (
  SELECT c.u, c.v, c.n_common FROM cn c
  ANTI JOIN (SELECT src AS u, dst AS v FROM e WHERE src < dst) x
    ON c.u = x.u AND c.v = x.v
),
scored AS (
  SELECT c.u, c.v, c.n_common,
         CAST(c.n_common AS DOUBLE)
           / CAST(du.deg + dv.deg - c.n_common AS DOUBLE) AS nbr_jaccard
  FROM cand c
  JOIN cdeg du ON c.u = du.src
  JOIN cdeg dv ON c.v = dv.src
),
top AS (
  SELECT * FROM scored ORDER BY nbr_jaccard DESC, u ASC, v ASC LIMIT 100
)
SELECT u, v, n_common, nbr_jaccard,
       row_number() OVER (ORDER BY nbr_jaccard DESC, u ASC, v ASC) AS rank
FROM top
"""


# Mirrors text.corpus_fertility_by_lang: integer token/char sums, two
# single double divisions per lang row.
ORACLE_SQL["corpus_fertility_by_lang"] = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_tokens_per_doc,
       CAST(SUM(length(text)) AS DOUBLE)
         / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS chars_per_token
FROM documents GROUP BY lang
"""


# Mirrors relational.orders_market_basket_rules: bounded basket self-join,
# directional rules, exact-integer counts, one double division each for
# support/confidence/lift.
ORACLE_SQL["orders_market_basket_rules"] = """
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_both
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
rules AS (
  SELECT part_a AS antecedent, part_b AS consequent, n_both FROM pairs
  UNION ALL
  SELECT part_b AS antecedent, part_a AS consequent, n_both FROM pairs
),
po AS (SELECT l_partkey, COUNT(*) AS n_orders FROM basket GROUP BY 1),
tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_total_orders FROM basket)
SELECT r.antecedent, r.consequent, CAST(r.n_both AS BIGINT) AS n_both,
       CAST(na.n_orders AS BIGINT) AS n_antecedent,
       CAST(nc.n_orders AS BIGINT) AS n_consequent,
       CAST(r.n_both AS DOUBLE) / CAST(t.n_total_orders AS DOUBLE) AS support,
       CAST(r.n_both AS DOUBLE) / CAST(na.n_orders AS DOUBLE) AS confidence,
       CAST(r.n_both * t.n_total_orders AS DOUBLE)
         / CAST(na.n_orders * nc.n_orders AS DOUBLE) AS lift
FROM rules r
JOIN po na ON r.antecedent = na.l_partkey
JOIN po nc ON r.consequent = nc.l_partkey
CROSS JOIN tot t
WHERE CAST(r.n_both AS DOUBLE) / CAST(na.n_orders AS DOUBLE) >= 0.2
"""

# Mirrors dedup.dedup_cluster_quality_report: the full dedup_clusters
# oracle nested as a CTE (assignments) plus the est-pair chain (the same
# MinHash formula constants), one doc-keyed pair->cluster join, DECIMAL
# exact mean, integer density ratio divided once.
ORACLE_SQL["dedup_cluster_quality_report"] = f"""
WITH clusters AS (
{ORACLE_SQL["dedup_clusters"].strip()}
),
{_shingle_ctes(3, max_df=DEDUP_MAX_DF)},
{_MINHASH_HALVES},
sig AS (SELECT doc_id, {_MINHASH_COLS} FROM mh GROUP BY doc_id),
bands AS ({_MINHASH_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
est AS (
  SELECT doc_a, doc_b, ({_MINHASH_MATCHES}) / 16.0 AS est_jaccard
  FROM cand
  JOIN sig sa ON doc_a = sa.doc_id
  JOIN sig sb ON doc_b = sb.doc_id
),
admitted AS (SELECT * FROM est WHERE est_jaccard >= 0.5),
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size
  FROM clusters GROUP BY cluster_id HAVING COUNT(*) > 1
),
mapped AS (
  SELECT c.cluster_id, a.est_jaccard
  FROM admitted a JOIN clusters c ON a.doc_a = c.doc_id
),
per_cluster AS (
  SELECT cluster_id, COUNT(*) AS n_pairs,
         round(CAST(SUM(CAST(round(est_jaccard, 9) AS DECIMAL(28,9))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS avg_est_jaccard
  FROM mapped GROUP BY cluster_id
)
SELECT s.cluster_id, s.cluster_size,
       CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       p.avg_est_jaccard,
       CAST(COALESCE(p.n_pairs, 0) * 2 AS DOUBLE)
         / CAST(s.cluster_size * (s.cluster_size - 1) AS DOUBLE) AS edge_density
FROM sizes s LEFT JOIN per_cluster p USING (cluster_id)
"""


# Mirrors streaming/windows.stream_first_touch_attribution: per-user argmin
# on (epoch_us, event_id) — unique tie-break — with exact integer
# floor-division to seconds; complete mode on the bounded fixture equals
# this batch window.
ORACLE_SQL["stream_first_touch_attribution"] = """
WITH t AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
         CAST(value AS DECIMAL(12,2)) AS value
  FROM events
),
r AS (
  SELECT user_id, us, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY us ASC, event_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_events
  FROM t
)
SELECT user_id,
       CAST(us // 1000000 AS BIGINT) AS first_epoch_s,
       event_id AS first_event_id,
       event_type AS first_event_type,
       CAST(value AS DOUBLE) AS first_value,
       CAST(n_events AS BIGINT) AS n_events
FROM r WHERE rn = 1
"""


# Mirrors text.text_word_pmi: one exact integer ratio per pair, one ln,
# 6dp round BEFORE ranking so the (pmi DESC, w1, w2) top-100 is
# engine-identical.
ORACLE_SQL["text_word_pmi"] = """
WITH toks AS (
  SELECT string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
pairs AS (
  SELECT unnest(list_transform(range(1, len(t)),
                               i -> {'w1': t[i], 'w2': t[i + 1]})) AS p
  FROM toks
),
pc AS (
  SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS n_ab
  FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 5
),
uni AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
uc AS (SELECT w, COUNT(*) AS n_w FROM uni GROUP BY w),
tt AS (SELECT SUM(n_w) AS t_tokens FROM uc),
tp AS (SELECT COUNT(*) AS t_pairs FROM pairs),
scored AS (
  SELECT pc.w1, pc.w2, CAST(pc.n_ab AS BIGINT) AS n_ab,
         CAST(na.n_w AS BIGINT) AS n_a, CAST(nb.n_w AS BIGINT) AS n_b,
         round(ln(CAST(pc.n_ab * tt.t_tokens * tt.t_tokens AS DOUBLE)
                  / CAST(tp.t_pairs * na.n_w * nb.n_w AS DOUBLE)), 6) + 0.0
           AS pmi
  FROM pc
  JOIN uc na ON pc.w1 = na.w
  JOIN uc nb ON pc.w2 = nb.w
  CROSS JOIN tt CROSS JOIN tp
),
top AS (SELECT * FROM scored ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 100)
SELECT w1, w2, n_ab, n_a, n_b, pmi,
       row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rank
FROM top
"""


# Mirrors relational.brand_price_regression: exact DECIMAL sufficient
# statistics, then the IDENTICAL closed-form double expression tree
# (n·Sxy−SxSy over n·Sxx−Sx², squared-covariance r²) — bit-identical.
ORACLE_SQL["brand_price_regression"] = """
WITH s AS (
  SELECT p.p_brand,
         COUNT(*) AS n_rows,
         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
         SUM(CAST(l_quantity AS DECIMAL(12,2))
             * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy,
         SUM(CAST(l_quantity AS DECIMAL(12,2))
             * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
),
d AS (
  SELECT p_brand, n_rows,
         CAST(n_rows AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         CAST(n_rows AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
         CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
         CAST(n_rows AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
  FROM s
)
SELECT p_brand, n_rows,
       num / denx AS slope,
       (syd - (num / denx) * sxd) / nd AS intercept,
       (num * num) / (denx * deny) AS r2
FROM d
WHERE n_rows >= 2 AND denx <> 0 AND deny <> 0
"""


# Mirrors graph.graph_shortest_paths: same co-occurrence graph, seeds =
# the 3 smallest node ids, min hop distance per reachable node via a
# recursive CTE; the dist < 64 guard equals SP_MAX_ROUNDS (sync-pinned).
ORACLE_SQL["graph_shortest_paths"] = f"""
WITH RECURSIVE {_PR_GRAPH_CTES},
nodes AS (SELECT DISTINCT src AS node FROM edges),
seeds AS (SELECT node FROM nodes ORDER BY node LIMIT 3),
walk(node, dist) AS (
  SELECT node, CAST(0 AS BIGINT) FROM seeds
  UNION
  SELECT e.dst, w.dist + 1
  FROM walk w JOIN edges e ON w.node = e.src
  WHERE w.dist < 64
)
SELECT node, MIN(dist) AS dist FROM walk GROUP BY node
"""


# Mirrors relational.approx_distinct_hll: 60-bit md5 hash, register =
# h mod 64, rank = 55 − bitlength of the upper 54 bits (exact, via bin()),
# harmonic denominator as exact BIGINTs at scale 2^56, identical
# alpha/branch/linear-counting double trees. Constants sync-pinned.
ORACLE_SQL["approx_distinct_hll"] = """
WITH h AS (
  SELECT event_type,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM events
),
r AS (
  SELECT event_type, h % 64 AS register,
         CASE WHEN h // 64 = 0 THEN 55
              ELSE 55 - length(bin(h // 64)) END AS rank
  FROM h
),
regs AS (
  SELECT event_type, register, MAX(rank) AS m
  FROM r GROUP BY event_type, register
),
pt AS (
  SELECT event_type, COUNT(*) AS n_regs,
         SUM(CAST(1 AS BIGINT) << CAST(56 - m AS INTEGER)) AS sum_pow
  FROM regs GROUP BY event_type
),
ex AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events
  GROUP BY event_type
),
est AS (
  SELECT pt.event_type, ex.n_exact,
         CASE WHEN (64 - n_regs) > 0
               AND (0.7213 / (1.0 + 1.079 / 64.0) * 4096.0
                    * 72057594037927936.0
                    / CAST(sum_pow + (64 - n_regs)
                           * CAST(72057594037927936 AS BIGINT) AS DOUBLE))
                   <= 160.0
              THEN 64.0 * ln(64.0 / CAST(64 - n_regs AS DOUBLE))
              ELSE 0.7213 / (1.0 + 1.079 / 64.0) * 4096.0
                   * 72057594037927936.0
                   / CAST(sum_pow + (64 - n_regs)
                          * CAST(72057594037927936 AS BIGINT) AS DOUBLE)
         END AS e
  FROM pt JOIN ex ON pt.event_type = ex.event_type
)
SELECT event_type, n_exact,
       round(e, 6) AS hll_estimate,
       round(abs(round(e, 6) - CAST(n_exact AS DOUBLE))
             / CAST(n_exact AS DOUBLE), 6) AS rel_error
FROM est
"""

# Mirrors text.text_heavy_hitters_cms: 4×256 counter table from the
# counted vocabulary, row-wise MIN estimate for the exact top-50 tokens.
# Pure integer arithmetic; geometry constants sync-pinned.
ORACLE_SQL["text_heavy_hitters_cms"] = """
WITH counts AS (
  SELECT token, COUNT(*) AS true_count
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
),
expanded AS (
  SELECT token, true_count, u.j,
         CAST('0x' || substr(md5(CAST(u.j AS VARCHAR) || ':' || token), 1, 15)
              AS BIGINT) % 256 AS bucket
  FROM counts
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) u
),
cells AS (
  SELECT j, bucket, CAST(SUM(true_count) AS BIGINT) AS cell_sum
  FROM expanded GROUP BY j, bucket
),
top AS (
  SELECT token, true_count FROM counts
  ORDER BY true_count DESC, token ASC LIMIT 50
),
est AS (
  SELECT t.token, t.true_count, MIN(c.cell_sum) AS cms_estimate
  FROM top t
  JOIN (SELECT token, true_count, u.j,
               CAST('0x' || substr(md5(CAST(u.j AS VARCHAR) || ':' || token),
                                   1, 15) AS BIGINT) % 256 AS bucket
        FROM top, (SELECT unnest(generate_series(0, 3)) AS j) u) q
    ON t.token = q.token
  JOIN cells c ON q.j = c.j AND q.bucket = c.bucket
  GROUP BY t.token, t.true_count
)
SELECT token, true_count, cms_estimate,
       cms_estimate - true_count AS overestimate,
       row_number() OVER (ORDER BY true_count DESC, token ASC) AS rank
FROM est
"""

# Mirrors curation.privacy_k_anonymity: QI tuple hash aggregate, band =
# floor(acctbal/1000), k = 5 — sync-pinned.
ORACLE_SQL["privacy_k_anonymity"] = """
SELECT c_mktsegment,
       CAST(c_nationkey AS BIGINT) AS nation_key,
       CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band,
       COUNT(*) AS class_size,
       CAST(CASE WHEN COUNT(*) >= 5 THEN 1 ELSE 0 END AS BIGINT)
         AS is_k_anonymous,
       1.0 / CAST(COUNT(*) AS DOUBLE) AS reident_risk
FROM customer
GROUP BY c_mktsegment, c_nationkey, CAST(floor(c_acctbal / 1000.0) AS BIGINT)
"""


# Mirrors similarity.embedding_covariance: quantized integers, dim-pair
# self-join (i ≤ j), exact HUGEINT cross-products (Spark: DECIMAL), one
# double division / sqrt at the end; corr rounded 9dp on both sides.
ORACLE_SQL["embedding_covariance"] = """
WITH pe AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000, 0) AS BIGINT) AS x
  FROM embeddings
),
pairs AS (
  SELECT a.dim AS dim_i, b.dim AS dim_j, a.x AS xi, b.x AS xj
  FROM pe a JOIN pe b ON a.vec_id = b.vec_id AND a.dim <= b.dim
),
agg AS (
  SELECT dim_i, dim_j, COUNT(*) AS n_vecs,
         SUM(xi) AS sx, SUM(xj) AS sy,
         SUM(xi * xi) AS sxx, SUM(xj * xj) AS syy, SUM(xi * xj) AS sxy
  FROM pairs GROUP BY dim_i, dim_j
),
wide AS (
  SELECT dim_i, dim_j, n_vecs,
         CAST(n_vecs AS HUGEINT) * CAST(sxy AS HUGEINT)
           - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS num,
         CAST(n_vecs AS HUGEINT) * CAST(sxx AS HUGEINT)
           - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS varx,
         CAST(n_vecs AS HUGEINT) * CAST(syy AS HUGEINT)
           - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS vary
  FROM agg
)
SELECT dim_i, dim_j, n_vecs,
       CAST(num AS DOUBLE)
         / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs AS DOUBLE) * 1000000.0) AS cov,
       CASE WHEN CAST(varx AS DOUBLE) * CAST(vary AS DOUBLE) <> 0.0
            THEN round(CAST(num AS DOUBLE)
                       / sqrt(CAST(varx AS DOUBLE) * CAST(vary AS DOUBLE)), 9)
            ELSE NULL END AS corr
FROM wide
"""

# Mirrors curation.corpus_weighted_sample: Efraimidis–Spirakis keys from
# the 60-bit md5 uniform, k smallest with doc_id tie-break. Constants
# (k=100, 2^60 domain) sync-pinned.
ORACLE_SQL["corpus_weighted_sample"] = """
WITH keyed AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         round(
           -ln(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0)
           / CAST(len(string_split(text, ' ')) AS DOUBLE), 12) AS es_key
  FROM documents
),
top AS (
  SELECT * FROM keyed ORDER BY es_key ASC, doc_id ASC LIMIT 100
)
SELECT doc_id, source, n_tokens, es_key,
       row_number() OVER (ORDER BY es_key ASC, doc_id ASC) AS rank
FROM top
"""


# Mirrors relational.er_blocking_pairs: (first word, size) blocks, cap 64,
# levenshtein <= 2 — identical integer edit distance. Sync-pinned.
ORACLE_SQL["er_blocking_pairs"] = """
WITH keyed AS (
  SELECT string_split(p_name, ' ')[1] AS block_word,
         CAST(p_size AS BIGINT) AS p_size, p_partkey, p_name
  FROM part
),
sizes AS (
  SELECT block_word, p_size, COUNT(*) AS block_size
  FROM keyed GROUP BY block_word, p_size
),
blocked AS (
  SELECT k.*, s.block_size
  FROM keyed k JOIN sizes s USING (block_word, p_size)
  WHERE s.block_size <= 64
)
SELECT a.block_word, a.p_size, a.block_size,
       a.p_partkey AS part_a, b.p_partkey AS part_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev_dist
FROM blocked a
JOIN blocked b
  ON a.block_word = b.block_word AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""

# Mirrors graph.graph_lpa_communities: fixed synchronous supersteps with
# (count DESC, label ASC) tie-break; AS MATERIALIZED is load-bearing
# (edges and each round are referenced downstream — without it DuckDB
# inlines the chain exponentially).
def _lpa_sql(rounds: int = 4) -> str:
    ctes = [
        _PR_GRAPH_CTES,
        "e0 AS MATERIALIZED (SELECT src, dst FROM edges)",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node,"
        " CAST(src AS BIGINT) AS label FROM e0)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""l{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT e.dst AS node, l.label, COUNT(*) AS c,
           row_number() OVER (PARTITION BY e.dst
                              ORDER BY COUNT(*) DESC, l.label ASC) AS rn
    FROM e0 e JOIN l{i - 1} l ON e.src = l.node
    GROUP BY e.dst, l.label
  ) WHERE rn = 1
)""".strip()
        )
    ctes.append(
        f"sizes AS (SELECT label, COUNT(*) AS community_size"
        f" FROM l{rounds} GROUP BY label)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT l.node, l.label AS community, s.community_size
FROM l{rounds} l JOIN sizes s USING (label)
"""
    )


ORACLE_SQL["graph_lpa_communities"] = _lpa_sql()


# Mirrors similarity.embedding_pca_power_iteration: exact HUGEINT
# covariance numerators, PI_SQUARINGS repeated matrix squarings with the
# nonneg-shifted floor rescale to ±1e6, heaviest-column eigenvector
# extraction, identical sign convention and Rayleigh quotient.
# AS MATERIALIZED is load-bearing per round.
def _pca_power_sql(squarings: int = 12, scale: int = 1_000_000) -> str:
    ctes = [
        """pe AS MATERIALIZED (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000, 0) AS BIGINT) AS x
  FROM embeddings
)""".strip(),
        """nm AS MATERIALIZED (
  SELECT a.dim AS dim_i, b.dim AS dim_j, COUNT(*) AS n_vecs,
         CAST(COUNT(*) AS HUGEINT) * CAST(SUM(a.x * b.x) AS HUGEINT)
           - CAST(SUM(a.x) AS HUGEINT) * CAST(SUM(b.x) AS HUGEINT) AS num
  FROM pe a JOIN pe b ON a.vec_id = b.vec_id
  GROUP BY a.dim, b.dim
)""".strip(),
        f"""m0 AS MATERIALIZED (
  SELECT dim_i, dim_j,
         CASE WHEN mm.m = 0 THEN num
              ELSE ((num + mm.m) * {scale}) // mm.m - {scale} END AS v
  FROM nm CROSS JOIN (SELECT MAX(abs(num)) AS m FROM nm) mm
)""".strip(),
    ]
    for i in range(1, squarings + 1):
        ctes.append(
            f"""p{i} AS MATERIALIZED (
  SELECT a.dim_i, b.dim_j, SUM(a.v * b.v) AS p
  FROM m{i - 1} a JOIN m{i - 1} b ON a.dim_j = b.dim_i
  GROUP BY a.dim_i, b.dim_j
)""".strip()
        )
        ctes.append(
            f"""m{i} AS MATERIALIZED (
  SELECT dim_i, dim_j,
         CASE WHEN mm.m = 0 THEN p
              ELSE ((p + mm.m) * {scale}) // mm.m - {scale} END AS v
  FROM p{i} CROSS JOIN (SELECT MAX(abs(p)) AS m FROM p{i}) mm
)""".strip()
        )
    last = f"m{squarings}"
    ctes.append(
        f"""best AS (
  SELECT dim_j FROM (
    SELECT dim_j, SUM(abs(v)) AS mass FROM {last} GROUP BY dim_j
  ) ORDER BY mass DESC, dim_j ASC LIMIT 1
)""".strip()
    )
    ctes.append(
        f"uvec AS (SELECT m.dim_i AS dim, m.v AS u FROM {last} m"
        f" JOIN best USING (dim_j))"
    )
    ctes.append(
        f"""vn AS MATERIALIZED (
  SELECT dim,
         CASE WHEN mm.m = 0 THEN {scale}
              ELSE ((u + mm.m) * {scale}) // mm.m - {scale} END AS v
  FROM uvec CROSS JOIN (SELECT MAX(abs(u)) AS m FROM uvec) mm
)""".strip()
    )
    ctes.append(
        "sgn AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS s"
        " FROM vn WHERE v <> 0 ORDER BY dim LIMIT 1)"
    )
    ctes.append(
        "sv AS MATERIALIZED (SELECT dim, v * (SELECT s FROM sgn) AS v FROM vn)"
    )
    ctes.append(
        "ray AS (SELECT SUM(vi.v * nm.num * vj.v) AS vnv,"
        " MAX(nm.n_vecs) AS n_vecs"
        " FROM nm JOIN sv vj ON nm.dim_j = vj.dim"
        " JOIN sv vi ON nm.dim_i = vi.dim)"
    )
    ctes.append("vtv AS (SELECT SUM(v * v) AS vtv FROM sv)")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT sv.dim, CAST(sv.v AS DOUBLE) / {scale}.0 AS loading,
       CAST(r.vnv AS DOUBLE) / CAST(t.vtv AS DOUBLE)
         / (CAST(r.n_vecs AS DOUBLE) * CAST(r.n_vecs AS DOUBLE) * 1000000.0)
         AS eigenvalue
FROM sv CROSS JOIN ray r CROSS JOIN vtv t
"""
    )


ORACLE_SQL["embedding_pca_power_iteration"] = _pca_power_sql()


# Mirrors dedup.dedup_minhash_lev_verify: the production LSH candidate
# oracle reused verbatim as a CTE, then the identical integer edit
# distance + 6dp normalized ratio and the 0.2 confirm threshold.
ORACLE_SQL["dedup_minhash_lev_verify"] = f"""
WITH cand AS ({ORACLE_SQL["dedup_minhash_lsh"]})
SELECT c.doc_a, c.doc_b, c.est_jaccard,
       CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev_dist,
       CAST(length(da.text) AS BIGINT) AS len_a,
       CAST(length(db.text) AS BIGINT) AS len_b,
       round(CAST(levenshtein(da.text, db.text) AS DOUBLE)
             / CAST(greatest(length(da.text), length(db.text)) AS DOUBLE),
             6) AS norm_lev,
       CAST(CASE WHEN round(CAST(levenshtein(da.text, db.text) AS DOUBLE)
                            / CAST(greatest(length(da.text),
                                            length(db.text)) AS DOUBLE), 6)
                      <= 0.2
                 THEN 1 ELSE 0 END AS BIGINT) AS is_dup
FROM cand c
JOIN documents da ON c.doc_a = da.doc_id
JOIN documents db ON c.doc_b = db.doc_id
"""

# Mirrors text.corpus_perplexity_filter_sweep: the held-out bigram-LM
# scorer oracle reused verbatim as a CTE, threshold unnest, exact-decimal
# kept-pool mean with CASE-NULL for empty pools.
ORACLE_SQL["corpus_perplexity_filter_sweep"] = f"""
WITH pp AS ({ORACLE_SQL["text_bigram_lm_perplexity"]}),
j AS (
  SELECT d.lang, pp.perplexity
  FROM pp JOIN documents d ON pp.doc_id = d.doc_id
),
sw AS (
  SELECT lang, perplexity, u.threshold
  FROM j CROSS JOIN (SELECT CAST(unnest([30.5, 30.8, 31.0, 31.5, 32.0]) AS DOUBLE) AS threshold) u
)
SELECT threshold, lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN perplexity <= threshold THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN perplexity <= threshold THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS kept_frac,
       CASE WHEN SUM(CASE WHEN perplexity <= threshold THEN 1 ELSE 0 END) > 0
            THEN round(
              CAST(SUM(CASE WHEN perplexity <= threshold
                            THEN CAST(perplexity AS DECIMAL(28,9)) END)
                   AS DOUBLE)
              / CAST(SUM(CASE WHEN perplexity <= threshold THEN 1 ELSE 0 END)
                     AS DOUBLE), 6)
            ELSE NULL END AS mean_ppl_kept
FROM sw GROUP BY threshold, lang
"""


# Mirrors text.text_blocklist_filter: token-exact list matching
# (list_filter / list_intersect — no regex), blocklist sync-pinned.
ORACLE_SQL["text_blocklist_filter"] = """
SELECT doc_id, source,
       CAST(len(list_filter(string_split(text, ' '),
                            t -> t = 'slow' OR t = 'dup')) AS BIGINT) AS n_hits,
       CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                               ['slow', 'dup'])) AS BIGINT) AS n_blocked_terms,
       CAST(CASE WHEN len(list_filter(string_split(text, ' '),
                                      t -> t = 'slow' OR t = 'dup')) > 0
                 THEN 1 ELSE 0 END AS BIGINT) AS is_blocked
FROM documents
"""


# Mirrors graph.graph_personalized_pagerank: seed-indicator teleport,
# seed-concentrated start vector, identical scaled-integer supersteps.
def _ppr_sql(n_iter: int = 10) -> str:
    ctes = [
        _PR_GRAPH_CTES,
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)",
        "ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src))",
        "nodes AS (SELECT DISTINCT src AS node FROM edges)",
        "sd AS (SELECT node FROM nodes ORDER BY node LIMIT 3)",
        "ns AS (SELECT COUNT(*) AS c FROM sd)",
        "fl AS MATERIALIZED (SELECT n.node,"
        " CAST(CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_seed"
        " FROM nodes n LEFT JOIN sd s ON n.node = s.node)",
        "pr0 AS (SELECT node, is_seed,"
        " CASE WHEN is_seed = 1"
        " THEN 1000000000000000 // (SELECT c FROM ns) ELSE 0 END AS pr FROM fl)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""pr{i} AS (
  SELECT f.node, f.is_seed,
         CASE WHEN f.is_seed = 1
              THEN (1000000000000000 * 15) // 100 // (SELECT c FROM ns)
              ELSE 0 END
           + (COALESCE(s.s, 0) * 85) // 100 AS pr
  FROM fl f LEFT JOIN (
    SELECT e.dst AS node, SUM(p.pr // e.outdeg) AS s
    FROM pr{i - 1} p JOIN ed e ON p.node = e.src
    GROUP BY e.dst
  ) s USING (node)
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node, is_seed, CAST(pr AS BIGINT) AS pr_scaled,
       CAST(pr AS DOUBLE) / 1000000000000000.0 AS pagerank
FROM pr{n_iter}
"""
    )


ORACLE_SQL["graph_personalized_pagerank"] = _ppr_sql(10)

# Mirrors streaming.windows.stream_hll_distinct: batch replay of the
# windowed register max-merge + the shared HLL finalize (complete mode on
# the bounded fixture == batch). Hour buckets via integer epoch math.
ORACLE_SQL["stream_hll_distinct"] = """
WITH h AS (
  SELECT CAST((epoch_us(ts) // 1000000) // 3600 * 3600 AS BIGINT)
           AS window_start_epoch,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM events
),
r AS (
  SELECT window_start_epoch, h % 64 AS register,
         CASE WHEN h // 64 = 0 THEN 55
              ELSE 55 - length(bin(h // 64)) END AS rank
  FROM h
),
regs AS (
  SELECT window_start_epoch, register, MAX(rank) AS m
  FROM r GROUP BY window_start_epoch, register
),
pt AS (
  SELECT window_start_epoch, COUNT(*) AS n_regs,
         SUM(CAST(1 AS BIGINT) << CAST(56 - m AS INTEGER)) AS sum_pow
  FROM regs GROUP BY window_start_epoch
)
SELECT window_start_epoch, n_regs,
       CASE WHEN (64 - n_regs) > 0
             AND (0.7213 / (1.0 + 1.079 / 64.0) * 4096.0
                  * 72057594037927936.0
                  / CAST(sum_pow + (64 - n_regs)
                         * CAST(72057594037927936 AS BIGINT) AS DOUBLE))
                 <= 160.0
            THEN round(64.0 * ln(64.0 / CAST(64 - n_regs AS DOUBLE)), 6)
            ELSE round(0.7213 / (1.0 + 1.079 / 64.0) * 4096.0
                       * 72057594037927936.0
                       / CAST(sum_pow + (64 - n_regs)
                              * CAST(72057594037927936 AS BIGINT) AS DOUBLE), 6)
       END AS hll_estimate
FROM pt
"""


# Mirrors graph.graph_closeness_centrality: same co-occurrence graph,
# sources = the 4 highest-degree nodes (degree DESC, node ASC — LIMIT 4
# sync-pinned with CLOSE_N_SOURCES), per-source min hop distance via the
# recursive CTE, closeness = (n_reached − 1) / Σdist as one exact-integer
# division; the w.dist < 64 guard equals CLOSE_MAX_ROUNDS.
ORACLE_SQL["graph_closeness_centrality"] = f"""
WITH RECURSIVE {_PR_GRAPH_CTES},
deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY src),
roots AS (
  SELECT src AS root, degree FROM deg ORDER BY degree DESC, src LIMIT 4
),
walk(root, node, dist) AS (
  SELECT root, root, CAST(0 AS BIGINT) FROM roots
  UNION
  SELECT w.root, e.dst, w.dist + 1
  FROM walk w JOIN edges e ON w.node = e.src
  WHERE w.dist < 64
),
best AS (SELECT root, node, MIN(dist) AS dist FROM walk GROUP BY 1, 2)
SELECT r.root, CAST(r.degree AS BIGINT) AS degree,
       COUNT(*) AS n_reached, CAST(SUM(b.dist) AS BIGINT) AS sum_dist,
       CASE WHEN SUM(b.dist) > 0
            THEN CAST(COUNT(*) - 1 AS DOUBLE) / CAST(SUM(b.dist) AS DOUBLE)
            ELSE NULL END AS closeness
FROM best b JOIN roots r ON r.root = b.root
GROUP BY r.root, r.degree
"""

# Mirrors graph.graph_assortativity: degrees hung on both endpoints of the
# symmetric edge list, Pearson r from exact HUGEINT sufficient statistics
# (Spark: DECIMAL(38,0)) with the identical double subtraction/sqrt/divide
# tree.
ORACLE_SQL["graph_assortativity"] = f"""
WITH {_PR_GRAPH_CTES},
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
pe AS (
  SELECT CAST(a.deg AS HUGEINT) AS dx, CAST(b.deg AS HUGEINT) AS dy
  FROM edges e
  JOIN deg a ON a.src = e.src
  JOIN deg b ON b.src = e.dst
),
s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(dx) AS DOUBLE) AS sx, CAST(SUM(dy) AS DOUBLE) AS sy,
         CAST(SUM(dx * dy) AS DOUBLE) AS sxy,
         CAST(SUM(dx * dx) AS DOUBLE) AS sxx,
         CAST(SUM(dy * dy) AS DOUBLE) AS syy
  FROM pe
)
SELECT n AS n_edges,
       CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
             AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0
            THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                        * (CAST(n AS DOUBLE) * syy - sy * sy))
            ELSE NULL END AS assortativity
FROM s
"""


def _mmr_sql(k: int = 5, pool: int = 16) -> str:
    """Chained-CTE replay of similarity.sim_mmr_diversify: greedy step i
    picks argmax 0.7·rel − 0.3·maxsim over pool ∖ acc_{i−1} (mmr DESC,
    vec_id ASC tie-break). accN is AS MATERIALIZED — each is referenced
    three times by the next step and inline expansion is exponential."""
    ctes = [
        _QEMB_CTES,
        "qr AS (SELECT qv AS qq, nrm AS nq FROM n WHERE vec_id = 0)",
        """scored AS (
  SELECT a.vec_id, a.qv, a.nrm,
         list_dot_product(CAST(qr.qq AS DOUBLE[]), CAST(a.qv AS DOUBLE[]))
           / (sqrt(qr.nq) * sqrt(a.nrm)) AS rel
  FROM n a CROSS JOIN qr WHERE a.vec_id != 0
)""",
        f"""pool AS MATERIALIZED (
  SELECT vec_id, qv, nrm, rel
  FROM (SELECT *, row_number() OVER (ORDER BY rel DESC, vec_id ASC) AS rn
        FROM scored)
  WHERE rn <= {pool}
)""",
        """sims AS MATERIALIZED (
  SELECT a.vec_id AS ida, b.vec_id AS idb,
         list_dot_product(CAST(a.qv AS DOUBLE[]), CAST(b.qv AS DOUBLE[]))
           / (sqrt(a.nrm) * sqrt(b.nrm)) AS sim
  FROM pool a JOIN pool b ON a.vec_id != b.vec_id
)""",
        """acc1 AS MATERIALIZED (
  SELECT vec_id, rel, 0.7 * rel AS mmr, CAST(1 AS BIGINT) AS rank
  FROM pool ORDER BY rel DESC, vec_id ASC LIMIT 1
)""",
    ]
    for i in range(2, k + 1):
        ctes.append(
            f"""s{i} AS (
  SELECT vec_id, rel, 0.7 * rel - 0.3 * maxsim AS mmr,
         CAST({i} AS BIGINT) AS rank
  FROM (SELECT p.vec_id, p.rel, MAX(s.sim) AS maxsim
        FROM pool p JOIN sims s ON s.ida = p.vec_id
        WHERE s.idb IN (SELECT vec_id FROM acc{i - 1})
          AND p.vec_id NOT IN (SELECT vec_id FROM acc{i - 1})
        GROUP BY p.vec_id, p.rel)
  ORDER BY mmr DESC, vec_id ASC LIMIT 1
)""",
        )
        ctes.append(
            f"acc{i} AS MATERIALIZED "
            f"(SELECT * FROM acc{i - 1} UNION ALL SELECT * FROM s{i})"
        )
    body = ",\n".join(ctes)
    return f"WITH {body}\nSELECT rank, vec_id, rel, mmr FROM acc{k}"


ORACLE_SQL["sim_mmr_diversify"] = _mmr_sql()


def _modularity_sql(rounds: int = 4) -> str:
    """Chained-CTE replay of graph.graph_modularity: the LPA label chain
    (same CTEs as _lpa_sql), edge tagging by endpoint community, and the
    exact-integer modularity rollup (HUGEINT products, one double
    division by E₂² per row — mirrored by the Spark DECIMAL(38,0) path)."""
    ctes = [
        _PR_GRAPH_CTES,
        "e0 AS MATERIALIZED (SELECT src, dst FROM edges)",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node,"
        " CAST(src AS BIGINT) AS label FROM e0)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""l{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT e.dst AS node, l.label, COUNT(*) AS c,
           row_number() OVER (PARTITION BY e.dst
                              ORDER BY COUNT(*) DESC, l.label ASC) AS rn
    FROM e0 e JOIN l{i - 1} l ON e.src = l.node
    GROUP BY e.dst, l.label
  ) WHERE rn = 1
)""".strip()
        )
    ctes += [
        f"""tagged AS (
  SELECT ls.label AS cs, ld.label AS cd
  FROM e0 e
  JOIN l{rounds} ls ON e.src = ls.node
  JOIN l{rounds} ld ON e.dst = ld.node
)""",
        """per_c AS MATERIALIZED (
  SELECT cs AS community, COUNT(*) AS degree_sum,
         CAST(SUM(CASE WHEN cs = cd THEN 1 ELSE 0 END) AS BIGINT)
           AS internal_deg
  FROM tagged GROUP BY cs
)""",
        f"nn AS (SELECT label AS community, COUNT(*) AS n_nodes"
        f" FROM l{rounds} GROUP BY label)",
        "tot AS (SELECT CAST(SUM(degree_sum) AS HUGEINT) AS e2 FROM per_c)",
        """en AS MATERIALIZED (
  SELECT p.community, n.n_nodes, p.internal_deg, p.degree_sum, t.e2,
         CAST(p.internal_deg AS HUGEINT) * t.e2
           - CAST(p.degree_sum AS HUGEINT) * CAST(p.degree_sum AS HUGEINT)
           AS num
  FROM per_c p JOIN nn n USING (community) CROSS JOIN tot t
)""",
        "g AS (SELECT CAST(SUM(num) AS HUGEINT) AS qnum FROM en)",
    ]
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT community, n_nodes, internal_deg, degree_sum,
       CAST(num AS DOUBLE) / (CAST(e2 AS DOUBLE) * CAST(e2 AS DOUBLE))
         AS contribution,
       CAST(g.qnum AS DOUBLE) / (CAST(e2 AS DOUBLE) * CAST(e2 AS DOUBLE))
         AS modularity_q
FROM en CROSS JOIN g"""


ORACLE_SQL["graph_modularity"] = _modularity_sql()


def _logit_sql(steps: int = 8) -> str:
    """Chained-CTE replay of relational.events_logistic_regression: each
    w{i} CTE is one full-batch gradient step against the previous weights
    (9dp-rounded DECIMAL(38,9) term sums, the identical η=0.1 double
    update tree, clip-±30 sigmoid); feats is AS MATERIALIZED so the
    projection is computed once, like the Spark checkpoint."""

    def sig(z: str) -> str:
        return f"1.0 / (1.0 + exp(-greatest(least({z}, 30.0), -30.0)))"

    ctes = [
        """feats AS MATERIALIZED (
  SELECT value / 100.0 AS x,
         CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
  FROM events
)""",
        "w0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b)",
    ]
    for i in range(1, steps + 1):
        p = sig("w.a + w.b * f.x")
        ctes.append(
            f"""w{i} AS (
  SELECT w.a - 0.1 * (CAST(SUM(CAST(round({p} - f.y, 9)
                                    AS DECIMAL(38,9))) AS DOUBLE)
                      / COUNT(*)) AS a,
         w.b - 0.1 * (CAST(SUM(CAST(round(({p} - f.y) * f.x, 9)
                                    AS DECIMAL(38,9))) AS DOUBLE)
                      / COUNT(*)) AS b
  FROM feats f CROSS JOIN w{i - 1} w
  GROUP BY w.a, w.b
)"""
        )
    pf = sig("w.a + w.b * f.x")
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT COUNT(*) AS n, w.a AS intercept, w.b AS coef,
       CAST(SUM(CAST(round(-(f.y * ln({pf})
                             + (1.0 - f.y) * ln(1.0 - {pf})), 9)
                     AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*) AS log_loss,
       CAST(SUM(CASE WHEN ({pf} >= 0.5) = (f.y = 1.0)
                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accuracy
FROM feats f CROSS JOIN w{steps} w
GROUP BY w.a, w.b"""


ORACLE_SQL["events_logistic_regression"] = _logit_sql()


# Mirrors text.text_textrank_keywords: the adjacent-word co-occurrence
# graph (least/greatest undirected pairs, HAVING >= 5 sync-pinned with
# TEXTRANK_MIN_COOC) fed through the SAME exact-integer PageRank chain as
# graph_pagerank (_pagerank_sql parameterized by graph CTEs).
_TEXTRANK_GRAPH_CTES = """
tk AS (
  SELECT string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
adj AS (
  SELECT unnest(list_transform(range(1, len(t)),
                               i -> {'w1': t[i], 'w2': t[i + 1]})) AS p
  FROM tk
),
und AS (
  SELECT least(p.w1, p.w2) AS a, greatest(p.w1, p.w2) AS b
  FROM adj WHERE p.w1 != p.w2
  GROUP BY 1, 2 HAVING COUNT(*) >= 5
),
edges AS (
  SELECT a AS src, b AS dst FROM und
  UNION ALL
  SELECT b AS src, a AS dst FROM und
)
""".strip()

ORACLE_SQL["text_textrank_keywords"] = f"""
WITH ranked AS ({_pagerank_sql(10, graph_ctes=_TEXTRANK_GRAPH_CTES)})
SELECT node AS word, pr_scaled, pagerank,
       CAST(row_number() OVER (ORDER BY pr_scaled DESC, node ASC)
            AS BIGINT) AS rank
FROM ranked
"""


# Mirrors streaming.windows.stream_quantile_histogram: hour-tumbling
# integer-epoch windows, the 4-unit/127-cap histogram bin, and the same
# crossing-bin interpolation per window (complete mode on the bounded
# fixture makes stream == batch replay).
ORACLE_SQL["stream_quantile_histogram"] = """
WITH hist AS MATERIALIZED (
  SELECT CAST((epoch_us(ts) // 1000000) // 3600 * 3600 AS BIGINT)
           AS window_start_epoch,
         least(CAST(floor(value / 4.0) AS BIGINT), 127) AS b,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT window_start_epoch, CAST(SUM(cnt) AS BIGINT) AS n
  FROM hist GROUP BY 1
),
cum AS (
  SELECT h.window_start_epoch, h.b, h.cnt,
         CAST(SUM(h.cnt) OVER (PARTITION BY h.window_start_epoch ORDER BY h.b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         t.n
  FROM hist h JOIN tot t USING (window_start_epoch)
),
qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
SELECT window_start_epoch, q,
       CAST(b AS DOUBLE) * 4.0
         + 4.0 * (((q * CAST(n AS DOUBLE))
                   - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE))
         AS estimate
FROM cum CROSS JOIN qs
WHERE CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE)
  AND CAST(cum - cnt AS DOUBLE) < q * CAST(n AS DOUBLE)
"""


# Mirrors curation.corpus_split_leakage_report: the production MinHash-LSH
# candidates at the dedup_clusters threshold (est_jaccard >= 0.5,
# sync-pinned with CLUSTER_EST_THRESHOLD) joined to the production split
# assignment, rolled up per unordered split pair with one exact-integer
# share division.
ORACLE_SQL["corpus_split_leakage_report"] = f"""
WITH pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({ORACLE_SQL["dedup_minhash_lsh"]})
  WHERE est_jaccard >= 0.5
),
splits AS MATERIALIZED (
  SELECT doc_id, split FROM ({ORACLE_SQL["corpus_split_assign"]})
),
cells AS (
  SELECT least(a.split, b.split) AS split_a,
         greatest(a.split, b.split) AS split_b,
         COUNT(*) AS n_pairs
  FROM pairs p
  JOIN splits a ON p.doc_a = a.doc_id
  JOIN splits b ON p.doc_b = b.doc_id
  GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS total_pairs FROM cells)
SELECT split_a, split_b, n_pairs,
       CAST(CASE WHEN split_a != split_b THEN 1 ELSE 0 END AS BIGINT)
         AS is_cross_split,
       CAST(n_pairs AS DOUBLE) / CAST(t.total_pairs AS DOUBLE) AS pair_share
FROM cells CROSS JOIN tot t
"""


# Mirrors similarity.sim_knn_label_vote: the sim_topk_cosine CTE joined to
# neighbor labels, majority vote with the (count DESC, label ASC)
# tie-break, truth filtered to the query rows (vec_id < 5 == the top-k
# query set, sync-pinned with DEFAULT_NUM_QUERIES).
ORACLE_SQL["sim_knn_label_vote"] = f"""
WITH topk AS MATERIALIZED ({ORACLE_SQL["sim_topk_cosine"]}),
votes AS (
  SELECT t.query_id, e.label AS neighbor_label, COUNT(*) AS n_votes
  FROM topk t JOIN embeddings e ON t.neighbor_id = e.vec_id
  GROUP BY 1, 2
),
top_vote AS (
  SELECT query_id, neighbor_label AS predicted_label, n_votes
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY n_votes DESC,
                                              neighbor_label ASC) AS rn
        FROM votes)
  WHERE rn = 1
)
SELECT v.query_id,
       CAST(e.label AS BIGINT) AS true_label,
       CAST(v.predicted_label AS BIGINT) AS predicted_label,
       v.n_votes,
       CAST(CASE WHEN e.label = v.predicted_label THEN 1 ELSE 0 END
            AS BIGINT) AS is_correct
FROM top_vote v JOIN embeddings e ON v.query_id = e.vec_id
WHERE e.vec_id < 5
"""

# Mirrors similarity.embedding_silhouette_report: the k-means CTE chain's
# final distances (d3) and assignment (a3); b = min distance to any OTHER
# centroid; identical s tree rounded at 9dp into the DECIMAL mean.
ORACLE_SQL["embedding_silhouette_report"] = f"""
WITH {_KMEANS_CTES},
sil AS (
  SELECT d.vec_id, a.cluster_id, a.d2 AS a2,
         MIN(CASE WHEN d.cluster_id != a.cluster_id THEN d.d2 END) AS b2
  FROM d3 d JOIN a3 a USING (vec_id)
  GROUP BY d.vec_id, a.cluster_id, a.d2
),
sc AS (
  SELECT cluster_id,
         CASE WHEN greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE))) > 0
              THEN (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
                   / greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE)))
              ELSE 0.0 END AS s
  FROM sil
)
SELECT cluster_id, COUNT(*) AS n_points,
       CAST(SUM(CAST(round(s, 9) AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*)
         AS mean_silhouette
FROM sc GROUP BY cluster_id
"""

# Mirrors streaming.windows.stream_watchlist_cms: hour-tumbling integer
# epoch windows, the text_heavy_hitters_cms hash layout (md5(j:token) →
# 60-bit → % 256, generate_series(0, 3) depth rows), watchlist = user_id
# < 5 (sync-pinned), estimate = min cell over depth.
ORACLE_SQL["stream_watchlist_cms"] = """
WITH ev AS (
  SELECT CAST((epoch_us(ts) // 1000000) // 3600 * 3600 AS BIGINT)
           AS window_start_epoch,
         user_id
  FROM events
),
cells AS MATERIALIZED (
  SELECT window_start_epoch, u.j,
         CAST('0x' || substr(md5(CAST(u.j AS VARCHAR) || ':'
                                 || CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 256 AS bucket,
         COUNT(*) AS cell_sum
  FROM ev CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) u
  GROUP BY 1, 2, 3
),
exact AS MATERIALIZED (
  SELECT window_start_epoch, user_id, COUNT(*) AS true_count
  FROM ev WHERE user_id < 5 GROUP BY 1, 2
),
probes AS (
  SELECT e.window_start_epoch, e.user_id, e.true_count, u.j,
         CAST('0x' || substr(md5(CAST(u.j AS VARCHAR) || ':'
                                 || CAST(e.user_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 256 AS bucket
  FROM exact e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) u
)
SELECT p.window_start_epoch, p.user_id, p.true_count,
       CAST(MIN(c.cell_sum) AS BIGINT) AS cms_estimate,
       CAST(MIN(c.cell_sum) - p.true_count AS BIGINT) AS overestimate
FROM probes p JOIN cells c USING (window_start_epoch, j, bucket)
GROUP BY 1, 2, 3
"""

# Mirrors text.text_vocab_coverage_curve: (count DESC, token ASC) ranking,
# exact cumulative occurrences, coverage points at the sync-pinned k list.
ORACLE_SQL["text_vocab_coverage_curve"] = """
WITH counts AS (
  SELECT t AS token, COUNT(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
  GROUP BY 1
),
ranked AS MATERIALIZED (
  SELECT n,
         CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT)
           AS rank,
         CAST(SUM(n) OVER (ORDER BY n DESC, token ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM counts
),
tot AS (SELECT MAX(cum) AS total_tokens FROM ranked),
ks AS (SELECT CAST(unnest([1, 2, 4, 8, 16, 32]) AS BIGINT) AS k),
best AS (
  SELECT k, MAX(rank) AS n_tokens_used, MAX(cum) AS covered_tokens
  FROM ranked CROSS JOIN ks
  WHERE rank <= k
  GROUP BY k
)
SELECT b.k, b.n_tokens_used, b.covered_tokens, t.total_tokens,
       CAST(b.covered_tokens AS DOUBLE) / CAST(t.total_tokens AS DOUBLE)
         AS coverage
FROM best b CROSS JOIN tot t
"""


# BM25 (Lucene idf) for the fixed 3-term query; constants sync-pinned to
# text.BM25_K1/BM25_B/BM25_TOP_K/BM25_QUERY. All inputs exact ints; each
# per-term score is one double tree (ln parity verified in-container);
# per-doc sums ride the 9dp-DECIMAL rail; ranking compares the 6dp round
# with doc_id tie-break.
ORACLE_SQL["text_bm25_topk"] = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
tot AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT COUNT(*) FROM tok) AS total_tokens
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok
  WHERE token IN ('spark', 'query', 'join')
  GROUP BY doc_id, token
),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
term AS (
  SELECT tf.doc_id,
         round(
           ln((CAST(n_docs AS DOUBLE) - df + CAST(0.5 AS DOUBLE))
              / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
           * (tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
           / (tf + CAST(1.2 AS DOUBLE)
                  * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE)
                       * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
                          / CAST(total_tokens AS DOUBLE)))),
           9) AS s
  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN tot
),
doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
         round(CAST(SUM(CAST(s AS DECIMAL(28,9))) AS DOUBLE), 6) AS bm25
  FROM term GROUP BY doc_id
),
top AS (SELECT * FROM doc ORDER BY bm25 DESC, doc_id ASC LIMIT 20)
SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT)
         AS rank,
       doc_id, n_terms_matched, bm25
FROM top
"""


def _hits_sql(n_rounds: int = 4) -> str:
    """Exact scaled-integer HITS chain — the SQL twin of graph.graph_hits:
    4 mutual-reinforcement rounds over the DIRECTED part-pair relation,
    scores as bigint multiples of 1e-6, max-renormalized per half-round
    with nonneg floor division. Every a{i}/h{i} is referenced twice
    (renorm + next half), hence AS MATERIALIZED."""
    ctes = [
        """prs AS MATERIALIZED (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)""",
        "edges AS (SELECT part_a AS src, part_b AS dst FROM prs)",
        """nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
)""",
        "h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes)",
    ]
    for i in range(1, n_rounds + 1):
        ctes += [
            f"""ar{i} AS (
  SELECT e.dst AS node, SUM(p.h) AS s
  FROM h{i - 1} p JOIN edges e ON p.node = e.src GROUP BY e.dst
)""",
            f"""a{i} AS MATERIALIZED (
  SELECT n.node,
         CASE WHEN (SELECT MAX(s) FROM ar{i}) > 0
              THEN (COALESCE(r.s, 0) * 1000000)
                     // (SELECT MAX(s) FROM ar{i})
              ELSE 0 END AS a
  FROM nodes n LEFT JOIN ar{i} r USING (node)
)""",
            f"""hr{i} AS (
  SELECT e.src AS node, SUM(p.a) AS s
  FROM a{i} p JOIN edges e ON p.node = e.dst GROUP BY e.src
)""",
            f"""h{i} AS MATERIALIZED (
  SELECT n.node,
         CASE WHEN (SELECT MAX(s) FROM hr{i}) > 0
              THEN (COALESCE(r.s, 0) * 1000000)
                     // (SELECT MAX(s) FROM hr{i})
              ELSE 0 END AS h
  FROM nodes n LEFT JOIN hr{i} r USING (node)
)""",
        ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT n.node,
       CAST(h.h AS BIGINT) AS hub_scaled,
       CAST(a.a AS BIGINT) AS auth_scaled,
       CAST(h.h AS DOUBLE) / 1000000.0 AS hub,
       CAST(a.a AS DOUBLE) / 1000000.0 AS auth
FROM nodes n
JOIN h{n_rounds} h USING (node)
JOIN a{n_rounds} a USING (node)
"""
    )


ORACLE_SQL["graph_hits"] = _hits_sql(4)

# ER transitive closure: er_blocking_pairs' match edges, closed with the
# same recursive-reach pattern as dedup_clusters; entity_id = min reachable
# p_partkey; canonical record = the entity_id's own row; only resolved
# (>= 2 record) entities emit.
ORACLE_SQL["er_resolution_clusters"] = """
WITH RECURSIVE keyed AS (
  SELECT string_split(p_name, ' ')[1] AS block_word,
         CAST(p_size AS BIGINT) AS p_size, p_partkey, p_name
  FROM part
),
sizes AS (
  SELECT block_word, p_size, COUNT(*) AS block_size
  FROM keyed GROUP BY block_word, p_size
),
blocked AS (
  SELECT k.*, s.block_size
  FROM keyed k JOIN sizes s USING (block_word, p_size)
  WHERE s.block_size <= 64
),
pairs AS (
  SELECT a.p_partkey AS part_a, b.p_partkey AS part_b
  FROM blocked a
  JOIN blocked b
    ON a.block_word = b.block_word AND a.p_size = b.p_size
   AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= 2
),
edges AS (
  SELECT part_a AS a, part_b AS b FROM pairs
  UNION
  SELECT part_b AS a, part_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT p_partkey, p_partkey FROM part
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
cc AS (SELECT a AS pk, MIN(b) AS entity_id FROM reach GROUP BY a),
ent AS (
  SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_records,
         string_agg(CAST(pk AS VARCHAR), ',' ORDER BY pk) AS member_ids
  FROM cc GROUP BY entity_id HAVING COUNT(*) >= 2
)
SELECT e.entity_id, p.p_name AS canonical_name, e.n_records, e.member_ids
FROM ent e JOIN part p ON e.entity_id = p.p_partkey
"""


# Per-source repeated-shingle census (boilerplate detection); df >= 2 and
# the 3-gram window are sync-pinned to text.BOILERPLATE_MIN_DF /
# BOILERPLATE_SHINGLE_K.
ORACLE_SQL["text_boilerplate_ngrams"] = """
WITH tok AS (
  SELECT source, doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT source, doc_id,
         t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS sh
  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
nd AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs FROM sh GROUP BY source),
df AS (SELECT source, sh, COUNT(*) AS df FROM sh GROUP BY source, sh),
rep AS (SELECT * FROM df WHERE df >= 2),
totals AS (SELECT source, COUNT(*) AS n_shingles FROM df GROUP BY source),
stats AS (SELECT source, COUNT(*) AS n_repeated FROM rep GROUP BY source),
top AS (
  SELECT source, sh AS top_shingle, df AS top_df
  FROM (SELECT *, row_number() OVER (PARTITION BY source
                                     ORDER BY df DESC, sh ASC) AS rn
        FROM rep)
  WHERE rn = 1
)
SELECT n.source,
       CAST(n.n_docs AS BIGINT) AS n_docs,
       CAST(t.n_shingles AS BIGINT) AS n_shingles,
       CAST(COALESCE(s.n_repeated, 0) AS BIGINT) AS n_repeated,
       round(CAST(COALESCE(s.n_repeated, 0) AS DOUBLE)
             / CAST(t.n_shingles AS DOUBLE), 6) AS repeated_frac,
       top.top_shingle,
       CAST(top.top_df AS BIGINT) AS top_df
FROM nd n
JOIN totals t USING (source)
LEFT JOIN stats s USING (source)
LEFT JOIN top USING (source)
"""


def _bpe_train_sql(n_rounds: int = 4) -> str:
    """SQL twin of text.text_bpe_train_merges: the same positional greedy
    merge replay (candidate positions → islands of consecutive candidates
    → odd ranks kept), one CTE block per round, argmax with the identical
    (cnt DESC, sym, nxt) tie-break. Multi-referenced CTEs MATERIALIZED."""
    ctes = [
        """words AS (
  SELECT w, COUNT(*) AS wc
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
)""",
        """s0 AS MATERIALIZED (
  SELECT w, wc, CAST(i AS BIGINT) AS pos, t[i] AS sym
  FROM (SELECT w, wc, string_split(w, '') AS t FROM words),
       unnest(generate_series(1, len(t))) AS u(i)
)""",
    ]
    for r in range(1, n_rounds + 1):
        ctes.append(
            f"""n{r} AS MATERIALIZED (
  SELECT *, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM s{r - 1}
)"""
        )
        ctes.append(
            f"""pc{r} AS (
  SELECT sym, nxt, SUM(wc) AS cnt FROM n{r}
  WHERE nxt IS NOT NULL GROUP BY sym, nxt
)"""
        )
        ctes.append(
            f"""top{r} AS MATERIALIZED (
  SELECT sym AS pa, nxt AS pb, cnt FROM pc{r}
  ORDER BY cnt DESC, sym ASC, nxt ASC LIMIT 1
)"""
        )
        if r == n_rounds:
            break
        ctes.append(
            f"""cand{r} AS MATERIALIZED (
  SELECT *, (sym = (SELECT pa FROM top{r})
             AND nxt = (SELECT pb FROM top{r})) AS isc
  FROM n{r}
)"""
        )
        ctes.append(
            f"""km{r} AS (
  SELECT w, pos, row_number() OVER (PARTITION BY w ORDER BY pos) AS rn
  FROM cand{r} WHERE isc
)"""
        )
        ctes.append(
            f"""ki{r} AS MATERIALIZED (
  SELECT w, pos FROM (
    SELECT *, row_number() OVER (PARTITION BY w, pos - rn ORDER BY pos) AS rn2
    FROM km{r}
  ) WHERE rn2 % 2 = 1
)"""
        )
        ctes.append(
            f"""s{r} AS MATERIALIZED (
  SELECT c.w, c.wc,
         CAST(row_number() OVER (PARTITION BY c.w ORDER BY c.pos)
              AS BIGINT) AS pos,
         CASE WHEN k1.pos IS NOT NULL THEN c.sym || c.nxt ELSE c.sym END AS sym
  FROM cand{r} c
  LEFT JOIN ki{r} k1 ON c.w = k1.w AND c.pos = k1.pos
  LEFT JOIN ki{r} k2 ON c.w = k2.w AND c.pos = k2.pos + 1
  WHERE k2.pos IS NULL
)"""
        )
    selects = [
        f"""SELECT CAST({r} AS BIGINT) AS merge_round, pa AS sym_a, pb AS sym_b,
       CAST(cnt AS BIGINT) AS pair_count, pa || pb AS merged FROM top{r}"""
        for r in range(1, n_rounds + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


ORACLE_SQL["text_bpe_train_merges"] = _bpe_train_sql(4)

# Adamic-Adar over the same capped wedge relation as common-neighbors;
# per-wedge 1/ln(deg) terms round at 9dp and sum in DECIMAL(28,9);
# (6dp score DESC, u, v) ranking.
ORACLE_SQL["graph_adamic_adar"] = f"""
WITH {_PR_GRAPH_CTES},
deg0 AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
kept AS (SELECT src FROM deg0 WHERE deg <= 128),
e AS MATERIALIZED (
  SELECT x.src, x.dst FROM edges x
  SEMI JOIN kept ka ON x.src = ka.src
  SEMI JOIN kept kb ON x.dst = kb.src
),
cdeg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
aa AS (
  SELECT e1.dst AS u, e2.dst AS v,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         SUM(CAST(round(CAST(1.0 AS DOUBLE) / ln(CAST(d.deg AS DOUBLE)), 9)
                  AS DECIMAL(28,9))) AS s
  FROM e e1
  JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
  JOIN cdeg d ON e1.src = d.src
  GROUP BY 1, 2
),
cand AS (
  SELECT a.u, a.v, a.n_common, round(CAST(a.s AS DOUBLE), 6) AS aa_score
  FROM aa a
  ANTI JOIN (SELECT src AS u, dst AS v FROM e WHERE src < dst) x
    ON a.u = x.u AND a.v = x.v
),
top AS (SELECT * FROM cand ORDER BY aa_score DESC, u ASC, v ASC LIMIT 100)
SELECT CAST(row_number() OVER (ORDER BY aa_score DESC, u ASC, v ASC)
            AS BIGINT) AS rank,
       u, v, n_common, aa_score
FROM top
"""


# Near-dup keep-best: the memoized cluster assignment (dedup_clusters
# oracle reused verbatim as a CTE) joined with THE shared quality formula;
# argmax = (quality DESC, doc_id ASC); multi-member clusters only.
ORACLE_SQL["dedup_cluster_keep_best"] = f"""
WITH clusters AS ({ORACLE_SQL["dedup_clusters"]}),
t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
),
q AS (
  SELECT doc_id,
         CAST(round(round(
           0.5 * (CAST(len(list_filter(toks,
                    x -> x IN ('a','the','of','and','in','to'))) AS DOUBLE)
                  / len(toks))
           + 0.25 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
           + 0.25 * (least(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                           / len(toks), 8.0) / 8.0),
         6) * 1000000, 0) AS BIGINT) AS qs
  FROM t
),
sel AS (
  SELECT c.cluster_id, c.doc_id, q.qs,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.qs DESC, c.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
  FROM clusters c JOIN q USING (doc_id)
)
SELECT s.cluster_id,
       CAST(s.n_members AS BIGINT) AS n_members,
       s.doc_id AS keep_doc_id,
       CAST(s.qs AS DOUBLE) / 1000000.0 AS keep_quality,
       m.member_ids
FROM sel s
JOIN (SELECT cluster_id,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
               AS member_ids
      FROM sel GROUP BY cluster_id) m USING (cluster_id)
WHERE s.rn = 1 AND s.n_members > 1
"""

# IVF cell balance over the same first-8-centroid assignment sim_topk_ivf
# indexes; empty cells emit zero rows explicitly.
ORACLE_SQL["sim_ivf_balance_report"] = f"""
WITH {_QEMB_CTES},
cent AS (SELECT vec_id AS cell_id, qv AS cv, nrm AS cn FROM n WHERE vec_id < 8),
assign_scored AS (
  SELECT a.vec_id, c.cell_id,
         list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(a.qv AS DOUBLE[]))
           / (sqrt(c.cn) * sqrt(a.nrm)) AS sim
  FROM n a CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, cell_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, cell_id ASC) AS rn
        FROM assign_scored)
  WHERE rn = 1
),
cells AS (
  SELECT c.cell_id, CAST(COALESCE(k.n, 0) AS BIGINT) AS n_vectors
  FROM cent c
  LEFT JOIN (SELECT cell_id, COUNT(*) AS n FROM assigned GROUP BY cell_id) k
    USING (cell_id)
),
tot AS (SELECT SUM(n_vectors) AS n_total FROM cells)
SELECT cell_id, n_vectors,
       round(CAST(n_vectors AS DOUBLE) / CAST(n_total AS DOUBLE), 9) AS share,
       round(CAST(n_vectors AS DOUBLE) * CAST(8.0 AS DOUBLE)
             / CAST(n_total AS DOUBLE), 6) AS imbalance_factor
FROM cells CROSS JOIN tot
"""

# Silence trim: same frame/energy/activity conventions as
# mm_audio_energy_segments; flat-energy recordings trim to zero.
ORACLE_SQL["mm_audio_silence_trim"] = """
WITH base AS (
  SELECT doc_id,
         list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)) AS vals,
         CAST(length(text) // 64 AS BIGINT) AS n_frames
  FROM documents
  WHERE length(text) // 64 >= 1
),
f AS (
  SELECT doc_id, n_frames,
         CAST(unnest(range(0, n_frames)) AS BIGINT) AS frame_idx, vals
  FROM base
),
en AS (
  SELECT doc_id, n_frames, frame_idx,
         CAST(COALESCE(list_sum(list_transform(
                vals[frame_idx * 64 + 1 : frame_idx * 64 + 64],
                x -> x * x)), 0) AS BIGINT) AS energy
  FROM f
),
tot AS (SELECT doc_id, SUM(energy) AS total_energy FROM en GROUP BY doc_id),
flagged AS (
  SELECT e.doc_id, e.n_frames, e.frame_idx,
         e.energy * e.n_frames > t.total_energy AS act
  FROM en e JOIN tot t USING (doc_id)
),
out AS (
  SELECT doc_id, n_frames,
         MIN(CASE WHEN act THEN frame_idx END) AS first_active,
         MAX(CASE WHEN act THEN frame_idx END) AS last_active
  FROM flagged GROUP BY doc_id, n_frames
)
SELECT doc_id,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(first_active AS BIGINT) AS first_active,
       CAST(last_active AS BIGINT) AS last_active,
       CAST(CASE WHEN first_active IS NOT NULL
                 THEN (last_active - first_active + 1) * 64
                 ELSE 0 END AS BIGINT) AS kept_bytes,
       round(CAST(1.0 AS DOUBLE)
             - CAST(CASE WHEN first_active IS NOT NULL
                         THEN (last_active - first_active + 1) * 64
                         ELSE 0 END AS DOUBLE)
               / CAST(n_frames * 64 AS DOUBLE), 9) AS trimmed_frac
FROM out
"""

# Triplet mining over the same multi-probe LSH candidate relation as
# sim_ann_lsh; hardest negatives = top-3 cosine among different-label
# candidates, hardest positive = min cosine among same-label candidates.
ORACLE_SQL["embedding_hard_negatives"] = f"""
WITH {_QEMB_CTES},
b AS (SELECT vec_id, label, qv, nrm, {_BUCKET_EXPR} AS bucket FROM n),
queries AS (
  SELECT query_id, q_label, qq, nq,
         CASE WHEN p = 0 THEN bucket ELSE xor(bucket, 1 << (p - 1)) END AS bucket
  FROM (SELECT vec_id AS query_id, label AS q_label, qv AS qq, nrm AS nq, bucket
        FROM b WHERE vec_id < 5)
  CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS p)
),
scored AS (
  SELECT query_id, q_label, a.vec_id AS neighbor_id, a.label AS n_label,
         list_dot_product(CAST(qq AS DOUBLE[]), CAST(a.qv AS DOUBLE[]))
           / (sqrt(nq) * sqrt(a.nrm)) AS cosine
  FROM b a JOIN queries USING (bucket)
  WHERE a.vec_id != query_id
),
negs AS (
  SELECT query_id, 'hard_negative' AS kind, CAST(rank AS BIGINT) AS rank,
         neighbor_id, cosine
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC)
                  AS rank
        FROM scored WHERE q_label != n_label)
  WHERE rank <= 3
),
poss AS (
  SELECT query_id, 'hard_positive' AS kind, CAST(rank AS BIGINT) AS rank,
         neighbor_id, cosine
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine ASC, neighbor_id ASC)
                  AS rank
        FROM scored WHERE q_label = n_label)
  WHERE rank <= 1
)
SELECT * FROM negs UNION ALL SELECT * FROM poss
"""

# Stratified split with exact ceil-quota validation share per stratum;
# hash ranking is content-independent md5 over the salted doc_id (the
# '0x'||hex cast convention corpus_split_assign established).
ORACLE_SQL["corpus_stratified_split"] = """
WITH h AS (
  SELECT doc_id, source, lang,
         CAST('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS hv
  FROM documents
),
ranked AS (
  SELECT doc_id, source, lang,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY hv, doc_id) AS rnk,
         COUNT(*) OVER (PARTITION BY source, lang) AS n_stratum
  FROM h
)
SELECT doc_id, source, lang,
       CAST(n_stratum AS BIGINT) AS n_stratum,
       CASE WHEN rnk <= (n_stratum + 9) // 10 THEN 'val'
            ELSE 'train' END AS split
FROM ranked
"""


def _viterbi_sql(rounds: int = 9) -> str:
    """SQL twin of relational.events_hmm_viterbi_decode: identical
    Hillis-Steele max-plus prefix/suffix scans as chained MATERIALIZED
    CTEs (fixed round count — exact for ≤ 2^rounds days), identical
    scaled-integer HMM constants, identical argmax tie-break."""

    def combine(prefix: bool, k: int, src: str) -> str:
        step = 1 << k
        if prefix:
            join = f"b.idx = a.idx - {step}"
            c = [
                "greatest(b.m00 + a.m00, b.m01 + a.m10)",
                "greatest(b.m00 + a.m01, b.m01 + a.m11)",
                "greatest(b.m10 + a.m00, b.m11 + a.m10)",
                "greatest(b.m10 + a.m01, b.m11 + a.m11)",
            ]
        else:
            join = f"b.idx = a.idx + {step}"
            c = [
                "greatest(a.m00 + b.m00, a.m01 + b.m10)",
                "greatest(a.m00 + b.m01, a.m01 + b.m11)",
                "greatest(a.m10 + b.m00, a.m11 + b.m10)",
                "greatest(a.m10 + b.m01, a.m11 + b.m11)",
            ]
        cols = ",\n         ".join(
            f"CASE WHEN b.idx IS NULL THEN a.m{ij} ELSE {expr} END AS m{ij}"
            for ij, expr in zip(("00", "01", "10", "11"), c)
        )
        return (
            f"SELECT a.day, a.idx, a.obs,\n         {cols}\n"
            f"  FROM {src} a LEFT JOIN {src} b ON {join}"
        )

    ctes = [
        """daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS cnt FROM events GROUP BY 1
)""",
        "tot AS (SELECT SUM(cnt) AS total, COUNT(*) AS n_days FROM daily)",
        """obs AS MATERIALIZED (
  SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx,
         CASE WHEN cnt * (SELECT n_days FROM tot) > (SELECT total FROM tot)
              THEN 1 ELSE 0 END AS obs
  FROM daily
)""",
        """p0 AS MATERIALIZED (
  SELECT day, idx, obs,
         CAST(CASE WHEN idx = 1 THEN 0 ELSE -223 END
              + CASE WHEN obs = 1 THEN -1609 ELSE -223 END AS BIGINT) AS m00,
         CAST(CASE WHEN idx = 1 THEN -693 ELSE -1609 END
              + CASE WHEN obs = 1 THEN -223 ELSE -1609 END AS BIGINT) AS m01,
         CAST(CASE WHEN idx = 1 THEN 0 ELSE -1609 END
              + CASE WHEN obs = 1 THEN -1609 ELSE -223 END AS BIGINT) AS m10,
         CAST(CASE WHEN idx = 1 THEN -693 ELSE -223 END
              + CASE WHEN obs = 1 THEN -223 ELSE -1609 END AS BIGINT) AS m11
  FROM obs
)""",
        """s0 AS MATERIALIZED (
  SELECT day, idx - 1 AS idx, obs, m00, m01, m10, m11
  FROM p0 WHERE idx >= 2
)""",
    ]
    for k in range(rounds):
        ctes.append(f"p{k + 1} AS MATERIALIZED (\n  {combine(True, k, f'p{k}')}\n)")
        ctes.append(f"s{k + 1} AS MATERIALIZED (\n  {combine(False, k, f's{k}')}\n)")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
fw AS (
  SELECT day, idx, obs,
         greatest(m00, m10) AS fw0, greatest(m01, m11) AS fw1
  FROM p{rounds}
),
bw AS (
  SELECT idx, greatest(m00, m01) AS bw0, greatest(m10, m11) AS bw1
  FROM s{rounds}
)
SELECT f.day, f.idx, CAST(f.obs AS BIGINT) AS obs,
       CAST(CASE WHEN f.fw0 + COALESCE(b.bw0, 0)
                      >= f.fw1 + COALESCE(b.bw1, 0)
                 THEN 0 ELSE 1 END AS BIGINT) AS state,
       CAST(greatest(f.fw0 + COALESCE(b.bw0, 0),
                     f.fw1 + COALESCE(b.bw1, 0)) AS BIGINT) AS path_score
FROM fw f LEFT JOIN bw b USING (idx)
"""
    )


ORACLE_SQL["events_hmm_viterbi_decode"] = _viterbi_sql(9)


def _betweenness_sql(max_depth: int = 16) -> str:
    """SQL twin of graph.graph_betweenness_seeded: layered forward BFS
    with σ path counts (chained CTEs — recursive terms can't aggregate),
    then Brandes' backward accumulation with the identical 9dp term/layer
    rounding. Layers above the true depth are empty CTEs, so starting the
    backward chain at the fixed horizon equals Spark's observed-depth
    start."""
    ctes = [
        _PR_GRAPH_CTES,
        """seeds AS (
  SELECT src AS seed FROM (SELECT DISTINCT src FROM edges)
  ORDER BY src LIMIT 3
)""",
        """l0 AS (
  SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist,
         CAST(1 AS BIGINT) AS sigma
  FROM seeds
)""",
        "state0 AS (SELECT * FROM l0)",
    ]
    for d in range(1, max_depth + 1):
        ctes.append(
            f"""l{d} AS MATERIALIZED (
  SELECT seed, node, CAST({d} AS BIGINT) AS dist, SUM(sigma) AS sigma
  FROM (
    SELECT f.seed, e.dst AS node, f.sigma
    FROM l{d - 1} f JOIN edges e ON f.node = e.src
  ) x
  ANTI JOIN state{d - 1} s ON x.seed = s.seed AND x.node = s.node
  GROUP BY seed, node
)"""
        )
        ctes.append(
            f"""state{d} AS MATERIALIZED (
  SELECT * FROM state{d - 1} UNION ALL SELECT * FROM l{d}
)"""
        )
    ctes.append(
        f"""del{max_depth} AS (
  SELECT seed, node, CAST(0 AS BIGINT) AS delta
  FROM state{max_depth} WHERE dist = {max_depth}
)"""
    )
    # exact scaled-integer accumulation (delta ×1e9, HUGEINT product, floor
    # division — identical to Spark's DECIMAL(38,0) div for nonneg values)
    for d in range(max_depth - 1, -1, -1):
        ctes.append(
            f"""del{d} AS MATERIALIZED (
  SELECT v.seed, v.node,
         CAST(COALESCE(SUM(
             (CAST(v.sigma AS HUGEINT) * (1000000000 + dw.delta))
               // w.sigma), 0) AS BIGINT) AS delta
  FROM (SELECT * FROM state{max_depth} WHERE dist = {d}) v
  LEFT JOIN edges e ON v.node = e.src
  LEFT JOIN (SELECT * FROM state{max_depth} WHERE dist = {d + 1}) w
    ON w.seed = v.seed AND w.node = e.dst
  LEFT JOIN del{d + 1} dw ON dw.seed = w.seed AND dw.node = w.node
  GROUP BY v.seed, v.node
)"""
        )
    alls = "\nUNION ALL\n".join(
        f"SELECT * FROM del{d}" for d in range(max_depth + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
acc AS ({alls})
SELECT node,
       CAST(SUM(delta) AS BIGINT) AS betweenness_scaled,
       CAST(SUM(delta) AS DOUBLE) / 1e9 AS betweenness
FROM acc WHERE node != seed
GROUP BY node
"""
    )


ORACLE_SQL["graph_betweenness_seeded"] = _betweenness_sql(16)

# Token-weighted dedup funnel: identical survivor windows as
# corpus_dedup_funnel, token sums riding them.
ORACLE_SQL["corpus_dedup_token_savings"] = f"""
WITH clusters AS ({ORACLE_SQL["dedup_clusters"]}),
d AS (
  SELECT doc_id, source, md5(text) AS content_hash,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
exact_surv AS (
  SELECT doc_id, source, n_tokens FROM (
    SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id)
      AS rn FROM d) WHERE rn = 1
),
near_surv AS (
  SELECT doc_id, source, n_tokens FROM (
    SELECT e.doc_id, e.source, e.n_tokens,
           row_number() OVER (PARTITION BY c.cluster_id ORDER BY e.doc_id)
             AS rn
    FROM exact_surv e JOIN clusters c USING (doc_id)) WHERE rn = 1
),
t_all AS (SELECT source, SUM(n_tokens) AS tokens_raw FROM d GROUP BY source),
t_exact AS (
  SELECT source, SUM(n_tokens) AS tokens_after_exact
  FROM exact_surv GROUP BY source
),
t_near AS (
  SELECT source, SUM(n_tokens) AS tokens_after_near
  FROM near_surv GROUP BY source
)
SELECT a.source,
       CAST(a.tokens_raw AS BIGINT) AS tokens_raw,
       CAST(COALESCE(e.tokens_after_exact, 0) AS BIGINT) AS tokens_after_exact,
       CAST(COALESCE(n.tokens_after_near, 0) AS BIGINT) AS tokens_after_near,
       round(CAST(a.tokens_raw - COALESCE(n.tokens_after_near, 0) AS DOUBLE)
             / CAST(a.tokens_raw AS DOUBLE), 6) AS tokens_saved_frac
FROM t_all a
LEFT JOIN t_exact e USING (source)
LEFT JOIN t_near n USING (source)
"""

# Effective diameter over the shared BFS distances (reuses the shortest-
# paths oracle verbatim as a CTE); exact-integer 90% coverage test.
ORACLE_SQL["graph_effective_diameter"] = f"""
WITH dists AS ({ORACLE_SQL["graph_shortest_paths"]}),
per AS (SELECT dist, COUNT(*) AS n_nodes FROM dists GROUP BY dist),
tot AS (SELECT SUM(n_nodes) AS n_total FROM per),
cum AS (
  SELECT dist, n_nodes,
         SUM(n_nodes) OVER (ORDER BY dist
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum_nodes,
         (SELECT n_total FROM tot) AS n_total
  FROM per
),
flagged AS (
  SELECT *, cum_nodes * 10 >= n_total * 9 AS covered_90 FROM cum
)
SELECT CAST(dist AS BIGINT) AS dist,
       CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(cum_nodes AS BIGINT) AS cum_nodes,
       round(CAST(cum_nodes AS DOUBLE) / CAST(n_total AS DOUBLE), 9)
         AS cum_frac,
       covered_90 AND NOT COALESCE(
         MAX(covered_90) OVER (ORDER BY dist
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), false)
         AS is_effective_diameter
FROM flagged
"""

# kNN graph: bucket-local candidates, per-vector top-3, mutual-edge flag
# via the reversed-pair self-join. k sync-pinned to similarity.KNN_GRAPH_K.
ORACLE_SQL["sim_knn_graph"] = f"""
WITH {_QEMB_CTES},
{_KNN_CTES}
SELECT k.u AS vec_id, k.rank, k.v AS neighbor_id, k.cosine,
       r.u IS NOT NULL AS is_mutual
FROM knn k
LEFT JOIN (SELECT v AS u, u AS v FROM knn) r ON k.u = r.u AND k.v = r.v
"""


# True winnowing (k=4, w=4, rightmost-min): per-window argmin via the
# lexicographic struct-max (probed identical on both engines).
ORACLE_SQL["text_winnowing_fingerprints"] = """
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         CAST('0x' || substr(md5(t[i] || ' ' || t[i + 1] || ' '
                             || t[i + 2] || ' ' || t[i + 3]), 1, 8)
              AS BIGINT) AS h
  FROM tok, unnest(generate_series(1, len(t) - 3)) AS u(i)
  WHERE len(t) >= 4
),
win AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams,
         MAX({'negh': -h, 'pos': pos})
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
  FROM grams
)
SELECT DISTINCT doc_id,
       s.pos AS pos,
       CAST(-s.negh AS BIGINT) AS fp
FROM win WHERE pos <= n_grams - 3
"""


# The streaming CDC store's final state must equal the one-shot batch
# MERGE — the oracle is cdc_merge_documents' SQL verbatim.
ORACLE_SQL["stream_cdc_merge"] = ORACLE_SQL["cdc_merge_documents"]

# Exact rolling-distinct actives: each (user, day) activity explodes into
# the trailing windows it supports; spine join keeps every calendar day.
ORACLE_SQL["events_dau_wau_mau"] = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
rng AS (SELECT MIN(day) AS dmin, MAX(day) AS dmax FROM ud),
spine AS (
  SELECT CAST(unnest(generate_series(r.dmin, r.dmax,
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM rng r
),
dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY day),
wau AS (
  SELECT CAST(d AS DATE) AS day, COUNT(DISTINCT user_id) AS wau
  FROM ud, unnest(generate_series(CAST(day AS TIMESTAMP),
                                  CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
                                  INTERVAL 1 DAY)) AS u(d)
  GROUP BY 1
),
mau AS (
  SELECT CAST(d AS DATE) AS day, COUNT(DISTINCT user_id) AS mau
  FROM ud, unnest(generate_series(CAST(day AS TIMESTAMP),
                                  CAST(day AS TIMESTAMP) + INTERVAL 29 DAY,
                                  INTERVAL 1 DAY)) AS u(d)
  GROUP BY 1
)
SELECT s.day,
       CAST(COALESCE(d.dau, 0) AS BIGINT) AS dau,
       CAST(COALESCE(w.wau, 0) AS BIGINT) AS wau,
       CAST(COALESCE(m.mau, 0) AS BIGINT) AS mau,
       CASE WHEN COALESCE(m.mau, 0) > 0 THEN
         round(CAST(COALESCE(d.dau, 0) AS DOUBLE)
               / CAST(m.mau AS DOUBLE), 9) END AS stickiness
FROM spine s
LEFT JOIN dau d USING (day)
LEFT JOIN wau w USING (day)
LEFT JOIN mau m USING (day)
"""

# b-bit minwise evaluation: lowest-2-bit agreement debiased by the 1/4
# equal-bit baseline, reported against the full estimate per agreement
# level over the banded candidates. Constants sync-pinned.
_BBIT_MATCHES = " + ".join(
    f"CASE WHEN sa.h{i} % 4 = sb.h{i} % 4 THEN 1 ELSE 0 END"
    for i in range(_MINHASH_N)
)

ORACLE_SQL["dedup_minhash_bbit_report"] = f"""
WITH {_shingle_ctes(3, max_df=DEDUP_MAX_DF)},
{_MINHASH_HALVES},
sig AS (SELECT doc_id, {_MINHASH_COLS} FROM mh GROUP BY doc_id),
bands AS ({_MINHASH_BANDS_SQL}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, MAX(a.est) AS est_jaccard
  FROM (SELECT doc_id, band, bkey, 0.0 AS est FROM bands) a
  JOIN (SELECT doc_id, band, bkey FROM bands) b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT ({_MINHASH_MATCHES}) AS n_matches,
         ({_MINHASH_MATCHES}) / 16.0 AS est_jaccard,
         round((({_BBIT_MATCHES}) / 16.0 - CAST(0.25 AS DOUBLE))
               / (CAST(1.0 AS DOUBLE) - CAST(0.25 AS DOUBLE)), 9) AS est_bbit
  FROM cand c
  JOIN sig sa ON c.doc_a = sa.doc_id
  JOIN sig sb ON c.doc_b = sb.doc_id
)
SELECT CAST(n_matches AS BIGINT) AS n_matches,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(CAST(SUM(CAST(round(est_jaccard, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS avg_full_est,
       round(CAST(SUM(CAST(est_bbit AS DECIMAL(28,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS avg_bbit_est,
       round(CAST(SUM(CAST(round(abs(est_bbit - est_jaccard), 9)
                           AS DECIMAL(28,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS avg_abs_gap
FROM scored
GROUP BY n_matches
"""


# k-anonymity generalization sweep: four band widths, shared KANON_K bar;
# all statistics exact integers with one division per rate.
ORACLE_SQL["privacy_generalization_sweep"] = """
WITH lv AS (SELECT unnest([500.0, 1000.0, 2000.0, 4000.0]) AS w),
classes AS (
  SELECT lv.w, c_mktsegment, c_nationkey,
         CAST(floor(c_acctbal / lv.w) AS BIGINT) AS b,
         COUNT(*) AS class_size
  FROM customer CROSS JOIN lv
  GROUP BY 1, 2, 3, 4
)
SELECT CAST(w AS DOUBLE) AS band_width,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_classes,
       CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
            AS BIGINT) AS n_exposed_rows,
       round(CAST(1.0 AS DOUBLE)
             - CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                    AS DOUBLE) / CAST(SUM(class_size) AS DOUBLE), 9)
         AS anonymous_frac,
       round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(class_size) AS DOUBLE), 9)
         AS mean_reident_risk
FROM classes
GROUP BY w
"""

# One-stop per-source health dashboard: composes the funnel survivor
# windows, THE quality formula, and the token-count convention.
ORACLE_SQL["corpus_health_report"] = f"""
WITH clusters AS ({ORACLE_SQL["dedup_clusters"]}),
d AS (
  SELECT doc_id, source, text, md5(text) AS content_hash,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         string_split(text, ' ') AS toks
  FROM documents
),
q AS (
  SELECT doc_id, source, n_tokens,
         round(
           0.5 * (CAST(len(list_filter(toks,
                    x -> x IN ('a','the','of','and','in','to'))) AS DOUBLE)
                  / len(toks))
           + 0.25 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
           + 0.25 * (least(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                           / len(toks), 8.0) / 8.0),
         6) AS quality
  FROM d
),
base AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         round(CAST(SUM(CAST(round(quality, 9) AS DECIMAL(28,9))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE), 6) AS mean_quality
  FROM q GROUP BY source
),
exact_surv AS (
  SELECT doc_id, source FROM (
    SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id)
      AS rn FROM d) WHERE rn = 1
),
near_surv AS (
  SELECT doc_id, source FROM (
    SELECT e.doc_id, e.source,
           row_number() OVER (PARTITION BY c.cluster_id ORDER BY e.doc_id)
             AS rn
    FROM exact_surv e JOIN clusters c USING (doc_id)) WHERE rn = 1
),
tot AS (SELECT SUM(n_tokens) AS tok_total FROM base)
SELECT b.source, b.n_docs, b.n_tokens,
       round(CAST(b.n_tokens AS DOUBLE) / CAST(t.tok_total AS DOUBLE), 9)
         AS token_share,
       b.mean_quality,
       CAST(COALESCE(e.c, 0) AS BIGINT) AS n_after_exact,
       CAST(COALESCE(nv.c, 0) AS BIGINT) AS n_after_near,
       round(CAST(1.0 AS DOUBLE)
             - CAST(COALESCE(nv.c, 0) AS DOUBLE)
               / CAST(b.n_docs AS DOUBLE), 9) AS dup_rate
FROM base b
LEFT JOIN (SELECT source, COUNT(*) AS c FROM exact_surv GROUP BY source) e
  USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS c FROM near_surv GROUP BY source) nv
  USING (source)
CROSS JOIN tot t
"""


# --- r9 additions: permutation test, retrieval statistics -------------------

# Mirrors text.text_kneser_ney_bigram: same tokenization/halving as the
# add-1 bigram LM, D = 3/4 absolute discount, add-1-smoothed continuation
# distribution, 9dp-rounded ln terms summed in DECIMAL(28,9).
ORACLE_SQL["text_kneser_ney_bigram"] = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
         unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
  FROM toks WHERE len(t) >= 2
),
c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 2 = 0 GROUP BY w1, w2
),
c1f AS (SELECT w1, SUM(c2) AS c1, COUNT(*) AS fanout FROM c2 GROUP BY w1),
fanin AS (SELECT w2, COUNT(*) AS fanin FROM c2 GROUP BY w2),
scal AS (
  SELECT (SELECT COUNT(*) FROM c2) AS n_types,
         (SELECT COUNT(DISTINCT token)
          FROM (SELECT unnest(t) AS token FROM toks WHERE doc_id % 2 = 0)) AS v
),
sc AS (
  SELECT te.doc_id,
         CAST(round(ln(
           CASE WHEN c1f.c1 IS NULL THEN
             CAST(coalesce(fanin.fanin, 0) + 1 AS DOUBLE)
               / CAST(n_types + v AS DOUBLE)
           ELSE
             (GREATEST(CAST(coalesce(c2.c2, 0) AS DOUBLE)
                         - CAST(3 AS DOUBLE) / CAST(4 AS DOUBLE),
                       CAST(0 AS DOUBLE))
              + CAST(3 AS DOUBLE) / CAST(4 AS DOUBLE)
                * CAST(c1f.fanout AS DOUBLE)
                * (CAST(coalesce(fanin.fanin, 0) + 1 AS DOUBLE)
                   / CAST(n_types + v AS DOUBLE)))
             / CAST(c1f.c1 AS DOUBLE)
           END), 9) AS DECIMAL(28,9)) AS ll
  FROM bg te
  LEFT JOIN c2 ON te.w1 = c2.w1 AND te.w2 = c2.w2
  LEFT JOIN c1f ON te.w1 = c1f.w1
  LEFT JOIN fanin ON te.w2 = fanin.w2
  CROSS JOIN scal
  WHERE te.doc_id % 2 = 1
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         round(-CAST(SUM(ll) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS avg_neg_loglik
  FROM sc GROUP BY doc_id
)
SELECT doc_id, n_bigrams, avg_neg_loglik,
       round(exp(avg_neg_loglik), 6) AS perplexity
FROM agg
"""

# Mirrors similarity.sim_hybrid_rrf: BM25 top-20 (its full oracle reused as
# a CTE, query doc excluded) fused with the exact-cosine top-20 around
# vec 0 via reciprocal rank fusion 1/(60+rank), 9dp-rounded.
ORACLE_SQL["sim_hybrid_rrf"] = f"""
WITH bm AS MATERIALIZED ({ORACLE_SQL["text_bm25_topk"]}),
lex AS (SELECT doc_id, rank AS lex_rank FROM bm WHERE doc_id != 0),
{_QEMB_CTES},
qvec AS (SELECT qv AS qq, nrm AS nq FROM n WHERE vec_id = 0),
sem_scored AS (
  SELECT a.vec_id AS doc_id,
         list_dot_product(CAST(qq AS DOUBLE[]), CAST(a.qv AS DOUBLE[]))
           / (sqrt(nq) * sqrt(a.nrm)) AS cosine
  FROM n a CROSS JOIN qvec WHERE a.vec_id != 0
),
sem AS (
  SELECT doc_id, sem_rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS sem_rank
    FROM sem_scored)
  WHERE sem_rank <= 20
),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank,
         round(COALESCE(CAST(1 AS DOUBLE)
                          / (CAST(60 AS DOUBLE) + CAST(lex_rank AS DOUBLE)),
                        CAST(0 AS DOUBLE))
               + COALESCE(CAST(1 AS DOUBLE)
                            / (CAST(60 AS DOUBLE) + CAST(sem_rank AS DOUBLE)),
                          CAST(0 AS DOUBLE)), 9) AS rrf_score
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf_score,
       CAST(fused_rank AS BIGINT) AS fused_rank
FROM (SELECT *, row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC)
                  AS fused_rank
      FROM fused)
WHERE fused_rank <= 20
"""

# Mirrors relational.events_permutation_test: hash-relabel randomization
# test, B=64 replicates in one pass, add-one MC p-value.
ORACLE_SQL["events_permutation_test"] = """
WITH rws AS (
  SELECT event_id AS eid,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cv,
         event_type = 'view' AS is_a
  FROM events
  WHERE event_type IN ('view', 'click')
),
tot AS (
  SELECT CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         SUM(CASE WHEN is_a THEN cv ELSE 0 END) AS sa,
         SUM(CASE WHEN NOT is_a THEN cv ELSE 0 END) AS sb
  FROM rws
),
obs AS (
  SELECT na, nb,
         round((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
               / CAST(100 AS DOUBLE), 9) AS diff_obs
  FROM tot
),
rep_rows AS (
  SELECT eid, cv, na, nb, unnest(generate_series(0, 63)) AS b
  FROM rws CROSS JOIN (SELECT na, nb FROM tot)
),
assign AS (
  SELECT b, cv,
         CAST(CAST('0x' || substr(md5('perm' || ':' || CAST(eid AS VARCHAR)
                                       || ':' || CAST(b AS VARCHAR)), 1, 15)
                   AS BIGINT) AS DOUBLE) / 1152921504606846976.0
           < CAST(na AS DOUBLE) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
           AS pa
  FROM rep_rows
),
rep AS (
  SELECT b,
         SUM(CASE WHEN pa THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN NOT pa THEN 1 ELSE 0 END) AS cb,
         SUM(CASE WHEN pa THEN cv ELSE 0 END) AS pa_s,
         SUM(CASE WHEN NOT pa THEN cv ELSE 0 END) AS pb_s
  FROM assign GROUP BY b
),
valid AS (
  SELECT b,
         round((CAST(pa_s AS DOUBLE) / CAST(ca AS DOUBLE)
                - CAST(pb_s AS DOUBLE) / CAST(cb AS DOUBLE))
               / CAST(100 AS DOUBLE), 9) AS diff_b
  FROM rep WHERE ca > 0 AND cb > 0
),
tail AS (
  SELECT COUNT(*) AS n_perms,
         SUM(CASE WHEN abs(diff_b) >= abs(diff_obs) THEN 1 ELSE 0 END)
           AS n_extreme
  FROM valid CROSS JOIN obs
)
SELECT na AS n_a, nb AS n_b, diff_obs,
       CAST(n_perms AS BIGINT) AS n_perms,
       CAST(n_extreme AS BIGINT) AS n_extreme,
       round(CAST(n_extreme + 1 AS DOUBLE)
             / CAST(n_perms + 1 AS DOUBLE), 6) AS p_value
FROM obs CROSS JOIN tail
"""

# Mirrors dedup.dedup_rouge_verify: the dedup_minhash_lsh candidate CTE
# verified by clipped-unigram ROUGE-1 overlap.
ORACLE_SQL["dedup_rouge_verify"] = f"""
WITH cand AS MATERIALIZED ({ORACLE_SQL["dedup_minhash_lsh"]}),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tc AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
lens AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
ov AS (
  SELECT c.doc_a, c.doc_b, SUM(LEAST(ta.tf, tb.tf)) AS overlap
  FROM cand c
  JOIN tc ta ON ta.doc_id = c.doc_a
  JOIN tc tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
  GROUP BY 1, 2
),
j AS (
  SELECT c.doc_a, c.doc_b, c.est_jaccard,
         CAST(COALESCE(ov.overlap, 0) AS BIGINT) AS overlap,
         la.n_tok AS len_a, lb.n_tok AS len_b
  FROM cand c
  LEFT JOIN ov ON ov.doc_a = c.doc_a AND ov.doc_b = c.doc_b
  JOIN lens la ON la.doc_id = c.doc_a
  JOIN lens lb ON lb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, est_jaccard, overlap, len_a, len_b,
       round(CAST(overlap AS DOUBLE) / CAST(len_a AS DOUBLE), 6) AS rouge1_p,
       round(CAST(overlap AS DOUBLE) / CAST(len_b AS DOUBLE), 6) AS rouge1_r,
       round(CAST(2 AS DOUBLE) * CAST(overlap AS DOUBLE)
             / (CAST(len_a AS DOUBLE) + CAST(len_b AS DOUBLE)), 6)
         AS rouge1_f1
FROM j
"""

# Mirrors similarity.sim_ann_graph_search: the sim_knn_graph edge CTE, a
# brute-force scored_all (the oracle's independent scoring path), and the
# beam walk replayed as chained MATERIALIZED CTEs (entry 0, beam 8, 3
# hops, query vec 1).
ORACLE_SQL["sim_ann_graph_search"] = f"""
WITH {_QEMB_CTES},
{_KNN_CTES},
knn_m AS MATERIALIZED (SELECT u, v FROM knn),
qv1 AS (SELECT qv AS qq, nrm AS nq FROM n WHERE vec_id = 1),
scored_all AS MATERIALIZED (
  SELECT a.vec_id AS node,
         list_dot_product(CAST(qq AS DOUBLE[]), CAST(a.qv AS DOUBLE[]))
           / (sqrt(nq) * sqrt(a.nrm)) AS cosine
  FROM n a CROSS JOIN qv1 WHERE a.vec_id != 1
),
beam0 AS MATERIALIZED (
  SELECT node, cosine FROM scored_all WHERE node = 0
  ORDER BY cosine DESC, node ASC LIMIT 8
),
beam1 AS MATERIALIZED (
  SELECT s.node, s.cosine FROM scored_all s
  WHERE s.node IN (SELECT node FROM beam0
                   UNION
                   SELECT k.v FROM knn_m k JOIN beam0 b0 ON k.u = b0.node)
  ORDER BY cosine DESC, node ASC LIMIT 8
),
beam2 AS MATERIALIZED (
  SELECT s.node, s.cosine FROM scored_all s
  WHERE s.node IN (SELECT node FROM beam1
                   UNION
                   SELECT k.v FROM knn_m k JOIN beam1 b1 ON k.u = b1.node)
  ORDER BY cosine DESC, node ASC LIMIT 8
),
beam3 AS MATERIALIZED (
  SELECT s.node, s.cosine FROM scored_all s
  WHERE s.node IN (SELECT node FROM beam2
                   UNION
                   SELECT k.v FROM knn_m k JOIN beam2 b2 ON k.u = b2.node)
  ORDER BY cosine DESC, node ASC LIMIT 8
),
exact AS MATERIALIZED (
  SELECT node FROM scored_all ORDER BY cosine DESC, node ASC LIMIT 8
)
SELECT CAST(row_number() OVER (ORDER BY cosine DESC, node ASC) AS BIGINT)
         AS rank,
       node AS neighbor_id, cosine,
       node IN (SELECT node FROM exact) AS in_exact_topk
FROM beam3
"""

# Mirrors text.corpus_ccnet_buckets: the bigram-LM perplexity CTE, the
# per-(lang, perplexity) aggregate, per-lang cumulative token windows, the
# exact 3·cum <= tot / 2·tot boundaries, DECIMAL(28,9) mean rail.
ORACLE_SQL["corpus_ccnet_buckets"] = f"""
WITH pp AS MATERIALIZED ({ORACLE_SQL["text_bigram_lm_perplexity"]}),
d AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
  FROM documents
),
j AS (SELECT d.lang, pp.perplexity, d.ntok
      FROM pp JOIN d ON pp.doc_id = d.doc_id),
per_v AS (
  SELECT lang, perplexity, COUNT(*) AS n_docs, SUM(ntok) AS ntok
  FROM j GROUP BY 1, 2
),
tot AS (SELECT lang, SUM(ntok) AS tot FROM per_v GROUP BY 1),
cum AS (
  SELECT p.lang, p.perplexity, p.n_docs, p.ntok, t.tot,
         SUM(p.ntok) OVER (PARTITION BY p.lang ORDER BY p.perplexity
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum
  FROM per_v p JOIN tot t USING (lang)
),
b AS (
  SELECT lang,
         CASE WHEN 3 * CAST(cum AS HUGEINT) <= CAST(tot AS HUGEINT)
                THEN 'head'
              WHEN 3 * CAST(cum AS HUGEINT) <= 2 * CAST(tot AS HUGEINT)
                THEN 'middle'
              ELSE 'tail' END AS bucket,
         n_docs, ntok, tot,
         CAST(perplexity AS DECIMAL(28,9)) * n_docs AS psum
  FROM cum
),
agg AS (
  SELECT lang, bucket,
         CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         CAST(SUM(ntok) AS BIGINT) AS n_tokens,
         MAX(tot) AS tot,
         SUM(psum) AS psum
  FROM b GROUP BY 1, 2
)
SELECT lang, bucket, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS token_share,
       round(CAST(psum AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         AS mean_perplexity
FROM agg
"""


# Mirrors similarity.embedding_dbscan_lite: the sim_knn_graph CTE chain,
# cosine-eps filter + symmetrize, degree >= min-neighbors cores, reach
# transitive closure over core-core edges (min core id per component —
# the graph_components oracle pattern), min-cluster border assignment.
ORACLE_SQL["embedding_dbscan_lite"] = f"""
WITH RECURSIVE {_QEMB_CTES},
{_KNN_CTES},
fil AS (SELECT u, v FROM knn WHERE cosine >= CAST(0.25 AS DOUBLE)),
sym AS MATERIALIZED (
  SELECT DISTINCT u, v
  FROM (SELECT u, v FROM fil UNION ALL SELECT v AS u, u AS v FROM fil)
),
deg AS MATERIALIZED (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS eps_degree FROM sym GROUP BY 1
),
core AS MATERIALIZED (SELECT node FROM deg WHERE eps_degree >= 2),
ce AS MATERIALIZED (
  SELECT s.u AS a, s.v AS b
  FROM sym s JOIN core c1 ON s.u = c1.node JOIN core c2 ON s.v = c2.node
),
reach(a, b) AS (
  SELECT node, node FROM core
  UNION
  SELECT r.a, e.b FROM reach r JOIN ce e ON r.b = e.a
),
comp AS MATERIALIZED (SELECT a AS node, MIN(b) AS cluster_id FROM reach GROUP BY a),
border AS MATERIALIZED (
  SELECT s.u AS node, MIN(c.cluster_id) AS cluster_id
  FROM sym s JOIN comp c ON s.v = c.node
  WHERE s.u NOT IN (SELECT node FROM core)
  GROUP BY s.u
)
SELECT e.vec_id,
       CASE WHEN cmp.node IS NOT NULL THEN 'core'
            WHEN bor.node IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       COALESCE(cmp.cluster_id, bor.cluster_id) AS cluster_id,
       CAST(COALESCE(d.eps_degree, 0) AS BIGINT) AS eps_degree
FROM (SELECT vec_id FROM q) e
LEFT JOIN comp cmp ON e.vec_id = cmp.node
LEFT JOIN border bor ON e.vec_id = bor.node
LEFT JOIN deg d ON e.vec_id = d.node
"""


# Mirrors text.text_ndcg_eval: the BM25 oracle as a CTE + the RRF oracle's
# semantic ranking chain; DCG/IDCG terms on the 9dp-DECIMAL sum rail; one
# final division.
ORACLE_SQL["text_ndcg_eval"] = f"""
WITH bm AS MATERIALIZED ({ORACLE_SQL["text_bm25_topk"]}),
lex AS MATERIALIZED (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY rank ASC) AS BIGINT) AS pos
  FROM bm WHERE doc_id != 0
),
{_QEMB_CTES},
qvec AS (SELECT qv AS qq, nrm AS nq FROM n WHERE vec_id = 0),
sem_scored AS (
  SELECT a.vec_id AS doc_id,
         list_dot_product(CAST(qq AS DOUBLE[]), CAST(a.qv AS DOUBLE[]))
           / (sqrt(nq) * sqrt(a.nrm)) AS cosine
  FROM n a CROSS JOIN qvec WHERE a.vec_id != 0
),
sem AS MATERIALIZED (
  SELECT doc_id, CAST(21 - sem_rank AS BIGINT) AS rel FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS sem_rank
    FROM sem_scored)
  WHERE sem_rank <= 20
),
dcg AS (
  -- one pass: the overlap count is the matched-rel count of the same
  -- left join (r11 review)
  SELECT CAST(SUM(CAST(round(
           (pow(CAST(2 AS DOUBLE), CAST(COALESCE(s.rel, 0) AS DOUBLE))
            - CAST(1 AS DOUBLE))
           / (ln(CAST(l.pos AS DOUBLE) + CAST(1 AS DOUBLE))
              / ln(CAST(2 AS DOUBLE))), 9) AS DECIMAL(28,9))) AS DOUBLE)
           AS dcg,
         CAST(COUNT(*) AS BIGINT) AS n_eval,
         CAST(SUM(CASE WHEN s.rel IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_overlap
  FROM lex l LEFT JOIN sem s ON l.doc_id = s.doc_id
),
ideal AS (SELECT unnest(generate_series(1, 20)) AS i),
idcg AS (
  SELECT CAST(SUM(CAST(round(
           (pow(CAST(2 AS DOUBLE), CAST(21 - i AS DOUBLE))
            - CAST(1 AS DOUBLE))
           / (ln(CAST(i AS DOUBLE) + CAST(1 AS DOUBLE))
              / ln(CAST(2 AS DOUBLE))), 9) AS DECIMAL(28,9))) AS DOUBLE)
           AS idcg
  FROM ideal
)
SELECT CAST(20 AS BIGINT) AS k, n_eval, n_overlap, dcg, idcg,
       dcg / idcg AS ndcg
FROM dcg CROSS JOIN idcg
"""


# Mirrors text.text_burrows_delta: one (source, token) count relation, the
# top-20 function-word budget, 9dp-railed frequency moments, guarded
# z-scores, and the re-railed pairwise mean |dz|.
ORACLE_SQL["text_burrows_delta"] = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS MATERIALIZED (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks GROUP BY 1, 2
),
top AS MATERIALIZED (
  SELECT token
  FROM (SELECT token, SUM(cnt) AS n FROM counts GROUP BY 1)
  ORDER BY n DESC, token ASC LIMIT 20
),
tot AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM counts GROUP BY 1
),
freqs AS MATERIALIZED (
  SELECT t.source, w.token,
         CAST(COALESCE(p.cnt, 0) AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS f
  FROM tot t CROSS JOIN top w
  LEFT JOIN counts p ON p.source = t.source AND p.token = w.token
),
stats AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS ns,
         SUM(CAST(round(f, 9) AS DECIMAL(28,9))) AS s1,
         SUM(CAST(round(f * f, 9) AS DECIMAL(28,9))) AS s2
  FROM freqs GROUP BY 1
),
word_stats AS MATERIALIZED (
  SELECT token,
         CAST(s1 AS DOUBLE) / CAST(ns AS DOUBLE) AS mu,
         CASE WHEN ns > 1 AND var > 0 THEN sqrt(var) END AS sigma
  FROM (SELECT *,
               (CAST(s2 AS DOUBLE)
                - CAST(ns AS DOUBLE)
                  * (CAST(s1 AS DOUBLE) / CAST(ns AS DOUBLE))
                  * (CAST(s1 AS DOUBLE) / CAST(ns AS DOUBLE)))
                 / (CAST(ns AS DOUBLE) - CAST(1 AS DOUBLE)) AS var
        FROM stats)
),
zf AS MATERIALIZED (
  SELECT f.source, f.token,
         CASE WHEN w.sigma IS NOT NULL THEN (f.f - w.mu) / w.sigma END AS z
  FROM freqs f JOIN word_stats w USING (token)
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(CAST(round(abs(a.z - b.z), 9) AS DECIMAL(28,9))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS delta
FROM zf a JOIN zf b ON a.token = b.token AND a.source < b.source
WHERE a.z IS NOT NULL AND b.z IS NOT NULL
GROUP BY 1, 2
"""


# Mirrors text.text_good_turing: frequency-of-frequencies off the
# (source, token) count relation; space-split token convention.
ORACLE_SQL["text_good_turing"] = """
WITH st AS MATERIALIZED (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS token FROM documents)
  GROUP BY 1, 2
),
rep AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM st GROUP BY 1
)
SELECT source, n_tokens, vocab, f1, f2,
       CASE WHEN n_tokens > 0 THEN CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) END
         AS p_unseen,
       CAST(vocab AS DOUBLE)
         + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
           / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)) AS chao1_vocab
FROM rep
"""

# Mirrors text.text_quality_kappa: the 250-char / 45-token gates, four
# confusion counts in one pass, IEEE-only kappa.
ORACLE_SQL["text_quality_kappa"] = """
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN n_chars >= 250 AND len(string_split(text, ' ')) >= 45 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         CAST(SUM(CASE WHEN n_chars >= 250 AND len(string_split(text, ' ')) < 45 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         CAST(SUM(CASE WHEN n_chars < 250 AND len(string_split(text, ' ')) >= 45 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         CAST(SUM(CASE WHEN n_chars < 250 AND len(string_split(text, ' ')) < 45 THEN 1 ELSE 0 END) AS BIGINT) AS n00
  FROM documents
)
SELECT n, n11, n10, n01, n00,
       CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS p_observed,
       (CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
         * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
       + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
         * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)) AS p_chance,
       CASE WHEN (CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
                 + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
                   * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)) < 1.0 THEN
         (CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
          - ((CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
             + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
               * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))))
         / (1.0 - ((CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
                   + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))))
       END AS kappa
FROM agg
"""

# Mirrors text.text_js_divergence: inner shared-token join + one-sided
# ln2 mass correction, shared sums on the DECIMAL(28,9) rail, ln 2 as the
# same literal, final round(7).
ORACLE_SQL["text_js_divergence"] = """
WITH tok AS MATERIALIZED (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS token FROM documents)
  GROUP BY 1, 2
),
tots AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tok GROUP BY 1),
t2 AS (
  SELECT tok.source, tok.token,
         CAST(tok.c AS DOUBLE) / CAST(tots.n AS DOUBLE) AS p
  FROM tok JOIN tots USING (source)
),
shared AS (
  SELECT a.source AS s1, b.source AS s2,
         CAST(SUM(CAST(ROUND(
           a.p * LN(2.0 * a.p / (a.p + b.p)) + b.p * LN(2.0 * b.p / (a.p + b.p))
         , 9) AS DECIMAL(28,9))) AS DOUBLE) AS term,
         CAST(SUM(CAST(ROUND(a.p, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sp,
         CAST(SUM(CAST(ROUND(b.p, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sq,
         CAST(COUNT(*) AS BIGINT) AS n_shared_tokens
  FROM t2 a JOIN t2 b ON a.token = b.token AND a.source < b.source
  GROUP BY 1, 2
),
spine AS (
  SELECT a.source AS s1, b.source AS s2
  FROM tots a CROSS JOIN tots b WHERE a.source < b.source
)
SELECT sp.s1, sp.s2,
       COALESCE(sh.n_shared_tokens, 0) AS n_shared_tokens,
       ROUND(0.5 * (COALESCE(sh.term, 0.0)
              + 0.6931471805599453 * (1.0 - COALESCE(sh.sp, 0.0))
              + 0.6931471805599453 * (1.0 - COALESCE(sh.sq, 0.0))), 7) AS jsd,
       ROUND(0.5 * (COALESCE(sh.term, 0.0)
              + 0.6931471805599453 * (1.0 - COALESCE(sh.sp, 0.0))
              + 0.6931471805599453 * (1.0 - COALESCE(sh.sq, 0.0)))
             / 0.6931471805599453, 7) AS jsd_norm
FROM spine sp LEFT JOIN shared sh ON sp.s1 = sh.s1 AND sp.s2 = sh.s2
"""


# --- r12 additions -----------------------------------------------------------

# Mirrors text.text_lexical_diversity: one (source, token) pass, Yule/
# Simpson from HUGEINT-exact sum of squared counts, Herdan from 7dp-pinned
# lns.
ORACLE_SQL["text_lexical_diversity"] = """
WITH counts AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY 1, 2
),
ps AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS v_types,
         SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sum_c2
  FROM counts GROUP BY 1
)
SELECT source, n_tokens, v_types,
       ROUND(CAST(v_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9) AS ttr,
       ROUND(CASE WHEN n_tokens > 1 AND v_types > 0
             THEN ROUND(LN(CAST(v_types AS DOUBLE)), 7)
                  / ROUND(LN(CAST(n_tokens AS DOUBLE)), 7) END, 9) AS herdan_c,
       ROUND(CASE WHEN n_tokens > 0
             THEN 10000.0 * (CAST(sum_c2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))
                  / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) END, 9) AS yule_k,
       ROUND(CASE WHEN n_tokens > 1
             THEN (CAST(sum_c2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))
                  / (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0)) END, 9) AS simpson_lambda
FROM ps
"""

# Mirrors graph.graph_rich_club over the shared co-occurrence edge CTEs:
# degree census, degree-tagged edges, fixed threshold spine, exact-int phi.
from .operators.graph import RICH_CLUB_KS  # noqa: E402

_RC_KS = ", ".join(f"({k})" for k in RICH_CLUB_KS)
ORACLE_SQL["graph_rich_club"] = f"""
WITH {_PR_GRAPH_CTES},
deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
spine AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES {_RC_KS}) t(k)),
n_k AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM deg CROSS JOIN spine WHERE deg > k GROUP BY 1
),
tagged AS (
  SELECT e.src, e.dst, du.deg AS du, dv.deg AS dv
  FROM edges e JOIN deg du ON e.src = du.src JOIN deg dv ON e.dst = dv.src
),
e_k AS (
  SELECT k, CAST(COUNT(*) / 2 AS BIGINT) AS n_edges
  FROM tagged CROSS JOIN spine WHERE du > k AND dv > k GROUP BY 1
)
SELECT s.k, COALESCE(n.n_nodes, 0) AS n_nodes, COALESCE(e.n_edges, 0) AS n_edges,
       CASE WHEN COALESCE(n.n_nodes, 0) >= 2
       THEN ROUND(2.0 * CAST(COALESCE(e.n_edges, 0) AS DOUBLE)
                  / (CAST(n.n_nodes AS DOUBLE) * (CAST(n.n_nodes AS DOUBLE) - 1.0)), 9)
       END AS phi
FROM spine s LEFT JOIN n_k n USING (k) LEFT JOIN e_k e USING (k)
"""


# Mirrors curation.corpus_source_concentration: sorted-rank Gini identity
# with exact HUGEINT cross products, 9dp-railed HHI fold, top-k shares.
ORACLE_SQL["corpus_source_concentration"] = """
WITH per_source AS (
  SELECT source,
         CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
           AS tokens
  FROM documents GROUP BY 1
),
ranked AS (
  SELECT source, tokens,
         CAST(row_number() OVER (ORDER BY tokens ASC, source ASC) AS BIGINT) AS i
  FROM per_source
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(tokens) AS BIGINT) AS t_all
  FROM ranked
),
agg AS (
  SELECT MAX(t.k) AS n_sources,
         MAX(t.t_all) AS total_tokens,
         SUM((2 * CAST(r.i AS HUGEINT) - CAST(t.k AS HUGEINT) - 1)
             * CAST(r.tokens AS HUGEINT)) AS gini_num,
         CAST(SUM(CAST(ROUND(
           (CAST(r.tokens AS DOUBLE) / CAST(t.t_all AS DOUBLE))
           * (CAST(r.tokens AS DOUBLE) / CAST(t.t_all AS DOUBLE)), 9)
           AS DECIMAL(28,9))) AS DOUBLE) AS hhi,
         CAST(SUM(CASE WHEN r.i = t.k THEN r.tokens ELSE 0 END) AS BIGINT)
           AS top1,
         CAST(SUM(CASE WHEN r.i > t.k - 3 THEN r.tokens ELSE 0 END) AS BIGINT)
           AS top3
  FROM ranked r CROSS JOIN tot t
)
SELECT n_sources, total_tokens,
       ROUND(hhi, 9) AS hhi,
       ROUND(CASE WHEN n_sources >= 1 AND total_tokens > 0 THEN
         CAST(gini_num AS DOUBLE)
           / (CAST(n_sources AS DOUBLE) * CAST(total_tokens AS DOUBLE))
       END, 9) AS gini,
       ROUND(CAST(top1 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 9)
         AS top1_share,
       ROUND(CAST(top3 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 9)
         AS top3_share
FROM agg
"""


# Mirrors text.text_heaps_law_fit: integer-arithmetic prefix buckets
# (DuckDB // = Spark's a − a%b form for non-negative ids), exact
# cumulative checkpoint totals, ln pinned at 7dp into DECIMAL(18,7) so
# every OLS sufficient sum is exact; slope/intercept/r² divide once.
from .operators.text import DISPERSION_TOPK, HEAPS_CHECKPOINTS  # noqa: E402

ORACLE_SQL["text_heaps_law_fit"] = f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
),
rng AS (SELECT MIN(doc_id) AS dmin, MAX(doc_id) AS dmax FROM tok),
per_doc AS (
  SELECT ((t.doc_id - r.dmin) * {HEAPS_CHECKPOINTS})
           // (r.dmax - r.dmin + 1) + 1 AS bkt,
         CAST(COUNT(*) AS BIGINT) AS toks
  FROM tok t CROSS JOIN rng r
  GROUP BY 1
),
first_doc AS (
  SELECT ((fd - r.dmin) * {HEAPS_CHECKPOINTS}) // (r.dmax - r.dmin + 1) + 1
           AS bkt,
         CAST(COUNT(*) AS BIGINT) AS new_types
  FROM (SELECT token, MIN(doc_id) AS fd FROM tok GROUP BY 1) f
  CROSS JOIN rng r
  GROUP BY 1
),
spine AS (
  SELECT UNNEST(generate_series(1, {HEAPS_CHECKPOINTS})) AS bkt
),
merged AS (
  SELECT s.bkt,
         COALESCE(p.toks, 0) AS toks,
         COALESCE(f.new_types, 0) AS new_types
  FROM spine s
  LEFT JOIN per_doc p ON s.bkt = p.bkt
  LEFT JOIN first_doc f ON s.bkt = f.bkt
),
points AS (
  SELECT bkt,
         CAST(SUM(toks) OVER (ORDER BY bkt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_k,
         CAST(SUM(new_types) OVER (ORDER BY bkt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS v_k
  FROM merged
),
xy AS (
  SELECT CAST(ROUND(LN(CAST(n_k AS DOUBLE)), 7) AS DECIMAL(18,7)) AS x,
         CAST(ROUND(LN(CAST(v_k AS DOUBLE)), 7) AS DECIMAL(18,7)) AS y,
         n_k, v_k
  FROM points WHERE n_k > 0 AND v_k > 0
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy,
         MAX(n_k) AS n_tokens, MAX(v_k) AS vocab
  FROM xy
),
fit AS (
  SELECT m, n_tokens, vocab,
         CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
         CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy,
         CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM sums
),
coef AS (
  SELECT m, n_tokens, vocab, dx, dy, num, sxd, syd,
         CASE WHEN m >= 2 AND dx > 0 THEN num / dx END AS beta
  FROM fit
)
SELECT m AS n_checkpoints, n_tokens, vocab,
       ROUND(beta, 9) AS heaps_beta,
       ROUND(EXP((syd - beta * sxd) / CAST(m AS DOUBLE)), 6) AS heaps_k,
       ROUND(CASE WHEN beta IS NOT NULL AND dy > 0
             THEN num * num / (dx * dy) END, 9) AS r2
FROM coef
"""

# Mirrors text.text_token_dispersion: exact integer (token, source)
# frequencies, vocab_topk tie-break top-K, zero-filled K × sources spine,
# |v − s| folds on the 9dp/DECIMAL(28,9) rail.
ORACLE_SQL["text_token_dispersion"] = f"""
WITH ts AS (
  SELECT token, source, CAST(COUNT(*) AS BIGINT) AS f
  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS token
        FROM documents)
  GROUP BY 1, 2
),
tok_tot AS (SELECT token, CAST(SUM(f) AS BIGINT) AS f_tok FROM ts GROUP BY 1),
top AS (
  SELECT token, f_tok FROM tok_tot
  ORDER BY f_tok DESC, token ASC LIMIT {DISPERSION_TOPK}
),
src_tot AS (SELECT source, CAST(SUM(f) AS BIGINT) AS f_src FROM ts GROUP BY 1),
corpus AS (SELECT CAST(SUM(f_src) AS BIGINT) AS n_all FROM src_tot),
cells AS (
  SELECT t.token, t.f_tok, s.f_src, c.n_all,
         COALESCE(x.f, 0) AS f_cell
  FROM top t
  CROSS JOIN src_tot s
  LEFT JOIN ts x ON t.token = x.token AND s.source = x.source
  CROSS JOIN corpus c
)
SELECT token,
       MAX(f_tok) AS n_occurrences,
       CAST(SUM(CASE WHEN f_cell > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sources_present,
       ROUND(CAST(SUM(CAST(ROUND(
         ABS(CAST(f_cell AS DOUBLE) / CAST(f_tok AS DOUBLE)
             - CAST(f_src AS DOUBLE) / CAST(n_all AS DOUBLE)), 9)
         AS DECIMAL(28,9))) AS DOUBLE) / 2.0, 9) AS dispersion_dp
FROM cells
GROUP BY 1
"""

# Mirrors similarity.embedding_isotropy_report: 9dp-rounded unit
# components into DECIMAL(19,9) (exact per-dim sums in any order), the
# resultant-vector identity for the mean pairwise cosine, railed dim fold.
ORACLE_SQL["embedding_isotropy_report"] = f"""
WITH {_QEMB_CTES},
filtered AS (SELECT vec_id, qv, nrm FROM n WHERE nrm > 0),
unit AS (
  SELECT vec_id,
         list_transform(qv,
           x -> CAST(ROUND(CAST(x AS DOUBLE) / SQRT(CAST(nrm AS DOUBLE)), 9)
                AS DECIMAL(19,9))) AS u
  FROM filtered
),
cells AS (
  SELECT vec_id, generate_subscripts(u, 1) AS dim, UNNEST(u) AS ux FROM unit
),
dims AS (
  SELECT CAST(dim AS BIGINT) AS dim, SUM(ux) AS sx FROM cells GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vectors,
         SUM(ux * ux) AS sum_u2
  FROM cells
),
n_all AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM n),
folds AS (
  SELECT CAST(SUM(CAST(ROUND(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 9)
                  AS DECIMAL(28,9))) AS DOUBLE) AS r2,
         CAST(COUNT(*) AS BIGINT) AS n_dims
  FROM dims
)
SELECT f.n_dims, t.n_vectors,
       CAST(a.n_total - t.n_vectors AS BIGINT) AS n_zero_norm,
       ROUND(CASE WHEN t.n_vectors >= 2 THEN
         (f.r2 - CAST(t.sum_u2 AS DOUBLE))
           / (CAST(t.n_vectors AS DOUBLE) * (CAST(t.n_vectors AS DOUBLE) - 1.0))
       END, 9) AS mean_pairwise_cosine,
       ROUND(CASE WHEN t.n_vectors >= 1
             THEN SQRT(f.r2) / CAST(t.n_vectors AS DOUBLE) END, 9)
         AS mean_resultant_length
FROM folds f CROSS JOIN tot t CROSS JOIN n_all a
"""

# Mirrors similarity.embedding_intrinsic_dim: exact integer squared
# distances (the dedup_embedding_cosine convention), the pinned smallest-
# vec_id query cap, partitioned 2-NN rank window, railed ln-ratio fold,
# MLE divided once in double.
from .operators.similarity import INTRINSIC_DIM_QUERY_CAP  # noqa: E402

ORACLE_SQL["embedding_intrinsic_dim"] = f"""
WITH {_QEMB_CTES},
n_all AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM n),
pairs AS (
  SELECT a.vec_id,
         CAST(a.nrm + b.nrm
              - 2 * list_dot_product(CAST(a.qv AS DOUBLE[]),
                                     CAST(b.qv AS DOUBLE[])) AS BIGINT) AS d2,
         b.vec_id AS oid
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < {INTRINSIC_DIM_QUERY_CAP}
),
ranked AS (
  SELECT vec_id, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, oid ASC)
           AS rn
  FROM pairs
),
two_nn AS (
  SELECT vec_id,
         MIN(CASE WHEN rn = 1 THEN d2 END) AS r1sq,
         MIN(CASE WHEN rn = 2 THEN d2 END) AS r2sq
  FROM ranked WHERE rn <= 2 GROUP BY 1
),
folds AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         CAST(SUM(CASE WHEN r1sq > 0 AND r2sq IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_used,
         CAST(SUM(CASE WHEN r1sq > 0 AND r2sq IS NOT NULL THEN
           CAST(ROUND(LN(CAST(r2sq AS DOUBLE) / CAST(r1sq AS DOUBLE)), 9)
                AS DECIMAL(28,9)) END) AS DOUBLE) AS sum_ln
  FROM two_nn
)
SELECT a.n_vectors, f.n_queries, f.n_used,
       CAST(f.n_queries - f.n_used AS BIGINT) AS n_degenerate,
       ROUND(f.sum_ln, 9) AS sum_log_ratio,
       ROUND(CASE WHEN f.n_used > 0 AND f.sum_ln > 0
             THEN 2.0 * CAST(f.n_used AS DOUBLE) / f.sum_ln END, 6)
         AS intrinsic_dim
FROM folds f CROSS JOIN n_all a
"""
