"""Relational operator surface over the star-schema fixtures.

The reference has no general joins/aggregations (SURVEY.md §2.5: its only
"joins" are two broadcast dimension lookups, appV2.py:62-71); this module is
the generic relational surface the engine exposes on top of Catalyst —
multi-way joins, grouped aggregation, rollup, semi/anti joins, window
functions, top-k per group, set operations, pivot, and an
as-of join (which Spark lacks natively; implemented shuffle-once via
union + window).

Determinism/oracle notes: every monetary aggregate is computed in exact
DECIMAL and cast to DOUBLE at the end — the fixture values are exact
2-decimal, so the decimal sums are bit-identical between Spark and DuckDB
(double sums would drift in the last ulps with partition-order association).
Every LIMIT/top-k carries a unique tie-break column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..checkpointing import session_memo, truncate_lineage, truncate_lineage_eager
from ..sources.images import IMAGE_EXTENSIONS
from ..sources.tables import load_table

# Exact-decimal casts for the 2-decimal fixture money columns.
_DEC_PRICE = "decimal(12,2)"
_DEC_RATE = "decimal(8,4)"


def _dec(col: str, t: str = _DEC_PRICE):
    return F.col(col).cast(t)


def _one_minus(col: str):
    return F.lit(1).cast(_DEC_RATE) - _dec(col, _DEC_RATE)


def _one_plus(col: str):
    return F.lit(1).cast(_DEC_RATE) + _dec(col, _DEC_RATE)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate with 8 aggregates.

    The shipdate predicate and 6-column projection push down to the parquet
    scan; the groupBy is a 6-group hash aggregate with map-side partials.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * _one_minus("l_discount")
    charge = disc_price * _one_plus("l_tax")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).alias("_sq"),
            F.sum(_dec("l_extendedprice")).alias("_sbp"),
            F.sum(disc_price).alias("_sdp"),
            F.sum(charge).alias("_sc"),
            F.sum(_dec("l_discount", _DEC_RATE)).alias("_sd"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("_sq").cast("double").alias("sum_qty"),
            F.col("_sbp").cast("double").alias("sum_base_price"),
            F.col("_sdp").cast("double").alias("sum_disc_price"),
            F.col("_sc").cast("double").alias("sum_charge"),
            (F.col("_sq").cast("double") / F.col("count_order")).alias("avg_qty"),
            (F.col("_sbp").cast("double") / F.col("count_order")).alias("avg_price"),
            (F.col("_sd").cast("double") / F.col("count_order")).alias("avg_disc"),
            "count_order",
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + aggregate + deterministic top-10.

    customer is small → explicit broadcast; orders⋈lineitem shuffles on the
    order key. Tie-break on the unique l_orderkey keeps the LIMIT stable.
    """
    cutoff = F.lit("1997-09-01").cast("date")
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "AUTOMOBILE")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    revenue = F.sum(_dec("l_extendedprice") * _one_minus("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"))
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with small-dim broadcasts, grouped sum."""
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.sum(_dec("l_extendedprice") * _one_minus("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(revenue.cast("double").alias("revenue"))
    )


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (grand total + per-flag subtotals)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi (EXISTS) and left-anti (NOT EXISTS) against filtered orders,
    labeled and unioned: customers per segment with / without an 'F' order."""
    cust = load_table(spark, sf_dir, "customer")
    f_orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    semi = (
        cust.join(f_orders, cust.c_custkey == f_orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("kind", F.lit("with_f_order"))
    )
    anti = (
        cust.join(f_orders, cust.c_custkey == f_orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("kind", F.lit("without_f_order"))
    )
    return semi.unionByName(anti).select("c_mktsegment", "kind", "n")


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by total price per customer — the window form with a
    unique tie-break (o_orderkey), one shuffle on the partition key."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per supplier: exact-decimal cumulative sum.

    The synthetic fixture does NOT honor TPC-H's (orderkey, linenumber)
    primary key (duplicate pairs exist, some sharing shipdate+suppkey), so
    the sort additionally carries the revenue inputs (extendedprice,
    discount): rows that still tie then contribute IDENTICAL revenue, which
    makes the prefix-sum multiset independent of their relative order — the
    only flavor of tie the value-hash compare can tolerate. (Found as a
    1-row sf0.1 hash flake in r7; any engine pair would disagree on a
    revenue-distinct tie.)"""
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(
            F.asc("l_shipdate"),
            F.asc("l_orderkey"),
            F.asc("l_linenumber"),
            F.asc("l_extendedprice"),
            F.asc("l_discount"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rev = _dec("l_extendedprice") * _one_minus("l_discount")
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(rev).over(w).cast("double").alias("running_revenue"),
    )


def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over nation keys of two customer segments."""
    cust = load_table(spark, sf_dir, "customer")
    auto = cust.where(F.col("c_mktsegment") == "AUTOMOBILE").select("c_nationkey")
    mach = cust.where(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey")
    both = auto.intersect(mach).withColumn("op", F.lit("intersect"))
    only_auto = auto.subtract(mach).withColumn("op", F.lit("except"))
    union = auto.union(mach).distinct().withColumn("op", F.lit("union"))
    return both.unionByName(only_auto).unionByName(union)


def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status into columns per priority (conditional-agg shape)."""
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_fulfilled"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_pending"),
    )


def distinct_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group plus min/max projections."""
    part = load_table(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.countDistinct("p_size").alias("n_sizes"),
        F.countDistinct("p_type").alias("n_types"),
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
        F.count(F.lit(1)).alias("n_parts"),
    )


def lateral_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through the SQL surface: for each nation,
    its top-3 customers by account balance (unique custkey tie-break).

    Exercises the engine's SQL-API parity for the LATERAL shape users write
    directly; Catalyst decorrelates it into a join + per-key ranking rather
    than executing the inner query once per outer row — the same plan the
    DataFrame window form produces, which is exactly the point: the naive
    SQL stays scale-safe."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_lat")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat")
    return spark.sql(
        """
        SELECT n.n_name AS nation, t.c_name AS customer,
               t.c_acctbal AS acctbal
        FROM nation_lat n,
        LATERAL (
          SELECT c_name, c_acctbal
          FROM customer_lat c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey ASC
          LIMIT 3
        ) t
        """
    )


def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one — SURVEY.md §2.5 'not present'):
    for each purchase event, the most recent click by the same user at or
    before the purchase time.

    Scale-first implementation: instead of a per-key range join (quadratic
    per user) or ``pd.merge_asof`` per group (Python boundary), union the two
    event streams, sort within a single shuffle partition-by-user, and carry
    the last-seen click forward with ``last(..., ignorenulls=True)``. One
    shuffle, linear work, no skew beyond the user key itself.

    Tie policy: a click at exactly the purchase timestamp counts (<=); among
    equal-timestamp clicks the highest event_id wins. Encoded in the sort
    order (ts asc, clicks-before-purchases, event_id asc).
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id"), F.lit(0).alias("kind")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_event_id"), F.lit(1).alias("kind")
    )
    merged = clicks.withColumn("purchase_event_id", F.lit(None).cast("bigint")).unionByName(
        purchases.withColumn("click_event_id", F.lit(None).cast("bigint"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("kind"), F.asc("click_event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn("last_click_id", F.last("click_event_id", ignorenulls=True).over(w))
        .withColumn("last_click_ts", F.last(F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True).over(w))
        .where(F.col("kind") == 1)
        .select(
            "user_id",
            F.col("purchase_event_id").alias("event_id"),
            F.col("last_click_id").alias("click_event_id"),
            (F.unix_timestamp("ts") - F.unix_timestamp("last_click_ts")).alias("gap_seconds"),
        )
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum-cost supplier (correlated MIN).

    The fixtures have no partsupp, so the offer relation is derived from
    lineitem: cost(part, supp) = MIN(l_extendedprice) observed — exact
    2-decimal, so the min-equality join-back cannot be split by float
    noise. One shuffle builds the (part, supp) aggregate; the per-part min
    is a window over the SAME partitioning (no second exchange), then the
    supplier/nation dims broadcast. All tied minimum suppliers are kept,
    exactly like TPC-H Q2's correlated subquery.
    """
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") <= 15) & (F.col("p_type") == "SMALL")
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    # One shuffle for BOTH the (part,supp) aggregate and the per-part window:
    # hash-partitioning on l_partkey alone satisfies the clustered
    # distribution of groupBy(l_partkey, l_suppkey) AND of the window, so
    # neither inserts its own exchange. (groupBy first would shuffle on the
    # pair, which the partkey-only window can NOT reuse → two exchanges.)
    offers = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(_dec("l_extendedprice")).alias("cost"))
    )
    min_cost = F.min("cost").over(Window.partitionBy("l_partkey"))
    return (
        offers.withColumn("min_cost", min_cost)
        .where(F.col("cost") == F.col("min_cost"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            F.col("cost").cast("double").alias("min_cost"),
            "s_name",
            "n_name",
        )
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: priority counts of orders with a late-shipped line.

    The fixtures carry no commit/receipt dates, so "late" = some lineitem
    shipped more than 60 days after the order date. Physically a LEFT SEMI
    join on the order key with the lateness predicate as join condition —
    no lineitem duplication reaches the aggregate, and the orders-side
    date filter pushes to the parquet scan.
    """
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    return (
        orders.join(li, (orders.o_orderkey == li.l_orderkey) & late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-scan filtered aggregate.

    Every predicate and the 2-column projection push down to the parquet
    scan; the single-group aggregate is one partial-agg + one 1-row
    exchange. The canonical 'is pushdown working' probe.
    """
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.sum(_dec("l_extendedprice") * _dec("l_discount", _DEC_RATE))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            revenue.cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue flow between two nations by ship year.

    Two broadcast-joined copies of the nation dim (supplier side and
    customer side); only the big lineitem⋈orders join shuffles. The pair
    filter keeps both directions (N1→N2 and N2→N1).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n_s = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n_c = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    revenue = F.sum(_dec("l_extendedprice") * _one_minus("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_s), supp.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(n_c), cust.c_nationkey == F.col("cn_key"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(revenue.cast("double").alias("revenue"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue on returned items.

    lineitem⋈orders shuffles on the order key; customer and nation
    broadcast. Deterministic LIMIT via the unique c_custkey tie-break.
    """
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.sum(_dec("l_extendedprice") * _one_minus("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share by ship month (conditional agg
    over a broadcast part join). Numerator and denominator are exact
    decimals; the single double division at the end is engine-portable."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    part = load_table(spark, sf_dir, "part")
    disc_price = _dec("l_extendedprice") * _one_minus("l_discount")
    promo = F.sum(F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0).cast(_DEC_PRICE)))
    total = F.sum(disc_price)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(promo.alias("_p"), total.alias("_t"))
        .select(
            "ship_month",
            (F.lit(100.0) * F.col("_p").cast("double") / F.col("_t").cast("double")).alias(
                "promo_pct"
            ),
            F.col("_t").cast("double").alias("total_revenue"),
        )
    )


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from unusually small orders of one brand.

    The correlated AVG subquery becomes a per-part aggregate joined back to
    the lineitems of the same parts. The comparison ``l_quantity <
    0.2 * avg(l_quantity)`` is rewritten exactly in integers:
    ``5 * qty * n_lines < sum_qty`` (all exact decimals) so no double
    division can flip a boundary row between engines. Aggregating BEFORE
    the join-back keeps the shuffled side small (filter-early, same trick
    as Q18).
    """
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    li = load_table(spark, sf_dir, "lineitem")
    branded = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    per_part = branded.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(_dec("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    small = (
        F.lit(5).cast(_DEC_PRICE) * _dec("l_quantity") * F.col("n_lines")
        < F.col("sum_qty")
    )
    return (
        branded.join(F.broadcast(per_part), branded.l_partkey == F.col("pk"))
        .where(small)
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich customers with no RECENT order, by nation.

    The scalar AVG subquery is a 1-row broadcast cross join (stays a
    BroadcastNestedLoopJoin over one row — no shuffle); the NOT EXISTS is a
    LEFT ANTI join on the customer key. The threshold double is derived
    from an exact decimal sum, so both engines compare against the same
    value. "Idle" = no order since 2001-01-01 (the fixtures give every
    customer at least one lifetime order, so the literal TPC-H NOT EXISTS
    would be a 0-row degenerate query); the date filter pushes to the
    orders scan, shrinking the anti join's build side.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("date")
    )
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
        )
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"),
        )
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's market by year.

    Share of NATION_1 suppliers in ECONOMY-part revenue bought by
    ASIA-region customers. Five dimension joins all broadcast; only
    lineitem⋈orders shuffles. Numerator/denominator in exact decimal, one
    double division at the end.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n_c = nation.select("n_nationkey", "n_regionkey")
    n_s = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    disc_price = _dec("l_extendedprice") * _one_minus("l_discount")
    zero = F.lit(0).cast(_DEC_PRICE)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_c), cust.c_nationkey == n_c.n_nationkey)
        .join(F.broadcast(region), n_c.n_regionkey == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_s), supp.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_1", disc_price).otherwise(zero)).alias("_n"),
            F.sum(disc_price).alias("_d"),
        )
        .select(
            "order_year",
            (F.col("_n").cast("double") / F.col("_d").cast("double")).alias("mkt_share"),
            F.col("_d").cast("double").alias("region_revenue"),
        )
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for a part
    name pattern. No partsupp/supplycost in the fixtures, so profit =
    discounted revenue. The `contains` filter prunes part BEFORE the
    broadcast; supplier/nation broadcast too — only lineitem⋈orders
    shuffles."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").contains("widget"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    profit = F.sum(_dec("l_extendedprice") * _one_minus("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("order_year"))
        .agg(profit.cast("double").alias("profit"), F.count(F.lit(1)).alias("n_lines"))
    )


def q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional priority counts over late lines.

    The fixtures have no shipmode/commit/receipt dates: the group key is
    l_linestatus and "late" = shipped >60 days after order date. The
    priority CASE collapses to two conditional sums computed in one pass —
    the same one-join one-agg plan as the original."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with maximum quarterly revenue.

    The CTE-with-MAX becomes: per-supplier decimal aggregate → 1-row MAX →
    broadcast equality join-back (exact decimal compare, so ties are real
    ties, not float accidents). The supplier dim broadcasts onto the
    winners."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_dec("l_extendedprice") * _one_minus("l_discount")).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per part attribute class,
    excluding a supplier blocklist.

    The partsupp stand-in is the DISTINCT (l_partkey, l_suppkey) pairs of
    lineitem (one shuffle, map-side partial distinct). The NOT IN becomes
    a LEFT ANTI against the blocklisted suppliers (name ending in '7');
    part filters prune the broadcast side before the join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    bad_supp = load_table(spark, sf_dir, "supplier").where(
        F.col("s_name").endswith("7")
    ).select("s_suppkey")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .join(F.broadcast(bad_supp), pairs.l_suppkey == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate across both join sides.

    The classic CNF-conversion test: Catalyst extracts the common
    join key and pushes the derivable single-side conjuncts
    (brand/size disjunction to the part scan, quantity range to the
    lineitem scan) while keeping the cross-side residual on the join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    clause = (
        ((b == "Brand#1") & s.between(1, 10) & q.between(1, 11))
        | ((b == "Brand#2") & s.between(11, 20) & q.between(10, 20))
        | ((b == "Brand#3") & s.between(21, 30) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(clause)
        .agg(
            F.sum(_dec("l_extendedprice") * _one_minus("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q20_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers qualified by an aggregate-filtered
    subquery, restricted to nations.

    "Shipped >50 units of some red part during 1997" — the HAVING aggregate
    runs on the (supp, part) grain first, then collapses to a distinct
    supplier set that LEFT SEMI-prunes the supplier dim. Nation filter
    broadcasts."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    red = load_table(spark, sf_dir, "part").where(F.col("p_name").startswith("red"))
    supp = load_table(spark, sf_dir, "supplier")
    # even-keyed nations: the original NATION_1/NATION_6 literal never
    # intersected the bulk-supplier set at ANY fixture scale, so the query
    # (and its parity gate) was vacuously empty — the r9 registry-wide
    # vacuity audit's finding; the even-key predicate keeps the dim-filter
    # shape and returns rows at every scale
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_nationkey") % 2 == 0
    )
    bulk = (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(bulk, supp.s_suppkey == bulk.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the double-correlated EXISTS/NOT EXISTS self-join.

    Suppliers in NATION_1 who were the ONLY late supplier on a finished
    multi-supplier order ("late" = shipped >60 days after order date).
    The EXISTS (another supplier touched the order) is a LEFT SEMI on the
    order key with a supplier-inequality residual; the NOT EXISTS (no
    other supplier was late) is a LEFT ANTI with the lateness predicate
    folded into the join condition. Both self-joins reuse the lineitem
    shuffle on l_orderkey."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
    li = load_table(spark, sf_dir, "lineitem")
    l1 = li.select("l_orderkey", "l_suppkey", "l_shipdate")
    l2 = li.select(
        F.col("l_orderkey").alias("o2_key"), F.col("l_suppkey").alias("s2_key")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("o3_key"),
        F.col("l_suppkey").alias("s3_key"),
        F.col("l_shipdate").alias("ship3"),
    )
    late1 = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    late3 = F.col("ship3") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    return (
        l1.join(orders, l1.l_orderkey == orders.o_orderkey)
        .where(late1)
        .join(
            l2,
            (F.col("l_orderkey") == F.col("o2_key"))
            & (F.col("l_suppkey") != F.col("s2_key")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3_key"))
            & (F.col("l_suppkey") != F.col("s3_key"))
            & late3,
            "left_anti",
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups exceeding a fraction of the global total.

    Per-part revenue vs a scalar threshold derived from the SAME aggregate
    (1.2× the mean part share — SF-invariant, unlike Q11's hardcoded
    0.0001/SF). The total+count is a second 1-row aggregate over the
    per-part relation, broadcast back; both sides compute the threshold
    identically in double from exact decimal inputs."""
    li = load_table(spark, sf_dir, "lineitem")
    pp = li.groupBy("l_partkey").agg(
        F.sum(_dec("l_extendedprice") * _one_minus("l_discount")).alias("_v")
    )
    tot = pp.agg(F.sum("_v").alias("_t"), F.count(F.lit(1)).alias("_np"))
    return (
        pp.crossJoin(F.broadcast(tot))
        .where(
            F.col("_v").cast("double")
            > F.lit(1.2) * F.col("_t").cast("double") / F.col("_np")
        )
        .select("l_partkey", F.col("_v").cast("double").alias("part_value"))
    )


def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — all four combinations of the two keys."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
    )


def above_avg_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-aggregate join (the scalar-subquery shape): parts priced above
    their brand's average. The brand average is a tiny aggregate → broadcast
    back against the full table; no correlated re-execution."""
    part = load_table(spark, sf_dir, "part")
    brand_avg = part.groupBy("p_brand").agg(
        (F.sum(_dec("p_retailprice")).cast("double") / F.count(F.lit(1))).alias("brand_avg")
    )
    return (
        part.join(F.broadcast(brand_avg), "p_brand")
        .where(F.col("p_retailprice") > F.col("brand_avg"))
        .select("p_partkey", "p_brand", "p_retailprice", "brand_avg")
    )


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide measures to long (measure, value) pairs."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="value",
    )


# Sketch-accuracy contract for approx_distinct: each engine checks ITS OWN
# HLL sketch against its own exact count at this relative error. Spark's
# HLL++ runs at the default relativeSD=0.05, so 0.15 is a 3σ envelope;
# DuckDB's HLL is far tighter. Sync-pinned to the oracle literal.
APPROX_DISTINCT_EPS = 0.15


def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts beside the exact answer.

    Value-checked CONTRACT (r8, VERDICT r7 ask #4): raw sketch estimates
    are engine-specific (Spark HLL++ vs DuckDB HLL disagree by design), so
    the comparable columns are the exact counts plus a per-group boolean
    `abs(approx − exact)/exact <= eps` that each engine computes from its
    own sketch vs its own exact count — the accuracy contract both engines
    must honor, with eps documented at APPROX_DISTINCT_EPS."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("ap"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_orderkey").alias("ao"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    ok = lambda a, e: (  # noqa: E731
        F.abs(F.col(a).cast("double") - F.col(e).cast("double"))
        / F.col(e).cast("double")
        <= F.lit(APPROX_DISTINCT_EPS)
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        "exact_orders",
        ok("ap", "exact_parts").alias("approx_parts_ok"),
        ok("ao", "exact_orders").alias("approx_orders_ok"),
    )


def scan_extension_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — the reference's extension predicate (appV2.py:17,135) over a
    synthesized path column: keep paths whose lower-cased suffix is an image
    extension. At a real scan this is ``pathGlobFilter`` (applied at file
    listing); here it is the equivalent Column predicate."""
    docs = load_table(spark, sf_dir, "documents")
    ext = F.element_at(F.split(F.lit(".jpg,.JPEG,.png,.webp,.bmp,.GIF,.txt,.mp4"), ","), (F.col("doc_id") % 8 + 1).cast("int"))
    path = F.concat(F.col("source"), F.lit("/doc_"), F.col("doc_id").cast("string"), ext)
    with_path = docs.select("doc_id", path.alias("path"))
    suffix = F.lower(F.element_at(F.split(F.col("path"), "\\."), -1))
    return with_path.where(suffix.isin(IMAGE_EXTENSIONS))


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution via a left outer
    join (customers with zero orders must appear) and two aggregations.

    The first groupBy rides the join's own hash partitioning on the customer
    key; the second is a tiny shuffle over the distinct counts.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose lineitem quantity total exceeds a
    threshold (HAVING over a grouped sum), joined back to orders + customer.

    The big-side aggregate runs FIRST and only qualifying order keys join
    onward — the filter-early plan; customer is a broadcast dim.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_sq"))
        .where(F.col("_sq") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            F.col("_sq").cast("double").alias("sum_qty"),
        )
    )


def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame surface: lag delta, 3-row moving sum/avg (ROWS BETWEEN 2
    PRECEDING AND CURRENT ROW), and ntile(4) per customer's order history.

    One shuffle on o_custkey serves all four functions (same window spec
    family). The moving average divides an exact-decimal moving sum by the
    frame row count so the doubles are bit-identical to the oracle's.
    """
    orders = load_table(spark, sf_dir, "orders")
    order_spec = (F.asc("o_orderdate"), F.asc("o_orderkey"))  # unique tie-break
    w = Window.partitionBy("o_custkey").orderBy(*order_spec)
    frame = w.rowsBetween(-2, Window.currentRow)
    mov_sum = F.sum(_dec("o_totalprice")).over(frame)
    mov_n = F.count(F.lit(1)).over(frame)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        (_dec("o_totalprice") - F.lag(_dec("o_totalprice"), 1).over(w))
        .cast("double")
        .alias("delta_prev"),
        mov_sum.cast("double").alias("moving_sum3"),
        (mov_sum.cast("double") / mov_n).alias("moving_avg3"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS beyond rollup/cube: per-flag, per-status, and
    grand-total groups in one pass, with grouping_id to disambiguate the
    NULLs that mark "all" (SQL expression — the DataFrame API exposes only
    rollup/cube)."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
                 AS grp_id,
               count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: for each purchase, the count and value of the
    same user's clicks in the preceding 30 minutes.

    The equi component (user_id) carries the shuffle; the range predicate is
    evaluated inside the join. At scale the refinement is time-bucketing both
    sides to bound the per-key pair space (join on (user, bucket) for the
    buckets a 30-min window can span) — same shape as the LSH banding used in
    dedup; unnecessary here because per-user event counts are small.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("cts"), F.col("value").alias("cval")
    )
    cond = (
        (purchases.user_id == clicks.c_user)
        & (clicks.cts >= purchases.pts - F.expr("INTERVAL 30 MINUTES"))
        & (clicks.cts < purchases.pts)
    )
    return (
        purchases.join(clicks, cond, "left")
        .groupBy("event_id", "user_id")
        .agg(
            F.count("cts").alias("n_prior_clicks"),
            F.sum(F.col("cval").cast("decimal(12,2)")).cast("double").alias("click_value"),
        )
    )


_PART_PAIRS_CACHE: dict[tuple, DataFrame] = {}


def counted_part_pairs(
    spark: SparkSession, sf_dir: str, min_support: int = 2
) -> DataFrame:
    """(part_a, part_b, n_orders) with part_a < part_b: the ONE market-
    basket pair generator behind part_cooccurrence, part_affinity_lift,
    orders_market_basket_rules, and graph.cooccurrence_edges — any change
    to basket semantics (distinctness, support definition) lands in all
    four at once. MATERIALIZED once and session-memoized per (sf_dir,
    min_support): four consumers used to re-run the basket self-join from
    the fact table each, and the memoized frame is the support-filtered
    pair relation, bounded well below the corpus (r13 optimization).

    The self-join on the order key is SAFE pair generation: baskets are
    small (TPC-H orders hold ≤ 7 lines), so pairs per order are bounded by
    a constant and the join output is linear in order count — the same
    bounded-blocking argument as the dedup banding family, here enforced
    by the data model rather than a guard. Distinct parts first (a part
    twice in one order is one basket membership), pair key ordered
    (a < b) so each pair counts once."""
    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        basket = li.distinct()
        a = basket.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
        b = basket.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
        return (
            a.join(b, "l_orderkey")
            .where(F.col("part_a") < F.col("part_b"))
            .groupBy("part_a", "part_b")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .where(F.col("n_orders") >= min_support)
            .transform(truncate_lineage_eager)
        )

    return session_memo(_PART_PAIRS_CACHE, spark, (sf_dir, min_support), build)


def part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part pairs ordered together,
    with support counts — pairwise frequent itemsets, the base of
    recommendation affinity. One ``counted_part_pairs`` pass + a top-100
    TakeOrdered with a unique tie-break."""
    return (
        counted_part_pairs(spark, sf_dir)
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(100)
    )


def yoy_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth per order priority: revenue aggregated to
    (priority, year), then lag + ratio along each priority's series.

    The two-level shape: a corpus-wide aggregation first (map-side
    partials, one shuffle), THEN window analytics over the tiny aggregated
    series — lag/growth never touches row-level data, so the window stage
    costs nothing at any fact volume. Growth divides exact-decimal sums
    once in double; first year of each series is NULL growth (no prior)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    orders = load_table(spark, sf_dir, "orders")
    yearly = (
        orders.groupBy(
            "o_orderpriority", F.year("o_orderdate").cast("bigint").alias("yr")
        ).agg(
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("_rev"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("yr")
    prev = F.lag("_rev").over(w)
    return yearly.select(
        "o_orderpriority",
        "yr",
        F.col("_rev").cast("double").alias("revenue"),
        "n_orders",
        (F.col("_rev").cast("double") / prev.cast("double") - 1.0).alias("yoy_growth"),
    )


def part_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Affinity lift over the co-occurrence pairs: lift(a,b) =
    P(ab) / (P(a)·P(b)) as exact integer counts divided once in double —
    the normalization that separates "popular with everything" from
    genuinely associated pairs.

    Marginal basket counts are a part-keyed dimension (one row per part)
    and broadcast to the pair relation — two broadcast joins, no extra
    shuffle beyond the pair aggregation itself; the basket total rides as
    a 1-row broadcast scalar. Unique (lift, part_a, part_b) ordering keeps
    the top-100 stable."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    basket = li.distinct()
    # distinct-order total straight off the fact projection: same value as
    # counting over the (order, part)-distinct basket, without re-running
    # the basket dedup shuffle for a 1-row scalar
    n_total = li.agg(F.count_distinct("l_orderkey").alias("n_baskets"))
    marg = basket.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    pairs = counted_part_pairs(spark, sf_dir).withColumnRenamed("n_orders", "n_ab")
    ma = marg.select(F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a"))
    mb = marg.select(F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b"))
    lift = (F.col("n_ab").cast("double") * F.col("n_baskets")) / (
        F.col("n_a").cast("double") * F.col("n_b")
    )
    return (
        pairs.join(F.broadcast(ma), "part_a")
        .join(F.broadcast(mb), "part_b")
        .crossJoin(F.broadcast(n_total))
        .select("part_a", "part_b", "n_ab", "n_a", "n_b", lift.alias("lift"))
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(100)
    )


def order_lead_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-SLA analytics: order→ship lead time in whole days per
    priority, with exact min/avg/p90 — the operational latency report.

    The orders⋈lineitem join shuffles once on the order key; lead times
    are exact integer day differences, the average divides exact integer
    sums once in double, and the p90 is the exact interpolated percentile
    over integers (identical arithmetic in DuckDB's quantile_cont)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    lead = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("bigint")
    return (
        j.select("o_orderpriority", lead.alias("lead_days"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.min("lead_days").alias("min_days"),
            F.max("lead_days").alias("max_days"),
            (
                F.sum("lead_days").cast("double") / F.count(F.lit(1))
            ).alias("avg_days"),
            F.expr("percentile(lead_days, 0.9)").alias("p90_days"),
        )
    )


def scd2_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: compress each customer's
    time-ordered order-status history into validity intervals
    [valid_from, valid_to) with an is_current flag — the warehouse pattern
    for tracking attribute history without overwriting it.

    Change detection is lag() ≠ current (keep only rows where the status
    actually changed); interval close-out is lead() on the kept rows. Both
    windows partition by o_custkey — ONE shuffle on a high-cardinality key,
    reused across the two window functions (same partitioning, Spark plans
    a single exchange). Ordering carries the unique o_orderkey tie-break so
    same-day orders can never reorder between engines.

    Granularity contract (round-5 advice, pinned by
    tests/test_llm_ops.py::test_scd2_interval_semantics): validity is DAY
    grain while change detection is ORDER grain, so two same-day orders
    with different statuses legitimately emit a zero-length segment
    [d, d) — the half-open encoding of "held for part of day d", exactly
    as Kimball SCD2 builds behave when the change feed is finer than the
    validity grain. Intra-day flip ORDER is the deterministic
    (o_orderdate, o_orderkey) sequence; consumers wanting one status per
    day should pre-collapse to the day's last order before this build."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_date"), F.asc("o_orderkey"))
    changed = (
        orders.select(
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("o_date"),
            "o_orderkey",
            "o_orderstatus",
        )
        .withColumn("prev_status", F.lag("o_orderstatus").over(w))
        .where(
            F.col("prev_status").isNull()
            | (F.col("prev_status") != F.col("o_orderstatus"))
        )
    )
    return changed.select(
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_date").alias("valid_from"),
        F.lead("o_date").over(w).alias("valid_to"),
        F.lead("o_date").over(w).isNull().alias("is_current"),
    )


RULE_MIN_SUPPORT = 2
RULE_MIN_CONFIDENCE = 0.2


def orders_market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules A→B over order baskets: support,
    confidence P(B|A) and lift — the full market-basket triple that
    part_cooccurrence (support only) and part_affinity_lift (lift only)
    each show half of. Rules below RULE_MIN_CONFIDENCE are pruned, the
    production convention that keeps the rule set human-sized.

    Scale shape: pair generation is the bounded basket self-join (≤7
    lines/order ⇒ ≤21 pairs — linear in order count); per-part order
    counts broadcast back onto the pair relation; the total order count
    rides a 1-row scalar broadcast. All counts exact integers; confidence
    and lift are each ONE double division of integer products, identical
    in the oracle."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    basket = li.distinct()
    pairs = counted_part_pairs(
        spark, sf_dir, min_support=RULE_MIN_SUPPORT
    ).withColumnRenamed("n_orders", "n_both")
    rules = pairs.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "n_both",
    ).unionByName(
        pairs.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            "n_both",
        )
    )
    part_orders = basket.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_orders"))
    # same value as distinct-counting the basket's order keys, without
    # re-running the (order, part) dedup shuffle for a 1-row scalar
    total = li.agg(F.count_distinct("l_orderkey").alias("n_total_orders"))
    na = part_orders.select(
        F.col("l_partkey").alias("antecedent"), F.col("n_orders").alias("n_antecedent")
    )
    nc = part_orders.select(
        F.col("l_partkey").alias("consequent"), F.col("n_orders").alias("n_consequent")
    )
    scored = (
        rules.join(F.broadcast(na), "antecedent")
        .join(F.broadcast(nc), "consequent")
        .crossJoin(F.broadcast(total))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            "n_antecedent",
            "n_consequent",
            (F.col("n_both").cast("double") / F.col("n_total_orders").cast("double")).alias(
                "support"
            ),
            (F.col("n_both").cast("double") / F.col("n_antecedent").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("n_both") * F.col("n_total_orders")).cast("double")
                / (F.col("n_antecedent") * F.col("n_consequent")).cast("double")
            ).alias("lift"),
        )
    )
    return scored.where(F.col("confidence") >= RULE_MIN_CONFIDENCE)


def brand_price_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS of extended price on quantity — the price-curve fit
    behind "does this brand price linearly in volume?" (slope = marginal
    unit price, r² = how linear the book really is). The classic
    distributed-regression shape: sufficient statistics (n, Σx, Σy, Σxx,
    Σyy, Σxy) via ONE map-side-combinable hash aggregate, closed-form
    coefficients from the six scalars — no iterative solver, no second
    pass over the data.

    Determinism: every sufficient statistic is an exact DECIMAL sum of
    exact 2-decimal fixture values (the q1 convention); the closed-form
    arithmetic is the IDENTICAL double expression tree on both engines,
    so slope/intercept/r² are bit-identical with zero float-summation
    hazard. r² uses the squared-covariance form (cov²/(varx·vary)) to
    avoid a sqrt.

    Scale: lineitem⋈part is a plain equi-join on partkey (part grows with
    SF, so no forced broadcast; AQE picks broadcast when small), then one
    hash aggregate over ~25 brand groups."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    x = _dec("l_quantity")
    y = _dec("l_extendedprice")
    stats = (
        li.join(part, "l_partkey")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(x).alias("_sx"),
            F.sum(y).alias("_sy"),
            F.sum(x * x).alias("_sxx"),
            F.sum(y * y).alias("_syy"),
            F.sum(x * y).alias("_sxy"),
        )
    )
    nd = F.col("n_rows").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    cov_n = nd * F.col("_sxy").cast("double") - sx * sy  # n²·cov
    varx_n = nd * F.col("_sxx").cast("double") - sx * sx  # n²·var(x)
    vary_n = nd * F.col("_syy").cast("double") - sy * sy  # n²·var(y)
    return (
        stats.withColumn("_num", cov_n)
        .withColumn("_denx", varx_n)
        .withColumn("_deny", vary_n)
        .where(
            (F.col("n_rows") >= F.lit(2))
            & (F.col("_denx") != F.lit(0.0))
            & (F.col("_deny") != F.lit(0.0))  # zero price variance: r² is 0/0
        )
        .select(
            "p_brand",
            "n_rows",
            (F.col("_num") / F.col("_denx")).alias("slope"),
            ((sy - (F.col("_num") / F.col("_denx")) * sx) / nd).alias("intercept"),
            ((F.col("_num") * F.col("_num")) / (F.col("_denx") * F.col("_deny"))).alias(
                "r2"
            ),
        )
    )


# Manual HyperLogLog layout: 64 registers (6 index bits), 54 hash bits
# for the rank, denominator summed as exact BIGINT at scale 2^56.
# All four literals are mirrored in the DuckDB oracle — sync-pinned.
HLL_M = 64
HLL_RANK_BITS = 54  # bits left after the register index
HLL_SCALE_SHIFT = 56  # 2^56 scaling makes Σ2^-M an exact integer sum
HLL_SMALL_RANGE = 160.0  # 2.5·m: below this, linear counting applies


def hll_hashed(df: DataFrame, key: str, keep_cols: list[str]) -> DataFrame:
    """keep_cols + (register, rank) from ``key`` — the shared HLL hash
    layout (60-bit md5 prefix, low-6-bit register index, rank = 55 −
    bitlength of the upper 54 bits). Shared by the batch estimator and
    the streaming windowed variant so the layout cannot drift."""
    h = F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    with_h = df.select(*keep_cols, h.alias("h"))
    w = F.expr(f"h div {HLL_M}")
    return with_h.select(
        *keep_cols,
        (F.col("h") % F.lit(HLL_M)).alias("register"),
        F.when(w == F.lit(0), F.lit(HLL_RANK_BITS + 1))
        .otherwise(F.lit(HLL_RANK_BITS + 1) - F.length(F.bin(w)))
        .cast("bigint")
        .alias("rank"),
    )


def hll_finalize(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Per-group HLL estimate from max-merged (register, m) rows — shared
    by the batch estimator and the streaming windowed variant (the merge
    phase differs; the finalize math must not)."""
    per_group = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {HLL_SCALE_SHIFT} - m)")).alias(
            "sum_pow"
        ),
    )
    v = F.lit(HLL_M) - F.col("n_regs")
    denom = (
        F.col("sum_pow") + v * F.lit(1 << HLL_SCALE_SHIFT).cast("bigint")
    ).cast("double")
    raw = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / F.lit(float(HLL_M)))
        * F.lit(float(HLL_M * HLL_M))
        * F.lit(float(1 << HLL_SCALE_SHIFT))
        / denom
    )
    est = F.when(
        (v > F.lit(0)) & (raw <= F.lit(HLL_SMALL_RANGE)),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
    ).otherwise(raw)
    return per_group.select(
        *group_cols, "n_regs", F.round(est, 6).alias("hll_estimate")
    )


def approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog from first principles — the sketch behind
    every "approximate COUNT DISTINCT at scale" (registers are max-merged,
    so the sketch is embarrassingly partial-aggregatable and mergeable
    across partitions/days, unlike the exact distinct which must shuffle
    every key). The builtin approx_count_distinct (see approx_distinct)
    is engine-specific and can't be value-checked; THIS implementation is
    bit-reproducible on any engine, so the whole estimate is under the
    DuckDB value-hash gate — estimator code with a cross-engine proof.

    Mechanics: h = 60 bits of md5(user_id); register = h mod 64; rank =
    leading-zeros-plus-one of the remaining 54 bits (computed EXACTLY via
    55 − bitlength, no float log); per-type registers = max(rank) — one
    map-side-combinable groupBy. The harmonic denominator Σ2^−M is summed
    as exact BIGINTs at scale 2^56 (empty registers contribute 2^56 each),
    so the only floats are the final α·m²/denom division, the identical
    branch predicate, and linear counting's one ln — bit-identical trees
    on both engines. Output: exact distinct (companion truth), the HLL
    estimate, and the relative error, per event_type."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    hashed = hll_hashed(ev, "user_id", ["event_type"])
    regs = hashed.groupBy("event_type", "register").agg(F.max("rank").alias("m"))
    estimates = hll_finalize(regs, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return estimates.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        "hll_estimate",
        F.round(
            F.abs(F.col("hll_estimate") - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double"),
            6,
        ).alias("rel_error"),
    )


# Entity-resolution blocking: block key = (first name word, p_size),
# oversized-block guard, and the edit-distance match threshold. Mirrored
# in the oracle — sync-pinned.
ER_BLOCK_CAP = 64
ER_LEV_MAX = 2


def er_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate generation — blocking + within-block
    edit-distance scoring, the classic scalable ER shape (Fellegi-Sunter
    pipelines, dedupe.io, Splink all start here): never compare all
    pairs; compare only within cheap blocking keys, and guard against
    pathological blocks the same way dedup guards hot shingles (max_df).

    Blocks are (first word of p_name, p_size); blocks larger than
    ER_BLOCK_CAP are DROPPED (reported work stays linear — an oversized
    block is a failed blocking key, not a license for an n² join).
    Within a block, pairs (a < b) score levenshtein(name_a, name_b) —
    identical integer edit distance on both engines — and survive at
    <= ER_LEV_MAX. One bounded self-join co-partitioned on the block key;
    everything else is map-side."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_size"
    )
    keyed = part.select(
        F.split(F.col("p_name"), " ").getItem(0).alias("block_word"),
        F.col("p_size").cast("bigint").alias("p_size"),
        "p_partkey",
        "p_name",
    )
    sizes = keyed.groupBy("block_word", "p_size").agg(
        F.count(F.lit(1)).alias("block_size")
    )
    ok_blocks = sizes.where(F.col("block_size") <= F.lit(ER_BLOCK_CAP))
    blocked = keyed.join(ok_blocks, ["block_word", "p_size"])
    a = blocked.select(
        "block_word",
        "p_size",
        "block_size",
        F.col("p_partkey").alias("part_a"),
        F.col("p_name").alias("name_a"),
    )
    b = blocked.select(
        "block_word",
        "p_size",
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
    )
    pairs = a.join(b, ["block_word", "p_size"]).where(
        F.col("part_a") < F.col("part_b")
    )
    lev = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return pairs.withColumn("lev_dist", lev.cast("bigint")).where(
        F.col("lev_dist") <= F.lit(ER_LEV_MAX)
    ).select(
        "block_word",
        "p_size",
        "block_size",
        "part_a",
        "part_b",
        "name_a",
        "name_b",
        "lev_dist",
    )


# Logistic-regression training geometry — fixed full-batch GD steps, the
# learning rate, and the feature scale, all mirrored literally in the
# oracle's chained weight CTEs (sync-pinned).
LR_STEPS = 8
LR_ETA = 0.1
LR_X_SCALE = 100.0


def events_logistic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression (purchase ~ event value) by LR_STEPS full-batch
    gradient-descent steps — the trainable-classifier completion of the
    model family (brand_price_regression = closed-form OLS,
    embedding_kmeans = EM-style, embedding_pca_power_iteration =
    eigensolver; this is the iterative-gradient shape everything
    deep-learning-adjacent reduces to). Distributed-GD layout: each step
    is ONE map-side-combinable aggregate of per-row gradient terms against
    broadcast-literal weights; the weight update is 2 scalars on the
    driver (the k-means control-plane convention).

    Determinism: σ uses the reference's clip-±30 sigmoid (appV2.py:174 —
    the driver-proven parity expression); per-row gradient/log-loss terms
    are rounded at 9dp into DECIMAL(38,9) before the exact sum (the
    order-independent float-mean convention), and each weight update is
    the identical double expression tree on both engines, so all
    LR_STEPS iterates are bit-identical. The feature is value/LR_X_SCALE
    (fixed literal — no data-dependent standardization pass).

    Scale (r14, a distributed-histogram shape): every per-row term —
    gradient, log-loss, accuracy — depends on the row ONLY through
    (x, y), so rows are grouped to
    (x, y, cnt) in ONE map-side-combinable pass, and all LR_STEPS+1
    passes run over that histogram (cardinality = distinct feature
    values, corpus-independent for fixed-precision features) instead of
    the corpus. Exactly value-preserving by algebra: identical rows have
    identical 9dp-rounded decimal terms, and Σ_rows term = Σ_groups
    cnt·term with the cnt multiplication exact in decimal — same sums,
    bit for bit. Output: one row — n, the fitted intercept/coefficient,
    mean log-loss, and accuracy at 0.5."""
    ev = load_table(spark, sf_dir, "events")
    feats = (
        ev.select(
            (F.col("value") / F.lit(LR_X_SCALE)).alias("x"),
            F.when(F.col("event_type") == "purchase", F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(truncate_lineage)
    )
    # (15,0) × (22,9) → decimal(38,9): inside the 38-digit cap, so the
    # product is EXACT (no allowPrecisionLoss scale truncation — a
    # (38,0)×(38,9) product would silently round to 6dp). Headroom: terms
    # |err|, |err·x|, loss ≤ ~1e3 ≪ 1e13; cnt per (x, y) group ≤ 1e15.
    d9 = lambda c: F.round(c, 9).cast("decimal(22,9)")  # noqa: E731
    cnt_dec = F.col("cnt").cast("decimal(15,0)")

    def sigmoid(z):
        zc = F.greatest(F.least(z, F.lit(30.0)), F.lit(-30.0))
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-zc))

    a, b = 0.0, 0.0
    for _ in range(LR_STEPS):
        p = sigmoid(F.lit(a) + F.lit(b) * F.col("x"))
        err = p - F.col("y")
        row = feats.agg(
            F.sum("cnt").alias("n"),
            F.sum(cnt_dec * d9(err)).alias("g0"),
            F.sum(cnt_dec * d9(err * F.col("x"))).alias("g1"),
        ).collect()[0]
        n = row.n
        # identical double tree to the oracle: w − η·(Σterms / n)
        a = a - LR_ETA * (float(row.g0) / n)
        b = b - LR_ETA * (float(row.g1) / n)
    p = sigmoid(F.lit(a) + F.lit(b) * F.col("x"))
    loss_term = -(
        F.col("y") * F.log(p) + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - p)
    )
    correct = F.when(
        (p >= F.lit(0.5)) == (F.col("y") == F.lit(1.0)), F.col("cnt")
    ).otherwise(F.lit(0))
    return (
        feats.agg(
            F.sum("cnt").alias("n"),
            (F.sum(cnt_dec * d9(loss_term)).cast("double") / F.sum("cnt")).alias(
                "log_loss"
            ),
            (F.sum(correct).cast("double") / F.sum("cnt")).alias("accuracy"),
        )
        .select(
            "n",
            F.lit(a).alias("intercept"),
            F.lit(b).alias("coef"),
            "log_loss",
            "accuracy",
        )
    )


# Histogram-sketch geometry: bin width, bin cap, and the audited
# quantiles — mirrored literally in the oracles (sync-pinned).
QSK_BIN_WIDTH = 4.0
QSK_MAX_BIN = 127
QSK_QUANTILES = (0.5, 0.9, 0.99)


def histogram_bin(value_col: Column) -> Column:
    """Equi-width sketch bin for a value column (capped at QSK_MAX_BIN) —
    shared by the batch report and the streaming variant so the two
    sketches are provably the same summary."""
    return F.least(
        F.floor(value_col / F.lit(QSK_BIN_WIDTH)).cast("bigint"),
        F.lit(QSK_MAX_BIN),
    )


def histogram_quantile_estimates(
    spark: SparkSession, hist: DataFrame, keys: list[str]
) -> DataFrame:
    """Crossing-bin quantile finalize over a (keys…, b, cnt) histogram
    frame: per key group, the first bin whose exact integer cumulative
    count reaches q·n, linearly interpolated within the bin. The
    streaming per-window sketch calls it keyed by window."""
    qs = spark.createDataFrame([(q,) for q in QSK_QUANTILES], "q double")
    if keys:
        wcum = (
            Window.partitionBy(*keys)
            .orderBy("b")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        tot = hist.groupBy(*keys).agg(F.sum("cnt").alias("n"))
        cum = hist.select(
            *keys, "b", "cnt", F.sum("cnt").over(wcum).alias("cum")
        ).join(F.broadcast(tot), list(keys))
    else:
        wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
        cum = hist.select(
            "b", "cnt", F.sum("cnt").over(wcum).alias("cum")
        ).crossJoin(F.broadcast(hist.agg(F.sum("cnt").alias("n"))))
    target = F.col("q") * F.col("n").cast("double")
    return (
        cum.crossJoin(F.broadcast(qs))
        .where(
            (F.col("cum").cast("double") >= target)
            & ((F.col("cum") - F.col("cnt")).cast("double") < target)
        )
        .select(
            *keys,
            "q",
            (
                F.col("b").cast("double") * F.lit(QSK_BIN_WIDTH)
                + F.lit(QSK_BIN_WIDTH)
                * (
                    (target - (F.col("cum") - F.col("cnt")).cast("double"))
                    / F.col("cnt").cast("double")
                )
            ).alias("estimate"),
        )
    )


def er_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: blocking + match scoring
    (``er_blocking_pairs``) → undirected match edges → connected components
    (the shared min-label + pointer-jumping machinery from
    ``dedup.connected_components``) → one canonical entity per component.
    This is the step that turns pairwise ER verdicts into usable entity
    ids — the same transitive-closure semantics Splink/dedupe.io apply
    after scoring, and the record-linkage twin of dedup_clusters.

    entity_id = min p_partkey of the component (deterministic); the
    canonical record is the entity_id's own row; members flatten to the
    sorted-csv scalar shape (driver-canonicalizer-safe). Only resolved
    entities (≥ 2 records) are emitted — singletons are their own entity
    by construction.

    Scale shape: candidate volume is bounded by the blocking caps
    (ER_BLOCK_CAP); the CC loop runs over match-edge endpoints only (tiny
    vs the corpus); the canonical-name join keys on entity_id — one
    equi-join against the part relation."""
    from .dedup import connected_components, sorted_ids_csv

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    # THREE consumers (both endpoint-union sides + the CC loop's edge
    # relation): materialize the match edges once — they are blocking-cap
    # bounded (tiny vs the corpus), while re-deriving them re-runs the
    # whole blocking + scoring pipeline per consumer
    edges = er_blocking_pairs(spark, sf_dir).select(
        F.col("part_a").alias("a"), F.col("part_b").alias("b")
    ).transform(truncate_lineage)
    # CC nodes = match-edge ENDPOINTS only: singletons are discarded by the
    # n_records >= 2 filter anyway, so welding every part in as its own
    # cluster would shuffle + csv-aggregate the whole relation for zero
    # output (code-review r8 finding). Results are identical.
    nodes = (
        edges.select(F.col("a").alias("doc_id"))
        .unionByName(edges.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    cc = connected_components(nodes, edges)  # (doc_id, cluster_id)
    ent = (
        cc.groupBy(F.col("cluster_id").alias("entity_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_records"),
            sorted_ids_csv(F.col("doc_id")).alias("member_ids"),
        )
        .where(F.col("n_records") >= 2)
    )
    canon = part.select(
        F.col("p_partkey").alias("entity_id"),
        F.col("p_name").alias("canonical_name"),
    )
    return ent.join(canon, "entity_id").select(
        "entity_id", "canonical_name", "n_records", "member_ids"
    )


# 2-state HMM for daily activity decoding (calm=0 / busy=1), parameters as
# exact scaled log-probabilities (×1000, bigint) — sync-pinned to the
# oracle literals. ln(0.8)≈-223, ln(0.2)≈-1609, ln(0.5)≈-693 at 3dp scale.
HMM_PRIOR = (0, -693)  # calm is the default regime
HMM_TRANS = ((-223, -1609), (-1609, -223))  # sticky states
HMM_EMIT = ((-223, -1609), (-1609, -223))  # calm→low days, busy→high days
HMM_SCAN_ROUNDS = 9  # Hillis-Steele doubling: exact for series ≤ 2^9 days


def events_hmm_viterbi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi decoding of a 2-state activity HMM (calm/busy) over the
    daily event-count series — sequential dynamic programming done
    SPARK-FIRST: the per-day transition⊗emission matrices live in the
    MAX-PLUS semiring, where the Viterbi forward pass is an (associative!)
    matrix product, so the whole chain computes as a Hillis-Steele
    parallel PREFIX SCAN in ⌈log₂ N⌉ doubling rounds instead of an N-step
    driver loop (Ladner-Fischer / Blelloch scan applied to DP — the same
    trick that parallelizes linear recurrences). A matching SUFFIX scan
    gives the backward scores, and the decoded state at day t is
    argmax_j (forward_t[j] + backward_t[j]) with the smaller-state
    tie-break — the standard forward-backward Viterbi decomposition.

    Observations: a day is 'high' iff count·n_days > total (exact
    cross-multiplied integer comparison — no float mean). All scores are
    exact scaled-integer log-probabilities (HMM_* constants), so every
    max-plus product is bigint arithmetic and the decode is bit-identical
    across engines. Each doubling round is ONE self-join of the per-DAY
    frame on idx − 2ᵏ (day-cardinality sized, corpus-size-independent);
    lineage truncates every third round. Exact for series up to
    2^HMM_SCAN_ROUNDS days — the guard emits nothing rather than silently
    truncating a longer series."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date(F.expr("cast(ts as timestamp)")).alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = daily.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    widx = Window.orderBy("day")
    obs = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "day",
            "cnt",
            F.row_number().over(widx).cast("bigint").alias("idx"),
            F.col("n_days"),
            F.when(F.col("cnt") * F.col("n_days") > F.col("total"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("obs"),
        )
    )
    n_days_val = obs.agg(F.max("n_days")).first()[0]
    if n_days_val is None:
        return spark.createDataFrame(
            [], "day date, idx bigint, obs bigint, state bigint, path_score bigint"
        )
    if n_days_val > (1 << HMM_SCAN_ROUNDS):
        # raise LOUDLY (the bfs_distances budget discipline): an empty
        # frame is indistinguishable from "no data", and the fixed-round
        # oracle would silently compute a truncated (wrong) scan
        raise ValueError(
            f"viterbi scan horizon exceeded: {n_days_val} days > "
            f"2^{HMM_SCAN_ROUNDS}; raise HMM_SCAN_ROUNDS (and the oracle's "
            "round count) together"
        )
    p0, p1 = HMM_PRIOR
    (t00, t01), (t10, t11) = HMM_TRANS
    (e0l, e0h), (e1l, e1h) = HMM_EMIT
    e0 = F.when(F.col("obs") == 1, F.lit(e0h)).otherwise(F.lit(e0l))
    e1 = F.when(F.col("obs") == 1, F.lit(e1h)).otherwise(F.lit(e1l))
    # day 1's matrix ignores the source state (prior instead of transition)
    first = F.col("idx") == 1
    m = obs.select(
        "day",
        "idx",
        "obs",
        F.when(first, F.lit(p0) + e0).otherwise(F.lit(t00) + e0)
        .cast("bigint")
        .alias("m00"),
        F.when(first, F.lit(p1) + e1).otherwise(F.lit(t01) + e1)
        .cast("bigint")
        .alias("m01"),
        F.when(first, F.lit(p0) + e0).otherwise(F.lit(t10) + e0)
        .cast("bigint")
        .alias("m10"),
        F.when(first, F.lit(p1) + e1).otherwise(F.lit(t11) + e1)
        .cast("bigint")
        .alias("m11"),
    ).transform(truncate_lineage)

    # Rounds with step 2^k ≥ n_days are IDENTITY passes: no row has a
    # partner that far away, the left join matches nothing, every row
    # keeps its matrices. n_days is already on the driver (the horizon
    # guard above), so skip them — bit-identical to running all
    # HMM_SCAN_ROUNDS (the oracle's fixed-round replay computes the same
    # no-ops), minus ⌈log₂⌉-to-9 join rounds and their checkpoints.
    rounds_live = next(
        k for k in range(HMM_SCAN_ROUNDS + 1) if (1 << k) >= n_days_val
    )

    def scan(frame: DataFrame, direction: int) -> DataFrame:
        """Hillis-Steele max-plus scan; direction=+1 prefix, −1 suffix.
        Prefix combines EARLIER⊗current, suffix current⊗LATER."""
        out = frame
        for k in range(rounds_live):
            step = (1 << k) * direction
            other = out.select(
                (F.col("idx") + step).alias("oidx"),
                F.col("m00").alias("b00"),
                F.col("m01").alias("b01"),
                F.col("m10").alias("b10"),
                F.col("m11").alias("b11"),
            )
            joined = out.join(other, out.idx == other.oidx, "left")
            # prefix: C = B_earlier ⊗ A_current; suffix: C = A_current ⊗ B_later
            if direction == 1:
                c00 = F.greatest(F.col("b00") + F.col("m00"), F.col("b01") + F.col("m10"))
                c01 = F.greatest(F.col("b00") + F.col("m01"), F.col("b01") + F.col("m11"))
                c10 = F.greatest(F.col("b10") + F.col("m00"), F.col("b11") + F.col("m10"))
                c11 = F.greatest(F.col("b10") + F.col("m01"), F.col("b11") + F.col("m11"))
            else:
                c00 = F.greatest(F.col("m00") + F.col("b00"), F.col("m01") + F.col("b10"))
                c01 = F.greatest(F.col("m00") + F.col("b01"), F.col("m01") + F.col("b11"))
                c10 = F.greatest(F.col("m10") + F.col("b00"), F.col("m11") + F.col("b10"))
                c11 = F.greatest(F.col("m10") + F.col("b01"), F.col("m11") + F.col("b11"))
            keep = F.col("oidx").isNull()
            out = joined.select(
                "day",
                "idx",
                "obs",
                F.when(keep, F.col("m00")).otherwise(c00).alias("m00"),
                F.when(keep, F.col("m01")).otherwise(c01).alias("m01"),
                F.when(keep, F.col("m10")).otherwise(c10).alias("m10"),
                F.when(keep, F.col("m11")).otherwise(c11).alias("m11"),
            )
            if (k + 1) % 3 == 0:
                out = out.transform(truncate_lineage)
        return out

    prefix = scan(m, 1)
    # forward scores: start vector (0, 0) ⊗ prefix_t
    fw = prefix.select(
        "day",
        "idx",
        "obs",
        F.greatest("m00", "m10").alias("fw0"),
        F.greatest("m01", "m11").alias("fw1"),
    )
    # suffix over days t+1..T: shift the matrices down one index first
    shifted = m.select(
        (F.col("idx") - 1).alias("idx"),
        F.col("day").alias("sday"),
        "obs",
        "m00",
        "m01",
        "m10",
        "m11",
    ).where(F.col("idx") >= 1)
    sfx = scan(
        shifted.select(
            F.col("sday").alias("day"), "idx", "obs", "m00", "m01", "m10", "m11"
        ),
        -1,
    )
    bw = sfx.select(
        "idx",
        F.greatest("m00", "m01").alias("bw0"),
        F.greatest("m10", "m11").alias("bw1"),
    )
    dec = fw.join(bw, "idx", "left").select(
        "day",
        "idx",
        "obs",
        (F.col("fw0") + F.coalesce("bw0", F.lit(0))).alias("s0"),
        (F.col("fw1") + F.coalesce("bw1", F.lit(0))).alias("s1"),
    )
    return dec.select(
        "day",
        "idx",
        F.col("obs").cast("bigint").alias("obs"),
        F.when(F.col("s0") >= F.col("s1"), F.lit(0))
        .otherwise(F.lit(1))
        .cast("bigint")
        .alias("state"),
        F.greatest("s0", "s1").cast("bigint").alias("path_score"),
    )


def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU active-user series with the DAU/MAU stickiness
    ratio — the product-analytics staple. Exact distinct counts (no HLL):
    the (user, day) activity relation EXPLODES each activity into the
    trailing windows it supports (7 rows for WAU, 30 for MAU — a
    constant-factor map-side fan-out, the standard exact-rolling-distinct
    shape) and each target day counts distinct users; days beyond the
    observed range are dropped so every emitted day is a real calendar
    day of the fixture. Stickiness divides once per row; days with no
    activity still emit via the spine join (DAU 0, stickiness NULL when
    MAU is 0)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    # FOUR consumers (the spine range, DAU, and both rolling fan-outs) of
    # the distinct (user, day) activity relation: materialize it once —
    # it is activity-relation-sized (≤ users × days, far below the event
    # stream), and re-deriving it re-runs the corpus distinct per consumer
    ud = ev.select(
        "user_id", F.to_date(F.expr("cast(ts as timestamp)")).alias("day")
    ).distinct().transform(truncate_lineage)
    rng = ud.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    spine = rng.select(
        F.explode(F.expr("sequence(dmin, dmax, interval 1 day)")).alias("day")
    )
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))

    def rolling(n: int, name: str) -> DataFrame:
        contrib = ud.select(
            "user_id",
            F.explode(
                F.expr(f"sequence(day, date_add(day, {n - 1}), interval 1 day)")
            ).alias("day"),
        )
        return contrib.groupBy("day").agg(
            F.countDistinct("user_id").alias(name)
        )

    wau = rolling(7, "wau")
    mau = rolling(30, "mau")
    out = (
        spine.join(dau, "day", "left")
        .join(wau, "day", "left")
        .join(mau, "day", "left")
        .select(
            "day",
            F.coalesce("dau", F.lit(0)).cast("bigint").alias("dau"),
            F.coalesce("wau", F.lit(0)).cast("bigint").alias("wau"),
            F.coalesce("mau", F.lit(0)).cast("bigint").alias("mau"),
            F.when(
                F.coalesce("mau", F.lit(0)) > 0,
                F.round(
                    F.coalesce("dau", F.lit(0)).cast("double")
                    / F.col("mau").cast("double"),
                    9,
                ),
            ).alias("stickiness"),
        )
    )
    return out


# The two event types the permutation test compares, sync-pinned to the
# oracle literals.
KS_TYPE_A = "view"
KS_TYPE_B = "click"


# --- r9 addition: the permutation test -------------------------------------

# Permutation (randomization) test: replicate count (the two compared
# groups are KS_TYPE_A / KS_TYPE_B above). Sync-pinned to the oracle
# literals.
PERM_B = 64


def events_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo PERMUTATION test for the difference of mean values
    (view vs click) — the distribution-free significance readout for the
    statistic the rank tests don't address directly (the raw mean gap):
    under H₀ the group labels are exchangeable, so the observed gap is
    compared against the gap distribution under random relabelings.

    Label reassignment is the scalable hash variant: permutation b gives a
    row pseudo-label A iff u = md5(perm:event_id:b)/2⁶⁰ < n_a/(n_a+n_b)
    (group sizes preserved in expectation — the large-sample approximation
    of the exact fixed-size permutation, documented deviation). All B=64
    replicates ride ONE corpus pass (explode is row-local; map-side
    combine collapses the shuffle to B keys).
    p = (1 + #{|diff_b| ≥ |diff_obs|}) / (n_valid + 1), the standard
    add-one MC estimator; replicates that left a side empty are
    excluded (vanishingly rare beyond toy scale, counted in n_perms).

    Determinism: sums/counts are exact cents integers; each replicate's
    diff is one fixed double expression rounded at 9dp; the threshold
    compare runs on identically-computed doubles on both engines."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)
    )
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    rows = ev.select(
        F.col("event_id").alias("eid"),
        cents.alias("cv"),
        (F.col("event_type") == KS_TYPE_A).alias("is_a"),
    )
    tot = rows.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("nb"),
        # cents sums in DECIMAL(38,0): BIGINT wraps silently at corpus
        # scale while the oracle's HUGEINT is exact
        F.sum(
            F.when(F.col("is_a"), F.col("cv")).otherwise(F.lit(0)).cast("decimal(38,0)")
        ).alias("sa"),
        F.sum(
            F.when(~F.col("is_a"), F.col("cv")).otherwise(F.lit(0)).cast("decimal(38,0)")
        ).alias("sb"),
    )
    mean_gap = (
        F.col("sa").cast("double") / F.col("na").cast("double")
        - F.col("sb").cast("double") / F.col("nb").cast("double")
    ) / F.lit(100.0)
    # 1-row frame with THREE consumers (the replicate pass's cut broadcast,
    # the tail's diff_obs broadcast, the final select): checkpoint it so the
    # corpus aggregate runs once, not once per consumer (the multi-consumer
    # truncate_lineage discipline)
    obs = tot.select(
        "na",
        "nb",
        F.round(mean_gap, 9).alias("diff_obs"),
        # replicate-side complements (exact integers): each replicate's
        # B-side is derived as cb = n_all − ca, pb_s = s_all − pa_s below,
        # halving the per-row aggregate work of the 2.6M-row replicate
        # pass while producing bit-identical values (A ∪ B partitions the
        # rows, so the sums/counts are exact complements)
        (F.col("na") + F.col("nb")).alias("n_all"),
        (F.col("sa") + F.col("sb")).alias("s_all"),
    ).transform(truncate_lineage)
    b = F.explode(F.sequence(F.lit(0), F.lit(PERM_B - 1))).alias("b")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit("perm"), F.col("eid"), F.col("b"))),
                1,
                15,
            ),
            16,
            10,
        )
        # 60-bit value: BIGINT holds it exactly, and bigint→double is the
        # same nearest-double as the former decimal(38,0)→double (verified
        # value-identical) — skips a per-row BigDecimal parse
        .cast("bigint")
        .cast("double")
        / F.lit(float(1 << 60))
    )
    cut = F.col("na").cast("double") / (
        F.col("na").cast("double") + F.col("nb").cast("double")
    )
    rep = (
        rows.crossJoin(F.broadcast(obs.select("na", "nb")))
        .select("eid", "cv", "na", "nb", b)
        .select(F.col("b"), (u < cut).alias("pa"), F.col("cv"))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("pa"), 1).otherwise(0)).alias("ca"),
            F.sum(
                F.when(F.col("pa"), F.col("cv")).otherwise(F.lit(0)).cast("decimal(38,0)")
            ).alias("pa_s"),
        )
    )
    cb = F.col("n_all") - F.col("ca")
    pb_s = F.col("s_all") - F.col("pa_s")
    diff_b = F.round(
        (
            F.col("pa_s").cast("double") / F.col("ca").cast("double")
            - pb_s.cast("double") / cb.cast("double")
        )
        / F.lit(100.0),
        9,
    )
    valid = (
        rep.crossJoin(F.broadcast(obs.select("n_all", "s_all")))
        .where((F.col("ca") > 0) & (cb > 0))
        .select("b", diff_b.alias("diff_b"))
    )
    tail = valid.crossJoin(F.broadcast(obs)).agg(
        F.count(F.lit(1)).alias("n_perms"),
        F.sum(
            F.when(F.abs(F.col("diff_b")) >= F.abs(F.col("diff_obs")), 1).otherwise(0)
        ).alias("n_extreme"),
    )
    return (
        obs.crossJoin(F.broadcast(tail))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            "diff_obs",
            F.col("n_perms").cast("bigint").alias("n_perms"),
            F.col("n_extreme").cast("bigint").alias("n_extreme"),
            F.round(
                (F.col("n_extreme") + F.lit(1)).cast("double")
                / (F.col("n_perms") + F.lit(1)).cast("double"),
                6,
            ).alias("p_value"),
        )
    )
