"""Storage-layout tools: partitioned and bucketed tables.

At 100 TB the scan layout is the first optimization, before any operator:

* **Hive-partitioned parquet** (``partitionBy`` on write) turns equality /
  range predicates on the partition column into directory pruning — the
  scan never lists the other partitions.
* **Bucketed tables** (``bucketBy`` + ``saveAsTable``) pre-shuffle data on
  the join/agg key at write time; later equi-joins and aggregations on the
  bucket key run with NO exchange on either pre-bucketed side.

These helpers are exercised by tests/test_layout.py, which asserts the plan
properties (partition pruning; zero shuffles in a bucketed join).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import load_table


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite") -> None:
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed+sorted parquet table. ``path`` makes it external (explicit
    location) so library callers never depend on the session's warehouse
    dir — the driver runs a vanilla SparkSession whose default warehouse is
    the process cwd."""
    w = (
        df.write.mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


from ..handoff import staging_path

LAYOUT_STAGING = staging_path("layout")


def _table_tag(sf_dir: str) -> str:
    """SQL-identifier-safe tag from the fixture dir basename: staged table
    names are interpolated UNQUOTED into ``spark.sql`` and ``saveAsTable``,
    so every non-identifier character (dash, space, dot) must fold to '_'
    or the DROP/CREATE statements throw ParseException before any work."""
    import re

    return re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(os.path.normpath(sf_dir)))


def layout_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked partition pruning: stage the events fixture as
    ``event_date=``-partitioned parquet, read it back with a 3-day range
    predicate, and aggregate per (date, type).

    The read's date filter resolves at PLANNING time to directory pruning
    (``PartitionFilters`` in the scan — the plan test pins it): Spark lists
    3 of 30 date directories and never opens the rest. At 100 TB of
    time-series events this is the first and biggest pushdown — the scan
    reads days, not history. The oracle recomputes the aggregate straight
    from the unpartitioned fixture, so a pruning bug that drops or doubles
    a partition breaks the value hash."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # date from naive ts
    ev = load_table(spark, sf_dir, "events")
    path = os.path.join(
        LAYOUT_STAGING, f"events_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    write_partitioned(ev.withColumn("event_date", F.to_date("ts")), path, ["event_date"])
    back = spark.read.parquet(path)
    return (
        back.where(
            (F.col("event_date") >= F.lit("2024-01-10"))
            & (F.col("event_date") <= F.lit("2024-01-12"))
        )
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
    )


def layout_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance op every long-lived
    100-TB dataset needs: streaming sinks and incremental loads leave
    thousands of KB-sized parquet files whose per-file open/footer cost
    eventually dominates scans.

    Stage the events fixture fragmented into 64 shards, then compact with
    ``coalesce`` — NOT ``repartition``: coalesce merges existing partitions
    without a shuffle (a pure scan→write job), which is the right tool when
    the goal is fewer files rather than a new distribution. The returned
    fidelity aggregate is recomputed by the oracle straight from the
    fixture, so a compaction that drops or duplicates rows breaks the value
    hash; test_layout.py pins the output file count and the no-shuffle
    compaction plan."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    frag = os.path.join(LAYOUT_STAGING, f"events_frag_{tag}")
    compact = os.path.join(LAYOUT_STAGING, f"events_compact_{tag}")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).coalesce(4).write.mode("overwrite").parquet(compact)
    back = spark.read.parquet(compact)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        F.sum("event_id").alias("id_checksum"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


INCR_CUTOVER = "2024-01-15"


def incremental_daily_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental daily-batch pattern: an aggregate store built by two
    partition-pruned runs (days ≤ cutover, then the rest) must equal the
    full recompute — the invariant every scheduled backfill-able pipeline
    lives by.

    Each run reads ONLY its date partitions from the ``event_date=``
    staging layout (directory pruning — the scan lists its days, not
    history) and merges per-(date, type) partials into the store by
    union + re-aggregate: exact-decimal partial sums re-combine losslessly,
    and re-running a day REPLACES its rows (delete-by-key semantics via
    grouping) instead of double-counting — which is what makes the job
    idempotent and the backfill safe. At 100 TB this is the difference
    between a 3-minute daily job over yesterday's partition and a daily
    full-history scan. The oracle is the one-shot recompute from the raw
    fixture, so a dropped day, a double-applied day, or a partial-sum
    combination bug all break the value hash."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(LAYOUT_STAGING, f"events_{tag}")  # event_date= layout
    ev = load_table(spark, sf_dir, "events")
    write_partitioned(ev.withColumn("event_date", F.to_date("ts")), src, ["event_date"])

    def run_agg(pred):
        back = spark.read.parquet(src).where(pred)
        return back.groupBy("event_date", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("sv"),
        )

    store = os.path.join(LAYOUT_STAGING, f"daily_store_{tag}")
    cut = F.lit(INCR_CUTOVER).cast("date")
    # run 1: history up to the cutover
    run_agg(F.col("event_date") <= cut).write.mode("overwrite").parquet(store)
    # run 2: the new days, merged with the store by union + re-aggregate
    # (written to a new version dir — never read-and-overwrite in place)
    prior = spark.read.parquet(store)
    merged = (
        prior.unionByName(run_agg(F.col("event_date") > cut))
        .groupBy("event_date", "event_type")
        .agg(F.count(F.lit(1)).alias("_parts"), F.sum("n").alias("n"), F.sum("sv").alias("sv"))
        .drop("_parts")
    )
    store_v2 = os.path.join(LAYOUT_STAGING, f"daily_store_v2_{tag}")
    merged.write.mode("overwrite").parquet(store_v2)
    final = spark.read.parquet(store_v2)
    return final.select(
        "event_date",
        "event_type",
        "n",
        F.col("sv").cast("double").alias("sum_value"),
    )


def layout_sorted_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-sorted write for min/max data skipping: stage events
    range-partitioned AND sorted on ``user_id``, then read back a narrow
    user range.

    ``repartitionByRange`` clusters each key range into one output file and
    ``sortWithinPartitions`` orders rows inside it, so every parquet
    row-group's user_id min/max stats span a tight range — the point-range
    read prunes whole files and row groups from statistics alone (z-order's
    single-column special case). On an unsorted layout the same pushed
    filter still scans every row group because each one's min/max spans the
    whole domain. At 100 TB, sort-on-write is the cheapest data-skipping
    index there is: one range shuffle at ingest, every selective read
    after that skips. The oracle recomputes the aggregate from the
    unsorted fixture, so the sorted rewrite must preserve every row."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(LAYOUT_STAGING, f"events_sorted_{tag}")
    ev = load_table(spark, sf_dir, "events")
    (
        ev.select("event_id", "user_id", "event_type", "value")
        .repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.where(F.col("user_id").between(10, 20))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
            F.sum("event_id").alias("id_checksum"),
        )
    )


def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked co-located join: stage orders and lineitem as tables
    bucketed (and sorted) on the order key, join bucket-to-bucket, and
    aggregate revenue per order priority.

    Both sides share the bucket spec (8 buckets on the join key), so the
    equi-join runs with ZERO exchanges — bucket i of lineitem joins bucket
    i of orders where each already sits (``test_layout.py`` pins the
    no-shuffle plan). This is THE layout lever for a fact-to-fact join at
    100 TB: the shuffle that dominates a vanilla sort-merge join was paid
    once at write time and amortizes over every subsequent join/agg on the
    key. The oracle recomputes the aggregate from a plain join of the
    unbucketed fixtures, so a bucketing bug that drops, doubles, or
    misroutes a row breaks the value hash."""
    tag = _table_tag(sf_dir)
    orders_t, li_t = f"b_orders_{tag}", f"b_lineitem_{tag}"
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    for t in (orders_t, li_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_bucketed(
        orders.select("o_orderkey", "o_orderpriority"),
        orders_t,
        ["o_orderkey"],
        path=os.path.join(LAYOUT_STAGING, orders_t),
    )
    write_bucketed(
        li.select("l_orderkey", "l_extendedprice", "l_discount"),
        li_t,
        ["l_orderkey"],
        path=os.path.join(LAYOUT_STAGING, li_t),
    )
    joined = spark.table(li_t).join(
        spark.table(orders_t),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    # Same exact-decimal revenue expression as the relational family
    # (relational._dec/_one_minus ≡ oracles._DISC_PRICE).
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(8,4)") - F.col("l_discount").cast("decimal(8,4)")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(revenue).cast("double").alias("revenue"),
    )


ZORDER_BITS = 16


def _zvalue(x: str, y: str):
    """Interleave the low ZORDER_BITS bits of two bigint Columns into a
    Morton (Z-order) key — pure Column bit math, zero Python. Bit i of x
    lands at position 2i, bit i of y at 2i+1.

    Inputs are CLAMPED to [0, 2^ZORDER_BITS): values beyond 65535 would
    alias onto the same key (and negatives sign-extend to all-ones),
    silently degrading the clustering the key exists for (round-5 advice).
    Saturation keeps out-of-domain values ordered at the curve's edge —
    correctness is unaffected either way (the key is layout-only and
    dropped before the write returns); widen ZORDER_BITS if a real domain
    outgrows 16 bits."""
    lo, hi = F.lit(0).cast("bigint"), F.lit((1 << ZORDER_BITS) - 1).cast("bigint")
    x = F.least(F.greatest(F.col(x) if isinstance(x, str) else x, lo), hi)
    y = F.least(F.greatest(F.col(y) if isinstance(y, str) else y, lo), hi)
    z = F.lit(0).cast("bigint")
    for i in range(ZORDER_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def layout_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered write for MULTI-dimensional data skipping: stage
    events range-partitioned and sorted on the Morton interleave of
    (user_id, value-bucket), then read back a rectangle selective in BOTH
    dimensions.

    Sorting on one column (layout_sorted_skipping) makes min/max stats
    tight in that column only — a filter on the OTHER column still scans
    everything. The Z-order curve keeps points close in (x, y) close on
    the 1-D sort key, so each parquet row-group spans a small rectangle
    and a 2-D predicate prunes row groups from stats alone — the
    Delta/Iceberg OPTIMIZE ZORDER technique, here as one
    repartitionByRange + sortWithinPartitions on a Column-math key paid
    once at ingest. The z key is layout-only (dropped before write
    returns); the oracle recomputes the rectangle aggregate from the
    unclustered fixture, so the rewrite must preserve every row."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(LAYOUT_STAGING, f"events_zorder_{tag}")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    staged = (
        ev.withColumn("zx", F.col("user_id").cast("bigint"))
        .withColumn("zy", F.floor(F.col("value")).cast("bigint"))
        .withColumn("z", _zvalue("zx", "zy"))
        .repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .drop("zx", "zy", "z")
    )
    staged.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.where(
            F.col("user_id").between(10, 40) & F.col("value").between(20.0, 60.0)
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
            F.sum("event_id").alias("id_checksum"),
        )
    )


def dedup_exact_incremental_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_exact_incremental with the hash STORE staged as a table
    bucketed (and sorted) on content_hash — the layout lever applied to
    the dedup pipeline's running state: at 100 TB the store is the big
    side of every day's anti-join, and bucketing it once at ingest means
    the store is NEVER exchanged again — only the day-sized incoming
    batch shuffles (to the bucket partitioning) per run. Complements
    operators/dedup.dedup_exact_incremental_bloom, which shrinks the
    PROBE work; this removes the store-side SHUFFLE (the two compose in a
    production pipeline: bloom first, bucketed anti-join for the residue).

    The report is bit-identical to dedup_exact_incremental's (same oracle
    SQL under this query's name); test_layout.py pins that the bucketed
    plan carries strictly fewer exchanges and that the store scan is
    bucket-aware."""
    from ..operators.dedup import incremental_report, incremental_split

    tag = _table_tag(sf_dir)
    store_t = f"b_hashstore_{tag}"
    docs = load_table(spark, sf_dir, "documents")
    existing, incoming, in_unique = incremental_split(docs)
    spark.sql(f"DROP TABLE IF EXISTS {store_t}")
    write_bucketed(
        existing,
        store_t,
        ["content_hash"],
        path=os.path.join(LAYOUT_STAGING, store_t),
    )
    accepted = in_unique.join(spark.table(store_t), "content_hash", "left_anti")
    return incremental_report(
        incoming, [("n_after_batch_dedup", in_unique), ("n_accepted", accepted)]
    )
