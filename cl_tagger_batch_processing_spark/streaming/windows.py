"""Streaming operators over the ``events`` fixture.

The reference is strictly batch (SURVEY.md §2.8: no streaming at any line);
this is the driver-mandated Structured Streaming extension. Three surfaces:

* ``stream_tumbling_counts`` — a REAL ``readStream`` → windowed aggregation
  → memory sink, driven to completion synchronously. Complete output mode
  makes the result equal to the batch group-by, so it carries a value
  oracle.
* ``stream_session_counts`` — watermarked session windows in append mode:
  the late-data path. Append emits only watermark-finalized sessions, so it
  gets the rows-only check (the withheld tail is watermark policy, not a
  bug).
* ``sessionize`` — the same session semantics as a batch ``session_window``
  aggregation (oracle: lag/cumsum gap sessionization with exact-microsecond
  arithmetic).

All sums run in exact DECIMAL (2-decimal fixture values) and cast to DOUBLE
at the end; window starts are emitted as epoch seconds (timezone-proof).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

_EVENTS_SCHEMA_TAIL = (
    "user_id bigint, event_type string, value double, props string"
)
_counter = itertools.count()


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture.

    A stream read needs an explicit schema, but the fixture's ``ts``
    physical type has varied across driver generations: parquet
    TIMESTAMP(NANOS) (readable only as epoch-nanos long under the legacy
    flag) vs TIMESTAMP(MICROS) (a native TimestampType). Probe with a
    batch read of the same file — same detection rule as
    ``sources.tables.load_table`` — and build the matching stream schema,
    so both layouts produce identical TimestampType output."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes)
    ts_is_nanos_long = probe.get("ts") == "bigint"
    ts_decl = "ts bigint" if ts_is_nanos_long else "ts timestamp"
    raw = (
        spark.readStream.schema(f"event_id bigint, {ts_decl}, {_EVENTS_SCHEMA_TAIL}")
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if ts_is_nanos_long:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


STREAM_SHUFFLE_PARTITIONS = 8


def _run_to_memory(agg: DataFrame, output_mode: str) -> DataFrame:
    """Drive a bounded stream to completion into a memory sink.

    Stateful streaming parallelism = shuffle partitions, fixed at query
    start: every micro-batch pays one state-store instance (and, for
    applyInPandasWithState, one Python worker) PER partition. The batch
    default (32 here, thousands on a real cluster) is sized for data
    volume, not for state-op fan-out, so we pin a smaller explicit value
    for the streaming stages and restore the session conf afterwards. On a
    real deployment this is the knob to size to state volume ÷ executor
    memory, not to input bytes.
    """
    return _run_all_to_memory([(agg, output_mode)])[0]


def _run_all_to_memory(aggs: list[tuple[DataFrame, str]]) -> list[DataFrame]:
    """Drive several INDEPENDENT bounded streams to completion into memory
    sinks, started together so their micro-batches overlap (guide §2.6:
    actions are only sequential because the driver calls them
    sequentially). A multi-stream operator (e.g. the CMS cells + exact
    watchlist pair) otherwise pays stream startup and the straggler tail
    of each query back-to-back; starting both lets the second query's
    tasks back-fill executors the first query's tail leaves idle. Output
    tables and semantics are identical to sequential runs — each query is
    its own sink."""
    spark = aggs[0][0].sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS))
    names: list[str] = []
    queries = []
    try:
        try:
            for agg, output_mode in aggs:
                name = f"stream_out_{next(_counter)}"
                names.append(name)
                queries.append(
                    agg.writeStream.outputMode(output_mode)
                    .format("memory")
                    .queryName(name)
                    .start()
                )
            for q in queries:
                q.processAllAvailable()
        finally:
            for q in queries:
                q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return [spark.table(name) for name in names]


def _windowed_type_counts(spark: SparkSession, sf_dir: str, *window: str) -> DataFrame:
    """Event count and exact DECIMAL value sum per (time window, event_type)
    over a live stream in complete mode; ``window`` is F.window's duration
    (and slide) after the ts column."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # epoch-aligned windows
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", *window).alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sv"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.unix_timestamp("w.start").alias("window_start_epoch"),
        "event_type",
        "n",
        F.col("sv").cast("double").alias("sum_value"),
    )


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type over a live stream; complete
    mode ⇒ result set equals the batch aggregation (oracle-checked)."""
    return _windowed_type_counts(spark, sf_dir, "1 hour")


def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked session windows (30-min gap) per user in append mode —
    the late-data policy surface. Only watermark-finalized sessions are
    emitted; on a bounded stream that set is DETERMINISTIC (the final
    no-data micro-batch advances the watermark to max(ts) − 10min and
    flushes every session whose end has been passed, end == watermark
    inclusive — pinned by the synthetic boundary test), so the DuckDB
    oracle replays the same rule over the gaps-and-islands sessionization
    and this entry is fully value-checked since r8."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        "user_id",
        F.unix_timestamp("w.start").alias("session_start_epoch"),
        "n_events",
    )


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-sessionization via Spark's first-class ``session_window``:
    sessions close after a 30-minute silence. One shuffle on (window, user).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("sv"),
        )
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start_epoch"),
            "n_events",
            F.col("sv").cast("double").alias("sum_value"),
        )
    )


from ..handoff import staging_path

STREAM_SINK_STAGING = staging_path("stream_sink")


def run_sink_to_parquet(spark: SparkSession, sf_dir: str, out: str, ckpt: str) -> None:
    """One availableNow run of the events stream into a parquet file sink.

    Restart-safe by construction: source offsets commit to the checkpoint's
    write-ahead log AFTER the batch's files commit to the sink metadata
    log, so re-invoking with the same checkpoint+output is a no-op (the
    offsets are already committed) — tests/test_streaming.py drives a
    second run and asserts zero new rows land."""
    ev = events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    q = (
        ev.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet FILE sink with checkpointing — the persistent-sink
    path (everything else in this module lands in a memory sink).

    The file sink is Structured Streaming's exactly-once surface: each
    micro-batch commits files atomically through the checkpoint's write-ahead
    commit log, so a crashed-and-restarted query never double-writes a
    batch (readers see only committed files via the sink's _spark_metadata
    log). Restarting THIS query against the same checkpoint+output is a
    no-op: the source offsets are already committed, which is the
    idempotence a 100-TB/day ingest pipeline leans on. The fidelity
    aggregate over the files read back is value-checked against the
    fixture, so a dropped or duplicated micro-batch breaks the hash."""
    import shutil

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out = f"{STREAM_SINK_STAGING}/events_{tag}"
    ckpt = f"{STREAM_SINK_STAGING}/ckpt_{tag}"
    # Fresh staging per build: the oracle checks CONTENT equality with the
    # fixture, so a stale prior run must not leak files in.
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    run_sink_to_parquet(spark, sf_dir, out, ckpt)
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        F.sum("event_id").alias("id_checksum"),
        F.min("user_id").alias("min_user_id"),
        F.max("user_id").alias("max_user_id"),
    )


def stream_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment — the most common streaming join:
    each micro-batch of events joins a small static dimension (per-user
    tier) that is broadcast to every task, with NO streaming state at all.

    Stream-static inner joins are stateless by definition (the static side
    is re-planned per micro-batch, the stream side never waits), which is
    why enrichment dims should be joined this way rather than as
    stream-stream joins — no watermark, no state store, no cleanup. The
    dimension here derives deterministically from user_id so the oracle
    reproduces it; on a real deployment it is the slowly-changing dim
    table the batch jobs also read."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Size the demo dim from the data (one tiny batch max() probe of the
    # same fixture the stream reads) so an inner join can never silently
    # drop events whose user_id outgrew a hardcoded bound; a domain too
    # large to broadcast fails loudly instead of dropping coverage.
    max_uid = load_table(spark, sf_dir, "events").agg(F.max("user_id")).first()[0]
    # Bound the demo dim to what actually broadcasts: each row is ~16 bytes
    # (bigint + short string), so cap rows at autoBroadcastJoinThreshold/16.
    # A 10M-row "guard" would admit a dim of hundreds of MB and fail later
    # as an executor OOM instead of this intended loud ValueError. SQLConf
    # parses the byte string; -1 means auto-broadcast is disabled — we
    # broadcast explicitly here, so fall back to the 10 MB default cap
    # rather than a zero cap.
    thresh_bytes = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if thresh_bytes <= 0:
        thresh_bytes = 10 * 1024 * 1024
    max_dim_rows = max(1, thresh_bytes // 16)
    if max_uid is None or max_uid >= max_dim_rows:
        raise ValueError(
            f"events user_id domain (max={max_uid}) is not broadcast-dim "
            f"sized (cap {max_dim_rows} rows from autoBroadcastJoinThreshold="
            f"{thresh_bytes}); supply a real dimension table instead of the demo dim"
        )
    tiers = spark.range(0, max_uid + 1).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("tier"), (F.col("id") % 5).cast("string")).alias("tier"),
    )
    ev = events_stream(spark, sf_dir).select("user_id", "event_type", "value")
    joined = ev.join(F.broadcast(tiers), "user_id", "inner")
    agg = joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sv"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select("tier", "n", F.col("sv").cast("double").alias("sum_value"))


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 15 minutes per event type — the
    overlapping-window shape (each event lands in 4 windows). Complete mode
    on the bounded source equals the batch expansion, so it carries a full
    value oracle (the oracle expands each event to its 4 epoch-aligned
    window starts with an integer generate_series). State is one row per
    (window, type) — slide count × tumbling state, bounded by the
    watermarkable window width, not stream history."""
    return _windowed_type_counts(spark, sf_dir, "1 hour", "15 minutes")


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: each purchase matched to the
    same user's clicks in the preceding hour — the attribution-join shape.

    Both sides carry a watermark and the join condition bounds event time
    on BOTH streams (``click_ts`` in ``[purchase_ts - 1h, purchase_ts)``),
    which is what lets Spark expire join state: click state is dropped once
    the purchase-side watermark passes ``click_ts + 1h``, so state size
    tracks the interval width, not stream history — the property that makes
    this runnable forever at 100 TB/day. Inner join in append mode emits
    every match exactly once; on the bounded fixture the emitted set equals
    the batch interval join, so it carries a full value oracle (the same
    pairs as ``range_join_events``, via the streaming engine)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = events_stream(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    joined = clicks.withWatermark("click_ts", "10 minutes").join(
        purchases.withWatermark("purchase_ts", "10 minutes"),
        F.expr(
            "c_user = user_id AND "
            "click_ts >= purchase_ts - INTERVAL 1 HOUR AND "
            "click_ts < purchase_ts"
        ),
        "inner",
    )
    out = _run_to_memory(joined, "append")
    return out.select(
        "user_id",
        "purchase_id",
        "click_id",
        F.unix_timestamp("purchase_ts").alias("purchase_epoch"),
        F.unix_timestamp("click_ts").alias("click_epoch"),
    )


def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: the event stream unioned
    with itself (every event arrives twice — the at-least-once delivery
    model), deduplicated on event_id via ``dropDuplicatesWithinWatermark``,
    then counted per type in complete mode.

    ``dropDuplicatesWithinWatermark`` is the scale-correct choice over plain
    ``dropDuplicates``: state for an event_id is dropped once the watermark
    passes it, so state size tracks the watermark window, not the whole
    stream history. Oracle: the batch COUNT(DISTINCT event_id) per type —
    if dedup ever regressed, every count would double.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = events_stream(spark, sf_dir).select("event_id", "ts", "event_type")
    doubled = ev.unionByName(ev)
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return _run_to_memory(agg, "complete")


TRENDING_TOP_K = 3
STREAM_TRENDING_STAGING = staging_path("stream_trending")


def stream_trending_topk(
    spark: SparkSession, sf_dir: str, k: int = TRENDING_TOP_K
) -> DataFrame:
    """Trending top-k event types per tumbling hour, computed in a
    ``foreachBatch`` sink — the standard pattern for ranking in Structured
    Streaming, where window functions are not supported inside a streaming
    aggregation: the stream maintains the windowed counts; each micro-batch
    hands a BATCH DataFrame to foreachBatch, which ranks and OVERWRITES the
    result table. Overwrite-per-epoch makes the sink idempotent under
    micro-batch retries (same epoch rewrites the same content) — the
    foreachBatch half of the exactly-once story, complementing
    ``stream_sink_parquet``'s file-sink commit log.

    Complete output mode means the final epoch carries the full windowed
    aggregation, so the persisted ranking equals the batch equivalent —
    fully value-checked. Ranking carries the (n DESC, event_type ASC)
    tie-break; sums run in exact decimal."""
    import shutil

    from pyspark.sql import Window

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out = f"{STREAM_TRENDING_STAGING}/topk_{tag}"
    shutil.rmtree(out, ignore_errors=True)
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sv"),
    )

    def rank_and_overwrite(batch_df: DataFrame, epoch_id: int) -> None:
        w_rank = Window.partitionBy("window_start_epoch").orderBy(
            F.desc("n"), F.asc("event_type")
        )
        (
            batch_df.select(
                F.unix_timestamp("w.start").alias("window_start_epoch"),
                "event_type",
                "n",
                F.col("sv").cast("double").alias("sum_value"),
            )
            .withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
            .where(F.col("rank") <= k)
            .write.mode("overwrite")
            .parquet(out)
        )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS))
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .foreachBatch(rank_and_overwrite)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.parquet(out)


def stream_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user FIRST-touch attribution over the event stream: the earliest
    event's type and value per user, maintained as streaming min-struct
    state — the attribution primitive ("which channel acquired this
    user?") every marketing/growth pipeline keeps as a continuously
    updated table. State is ONE struct per user (the current minimum), so
    state size tracks the user population, never stream history — the
    property that lets this run forever.

    The argmin rides min(struct(epoch_us, event_id, ...)): epoch
    microseconds order first, the unique event_id breaks exact-timestamp
    ties deterministically — the same first-max discipline as the
    reference's per-category argmax (appV2.py:77-83). Complete mode on
    the bounded fixture equals the batch groupBy, so the query carries a
    FULL value oracle."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = events_stream(spark, sf_dir)
    first = F.min(
        F.struct(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            F.col("event_id").alias("event_id"),
            F.col("event_type").alias("event_type"),
            F.col("value").cast("decimal(12,2)").alias("value"),
        )
    )
    agg = ev.groupBy("user_id").agg(first.alias("f"), F.count(F.lit(1)).alias("n_events"))
    out = _run_to_memory(agg, "complete")
    return out.select(
        "user_id",
        # exact integer floor-division (a double quotient could round up
        # across the second boundary before the cast truncates)
        F.expr("f.us div 1000000").alias("first_epoch_s"),
        F.col("f.event_id").alias("first_event_id"),
        F.col("f.event_type").alias("first_event_type"),
        F.col("f.value").cast("double").alias("first_value"),
        "n_events",
    )


def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per tumbling hour over the EVENT STREAM,
    via the engine's hand-rolled HyperLogLog — the reason sketches exist
    in streaming: exact distinct state grows with the key universe, while
    HLL state is EXACTLY 64 max-merged registers per window regardless of
    traffic (max is an algebraic aggregate, so Spark keeps partial maxes
    in the state store and merges across micro-batches for free).

    The hash layout and rank math come from ``relational.hll_hashed`` and
    the finalize from ``relational.hll_finalize`` — the SAME code the
    batch estimator runs, so the streaming sketch provably agrees with
    the batch one (and with the DuckDB oracle, which replays the batch
    equivalent; complete mode on the bounded fixture makes them equal).
    Finalization (registers → estimate) is post-stream batch math on the
    64-rows-per-window result — the foreachBatch/topk convention of
    keeping unsupported-in-streaming shapes out of the streaming plan."""
    from ..operators.relational import hll_finalize, hll_hashed

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = events_stream(spark, sf_dir).select(
        F.window("ts", "1 hour").alias("w"), "user_id"
    )
    hashed = hll_hashed(ev, "user_id", ["w"])
    agg = hashed.groupBy("w", "register").agg(F.max("rank").alias("m"))
    regs = _run_to_memory(agg, "complete")
    return hll_finalize(
        regs.select(
            F.unix_timestamp("w.start").cast("bigint").alias("window_start_epoch"),
            "register",
            "m",
        ),
        ["window_start_epoch"],
    )


def stream_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour value-quantile estimates over the EVENT STREAM via the
    engine's mergeable equi-width histogram — the quantile leg of the
    streaming sketch pair (stream_hll_distinct = cardinality): exact
    per-window quantiles would require sorting unbounded per-window
    state, while histogram state is ≤ QSK_MAX_BIN+1 counters per window
    and COUNT is algebraic, so the state store holds partial bin counts
    and merges across micro-batches for free.

    Binning comes from ``relational.histogram_bin`` and the finalize from
    ``relational.histogram_quantile_estimates`` — the SAME code the batch
    sketch report runs (the stream_hll_distinct convention: one sketch
    implementation, two execution modes, provably the same summary).
    Finalization is post-stream batch math on the ≤128-rows-per-window
    result. Output: (window_start_epoch, q, estimate)."""
    from ..operators.relational import histogram_bin, histogram_quantile_estimates

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = events_stream(spark, sf_dir).select(
        F.window("ts", "1 hour").alias("w"), "value"
    )
    binned = ev.select("w", histogram_bin(F.col("value")).alias("b"))
    agg = binned.groupBy("w", "b").agg(F.count(F.lit(1)).alias("cnt"))
    hist = _run_to_memory(agg, "complete")
    return histogram_quantile_estimates(
        spark,
        hist.select(
            F.unix_timestamp("w.start").cast("bigint").alias("window_start_epoch"),
            "b",
            "cnt",
        ),
        ["window_start_epoch"],
    )


# Watchlist for the streaming CMS: user ids below this literal (the
# fixture's id space starts at 0) — mirrored in the oracle (sync-pinned).
CMS_WATCH_BELOW = 5


def stream_watchlist_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour count-min-sketch frequency monitoring of a fixed watchlist
    over the EVENT STREAM — the frequency leg of the streaming sketch
    trio (stream_hll_distinct = cardinality, stream_quantile_histogram =
    quantiles): per window the sketch state is CMS_DEPTH×CMS_WIDTH
    counters regardless of the user universe (COUNT is algebraic — the
    state store merges partial cells across micro-batches), and the
    watchlist's exact side is a second bounded-state aggregate (≤
    CMS_WATCH_BELOW keys per window), so the per-user overestimate the
    collision mass causes is audited in-stream.

    Hash layout (md5(depth:token) → 60-bit → %CMS_WIDTH) is identical to
    ``text.text_heavy_hitters_cms`` — one sketch convention across batch
    text and streaming event domains. Estimate extraction (min over
    depth rows) is post-stream batch math on ≤DEPTH·WIDTH rows/window.
    Output: (window_start_epoch, user_id, true_count, cms_estimate,
    overestimate)."""
    from ..operators.text import cms_bucket, cms_depth_rows

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = events_stream(spark, sf_dir).select(
        F.window("ts", "1 hour").alias("w"), "user_id"
    )
    depth = cms_depth_rows()
    bucket = cms_bucket(F.col("user_id").cast("string"))
    cells_agg = (
        ev.select("w", "user_id", depth)
        .select("w", "j", bucket)
        .groupBy("w", "j", "bucket")
        .agg(F.count(F.lit(1)).alias("cell_sum"))
    )
    exact_agg = (
        ev.where(F.col("user_id") < CMS_WATCH_BELOW)
        .groupBy("w", "user_id")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    # two independent streams over the same bounded source — started
    # together so they overlap (guide §2.6) instead of paying startup +
    # straggler tail twice in sequence
    cells_out, exact_out = _run_all_to_memory(
        [(cells_agg, "complete"), (exact_agg, "complete")]
    )
    cells = cells_out.select(
        F.unix_timestamp("w.start").cast("bigint").alias("window_start_epoch"),
        "j",
        "bucket",
        "cell_sum",
    )
    exact = exact_out.select(
        F.unix_timestamp("w.start").cast("bigint").alias("window_start_epoch"),
        "user_id",
        "true_count",
    )
    probes = exact.select("window_start_epoch", "user_id", "true_count", depth).select(
        "window_start_epoch", "user_id", "true_count", "j", bucket
    )
    est = (
        probes.join(F.broadcast(cells), ["window_start_epoch", "j", "bucket"])
        .groupBy("window_start_epoch", "user_id", "true_count")
        .agg(F.min("cell_sum").alias("cms_estimate"))
    )
    return est.select(
        "window_start_epoch",
        "user_id",
        "true_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("true_count")).alias("overestimate"),
    )


def stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert — the micro-batch MERGE pattern every
    incremental corpus refresh runs in production: the changeset arrives
    as a STREAM (one micro-batch per change file, maxFilesPerTrigger=1
    under an availableNow trigger) and ``foreachBatch`` merges each batch
    into a keyed parquet store by full-outer join on doc_id, writing a
    NEW store version per batch (never read-and-overwrite in place — the
    incremental_daily_agg discipline). The final store must equal the
    one-shot batch MERGE, so the oracle is cdc_merge_documents' SQL
    verbatim — a dropped batch, a double-applied batch, or an in-place
    overwrite race all break the value hash.

    The three change batches carry DISJOINT key sets (update/delete/
    insert target different doc_ids by construction), so the final state
    is batch-order independent — the determinism that makes a streaming
    upsert value-checkable. On a real deployment the same foreachBatch
    body runs MERGE INTO against Delta/Iceberg; plain versioned parquet
    keeps the engine format-agnostic. Local-filesystem staging (the
    sinks.py shared-FS caveat applies on a multi-node master)."""
    import os
    import shutil

    from ..handoff import staging_path
    from ..operators.curation import _cdc_changes
    from ..sources.tables import load_table

    tag = os.path.basename(os.path.normpath(sf_dir))
    root = staging_path(f"cdc_stream_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    chdir = os.path.join(root, "changes")
    os.makedirs(chdir, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    changes = _cdc_changes(docs)
    # one flat parquet FILE per op so maxFilesPerTrigger=1 yields exactly
    # three micro-batches (written sequentially → deterministic listing;
    # the result is batch-order independent anyway: disjoint key sets)
    for i, op in enumerate(["update", "delete", "insert"]):
        tmp = os.path.join(root, f"tmp_{op}")
        changes.where(F.col("op") == op).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.rename(
            os.path.join(tmp, part), os.path.join(chdir, f"{i}_{op}.parquet")
        )
        shutil.rmtree(tmp)
    store_dir = lambda v: os.path.join(root, f"store_v{v}")  # noqa: E731
    docs.withColumn("op", F.lit("keep")).write.mode("overwrite").parquet(
        store_dir(0)
    )
    version = {"v": 0}

    def merge_batch(bdf: DataFrame, batch_id: int) -> None:
        cur = spark.read.parquet(store_dir(version["v"]))
        b = bdf.select(
            "doc_id",
            F.col("new_text").alias("_new_text"),
            F.col("op").alias("_bop"),
        )
        merged = (
            cur.join(b, "doc_id", "full_outer")
            .where(F.col("_bop").isNull() | (F.col("_bop") != "delete"))
            .select(
                "doc_id",
                F.coalesce("_new_text", "text").alias("text"),
                F.coalesce("_bop", "op").alias("op"),
            )
        )
        version["v"] += 1
        merged.write.mode("overwrite").parquet(store_dir(version["v"]))

    stream = (
        spark.readStream.schema("doc_id bigint, new_text string, op string")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(chdir)
    )
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    final = spark.read.parquet(store_dir(version["v"]))
    return final.select(
        "doc_id",
        "op",
        F.md5("text").alias("content_hash"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
