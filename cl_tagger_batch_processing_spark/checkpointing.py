"""Lineage truncation with a choice of durability (local vs reliable).

Iterative operators (PageRank supersteps ``operators/graph.py``, the
connected-components loop ``operators/dedup.py``, the k-means base in
``operators/similarity.py``) and multi-consumer intermediates truncate
lineage so plans stay small and the expensive upstream runs once. Two modes:

* ``local`` (default) — ``DataFrame.localCheckpoint``: blocks are stored on
  the executors that computed them. Fastest (no filesystem round-trip) and
  correct in local mode, but on a real cluster an executor loss makes the
  truncated lineage unrecoverable: the job FAILS instead of recomputing.
* ``reliable`` — ``DataFrame.checkpoint`` against a fault-tolerant
  checkpoint directory (HDFS/S3/shared mount): survives executor loss, so a
  10-superstep PageRank on 1000 executors doesn't restart from scratch when
  one machine dies. The frame is persisted (memory-and-disk) for the
  duration of the checkpoint: RDD checkpointing writes its files in a
  SECOND job after the materializing action, and without the persist that
  second job re-executes the entire upstream lineage — exactly the
  recomputation the checkpoint exists to avoid (the standard
  ``RDD.checkpoint`` caveat). Net cost: one cached materialization plus
  one write+read of the checkpointed frame.

Mode is read from the Spark conf so a cluster submit flips it without code
changes::

    spark-submit --conf spark.cl_tagger.checkpoint.mode=reliable \
                 --conf spark.cl_tagger.checkpoint.dir=hdfs:///ckpt ...

``spark.cl_tagger.checkpoint.dir`` seeds ``SparkContext.setCheckpointDir``
once per session (an already-set checkpoint dir wins, so programmatic
``setCheckpointDir`` calls are respected).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CHECKPOINT_MODE_CONF = "spark.cl_tagger.checkpoint.mode"
CHECKPOINT_DIR_CONF = "spark.cl_tagger.checkpoint.dir"
_MODES = ("local", "reliable")


def truncate_lineage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Checkpoint ``df`` per the session's configured durability mode.

    Drop-in replacement for ``df.localCheckpoint()`` at every
    iterative/multi-consumer site; semantics (a compute-once frame with
    truncated lineage) are identical in both modes — proven by
    ``tests/test_checkpointing.py`` running PageRank and the CC loop in
    reliable mode against unchanged oracle hashes.

    Local mode checkpoints LAZILY by default (r14, guide §1.2/§5): the
    blocks are stored when the first consumer's action computes them, so
    every call site sheds one blocking driver round-trip (the final-stage
    materialization job) while keeping exactly what the checkpoint is for —
    a truncated Catalyst plan at build time and compute-once blocks for
    every consumer. Values are unchanged by construction: same plan, same
    RDD, same blocks — only WHICH job stores them moves. Callers that need
    the materialization NOW (convergence loops reading an Observation
    scalar — ``checkpoint_with_metric``) pass ``eager=True``.

    Reliable mode stays eager always: its persist/checkpoint/unpersist
    lifecycle needs a known materialization point (a lazy variant would
    hold the persist alive until some unknowable action — a
    session-lifetime cache leak).
    """
    spark = df.sparkSession
    mode = spark.conf.get(CHECKPOINT_MODE_CONF, "local")
    if mode not in _MODES:
        raise ValueError(
            f"{CHECKPOINT_MODE_CONF}={mode!r}: expected one of {_MODES}"
        )
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        ckpt_dir = spark.conf.get(CHECKPOINT_DIR_CONF, None)
        if not ckpt_dir:
            raise ValueError(
                f"{CHECKPOINT_MODE_CONF}=reliable needs a fault-tolerant "
                f"checkpoint directory: set {CHECKPOINT_DIR_CONF} to an "
                "HDFS/S3/shared-filesystem path (or call "
                "SparkContext.setCheckpointDir). An executor-local path "
                "would silently lose the durability the mode exists for."
            )
        sc.setCheckpointDir(ckpt_dir)
    # Persist before checkpointing: the checkpoint files are written by a
    # second job AFTER the materializing action, and an unpersisted frame
    # would re-execute its full upstream lineage for that write (the
    # documented RDD.checkpoint caveat). With eager=True the data lives in
    # the checkpoint files once written, so the cache is dropped again.
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    out = df.checkpoint(eager=True)
    df.unpersist()
    return out


def truncate_lineage_eager(df: DataFrame) -> DataFrame:
    """``truncate_lineage`` with ``eager=True`` — for frames whose FIRST
    consuming action scans them MORE THAN ONCE (self-unions, wedge joins,
    multi-branch rollups) and for memoized family-shared frames (whose
    first consumer's shape is unknowable at build time). A lazy checkpoint
    would let the branches of that first action race to compute the
    subtree concurrently before any block exists, duplicating exactly the
    upstream work the checkpoint is there to avoid (measured r14:
    graph_components 4.1→7.6s when its self-unioned edge frame went lazy).
    Frames consumed once-then-reused-across-jobs stay on the lazy default.
    """
    return truncate_lineage(df, eager=True)


def checkpoint_with_metric(df: DataFrame, metric, *extra_metrics):
    """Checkpoint ``df`` (per the session durability mode) with ``metric``
    observed on the SAME materializing job, and return
    ``(checkpointed_df, metric_value)`` — or, with ``extra_metrics``, a
    dict of every observed alias.

    This is the zero-extra-pass convergence pattern every iterative
    operator shares (connected components' label sum, k-core's edge
    count): the driver reads ONE scalar per round and it rides the job the
    checkpoint runs anyway — a separate ``.agg().collect()`` per round
    would re-execute or re-read the frame. ``metric`` must be a single
    aggregate Column (e.g. ``F.sum(...).alias("s")``); ``extra_metrics``
    ride the same Observation and come back as a dict by alias (the r14
    broadcast-strategy censuses — e.g. a row count deciding whether the
    loop's per-round joins may broadcast the frame).
    """
    from pyspark.sql import Observation

    obs = Observation()
    ck = truncate_lineage(df.observe(obs, metric, *extra_metrics), eager=True)
    vals = obs.get
    if not extra_metrics:
        return ck, next(iter(vals.values()))
    return ck, vals


def session_memo(cache: dict, spark, key: tuple, build):
    """The one session memo: return ``cache``'s entry for ``key`` in this
    application and checkpoint mode, or store and return ``build()``.

    Every entry is keyed ``(applicationId, checkpoint mode, *key)``. A
    cached frame is only valid inside the application that built it, so
    entries of any OTHER application are evicted first (a stop/recreate
    cycle frees the dead session's checkpoint blocks instead of pinning
    them, and CPython's reuse of object ids cannot hand a new session a
    stale frame). The mode is in the key because a frame checkpointed in
    one mode is not the frame the other mode asks for: a switch to
    ``reliable`` must write reliable checkpoint files, not return the
    local blocks built before it.

    Shared contract of every memo: keys carry ``sf_dir`` but no
    data-version component, so the memo assumes the fixture directory is
    IMMUTABLE for the lifetime of the application — true for read-only
    fixtures and for any production run over immutable snapshot paths; a
    pipeline that rewrites a path in place must key on a snapshot/version
    id instead. Cached checkpoint blocks live until application exit by
    design: each memo holds frames bounded far below executor storage at
    any fixture scale, and the blocks ARE the saving (every consumer
    re-reads them instead of re-running the build).

    ``cache`` is read through ``.get`` and written through ``[]=`` only,
    and callers pass the module-level dict itself at call time, so
    benchmarks can swap in a counting dict subclass by attribute name."""
    app_id = spark.sparkContext.applicationId
    for stale in [k for k in cache if k[0] != app_id]:
        del cache[stale]
    full_key = (app_id, spark.conf.get(CHECKPOINT_MODE_CONF, "local"), *key)
    hit = cache.get(full_key)
    if hit is None:
        hit = build()
        cache[full_key] = hit
    return hit
