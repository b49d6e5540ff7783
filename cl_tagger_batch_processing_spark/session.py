"""SparkSession factory tuned for this engine.

Local mode is the test bed (one JVM, N threads); the configs are chosen so
the same code scales to a multi-executor cluster: AQE for runtime re-planning
(skew joins, partition coalescing), Arrow for the pandas-UDF boundary, and a
shuffle-partition count sized to the parallelism rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """16g on bench-class hosts, scaled down where 16g could push a small
    machine into swap (r13 ADVICE): the default is min(16g, 1/4 of host
    RAM, floored at 2g). $SPARK_GRAFT_DRIVER_MEM always wins."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
        quarter_g = max(2, total_kb // (4 * 1024 * 1024))
    except (OSError, StopIteration, ValueError):  # non-Linux / unreadable
        quarter_g = 16
    return f"{min(16, quarter_g)}g"


def get_spark(
    app_name: str = "cl_tagger_batch_processing_spark",
    cpus: int | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the default ``local[cpus]`` URL (e.g. a real
    cluster URL from the CLI's ``--master``) while keeping every config
    below — one config surface for all entry points. ``cpus`` still sizes
    ``spark.sql.shuffle.partitions``.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Local mode runs every task inside the driver JVM, so the driver heap
    # IS the executor heap: Spark's 1g default leaves ~300 MB of
    # execution+storage memory shared by `cpus` concurrent tasks (~10 MB
    # per task at 32 cores) — sort/aggregate/join buffers spill and GC
    # churns long before the machine is used (guide §5/§9: size memory to
    # the workers, not the default). Parameterised, not hard-coded: env
    # override for the bench/driver, and a cluster submit's explicit
    # spark.driver.memory / spark.executor.memory win because a JVM that
    # is already running ignores this builder setting.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # The driver-generated fixtures carry parquet TIMESTAMP(NANOS), which
        # Spark only reads via this legacy flag (as epoch-nanos LongType);
        # sources.tables normalizes those columns back to TimestampType.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark 4 wraps EVERY DataFrame/Column API call with a call-site
        # capture (stack inspection + 4 py4j round trips) for error-message
        # enrichment. Across the registry that is ~40% of query
        # CONSTRUCTION time (profiled r14: one 1.3s statistics-query build
        # spent 0.55s inside the wrapper) for a debugging nicety — guide
        # §4's "you control how much crosses the boundary" applied to the
        # driver-side API itself. Deployment-independent: the overhead is
        # py4j latency, present on any cluster's driver.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Every run plans its query again, so a warm run is fast only if
        # its generated classes are still in Spark's compiled-class cache
        # (LRU, 100 entries by default). One query_mix pass generates ~200
        # distinct classes, so at 100 each warm pass recompiled all of
        # them (195-222 Janino compiles per pass, on the driver, inside
        # each query; 0 from pass 2 on with this cap). One run of each of
        # the 228 batch registry queries at sf0.001 compiles 5,228 classes
        # at the default and 2,562 with both settings here; after it, heap
        # after GC is 139 -> 211 MB and Metaspace 197 -> 217 MB (4 vCPU).
        # Bounded, not unlimited: an ad-hoc session would grow an
        # unbounded cache forever. Static: Spark reads it once per JVM, at
        # the first code generation.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # The cache is keyed by the generated source, and Spark names each
        # whole-stage class after its codegen stage id. AQE numbers stages
        # in the order they are created, which follows the order concurrent
        # shuffle stages happen to finish, so an unchanged plan could come
        # back with two stage ids swapped and miss the cache
        # (text_tfidf_topk: 4 compiles on some warm runs, 0 on others).
        # Without the id in the name, such classes are equal sources.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
