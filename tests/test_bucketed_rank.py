"""The bucketed two-pass rank machinery (r12) must be VALUE-identical to
the single-partition windows it replaces — these pin bucketed_ntile
against F.ntile on synthetic frames that exercise the edges the fixtures
may not: heavy ties, N smaller than the ntile buckets, N smaller than
RANK_BUCKETS and per-partition groups of uneven size — and check that
its data window runs per bucket."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cl_tagger_batch_processing_spark.operators.relational import bucketed_ntile


def _synth(spark, n: int, mod: int):
    # (key, tiebreak) with heavy ties when mod is small
    return spark.range(n).select(
        F.col("id").alias("tb"),
        ((F.col("id") * 37) % mod).alias("v"),
        (F.col("id") % 3).alias("g"),
    )


def test_bucketed_ntile_matches_ntile(spark):
    for n, mod, buckets in [(1, 1, 4), (2, 2, 4), (3, 3, 4), (5, 2, 4),
                            (101, 9, 4), (257, 11, 10)]:
        df = _synth(spark, n, mod)
        w = Window.orderBy(F.asc("v"), F.asc("tb"))
        want = {
            (r["tb"], r["t"])
            for r in df.select(
                "tb", F.ntile(buckets).over(w).alias("t")
            ).collect()
        }
        got = {
            (r["tb"], r["t"])
            for r in bucketed_ntile(df, "v", "tb", buckets, "t")
            .select("tb", "t")
            .collect()
        }
        assert got == want, (n, mod, buckets)


def test_bucketed_ntile_partitioned_matches(spark):
    df = _synth(spark, 200, 6)
    w = Window.partitionBy("g").orderBy(F.asc("v"), F.asc("tb"))
    want = {
        (r["g"], r["tb"], r["t"])
        for r in df.select("g", "tb", F.ntile(4).over(w).alias("t")).collect()
    }
    got = {
        (r["g"], r["tb"], r["t"])
        for r in bucketed_ntile(df, "v", "tb", 4, "t", parts=["g"])
        .select("g", "tb", "t")
        .collect()
    }
    assert got == want


def test_bucketed_rank_plan_data_window_is_partitioned(spark):
    # the machinery's point: the window that ranks the DATA is partitioned
    # by _bkt (per-bucket tasks); the only SinglePartition exchanges feed
    # the ≤RANK_BUCKETS-row bucket-size spine, never the input rows
    import re

    from cl_tagger_batch_processing_spark.plans import inspect

    df = _synth(spark, 5000, 997)
    plan = inspect.executed_plan(bucketed_ntile(df, "v", "tb", 4, "t"))
    rn_specs = re.findall(
        r"row_number\(\) windowspecdefinition\(([^,]*)", plan
    )
    # partitioned BY _bkt (a bare first argument), not merely ordered on it
    assert rn_specs and all(re.fullmatch(r"_bkt#\d+", s.strip()) for s in rn_specs), (
        rn_specs
    )
    # ntile's two bounded spine passes (bucket offsets, row total) funnel
    # to a single partition, each straight off the per-bucket size
    # aggregate
    lines = plan.splitlines()
    single = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    assert len(single) <= 2, plan
    for i in single:
        assert "HashAggregate" in lines[i + 1] and "_bsz" in lines[i + 1], lines[i + 1]
