"""Loaders for the driver-generated fixture tables (see /root/repo/TESTDATA.md).

The fixtures are plain parquet, one file per table, at
``/root/testdata/sf{0.001,0.01,0.1}/<name>.parquet``. Three tables carry
parquet ``TIMESTAMP(NANOS)`` columns, which Spark 4.x rejects unless
``spark.sql.legacy.parquet.nanosAsLong`` is set — and then surfaces as
epoch-nanosecond ``LongType``. ``load_table`` normalizes those back to
``TimestampType`` (truncated to microseconds, which is exactly what DuckDB
does when it reads the same files, so oracle comparisons line up).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpointing import session_memo

FIXTURE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Columns stored as parquet TIMESTAMP(NANOS) in the fixtures.
_NANO_TS_COLUMNS: dict[str, list[str]] = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


# PLAN memo, not a data memo: load_table's work (file listing, parquet
# footer schema read, the dtypes analysis round trip) happens at QUERY
# CONSTRUCTION time and was paid once per table per registry query —
# ~0.12s × ~500 calls across a full bench run, none of it data-dependent.
# The cached value is an unmaterialized DataFrame (a logical plan): every
# action on it still scans the parquet files, so nothing about execution
# or results changes — only the redundant re-planning goes away.
_TABLE_PLAN_CACHE: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing nano-timestamp columns."""

    def build() -> DataFrame:
        # Runtime-settable; required before the read plans the parquet schema.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        dtypes = dict(df.dtypes)
        for col in _NANO_TS_COLUMNS.get(name, []):
            if dtypes.get(col) == "bigint":
                # epoch nanos -> epoch micros -> TimestampType (truncation
                # matches DuckDB's ns->us conversion of the same parquet data).
                df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        return df

    plan = session_memo(_TABLE_PLAN_CACHE, spark, (sf_dir, name), build)
    # A fresh projection per call: two loads of one table must not be the
    # same DataFrame, whose shared column ids make a self-join's Column
    # predicates ambiguous. It reuses the memoized plan, so there is still
    # no re-listing and no footer read.
    return plan.toDF(*plan.columns)
