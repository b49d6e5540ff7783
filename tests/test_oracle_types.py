"""Registry-wide oracle OUTPUT-TYPE gate.

r12's two driver hash fails (events_psi_drift, events_cramers_v) were not
value bugs: both engines agreed bit-for-bit, but the DuckDB oracles left a
bare SUM(BIGINT) in the output, which DuckDB types as HUGEINT (int128).
The driver hashes results through Arrow, where HUGEINT surfaces as
decimal128(38,0) and serializes differently from int64 — so a
value-identical query fails the hash. Five oracles registry-wide had the
defect (the two fails plus three never-rotated latents); all were fixed by
CAST(... AS BIGINT), the house style everywhere else.

This module closes the class forever:

* test_oracle_output_types binds every ORACLE_SQL against the fixtures and
  asserts no HUGEINT/UHUGEINT output column (binding is lazy — no query
  executes, so the sweep is cheap).
* test_canon_is_type_strict pins the harness-side half of the lesson: the
  local comparator must distinguish int / Decimal / float cells even when
  numerically equal.
* test_harness_reproduces_hugeint_fail replays the r12 failure shape
  end-to-end through compare_query and asserts the LOCAL harness now fails
  it too — local green must predict driver green.
"""

from __future__ import annotations

import decimal

from cl_tagger_batch_processing_spark.oracles import ORACLE_SQL

from .oracle_harness import _canon, compare_query, duckdb_connection

GUARD_SF_DIR = "/root/testdata/sf0.001"


def test_oracle_output_types():
    con = duckdb_connection(GUARD_SF_DIR)
    offenders = []
    try:
        for name, sql in sorted(ORACLE_SQL.items()):
            rel = con.sql(sql)  # bind only; nothing executes
            for col, typ in zip(rel.columns, rel.types):
                if "HUGEINT" in str(typ).upper():
                    offenders.append((name, col, str(typ)))
    finally:
        con.close()
    assert not offenders, (
        "oracle outputs with HUGEINT/UHUGEINT columns (these hash-differ "
        "from BIGINT under the driver's Arrow serialization — wrap the "
        f"aggregate in CAST(... AS BIGINT)): {offenders}"
    )


def test_canon_is_type_strict():
    # Numerically equal, type-distinct cells must canonicalize UNEQUAL —
    # this is precisely the difference the driver's hasher sees and the
    # pre-r13 harness canonicalized away.
    assert _canon(5) != _canon(decimal.Decimal(5))
    assert _canon(5) != _canon(5.0)
    assert _canon(decimal.Decimal(5)) != _canon(5.0)
    assert _canon(True) != _canon(1)
    assert _canon(5) == _canon(5)
    assert _canon(decimal.Decimal("6")) == _canon(decimal.Decimal(6))
    # The float path's existing canonicalizations still hold inside the tag.
    assert _canon(0.0) == _canon(-0.0)
    assert _canon(float("nan")) == _canon(float("nan"))


def test_harness_reproduces_hugeint_fail(spark):
    # End-to-end regression for the r12 class: a Spark BIGINT sum vs a
    # DuckDB oracle whose SUM is left un-cast (HUGEINT). Values agree;
    # the type-strict Arrow-fetching harness must FAIL the comparison.
    import pyspark.sql.functions as F

    def q(spark, sf_dir):
        return (
            spark.read.parquet(f"{sf_dir}/region.parquet")
            .agg(F.sum("r_regionkey").cast("bigint").alias("n"))
        )

    uncast = "SELECT SUM(r_regionkey) AS n FROM region"
    ok, msg = compare_query(spark, "hugeint_regression", GUARD_SF_DIR, query_fn=q, sql=uncast)
    # caught by the r13 width audit before the value compare even runs
    # (int64 vs decimal128); the type-tagged _canon would catch it anyway
    assert not ok and ("type-width mismatch" in msg or "value mismatch" in msg), (
        f"harness failed to flag the HUGEINT width difference: ok={ok} msg={msg}"
    )

    cast = "SELECT CAST(SUM(r_regionkey) AS BIGINT) AS n FROM region"
    ok, msg = compare_query(spark, "hugeint_regression", GUARD_SF_DIR, query_fn=q, sql=cast)
    assert ok, f"cast form should match: {msg}"


def test_harness_flags_int_width_split(spark):
    # r13 width-audit rule: value-identical outputs that differ only in
    # integer WIDTH across engines (Spark int32 vs DuckDB int64) must fail
    # the local compare — r13 found and widened three such latent splits,
    # among them tag_top1/tag_threshold's tag_idx.
    import pyspark.sql.functions as F

    def q32(spark, sf_dir):
        return (
            spark.read.parquet(f"{sf_dir}/region.parquet")
            .agg(F.count(F.lit(1)).cast("int").alias("n"))
        )

    def q64(spark, sf_dir):
        return (
            spark.read.parquet(f"{sf_dir}/region.parquet")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )

    sql64 = "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM region"
    ok, msg = compare_query(spark, "w", GUARD_SF_DIR, query_fn=q32, sql=sql64)
    assert not ok and "type-width mismatch" in msg, (ok, msg)
    ok, msg = compare_query(spark, "w", GUARD_SF_DIR, query_fn=q64, sql=sql64)
    assert ok, msg
