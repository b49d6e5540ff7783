"""Local mirror of the driver's DuckDB-oracle comparison.

For each registry query: run the Spark DataFrame and the same-named oracle
SQL on DuckDB over the same parquet fixtures, then compare

* sorted column names,
* row count,
* the multiset of rows (columns sorted by name, values canonicalized:
  floats rounded to 9 significant digits, dates/timestamps stringified).

Strict canonicalization (no tolerance) on purpose: it flags any query whose
output could hash-differently across engines so the query gets fixed (e.g.
by rounding explicitly on both sides) before the driver sees it.

Two driver-fidelity rules learned from the r12 psi/cramers hash fails:

* DuckDB rows are fetched THROUGH ARROW, not fetchall(): fetchall()
  silently widens HUGEINT (int128) to Python int, hiding exactly the
  type difference the driver's Arrow-based hasher sees (HUGEINT becomes
  decimal128(38,0) → Decimal, which hashes differently from BIGINT).
* _canon carries a broad type tag (bool / int / float / Decimal / str /
  bytes / temporal) so an int-on-Spark vs Decimal-on-DuckDB cell is a
  local FAIL even when the numeric values are equal.
"""

from __future__ import annotations

import datetime
import decimal
import math
from collections import Counter

from cl_tagger_batch_processing_spark.sources.tables import FIXTURE_TABLES


def duckdb_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(v):
    # Each scalar is tagged with its broad type class so that numerically
    # equal cells of DIFFERENT width classes (int vs Decimal vs float)
    # compare UNEQUAL — mirroring the driver's type-sensitive value hash.
    if v is None:
        return None
    if isinstance(v, bool):  # before int: bool is an int subclass
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, decimal.Decimal):
        return ("dec", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "NaN")
        if v == 0.0:  # IEEE -0.0 and 0.0 are numerically equal; don't let
            return ("float", "0")  # the sign of zero fail a comparison
        return ("float", f"{v:.9g}")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return ("time", str(v))
    if isinstance(v, bytes):
        return ("bytes", v.hex())
    if isinstance(v, str):
        return ("str", v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _rows_multiset(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_canon(r[i]) for i in order) for r in rows)


def _spark_width(dt) -> str:
    """Broad (kind, width) class of a Spark output type — the granularity
    the driver's Arrow hasher distinguishes."""
    s = dt.simpleString()
    return {
        "tinyint": "int8", "smallint": "int16", "int": "int32",
        "bigint": "int64", "float": "float32", "double": "float64",
        "boolean": "bool", "string": "str", "binary": "bytes",
        "date": "date", "timestamp": "ts", "timestamp_ntz": "ts",
    }.get(s, "decimal" if s.startswith("decimal") else s)


def _arrow_width(t) -> str:
    import pyarrow as pa

    if pa.types.is_int8(t) or pa.types.is_uint8(t):
        return "int8"
    if pa.types.is_int16(t) or pa.types.is_uint16(t):
        return "int16"
    if pa.types.is_int32(t) or pa.types.is_uint32(t):
        return "int32"
    if pa.types.is_int64(t) or pa.types.is_uint64(t):
        return "int64"
    if pa.types.is_float32(t):
        return "float32"
    if pa.types.is_float64(t):
        return "float64"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bytes"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_decimal(t):
        return "decimal"
    return str(t)


def compare_query(
    spark, name: str, sf_dir: str, query_fn=None, sql: str | None = None, recorded=None
):
    """Returns (ok, message). ``recorded`` is the query's result at
    ``sf_dir`` already collected (anything with ``.schema`` and ``.rows``,
    e.g. a registry record entry); given, the query is not built again."""
    from cl_tagger_batch_processing_spark.oracles import ORACLE_SQL
    from cl_tagger_batch_processing_spark.registry import QUERIES

    sql = sql or ORACLE_SQL[name]
    if recorded is None:
        sdf = (query_fn or QUERIES[name])(spark, sf_dir)
        schema, rows = sdf.schema, sdf.collect()
    else:
        schema, rows = recorded.schema, recorded.rows
    spark_cols = [c.lower() for c in schema.fieldNames()]
    spark_rows = [tuple(r) for r in rows]

    con = duckdb_connection(sf_dir)
    # Arrow fetch on purpose (NOT fetchall): the driver hashes through
    # Arrow, where DuckDB HUGEINT surfaces as decimal128 — fetchall would
    # widen it to Python int and hide the class of r12's two driver fails.
    tbl = con.execute(sql).fetch_arrow_table()
    duck_cols = [c.lower() for c in tbl.column_names]
    duck_rows = [tuple(d.values()) for d in tbl.to_pylist()]
    con.close()

    if sorted(spark_cols) != sorted(duck_cols):
        return False, f"schema mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    # Cross-engine WIDTH audit (r13): an int32-on-one-side vs int64-on-the-
    # other column hashes differently under the driver's Arrow serialization
    # even when every value matches — the same class as r12's HUGEINT fails.
    # Zero extra jobs: both schemas are already in hand.
    sw = {f.name.lower(): _spark_width(f.dataType) for f in schema.fields}
    dw = {n.lower(): _arrow_width(f.type) for n, f in zip(tbl.column_names, tbl.schema)}
    width_bad = {
        c: (sw[c], dw[c])
        for c in sw
        if c in dw and sw[c] != dw[c]
        # date32 vs date64 never occurs; int-vs-decimal/float and int-width
        # splits are exactly what we must flag
    }
    if width_bad:
        return False, f"output type-width mismatch (Arrow hash-splits): {width_bad}"
    if len(spark_rows) != len(duck_rows):
        return False, f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    sm = _rows_multiset(spark_cols, spark_rows)
    dm = _rows_multiset(duck_cols, duck_rows)
    if sm != dm:
        only_spark = list((sm - dm).items())[:5]
        only_duck = list((dm - sm).items())[:5]
        return False, (
            f"value mismatch ({sum((sm - dm).values())} rows differ); "
            f"spark-only sample={only_spark}; duck-only sample={only_duck}"
        )
    return True, f"ok ({len(spark_rows)} rows)"
