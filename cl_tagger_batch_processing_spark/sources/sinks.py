"""Result sinks (the reference's S3, appV2.py:178-179).

Two surfaces (SURVEY.md §2.1 S3):

* ``write_sidecar_txt`` — byte-compatible behavior: one ``<basename>.txt``
  per image containing the tag string. Runs on executors as a
  ``mapInArrow`` stage that yields one count per partition; the driver
  sums them from a plain ``collect()`` (no rows come back, and no
  aggregate, whose exchange would run as a second job under AQE). The SQL
  path matters beyond style: plan-attached ``Observation`` metrics only
  fire for actions that run through the SQL execution engine, and the
  previous ``DataFrame.foreachPartition`` implementation (an RDD-path
  action) bypassed that listener — ``Observation.get`` after a
  sidecar-only run blocked forever. An output directory must be given — unlike the
  reference, the engine never writes next to read-only inputs.
* ``write_tags_parquet`` — the idiomatic sink: one partitioned columnar
  table of (path, tags_text, status) instead of N tiny files. This is what
  survives 100 TB — millions of sidecar files would crush any filesystem
  metadata service.
"""

from __future__ import annotations

import os
from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame

# POSIX mount-point prefixes that conventionally expose a filesystem shared
# by every executor (NFS/FUSE mounts) — the ONLY kind of path this sink can
# write on a multi-node cluster, because ``_write_batches`` uses plain
# ``open()``. URI-scheme paths (hdfs://, s3a://, ...) are NOT writable by
# open() at all — those belong to ``write_tags_parquet``, which goes through
# Hadoop's filesystem layer.
SHARED_MOUNT_PREFIXES = ("/mnt/", "/nfs/", "/shared/", "/dbfs/", "/gcs/")
_URI_SCHEMES = ("hdfs:", "s3:", "s3a:", "s3n:", "gs:", "abfs:", "abfss:",
                "wasb:", "wasbs:", "dbfs:", "file:")


def _require_shared_out_dir(tagged: DataFrame, out_dir: str) -> None:
    """On a non-local master, refuse an out_dir the plain-``open()`` sidecar
    writer cannot safely use: URI-scheme paths are never writable by open()
    (they'd be treated as odd relative LOCAL directory names on each
    executor), and a bare node-local path gives each machine its own
    partial set of sidecars — silently, which is worse than failing. Only
    POSIX shared-mount prefixes pass. Local masters (local[*], the test
    bed) have one filesystem and always pass."""
    if any(out_dir.startswith(s) for s in _URI_SCHEMES):
        raise ValueError(
            f"write_sidecar_txt: out_dir {out_dir!r} is a URI-scheme path, "
            "which the per-file open()-based sidecar writer cannot write on "
            "ANY master — use write_tags_parquet for object stores/HDFS "
            "(it goes through Hadoop's filesystem layer), or mount the "
            "store as a POSIX path (/mnt/..., /dbfs/...)."
        )
    master = tagged.sparkSession.conf.get("spark.master", "local")
    if master.startswith("local"):
        return
    if not out_dir.startswith(SHARED_MOUNT_PREFIXES):
        raise ValueError(
            f"write_sidecar_txt: out_dir {out_dir!r} does not look like a "
            f"shared POSIX mount (prefixes: {SHARED_MOUNT_PREFIXES}) but "
            f"master is {master!r} — each executor would write its own "
            "partial set of sidecar files to its local disk. Point out_dir "
            "at a shared mount, or use write_tags_parquet (the scale-correct "
            "sink)."
        )


def _write_batches(out_dir: str, batches):
    """The sidecar writer of one task. Module-level, so it is pickled by
    reference and unpickling it in a worker imports the package."""
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    for batch in batches:
        for path, text in zip(*batch.to_pydict().values()):
            base = os.path.splitext(os.path.basename(path))[0]  # appV2.py:178
            with open(os.path.join(out_dir, base + ".txt"), "w", encoding="utf-8") as f:
                f.write(text or "")
            n += 1
    yield pa.RecordBatch.from_pydict({"n_written": pa.array([n], pa.int64())})


def write_sidecar_txt(tagged: DataFrame, out_dir: str) -> int:
    """Write one ``<basename>.txt`` per row of (path, tags_text).

    Returns the number of sidecars written. Idempotent under task retry
    (same path → same bytes), so speculative/retried tasks are safe.
    ``out_dir`` must be a shared filesystem when running against a
    multi-node master (checked; see ``_require_shared_out_dir``).
    """
    _require_shared_out_dir(tagged, out_dir)
    written = tagged.select("path", "tags_text").mapInArrow(
        partial(_write_batches, out_dir), schema="n_written long"
    )
    # SQL action (fires any upstream Observation); one long per partition.
    return sum(row.n_written for row in written.collect())


def write_tags_parquet(tagged: DataFrame, out_path: str, mode: str = "overwrite") -> None:
    tagged.write.mode(mode).parquet(out_path)
