"""``install_zip_guard``: a PySpark Python worker re-reads a zip archive's
directory only when the archive has changed.

The guard's semantics run in a subprocess, so this pytest process is never
patched. The worker tests run real stages, and unpickle every function the
package hands to Spark's Python runner in a fresh interpreter marked as a
worker."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipimport

import pyarrow as pa
import pytest

import cl_tagger_batch_processing_spark as pkg

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARDED = sys.version_info < (3, 13)


def _run(code: str, stdin: bytes = b"") -> str:
    proc = subprocess.run(
        [sys.executable, "-c", code],
        input=stdin,
        capture_output=True,
        cwd=ROOT,
        env={**os.environ, "PYTHONPATH": ROOT},
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    return proc.stdout.decode()


GUARD_SEMANTICS = r"""
import importlib, os, sys, tempfile, zipfile, zipimport
import cl_tagger_batch_processing_spark as pkg

original = zipimport.zipimporter.invalidate_caches
assert not hasattr(original, "__wrapped__"), "installed outside a worker"
real = sys.version_info
sys.version_info = (3, 13, 0)
pkg.install_zip_guard()
sys.version_info = real
assert zipimport.zipimporter.invalidate_caches is original, "not a no-op on 3.13"
pkg.install_zip_guard()
guard = zipimport.zipimporter.invalidate_caches
pkg.install_zip_guard()
assert zipimport.zipimporter.invalidate_caches is guard, "not idempotent"
assert guard.__wrapped__ is original

def write(path, src):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("m.py", src)

def fresh_v():
    sys.modules.pop("m", None)
    return importlib.import_module("m").V

d = tempfile.mkdtemp()
archive = os.path.join(d, "a.zip")
write(archive, "V = 1\n")
sys.path.insert(0, archive)
assert fresh_v() == 1
cache = zipimport._zip_directory_cache
importer = sys.path_importer_cache[archive]

# An importer with no recorded key re-reads once, then keeps its directory.
first = cache[archive]
importlib.invalidate_caches()
assert cache[archive] is not first
kept = cache[archive]
importlib.invalidate_caches()
importlib.invalidate_caches()
assert cache[archive] is kept, "unchanged archive was re-read"

# Rewritten in place (same inode, a different size).
write(archive, "V = 2  # rewritten in place\n")
importlib.invalidate_caches()
assert cache[archive] is not kept
assert fresh_v() == 2

# Replaced by rename: the same size and mtime, only the inode differs.
st = os.stat(archive)
other = os.path.join(d, "b.zip")
write(other, "V = 3  # replaced by rename\n")
assert os.stat(other).st_size == st.st_size
os.utime(other, ns=(st.st_atime_ns, st.st_mtime_ns))
os.replace(other, archive)
kept = cache[archive]
importlib.invalidate_caches()
assert cache[archive] is not kept
assert fresh_v() == 3

# Deleted: the stat fails and the original re-read runs, which drops the
# directory as it always has.
os.remove(archive)
importlib.invalidate_caches()
assert archive not in cache
assert importer._files == {}
print("ok")
"""


@pytest.mark.skipif(not GUARDED, reason="CPython >= 3.13 re-reads lazily already")
def test_guard_rereads_only_changed_archives():
    assert _run(GUARD_SEMANTICS).strip() == "ok"


def test_guard_installed_in_workers_not_in_driver(spark):
    from cl_tagger_batch_processing_spark.kernels.preprocess import fake_decode_bytes
    from cl_tagger_batch_processing_spark.pipeline import score_images

    images = spark.createDataFrame(
        [(f"{i}.png", b"payload" * 8) for i in range(8)], "path string, content binary"
    ).repartition(4)
    assert score_images(images, decode=fake_decode_bytes).count() == 8

    def probe(batches):
        for _ in batches:
            pass
        cache = zipimport._zip_directory_cache
        archive = next((a for a in cache if a.endswith("pyspark.zip")), "")
        # A worker that ran no package task yet records its keys here.
        importlib.invalidate_caches()
        kept = cache.get(archive)
        importlib.invalidate_caches()
        # Naming ``pkg`` makes unpickling the probe import the package, as
        # unpickling any function the package hands to Spark does.
        yield pa.RecordBatch.from_pydict({
            "package": [pkg.__name__],
            "archive": [archive],
            "guarded": [hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")],
            "kept": [kept is not None and cache.get(archive) is kept],
        })

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInArrow(probe, "package string, archive string, guarded boolean, kept boolean")
        .collect()
    )
    assert len(rows) == 4
    assert all(r.archive for r in rows), "workers import no pyspark.zip"
    assert all(r.guarded == GUARDED for r in rows)
    if GUARDED:
        assert all(r.kept for r in rows)
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


UNPICKLE_AS_WORKER = r"""
import pickle, sys, zipimport
import pyspark.core.broadcast
from pyspark.core.files import SparkFiles

class AnyBroadcast(dict):
    # A worker receives the task's broadcasts before its function.
    def __contains__(self, bid):
        return True

    def __missing__(self, bid):
        return None

pyspark.core.broadcast._broadcastRegistry = AnyBroadcast()
SparkFiles._is_running_on_worker = True
assert "cl_tagger_batch_processing_spark" not in sys.modules
pickle.loads(sys.stdin.buffer.read())
print("cl_tagger_batch_processing_spark" in sys.modules,
      hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__"))
"""


@pytest.fixture()
def handed(spark, monkeypatch):
    """Records every function given to ``mapInArrow``, ``mapInPandas``,
    ``applyInPandas`` or ``pandas_udf`` while the fixture is live."""
    from pyspark.sql import functions as F

    seen: list = []
    df = spark.range(1)
    for cls, name in [
        (type(df), "mapInArrow"),
        (type(df), "mapInPandas"),
        (type(df.groupBy("id")), "applyInPandas"),
    ]:
        original = getattr(cls, name)

        def record(self, func, *args, _original=original, **kwargs):
            seen.append(func)
            return _original(self, func, *args, **kwargs)

        monkeypatch.setattr(cls, name, record)
    pandas_udf = F.pandas_udf

    def record_udf(f=None, *args, **kwargs):
        seen.append(f)
        return pandas_udf(f, *args, **kwargs)

    monkeypatch.setattr(F, "pandas_udf", record_udf)
    return seen


def test_every_python_runner_function_imports_the_package(spark, sf_dir, tmp_path, handed):
    from pyspark import cloudpickle

    from cl_tagger_batch_processing_spark.operators import dedup, multimodal, similarity, tagging
    from cl_tagger_batch_processing_spark.pipeline import score_images
    from cl_tagger_batch_processing_spark.sources.sinks import write_sidecar_txt

    images = spark.createDataFrame([("a.png", b"payload")], "path string, content binary")
    tagged = spark.createDataFrame([("a.png", "x")], "path string, tags_text string")
    scored = spark.createDataFrame([(1, [0.5, 0.9])], "image_id bigint, probs array<float>")
    selector = tagging.fold_tag_dim(tagging.demo_tag_dim(spark))
    sites = {
        "pipeline.score_images": lambda: score_images(images),
        "sinks.write_sidecar_txt": lambda: write_sidecar_txt(tagged, str(tmp_path)),
        "tagging.select_tags_arrow": lambda: tagging.select_tags_arrow(scored, selector),
        "tagging.explode_tags": lambda: tagging.explode_tags(scored, selector, True),
        "multimodal.mm_byte_histogram": lambda: multimodal.mm_byte_histogram(spark, sf_dir),
        "multimodal.mm_frame_sample": lambda: multimodal.mm_frame_sample(spark, sf_dir),
        "similarity.dedup_semantic": lambda: similarity.dedup_semantic(spark, sf_dir),
        "similarity.outer_product_stats": lambda: similarity.outer_product_stats(
            dedup.quantized_embeddings(spark, sf_dir)
        ),
        "similarity.embedding_intrinsic_dim": lambda: similarity.embedding_intrinsic_dim(
            spark, sf_dir
        ),
        "dedup.simhash_signatures": lambda: dedup.simhash_signatures(spark, sf_dir),
    }
    for site, build in sites.items():
        handed.clear()
        build()
        assert handed, f"{site} handed no function to Spark"
        for func in handed:
            out = _run(UNPICKLE_AS_WORKER, cloudpickle.dumps(func)).split()
            assert out[0] == "True", f"{site}: unpickling {func!r} imports no package module"
            assert out[1] == str(GUARDED), f"{site}: guard state {out[1]} in the worker"
