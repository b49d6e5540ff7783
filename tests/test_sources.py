"""Source/sink tests: S1 scan + F1 filter, S2 dual-layout mapping, S3 sinks."""

from __future__ import annotations

import json
import os

from cl_tagger_batch_processing_spark.sources.images import scan_images
from cl_tagger_batch_processing_spark.sources.sinks import write_sidecar_txt
from cl_tagger_batch_processing_spark.sources.tag_mapping import (
    load_tag_dim,
    normalize_tag_mapping,
)


def _touch(path: str, content: bytes = b"img-bytes") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(content)


def test_scan_extension_filter_and_case(spark, tmp_path):
    d = str(tmp_path)
    names = ["a.jpg", "b.PNG", "c.txt", "d.webp", "e.jpeg.bak", "f.GIF"]
    # mixed-case suffixes: the reference lower-cases before matching
    names += ["c.Jpg", "d.pNg"]
    for name in names:
        _touch(os.path.join(d, name))
    got = {os.path.basename(r.path) for r in scan_images(spark, d).collect()}
    assert got == {"a.jpg", "b.PNG", "d.webp", "f.GIF", "c.Jpg", "d.pNg"}


def test_scan_recursive_flag(spark, tmp_path):
    d = str(tmp_path)
    _touch(os.path.join(d, "top.jpg"))
    _touch(os.path.join(d, "sub", "nested.png"))
    flat = {os.path.basename(r.path) for r in scan_images(spark, d, recursive=False).collect()}
    deep = {os.path.basename(r.path) for r in scan_images(spark, d, recursive=True).collect()}
    assert flat == {"top.jpg"}
    assert deep == {"top.jpg", "nested.png"}


def test_tag_mapping_layout_a():
    data = {
        "idx_to_tag": {"0": "cat_girl", "2": "safe", "5": "weird"},
        "tag_to_category": {"cat_girl": "general", "safe": "rating", "weird": "UNKNOWN_CAT"},
    }
    rows = normalize_tag_mapping(data)
    # unknown category -> dropped (appV2.py:68); gap at idx 1 preserved as absence
    assert rows == [(0, "cat_girl", "general"), (2, "safe", "rating")]


def test_tag_mapping_layout_b_and_default_category():
    data = {
        "0": {"tag": "t0", "category": "Meta"},
        "1": {"tag": "t1", "category": "quality"},
    }
    rows = normalize_tag_mapping(data)
    assert rows == [(0, "t0", "meta"), (1, "t1", "quality")]
    # a tag missing from tag_to_category defaults to general (appV2.py:67)
    data_a = {"idx_to_tag": {"0": "orphan"}, "tag_to_category": {}}
    assert normalize_tag_mapping(data_a) == [(0, "orphan", "general")]


def test_load_tag_dim_roundtrip(spark, tmp_path):
    p = tmp_path / "mapping.json"
    p.write_text(json.dumps({"0": {"tag": "a_b", "category": "general"}}))
    df = load_tag_dim(spark, str(p))
    assert [tuple(r) for r in df.collect()] == [(0, "a_b", "general")]


def test_sidecar_sink(spark, tmp_path):
    df = spark.createDataFrame(
        [("/data/x/img1.jpg", "tag a, tag b"), ("/data/x/img2.png", "")],
        "path string, tags_text string",
    )
    out = str(tmp_path / "out")
    write_sidecar_txt(df, out)
    assert sorted(os.listdir(out)) == ["img1.txt", "img2.txt"]
    assert open(os.path.join(out, "img1.txt")).read() == "tag a, tag b"
    assert open(os.path.join(out, "img2.txt")).read() == ""


def test_sidecar_shared_fs_guard():
    """On a non-local master the sink must refuse an executor-local out_dir
    (each node would write its own partial sidecar set — silent data
    fan-out); shared-FS prefixes pass."""
    import pytest

    from cl_tagger_batch_processing_spark.sources.sinks import _require_shared_out_dir

    class _Conf:
        def __init__(self, master):
            self._m = master

        def get(self, key, default=None):
            return self._m if key == "spark.master" else default

    class _Fake:
        def __init__(self, master):
            self.sparkSession = self
            self.conf = _Conf(master)

    # local master: any POSIX path is the one shared filesystem
    _require_shared_out_dir(_Fake("local[32]"), "/tmp/out")
    # cluster master + node-local path: refuse
    with pytest.raises(ValueError, match="shared POSIX mount"):
        _require_shared_out_dir(_Fake("spark://host:7077"), "/tmp/out")
    # URI schemes are unwritable by plain open() on ANY master, because
    # open() would treat them as weird relative local dirs on each
    # executor (use write_tags_parquet instead)
    for uri in ["hdfs:///ns/out", "s3a://bucket/out", "dbfs:/out"]:
        for master in ["local[4]", "yarn"]:
            with pytest.raises(ValueError, match="URI-scheme"):
                _require_shared_out_dir(_Fake(master), uri)
    # cluster master + shared POSIX mounts: pass
    for ok in ["/mnt/shared/out", "/dbfs/out", "/nfs/corpus/out"]:
        _require_shared_out_dir(_Fake("yarn"), ok)


def test_two_loads_of_one_table_self_join_on_columns(spark, sf_dir):
    # The table-plan memo must not hand the same DataFrame to both sides
    # of a self-join: identical column ids make `a.col == b.col` ambiguous.
    from cl_tagger_batch_processing_spark.sources.tables import load_table

    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    joined = a.join(b, a.o_custkey == b.o_orderkey)
    fresh_a = spark.read.parquet(f"{sf_dir}/orders.parquet")
    fresh_b = spark.read.parquet(f"{sf_dir}/orders.parquet")
    want = fresh_a.join(fresh_b, fresh_a.o_custkey == fresh_b.o_orderkey).count()
    assert want > 0
    assert joined.count() == want
