"""End-to-end pipeline tests: scan → decode → score → tag-select → sink,
with the deterministic fake decode + stub scorer (no PIL/onnxruntime)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from cl_tagger_batch_processing_spark import pipeline
from cl_tagger_batch_processing_spark.kernels.preprocess import fake_decode_bytes
from cl_tagger_batch_processing_spark.kernels.scoring import StubScorer
from cl_tagger_batch_processing_spark.operators.tagging import demo_tag_dim


@pytest.fixture()
def image_dir(tmp_path):
    d = tmp_path / "imgs"
    d.mkdir()
    for i in range(6):
        (d / f"img_{i}.jpg").write_bytes(f"payload-{i}".encode() * 10)
    (d / "notes.txt").write_bytes(b"not an image")
    (d / "broken.png").write_bytes(b"xx")  # fake decode rejects <4 bytes
    return str(d)


def test_tag_images_end_to_end(spark, image_dir):
    result = pipeline.tag_images(
        spark, image_dir, demo_tag_dim(spark), scorer=StubScorer(num_tags=64)
    ).collect()
    by_name = {os.path.basename(r.path): r for r in result}
    assert len(by_name) == 7  # 6 good jpgs + 1 broken png; .txt excluded (F1)
    ok = [r for r in result if r.status == "ok"]
    err = [r for r in result if r.status == "error"]
    assert len(ok) == 6 and len(err) == 1
    assert by_name["broken.png"].status == "error"
    assert "ValueError" in by_name["broken.png"].error
    assert by_name["broken.png"].tags_text is None
    # rating top-1 is unconditional -> every ok image has at least one tag
    assert all(r.tags_text for r in ok)


def test_tag_images_deterministic(spark, image_dir):
    kwargs = dict(tag_dim=demo_tag_dim(spark), scorer=StubScorer(num_tags=64))
    a = {r.path: r.tags_text for r in pipeline.tag_images(spark, image_dir, **kwargs).collect()}
    b = {r.path: r.tags_text for r in pipeline.tag_images(spark, image_dir, **kwargs).collect()}
    assert a == b


def test_batch_size_does_not_change_results(spark, image_dir):
    dim = demo_tag_dim(spark)
    small = {
        r.path: r.tags_text
        for r in pipeline.tag_images(spark, image_dir, dim, batch_size=2).collect()
    }
    big = {
        r.path: r.tags_text
        for r in pipeline.tag_images(spark, image_dir, dim, batch_size=64).collect()
    }
    assert small == big


def test_summarize_counters(spark, image_dir):
    result = pipeline.tag_images(spark, image_dir, demo_tag_dim(spark))
    counts = {r.status: r.n for r in pipeline.summarize(result).collect()}
    assert counts == {"ok": 6, "error": 1}


def test_cli_sidecars_match_library(spark, image_dir, tmp_path, capsys):
    """The `python -m` CLI (reference main() surface) must produce sidecar
    files identical to the library path write_sidecar_txt."""
    from cl_tagger_batch_processing_spark.__main__ import main
    from cl_tagger_batch_processing_spark.sources.sinks import write_sidecar_txt

    cli_out = tmp_path / "cli_tags"
    rc = main(["--folder", image_dir, "--out-dir", str(cli_out)])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "success: 6, failed: 1" in printed  # A3 counters, appV2.py:190

    lib_out = tmp_path / "lib_tags"
    result = pipeline.tag_images(spark, image_dir, demo_tag_dim(spark))
    write_sidecar_txt(result, str(lib_out))

    cli_files = {p.name: p.read_text() for p in cli_out.iterdir()}
    lib_files = {p.name: p.read_text() for p in lib_out.iterdir()}
    assert cli_files == lib_files
    assert len(cli_files) == 7  # 6 ok + 1 error row (empty sidecar)


def test_cli_requires_a_sink(capsys):
    from cl_tagger_batch_processing_spark.__main__ import main

    assert main(["--folder", "/nonexistent"]) == 2


def test_cli_empty_folder_aborts(spark, tmp_path):
    from cl_tagger_batch_processing_spark.__main__ import main

    empty = tmp_path / "empty"
    empty.mkdir()
    rc = main(["--folder", str(empty), "--out-dir", str(tmp_path / "out")])
    assert rc == 1  # F5 empty-input abort, appV2.py:139-141


def test_observe_status_counters(spark, image_dir):
    result = pipeline.tag_images(spark, image_dir, demo_tag_dim(spark))
    observed, obs = pipeline.observe_status(result)
    observed.write.format("noop").mode("overwrite").save()
    assert obs.get == {"n_total": 7, "n_ok": 6, "n_error": 1}


def test_score_images_prob_range_and_width(spark, image_dir):
    from cl_tagger_batch_processing_spark.sources.images import scan_images

    scored = pipeline.score_images(scan_images(spark, image_dir), scorer=StubScorer(num_tags=64))
    rows = scored.where("status = 'ok'").collect()
    for r in rows:
        assert len(r.probs) == 64
        assert all(0.0 <= p <= 1.0 for p in r.probs)


def test_scorer_batch_failure_marks_only_the_poisoned_row(spark, tmp_path):
    """A scorer call that raises on a whole batch costs only the row that
    makes it raise: the batch is scored again row by row."""
    from cl_tagger_batch_processing_spark.sources.images import scan_images

    d = tmp_path / "imgs"
    d.mkdir()
    for i in range(6):
        (d / f"img_{i}.jpg").write_bytes(f"payload-{i}".encode() * 10)
    poison = -7.0

    def decode(content: bytes) -> np.ndarray:
        tensor = fake_decode_bytes(content)
        return np.full_like(tensor, poison) if content.startswith(b"payload-3") else tensor

    class RowwiseScorer(StubScorer):
        # one tensor per matmul, so a row's float32 probs do not depend on
        # which rows share its batch — the clean run is then an exact twin
        def __init__(self, poisoned: bool):
            super().__init__()
            self.poisoned = poisoned

        def score_batch(self, tensors):
            if self.poisoned and (tensors == poison).all(axis=(1, 2, 3)).any():
                raise RuntimeError("poisoned tensor in batch")
            rows = [super(RowwiseScorer, self).score_batch(t[None]) for t in tensors]
            return np.concatenate(rows)

    images = scan_images(spark, str(d)).coalesce(1)  # one batch holds all six

    def run(poisoned: bool) -> dict:
        scorer = RowwiseScorer(poisoned)
        return {r.path: r for r in pipeline.score_images(images, scorer, decode).collect()}

    clean, got = run(False), run(True)
    errors = {os.path.basename(p): r.error for p, r in got.items() if r.status == "error"}
    assert errors == {"img_3.jpg": "RuntimeError: poisoned tensor in batch"}
    assert got.keys() == clean.keys()
    for path, row in got.items():
        if row.status == "ok":
            assert row.probs == clean[path].probs
        else:
            assert row.probs is None


def test_tag_images_dimension_longer_than_score_vector(spark, image_dir):
    # F4 in the array form: the 62-entry demo dimension against a 40-tag
    # scorer — indices 40..61 read past the end of every probs vector, which
    # must neither throw (ANSI) nor yield a tag.
    from cl_tagger_batch_processing_spark.sources.images import scan_images

    from .test_tagging_properties import reference_get_tags

    scorer = StubScorer(num_tags=40)
    dim = demo_tag_dim(spark)
    names = {r.tag_idx: (r.tag_name, r.category) for r in dim.collect()}
    assert max(names) >= 40
    probs = {
        r.path: r.probs
        for r in pipeline.score_images(scan_images(spark, image_dir), scorer=scorer).collect()
        if r.status == "ok"
    }
    got = {
        r.path: r.tags_text
        for r in pipeline.tag_images(spark, image_dir, dim, scorer=scorer).collect()
        if r.status == "ok"
    }
    assert len(got) == 6
    # the transcription skips indices the vector lacks, as the reference does
    want = {
        path: reference_get_tags(dict(enumerate(p)), names, 0.55, 0.60)
        for path, p in probs.items()
    }
    assert got == want
