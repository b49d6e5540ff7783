"""The one session memo (``checkpointing.session_memo``), without Spark,
and the rule that every package memo goes through it."""

from __future__ import annotations

import ast
import os
import re

from cl_tagger_batch_processing_spark.checkpointing import (
    CHECKPOINT_MODE_CONF,
    session_memo,
)

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cl_tagger_batch_processing_spark",
)
# The scorer's per-worker ONNX handle: executor-side, no Spark session.
NOT_A_SESSION_MEMO = {"_SESSION_CACHE"}


class FakeSession:
    def __init__(self, app_id: str, mode: str | None = None) -> None:
        self.sparkContext = type("FakeContext", (), {"applicationId": app_id})()
        self.conf = {} if mode is None else {CHECKPOINT_MODE_CONF: mode}


class GetCountingDict(dict):
    """The shape of the benchmarks' traced memos: a dict subclass that
    counts ``.get`` hits."""

    hits = 0

    def get(self, key, default=None):
        val = super().get(key, default)
        self.hits += val is not None
        return val


def _memo(cache, spark, key, builds):
    def build():
        builds.append(key)
        return object()

    return session_memo(cache, spark, key, build)


def test_second_call_returns_the_same_object_and_builds_once_per_key():
    cache, builds, spark = {}, [], FakeSession("app-1")
    first = _memo(cache, spark, ("sf", 1), builds)
    assert _memo(cache, spark, ("sf", 1), builds) is first
    other = _memo(cache, spark, ("sf", 2), builds)
    assert other is not first
    assert builds == [("sf", 1), ("sf", 2)]
    assert set(cache) == {("app-1", "local", "sf", 1), ("app-1", "local", "sf", 2)}


def test_other_applications_entries_are_evicted():
    cache, builds = {}, []
    old = _memo(cache, FakeSession("app-1"), ("sf",), builds)
    new = _memo(cache, FakeSession("app-2"), ("sf",), builds)
    assert new is not old
    assert list(cache) == [("app-2", "local", "sf")]


def test_checkpoint_mode_is_part_of_the_key():
    cache, builds = {}, []
    local = _memo(cache, FakeSession("app-1", "local"), ("sf",), builds)
    reliable = _memo(cache, FakeSession("app-1", "reliable"), ("sf",), builds)
    assert reliable is not local
    assert _memo(cache, FakeSession("app-1"), ("sf",), builds) is local  # default mode
    assert len(builds) == 2


def test_works_on_a_get_counting_dict_subclass():
    cache, builds, spark = GetCountingDict(), [], FakeSession("app-1")
    first = _memo(cache, spark, ("sf",), builds)
    assert _memo(cache, spark, ("sf",), builds) is first
    assert (cache.hits, len(builds)) == (1, 1)


def test_package_memos_are_read_and_written_only_through_session_memo():
    """A ``_*CACHE`` name appears where it is declared (a module-level
    assignment) and as the first argument of ``session_memo``, nowhere
    else: a hand-written lookup or store would bypass the key rule."""
    stray, memo_calls = [], 0
    for root, _, files in os.walk(PKG_DIR):
        for fname in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(root, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            allowed = set()
            for node in tree.body:
                if isinstance(node, (ast.Assign, ast.AnnAssign)):
                    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                    allowed.update(id(t) for t in targets)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == "session_memo"
                    and node.args
                ):
                    allowed.add(id(node.args[0]))
                    memo_calls += 1
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Name)
                    and re.fullmatch(r"_[A-Z0-9_]*CACHE", node.id)
                    and node.id not in NOT_A_SESSION_MEMO
                    and id(node) not in allowed
                ):
                    stray.append(f"{os.path.relpath(path, PKG_DIR)}:{node.lineno} {node.id}")
    assert not stray, f"memo used outside session_memo: {stray}"
    # the twelve package memos: table plans plus eleven operator memos
    assert memo_calls == 12
