"""Each exact rule shared across operators is built in one place: the
quantized cosine (``dedup.int_cosine``), the whitespace tokenizer
(``quality.tokens``) and the quality keep-best aggregate
(``dedup.quality_keep_rule``). No Spark: an AST scan of the package for
hand-written copies."""

from __future__ import annotations

import ast
import os

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cl_tagger_batch_processing_spark",
)


def _is_call(node: ast.AST, name: str) -> bool:
    """Whether ``node`` is a call to a function or method ``name``."""
    return isinstance(node, ast.Call) and name in (
        getattr(node.func, "id", None),
        getattr(node.func, "attr", None),
    )


def _calls(node: ast.AST, name: str) -> bool:
    """Whether ``node`` contains a call to a function or method ``name``."""
    return any(_is_call(n, name) for n in ast.walk(node))


def _find(tree: ast.AST, match) -> list[tuple[int, str | None]]:
    """(line, enclosing function) of every node ``match`` accepts."""
    found: list[tuple[int, str | None]] = []

    def visit(node: ast.AST, func: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if match(node):
            found.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def cosine_copies(tree: ast.AST) -> list[tuple[int, str | None]]:
    """(line, enclosing function) of every ``int_dot(...)`` result divided
    by a product of ``sqrt`` terms."""
    return _find(
        tree,
        lambda n: isinstance(n, ast.BinOp)
        and isinstance(n.op, ast.Div)
        and _calls(n.left, "int_dot")
        and isinstance(n.right, ast.BinOp)
        and isinstance(n.right.op, ast.Mult)
        and _calls(n.right, "sqrt"),
    )


def split_on_space_copies(tree: ast.AST) -> list[tuple[int, str | None]]:
    """(line, enclosing function) of every ``split(<"text" or
    col("text")>, " ")``."""

    def is_text(arg: ast.expr) -> bool:
        if _is_call(arg, "col") and len(arg.args) == 1:
            arg = arg.args[0]
        return isinstance(arg, ast.Constant) and arg.value == "text"

    return _find(
        tree,
        lambda n: _is_call(n, "split")
        and len(n.args) == 2
        and is_text(n.args[0])
        and isinstance(n.args[1], ast.Constant)
        and n.args[1].value == " ",
    )


def keep_best_copies(tree: ast.AST) -> list[tuple[int, str | None]]:
    """(line, enclosing function) of every ``max(struct(...))`` that
    carries a negated id aliased ``neg_id``."""

    def aliases_neg_id(node: ast.AST) -> bool:
        return any(
            _is_call(n, "alias")
            and any(isinstance(a, ast.Constant) and a.value == "neg_id" for a in n.args)
            for n in ast.walk(node)
        )

    return _find(
        tree,
        lambda n: _is_call(n, "max")
        and len(n.args) == 1
        and _is_call(n.args[0], "struct")
        and aliases_neg_id(n.args[0]),
    )


def _package_sites(finder, home: str) -> tuple[list[str], int]:
    """(sites outside ``home``, number of sites inside it) of ``finder``
    over every package module."""
    stray, inside = [], 0
    for root, _, files in os.walk(PKG_DIR):
        for fname in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(root, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for line, func in finder(tree):
                if func == home:
                    inside += 1
                else:
                    stray.append(f"{os.path.relpath(path, PKG_DIR)}:{line} in {func}")
    return stray, inside


def test_quantized_cosine_is_built_only_in_int_cosine():
    stray, inside = _package_sites(cosine_copies, "int_cosine")
    assert not stray, f"quantized cosine written outside int_cosine: {stray}"
    assert inside == 1


def test_whitespace_tokenizer_is_written_only_in_tokens():
    stray, _ = _package_sites(split_on_space_copies, "tokens")
    assert not stray, f"split(text, ' ') written outside quality.tokens: {stray}"
    with open(os.path.join(PKG_DIR, "operators", "quality.py")) as f:
        assert 'return F.split(text_col, " ")' in f.read()


def test_quality_keep_rule_is_written_only_once():
    stray, inside = _package_sites(keep_best_copies, "quality_keep_rule")
    assert not stray, f"max(struct(q, -doc_id)) written outside quality_keep_rule: {stray}"
    assert inside == 1


def test_planted_cosine_copy_is_found():
    src = (
        "def score():\n"
        "    cos = int_dot(F.col('a'), F.col('b')).cast('double') / (\n"
        "        F.sqrt(F.col('na').cast('double')) * F.sqrt(F.col('nb').cast('double'))\n"
        "    )\n"
        "def int_cosine(a, na, b, nb):\n"
        "    return int_dot(a, b).cast('double') / (F.sqrt(na) * F.sqrt(nb))\n"
        "def norm_only(x, n):\n"
        "    return F.col(x).cast('double') / F.sqrt(F.col(n).cast('double'))\n"
    )
    assert cosine_copies(ast.parse(src)) == [(2, "score"), (6, "int_cosine")]


def test_planted_tokenizer_copy_is_found():
    src = (
        "def n_tokens(docs):\n"
        "    return docs.select(F.size(F.split(F.col('text'), ' ')))\n"
        "def tokens(text_col):\n"
        "    return F.split(text_col, ' ')\n"
        "def words(docs):\n"
        "    return docs.select(F.split('text', ' ').alias('t'))\n"
        "def chars(docs):\n"
        "    return docs.select(F.split('text', ''), F.split('url', ' '))\n"
    )
    assert split_on_space_copies(ast.parse(src)) == [(2, "n_tokens"), (6, "words")]


def test_planted_keep_best_copy_is_found():
    src = (
        "def keep_best(scored):\n"
        "    best = F.max(F.struct(F.col('q'), (-F.col('doc_id')).alias('neg_id')))\n"
        "    return scored.groupBy('k').agg(best.alias('b'))\n"
        "def keyframe(frames):\n"
        "    return F.max(F.struct(F.col('s'), (-F.col('frame_idx')).alias('nfi')))\n"
    )
    assert keep_best_copies(ast.parse(src)) == [(2, "keep_best")]
