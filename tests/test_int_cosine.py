"""The quantized cosine is built in one place (``dedup.int_cosine``): no
Spark, an AST scan of the package for hand-written copies."""

from __future__ import annotations

import ast
import os

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cl_tagger_batch_processing_spark",
)


def _calls(node: ast.AST, name: str) -> bool:
    """Whether ``node`` contains a call to a function or method ``name``."""
    return any(
        isinstance(n, ast.Call)
        and (getattr(n.func, "id", None) == name or getattr(n.func, "attr", None) == name)
        for n in ast.walk(node)
    )


def cosine_copies(tree: ast.AST) -> list[tuple[int, str | None]]:
    """(line, enclosing function) of every ``int_dot(...)`` result divided
    by a product of ``sqrt`` terms."""
    found: list[tuple[int, str | None]] = []

    def visit(node: ast.AST, func: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Div)
            and _calls(node.left, "int_dot")
            and isinstance(node.right, ast.BinOp)
            and isinstance(node.right.op, ast.Mult)
            and _calls(node.right, "sqrt")
        ):
            found.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_quantized_cosine_is_built_only_in_int_cosine():
    stray, inside = [], 0
    for root, _, files in os.walk(PKG_DIR):
        for fname in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(root, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for line, func in cosine_copies(tree):
                if func == "int_cosine":
                    inside += 1
                else:
                    stray.append(f"{os.path.relpath(path, PKG_DIR)}:{line} in {func}")
    assert not stray, f"quantized cosine written outside int_cosine: {stray}"
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
