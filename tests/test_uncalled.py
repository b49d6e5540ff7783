"""Every top-level function, class and UPPER_CASE constant of the package
has a caller.

A definition counts as called when package code, ``__spark_entry__.py``,
``bench.py``, ``tools/`` or ``perfbench/`` (its tests excluded) names it:
by a bare name inside its own module (outside its own body), through a
``from module import name``, or as ``module.name`` on an imported module.
Tests are not callers: code that only a test reaches is dead weight."""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "cl_tagger_batch_processing_spark"
CONSTANT = re.compile(r"_?[A-Z][A-Z0-9_]*")

# (module, name) -> why it may stay without a caller. A name of "*"
# exempts every definition of the module.
UNCALLED_OK = {
    (f"{PKG}.pipeline", "summarize"): (
        "public A3 API: the reference's success/failure counters for callers "
        "that want them as a DataFrame instead of an Observation"
    ),
    (f"{PKG}.plans.inspect", "*"): (
        "plan-inspection helpers kept for the plan tests and for ad-hoc use"
    ),
    ("__spark_entry__", "entry"): "driver contract: the flagship smoke query",
}


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _sources() -> dict[str, str]:
    """Module name -> path for the walked and the calling files."""
    paths = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
    for top in (PKG, "tools", "perfbench"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, top)):
            paths += [
                os.path.join(dirpath, f)
                for f in files
                if f.endswith(".py") and not f.startswith("test_")
            ]
    return {_module_name(p): p for p in sorted(paths)}


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read())


def _resolve(module: str, is_package: bool, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    parts = module.split(".")
    base = parts if is_package else parts[:-1]
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _references(module: str, path: str, modules: set[str]) -> set[tuple[str, str]]:
    tree = _parse(path)
    is_package = path.endswith("__init__.py")
    refs: set[tuple[str, str]] = set()
    aliases: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    aliases[a.asname] = a.name
                else:
                    aliases[a.name.split(".")[0]] = a.name.split(".")[0]
        elif isinstance(node, ast.ImportFrom):
            source = _resolve(module, is_package, node)
            for a in node.names:
                if f"{source}.{a.name}" in modules:
                    aliases[a.asname or a.name] = f"{source}.{a.name}"
                else:
                    refs.add((source, a.name))
    # A module's own body is not a caller of itself.
    own_bodies = {
        id(n): n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.ClassDef))
    }

    def visit(node: ast.AST, inside: str | None) -> None:
        inside = own_bodies.get(id(node), inside)
        # Loads only: a constant's own assignment target is not a caller.
        if (
            isinstance(node, ast.Name)
            and isinstance(node.ctx, ast.Load)
            and node.id != inside
        ):
            refs.add((module, node.id))
        elif isinstance(node, ast.Attribute):
            dotted, base = [node.attr], node.value
            while isinstance(base, ast.Attribute):
                dotted.append(base.attr)
                base = base.value
            if isinstance(base, ast.Name) and base.id in aliases:
                # pkg.sub.mod.name: the longest module prefix owns the name
                chain = [aliases[base.id], *reversed(dotted)]
                for cut in range(len(chain) - 1, 0, -1):
                    owner = ".".join(chain[:cut])
                    if owner in modules:
                        refs.add((owner, chain[cut]))
                        break
        for child in ast.iter_child_nodes(node):
            visit(child, inside)

    visit(tree, None)
    return refs


def _definitions(tree: ast.Module) -> list[str]:
    """Top-level function and class names, and UPPER_CASE constant names
    bound by a plain or annotated assignment (tuple targets included)."""
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            out.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out += [
                n.id
                for t in targets
                for n in ast.walk(t)
                if isinstance(n, ast.Name)
                and isinstance(n.ctx, ast.Store)
                and CONSTANT.fullmatch(n.id)
            ]
    return out


def _uncalled() -> set[tuple[str, str]]:
    sources = _sources()
    modules = set(sources)
    refs: set[tuple[str, str]] = set()
    for module, path in sources.items():
        refs |= _references(module, path, modules)
    out = set()
    for module, path in sources.items():
        if not (module.startswith(PKG) or module == "__spark_entry__"):
            continue
        for name in _definitions(_parse(path)):
            if (module, name) not in refs:
                out.add((module, name))
    return out


def test_every_package_definition_has_a_caller():
    uncalled = _uncalled()
    exempt_modules = {m for m, n in UNCALLED_OK if n == "*"}
    bad = sorted(
        f"{m}.{n}"
        for m, n in uncalled
        if (m, n) not in UNCALLED_OK and m not in exempt_modules
    )
    assert not bad, f"package definitions with no caller outside tests: {bad}"
    stale = sorted(
        f"{m}.{n}"
        for m, n in UNCALLED_OK
        if (n == "*" and not any(um == m for um, _ in uncalled))
        or (n != "*" and (m, n) not in uncalled)
    )
    assert not stale, f"stale UNCALLED_OK entries (now called or gone): {stale}"
