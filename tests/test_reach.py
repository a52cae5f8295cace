"""Every package module is reached from what the project ships.

A static walk of the import graph (pure `ast`, no Spark session) from the
batch pipeline, the gold stream, the operator registry and the benchmark of
record (`perfbench/*.py`). Absolute, relative and function-local imports
all count, and importing a submodule counts its parent packages'
`__init__` as reached. A module reached from none of these roots is
reached only by tests; it should be deleted with the tests that exist
only for it, or named below with the reason it stays.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ecommerce_analytics_platform_spark"

ROOTS = [
    f"{PKG}/pipeline.py",
    f"{PKG}/streaming/gold.py",
    f"{PKG}/plans/testdata_queries.py",
    *sorted(
        os.path.relpath(p, REPO)
        for p in glob.glob(os.path.join(REPO, "perfbench", "*.py"))
    ),
]

# Unreached, but tests of kept ManifestTable features (deletion vectors,
# change feed, schema evolution, Bloom skipping, manifest stats, the CDF
# stream) import them, so they go together with those features.
KEPT_UNREACHED = {
    "operators.gdpr",  # ROADMAP item 9, slice 2
    "operators.maintenance",  # ROADMAP item 9, slice 2
}


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file path, for every module in the package."""
    mods = {}
    for path in glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True):
        parts = os.path.relpath(path, REPO)[:-3].split(os.sep)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imports(path: str, name: str, is_pkg: bool) -> set[str]:
    """Dotted names that `path` imports, at any depth of its syntax tree."""
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    base = name.split(".") if is_pkg else name.split(".")[:-1]
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = base[: len(base) - node.level + 1]
                mod = ".".join(anchor + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            out.add(mod)
            # `from pkg.functions import codecs` imports a submodule
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def _reached(mods: dict[str, str]) -> set[str]:
    todo = [
        (os.path.join(REPO, r), r[:-3].replace("/", "."), False) for r in ROOTS
    ]
    seen: set[str] = set()
    while todo:
        path, name, is_pkg = todo.pop()
        for dotted in _imports(path, name, is_pkg):
            parts = dotted.split(".")
            # importing a.b.c runs a/__init__, a/b/__init__ and a/b/c
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in mods and mod not in seen:
                    seen.add(mod)
                    is_init = mods[mod].endswith("__init__.py")
                    todo.append((mods[mod], mod, is_init))
    return seen


def test_only_named_modules_are_unreached():
    mods = _package_modules()
    roots = {r[:-3].replace("/", ".") for r in ROOTS if r.startswith(PKG)}
    unreached = set(mods) - _reached(mods) - roots
    got = {m[len(PKG) + 1 :] for m in unreached}
    assert got == KEPT_UNREACHED, f"unreached: {sorted(got)}"

