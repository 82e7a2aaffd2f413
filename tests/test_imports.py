"""Every `blink_reloaded_spark` import in the scripts, the benchmark and the
driver entry points resolves — so deleting a package name these files use
fails here, not in a later benchmark or driver run. Code held in string
constants (the subprocess bodies of scripts/bench_scaling.py) is checked
too."""

from __future__ import annotations

import ast
import glob
import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "blink_reloaded_spark"


def _harness_files() -> list[str]:
    files = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    for d in ("scripts", "perfbench"):
        files += sorted(glob.glob(os.path.join(ROOT, d, "*.py")))
    return files


def _trees(path: str) -> list[ast.AST]:
    """The file's AST plus that of each string constant that parses as
    Python and mentions the package."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    trees = [tree]
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str) \
                and PKG in node.value:
            try:
                trees.append(ast.parse(node.value))
            except SyntaxError:
                pass
    return trees


def _package_imports(tree: ast.AST) -> list[tuple[str, str | None]]:
    """(module, name) for `from PKG... import name`, (module, None) for
    `import PKG...`."""
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and (node.module or "").split(".")[0] == PKG:
            out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names if a.name.split(".")[0] == PKG]
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_harness_imports_resolve():
    files = _harness_files()
    checked, missing = 0, []
    for path in files:
        for tree in _trees(path):
            for module, name in _package_imports(tree):
                checked += 1
                if not _resolves(module, name):
                    rel = os.path.relpath(path, ROOT)
                    missing.append(f"{rel}: from {module} import {name}")
    assert checked > len(files), (checked, len(files))
    assert not missing, missing


def test_guard_catches_a_missing_name():
    assert _resolves(f"{PKG}.operators.mentions", "extract_mentions")
    assert not _resolves(f"{PKG}.operators.mentions", "_no_such_matcher")
    assert not _resolves(f"{PKG}.no_such_module", None)
