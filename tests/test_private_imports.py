"""Underscore-private names stay inside the module that defines them: a
helper one package module shares with another gets a public name in one
home. AST only — no Spark session."""

from __future__ import annotations

import ast
import pathlib

PKG = "amazon_macie_activity_generator_spark"
ROOT = pathlib.Path(__file__).resolve().parent.parent / PKG


def _module_name(path: pathlib.Path, root: pathlib.Path) -> str:
    parts = path.relative_to(root.parent).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def cross_module_private_imports(root: pathlib.Path = ROOT) -> list[str]:
    """Every ``from <pkg module> import _name`` whose source module is a
    different package module, as ``path:line module._name``."""
    hits = []
    for path in sorted(root.rglob("*.py")):
        here = _module_name(path, root)
        package = here if path.name == "__init__.py" else here.rpartition(".")[0]
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.ImportFrom):
                continue
            source = node.module or ""
            if node.level:  # relative import: resolve against this package
                base = package.rsplit(".", node.level - 1)[0]
                source = f"{base}.{source}" if source else base
            if source.split(".")[0] != PKG or source == here:
                continue
            for alias in node.names:
                if alias.name.startswith("_"):
                    hits.append(f"{path.relative_to(root.parent)}:{node.lineno} "
                                f"{source}.{alias.name}")
    return hits


def test_no_cross_module_private_imports():
    assert cross_module_private_imports() == []
