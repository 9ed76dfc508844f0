"""Modules are named by what they hold, not by when they were written."""

from __future__ import annotations

import ast
import importlib
import pathlib
import re

import pytest

import unified_vector_database_spark

PKG = pathlib.Path(unified_vector_database_spark.__file__).parent


def test_no_module_named_after_a_round():
    """A module named `x2`, `x_extra` or `x_more` is a second module of
    one family: fold it into the family's module instead."""
    bad = sorted(str(p.relative_to(PKG)) for p in PKG.rglob("*.py")
                 if re.search(r"(\d|_extra|_more)$", p.stem))
    assert not bad, f"modules named after a round: {bad}"


ROOT = PKG.parent


def _package_names(tree: ast.AST) -> dict[str, object]:
    """Local name -> package object, for every import of the package
    anywhere in `tree` (function-level imports included)."""
    names: dict[str, object] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (
                node.module or "").startswith(PKG.name):
            mod = importlib.import_module(node.module)
            for a in node.names:
                obj = getattr(mod, a.name, None)
                if obj is None:
                    obj = importlib.import_module(f"{node.module}.{a.name}")
                names[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG.name) and a.asname:
                    names[a.asname] = importlib.import_module(a.name)
    return names


@pytest.mark.parametrize("path", sorted(
    str(p.relative_to(ROOT)) for d in ("examples", "perfbench", "tools")
    for p in (ROOT / d).glob("*.py")))
def test_scripts_read_only_attributes_the_package_has(path):
    """The example, the benchmark and the tools are not run by the
    tests, so a deleted or renamed package function would only surface
    when they are. Every `name.attr` they read off an imported package module or
    object must exist (an import of a missing name fails here too)."""
    tree = ast.parse((ROOT / path).read_text(), path)
    names = _package_names(tree)
    missing = sorted(
        f"{node.value.id}.{node.attr} (line {node.lineno})"
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name) and node.value.id in names
        and not hasattr(names[node.value.id], node.attr))
    assert not missing, f"{path} reads attributes the package lacks: {missing}"
