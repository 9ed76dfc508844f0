"""Modules are named by what they hold, not by when they were written."""

from __future__ import annotations

import pathlib
import re

import unified_vector_database_spark

PKG = pathlib.Path(unified_vector_database_spark.__file__).parent


def test_no_module_named_after_a_round():
    """A module named `x2`, `x_extra` or `x_more` is a second module of
    one family: fold it into the family's module instead."""
    bad = sorted(str(p.relative_to(PKG)) for p in PKG.rglob("*.py")
                 if re.search(r"(\d|_extra|_more)$", p.stem))
    assert not bad, f"modules named after a round: {bad}"
