"""Query registry: the single source of truth behind
__spark_entry__.queries() / oracle_sql().

Each operator module registers `name -> (spark, sf_dir) -> DataFrame`
plus (when SQL-expressible) the equivalent DuckDB oracle SQL. The
correctness driver runs both sides at sf=0.01 and hash-compares.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
# str, or a zero-arg callable resolved lazily at oracle_sql() time —
# for oracles that embed data-derived build artifacts (IVF centroids,
# PQ codebooks) as SQL literals: the artifact fit reads the oracle
# corpus, so the SQL string can only be produced where the parquet is
# reachable, not at import time.
ORACLES: dict[str, str | Callable[[], str]] = {}


def register(name: str, oracle: str | Callable[[], str] | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            # A silent overwrite once left a dead shadowed body behind
            # (VERDICT r5 #1) — duplicate names are a bug, not a merge.
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


class OracleBuildError(RuntimeError):
    """A lazy oracle raised while rendering its SQL."""


def resolved_oracles() -> dict[str, str]:
    """ORACLES with lazy entries rendered to SQL. A lazy oracle that
    fails to build raises OracleBuildError naming the query: dropping
    it would quietly downgrade that query to a rows-only check."""
    out: dict[str, str] = {}
    for name, o in ORACLES.items():
        if callable(o):
            try:
                out[name] = o()
            except Exception as e:
                raise OracleBuildError(
                    f"oracle for {name!r} failed to build: {e}") from e
        else:
            out[name] = o
    return out


def load_all() -> None:
    """Import `api` and every module under `operators` and `streaming`
    for its registration side effects."""
    from . import api, operators, streaming  # noqa: F401
    for pkg in (operators, streaming):
        for m in pkgutil.iter_modules(pkg.__path__):
            importlib.import_module(f"{pkg.__name__}.{m.name}")
