"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` smoke-runs the flagship query; `queries()` /
`oracle_sql()` expose every implemented operator from SURVEY.md §2
with its DuckDB oracle twin. All implementations live in
`unified_vector_database_spark/` — this file is a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from unified_vector_database_spark import registry
from unified_vector_database_spark.session import tune_session

registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: brute-force cosine knn over the embeddings collection."""
    tune_session(spark)
    return registry.QUERIES["knn_cosine"](spark, "/root/testdata/sf0.001")


def _green_rounds() -> dict[str, int]:
    """name -> MOST RECENT round with a hash-green row, unioned across
    every CORRECTNESS_r*.json.

    The repo root is derived from the package location (not __file__)
    so the contract survives the driver copying this adapter to /tmp.
    Unreadable/absent files degrade to registry order.
    """
    import glob
    import json
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(
        registry.__file__)))
    green: dict[str, int] = {}
    try:
        for path in sorted(glob.glob(os.path.join(repo,
                                                  "CORRECTNESS_r*.json"))):
            m = re.search(r"CORRECTNESS_r(\d+)\.json$",
                          os.path.basename(path))
            rnd = int(m.group(1)) if m else 0
            with open(path) as f:
                rows = json.load(f)
            for name, r in rows.items():
                if (isinstance(r, dict) and r.get("rows_match")
                        and r.get("schema_match") and r.get("hash_match")):
                    green[name] = max(green.get(name, 0), rnd)
    except Exception:
        return {}
    return green


def _ordered(names) -> list[str]:
    """Stage the driver's ~50-slot verification budget automatically.

    Never-driver-green queries first, then the stable-green tail
    ordered STALEST-FIRST (ascending last-green round), each in
    registry order.  The stale-first tail makes every query re-prove
    roughly every ceil(|registry|/50) rounds even as shared substrate
    keeps changing.  The ordering is recomputed from
    CORRECTNESS_r*.json on every call, so a fresh driver run always
    drains the backlog first.
    """
    rounds = _green_rounds()
    backlog = [n for n in names if n not in rounds]
    stable = sorted((n for n in names if n in rounds), key=rounds.get)
    return backlog + stable


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)
        return run
    return {name: _wrap(registry.QUERIES[name])
            for name in _ordered(registry.QUERIES)}


def oracle_sql() -> dict[str, str]:
    resolved = registry.resolved_oracles()
    return {name: resolved[name] for name in _ordered(resolved)}
