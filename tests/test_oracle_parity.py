"""Local twin of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.001, then
compare row count, column names, and the order-insensitive multiset of
values. Keeping this green locally predicts CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import pytest

# Lazy oracles (IVF/PQ centroid literals, operators/index.py) refit
# their artifacts from the parquet at $UVDB_SIM_SF_DIR (driver default
# sf0.01). This suite compares at sf0.001, so pin the fit dir to the
# suite's SF BEFORE oracle_sql() renders the lazy entries — otherwise
# the oracle's centroids come from a different corpus than Spark's.
os.environ["UVDB_SIM_SF_DIR"] = \
    os.environ.get("UVDB_TEST_SF_DIR", "/root/testdata/sf0.001")

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(repr(_norm(r[i])) for i in order) for r in rows
    )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(name, spark, duck, sf_dir):
    sdf = QUERIES[name](spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.execute(ORACLES[name])
    d_cols = [c[0] for c in rel.description]
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={s_cols} duck={d_cols}")
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duck={len(d_rows)}")
    sm, dm = _rows_multiset(s_cols, s_rows), _rows_multiset(d_cols, d_rows)
    if sm != dm:
        diff = [(a, b) for a, b in zip(sm, dm) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() == 10
