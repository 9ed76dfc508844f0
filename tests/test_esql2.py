"""ES|QL v2 translator units: the string/pattern/multivalue function
surface, INLINESTATS (with and without BY), SAMPLE determinism,
computed BY keys, and the new statistics aggregates — exercised at
the parser/plan level (the registered queries in esql.py prove the
end-to-end oracle parity; these pin the pieces a hash can't isolate).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _one(spark, expr: str):
    from unified_vector_database_spark.operators.esql import (
        _parse_expr, _tokenize,
    )
    return spark.range(1).select(
        _parse_expr(_tokenize(expr)).alias("v")).first().v


def test_string_functions(spark):
    assert _one(spark, 'TO_UPPER("abc")') == "ABC"
    assert _one(spark, 'TO_LOWER("AbC")') == "abc"
    assert _one(spark, 'SUBSTRING("hello world", 7, 5)') == "world"
    assert _one(spark, 'SUBSTRING("hello", 2)') == "ello"
    assert _one(spark, 'LEFT("spark", 2)') == "sp"
    assert _one(spark, 'RIGHT("spark", 3)') == "ark"
    assert _one(spark, 'REPLACE("a-b-c", "-", "+")') == "a+b+c"
    assert _one(spark, 'STARTS_WITH("spark", "sp")') is True
    assert _one(spark, 'ENDS_WITH("spark", "rk")') is True
    assert _one(spark, 'GREATEST(1, 5, 3)') == 5
    assert _one(spark, 'LEAST(4, 2, 9)') == 2
    assert _one(spark, 'FLOOR(3.7)') == 3
    assert _one(spark, 'CEIL(3.2)') == 4
    assert _one(spark, 'POW(2, 10)') == 1024.0
    assert _one(spark, 'SQRT(49.0)') == 7.0


def test_pattern_predicates(spark):
    # LIKE: * -> %, ? -> _, literal % and _ escaped
    assert _one(spark, '"customer_42" LIKE "customer?42"') is True
    assert _one(spark, '"customer_42" LIKE "cust*"') is True
    assert _one(spark, '"custX42" LIKE "cust_42"') is False  # _ literal
    # RLIKE anchors the whole string (Lucene semantics)
    assert _one(spark, '"BUILDING" RLIKE "BUILD.*"') is True
    assert _one(spark, '"XBUILDINGX" RLIKE "BUILD.*"') is False
    assert _one(spark, 'NOT "abc" LIKE "z*"') is True
    assert _one(spark, 'COALESCE(1, 2) IS NOT NULL') is True


def test_mv_reducers(spark):
    from unified_vector_database_spark.operators.esql import _FUNCS
    arr = F.array(F.lit(3.0), F.lit(1.0), F.lit(3.0), F.lit(5.0))
    row = spark.range(1).select(
        _FUNCS["MV_COUNT"]([arr]).alias("n"),
        _FUNCS["MV_MIN"]([arr]).alias("lo"),
        _FUNCS["MV_MAX"]([arr]).alias("hi"),
        _FUNCS["MV_SUM"]([arr]).alias("s"),
        _FUNCS["MV_AVG"]([arr]).alias("m"),
        _FUNCS["MV_COUNT"]([_FUNCS["MV_DEDUPE"]([arr])]).alias("u"),
        _FUNCS["MV_COUNT"]([F.lit(None).cast("array<double>")]).alias("z"),
    ).first()
    assert (row.n, row.lo, row.hi, row.s, row.m, row.u) == \
        (4, 1.0, 5.0, 12.0, 3.0, 3)
    assert row.z is None  # ES null-in -> null-out, not -1/0


def test_inlinestats_no_by_is_global_broadcast(spark, sf_dir):
    from unified_vector_database_spark.operators.esql import esql
    df = esql(spark, sf_dir, """
FROM lineitem
| INLINESTATS avg_q = AVG(l_quantity)
| WHERE l_quantity > avg_q
| STATS n = COUNT(*)
""")
    [row] = df.collect()
    # cross-check against a hand-built plan
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    avg_q = (li.agg(F.sum(F.col("l_quantity").cast("decimal(28,6)"))
                    .cast("double") / F.count("l_quantity"))
               .first()[0])
    assert row.n == li.where(F.col("l_quantity") > avg_q).count()
    # the 1-row global frame must broadcast, not shuffle the rows
    assert "BroadcastNestedLoopJoin" in _plan(esql(spark, sf_dir, """
FROM lineitem
| INLINESTATS avg_q = AVG(l_quantity)
| LIMIT 5
"""))


def test_inlinestats_by_broadcasts_group_frame(spark, sf_dir):
    from unified_vector_database_spark.operators.esql import esql
    plan = _plan(esql(spark, sf_dir, """
FROM lineitem
| INLINESTATS avg_p = AVG(l_extendedprice) BY l_returnflag
| LIMIT 5
"""))
    assert "BroadcastHashJoin" in plan


def test_sample_is_md5_deterministic(spark, sf_dir):
    from unified_vector_database_spark.operators.esql import esql
    q = """
FROM orders
| KEEP o_orderkey, o_totalprice
| SAMPLE 0.2
"""
    a = sorted(r.o_orderkey for r in esql(spark, sf_dir, q).collect())
    b = sorted(r.o_orderkey for r in esql(spark, sf_dir, q).collect())
    assert a == b and len(a) > 0
    # membership is the md5 bucket contract, row by row
    for k in a[:20]:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16)
        assert h % 10000 < 2000
    # admitted fraction is near p (md5 uniformity)
    total = esql(spark, sf_dir,
                 "FROM orders | KEEP o_orderkey").count()
    assert abs(len(a) / total - 0.2) < 0.05


def test_computed_by_key_bucket(spark, sf_dir):
    from unified_vector_database_spark.operators.esql import esql
    df = esql(spark, sf_dir, """
FROM orders
| STATS n = COUNT(*) BY b = BUCKET(o_totalprice, 100000.0)
| SORT b
""")
    rows = df.collect()
    assert all(r.b % 100000.0 == 0.0 for r in rows)
    assert sum(r.n for r in rows) == \
        spark.read.parquet(f"{sf_dir}/orders.parquet").count()


def test_percentile_and_weighted_avg_against_python(spark, sf_dir):
    import numpy as np
    from unified_vector_database_spark.operators.esql import esql
    df = esql(spark, sf_dir, """
FROM lineitem
| STATS med = MEDIAN(l_quantity), p90 = PERCENTILE(l_quantity, 90),
        sd = STD_DEV(l_quantity),
        wavg = WEIGHTED_AVG(l_extendedprice, l_quantity)
""")
    [row] = df.collect()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
              .select("l_quantity", "l_extendedprice").collect()
    q = np.array([r.l_quantity for r in li])
    p = np.array([r.l_extendedprice for r in li])
    assert row.med == pytest.approx(np.percentile(q, 50), rel=1e-9)
    # numpy's 'linear' interpolation is the quantile_cont definition
    assert row.p90 == pytest.approx(np.percentile(q, 90), rel=1e-9)
    assert row.sd == pytest.approx(q.std(), rel=1e-6)
    assert row.wavg == pytest.approx((q * p).sum() / q.sum(), rel=1e-9)


def test_unknown_aggregate_and_function_raise(spark, sf_dir):
    from unified_vector_database_spark.operators.esql import (
        _parse_expr, _tokenize, esql,
    )
    with pytest.raises(ValueError, match="unknown aggregate"):
        esql(spark, sf_dir, "FROM orders | STATS x = BOGUS(o_orderkey)")
    with pytest.raises(ValueError, match="unknown function"):
        _parse_expr(_tokenize("NO_SUCH_FN(1)"))


# ---------------------------------------- CHANGE_POINT / FORK / RERANK

def test_split_pipes_is_paren_aware():
    from unified_vector_database_spark.operators.esql import (
        _paren_groups, _split_pipes,
    )
    parts = _split_pipes(
        "FROM t | FORK (WHERE a == 1 | LIMIT 2) (STATS n = COUNT(*)) "
        "| SORT n")
    assert len(parts) == 3
    assert parts[1].startswith("FORK")
    groups = _paren_groups("(WHERE a == 1 | LIMIT 2) (STATS n = COUNT(*))")
    assert groups == ["WHERE a == 1 | LIMIT 2", "STATS n = COUNT(*)"]
    import pytest as _pt
    with _pt.raises(ValueError, match="unbalanced"):
        _paren_groups("(WHERE a == 1")


def test_change_point_marks_argmax_split(spark, sf_dir):
    from unified_vector_database_spark.operators.esql import esql
    rows = esql(spark, sf_dir, """
FROM events
| STATS total = SUM(value) BY day = DATE_TRUNC("day", ts)
| CHANGE_POINT total ON day
| SORT day
""").collect()
    flagged = [r for r in rows if r.type is not None]
    assert len(flagged) == 1 and flagged[0].type == "step_change"
    # independently recompute the best split over the series
    t = [r.total for r in rows]
    n = len(t)
    best_s, best_d = None, -1.0
    for s in range(2, n + 1):
        d = abs(sum(t[:s - 1]) / (s - 1) - sum(t[s - 1:]) / (n - s + 1))
        if d > best_d:
            best_s, best_d = s, d
    assert rows[best_s - 1].day == flagged[0].day
    assert flagged[0].delta == pytest.approx(best_d, abs=2e-6)


def test_fork_unions_branch_schemas(spark, sf_dir):
    from unified_vector_database_spark.operators.esql import esql
    df = esql(spark, sf_dir, """
FROM orders
| FORK (SORT o_totalprice DESC, o_orderkey | LIMIT 3
        | KEEP o_orderkey, o_totalprice)
       (STATS n = COUNT(*) BY o_orderstatus)
""")
    rows = df.collect()
    f1 = [r for r in rows if r._fork == "fork1"]
    f2 = [r for r in rows if r._fork == "fork2"]
    assert len(f1) == 3
    # null-padding across branch schemas (ES missing-field semantics)
    assert all(r.o_orderstatus is None and r.n is None for r in f1)
    assert all(r.o_orderkey is None and r.o_totalprice is None for r in f2)
    assert sum(r.n for r in f2) == \
        spark.read.parquet(f"{sf_dir}/orders.parquet").count()


def test_rerank_scores_match_stub_model(spark, sf_dir):
    from unified_vector_database_spark.operators.esql import esql
    from unified_vector_database_spark.operators.inference import _stub_frac
    rows = esql(spark, sf_dir, """
FROM documents
| KEEP doc_id, text
| RERANK "fast table scan" ON text
| SORT _score DESC, doc_id
| LIMIT 5
""").collect()
    docs = {r.doc_id: r.text for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet").collect()}
    for r in rows:
        toks = set(x for x in docs[r.doc_id].strip().split(" ") if x)
        want = (sum(1 for q in ("fast", "table", "scan") if q in toks)
                + _stub_frac(f"ce:{r.doc_id}"))
        assert r._score == pytest.approx(want, abs=1e-12)


def test_rerank_requires_doc_id(spark, sf_dir):
    from unified_vector_database_spark.operators.esql import esql
    with pytest.raises(ValueError, match="RERANK needs a doc_id"):
        esql(spark, sf_dir, """
FROM documents
| KEEP text
| RERANK "fast" ON text
""")


def test_date_functions(spark):
    import datetime
    from unified_vector_database_spark.operators.esql import (
        _parse_expr, _tokenize,
    )
    one = spark.createDataFrame(
        [(datetime.datetime(2024, 3, 5, 14, 30, 0),
          datetime.datetime(2024, 3, 7, 13, 30, 0))], "a timestamp, b timestamp")

    def ev(expr):
        return one.select(_parse_expr(_tokenize(expr)).alias("v")).first().v
    assert ev('DATE_FORMAT("yyyy-MM-dd", a)') == "2024-03-05"
    assert ev('DATE_EXTRACT("hour", a)') == 14
    assert ev('DATE_EXTRACT("year", a)') == 2024
    # 47 full hours between a and b (floor of 47.0)
    assert ev('DATE_DIFF("hour", a, b)') == 47
    assert ev('DATE_DIFF("day", a, b)') == 1
    assert ev('DATE_DIFF("minute", a, b)') == 2820


def test_stats_where_conditional_aggregates(spark, sf_dir):
    from unified_vector_database_spark.operators.esql import esql
    [row] = esql(spark, sf_dir, """
FROM lineitem
| STATS n = COUNT(*), n_ret = COUNT(*) WHERE l_returnflag == "R",
        d = COUNT_DISTINCT(l_suppkey) WHERE l_quantity > 25.0
""").collect()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    assert row.n == len(li)
    assert row.n_ret == sum(1 for r in li if r.l_returnflag == "R")
    assert row.d == len({r.l_suppkey for r in li if r.l_quantity > 25.0})
    assert 0 < row.n_ret < row.n


def test_mv_extras(spark):
    from unified_vector_database_spark.operators.esql import (
        _parse_expr, _tokenize,
    )
    one = spark.createDataFrame([(["c", "a", "b"],)], "xs array<string>")

    def ev(expr):
        return one.select(_parse_expr(_tokenize(expr)).alias("v")).first().v
    assert ev("MV_SORT(xs)") == ["a", "b", "c"]
    assert ev("MV_FIRST(xs)") == "c"
    assert ev("MV_LAST(xs)") == "b"
    # 0-based inclusive slice (ES|QL semantics)
    assert ev("MV_SLICE(xs, 1, 2)") == ["a", "b"]
    assert ev("MV_SLICE(xs, 0, 0)") == ["c"]
    assert ev('MV_CONCAT(xs, "-")') == "c-a-b"
